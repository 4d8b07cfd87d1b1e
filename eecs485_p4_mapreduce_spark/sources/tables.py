"""Parquet table loaders.

The reference's only source is a directory-of-text-files scan
(SURVEY.md §2.A1, reference tests/test_manager_02.py:166-190); the engine's
analytic surface reads columnar parquet so Catalyst gets predicate pushdown,
column pruning, and partition pruning for free.  ``spark.read.text`` remains
available via :mod:`eecs485_p4_mapreduce_spark.mapreduce` for the
exe-compat path.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

# The driver-provided star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond timestamp, dispatching on the
    dtype the reader actually produced.

    Testdata generations have stored ``ts`` two ways: TIMESTAMP(NANOS)
    (readable only as int64 under ``spark.sql.legacy.parquet.nanosAsLong``)
    and plain ``timestamp[us]`` (arrives as TIMESTAMP_NTZ).  Assuming one
    fixed storage type is exactly how round 2 lost every events-touching
    query, so dispatch on the schema: LongType means epoch-nanos and gets
    the ns->us conversion; anything else is cast to TimestampType.  The
    cast is value-identical under the UTC session timezone (session.py)
    and gives every downstream query one stable dtype — several use
    ``unix_micros``/watermarks, which reject TIMESTAMP_NTZ.  Shared by the
    batch loader and ``streaming.events_stream`` so the two paths cannot
    diverge.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    if isinstance(df.schema["ts"].dataType, LongType):
        # Integer `div`, not `/`: epoch-nanos overflow double's 53-bit
        # mantissa, so float division is off by up to 1us.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(df.schema["ts"].dataType, TimestampType):
        return df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read without
    a Spark job.

    Spark infers a parquet schema in a one-task job that reads a footer
    and converts it.  For a regular file this makes the same two calls on
    the driver: ``ParquetFileReader.readFooter`` without row groups, then
    ``ParquetFileFormat.readSchemaFromFooter``, which prefers the Spark
    row metadata a Spark writer leaves in the footer.  The converter is
    built as ``ParquetFileFormat.mergeSchemasInParallel`` builds it:
    five flags from the session's SQLConf (binary-as-string, INT96,
    timestamp-NTZ inference, ``nanosAsLong``, unknown-type annotations)
    and the other three at their defaults.  The footer is read afresh
    on every call, so a file rewritten in place shows its new schema.

    Directories, partitioned layouts, missing paths and files whose
    footer cannot be read keep Spark's own inference, and with it
    Spark's own errors."""
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    jvm = spark._jvm
    fmt = jvm.org.apache.spark.sql.execution.datasources.parquet
    state = spark._jsparkSession.sessionState()
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    try:
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            state.newHadoopConf(),
            hadoop_path,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
    except Py4JJavaError:
        return spark.read.parquet(path).schema
    conf = state.conf()
    converter_cls = fmt.ParquetToSparkSchemaConverter

    def default(i: int) -> bool:
        return getattr(converter_cls, f"$lessinit$greater$default${i}")()

    converter = converter_cls(
        conf.isParquetBinaryAsString(),
        conf.isParquetINT96AsTimestamp(),
        default(3),  # caseSensitive
        conf.parquetInferTimestampNTZEnabled(),
        conf.legacyParquetNanosAsLong(),
        default(6),  # useFieldId
        default(7),  # ignoreVariantAnnotation
        conf.parquetReaderRespectUnknownTypeAnnotation(),
    )
    footer = jvm.org.apache.parquet.hadoop.Footer(hadoop_path, meta)
    schema = fmt.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return _parse_datatype_json_string(schema.json())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.  The reader is handed the file's schema
    (:func:`parquet_schema`), so loading a table runs no Spark job.
    Scans stay declarative so filters/projections written downstream
    reach the parquet reader (PushedFilters/ReadSchema)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # nanosAsLong only affects TIMESTAMP(NANOS) columns; harmless when
        # the file already stores micros, and required when it stores nanos.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive-timestamp semantics must match the DuckDB oracle regardless
        # of which session (ours or the driver's) loads the table.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


def widen_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Conditional keyed repartition before a HEAVY scan-side projection
    (the minhash_banded pattern, factored): a compact single-split scan
    otherwise serializes per-row md5/shingle/n-gram work onto one core —
    and when several plan branches replay the same projection, onto one
    core PER BRANCH.  A wide production scan never pays the exchange
    (conditional on scan partitions < defaultParallelism); the
    deterministic key keeps retries safe.  Call it on the bare scan
    frame only — `.rdd` on a frame with joins above it would force AQE
    stage materialization at plan time."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, *keys)
    return df


def run_sql(spark, sf_dir: str, sql: str, args: dict | None = None):
    """Register the table views the SQL text names (as whole words), then
    run it -- the shared execution path for queries whose Spark and DuckDB
    spellings are the same string (relational4/relational5).  ``args``
    binds named parameter markers; a string argument may name a table
    (``IDENTIFIER(:tbl)``), so those are searched as well.  Each view
    reads a footer on the driver, so the other tables are not loaded."""
    # Set here, not only by the ``events`` loader: timestamp_ntz columns
    # cast to or compared with timestamps must read as UTC, as in the
    # DuckDB oracle, whichever tables the text names.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    names = " ".join([sql, *(v for v in (args or {}).values() if isinstance(v, str))])
    for name in TABLES:
        if re.search(rf"\b{name}\b", names, re.IGNORECASE):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(sql, args=args)
