"""Source/sink coverage beyond parquet (SURVEY.md §2.C "Scans/sources" /
"Sinks"): CSV and JSON-lines round-trips driven inside oracle-checked
queries, plus the exact ``part-NNNNN`` text sink exercised by the
exe-compat path (mapreduce/job.py).

Each query writes a table out in the target format, reads it back with an
explicit schema, and aggregates -- the oracle runs against the original
parquet, so a lossy writer/reader would hash-mismatch.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import pin
from eecs485_p4_mapreduce_spark.functions.numeric import dsum, dsum_sql
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(md5(text)) AS first_digest
    FROM documents
    GROUP BY lang
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> CSV (quoted, header) -> read back with explicit schema
    -> aggregate.  Exercises the CSV writer/parser including quoting of
    free text; the md5 digest in the oracle catches any corruption."""
    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.gettempdir(), "spark-graft-roundtrip", "csv")
    path = os.path.join(out, "docs")
    docs.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(path)
    back = (
        spark.read.option("header", True)
        # multiLine: quoted text fields may contain newlines; FAILFAST so a
        # parse problem is an error, never a silent NULL-padded row.
        .option("multiLine", True)
        .option("mode", "FAILFAST")
        .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
        .csv(path)
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min(F.md5("text")).alias("first_digest"),
    )


@query(
    "source_json_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('o_totalprice')} AS revenue,
           MIN(CAST(o_orderdate AS VARCHAR)) AS first_date
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> JSON lines -> read back with explicit schema -> aggregate.
    Timestamps survive via ISO strings; the oracle's min(date-as-string)
    pins the serialization."""
    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(tempfile.gettempdir(), "spark-graft-roundtrip", "json")
    path = os.path.join(out, "orders")
    o.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("o_totalprice").alias("revenue"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")).alias("first_date"),
    )


@query(
    "source_orc_roundtrip",
    oracle=f"""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('c_acctbal')} AS total_bal,
           MIN(c_name) AS first_name
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> ORC -> read back -> aggregate.  Exercises the second
    columnar container (stripe-based, same predicate-pushdown and
    column-pruning machinery as parquet); the oracle aggregates the
    original table, so any loss in the writer/reader shows up as a hash
    mismatch."""
    c = load_table(spark, sf_dir, "customer")
    out = os.path.join(tempfile.gettempdir(), "spark-graft-roundtrip", "orc")
    path = os.path.join(out, "customer")
    c.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("c_acctbal").alias("total_bal"),
        F.min("c_name").alias("first_name"),
    )


@query(
    "source_python_datasource",
    oracle="""
    WITH s AS (
      SELECT i AS id, CAST(i % 16 AS INT) AS bucket,
             (i * 2654435761) % 4294967296 AS num
      FROM generate_series(0, 99999) t(i))
    SELECT bucket, COUNT(*) AS n,
           CAST(SUM(num) AS DOUBLE) / 4294967296.0 AS val_sum
    FROM s GROUP BY bucket
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via the Python DataSource API (Spark 4): a
    partitioned deterministic sequence generator registered as a named
    format and consumed like any other source.  Eight InputPartitions
    split the id range, so the source is read in parallel executors-side
    -- the same contract a real Python connector (REST API, message
    queue, bespoke binary format) uses.  Values are Knuth-hash integers
    divided by 2^32 only at the end (binary fractions are exact), so the
    DuckDB generate_series oracle matches bitwise.  Python-per-row is
    the API's cost model; at 100 TB this path is for sources that have
    no JVM reader, with Arrow-batch output (the API's batch variant)
    as the optimization."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    n_rows, n_parts = 100_000, 8

    class _SeqPartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class _SeqReader(DataSourceReader):
        def partitions(self):
            step = n_rows // n_parts
            return [
                _SeqPartition(i * step, n_rows if i == n_parts - 1 else (i + 1) * step)
                for i in range(n_parts)
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield (i, i % 16, (i * 2654435761) % 4294967296)

    class _SeqSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sg_sequence"

        def schema(self) -> str:
            return "id BIGINT, bucket INT, num BIGINT"

        def reader(self, schema):  # noqa: ANN001
            return _SeqReader()

    spark.dataSource.register(_SeqSource)
    src = spark.read.format("sg_sequence").load()
    return src.groupBy("bucket").agg(
        F.count("*").alias("n"),
        (F.sum("num").cast("double") / F.lit(4294967296.0)).alias("val_sum"),
    )


@query(
    "source_python_datasource_arrow",
    oracle="""
    WITH s AS (
      SELECT i AS id, CAST(i % 32 AS INT) AS bucket,
             (i * 11400714819323198485) % 4294967296 AS num
      FROM generate_series(0, 199999) t(i))
    SELECT bucket, COUNT(*) AS n,
           CAST(SUM(num) AS BIGINT) AS num_sum,
           CAST(MAX(num) AS BIGINT) AS num_max
    FROM s GROUP BY bucket
    """,
)
def source_python_datasource_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batch variant of the Python DataSource API: ``read``
    yields ``pyarrow.RecordBatch`` objects built from vectorized numpy,
    not per-row tuples.  This is the production shape for a Python
    connector -- one Arrow batch per ~64k rows crosses the Python->JVM
    boundary instead of 200k pickled tuples (the row-yield variant above
    is the API-coverage demo; this one is the fast path).  Values use the
    64-bit Fibonacci-hash constant reduced mod 2^32, computed in uint64
    (numpy wraps mod 2^64 exactly like the oracle's BIGINT-modular
    arithmetic reduced mod 2^32)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    n_rows, n_parts = 200_000, 8

    class _ArrowPartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class _ArrowReader(DataSourceReader):
        def partitions(self):
            step = n_rows // n_parts
            return [
                _ArrowPartition(i * step, n_rows if i == n_parts - 1 else (i + 1) * step)
                for i in range(n_parts)
            ]

        def read(self, partition):
            import numpy as np
            import pyarrow as pa

            ids = np.arange(partition.start, partition.end, dtype=np.uint64)
            num = (ids * np.uint64(11400714819323198485)) % np.uint64(2**32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.astype(np.int64), type=pa.int64()),
                    pa.array((ids % 32).astype(np.int32), type=pa.int32()),
                    pa.array(num.astype(np.int64), type=pa.int64()),
                ],
                names=["id", "bucket", "num"],
            )

    class _ArrowSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sg_sequence_arrow"

        def schema(self) -> str:
            return "id BIGINT, bucket INT, num BIGINT"

        def reader(self, schema):  # noqa: ANN001
            return _ArrowReader()

    spark.dataSource.register(_ArrowSource)
    src = spark.read.format("sg_sequence_arrow").load()
    return src.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("num").cast("bigint").alias("num_sum"),
        F.max("num").cast("bigint").alias("num_max"),
    )


@query(
    "source_partitioned_pruning",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY event_type
    """,
)
def source_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet layout + partition pruning: write events
    partitioned by event_type, read back with a partition-key filter, and
    aggregate only the selected partitions.

    THE layout decision for a 100 TB event store: a filter on the
    partition key never opens non-matching files -- pruning happens at
    planning time from directory names (the plan shows it as a partition
    filter with a reduced partition count, pinned in
    tests/test_plans.py::test_partitioned_source_prunes_partitions).
    The oracle aggregates the same rows from the unpartitioned original,
    so the round-trip also proves the partitioned copy is lossless.
    """
    e = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(), "spark-graft-roundtrip", f"events_by_type_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type").isin("view", "click"))
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("value").alias("total_value"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql("CASE WHEN event_type = 'click' THEN value * 2 ELSE value END")}
             AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite -- the retry-safe batch-write pattern:
    re-running a job that produces one partition replaces ONLY that
    partition, leaving every other partition byte-identical (static
    overwrite mode would truncate the whole table first).

    The query writes events partitioned by event_type, then overwrites
    just the 'click' partition with doubled values under
    partitionOverwriteMode=dynamic, reads the table back, and
    aggregates.  The oracle computes the expected post-state from the
    original table, so any bleed into other partitions (or a lost
    partition) hash-mismatches.  At 100 TB this is how idempotent daily
    reruns work: overwrite exactly the (day, source) partitions the run
    owns.
    """
    from eecs485_p4_mapreduce_spark.functions.confscope import (
        conf_scoped_session,
    )

    # The overwrite-mode override lives on a child session (isolated
    # SQLConf): the frame being WRITTEN must be child-bound, since the
    # write picks up the conf from its own session.
    child = conf_scoped_session(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    )
    e = load_table(child, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "spark-graft-roundtrip",
        f"events_dpo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    # The initial full write now also runs under dynamic mode, which
    # replaces only partitions present in the data — clear the target
    # first so a stale leftover partition from some other corpus can't
    # survive (static mode used to truncate it implicitly).
    shutil.rmtree(out, ignore_errors=True)
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    (
        e.filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 2)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("value").alias("total_value"),
    )


@query(
    "source_python_datasource_stream",
    oracle="""
    WITH s AS (
      SELECT i AS id, CAST(i % 16 AS INT) AS bucket,
             (i * 2654435761) % 4294967296 AS num
      FROM generate_series(0, 99999) t(i))
    SELECT bucket, COUNT(*) AS n,
           CAST(SUM(num) AS DOUBLE) / 4294967296.0 AS val_sum
    FROM s GROUP BY bucket
    """,
)
def source_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource (Spark 4 ``SimpleDataSourceStreamReader``):
    the same deterministic sequence as ``source_python_datasource``, now
    emitted as an offset-tracked stream — ``initialOffset`` / ``read``
    advance a logical offset 20k rows per micro-batch, and
    ``readBetweenOffsets`` replays a committed range exactly (the
    retry contract a message-queue connector must honor).  Five batches
    drain the range into an append-mode memory sink, then the result
    aggregates to the identical oracle as the batch twin — proving the
    streaming connector delivers exactly the batch rows, no loss, no
    replay duplication.

    The driver-side poll loop below is sink monitoring (waiting for the
    source to drain), not data movement; rows go executor-side through
    the normal streaming path.
    """
    import time as _time
    import uuid as _uuid

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    n_rows, chunk, m32 = 100_000, 20_000, 4_294_967_296

    class _SeqStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self) -> dict:
            return {"offset": 0}

        def _rows(self, s: int, e: int):
            # a LIST iterator, not a generator: the wrapper both calls
            # next() on the result (empty-batch validation) and pickles
            # it into the prefetch cache, and generators don't pickle
            return iter([(i, i % 16, (i * 2654435761) % m32) for i in range(s, e)])

        def read(self, start: dict):
            s = start["offset"]
            if s >= n_rows:
                return iter([]), {"offset": s}
            e = min(s + chunk, n_rows)
            return self._rows(s, e), {"offset": e}

        def readBetweenOffsets(self, start: dict, end: dict):
            return self._rows(start["offset"], end["offset"])

    class _SeqStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sg_sequence_stream"

        def schema(self) -> str:
            return "id BIGINT, bucket INT, num BIGINT"

        def simpleStreamReader(self, schema):  # noqa: ANN001
            return _SeqStreamReader()

    spark.dataSource.register(_SeqStreamSource)
    import tempfile

    name = f"sg_pyds_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="spark-graft-pyds-ckpt-")
    q = (
        spark.readStream.format("sg_sequence_stream")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 180
        while _time.time() < deadline:
            if spark.table(name).count() >= n_rows:
                break
            # fine-grained poll: the drain takes ~5 back-to-back
            # micro-batches, so a coarse 0.5 s sleep billed up to half a
            # second of pure idle tail to every bench run
            _time.sleep(0.05)
    finally:
        q.stop()
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)
    # the frame holds the sink's rows once spark.table resolves the view
    src = spark.table(name)
    spark.catalog.dropTempView(name)
    return src.groupBy("bucket").agg(
        F.count("*").alias("n"),
        (F.sum("num").cast("double") / F.lit(4294967296.0)).alias("val_sum"),
    )


@query(
    "layout_zorder_cells",
    oracle="""
    WITH b AS (
      SELECT greatest(0, least(7, CAST(floor(o_totalprice / 75000.0) AS INT)))
               AS pa,
             CAST(floor(((year(o_orderdate) - 1992) * 12
                         + month(o_orderdate) - 1) * 8 / 84) AS INT) AS pb
      FROM orders),
    z AS (
      SELECT pa, pb,
             ((pa >> 0) & 1) * 2 + ((pb >> 0) & 1) * 1
           + ((pa >> 1) & 1) * 8 + ((pb >> 1) & 1) * 4
           + ((pa >> 2) & 1) * 32 + ((pb >> 2) & 1) * 16 AS zkey
      FROM b)
    SELECT zkey, pa, pb, CAST(COUNT(*) AS BIGINT) AS n
    FROM z GROUP BY zkey, pa, pb
    """,
)
def layout_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (morton) clustering key as a driver-checked query: bucket
    price and order-month into 8 equal-width cells each (fixed bounds —
    at scale these come from column statistics, never a data collect),
    interleave the bits with the REAL layout helpers
    (functions/layout.py width_bucket + morton2), and emit per-cell
    counts.  The oracle re-derives the interleave with explicit bit
    arithmetic, so the helper's bit layout (a in the high bit of each
    pair) is pinned cross-engine — and zkey ↔ (pa, pb) bijectivity is
    implicit in the group-by matching.

    This is the write-layout key behind `repartitionByRange(morton)
    .sortWithinPartitions(morton).write` (tests/test_scale_layout.py
    pins the file-skipping bound it buys); here the key derivation
    itself joins the correctness gate.
    """
    from eecs485_p4_mapreduce_spark.functions.layout import morton2, width_bucket

    o = load_table(spark, sf_dir, "orders")
    pa = width_bucket(F.col("o_totalprice"), 0.0, 600000.0, 8)
    idx = (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
    pb = F.floor(idx * 8 / 84).cast("int")
    cells = o.select(pa.alias("pa"), pb.alias("pb")).select(
        "pa", "pb", morton2(F.col("pa"), F.col("pb"), 8).alias("zkey")
    )
    return cells.groupBy("zkey", "pa", "pb").agg(
        F.count("*").cast("bigint").alias("n")
    )


@query(
    "sink_python_datasource",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY o_orderstatus
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python DataSource writer API (the write-side
    twin of ``source_python_datasource``): each executor task streams
    its partition through ``DataSourceWriter.write`` into a JSON-lines
    part file and returns a commit message — the contract a bespoke
    Python connector (feature store, vector DB, REST ingest) implements.
    The round-trip proves no rows are lost or duplicated across the
    task-commit protocol: the written files are read back and aggregated
    against the direct-aggregation oracle.  Floats survive because
    shortest-repr JSON serialization round-trips IEEE doubles exactly."""
    import json
    import os
    import tempfile
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out_dir = tempfile.mkdtemp(prefix="spark-graft-pysink-")

    class _JsonWriter(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, iterator):
            fname = os.path.join(self.path, f"part-{uuid.uuid4().hex}.json")
            with open(fname, "w", encoding="utf-8") as fh:
                for row in iterator:
                    fh.write(json.dumps(row.asDict()) + "\n")
            return WriterCommitMessage()

    class _JsonSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sg_jsonsink"

        def writer(self, schema, overwrite):  # noqa: ANN001
            return _JsonWriter(self.options["path"])

    spark.dataSource.register(_JsonSink)
    subset = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderstatus", "o_totalprice")
    )
    subset.write.format("sg_jsonsink").option("path", out_dir).mode("append").save()
    back = spark.read.schema("o_orderstatus string, o_totalprice double").json(
        out_dir
    )
    # the files are read lazily: pin the (<= 3-row) aggregate, then
    # remove them
    result = pin(back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    ))
    shutil.rmtree(out_dir, ignore_errors=True)
    return result


@query(
    "source_schema_evolution_merge",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0),
    v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1),
    merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM merged GROUP BY 1
    """,
)
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: batch v1 is written WITHOUT the
    o_orderpriority column (the pre-evolution schema), batch v2 with it;
    ``mergeSchema`` reconciles the directory into one superset schema
    with NULLs for v1 rows -- the append-only table-evolution path every
    long-lived 100 TB dataset goes through (columns are only ever
    added; readers see the union schema without a rewrite).

    The aggregate groups by the evolved column with a sentinel for
    pre-evolution rows, so the oracle pins exactly which rows carry
    NULLs.  Note mergeSchema costs a footer read per file at planning
    time -- production tables store the merged schema in a catalog; the
    per-query option is the self-describing-directory fallback.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    out = os.path.join(
        tempfile.gettempdir(), "spark-graft-roundtrip", "evolve"
    )
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1)
    v1.write.mode("overwrite").parquet(os.path.join(out, "b=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "b=2"))
    back = spark.read.option("mergeSchema", True).parquet(
        os.path.join(out, "b=1"), os.path.join(out, "b=2")
    )
    return back.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias("priority")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "join_dynamic_partition_pruning",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT CAST(EXTRACT(YEAR FROM ts) AS INT) AS y,
             CAST(EXTRACT(YEAR FROM ts) AS INT) % 2 = 0 AS even
      FROM events)
    SELECT e_y.y, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('e_y.value')} AS total_value
    FROM (SELECT CAST(EXTRACT(YEAR FROM ts) AS INT) AS y, value FROM events) e_y
    JOIN dim ON dim.y = e_y.y
    WHERE dim.even
    GROUP BY e_y.y
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is year-partitioned
    parquet, the dim side's filter (even years) is only known after
    planning the join -- DPP injects the dim's surviving keys into the
    fact scan as a runtime partition filter, so the engine never reads
    odd-year directories even though no literal year predicate exists
    in the query.  THE join-time companion to static partition pruning
    for a 100 TB star schema (plan shows ``dynamicpruningexpression``;
    pinned in tests/test_plans.py).

    The dim is derived (distinct years + a flag) and broadcast; the
    oracle replays the same join on the unpartitioned original, which
    also proves the partitioned copy lossless.
    """
    e = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "spark-graft-roundtrip",
        f"events_by_year_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    fact = e.select(
        F.expr("cast(extract(year from ts) as int)").alias("y"), "value"
    )
    fact.write.mode("overwrite").partitionBy("y").parquet(out)
    back = spark.read.parquet(out)
    dim = (
        e.select(F.expr("cast(extract(year from ts) as int)").alias("y"))
        .distinct()
        .withColumn("even", F.expr("y % 2 = 0"))
        .filter(F.col("even"))
    )
    return (
        back.join(F.broadcast(dim), "y")
        .groupBy("y")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "source_binaryfile_assets",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(strlen(text) + 1) AS BIGINT) AS total_bytes,
           MIN(md5(text || chr(10))) AS first_digest
    FROM documents WHERE doc_id % 10 = 0
    GROUP BY lang
    """,
)
def source_binaryfile_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-asset ingestion through Spark's ``binaryFile`` source — the
    format a 100 TB media pipeline reads raw image/audio blobs with
    before any decode kernel runs.  A deterministic asset tree is
    materialized first (one .txt blob per sampled document,
    ``maxRecordsPerFile=1``, hive-partitioned by lang), then read back
    as (path, length, content) binary rows: the partition key is
    recovered from the PATH (the directory-layout contract), sizes from
    the file metadata, and the payload digest from the raw bytes.  The
    oracle recomputes all three from the parquet documents table, so a
    truncated write, a lost trailing newline, or a mis-parsed path
    hash-mismatches.

    Scale shape: the write is one partitioned no-shuffle pass AND a
    once-per-corpus fixture — the asset tree publishes atomically into
    an mtime-keyed directory (the modelstore discipline), because in
    production the blobs already exist; the operator under test is the
    binaryFile READ.  The read lists files in parallel and packs small
    blobs into tasks by spark.sql.files.maxPartitionBytes; nothing but
    the ≤|lang| aggregate rows leaves the executors.  Determinism:
    content bytes are the utf-8 text + the text-writer's newline, md5'd
    identically from VARCHAR on the oracle side (md5(BLOB) is invalid
    in DuckDB)."""
    from eecs485_p4_mapreduce_spark.functions.memo import mtime_token

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    out = os.path.join(tempfile.gettempdir(), "spark-graft-roundtrip", "binaryfile")
    token = mtime_token(sf_dir, "documents")
    path = os.path.join(
        out, f"assets-{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}-{token}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        (
            docs.select("lang", F.col("text").alias("value"))
            .repartition("lang")
            .write.mode("overwrite")
            .partitionBy("lang")
            .option("maxRecordsPerFile", 1)
            .text(tmp)
        )
        try:
            os.rename(tmp, path)  # atomic publish; loser cleans up
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    return (
        back.select(
            F.regexp_extract("path", r"lang=([^/]+)", 1).alias("lang"),
            F.col("length").cast("bigint").alias("nbytes"),
            F.md5("content").alias("digest"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("nbytes").cast("bigint").alias("total_bytes"),
            F.min("digest").alias("first_digest"),
        )
    )
