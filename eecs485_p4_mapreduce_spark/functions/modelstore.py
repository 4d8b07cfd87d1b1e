"""The derived-state store: every stored model and derived frame.

The engine derives state from a corpus once and reuses it across
queries and applications — trained models (the Lloyd's k-means
quantizer, the PQ codebooks, the BPE merge tables) and executor-scale
derived frames (MinHash signatures, the LSH candidate and oriented edge
sets, n-gram postings, calibration samples, the HITS edge set).  This
is the engine's stage boundary: state between stages is files in a
shared directory, never process memory.  :func:`load_or_train` (driver-
sized rows) and :func:`load_or_build_frame` (Spark frames) are the only
entry points; each owns the whole mechanism:

- Location: a parquet directory under the Spark SQL warehouse
  (``spark.sql.warehouse.dir``) named ``sg_model_<kind>_<digest>_<token>``
  — ``kind`` carries the loader tag (:func:`loader_tag`), ``digest``
  hashes the corpus path and ``token`` is the corpus file mtime
  (functions/memo.py:mtime_token, folded with any ``extra_tables``).  A
  rewritten corpus gets a NEW location, so a live reader of the old
  state is never clobbered; stale versions are only junk on disk,
  bounded by corpus rewrites (production corpora are immutable snapshot
  dirs, so normally zero).
- Publish is atomic on a POSIX filesystem: write to a unique temp dir,
  ``os.rename`` into place.  A lost race (rename target exists) falls
  back to reading the winner — derivation is deterministic, so both
  writers' content is identical anyway.  (Object stores lack atomic
  rename; a cluster deployment fronts this with its catalog/ingest
  instead, which is where stored state belongs at 100 TB.)
- Reads cross APPLICATIONS: a fresh application finds the published
  state on disk and skips the derivation entirely.  A frame hit is a
  parquet scan in the session that asked for it, so a conf-scoped child
  session still gets its own confs.
- Unkeyable corpus (mtime unreadable — injected test frames): nothing
  is published; a model is trained per call, and a frame is built and
  pinned once with :func:`pin` so its consumers do not replay the
  derivation per reference.

:func:`local_frame` turns driver-sized rows (a stored model, a loop's
current vector, a literal dimension) into a DataFrame through the same
DDL -> Arrow mapping the store publishes with.

:func:`pin` materializes a frame that several consumers read, or that a
driver loop carries from round to round — the in-query stage boundary.
It is the package's only ``localCheckpoint`` call; the one reliable
``checkpoint`` is functions/ranking.py's.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from eecs485_p4_mapreduce_spark.functions.memo import mtime_token


def warehouse_path(spark: SparkSession) -> str:
    """Local filesystem path of the session warehouse dir."""
    raw = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(raw)
    return parsed.path if parsed.scheme in ("", "file") else raw


def model_location(
    spark: SparkSession, kind: str, sf_dir: str, token: int | None
) -> str:
    """Content-addressed model dir: corpus path hash + mtime token."""
    digest = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:10]
    return os.path.join(
        warehouse_path(spark), f"sg_model_{kind}_{digest}_{token or 0}"
    )


def loader_tag(kind: str, loader: Callable | None) -> str:
    """Store kind for data read through ``loader``: the real loader maps
    to a stable name so the store is shared across applications; a
    monkeypatched loader (different qualname) gets its own location
    instead of polluting — or reading — the real corpus's state.
    ``None`` keeps ``kind`` as is."""
    if loader is None:
        return kind
    name = (
        f"{getattr(loader, '__module__', '')}."
        f"{getattr(loader, '__qualname__', '')}"
    )
    return f"{kind}_{hashlib.md5(name.encode()).hexdigest()[:6]}"


def _location(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    extra_tables: tuple,
    loader: Callable | None,
) -> str | None:
    """Store location of ``kind`` for the corpus at ``sf_dir``, or None
    when a keyed table's mtime is unreadable.  ``extra_tables`` fold
    their tokens into the key (md5 of the ordered token list, 60-bit)
    so regenerating ANY input misses; a single-table key is the raw
    token."""
    token = mtime_token(sf_dir, table)
    for extra in extra_tables:
        et = mtime_token(sf_dir, extra)
        if token is None or et is None:
            return None
        token = int(
            hashlib.md5(f"{token}:{et}".encode()).hexdigest()[:15], 16
        )
    if token is None:
        return None
    return model_location(spark, loader_tag(kind, loader), sf_dir, token)


def _arrow_table(rows: list[tuple], ddl: str):
    """(Spark struct, pyarrow Table) of ``rows`` under the DDL schema
    ``ddl`` ("k bigint, cv array<double>"): the one DDL -> Arrow
    mapping, shared by :func:`local_frame` and the model store's
    publish."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    # zip(*[]) is [] — pad to one empty column per field so an empty
    # row list still yields a schema-correct zero-row table
    cols = list(zip(*rows)) or [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )
    return struct, table


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-sized ``rows`` (centroids, codebooks, literal dimensions)
    as a DataFrame with the DDL schema ``ddl``, built as a JVM local
    relation.

    The rows travel as one Arrow table, and below
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark plans
    them as a ``LocalTableScan`` — no task reads them and no Python
    worker starts.  ``spark.createDataFrame(<python list>)`` instead
    parallelizes the rows and re-serializes them through a Python
    ``map``, so every run of a plan holding such a frame starts one
    Python worker per local core.  The Arrow path reads no conf, so it
    behaves the same in a vanilla session."""
    struct, table = _arrow_table(rows, ddl)
    return spark.createDataFrame(table, struct)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` materialized once into executor storage, with its lineage
    cut (``localCheckpoint``), whatever checkpoint dir the SparkContext
    has.  The blocks stay until they are unpersisted (Spark's
    ``getPersistentRDDs`` lists them) or the application ends.  Plans a
    ``Scan ExistingRDD`` leaf.  ``eager=False`` materializes on the
    frame's first action instead of now."""
    return df.localCheckpoint(eager)


def _read_rows(loc: str) -> list[tuple] | None:
    """Published model rows at ``loc`` (sorted), or None if absent."""
    import pyarrow.parquet as pq

    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        return None
    table = pq.read_table(loc)
    rows = [
        tuple(list(v) if isinstance(v, list) else v for v in rec.values())
        for rec in table.to_pylist()
    ]
    return sorted(rows)  # an empty model is valid for an empty corpus


def _publish_rows(loc: str, schema: str, rows: list[tuple]) -> None:
    """Atomically publish ``rows`` as the model at ``loc``."""
    import pyarrow.parquet as pq

    tmp = loc + ".tmp-" + uuid.uuid4().hex[:8]
    os.makedirs(tmp, exist_ok=True)
    _, table = _arrow_table(rows, schema)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    try:
        os.rename(tmp, loc)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race; winner's
        # content is identical (deterministic training) so ours is junk


def load_or_build_frame(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    schema: str,
    build: Callable[[], "object"],
    extra_tables: tuple = (),
    loader: Callable | None = None,
):
    """Stored DERIVED FRAME: like :func:`load_or_train` but for
    executor-scale frames (signatures, candidate edges) that a driver-
    side pyarrow write could not hold.  The frame is written by Spark
    as parquet into a unique temp dir under the warehouse and atomically
    renamed into the content-addressed location; hits (any application,
    same corpus mtime) return a plain parquet scan of the published
    table in ``spark`` — no re-derivation, and no checkpoint needed
    since the scan is stable and re-readable.  ``schema`` is applied on
    read so an empty published table (empty corpus) still has its
    columns.

    ``table`` (plus ``extra_tables``) name the source tables whose mtime
    keys freshness; ``loader`` is the table loader the derivation reads
    through (see :func:`loader_tag`).  An unkeyable corpus gets
    ``build()`` pinned with :func:`pin`, unpublished.
    Derivation is deterministic as a SET; a rename race loser reads the
    winner's copy (row order may differ between builders, but every
    consumer is order-insensitive — aggregates and joins only)."""
    loc = _location(spark, kind, sf_dir, table, extra_tables, loader)
    if loc is None:
        return pin(build())
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        tmp = loc + ".tmp-" + uuid.uuid4().hex[:8]
        build().write.parquet(tmp)
        try:
            os.rename(tmp, loc)
        except OSError:
            if os.path.exists(os.path.join(loc, "_SUCCESS")):
                # true publish race: the winner's copy is complete —
                # drop ours and read theirs below
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # NOT a race (EACCES/EXDEV/missing parent): the rename
                # failed with no winner published.  Don't discard the
                # expensive Spark build and then die on a missing-path
                # read — serve this application from the tmp dir (a
                # complete parquet table with its own _SUCCESS).  The
                # next application retries the publish; reap OUR tmp at
                # interpreter exit (the checkpoint-reaper convention) so
                # a persistently failing rename doesn't accumulate
                # sg_model_*.tmp-* orphans under the warehouse forever.
                import atexit

                atexit.register(shutil.rmtree, tmp, ignore_errors=True)
                return spark.read.schema(schema).parquet(tmp)
    return spark.read.schema(schema).parquet(loc)


def load_or_train(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    schema: str,
    train: Callable[[], list[tuple]],
    table: str = "embeddings",
    loader: Callable | None = None,
) -> list[tuple]:
    """Rows of the trained model for (``kind``, corpus at ``sf_dir``):
    read the published copy when one exists, else train, publish, and
    return.  Rows are returned sorted so stored vs fresh is
    deterministic for every consumer.  ``table`` names the corpus table
    whose mtime keys freshness (embeddings for the quantizers,
    documents for the text models); ``loader`` as in
    :func:`load_or_build_frame`.  An unkeyable corpus trains every call
    and publishes nothing.

    The model is driver-sized (KB), so publish/read go through pyarrow
    directly — no Spark job.  (A Spark write of an 8-row frame built
    with ``spark.createDataFrame(<python list>)`` cost ~4 s: its rows
    sit in a Python RDD, so every partition ran through a Python worker
    — the cost :func:`local_frame` avoids.  The dir is still plain
    parquet + _SUCCESS, readable by ``spark.read.parquet`` on a
    cluster.)  ``schema`` is Spark DDL, mapped to Arrow as in
    :func:`local_frame`."""
    loc = _location(spark, kind, sf_dir, table, (), loader)
    if loc is not None:
        rows = _read_rows(loc)
        if rows is not None:
            return rows
    rows = sorted(train())
    if loc is not None:
        _publish_rows(loc, schema, rows)
    return rows
