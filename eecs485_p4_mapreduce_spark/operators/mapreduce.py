"""The registered queries of the executable-compatible MapReduce path.

Each query writes the documents table as a directory of text files,
runs unmodified Hadoop-Streaming-style executables over it through
``MapReduceJob`` and reads the part files back as a DataFrame.  Their
oracles are the declarative twins' oracles, so the executable path is
checked to compute exactly what the DataFrame plans compute.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS
from eecs485_p4_mapreduce_spark.mapreduce.job import MapReduceJob
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table

_EXE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "mapreduce", "executables"
)


def _exe(name: str) -> str:
    """Command line of a bundled executable.  They import only ``sys``
    and ``itertools``, so ``-S`` skips ``site``: a start costs about 7
    instead of 38 ms of CPU."""
    return f"{sys.executable} -S {os.path.join(_EXE_DIR, name)}"


def _materialize_docs(
    spark: SparkSession, sf_dir: str, dest: str, *, with_id: bool = False
) -> None:
    """Write documents.text as a directory of text files ``file00``,
    ``file01``, ... (the reference's input format: SURVEY.md §1.1
    Dataset), one file per non-empty split of the table's scan.

    Executors write the rows; the driver only renames the part files.
    Spark's split planning (``maxPartitionBytes``, ``openCostInBytes``)
    sizes the files, so the job's map side starts as many mapper
    executables and tasks as the data needs: one for a small corpus, one
    per ~128 MB split for a large one."""
    staging = dest + ".staging"
    value = (
        F.concat(F.col("doc_id").cast("string"), F.lit("\t"), F.col("text"))
        if with_id
        else F.col("text")
    )
    (
        load_table(spark, sf_dir, "documents")
        .select(value.alias("value"))
        .write.mode("overwrite")
        .text(staging)
    )
    # Spark writes a part file for scan split 0 even when it is empty; keep
    # that file only when it is the only one (an empty table).
    parts = sorted(glob.glob(os.path.join(staging, "part-*")))
    parts = [p for p in parts if os.path.getsize(p)] or parts[:1]
    for i, part in enumerate(parts):
        shutil.move(part, os.path.join(dest, f"file{i:02d}"))
    shutil.rmtree(staging, ignore_errors=True)


def _run_job(
    spark: SparkSession, sf_dir: str, mapper: str, reducer: str, *, with_id: bool = False
) -> list[str]:
    """Run one exe-compat job over documents; return its part files.

    The text copy of documents under ``input/`` is removed as soon as
    the job returns.  The part files under ``output/`` stay until
    interpreter exit (the modelstore atexit convention): the caller's
    frame reads them lazily, on every action."""
    work = tempfile.mkdtemp(prefix="spark-graft-mr-")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    in_dir = os.path.join(work, "input")
    out_dir = os.path.join(work, "output")
    os.makedirs(in_dir)
    _materialize_docs(spark, sf_dir, in_dir, with_id=with_id)
    job = MapReduceJob(
        input_directory=in_dir,
        output_directory=out_dir,
        mapper_executable=mapper,
        reducer_executable=reducer,
        num_mappers=4,
        num_reducers=2,
    )
    try:
        return job.run(spark)
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)


@query(
    "mr_wordcount",
    oracle=f"""
    SELECT word, cnt
    FROM (SELECT word, COUNT(*) AS cnt
          FROM (SELECT unnest({DUCK_TOKENS}) AS word FROM documents)
          GROUP BY word)
    """,
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through the exe-compat path: documents -> text files ->
    mapper exe -> md5 shuffle -> sorted reduce exe -> part files ->
    DataFrame.  Oracle identical to the declarative ``wordcount`` --
    the two paths must agree exactly."""
    outputs = _run_job(spark, sf_dir, _exe("tokenize_map.py"), _exe("tokenize_reduce.py"))
    out_dir = os.path.dirname(outputs[0])
    df = (
        spark.read.text(out_dir)
        .select(F.split("value", "\t", 2).alias("kv"))
        .select(
            F.col("kv")[0].alias("word"),
            F.col("kv")[1].cast("bigint").alias("cnt"),
        )
    )
    return df


@query(
    "mr_grep",
    oracle="""
    SELECT text AS line FROM documents WHERE contains(lower(text), 'scan')
    """,
)
def mr_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grep through the exe-compat path (query term 'scan', matching the
    declarative ``grep``)."""
    outputs = _run_job(
        spark, sf_dir, _exe("match_map.py") + " scan", _exe("match_reduce.py")
    )
    out_dir = os.path.dirname(outputs[0])
    return spark.read.text(out_dir).select(F.col("value").alias("line"))


@query(
    "mr_inverted_index",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest(list_distinct({DUCK_TOKENS})) AS term
                FROM documents)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
             AS postings
    FROM tk GROUP BY term
    """,
)
def mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference framework's REAL workload — the search-engine
    inverted-index build its course runs on top of it — through the
    exe-compat path: documents materialize as ``doc_id\\ttext`` input
    files, an unmodified streaming mapper emits (term, doc_id) postings,
    the md5 shuffle groups by term, and the reducer writes
    ``term\\tdf\\tposting,list`` lines.  The oracle is the declarative
    twin (distinct-token explode + ordered list agg), so the exe
    pipeline is proven equal to the DataFrame plan — the same
    two-expressions-one-answer contract as mr_wordcount."""
    outputs = _run_job(
        spark,
        sf_dir,
        _exe("index_map.py"),
        _exe("index_reduce.py"),
        with_id=True,
    )
    out_dir = os.path.dirname(outputs[0])
    return (
        spark.read.text(out_dir)
        .select(F.split("value", "\t", 3).alias("kv"))
        .select(
            F.col("kv")[0].alias("term"),
            F.col("kv")[1].cast("bigint").alias("df"),
            F.col("kv")[2].alias("postings"),
        )
    )
