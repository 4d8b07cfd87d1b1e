"""spark-graft: a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference MapReduce framework (``DrewDame/eecs485-p4-mapreduce``), expressed
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, an
RDD compatibility path that streams Hadoop-Streaming-style executables,
and LLM-data-pipeline operators (dedup, similarity search, text analysis,
streaming windows) designed for 100 TB scale.

Layout:
    session    -- SparkSession factory for the local test and bench harness
    pydaemon   -- PySpark daemon module get_spark's workers start from
    sources    -- table loaders over the driver-provided parquet testdata
    operators  -- relational / text / dedup / similarity query definitions
    functions  -- reusable column expressions (tokenize, minhash, cosine, ...)
    plans      -- the query registry consumed by ``__spark_entry__.py``
    streaming  -- Structured Streaming operators over the events table
    mapreduce  -- exe-compat path running streaming executables as RDD tasks
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Resolved on first use, so importing the package imports no PySpark:
    # ``python -m eecs485_p4_mapreduce_spark.pydaemon`` must choose which
    # PySpark the worker imports before anything imports it.
    if name == "get_spark":
        from eecs485_p4_mapreduce_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
