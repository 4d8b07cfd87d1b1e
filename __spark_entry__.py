"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``eecs485_p4_mapreduce_spark`` package;
this module just adapts its query registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _with_repo(path: str) -> str:
    parts = [p for p in path.split(os.pathsep) if p]
    return os.pathsep.join(parts if REPO in parts else [REPO, *parts])


# Python workers (UDFs, the MapReduce path, stateful stream functions)
# import the package too, from whatever cwd the session runs in.  A JVM
# started after this import inherits PYTHONPATH and passes it on to its
# workers; a SparkContext already running gives ``sc.environment`` to
# every Python function created from now on.
os.environ["PYTHONPATH"] = _with_repo(os.environ.get("PYTHONPATH", ""))
if SparkContext._active_spark_context is not None:
    _env = SparkContext._active_spark_context.environment
    _env["PYTHONPATH"] = _with_repo(_env.get("PYTHONPATH", ""))

from eecs485_p4_mapreduce_spark.plans import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (wordcount -- the reference's headline job) on sf0.001."""
    return REGISTRY["wordcount"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
