"""SparkSession factory.

The reference exposes parallelism as manual knobs (``num_mappers`` /
``num_reducers``, mapreduce/submit.py:52-59).  Here those become Spark
configs: input split sizing (``spark.sql.files.maxPartitionBytes``) and
shuffle parallelism (``spark.sql.shuffle.partitions``), with AQE enabled so
the runtime re-plans partition counts, skew joins, and broadcast joins from
observed statistics -- the scale story for 100 TB is AQE + cost-based
broadcast, not hand-tuned task counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding this package, so Python workers started from any
# cwd can import it (and its daemon module).
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on (what
    ``nproc`` prints)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "spark-graft", *, cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the harness SparkSession on local[cpus].

    Test/bench entry point only -- the driver supplies its own session to
    ``__spark_entry__.entry``/``queries``.
    """
    n = cpus or default_cpus()
    return (
        # local[n, 2]: allow one task retry, mirroring the reference's
        # dead-worker task reassignment (SURVEY.md §2.A10) -- a failed
        # attempt is re-run, the job still succeeds (pinned in
        # tests/test_operators_unit.py::test_task_retry_like_reassignment).
        SparkSession.builder.master(f"local[{n}, 2]")
        .appName(app_name)
        # One shuffle partition per core at test scale; at cluster scale this
        # would be ~2-3x total cores and AQE coalesces the excess.
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Arrow for any pandas_udf / applyInPandas hop (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics: parquet naive timestamps are
        # interpreted as UTC instants, matching the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Workers import the installed, compiled PySpark instead of the
        # source-only archives the JVM puts first on their path
        # (pydaemon.py).
        .config("spark.python.daemon.module", "eecs485_p4_mapreduce_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
