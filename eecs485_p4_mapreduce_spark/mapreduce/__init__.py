"""Exe-compat MapReduce path (SURVEY.md §7 v3).

``MapReduceJob`` runs unmodified Hadoop-Streaming-style executables with
the reference's dataflow semantics on Spark RDDs (see ``job.py``).  The
registered ``mr_*`` queries that drive it over the documents table live
in ``operators/mapreduce.py``; this package imports only ``job.py``, so a
PySpark worker that unpickles a job's map or reduce function does not
load the query registry.
"""

from eecs485_p4_mapreduce_spark.mapreduce.job import (
    MapReduceJob,
    keyof,
    md5_partition,
    round_robin_groups,
)

__all__ = ["MapReduceJob", "keyof", "md5_partition", "round_robin_groups"]
