"""Event-log parser test on a two-query session.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import time

import pytest

from eventlog import PASS_PROPERTY, Span, group_tag, span_counters, union_s


def test_union_merges_overlaps():
    assert union_s([]) == 0.0
    assert union_s([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]) == pytest.approx(4.0)


@pytest.fixture(scope="module")
def session_log(tmp_path_factory):
    """Run two queries the way the benchmark does; return (log dir, spans)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path_factory.mktemp("events")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    sc = spark.sparkContext
    spans = []

    def timed(query, build):
        sc.setLocalProperty(PASS_PROPERTY, "1")
        t0 = time.time()
        sc.setJobGroup(group_tag("w", query, "build"), query)
        df = build()
        t1 = time.time()
        sc.setJobGroup(group_tag("w", query, "exec"), query)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        spans.extend([Span(1, query, "build", t0, t1), Span(1, query, "exec", t1, t2)])

    def lazy():
        return spark.range(10_000, numPartitions=4).groupBy(F.col("id") % 7).count()

    def eager():
        # a job under a group the benchmark did not set, as a stream's
        # micro-batch runs: it is assigned to the span by time
        sc.setJobGroup("foreign", "foreign")
        n = spark.range(100, numPartitions=2).count()
        return spark.range(n, numPartitions=1)

    try:
        timed("lazy", lazy)
        timed("eager", eager)
        sc.setLocalProperty(PASS_PROPERTY, None)
        sc.setJobGroup("untimed", "untimed")
        spark.range(5).collect()  # outside every span: not counted
    finally:
        spark.stop()
    return str(log_dir), spans


def test_jobs_are_split_by_query_and_phase(session_log):
    log_dir, spans = session_log
    got = span_counters(log_dir, "w", spans)
    assert (1, "lazy", "build") not in got  # building a lazy plan runs no job
    lazy = got[(1, "lazy", "exec")]
    assert lazy.jobs >= 1 and lazy.stages >= 2  # the aggregate shuffles
    assert lazy.shuffle_write_mb > 0 and lazy.shuffle_read_mb > 0
    assert lazy.tasks >= 4 and lazy.failed_tasks == 0
    eager = got[(1, "eager", "build")]
    assert eager.jobs >= 1 and eager.tasks >= 2
    exec_ = got[(1, "eager", "exec")]
    assert exec_.single_task_stages >= 1
    assert sum(c.jobs for c in got.values()) == lazy.jobs + eager.jobs + exec_.jobs


def test_times_stay_within_their_span(session_log):
    log_dir, spans = session_log
    got = span_counters(log_dir, "w", spans)
    for span in spans:
        c = got.get(span.key)
        if c is None:
            continue
        assert 0 < c.in_job_s <= span.t1 - span.t0 + 1e-9
        assert c.task_run_s >= 0 and c.task_cpu_s >= 0 and c.gc_s >= 0
