"""Invariants of the driver contract (__spark_entry__)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 77
    # every registered query carries an oracle: sketch queries emit their
    # exact counterpart + within_bound so even they are driver-checkable
    assert set(qs) == set(osql), set(qs) - set(osql)


def test_entry_runs_and_is_stable(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.schema == entrymod.entry(spark).schema


def test_oracle_sql_is_parseable_by_duckdb(duck):
    """Every oracle must at least bind/plan in DuckDB (catches typos in
    rarely-exercised SQL before the driver does)."""
    for name, sql in entrymod.oracle_sql().items():
        duck.sql(f"EXPLAIN {sql}")


def test_bench_queries_all_registered():
    """bench.py's headline list must only name registered queries -- the
    driver runs it unattended, so a typo would silently crash the
    round's BENCH artifact."""
    import bench

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    missing = [q for q in bench.BENCH_QUERIES if q not in REGISTRY]
    assert not missing, missing
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)


def test_bench_covers_whole_registry():
    """No silent caps: every registered query is benched unless it has an
    explicit, reasoned exclusion (surfaced in the headline JSON)."""
    import bench

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    benched = set(bench.BENCH_QUERIES) | set(bench.BENCH_EXCLUDE)
    assert benched == set(REGISTRY), set(REGISTRY) ^ benched
    for name, reason in bench.BENCH_EXCLUDE.items():
        assert reason.strip(), f"exclusion without a reason: {name}"


@pytest.mark.parametrize("session_first", [True, False])
def test_entry_puts_repo_on_worker_path(tmp_path, session_first):
    """A vanilla session run from an empty cwd with no ``PYTHONPATH``:
    once ``__spark_entry__`` is imported, its Python workers import the
    package, whether the session was built before the import or after."""
    session = "spark = SparkSession.builder.master('local[1]').getOrCreate(); "
    entry = f"sys.path.insert(0, {REPO!r}); import __spark_entry__; "
    code = (
        "import sys; from pyspark.sql import SparkSession; "
        + (session + entry if session_first else entry + session)
        + "from eecs485_p4_mapreduce_spark.mapreduce.job import keyof; "
        "print(spark.sparkContext.parallelize(['k\\tv'], 1).map(keyof).collect()); "
        "spark.stop()"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.strip().splitlines()[-1] == "['k']"
