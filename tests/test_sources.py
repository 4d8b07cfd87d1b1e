"""``sources``: the table loaders, ``parquet_schema`` and ``run_sql``,
the shared path of the SQL-text queries."""

from __future__ import annotations

import os
import time

import pytest

from eecs485_p4_mapreduce_spark.plans import REGISTRY
from eecs485_p4_mapreduce_spark.sources import tables


def _spy_loads(monkeypatch) -> list[str]:
    """Record the name of every table ``run_sql`` loads."""
    loaded = []
    load = tables.load_table

    def spy(spark, sf_dir, name):
        loaded.append(name)
        return load(spark, sf_dir, name)

    monkeypatch.setattr(tables, "load_table", spy)
    return loaded


def test_run_sql_loads_only_the_tables_it_names(spark, sf_dir, monkeypatch):
    """Every loaded table costs a footer read on the driver, so a SQL
    text loads the tables it names as whole words and no others."""
    loaded = _spy_loads(monkeypatch)
    assert tables.run_sql(spark, sf_dir, "SELECT count(*) AS n FROM region").first().n == 5
    assert loaded == ["region"]
    loaded.clear()
    # l_partkey names no `part`; upper case still names `lineitem`
    tables.run_sql(spark, sf_dir, "SELECT count(DISTINCT l_partkey) FROM LINEITEM").collect()
    assert loaded == ["lineitem"]


def test_run_sql_reads_timestamps_as_utc_in_any_session(spark, sf_dir):
    """Naive (timestamp_ntz) columns cast to timestamps read as UTC, as in
    the DuckDB oracle, even in a session set to another time zone that
    loads no ``events`` table."""
    child = spark.newSession()
    child.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    sql = "SELECT unix_micros(min(CAST(l_shipdate AS TIMESTAMP))) AS us FROM lineitem"
    assert tables.run_sql(child, sf_dir, sql).first().us == tables.run_sql(spark, sf_dir, sql).first().us
    q6 = REGISTRY["tpch_q6_forecast_revenue"].fn
    assert q6(child, sf_dir).collect() == q6(spark, sf_dir).collect()


def test_sql_text_queries_load_only_their_tables(spark, sf_dir, monkeypatch):
    """The queries that spell their plan as SQL text go through
    ``run_sql``, so each loads the tables it names, not all ten; a table
    named by a parameter (``IDENTIFIER(:tbl)``) is loaded too."""
    loaded = _spy_loads(monkeypatch)
    REGISTRY["sample_weighted_bernoulli"].fn(spark, sf_dir)
    assert loaded == ["documents"]
    loaded.clear()
    REGISTRY["modern_sql_sugar_orders"].fn(spark, sf_dir).collect()
    assert loaded == ["orders"]




def _assert_same_schema(session, path):
    """``parquet_schema`` returns what Spark's inference returns, field
    metadata included."""
    ours, spark_s = tables.parquet_schema(session, path), session.read.parquet(path).schema
    assert ours == spark_s and ours.json() == spark_s.json(), (ours, spark_s)


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_parquet_schema_matches_spark_inference(spark, sf_dir, scale):
    """Every table at every scale (the corpora beside the test corpus),
    with ``nanosAsLong`` on and off."""
    sf = os.path.join(os.path.dirname(sf_dir), scale)
    if not os.path.isdir(sf):
        pytest.skip(f"no corpus at {sf}")
    child = spark.newSession()
    for nanos in ("true", "false"):
        child.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
        for name in tables.TABLES:
            _assert_same_schema(child, os.path.join(sf, f"{name}.parquet"))


def test_parquet_schema_matches_spark_on_written_files(spark, tmp_path):
    """Files written by pyarrow, over the types the corpus uses and a few
    more, under each reader conf the converter takes from the session;
    and a single Spark-written file, whose footer carries Spark's row
    metadata (here a column comment that plain conversion would lose)."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    ts = [datetime.datetime(2024, 1, 2, 3, 4, 5, 6), None]
    table = pa.table(
        {
            "ts_us": pa.array(ts, pa.timestamp("us")),
            "ts_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "price": pa.array([decimal.Decimal("1.500000"), None], pa.decimal128(18, 6)),
            "vec": pa.array([[1.0, 2.0], None], pa.list_(pa.float32())),
            "spans": pa.array(
                [[{"lo": 1, "hi": 2}], []],
                pa.list_(pa.struct([("lo", pa.int32()), ("hi", pa.int64())])),
            ),
            "blob": pa.array([b"ab", None], pa.binary()),
            "tiny": pa.array([1, -1], pa.int8()),
            "small": pa.array([300, None], pa.int16()),
            "day": pa.array([datetime.date(2024, 1, 2), None], pa.date32()),
        }
    )
    arrow = str(tmp_path / "arrow.parquet")
    pq.write_table(table, arrow)
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, None], pa.timestamp("ns"))}), nanos)
    assert "NANOS" in str(pq.ParquetFile(nanos).schema.column(0).logical_type).upper()

    child = spark.newSession()
    for key, value in [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.binaryAsString", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ]:
        _assert_same_schema(child, arrow)
        child.conf.set(key, value)
        _assert_same_schema(child, arrow)
        _assert_same_schema(child, nanos)
    # Without nanosAsLong both paths reject TIMESTAMP(NANOS) alike.
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        tables.parquet_schema(child, nanos)

    out = str(tmp_path / "spark")
    df = child.read.parquet(arrow).withMetadata("price", {"comment": "unit price"})
    df.coalesce(1).write.parquet(out)
    (part,) = [os.path.join(out, n) for n in os.listdir(out) if n.endswith(".parquet")]
    _assert_same_schema(child, part)
    assert tables.parquet_schema(child, part)["price"].metadata == {"comment": "unit price"}
    _assert_same_schema(child, out)  # a directory keeps Spark's inference


def test_parquet_schema_sees_an_in_place_rewrite(spark, tmp_path):
    """The footer is read on every call: no schema outlives its file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.parquet_schema(spark, path).fieldNames() == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert tables.parquet_schema(spark, path).fieldNames() == ["a", "b"]
    assert spark.read.schema(tables.parquet_schema(spark, path)).parquet(path).count() == 2


def test_parquet_schema_missing_path_raises_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as err:
        tables.parquet_schema(spark, str(tmp_path / "absent.parquet"))
    assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_building_table_queries_runs_no_job(spark, sf_dir):
    """Building a query reads each table's schema on the driver, so plan
    construction starts no Spark job: Spark's own inference would run a
    one-task job per table read.  The status tracker follows the listener
    bus, which handles jobs in the order they start: once a marker job
    started after the builds shows, so does every job the builds ran."""
    sc = spark.sparkContext
    group, marker = "test-build-runs-no-job", "test-build-marker"
    try:
        sc.setJobGroup(group, "build only")
        for name in ("grep", "join_semi", "window_rank_orders"):
            REGISTRY[name].fn(spark, sf_dir)
        sc.setJobGroup(marker, "marker")
        spark.range(1).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker)
    assert tracker.getJobIdsForGroup(group) == []
