"""``sources.run_sql``: the shared path of the SQL-text queries."""

from __future__ import annotations

from eecs485_p4_mapreduce_spark.plans import REGISTRY
from eecs485_p4_mapreduce_spark.sources import tables


def test_run_sql_loads_only_the_tables_it_names(spark, sf_dir, monkeypatch):
    """Every loaded table costs a schema-inference job, so a SQL text
    loads the tables it names as whole words and no others."""
    loaded = []
    load = tables.load_table

    def spy(spark, sf_dir, name):
        loaded.append(name)
        return load(spark, sf_dir, name)

    monkeypatch.setattr(tables, "load_table", spy)
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
