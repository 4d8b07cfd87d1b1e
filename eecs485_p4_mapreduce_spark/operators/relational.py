"""Core relational surface over the TPC-H-ish tables (SURVEY.md §2.C).

Aggregation variants, sort/limit/top-k, set operations, and the scalar
function surface -- all Catalyst built-ins (the reference can only express
these by writing a new pair of streaming executables per query).

Float discipline: every SUM/AVG over a double measure goes through
``functions.numeric.dsum/davg`` (exact decimal accumulate, double result)
so results are bitwise stable against the DuckDB oracle regardless of
partial-aggregation order.  See functions/numeric.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.numeric import davg, davg_sql, dsum, dsum_sql
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, run_sql


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {dsum_sql('l_quantity')} AS sum_qty,
      {dsum_sql('l_extendedprice')} AS sum_base_price,
      {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
      {dsum_sql('(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)')} AS sum_charge,
      {davg_sql('l_quantity')} AS avg_qty,
      {davg_sql('l_extendedprice')} AS avg_price,
      {davg_sql('l_discount')} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter -> hash agg (partial+final).

    The shipdate predicate reaches the parquet scan (PushedFilters) and the
    aggregate runs map-side partial first -- the combiner the reference's
    sort-based reduce never had (SURVEY.md §2.B2).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_variants",
    oracle=f"""
    SELECT
      o_orderstatus,
      COUNT(*) AS n_orders,
      COUNT(DISTINCT o_custkey) AS n_custs,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price,
      {dsum_sql('o_totalprice')} AS sum_price,
      {davg_sql('o_totalprice')} AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count-distinct / min / max / sum / avg in one hash aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dsum("o_totalprice").alias("sum_price"),
        davg("o_totalprice").alias("avg_price"),
    )


@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, no full sort materialized."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@query(
    "setops_nations",
    oracle="""
    SELECT nk, 'both' AS tag FROM
      (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nk, 'cust_only' AS tag FROM
      (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nk, 'all' AS tag FROM
      (SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier)
    """,
)
def setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one result, tagged."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    cust_only = c.subtract(s).withColumn("tag", F.lit("cust_only"))  # EXCEPT (distinct)
    allk = c.union(s).distinct().withColumn("tag", F.lit("all"))
    return both.unionAll(cust_only).unionAll(allk)


@query(
    "scalar_string_fns",
    oracle="""
    SELECT
      p_partkey,
      upper(p_brand) AS brand_u,
      length(p_name) AS name_len,
      substring(p_type, 1, 5) AS type5,
      concat(p_brand, ':', p_type) AS brand_type,
      replace(p_name, ' ', '_') AS name_us,
      ltrim(rtrim(p_name)) AS name_trim,
      left(p_name, 3) AS name3,
      reverse(p_brand) AS brand_rev,
      p_name LIKE '%al%' AS has_al,
      position('o' IN p_name) AS first_o
    FROM part
    WHERE p_size BETWEEN 10 AND 40
    """,
)
def scalar_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function surface (upper/length/substr/concat/replace/
    trim/left/reverse/like/instr) with a pushed-down range predicate."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_size").between(10, 40)).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.ltrim(F.rtrim(F.col("p_name"))).alias("name_trim"),
        F.substring("p_name", 1, 3).alias("name3"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.col("p_name").like("%al%").alias("has_al"),
        F.instr(F.col("p_name"), "o").alias("first_o"),
    )


@query(
    "scalar_datetime_fns",
    oracle=f"""
    SELECT
      year(o_orderdate) AS yr,
      month(o_orderdate) AS mo,
      CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      COUNT(*) AS n_orders,
      {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def scalar_datetime_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: year/month extraction + date_trunc bucketing."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
    ).agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))


@query(
    "scalar_math_fns",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      abs(l_discount - 0.05) AS disc_dev,
      CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
      CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      sqrt(l_quantity) AS qty_sqrt,
      CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
      greatest(l_tax, l_discount) AS max_rate,
      least(l_tax, l_discount) AS min_rate
    FROM lineitem
    WHERE l_linenumber = 1 AND l_quantity > 45
    """,
)
def scalar_math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface (abs/ceil/floor/sqrt/mod/greatest/least).

    sqrt is IEEE-correctly-rounded so it is oracle-exact; transcendental
    fns (ln/exp/pow) are libm-dependent and deliberately excluded from
    oracle-checked queries.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_linenumber") == 1) & (F.col("l_quantity") > 45)).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - F.lit(0.05)).alias("disc_dev"),
        # explicit BIGINT on BOTH engines: Spark ceil(double) is already
        # BIGINT but DuckDB's is DOUBLE, which hash-mismatched in round 1
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@query(
    "case_json_fns",
    oracle="""
    SELECT
      event_type,
      CASE WHEN value >= 50 THEN 'high' WHEN value >= 10 THEN 'mid' ELSE 'low' END AS band,
      COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def case_json_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN + JSON extraction (events.props is a JSON string)."""
    e = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") >= 50, "high")
        .when(F.col("value") >= 10, "mid")
        .otherwise("low")
    )
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.withColumn("band", band)
        .withColumn("k", k)
        .groupBy("event_type", "band")
        .agg(F.count("*").alias("n"), F.sum("k").cast("bigint").alias("k_sum"))
    )


@query(
    "variant_json_shred",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           CAST(COUNT(json_extract(props, '$.missing')) AS BIGINT) AS n_missing_present
    FROM events
    GROUP BY event_type
    """,
)
def variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through the VARIANT type (Spark 4):
    ``parse_json`` once into a VARIANT column, then typed path extraction
    with ``variant_get`` -- including a missing path, which must yield
    NULL (counted as 0 present) rather than error.  VARIANT's binary
    encoding parses the JSON text once per row and serves every
    subsequent path read from the decoded form; with many extracted
    paths at 100 TB that beats N calls to get_json_object, which each
    re-parse the string."""
    e = load_table(spark, sf_dir, "events")
    shredded = e.select(
        "event_type",
        F.expr("CAST(variant_get(parse_json(props), '$.k', 'bigint') AS BIGINT)").alias("k"),
        F.expr("variant_get(parse_json(props), '$.missing', 'string')").alias("missing"),
    )
    return shredded.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("k_sum"),
        F.max("k").cast("bigint").alias("k_max"),
        F.count("missing").cast("bigint").alias("n_missing_present"),
    )


@query(
    "xml_roundtrip_shred",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           MIN(o_orderpriority) AS first_priority
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def xml_roundtrip_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML shredding (Spark 4 ``from_xml``): rows are serialized to XML
    fragments and parsed back through a typed schema, and the aggregate
    over the parsed fields must equal the aggregate over the originals
    -- a lossless round-trip proof, which is the property an XML feed
    ingester actually needs.  The oracle aggregates the original columns
    directly (DuckDB has no XML; the round-trip identity is the
    cross-engine contract)."""
    e = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<r><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><p>"),
        F.col("o_orderpriority"),
        F.lit("</p></r>"),
    )
    parsed = e.select(
        "o_orderstatus",
        F.from_xml(xml, "k BIGINT, p STRING").alias("x"),
    )
    return parsed.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("x.k").cast("bigint").alias("key_sum"),
        F.min("x.p").alias("first_priority"),
    )


@query(
    "collation_case_insensitive",
    oracle="""
    WITH u AS (SELECT n_nationkey, upper(n_name) AS un FROM nation),
         l AS (SELECT n_nationkey, lower(n_name) AS ln FROM nation)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST((SELECT COUNT(DISTINCT lower(n_name)) FROM nation) AS BIGINT)
             AS n_distinct_ci
    FROM u JOIN l ON lower(u.un) = lower(l.ln)
    """,
)
def collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4): an equi-join and a distinct
    count under the UTF8_LCASE collation, checked against the explicit
    ``lower()`` spelling.  Collations move case/accent rules into the
    type: collating at PROJECTION time (not inside the join predicate)
    makes the key a collated-string column, so Catalyst sees a plain
    column equality and plans a broadcast HASH join on the collation key
    -- collate() wrapped inside the condition is opaque to equi-join
    extraction and fell back to a 5-shuffle sort-merge/BNL plan.  DuckDB
    oracle uses the lower() spelling; same result set by construction."""
    n = load_table(spark, sf_dir, "nation")
    u = n.select(F.expr("collate(upper(n_name), 'UTF8_LCASE')").alias("un"))
    low = n.select(F.expr("collate(lower(n_name), 'UTF8_LCASE')").alias("ln"))
    joined = u.join(low, F.col("un") == F.col("ln"))
    distinct_ci = (
        n.select(F.expr("collate(n_name, 'UTF8_LCASE')").alias("cn"))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_distinct_ci"))
    )
    matched = joined.agg(F.count("*").cast("bigint").alias("n_matched"))
    return matched.crossJoin(distinct_ci)


@query(
    "pipe_syntax_orders",
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 10
    """,
)
def pipe_syntax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, |> operator chains): the same logical
    plan as the GROUP BY/HAVING spelling, written as a linear dataflow.
    Parses to identical Catalyst operators -- pushdown, partial agg, and
    every other optimization apply unchanged; this query pins that the
    new surface stays available and semantically equal to the oracle's
    classic spelling (DuckDB has no pipe syntax).
    """
    return run_sql(
        spark,
        sf_dir,
        """
        FROM orders
        |> WHERE o_totalprice > 1000
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, n_orders, revenue
        """
    )


@query(
    "scalar_try_fns",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / NULLIF(o_custkey % 3, 0) AS div_or_null,
           TRY_CAST(o_orderpriority AS INTEGER) AS prio_int,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
           TRY_CAST(o_orderpriority AS TIMESTAMP) AS prio_ts,
           CAST(TRY_CAST(9223372036854775807 AS HUGEINT) + o_orderkey AS VARCHAR) AS big_ok,
           CAST(NULL AS BIGINT) AS overflow_null
    FROM orders
    WHERE o_orderkey < 200
    """,
)
def scalar_try_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe function surface: try_divide / try_cast /
    try_add return NULL where strict evaluation would raise -- the
    contract that makes a 100 TB job survive one malformed row instead
    of dying 90 minutes in.

    DuckDB twins: NULLIF guards division, TRY_CAST mirrors try_cast, and
    the guaranteed-overflow try_add is pinned to NULL on both sides
    (DuckDB widens to HUGEINT, so the overflow itself is spelled as the
    expected constant NULL).  big_ok proves try_add passes through when
    no overflow occurs (HUGEINT comparison keeps DuckDB exact).
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3).alias("div_or_null"),
        F.expr("try_cast(o_orderpriority AS INT)").alias("prio_int"),
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").alias("prio_digit"),
        F.expr("try_cast(o_orderpriority AS TIMESTAMP)").alias("prio_ts"),
        # no overflow: stays a value (emitted as decimal-exact bigint sum)
        F.expr("cast(try_add(cast(9223372036854775807 as decimal(38,0)), o_orderkey) as string)").alias("big_ok"),
        # guaranteed bigint overflow -> NULL under try_add
        F.try_add(F.lit(9223372036854775807), F.col("o_orderkey") + 1).alias("overflow_null"),
    )
