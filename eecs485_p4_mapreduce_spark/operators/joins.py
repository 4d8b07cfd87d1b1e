"""Join surface (SURVEY.md §2.C "Joins").

The reference has no binary-input operator at all -- a join is only
expressible there as a user executable over tagged unioned inputs, and none
ships.  Here every join flavor is declarative and Catalyst/AQE picks the
physical strategy; we force ``broadcast()`` for the dimension tables
(nation/region are tiny at any scale factor -- at 100 TB they are still
25/5 rows) so the fact-table side never shuffles for them.

Scale notes per query in the docstrings: which side broadcasts, where the
shuffle lands, and why the plan survives 1000x data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.confscope import conf_scoped_session
from eecs485_p4_mapreduce_spark.functions.modelstore import local_frame, pin
from eecs485_p4_mapreduce_spark.functions.numeric import davg_sql, dsum, dsum_sql, davg
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table


@query(
    "join_customer_orders",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, COUNT(*) AS n_orders,
           {dsum_sql('o.o_totalprice')} AS total_spent
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join + agg. Both sides shuffle on custkey; at 100 TB AQE
    turns this into a sort-merge join with skew splitting, and the
    groupBy reuses the join's hash partitioning (no second shuffle)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_spent"))
    )


@query(
    "join_broadcast_nation",
    oracle=f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_customers, {davg_sql('c.c_acctbal')} AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def join_broadcast_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema broadcast: nation/region ship to every executor, the
    customer scan never shuffles for the join (only for the final agg)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_customers"), davg("c_acctbal").alias("avg_bal"))
    )


@query(
    "join_revenue_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation,
           {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join: two big-big shuffle joins (custkey,
    orderkey) + one broadcast (nation). The status filter prunes orders at
    the scan before either shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("o_orderkey") == l.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(rev).alias("revenue"))
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one big order. Semi joins
    dedupe the build side, shipping only the key column -- far cheaper
    than inner-join+distinct."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no high-value order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_acctbal")


@query(
    "join_outer",
    oracle=f"""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           {dsum_sql('coalesce(o.o_totalprice, 0.0)')} AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (count 0, total 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("total_spent"),
        )
    )


_TIERS = [  # (tier, lo, hi) -- inline literal dimension
    ("small", 0.0, 100000.0),
    ("mid", 100000.0, 300000.0),
    ("large", 300000.0, 1e18),
]


@query(
    "join_range_tiers",
    oracle="""
    SELECT t.tier, COUNT(*) AS n_orders
    FROM orders o
    JOIN (VALUES ('small', 0.0, 100000.0),
                 ('mid', 100000.0, 300000.0),
                 ('large', 300000.0, 1e18)) AS t(tier, lo, hi)
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier
    """,
)
def join_range_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join against a literal tier table: broadcast
    nested-loop join (the only sane plan for a non-equi condition with a
    tiny side; a banded equi-join pre-bucketing would be the 100 TB path
    for range joins against a *large* side)."""
    o = load_table(spark, sf_dir, "orders")
    t = F.broadcast(local_frame(spark, _TIERS, "tier string, lo double, hi double"))
    return (
        o.join(t, (o.o_totalprice >= t.lo) & (o.o_totalprice < t.hi))
        .groupBy("tier")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "join_asof_events",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts,
           v.event_id AS last_click_id, v.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') v
      ON p.user_id = v.user_id AND v.ts < p.ts
    """,
)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest strictly-earlier click by
    the same user.

    Spark has no ASOF JOIN; the scalable encoding is the union-merge
    pattern: tag both streams, union, then one window sorted by (user, ts)
    carries the last click forward (``last(..., ignorenulls)``).  One
    shuffle on user_id, zero pairwise explosion -- survives 100 TB where a
    range self-join would not.  (DuckDB oracle uses its native ASOF JOIN,
    proving the rewrite's semantics.)
    """
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(1).alias("is_click")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(0).alias("is_click")
    )
    # Purchases (is_click=0) sort BEFORE clicks at identical ts via
    # is_click ASC, and the frame ends at -1 rows, so a same-instant click
    # is NOT visible -- matching the oracle's strictly-earlier v.ts < p.ts.
    # (Ordering ties click-first would wrongly include equal-ts clicks.)
    u = clicks.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        u.withColumn(
            "last_click_id",
            F.last(F.when(F.col("is_click") == 1, F.col("src_id")), ignorenulls=True).over(w),
        )
        .withColumn(
            "last_click_ts",
            F.last(F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True).over(w),
        )
        .filter(F.col("is_click") == 0)
    )
    return out.select(
        F.col("src_id").alias("purchase_id"),
        "user_id",
        "ts",
        "last_click_id",
        "last_click_ts",
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH raw AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts,
             v.event_id AS last_click_id, v.ts AS last_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') v
        ON p.user_id = v.user_id AND v.ts < p.ts)
    SELECT purchase_id, user_id, ts,
           CASE WHEN last_click_ts >= ts - INTERVAL 1 HOUR
                THEN last_click_id END AS last_click_id,
           CASE WHEN last_click_ts >= ts - INTERVAL 1 HOUR
                THEN last_click_ts END AS last_click_ts,
           COALESCE(last_click_ts < ts - INTERVAL 1 HOUR, FALSE) AS stale_dropped
    FROM raw
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof's ``tolerance`` /
    kdb wj semantics): the latest earlier click counts only if it is at
    most 1 hour old — staler matches are nulled and flagged, because
    'the user clicked yesterday' is not attribution.  Same union-window
    rewrite as ``join_asof_events`` (one user_id shuffle, no pairwise
    explosion) with the staleness predicate applied to the carried
    values; the oracle applies the identical cutoff to DuckDB's native
    ASOF result."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(1).alias("is_click")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(0).alias("is_click")
    )
    u = clicks.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    raw = (
        u.withColumn(
            "lc_id",
            F.last(
                F.when(F.col("is_click") == 1, F.col("src_id")), ignorenulls=True
            ).over(w),
        )
        .withColumn(
            "lc_ts",
            F.last(
                F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True
            ).over(w),
        )
        .filter(F.col("is_click") == 0)
    )
    fresh = F.col("lc_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return raw.select(
        F.col("src_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.when(fresh, F.col("lc_id")).alias("last_click_id"),
        F.when(fresh, F.col("lc_ts")).alias("last_click_ts"),
        F.coalesce(
            F.col("lc_ts") < F.col("ts") - F.expr("INTERVAL 1 HOUR"), F.lit(False)
        ).alias("stale_dropped"),
    )


_SESSIONS_DUCK = """
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged),
    iv AS (
      SELECT user_id, CAST(sid AS BIGINT) AS sid,
             min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
      FROM sess GROUP BY 1, 2)
"""


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH {_SESSIONS_DUCK}
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           COUNT(*) AS n_overlaps
    FROM iv a JOIN iv b
      ON a.user_id < b.user_id
     AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    GROUP BY 1, 2
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: count concurrently-active session
    pairs per user pair (the co-presence / concurrency audit).  Sessions
    are the 30-min-gap sessionization of events (session_window_30m's
    exact discipline), each an interval [first_ts, last_ts].

    A raw overlap join is a theta join -- O(n^2) nested-loop at any real
    scale.  The 100 TB shape used here: explode each interval into the
    hour buckets it spans, equi-join on the bucket (shuffle partitioned
    by time -- bounded per-bucket fan-in, AQE-skew-splittable for hot
    hours), verify the exact overlap predicate per candidate, then
    de-dupe pairs that co-occur in several buckets with a distinct on
    the session-pair key.  Bucket width should match the median interval
    length; sessions here are minutes-long, so an hour keeps the
    per-bucket candidate count tiny while never splitting one session
    across many buckets.  The oracle runs the naive theta join --
    feasible at oracle scale -- proving the bucketed rewrite loses no
    pair.  All outputs are integers: bitwise-deterministic.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(wo)
    sess = e.select(
        "user_id",
        us.alias("us"),
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0).alias("new_session"),
    ).withColumn("sid", F.sum("new_session").over(wrun).cast("bigint"))
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    bucketed = iv.select(
        "user_id",
        "sid",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr("s_us div 3600000000"), F.expr("e_us div 3600000000")
            )
        ).alias("hb"),
    )
    a = bucketed.select(
        F.col("user_id").alias("user_a"), F.col("sid").alias("sid_a"),
        F.col("s_us").alias("sa"), F.col("e_us").alias("ea"), "hb",
    )
    b = bucketed.select(
        F.col("user_id").alias("user_b"), F.col("sid").alias("sid_b"),
        F.col("s_us").alias("sb"), F.col("e_us").alias("eb"), "hb",
    )
    pairs = (
        a.join(b, "hb")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select("user_a", "sid_a", "user_b", "sid_b")
        .distinct()
    )
    return pairs.groupBy("user_a", "user_b").agg(F.count("*").alias("n_overlaps"))


@query(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts,
           v.click_id AS next_click_id, v.ts AS next_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, MIN(event_id) AS click_id
                    FROM events WHERE event_type = 'click'
                    GROUP BY 1, 2) v
      ON p.user_id = v.user_id AND v.ts > p.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each purchase, the earliest strictly-later
    click by the same user (post-purchase engagement).  The mirror of
    ``join_asof_events``: same union-merge rewrite, but the window frame
    looks AHEAD (rows following) and takes the FIRST click.

    Tie discipline inverted from the backward join: in the DESC sort
    clicks come AFTER purchases at identical ts (is_click ASC), so the
    strictly-preceding frame cannot see a same-instant click --
    matching the oracle's strictly-later v.ts > p.ts.  Still one
    user_id shuffle, zero pairwise explosion.

    The "look ahead" runs as a DESC-ordered running last-non-null, NOT
    as a (1, unboundedFollowing) frame: Spark re-aggregates suffix
    frames per row (O(n^2) per user — 43 s vs 0.35 s on one 50k-row
    partition), while cumulative frames evaluate incrementally, so a
    hot entity at 100 TB stays linear.

    Clicks are deduped to MIN(event_id) per (user_id, ts) — the
    join_asof_nearest discipline — because the DESC-cumulative rewrite
    is frame-equivalent only when the sort key (ts, is_click) is total
    per user: two same-user clicks at an identical timestamp would
    otherwise make next_click_id plan-dependent (and the oracle's ASOF
    pick tie-dependent).  The oracle applies the same GROUP BY.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("src_id"))
        .withColumn("is_click", F.lit(1))
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(0).alias("is_click")
    )
    u = clicks.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_click").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        u.withColumn(
            "next_click_id",
            F.last(
                F.when(F.col("is_click") == 1, F.col("src_id")), ignorenulls=True
            ).over(w),
        )
        .withColumn(
            "next_click_ts",
            F.last(
                F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True
            ).over(w),
        )
        .filter(F.col("is_click") == 0)
    )
    return out.select(
        F.col("src_id").alias("purchase_id"),
        "user_id",
        "ts",
        "next_click_id",
        "next_click_ts",
    )


_BAND_W = 10.0  # price bucket width == 2x the match tolerance
_BAND_TOL = 5.0


@query(
    "join_range_banded_prices",
    oracle=f"""
    SELECT p.p_partkey, CAST(COUNT(*) AS BIGINT) AS n_price_matches
    FROM part p JOIN lineitem l
      ON abs(p.p_retailprice - l.l_extendedprice / l.l_quantity) <= {_BAND_TOL}
    GROUP BY 1
    """,
)
def join_range_banded_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED range join against a LARGE side -- the 100 TB shape
    ``join_range_tiers`` only documents: match parts to lineitems whose
    implied unit price lands within +-5 (price-book reconciliation).

    A raw |a-b| <= tol predicate is a nested-loop at any real scale.
    The rewrite: bucket both sides by floor(price/width) with width =
    2*tol, explode the PART side into its bucket and both neighbors
    (the small side takes the 3x expansion), equi-join on the bucket,
    then verify the exact predicate per candidate.  Any pair within tol
    is at most one bucket apart, so the equi-join provably loses no
    match -- which the oracle's naive theta join checks outright.  The
    shuffle keys on integer buckets; a hot price point is an AQE
    skew-split, not a cross product.  All compares are on stored
    doubles with identical expressions -- deterministic."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        F.explode(
            F.array(
                F.floor(F.col("p_retailprice") / _BAND_W) - 1,
                F.floor(F.col("p_retailprice") / _BAND_W),
                F.floor(F.col("p_retailprice") / _BAND_W) + 1,
            )
        ).alias("bk"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    ).withColumn("bk", F.floor(F.col("unit_price") / _BAND_W))
    return (
        p.join(li, "bk")
        .filter(
            F.abs(F.col("p_retailprice") - F.col("unit_price")) <= _BAND_TOL
        )
        .groupBy("p_partkey")
        .agg(F.count("*").cast("bigint").alias("n_price_matches"))
    )


@query(
    "skyline_orders_pareto",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT o_totalprice AS price, o_orderdate AS odate
      FROM orders)
    SELECT price, odate
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.price >= a.price AND b.odate >= a.odate
        AND (b.price > a.price OR b.odate > a.odate))
    """,
)
def skyline_orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier): the orders not dominated on
    (higher price, later date) -- the classic multi-objective OLAP
    operator (Borzsony et al.), here 'largest recent deals'.

    The oracle is the defining NOT EXISTS -- a quadratic self-join.
    The engine's shape: collapse to the max date per distinct price
    (one hash agg over the input -- the only full-data pass), then the
    EXCLUSIVE running max date over strictly-higher prices via
    functions/ranking.py's with_running_max(inclusive=False) -- the
    range-partition + partition-offset recipe with MAX as the prefix
    combiner, no single-task window even when a continuous price column
    makes distinct prices ~ order count.  A point survives iff its date
    beats that strict-predecessor max (NULL = no higher price exists).
    For k > 2 dimensions this becomes grid-partition pruning.
    Doubles/dates are stored values compared identically --
    deterministic."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_running_max

    o = load_table(spark, sf_dir, "orders")
    per_price = o.groupBy(F.col("o_totalprice").alias("price")).agg(
        F.max("o_orderdate").alias("odate")
    )
    return (
        with_running_max(
            per_price, [F.desc("price")], "odate", inclusive=False
        )
        .filter(
            F.col("_runmax").isNull() | (F.col("odate") > F.col("_runmax"))
        )
        .select("price", "odate")
    )


@query(
    "graph_temporal_reach_2hop",
    oracle=f"""
    WITH {_SESSIONS_DUCK},
    contacts AS (
      SELECT a.user_id AS u, b.user_id AS v,
             greatest(a.s_us, b.s_us) AS t
      FROM iv a JOIN iv b
        ON a.user_id <> b.user_id
       AND a.s_us <= b.e_us AND b.s_us <= a.e_us),
    h1 AS (
      SELECT c.v AS user_id, min(c.t) AS t_us
      FROM contacts c WHERE c.u < 10 AND c.v >= 10 GROUP BY 1),
    h2 AS (
      SELECT c.v AS user_id, min(c.t) AS t_us
      FROM contacts c JOIN h1 ON c.u = h1.user_id AND c.t >= h1.t_us
      WHERE c.v >= 10
        AND c.v NOT IN (SELECT user_id FROM h1)
      GROUP BY 1)
    SELECT user_id, CAST(1 AS BIGINT) AS hops,
           make_timestamp(t_us) AS reach_ts FROM h1
    UNION ALL
    SELECT user_id, CAST(2 AS BIGINT), make_timestamp(t_us) FROM h2
    """,
)
def graph_temporal_reach_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RESPECTING 2-hop reachability (contact tracing): starting
    from seed users (id < 10), who is reachable through session-overlap
    contacts where each hop's contact starts no earlier than the
    previous hop's -- the temporal-graph constraint that separates real
    influence paths from static connectivity.

    Contacts reuse the bucketed interval-overlap shape
    (join_interval_overlap): hour-bucket equi-join + exact overlap
    verify, contact time = the later session start.  Each BFS hop is
    then one user-keyed equi-join against the frontier with the
    time-monotonicity predicate applied per candidate, and an anti-join
    keeps hop counts minimal.  Fixed 2 hops on both engines (the
    bounded-recursion discipline of recursive_cte_path_counts); the
    oracle runs the naive theta-join contact graph.  All integers and
    microsecond timestamps -- deterministic."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(wo)
    sess = e.select(
        "user_id",
        us.alias("us"),
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0).alias("new_session"),
    ).withColumn("sid", F.sum("new_session").over(wrun).cast("bigint"))
    # referenced by both self-join sides of the contact enumeration AND
    # both hops — without the pin the two-window sessionization chain
    # replays SIXTEEN times (measured: 16 parquet scans / 32 Window
    # nodes in the unpinned plan, zero ReusedExchange)
    iv = pin(sess.groupBy("user_id", "sid").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    ))
    bucketed = iv.select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr("s_us div 3600000000"), F.expr("e_us div 3600000000")
            )
        ).alias("hb"),
    )
    a = bucketed.select(
        F.col("user_id").alias("u"), F.col("s_us").alias("sa"),
        F.col("e_us").alias("ea"), "hb",
    )
    b = bucketed.select(
        F.col("user_id").alias("v"), F.col("s_us").alias("sb"),
        F.col("e_us").alias("eb"), "hb",
    )
    # h1 AND h2 both read the contact graph — pin it so the bucket
    # join + overlap verify runs once
    contacts = pin(
        a.join(b, "hb")
        .filter(
            (F.col("u") != F.col("v"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select("u", "v", F.greatest("sa", "sb").alias("t"))
        .distinct()
    )
    h1 = (
        contacts.filter((F.col("u") < 10) & (F.col("v") >= 10))
        .groupBy(F.col("v").alias("user_id"))
        .agg(F.min("t").alias("t_us"))
    )
    h2 = (
        contacts.filter(F.col("v") >= 10)
        .join(
            h1.select(F.col("user_id").alias("u"), F.col("t_us").alias("t1")),
            "u",
        )
        .filter(F.col("t") >= F.col("t1"))
        .join(h1.select("user_id").withColumnRenamed("user_id", "v"), "v", "left_anti")
        .groupBy(F.col("v").alias("user_id"))
        .agg(F.min("t").alias("t_us"))
    )
    out1 = h1.select(
        "user_id", F.lit(1).cast("bigint").alias("hops"),
        F.timestamp_micros("t_us").alias("reach_ts"),
    )
    out2 = h2.select(
        "user_id", F.lit(2).cast("bigint").alias("hops"),
        F.timestamp_micros("t_us").alias("reach_ts"),
    )
    return out1.unionByName(out2)


@query(
    "join_runtime_bloom_filter",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dsum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (SPARK-32268): when a shuffle
    join's small side carries a selective predicate, Spark builds a
    bloom filter over its join keys at runtime and injects a
    ``might_contain`` guard into the BIG side's scan — rows whose
    order key cannot match are dropped BEFORE the shuffle.  At 100 TB
    this is the difference between shuffling the full fact table and
    shuffling only the ~1/5 of it that can survive the join; it is the
    shuffle-join complement of broadcast DPP
    (``join_dynamic_partition_pruning``).

    The injection preconditions are set for THIS plan only:
    autoBroadcastJoinThreshold=-1 forces the shuffle join (at real
    scale both sides exceed the threshold naturally) and the
    application-side size floor is lowered to admit test-scale scans.
    The overrides live on a CHILD session (``conf_scoped_session`` —
    isolated SQLConf over the shared SparkContext), so no other query
    can observe them regardless of submission interleaving; the plan is
    optimized and materialized eagerly (pin) on the child
    and the driver reads the checkpointed result.  Plan shape (bloom
    aggregate on the creation side, might_contain on the fact scan) is
    pinned in tests/test_plans.py; conf isolation is pinned in
    tests/test_scale_layout.py.  Results are conf-independent — the
    oracle is the plain join — so correctness never depends on whether
    the filter was injected."""
    child = conf_scoped_session(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
        },
    )
    l = load_table(child, sf_dir, "lineitem")
    o = load_table(child, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )
    return pin(joined)  # optimize + run under the child confs


@query(
    "join_asof_nearest",
    oracle="""
    WITH c AS (SELECT user_id, ts, MIN(event_id) AS click_id
               FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    pv AS (SELECT p.event_id, p.user_id, p.ts,
                  v.click_id AS prev_id, v.ts AS prev_ts
           FROM p ASOF LEFT JOIN c v
             ON p.user_id = v.user_id AND v.ts < p.ts),
    nx AS (SELECT p.event_id, v.click_id AS next_id, v.ts AS next_ts
           FROM p ASOF LEFT JOIN c v
             ON p.user_id = v.user_id AND v.ts > p.ts)
    SELECT pv.event_id AS purchase_id, pv.user_id,
           CASE WHEN pv.prev_id IS NULL AND nx.next_id IS NULL THEN NULL
                WHEN nx.next_id IS NULL THEN pv.prev_id
                WHEN pv.prev_id IS NULL THEN nx.next_id
                WHEN epoch_us(pv.ts) - epoch_us(pv.prev_ts)
                     <= epoch_us(nx.next_ts) - epoch_us(pv.ts)
                  THEN pv.prev_id ELSE nx.next_id END AS nearest_click_id,
           CASE WHEN pv.prev_id IS NULL AND nx.next_id IS NULL THEN NULL
                WHEN nx.next_id IS NULL
                  THEN epoch_us(pv.prev_ts) - epoch_us(pv.ts)
                WHEN pv.prev_id IS NULL
                  THEN epoch_us(nx.next_ts) - epoch_us(pv.ts)
                WHEN epoch_us(pv.ts) - epoch_us(pv.prev_ts)
                     <= epoch_us(nx.next_ts) - epoch_us(pv.ts)
                  THEN epoch_us(pv.prev_ts) - epoch_us(pv.ts)
                ELSE epoch_us(nx.next_ts) - epoch_us(pv.ts) END AS delta_us
    FROM pv JOIN nx ON nx.event_id = pv.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — the third member of the family: for each
    purchase, the click by the same user closest in time on EITHER
    side (strictly before or strictly after; ties go to the earlier
    click).  kdb's ``aj`` and QuestDB's ASOF cover backward; nearest is
    what attribution wants when the click can legitimately land just
    after the purchase event is recorded.

    Clicks are first deduplicated to one row per (user_id, ts) with the
    min event_id — without this, simultaneous clicks would make the
    matched id engine-dependent.  Both directions use the union-merge
    window rewrite (one user_id exchange, two local sort orders), and
    BOTH run as cumulative strictly-preceding frames (the forward pass
    over the DESC order — suffix frames re-aggregate per row in Spark,
    O(n^2) per user): in each sort, clicks land AFTER purchases at
    equal ts, so the preceding frame strictly excludes equal
    timestamps, matching the oracle's v.ts < / > p.ts.  Deltas compare
    as integer microseconds (unix_micros), never as interval
    arithmetic."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("src_id"))
        .withColumn("is_click", F.lit(1))
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(0).alias("is_click")
    )
    u = clicks.unionByName(purch)
    # backward pass: clicks sort AFTER purchases at equal ts, so the
    # preceding frame only sees strictly-earlier clicks
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # forward pass: a DESC-ordered running last-non-null (clicks sort
    # AFTER purchases at equal DESC position, so the strictly-preceding
    # frame only sees strictly-later clicks).  NOT a suffix frame —
    # Spark re-aggregates (1, unboundedFollowing) per row, O(n^2) per
    # user; the cumulative spelling is incremental (join_asof_forward
    # has the measurement).
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_click").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("is_click") == 1, F.col("src_id"))
    click_ts = F.when(F.col("is_click") == 1, F.col("ts"))
    out = (
        u.withColumn("prev_id", F.last(click_id, ignorenulls=True).over(wb))
        .withColumn("prev_ts", F.last(click_ts, ignorenulls=True).over(wb))
        .withColumn("next_id", F.last(click_id, ignorenulls=True).over(wf))
        .withColumn("next_ts", F.last(click_ts, ignorenulls=True).over(wf))
        .filter(F.col("is_click") == 0)
    )
    d_prev = F.unix_micros("ts") - F.unix_micros("prev_ts")
    d_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    take_prev = F.col("next_id").isNull() | (
        F.col("prev_id").isNotNull() & (d_prev <= d_next)
    )
    return out.select(
        F.col("src_id").alias("purchase_id"),
        "user_id",
        F.when(F.col("prev_id").isNull() & F.col("next_id").isNull(), None)
        .when(take_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .cast("bigint")
        .alias("nearest_click_id"),
        F.when(F.col("prev_id").isNull() & F.col("next_id").isNull(), None)
        .when(take_prev, -d_prev)
        .otherwise(d_next)
        .cast("bigint")
        .alias("delta_us"),
    )
