"""Product-analytics shapes: ordered string aggregation, wide->long
unpivot, histogram binning, and event-sequence funnels.

These are the everyday OLAP queries the reference could only express as
custom reducers over pre-sorted partitions (SURVEY.md §2.B); here each is
a single declarative plan with map-side partial aggregation.

Cross-engine determinism: string aggregation is over a SORTED list (an
unordered listagg differs run-to-run in ANY distributed engine -- the
sort is not a test convenience, it is the only correct spec at scale);
histogram bin ids use floor() so double->int conversion rounds the same
way in both engines; funnel stage times are MIN(ts) per stage, an
order-insensitive reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import pin
from eecs485_p4_mapreduce_spark.functions.numeric import (
    davg_sql,
    dsum,
    dsum_sql,
    hu_ratio,
    hu_ratio_signed,
    hu_ratio_signed_sql,
    hu_ratio_sql,
)
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table


@query(
    "agg_string_concat",
    oracle="""
    SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered listagg: nation names per region, comma-joined in sorted
    order.  Spark spells it array_join(array_sort(collect_list())); the
    sort makes the result well-defined regardless of partition order --
    collect_list alone is nondeterministic on any shuffled input."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
    )


@query(
    "unpivot_lineitem_metrics",
    oracle=f"""
    WITH wide AS (
      SELECT l_returnflag,
             {dsum_sql('l_quantity')} AS sum_qty,
             {dsum_sql('l_extendedprice')} AS sum_price,
             {dsum_sql('l_discount')} AS sum_disc
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, metric, metric_value
    FROM wide
    UNPIVOT (metric_value FOR metric IN (sum_qty, sum_price, sum_disc))
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (melt): three per-flag aggregates become
    (flag, metric, value) rows.  The unpivot runs AFTER the aggregate, so
    it triples a handful of rows, not the 100 TB input; Spark lowers
    ``DataFrame.unpivot`` to an Expand node, the same operator grouping
    sets use."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "metric",
        "metric_value",
    )


@query(
    "histogram_value_bins",
    oracle="""
    SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def histogram_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (bin width 5) of event values per type: a
    pure hash aggregate over (type, floor(value/width)) -- the
    full-distribution profile one runs before choosing quality-score
    thresholds.  floor() before the int cast because Spark truncates and
    DuckDB rounds on CAST(double AS INT)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.floor(F.col("value") / 5.0).cast("bigint").alias("bin"),
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT user_id, t_view, t_click, t_purchase
    FROM stages
    WHERE t_view < t_click AND t_click < t_purchase
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion: users whose first view precedes their
    first click precedes their first purchase.  One conditional-MIN hash
    aggregate per user (map-side combinable, no window, no self-join --
    the three-way self-join formulation shuffles the event table three
    times for the same answer), then a filter on stage order."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(stage: str):
        return F.min(F.when(F.col("event_type") == stage, F.col("ts"))).alias(
            f"t_{stage}"
        )

    stages = e.groupBy("user_id").agg(
        first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    return stages.filter(
        (F.col("t_view") < F.col("t_click"))
        & (F.col("t_click") < F.col("t_purchase"))
    )


@query(
    "pattern_funnel_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS c,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts, event_id, c,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged),
    seqs AS (
      SELECT user_id, session_id,
             array_to_string(list(c ORDER BY ts, event_id), '') AS seq,
             COUNT(*) AS n_ev
      FROM sessions GROUP BY user_id, session_id)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(n_ev) AS BIGINT) AS n_events
    FROM seqs GROUP BY user_id
    """,
)
def pattern_funnel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (the MATCH_RECOGNIZE /
    Flink-CEP shape, lowered to windows + regex): sessionize each user's
    event stream on a 30-minute inactivity gap, render every session as
    its ordered event-initial string, and count sessions matching the
    ordered pattern view -> click -> purchase ('v.*c.*p').

    Unlike ``funnel_view_click_purchase`` (lifetime conditional-MIN),
    the pattern here must occur INSIDE one session, which needs the
    sequence string.  All three windows and the two aggregations share
    the user_id hash partitioning, so the event stream shuffles once;
    the regex runs on ~session-length strings, bounded by the session
    gap at any corpus size."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("c"),
        F.when(
            (F.unix_micros("ts") - F.unix_micros(lag_ts) > 1800000000)
            | lag_ts.isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    seqs = sessions.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "c"))),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq"),
        F.count("*").alias("n_ev"),
    )
    return seqs.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("seq").rlike("v.*c.*p"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
    )


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH firstw AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS w FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN firstw f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — THE product-analytics staple: assign
    each user to the week of their first event, then count how many of
    each cohort are active 0, 1, 2... weeks later (the retention
    triangle).

    Two aggregates over one events scan path (first-week per user,
    distinct user-weeks) joined on user_id; both week values are
    date_trunc'd so the day difference is an exact multiple of 7 and
    the integer division is identical in both engines.  At 100 TB the
    cohort table is a per-user aggregate one materializes once and
    joins incrementally."""
    e = load_table(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    return (
        activity.join(firstw, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(w, cohort_week) div 7").cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


@query(
    "rfm_segmentation",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS freq,
             {dsum_sql('o_totalprice')} AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, monetary,
             ntile(4) OVER (ORDER BY last_order, o_custkey) AS r,
             ntile(4) OVER (ORDER BY freq, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary, o_custkey) AS m
      FROM base)
    SELECT concat(CAST(r AS VARCHAR), CAST(f AS VARCHAR), CAST(m AS VARCHAR))
             AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {dsum_sql('monetary')} AS total_monetary
    FROM scored GROUP BY 1
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    quartile-score each customer on last order date, order count, and
    decimal-exact spend, then roll up the 64 possible 'RFM' segments.

    ntile ties are broken by custkey in BOTH engines, so quartile
    boundaries are deterministic.  No single-task window anywhere, and
    — unlike the first rewrite, which paid three separate range
    exchanges + checkpoints — ALL THREE quartile dimensions ride ONE
    grouped-rank pass: the per-customer aggregate is stacked into three
    tagged rows (dim, keys) and ranked with the partition-offset recipe
    grouped by dim (functions/ranking.py, ``partition_cols``), then
    pivoted back per customer.  One exchange over 3N tagged rows
    replaces three over N plus three shuffle joins; the plan survives
    any customer count.  The oracle keeps the naive ntile spelling;
    identical ordering makes the tiles bitwise equal."""
    from eecs485_p4_mapreduce_spark.functions.ranking import (
        ntile_from_rank,
        with_global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    base = pin(o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        dsum("o_totalprice").alias("monetary"),
    ))  # read twice: range-boundary sampling + the rank
    # one tagged row per (customer, dimension); the unused key columns
    # are all-NULL constants within a dim, so ordering by (_kd,_kl,_km)
    # inside each dim degenerates to exactly that dim's key
    stacked = base.select(
        "o_custkey",
        "monetary",
        F.expr(
            "stack(3,"
            " 'r', last_order, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),"
            " 'f', CAST(NULL AS TIMESTAMP_NTZ), freq, CAST(NULL AS DOUBLE),"
            " 'm', CAST(NULL AS TIMESTAMP_NTZ), CAST(NULL AS BIGINT), monetary)"
            " AS (_dim, _kd, _kl, _km)"
        ),
    )
    ranked = with_global_rank(
        stacked,
        ["_kd", "_kl", "_km", "o_custkey"],
        partition_cols=["_dim"],
    ).select(
        "o_custkey",
        "monetary",
        "_dim",
        ntile_from_rank("_rk", "_n", 4).alias("t"),
    )
    scored = ranked.groupBy("o_custkey").agg(
        F.max(F.when(F.col("_dim") == "r", F.col("t"))).alias("r"),
        F.max(F.when(F.col("_dim") == "f", F.col("t"))).alias("f"),
        F.max(F.when(F.col("_dim") == "m", F.col("t"))).alias("m"),
        F.max("monetary").alias("monetary"),
    )
    return (
        scored.select(
            F.concat(
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("segment"),
            "monetary",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            dsum("monetary").alias("total_monetary"),
        )
    )


@query(
    "scd2_user_state_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type),
    versioned AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS version,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changes)
    SELECT user_id, version, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM versioned
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 construction: collapse each
    user's event stream into state VERSIONS (one row per change of
    event_type) with [valid_from, valid_to) validity intervals and an
    is_current flag — the standard way a warehouse historizes a mutable
    dimension, built here from the raw change stream in one pass.

    Three window functions over the same (user_id; ts, event_id)
    ordering — change detection (lag), versioning (row_number), and
    interval close-out (lead) — so the whole history builds on ONE
    user_id shuffle.  An as-of join against this table (join_asof_events'
    rewrite) answers 'what was the user's state when X happened'."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    versioned = changes.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return versioned.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


# stats_correlation's covariance rational, factored to module constants
# so the int128 boundary pin (tests/test_headroom_bounds.py) drives the
# PRODUCTION strings.  sxd/syd are decimal(18,6) sums, sxyd the
# decimal(28,12) cross-moment sum, n the group count.
_CORR_COV_NUM = (
    "cast(n as decimal(38,0))"
    " * cast(sxyd * 1000000000000 as decimal(38,0))"
    " - cast(sxd * 1000000 as decimal(38,0))"
    " * cast(syd * 1000000 as decimal(38,0))"
)
_CORR_COV_DEN = "cast(n as decimal(38,0)) * (n - 1) * 1000000000000"


@query(
    "stats_correlation",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sxd,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS syd,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,12))) AS sxyd,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,12))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           {hu_ratio_signed_sql(
               "CAST(n AS HUGEINT) * CAST(sxyd * 1000000000000 AS HUGEINT)"
               " - CAST(sxd * 1000000 AS HUGEINT)"
               " * CAST(syd * 1000000 AS HUGEINT)",
               "CAST(n AS HUGEINT) * (n - 1) * 1000000000000", 6)}
             AS covar_samp,
           round((n * CAST(sxyd AS DOUBLE) - CAST(sxd AS DOUBLE) * CAST(syd AS DOUBLE))
                 / (sqrt(n * sxx - CAST(sxd AS DOUBLE) * CAST(sxd AS DOUBLE))
                    * sqrt(n * syy - CAST(syd AS DOUBLE) * CAST(syd AS DOUBLE))), 6) AS corr
    FROM s
    """,
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and sample covariance of quantity vs extended
    price per return flag — the built-in corr()/covar_samp() semantics,
    but accumulated EXACTLY: raw double products (bit-identical IEEE in
    both engines) are cast to fixed-point and decimal-summed, so the
    five moments are order-independent and the final double formula is
    evaluated on identical inputs (the stats_moments recipe extended to
    cross-moments).  One scan, one 3-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    dec6 = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    prod = lambda a, b: (F.col(a) * F.col(b)).cast("decimal(28,12)")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dec6("l_quantity")).alias("sxd"),
        F.sum(dec6("l_extendedprice")).alias("syd"),
        F.sum(prod("l_quantity", "l_extendedprice")).alias("sxyd"),
        F.sum(prod("l_quantity", "l_quantity")).cast("double").alias("sxx"),
        F.sum(prod("l_extendedprice", "l_extendedprice")).cast("double").alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sxd").cast("double")
    sy = F.col("syd").cast("double")
    sxy = F.col("sxyd").cast("double")
    # covar_samp = (n*sxy_i - sx_i*sy_i)/(n(n-1)*10^12) is the exact
    # rational over the 10^12/10^6-scaled decimal sums: signed half-up
    # recipe; corr divides by a product of sqrts — sqrt outputs are
    # never decimal halves (CLAUDE.md rule), so
    # round(identical-double, 6) stays safe there.
    # DECISION RULE (int128 headroom, MEASURED in
    # tests/test_headroom_bounds.py): the render's 2*|num|*10^6 factor
    # binds the exact form at num = n^2 * E[xy] * 10^12 <= 5e31 —
    # ~2e7 rows PER GROUP at TPC-H magnitudes (E[xy] ~ 9e5), far below
    # the declared 100 TB scale — and wraps LOUDLY
    # (NUMERIC_VALUE_OUT_OF_RANGE).  Beyond that, in order:
    # (a) center-then-square — IMPLEMENTED as stats_covar_twopass
    # (twopass_covar below: pass 1 truncated integer means mx6/my6,
    # pass 2 sums dx, dy, dx*dy; shift invariance makes
    # n*sum(dx*dy) - sum(dx)*sum(dy) ALGEBRAICALLY IDENTICAL;
    # overflow boundary pinned in tests/test_properties.py) — buys
    # mean_x*mean_y/cov; (b) the DECLARED quantization drop
    # (inputs at 10^2, 4-digit render) for the remaining orders of
    # magnitude, identical in both engines.  Sharding merges moment
    # partials fine but does not relax the render.
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        hu_ratio_signed(
            _CORR_COV_NUM,
            _CORR_COV_DEN,
            6,
        ).alias("covar_samp"),
        F.round(
            (n * sxy - sx * sy)
            / (
                F.sqrt(n * F.col("sxx") - sx * sx)
                * F.sqrt(n * F.col("syy") - sy * sy)
            ),
            6,
        ).alias("corr"),
    )


def twopass_covar(li: DataFrame) -> DataFrame:
    """Production body of stats_covar_twopass over any
    (l_returnflag, l_quantity, l_extendedprice) frame — factored so the
    overflow-boundary test drives the EXACT production derivation on a
    synthetic frame whose single-pass form wraps decimal(38,0)."""
    x = li.select(
        "l_returnflag",
        F.expr(
            "cast(cast(l_quantity as decimal(18,6)) * 1000000"
            " as decimal(38,0))"
        ).alias("x6"),
        F.expr(
            "cast(cast(l_extendedprice as decimal(18,6)) * 1000000"
            " as decimal(38,0))"
        ).alias("y6"),
    )
    centers = (
        x.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x6").alias("sx6"),
            F.sum("y6").alias("sy6"),
        )
        # Spark decimal `div` truncates toward zero — matches the
        # oracle's sign-split HUGEINT floor spelling
        .select(
            "l_returnflag",
            "n",
            F.expr("sx6 div n").alias("mx6"),
            F.expr("sy6 div n").alias("my6"),
        )
    )
    p2 = (
        x.join(F.broadcast(centers), "l_returnflag")
        .groupBy("l_returnflag", "n", "mx6", "my6")
        .agg(
            F.sum(F.expr("x6 - mx6")).alias("sdx6"),
            F.sum(F.expr("y6 - my6")).alias("sdy6"),
            F.sum(F.expr("(x6 - mx6) * (y6 - my6)")).alias("sdxy12"),
        )
    )
    return p2.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        (F.col("mx6").cast("double") / 1000000).alias("center_x"),
        (F.col("my6").cast("double") / 1000000).alias("center_y"),
        hu_ratio_signed(
            "cast(n as decimal(38,0)) * sdxy12 - sdx6 * sdy6",
            "cast(n as decimal(38,0)) * (n - 1) * 1000000000000",
            6,
        ).alias("covar_samp"),
    )


@query(
    "stats_covar_twopass",
    oracle=f"""
    WITH x AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000
                  AS HUGEINT) AS x6,
             CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000
                  AS HUGEINT) AS y6
      FROM lineitem),
    c AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(x6) AS sx6, SUM(y6) AS sy6
      FROM x GROUP BY 1),
    m AS (  -- truncate-toward-zero centers (Spark decimal `div`
            -- truncates; HUGEINT // floors, so split the sign)
      SELECT l_returnflag, n,
             CASE WHEN sx6 < 0 THEN -(abs(sx6) // CAST(n AS HUGEINT))
                  ELSE sx6 // CAST(n AS HUGEINT) END AS mx6,
             CASE WHEN sy6 < 0 THEN -(abs(sy6) // CAST(n AS HUGEINT))
                  ELSE sy6 // CAST(n AS HUGEINT) END AS my6
      FROM c),
    p2 AS (
      SELECT x.l_returnflag, m.n, m.mx6, m.my6,
             SUM(x.x6 - m.mx6) AS sdx6,
             SUM(x.y6 - m.my6) AS sdy6,
             SUM((x.x6 - m.mx6) * (x.y6 - m.my6)) AS sdxy12
      FROM x JOIN m ON x.l_returnflag = m.l_returnflag
      GROUP BY 1, 2, 3, 4)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(mx6 AS DOUBLE) / 1000000 AS center_x,
           CAST(my6 AS DOUBLE) / 1000000 AS center_y,
           {hu_ratio_signed_sql(
               "CAST(n AS HUGEINT) * sdxy12 - sdx6 * sdy6",
               "CAST(n AS HUGEINT) * (n - 1) * 1000000000000", 6)}
             AS covar_samp
    FROM p2
    """,
)
def stats_covar_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass (center-then-square) sample covariance — the IMPLEMENTED
    overflow fallback stats_correlation's decision rule names.

    Pass 1 computes per-group truncated integer means mx6/my6 at 10^6
    scale; pass 2 re-scans, centers both columns, and exactly sums the
    SMALL deviations dx, dy and their product.  Shift invariance makes
    ``n*sum(dx*dy) - sum(dx)*sum(dy)`` ALGEBRAICALLY IDENTICAL to the
    single-pass ``n*sum(xy) - sum(x)*sum(y)`` for any integer shifts, so
    covar_samp hash-matches stats_correlation's while the int128 render
    requirement drops from n^2*E[xy]*10^12 to n^2*|cov|*10^12 — the win
    is mean_x*mean_y/cov, decisive whenever the means dominate the
    spreads (sensor baselines, prices around a level, timestamps).  The
    boundary where the single-pass form wraps while this one is exact is
    pinned by tests/test_properties.py::
    test_twopass_covar_survives_singlepass_overflow.  Cost: one extra
    scan plus a broadcast join of the tiny center dim — the documented
    escape, not the default, because lineitem's value domains sit near
    zero."""
    return twopass_covar(load_table(spark, sf_dir, "lineitem"))


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
           n >= 5 AS k_anonymous
    FROM g
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nation, market segment): every equivalence class with fewer than
    k=5 members is a re-identification risk a release pipeline must
    generalize or suppress.  One hash aggregate — the audit is the same
    groupBy the release itself would run, so it scales with the
    quasi-identifier cardinality, not the table."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            (F.col("n") >= 5).alias("k_anonymous"),
        )
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           MAX(o_orderdate) AS latest_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the stored MV holds
    PARTIAL aggregate state (count, exact decimal sum, max) for orders
    before a cutoff; a delta batch aggregates only the new partition and
    MERGES into the snapshot — count adds, decimal sums add, max takes
    max — without rescanning the base.  The oracle is the full-table
    aggregation, so the check proves merged-partials == full-recompute,
    i.e. the aggregate state is genuinely mergeable (the property that
    makes incremental refresh sound at 100 TB, where the base is never
    rescanned).  Decimal (not double) partial sums are what make the
    merge exact regardless of batch boundaries."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("date")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("pn"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("psum"),
            F.max("o_orderdate").alias("pmax"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff)).select(
        "o_orderstatus",
        F.col("pn").alias("n1"),
        F.col("psum").alias("s1"),
        F.col("pmax").alias("m1"),
    )
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff)).select(
        "o_orderstatus",
        F.col("pn").alias("n2"),
        F.col("psum").alias("s2"),
        F.col("pmax").alias("m2"),
    )
    merged = base.join(delta, "o_orderstatus", "full_outer")
    zero = F.lit(0).cast("decimal(18,6)")
    return merged.select(
        "o_orderstatus",
        (F.coalesce(F.col("n1"), F.lit(0)) + F.coalesce(F.col("n2"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (F.coalesce(F.col("s1"), zero) + F.coalesce(F.col("s2"), zero))
        .cast("double")
        .alias("revenue"),
        F.greatest(F.col("m1"), F.col("m2")).alias("latest_order"),
    )


_BENFORD_EXPECTED = "CASE digit WHEN '1' THEN 0.30103 WHEN '2' THEN 0.176091 WHEN '3' THEN 0.124939 WHEN '4' THEN 0.09691 WHEN '5' THEN 0.079181 WHEN '6' THEN 0.066947 WHEN '7' THEN 0.057992 WHEN '8' THEN 0.051153 WHEN '9' THEN 0.045757 END"


@query(
    "quality_benford_digits",
    oracle=f"""
    WITH d AS (
      SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM g)
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST((n * 2000000 + t.total) // (2 * t.total) AS DOUBLE)
             / 1000000.0 AS frac,
           CAST(({_BENFORD_EXPECTED}) AS DOUBLE) AS benford_expected
    FROM g, t
    """,
)
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order amounts — the forensic
    data-quality check for fabricated or truncated numeric columns.
    The leading digit comes from integer->string conversion (identical
    in both engines; no float formatting), and the Benford expectations
    are Python-computed literals shared by both SQL texts, cast to
    DOUBLE on both sides so neither engine's DECIMAL literal typing
    leaks into the output.  ``frac`` is round-half-up(n/total, 6) done
    entirely in int64 — ``(2n*10^6 + total) div (2 total)`` — then one
    identical IEEE divide by 1e6, so no engine's round() implementation
    is in the loop (CLAUDE.md determinism rule: ratios via integer
    arithmetic, never raw-float round).  One scan, a 9-group aggregate,
    and a broadcast scalar total."""
    o = load_table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1.0).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).alias("digit")
    )
    g = d.groupBy("digit").agg(F.count("*").alias("n"))
    total = g.agg(F.sum("n").alias("total"))
    return g.crossJoin(F.broadcast(total)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        (
            F.expr("CAST((n * 2000000 + total) DIV (2 * total) AS DOUBLE)")
            / F.lit(1000000.0)
        ).alias("frac"),
        F.expr(f"CAST(({_BENFORD_EXPECTED}) AS DOUBLE)").alias("benford_expected"),
    )


@query(
    "privacy_pseudonymize",
    oracle="""
    SELECT sha256(concat('pepper:', c_name)) AS name_token,
           regexp_replace(regexp_replace(regexp_replace(c_name,
             '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS name_masked,
           c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) AS acctbal_band
    FROM customer WHERE c_custkey <= 100
    """,
)
def privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII minimization for a data release: salted-hash pseudonymization
    (sha-256 over a peppered name — joinable across tables, not
    reversible), format-preserving masking (``mask()``: upper->X,
    lower->x, digit->n; the oracle spells the same transform as regexp
    chains), and value banding (account balance to $1000 bands).  All
    scan-side; the release never materializes the raw identifier."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") <= 100).select(
        F.sha2(F.concat(F.lit("pepper:"), F.col("c_name")), 256).alias("name_token"),
        F.mask(F.col("c_name")).alias("name_masked"),
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000.0) * 1000)
        .cast("bigint")
        .alias("acctbal_band"),
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'orders->customer' AS relation,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
             AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit across the star schema: orphan counts
    for orders->customer, lineitem->orders, lineitem->part — the
    constraint check a lake has to run as a query because nothing
    enforces FKs at write time.  Each relation is one LEFT ANTI join
    (broadcast for dimension-sized parents, shuffled-hash for the
    fact-to-fact edge); counts union into a 3-row report."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def audit(name, child, key, parent, pkey):
        orphans = child.join(
            parent.select(pkey), child[key] == parent[pkey], "left_anti"
        )
        return (
            child.agg(F.count("*").cast("bigint").alias("n_rows"))
            .crossJoin(orphans.agg(F.count("*").cast("bigint").alias("n_orphans")))
            .select(F.lit(name).alias("relation"), "n_rows", "n_orphans")
        )

    return (
        audit("orders->customer", o, "o_custkey", c, "c_custkey")
        .unionByName(audit("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
        .unionByName(audit("lineitem->part", li, "l_partkey", p, "p_partkey"))
    )


@query(
    "dq_profile_orders",
    oracle="""
    SELECT 'o_custkey' AS col, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_v,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           MIN(o_totalprice), MAX(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM orders
    """,
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ingest-time DQ report): null counts,
    distinct cardinality, and numeric min/max per column, long-form.
    All three column profiles compute in ONE scan — Spark plans the
    multi-distinct aggregate with Expand — and non-numeric columns carry
    null bounds rather than lossy string casts."""
    o = load_table(spark, sf_dir, "orders")

    def prof(col, numeric):
        return o.agg(
            F.lit(col).alias("col"),
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            (F.min(col).cast("double") if numeric else F.lit(None).cast("double")).alias(
                "min_v"
            ),
            (F.max(col).cast("double") if numeric else F.lit(None).cast("double")).alias(
                "max_v"
            ),
        )

    return (
        prof("o_custkey", True)
        .unionByName(prof("o_totalprice", True))
        .unionByName(prof("o_orderstatus", False))
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id),
    conv AS (
      SELECT user_id,
             epoch_us(t_purchase) - epoch_us(t_view) AS us_to_convert
      FROM stages WHERE t_view < t_purchase),
    ranked AS (
      SELECT us_to_convert, user_id,
             ROW_NUMBER() OVER (ORDER BY us_to_convert, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM conv)
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(CASE WHEN rk = CAST(ceil(n / 2.0) AS BIGINT)
                    THEN us_to_convert END) AS BIGINT) AS median_us,
           CAST(MIN(us_to_convert) AS BIGINT) AS min_us,
           CAST(MAX(us_to_convert) AS BIGINT) AS max_us
    FROM ranked
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per converting user, microseconds
    from first view to first purchase, summarized with the nearest-rank
    median (integer epoch arithmetic end to end — no interpolation, no
    floats).  One conditional-MIN aggregate (the funnel shape) feeds a
    rank selection over converters, done with the range-partitioned
    partition-offset rank (functions/ranking.py) so even an
    every-user-converts corpus never funnels through one task; the
    min/max/count summary is an ordinary aggregate cross-joined with
    the 1-row median."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    e = load_table(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    conv = stages.filter(F.col("t_view") < F.col("t_purchase")).select(
        "user_id",
        (F.unix_micros("t_purchase") - F.unix_micros("t_view")).alias(
            "us_to_convert"
        ),
    )
    conv = pin(conv)  # shared by the rank pass + summary
    # aggregate the selected row so BOTH sides are always exactly one row
    # — a filter-only median frame would be EMPTY on a zero-converter
    # corpus and the crossJoin would drop the summary row, where the
    # oracle's aggregate-over-empty returns one all-NULL row
    median = (
        with_global_rank(conv, ["us_to_convert", "user_id"])
        .filter(F.col("_rk") == F.expr("(_n + 1) DIV 2"))
        .agg(F.min("us_to_convert").cast("bigint").alias("median_us"))
    )
    summary = conv.agg(
        # NULL (not 0) when nobody converts: the oracle's MAX(n) over an
        # empty ranked set is NULL, and so was the pre-rewrite max(n)
        F.when(F.count("*") > 0, F.count("*"))
        .cast("bigint")
        .alias("n_converted"),
        F.min("us_to_convert").cast("bigint").alias("min_us"),
        F.max("us_to_convert").cast("bigint").alias("max_us"),
    )
    return summary.crossJoin(F.broadcast(median)).select(
        "n_converted", "median_us", "min_us", "max_us"
    )


@query(
    "attribution_first_vs_last",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    attrib AS (
      SELECT p.event_id AS purchase_id,
             MIN(c.event_id) FILTER (WHERE c.ts = first_ts.f) AS first_click,
             MIN(c.event_id) FILTER (WHERE c.ts = last_ts.l) AS last_click
      FROM purchases p
      JOIN clicks c ON c.user_id = p.user_id AND c.ts < p.ts
      JOIN (SELECT p2.event_id AS pid, MIN(c2.ts) AS f
            FROM purchases p2 JOIN clicks c2
              ON c2.user_id = p2.user_id AND c2.ts < p2.ts
            GROUP BY p2.event_id) first_ts ON first_ts.pid = p.event_id
      JOIN (SELECT p3.event_id AS pid, MAX(c3.ts) AS l
            FROM purchases p3 JOIN clicks c3
              ON c3.user_id = p3.user_id AND c3.ts < p3.ts
            GROUP BY p3.event_id) last_ts ON last_ts.pid = p.event_id
      GROUP BY p.event_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_attributed,
           CAST(SUM(CASE WHEN first_click = last_click THEN 1 ELSE 0 END)
                AS BIGINT) AS n_single_touch
    FROM attrib
    """,
)
def attribution_first_vs_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution: for every purchase with
    any prior click, do the two models pick the same click?  The Spark
    plan is ONE window pass — min/max click ts carried along the
    user-ordered event stream (the as-of rewrite, both directions at
    once) — versus the oracle's three-join spelling; identical answers,
    one shuffle instead of three fact joins."""
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
    ck_id = F.when(F.col("is_click") == 1, F.col("src_id"))
    ck_ts = F.when(F.col("is_click") == 1, F.col("ts"))
    marked = (
        u.withColumn("first_click_ts", F.min(ck_ts).over(w))
        .withColumn("last_click", F.last(ck_id, ignorenulls=True).over(w))
        .withColumn(
            "first_click",
            F.min(
                F.when(
                    F.col("is_click") == 1,
                    F.struct(F.col("ts"), F.col("src_id")),
                )
            ).over(w)["src_id"],
        )
        .filter((F.col("is_click") == 0) & F.col("last_click").isNotNull())
    )
    return marked.agg(
        F.count("*").cast("bigint").alias("n_attributed"),
        F.sum(
            F.when(F.col("first_click") == F.col("last_click"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_single_touch"),
    )


@query(
    "cohort_retention_rate",
    oracle="""
    WITH firstw AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS w FROM events),
    tri AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT) AS week_offset,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
      FROM activity a JOIN firstw f ON f.user_id = a.user_id
      GROUP BY 1, 2),
    base AS (SELECT cohort_week, n_users AS n0 FROM tri WHERE week_offset = 0)
    SELECT t.cohort_week, t.week_offset, t.n_users,
           CAST(CAST((2 * CAST(t.n_users AS HUGEINT) * 1000000 + b.n0)
                     // (2 * CAST(b.n0 AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS retention
    FROM tri t JOIN base b ON b.cohort_week = t.cohort_week
    """,
)
def cohort_retention_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized retention curve: each cohort's active-user count per
    week offset divided by its week-0 size — the percentage triangle a
    growth dashboard plots.  Builds on ``cohort_retention_weekly``'s
    shape with a self-join against the week-0 rows (broadcast — one row
    per cohort); the ratio divides exact integers and rounds once."""
    e = load_table(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select("user_id", F.date_trunc("week", "ts").alias("w")).distinct()
    tri = (
        activity.join(firstw, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(w, cohort_week) div 7").cast("bigint").alias(
                "week_offset"
            ),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )
    base = tri.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("n0")
    )
    return tri.join(F.broadcast(base), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        hu_ratio("n_users", "n0", 6).alias("retention"),
    )


@query(
    "assoc_session_lift",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged),
    st AS (SELECT DISTINCT user_id, session_id, event_type FROM sess),
    n AS (SELECT COUNT(DISTINCT (user_id, session_id)) AS n_sessions FROM st),
    single AS (SELECT event_type, COUNT(*) AS c FROM st GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS cab
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type)
    SELECT p.ta, p.tb, CAST(p.cab AS BIGINT) AS n_both,
           {hu_ratio_sql("CAST(p.cab AS HUGEINT) * n.n_sessions",
                         "CAST(sa.c AS HUGEINT) * sb.c", 6)} AS lift
    FROM pairs p
    JOIN single sa ON sa.event_type = p.ta
    JOIN single sb ON sb.event_type = p.tb
    CROSS JOIN n
    """,
)
def assoc_session_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over sessions: for every event-type
    pair, lift = P(a,b) / (P(a)P(b)) with sessions as baskets — the
    signal behind 'users who view also purchase'.  Baskets come from
    the shared 30-minute sessionization; the pair join runs on the
    DISTINCT (session, type) table (at most |types| rows per session,
    so the self-join is bounded by 5 x 5 per basket regardless of event
    volume).  Lift renders the exact integer ratio cab*N/(ca*cb) via the
    half-up recipe (never round(double, 6) of an integer ratio)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(lag_ts) > 1800000000)
            | lag_ts.isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    st = sess.select("user_id", "session_id", "event_type").distinct()
    n_sessions = st.select("user_id", "session_id").distinct().count()
    single = st.groupBy("event_type").agg(F.count("*").alias("c"))
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_id") == F.col("b.session_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
        .agg(F.count("*").alias("cab"))
    )
    sa = single.select(F.col("event_type").alias("ta"), F.col("c").alias("ca"))
    sb = single.select(F.col("event_type").alias("tb"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .select(
            "ta",
            "tb",
            F.col("cab").cast("bigint").alias("n_both"),
            hu_ratio(
                f"cast(cab as decimal(38,0)) * {n_sessions}",
                "cast(ca as decimal(38,0)) * cb",
                6,
            ).alias("lift"),
        )
    )


@query(
    "privacy_l_diversity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS k,
             COUNT(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS l
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, CAST(k AS BIGINT) AS k,
           CAST(l AS BIGINT) AS l, l >= 2 AS l_diverse
    FROM g
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit -- the k-anonymity follow-up: a class where
    every member shares the same sensitive value (here the coarse
    account-balance band) leaks that value even when k is large, so the
    release gate is distinct-sensitive-values >= l per equivalence
    class.  Implementation is COUNT + COUNT(DISTINCT band) in one hash
    aggregate over the quasi-identifier pair; like the k-audit it scales
    with QI-class cardinality, and the distinct runs per-class (Spark
    expands to a two-phase distinct aggregate -- map-side partials,
    never a global sort).  floor-then-cast banding matches the
    histogram convention (Spark truncates, DuckDB rounds on raw CAST).
    """
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.countDistinct(band).cast("bigint").alias("l"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            "l",
            (F.col("l") >= 2).alias("l_diverse"),
        )
    )


@query(
    "window_cumulative_users",
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(epoch_us(ts) // 86400000000) AS d
      FROM events GROUP BY 1),
    daily AS (SELECT d, COUNT(*) AS new_users FROM first_day GROUP BY 1)
    SELECT make_timestamp(d * 86400000000) AS day_start,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily
    """,
)
def window_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day -- the growth curve.  A naive
    spelling needs a running COUNT(DISTINCT) window (unbounded state per
    day); the scale shape used here: distinct-ness is resolved ONCE by
    the per-user MIN(first-activity-day) hash aggregate (map-side
    combinable over the raw 100 TB), daily new-user counts follow, and
    the cumulative sum is a window over ~days rows -- output-sized, so
    the single-partition ORDER BY d is a few hundred rows at any input
    scale.  All integers: bitwise-deterministic."""
    e = load_table(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts) div 86400000000")).alias("d")
    )
    daily = first_day.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.timestamp_micros(F.col("d") * 86400000000).alias("day_start"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@query(
    "window_rolling_dau_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
      FROM events),
    mx AS (SELECT max(d) AS max_d FROM ud),
    sp AS (SELECT DISTINCT d FROM ud)
    SELECT make_timestamp(s.d * 86400000000) AS day_start,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_users_7d
    FROM sp s JOIN ud u ON u.d BETWEEN s.d - 6 AND s.d
    GROUP BY s.d
    """,
)
def window_rolling_dau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (the WAU-by-day engagement
    metric).  A per-day COUNT(DISTINCT) over a sliding range is either a
    range self-join (oracle's naive spelling) or unbounded distinct
    window state; the scale shape: distinct (user, day) pairs -- one
    map-side-combinable aggregate over the input -- then each pair
    EXPLODES into the <= 7 target days it keeps the user active for,
    and a distinct + count per target day finishes the job.  Work is
    pairs x 7, shuffles key on (user, day) then day -- no range join,
    no global sort, AQE-splittable if one day is hot.  The oracle's
    range join proves the rewrite drops no user-day."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("d")
    ).distinct()
    mx = ud.agg(F.max("d").alias("max_d"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.col("d") + F.lit(6))
            ).alias("target_d"),
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("target_d") <= F.col("max_d"))
        .select("user_id", "target_d")
        .distinct()
    )
    # emit only days that exist in the activity spine (match the oracle's
    # DISTINCT d driver): a target day between two activity gaps still has
    # lookback users, but the oracle's spine skips it -- so join the spine.
    sp = ud.select("d").distinct().withColumnRenamed("d", "target_d")
    return (
        contrib.join(sp, "target_d")
        .groupBy("target_d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users_7d"))
        .select(
            F.timestamp_micros(F.col("target_d") * 86400000000).alias(
                "day_start"
            ),
            "active_users_7d",
        )
    )


@query(
    "stats_ks_drift_by_source",
    oracle="""
    WITH g AS (SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1),
    gc AS (SELECT v, SUM(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
           FROM g),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM documents),
    s AS (SELECT source, n_chars AS v, COUNT(*) AS c
          FROM documents GROUP BY 1, 2),
    ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM s GROUP BY 1),
    grid AS (SELECT ns.source, gc.v, gc.cum_g FROM ns CROSS JOIN gc),
    sc AS (
      SELECT grid.source, grid.v, grid.cum_g,
             CAST(COALESCE(SUM(s.c) OVER (PARTITION BY grid.source
               ORDER BY grid.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS BIGINT) AS cum_s
      FROM grid LEFT JOIN s ON s.source = grid.source AND s.v = grid.v),
    d AS (
      SELECT sc.source,
             max(abs(sc.cum_s * n.big_n - CAST(sc.cum_g AS BIGINT) * ns.n_s))
               AS max_diff,
             any_value(ns.n_s) AS n_docs, any_value(n.big_n) AS big_n
      FROM sc CROSS JOIN n JOIN ns ON ns.source = sc.source
      GROUP BY 1)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(max_diff AS DOUBLE) / (n_docs * big_n) AS ks_stat,
           max_diff * 5 > n_docs * big_n AS drifted
    FROM d
    """,
)
def stats_ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift audit: for every source, the
    KS statistic between its document-length distribution and the whole
    corpus -- the standard per-shard distribution-drift gate in an
    ingestion pipeline.

    D = max |F_source(v) - F_corpus(v)| evaluated at every corpus jump
    point.  Everything is integer until the final division: per-value
    counts, cumulative counts via windows over the (sources x distinct
    values) grid -- which is OUTPUT-sized (value cardinality x shards,
    never raw rows) -- and the max of cross-multiplied |cum_s*N -
    cum_g*n_s|.  The drift flag is the same cross-multiplied integer
    compare (D > 0.2), so no float threshold anywhere; the one double,
    ks_stat, is a single exact-integer division done identically on
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(F.count("*").alias("c"))
    wg = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    gc = g.select("v", F.sum("c").over(wg).alias("cum_g"))
    n = docs.agg(F.count("*").cast("bigint").alias("big_n"))
    s = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("c")
    )
    ns = s.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    grid = ns.select("source").crossJoin(gc)
    ws = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sc = grid.join(s, ["source", "v"], "left").select(
        "source",
        "v",
        "cum_g",
        F.coalesce(F.sum("c").over(ws), F.lit(0)).cast("bigint").alias("cum_s"),
    )
    d = (
        sc.crossJoin(F.broadcast(n))
        .join(F.broadcast(ns), "source")
        .groupBy("source")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_s") * F.col("big_n")
                    - F.col("cum_g").cast("bigint") * F.col("n_s")
                )
            ).alias("max_diff"),
            F.any_value("n_s").alias("n_docs"),
            F.any_value("big_n").alias("big_n"),
        )
    )
    return d.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (
            F.col("max_diff").cast("double")
            / (F.col("n_docs") * F.col("big_n"))
        ).alias("ks_stat"),
        (F.col("max_diff") * 5 > F.col("n_docs") * F.col("big_n")).alias(
            "drifted"
        ),
    )


@query(
    "stats_mannwhitney_en_lengths",
    oracle="""
    WITH vc AS (
      SELECT n_chars AS v, COUNT(*) AS c,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS c1
      FROM documents GROUP BY 1),
    r AS (
      SELECT v, c, c1,
             CAST(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
               AS BIGINT) AS cum_before
      FROM vc),
    m AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c) - SUM(c1) AS BIGINT) AS n2,
             CAST(SUM(c1 * (2 * cum_before + c + 1)) AS BIGINT) AS r2x
      FROM r)
    SELECT n1 AS n_en, n2 AS n_other,
           r2x - n1 * (n1 + 1) AS u_x2,
           CAST(r2x - n1 * (n1 + 1) AS DOUBLE) / (2 * n1 * n2) AS auc,
           r2x - n1 * (n1 + 1) > n1 * n2 AS en_longer
    FROM m
    """,
)
def stats_mannwhitney_en_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: are English documents stochastically
    longer than the rest of the corpus?  The nonparametric two-sample
    location test a corpus audit reaches for when KS (shape) flags a
    difference and the question becomes direction.

    Tie-safe integer formulation: per distinct length v, the DOUBLED
    midrank 2*cum_before + c + 1 is always an integer (the .5 average
    ranks cancel), so the rank sum, U, and the dominance flag are exact
    BIGINTs; auc = U/(n1*n2) -- the probability a random en doc is
    longer than a random other doc -- is one exact division done
    identically on both engines.  Work: one value-histogram aggregate
    over the input (map-side combinable), then windows over ~distinct
    lengths rows (output-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    vc = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").alias("c"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r = vc.select(
        "v",
        "c",
        "c1",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("cum_before"),
    )
    m = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        (F.sum("c") - F.sum("c1")).cast("bigint").alias("n2"),
        F.sum(
            F.col("c1") * (2 * F.col("cum_before") + F.col("c") + 1)
        )
        .cast("bigint")
        .alias("r2x"),
    )
    u_x2 = F.col("r2x") - F.col("n1") * (F.col("n1") + 1)
    return m.select(
        F.col("n1").alias("n_en"),
        F.col("n2").alias("n_other"),
        u_x2.alias("u_x2"),
        (u_x2.cast("double") / (2 * F.col("n1") * F.col("n2"))).alias("auc"),
        (u_x2 > F.col("n1") * F.col("n2")).alias("en_longer"),
    )


@query(
    "window_rolling_hll_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
      FROM events),
    sp AS (SELECT DISTINCT d FROM ud)
    SELECT make_timestamp(s.d * 86400000000) AS day_start,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_users_7d,
           TRUE AS within_bound
    FROM sp s JOIN ud u ON u.d BETWEEN s.d - 6 AND s.d
    GROUP BY s.d
    """,
)
def window_rolling_hll_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users via MERGEABLE HLL sketches -- the
    production shape when the exact explode+distinct of
    ``window_rolling_dau_7d`` is too big (billions of users): build ONE
    HLL sketch per day (map-side combinable), then each target day
    unions just 7 daily sketches -- the raw user ids are touched exactly
    once, and re-aggregating a different window length reuses the same
    stored daily sketches.

    Driver-checkable like the sketch family: the query also computes the
    exact count (affordable at test scale) and emits it alongside an
    in-query |estimate - exact| <= 15% bound flag; the raw estimate
    itself never leaves the query (engine-specific bits), so the oracle
    asserts the exact side and that the sketch stayed within bound."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("d")
    ).distinct()
    daily_sk = ud.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    mx = ud.agg(F.max("d").alias("max_d"))
    sk7 = (
        daily_sk.select(
            "sk",
            F.explode(F.sequence(F.col("d"), F.col("d") + F.lit(6))).alias(
                "target_d"
            ),
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("target_d") <= F.col("max_d"))
        .groupBy("target_d")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.col("d") + F.lit(6))).alias(
                "target_d"
            ),
        )
        .select("user_id", "target_d")
        .distinct()
        .groupBy("target_d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_users_7d"))
    )
    sp = ud.select("d").distinct().withColumnRenamed("d", "target_d")
    return (
        exact.join(sp, "target_d")
        .join(sk7, "target_d")
        .select(
            F.timestamp_micros(F.col("target_d") * 86400000000).alias(
                "day_start"
            ),
            "exact_users_7d",
            (
                F.abs(F.col("est") - F.col("exact_users_7d")) * 100
                <= F.col("exact_users_7d") * 15
            ).alias("within_bound"),
        )
    )


# --- differentially-private release mechanism (deterministic replay) ---
# u in (0,1) from the first 8 md5 hex chars of the salted key; the +0.5
# offset keeps u strictly inside the interval so both ln() arguments stay
# positive.  All constituent doubles (u, |t|, 1-2|t|) are exact binary
# arithmetic on a < 2^32 integer, so both engines see bit-identical ln()
# inputs; the ln output itself is quantized (round 4) before the final
# integer rounding -- the standard cross-engine ulp guard.
_DP_EPS_INV = 2.0  # 1/epsilon (epsilon = 0.5)
_DP_SALT = "dp-v1-"


def _dp_noise_sql(dialect: str, salt: str = _DP_SALT) -> str:
    h = (
        "cast(conv(substring(md5(concat('" + salt + "', event_type)), 1, 8), 16, 10) as bigint)"
        if dialect == "spark"
        else (
            "CAST(list_sum(list_transform(range(0, 8), c -> (strpos('0123456789abcdef',"
            f" substring(md5(concat('{salt}', event_type)), 1 + c, 1)) - 1)"
            " * CAST(pow(16, 7 - c) AS BIGINT))) AS BIGINT)"
        )
    )
    u = f"(({h}) + 0.5) / 4294967296.0"
    t = f"(({u}) - 0.5)"
    return (
        f"cast(round(-{_DP_EPS_INV} * sign({t})"
        f" * round(ln(1.0 - 2.0 * abs({t})), 4), 0) as bigint)"
    )


@query(
    "privacy_dp_noisy_histogram",
    oracle=f"""
    WITH g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
               FROM events GROUP BY event_type)
    SELECT event_type, n_true,
           {_dp_noise_sql('duckdb')} AS noise,
           greatest(CAST(0 AS BIGINT), n_true + {_dp_noise_sql('duckdb')})
             AS n_noisy
    FROM g
    """,
)
def privacy_dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism histogram release (epsilon = 0.5): per-type
    event counts plus integer Laplace noise drawn by inverse-CDF
    (noise = -(1/eps) * sign(u-.5) * ln(1-2|u-.5|), rounded), clamped at
    zero.  The count aggregate is the only data-sized stage; the noise
    is a per-key scalar expression, so the mechanism costs nothing at
    100 TB beyond the histogram itself.

    Determinism note: u here is md5-derived from the key (so the oracle
    can replay the release bit-for-bit and this test proves the
    mechanism arithmetic); a production release draws u from a real
    entropy source per release -- a seeded release is NOT private, it is
    the unit-testable skeleton of one.  n_true is emitted for the oracle
    comparison and would be dropped from a real release.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_true"))
    noise = F.expr(_dp_noise_sql("spark"))
    return g.select(
        "event_type",
        "n_true",
        noise.alias("noise"),
        F.greatest(F.lit(0).cast("bigint"), F.col("n_true") + noise).alias(
            "n_noisy"
        ),
    )


@query(
    "dq_observe_metrics",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_discount,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    """,
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline data-quality metrics via ``DataFrame.observe``: the
    metrics ride along with a real pass over the data (here a noop-sink
    write standing in for the production ETL write), so the quality
    report costs ZERO extra scans -- the pattern that replaces the
    separate "profiling job" at 100 TB, where a second scan of the
    table is the most expensive query in the pipeline.

    The observed aggregates use the same decimal-exact sum discipline
    as every other double aggregate (``functions/numeric.py``), so the
    metric values are bitwise comparable to the oracle's full-scan
    aggregation -- proving observe() metrics equal a dedicated audit
    query.  The returned DataFrame is the one-row metrics record
    (n_rows, rule violations, exact revenue, freshness watermark) a
    quality gate would assert on before publishing the output.
    """
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.6), 1)
            .otherwise(0)
        ).alias("n_bad_discount"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("revenue"),
        F.max("l_shipdate").alias("max_shipdate"),
    )
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.range(1).select(
        F.lit(row["n_rows"]).cast("bigint").alias("n_rows"),
        F.lit(row["n_bad_discount"]).cast("bigint").alias("n_bad_discount"),
        F.lit(row["revenue"]).cast("double").alias("revenue"),
        F.lit(row["max_shipdate"]).alias("max_shipdate"),
    )


@query(
    "stats_gini_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS r
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM rev),
    m AS (SELECT MAX(n) AS n,
                 SUM(r) AS tot,
                 SUM(i * r) AS wsum
          FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(tot AS DOUBLE) AS total_revenue,
           {hu_ratio_signed_sql(
               "2 * CAST(wsum * 1000000 AS HUGEINT)"
               " - (n + 1) * CAST(tot * 1000000 AS HUGEINT)",
               "CAST(n AS HUGEINT) * CAST(tot * 1000000 AS HUGEINT)", 6)}
             AS gini
    FROM m
    """,
)
def stats_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue -- the concentration
    audit that doubles as a data-skew early warning: the same number
    that says "20% of customers carry 80% of revenue" says "these join
    keys will hot-spot", and at 100 TB the second reading is the one
    that pages someone.

    Exact-arithmetic spelling of G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
    over ascending-ranked x: per-customer revenue is an exact decimal
    sum, the rank orders by (decimal revenue, custkey) so ties are
    impossible, and i*x_i accumulates in decimal -- the readout
    renders the exact rational (2*W_i - (n+1)*T_i)/(n*T_i) over the
    10^6-scaled integer sums via the signed half-up recipe -- no
    round(double, N) of a decimal ratio anywhere.
    The rank is the range-partitioned partition-offset global rank
    (functions/ranking.py) — no single-task window at any customer
    count; the only global frame left is the P-row offsets table.
    """
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("r")
    )
    ranked = with_global_rank(rev, ["r", "o_custkey"]).select(
        "r", F.col("_rk").alias("i"), F.col("_n").alias("n")
    )
    m = ranked.agg(
        F.max("n").alias("n"),
        F.sum("r").alias("tot"),
        F.sum(F.col("i") * F.col("r")).alias("wsum"),
    )
    n_d = F.col("n").cast("double")
    # gini = 2W/(nT) - (n+1)/n is the exact rational
    # (2*W_i - (n+1)*T_i) / (n*T_i) over the 10^6-scaled integer sums:
    # signed half-up recipe, never round(double, 6) of a decimal ratio
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("tot").cast("double").alias("total_revenue"),
        hu_ratio_signed(
            "2 * cast(wsum * 1000000 as decimal(38,0))"
            " - (n + 1) * cast(tot * 1000000 as decimal(38,0))",
            "cast(n as decimal(38,0)) * cast(tot * 1000000 as decimal(38,0))",
            6,
        ).alias("gini"),
    )


@query(
    "join_point_in_time_scd2",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    versioned AS (
      SELECT user_id, event_type AS state,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS version,
             ts AS valid_from
      FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type),
    p AS (SELECT user_id, event_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    matched AS (
      SELECT p.event_id, p.value, v.state,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY v.version DESC) AS rk
      FROM p JOIN versioned v
        ON v.user_id = p.user_id AND v.valid_from <= p.ts)
    SELECT state,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {dsum_sql('value')} AS total_value
    FROM matched WHERE rk = 1
    GROUP BY state
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (the feature-store correctness primitive):
    each purchase joins the SCD2 state version that was valid AT its
    event time -- never a later one, which would be training-serving
    leakage.  The dimension is the scd2_user_state_history construction
    inlined; the match picks the highest version with valid_from <= ts
    per purchase.

    Plan shape: the version join is a user_id HASH equi-join with the
    valid_from <= ts residual riding on it (never a nested loop), and
    the per-purchase winner is one more user-keyed window -- fan-out is
    bounded by versions-per-user.  At larger version counts the as-of
    union-window rewrite (join_asof_events) swaps in; the two spellings
    are proven equivalent by this oracle.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versioned = (
        e.select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.row_number().over(w).alias("version"),
            F.col("ts").alias("valid_from"),
        )
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"), "value"
    )
    matched = (
        p.join(versioned, "user_id")
        .filter(F.col("valid_from") <= F.col("p_ts"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("p_id").orderBy(F.col("version").desc())
            ),
        )
        .filter(F.col("rk") == 1)
    )
    return matched.groupBy("state").agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        dsum("value").alias("total_value"),
    )


@query(
    "window_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS r
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT o_custkey, r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(r) OVER () AS tot
      FROM rev),
    classed AS (
      SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                  WHEN cum * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r
      FROM ranked)
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r) AS DOUBLE) AS class_revenue
    FROM classed GROUP BY abc_class
    """,
)
def window_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of customers by revenue: rank by
    exact decimal revenue descending, take the running share of total,
    and classify A (first 80% of revenue), B (to 95%), C (tail) -- the
    inventory-management classic, and operationally the same cumulative
    -share machinery behind "which keys hold 80% of the data" skew
    triage.

    Determinism discipline: the running sum and total are exact
    decimals over a tie-free ordering (decimal revenue, custkey), and
    the class boundaries are cross-multiplied decimal compares
    (cum*100 <= tot*80) -- no float enters a comparison, so the class
    assignment is bitwise identical on both engines.  The running sum
    is the range-partitioned partition-offset prefix sum
    (functions/ranking.py): each partition cumsums locally and adds
    the broadcast decimal total of all earlier ranges — exact, and no
    single-task window at any customer count.
    """
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("r")
    )
    ranked = with_global_rank(
        rev, [F.col("r").desc(), F.col("o_custkey")], sum_col="r"
    ).select("r", F.col("_cum").alias("cum"), F.col("_tot").alias("tot"))
    classed = ranked.select(
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("r").cast("double").alias("class_revenue"),
    )


@query(
    "stats_theil_within_nation",
    oracle=f"""
    WITH rev AS (
      SELECT o.o_custkey, c.c_nationkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS r
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey, c.c_nationkey),
    g AS (SELECT c_nationkey, SUM(r) AS gr, COUNT(*) AS n
          FROM rev GROUP BY c_nationkey),
    mu AS (SELECT c_nationkey, gr, n,
                  CAST({hu_ratio_sql("gr * 1000000",
                                     "CAST(n AS HUGEINT) * 1000000", 6)}
                       AS DECIMAL(18,6)) AS m
           FROM g),
    contrib AS (
      SELECT rev.c_nationkey,
             CAST({hu_ratio_signed_sql(
                 "CAST(rev.r * 1000000 AS HUGEINT)"
                 " * CAST(CAST(round(ln(CAST(rev.r AS DOUBLE)"
                 " / CAST(mu.m AS DOUBLE)), 4) AS DECIMAL(18,4))"
                 " * 10000 AS BIGINT)",
                 "CAST(CAST(mu.m AS DECIMAL(38,6)) * 1000000 AS HUGEINT)"
                 " * 10000", 4)}
                  AS DECIMAL(18,4)) AS x
      FROM rev JOIN mu ON mu.c_nationkey = rev.c_nationkey)
    SELECT c.c_nationkey,
           CAST(mu.n AS BIGINT) AS n_customers,
           {hu_ratio_signed_sql("SUM(c.x) * 10000",
                                "CAST(mu.n AS HUGEINT) * 10000", 6)}
             AS theil_within
    FROM contrib c JOIN mu ON mu.c_nationkey = c.c_nationkey
    GROUP BY c.c_nationkey, mu.n
    """,
)
def stats_theil_within_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of customer revenue WITHIN each nation --
    the decomposable inequality index: unlike Gini, per-group Theil
    terms roll up exactly into a corpus-wide number (within + between),
    so each nation's index is computable independently and merged
    later, the property that matters when groups live on different
    machines.  Read with stats_gini_revenue: same concentration story,
    but this one shards.

    Each term (x/mu)ln(x/mu) quantizes its log factor to 4 places; the
    term itself and the final mean then render via the integer half-up
    recipe -- the term is the exact rational (r_i * L) / (m_i * 10^4)
    over 10^6-scaled revenue/mean and the 10^4-scaled log, and the mean
    of the 10^4-scaled term sum divides by n * 10^4 -- so no
    round(double, N) of a decimal ratio survives anywhere (the
    cross-engine half-boundary class).  The group mean itself is the
    unsigned recipe over the 10^6-scaled revenue sum.  Shape: one
    custkey aggregate, one nation aggregate, one broadcast-able mean
    join back.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("r"))
    )
    g = rev.groupBy("c_nationkey").agg(
        F.sum("r").alias("gr"), F.count("*").alias("n")
    )
    mu = g.withColumn(
        "m",
        hu_ratio("gr * 1000000", "cast(n as decimal(38,0)) * 1000000", 6)
        .cast("decimal(18,6)"),
    )
    lnq4 = (
        "cast(cast(round(ln(cast(r as double) / cast(m as double)), 4)"
        " as decimal(18,4)) * 10000 as bigint)"
    )
    contrib = rev.join(F.broadcast(mu), "c_nationkey").select(
        "c_nationkey",
        hu_ratio_signed(
            f"cast(r * 1000000 as decimal(38,0)) * {lnq4}",
            "cast(m * 1000000 as decimal(38,0)) * 10000",
            4,
        )
        .cast("decimal(18,4)")
        .alias("x"),
    )
    return (
        contrib.groupBy("c_nationkey")
        .agg(F.sum("x").alias("sx"))
        .join(F.broadcast(mu.select("c_nationkey", "n")), "c_nationkey")
        .select(
            "c_nationkey",
            F.col("n").cast("bigint").alias("n_customers"),
            hu_ratio_signed(
                "sx * 10000", "cast(n as decimal(38,0)) * 10000", 6
            ).alias("theil_within"),
        )
    )


_RTBF_MOD = 97  # deterministic erasure cohort: subject keys ≡ 0 (mod 97)


@query(
    "privacy_rtbf_cascade",
    oracle=f"""
    WITH subj AS (SELECT c_custkey AS k FROM customer
                  WHERE c_custkey % {_RTBF_MOD} = 0),
    o AS (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_custkey IN (SELECT k FROM subj)),
    l AS (SELECT l.l_orderkey, o.o_custkey FROM lineitem l
          JOIN o ON l.l_orderkey = o.o_orderkey),
    e AS (SELECT user_id FROM events
          WHERE user_id IN (SELECT k FROM subj))
    SELECT tbl, n_rows, n_subjects FROM (
      SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_subjects FROM subj
      UNION ALL
      SELECT 'orders', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM o
      UNION ALL
      SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM l
      UNION ALL
      SELECT 'events', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e
    ) t
    """,
)
def privacy_rtbf_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten deletion-cascade audit: given a
    deterministic erasure cohort (subject keys ≡ 0 mod 97 -- in
    production, the batch of GDPR/CCPA deletion requests), count every
    row the erasure must touch across the schema: the subjects
    themselves, their orders, the line items under those orders
    (two-hop cascade through the foreign-key chain), and their event
    history.  This is the audit report a compliance pipeline emits
    BEFORE running the actual ``merge_upsert_snapshot``-style deletes.

    Scale shape: the cohort is request-batch-sized at any corpus scale,
    so it broadcasts; orders and events prune by a broadcast semi-join
    on the subject key; only the lineitem hop shuffles, keyed on
    orderkey against the already-filtered (~cohort-sized) order list --
    also broadcastable.  No full-table joins, no row bodies in any
    exchange; each branch is a count-aggregate over a pruned scan."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    subj = cust.filter(F.col("c_custkey") % _RTBF_MOD == 0).select(
        F.col("c_custkey").alias("k")
    )
    o = orders.join(
        F.broadcast(subj), orders["o_custkey"] == subj["k"]
    ).select("o_orderkey", "o_custkey")
    li = lineitem.join(
        F.broadcast(o.select("o_orderkey", "o_custkey")),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
    ).select("l_orderkey", "o_custkey")
    ev = events.join(F.broadcast(subj), events["user_id"] == subj["k"]).select(
        "user_id"
    )

    c_subj = subj.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_subjects"),
    ).select(F.lit("customer").alias("tbl"), "n_rows", "n_subjects")
    c_o = o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_subjects"),
    ).select(F.lit("orders").alias("tbl"), "n_rows", "n_subjects")
    c_l = li.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_subjects"),
    ).select(F.lit("lineitem").alias("tbl"), "n_rows", "n_subjects")
    c_e = ev.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_subjects"),
    ).select(F.lit("events").alias("tbl"), "n_rows", "n_subjects")
    return c_subj.unionByName(c_o).unionByName(c_l).unionByName(c_e)


# Welch df recipe pieces (round-9; property-pinned by
# tests/test_properties.py::test_welch_df_recipe_matches_fraction).
# A_i = half-up((n*ss - s^2) * 10^7 / (n^2 * (n-1))), the 10^7-quantized
# a_i = v_i/n_i moment, exact in decimal(38,0)/HUGEINT.
_WELCH_AQ = (
    "cast((2 * (cast({n} as decimal(38,0)) * {ss}"
    " - cast({s} as decimal(38,0)) * {s}) * 10000000"
    " + cast({n} as decimal(38,0)) * {n} * ({n} - 1))"
    " div (2 * (cast({n} as decimal(38,0)) * {n} * ({n} - 1)))"
    " as decimal(38,0))"
)
_WELCH_DF_NUM = "(a1q + a2q) * (a1q + a2q) * (n1 - 1) * (n2 - 1)"
# NULLIF: both groups constant => A1 = A2 = 0 => df undefined; render
# NULL instead of an ANSI divide-by-zero (both dialects agree).
_WELCH_DF_DEN = "nullif(a1q * a1q * (n2 - 1) + a2q * a2q * (n1 - 1), 0)"


@query(
    "stats_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN grp = 'en' THEN n END) AS n1,
             MAX(CASE WHEN grp = 'en' THEN s END) AS s1,
             MAX(CASE WHEN grp = 'en' THEN ss END) AS ss1,
             MAX(CASE WHEN grp = 'other' THEN n END) AS n2,
             MAX(CASE WHEN grp = 'other' THEN s END) AS s2,
             MAX(CASE WHEN grp = 'other' THEN ss END) AS ss2
      FROM g),
    d AS (
      SELECT n1, n2, s1, s2,
             CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
             (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)
               AS v1,
             (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)
               AS v2
      FROM w),
    q AS (
      SELECT n1, n2,
             (2 * (CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1)
                * 10000000
              + CAST(n1 AS HUGEINT) * n1 * (n1 - 1))
             // (2 * (CAST(n1 AS HUGEINT) * n1 * (n1 - 1))) AS a1q,
             (2 * (CAST(n2 AS HUGEINT) * ss2 - CAST(s2 AS HUGEINT) * s2)
                * 10000000
              + CAST(n2 AS HUGEINT) * n2 * (n2 - 1))
             // (2 * (CAST(n2 AS HUGEINT) * n2 * (n2 - 1))) AS a2q
      FROM w)
    SELECT d.n1 AS n_en, d.n2 AS n_other,
           {hu_ratio_signed_sql(
               "CAST(d.s1 AS HUGEINT) * d.n2 - CAST(d.s2 AS HUGEINT) * d.n1",
               "CAST(d.n1 AS HUGEINT) * d.n2", 4)} AS mean_diff,
           round((m1 - m2) / sqrt(v1 / d.n1 + v2 / d.n2), 4) AS t_stat,
           {hu_ratio_sql(
               "(q.a1q + q.a2q) * (q.a1q + q.a2q) * (q.n1 - 1) * (q.n2 - 1)",
               "NULLIF(q.a1q * q.a1q * (q.n2 - 1)"
               " + q.a2q * q.a2q * (q.n1 - 1), 0)",
               4)} AS df_welch
    FROM d, q
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on document length, en vs the
    rest — the parametric twin of ``stats_mannwhitney_en_lengths`` (an
    A/B readout wants both: U is rank-robust, t gives the magnitude and
    the Welch-Satterthwaite df for the CI).

    Everything upstream of the final divisions is EXACT int64 (n, sum,
    sum-of-squares per group — one map-side-combinable aggregate over
    the scan).  mean_diff and df_welch render through the integer
    half-up recipes (df via 10^7-quantized a_i = v_i/n_i moments — see
    the inline derivation); t_stat is the one round(double, 4) left and
    it divides by a sqrt, whose output is never a decimal half.
    One exchange of two rows at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            F.when(F.col("lang") == "en", "en").otherwise("other").alias("grp"),
            F.col("n_chars").cast("bigint").alias("v"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s"),
            F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "en", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "en", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("grp") == "en", F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("grp") == "other", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "other", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("grp") == "other", F.col("ss"))).alias("ss2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("ss2").cast("double")
        - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
    ) / (F.col("n2") - 1)
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    # df_welch recipe (round-9, retires the registry's last
    # round(double, 4) of a non-transcendental rational): df depends on
    # the moments ONLY through a_i = v_i/n_i = N_i/M_i where
    # N_i = n_i*ss_i - s_i^2 >= 0 (Cauchy-Schwarz) and
    # M_i = n_i^2*(n_i-1) are exact integers.  Quantize each a_i
    # half-up at 10^7 (A_i, the PSI/KL per-term pattern); then
    #   df = (A1+A2)^2 (n1-1)(n2-1)
    #        / (A1^2 (n2-1) + A2^2 (n1-1))
    # is EXACT in the quantized moments (the 10^14 scales cancel) and
    # renders via the plain hu recipe.  Headroom (documented domain
    # bound, the variance-family convention): the final render needs
    # (a1+a2)*sqrt(n1*n2) <= 9.2e9.  Balanced groups: a_i = v_i/n_i, so
    # the n's cancel and the bound is v1+v2 <= 9.2e9 at ANY corpus
    # size — n_chars variance is <= ~2.5e7 even for 10k-char docs,
    # ~300x margin.  Group-size skew spends that margin as
    # v*sqrt(n_big/n_small): safe to a ~1e5x imbalance at max variance.
    # The quantize step itself needs n_i^2*var <= 8.5e30 (~1e11 rows at
    # var ~ 1e8).  At 10^7 quantization the rendered value is unchanged
    # vs the old double path at all three test SFs (verified), and the
    # df(t-CI) consumer is insensitive to the ~1e-7-relative
    # quantization by construction.
    wq = w.select(
        "*",
        F.expr(_WELCH_AQ.format(n="n1", s="s1", ss="ss1")).alias("a1q"),
        F.expr(_WELCH_AQ.format(n="n2", s="s2", ss="ss2")).alias("a2q"),
    )
    return wq.select(
        F.col("n1").alias("n_en"),
        F.col("n2").alias("n_other"),
        # mean_diff = s1/n1 - s2/n2 is the exact integer rational
        # (s1*n2 - s2*n1)/(n1*n2): signed half-up recipe.  t_stat keeps
        # round(identical-double, 4) — it divides by a sqrt, and sqrt
        # outputs are never decimal halves (CLAUDE.md rule).
        hu_ratio_signed(
            "cast(s1 as decimal(38,0)) * n2 - cast(s2 as decimal(38,0)) * n1",
            "cast(n1 as decimal(38,0)) * n2",
            4,
        ).alias("mean_diff"),
        F.round((m1 - m2) / F.sqrt(se2), 4).alias("t_stat"),
        hu_ratio(_WELCH_DF_NUM, _WELCH_DF_DEN, 4).alias("df_welch"),
    )


# t-closeness: quasi-identifier classes (nation, segment), sensitive
# attribute = account-balance band (2000-wide, shifted nonnegative so
# integer div == floor div in both engines).  Threshold t = 0.2 (ppm).
_TCLOSE_PPM = 200000
_SENS_SQL = "(CAST(floor(c_acctbal) AS BIGINT) + 1000)"


@query(
    "privacy_t_closeness",
    oracle=f"""
    WITH cell AS (
      SELECT c_nationkey, c_mktsegment, {_SENS_SQL} // 2000 AS sens,
             COUNT(*) AS n_cs
      FROM customer GROUP BY 1, 2, 3),
    cls AS (SELECT c_nationkey, c_mktsegment, SUM(n_cs) AS n_c
            FROM cell GROUP BY 1, 2),
    sg AS (SELECT sens, SUM(n_cs) AS n_s FROM cell GROUP BY 1),
    tot AS (SELECT SUM(n_s) AS n FROM sg),
    d AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_c, tot.n,
             abs(CAST(COALESCE(cell.n_cs, 0) AS DECIMAL(14,0)) * tot.n
                 - CAST(sg.n_s AS DECIMAL(14,0)) * cls.n_c) AS num
      FROM cls CROSS JOIN sg CROSS JOIN tot
      LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
        AND cell.c_mktsegment = cls.c_mktsegment AND cell.sens = sg.sens),
    s AS (
      SELECT c_nationkey, c_mktsegment, n_c,
             1000000 * SUM(num) AS x,
             2 * CAST(n_c AS DECIMAL(14,0)) * n AS y
      FROM d GROUP BY c_nationkey, c_mktsegment, n_c, n)
    SELECT c_nationkey, c_mktsegment, CAST(n_c AS BIGINT) AS n,
           CAST(CAST(x AS HUGEINT) // CAST(y AS HUGEINT) AS BIGINT)
             AS tvd_ppm,
           CAST(CAST(x AS HUGEINT) // CAST(y AS HUGEINT) AS BIGINT)
             <= {_TCLOSE_PPM} AS t_close
    FROM s
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (the step past k-anonymity/l-diversity): for
    each quasi-identifier class (nation, market segment), the total-
    variation distance between the class's sensitive-attribute
    distribution (account-balance band) and the global distribution —
    classes where TVD > t leak the sensitive attribute even when they
    are k-anonymous and l-diverse.

    Determinism: probabilities never materialize — TVD is assembled
    from cross-multiplied integer counts (|n_cs*N − N_s*n_c| summed per
    class, then one integer ppm division), with DECIMAL(14,0) products
    so the arithmetic is exact at any corpus scale (counts to 1e14;
    intermediate sums bounded well inside DECIMAL(38,0)).  The final
    ppm floor-division is Spark ``div`` (truncating, == floor for the
    nonnegative operands); on the DuckDB side decimal ``//`` ROUNDS the
    quotient (and decimal ``/`` routes through DOUBLE, losing exactness
    past 2^53), so the oracle casts to HUGEINT, whose ``//`` is exact
    int128 floor division (property-pinned in tests/test_properties.py).
    The
    sensitive band is shifted nonnegative before the 2000-wide integer
    division so Spark's truncating ``div`` equals DuckDB's floor ``//``.

    Scale shape: ONE corpus-scale map-side-combinable aggregate to
    (class, band) cells; class totals, band marginals, and the grand
    total are all rollups of those bounded cells (classes × bands ≈
    750 rows), so the grid join and the final readout never touch
    table-scale data again."""
    c = load_table(spark, sf_dir, "customer")
    cell = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(f"{_SENS_SQL} div 2000").alias("sens"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "sens")
        .agg(F.count("*").alias("n_cs"))
    )
    cell = pin(cell, eager=False)
    cls = cell.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_cs").alias("n_c")
    )
    sg = cell.groupBy("sens").agg(F.sum("n_cs").alias("n_s"))
    tot = sg.agg(F.sum("n_s").alias("n"))
    dec = lambda col: F.col(col).cast("decimal(14,0)")  # noqa: E731
    grid = (
        cls.crossJoin(F.broadcast(sg))
        .crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(cell),
            ["c_nationkey", "c_mktsegment", "sens"],
            "left",
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_c",
            "n",
            F.abs(
                F.coalesce(dec("n_cs"), F.lit(0).cast("decimal(14,0)"))
                * F.col("n")
                - dec("n_s") * F.col("n_c")
            ).alias("num"),
        )
    )
    g = grid.groupBy("c_nationkey", "c_mktsegment", "n_c", "n").agg(
        F.sum("num").alias("s_num")
    )
    tvd = F.expr(
        "cast((1000000 * s_num) div (2 * cast(n_c as decimal(14,0)) * n)"
        " as bigint)"
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n_c").cast("bigint").alias("n"),
        tvd.alias("tvd_ppm"),
        (tvd <= _TCLOSE_PPM).alias("t_close"),
    )


_PSI_LN_DUCK = (
    "CAST(CAST(round(ln((CAST(COALESCE(cell.c, 0) + 1 AS DOUBLE)"
    " * (g.n_g + g.nb)) / (CAST(g.cg + 1 AS DOUBLE)"
    " * (g.n_s + g.nb))), 4) AS DECIMAL(18,4)) * 10000 AS BIGINT)"
)


@query(
    "stats_psi_drift_by_source",
    oracle=f"""
    WITH b AS (SELECT source,
                      CAST(length(bin(greatest(n_chars, 1))) - 1 AS BIGINT)
                        AS bucket
               FROM documents),
    cell AS (SELECT source, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
    gb AS (SELECT bucket, SUM(c) AS cg FROM cell GROUP BY 1),
    ns AS (SELECT source, SUM(c) AS n_s FROM cell GROUP BY 1),
    ng AS (SELECT SUM(cg) AS n_g, COUNT(*) AS nb FROM gb),
    grid AS (SELECT ns.source, ns.n_s, gb.bucket, gb.cg, ng.n_g, ng.nb
             FROM ns CROSS JOIN gb CROSS JOIN ng),
    t AS (
      SELECT g.source, g.n_s,
             CAST({hu_ratio_signed_sql(
                 "(CAST(COALESCE(cell.c, 0) + 1 AS HUGEINT) * (g.n_g + g.nb)"
                 " - CAST(g.cg + 1 AS HUGEINT) * (g.n_s + g.nb))"
                 " * " + _PSI_LN_DUCK,
                 "CAST(g.n_s + g.nb AS HUGEINT) * (g.n_g + g.nb) * 10000",
                 6)} AS DECIMAL(18,6)) AS contrib
      FROM grid g LEFT JOIN cell
        ON cell.source = g.source AND cell.bucket = g.bucket)
    SELECT source, CAST(n_s AS BIGINT) AS n_docs,
           CAST(SUM(contrib) AS DOUBLE) AS psi,
           SUM(contrib) * 4 >= 1 AS drifted
    FROM t GROUP BY source, n_s
    """,
)
def stats_psi_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source vs the whole corpus over
    power-of-two document-length bins — the production drift metric
    next to the KS gate (`stats_ks_drift_by_source`): KS reacts to the
    single worst CDF gap, PSI integrates mass reallocation across all
    bins (the score monitoring dashboards threshold at 0.1/0.25).

    Determinism: bins are integer bit-lengths; the ln factor is
    quantized round(4) (the surprisal convention); each bin's
    contribution is the EXACT integer rational of the Laplace
    probability difference times the scaled log, rendered by the signed
    half-up recipe and cast DECIMAL before the order-independent sum —
    no round(double, N) of a ratio anywhere.  Scale shape: one
    map-side-combinable (source, bucket) aggregate is the only
    corpus-scale pass; bins and marginals are rollups of it; the grid
    is (sources × ~30 buckets), output-sized."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        (F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1)))) - 1)
        .cast("bigint")
        .alias("bucket"),
    )
    cell = b.groupBy("source", "bucket").agg(F.count("*").alias("c"))
    cell = pin(cell, eager=False)
    gb = cell.groupBy("bucket").agg(F.sum("c").alias("cg"))
    ns = cell.groupBy("source").agg(F.sum("c").alias("n_s"))
    ng = gb.agg(F.sum("cg").alias("n_g"), F.count("*").alias("nb"))
    grid = (
        ns.crossJoin(F.broadcast(gb))
        .crossJoin(F.broadcast(ng))
        .join(F.broadcast(cell), ["source", "bucket"], "left")
    )
    # contrib is the EXACT rational (p_s - p_g) * lnf over Laplace
    # probabilities: num = (c+1)(n_g+nb) - (cg+1)(n_s+nb) and
    # den = (n_s+nb)(n_g+nb), times the 10^4-scaled quantized log —
    # rendered by the signed integer half-up recipe instead of
    # round(double, 6) (the cross-engine half-boundary class).  The
    # psi readout is then an exact-6-decimal sum: cast to double with
    # no re-round (a value with <= 6 fractional digits is never at a
    # 6-decimal boundary), and the drift flag is the cross-multiplied
    # decimal compare s * 4 >= 1 (0.25 threshold), never a float one.
    lnf4 = (
        "cast(cast(round(ln((cast(coalesce(c, 0) + 1 as double) * (n_g + nb))"
        " / (cast(cg + 1 as double) * (n_s + nb))), 4)"
        " as decimal(18,4)) * 10000 as bigint)"
    )
    t = grid.select(
        "source",
        "n_s",
        hu_ratio_signed(
            "(cast(coalesce(c, 0) + 1 as decimal(38,0)) * (n_g + nb)"
            " - cast(cg + 1 as decimal(38,0)) * (n_s + nb))"
            f" * {lnf4}",
            "cast(n_s + nb as decimal(38,0)) * (n_g + nb) * 10000",
            6,
        )
        .cast("decimal(18,6)")
        .alias("contrib"),
    )
    g = t.groupBy("source", "n_s").agg(F.sum("contrib").alias("s"))
    return g.select(
        "source",
        F.col("n_s").cast("bigint").alias("n_docs"),
        F.col("s").cast("double").alias("psi"),
        (F.col("s") * 4 >= 1).alias("drifted"),
    )


# Multi-touch attribution: lookback window and path-length cap (the
# standard guardrails; the cap also keeps the 2^n decay weights exact
# in int64).
_ATTR_LOOKBACK_DAYS = 7
_ATTR_MAX_TOUCHES = 16


@query(
    "attribution_position_decay",
    oracle=f"""
    WITH p AS (SELECT event_id AS pid, user_id, ts, value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS cid, user_id, ts FROM events
          WHERE event_type = 'click'),
    touch AS (
      SELECT p.pid, p.value, c.cid, c.ts,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY c.ts DESC, c.cid DESC) AS k0
      FROM p JOIN c ON c.user_id = p.user_id AND c.ts < p.ts
        AND c.ts >= p.ts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY),
    capped AS (SELECT * FROM touch WHERE k0 <= {_ATTR_MAX_TOUCHES}),
    sized AS (
      SELECT pid, value, cid, ts, k0,
             COUNT(*) OVER (PARTITION BY pid) AS n
      FROM capped),
    credit AS (
      SELECT (date_part('dow', ts) + 1) AS dow,
             CAST({hu_ratio_signed_sql(
                 "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)",
                 "CAST(n AS HUGEINT) * 1000000", 6)}
                  AS DECIMAL(18,6)) AS lin,
             CAST({hu_ratio_signed_sql(
                 "CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
                 " AS HUGEINT) * (1::BIGINT << (n - k0))",
                 "CAST((1::BIGINT << n) - 1 AS HUGEINT) * 1000000", 6)}
                  AS DECIMAL(18,6)) AS dec_c
      FROM sized)
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(lin) AS DOUBLE) AS credit_linear,
           CAST(SUM(dec_c) AS DOUBLE) AS credit_decay
    FROM credit GROUP BY dow
    """,
)
def attribution_position_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution beyond first/last: every click in the
    7-day lookback before a purchase shares that purchase's value,
    under BOTH the linear model (1/n each) and a position-decay model
    whose weights halve per step away from the purchase — credited
    value rolled up by click day-of-week (the channel-mix readout; the
    corpus has no channel column, so day-of-week stands in as the
    grouping dimension).

    Determinism: decay shares are EXACT dyadic rationals 2^(n-k)/(2^n−1)
    built with integer shifts (the path-length cap of 16 keeps them in
    int64; no float pow), each per-touch credit renders the exact
    integer rational via the signed half-up recipe and casts DECIMAL
    before the order-independent sum — no round(double, N) anywhere.
    Scale shape: the purchase×click fan-out is bounded by the lookback
    window and the 16-touch cap; both windows partition on purchase id
    (bounded groups); the readout is a 7-group aggregate."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts", "value"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    touch = p.join(
        c,
        (c["user_id"] == p["user_id"])
        & (F.col("cts") < p["ts"])
        & (
            F.col("cts")
            >= p["ts"] - F.expr(f"INTERVAL {_ATTR_LOOKBACK_DAYS} DAY")
        ),
    ).select("pid", "value", "cid", F.col("cts").alias("ts"))
    wk = Window.partitionBy("pid").orderBy(
        F.col("ts").desc(), F.col("cid").desc()
    )
    capped = (
        touch.withColumn("k0", F.row_number().over(wk))
        .filter(F.col("k0") <= _ATTR_MAX_TOUCHES)
    )
    sized = capped.withColumn(
        "n", F.count("*").over(Window.partitionBy("pid"))
    )
    # per-touch credits are EXACT integer rationals over the 10^6-scaled
    # decimal value (v_i/n and v_i*2^(n-k)/((2^n-1)*10^6)), rendered by
    # the signed half-up recipe instead of round(double, 6); the final
    # rollup sums exact 6-decimal credits, so the double cast needs no
    # re-round (a <= 6-fractional-digit value is never at a 6-decimal
    # boundary)
    v6i = "cast(cast(value as decimal(18,6)) * 1000000 as bigint)"
    credit = sized.select(
        F.dayofweek("ts").alias("dow"),
        hu_ratio_signed(v6i, "cast(n as decimal(38,0)) * 1000000", 6)
        .cast("decimal(18,6)")
        .alias("lin"),
        hu_ratio_signed(
            f"cast({v6i} as decimal(38,0))"
            " * shiftleft(cast(1 as bigint), cast(n - k0 as int))",
            "cast(shiftleft(cast(1 as bigint), cast(n as int)) - 1"
            " as decimal(38,0)) * 1000000",
            6,
        )
        .cast("decimal(18,6)")
        .alias("dec_c"),
    )
    return credit.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.sum("lin").cast("double").alias("credit_linear"),
        F.sum("dec_c").cast("double").alias("credit_decay"),
    ).select(
        F.col("dow").cast("bigint").alias("dow"),
        "n_touches",
        "credit_linear",
        "credit_decay",
    )


@query(
    "dq_freshness_lag",
    oracle="""
    WITH g AS (SELECT event_type, MAX(ts) AS latest, COUNT(*) AS n
               FROM events GROUP BY event_type),
    mx AS (SELECT MAX(latest) AS head FROM g)
    SELECT g.event_type, CAST(g.n AS BIGINT) AS n_events,
           g.latest, mx.head,
           CAST((epoch_us(mx.head) - epoch_us(g.latest)) // 60000000
                AS BIGINT) AS lag_minutes,
           (epoch_us(mx.head) - epoch_us(g.latest)) // 60000000 >= 60
             AS stale
    FROM g, mx
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit: per event stream, how far its newest event
    lags the head of the table — the staleness monitor every ingestion
    DAG alarms on (a stream whose lag grows is a stuck upstream).  The
    anchor is the corpus head (max ts), not wall-clock, so the readout
    is deterministic and replayable.

    Determinism: lag is integer microseconds through integer ``div`` to
    minutes (the ns→us convention — never float division on
    timestamps); the staleness flag compares the integer minutes.
    Scale shape: one map-side-combinable per-type max/count; the 1-row
    head anchor broadcasts back onto the ≤5 group rows."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.max("ts").alias("latest"), F.count("*").alias("n")
    )
    g = pin(g, eager=False)
    mx = g.agg(F.max("latest").alias("head"))
    lag_min = F.expr(
        "(unix_micros(head) - unix_micros(latest)) div 60000000"
    )
    return g.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        "latest",
        "head",
        lag_min.cast("bigint").alias("lag_minutes"),
        (lag_min >= 60).alias("stale"),
    )


@query(
    "survival_kaplan_meier",
    oracle="""
    WITH mx AS (SELECT max(ts) AS head FROM events),
    u AS (SELECT user_id, min(ts) AS f, max(ts) AS l
          FROM events GROUP BY 1),
    d AS (SELECT CAST((epoch_us(u.l) - epoch_us(u.f)) // 86400000000
                   AS BIGINT) AS dur_days,
                 CASE WHEN (epoch_us(mx.head) - epoch_us(u.l))
                        // 86400000000 >= 3
                      THEN 1 ELSE 0 END AS death
          FROM u CROSS JOIN mx),
    h AS (SELECT dur_days, COUNT(*) AS n_exit,
                 CAST(SUM(death) AS BIGINT) AS n_deaths
          FROM d GROUP BY 1),
    r AS (SELECT dur_days, n_exit, n_deaths,
                 CAST(SUM(n_exit) OVER (ORDER BY dur_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS BIGINT) AS n_at_risk
          FROM h),
    k AS (SELECT dur_days, n_at_risk, n_deaths,
                 CAST(n_exit - n_deaths AS BIGINT) AS n_censored,
                 CASE WHEN n_deaths = 0 THEN CAST(0.0 AS DOUBLE)
                      WHEN n_deaths = n_at_risk THEN NULL
                      ELSE round(ln(1 - CAST(n_deaths AS DOUBLE)
                                        / n_at_risk), 4)
                 END AS lnq,
                 CASE WHEN n_deaths = n_at_risk THEN 1 ELSE 0 END AS ext
          FROM r),
    s AS (SELECT dur_days, n_at_risk, n_deaths, n_censored,
                 CAST(SUM(CAST(lnq AS DECIMAL(20,4))) OVER (ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS cln,
                 MAX(ext) OVER (ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS extinct
          FROM k)
    SELECT dur_days, n_at_risk, n_deaths, n_censored,
           CAST(CAST((2 * CAST(n_deaths AS HUGEINT) * 1000000 + n_at_risk)
                     // (2 * CAST(n_at_risk AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS hazard,
           CASE WHEN extinct = 1 THEN CAST(0.0 AS DOUBLE)
                ELSE round(exp(cln), 4) END AS survival
    FROM s
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user event lifetimes: duration =
    whole days between a user's first and last event, with a
    deterministic censoring rule (last event within 3 days of the
    corpus-head anchor = still active, the ``dq_freshness_lag``
    replayable-anchor discipline).  Emits the full life table — at-risk
    counts, deaths, censored exits, the discrete hazard d/r, and the
    product-limit survival estimate — the churn readout every
    subscription/retention analysis starts from.

    Cross-engine determinism: durations and the life-table counts are
    exact integers (epoch-micros integer div); the hazard is one IEEE
    division of exact ints; the survival PRODUCT is rebuilt as
    exp(Σ ln(1 − d/r)) with each ln contribution quantized round(4)
    BEFORE the decimal cumulative sum (the registry's ln-quantization
    recipe), and an extinction flag short-circuits S(t)=0 exactly when
    d = r (ln(0) never evaluates).  Scale shape: one user-keyed
    aggregate over the event scan, then every window runs on the
    duration-day grid — calendar-bounded (~corpus span in days) at any
    row count, the window_cumulative_users precedent."""
    ev = load_table(spark, sf_dir, "events")
    u = pin(ev.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    ))
    # head anchor from the per-user rollup (max of maxes == corpus max):
    # ONE scan of the event table, the dq_freshness_lag discipline
    mx = u.agg(F.max("l").alias("head"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.expr("(unix_micros(l) - unix_micros(f)) div 86400000000")
        .cast("bigint")
        .alias("dur_days"),
        F.when(
            F.expr("(unix_micros(head) - unix_micros(l)) div 86400000000")
            >= 3,
            1,
        )
        .otherwise(0)
        .alias("death"),
    )
    h = d.groupBy("dur_days").agg(
        F.count("*").alias("n_exit"),
        F.sum("death").cast("bigint").alias("n_deaths"),
    )
    # n_at_risk = suffix sum of exits — spelled as a DESC-ordered
    # CUMULATIVE frame, never (currentRow, unboundedFollowing): Spark
    # re-aggregates suffix frames from scratch per row (O(n^2) per
    # partition, the round-9 as-of lesson), while cumulative frames
    # evaluate incrementally.  dur_days is unique here (groupBy output),
    # so the DESC prefix sum is exactly the ASC suffix sum — the grid is
    # calendar-bounded either way, but the registry-wide plan audit is
    # now zero-exception (no SUFFIX_FRAME_OK allowlist).  The oracle
    # keeps the suffix spelling (identical by the same uniqueness).
    w_desc = (
        Window.orderBy(F.col("dur_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_pre = (
        Window.orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = h.select(
        "dur_days",
        "n_exit",
        "n_deaths",
        F.sum("n_exit").over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    k = r.select(
        "dur_days",
        "n_at_risk",
        "n_deaths",
        (F.col("n_exit") - F.col("n_deaths")).cast("bigint").alias("n_censored"),
        F.when(F.col("n_deaths") == 0, F.lit(0.0))
        .when(F.col("n_deaths") == F.col("n_at_risk"), F.lit(None))
        .otherwise(
            F.round(
                F.log(
                    1 - F.col("n_deaths").cast("double") / F.col("n_at_risk")
                ),
                4,
            )
        )
        .alias("lnq"),
        F.when(F.col("n_deaths") == F.col("n_at_risk"), 1)
        .otherwise(0)
        .alias("ext"),
    )
    s = k.select(
        "dur_days",
        "n_at_risk",
        "n_deaths",
        "n_censored",
        F.sum(F.col("lnq").cast("decimal(20,4)"))
        .over(w_pre)
        .cast("double")
        .alias("cln"),
        F.max("ext").over(w_pre).alias("extinct"),
    )
    return s.select(
        "dur_days",
        "n_at_risk",
        "n_deaths",
        "n_censored",
        # integer half-up recipe: d/r can land on an exact decimal half
        hu_ratio("n_deaths", "n_at_risk", 6).alias("hazard"),
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("cln"), 4))
        .alias("survival"),
    )


@query(
    "stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1),
    r AS (SELECT d, rev,
                 ROW_NUMBER() OVER (ORDER BY rev, d) AS rk,
                 COUNT(*) OVER () AS n_days
          FROM daily),
    med AS (SELECT rev AS med_rev FROM r WHERE rk = (n_days + 1) // 2),
    f AS (SELECT r.d, CASE WHEN r.rev > med.med_rev THEN 1 ELSE 0 END AS s
          FROM r CROSS JOIN med
          WHERE r.rev <> med.med_rev),
    g AS (SELECT s,
                 CASE WHEN lag(s) OVER (ORDER BY d) IS NULL THEN 0
                      WHEN lag(s) OVER (ORDER BY d) <> s THEN 1
                      ELSE 0 END AS chg
          FROM f),
    m AS (SELECT CAST(SUM(s) AS BIGINT) AS n1,
                 CAST(COUNT(*) - SUM(s) AS BIGINT) AS n0,
                 CAST(1 + SUM(chg) AS BIGINT) AS runs
          FROM g)
    SELECT n1 AS n_above, n0 AS n_below, runs AS n_runs,
           round(1 + 2.0 * n1 * n0 / (n1 + n0), 4) AS expected_runs,
           CASE WHEN n1 * n0 = 0 THEN NULL
                ELSE round((runs - (1 + 2.0 * n1 * n0 / (n1 + n0)))
                           / sqrt((2.0 * n1 * n0
                                   * (2.0 * n1 * n0 - n1 - n0))
                                  / ((n1 + n0) * (n1 + n0)
                                     * (n1 + n0 - 1.0))), 4)
           END AS z_stat
    FROM m
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily order-revenue
    sequence: is above/below-median revenue serially independent, or do
    hot and cold streaks cluster (seasonality, regime shifts, data
    generation artifacts)?  The nonparametric sanity check run before
    trusting i.i.d. assumptions in any downstream sampling or A/B
    analysis — complements ``stats_autocorr_lag1`` (magnitude-based)
    with a sign-based test that outliers can't dominate.

    Determinism: daily revenue accumulates as exact DECIMAL(18,6) (the
    functions/numeric.py discipline), the median is a rank pick with a
    day tie-break (never an averaged float), ties WITH the median are
    dropped (the classical treatment), and runs/n1/n0 are exact
    integers; the z statistic is the identical double formula over
    those ints in both engines, quantized round(4).  Scale shape: one
    map-side-combinable day aggregate touches the orders scan; every
    window runs on the calendar-bounded daily grid."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"))
    )
    w_rank = Window.orderBy("rev", "d")
    r = pin(daily.select(
        "d",
        "rev",
        F.row_number().over(w_rank).alias("rk"),
        F.count("*").over(
            Window.partitionBy().orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_days"),
    ))  # referenced by the median pick AND the sign pass
    med = r.filter(
        F.col("rk") == F.expr("(n_days + 1) div 2")
    ).select(F.col("rev").alias("med_rev"))
    f = (
        r.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("med_rev"))
        .select("d", F.when(F.col("rev") > F.col("med_rev"), 1).otherwise(0).alias("s"))
    )
    w_d = Window.orderBy("d")
    g = f.select(
        "s",
        F.when(F.lag("s").over(w_d).isNull(), 0)
        .when(F.lag("s").over(w_d) != F.col("s"), 1)
        .otherwise(0)
        .alias("chg"),
    )
    m = g.agg(
        F.sum("s").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("s")).cast("bigint").alias("n0"),
        (1 + F.sum("chg")).cast("bigint").alias("runs"),
    )
    n1, n0, runs = F.col("n1"), F.col("n0"), F.col("runs")
    mu = 1 + 2.0 * n1 * n0 / (n1 + n0)
    sigma2 = (2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)) / (
        (n1 + n0) * (n1 + n0) * (n1 + n0 - 1.0)
    )
    return m.select(
        n1.alias("n_above"),
        n0.alias("n_below"),
        runs.alias("n_runs"),
        F.round(mu, 4).alias("expected_runs"),
        F.when(n1 * n0 == 0, F.lit(None).cast("double"))
        .otherwise(F.round((runs - mu) / F.sqrt(sigma2), 4))
        .alias("z_stat"),
    )


@query(
    "assoc_basket_part_pairs",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS nb FROM lp),
    pa AS (SELECT l_partkey, COUNT(*) AS c FROM lp GROUP BY 1),
    pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                  COUNT(*) AS n_ab
           FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    s AS (SELECT pr.part_a, pr.part_b, pr.n_ab, x.c AS n_a, y.c AS n_b,
                 CAST(CAST((2 * CAST(pr.n_ab AS HUGEINT) * n.nb * 1000000
                            + CAST(x.c AS HUGEINT) * y.c)
                       // (2 * CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS DOUBLE)
               / 1000000 AS lift,
                 CAST(CAST((2 * CAST(pr.n_ab AS HUGEINT) * 1000000 + x.c)
                      // (2 * CAST(x.c AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000 AS confidence_ab
          FROM pr JOIN pa x ON x.l_partkey = pr.part_a
                  JOIN pa y ON y.l_partkey = pr.part_b
          CROSS JOIN n)
    SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_pairs,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           lift, confidence_ab
    FROM s ORDER BY lift DESC, part_a, part_b LIMIT 20
    """,
)
def assoc_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic market-basket association over order baskets: top part
    pairs by lift (with confidence) among parts co-purchased in the
    same order — the apriori 2-itemset pass on the sales schema, next
    to ``assoc_session_lift``'s event-stream variant (different grain:
    baskets are bounded orders, not time-windowed sessions, and this
    readout adds the directional confidence a recommender thresholds
    on).

    Scale shape: the pair stage self-joins on the ORDER key, so
    fan-out is bounded by (lineitems per order choose 2) — ~21 pairs
    per basket at TPC-H shape — never all-pairs over parts; part
    marginals are one map-side-combinable aggregate; the min-support
    HAVING prunes the long tail before the marginal joins; the global
    readout is a TakeOrdered top-20.  Determinism: every count is an
    exact integer over DISTINCT (order, part); lift and confidence are
    single IEEE divisions of exact ints quantized round(6), ranked with
    the (part_a, part_b) tie-break."""
    lp = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )  # pair self-join + marginals + basket count
    n = lp.agg(F.countDistinct("l_orderkey").alias("nb"))
    pa = lp.groupBy("l_partkey").agg(F.count("*").alias("c"))
    pr = (
        lp.alias("a")
        .join(
            lp.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    s = (
        pr.join(
            pa.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a")),
            "part_a",
        )
        .join(
            pa.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("bigint").alias("n_pairs"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            # integer half-up recipe with cross-multiplied support/prior
            # products (decimal(38,0)/HUGEINT give the product headroom)
            hu_ratio(
                "cast(n_ab as decimal(38,0)) * nb",
                "cast(n_a as decimal(38,0)) * n_b",
                6,
            ).alias("lift"),
            hu_ratio("n_ab", "n_a", 6).alias("confidence_ab"),
        )
    )
    return s.orderBy(F.desc("lift"), "part_a", "part_b").limit(20)


@query(
    "interval_concurrency_daily",
    oracle="""
    WITH iv AS (
      SELECT CAST(date_trunc('day', o.o_orderdate) AS TIMESTAMP) AS s,
             CAST(date_trunc('day', MAX(l.l_shipdate)) AS TIMESTAMP) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    delta AS (
      SELECT d, SUM(x) AS dx FROM (
        SELECT s AS d, 1 AS x FROM iv
        UNION ALL
        SELECT e + INTERVAL 1 DAY AS d, -1 AS x FROM iv)
      GROUP BY d),
    b AS (SELECT min(d) AS mn, max(d) AS mx FROM delta),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS d FROM b),
    run AS (
      SELECT spine.d,
             CAST(SUM(COALESCE(delta.dx, 0)) OVER (ORDER BY spine.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_open
      FROM spine LEFT JOIN delta ON delta.d = spine.d)
    SELECT CAST(date_trunc('month', d) AS TIMESTAMP) AS month,
           CAST(MAX(n_open) AS BIGINT) AS peak_open,
           CAST(MIN(n_open) AS BIGINT) AS min_open,
           CAST(CAST((2 * CAST(SUM(n_open) AS HUGEINT) * 10000 + COUNT(*))
                     // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000 AS avg_open
    FROM run GROUP BY 1
    """,
)
def interval_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: how many orders are OPEN (placed
    but not yet fully shipped) on each day, rolled up to a monthly
    peak/min/mean backlog profile — the WIP/backlog curve behind
    capacity planning, computed as the classic +1/−1 boundary-event
    cumulative sum rather than a day x interval stabbing join (which
    would be |days| x |orders| at 100 TB).

    Scale shape: the interval endpoints come from one order-keyed
    aggregate over the lineitem scan; boundary deltas are two
    projections of that bounded set; the running sum and the monthly
    rollup live entirely on the calendar-bounded day spine.
    Determinism: everything through n_open is exact integers; the only
    float is the monthly mean, one IEEE division of exact ints
    quantized round(4)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("day", "o_orderdate").alias("s"),
            F.date_trunc("day", "last_ship").alias("e"),
        )
    )
    delta = pin(
        iv.select(F.col("s").alias("d"), F.lit(1).alias("x"))
        .unionAll(
            iv.select(F.expr("e + interval 1 day").alias("d"), F.lit(-1).alias("x"))
        )
        .groupBy("d")
        .agg(F.sum("x").alias("dx"))
    )  # bounds + spine join reuse it
    b = delta.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    spine = b.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("d")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = (
        spine.join(delta, "d", "left")
        .select("d", F.coalesce("dx", F.lit(0)).alias("dx"))
        .select("d", F.sum("dx").over(w).cast("bigint").alias("n_open"))
    )
    return run.groupBy(F.date_trunc("month", "d").alias("month")).agg(
        F.max("n_open").cast("bigint").alias("peak_open"),
        F.min("n_open").cast("bigint").alias("min_open"),
        # integer half-up recipe: count ratios can land on decimal halves
        hu_ratio("sum(n_open)", "count(*)", 4).alias("avg_open"),
    )


@query(
    "dq_primary_key_uniqueness",
    oracle="""
    WITH u AS (
      SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys
      FROM orders
      UNION ALL
      SELECT 'customer', COUNT(*), COUNT(DISTINCT c_custkey) FROM customer
      UNION ALL
      SELECT 'part', COUNT(*), COUNT(DISTINCT p_partkey) FROM part
      UNION ALL
      SELECT 'supplier', COUNT(*), COUNT(DISTINCT s_suppkey) FROM supplier
      UNION ALL
      SELECT 'lineitem', COUNT(*),
             COUNT(DISTINCT l_orderkey * 100 + l_linenumber) FROM lineitem
      UNION ALL
      SELECT 'events', COUNT(*), COUNT(DISTINCT event_id) FROM events
      UNION ALL
      SELECT 'documents', COUNT(*), COUNT(DISTINCT doc_id) FROM documents)
    SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_rows - n_keys AS BIGINT) AS n_dup_rows,
           n_rows = n_keys AS pk_unique
    FROM u
    """,
)
def dq_primary_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the whole star schema — the
    first data-contract check any warehouse load runs (a duplicated key
    silently double-counts every downstream join), next to
    ``dq_referential_integrity``'s orphan audit.  The lineitem PK is
    composite (orderkey, linenumber), folded to one BIGINT
    (orderkey*100 + linenumber; linenumber is 1..7 by TPC-H contract)
    so both engines count the identical key space.

    Scale shape: seven independent map-side-combinable count-distinct
    aggregates, each one scan of its table pruned to the key columns;
    the readout is seven rows.  At 100 TB one swaps COUNT(DISTINCT) for
    the HLL sketch when an approximate audit suffices — the exact form
    here is itself one shuffle per table on the key."""
    defs = [
        ("orders", "orders", F.col("o_orderkey")),
        ("customer", "customer", F.col("c_custkey")),
        ("part", "part", F.col("p_partkey")),
        ("supplier", "supplier", F.col("s_suppkey")),
        (
            "lineitem",
            "lineitem",
            F.col("l_orderkey") * 100 + F.col("l_linenumber"),
        ),
        ("events", "events", F.col("event_id")),
        ("documents", "documents", F.col("doc_id")),
    ]
    out = None
    for label, tbl, key in defs:
        t = load_table(spark, sf_dir, tbl)
        branch = t.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct(key).cast("bigint").alias("n_keys"),
        ).select(F.lit(label).alias("tbl"), "n_rows", "n_keys")
        out = branch if out is None else out.unionByName(branch)
    return out.select(
        "tbl",
        "n_rows",
        "n_keys",
        (F.col("n_rows") - F.col("n_keys")).cast("bigint").alias("n_dup_rows"),
        (F.col("n_rows") == F.col("n_keys")).alias("pk_unique"),
    )


@query(
    "dq_order_total_reconciliation",
    oracle="""
    WITH rec AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                 AS DECIMAL(18,6))) AS recomputed
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderstatus,
             ABS(rec.recomputed - CAST(o.o_totalprice AS DECIMAL(18,6)))
               AS diff
      FROM orders o JOIN rec ON rec.l_orderkey = o.o_orderkey)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(SUM(CASE WHEN diff <= 0.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_cent,
           CAST(MAX(diff) AS DOUBLE) AS max_abs_diff
    FROM j GROUP BY 1
    """,
)
def dq_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table arithmetic reconciliation: recompute each order's
    total from its line items (extendedprice x (1-discount) x (1+tax))
    and audit the drift against the stored o_totalprice, per order
    status — the financial-consistency check that catches a load
    pipeline applying tax twice or dropping lines, complementing
    ``dq_referential_integrity`` (existence) and
    ``dq_primary_key_uniqueness`` (identity) with VALUE consistency.

    Determinism: each line's 3-factor product is the identical IEEE
    expression in both engines, then cast DECIMAL(18,6) and summed
    (scale 6, the functions/numeric.py discipline — at scale 12 the
    double->decimal cast rounds digits past the double's own precision
    and the engines disagree on the artifact)
    exactly (the q1 discipline); the stored total compares as
    DECIMAL(18,6), so every diff, threshold count, and the max are
    exact decimal arithmetic — the one double in the output is the
    exact decimal->double cast of the max (no rounding, no half
    boundary).  Scale shape: one order-keyed aggregate over the
    lineitem scan, one equi-join to orders, a ≤|status| rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rec = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(18,6)")
        ).alias("recomputed")
    )
    j = o.join(rec, o["o_orderkey"] == rec["l_orderkey"]).select(
        "o_orderstatus",
        F.abs(
            F.col("recomputed") - F.col("o_totalprice").cast("decimal(18,6)")
        ).alias("diff"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("diff") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.when(F.col("diff") <= 0.01, 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_cent"),
        F.max("diff").cast("double").alias("max_abs_diff"),
    )


@query(
    "stats_spearman_correlation",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS y
      FROM orders GROUP BY 1),
    r AS (
      SELECT o_custkey,
             ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS rx,
             ROW_NUMBER() OVER (ORDER BY y, o_custkey) AS ry
      FROM cust),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST((rx - ry) * (rx - ry) AS DECIMAL(38,0))) AS sd2
      FROM r)
    SELECT n AS n_customers,
           {hu_ratio_signed_sql(
               "CAST(n AS HUGEINT) * n * n - n - 6 * sd2",
               "CAST(n AS HUGEINT) * n * n - n", 6)}
             AS spearman_rho
    FROM m
    """,
)
def stats_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's order COUNT and
    total SPEND — the monotone-association readout that Pearson
    (``stats_correlation``) gets wrong under skewed spend
    distributions.  Ranks use the registry's tie-broken total order
    (metric, custkey), making ρ = 1 − 6Σd²/(n(n²−1)) exact — the
    documented tie-broken-Spearman variant (no midrank correction
    needed because the ordering key is unique).

    Scale shape: one customer rollup over the orders scan, then TWO
    global ranks through functions/ranking.py's range-partition +
    partition-offset recipe (one full-data exchange each, never an
    unpartitioned window), a custkey equi-join of the two rank frames,
    and a single-row moment reduce.  Determinism: counts and ranks are
    exact ints; spend ranks order exact decimals; Σd² accumulates in
    DECIMAL(38,0) (n³ overflows int64 past ~2M rows); ρ is one
    identically-spelled double expression quantized round(6)."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    cust = pin(
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("y"),
        )
    )  # both rank passes read it
    rx = with_global_rank(cust.select("o_custkey", "x"), ["x", "o_custkey"]).select(
        "o_custkey", F.col("_rk").alias("rx")
    )
    ry = with_global_rank(cust.select("o_custkey", "y"), ["y", "o_custkey"]).select(
        "o_custkey", F.col("_rk").alias("ry")
    )
    m = (
        rx.join(ry, "o_custkey")
        .select(((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))).alias("d2"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("d2").cast("decimal(38,0)")).alias("sd2"),
        )
    )
    # rho = 1 - 6S/(n(n^2-1)) is the exact integer rational
    # (n(n^2-1) - 6S)/(n(n^2-1)): signed half-up recipe (n^3 holds in
    # decimal(38,0)/int128 to ~2e12 customers; shard beyond)
    return m.select(
        F.col("n").alias("n_customers"),
        hu_ratio_signed(
            "cast(n as decimal(38,0)) * n * n - n - 6 * sd2",
            "cast(n as decimal(38,0)) * n * n - n",
            6,
        ).alias("spearman_rho"),
    )


@query(
    "cohort_ltv_monthly",
    oracle="""
    WITH om AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS m,
             CAST(o_totalprice AS DECIMAL(18,6)) AS rev
      FROM orders),
    first_m AS (SELECT o_custkey, MIN(m) AS cohort_m FROM om GROUP BY 1),
    ca AS (
      SELECT f.cohort_m, om.m - f.cohort_m AS age_months,
             om.rev
      FROM om JOIN first_m f ON f.o_custkey = om.o_custkey),
    g AS (
      SELECT cohort_m, age_months,
             SUM(rev) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM ca GROUP BY 1, 2)
    SELECT cohort_m, age_months, n_orders,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(SUM(revenue) OVER (PARTITION BY cohort_m ORDER BY age_months
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cum_ltv
    FROM g
    """,
)
def cohort_ltv_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by FIRST-order month,
    revenue accumulated by cohort age in months — the
    lifetime-value curve per acquisition vintage that
    ``cohort_retention_weekly`` (headcount-based) can't show: a cohort
    can retain poorly but monetize deeply, or vice versa.

    Scale shape: one per-customer MIN pass pins each cohort, one
    equi-join back tags every order, one (cohort, age) rollup; the
    cumulative-LTV window partitions by cohort over the ≤ months²/2
    triangle — output-sized, never entity-scale.  Determinism: months
    index as exact integers (year*12+month — no date subtraction
    semantics to disagree on); revenue accumulates as DECIMAL(18,6)
    through BOTH the rollup and the running sum, so the doubles in the
    output are exact decimal casts, never float sums."""
    om = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("m"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("rev"),
    )
    first_m = om.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    ca = om.join(first_m, "o_custkey").select(
        "cohort_m", (F.col("m") - F.col("cohort_m")).alias("age_months"), "rev"
    )
    g = ca.groupBy("cohort_m", "age_months").agg(
        F.sum("rev").alias("revenue"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "cohort_m",
        "age_months",
        "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
        F.sum("revenue").over(w).cast("double").alias("cum_ltv"),
    )


_SUPPRESS_K = 10


@query(
    "privacy_small_cell_suppression",
    oracle=f"""
    WITH cell AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
             SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS sbal
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment,
           CASE WHEN n < {_SUPPRESS_K} THEN NULL
                ELSE CAST(n AS BIGINT) END AS n_released,
           CASE WHEN n < {_SUPPRESS_K} THEN NULL
                ELSE {hu_ratio_signed_sql("sbal * 1000000",
                                          "CAST(n AS HUGEINT) * 1000000", 4)}
           END AS avg_bal,
           n < {_SUPPRESS_K} AS suppressed
    FROM cell
    """,
)
def privacy_small_cell_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-cell suppression for a statistical release: the
    (nation, segment) customer rollup publishes counts and mean
    balances only for cells with n >= {_SUPPRESS_K}; smaller cells are
    NULLed but still listed with a ``suppressed`` marker — the primary
    suppression rule every census/health-data release applies before
    k-anonymity-style microdata checks (``privacy_k_anonymity`` audits
    the microdata; this gates the AGGREGATE release).  Secondary
    (complementary) suppression against differencing attacks is the
    documented next layer, not applied here.

    Scale shape: one map-side-combinable two-key rollup; the gate is a
    projection over the bounded cell table.  Determinism: counts are
    exact ints, the released mean renders via the signed integer
    half-up recipe over the 10^6-scaled exact decimal balance sum
    (round(double, 4) of a decimal-sum ratio is the cross-engine
    half-boundary class), and the suppression predicate is an integer
    compare."""
    cell = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("sbal"),
        )
    )
    small = F.col("n") < _SUPPRESS_K
    return cell.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(small, F.lit(None)).otherwise(F.col("n")).cast("bigint").alias(
            "n_released"
        ),
        F.when(small, F.lit(None))
        .otherwise(
            hu_ratio_signed(
                "sbal * 1000000", "cast(n as decimal(38,0)) * 1000000", 4
            )
        )
        .alias("avg_bal"),
        small.alias("suppressed"),
    )


_GEN_WIDTHS = [1000, 2000, 4000, 8000]
_GEN_K = 10


@query(
    "privacy_generalization_sweep",
    oracle=f"""
    WITH lv AS (SELECT unnest([{", ".join(map(str, _GEN_WIDTHS))}]) AS w),
    cell AS (
      SELECT lv.w, c_nationkey, c_mktsegment,
             (CAST(floor(c_acctbal) AS BIGINT) + 1000) // lv.w AS band,
             COUNT(*) AS n
      FROM customer CROSS JOIN lv
      GROUP BY 1, 2, 3, 4)
    SELECT w AS band_width,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN n < {_GEN_K} THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_violating,
           MIN(n) >= {_GEN_K} AS k_satisfied
    FROM cell GROUP BY w
    """,
)
def privacy_generalization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization-level search for k-anonymity: widen the
    account-balance band (1000 -> 8000) under the (nation, segment)
    quasi-identifiers and report, per level, the equivalence-class
    profile and whether k={_GEN_K} holds — the anonymization step BEFORE
    release that ``privacy_k_anonymity`` only audits after the fact
    (the single-dimension core of Mondrian/Datafly generalization).

    Scale shape: ONE customer scan fans out x|levels| through a
    broadcast explode (levels are a 4-row literal), then a
    map-side-combinable (level, QI) rollup; per-level profiles are
    rollups of the bounded cell table.  Determinism: bands are integer
    floor-divisions of the shifted balance (nonnegative, so // == div),
    every readout is an exact integer, and the k verdict is an integer
    compare."""
    lv = F.explode(
        F.array(*[F.lit(w) for w in _GEN_WIDTHS])
    ).alias("w")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.floor("c_acctbal").cast("bigint") + 1000).alias("shifted"),
    )
    cell = (
        cust.select("c_nationkey", "c_mktsegment", "shifted", lv)
        .groupBy(
            "w",
            "c_nationkey",
            "c_mktsegment",
            F.expr("shifted div w").alias("band"),
        )
        .agg(F.count("*").alias("n"))
    )
    return cell.groupBy(F.col("w").alias("band_width")).agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.min("n").cast("bigint").alias("min_class_size"),
        F.sum(F.when(F.col("n") < _GEN_K, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_violating"),
        (F.min("n") >= _GEN_K).alias("k_satisfied"),
    )


@query(
    "pattern_top_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged),
    head3 AS (
      SELECT user_id, sid, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rk
      FROM sess QUALIFY rk <= 3),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY rk) AS path
      FROM head3 GROUP BY 1, 2)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def pattern_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session-opening paths: the first three event types of every
    30-minute session, ranked by frequency — the Sankey/user-flow
    readout behind onboarding and navigation analysis, complementing
    the fixed-step funnels (``pattern_funnel_sessions`` asks "did the
    user do A→B→C?"; this asks "what DO sessions open with?").

    Scale shape: sessionization and the head-3 cut are user-partitioned
    windows (key cardinality scales with users — the funnel family's
    accepted shape); path assembly groups ≤3 rows per session; the
    readout is a TakeOrdered top-20 over the bounded path vocabulary.
    Determinism: session boundaries compare integer epoch-micros with
    the (ts, event_id) total order; the path string is assembled in rk
    order on both sides (Spark sorts the collected (rk, type) structs,
    DuckDB's string_agg takes ORDER BY rk); ties in the readout break
    on the path string."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.lag(F.unix_micros("ts")).over(w_u)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            lag_us.isNull() | (F.unix_micros("ts") - lag_us > 1800000000), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_session").over(
            w_u.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    head3 = (
        sess.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    paths = head3.groupBy("user_id", "sid").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "event_type"))),
                lambda s: s.event_type,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


# --------------------------------------------- CUPED A/B readout

# theta at 1e-6 as an INTEGER (the signed half-up recipe kept scaled):
# sign(cov) * (2*|cov|*10^6 + var) div (2*var).  cov/var are the exact
# integer moment rationals, so T6 is exact integer arithmetic end to
# end; var = 0 (constant covariate) renders theta 0 — no adjustment —
# through the lazy CASE (ANSI: decimal div by zero throws, so the
# division must be unreachable there).
_CUPED_T6_SPARK = (
    "CASE WHEN vx = 0 THEN cast(0 as bigint) ELSE"
    " cast((CASE WHEN cv < 0 THEN -1 ELSE 1 END)"
    " * ((2 * abs(cv) * 1000000 + vx) div (2 * vx)) as bigint) END"
)
_CUPED_T6_DUCK = (
    "CASE WHEN vx = 0 THEN CAST(0 AS BIGINT) ELSE"
    " CAST((CASE WHEN cv < 0 THEN -1 ELSE 1 END)"
    " * ((2 * abs(cv) * 1000000 + vx) // (2 * vx)) AS BIGINT) END"
)


def _ab_cuped_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.sampling import (
        _bucket256_sql,
    )

    bkt = _bucket256_sql("user_id").replace("AS STRING", "AS VARCHAR")
    diff = hu_ratio_signed_sql(
        "CAST(syt AS HUGEINT) * nc - CAST(syc AS HUGEINT) * nt",
        "CAST(nt AS HUGEINT) * nc", 6)
    prediff = hu_ratio_signed_sql(
        "CAST(sxt AS HUGEINT) * nc - CAST(sxc AS HUGEINT) * nt",
        "CAST(nt AS HUGEINT) * nc", 6)
    cuped = hu_ratio_signed_sql(
        "(CAST(syt AS HUGEINT) * nc - CAST(syc AS HUGEINT) * nt) * 1000000"
        " - t6 * (CAST(sxt AS HUGEINT) * nc - CAST(sxc AS HUGEINT) * nt)",
        "CAST(nt AS HUGEINT) * nc * 1000000", 6)
    srm = hu_ratio_sql(
        "abs(CAST(nt AS HUGEINT) - nc) * 10000",
        "CAST(nt AS HUGEINT) + nc", 0)
    return f"""
    WITH anchor AS (
      SELECT epoch_us(MIN(ts)) + (epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
               // 2 AS mid
      FROM events),
    u AS (
      SELECT user_id,
             CASE WHEN {bkt} < 128 THEN 1 ELSE 0 END AS treat,
             SUM(CASE WHEN epoch_us(ts) < anchor.mid THEN 1 ELSE 0 END)
               AS x,
             SUM(CASE WHEN epoch_us(ts) >= anchor.mid THEN 1 ELSE 0 END)
               AS y
      FROM events CROSS JOIN anchor GROUP BY 1, 2),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM u),
    th AS (
      SELECT CAST(n AS HUGEINT) * sxy - sx * sy AS cv,
             CAST(n AS HUGEINT) * sxx - sx * sx AS vx
      FROM m),
    t6t AS (SELECT {_CUPED_T6_DUCK} AS t6 FROM th),
    arms AS (
      SELECT SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN treat = 1 THEN CAST(x AS HUGEINT) END) AS sxt,
             SUM(CASE WHEN treat = 0 THEN CAST(x AS HUGEINT) END) AS sxc,
             SUM(CASE WHEN treat = 1 THEN CAST(y AS HUGEINT) END) AS syt,
             SUM(CASE WHEN treat = 0 THEN CAST(y AS HUGEINT) END) AS syc
      FROM u)
    SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_control,
           CASE WHEN nt = 0 OR nc = 0 THEN NULL
                ELSE CAST({srm} AS BIGINT) END AS srm_delta_bp,
           CASE WHEN nt = 0 OR nc = 0 THEN NULL ELSE {diff} END
             AS naive_diff,
           CASE WHEN nt = 0 OR nc = 0 THEN NULL ELSE {prediff} END
             AS pre_diff,
           CAST(t6 AS DOUBLE) / 1000000 AS theta,
           CASE WHEN nt = 0 OR nc = 0 THEN NULL ELSE {cuped} END
             AS cuped_diff
    FROM arms CROSS JOIN t6t
    """


@query("ab_cuped_readout", oracle=_ab_cuped_oracle())
def ab_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et
    al. 2013, public method): users split 50/50 by md5 bucket (the
    deterministic-assignment discipline — reproducible across runs,
    engines, and re-ingests), covariate x = the user's PRE-period event
    count (before the replayable corpus-midpoint anchor), metric y =
    the POST-period count.  theta = cov(x,y)/var(x) over all users;
    the CUPED-adjusted effect is naive_diff - theta * pre_diff (the
    linear-adjustment identity, evaluated on means).  Also emits the
    sample-ratio-mismatch guardrail in basis points — the first thing
    an experimentation platform checks before trusting any lift.

    Determinism: every moment is an exact integer sum; theta is kept
    as the SCALED INTEGER T6 (signed half-up at 1e-6, var = 0 -> 0
    through the lazy CASE — the ANSI divide-by-zero rule), so
    cuped_diff is ONE exact integer rational:
    [(syt*nc - syc*nt)*10^6 - T6*(sxt*nc - sxc*nt)] / (nt*nc*10^6).
    No float ever meets an ordering or a rounding boundary.  int128
    headroom: user counts <= ~1e4 events put cov/var ~ n^2*1e8 —
    binds ~1e11 users through the render's 2*|num|*10^6 factor (the
    measured-bound discipline); beyond that, the declared quantization
    drop.  Scale shape: one user-keyed aggregate (map-side
    combinable), then two 1-row rollups broadcast into a 1-row
    readout."""
    from eecs485_p4_mapreduce_spark.operators.sampling import (
        _bucket256_sql,
    )

    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(
        F.expr(
            "unix_micros(min(ts)) +"
            " (unix_micros(max(ts)) - unix_micros(min(ts))) div 2"
        ).alias("mid")
    )
    u = pin(
        ev.crossJoin(F.broadcast(anchor))
        .groupBy(
            "user_id",
            F.expr(
                f"CASE WHEN {_bucket256_sql('user_id')} < 128"
                " THEN 1 ELSE 0 END"
            ).alias("treat"),
        )
        .agg(
            F.sum(
                F.when(F.expr("unix_micros(ts) < mid"), 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.expr("unix_micros(ts) >= mid"), 1).otherwise(0)
            ).alias("y"),
        )
    )  # moments + arms both read it
    m = u.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    th = m.select(
        F.expr("cast(n as decimal(38,0)) * sxy - sx * sy").alias("cv"),
        F.expr("cast(n as decimal(38,0)) * sxx - sx * sx").alias("vx"),
    )
    t6t = th.select(F.expr(_CUPED_T6_SPARK).alias("t6"))
    arms = u.agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(
            F.when(F.col("treat") == 1, F.col("x").cast("decimal(38,0)"))
        ).alias("sxt"),
        F.sum(
            F.when(F.col("treat") == 0, F.col("x").cast("decimal(38,0)"))
        ).alias("sxc"),
        F.sum(
            F.when(F.col("treat") == 1, F.col("y").cast("decimal(38,0)"))
        ).alias("syt"),
        F.sum(
            F.when(F.col("treat") == 0, F.col("y").cast("decimal(38,0)"))
        ).alias("syc"),
    )
    guard = F.expr("nt = 0 OR nc = 0")
    diff = hu_ratio_signed(
        "cast(syt as decimal(38,0)) * nc - cast(syc as decimal(38,0)) * nt",
        "cast(nt as decimal(38,0)) * nc",
        6,
    )
    prediff = hu_ratio_signed(
        "cast(sxt as decimal(38,0)) * nc - cast(sxc as decimal(38,0)) * nt",
        "cast(nt as decimal(38,0)) * nc",
        6,
    )
    cuped = hu_ratio_signed(
        "(cast(syt as decimal(38,0)) * nc - cast(syc as decimal(38,0)) * nt)"
        " * 1000000"
        " - t6 * (cast(sxt as decimal(38,0)) * nc"
        " - cast(sxc as decimal(38,0)) * nt)",
        "cast(nt as decimal(38,0)) * nc * 1000000",
        6,
    )
    srm = hu_ratio(
        "abs(cast(nt as decimal(38,0)) - nc) * 10000",
        "cast(nt as decimal(38,0)) + nc",
        0,
    )
    return arms.crossJoin(F.broadcast(t6t)).select(
        F.col("nt").cast("bigint").alias("n_treat"),
        F.col("nc").cast("bigint").alias("n_control"),
        F.when(guard, F.lit(None)).otherwise(srm.cast("bigint")).alias(
            "srm_delta_bp"
        ),
        F.when(guard, F.lit(None)).otherwise(diff).alias("naive_diff"),
        F.when(guard, F.lit(None)).otherwise(prediff).alias("pre_diff"),
        (F.col("t6").cast("double") / 1000000).alias("theta"),
        F.when(guard, F.lit(None)).otherwise(cuped).alias("cuped_diff"),
    )


@query(
    "survival_nelson_aalen",
    oracle="""
    WITH mx AS (SELECT max(ts) AS head FROM events),
    u AS (SELECT user_id, min(ts) AS f, max(ts) AS l
          FROM events GROUP BY 1),
    d AS (SELECT CAST((epoch_us(u.l) - epoch_us(u.f)) // 86400000000
                   AS BIGINT) AS dur_days,
                 CASE WHEN (epoch_us(mx.head) - epoch_us(u.l))
                        // 86400000000 >= 3
                      THEN 1 ELSE 0 END AS death
          FROM u CROSS JOIN mx),
    h AS (SELECT dur_days, COUNT(*) AS n_exit,
                 CAST(SUM(death) AS BIGINT) AS n_deaths
          FROM d GROUP BY 1),
    r AS (SELECT dur_days, n_exit, n_deaths,
                 CAST(SUM(n_exit) OVER (ORDER BY dur_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS BIGINT) AS n_at_risk
          FROM h),
    k AS (SELECT dur_days, n_at_risk, n_deaths,
                 (2 * CAST(n_deaths AS HUGEINT) * 1000000 + n_at_risk)
                   // (2 * CAST(n_at_risk AS HUGEINT)) AS haz6
          FROM r),
    s AS (SELECT dur_days, n_at_risk, n_deaths, haz6,
                 CAST(SUM(haz6) OVER (ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS ch6
          FROM k)
    SELECT dur_days, n_at_risk, n_deaths,
           CAST(CAST(haz6 AS BIGINT) AS DOUBLE) / 1000000 AS hazard,
           CAST(ch6 AS DOUBLE) / 1000000 AS cum_hazard,
           round(exp(-(CAST(ch6 AS DOUBLE) / 1000000)), 4)
             AS breslow_survival
    FROM s
    """,
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve (and its Breslow survival
    transform exp(-H)) over the same deterministic life table as
    ``survival_kaplan_meier`` — the estimator of choice when hazards,
    not survival products, are the modelling target (it remains defined
    through d = r extinction events where the KM product hits zero).

    Determinism is STRONGER than KM's: each hazard increment d/r is the
    exact integer rational rendered half-up onto the 1e-6 grid (no ln
    at all), the cumulative hazard is an INTEGER prefix sum of those
    grid values, and only the final Breslow transform is transcendental
    (exp of identical doubles, round(4) safe).  The at-risk suffix sum
    is the DESC-ordered cumulative frame (dur_days unique — the KM
    spelling; the oracle keeps the suffix form, identical by
    construction).  Scale shape: one user-keyed aggregate over the
    event scan, then calendar-bounded duration-grid windows."""
    ev = load_table(spark, sf_dir, "events")
    u = pin(ev.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    ))
    mx = u.agg(F.max("l").alias("head"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.expr("(unix_micros(l) - unix_micros(f)) div 86400000000")
        .cast("bigint")
        .alias("dur_days"),
        F.when(
            F.expr("(unix_micros(head) - unix_micros(l)) div 86400000000")
            >= 3,
            1,
        )
        .otherwise(0)
        .alias("death"),
    )
    h = d.groupBy("dur_days").agg(
        F.count("*").alias("n_exit"),
        F.sum("death").cast("bigint").alias("n_deaths"),
    )
    w_desc = (
        Window.orderBy(F.col("dur_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_pre = (
        Window.orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = h.select(
        "dur_days",
        "n_deaths",
        F.sum("n_exit").over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    k = r.select(
        "dur_days",
        "n_at_risk",
        "n_deaths",
        F.expr(
            "(2 * cast(n_deaths as decimal(38,0)) * 1000000 + n_at_risk)"
            " div (2 * cast(n_at_risk as decimal(38,0)))"
        ).alias("haz6"),
    )
    s = k.select(
        "dur_days",
        "n_at_risk",
        "n_deaths",
        "haz6",
        F.sum("haz6").over(w_pre).cast("bigint").alias("ch6"),
    )
    ch = F.col("ch6").cast("double") / 1000000
    return s.select(
        "dur_days",
        "n_at_risk",
        "n_deaths",
        (F.col("haz6").cast("bigint").cast("double") / 1000000).alias(
            "hazard"
        ),
        ch.alias("cum_hazard"),
        F.round(F.exp(-ch), 4).alias("breslow_survival"),
    )


# randomized-response coins: two independent fair bits from md5 hex
# digits (digit < '8' has mass exactly 8/16), replayable in both engines
_RR_D1 = "substring(md5(CAST(c_custkey AS STRING)), 1, 1) < '8'"
_RR_D2 = "substring(md5(CAST(c_custkey AS STRING)), 2, 1) < '8'"


@query(
    "privacy_randomized_response",
    oracle=f"""
    WITH r AS (
      SELECT c_nationkey,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS truth,
             CASE WHEN substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                  ELSE CASE WHEN substring(md5(CAST(c_custkey AS VARCHAR)),
                                           2, 1) < '8'
                            THEN 1 ELSE 0 END
             END AS reported
      FROM customer),
    g AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(reported) AS BIGINT) AS n_reported,
             CAST(SUM(truth) AS BIGINT) AS n_true
      FROM r GROUP BY 1)
    SELECT c_nationkey, n, n_reported,
           {{est}} AS est_rate,
           {{tru}} AS true_rate
    FROM g
    """.format(
        est=hu_ratio_signed_sql(
            "4 * CAST(n_reported AS HUGEINT) - CAST(n AS HUGEINT)",
            "2 * CAST(n AS HUGEINT)", 6),
        tru=hu_ratio_sql("n_true", "n", 6),
    ),
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response over a sensitive binary attribute
    (market segment = BUILDING) per nation: each respondent answers
    truthfully with probability 1/2, otherwise flips an independent
    fair coin — the plausible-deniability collection mechanism — and
    the aggregate debiases via p = 2*p_obs - 1/2, i.e. the EXACT
    integer rational (4*reported - n)/(2n) (signed: small noisy cohorts
    can estimate below zero, which the release keeps rather than
    clamps).  Both coins replay from md5(c_custkey) hex digits
    (mass exactly 8/16 each), so the mechanism — like
    privacy_dp_noisy_histogram — is deterministic for the oracle while
    the true rate rides along for the audit.  Scale shape: one scan,
    one nation-cardinality aggregate; the noise never leaves the
    row."""
    c = load_table(spark, sf_dir, "customer")
    truth = F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
    reported = (
        F.when(F.expr(_RR_D1), truth)
        .otherwise(F.when(F.expr(_RR_D2), 1).otherwise(0))
    )
    g = c.select(
        "c_nationkey",
        truth.alias("truth"),
        reported.alias("reported"),
    ).groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("reported").cast("bigint").alias("n_reported"),
        F.sum("truth").cast("bigint").alias("n_true"),
    )
    return g.select(
        "c_nationkey",
        "n",
        "n_reported",
        hu_ratio_signed(
            "4 * cast(n_reported as decimal(38,0)) - n",
            "2 * cast(n as decimal(38,0))",
            6,
        ).alias("est_rate"),
        hu_ratio("n_true", "n", 6).alias("true_rate"),
    )


# stats_kruskal_wallis' per-group H term, shared verbatim by both
# dialects (operates on columns already cast to double: {r2d} = doubled
# rank sum, {ngd} = group size, {nd} = grand total — DELIMITED
# str.format placeholders so substitution order can never matter;
# bare-identifier .replace tokens were an overlap hazard, 'nd' being a
# substring of 'ngd').  Centered form — the midrank identity
# sum(n_g * rbar_g) = N(N+1)/2 makes
# H = 12/(N(N+1)) * sum n_g (rbar_g - (N+1)/2)^2 exactly — keeps every
# intermediate ~N-sized instead of N^3.  floor onto the declared 1e-4
# grid (correctly-rounded double chain, identical in both engines; the
# round() spelling would be the decimal-half hazard class).
_KW_DEV = "(({r2d} / (2.0 * {ngd})) - (({nd} + 1.0) / 2.0))"
_KW_TERM4 = (
    "floor((((12.0 * {ngd}) * " + _KW_DEV + ") * " + _KW_DEV + ")"
    " / ({nd} * ({nd} + 1.0)) * 10000.0)"
)
# tie-correction factor C = 1 - sum(t^3 - t)/(N^3 - N) on the declared
# 1e-6 floor grid (N^3 only ever exists as a double); callers guard
# the n <= 1 corpus with a lazy CASE (N^3 - N = 0 -> 0/0 NaN, and
# floor(NaN) casts differently per engine)
_KW_C6 = "floor((1.0 - {tied} / (({nd} * {nd}) * {nd} - {nd})) * 1000000.0)"


@query(
    "stats_kruskal_wallis",
    oracle=f"""
    WITH vc AS (
      SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1),
    r AS (
      SELECT v, c,
             CAST(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
               AS BIGINT) AS cum_before
      FROM vc),
    vg AS (
      SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cg
      FROM documents GROUP BY 1, 2),
    grp AS (
      SELECT vg.lang,
             CAST(SUM(vg.cg) AS BIGINT) AS n_g,
             CAST(SUM(CAST(vg.cg AS HUGEINT)
                      * (2 * r.cum_before + r.c + 1)) AS HUGEINT) AS r2
      FROM vg JOIN r ON r.v = vg.v
      GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS tie
      FROM vc),
    terms AS (
      SELECT CAST({_KW_TERM4.format(r2d='CAST(grp.r2 AS DOUBLE)',
                                    ngd='CAST(grp.n_g AS DOUBLE)',
                                    nd='CAST(tot.n AS DOUBLE)')}
                  AS HUGEINT) AS t4
      FROM grp CROSS JOIN tot),
    h AS (SELECT CAST(SUM(t4) AS HUGEINT) AS h4,
                 CAST(COUNT(*) AS BIGINT) AS n_groups
          FROM terms),
    c6t AS (
      SELECT CASE WHEN tot.n <= 1 THEN NULL ELSE
               CAST({_KW_C6.format(tied='CAST(tot.tie AS DOUBLE)',
                                   nd='CAST(tot.n AS DOUBLE)')}
                    AS HUGEINT) END AS c6, tot.n
      FROM tot)
    SELECT h.n_groups, c6t.n,
           CAST(CAST(h.h4 AS BIGINT) AS DOUBLE) / 10000.0 AS h_stat,
           CASE WHEN c6t.c6 > 0 THEN
             CAST(CAST((2 * h.h4 * 100 * 10000 + c6t.c6)
                       // (2 * c6t.c6) AS BIGINT) AS DOUBLE) / 10000.0
           ELSE NULL END AS h_tie_corrected
    FROM h CROSS JOIN c6t
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do document lengths differ in location
    across ALL language strata at once — the k-group generalization of
    stats_mannwhitney_en_lengths (one omnibus rank test instead of
    k-choose-2 pairwise U tests).

    Tie-safe integer core: the doubled midrank 2*cum_before + c + 1 per
    distinct length (the Mann-Whitney value-histogram discipline) makes
    every group's doubled rank sum an exact integer.  H then evaluates
    in its CENTERED form — the midrank identity collapses
    12/(N(N+1))*sum R_g^2/n_g - 3(N+1) to a sum of nonnegative per-group
    deviation terms, keeping intermediates ~N-sized (the naive form
    squares N*n_g, int128-hopeless at corpus scale) — as a
    correctly-rounded double chain floored onto the declared 1e-4 grid
    per group BEFORE the (order-independent) integer sum; the tie
    factor C lands on its own 1e-6 floor grid and the corrected H is
    one exact integer rational of the two grid values (all-ties C = 0
    degenerates to NULL via lazy CASE, and a <=1-row corpus
    short-circuits C itself to NULL before its 0/0 NaN can reach the
    integer cast).  Scale shape: one value
    histogram + one (value, lang) aggregate over the scan; every window
    runs on distinct-lengths rows (output-sized, the Mann-Whitney
    precedent); groups are lang-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    vc = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r = vc.select(
        "v",
        "c",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("cum_before"),
    )
    vg = docs.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("cg")
    )
    grp = (
        vg.join(r, "v")
        .groupBy("lang")
        .agg(
            F.sum("cg").cast("bigint").alias("n_g"),
            F.sum(
                F.expr(
                    "cast(cg as decimal(38,0))"
                    " * (2 * cum_before + c + 1)"
                )
            ).alias("r2"),
        )
    )
    tot = vc.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("cast(c as decimal(38,0)) * c * c - c")).alias("tie"),
    )
    term4 = _KW_TERM4.format(
        r2d="CAST(r2 AS DOUBLE)",
        ngd="CAST(n_g AS DOUBLE)",
        nd="CAST(n AS DOUBLE)",
    )
    terms = grp.crossJoin(F.broadcast(tot)).select(
        F.expr(f"cast({term4} as decimal(38,0))").alias("t4")
    )
    h = terms.agg(
        F.sum("t4").alias("h4"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    c6e = _KW_C6.format(tied="CAST(tie AS DOUBLE)", nd="CAST(n AS DOUBLE)")
    c6t = tot.select(
        F.expr(
            f"CASE WHEN n <= 1 THEN NULL"
            f" ELSE cast({c6e} as decimal(38,0)) END"
        ).alias("c6"),
        "n",
    )
    return h.crossJoin(F.broadcast(c6t)).select(
        "n_groups",
        "n",
        (F.col("h4").cast("bigint").cast("double") / 10000.0).alias(
            "h_stat"
        ),
        F.when(
            F.col("c6") > 0,
            F.expr(
                "cast((2 * h4 * 100 * 10000 + c6) div (2 * c6)"
                " as bigint)"
            ).cast("double")
            / 10000.0,
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("h_tie_corrected"),
    )


# two-sided alpha = 0.05, power = 0.80 normal quantiles, shared Python
# literals (the Benford-literals recipe — no query-time inverse CDF)
_PWR_Z = 1.959964 + 0.841621


def _ab_power_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    bkt = _bucket256_sql("user_id").replace("AS STRING", "AS VARCHAR")
    mean = hu_ratio_sql("m.s", "m.n", 6)
    vs = hu_ratio_sql(
        "CAST(m.n AS HUGEINT) * m.ss - CAST(m.s AS HUGEINT) * m.s",
        "CAST(m.n AS HUGEINT) * (m.n - 1)", 6)
    return f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN {bkt} < 128 THEN 1 ELSE 0 END AS treat,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(SUM(y) AS BIGINT) AS s,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS BIGINT) AS ss
      FROM u)
    SELECT m.n1 AS n_treat, m.n0 AS n_control,
           {mean} AS mean_y,
           CASE WHEN m.n1 = 0 OR m.n0 = 0 OR m.n < 2 THEN NULL
                ELSE {vs} END AS var_samp,
           CASE WHEN m.n1 = 0 OR m.n0 = 0 OR m.n < 2 THEN NULL
                ELSE round({_PWR_Z} * sqrt(
             (CAST(CAST(m.n AS HUGEINT) * m.ss
                   - CAST(m.s AS HUGEINT) * m.s AS DOUBLE)
              / CAST(CAST(m.n AS HUGEINT) * (m.n - 1) AS DOUBLE))
             * (1.0 / CAST(m.n1 AS DOUBLE)
                + 1.0 / CAST(m.n0 AS DOUBLE))), 4) END AS mde_abs
    FROM m
    """


@query("ab_power_mde", oracle=_ab_power_oracle())
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis for the md5-bucket 50/50 assignment
    ab_cuped_readout uses: the minimum detectable effect (absolute, on
    per-user event counts) at alpha = 0.05 two-sided and 80% power —
    MDE = (z_a + z_b) * sqrt(s^2 (1/n_t + 1/n_c)) — the readout that
    says whether an experiment is worth launching BEFORE it runs.

    Determinism: arm sizes and the per-user metric moments are exact
    integers; var_samp renders via the half-up recipe; the MDE itself
    is a correctly-rounded double chain (one rational division, sqrt,
    literal z-multiplier) rounded at 4 per the sqrt-output rule, with
    the z quantiles as shared Python literals (no query-time inverse
    CDF).  Degenerate designs (an empty arm, or n < 2 users) have no
    variance or MDE: both dialects short-circuit var_samp/mde_abs to
    NULL via a lazy CASE before any division.  Headroom: n*ss is the
    stats_moments class (~1e10 users at y ~ 20 before int128 pressure;
    the twopass escape applies).  Scale shape: one user-keyed count
    aggregate, one 1-row moment reduce."""
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    ev = load_table(spark, sf_dir, "events")
    bkt = F.expr(_bucket256_sql("user_id"))
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("y")
    ).select(
        F.when(bkt < 128, 1).otherwise(0).alias("treat"), "y"
    )
    m = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y"))
        .cast("bigint")
        .alias("ss"),
    )
    var_dbl = F.expr(
        "cast(cast(n as decimal(38,0)) * ss - cast(s as decimal(38,0)) * s"
        " as double)"
        " / cast(cast(n as decimal(38,0)) * (n - 1) as double)"
    )
    degen = (F.col("n1") == 0) | (F.col("n0") == 0) | (F.col("n") < 2)
    return m.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_control"),
        hu_ratio("s", "n", 6).alias("mean_y"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio(
                "cast(n as decimal(38,0)) * ss"
                " - cast(s as decimal(38,0)) * s",
                "cast(n as decimal(38,0)) * (n - 1)",
                6,
            )
        )
        .alias("var_samp"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.lit(_PWR_Z)
                * F.sqrt(
                    var_dbl
                    * (1.0 / F.col("n1") + 1.0 / F.col("n0"))
                ),
                4,
            )
        )
        .alias("mde_abs"),
    )


_ADV_TOPK = 20


@query(
    "rl_group_advantage",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS v6
      FROM events),
    g AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v6) AS HUGEINT) AS s6
      FROM v GROUP BY 1),
    adv AS (
      SELECT v.event_id, v.user_id, g.n,
             {hu_ratio_signed_sql(
                 "CAST(v.v6 AS HUGEINT) * g.n - g.s6",
                 "CAST(g.n AS HUGEINT) * 1000000", 6)} AS advantage
      FROM v JOIN g USING (user_id)
      WHERE g.n >= 2)
    SELECT event_id, user_id, CAST(n AS BIGINT) AS group_n, advantage
    FROM adv
    ORDER BY abs(advantage) DESC, user_id, event_id
    LIMIT {_ADV_TOPK}
    """,
)
def rl_group_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage baselines (the GRPO/RLOO reward shape):
    treating each user's event values as a group of sampled rewards for
    one prompt, the advantage of each sample is its reward minus the
    group mean — the variance-reduced signal an RL-from-feedback
    pipeline feeds the policy gradient instead of raw rewards.  Readout:
    the {_ADV_TOPK} largest-|advantage| samples (the pairs a reward-model
    audit reads first), singleton groups dropped (their advantage is
    identically zero and carries no gradient).

    Determinism: rewards quantize to exact 1e-6 integers (the decimal
    cast is lossless for the stored 6-decimal values), the group mean
    never materializes — advantage = (v6*n - sum6)/(n*10^6) is ONE
    exact signed rational per row — and the top-k orders by the
    rendered value with (user_id, event_id) tie-break through a
    TakeOrdered.  Scale shape: one user-keyed aggregate, one broadcast-
    able stats join back onto the stream, no window over the data."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        F.expr(
            "cast(cast(value as decimal(18,6)) * 1000000 as decimal(38,0))"
        ).alias("v6"),
    )
    g = v.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v6").alias("s6"),
    )
    adv = (
        v.join(g, "user_id")
        .filter(F.col("n") >= 2)
        .select(
            "event_id",
            "user_id",
            F.col("n").cast("bigint").alias("group_n"),
            hu_ratio_signed(
                "v6 * n - s6", "cast(n as decimal(38,0)) * 1000000", 6
            ).alias("advantage"),
        )
    )
    return adv.orderBy(
        F.abs(F.col("advantage")).desc(), "user_id", "event_id"
    ).limit(_ADV_TOPK)


_PERM_R = 16  # md5-replayable permutation replicas


def _ab_permutation_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    obs = _bucket256_sql("user_id").replace("AS STRING", "AS VARCHAR")
    rep = _bucket256_sql("user_id || ':' || r").replace(
        "AS STRING", "AS VARCHAR"
    )
    return f"""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS y,
             CASE WHEN {obs} < 128 THEN 1 ELSE 0 END AS t0
      FROM events GROUP BY 1, 3),
    o AS (
      SELECT CAST(SUM(CASE WHEN t0 = 1 THEN y ELSE 0 END) AS HUGEINT)
               AS syt,
             CAST(SUM(CASE WHEN t0 = 0 THEN y ELSE 0 END) AS HUGEINT)
               AS syc,
             CAST(SUM(t0) AS HUGEINT) AS nt,
             CAST(COUNT(*) - SUM(t0) AS HUGEINT) AS nc
      FROM u),
    reps AS (
      SELECT r.r,
             CAST(SUM(CASE WHEN {rep} < 128 THEN u.y ELSE 0 END)
                  AS HUGEINT) AS syt,
             CAST(SUM(CASE WHEN {rep} < 128 THEN 0 ELSE u.y END)
                  AS HUGEINT) AS syc,
             CAST(SUM(CASE WHEN {rep} < 128 THEN 1 ELSE 0 END)
                  AS HUGEINT) AS nt,
             CAST(SUM(CASE WHEN {rep} < 128 THEN 0 ELSE 1 END)
                  AS HUGEINT) AS nc
      FROM u CROSS JOIN (SELECT unnest(range(1, {_PERM_R} + 1)) AS r) r
      GROUP BY r.r),
    hits AS (
      SELECT CAST(SUM(CASE WHEN reps.nt = 0 OR reps.nc = 0 THEN 1
                  WHEN abs(reps.syt * reps.nc - reps.syc * reps.nt)
                         * (o.nt * o.nc)
                       >= abs(o.syt * o.nc - o.syc * o.nt)
                         * (reps.nt * reps.nc)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM reps CROSS JOIN o)
    SELECT CAST(o.nt AS BIGINT) AS n_treat,
           CAST(o.nc AS BIGINT) AS n_control,
           {hu_ratio_signed_sql("o.syt * o.nc - o.syc * o.nt",
                                "o.nt * o.nc", 6)} AS observed_diff,
           hits.n_extreme,
           {hu_ratio_sql("(1 + hits.n_extreme) * 1",
                         f"CAST({_PERM_R + 1} AS HUGEINT)", 6)} AS p_value
    FROM o CROSS JOIN hits
    """


@query("ab_permutation_test", oracle=_ab_permutation_oracle())
def ab_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replayable permutation test for the md5-bucket A/B assignment:
    re-randomize every user {_PERM_R} times from md5(user:r), recompute
    the treatment-control mean gap under each null assignment, and
    report the add-one-smoothed p-value — the distribution-free
    significance readout beside ab_power_mde and ab_cuped_readout (no
    normality assumption, no variance formula; the test statistic's
    null distribution is the data's own).

    Determinism: the observed and replica mean gaps never materialize
    as floats — the extremeness comparison |d_r| >= |d_obs| is the
    CROSS-MULTIPLIED integer compare of the two rationals (both
    denominators positive; an all-one-side degenerate replica counts
    extreme via a lazy guard), and the p-value is the exact rational
    (1 + extreme)/(R + 1).  The replica fan-out is a literal
    {_PERM_R}-row explode over the user rollup — the generalization
    sweep's one-scan discipline — so events are scanned ONCE at any
    scale; headroom syt*nc ~ (sum y)*n stays within int128 to ~1e15
    users.  The fixed replica count trades p-value resolution (floor
    1/{_PERM_R + 1}) for a bounded, replayable plan — raise R for a
    finer floor, cost is linear."""
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    ev = load_table(spark, sf_dir, "events")
    obs = F.expr(_bucket256_sql("user_id"))
    u = pin(ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("y")
    ).select(
        "user_id", "y", F.when(obs < 128, 1).otherwise(0).alias("t0")
    ))  # observed arms + 16 replicas read it
    o = u.agg(
        F.sum(F.when(F.col("t0") == 1, F.col("y")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("syt"),
        F.sum(F.when(F.col("t0") == 0, F.col("y")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("syc"),
        F.sum("t0").cast("decimal(38,0)").alias("nt"),
        (F.count("*") - F.sum("t0")).cast("decimal(38,0)").alias("nc"),
    )
    rep_bkt = F.expr(
        _bucket256_sql("user_id || ':' || r")
    )
    reps = (
        u.select(
            "user_id",
            "y",
            F.explode(
                F.array(*[F.lit(i) for i in range(1, _PERM_R + 1)])
            ).alias("r"),
        )
        .select(
            "r",
            "y",
            F.when(rep_bkt < 128, 1).otherwise(0).alias("tr"),
        )
        .groupBy("r")
        .agg(
            F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("syt"),
            F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("syc"),
            F.sum("tr").cast("decimal(38,0)").alias("nt"),
            F.sum(F.when(F.col("tr") == 0, 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias("nc"),
        )
    )
    ob = o.select(
        F.col("syt").alias("osyt"),
        F.col("syc").alias("osyc"),
        F.col("nt").alias("ont"),
        F.col("nc").alias("onc"),
    )
    hits = reps.crossJoin(F.broadcast(ob)).agg(
        F.sum(
            F.when(
                (F.col("nt") == 0) | (F.col("nc") == 0), 1
            ).when(
                F.expr(
                    "abs(syt * nc - syc * nt) * (ont * onc)"
                    " >= abs(osyt * onc - osyc * ont) * (nt * nc)"
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme")
    )
    return (
        o.crossJoin(F.broadcast(hits))
        .select(
            F.col("nt").cast("bigint").alias("n_treat"),
            F.col("nc").cast("bigint").alias("n_control"),
            hu_ratio_signed(
                "syt * nc - syc * nt", "nt * nc", 6
            ).alias("observed_diff"),
            "n_extreme",
            hu_ratio(
                "(1 + n_extreme) * 1",
                f"cast({_PERM_R + 1} as decimal(38,0))",
                6,
            ).alias("p_value"),
        )
    )


def _fd_oracle() -> str:
    def fd(name, table, lhs, rhs):
        return f"""
    SELECT '{name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           {hu_ratio_sql("SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)",
                         "COUNT(*)", 6)} AS violation_rate
    FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd
          FROM {table} GROUP BY {lhs})"""

    return " UNION ALL ".join(
        [
            fd("nation->mktsegment", "customer", "c_nationkey",
               "c_mktsegment"),
            fd("orderkey->returnflag", "lineitem", "l_orderkey", "l_returnflag"),
            fd("regionkey->nationname", "nation", "n_regionkey", "n_name"),
            fd("custkey->orderstatus", "orders", "o_custkey",
               "o_orderstatus"),
        ]
    ) + " ORDER BY fd"


@query("dq_functional_dependency_audit", oracle=_fd_oracle())
def dq_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the data-profiling pass that tests
    whether candidate column determinacies actually hold (the input to
    normalization, dedup-key design, and "can this column be derived"
    decisions): for four declared LHS -> RHS candidates, the share of
    LHS groups whose RHS is not single-valued.

    Each candidate is one map-side-combinable (LHS, distinct-RHS)
    aggregate on its own table — the violation test never materializes
    the violating rows, only group counters — and the four audits
    union into a constant 4-row readout with exact integer counts and
    half-up-rendered rates.  At 100 TB this is the same profile shape
    dq_profile_orders uses: group cardinality bounds the exchange, not
    table size."""
    parts = []
    for name, table, lhs, rhs in [
        ("nation->mktsegment", "customer", "c_nationkey", "c_mktsegment"),
        ("orderkey->returnflag", "lineitem", "l_orderkey", "l_returnflag"),
        ("regionkey->nationname", "nation", "n_regionkey", "n_name"),
        ("custkey->orderstatus", "orders", "o_custkey", "o_orderstatus"),
    ]:
        t = load_table(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        parts.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count("*").cast("bigint").alias("n_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating"),
                hu_ratio(
                    "sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)",
                    "count(*)",
                    6,
                ).alias("violation_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("fd")


@query(
    "dq_id_gap_audit",
    oracle=f"""
    SELECT 'orders' AS tbl,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_id,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_id,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1
                - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_missing,
           {hu_ratio_sql(
               "COUNT(DISTINCT o_orderkey)",
               "MAX(o_orderkey) - MIN(o_orderkey) + 1", 6)} AS density
    FROM orders
    UNION ALL
    SELECT 'customer',
           CAST(MIN(c_custkey) AS BIGINT),
           CAST(MAX(c_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(MAX(c_custkey) - MIN(c_custkey) + 1
                - COUNT(DISTINCT c_custkey) AS BIGINT),
           {hu_ratio_sql(
               "COUNT(DISTINCT c_custkey)",
               "MAX(c_custkey) - MIN(c_custkey) + 1", 6)}
    FROM customer
    UNION ALL
    SELECT 'part',
           CAST(MIN(p_partkey) AS BIGINT),
           CAST(MAX(p_partkey) AS BIGINT),
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
           CAST(MAX(p_partkey) - MIN(p_partkey) + 1
                - COUNT(DISTINCT p_partkey) AS BIGINT),
           {hu_ratio_sql(
               "COUNT(DISTINCT p_partkey)",
               "MAX(p_partkey) - MIN(p_partkey) + 1", 6)}
    FROM part
    ORDER BY tbl
    """,
)
def dq_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key continuity audit: for each id-keyed table, the gap
    count (span minus distinct ids) and density — the ingest-health
    readout that catches dropped batches and partial loads (a dense id
    column that suddenly shows holes means an upstream writer lost
    rows).  Three single-aggregate scans with exact integer span
    arithmetic and half-up-rendered densities; nothing but six
    counters per table crosses the wire at any scale."""
    rows = []
    for tbl, key in [
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
    ]:
        t = load_table(spark, sf_dir, tbl)
        rows.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.min(key).cast("bigint").alias("min_id"),
                F.max(key).cast("bigint").alias("max_id"),
                F.countDistinct(key).cast("bigint").alias("n_distinct"),
                (
                    F.max(key) - F.min(key) + 1 - F.countDistinct(key)
                )
                .cast("bigint")
                .alias("n_missing"),
                hu_ratio(
                    f"count(DISTINCT {key})",
                    f"max({key}) - min({key}) + 1",
                    6,
                ).alias("density"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("tbl")


# --------------------------------------------- paired / k-group rank tests


@query(
    "stats_wilcoxon_signed_rank",
    oracle=f"""
    WITH b AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      FROM events),
    u AS (
      SELECT e.user_id,
             CAST(2 * SUM(CASE WHEN epoch_us(e.ts) <= b.mid
                          THEN 1 ELSE 0 END)
                  - COUNT(*) AS BIGINT) AS d
      FROM events e CROSS JOIN b GROUP BY e.user_id, b.mid),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
    nz AS (SELECT abs(d) AS a,
                  CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
           FROM u WHERE d <> 0),
    vc AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(SUM(pos) AS BIGINT) AS cpos
           FROM nz GROUP BY 1),
    r AS (SELECT a, c, cpos,
                 CAST(SUM(c) OVER (ORDER BY a
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                   AS BIGINT) AS cum_before
          FROM vc),
    m AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_nz,
                 CAST(COALESCE(SUM(CAST(cpos AS HUGEINT)
                        * (2 * cum_before + c + 1)), 0) AS HUGEINT) AS w2p
          FROM r)
    SELECT t.n_users, m.n_nz AS n_nonzero,
           CAST(m.w2p AS BIGINT) AS w2_plus,
           CASE WHEN m.n_nz = 0 THEN NULL ELSE
             {hu_ratio_sql("m.w2p", "CAST(m.n_nz AS HUGEINT) * (m.n_nz + 1)",
                           6)} END AS rank_share,
           CASE WHEN m.n_nz = 0 THEN NULL
                ELSE 2 * m.w2p > CAST(m.n_nz AS HUGEINT) * (m.n_nz + 1)
           END AS shift_early
    FROM t CROSS JOIN m
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user activity: each
    user's event count in the first calendar half of the data vs the
    second half (the before/after pairing of a launch readout).  The
    within-subject complement to stats_mannwhitney_en_lengths (two
    independent samples) and stats_kruskal_wallis (k groups): here the
    pairing removes between-user variance entirely.

    Determinism: the paired difference d = 2*early - total is an exact
    integer per user (the calendar midpoint is an integer epoch_us
    div); zero differences drop per the classic Wilcoxon rule; |d|
    ranks come from the doubled-midrank value histogram (the
    Mann-Whitney discipline), so the positive-rank sum W+ is exact —
    reported doubled (w2_plus) to stay integer under midrank halves.
    rank_share = W+/(n(n+1)/2) and the direction flag are the same
    rational via the half-up render / a cross-multiplied compare; an
    all-zero-difference corpus renders both NULL via lazy CASE.
    Headroom: w2p <= n^2 (int64 readout safe to ~3e9 nonzero pairs;
    rank_share itself renders through int128 far beyond).  Scale
    shape: one scan + one 1-row midpoint reduce broadcast back, one
    user-keyed aggregate, then windows only over the distinct-|d|
    histogram (output-sized)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            .cast("bigint")
        ).alias("mm")
    ).select(F.expr("mm div 2").alias("mid"))
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            (
                2
                * F.sum(
                    F.when(
                        F.unix_micros("ts") <= F.col("mid"), 1
                    ).otherwise(0)
                )
                - F.count("*")
            )
            .cast("bigint")
            .alias("d")
        )
    )
    t = u.agg(F.count("*").cast("bigint").alias("n_users"))
    nz = u.filter(F.col("d") != 0).select(
        F.abs("d").alias("a"),
        F.when(F.col("d") > 0, 1).otherwise(0).alias("pos"),
    )
    vc = nz.groupBy("a").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("pos").cast("bigint").alias("cpos"),
    )
    w = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, 0)
    r = vc.select(
        "a",
        "c",
        "cpos",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("cum_before"),
    )
    m = r.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_nz"),
        F.coalesce(
            F.sum(
                F.expr(
                    "cast(cpos as decimal(38,0)) * (2 * cum_before + c + 1)"
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("w2p"),
    )
    return t.crossJoin(F.broadcast(m)).select(
        "n_users",
        F.col("n_nz").alias("n_nonzero"),
        F.col("w2p").cast("bigint").alias("w2_plus"),
        F.when(F.col("n_nz") == 0, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio("w2p", "cast(n_nz as decimal(38,0)) * (n_nz + 1)", 6)
        )
        .alias("rank_share"),
        F.when(F.col("n_nz") == 0, F.lit(None).cast("boolean"))
        .otherwise(
            F.expr("2 * w2p > cast(n_nz as decimal(38,0)) * (n_nz + 1)")
        )
        .alias("shift_early"),
    )


def _friedman_oracle() -> str:
    chi2 = hu_ratio_sql(
        "3 * (mm.sq - CAST(nn.n AS HUGEINT) * nn.n * mm.k"
        " * (mm.k + 1) * (mm.k + 1))",
        "CAST(nn.n AS HUGEINT) * mm.k * (mm.k + 1)", 6)
    kw = hu_ratio_sql(
        "3 * (mm.sq - CAST(nn.n AS HUGEINT) * nn.n * mm.k"
        " * (mm.k + 1) * (mm.k + 1))",
        "CAST(nn.n AS HUGEINT) * nn.n * mm.k * (mm.k + 1) * (mm.k - 1)", 6)
    return f"""
    WITH tc AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    ty AS (SELECT DISTINCT event_type FROM events),
    us AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT us.user_id, ty.event_type, COALESCE(tc.cnt, 0) AS cnt
      FROM us CROSS JOIN ty
      LEFT JOIN tc USING (user_id, event_type)),
    vc AS (SELECT user_id, cnt, CAST(COUNT(*) AS BIGINT) AS c
           FROM grid GROUP BY 1, 2),
    rr AS (SELECT user_id, cnt, c,
                 CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY cnt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                   AS BIGINT) AS cum_before
           FROM vc),
    gr AS (
      SELECT g.event_type,
             CAST(SUM(2 * rr.cum_before + rr.c + 1) AS HUGEINT) AS r2
      FROM grid g JOIN rr ON rr.user_id = g.user_id AND rr.cnt = g.cnt
      GROUP BY 1),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS sq
           FROM gr),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM us)
    SELECT nn.n AS n_users, mm.k AS k_types,
           CASE WHEN nn.n = 0 OR mm.k < 2 THEN NULL ELSE {chi2} END
             AS chi2_friedman,
           CASE WHEN nn.n = 0 OR mm.k < 2 THEN NULL ELSE {kw} END
             AS kendall_w
    FROM nn CROSS JOIN mm
    """


@query("stats_friedman_test", oracle=_friedman_oracle())
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do event TYPES differ in per-user frequency,
    treating each user as a block — the within-block k-treatment rank
    test completing the nonparametric bank (Mann-Whitney: 2 independent
    groups; Kruskal-Wallis: k independent groups; Wilcoxon: 2 paired;
    Friedman: k paired).  Blocks are users, treatments are the event
    types, the response is the user's count of that type (zero-filled
    over the users x types grid so every block ranks all k types).

    Determinism: within-block midranks come from the per-user value
    histogram (doubled midrank 2*cum_before + c + 1 — exact integers
    even under ties, and the per-block window partitions BY USER so it
    scales); with doubled rank sums R2_j = 2*R_j the identity
    sum_j R2_j = n*k*(k+1) collapses the statistic to
    chi2_F = 3*(sum_j R2_j^2 - n^2 k (k+1)^2) / (n k (k+1)) — ONE
    exact nonnegative rational (Cauchy-Schwarz bounds the numerator at
    zero), with Kendall's W = chi2_F/(n(k-1)) sharing the numerator.
    No tie-correction factor is applied (midranks already absorb ties
    into the rank sums; the classic correction only rescales — declared
    out of scope).  n = 0 or k < 2 renders NULL via lazy CASE.
    Headroom: R2_j <= 2nk so sum R2_j^2 <= 4 n^2 k^3 — int128-safe past
    1e12 users at k <= 100.  Scale shape: one (user, type) count, a
    users x k zero-fill grid (k is type-cardinality), user-partitioned
    histogram windows, one k-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    ty = ev.select("event_type").distinct()
    us = ev.select("user_id").distinct()
    grid = (
        us.crossJoin(F.broadcast(ty))
        .join(tc, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    vc = grid.groupBy("user_id", "cnt").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rr = vc.select(
        "user_id",
        "cnt",
        "c",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("cum_before"),
    )
    gr = (
        grid.join(rr, ["user_id", "cnt"])
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("cast(2 * cum_before + c + 1 as decimal(38,0))"))
            .alias("r2")
        )
    )
    mm = gr.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.expr("r2 * r2")).cast("decimal(38,0)").alias("sq"),
    )
    nn = us.agg(F.count("*").cast("bigint").alias("n"))
    degen = (F.col("n") == 0) | (F.col("k") < 2)
    num = (
        "3 * (sq - cast(n as decimal(38,0)) * n * k"
        " * (k + 1) * (k + 1))"
    )
    return nn.crossJoin(F.broadcast(mm)).select(
        F.col("n").alias("n_users"),
        F.col("k").alias("k_types"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio(num, "cast(n as decimal(38,0)) * k * (k + 1)", 6)
        )
        .alias("chi2_friedman"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio(
                num,
                "cast(n as decimal(38,0)) * n * k * (k + 1) * (k - 1)",
                6,
            )
        )
        .alias("kendall_w"),
    )


def _brown_forsythe_oracle() -> str:
    mad = hu_ratio_sql("f.s", "2 * f.n", 6)
    fstat = hu_ratio_signed_sql(
        "(f.n - f.k) * (f.sq6 - f.t6)",
        "(f.k - 1) * (f.sst * 1000000 - f.sq6)", 6)
    return f"""
    WITH vc AS (
      SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2),
    ng AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_g FROM vc GROUP BY 1),
    cc AS (SELECT lang, v, c,
                 CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
           FROM vc),
    med AS (
      SELECT cc.lang,
             MIN(CASE WHEN cc.cum >= (ng.n_g + 1) // 2 THEN cc.v END)
             + MIN(CASE WHEN cc.cum >= (ng.n_g + 2) // 2 THEN cc.v END)
               AS med2
      FROM cc JOIN ng USING (lang) GROUP BY 1),
    z AS (SELECT vc.lang, vc.c, abs(2 * vc.v - med.med2) AS z2
          FROM vc JOIN med USING (lang)),
    gs AS (
      SELECT lang,
             CAST(SUM(CAST(c AS HUGEINT) * z2) AS HUGEINT) AS s_g,
             CAST(SUM(CAST(c AS HUGEINT) * z2 * z2) AS HUGEINT) AS ss_g,
             CAST(SUM(c) AS BIGINT) AS n_g
      FROM z GROUP BY 1),
    q AS (SELECT lang, n_g, s_g, ss_g,
                 (2 * s_g * s_g * 1000000 + n_g)
                   // (2 * CAST(n_g AS HUGEINT)) AS q6
          FROM gs),
    tot AS (
      SELECT CAST(SUM(n_g) AS HUGEINT) AS n,
             CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(s_g) AS HUGEINT) AS s,
             CAST(SUM(ss_g) AS HUGEINT) AS sst,
             CAST(SUM(q6) AS HUGEINT) AS sq6
      FROM q),
    f AS (SELECT n, k, s, sst, sq6,
                 (2 * s * s * 1000000 + n) // (2 * n) AS t6
          FROM tot)
    SELECT CAST(f.n AS BIGINT) AS n_docs, CAST(f.k AS BIGINT) AS k_groups,
           {mad} AS mean_abs_dev,
           CASE WHEN f.k < 2 OR f.n <= f.k
                     OR f.sst * 1000000 - f.sq6 <= 0 THEN NULL
                ELSE {fstat} END AS f_bf
    FROM f
    """


@query("stats_brown_forsythe", oracle=_brown_forsythe_oracle())
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across language strata:
    the one-way ANOVA F statistic on |x - median_group| deviations of
    document lengths — the robust Levene variant, and the
    heteroscedasticity gate one runs BEFORE trusting a k-group location
    test (Kruskal-Wallis assumes similar dispersion under the null).

    Determinism: the per-group median of integer lengths is carried
    DOUBLED (med2 = lower + upper order statistic, always an exact
    integer off the per-lang value histogram's cumulative counts), so
    every deviation z2 = |2x - med2| is an exact integer and the
    doubling cancels in the F ratio.  The per-group mean-square term
    S_g^2/n_g lands on a DECLARED 1e-6 half-up grid (q6, an integer
    rational render — the declared-quantization escape, engine-identical
    by construction); SSB and SSW are then integer differences of grid
    values and F is one signed rational (signed because quantization
    can push a true-zero SSB a hair negative).  Degenerate designs —
    k < 2, n <= k, or SSW <= 0 on the grid (all deviations equal
    within every group) — render NULL via lazy CASE.  Headroom:
    S_g^2 * 1e6 wraps int128 at ~1e10 rows/group at TPC-H text
    magnitudes (z2 ~ 2e4); past that, drop to the 1e-4 grid or shard
    the mean-square two-pass (the stats_covar_twopass escape).  Scale
    shape: everything beyond one scan runs on the per-lang
    distinct-length histogram (output-sized; windows partition by
    lang), then a k-row reduce."""
    docs = load_table(spark, sf_dir, "documents")
    vc = docs.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    ng = vc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n_g"))
    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cc = vc.select(
        "lang", "v", "c", F.sum("c").over(w).cast("bigint").alias("cum")
    )
    med = (
        cc.join(ng, "lang")
        .groupBy("lang")
        .agg(
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.expr("(n_g + 1) div 2"), F.col("v")
                    )
                )
                + F.min(
                    F.when(
                        F.col("cum") >= F.expr("(n_g + 2) div 2"), F.col("v")
                    )
                )
            ).alias("med2")
        )
    )
    z = vc.join(med, "lang").select(
        "lang", "c", F.abs(2 * F.col("v") - F.col("med2")).alias("z2")
    )
    gs = z.groupBy("lang").agg(
        F.sum(F.expr("cast(c as decimal(38,0)) * z2")).alias("s_g"),
        F.sum(F.expr("cast(c as decimal(38,0)) * z2 * z2")).alias("ss_g"),
        F.sum("c").cast("bigint").alias("n_g"),
    )
    q = gs.select(
        "n_g",
        "s_g",
        "ss_g",
        F.expr(
            "(2 * s_g * s_g * 1000000 + n_g)"
            " div (2 * cast(n_g as decimal(38,0)))"
        ).alias("q6"),
    )
    tot = q.agg(
        F.sum("n_g").cast("decimal(38,0)").alias("n"),
        F.count("*").cast("decimal(38,0)").alias("k"),
        F.sum("s_g").cast("decimal(38,0)").alias("s"),
        F.sum("ss_g").cast("decimal(38,0)").alias("sst"),
        F.sum("q6").cast("decimal(38,0)").alias("sq6"),
    )
    f = tot.select(
        "n",
        "k",
        "s",
        "sst",
        "sq6",
        F.expr("(2 * s * s * 1000000 + n) div (2 * n)").alias("t6"),
    )
    return f.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("k").cast("bigint").alias("k_groups"),
        hu_ratio("s", "2 * n", 6).alias("mean_abs_dev"),
        F.when(
            (F.col("k") < 2)
            | (F.col("n") <= F.col("k"))
            | (F.expr("sst * 1000000 - sq6") <= 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            hu_ratio_signed(
                "(n - k) * (sq6 - t6)",
                "(k - 1) * (sst * 1000000 - sq6)",
                6,
            )
        )
        .alias("f_bf"),
    )


_FDR_R = 16  # md5-replayable random-split replicas per hypothesis
_FDR_ALPHA_BP = 10  # alpha = 0.10, carried as the integer 10/100


def _bh_fdr_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    bkt = _bucket256_sql(
        "d.doc_id || ':' || ls.lang || ':' || r.r"
    ).replace("AS STRING", "AS VARCHAR")
    pv = hu_ratio_sql("pv.knum", f"CAST({_FDR_R + 1} AS HUGEINT)", 6)
    return f"""
    WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
    ls AS (SELECT DISTINCT lang FROM d),
    obs AS (SELECT lang, CAST(SUM(n_chars) AS HUGEINT) AS s1,
                   CAST(COUNT(*) AS HUGEINT) AS n1
            FROM d GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_chars) AS HUGEINT) AS s,
                   CAST(COUNT(*) AS HUGEINT) AS n
            FROM d),
    o AS (SELECT obs.lang, obs.s1, obs.n1,
                 tot.s - obs.s1 AS s0, tot.n - obs.n1 AS n0
          FROM obs CROSS JOIN tot),
    reps AS (
      SELECT ls.lang, r.r,
             CAST(SUM(CASE WHEN {bkt} < 128 THEN d.n_chars ELSE 0 END)
                  AS HUGEINT) AS s1,
             CAST(SUM(CASE WHEN {bkt} < 128 THEN 1 ELSE 0 END)
                  AS HUGEINT) AS n1,
             CAST(SUM(CASE WHEN {bkt} < 128 THEN 0 ELSE d.n_chars END)
                  AS HUGEINT) AS s0,
             CAST(SUM(CASE WHEN {bkt} < 128 THEN 0 ELSE 1 END)
                  AS HUGEINT) AS n0
      FROM d CROSS JOIN ls
      CROSS JOIN (SELECT unnest(range(1, {_FDR_R + 1})) AS r) r
      GROUP BY 1, 2),
    hits AS (
      SELECT reps.lang,
             CAST(SUM(CASE WHEN reps.n1 = 0 OR reps.n0 = 0 THEN 1
                  WHEN abs(reps.s1 * reps.n0 - reps.s0 * reps.n1)
                         * (o.n1 * o.n0)
                       >= abs(o.s1 * o.n0 - o.s0 * o.n1)
                         * (reps.n1 * reps.n0)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM reps JOIN o USING (lang) GROUP BY 1),
    pv AS (
      SELECT hits.lang, o.n1, 1 + hits.n_extreme AS knum,
             ROW_NUMBER() OVER (ORDER BY hits.n_extreme, hits.lang) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM hits JOIN o USING (lang)),
    istar AS (
      SELECT COALESCE(MAX(CASE WHEN 100 * m * knum
                                    <= {(_FDR_R + 1) * _FDR_ALPHA_BP} * i
                          THEN i END), 0) AS ix
      FROM pv)
    SELECT pv.lang, CAST(pv.n1 AS BIGINT) AS n_docs,
           CAST(pv.knum AS BIGINT) AS p_num,
           {pv} AS p_value,
           CAST(pv.i AS BIGINT) AS p_rank,
           pv.i <= istar.ix AS rejected
    FROM pv CROSS JOIN istar
    """


@query("stats_bh_fdr_permutation", oracle=_bh_fdr_oracle())
def stats_bh_fdr_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of per-language
    hypotheses — "does this language's mean document length differ
    from the rest of the corpus?" — the multiple-testing step every
    per-stratum audit needs before acting on its smallest p-value.
    Each hypothesis gets an md5-replayable randomization test (the
    ab_permutation_test discipline: 16 random 50/50 splits per
    hypothesis, lang-salted so the replicas are independent across
    hypotheses), then BH step-up at alpha = 0.10 rejects the
    largest-i prefix of the p-sorted list with p_(i) <= i*alpha/m.

    DECLARED NULL MODEL (round-12 ADVICE): the replicas are
    ~50/50 RANDOMIZATION splits, NOT size-preserving label
    permutations — for a small stratum (n1 << n/2) the replica
    mean-gap variance sits below the true permutation null, biasing
    these p-values toward significance.  This is an approximate 50/50
    randomization GATE (a screening readout for the BH machinery),
    not a calibrated permutation test; conditioning each replica on
    the observed (n1, n0) would need a per-(lang, replica) hash-rank
    top-n1 selection — a corpus-sized sort per replica that the
    screening use-case doesn't justify.

    Determinism: every p-value is the exact rational
    (1 + extreme)/17 with a SHARED integer denominator, so the
    BH ordering is an integer sort on (n_extreme, lang) and the step-up
    condition p_(i) <= i*alpha/m, i.e. k_i/17 <= i*10/(100*m), clears
    to the cross-multiplied integer compare 100*m*k_i <= 170*i — no
    float p, no float alpha anywhere (an earlier spelling multiplied
    the wrong side by 100, a 100x-too-loose gate that rejected every
    hypothesis at m <= 10; caught by the pure-Python recount pin, the
    exact failure class shared templates hide from the oracle); replica
    extremeness is the cross-multiplied |mean-gap| compare with empty
    arms counted extreme (the permutation precedent).  Headroom: the
    extremeness cross-product carries ~N^4 * charscale — int128 to
    ~3e8 docs; past that quantize the gaps onto a declared grid before
    comparing.  Scale shape: ONE documents scan fanned to
    m*16 (lang, replica) partial aggregates (map-side combinable;
    the scan is repartitioned first so the md5 fan-out never rides a
    single parquet split); the BH rank runs on the m-row p-value frame
    (lang-cardinality, adjudicated constant-size)."""
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", "n_chars").repartition(
        spark.sparkContext.defaultParallelism
    )
    ls = d.select("lang").distinct().select(F.col("lang").alias("lang_h"))
    obs = d.groupBy("lang").agg(
        F.sum("n_chars").cast("decimal(38,0)").alias("s1"),
        F.count("*").cast("decimal(38,0)").alias("n1"),
    )
    tot = d.agg(
        F.sum("n_chars").cast("decimal(38,0)").alias("s"),
        F.count("*").cast("decimal(38,0)").alias("n"),
    )
    o = obs.crossJoin(F.broadcast(tot)).select(
        "lang",
        "s1",
        "n1",
        (F.col("s") - F.col("s1")).alias("s0"),
        (F.col("n") - F.col("n1")).alias("n0"),
    )
    bkt = F.expr(_bucket256_sql("doc_id || ':' || lang_h || ':' || r"))
    reps = (
        d.crossJoin(F.broadcast(ls))
        .select(
            "doc_id",
            "lang_h",
            "n_chars",
            F.explode(F.sequence(F.lit(1), F.lit(_FDR_R))).alias("r"),
        )
        .select(
            "lang_h",
            "r",
            "n_chars",
            F.when(bkt < 128, 1).otherwise(0).alias("t"),
        )
        .groupBy("lang_h", "r")
        .agg(
            F.sum(F.when(F.col("t") == 1, F.col("n_chars")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("rs1"),
            F.sum("t").cast("decimal(38,0)").alias("rn1"),
            F.sum(F.when(F.col("t") == 0, F.col("n_chars")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("rs0"),
            F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias("rn0"),
        )
    )
    hits = (
        reps.join(o, reps.lang_h == o.lang)
        .groupBy("lang")
        .agg(
            F.sum(
                F.when((F.col("rn1") == 0) | (F.col("rn0") == 0), 1)
                .when(
                    F.abs(
                        F.col("rs1") * F.col("rn0")
                        - F.col("rs0") * F.col("rn1")
                    )
                    * (F.col("n1") * F.col("n0"))
                    >= F.abs(
                        F.col("s1") * F.col("n0")
                        - F.col("s0") * F.col("n1")
                    )
                    * (F.col("rn1") * F.col("rn0")),
                    1,
                )
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme")
        )
    )
    wbh = Window.orderBy("n_extreme", "lang")
    pvf = (
        hits.join(o.select("lang", "n1"), "lang")
        .withColumn("knum", 1 + F.col("n_extreme"))
        .withColumn("i", F.row_number().over(wbh))
        .withColumn(
            "m", F.count("*").over(Window.partitionBy()).cast("bigint")
        )
    )
    istar = pvf.agg(
        F.coalesce(
            F.max(
                F.when(
                    100 * F.col("m") * F.col("knum")
                    <= (_FDR_R + 1) * _FDR_ALPHA_BP * F.col("i"),
                    F.col("i"),
                )
            ),
            F.lit(0),
        ).alias("ix")
    )
    return pvf.crossJoin(F.broadcast(istar)).select(
        "lang",
        F.col("n1").cast("bigint").alias("n_docs"),
        F.col("knum").cast("bigint").alias("p_num"),
        hu_ratio("knum", f"cast({_FDR_R + 1} as decimal(38,0))", 6).alias(
            "p_value"
        ),
        F.col("i").cast("bigint").alias("p_rank"),
        (F.col("i") <= F.col("ix")).alias("rejected"),
    )


# signed half-up integer render of a 1e-6-scaled sum / count (shared by
# both dialects after {s}/{n}/{div} substitution) — the prediction-grid
# quantizer for eval_regression_rmse_r2
_REG_P6 = (
    "CASE WHEN {n} = 0 OR {n} IS NULL THEN NULL"
    " WHEN {s} >= 0 THEN (2 * {s} + {n}) {div} (2 * {n})"
    " ELSE -((2 * -({s}) + {n}) {div} (2 * {n})) END"
)


def _regression_oracle() -> str:
    p6 = _REG_P6.format(s="tr.s6", n="tr.n", div="//")
    p6g = _REG_P6.format(s="gt.s6", n="gt.n", div="//")
    m6 = _REG_P6.format(s="tm.s6", n="tm.n", div="//")
    mae = hu_ratio_sql("a.sae", "a.n_test * 1000000", 6)
    r2 = hu_ratio_signed_sql("a.ss_tot - a.ss_res", "a.ss_tot", 6)
    return f"""
    WITH v AS (
      SELECT event_id, hour(ts) AS h,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6
      FROM events),
    tr AS (SELECT h, CAST(SUM(v6) AS HUGEINT) AS s6,
                  CAST(COUNT(*) AS HUGEINT) AS n
           FROM v WHERE event_id % 2 = 0 GROUP BY 1),
    gt AS (SELECT CAST(SUM(s6) AS HUGEINT) AS s6,
                  CAST(SUM(n) AS HUGEINT) AS n
           FROM tr),
    prh AS (SELECT h, {p6} AS p6 FROM tr),
    gp AS (SELECT {p6g} AS p6g, gt.n AS n_train FROM gt),
    te AS (SELECT h, v6 FROM v WHERE event_id % 2 = 1),
    tm AS (SELECT CAST(SUM(v6) AS HUGEINT) AS s6,
                  CAST(COUNT(*) AS HUGEINT) AS n
           FROM te),
    tmq AS (SELECT {m6} AS m6 FROM tm),
    e AS (SELECT te.v6 - COALESCE(prh.p6, gp.p6g) AS err,
                 te.v6 - tmq.m6 AS dev
          FROM te LEFT JOIN prh USING (h)
          CROSS JOIN gp CROSS JOIN tmq),
    a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n_test,
                 CAST(SUM(CAST(err AS HUGEINT) * err) AS HUGEINT) AS ss_res,
                 CAST(SUM(CAST(dev AS HUGEINT) * dev) AS HUGEINT) AS ss_tot,
                 CAST(SUM(abs(CAST(err AS HUGEINT))) AS HUGEINT) AS sae
          FROM e)
    SELECT CAST(COALESCE(gp.n_train, 0) AS BIGINT) AS n_train,
           CAST(a.n_test AS BIGINT) AS n_test,
           CASE WHEN a.n_test = 0 THEN NULL ELSE {mae} END AS mae,
           CASE WHEN a.n_test = 0 THEN NULL
                ELSE round(sqrt(CAST(a.ss_res AS DOUBLE)
                                / CAST(a.n_test AS DOUBLE))
                           / 1000000.0, 6) END AS rmse,
           CASE WHEN a.n_test = 0 OR a.ss_tot = 0 THEN NULL
                ELSE {r2} END AS r2
    FROM a CROSS JOIN gp
    """


@query("eval_regression_rmse_r2", oracle=_regression_oracle())
def eval_regression_rmse_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-eval readout (MAE / RMSE / R^2) for the hour-of-day
    mean-value predictor on a deterministic even/odd event_id
    train/test split — the eval_model_card twin for a REGRESSION
    target: the baseline any value-prediction pipeline must beat, and
    the standard metrics it is judged by.

    Determinism: event values quantize losslessly to 1e-6 integers
    (the rl_group_advantage cast); each hour's prediction and the test
    mean are rendered onto the SAME 1e-6 grid via the signed integer
    half-up recipe (declared quantization — a float mean would diverge
    cross-engine), so every residual is an exact integer and SS_res /
    SS_tot / sum|err| are exact int128 sums.  MAE and R^2 = 1 -
    SS_res/SS_tot are exact rationals via the half-up renders; RMSE is
    the one transcendental (sqrt output, round-6 safe).  A test hour
    unseen in training falls back to the global train mean (declared);
    empty test or zero-variance test renders NULL via lazy CASE, and an
    empty train makes every prediction NULL which propagates to NULL
    metrics without reaching a division.  Headroom: err^2 ~ 1e16 at
    value ~ 1e2, int128-safe past 1e18 test rows.  Scale shape: one
    scan split into a 24-row train rollup (broadcast back) and a
    test-side aggregate — no window, no data-sized join."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        F.hour("ts").alias("h"),
        F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
        .alias("v6"),
    )
    tr = (
        v.filter(F.expr("event_id % 2 = 0"))
        .groupBy("h")
        .agg(
            F.sum("v6").cast("decimal(38,0)").alias("s6"),
            F.count("*").cast("decimal(38,0)").alias("n"),
        )
    )
    gt = tr.agg(
        F.sum("s6").cast("decimal(38,0)").alias("s6"),
        F.sum("n").cast("decimal(38,0)").alias("n"),
    )
    prh = tr.select(
        "h", F.expr(_REG_P6.format(s="s6", n="n", div="div")).alias("p6")
    )
    gp = gt.select(
        F.expr(_REG_P6.format(s="s6", n="n", div="div")).alias("p6g"),
        F.col("n").alias("n_train"),
    )
    te = v.filter(F.expr("event_id % 2 = 1")).select("h", "v6")
    tm = te.agg(
        F.sum("v6").cast("decimal(38,0)").alias("s6"),
        F.count("*").cast("decimal(38,0)").alias("n"),
    )
    tmq = tm.select(
        F.expr(_REG_P6.format(s="s6", n="n", div="div")).alias("m6")
    )
    e = (
        te.join(F.broadcast(prh), "h", "left")
        .crossJoin(F.broadcast(gp))
        .crossJoin(F.broadcast(tmq))
        .select(
            (F.col("v6") - F.coalesce(F.col("p6"), F.col("p6g"))).alias(
                "err"
            ),
            (F.col("v6") - F.col("m6")).alias("dev"),
        )
    )
    a = e.agg(
        F.count("*").cast("decimal(38,0)").alias("n_test"),
        F.sum(F.expr("cast(err as decimal(38,0)) * err")).alias("ss_res"),
        F.sum(F.expr("cast(dev as decimal(38,0)) * dev")).alias("ss_tot"),
        F.sum(F.abs(F.col("err")).cast("decimal(38,0)")).alias("sae"),
    )
    return a.crossJoin(F.broadcast(gp)).select(
        F.coalesce(F.col("n_train"), F.lit(0)).cast("bigint").alias(
            "n_train"
        ),
        F.col("n_test").cast("bigint").alias("n_test"),
        F.when(F.col("n_test") == 0, F.lit(None).cast("double"))
        .otherwise(hu_ratio("sae", "n_test * 1000000", 6))
        .alias("mae"),
        F.when(F.col("n_test") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.sqrt(
                    F.col("ss_res").cast("double")
                    / F.col("n_test").cast("double")
                )
                / 1000000.0,
                6,
            )
        )
        .alias("rmse"),
        F.when(
            (F.col("n_test") == 0) | (F.col("ss_tot") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(hu_ratio_signed("ss_tot - ss_res", "ss_tot", 6))
        .alias("r2"),
    )


def _logrank_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    bkt = _bucket256_sql("user_id").replace("AS STRING", "AS VARCHAR")
    chi2 = hu_ratio_sql(
        "(m.o1 * 1000000 - m.e16) * (m.o1 * 1000000 - m.e16)",
        "m.v6 * 1000000", 6)
    return f"""
    WITH mx AS (SELECT max(ts) AS head FROM events),
    u AS (SELECT user_id, min(ts) AS f, max(ts) AS l
          FROM events GROUP BY 1),
    d AS (SELECT CAST((epoch_us(u.l) - epoch_us(u.f)) // 86400000000
                   AS BIGINT) AS dur_days,
                 CASE WHEN (epoch_us(mx.head) - epoch_us(u.l))
                        // 86400000000 >= 1
                      THEN 1 ELSE 0 END AS death,
                 CASE WHEN {bkt} < 128 THEN 1 ELSE 0 END AS grp
          FROM u CROSS JOIN mx),
    h AS (SELECT dur_days, grp, CAST(COUNT(*) AS BIGINT) AS n_exit,
                 CAST(SUM(death) AS BIGINT) AS n_deaths
          FROM d GROUP BY 1, 2),
    grid AS (
      SELECT dd.dur_days, g.grp,
             COALESCE(h.n_exit, 0) AS n_exit,
             COALESCE(h.n_deaths, 0) AS n_deaths
      FROM (SELECT DISTINCT dur_days FROM h) dd
      CROSS JOIN (SELECT unnest([0, 1]) AS grp) g
      LEFT JOIN h USING (dur_days, grp)),
    rg AS (SELECT dur_days, grp, n_deaths,
                  CAST(SUM(n_exit) OVER (PARTITION BY grp
                    ORDER BY dur_days DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS at_risk
           FROM grid),
    wt AS (SELECT dur_days,
                  CAST(SUM(CASE WHEN grp = 1 THEN at_risk END) AS BIGINT)
                    AS r1,
                  CAST(SUM(CASE WHEN grp = 0 THEN at_risk END) AS BIGINT)
                    AS r0,
                  CAST(SUM(CASE WHEN grp = 1 THEN n_deaths END) AS BIGINT)
                    AS d1,
                  CAST(SUM(n_deaths) AS BIGINT) AS dt
           FROM rg GROUP BY 1),
    tr AS (SELECT d1, dt, r1, r0, r1 + r0 AS rn,
                  (2 * CAST(dt AS HUGEINT) * r1 * 1000000 + (r1 + r0))
                    // (2 * CAST(r1 + r0 AS HUGEINT)) AS e6,
                  CASE WHEN r1 + r0 <= 1 THEN 0 ELSE
                    (2 * CAST(dt AS HUGEINT) * r1 * r0
                       * (r1 + r0 - dt) * 1000000
                     + CAST(r1 + r0 AS HUGEINT) * (r1 + r0)
                       * (r1 + r0 - 1))
                    // (2 * CAST(r1 + r0 AS HUGEINT) * (r1 + r0)
                          * (r1 + r0 - 1))
                  END AS v6
           FROM wt WHERE dt > 0),
    g1 AS (SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_g1,
                  CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_g0,
                  CAST(SUM(CASE WHEN grp = 1 THEN death ELSE 0 END)
                       AS BIGINT) AS deaths_g1,
                  CAST(SUM(CASE WHEN grp = 0 THEN death ELSE 0 END)
                       AS BIGINT) AS deaths_g0
           FROM d),
    m AS (SELECT CAST(COALESCE(SUM(d1), 0) AS HUGEINT) AS o1,
                 CAST(COALESCE(SUM(e6), 0) AS HUGEINT) AS e16,
                 CAST(COALESCE(SUM(v6), 0) AS HUGEINT) AS v6
          FROM tr)
    SELECT g1.n_g1, g1.n_g0, g1.deaths_g1, g1.deaths_g0,
           CAST(CAST(m.e16 AS BIGINT) AS DOUBLE) / 1000000
             AS e1_expected,
           CASE WHEN m.v6 = 0 THEN NULL ELSE {chi2} END AS chi2_logrank
    FROM g1 CROSS JOIN m
    """


@query("survival_logrank_test", oracle=_logrank_oracle())
def survival_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test over user event lifetimes: does the
    md5-bucket A arm churn differently from the B arm — the standard
    significance test ON TOP of the Kaplan-Meier curve (KM durations
    with a tighter 1-DAY churn cut — the KM 3-day rule censors this
    corpus' entire tail into zero deaths, which would degenerate the
    test; the cut is a declared parameter of the readout — and the
    same replayable 50/50 assignment as the ab_* bank), completing
    the survival family
    (KM curve, Nelson-Aalen hazard, and now the two-sample test).

    Determinism: the life table is exact integers — per-(duration,
    group) exits/deaths off one user rollup, at-risk counts as
    group-partitioned DESC cumulatives over the zero-filled duration x
    group grid (never a suffix frame).  At each death time the
    hypergeometric mean d*r1/n and variance d*r1*r0*(n-d)/(n^2 (n-1))
    are rendered half-up onto the 1e-6 integer grid (declared
    quantization; the n <= 1 variance is 0 by lazy CASE), so O1 - E1
    and V are integer sums and the chi-square statistic
    (O1 - E1)^2 / V is ONE exact rational; an all-censored corpus
    (V = 0) renders NULL.  Headroom: the variance numerator ~ d*n^3*1e6
    — int128 to ~1e9 users at risk per death day; past that drop to
    the 1e-4 grid.  Scale shape: one scan to the user rollup, one
    (duration, group) aggregate, calendar-bounded grid windows, a
    1-row reduce."""
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("head"))
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    )
    bkt = F.expr(_bucket256_sql("user_id"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.expr("(unix_micros(l) - unix_micros(f)) div 86400000000")
        .cast("bigint")
        .alias("dur_days"),
        F.when(
            F.expr("(unix_micros(head) - unix_micros(l)) div 86400000000")
            >= 1,
            1,
        )
        .otherwise(0)
        .alias("death"),
        F.when(bkt < 128, 1).otherwise(0).alias("grp"),
    )
    h = d.groupBy("dur_days", "grp").agg(
        F.count("*").cast("bigint").alias("n_exit"),
        F.sum("death").cast("bigint").alias("n_deaths"),
    )
    grid = (
        h.select("dur_days")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(2).select(F.col("id").cast("int").alias("grp"))
            )
        )
        .join(h, ["dur_days", "grp"], "left")
        .select(
            "dur_days",
            "grp",
            F.coalesce(F.col("n_exit"), F.lit(0)).alias("n_exit"),
            F.coalesce(F.col("n_deaths"), F.lit(0)).alias("n_deaths"),
        )
    )
    w_desc = (
        Window.partitionBy("grp")
        .orderBy(F.col("dur_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rg = grid.select(
        "dur_days",
        "grp",
        "n_deaths",
        F.sum("n_exit").over(w_desc).cast("bigint").alias("at_risk"),
    )
    wt = rg.groupBy("dur_days").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("at_risk")))
        .cast("bigint")
        .alias("r1"),
        F.sum(F.when(F.col("grp") == 0, F.col("at_risk")))
        .cast("bigint")
        .alias("r0"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_deaths")))
        .cast("bigint")
        .alias("d1"),
        F.sum("n_deaths").cast("bigint").alias("dt"),
    )
    tr = wt.filter(F.col("dt") > 0).select(
        "d1",
        F.expr(
            "(2 * cast(dt as decimal(38,0)) * r1 * 1000000 + (r1 + r0))"
            " div (2 * cast(r1 + r0 as decimal(38,0)))"
        ).alias("e6"),
        F.expr(
            "CASE WHEN r1 + r0 <= 1 THEN 0 ELSE"
            " (2 * cast(dt as decimal(38,0)) * r1 * r0"
            "    * (r1 + r0 - dt) * 1000000"
            "  + cast(r1 + r0 as decimal(38,0)) * (r1 + r0)"
            "    * (r1 + r0 - 1))"
            " div (2 * cast(r1 + r0 as decimal(38,0)) * (r1 + r0)"
            "       * (r1 + r0 - 1)) END"
        ).alias("v6"),
    )
    g1 = d.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_g1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_g0"),
        F.sum(F.when(F.col("grp") == 1, F.col("death")).otherwise(0))
        .cast("bigint")
        .alias("deaths_g1"),
        F.sum(F.when(F.col("grp") == 0, F.col("death")).otherwise(0))
        .cast("bigint")
        .alias("deaths_g0"),
    )
    m = tr.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("decimal(38,0)").alias("o1"),
        F.coalesce(F.sum("e6"), F.lit(0)).cast("decimal(38,0)").alias("e16"),
        F.coalesce(F.sum("v6"), F.lit(0)).cast("decimal(38,0)").alias("v6"),
    )
    return g1.crossJoin(F.broadcast(m)).select(
        "n_g1",
        "n_g0",
        "deaths_g1",
        "deaths_g0",
        (F.col("e16").cast("bigint").cast("double") / 1000000).alias(
            "e1_expected"
        ),
        F.when(F.col("v6") == 0, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio(
                "(o1 * 1000000 - e16) * (o1 * 1000000 - e16)",
                "v6 * 1000000",
                6,
            )
        )
        .alias("chi2_logrank"),
    )


_DP_TOPK_SALT = "dp-topk-v1-"
_DP_TOPK_K = 3


def _dp_topk_oracle() -> str:
    noise = _dp_noise_sql("duckdb", _DP_TOPK_SALT)
    return f"""
    WITH g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
               FROM events GROUP BY event_type),
    nz AS (SELECT event_type, n_true,
                  greatest(CAST(0 AS BIGINT), n_true + {noise}) AS n_noisy
           FROM g),
    top AS (SELECT * FROM nz
            ORDER BY n_noisy DESC, event_type LIMIT {_DP_TOPK_K})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_noisy DESC, event_type)
                AS BIGINT) AS rk,
           event_type, n_noisy, n_true
    FROM top
    """


@query("privacy_dp_topk_noisy_max", oracle=_dp_topk_oracle())
def privacy_dp_topk_noisy_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report-noisy-max top-k release: the k = 3 most frequent event
    types selected by their LAPLACE-NOISED counts (the one-shot
    noisy-max mechanism, the selection-query complement of
    privacy_dp_noisy_histogram's measurement release) — what a privacy
    layer answers when asked 'which categories dominate' without
    exposing exact ordering near ties.

    The noise reuses the histogram mechanism verbatim (inverse-CDF
    integer Laplace at epsilon = 0.5) under its own salt, md5-replayed
    from the key so the oracle replays the release bit-for-bit (a
    production release draws real entropy — the seeded form is the
    unit-testable skeleton, the histogram query's declared caveat).
    The selection orders by the exact-integer noisy counts with an
    event_type tie-break, so the released ranking is deterministic in
    both engines; n_true rides along for the audit and would be
    dropped from a real release.  Scale shape: one count aggregate,
    a type-cardinality TakeOrdered, a k-row rank window."""
    e = load_table(spark, sf_dir, "events")
    noise = F.expr(_dp_noise_sql("spark", _DP_TOPK_SALT))
    nz = (
        e.groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_true"))
        .select(
            "event_type",
            "n_true",
            F.greatest(
                F.lit(0).cast("bigint"), F.col("n_true") + noise
            ).alias("n_noisy"),
        )
    )
    top = nz.orderBy(F.desc("n_noisy"), "event_type").limit(_DP_TOPK_K)
    return top.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("n_noisy"), "event_type"))
        .cast("bigint"),
    ).select("rk", "event_type", "n_noisy", "n_true")


def _cond_entropy_oracle() -> str:
    hn = hu_ratio_signed_sql(
        "-(g.shn * 10000)", "CAST(g.n AS HUGEINT) * 10000", 6)
    hc = hu_ratio_signed_sql(
        "-(g.shc * 10000)", "CAST(g.n AS HUGEINT) * 10000", 6)
    mi = hu_ratio_signed_sql(
        "g.smi * 10000", "CAST(g.n AS HUGEINT) * 10000", 6)
    return f"""
    WITH s AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    tp AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
           FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
    mi_ AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS ci FROM tp GROUP BY 1),
    mj AS (SELECT nxt, CAST(SUM(c) AS BIGINT) AS cj FROM tp GROUP BY 1),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tp),
    terms AS (
      SELECT tp.c,
             CAST(tp.c AS DECIMAL(18,4))
               * CAST(round(log2(CAST(tp.c AS DOUBLE) / mi_.ci), 4)
                      AS DECIMAL(18,4)) AS xc,
             CAST(tp.c AS DECIMAL(18,4))
               * CAST(round(log2((CAST(tp.c AS DOUBLE) * nn.n)
                                 / (CAST(mi_.ci AS DOUBLE) * mj.cj)), 4)
                      AS DECIMAL(18,4)) AS xm
      FROM tp JOIN mi_ USING (cur) JOIN mj USING (nxt) CROSS JOIN nn),
    jt AS (
      SELECT CAST(mj.cj AS DECIMAL(18,4))
               * CAST(round(log2(CAST(mj.cj AS DOUBLE) / nn.n), 4)
                      AS DECIMAL(18,4)) AS xj
      FROM mj CROSS JOIN nn),
    g AS (SELECT nn.n,
                 (SELECT SUM(xj) FROM jt) AS shn,
                 (SELECT SUM(xc) FROM terms) AS shc,
                 (SELECT SUM(xm) FROM terms) AS smi
          FROM nn)
    SELECT g.n AS n_transitions,
           CASE WHEN g.n = 0 THEN NULL ELSE {hn} END AS h_next_bits,
           CASE WHEN g.n = 0 THEN NULL ELSE {hc} END AS h_cond_bits,
           CASE WHEN g.n = 0 THEN NULL ELSE {mi} END AS mi_bits
    FROM g
    """


@query("stats_conditional_entropy_transitions", oracle=_cond_entropy_oracle())
def stats_conditional_entropy_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Information content of the per-user event-type SEQUENCE: the
    marginal entropy of the next event type H(next), the conditional
    entropy given the current type H(next|cur), and their difference —
    the mutual information the first-order Markov structure carries
    (graph_markov_transitions reports the transition probabilities;
    this is the one-row summary of how PREDICTIVE they are: mi ~ 0
    means sessions are memoryless and the Markov model buys nothing).

    Determinism: transitions come from a user-partitioned LEAD over
    (ts, event_id) — the sessionization tie-break discipline; every
    entropy term quantizes its log2 round(4) and multiplies the exact
    integer count in decimal (the KL recipe), and each readout renders
    as ONE signed half-up rational over the shared denominator
    N * 1e4.  The three sums are independently quantized (declared:
    mi_bits is its own grid sum, not the difference of the other two —
    they agree to ~1e-4).  An empty/one-event-per-user corpus (no
    transitions) renders NULL via lazy CASE.  Scale shape: one
    user-partitioned window over the scan, then (cur, next) counts —
    type-cardinality-squared rollups and 1-row reduces."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    tp = (
        s.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    mi_ = tp.groupBy("cur").agg(F.sum("c").cast("bigint").alias("ci"))
    mj = tp.groupBy("nxt").agg(F.sum("c").cast("bigint").alias("cj"))
    nn = tp.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n"))
    terms = (
        tp.join(mi_, "cur")
        .join(mj, "nxt")
        .crossJoin(F.broadcast(nn))
        .select(
            F.expr(
                "cast(c as decimal(18,4))"
                " * cast(round(log2(cast(c as double) / ci), 4)"
                "   as decimal(18,4))"
            ).alias("xc"),
            F.expr(
                "cast(c as decimal(18,4))"
                " * cast(round(log2((cast(c as double) * n)"
                "   / (cast(ci as double) * cj)), 4) as decimal(18,4))"
            ).alias("xm"),
        )
    )
    jt = mj.crossJoin(F.broadcast(nn)).select(
        F.expr(
            "cast(cj as decimal(18,4))"
            " * cast(round(log2(cast(cj as double) / n), 4)"
            "   as decimal(18,4))"
        ).alias("xj")
    )
    ag_t = terms.agg(
        F.sum("xc").alias("shc"), F.sum("xm").alias("smi")
    )
    ag_j = jt.agg(F.sum("xj").alias("shn"))
    g = nn.crossJoin(F.broadcast(ag_t)).crossJoin(F.broadcast(ag_j))
    null_d = F.lit(None).cast("double")
    return g.select(
        F.col("n").alias("n_transitions"),
        F.when(F.col("n") == 0, null_d)
        .otherwise(
            hu_ratio_signed(
                "-(shn * 10000)", "cast(n as decimal(38,0)) * 10000", 6
            )
        )
        .alias("h_next_bits"),
        F.when(F.col("n") == 0, null_d)
        .otherwise(
            hu_ratio_signed(
                "-(shc * 10000)", "cast(n as decimal(38,0)) * 10000", 6
            )
        )
        .alias("h_cond_bits"),
        F.when(F.col("n") == 0, null_d)
        .otherwise(
            hu_ratio_signed(
                "smi * 10000", "cast(n as decimal(38,0)) * 10000", 6
            )
        )
        .alias("mi_bits"),
    )


@query(
    "stats_cochran_q",
    oracle=f"""
    WITH x AS (SELECT DISTINCT user_id, event_type FROM events),
    cj AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
           FROM x GROUP BY 1),
    ri AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS r
           FROM x GROUP BY 1),
    m AS (SELECT (SELECT CAST(COUNT(*) AS HUGEINT) FROM cj) AS k,
                 (SELECT CAST(COALESCE(SUM(c), 0) AS HUGEINT) FROM cj)
                   AS n,
                 (SELECT CAST(COALESCE(SUM(CAST(c AS HUGEINT) * c), 0)
                              AS HUGEINT) FROM cj) AS sc2,
                 (SELECT CAST(COALESCE(SUM(CAST(r AS HUGEINT) * r), 0)
                              AS HUGEINT) FROM ri) AS sr2)
    SELECT CAST((SELECT COUNT(*) FROM ri) AS BIGINT) AS n_users,
           CAST(m.k AS BIGINT) AS k_types,
           CASE WHEN m.k < 2 OR m.k * m.n - m.sr2 = 0 THEN NULL ELSE
             {hu_ratio_sql("(m.k - 1) * (m.k * m.sc2 - m.n * m.n)",
                           "m.k * m.n - m.sr2", 6)} END AS cochran_q
    FROM m
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test: do the event TYPES differ in reach — the
    share of users who perform them at least once — treating each user
    as a matched block with a BINARY response per type.  The
    dichotomous member of the within-block family (Friedman ranks
    counts; Q ranks presence), and the right test when the readout is
    adoption rather than intensity.

    Q = (k-1) * (k*sum C_j^2 - N^2) / (k*N - sum R_i^2) over column
    (type) totals C_j, row (user) totals R_i and grand total N of the
    0/1 presence matrix — every term an exact integer off two
    aggregates of the DISTINCT (user, type) pairs (absent pairs are
    zeros and never materialize; no grid needed), so Q is ONE exact
    nonnegative rational (Cauchy-Schwarz bounds the numerator;
    R_i <= k bounds the denominator) rendered half-up.  An
    every-user-does-everything corpus (den = 0) or k < 2 renders NULL
    via lazy CASE.  Headroom: k*sum C_j^2 ~ k*n_users^2 — int128 past
    1e15 users.  Scale shape: one distinct-pair aggregate feeding two
    map-side-combinable rollups and a 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select("user_id", "event_type").distinct()
    cj = x.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    ri = x.groupBy("user_id").agg(F.count("*").cast("bigint").alias("r"))
    mc = cj.agg(
        F.count("*").cast("decimal(38,0)").alias("k"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("decimal(38,0)").alias("n"),
        F.coalesce(
            F.sum(F.expr("cast(c as decimal(38,0)) * c")), F.lit(0)
        )
        .cast("decimal(38,0)")
        .alias("sc2"),
    )
    mr = ri.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.coalesce(
            F.sum(F.expr("cast(r as decimal(38,0)) * r")), F.lit(0)
        )
        .cast("decimal(38,0)")
        .alias("sr2"),
    )
    return mr.crossJoin(F.broadcast(mc)).select(
        "n_users",
        F.col("k").cast("bigint").alias("k_types"),
        F.when(
            (F.col("k") < 2) | (F.expr("k * n - sr2") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            hu_ratio("(k - 1) * (k * sc2 - n * n)", "k * n - sr2", 6)
        )
        .alias("cochran_q"),
    )


@query(
    "stats_page_trend_dayparts",
    oracle="""
    WITH tc AS (
      SELECT user_id, (epoch_us(ts) // 21600000000) % 4 AS part,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    us AS (SELECT DISTINCT user_id FROM tc),
    grid AS (
      SELECT us.user_id, p.part, COALESCE(tc.cnt, 0) AS cnt
      FROM us CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS part) p
      LEFT JOIN tc USING (user_id, part)),
    vc AS (SELECT user_id, cnt, CAST(COUNT(*) AS BIGINT) AS c
           FROM grid GROUP BY 1, 2),
    rr AS (SELECT user_id, cnt, c,
                 CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY cnt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                   AS BIGINT) AS cum_before
           FROM vc),
    gr AS (
      SELECT g.part,
             CAST(SUM(2 * rr.cum_before + rr.c + 1) AS HUGEINT) AS r2
      FROM grid g JOIN rr ON rr.user_id = g.user_id AND rr.cnt = g.cnt
      GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM us),
    m AS (SELECT CAST(SUM((part + 1) * r2) AS HUGEINT) AS l2,
                 CAST(COUNT(*) AS HUGEINT) AS k
          FROM gr)
    SELECT CAST(nn.n AS BIGINT) AS n_users, CAST(m.k AS BIGINT) AS k_parts,
           CAST(CAST(m.l2 AS BIGINT) AS BIGINT) AS l2_statistic,
           CASE WHEN nn.n = 0 OR m.k < 2 THEN NULL ELSE
             round((CAST(m.l2 - (nn.n * m.k * (m.k + 1) * (m.k + 1)) // 2
                         AS DOUBLE) * 6)
                   / (CAST(m.k AS DOUBLE)
                      * sqrt(CAST(nn.n * (m.k + 1) * (m.k * m.k - 1)
                                  AS DOUBLE))), 4) END AS z_page
    FROM nn CROSS JOIN m
    """,
)
def stats_page_trend_dayparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test for ORDERED treatments: does per-user
    activity increase monotonically across the four six-hour day-parts
    — the ordered-alternative refinement of stats_friedman_test
    (Friedman asks 'any difference?'; Page asks 'a trend in THIS
    order?', and has far more power when the alternative is monotone).

    L = sum_j j * R_j over within-user midranks of the zero-filled
    user x day-part counts; carried DOUBLED (l2 = sum j * R2_j, an
    exact integer off the Friedman rank machinery — day-parts derive
    from integer epoch arithmetic, never engine-local time fns).
    Under H0, E[L2] = n*k*(k+1)^2/2 exactly — spelled as INTEGER
    division in both dialects (the product is even for every k;
    DuckDB's `/` would route the subtraction through double and lose
    low bits past 2^53 where Spark's decimal stays exact) — and
    z = 6*(L2 - E[L2]) /
    (k*sqrt(n*(k+1)*(k^2-1))) is ONE correctly-rounded double chain
    (integer inputs, one sqrt — round(4) per the sqrt-output rule).
    The classic no-ties variance is used with midranks (the standard
    large-sample form; ties only shrink the true variance — declared).
    n = 0 or k < 2 renders NULL via lazy CASE.  Scale shape: the
    Friedman grid shapes verbatim — one (user, part) count, a 4-wide
    zero-fill, user-partitioned histogram windows, a 4-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    tc = ev.groupBy(
        "user_id",
        F.expr("(unix_micros(ts) div 21600000000) % 4").alias("part"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    us = tc.select("user_id").distinct()
    parts = spark.range(4).select(F.col("id").cast("bigint").alias("part"))
    grid = (
        us.crossJoin(F.broadcast(parts))
        .join(tc, ["user_id", "part"], "left")
        .select(
            "user_id",
            "part",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    vc = grid.groupBy("user_id", "cnt").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rr = vc.select(
        "user_id",
        "cnt",
        "c",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("cum_before"),
    )
    gr = (
        grid.join(rr, ["user_id", "cnt"])
        .groupBy("part")
        .agg(
            F.sum(F.expr("cast(2 * cum_before + c + 1 as decimal(38,0))"))
            .alias("r2")
        )
    )
    nn = us.agg(F.count("*").cast("decimal(38,0)").alias("n"))
    m = gr.agg(
        F.sum(F.expr("(part + 1) * r2")).cast("decimal(38,0)").alias("l2"),
        F.count("*").cast("decimal(38,0)").alias("k"),
    )
    return nn.crossJoin(F.broadcast(m)).select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("k").cast("bigint").alias("k_parts"),
        F.col("l2").cast("bigint").alias("l2_statistic"),
        F.when(
            (F.col("n") == 0) | (F.col("k") < 2),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (
                    F.expr(
                        "cast(l2 - ((n * k * (k + 1) * (k + 1)) div 2)"
                        " as double)"
                    )
                    * 6
                )
                / (
                    F.col("k").cast("double")
                    * F.sqrt(
                        F.expr(
                            "cast(n * (k + 1) * (k * k - 1) as double)"
                        )
                    )
                ),
                4,
            )
        )
        .alias("z_page"),
    )


# z_{0.975} as an exact Fraction: zz = z^2 = 1959964^2 / 10^12 — the
# Wilson center is then ONE exact integer rational (a round(double) of
# it would be the decimal-half hazard class, since zz is rational).
_WILSON_ZN = 1959964 * 1959964  # z^2 numerator at denominator 1e12
_WILSON_D = 10**12


def _wilson_oracle() -> str:
    zn, d = _WILSON_ZN, _WILSON_D
    center = hu_ratio_sql(
        f"2 * CAST(g.x AS HUGEINT) * {d} + {zn}",
        f"2 * CAST(g.n AS HUGEINT) * {d} + 2 * CAST({zn} AS HUGEINT)", 6)
    rate = hu_ratio_sql("g.x", "g.n", 6)
    return f"""
    WITH x AS (SELECT DISTINCT user_id, event_type FROM events),
    nn AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM x),
    g AS (SELECT x.event_type, CAST(COUNT(*) AS BIGINT) AS x, nn.n
          FROM x CROSS JOIN nn GROUP BY 1, 3)
    SELECT g.event_type, g.x AS n_users_reached, g.n AS n_users,
           {rate} AS rate,
           {center} AS wilson_center,
           round((1.959964 * sqrt((CAST(g.x AS DOUBLE) * (g.n - g.x)) / g.n
                                  + {zn / d} / 4.0))
                 / (g.n + {zn / d}), 6) AS wilson_halfwidth
    FROM g
    """


@query("stats_wilson_ci_rates", oracle=_wilson_oracle())
def stats_wilson_ci_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for each event type's user
    REACH rate (share of users who perform it at least once — the
    Cochran's-Q marginals with uncertainty attached): the
    recommended small-and-large-n binomial interval (never escapes
    [0,1], unlike the Wald CI a naive pipeline reaches for).

    Determinism: x and n are exact integers off the distinct
    (user, type) pairs; z^2 is carried as the EXACT rational
    1959964^2/10^12, so the Wilson center (x + z^2/2)/(n + z^2) clears
    to ONE integer rational rendered half-up — a round(double) spelling
    would be the decimal-half hazard class since the center is
    rational-valued.  The half-width keeps its sqrt (transcendental
    output, round(6) safe per the sqrt rule) over correctly-rounded
    double inputs.  Headroom: 2*n*1e12 — int128 past 1e20 users.
    Scale shape: one distinct-pair aggregate, a type-cardinality
    rollup, a broadcast 1-row user count."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select("user_id", "event_type").distinct()
    nn = x.agg(
        F.countDistinct("user_id").cast("bigint").alias("n")
    )
    g = (
        x.groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("x"))
        .crossJoin(F.broadcast(nn))
    )
    zn, d = _WILSON_ZN, _WILSON_D
    return g.select(
        "event_type",
        F.col("x").alias("n_users_reached"),
        F.col("n").alias("n_users"),
        hu_ratio("x", "n", 6).alias("rate"),
        hu_ratio(
            f"2 * cast(x as decimal(38,0)) * {d} + {zn}",
            f"2 * cast(n as decimal(38,0)) * {d}"
            f" + 2 * cast({zn} as decimal(38,0))",
            6,
        ).alias("wilson_center"),
        F.round(
            (
                F.lit(1.959964)
                * F.sqrt(
                    (F.col("x").cast("double") * (F.col("n") - F.col("x")))
                    / F.col("n")
                    + F.lit(zn / d) / 4.0
                )
            )
            / (F.col("n") + F.lit(zn / d)),
            6,
        ).alias("wilson_halfwidth"),
    )


def _ratio_delta_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    bkt = _bucket256_sql("user_id").replace("AS STRING", "AS VARCHAR")
    rt = hu_ratio_sql("w.sxt", "w.syt", 6)
    rc = hu_ratio_sql("w.sxc", "w.syc", 6)
    diff = hu_ratio_signed_sql(
        "w.sxt * w.syc - w.sxc * w.syt",
        "CAST(w.syt AS HUGEINT) * w.syc", 6)
    return f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN {bkt} < 128 THEN 1 ELSE 0 END AS t,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    o AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS HUGEINT) AS sx,
                 CAST(SUM(y) AS HUGEINT) AS sy
          FROM u GROUP BY 1),
    q AS (SELECT u.t,
                 CAST(SUM((CAST(u.x AS HUGEINT) * o.sy
                           - CAST(u.y AS HUGEINT) * o.sx)
                          * (CAST(u.x AS HUGEINT) * o.sy
                             - CAST(u.y AS HUGEINT) * o.sx))
                      AS HUGEINT) AS qq
          FROM u JOIN o USING (t) GROUP BY 1),
    w AS (SELECT
            CAST(MAX(CASE WHEN o.t = 1 THEN o.n END) AS BIGINT) AS nt,
            CAST(MAX(CASE WHEN o.t = 0 THEN o.n END) AS BIGINT) AS nc,
            CAST(MAX(CASE WHEN o.t = 1 THEN o.sx END) AS HUGEINT) AS sxt,
            CAST(MAX(CASE WHEN o.t = 0 THEN o.sx END) AS HUGEINT) AS sxc,
            CAST(MAX(CASE WHEN o.t = 1 THEN o.sy END) AS HUGEINT) AS syt,
            CAST(MAX(CASE WHEN o.t = 0 THEN o.sy END) AS HUGEINT) AS syc,
            CAST(MAX(CASE WHEN q.t = 1 THEN q.qq END) AS HUGEINT) AS qt,
            CAST(MAX(CASE WHEN q.t = 0 THEN q.qq END) AS HUGEINT) AS qc
          FROM o JOIN q USING (t))
    SELECT CAST(COALESCE(w.nt, 0) AS BIGINT) AS n_treat,
           CAST(COALESCE(w.nc, 0) AS BIGINT) AS n_control,
           CASE WHEN w.syt IS NULL OR w.syt = 0 THEN NULL ELSE {rt} END
             AS ctr_treat,
           CASE WHEN w.syc IS NULL OR w.syc = 0 THEN NULL ELSE {rc} END
             AS ctr_control,
           CASE WHEN w.syt IS NULL OR w.syc IS NULL
                     OR w.syt = 0 OR w.syc = 0 THEN NULL
                ELSE {diff} END AS diff,
           CASE WHEN w.syt IS NULL OR w.syc IS NULL
                     OR w.syt = 0 OR w.syc = 0
                     OR w.nt < 2 OR w.nc < 2 THEN NULL
                ELSE round((CAST(w.sxt AS DOUBLE) / CAST(w.syt AS DOUBLE)
                            - CAST(w.sxc AS DOUBLE) / CAST(w.syc AS DOUBLE))
                   / sqrt(CAST(w.nt AS DOUBLE) * CAST(w.qt AS DOUBLE)
                            / (w.nt - 1)
                            / (CAST(w.syt AS DOUBLE) * CAST(w.syt AS DOUBLE)
                               * CAST(w.syt AS DOUBLE) * CAST(w.syt AS DOUBLE))
                          + CAST(w.nc AS DOUBLE) * CAST(w.qc AS DOUBLE)
                            / (w.nc - 1)
                            / (CAST(w.syc AS DOUBLE) * CAST(w.syc AS DOUBLE)
                               * CAST(w.syc AS DOUBLE) * CAST(w.syc AS DOUBLE))),
                   4) END AS z_delta
    FROM w
    """


@query("ab_ratio_metric_delta_method", oracle=_ratio_delta_oracle())
def ab_ratio_metric_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method z-test for a RATIO metric (click-through rate =
    total clicks / total views) under the md5-bucket 50/50 assignment —
    the experimentation-bank member the mean-metric tests can't
    replace: a per-user ratio averages wrong (users with few views
    dominate), and naive per-user CTR variance ignores the
    denominator's own sampling noise.  Delta method: Var(X̄/Ȳ) ≈
    n·Σ(x_i·Sy − y_i·Sx)² / ((n−1)·Sy⁴) per arm.

    Determinism: per-arm CTRs and their difference are exact integer
    rationals (the diff clears the two denominators by
    cross-multiplication into ONE signed half-up render); the
    quadratic Q = Σ(x_i·Sy − y_i·Sx)² is an exact int128 sum (the
    r-cleared spelling — (x_i − r·y_i)² would need the rational r per
    row), and only the final z is a correctly-rounded double chain
    through one sqrt (round(4) per the sqrt rule).  Degenerate arms
    (no views, n < 2, or a missing arm) render NULL via lazy CASE.
    Headroom: Q ~ n³·(xy scale)² — int128 to ~1e11 users; past that
    center x,y first (the covariance two-pass escape).  Scale shape:
    one scan to the user rollup, one 2-row arm aggregate broadcast
    back for the Q pass, a 2-row pivot."""
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    ev = load_table(spark, sf_dir, "events")
    bkt = F.expr(_bucket256_sql("user_id"))
    u = pin(ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).select(
        F.when(bkt < 128, 1).otherwise(0).alias("t"), "x", "y"
    ))  # arm moments AND the Q pass read it
    o = u.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
    )
    q = (
        u.join(F.broadcast(o), "t")
        .select(
            "t",
            F.expr(
                "(cast(x as decimal(38,0)) * sy"
                " - cast(y as decimal(38,0)) * sx)"
            ).alias("dd"),
        )
        .groupBy("t")
        .agg(F.sum(F.expr("dd * dd")).cast("decimal(38,0)").alias("qq"))
    )
    w = o.join(q, "t").agg(
        F.max(F.when(F.col("t") == 1, F.col("n"))).cast("bigint").alias("nt"),
        F.max(F.when(F.col("t") == 0, F.col("n"))).cast("bigint").alias("nc"),
        F.max(F.when(F.col("t") == 1, F.col("sx"))).alias("sxt"),
        F.max(F.when(F.col("t") == 0, F.col("sx"))).alias("sxc"),
        F.max(F.when(F.col("t") == 1, F.col("sy"))).alias("syt"),
        F.max(F.when(F.col("t") == 0, F.col("sy"))).alias("syc"),
        F.max(F.when(F.col("t") == 1, F.col("qq"))).alias("qt"),
        F.max(F.when(F.col("t") == 0, F.col("qq"))).alias("qc"),
    )
    null_d = F.lit(None).cast("double")
    arm_bad = (
        F.col("syt").isNull()
        | F.col("syc").isNull()
        | (F.col("syt") == 0)
        | (F.col("syc") == 0)
    )
    var_arm = (
        "cast({n} as double) * cast({q} as double) / ({n} - 1)"
        " / (cast({s} as double) * cast({s} as double)"
        "    * cast({s} as double) * cast({s} as double))"
    )
    z_expr = (
        "(cast(sxt as double) / cast(syt as double)"
        " - cast(sxc as double) / cast(syc as double))"
        " / sqrt("
        + var_arm.format(n="nt", q="qt", s="syt")
        + " + "
        + var_arm.format(n="nc", q="qc", s="syc")
        + ")"
    )
    return w.select(
        F.coalesce(F.col("nt"), F.lit(0)).cast("bigint").alias("n_treat"),
        F.coalesce(F.col("nc"), F.lit(0)).cast("bigint").alias(
            "n_control"
        ),
        F.when(F.col("syt").isNull() | (F.col("syt") == 0), null_d)
        .otherwise(hu_ratio("sxt", "syt", 6))
        .alias("ctr_treat"),
        F.when(F.col("syc").isNull() | (F.col("syc") == 0), null_d)
        .otherwise(hu_ratio("sxc", "syc", 6))
        .alias("ctr_control"),
        F.when(arm_bad, null_d)
        .otherwise(
            hu_ratio_signed(
                "sxt * syc - sxc * syt",
                "cast(syt as decimal(38,0)) * syc",
                6,
            )
        )
        .alias("diff"),
        F.when(
            arm_bad | (F.col("nt") < 2) | (F.col("nc") < 2), null_d
        )
        .otherwise(F.round(F.expr(z_expr), 4))
        .alias("z_delta"),
    )
