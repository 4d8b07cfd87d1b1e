"""Time-series resampling: regularize an event stream onto a fixed grid
and gap-fill missing buckets (the batch counterpart of a hypertable
rollup / continuous aggregate; the reference framework can only emulate
this with a custom reducer over a pre-sorted partition, cf. SURVEY.md
§2.C "Window functions ... absent").

Scale shape: the per-bucket aggregate is a map-side-combinable hash agg
over the raw events (the only pass that touches the 100 TB input); the
spine (buckets x series) is tiny -- hours-in-range x event types -- so
the grid join and the forward-fill window run on data proportional to
the OUTPUT, not the input.  The fill window partitions by series, so at
1000 executors each series' fill is one task; for very long ranges,
range-partition time into chunks and carry the last value across chunk
boundaries with a second tiny pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import pin
from eecs485_p4_mapreduce_spark.functions.numeric import (
    davg,
    davg_sql,
    hu_ratio,
    hu_ratio_sql,
)
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table


@query(
    "resample_gapfill_1h",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             COUNT(*) AS n, {davg_sql('value')} AS avg_value
      FROM events GROUP BY 1, 2),
    b AS (SELECT min(hour_start) AS mn, max(hour_start) AS mx FROM hourly),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_start
      FROM b),
    grid AS (
      SELECT hour_start, event_type
      FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM hourly)),
    j AS (
      SELECT g.hour_start, g.event_type, h.n, h.avg_value
      FROM grid g LEFT JOIN hourly h USING (hour_start, event_type))
    SELECT hour_start, event_type, COALESCE(n, 0) AS n,
           last_value(avg_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hour_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
    FROM j
    """,
)
def resample_gapfill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to an hourly grid per event type and forward-fill
    empty buckets with the last observed hourly average (locf).  Buckets
    before a series' first observation stay NULL -- there is nothing to
    carry, and inventing a value would be wrong.

    The spine is built with ``sequence(min, max, 1 hour)`` from a 1-row
    aggregate -- no ``collect()``, no driver loop -- then cross-joined
    with the distinct series keys (both sides tiny, Catalyst broadcasts).
    The forward-filled average is the decimal-exact ``davg`` so the fill
    copies bitwise-identical doubles in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), davg("value").alias("avg_value"))
    )
    bounds = hourly.agg(
        F.min("hour_start").alias("mn"), F.max("hour_start").alias("mx")
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias(
            "hour_start"
        )
    )
    grid = spine.crossJoin(hourly.select("event_type").distinct())
    j = grid.join(hourly, ["hour_start", "event_type"], "left")
    fill = Window.partitionBy("event_type").orderBy("hour_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return j.select(
        "hour_start",
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("avg_value", ignorenulls=True).over(fill).alias("filled_avg"),
    )


@query(
    "stats_zscore_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM events GROUP BY 1),
    st AS (
      SELECT event_type, round(sx / n, 6) AS mean,
             round(sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS std
      FROM s)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - st.mean) / st.std, 3) AS z
    FROM events e JOIN st USING (event_type)
    WHERE st.std > 0 AND abs((e.value - st.mean) / st.std) >= 2.5
    """,
)
def stats_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series z-score anomaly flagging: events more than 2.5 standard
    deviations from their event type's mean.

    Two passes over the input: a map-side-combinable moment aggregate
    (decimal-exact SUM(x)/SUM(x^2), same construction as
    ``stats_moments`` -- order-independent, so both engines derive
    bitwise-identical mean/std), then a broadcast join of the tiny
    per-type stats back onto the stream.  No window over the full data,
    so nothing is globally sorted.  Mean/std are rounded to 6 places
    BEFORE the z computation: both engines then feed identical doubles
    into (value - mean) / std, making the 2.5 threshold engine-safe.
    """
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    st = F.broadcast(
        s.select(
            "event_type",
            F.round(mean, 6).alias("mean"),
            F.round(F.sqrt(F.col("sxx") / F.col("n") - mean * mean), 6).alias("std"),
        )
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    # std > 0 guard: a constant-valued series would divide by zero, which
    # Spark (non-ANSI) turns into NULL-dropped rows but DuckDB into +-inf
    # rows -- a silent cross-engine divergence without the guard.
    return (
        e.join(st, "event_type")
        .filter((F.col("std") > 0) & (F.abs(z) >= 2.5))
        .select("event_id", "event_type", "value", F.round(z, 3).alias("z"))
    )


@query(
    "stats_winsorize_events",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    bounds AS (
      SELECT event_type, MAX(n) AS n,
             MIN(CASE WHEN rk = CAST(ceil(n * 0.01) AS BIGINT)
                      THEN value END) AS p01,
             MIN(CASE WHEN rk = CAST(ceil(n * 0.99) AS BIGINT)
                      THEN value END) AS p99
      FROM ranked GROUP BY event_type)
    SELECT e.event_type, CAST(b.n AS BIGINT) AS n, b.p01, b.p99,
           CAST(SUM(CAST(least(greatest(e.value, b.p01), b.p99)
                AS DECIMAL(18,6))) AS DOUBLE) AS total_winsorized
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.n, b.p01, b.p99
    """,
)
def stats_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped) aggregation: clamp each event's value to its
    event_type's [p1, p99] before summing — the robust-statistics guard
    a metrics pipeline applies before outlier-sensitive rollups.

    Percentiles are NEAREST-RANK (the value at row_number ceil(q*n)),
    not interpolated: rank selection picks an actual stored double, so
    both engines clip against bit-identical bounds — no interpolation
    formula to drift in the last ulp.  Plan: one window pass to rank
    values per type, a 5-row bounds table broadcast back onto the event
    scan, and a decimal-exact clipped sum."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") * 0.01).cast("bigint"),
                F.col("value"),
            )
        ).alias("p01"),
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") * 0.99).cast("bigint"),
                F.col("value"),
            )
        ).alias("p99"),
    )
    clipped = e.join(F.broadcast(bounds), "event_type").withColumn(
        "cv", F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    )
    return clipped.groupBy("event_type", "n", "p01", "p99").agg(
        F.sum(F.col("cv").cast("decimal(18,6)")).cast("double").alias("total_winsorized")
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "p01",
        "p99",
        "total_winsorized",
    )


@query(
    "cdc_compact_latest",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
    SELECT user_id, event_type AS last_event_type, ts AS last_ts, value AS last_value
    FROM ranked WHERE rk = 1
    """,
)
def cdc_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-stream compaction: collapse the event log to the LATEST
    row per key — the materialization step every CDC ingestion pipeline
    runs before serving a snapshot.  One window over (user_id; ts,
    event_id DESC) with rk=1, which Spark lowers to WindowGroupLimit
    (per-key top-1, no full sort); ties cannot occur because event_id is
    unique, making the snapshot deterministic under replay."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


_SNAP_CUT = "2024-01-08 00:00:00"


@query(
    "snapshot_diff_users",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE ts < TIMESTAMP '{_SNAP_CUT}') WHERE rk = 1),
    s2 AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events) WHERE rk = 1)
    SELECT CASE WHEN s1.user_id IS NULL THEN 'added'
                WHEN s1.event_type <> s2.event_type THEN 'changed'
                ELSE 'unchanged' END AS change_kind,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
    GROUP BY 1
    """,
)
def snapshot_diff_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diffing: materialize per-user state at a cutoff and at
    head, then classify every key as added / changed / unchanged — the
    audit a pipeline runs to answer 'what did this batch actually do'.
    Both snapshots come from the same compaction shape as
    ``cdc_compact_latest`` (WindowGroupLimit top-1), the diff is one
    user-keyed outer join, and the output is the 3-row summary."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def snap(df):
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", "event_type")
        )

    s1 = snap(e.filter(F.col("ts") < F.lit(_SNAP_CUT).cast("timestamp"))).select(
        F.col("user_id"), F.col("event_type").alias("t1")
    )
    s2 = snap(e).select("user_id", F.col("event_type").alias("t2"))
    kinds = s2.join(s1, "user_id", "left").select(
        F.when(F.col("t1").isNull(), "added")
        .when(F.col("t1") != F.col("t2"), "changed")
        .otherwise("unchanged")
        .alias("change_kind")
    )
    return kinds.groupBy("change_kind").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


@query(
    "stats_mad_events",
    oracle="""
    WITH r1 AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    med AS (
      SELECT event_type, MAX(n) AS n,
             MIN(CASE WHEN rk = CAST(ceil(n / 2.0) AS BIGINT)
                      THEN value END) AS med
      FROM r1 GROUP BY event_type),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS d, e.event_id, m.n, m.med
      FROM events e JOIN med m ON m.event_type = e.event_type),
    r2 AS (
      SELECT event_type, n, med, d,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rk
      FROM dev)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, MAX(med) AS median,
           MIN(CASE WHEN rk = CAST(ceil(n / 2.0) AS BIGINT) THEN d END) AS mad
    FROM r2 GROUP BY event_type
    """,
)
def stats_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust spread
    estimate outlier pipelines prefer over stddev.  Two nearest-rank
    selections (the stats_winsorize_events recipe applied twice): the
    per-type median, broadcast back onto the scan, then the median of
    |x - med|.  Every selected value is a stored double or an identical
    double subtraction, so no interpolation and no rounding anywhere."""
    e = load_table(spark, sf_dir, "events")
    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r1 = e.select(
        "event_type",
        "value",
        F.row_number().over(w1).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    med = r1.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") / 2.0).cast("bigint"),
                F.col("value"),
            )
        ).alias("med"),
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("d"),
        "event_id",
    )
    w2 = Window.partitionBy("event_type").orderBy("d", "event_id")
    r2 = dev.withColumn("rk", F.row_number().over(w2))
    return r2.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("med").alias("median"),
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") / 2.0).cast("bigint"), F.col("d")
            )
        ).alias("mad"),
    )


# stats_chi_square_independence's per-cell rational, factored to module
# constants so the int128 boundary pin (tests/test_headroom_bounds.py)
# drives the PRODUCTION strings.  o = observed cell count, r/c the
# marginals, n the grand total.
_CHI_D = "(cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c)"
_CHI_NUM = f"{_CHI_D} * {_CHI_D}"
_CHI_DEN = "cast(n as decimal(38,0)) * r * c"


@query(
    "stats_chi_square_independence",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY dow),
    n AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
      SELECT obs.event_type, obs.dow,
             CAST({hu_ratio_sql(
                 "(CAST(obs.o AS HUGEINT) * n.n - CAST(rt.r AS HUGEINT) * ct.c)"
                 " * (CAST(obs.o AS HUGEINT) * n.n - CAST(rt.r AS HUGEINT) * ct.c)",
                 "CAST(n.n AS HUGEINT) * rt.r * ct.c", 6)}
                  AS DECIMAL(24,9)) AS contrib
      FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(contrib) AS DOUBLE) AS chi_square
    FROM cells
    """,
)
def stats_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of event_type vs day-of-week — the
    profiling check for 'is this categorical feature correlated with
    time' before trusting a split or a drift monitor.  Observed and
    marginal counts are exact integers; each cell's (o-e)^2/e is the
    EXACT integer rational (o*n - r*c)^2 / (n*r*c), rendered at 1e-6 by
    the integer half-up recipe (never round(double, 6) -- the
    cross-engine half-boundary class) and decimal-summed so the
    statistic is order-independent; the 6-decimal sum casts straight to
    double with no re-round.

    DECISION RULE (int128 headroom, MEASURED in
    tests/test_headroom_bounds.py): the render's 2*d^2*10^6 factor
    binds the exact form at |d| = |o*n - r*c| <= ~7e15; d grows like
    n^2 * (independence deviation), so percent-level deviations bind
    at ~8e8 events — below the declared 100 TB scale — and the wrap is
    LOUD (NUMERIC_VALUE_OUT_OF_RANGE), never a wrong number.  Beyond
    that, the DECLARED quantization drop — IMPLEMENTED as
    stats_chi_square_q4 below: d stays the exact int128 difference,
    the contribution is evaluated in correctly-rounded doubles and
    floored onto a declared 1e-4 grid, bit-identical in both engines
    to ~9e14 events (survival at the exact form's wrap point pinned in
    tests/test_headroom_bounds.py).  Sharding merges the integer contingency
    partials fine (counts are mergeable; the rational is evaluated
    once on the merged <= 7x5-cell table) but does not relax the
    render.  Contingency cells, not events, cross the wire."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count("*").alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
    )
    contrib = hu_ratio(_CHI_NUM, _CHI_DEN, 6)
    return cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(contrib.cast("decimal(24,9)")).cast("double").alias("chi_square"),
    )


# stats_chi_square_q4's per-cell double pipeline, factored so the
# headroom test can drive the PRODUCTION string at synthetic counts far
# past the exact form's wrap point.  d stays the exact int128 difference
# (needs only n^2 <= 1.7e38, i.e. all of int64); everything after is
# correctly-rounded double arithmetic on identical inputs, so both
# engines floor the identical product onto the declared 1e-4 grid.
_CHI_Q4_TERM = (
    f"floor(((cast({_CHI_D} as double) * cast({_CHI_D} as double))"
    " / ((cast(n as double) * cast(r as double)) * cast(c as double)))"
    " * 10000.0)"
)


@query(
    "stats_chi_square_q4",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY dow),
    nn AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
      SELECT CAST(FLOOR(((CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
                         / ((CAST(n AS DOUBLE) * CAST(r AS DOUBLE))
                            * CAST(c AS DOUBLE))) * 10000.0) AS HUGEINT)
               AS t4
      FROM (SELECT CAST(obs.o AS HUGEINT) * nn.n
                     - CAST(rt.r AS HUGEINT) * ct.c AS d,
                   nn.n, rt.r, ct.c
            FROM obs JOIN rt USING (event_type)
                     JOIN ct USING (dow) CROSS JOIN nn))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(t4) AS DOUBLE) / 10000.0 AS chi_square_q4
    FROM cells
    """,
)
def stats_chi_square_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic on a DECLARED 1e-4 contribution
    grid — the IMPLEMENTED rescale fallback
    stats_chi_square_independence's decision rule names for
    past-the-render-bound tables.

    The exact form's render factor 2*d^2*10^6 wraps int128 at
    |d| = |o*n - r*c| ~ 7e15 (~8e8 events at percent-level deviations).
    Here d itself stays the EXACT int128 difference (only n^2 <= 1.7e38
    is needed — all of int64), and the cell contribution d^2/(n*r*c) is
    then evaluated in correctly-rounded double arithmetic on identical
    integer inputs, floored onto a declared 1e-4 grid: every
    intermediate is the same IEEE double in both engines (the
    coreset-grid recipe — floor of a correctly-rounded product is
    half-hazard-free), so the quantized statistic is bit-identical at
    ANY event count, with per-cell error < 1e-4 by construction
    (~35 cells -> < 4e-3 absolute on a statistic compared against
    critical values in the tens-to-hundreds).  No int128 product of
    marginals anywhere: the denominator is a pure double product.  The
    remaining bound is Spark floor()'s bigint range on the scaled term
    (a cell contribution is <= n, so t4 <= n*10^4): n <= ~9e14 events,
    three orders past the declared 100 TB scale, and ANSI-loud beyond.
    Same plan shape as the exact form: contingency cells, not events,
    cross the wire."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count("*").alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
    )
    t4 = F.expr(f"cast({_CHI_Q4_TERM} as decimal(38,0))")
    return cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        (F.sum(t4).cast("double") / F.lit(10000.0)).alias("chi_square_q4"),
    )


@query(
    "histogram_equidepth_deciles",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS decile
      FROM events)
    SELECT event_type, CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo, MAX(value) AS hi
    FROM ranked GROUP BY event_type, decile
    """,
)
def histogram_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (decile buckets of equal row count) per event
    type — the optimizer-statistics and SLA-reporting companion to the
    equi-width ``histogram_value_bins``: boundaries adapt to the
    distribution, so skewed value ranges still get resolution where the
    mass is.  ntile ties break on event_id identically in both engines;
    bucket bounds are stored doubles, no arithmetic."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "stats_threshold_crossings",
    oracle="""
    WITH mu AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
      FROM events GROUP BY event_type),
    signed AS (
      SELECT e.event_type, e.ts, e.event_id,
             CASE WHEN e.value > mu.m THEN 1
                  WHEN e.value < mu.m THEN -1 ELSE 0 END AS s
      FROM events e JOIN mu ON mu.event_type = e.event_type),
    lagged AS (
      SELECT event_type, s,
             lag(s) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS ps
      FROM signed)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN s * ps = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crossings
    FROM lagged GROUP BY event_type
    """,
)
def stats_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-crossing count per event type — the oscillation/alerting
    signal (how often does the series flip across its baseline).  The
    per-type mean comes from a decimal-exact aggregate broadcast back
    onto the scan (the z-score shape); signs are exact comparisons and
    a lag window counts strict sign flips.  One fact shuffle for the
    window; the mean table is 5 rows."""
    e = load_table(spark, sf_dir, "events")
    mu = e.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*"))
        .alias("m")
    )
    signed = e.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        F.when(F.col("value") > F.col("m"), 1)
        .when(F.col("value") < F.col("m"), -1)
        .otherwise(0)
        .alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = signed.withColumn("ps", F.lag("s").over(w))
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("s") * F.col("ps") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_crossings"),
    )


_SESS_CUT = "2024-01-08 00:00:00"
_SESS_GAP_US = 1_800_000_000  # 30 min


@query(
    "session_incremental_merge",
    oracle="""
    WITH flagged AS (
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
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def session_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sessionization: sessions stored for data before the
    cutoff are merged with sessions computed over only the new batch --
    the nightly-ingest contract, where re-sessionizing the full history
    (the oracle's spelling) is the thing you must never do at 100 TB.

    Because every new event is later than every stored event, the ONLY
    interaction is at the per-user boundary: the stored LAST session and
    the batch's FIRST session fuse iff their gap is within 30 minutes.
    So the merge is: top-1-per-user from each side (WindowGroupLimit),
    one user-keyed equi-join to find bridges, and anti-flag the two
    fused rows.  Everything shuffles on user_id; the stored side at
    scale is a bucketed table read without re-shuffle.  The oracle's
    full recompute == this merge proves the incremental path loses or
    double-counts nothing (session ids are surrogate, so the contract
    compares (user, start, end, n))."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    cut = F.lit(_SESS_CUT).cast("timestamp")

    def sessionize(df):
        wo = Window.partitionBy("user_id").orderBy("us")
        wrun = wo.rowsBetween(Window.unboundedPreceding, 0)
        us = F.unix_micros(F.col("ts"))
        gap = us - F.lag(us).over(Window.partitionBy("user_id").orderBy("ts"))
        flagged = df.select(
            "user_id",
            us.alias("us"),
            F.when(gap.isNull() | (gap > _SESS_GAP_US), 1)
            .otherwise(0)
            .alias("new_session"),
        )
        sid = F.sum("new_session").over(wrun)
        return (
            flagged.withColumn("sid", sid)
            .groupBy("user_id", "sid")
            .agg(
                F.min("us").alias("s_us"),
                F.max("us").alias("e_us"),
                F.count("*").cast("bigint").alias("n_events"),
            )
        )

    old = sessionize(e.filter(F.col("ts") < cut))
    new = sessionize(e.filter(F.col("ts") >= cut))
    w_last = Window.partitionBy("user_id").orderBy(F.desc("e_us"))
    w_first = Window.partitionBy("user_id").orderBy(F.asc("s_us"))
    old_f = old.withColumn("is_edge", F.row_number().over(w_last) == 1)
    new_f = new.withColumn("is_edge", F.row_number().over(w_first) == 1)
    bridge = (
        old_f.filter("is_edge")
        .select("user_id", F.col("s_us").alias("old_s"),
                F.col("e_us").alias("old_e"), F.col("n_events").alias("old_n"))
        .join(
            new_f.filter("is_edge").select(
                "user_id", F.col("s_us").alias("new_s"),
                F.col("e_us").alias("new_e"), F.col("n_events").alias("new_n"),
            ),
            "user_id",
        )
        .filter(F.col("new_s") - F.col("old_e") <= _SESS_GAP_US)
    )
    fused = bridge.select(
        "user_id",
        F.col("old_s").alias("s_us"),
        F.col("new_e").alias("e_us"),
        (F.col("old_n") + F.col("new_n")).alias("n_events"),
    )
    bkeys = bridge.select("user_id").withColumn("bridged", F.lit(True))

    def unfused(df):
        return (
            df.join(bkeys, "user_id", "left")
            .filter(~(F.col("is_edge") & F.coalesce("bridged", F.lit(False))))
            .select("user_id", "s_us", "e_us", "n_events")
        )

    out = unfused(old_f).unionByName(unfused(new_f)).unionByName(fused)
    return out.select(
        "user_id",
        F.timestamp_micros("s_us").alias("session_start"),
        F.timestamp_micros("e_us").alias("session_end"),
        "n_events",
    )


@query(
    "timeseries_cross_correlation",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS na,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS nb
      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
    b AS (SELECT min(h) AS mn, max(h) AS mx FROM hourly),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
    s AS (SELECT epoch_us(spine.h) AS uh,
                 COALESCE(hourly.na, 0) AS na, COALESCE(hourly.nb, 0) AS nb
          FROM spine LEFT JOIN hourly ON hourly.h = spine.h),
    lags AS (SELECT unnest([0, 1, 2, 3]) AS lag_hours),
    p AS (SELECT l.lag_hours, x.na AS a, y.nb AS b2
          FROM lags l
          CROSS JOIN s x
          JOIN s y ON y.uh = x.uh + l.lag_hours * 3600000000),
    m AS (SELECT lag_hours, COUNT(*) AS n,
                 SUM(CAST(a AS DECIMAL(38,0))) AS sa,
                 SUM(CAST(b2 AS DECIMAL(38,0))) AS sb,
                 SUM(CAST(a * b2 AS DECIMAL(38,0))) AS sab,
                 SUM(CAST(a * a AS DECIMAL(38,0))) AS saa,
                 SUM(CAST(b2 * b2 AS DECIMAL(38,0))) AS sbb
          FROM p GROUP BY 1)
    SELECT CAST(lag_hours AS BIGINT) AS lag_hours, CAST(n AS BIGINT) AS n_hours,
           round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 4)
             AS xcorr
    FROM m
    """,
)
def timeseries_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the hourly 'view' and
    'purchase' count series at lags 0-3h: does view volume predict
    purchase volume an hour later?  The classic marketing/ops lead
    indicator readout, and the pairwise building block of a Granger
    screen.

    Scale shape: ONE map-side-combinable hour x (2-type conditional
    count) aggregate touches the raw events; the zero-filled spine,
    the 4-lag fan-out, and the shifted self-join all run on the
    calendar-bounded hourly grid (checkpointed once — the event scan
    never re-derives per lag).  The shift is an integer epoch-micros
    equi-join, not a row-order window, so missing hours can't silently
    misalign the series.

    Determinism: counts are exact ints; the five cross-moments
    accumulate in DECIMAL(38,0) (order-independent, and at 100 TB the
    squared hourly counts overflow int64 sums); the Pearson formula is
    spelled identically in both engines over the same pre-cast doubles
    and quantized round(4)."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("na"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("nb"),
        )
    )
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("h")
    )
    s = pin(
        spine.join(hourly, "h", "left")
        .select(
            F.unix_micros("h").alias("uh"),
            F.coalesce("na", F.lit(0)).cast("bigint").alias("na"),
            F.coalesce("nb", F.lit(0)).cast("bigint").alias("nb"),
        )
    )  # referenced twice (x and y): scan events once
    lags = spark.range(1).select(
        F.explode(F.expr("sequence(0, 3)")).alias("lag_hours")
    )
    x = s.select(F.col("uh").alias("ux"), F.col("na").alias("a"))
    y = s.select(F.col("uh").alias("uy"), F.col("nb").alias("b2"))
    p = (
        F.broadcast(lags)
        .crossJoin(x)
        .join(y, F.col("uy") == F.col("ux") + F.col("lag_hours") * 3600000000)
        .select("lag_hours", "a", "b2")
    )
    m = p.groupBy("lag_hours").agg(
        F.count("*").alias("n"),
        F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("b2").cast("decimal(38,0)")).alias("sb"),
        F.sum((F.col("a") * F.col("b2")).cast("decimal(38,0)")).alias("sab"),
        F.sum((F.col("a") * F.col("a")).cast("decimal(38,0)")).alias("saa"),
        F.sum((F.col("b2") * F.col("b2")).cast("decimal(38,0)")).alias("sbb"),
    )
    nd = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    return m.select(
        F.col("lag_hours").cast("bigint").alias("lag_hours"),
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(
            (nd * sab - sa * sb)
            / (F.sqrt(nd * saa - sa * sa) * F.sqrt(nd * sbb - sb * sb)),
            4,
        ).alias("xcorr"),
    )


@query(
    "resample_ohlc_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           arg_min(round(value, 6),
                   CAST(epoch_us(ts) AS HUGEINT) * 9223372036854775808 + event_id)
             AS open,
           round(MAX(value), 6) AS high,
           round(MIN(value), 6) AS low,
           arg_max(round(value, 6),
                   CAST(epoch_us(ts) AS HUGEINT) * 9223372036854775808 + event_id)
             AS close
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def resample_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) bars over the purchase-value
    stream — the canonical financial/metrics downsample where open and
    close are ORDER-dependent arg-extremes, not plain min/max.  One
    map-side-combinable day aggregate over the scan; no window, no
    shuffle beyond the ≤|days| groups.

    Determinism: open/close use a total ordering key (ts, event_id) —
    Spark orders by the STRUCT (no range preconditions); DuckDB's
    arg_min/arg_max take no composite key, so the twin packs
    epoch-micros and event_id into one HUGEINT with a 2^63 place-value
    multiplier (epoch_us * 2^63 + event_id — int128; strict place-value
    ordering for ANY non-negative int64 event_id, since event_id < 2^63
    by type.  The earlier 1e9 multiplier only matched the STRUCT order
    while event_id < 1e9).  Values quantize round(6) on output."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    key = F.struct("ts", "event_id")
    return e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min_by(F.round("value", 6), key).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.max_by(F.round("value", 6), key).alias("close"),
    )


# ------------------------------------------- linear interpolation

_LERP_STEP = 300  # 5-minute grid (gaps exist at every shipped SF)

_LERP_NUM = "pv * (nt - pt) + (nx - pv) * (bucket_s - pt)"
_LERP_DEN = "(nt - pt)"


def _lerp_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.numeric import (
        hu_ratio_signed_sql,
    )

    lerp = hu_ratio_signed_sql(_LERP_NUM, _LERP_DEN, 4)
    return f"""
    WITH known AS (
      SELECT (epoch_us(ts) // 1000000 // {_LERP_STEP}) * {_LERP_STEP}
               AS bucket_s,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    b AS (SELECT min(bucket_s) AS mn, max(bucket_s) AS mx FROM known),
    spine AS (
      SELECT unnest(generate_series(mn, mx, {_LERP_STEP})) AS bucket_s
      FROM b),
    grid AS (
      SELECT bucket_s, event_type
      FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM known)),
    j AS (
      SELECT g.bucket_s, g.event_type, k.n
      FROM grid g LEFT JOIN known k USING (bucket_s, event_type)),
    w AS (
      SELECT bucket_s, event_type, n,
        last_value(CASE WHEN n IS NOT NULL THEN n END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY bucket_s
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN n IS NOT NULL THEN bucket_s END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(CASE WHEN n IS NOT NULL THEN n END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY bucket_s
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx,
        first_value(CASE WHEN n IS NOT NULL THEN bucket_s END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j)
    SELECT bucket_s, event_type, (n IS NULL) AS is_gap,
           CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                WHEN pv IS NULL OR nx IS NULL THEN NULL
                ELSE {lerp} END AS n_lin
    FROM w
    """


@query("resample_interpolate_linear", oracle=_lerp_oracle())
def resample_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION (the other half of the
    hypertable-rollup story next to ``resample_gapfill_1h``'s locf):
    resample events to a 5-minute per-type grid, and for every empty
    bucket strictly between two observed buckets render
    v0 + (v1 - v0) * (t - t0) / (t1 - t0) from the nearest observed
    neighbors.  Buckets before the first / after the last observation
    stay NULL (extrapolation would be invention).

    Cross-engine exactness: anchors are integer counts and integer
    epoch-second buckets, so the interpolated value is an exact
    rational — rendered with the signed integer half-up recipe
    (functions/numeric.py), never round(double, N) of a ratio.  The
    division is reached ONLY on gap rows with both anchors (lazy CASE
    in both engines), where t1 > t > t0 guarantees den > 0 — no ANSI
    divide-by-zero path exists.

    Scale shape: one map-side-combinable hash agg touches the raw
    events; everything after runs on the calendar-bounded spine
    (range/5min x |event types| rows, independent of input size) — the
    same output-proportional adjudication as resample_gapfill_1h.  The
    anchor windows partition by series; for multi-year ranges,
    range-partition time and carry edge anchors across chunks with one
    tiny extra pass."""
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio_signed

    e = load_table(spark, sf_dir, "events")
    known = (
        e.select(
            F.expr(
                f"unix_micros(ts) div 1000000 div {_LERP_STEP}"
                f" * {_LERP_STEP}"
            ).alias("bucket_s"),
            "event_type",
        )
        .groupBy("bucket_s", "event_type")
        .agg(F.count("*").alias("n"))
    )
    bounds = known.agg(
        F.min("bucket_s").alias("mn"), F.max("bucket_s").alias("mx")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.lit(_LERP_STEP).cast("bigint"))
        ).alias("bucket_s")
    )
    grid = spine.crossJoin(known.select("event_type").distinct())
    j = grid.join(known, ["bucket_s", "event_type"], "left")

    # Both anchor scans are CUMULATIVE (unboundedPreceding..current)
    # frames — Spark evaluates those incrementally (O(n) per series),
    # whereas a (current..unboundedFollowing) frame re-aggregates the
    # tail per row (O(n^2): measured 9 s vs 0.3 s on the sf0.1 spine).
    # "Next anchor" is therefore spelled as a DESC-ordered running
    # last-non-null — identical values, linear evaluation.
    back = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("bucket_s"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    known_n = F.when(F.col("n").isNotNull(), F.col("n"))
    known_t = F.when(F.col("n").isNotNull(), F.col("bucket_s"))
    w = j.select(
        "bucket_s",
        "event_type",
        "n",
        F.last(known_n, ignorenulls=True).over(back).alias("pv"),
        F.last(known_t, ignorenulls=True).over(back).alias("pt"),
        F.last(known_n, ignorenulls=True).over(fwd).alias("nx"),
        F.last(known_t, ignorenulls=True).over(fwd).alias("nt"),
    )
    n_lin = (
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(
            F.col("pv").isNull() | F.col("nx").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(hu_ratio_signed(_LERP_NUM, _LERP_DEN, 4))
    )
    return w.select(
        "bucket_s",
        "event_type",
        F.col("n").isNull().alias("is_gap"),
        n_lin.alias("n_lin"),
    )


# --------------------------------------------- robust-z anomaly flags

# flag threshold: |c - med| > 3 * 1.4826 * MAD, cleared of floats as
# 10000 * |c - med| > 44478 * MAD (3 * 1.4826 * 10^4 = 44478 exactly)
_RZ_NUM = 10000
_RZ_DEN = 44478
_RZ_K = 14826  # 1.4826 * 10^4 — the normal-consistency constant


@query(
    "anomaly_robust_zscore_daily",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    r1 AS (
      SELECT event_type, day, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c, day) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d),
    med AS (
      SELECT event_type,
             MIN(CASE WHEN rk = CAST(ceil(n / 2.0) AS BIGINT)
                      THEN c END) AS med
      FROM r1 GROUP BY event_type),
    dev AS (
      SELECT d.event_type, d.day, d.c, m.med, abs(d.c - m.med) AS ad
      FROM d JOIN med m ON m.event_type = d.event_type),
    r2 AS (
      SELECT event_type, ad,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ad, day) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev),
    mad AS (
      SELECT event_type,
             MIN(CASE WHEN rk = CAST(ceil(n / 2.0) AS BIGINT)
                      THEN ad END) AS mad
      FROM r2 GROUP BY event_type)
    SELECT dev.event_type, dev.day, CAST(dev.c AS BIGINT) AS n_events,
           CAST(dev.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
           CASE WHEN mad.mad = 0 THEN NULL
                ELSE {hu_ratio_sql(
                    f"abs(dev.c - dev.med) * {_RZ_NUM}",
                    f"{_RZ_K} * mad.mad", 4)} END AS robust_z,
           (mad.mad > 0 AND {_RZ_NUM} * abs(dev.c - dev.med)
              > {_RZ_DEN} * mad.mad) AS is_anomaly
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    """,
)
def anomaly_robust_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust z-score anomaly flags on daily event volumes per type —
    the median/MAD outlier detector monitoring pipelines prefer over
    mean/stddev (a single spike inflates a stddev but barely moves a
    MAD).  A day is anomalous when |c - med| > 3 * 1.4826 * MAD.

    Determinism: daily counts are exact integers; both medians are
    nearest-rank selections (the stats_mad_events recipe — never
    interpolation); the FLAG is the cross-multiplied integer compare
    {_RZ_NUM} * |c - med| > {_RZ_DEN} * MAD (3 * 1.4826 folded into one
    integer constant — no float ever meets the threshold), and the
    reported z renders via the integer half-up recipe with MAD = 0
    rendering NULL through the lazy CASE (the ANSI divide-by-zero
    rule).  Scale shape: the day grid is calendar-bounded, so after one
    (type, day) count aggregate every window runs on ~corpus-span rows
    per type; the median tables broadcast back onto the day grid."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("c"))
    w1 = Window.partitionBy("event_type").orderBy("c", "day")
    wn = Window.partitionBy("event_type")
    r1 = d.select(
        "event_type",
        "c",
        F.row_number().over(w1).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    med = r1.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") / 2.0).cast("bigint"),
                F.col("c"),
            )
        ).alias("med")
    )
    dev = d.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "c",
        "med",
        F.abs(F.col("c") - F.col("med")).alias("ad"),
    )
    w2 = Window.partitionBy("event_type").orderBy("ad", "day")
    r2 = dev.select(
        "event_type",
        "ad",
        F.row_number().over(w2).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    mad = r2.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") / 2.0).cast("bigint"),
                F.col("ad"),
            )
        ).alias("mad")
    )
    z = hu_ratio(f"ad * {_RZ_NUM}", f"{_RZ_K} * mad", 4)
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        F.col("c").cast("bigint").alias("n_events"),
        F.col("med").cast("bigint").alias("med"),
        F.col("mad").cast("bigint").alias("mad"),
        F.when(F.col("mad") == 0, F.lit(None)).otherwise(z).alias(
            "robust_z"
        ),
        (
            (F.col("mad") > 0)
            & (_RZ_NUM * F.col("ad") > _RZ_DEN * F.col("mad"))
        ).alias("is_anomaly"),
    )


# --------------------------------------------- Cramér's V effect size


def _cramers_oracle() -> str:
    return f"""
    WITH obs AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY dow),
    n AS (SELECT SUM(o) AS n FROM obs),
    dims AS (SELECT (SELECT COUNT(*) FROM rt) AS nr,
                    (SELECT COUNT(*) FROM ct) AS nc),
    cells AS (
      SELECT CAST({hu_ratio_sql(
          "(CAST(obs.o AS HUGEINT) * n.n - CAST(rt.r AS HUGEINT) * ct.c)"
          " * (CAST(obs.o AS HUGEINT) * n.n - CAST(rt.r AS HUGEINT) * ct.c)",
          "CAST(n.n AS HUGEINT) * rt.r * ct.c", 6)}
               AS DECIMAL(24,9)) AS contrib
      FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n),
    chi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                   CAST(SUM(contrib) AS DOUBLE) AS chi_square
            FROM cells)
    SELECT chi.n_cells, CAST(dims.nr AS BIGINT) AS n_rows,
           CAST(dims.nc AS BIGINT) AS n_cols, chi.chi_square,
           CAST(least(dims.nr - 1, dims.nc - 1) AS BIGINT) AS dof_min,
           CASE WHEN least(dims.nr - 1, dims.nc - 1) < 1 THEN NULL
                ELSE round(sqrt(chi.chi_square
                     / (CAST(n.n AS DOUBLE)
                        * least(dims.nr - 1, dims.nc - 1))), 6) END
             AS cramers_v
    FROM chi CROSS JOIN dims CROSS JOIN n
    """


@query("stats_cramers_v", oracle=_cramers_oracle())
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event_type x day-of-week
    contingency — the normalized companion of
    stats_chi_square_independence: chi-square grows with n, so a
    monitoring pipeline alerts on V = sqrt(chi2 / (n * min(r-1, c-1)))
    in [0, 1] instead (the 'is this dependence MATERIAL' readout).

    Determinism: the chi-square statistic is the same 1e-6-grid exact
    rational sum as the base query (the _CHI_* production strings —
    headroom rules there apply verbatim); V is sqrt of
    identical-double / exact-int, and round(sqrt-output, 6) is safe
    (never a decimal half — CLAUDE.md).  A degenerate 1-row/1-col
    table renders NULL through the lazy CASE.  Scale shape: identical
    to the base chi-square — contingency cells, never events, cross
    the wire; the dims are two 1-row counts broadcast into a 1-row
    readout."""
    e = load_table(spark, sf_dir, "events")
    obs = pin(e.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count("*").alias("o")))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    dims = rt.agg(F.count("*").alias("nr")).crossJoin(
        F.broadcast(ct.agg(F.count("*").alias("nc")))
    )
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
    )
    contrib = hu_ratio(_CHI_NUM, _CHI_DEN, 6)
    chi = cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(contrib.cast("decimal(24,9)"))
        .cast("double")
        .alias("chi_square"),
    )
    v = F.round(
        F.sqrt(
            F.col("chi_square")
            / (
                F.col("n").cast("double")
                * F.least(F.col("nr") - 1, F.col("nc") - 1)
            )
        ),
        6,
    )
    return (
        chi.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(n))
        .select(
            "n_cells",
            F.col("nr").cast("bigint").alias("n_rows"),
            F.col("nc").cast("bigint").alias("n_cols"),
            "chi_square",
            F.least(F.col("nr") - 1, F.col("nc") - 1)
            .cast("bigint")
            .alias("dof_min"),
            F.when(
                F.least(F.col("nr") - 1, F.col("nc") - 1) < 1, F.lit(None)
            )
            .otherwise(v)
            .alias("cramers_v"),
        )
    )
