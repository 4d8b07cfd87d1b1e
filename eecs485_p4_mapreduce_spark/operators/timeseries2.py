"""Time-series statistics over the regularized event grid: truncated
EWMA smoothing, lag-1 autocorrelation, rolling nearest-rank medians, and
an OLS trend fit -- the monitoring/forecast-prep layer on top of the
hourly resample (timeseries.py).

The reference framework could only express these as custom reducers over
a pre-sorted partition (SURVEY.md §2.C "Window functions ... absent");
here every query is hash aggregates + tiny spines.

Scale shape (shared by all four): the only pass over the raw 100 TB
input is the per-bucket COUNT -- a map-side-combinable hash aggregate.
Everything after runs on data proportional to buckets x series (the
OUTPUT size), and the "rolling window" computations are expressed as an
explode of each bucket into the <= 32 future buckets it contributes to,
turning a positional window frame into a plain equi-key aggregation that
partial-aggregates map-side and never needs a per-series global sort.
At 1000 executors the bucket grid shuffles by (series, bucket) -- no
skew, no single-partition window.

Cross-engine determinism: bucket counts are BIGINT; EWMA weights are
powers of two accumulated in BIGINT and divided by 2^32 once at the end
(exact in IEEE double); correlation/OLS use integer moment sums with the
final float expression written identically on both engines; medians are
nearest-rank selections of stored integers -- no float compares anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import pin
from eecs485_p4_mapreduce_spark.functions.numeric import (
    hu_ratio,
    hu_ratio_signed,
    hu_ratio_signed_sql,
    hu_ratio_sql,
)
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table

_US_PER_HOUR = 3_600_000_000
_US_PER_DAY = 86_400_000_000


def _hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h, n): events per epoch-hour bucket -- the one pass
    that touches the raw input (map-side combinable hash agg)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {_US_PER_HOUR}").alias("h"),
        )
        .agg(F.count("*").alias("n"))
    )


_HOURLY_DUCK = f"""
    hourly AS (
      SELECT event_type, epoch_us(ts) // {_US_PER_HOUR} AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
"""


def _zero_filled(hourly: DataFrame) -> DataFrame:
    """Per-series dense hourly grid with missing buckets as 0 -- the
    spine is sequence(min_h, max_h) from a per-series 1-row aggregate
    (rows proportional to hours-in-range, never to input size)."""
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("min_h"), F.max("h").alias("max_h"))
        .select(
            "event_type",
            F.explode(F.sequence("min_h", "max_h")).alias("h"),
        )
    )
    return spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n")
    )


_FILLED_DUCK = f"""
    {_HOURLY_DUCK},
    spine AS (
      SELECT event_type, unnest(generate_series(min_h, max_h)) AS h
      FROM (SELECT event_type, min(h) AS min_h, max(h) AS max_h
            FROM hourly GROUP BY 1)),
    filled AS (
      SELECT s.event_type, s.h, COALESCE(hourly.n, 0) AS n
      FROM spine s LEFT JOIN hourly USING (event_type, h))
"""


@query(
    "timeseries_ewma_hourly",
    oracle=f"""
    WITH {_FILLED_DUCK},
    contrib AS (
      SELECT f.event_type, f.h + t.k AS target_h,
             f.n * (CAST(1 AS BIGINT) << (31 - t.k)) AS w
      FROM filled f CROSS JOIN generate_series(0, 31) AS t(k)),
    mx AS (SELECT event_type, max(h) AS max_h FROM hourly GROUP BY 1)
    SELECT c.event_type,
           make_timestamp(c.target_h * {_US_PER_HOUR}) AS hour_start,
           CAST(CAST(SUM(c.w) AS BIGINT) AS DOUBLE) / 4294967296.0 AS ewma
    FROM contrib c JOIN mx USING (event_type)
    WHERE c.target_h <= mx.max_h
    GROUP BY 1, 2
    """,
)
def timeseries_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average (alpha = 1/2, 32
    taps) of the zero-filled hourly event counts per type -- the smoothed
    rate curve behind alerting baselines.

    The recurrence s_t = a*x_t + (1-a)*s_{{t-1}} is re-expressed as the
    finite sum sum_k x_{{t-k}} * 2^(31-k) / 2^32: each hourly bucket
    EXPLODES into the 32 future buckets it decays into with a
    power-of-two BIGINT weight, and the per-target SUM is a plain hash
    aggregate -- no per-series ordered window, so a series spanning years
    still parallelizes across executors.  The single f.p. operation is
    the final exact-by-construction division by 2^32 (integer payload
    << 2^53), making the result bitwise identical across engines and
    partial-agg orders.  Tail weights below 2^-32 are dropped -- a
    relative truncation error < 1e-9, far under any monitoring signal.
    """
    hourly = _hourly_counts(spark, sf_dir)
    filled = _zero_filled(hourly)
    contrib = filled.select(
        "event_type",
        "n",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("k"),
    ).select(
        "event_type",
        (F.col("h") + F.col("k")).alias("target_h"),
        F.expr("n * shiftleft(CAST(1 AS BIGINT), 31 - k)").alias("w"),
    )
    mx = hourly.groupBy("event_type").agg(F.max("h").alias("max_h"))
    return (
        contrib.groupBy("event_type", "target_h")
        .agg(F.sum("w").alias("s"))
        .join(F.broadcast(mx), "event_type")
        .filter(F.col("target_h") <= F.col("max_h"))
        .select(
            "event_type",
            F.timestamp_micros(F.col("target_h") * _US_PER_HOUR).alias(
                "hour_start"
            ),
            (F.col("s").cast("double") / F.lit(4294967296.0)).alias("ewma"),
        )
    )


@query(
    "stats_autocorr_lag1",
    oracle=f"""
    WITH {_FILLED_DUCK},
    pairs AS (
      SELECT event_type, n AS y,
             lag(n) OVER (PARTITION BY event_type ORDER BY h) AS x
      FROM filled),
    m AS (
      SELECT event_type, COUNT(*) AS np,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs WHERE x IS NOT NULL GROUP BY 1)
    SELECT event_type, np AS n_pairs,
           CAST(np * sxy - sx * sy AS DOUBLE)
             / NULLIF(sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
                           * CAST(np * syy - sy * sy AS DOUBLE)), 0.0)
             AS acf1
    FROM m
    """,
)
def stats_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the zero-filled hourly count series per
    event type -- the burstiness/persistence diagnostic (near 0 =
    memoryless arrivals, near 1 = strong hour-to-hour momentum).

    Pearson r over consecutive-bucket pairs from five integer moment
    sums; the only shuffle beyond the bucket aggregate is one per-series
    window for the lag pairing (each series is one task's worth of
    bucket rows, not raw events -- for multi-year series, range-partition
    time and carry one boundary row).  All moments are exact BIGINTs;
    the final correlation expression is written identically on both
    engines, so the doubles agree bitwise.  NULLIF guards the
    constant-series case (zero variance => NULL, not a crash).
    """
    filled = _zero_filled(_hourly_counts(spark, sf_dir))
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = filled.select(
        "event_type",
        F.col("n").alias("y"),
        F.lag("n").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    m = pairs.groupBy("event_type").agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "event_type",
        F.col("np").alias("n_pairs"),
        (num / F.nullif(den, F.lit(0.0))).alias("acf1"),
    )


@query(
    "window_rolling_median_24h",
    oracle=f"""
    WITH {_FILLED_DUCK},
    contrib AS (
      SELECT f.event_type, f.h + t.k AS target_h, f.n
      FROM filled f CROSS JOIN generate_series(0, 23) AS t(k)),
    mx AS (SELECT event_type, max(h) AS max_h FROM hourly GROUP BY 1),
    frames AS (
      SELECT c.event_type, c.target_h,
             array_agg(c.n ORDER BY c.n) AS xs, COUNT(*) AS frame_n
      FROM contrib c JOIN mx USING (event_type)
      WHERE c.target_h <= mx.max_h
      GROUP BY 1, 2)
    SELECT event_type,
           make_timestamp(target_h * {_US_PER_HOUR}) AS hour_start,
           CAST(frame_n AS BIGINT) AS frame_n,
           xs[CAST((frame_n + 1) // 2 AS INT)] AS median_n
    FROM frames
    """,
)
def window_rolling_median_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour nearest-rank median of the zero-filled hourly
    counts per event type -- the outlier-robust baseline a z-score
    monitor (stats_zscore_outliers) wants instead of the mean.

    A positional ROWS window over a long series serializes each series
    into one sorted task; instead each bucket explodes into the <= 24
    target buckets whose frame it belongs to, and each frame is rebuilt
    as a group of <= 24 rows -- an equi-key aggregation that scales with
    buckets x 24, shuffles by (series, target), and needs no per-series
    ordering.  The median is element (k+1)//2 of the SORTED frame values
    (lower nearest-rank, exact -- no interpolation), so leading partial
    frames are well-defined and every value is an integer selected, not
    computed: bitwise determinism for free.
    """
    filled = _zero_filled(_hourly_counts(spark, sf_dir))
    contrib = filled.select(
        "event_type",
        "n",
        F.explode(F.sequence(F.col("h"), F.col("h") + F.lit(23))).alias(
            "target_h"
        ),
    )
    mx = _hourly_counts(spark, sf_dir).groupBy("event_type").agg(
        F.max("h").alias("max_h")
    )
    frames = (
        contrib.join(F.broadcast(mx), "event_type")
        .filter(F.col("target_h") <= F.col("max_h"))
        .groupBy("event_type", "target_h")
        .agg(
            F.array_sort(F.collect_list("n")).alias("xs"),
            F.count("*").alias("frame_n"),
        )
    )
    return frames.select(
        "event_type",
        F.timestamp_micros(F.col("target_h") * _US_PER_HOUR).alias(
            "hour_start"
        ),
        "frame_n",
        F.element_at(
            "xs", ((F.col("frame_n") + 1) / 2).cast("int")
        ).alias("median_n"),
    )


@query(
    "stats_trend_ols_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    spine AS (
      SELECT event_type, min_d,
             unnest(generate_series(min_d, max_d)) AS d
      FROM (SELECT event_type, min(d) AS min_d, max(d) AS max_d
            FROM daily GROUP BY 1)),
    filled AS (
      SELECT s.event_type, s.d - s.min_d AS x, COALESCE(daily.n, 0) AS y
      FROM spine s LEFT JOIN daily USING (event_type, d)),
    m AS (
      SELECT event_type, COUNT(*) AS np,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM filled GROUP BY 1)
    SELECT event_type, np AS n_days,
           CAST(np * sxy - sx * sy AS DOUBLE)
             / NULLIF(CAST(np * sxx - sx * sx AS DOUBLE), 0.0) AS slope,
           (CAST(sy AS DOUBLE)
             - (CAST(np * sxy - sx * sy AS DOUBLE)
                / NULLIF(CAST(np * sxx - sx * sx AS DOUBLE), 0.0))
               * CAST(sx AS DOUBLE)) / CAST(np AS DOUBLE) AS intercept
    FROM m
    """,
)
def stats_trend_ols_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend line (events/day vs day index) over the
    zero-filled daily series -- the growth/decay slope a data-volume
    monitor alerts on.

    Closed-form simple regression from four integer moment sums, x
    rebased to day-0 per series so the BIGINT cross-moments stay tiny.
    One map-side-combinable aggregate over the input, then everything is
    output-sized.  slope and intercept are computed with the identical
    float expression on both engines over exact integers -- bitwise
    stable.  Degenerate one-day series yield NULL slope via NULLIF, not
    a division crash.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("d"),
        )
        .agg(F.count("*").alias("n"))
    )
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("d").alias("min_d"), F.max("d").alias("max_d"))
        .select(
            "event_type",
            "min_d",
            F.explode(F.sequence("min_d", "max_d")).alias("d"),
        )
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        (F.col("d") - F.col("min_d")).alias("x"),
        F.coalesce("n", F.lit(0)).alias("y"),
    )
    m = filled.groupBy("event_type").agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / F.nullif(
        (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("np").cast("double")
    return m.select(
        "event_type",
        F.col("np").alias("n_days"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


@query(
    "stats_cusum_changepoint",
    oracle=f"""
    WITH {_FILLED_DUCK},
    idx AS (
      SELECT f.event_type, f.h, f.n,
             CAST(f.h - mn.min_h + 1 AS BIGINT) AS t,
             CAST(SUM(f.n) OVER (PARTITION BY f.event_type ORDER BY f.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS prefix
      FROM filled f
      JOIN (SELECT event_type, min(h) AS min_h FROM filled GROUP BY 1) mn
        USING (event_type)),
    tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS big_n,
                   CAST(COUNT(*) AS BIGINT) AS b
            FROM filled GROUP BY 1),
    cs AS (
      SELECT i.event_type, i.h, i.t,
             i.prefix * tot.b - i.t * tot.big_n AS cusum_scaled, tot.b
      FROM idx i JOIN tot USING (event_type)),
    ranked AS (
      SELECT event_type, h, cusum_scaled, b,
             row_number() OVER (PARTITION BY event_type
               ORDER BY abs(cusum_scaled) DESC, h ASC) AS rk
      FROM cs)
    SELECT event_type,
           make_timestamp(h * {_US_PER_HOUR}) AS cp_hour,
           cusum_scaled,
           CAST(cusum_scaled AS DOUBLE) / b AS cusum_value
    FROM ranked WHERE rk = 1
    """,
)
def stats_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the hour where the
    cumulative deviation from the series mean peaks -- the classic
    level-shift locator behind rate-change alerts.

    CUSUM_t = prefix_t - t*mean involves the rational mean N/B; scaling
    by B keeps everything integer: cusum_scaled = prefix_t*B - t*N, an
    exact BIGINT whose argmax (|.| DESC, earliest-hour tie-break) is
    bitwise deterministic, with the single double produced by one exact
    division at the end.  The prefix sums run per-series over the
    zero-filled bucket grid -- output-sized rows, one window task per
    series -- and the input-sized work remains the one bucket-count
    aggregate."""
    filled = _zero_filled(_hourly_counts(spark, sf_dir))
    mn = filled.groupBy("event_type").agg(F.min("h").alias("min_h"))
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    idx = filled.join(F.broadcast(mn), "event_type").select(
        "event_type",
        "h",
        (F.col("h") - F.col("min_h") + 1).cast("bigint").alias("t"),
        F.sum("n").over(wrun).cast("bigint").alias("prefix"),
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.count("*").cast("bigint").alias("b"),
    )
    cs = idx.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "h",
        (F.col("prefix") * F.col("b") - F.col("t") * F.col("big_n")).alias(
            "cusum_scaled"
        ),
        "b",
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.abs(F.col("cusum_scaled")).desc(), F.col("h").asc()
        )
    )
    return (
        cs.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.timestamp_micros(F.col("h") * _US_PER_HOUR).alias("cp_hour"),
            "cusum_scaled",
            (F.col("cusum_scaled").cast("double") / F.col("b")).alias(
                "cusum_value"
            ),
        )
    )


@query(
    "stats_interarrival_burstiness",
    oracle="""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type ORDER BY ts)) // 1000000
               AS gap_s
      FROM events),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(gap_s) AS BIGINT) AS sx,
             SUM(gap_s * gap_s) AS sxx
      FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           CAST(sx AS DOUBLE) / n AS mean_gap_s,
           (sqrt(CAST(sxx AS DOUBLE) / n
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
            - CAST(sx AS DOUBLE) / n)
           / NULLIF(sqrt(CAST(sxx AS DOUBLE) / n
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
            + CAST(sx AS DOUBLE) / n, 0.0) AS burstiness
    FROM m
    """,
)
def stats_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of per-user
    inter-arrival times, per event type (B near -1: metronome; near 0:
    Poisson; near 1: extreme bursts) -- the arrival-process fingerprint
    behind capacity planning and bot detection.

    Gaps come from ONE lag window partitioned by (user, type) -- the
    sessionization shuffle shape, never a global per-type sort -- in
    integer seconds.  The moment sums are exact (BIGINT / DuckDB
    HUGEINT; sxx stays under 2^63 at any plausible per-user history),
    and both engines cast the same exact integers to double before the
    identical sigma/mu expression, so the result is bitwise stable.
    NULLIF guards single-gap degenerate types."""
    e = load_table(spark, sf_dir, "events")
    g = e.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) over "
            "(partition by user_id, event_type order by ts)) div 1000000"
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    m = g.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("gap_s").cast("bigint").alias("sx"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    sd = F.sqrt(F.col("sxx").cast("double") / F.col("n") - mu * mu)
    return m.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        mu.alias("mean_gap_s"),
        ((sd - mu) / F.nullif(sd + mu, F.lit(0.0))).alias("burstiness"),
    )


@query(
    "stats_watermark_lateness",
    oracle="""
    WITH arr AS (
      SELECT event_type, event_id, epoch_us(ts) AS t_us,
             max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm_us
      FROM events),
    late AS (SELECT event_type, event_id, hwm_us - t_us AS late_us FROM arr),
    ranked AS (
      SELECT event_type, late_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY late_us, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM late)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us,
           CAST(MAX(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT)
                         THEN late_us END) AS BIGINT) AS p95_late_us
    FROM ranked GROUP BY event_type
    """,
)
def stats_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: how late does event time arrive relative
    to the high-water mark already seen, in arrival order (event_id as
    the arrival proxy)?  p95/max lateness per type IS the number one
    plugs into ``withWatermark`` -- too small drops real data, too
    large holds state; this query replaces that guess with a
    measurement, the prerequisite for every windowed streaming job in
    this engine.

    Shape: one event_type-keyed running-max window (same shuffle a
    streaming aggregation would do), then exact rank-based p95 -- the
    quantile is the value at position ceil(.95 n) of the sorted
    lateness, an integer microsecond count, so both engines agree
    bit-for-bit with no interpolation.  Output is one row per type.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = e.select(
        "event_type",
        "event_id",
        F.expr("unix_micros(ts)").alias("t_us"),
    ).withColumn("hwm_us", F.max(F.expr("t_us")).over(w))
    late = arr.select(
        "event_type", "event_id", (F.col("hwm_us") - F.col("t_us")).alias("late_us")
    )
    wr = Window.partitionBy("event_type").orderBy("late_us", "event_id")
    ranked = late.select(
        "event_type",
        "late_us",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
        F.max(
            F.when(
                F.col("rk") == F.ceil(0.95 * F.col("n")).cast("bigint"),
                F.col("late_us"),
            )
        )
        .cast("bigint")
        .alias("p95_late_us"),
    )


# candidate watermark delays (microseconds): 0s, 1m, 10m, 1h, 6h
_WM_DELAYS_US = (0, 60_000_000, 600_000_000, 3_600_000_000, 21_600_000_000)


@query(
    "streaming_late_drop_curve",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, epoch_us(ts) AS t_us,
             max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm_us
      FROM events),
    late AS (SELECT event_type, hwm_us - t_us AS late_us FROM arr),
    d AS (SELECT unnest(list_value{_WM_DELAYS_US}) AS delay_us)
    SELECT l.event_type, CAST(d.delay_us AS BIGINT) AS delay_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN l.late_us > d.delay_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM late l CROSS JOIN d
    GROUP BY l.event_type, d.delay_us
    """,
)
def streaming_late_drop_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop-rate-vs-watermark-delay curve: for each candidate
    ``withWatermark`` delay, how many events would arrive later than
    the mark and be dropped?  Together with ``stats_watermark_lateness``
    this is the complete sizing procedure: measure the lateness
    distribution, then read the delay that meets the loss budget off
    this curve.

    One lateness pass (the same event_type-keyed running-max window),
    then a 5-row delay grid joined in -- Spark explodes the literal
    array, so the curve costs one extra Expand over the lateness rows,
    not five scans.  All comparisons are integer microseconds.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = (
        e.select("event_type", "event_id", F.expr("unix_micros(ts)").alias("t_us"))
        .withColumn("hwm_us", F.max("t_us").over(w))
        .select("event_type", (F.col("hwm_us") - F.col("t_us")).alias("late_us"))
    )
    curve = late.select(
        "event_type",
        "late_us",
        F.explode(F.array(*[F.lit(d) for d in _WM_DELAYS_US])).alias("delay_us"),
    )
    return curve.groupBy("event_type", "delay_us").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_us") > F.col("delay_us"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
    ).select(
        "event_type",
        F.col("delay_us").cast("bigint").alias("delay_us"),
        "n_events",
        "n_dropped",
    )


@query(
    "window_time_weighted_avg",
    oracle=f"""
    WITH seg AS (
      SELECT event_type, value,
             epoch_us(lead(ts) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id)) - epoch_us(ts)
               AS dur_us
      FROM events),
    m AS (
      SELECT event_type,
             SUM(CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000
                      AS HUGEINT) * dur_us) AS wsum_i,
             CAST(SUM(dur_us) AS BIGINT) AS tot_us
      FROM seg WHERE dur_us IS NOT NULL
      GROUP BY event_type)
    SELECT event_type, tot_us,
           {hu_ratio_signed_sql("wsum_i",
                                "CAST(tot_us AS HUGEINT) * 1000000", 6)}
             AS twavg
    FROM m
    """,
)
def window_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type -- the
    TWAP/IoT-sensor aggregation where each reading counts for as long
    as it was the latest one (weight = microseconds until the next
    reading), not once per row.  A plain AVG over irregular samples
    overweights bursts; this is the correct continuous-time mean.

    One lead() window per type for segment durations (the same keyed
    shuffle the sessionizers use), then integer-microsecond weights
    times 10^6-scaled integer values accumulate exactly in
    decimal(38,0)/HUGEINT, and the TWAP renders via the signed integer
    half-up recipe over (weighted sum, total_us * 10^6) -- never
    round(double, N) of a decimal ratio (the cross-engine half-boundary
    class).  The final open-ended segment has no duration and is
    excluded on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = e.select(
        "event_type",
        "value",
        (
            F.expr("unix_micros(lead(ts) over (partition by event_type"
                   " order by ts, event_id))")
            - F.expr("unix_micros(ts)")
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    m = seg.groupBy("event_type").agg(
        F.sum(
            F.expr(
                "cast(cast(cast(round(value, 6) as decimal(18,6)) * 1000000"
                " as bigint) as decimal(38,0)) * dur_us"
            )
        ).alias("wsum_i"),
        F.sum("dur_us").cast("bigint").alias("tot_us"),
    )
    return m.select(
        "event_type",
        "tot_us",
        hu_ratio_signed(
            "wsum_i", "cast(tot_us as decimal(38,0)) * 1000000", 6
        ).alias("twavg"),
    )


_DS_BUCKET_US = 6 * 3_600_000_000  # 6h downsample buckets


@query(
    "resample_peak_preserving",
    oracle=f"""
    WITH b AS (
      SELECT event_type, event_id, ts,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v,
             epoch_us(ts) // {_DS_BUCKET_US} AS bucket
      FROM events),
    m AS (SELECT event_type, bucket, SUM(v) AS sv, COUNT(*) AS n
          FROM b GROUP BY event_type, bucket),
    scored AS (
      SELECT b.event_type, b.bucket, b.event_id, b.ts, b.v,
             row_number() OVER (
               PARTITION BY b.event_type, b.bucket
               ORDER BY abs(b.v * m.n - m.sv) DESC, b.event_id) AS rk
      FROM b JOIN m ON m.event_type = b.event_type AND m.bucket = b.bucket)
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket, event_id, ts,
           CAST(v AS DOUBLE) AS value
    FROM scored WHERE rk = 1
    """,
)
def resample_peak_preserving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-preserving downsampling: one representative event per
    (type, 6h bucket) -- the one FARTHEST from its bucket's mean -- so
    a dashboard rendering millions of points keeps the spikes a plain
    bucket-average would erase (the practical core of LTTB-style viz
    downsampling, without LTTB's sequential cross-bucket dependency,
    which cannot parallelize).

    Determinism: the deviation ranking compares |v*n - sum(v)| --
    cross-multiplied EXACT decimals, never a float mean -- with an
    event_id tie-break.  Shape: one (type, bucket) partial aggregate,
    one broadcast-able stats join back, one keyed window; output is
    bucket-sized.
    """
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        "event_id",
        "ts",
        F.round("value", 6).cast("decimal(18,6)").alias("v"),
        F.expr(f"unix_micros(ts) div {_DS_BUCKET_US}").alias("bucket"),
    )
    m = b.groupBy("event_type", "bucket").agg(
        F.sum("v").alias("sv"), F.count("*").alias("n")
    )
    w = Window.partitionBy("event_type", "bucket").orderBy(
        F.abs(F.col("v") * F.col("n") - F.col("sv")).desc(), "event_id"
    )
    return (
        b.join(m, ["event_type", "bucket"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("bucket").cast("bigint").alias("bucket"),
            "event_id",
            "ts",
            F.col("v").cast("double").alias("value"),
        )
    )


@query(
    "timeseries_seasonal_residual",
    oracle=f"""
    WITH b AS (
      SELECT event_type, EXTRACT(HOUR FROM ts) AS hod,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v
      FROM events),
    base AS (
      SELECT event_type, hod, SUM(v) AS sv, COUNT(*) AS n
      FROM b GROUP BY event_type, hod),
    m AS (
      SELECT event_type, hod, sv, n,
             CAST({hu_ratio_signed_sql("sv * 1000000",
                                       "CAST(n AS HUGEINT) * 1000000", 6)}
                  AS DECIMAL(18,6)) AS mu
      FROM base),
    dev AS (
      SELECT b.event_type, b.hod, abs(b.v - m.mu) AS d, m.n, m.mu
      FROM b JOIN m ON m.event_type = b.event_type AND m.hod = b.hod),
    agg AS (
      SELECT event_type, hod, MAX(n) AS n, MAX(mu) AS mu,
             SUM(d) AS sd
      FROM dev GROUP BY event_type, hod)
    SELECT a.event_type, CAST(a.hod AS BIGINT) AS hod,
           CAST(a.n AS BIGINT) AS n,
           CAST(a.mu AS DOUBLE) AS seasonal_mean,
           CAST((SELECT COUNT(*) FROM dev d
                 WHERE d.event_type = a.event_type AND d.hod = a.hod
                   AND d.d * a.n > 3 * a.sd) AS BIGINT) AS n_anomalies
    FROM agg a
    """,
)
def timeseries_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly counts: the hour-of-day profile per
    event type is the baseline (the simplest seasonal decomposition),
    and an event is anomalous when its deviation exceeds 3x the
    cell's mean absolute deviation -- the time-of-day-aware variant of
    the global z-score monitor, which flags every rush hour as an
    outlier because it has no seasonal term.

    The threshold is a cross-multiplied decimal compare (dev * n >
    3 * sum_dev): the quantized cell mean makes every deviation an
    exact decimal, so no float inequality ever decides membership; the
    cell mean itself renders via the signed integer half-up recipe over
    the 10^6-scaled value sum (never round(double, 6) of a decimal
    ratio).
    Two passes over events (baseline, then deviations) joined on the
    output-sized (type, hour) grid.
    """
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr("extract(hour from ts)").alias("hod"),
        F.round("value", 6).cast("decimal(18,6)").alias("v"),
    )
    base = b.groupBy("event_type", "hod").agg(
        F.sum("v").alias("sv"), F.count("*").alias("n")
    )
    m = base.withColumn(
        "mu",
        hu_ratio_signed(
            "sv * 1000000", "cast(n as decimal(38,0)) * 1000000", 6
        ).cast("decimal(18,6)"),
    )
    dev = b.join(F.broadcast(m), ["event_type", "hod"]).select(
        "event_type", "hod", F.abs(F.col("v") - F.col("mu")).alias("d"), "n", "mu"
    )
    cell = dev.groupBy("event_type", "hod").agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.sum("d").alias("sd"),
    )
    agg = (
        dev.select("event_type", "hod", "d")
        .join(F.broadcast(cell), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.max("n").alias("n"),
            F.max("mu").alias("mu"),
            F.sum(
                F.when(F.col("d") * F.col("n") > F.lit(3) * F.col("sd"), 1)
                .otherwise(0)
            ).alias("n_anomalies"),
        )
    )
    return agg.select(
        "event_type",
        F.col("hod").cast("bigint").alias("hod"),
        F.col("n").cast("bigint").alias("n"),
        F.col("mu").cast("double").alias("seasonal_mean"),
        F.col("n_anomalies").cast("bigint").alias("n_anomalies"),
    )


_DAILY_FILLED_DUCK = f"""
    daily AS (
      SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    spine AS (
      SELECT event_type, min_d,
             unnest(generate_series(min_d, max_d)) AS d
      FROM (SELECT event_type, min(d) AS min_d, max(d) AS max_d
            FROM daily GROUP BY 1)),
    filled AS (
      SELECT s.event_type, CAST(s.d - s.min_d AS BIGINT) AS x,
             CAST(COALESCE(daily.n, 0) AS BIGINT) AS y
      FROM spine s LEFT JOIN daily USING (event_type, d))"""


def _daily_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled per-type daily series (x = day index, y = count) —
    the stats_trend_ols_daily derivation factored for the robust-trend
    family."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("d"),
    ).agg(F.count("*").alias("n"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("d").alias("min_d"), F.max("d").alias("max_d"))
        .select(
            "event_type",
            "min_d",
            F.explode(F.sequence("min_d", "max_d")).alias("d"),
        )
    )
    return spine.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        (F.col("d") - F.col("min_d")).cast("bigint").alias("x"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("y"),
    )


@query(
    "stats_theil_sen_daily",
    oracle=f"""
    WITH {_DAILY_FILLED_DUCK},
    pairs AS (
      SELECT a.event_type, a.x AS ax, b.x AS bx,
             CASE WHEN b.y >= a.y
                  THEN (2 * (b.y - a.y) * 1000000 + (b.x - a.x))
                         // (2 * (b.x - a.x))
                  ELSE -((2 * (a.y - b.y) * 1000000 + (b.x - a.x))
                         // (2 * (b.x - a.x)))
             END AS s6
      FROM filled a JOIN filled b
        ON a.event_type = b.event_type AND a.x < b.x),
    r AS (
      SELECT event_type, s6,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s6, ax, bx) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs)
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           CAST(s6 AS DOUBLE) / 1000000 AS slope
    FROM r
    WHERE rk = CAST(ceil(np / 2.0) AS BIGINT)
    """,
)
def stats_theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per event type: the MEDIAN of all
    pairwise day-to-day slopes over the zero-filled daily series — the
    breakdown-resistant twin of stats_trend_ols_daily (a single
    corrupted day moves OLS arbitrarily but shifts a median slope by at
    most one rank).

    Determinism: every pairwise slope dy/dx is rendered half-up onto
    the 1e-6 INTEGER grid first (sign-split truncating div — both
    engines' integer division agrees after the split), so the median is
    a nearest-rank selection over integers with (s6, ax, bx) as the
    total order — never a raw-float sort key.  Scale shape: pairs are
    days-squared PER TYPE (calendar-bounded — ~6.6M pairs for a decade
    of days, constant in row count); the per-type rank window rides the
    same bounded frame.  The event scan itself is one
    map-side-combinable daily aggregate."""
    filled = pin(_daily_filled(spark, sf_dir))
    a = filled.select(
        "event_type", F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = filled.select(
        "event_type", F.col("x").alias("bx"), F.col("y").alias("by")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("ax") < F.col("bx"))
        .select(
            "event_type",
            "ax",
            "bx",
            F.expr(
                "CASE WHEN by >= ay"
                " THEN (2 * (by - ay) * 1000000 + (bx - ax))"
                " div (2 * (bx - ax))"
                " ELSE -((2 * (ay - by) * 1000000 + (bx - ax))"
                " div (2 * (bx - ax))) END"
            ).alias("s6"),
        )
    )
    w_rk = Window.partitionBy("event_type").orderBy("s6", "ax", "bx")
    w_np = Window.partitionBy("event_type")
    r = pairs.select(
        "event_type",
        "s6",
        F.row_number().over(w_rk).alias("rk"),
        F.count("*").over(w_np).alias("np"),
    )
    return r.filter(
        F.col("rk") == F.ceil(F.col("np") / 2.0).cast("bigint")
    ).select(
        "event_type",
        F.col("np").cast("bigint").alias("n_pairs"),
        (F.col("s6").cast("double") / 1000000).alias("slope"),
    )


@query(
    "stats_mann_kendall_trend",
    oracle=f"""
    WITH {_DAILY_FILLED_DUCK},
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM filled a JOIN filled b
        ON a.event_type = b.event_type AND a.x < b.x
      GROUP BY 1),
    nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS np
           FROM filled GROUP BY 1),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, y, COUNT(*) AS t
            FROM filled GROUP BY 1, 2)
      GROUP BY 1),
    v AS (
      SELECT nd.event_type, nd.np, s.s_stat,
             (nd.np * (nd.np - 1) * (2 * nd.np + 5) - ties.tie_term)
               AS var18
      FROM nd JOIN s USING (event_type) JOIN ties USING (event_type))
    SELECT event_type, np AS n_days, s_stat,
           CAST(var18 AS DOUBLE) / 18.0 AS var_s,
           CASE WHEN var18 = 0 THEN NULL
                WHEN s_stat > 0 THEN
                  round((s_stat - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 4)
                WHEN s_stat < 0 THEN
                  round((s_stat + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 4)
                ELSE CAST(0.0 AS DOUBLE) END AS z,
           CASE WHEN s_stat > 0 THEN 'up'
                WHEN s_stat < 0 THEN 'down' ELSE 'flat' END AS direction
    FROM v
    """,
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type over the
    zero-filled daily series — the nonparametric significance companion
    to the Theil-Sen slope (S counts concordant minus discordant day
    pairs; var(S) carries the standard tie correction).

    Determinism: S and the tie-corrected variance numerator are EXACT
    integers (sign comparisons and tie-group counts — no ranks, no
    floats); var18 folds the /18 into one declared double division, and
    the continuity-corrected z = (S -/+ 1)/sqrt(var) is a
    correctly-rounded pipeline over identical doubles, round(4) per the
    sqrt-output rule; the var18 = 0 degenerate (a 1-day series) returns
    NULL via a lazy CASE.  Scale shape: identical to
    stats_theil_sen_daily — calendar-bounded pair enumeration, one
    map-side-combinable scan."""
    filled = pin(_daily_filled(spark, sf_dir))
    a = filled.select(
        "event_type", F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = filled.select(
        "event_type", F.col("x").alias("bx"), F.col("y").alias("by")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("ax") < F.col("bx"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("by") > F.col("ay"), 1)
                .when(F.col("by") < F.col("ay"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nd = filled.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("np")
    )
    ties = (
        filled.groupBy("event_type", "y")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    v = nd.join(s, "event_type").join(ties, "event_type").select(
        "event_type",
        "np",
        "s_stat",
        (
            F.col("np") * (F.col("np") - 1) * (2 * F.col("np") + 5)
            - F.col("tie_term")
        ).alias("var18"),
    )
    var_s = F.col("var18").cast("double") / 18.0
    return v.select(
        "event_type",
        F.col("np").alias("n_days"),
        "s_stat",
        var_s.alias("var_s"),
        F.when(F.col("var18") == 0, F.lit(None).cast("double"))
        .when(
            F.col("s_stat") > 0,
            F.round((F.col("s_stat") - 1) / F.sqrt(var_s), 4),
        )
        .when(
            F.col("s_stat") < 0,
            F.round((F.col("s_stat") + 1) / F.sqrt(var_s), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
        F.when(F.col("s_stat") > 0, "up")
        .when(F.col("s_stat") < 0, "down")
        .otherwise("flat")
        .alias("direction"),
    )


# EWMA weights (alpha = 0.2): w6[k] = round_half_up(0.8^k * 10^6),
# computed ONCE in exact Fraction arithmetic as Python literals shared
# by both dialects (pow(0.8, k) at query time would ride each engine's
# libm — the transcendental-divergence class).  Truncated at k = 50
# (0.8^50*10^6 ~ 14 — a declared, engine-identical tail drop of ~1e-5
# relative mass).
def _ewma_w6() -> list[int]:
    from fractions import Fraction

    out = []
    for k in range(51):
        f = Fraction(4**k * 10**6, 5**k)
        q, r2 = divmod(f.numerator, f.denominator)
        out.append(q + (1 if 2 * r2 >= f.denominator else 0))
    return out


_EWMA_W6 = _ewma_w6()
_EWMA_SPAN = len(_EWMA_W6) - 1


@query(
    "resample_ewma_daily",
    oracle=f"""
    WITH {_DAILY_FILLED_DUCK},
    w AS (SELECT [{", ".join(str(w) for w in _EWMA_W6)}] AS w6),
    pairs AS (
      SELECT cur.event_type, cur.x AS d,
             CAST(prior.y AS HUGEINT)
               * w.w6[CAST(cur.x - prior.x AS BIGINT) + 1] AS num_term,
             CAST(w.w6[CAST(cur.x - prior.x AS BIGINT) + 1] AS HUGEINT)
               AS den_term
      FROM filled cur
      JOIN filled prior
        ON prior.event_type = cur.event_type
       AND prior.x <= cur.x AND prior.x >= cur.x - {_EWMA_SPAN}
      CROSS JOIN w),
    s AS (
      SELECT event_type, d,
             CAST(SUM(num_term) AS HUGEINT) AS num,
             CAST(SUM(den_term) AS HUGEINT) AS den
      FROM pairs GROUP BY 1, 2)
    SELECT event_type, d AS day_index,
           {hu_ratio_sql("s.num", "s.den", 6)} AS ewma
    FROM s
    """,
)
def resample_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.2, pandas
    adjust=True normalization) of daily event volume per type over the
    zero-filled daily series — the smoothed trend line a monitor plots
    and alerts against.

    Determinism: the geometric weights 0.8^k are RATIONAL (4^k/5^k),
    so they are pre-rendered onto the 1e-6 integer grid in exact
    Fraction arithmetic as shared Python literals — query-time
    pow(0.8, k) would ride each engine's libm, the transcendental-
    divergence class — and each day's EWMA is then ONE exact integer
    rational sum(y*w6)/sum(w6) via the half-up recipe.  The window is
    truncated at {_EWMA_SPAN} days (a declared ~1e-5 tail drop,
    identical in both engines), which also bounds the pair join at
    {_EWMA_SPAN + 1} rows per output day — linear in the calendar, not
    quadratic.  Scale shape: one map-side-combinable daily aggregate
    over the scan, then a banded self-join on the calendar-bounded
    filled grid."""
    filled = pin(_daily_filled(spark, sf_dir))
    w6 = "array(" + ", ".join(str(w) for w in _EWMA_W6) + ")"
    cur = filled.select(
        "event_type", F.col("x").alias("d")
    )
    prior = filled.select(
        F.col("event_type").alias("pet"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
    )
    pairs = cur.join(
        prior,
        (F.col("pet") == F.col("event_type"))
        & (F.col("px") <= F.col("d"))
        & (F.col("px") >= F.col("d") - _EWMA_SPAN),
    ).select(
        "event_type",
        "d",
        F.expr(
            f"cast(py as decimal(38,0))"
            f" * element_at({w6}, cast(d - px as int) + 1)"
        ).alias("num_term"),
        F.expr(
            f"cast(element_at({w6}, cast(d - px as int) + 1)"
            " as decimal(38,0))"
        ).alias("den_term"),
    )
    s = pairs.groupBy("event_type", "d").agg(
        F.sum("num_term").alias("num"),
        F.sum("den_term").alias("den"),
    )
    return s.select(
        "event_type",
        F.col("d").alias("day_index"),
        hu_ratio("num", "den", 6).alias("ewma"),
    )
