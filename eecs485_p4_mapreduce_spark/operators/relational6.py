"""Round-2 surface widening: bitwise scalar/aggregate functions, the
second string-function wave (padding/translate/edit-distance), and the
skew-mitigation helpers exposed as a driver-checked query.

Cross-engine notes (see tools/canon.py for why types must match exactly):
- Spark and DuckDB agree on two's-complement &, |, xor, <<, >> and on
  ``bit_count`` over BIGINT; aggregate bit_and/bit_or/bit_xor exist in
  both with identical semantics over non-null groups.
- levenshtein/lpad/rpad/translate/repeat/reverse/left/right are
  byte-for-byte identical on ASCII inputs (the corpus here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.skew import salted_agg_count
from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio, hu_ratio_sql
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, run_sql


@query(
    "bitops_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(bit_and(o_orderkey) AS BIGINT) AS key_and,
           CAST(bit_or(o_orderkey) AS BIGINT) AS key_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
           CAST(SUM(bit_count(o_orderkey)) AS BIGINT) AS popcnt_sum,
           CAST(SUM(xor(o_orderkey & 255, (o_custkey % 64) << 2)) AS BIGINT) AS mix_sum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def bitops_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface: scalar &, xor, <<, bit_count plus the aggregate
    forms bit_and/bit_or/bit_xor -- all JVM built-ins, whole-stage
    codegen, one hash aggregate (partial + final) over the group key."""
    o = load_table(spark, sf_dir, "orders")
    mix = F.expr("(o_orderkey & 255) ^ ((o_custkey % 64) << 2)")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("bit_and(o_orderkey)").cast("bigint").alias("key_and"),
        F.expr("bit_or(o_orderkey)").cast("bigint").alias("key_or"),
        F.expr("bit_xor(o_orderkey)").cast("bigint").alias("key_xor"),
        F.sum(F.bit_count("o_orderkey")).cast("bigint").alias("popcnt_sum"),
        F.sum(mix).cast("bigint").alias("mix_sum"),
    )


@query(
    "scalar_string_fns2",
    oracle="""
    SELECT c_custkey,
           lpad(c_name, 24, '*') AS padded_l,
           rpad(c_mktsegment, 12, '.') AS padded_r,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS devoweled,
           reverse(c_mktsegment) AS rev_seg,
           repeat(left(c_name, 2), 3) AS rep2,
           right(c_name, 4) AS tail4,
           CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS lev_building
    FROM customer
    WHERE c_custkey % 7 = 0
    """,
)
def scalar_string_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string wave: padding, translate, reverse, repeat,
    left/right slicing, and Levenshtein edit distance -- all built-in
    expressions, no UDFs, filter pushed to the scan."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lpad("c_name", 24, "*").alias("padded_l"),
        F.rpad("c_mktsegment", 12, ".").alias("padded_r"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("devoweled"),
        F.reverse("c_mktsegment").alias("rev_seg"),
        F.repeat(F.expr("left(c_name, 2)"), 3).alias("rep2"),
        F.expr("right(c_name, 4)").alias("tail4"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).cast("bigint").alias("lev_building"),
    )


@query(
    "skew_salted_count",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY o_custkey
    """,
)
def skew_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase salted aggregation (functions/skew.py) as a checked
    query: results must equal the plain GROUP BY COUNT exactly -- salting
    is a physical rewrite, never a semantic one.  The salt is derived
    from the unique o_orderkey (deterministic under task retry, and the
    scan prunes to two columns; see ``_content_salt``), and the hot
    key's rows spread over 16 partial groups before the tiny final
    merge."""
    return salted_agg_count(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        salt=16,
        salt_cols=["o_orderkey"],
    )


@query(
    "ids_contiguous_assign",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
    FROM documents
    """,
)
def ids_contiguous_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable global contiguous ID assignment (zipWithIndex, but
    declarative): range-partition by the sort key, number rows WITHIN
    each partition, then add per-partition offsets computed from a
    P-row count table.

    The naive spelling -- ``row_number() OVER (ORDER BY doc_id)`` with no
    partition key -- collapses the whole table into ONE task and is the
    classic 100 TB deadend (the oracle uses it; DuckDB is welcome to).
    Here the only global structure is the P-row offsets frame (P =
    number of range partitions, cluster-sized): counts aggregate
    map-side, the prefix sum runs over P rows, and the offsets
    broadcast back.  This query originated the recipe; it now delegates
    to the factored helper (functions/ranking.py), which also derives
    the local rank arithmetically from a packed monotonically-increasing
    id -- ONE full-data exchange total, no per-partition window.  Result
    ids are independent of where the sampled range boundaries fall --
    offset + local rank is the global rank for ANY disjoint ordered
    ranges.
    """
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return with_global_rank(docs, ["doc_id"]).select(
        "doc_id", (F.col("_rk") - 1).cast("bigint").alias("row_id")
    )


@query(
    "param_sql_orders",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_totalprice BETWEEN 50000.0 AND 250000.0
      AND o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def param_sql_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with named parameter markers (:name + args) --
    the injection-safe templating surface (parameters bind as literals
    AFTER parsing, so a value can never change the statement's shape).
    Catalyst constant-folds the bound literals, so the plan is identical
    to the hand-inlined spelling the oracle uses -- including the pushed
    BETWEEN filter.
    """
    return run_sql(
        spark,
        sf_dir,
        """
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_totalprice BETWEEN :lo AND :hi AND o_orderpriority = :prio
        GROUP BY o_orderstatus
        """,
        args={"lo": 50000.0, "hi": 250000.0, "prio": "1-URGENT"},
    )


@query(
    "transpose_orders_matrix",
    oracle=f"""
    WITH m AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             {hu_ratio_sql("SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000",
                           "CAST(1000000 AS HUGEINT)", 2)}
               AS revenue
      FROM orders GROUP BY o_orderstatus)
    SELECT 'n_orders' AS key,
           MAX(CASE WHEN o_orderstatus = 'F' THEN n_orders END) AS F,
           MAX(CASE WHEN o_orderstatus = 'O' THEN n_orders END) AS O,
           MAX(CASE WHEN o_orderstatus = 'P' THEN n_orders END) AS P
    FROM m
    UNION ALL
    SELECT 'revenue',
           MAX(CASE WHEN o_orderstatus = 'F' THEN revenue END),
           MAX(CASE WHEN o_orderstatus = 'O' THEN revenue END),
           MAX(CASE WHEN o_orderstatus = 'P' THEN revenue END)
    FROM m
    """,
)
def transpose_orders_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4): rows become columns keyed by the
    first column's values -- the matrix flip that previously needed a
    hand-built pivot in both directions.  The oracle spells the same
    flip as conditional aggregation.  Transpose collects the (tiny,
    post-aggregate) frame's key column to plan the output schema, so it
    belongs AFTER a reduction, never on raw data -- which is exactly how
    it is used here (3 statuses x 2 measures).
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        # round(decimal-sum, 2) is the cross-engine half-boundary class
        # (a 6-decimal sum CAN sit exactly on a 2-decimal half): render
        # via the integer half-up recipe over the 10^6-scaled sum
        hu_ratio(
            "sum(cast(o_totalprice as decimal(18,6))) * 1000000",
            "cast(1000000 as decimal(38,0))",
            2,
        ).alias("revenue"),
    )
    return m.transpose()


@query(
    "sql_variables_orders",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_totalprice > 200000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_variables_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VARIABLE), the scripting
    companion to parameter markers: the thresholds live in typed session
    state and the query references them by name.  Variable references
    fold to literals at plan time, so pushdown is identical to the
    inlined spelling the oracle uses.  IF NOT EXISTS + SET keeps the
    query re-runnable within one session (the registry runs every query
    repeatedly)."""
    spark.sql("DECLARE OR REPLACE VARIABLE sg_min_price DOUBLE DEFAULT 200000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE sg_status STRING DEFAULT 'F'")
    return run_sql(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_totalprice > sg_min_price AND o_orderstatus = sg_status
        GROUP BY o_orderpriority
        """
    )


@query(
    "sql_scripting_threshold_search",
    oracle="""
    WITH p AS (SELECT pow(2.0, g) AS t FROM generate_series(10, 40) AS s(g)),
    c AS (SELECT t, (SELECT COUNT(*) FROM orders WHERE o_totalprice > t) AS n
          FROM p),
    pick AS (SELECT MIN(t) AS threshold FROM c WHERE n < 100)
    SELECT CAST(threshold AS DOUBLE) AS threshold,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice > (SELECT threshold FROM pick)) AS BIGINT)
             AS n_above
    FROM pick
    """,
)
def sql_scripting_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN..END): a WHILE loop with a DECLAREd
    session variable doubles a price threshold (from 1024) until fewer than 100
    orders exceed it -- the exponential-search control flow that
    previously needed driver-side Python, now expressed entirely in SQL
    and executed statement-by-statement by the engine.

    Each loop iteration is one aggregate over orders (a scan with the
    predicate pushed down), so the script is O(log(max_price)) tiny
    queries, not one giant plan.  The declarative oracle computes the
    same fixed point closed-form over a generated power-of-two grid,
    proving the imperative loop and the declarative spelling agree
    bit-for-bit (thresholds are exact powers of two in both engines).
    The scripting conf is set inside the query path because the driver
    runs a vanilla session — on a CHILD session (isolated SQLConf), so
    the shared session never observes it.
    """
    from eecs485_p4_mapreduce_spark.functions.confscope import (
        conf_scoped_session,
    )
    spark = conf_scoped_session(spark, {"spark.sql.scripting.enabled": "true"})
    return run_sql(
        spark,
        sf_dir,
        """
        BEGIN
          DECLARE t DOUBLE DEFAULT 1024.0;
          WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice > t) >= 100 DO
            SET t = t * 2;
          END WHILE;
          SELECT CAST(t AS DOUBLE) AS threshold,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                  WHERE o_totalprice > t) AS n_above;
        END
        """
    )


# (round(value,6) exact-decimal * 1e6) * 1e9 + event_id: one BIGINT that
# orders by (value, event_id) -- makes arg-extremes tie-proof on both
# engines (max_by/arg_max take no composite ordering key in DuckDB).
# PRECONDITIONS (hold for the events table, asserted in
# tests/test_testdata_schema.py): 0 <= value < 9.2e3 and
# 0 <= event_id < 1e9.  |value|*1e6*1e9 overflows int64 at |value| ~=
# 9223.37, and an event_id >= 1e9 (or negative) would bleed into the
# value digits and mis-order.  The Spark side therefore orders by a
# STRUCT key (no range preconditions); this packed scalar exists only
# because DuckDB's arg_max takes no composite ordering key, and the
# bounds above are what make the two orderings coincide.
# (Spark side uses a struct ordering key — see agg_argminmax_by — so only
# the DuckDB twin needs the packed-scalar spelling.)
_ARG_KEY_DUCK = (
    "CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    " * 1000000000 + event_id"
)


@query(
    "agg_argminmax_by",
    oracle=f"""
    SELECT event_type,
           round(max(value), 6) AS max_value,
           arg_max(event_id, {_ARG_KEY_DUCK}) AS argmax_id,
           round(min(value), 6) AS min_value,
           arg_min(event_id, {_ARG_KEY_DUCK}) AS argmin_id
    FROM events GROUP BY event_type
    """,
)
def agg_argminmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extreme aggregates (``max_by``/``min_by``, Spark 3.3+): the
    event id that carries each type's maximum and minimum value -- the
    one-pass answer to "which row set the record", replacing the
    self-join-on-the-max anti-pattern that scans twice and breaks under
    ties.

    Ties are the correctness trap in every argmax: both engines pick an
    arbitrary row among equal values, so the ordering key is the pair
    (rounded value, event_id).  The Spark side orders by a STRUCT key —
    lexicographic, no range preconditions at all — while the DuckDB
    oracle packs the same pair into one bigint only because its
    ``arg_max`` takes no composite ordering key; within the corpus's
    asserted bounds (see _ARG_KEY preconditions) the two orderings are
    identical, and the engine side stays correct even beyond them.
    One map-side-combinable aggregate; no join, no window.
    """
    e = load_table(spark, sf_dir, "events")
    key = F.struct(
        F.round("value", 6).alias("v"), F.col("event_id").alias("i")
    )
    return e.groupBy("event_type").agg(
        F.round(F.max("value"), 6).alias("max_value"),
        F.max_by("event_id", key).alias("argmax_id"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.min_by("event_id", key).alias("argmin_id"),
    )
