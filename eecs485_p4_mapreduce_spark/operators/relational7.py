"""Scalar/generator function surface, wave 3 (SURVEY.md §2.C scalar-fn
category): generator functions (posexplode_outer over possibly-empty
arrays, stack), higher-order array lambdas (transform/filter/exists/
forall/aggregate/zip_with), URL parsing/encoding, and printf-style
formatting.

Cross-engine notes baked into the specs below:

* Spark ``sequence(1, n)`` DESCENDS for n < 1 (it never returns an empty
  array), so the empty-array case is built with an explicit CASE — and
  the DuckDB twin uses ``range(1, n+1)`` which IS empty for n < 1.
* ``posexplode_outer`` on an empty/NULL array emits one all-NULL row;
  DuckDB has no OUTER unnest, so the oracle substitutes a one-element
  ``[NULL]`` list before unnesting — same semantics, spelled out.
* Java's ``%f`` formatting (Spark ``format_string``) rounds HALF_UP on
  the exact decimal expansion while C printf (DuckDB) rounds the binary
  value half-even; feeding ``round(x, 2)`` keeps every formatted value
  off the tie boundary so both render identically.
* DuckDB has no ``parse_url``/``url_encode``; the oracle spells them as
  regexp/replace over URLs synthesized from clean components, which is
  exactly what makes the equivalence checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, run_sql


@query(
    "generator_fns",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderkey % 3 AS m FROM orders
      WHERE o_orderkey % 97 < 9),
    arrs AS (
      SELECT o_orderkey,
             range(1, CAST(m + 1 AS BIGINT)) AS l
      FROM o),
    px AS (
      SELECT o_orderkey,
             unnest(CASE WHEN len(l) = 0
                         THEN [{p: CAST(NULL AS BIGINT),
                                v: CAST(NULL AS BIGINT)}]
                         ELSE list_transform(range(0, len(l)),
                                             i -> {p: i, v: l[i + 1]})
                    END) AS u
      FROM arrs)
    SELECT o_orderkey, (u).p AS pos, (u).v AS val FROM px
    """,
)
def generator_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator functions over possibly-empty arrays:
    ``posexplode_outer`` keeps the parent row (one all-NULL child) when
    the array is empty — the left-outer flavor a flatten that must not
    drop rows needs (e.g. documents with zero attachments).

    The array is CASE-guarded because Spark's ``sequence(1, 0)`` yields
    a DESCENDING [1, 0], not [] (step defaults to sign(stop - start)).
    Generate runs inside whole-stage codegen; no shuffle at all —
    scan → generate → project.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 < 9)
        .select(
            "o_orderkey",
            F.expr(
                "CASE WHEN o_orderkey % 3 >= 1"
                " THEN sequence(1L, o_orderkey % 3)"
                " ELSE array() END"
            ).alias("l"),
        )
    )
    return o.select(
        "o_orderkey", F.posexplode_outer("l").alias("pos", "val")
    )


@query(
    "hof_array_fns",
    oracle="""
    WITH la AS (
      SELECT l_orderkey,
             list(l_quantity ORDER BY l_linenumber, l_partkey, l_suppkey,
                  l_quantity, l_extendedprice) AS qty,
             list(l_extendedprice ORDER BY l_linenumber, l_partkey,
                  l_suppkey, l_quantity, l_extendedprice) AS price
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
           CAST(len(list_filter(qty, q -> q > 25)) AS BIGINT) AS n_big,
           len(list_filter(qty, q -> q > 25)) > 0 AS has_big,
           len(list_filter(qty, q -> q >= 1)) = len(qty) AS all_pos,
           round(list_reduce(list_transform(qty, q -> q * 2.0),
                             (a, b) -> a + b), 4) AS dbl_total,
           round(list_reduce(list_transform(range(1, len(qty) + 1),
                                            i -> qty[i] * price[i]),
                             (a, b) -> a + b), 4) AS dot
    FROM la
    """,
)
def hof_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas end to end: build per-order arrays in
    a deterministic row order, then ``transform`` / ``filter`` /
    ``exists`` / ``forall`` / ``aggregate`` (left fold) / ``zip_with``.
    Spark's ``aggregate(arr, 0.0, +)`` and DuckDB's ``list_reduce`` fold
    the same left-to-right order, and 0.0 + x == x exactly in IEEE, so
    the double results are bit-identical before the cosmetic round(4).

    (l_orderkey, l_linenumber) is NOT unique in this corpus, so both
    value arrays come out of ONE struct array sorted by the full row key
    — qty and price stay pairwise aligned for zip_with no matter how
    ties land; the oracle sorts by the identical column list.

    One shuffle total (the groupBy building the arrays); every lambda
    then evaluates scan-side.  Lineitem groups are <= 7 elements, so the
    arrays are bounded — the HOF surface is exercised without a
    collect-like blowup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    la = (
        li.groupBy("l_orderkey")
        .agg(
            F.expr(
                "sort_array(collect_list(struct("
                "l_linenumber, l_partkey, l_suppkey,"
                " l_quantity, l_extendedprice)))"
            ).alias("rows")
        )
        .select(
            "l_orderkey",
            F.expr("transform(rows, s -> s.l_quantity)").alias("qty"),
            F.expr("transform(rows, s -> s.l_extendedprice)").alias("price"),
        )
    )
    return la.select(
        "l_orderkey",
        F.expr("cast(size(filter(qty, q -> q > 25)) as bigint)").alias("n_big"),
        F.expr("exists(qty, q -> q > 25)").alias("has_big"),
        F.expr("forall(qty, q -> q >= 1)").alias("all_pos"),
        F.round(
            F.expr(
                "aggregate(transform(qty, q -> q * 2.0), cast(0.0 as double),"
                " (a, b) -> a + b)"
            ),
            4,
        ).alias("dbl_total"),
        F.round(
            F.expr(
                "aggregate(zip_with(qty, price, (q, p) -> q * p),"
                " cast(0.0 as double), (a, b) -> a + b)"
            ),
            4,
        ).alias("dot"),
    )


@query(
    "url_fns",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' ||
               CAST(doc_id AS VARCHAR) || '?lang=' || lang || '#sec' ||
               CAST(doc_id % 5 AS VARCHAR) AS url,
             source || ' ' || lang AS raw
      FROM documents)
    SELECT doc_id,
           regexp_extract(url, 'https?://([^/]+)', 1) AS host,
           regexp_extract(url, 'https?://[^/]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query,
           regexp_extract(url, '#(.*)$', 1) AS ref,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           replace(raw, ' ', '+') AS encoded
    FROM u
    """,
)
def url_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + form-encoding: ``parse_url`` component extraction
    (HOST/PATH/QUERY/REF and keyed QUERY lookup) and ``url_encode`` over
    URLs synthesized from table columns.  All scan-side string
    expressions — zero shuffle, and the synthesized components are
    alphanumeric so the DuckDB regex/replace twin is exact (space → '+'
    is the only byte form-encoding touches here).
    """
    d = load_table(spark, sf_dir, "documents")
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"), F.lit("?lang="), "lang",
            F.lit("#sec"), (F.col("doc_id") % 5).cast("string"),
        ).alias("url"),
        F.concat("source", F.lit(" "), "lang").alias("raw"),
    )
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("REF")).alias("ref"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.url_encode("raw").alias("encoded"),
    )


@query(
    "format_fns",
    oracle="""
    SELECT o_orderkey,
           printf('%08d|%12.2f|%s', o_orderkey,
                  round(o_totalprice, 2), o_orderstatus) AS line,
           printf('%.1f%%', round(100.0 * (o_orderkey % 997) / 997, 1))
             AS pct,
           format('{:,}', o_orderkey * 1000) AS grouped
    FROM orders WHERE o_orderkey % 31 = 0
    """,
)
def format_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style row formatting (log/report sinks): ``format_string``
    width/precision/string specs and ``format_number`` digit grouping.
    Doubles pass through ``round(x, 2)`` first so Java's HALF_UP decimal
    formatter and C printf's binary half-even can never disagree (no
    value sits on a rendering tie after the pre-round).  Scan-side
    projection only.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 31 == 0)
    return o.select(
        "o_orderkey",
        F.format_string(
            "%08d|%12.2f|%s",
            "o_orderkey",
            F.round("o_totalprice", 2),
            "o_orderstatus",
        ).alias("line"),
        F.format_string(
            "%.1f%%", F.round(F.lit(100.0) * (F.col("o_orderkey") % 997) / 997, 1)
        ).alias("pct"),
        F.format_number(F.col("o_orderkey") * 1000, 0).alias("grouped"),
    )


_GBA = """
SELECT o_orderstatus, o_orderpriority,
       year(o_orderdate) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_totalprice) AS min_price
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


@query("groupby_all_orders", oracle=_GBA)
def groupby_all_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL SQL sugar: every non-aggregate select
    item becomes a grouping (then ordering) key — the exact same SQL
    text runs on both engines, so the oracle checks Spark's inference
    of the implicit key list, not just the aggregate values.  Plans
    identically to the explicit GROUP BY (partial+final hash agg)."""
    from eecs485_p4_mapreduce_spark.sources import run_sql

    return run_sql(spark, sf_dir, _GBA)


@query(
    "agg_modern_fns",
    oracle="""
    SELECT o_orderstatus,
           median(o_totalprice) AS med_price,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_modern_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate surface: ``median`` (exact interpolated — both
    engines compute quantile_cont(0.5) on the sorted set), ``count_if``,
    and the boolean reducers ``bool_and``/``bool_or``.  One partial+final
    hash aggregate; the booleans reduce map-side so the shuffle carries
    one row per (status, partition)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.median("o_totalprice").alias("med_price"),
        F.count_if(F.col("o_totalprice") > 150000).cast("bigint").alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
    )


@query(
    "generator_stack",
    oracle="""
    SELECT l_orderkey, 'extended' AS metric, l_extendedprice AS amount
    FROM lineitem WHERE l_orderkey % 101 = 0
    UNION ALL
    SELECT l_orderkey, 'discount_cost', l_extendedprice * l_discount
    FROM lineitem WHERE l_orderkey % 101 = 0
    UNION ALL
    SELECT l_orderkey, 'tax_cost', l_extendedprice * l_tax
    FROM lineitem WHERE l_orderkey % 101 = 0
    """,
)
def generator_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stack(n, ...)`` — the generator spelling of wide→long unpivot:
    one Expand node emits 3 labeled rows per input row in a single scan,
    where the oracle's UNION ALL spelling scans three times.  Same
    Expand machinery as `unpivot_lineitem_metrics`, exercised through
    the generator syntax (selectExpr + lateral alias)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    return li.selectExpr(
        "l_orderkey",
        "stack(3, 'extended', l_extendedprice,"
        " 'discount_cost', l_extendedprice * l_discount,"
        " 'tax_cost', l_extendedprice * l_tax) AS (metric, amount)",
    )


@query(
    "map_hof_fns",
    oracle="""
    WITH sub AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2)
    SELECT o_orderstatus,
           CAST(2 * SUM(n) AS BIGINT) AS doubled_total,
           CAST(COUNT(*) FILTER (WHERE n >= 10) AS INT) AS n_big,
           array_to_string(list(substring(o_orderpriority, 1, 1)
                                ORDER BY o_orderpriority), '') AS initials,
           CAST(3 * SUM(n) AS BIGINT) AS zip_sum
    FROM sub GROUP BY o_orderstatus
    """,
)
def map_hof_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order lambdas: ``transform_values`` (double every
    count), ``map_filter`` (keep busy priorities), ``transform_keys``
    (priority -> its digit initial; injective here, so no duplicate-key
    error), and ``map_zip_with`` (original + doubled = 3x).  The oracle
    computes the identical scalars directly from the grouped counts —
    maps are an engine-side representation, so the check pins the lambda
    SEMANTICS, not a map rendering (maps never surface raw, per the
    canon rule).
    """
    o = load_table(spark, sf_dir, "orders")
    sub = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n")
    )
    m = sub.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderpriority", "n")))
        ).alias("pm")
    )
    m = m.withColumn("dbl", F.expr("transform_values(pm, (k, v) -> v * 2)"))
    return m.select(
        "o_orderstatus",
        F.expr(
            "aggregate(map_values(dbl), cast(0 as bigint), (a, x) -> a + x)"
        ).alias("doubled_total"),
        F.expr("cast(size(map_filter(pm, (k, v) -> v >= 10)) as int)").alias(
            "n_big"
        ),
        F.expr(
            "array_join(array_sort(map_keys("
            "transform_keys(pm, (k, v) -> substring(k, 1, 1)))), '')"
        ).alias("initials"),
        F.expr(
            "aggregate(map_values(map_zip_with(pm, dbl, (k, v1, v2) -> v1 + v2)),"
            " cast(0 as bigint), (a, x) -> a + x)"
        ).alias("zip_sum"),
    )


@query(
    "modern_sql_sugar_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           o_totalprice * 0.5 AS half,
           o_totalprice * 0.5 + least(o_totalprice * 0.5, 1000.0) AS padded
    FROM orders
    WHERE o_totalprice > 400000.0
    """,
)
def modern_sql_sugar_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL sugar in one statement: ``IDENTIFIER(:tbl)`` (dynamic
    but injection-safe table reference — the identifier binds as a name,
    never as SQL text), ``SELECT * EXCEPT (cols)`` projection-by-
    exclusion, and LATERAL COLUMN ALIASES (``half`` referenced by the
    very next select item).  All three fold away at analysis time: the
    oracle is the fully desugared spelling and the plan (pushdown
    included) is identical."""
    return run_sql(
        spark,
        sf_dir,
        """
        SELECT * EXCEPT (o_custkey, o_orderdate, o_orderpriority),
               o_totalprice * 0.5 AS half,
               half + least(half, 1000.0) AS padded
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > 400000.0
        """,
        args={"tbl": "orders"},
    )


@query(
    "union_by_name_mixed",
    oracle="""
    WITH u AS (
      SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
      FROM orders WHERE o_totalprice > 450000.0
      UNION ALL BY NAME
      SELECT o_orderstatus AS status, o_orderkey AS k
      FROM orders WHERE o_totalprice < 1000.0)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(price) AS BIGINT) AS n_with_price,
           CAST(SUM(CAST(coalesce(price, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM u GROUP BY status
    """,
)
def union_by_name_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-name-aligned union of two differently-shaped projections
    (different column ORDER, one side missing a column entirely):
    ``unionByName(allowMissingColumns=True)`` aligns by name and
    null-fills the gap — positional UNION would silently mis-join the
    columns, the classic schema-drift bug this operator exists to
    prevent.  DuckDB's UNION ALL BY NAME is the oracle twin."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 450000.0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    b = o.filter(F.col("o_totalprice") < 1000.0).select(
        F.col("o_orderstatus").alias("status"), F.col("o_orderkey").alias("k")
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count("price").cast("bigint").alias("n_with_price"),
        F.sum(F.coalesce(F.col("price"), F.lit(0.0)).cast("decimal(18,6)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "pivot_multi_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F_n,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS F_revenue,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O_n,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS O_revenue,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P_n,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS P_revenue
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value: each order status
    becomes (count, decimal-exact revenue) column pairs.  Spark's
    ``pivot().agg(a, b)`` names columns ``<value>_<alias>``; the pivot
    values are given explicitly so the plan is a single pass (no
    distinct-values pre-query) — the form to use when the value set is
    known, at any scale."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.col(f"{s}_{m}").alias(f"{s}_{m}")
            for s in ("F", "O", "P")
            for m in ("n", "revenue")
        ],
    )


@query(
    "stats_exact_median_distributed",
    oracle="""
    WITH ranked AS (
      SELECT value,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk,
             COUNT(*) OVER () AS n
      FROM events)
    SELECT CAST(MAX(n) AS BIGINT) AS n, MIN(value) AS median
    FROM ranked WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    """,
)
def stats_exact_median_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median (nearest-rank) by two-pass distributed
    selection, never a global sort: pass 1 histograms values into
    integer buckets and finds (via the cumulative bucket counts, a
    driver-side computation over ~max-value rows) which bucket holds the
    target rank; pass 2 scans ONLY that bucket — a ~1/buckets fraction
    of the data — and rank-selects within it.

    This is how a global order statistic survives 100 TB: the naive
    window (the oracle's spelling) funnels everything through one
    partition, while this plan never sorts more than one range
    partition's slice of one bucket in a single task — the in-bucket
    rank-select itself goes through the partition-offset recipe
    (functions/ranking.py), so even the winning bucket (~1/buckets of
    the corpus, ~1 TB at 100 TB) is ranked in parallel.  Both passes
    are deterministic (integer bucket ids, event_id tie-break), so the
    result equals the oracle's single-partition rank selection
    exactly."""
    e = load_table(spark, sf_dir, "events")
    # pass 1: integer-bucket histogram (value in [0, ~100) at any sf)
    hist = (
        e.groupBy(F.floor("value").cast("bigint").alias("b"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    total = sum(r["c"] for r in hist)
    target = (total + 1) // 2  # ceil(n/2) = nearest-rank median position
    acc = 0
    bucket, before = None, 0
    for r in sorted(hist, key=lambda r: r["b"]):
        if acc + r["c"] >= target:
            bucket, before = r["b"], acc
            break
        acc += r["c"]
    # pass 2: rank-select inside the single winning bucket, itself
    # distributed via the partition-offset recipe
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    in_bucket = e.filter(F.floor("value").cast("bigint") == bucket).select(
        "value", "event_id"
    )
    return (
        with_global_rank(in_bucket, ["value", "event_id"])
        .filter(F.col("_rk") == target - before)
        .select(
            F.lit(total).cast("bigint").alias("n"),
            F.col("value").alias("median"),
        )
    )


_AGG_FILTER = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_finished,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                FILTER (WHERE o_totalprice > 200000) AS DOUBLE)
             AS big_order_revenue,
           CAST(MAX(o_orderdate) FILTER (WHERE o_orderstatus = 'O')
                AS DATE) AS latest_open
    FROM orders
    GROUP BY o_orderpriority
    """


@query("agg_filter_clause", oracle=_AGG_FILTER)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``FILTER (WHERE ...)`` aggregate modifiers -- the standard
    spelling of conditional aggregation (three differently-filtered
    aggregates in ONE pass over the scan, no self-joins, no CASE
    boilerplate).  The same SQL text runs on both engines; Spark lowers
    each FILTER into the aggregate's input projection, so partial
    aggregation and pushdown behave exactly like the CASE WHEN spelling
    (`cond_agg_fns`) -- this query pins that the modern surface stays
    available and bitwise-equal."""
    from eecs485_p4_mapreduce_spark.sources import run_sql

    return run_sql(spark, sf_dir, _AGG_FILTER)


_EXISTS_PROJ = """
    SELECT c.c_custkey,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 400000) AS has_big_order,
           NOT EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey) AS is_dormant
    FROM customer c
    """


@query("subquery_exists_projection", oracle=_EXISTS_PROJ)
def subquery_exists_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a PROJECTED boolean (not a WHERE filter): every
    customer row survives, annotated with two existential flags -- the
    feature-engineering spelling of semi/anti joins.  Spark de-correlates
    each EXISTS into an ExistenceJoin (a semi-join variant that emits
    the match bit instead of filtering), so the plan is two user-keyed
    hash joins, never a per-row subquery execution.  Same SQL text on
    both engines."""
    from eecs485_p4_mapreduce_spark.sources import run_sql

    return run_sql(spark, sf_dir, _EXISTS_PROJ)


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting through Spark 3.5's bitmap aggregate
    family: keys bucket by ``bitmap_bucket_number`` (32768-bit pages),
    each (group, bucket) page ORs together map-side via
    ``bitmap_construct_agg(bitmap_bit_position(key))``, and the group's
    distinct count is the sum of per-page popcounts — the
    roaring-bitmap-style exact-distinct plan that, unlike
    COUNT(DISTINCT), partial-aggregates (pages combine associatively on
    the map side) and composes incrementally (pages from new partitions
    OR into stored pages, the MV-refresh pattern).  The oracle pins it
    to plain COUNT(DISTINCT) — bit-for-bit the same answer.

    Scale shape: shuffle keys are (group, bucket-number) — cardinality
    |groups| x |key space|/32768 regardless of row count — and each
    page is a fixed 4 KiB binary; the second rollup is |groups|-sized.
    Determinism: popcounts are exact integers."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )
    pages = (
        o.groupBy(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
        )
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(o_custkey))"
            ).alias("page"),
            F.count("*").alias("n_rows"),
        )
    )
    return pages.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(page)")).cast("bigint").alias(
            "n_distinct_customers"
        ),
        F.sum("n_rows").cast("bigint").alias("n_orders"),
    )
