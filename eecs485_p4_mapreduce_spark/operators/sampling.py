"""Training-data sampling operators over ``documents``: deterministic
train/val/test splits and per-stratum quota sampling.

A 100 TB corpus pipeline cannot use ``rand()`` for splits -- the split
must be a pure function of the row so it is reproducible across runs,
engines, and re-partitions, and so a document never migrates between
train and test when the corpus is re-ingested.  Both operators therefore
derive their randomness from md5 of the document id (the only hash both
Spark and DuckDB implement identically, cf. COVERAGE.md determinism
rules), which also spreads buckets uniformly regardless of id skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, run_sql

# hex digit -> value via position scan: DuckDB has no conv(); instr() over
# this alphabet is identical in both engines (1-based, so subtract 1).
_HEX = "0123456789abcdef"


def _bucket256_sql(key_expr: str) -> str:
    """SQL for a uniform 0..255 bucket from md5(key): first two hex digits.

    Spells the cast ``AS STRING`` — the one spelling both engines parse
    (Spark rejects length-less VARCHAR; DuckDB aliases STRING→VARCHAR).
    """
    h = f"md5(CAST({key_expr} AS STRING))"
    return (
        f"((instr('{_HEX}', substring({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({h}, 2, 1)) - 1))"
    )


@query(
    "sample_split_train_val_test",
    oracle=f"""
    WITH b AS (
        SELECT lang, n_chars, {_bucket256_sql('doc_id')} AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 230 THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b
    GROUP BY 1, 2
    """,
)
def sample_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split by hashing doc_id into
    256 buckets (train = 0..204, val = 205..229, test = 230..255), with
    per-split per-language counts.  Content-hash splits are stable under
    re-partitioning and incremental ingest -- a new batch of documents
    never reshuffles the split of existing ones."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket256_sql("doc_id"))
    split = (
        F.when(bucket < 205, "train").when(bucket < 230, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "sample_per_lang_quota",
    oracle="""
    SELECT doc_id, lang, rk
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    WHERE rk <= 20
    """,
)
def sample_per_lang_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota sample: 20 documents per language, chosen by
    md5(doc_id) order -- a uniform draw that every engine reproduces
    byte-identically.  The plan is a single hash-partition-by-lang plus
    WindowGroupLimit (rank pushdown), so each stratum's sort stops at the
    quota instead of fully sorting 100 TB; for heavily skewed strata,
    compose with the salted-agg helpers in functions/skew.py."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
    )


@query(
    "sample_stratified_fraction",
    oracle=f"""
    WITH b AS (
      SELECT lang, {_bucket256_sql('doc_id')} AS bucket FROM documents),
    kept AS (
      SELECT lang FROM b
      WHERE bucket < CASE WHEN lang = 'en' THEN 128 ELSE 32 END)
    SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang
    """,
)
def sample_stratified_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ``sampleBy``: per-stratum keep-fractions (50% of
    'en', 12.5% of everything else) decided by the md5 bucket of doc_id
    against a per-stratum threshold.  Unlike ``DataFrame.sampleBy`` this
    is reproducible across runs/engines/partitionings, and it is a pure
    scan-side filter -- no shuffle at all until the audit count; in a
    pipeline the kept rows stream straight into the next stage."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket256_sql("doc_id"))
    thresh = F.when(F.col("lang") == "en", 128).otherwise(32)
    return (
        docs.select("lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < thresh)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )


def _bucket65536_sql(key_expr: str) -> str:
    """SQL for a uniform 0..65535 bucket: first four hex digits of md5."""
    h = f"md5(CAST({key_expr} AS STRING))"
    digits = [
        f"(instr('{_HEX}', substring({h}, {i}, 1)) - 1)" for i in (1, 2, 3, 4)
    ]
    return (
        f"({digits[0]} * 4096 + {digits[1]} * 256"
        f" + {digits[2]} * 16 + {digits[3]})"
    )


@query(
    "sample_weighted_bernoulli",
    oracle=f"""
    WITH mx AS (SELECT MAX(n_chars) AS m FROM documents),
    s AS (
      SELECT lang, n_chars FROM documents, mx
      WHERE {_bucket65536_sql('doc_id')} * m < n_chars * 65536)
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM s GROUP BY lang
    """,
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling, P(keep) proportional to document
    length: accept doc iff u < w/max(w) with u a 16-bit uniform from
    md5(doc_id).  The acceptance test is rearranged to pure integer
    arithmetic (bucket * max_w < w * 65536) so both engines decide every
    row identically -- no transcendental weighted-reservoir keys
    (exp/log differ across libm builds).  The max(w) scalar is one tiny
    pre-pass broadcast into a scan-side filter; the sample itself never
    shuffles.  This is the 100 TB shape for length-balanced corpus
    subsampling."""
    return run_sql(
        spark,
        sf_dir,
        f"""
        WITH mx AS (SELECT MAX(n_chars) AS m FROM documents),
        s AS (
          SELECT lang, n_chars FROM documents CROSS JOIN mx
          WHERE {_bucket65536_sql('doc_id')} * m < n_chars * 65536)
        SELECT lang, COUNT(*) AS n_sampled, SUM(n_chars) AS sampled_chars
        FROM s GROUP BY lang
        """
    )


# Poisson(1) inverse-CDF thresholds over 2^32 md5 buckets, computed once
# in Python so both engines compare the SAME integer literals
# (k = 0..3, tail mass collapsed into k = 4).
_POIS_CASE = "CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1 WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3 ELSE 4 END"


@query(
    "sample_bootstrap_poisson",
    oracle=f"""
    WITH draws AS (
      SELECT r, o_totalprice,
             ({hex_int_sql('duckdb', "md5(concat(CAST(o_orderkey AS VARCHAR), ':', CAST(r AS VARCHAR)))", 1)}) AS u
      FROM orders, unnest(range(0, 3)) AS t(r)),
    counted AS (SELECT r, o_totalprice, {_POIS_CASE} AS k FROM draws)
    SELECT r AS replicate, CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(SUM(k * CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM counted GROUP BY r
    """,
)
def sample_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (the online-bootstrap /
    bagging-resample standard): each of 3 replicates draws every row
    k ~ Poisson(1) times, with k derived from md5(orderkey, replicate)
    against Python-precomputed inverse-CDF integer thresholds — so the
    replicates are reproducible across engines, runs, and retries, and
    resampling is a scan-side weight, never a data copy.  Replicate
    estimates (row counts, decimal-exact weighted revenue) are the
    bootstrap distribution a variance estimate reads off."""
    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql as _hx

    o = load_table(spark, sf_dir, "orders")
    draws = o.select(
        "o_totalprice",
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("r"),
    ).withColumn(
        "u",
        F.expr(
            _hx(
                "spark",
                "md5(concat(cast(o_orderkey as string), ':', cast(r as string)))",
                1,
            )
        ),
    )
    counted = draws.withColumn("k", F.expr(_POIS_CASE))
    return counted.groupBy(F.col("r").alias("replicate")).agg(
        F.sum("k").cast("bigint").alias("n_rows"),
        F.sum(F.col("k") * F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )



_RES_K = 64  # fixed reservoir size (and the KMV sketch's k)


def _bottomk_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql

    h8 = hex_int_sql("duckdb", "hk", 1)
    return f"""
    WITH keyed AS (
      SELECT doc_id, md5(concat('rk:', CAST(doc_id AS VARCHAR))) AS hk
      FROM documents),
    bot AS (
      SELECT doc_id, hk, ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rk
      FROM keyed ORDER BY hk, doc_id LIMIT {_RES_K}),
    thr AS (
      SELECT CAST(({_RES_K} - 1) * 4294967296 // ({h8}) AS BIGINT)
               AS est_distinct
      FROM bot WHERE rk = {_RES_K})
    SELECT CAST(bot.rk AS BIGINT) AS rk, bot.doc_id, thr.est_distinct
    FROM bot CROSS JOIN thr
    """


@query("sample_reservoir_bottomk", oracle=_bottomk_oracle())
def sample_reservoir_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic reservoir: the k documents with the
    SMALLEST md5('rk:'||doc_id) keys — the bottom-k / KMV sketch, which
    gives (a) a uniform k-sample that is identical on every engine,
    worker, and retry (rand()-reservoirs are none of those), (b) a
    mergeable sample (union two corpora's bottom-k sets and re-take the
    bottom k), and (c) a distinct-count estimate for free: with U_(k)
    the k-th smallest hash as a fraction of the hash space,
    est = (k-1)/U_(k) — rendered as the exact integer division
    (k-1)*2^32 div h_k over the 8-hex-char key prefix, identical in
    both engines.

    Scale shape: the bottom-k is TakeOrdered (per-partition top-k +
    driver merge — never a global sort), the rank window runs over the
    <= k-row result, and the 1-row threshold broadcasts back.  The
    sample rows themselves are the output, as a real sampler's would
    be."""
    from pyspark.sql import Window

    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("rk:"), F.col("doc_id").cast("string"))).alias(
            "hk"
        ),
    )
    bot = (
        keyed.orderBy("hk", "doc_id")
        .limit(_RES_K)
        .withColumn(
            "rk", F.row_number().over(Window.orderBy("hk", "doc_id"))
        )
    )
    h8 = hex_int_sql("spark", "hk", 1)
    thr = bot.filter(F.col("rk") == _RES_K).select(
        F.expr(
            f"cast(({_RES_K} - 1) * cast(4294967296 as bigint)"
            f" div ({h8}) as bigint)"
        ).alias("est_distinct")
    )
    return bot.crossJoin(F.broadcast(thr)).select(
        F.col("rk").cast("bigint").alias("rk"), "doc_id", "est_distinct"
    )


_PPS_K = 32  # fixed sample size for the priority (PPSWOR) sample


def _ppswor_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql

    h8 = hex_int_sql("duckdb", "hk", 1)
    return f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(concat('pri:', CAST(doc_id AS VARCHAR))) AS hk
      FROM documents),
    pri AS (
      SELECT doc_id, n_chars,
             CAST(CAST(n_chars AS HUGEINT) * 4294967296
                  // (({h8}) + 1) AS BIGINT) AS priority
      FROM keyed),
    top AS (
      SELECT doc_id, n_chars, priority,
             ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rk
      FROM pri ORDER BY priority DESC, doc_id LIMIT {_PPS_K + 1}),
    tau AS (SELECT COALESCE(MAX(CASE WHEN rk = {_PPS_K + 1}
                                     THEN priority END), 0) AS tau
            FROM top),
    samp AS (
      SELECT top.rk, top.doc_id, top.n_chars AS w_chars, top.priority,
             GREATEST(top.n_chars, tau.tau) AS ht_weight
      FROM top CROSS JOIN tau WHERE top.rk <= {_PPS_K}),
    est AS (SELECT SUM(ht_weight) AS est_total_chars FROM samp),
    tot AS (SELECT SUM(n_chars) AS total_chars FROM documents)
    SELECT CAST(samp.rk AS BIGINT) AS rk, samp.doc_id, samp.w_chars,
           samp.priority, CAST(samp.ht_weight AS BIGINT) AS ht_weight,
           CAST(est.est_total_chars AS BIGINT) AS est_total_chars,
           CAST(tot.total_chars AS BIGINT) AS total_chars
    FROM samp CROSS JOIN est CROSS JOIN tot
    """


@query("sample_ppswor_priority", oracle=_ppswor_oracle())
def sample_ppswor_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield-Lund-Thorup): each document draws u = (h+1)/2^32 from
    md5('pri:'||doc_id) and gets priority q = w/u, realized as the exact
    integer w * 2^32 div (h+1); the k largest priorities are the sample
    and tau (the (k+1)-th priority) yields the Horvitz-Thompson
    per-item estimate max(w, tau), whose sample sum estimates the
    corpus total.  This is the missing sibling of
    ``sample_weighted_bernoulli`` (with replacement, independent coin
    per row) and ``sample_reservoir_bottomk`` (uniform): token-weighted
    corpus subsampling where big documents must not be double-drawn.

    Everything is integer: the priority is computed with int128
    headroom (decimal(38,0) div / HUGEINT //, the exact-floor pair per
    CLAUDE.md) and rendered as BIGINT — exact while w < 2^31, i.e. any
    per-document char count that fits a real corpus.  Determinism:
    md5-derived u is identical on every engine/worker/retry, ORDER BY
    is (exact integer, doc_id) — never a float key.

    Scale shape: top-(k+1) is TakeOrdered (per-partition heap + driver
    merge, no global sort); the rank window runs over the <= k+1-row
    result; tau and the two 1-row totals broadcast back.  Priority
    samples are mergeable like bottom-k: union two corpora's top-k and
    re-take the top k (same merge story as the KMV reservoir)."""
    from pyspark.sql import Window

    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.concat(F.lit("pri:"), F.col("doc_id").cast("string"))).alias(
            "hk"
        ),
    )
    h8 = hex_int_sql("spark", "hk", 1)
    pri = keyed.select(
        "doc_id",
        "n_chars",
        F.expr(
            f"cast(cast(n_chars as decimal(38,0)) * 4294967296"
            f" div (cast(({h8}) as decimal(38,0)) + 1) as bigint)"
        ).alias("priority"),
    )
    top = (
        pri.orderBy(F.desc("priority"), "doc_id")
        .limit(_PPS_K + 1)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("priority"), "doc_id")),
        )
    )
    # tau as a 1-row AGGREGATE (never an empty filter result): when the
    # corpus has <= k documents the (k+1)-th priority does not exist and
    # a bare filter would annihilate the whole sample through the cross
    # join.  COALESCE(tau, 0) makes the <= k case return the corpus
    # itself with ht_weight = n_chars (max(w, 0) = w), the correct
    # Horvitz-Thompson degenerate sample, in both dialects.
    tau = top.agg(
        F.coalesce(
            F.max(
                F.when(F.col("rk") == _PPS_K + 1, F.col("priority"))
            ),
            F.lit(0).cast("bigint"),
        ).alias("tau")
    )
    samp = (
        top.filter(F.col("rk") <= _PPS_K)
        .crossJoin(F.broadcast(tau))
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "doc_id",
            F.col("n_chars").alias("w_chars"),
            "priority",
            F.greatest("n_chars", F.col("tau")).cast("bigint").alias(
                "ht_weight"
            ),
        )
    )
    est = samp.agg(
        F.sum("ht_weight").cast("bigint").alias("est_total_chars")
    )
    tot = docs.agg(F.sum("n_chars").cast("bigint").alias("total_chars"))
    return samp.crossJoin(F.broadcast(est)).crossJoin(F.broadcast(tot))


# --------------------------------------------- Neyman allocation

_NEY_BUDGET = 1000  # total sample budget across strata


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH g AS (
      SELECT lang, COUNT(*) AS nh,
             SUM(CAST(n_chars AS HUGEINT)) AS sx,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      FROM documents GROUP BY 1),
    s AS (
      SELECT lang, nh,
             CAST(round(sqrt(CAST(CAST(nh AS HUGEINT) * sxx - sx * sx
                                  AS DOUBLE)
                             / (CAST(nh AS DOUBLE) * nh)) * 10000)
                  AS BIGINT) AS s4
      FROM g),
    w AS (SELECT lang, nh, s4, CAST(nh AS HUGEINT) * s4 AS wh FROM s),
    t AS (SELECT SUM(wh) AS tot, SUM(CAST(nh AS HUGEINT)) AS nd FROM w),
    w2 AS (
      SELECT lang, nh, s4,
             CASE WHEN t.tot = 0 THEN CAST(nh AS HUGEINT) ELSE wh END AS wh,
             CASE WHEN t.tot = 0 THEN t.nd ELSE t.tot END AS tot
      FROM w CROSS JOIN t),
    b AS (
      SELECT lang, nh, s4, wh, tot,
             ({_NEY_BUDGET} * wh) // tot AS base,
             {_NEY_BUDGET} * wh - (({_NEY_BUDGET} * wh) // tot) * tot AS rem
      FROM w2),
    lv AS (SELECT {_NEY_BUDGET} - SUM(base) AS leftover FROM b),
    r AS (
      SELECT b.*, lv.leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
      FROM b CROSS JOIN lv)
    SELECT lang, CAST(nh AS BIGINT) AS n_docs,
           CAST(s4 AS DOUBLE) / 10000 AS sigma,
           CAST(wh AS BIGINT) AS weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS n_alloc
    FROM r
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (optimal) stratified-sample allocation: split a fixed
    budget of {_NEY_BUDGET} draws across language strata proportionally
    to N_h * sigma_h — the design that minimizes the variance of the
    stratified mean (big AND spread-out strata earn more samples).  The
    fractional allocation is realized by LARGEST-REMAINDER rounding, so
    the integer allocations sum exactly to the budget on every engine.

    Determinism: per-stratum variance is the exact integer rational
    (n*sxx - sx^2)/n^2 (n_chars <= ~1e5, so the int128 single-pass form
    carries ~1e14 rows per stratum; the measured-bound discipline of
    tests/test_headroom_bounds.py); sigma = sqrt of an identical double
    (sqrt outputs are never decimal halves — CLAUDE.md), quantized to
    1e-4 and carried as the INTEGER s4, so weights, floor division,
    remainders, and the remainder ranking are all exact integer
    arithmetic (never a float sort key).  An all-constant corpus
    (every sigma 0) falls back to proportional allocation rather than
    dividing by zero — the CASE keeps the division lazy in both
    engines (ANSI rule).  Scale shape: one scan into a
    lang-cardinality moment aggregate; everything after runs on
    5 rows."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count("*").alias("nh"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars"))
        ).alias("sxx"),
    )
    s = g.select(
        "lang",
        "nh",
        F.expr(
            "cast(round(sqrt(cast(cast(nh as decimal(38,0)) * sxx - sx * sx"
            " as double) / (cast(nh as double) * nh)) * 10000) as bigint)"
        ).alias("s4"),
    )
    w = s.select(
        "lang", "nh", "s4",
        F.expr("cast(nh as decimal(38,0)) * s4").alias("wh"),
    )
    t = w.agg(
        F.sum("wh").alias("tot"),
        F.sum(F.col("nh").cast("decimal(38,0)")).alias("nd"),
    )
    w2 = w.crossJoin(F.broadcast(t)).select(
        "lang",
        "nh",
        "s4",
        F.expr(
            "CASE WHEN tot = 0 THEN cast(nh as decimal(38,0)) ELSE wh END"
        ).alias("wh"),
        F.expr("CASE WHEN tot = 0 THEN nd ELSE tot END").alias("tot"),
    )
    b = w2.select(
        "lang",
        "nh",
        "s4",
        "wh",
        "tot",
        F.expr(f"({_NEY_BUDGET} * wh) div tot").alias("base"),
        F.expr(
            f"{_NEY_BUDGET} * wh - (({_NEY_BUDGET} * wh) div tot) * tot"
        ).alias("rem"),
    )
    lv = b.agg(F.expr(f"{_NEY_BUDGET} - sum(base)").alias("leftover"))
    r = b.crossJoin(F.broadcast(lv)).withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), "lang"))
    )
    return r.select(
        "lang",
        F.col("nh").cast("bigint").alias("n_docs"),
        (F.col("s4").cast("double") / 10000).alias("sigma"),
        F.col("wh").cast("bigint").alias("weight"),
        F.expr(
            "cast(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
            " as bigint)"
        ).alias("n_alloc"),
    )
