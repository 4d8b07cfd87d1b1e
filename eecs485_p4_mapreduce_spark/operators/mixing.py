"""Training-mix construction operators (SURVEY.md §2.C ⊕): weighted
source mixing and fixed-budget sequence packing — the two steps between
"cleaned corpus" and "token stream" in an LLM data pipeline.

Both are deterministic (content-hash sampling, prefix-sum packing), so
the same mix/packing falls out on every engine and every retry — the
property that makes a 100 TB pipeline resumable and auditable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS, tokens
from eecs485_p4_mapreduce_spark.functions.numeric import (
    hu_ratio,
    hu_ratio_signed,
    hu_ratio_signed_sql,
)
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, widen_scan

# Target language shares for the training mix (sums to 1).  At scale this
# is the knob file reviewed per training run.
_MIX = {"en": 0.4, "de": 0.2, "es": 0.15, "fr": 0.15, "zh": 0.1}

# 3 hex chars of md5(doc_id) = 4096 deterministic buckets per document.
_BUCKETS = 4096

def _hex3(spark_src: str, duck_src: str) -> dict[str, str]:
    """First 3 hex chars of md5(<src>) as an integer in [0, 4096) —
    the deterministic bucketing primitive, per dialect."""
    return {
        "spark": (
            f"cast(conv(substring(md5({spark_src}), 1, 3), 16, 10) as bigint)"
        ),
        "duckdb": (
            "CAST(list_sum(list_transform(range(0, 3),"
            " c -> (strpos('0123456789abcdef',"
            f" substring(md5({duck_src}), 1 + c, 1)) - 1)"
            " * CAST(pow(16, 2 - c) AS BIGINT))) AS BIGINT)"
        ),
    }


_HEX3 = _hex3("cast(doc_id as string)", "CAST(doc_id AS VARCHAR)")

_MIX_CASE = " ".join(f"WHEN '{k}' THEN {v!r}" for k, v in _MIX.items())


@query(
    "mix_sources_weighted",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n_total FROM documents),
    rates AS (
      SELECT lang, n_lang,
             CAST(floor(least(1.0,
               (CASE lang {_MIX_CASE} ELSE 0.0 END) * tot.n_total / n_lang)
               * {_BUCKETS}) AS BIGINT) AS thresh
      FROM counts, tot),
    kept AS (
      SELECT d.lang
      FROM documents d JOIN rates r ON r.lang = d.lang
      WHERE {_HEX3['duckdb']} < r.thresh)
    SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           r.n_lang AS n_available, r.thresh
    FROM kept k
    JOIN rates r ON r.lang = k.lang
    GROUP BY k.lang, r.n_lang, r.thresh
    """,
)
def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training-mix sampler: downsample each language toward a
    target share by deterministic content-hash acceptance.

    Per-language acceptance rate = target_share * N_total / n_lang
    (clamped at 1 — an under-represented language keeps everything; real
    pipelines would up-sample by repetition, a policy knob out of scope
    here).  The rate becomes an integer threshold over {_BUCKETS}
    md5(doc_id) buckets, so membership is an exact integer compare —
    reproducible across engines, runs, and retries, unlike rand()-based
    sampling.  One broadcast of the 5-row rates table; the scan-side
    filter is embarrassingly parallel.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    total = docs.agg(F.count("*").alias("n_total"))
    rates = (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "thresh",
            F.expr(
                f"cast(floor(least(1.0, (CASE lang {_MIX_CASE} ELSE 0.0 END)"
                f" * n_total / n_lang) * {_BUCKETS}) as bigint)"
            ),
        )
        .select("lang", "n_lang", "thresh")
    )
    kept = docs.join(F.broadcast(rates), "lang").filter(
        F.expr(_HEX3["spark"]) < F.col("thresh")
    )
    return kept.groupBy("lang", "n_lang", "thresh").agg(
        F.count("*").cast("bigint").alias("n_sampled")
    ).select("lang", "n_sampled", F.col("n_lang").alias("n_available"), "thresh")


_SEQ_BUDGET = 2048  # tokens per packed training sequence


@query(
    "pack_sequences_greedy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, len({DUCK_TOKENS}) AS tok FROM documents),
    packed AS (
      SELECT lang, tok,
             SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks),
    seq AS (
      -- floor before the cast: DuckDB's int/int division yields DOUBLE and
      -- its double->int cast ROUNDS where Spark truncates (determinism
      -- rule #4 in COVERAGE.md)
      SELECT lang, tok, CAST(floor((cum - tok) / {_SEQ_BUDGET}.0) AS BIGINT) AS seq_id
      FROM packed)
    SELECT lang, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS tokens_packed,
           CAST(CAST((2 * CAST(SUM(tok) AS HUGEINT) * 1000000 + {_SEQ_BUDGET})
                     // (2 * CAST({_SEQ_BUDGET} AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS fill_ratio
    FROM seq
    GROUP BY lang, seq_id
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: stream documents (per language, doc_id
    order) into fixed {_SEQ_BUDGET}-token training sequences by
    prefix-sum binning — seq_id = floor(start_offset / budget), so a
    document belongs to the sequence where it STARTS and the boundary
    document overflows into it (the standard streaming-packer semantics;
    an exact bin packer is NP-hard and order-unstable).

    One window shuffle per language partition computes the running token
    count; everything else is scan-side.  At 100 TB the partition key is
    (shard, lang) so no single window sees more than a shard — the
    per-lang spelling here is the same plan at test cardinality.
    Deterministic: integer token counts, integer division — identical
    packing on every engine and every run.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.size(tokens("text")).alias("tok"))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = t.withColumn("cum", F.sum("tok").over(w)).withColumn(
        "seq_id", F.floor((F.col("cum") - F.col("tok")) / _SEQ_BUDGET).cast("bigint")
    )
    return seq.groupBy("lang", "seq_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("tokens_packed"),
        # integer half-up recipe: token-count / budget can land on halves
        hu_ratio("sum(tok)", str(_SEQ_BUDGET), 6).alias("fill_ratio"),
    )


# Temperature-rescaled target shares (alpha=0.5 over the nominal _MIX
# policy), Python-computed at import so BOTH engines see literals -- no
# query-time cross-engine pow().  alpha<1 flattens toward uniform, the
# standard multilingual-LM rebalancing (T = {'en': 0.291388, 'de': 0.206042, 'es': 0.178438, 'fr': 0.178438, 'zh': 0.145694}).
_TEMP_CASE = "WHEN 'en' THEN 0.291388 WHEN 'de' THEN 0.206042 WHEN 'es' THEN 0.178438 WHEN 'fr' THEN 0.178438 WHEN 'zh' THEN 0.145694"


@query(
    "mix_temperature_sampling",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n_total FROM documents),
    rates AS (
      SELECT lang, n_lang,
             CAST(floor(least(1.0,
               (CASE lang {_TEMP_CASE} ELSE 0.0 END) * tot.n_total / n_lang)
               * {_BUCKETS}) AS BIGINT) AS thresh
      FROM counts, tot),
    kept AS (
      SELECT d.lang
      FROM documents d JOIN rates r ON r.lang = d.lang
      WHERE {_HEX3['duckdb']} < r.thresh)
    SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           r.n_lang AS n_available, r.thresh
    FROM kept k
    JOIN rates r ON r.lang = k.lang
    GROUP BY k.lang, r.n_lang, r.thresh
    """,
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mix sampling: the nominal language shares are
    rescaled by share^alpha (alpha=0.5, normalized) BEFORE the
    deterministic hash-acceptance of ``mix_sources_weighted`` -- the
    standard rebalancing that keeps low-resource languages from
    vanishing in a multilingual training mix.  The temperature math
    happens at import time in Python and lands in both SQL texts as
    identical literals, so no pow() runs at query time in either
    engine."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    total = docs.agg(F.count("*").alias("n_total"))
    rates = (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "thresh",
            F.expr(
                f"cast(floor(least(1.0, (CASE lang {_TEMP_CASE} ELSE 0.0 END)"
                f" * n_total / n_lang) * {_BUCKETS}) as bigint)"
            ),
        )
        .select("lang", "n_lang", "thresh")
    )
    kept = docs.join(F.broadcast(rates), "lang").filter(
        F.expr(_HEX3["spark"]) < F.col("thresh")
    )
    return kept.groupBy("lang", "n_lang", "thresh").agg(
        F.count("*").cast("bigint").alias("n_sampled")
    ).select(
        "lang",
        "n_sampled",
        F.col("n_lang").cast("bigint").alias("n_available"),
        "thresh",
    )


@query(
    "mix_quality_weighted",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents),
    acc AS (
      SELECT source, decile, n_chars,
             ({_HEX3['duckdb']}) % 256 < decile * 25 AS accepted
      FROM ranked)
    SELECT source, CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accepted,
           CAST(SUM(CASE WHEN accepted THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_accepted
    FROM acc GROUP BY 1, 2
    """,
)
def mix_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted mix construction: acceptance probability rises
    with the document's quality decile (decile d keeps ~d*25/256 of its
    docs) -- the standard upsample-the-good-tail knob, with length
    deciles standing in for any scored quality column.

    Deterministic end to end: deciles are ntile over (n_chars, doc_id)
    (integer + id tie-break), acceptance is the md5-bucket-vs-integer
    -threshold compare every sampler in this engine uses -- so the same
    mix falls out on every engine and retry.  The decile is computed
    from a range-partitioned partition-offset global rank
    (functions/ranking.py) pushed through the exact ANSI tile-size
    rule — this ntile runs over the DOCUMENTS table itself, so the
    naive one-task window was the first thing to break at corpus
    scale; here nothing funnels through one partition."""
    from eecs485_p4_mapreduce_spark.functions.ranking import (
        ntile_from_rank,
        with_global_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    ranked = with_global_rank(
        docs.select("doc_id", "source", "n_chars"),
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
    ).select(
        "doc_id",
        "source",
        "n_chars",
        ntile_from_rank("_rk", "_n", 10).alias("decile"),
    )
    accepted = (F.expr(_HEX3["spark"]) % 256) < (F.col("decile") * 25)
    return (
        ranked.withColumn("accepted", accepted)
        .groupBy("source", F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("accepted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_accepted"),
            F.sum(F.when(F.col("accepted"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_accepted"),
        )
    )


_BUDGET = 1_000_000  # training-run token budget to apportion

# integer weight = floor(sqrt(n_tokens) * 1000): temperature tau=2
# (sqrt) scaling, quantized to an exact integer so every downstream
# share/remainder is pure integer arithmetic (sqrt of a bigint is
# IEEE-correctly-rounded in both engines; no float sums anywhere).
_WI = "cast(floor(sqrt(cast(n_tokens as double)) * 1000) as bigint)"


@query(
    "mix_epoch_token_budget",
    oracle=f"""
    WITH nt AS (
      SELECT source, CAST(SUM(len({DUCK_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    w AS (SELECT source, n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT)
                   AS wi
          FROM nt),
    tot AS (SELECT CAST(SUM(wi) AS BIGINT) AS tw FROM w),
    base AS (
      SELECT source, n_tokens, wi,
             ({_BUDGET} * wi) // tw AS alloc0,
             ({_BUDGET} * wi) % tw AS rem
      FROM w, tot),
    extra AS (SELECT CAST({_BUDGET} - SUM(alloc0) AS BIGINT) AS k FROM base),
    ranked AS (
      SELECT source, n_tokens, alloc0, rem,
             row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
      FROM base)
    SELECT r.source, r.n_tokens,
           CAST(r.alloc0 + CASE WHEN r.rk <= e.k THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_tokens,
           CASE WHEN r.n_tokens = 0 THEN NULL ELSE
           CAST((r.alloc0 + CASE WHEN r.rk <= e.k THEN 1 ELSE 0 END) * 10000
                // r.n_tokens AS BIGINT) END AS epochs_bp
    FROM ranked r, extra e
    """,
)
def mix_epoch_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment across sources: split a 1M-token
    training budget by temperature-scaled source size (tau = 2, i.e.
    share proportional to sqrt of source tokens -- the UniMax/mT5-style
    rebalancing), using LARGEST-REMAINDER rounding so the allocations
    sum to exactly the budget.  epochs_bp (allocation / source_tokens in
    basis points) is the oversampling factor the repeat-sampler consumes
    -- > 10000 means the source repeats within one run.

    Everything after the per-source token count (one partial-aggregated
    scan) is output-sized integer arithmetic: quantized integer weights,
    integer floor shares and remainders, a 20-row remainder-rank window,
    and integer epoch ratios -- no float sum anywhere, so the plan is
    replayable bit-for-bit on any engine at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    nt = (
        docs.select("source", F.size(tokens("text")).alias("ntok"))
        .groupBy("source")
        .agg(F.sum("ntok").cast("bigint").alias("n_tokens"))
    )
    w = nt.withColumn("wi", F.expr(_WI))
    tot = w.agg(F.sum("wi").cast("bigint").alias("tw"))
    base = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("alloc0", F.expr(f"({_BUDGET} * wi) div tw"))
        .withColumn("rem", F.expr(f"({_BUDGET} * wi) % tw"))
    )
    extra = base.agg(
        (F.lit(_BUDGET) - F.sum("alloc0")).cast("bigint").alias("k")
    )
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("source").asc())
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(extra))
        .withColumn(
            "alloc_tokens",
            (
                F.col("alloc0")
                + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
            ).cast("bigint"),
        )
        .select(
            "source",
            "n_tokens",
            "alloc_tokens",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN NULL ELSE"
                " cast(alloc_tokens * 10000 div n_tokens as bigint) END"
            ).alias("epochs_bp"),
        )
    )


_EPOCHS = (0, 1)  # epochs materialized by the shuffle audit


@query(
    "mix_epoch_shuffle",
    oracle=f"""
    WITH ep AS (SELECT unnest([{', '.join(str(e) for e in _EPOCHS)}]) AS epoch),
    keyed AS (
      SELECT ep.epoch, d.doc_id,
             md5(concat('ep', CAST(ep.epoch AS VARCHAR), ':',
                        CAST(d.doc_id AS VARCHAR))) AS k
      FROM documents d CROSS JOIN ep),
    ranked AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos
      FROM keyed),
    disp AS (
      SELECT CAST(SUM(CAST(abs(a.pos - b.pos) AS HUGEINT)) AS BIGINT)
               AS total_displacement
      FROM ranked a JOIN ranked b ON b.doc_id = a.doc_id
      WHERE a.epoch = 0 AND b.epoch = 1)
    SELECT CAST(r.epoch AS BIGINT) AS epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(CASE WHEN r.pos = 1 THEN r.doc_id END) AS BIGINT)
             AS head_doc_id,
           CAST(SUM(CAST(r.pos AS HUGEINT) * r.doc_id) AS BIGINT)
             AS perm_checksum,
           disp.total_displacement
    FROM ranked r CROSS JOIN disp
    GROUP BY r.epoch, disp.total_displacement
    """,
)
def mix_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle — the data-loader step
    every LLM training run repeats: each epoch orders the corpus by a
    fresh pseudo-random permutation (key = md5('ep<epoch>:<doc_id>')),
    so batches are decorrelated across epochs while any worker, any
    retry, and any engine reproduce the identical stream.  The audit
    reports, per epoch, the stream head, an order-sensitive permutation
    checksum (sum of position x doc_id — two streams agree iff their
    checksums do, up to collision), and the total positional
    displacement between epochs 0 and 1 (a near-zero displacement means
    the 'shuffle' is not actually reshuffling).

    Scale shape: the per-epoch positions come from the grouped
    range-partition + partition-offset global rank
    (functions/ranking.py, partition_cols=['epoch'] — few/huge groups,
    the rfm discipline): NO unpartitioned window at any corpus size,
    and the displacement join is doc_id-keyed.  Determinism: md5 keys
    with a doc_id tie-break; all outputs are exact integers (the
    checksum accumulates in decimal(38,0)/HUGEINT — int64-safe in the
    BIGINT output to ~3e9 docs x 1e9 ids; widen the output type past
    that)."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.explode(F.array(*[F.lit(e) for e in _EPOCHS])).alias("epoch"),
    ).withColumn(
        "k",
        F.md5(
            F.concat(
                F.lit("ep"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    ranked = with_global_rank(
        keyed, ["k", "doc_id"], partition_cols=["epoch"]
    ).select("epoch", "doc_id", F.col("_rk").alias("pos"))
    disp = (
        ranked.filter(F.col("epoch") == 0)
        .select("doc_id", F.col("pos").alias("p0"))
        .join(
            ranked.filter(F.col("epoch") == 1).select(
                "doc_id", F.col("pos").alias("p1")
            ),
            "doc_id",
        )
        .agg(
            F.expr(
                "cast(sum(abs(cast(p0 as decimal(38,0)) - p1)) as bigint)"
            ).alias("total_displacement")
        )
    )
    return (
        ranked.groupBy("epoch")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("head_doc_id"),
            F.expr(
                "cast(sum(cast(pos as decimal(38,0)) * doc_id) as bigint)"
            ).alias("perm_checksum"),
        )
        .crossJoin(F.broadcast(disp))
        .select(
            F.col("epoch").cast("bigint").alias("epoch"),
            "n_docs",
            "head_doc_id",
            "perm_checksum",
            "total_displacement",
        )
    )



# Integer interleave strides: the i-th document of language s goes at
# virtual time i * (K / w_s) with K = lcm of the percent weights, so the
# merged order realizes the _MIX shares exactly without a single float
# (the "smooth weighted round-robin" / interleave_datasets recipe).
_IL_PARTS = {k: int(round(v * 100)) for k, v in _MIX.items()}
_IL_K = math.lcm(*_IL_PARTS.values())
_IL_STRIDE = {k: _IL_K // w for k, w in _IL_PARTS.items()}
_IL_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _IL_STRIDE.items()
)


@query(
    "mix_interleave_deterministic",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(concat('il:', CAST(doc_id AS VARCHAR))), doc_id)
               AS i
      FROM documents),
    vt AS (SELECT lang, doc_id, i,
                  i * (CASE lang {_IL_CASE} ELSE {_IL_K} END) AS t
           FROM ranked),
    pos AS (SELECT lang, i,
                   ROW_NUMBER() OVER (ORDER BY t, lang, i) AS p
            FROM vt)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(p) AS BIGINT) AS first_pos,
           CAST(SUM(CAST(p AS HUGEINT) * i) AS BIGINT) AS order_checksum
    FROM pos GROUP BY lang
    """,
)
def mix_interleave_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleaving — the
    ``interleave_datasets`` step that turns per-source streams into ONE
    training stream realizing the mix shares locally (every window of
    the merged stream carries ~the target proportions), not just in
    expectation: the i-th document of source s is placed at integer
    virtual time i * (K / w_s) (K = lcm of the percent weights), and
    the merged order is the sort by (t, lang, i) — the exact
    rational-merge spelling of smooth weighted round-robin, zero
    floats.  Within each source, documents stream in md5 order (the
    epoch-shuffle key discipline), so the interleave composes with
    per-epoch reshuffling.

    The audit reports per source its stream size, first merged slot,
    and an order-sensitive checksum of its slot assignment.  Scale
    shape: BOTH ranks are the range-partition + partition-offset global
    rank (within-source via partition_cols=['lang'] — few/huge groups;
    then the merged order, ungrouped) — no unpartitioned window at any
    corpus size; everything after is a 5-group aggregate."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    keyed = docs.withColumn(
        "hk",
        F.md5(F.concat(F.lit("il:"), F.col("doc_id").cast("string"))),
    )
    ranked = with_global_rank(
        keyed, ["hk", "doc_id"], partition_cols=["lang"]
    ).select("lang", "doc_id", F.col("_rk").alias("i"))
    vt = ranked.withColumn(
        "t", F.expr(f"i * (CASE lang {_IL_CASE} ELSE {_IL_K} END)")
    )
    pos = with_global_rank(vt, ["t", "lang", "i"]).select(
        "lang", "i", F.col("_rk").alias("p")
    )
    return pos.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("p").cast("bigint").alias("first_pos"),
        F.expr("cast(sum(cast(p as decimal(38,0)) * i) as bigint)").alias(
            "order_checksum"
        ),
    )


# DSIR-style importance selection (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling" — public method): score
# every document by the log-likelihood ratio of a TARGET domain's
# hashed-feature unigram model vs the general SOURCE pool's, select the
# docs whose evidence favors the target.  Target here = the 'en' slice,
# source pool = everything else; features = md5-hashed token buckets
# (fixed B-row model at any corpus size — the reason DSIR hashes).
_DSIR_B = 4096
_DSIR_WHEX = _hex3("w", "w")  # md5 over the token itself


@query(
    "mix_dsir_importance_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_DSIR_WHEX['duckdb']} AS b
      FROM (SELECT doc_id, lang, unnest({DUCK_TOKENS}) AS w FROM documents)),
    ct AS (SELECT b, COUNT(*) AS c FROM tok WHERE lang = 'en' GROUP BY b),
    cs AS (SELECT b, COUNT(*) AS c FROM tok WHERE lang <> 'en' GROUP BY b),
    nt AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM ct),
    ns AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM cs),
    lr AS (
      SELECT COALESCE(ct.b, cs.b) AS b,
             CAST(round(ln(
               (CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) * (ns.n + {_DSIR_B}))
               / (CAST(COALESCE(cs.c, 0) + 1 AS DOUBLE) * (nt.n + {_DSIR_B}))
             ), 4) AS DECIMAL(18,4)) AS llr
      FROM ct FULL OUTER JOIN cs ON cs.b = ct.b
      CROSS JOIN nt CROSS JOIN ns),
    per_doc AS (
      SELECT tok.doc_id, tok.lang,
             COUNT(*) AS n_tok, SUM(lr.llr) AS s
      FROM tok JOIN lr ON lr.b = tok.b
      GROUP BY tok.doc_id, tok.lang)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_selected,
           CAST(COALESCE(SUM(CASE WHEN s > 0 THEN n_tok END), 0) AS BIGINT)
             AS sel_tokens,
           {hu_ratio_signed_sql("SUM(s) * 10000",
                                "CAST(COUNT(*) AS HUGEINT) * 10000",
                                6)} AS mean_llr
    FROM per_doc GROUP BY lang
    """,
)
def mix_dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection: per-document log-likelihood
    ratio of target-domain ('en') vs source-pool hashed-unigram models,
    Laplace-smoothed over {_DSIR_B} md5 buckets; a document is SELECTED
    when its token evidence favors the target (sum llr > 0).  The
    readout per language: docs, selected docs, selected token mass, and
    the mean ratio at 6 digits — the curation report a domain-matching
    data-selection run produces.

    Cross-engine discipline (the kl_nats recipe): each bucket's
    log-ratio is ln() of an IDENTICALLY-computed double (integer counts
    cast to double, same expression shape both dialects), quantized
    round(4) BEFORE the exact decimal per-document sums; selection
    compares the exact decimal to 0; the mean renders via the signed
    integer half-up recipe.  Scale shape: hashing caps the feature
    model at {_DSIR_B} rows regardless of corpus size (the reason DSIR
    hashes) — two bucket-keyed aggregates build it, a broadcast join
    scores token occurrences scan-side, and the per-doc sum is a
    map-side-combinable doc_id aggregate; nothing grows with the
    vocabulary."""
    # tok (explode + md5 per token) is replayed by ct, cs AND the
    # scoring join — spread the scan so no replay runs on one core
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens("text")).alias("w"),
    ).select("doc_id", "lang", F.expr(_DSIR_WHEX["spark"]).alias("b"))
    ct = tok.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count("*").alias("tc")
    )
    cs = tok.filter(F.col("lang") != "en").groupBy("b").agg(
        F.count("*").alias("sc")
    )
    nt = ct.agg(F.coalesce(F.sum("tc"), F.lit(0)).cast("bigint").alias("n_t"))
    ns = cs.agg(F.coalesce(F.sum("sc"), F.lit(0)).cast("bigint").alias("n_s"))
    lr = (
        ct.join(cs, "b", "full_outer")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(ns))
        .select(
            "b",
            F.expr(
                f"cast(round(ln("
                f" (cast(coalesce(tc, 0) + 1 as double) * (n_s + {_DSIR_B}))"
                f" / (cast(coalesce(sc, 0) + 1 as double) * (n_t + {_DSIR_B}))"
                f"), 4) as decimal(18,4))"
            ).alias("llr"),
        )
    )
    per_doc = (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"), F.sum("llr").alias("s"))
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_selected"),
        F.coalesce(F.sum(F.when(F.col("s") > 0, F.col("n_tok"))), F.lit(0))
        .cast("bigint")
        .alias("sel_tokens"),
        hu_ratio_signed(
            "sum(s) * 10000", "cast(count(*) as decimal(38,0)) * 10000", 6
        ).alias("mean_llr"),
    )


_CURR_STAGES = 4  # curriculum stages, cut at equal token-mass quartiles


@query(
    "curriculum_length_schedule",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
    tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS total FROM d),
    c AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (ORDER BY n_chars, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM d),
    st AS (
      SELECT lang, n_chars,
             least({_CURR_STAGES - 1},
                   CAST((CAST(cum - n_chars AS HUGEINT) * {_CURR_STAGES})
                        // CAST(tot.total AS HUGEINT) AS BIGINT)) AS stage
      FROM c CROSS JOIN tot)
    SELECT CAST(stage AS BIGINT) AS stage, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM st GROUP BY stage, lang
    """,
)
def curriculum_length_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule audit: order the corpus easy-to-hard (short
    documents first — the classic length curriculum), cut the ordered
    stream into {_CURR_STAGES} stages at equal TOKEN-MASS boundaries
    (stage = floor(start_offset * {_CURR_STAGES} / total), the
    pack_sequences_greedy binning applied at schedule granularity), and
    report each stage's per-language composition with its length range
    — the readout that tells a training run what distribution shift
    each curriculum phase will see.

    Scale shape: the ordered prefix sum is with_global_rank's
    sum_col='n_chars' (range-partition + partition-offset — no
    unpartitioned running sum at any corpus size); staging is integer
    arithmetic on (_cum, _tot); the readout is a
    {_CURR_STAGES}x|langs| aggregate.  Deterministic: integer mass,
    (n_chars, doc_id) total order, integer division in both dialects
    (nonnegative operands, so HUGEINT floor == Spark div truncate)."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    c = with_global_rank(
        docs.select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("nc")),
        [F.col("nc").asc(), F.col("doc_id").asc()],
        sum_col="nc",
    )
    st = c.select(
        "lang",
        "nc",
        F.least(
            F.lit(_CURR_STAGES - 1),
            F.expr(f"((_cum - nc) * {_CURR_STAGES}) div _tot"),
        )
        .cast("bigint")
        .alias("stage"),
    )
    return st.groupBy("stage", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nc").cast("bigint").alias("chars"),
        F.min("nc").cast("bigint").alias("min_chars"),
        F.max("nc").cast("bigint").alias("max_chars"),
    )


# ---------------------------------------------- training-shard balance

_SHARD_N = 16  # data-parallel shard count


def _shard_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio_sql

    spread = hu_ratio_sql(
        f"(mx - mn) * {_SHARD_N} * 10000", "tot", 0
    )
    return f"""
    WITH d AS (
      SELECT doc_id, CAST(len({DUCK_TOKENS}) AS BIGINT) AS tok
      FROM documents),
    rk AS (
      SELECT doc_id, tok,
             ROW_NUMBER() OVER (ORDER BY tok DESC, doc_id) AS rk
      FROM d),
    sh AS (
      SELECT CAST((rk - 1) % {_SHARD_N} AS BIGINT) AS shard,
             COUNT(*) AS n_docs, SUM(tok) AS tokens
      FROM rk GROUP BY 1),
    g AS (
      SELECT MIN(tokens) AS mn, MAX(tokens) AS mx, SUM(tokens) AS tot
      FROM sh)
    SELECT sh.shard, CAST(sh.n_docs AS BIGINT) AS n_docs,
           CAST(sh.tokens AS BIGINT) AS shard_tokens,
           CAST(g.mn AS BIGINT) AS min_tokens,
           CAST(g.mx AS BIGINT) AS max_tokens,
           CAST({spread} AS BIGINT) AS spread_bp
    FROM sh CROSS JOIN g
    """


@query("mix_shard_balance_rr", oracle=_shard_oracle())
def mix_shard_balance_rr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced assignment of documents to {_SHARD_N} training
    shards — the data-parallel sharding step after mix/pack: rank
    documents by token count DESC and deal them round-robin (the
    classic sorted round-robin load balancer: each shard receives one
    document per size class, so shard token masses track each other to
    within one document).  The readout is per-shard docs + token mass
    and the global spread — (max - min) relative to the mean shard, in
    basis points via the integer half-up recipe — the number a
    training job reads to predict step-time skew across data-parallel
    workers.

    Scale shape: the rank is the range-partition global-rank recipe
    (never an unpartitioned window over the corpus); the shard key is
    pure arithmetic on the rank; the rollup is {_SHARD_N} groups with
    map-side combine, and the 1-row min/max/total broadcasts back.
    Assignment is deterministic (token count, doc_id tie-break), so
    every engine, run, and retry deals identical shards."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("tok")
    )
    ranked = with_global_rank(docs, [F.col("tok").desc(), "doc_id"])
    sh = (
        ranked.withColumn(
            "shard", ((F.col("_rk") - 1) % _SHARD_N).cast("bigint")
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("tok").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("shard_tokens"),
        )
    )
    g = sh.agg(
        F.min("shard_tokens").alias("mn"),
        F.max("shard_tokens").alias("mx"),
        F.sum(F.col("shard_tokens").cast("decimal(38,0)")).alias("tot"),
    )
    return sh.crossJoin(F.broadcast(g)).select(
        "shard",
        "n_docs",
        "shard_tokens",
        F.col("mn").cast("bigint").alias("min_tokens"),
        F.col("mx").cast("bigint").alias("max_tokens"),
        # scale factor folded INSIDE the decimal cast (round-8
        # convention): mx/mn are bigint, so (mx-mn)*160000 would
        # multiply in int64 BEFORE hu_ratio's decimal(38,0) cast and
        # throw under ANSI past ~5.8e13 spread; the DuckDB twin is
        # already HUGEINT (SUM returns int128 there).
        hu_ratio(
            f"(cast(mx as decimal(38,0)) - mn) * {_SHARD_N * 10000}",
            "tot",
            0,
        )
        .cast("bigint")
        .alias("spread_bp"),
    )


# --------------------------------------------- mid-epoch resume

# resume point = HALF the epoch's packed sequences, computed in-query
# (a fixed absolute step would be degenerate at small scale factors and
# trivial at large ones); a real restart passes its checkpoint step in.

@query(
    "mix_resume_from_step",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(len({DUCK_TOKENS}) AS BIGINT) AS tok,
             md5(concat('ep0:', CAST(doc_id AS VARCHAR))) AS hk
      FROM documents),
    r AS (
      SELECT doc_id, lang, tok,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS p,
             SUM(tok) OVER (ORDER BY hk, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM d),
    k AS (SELECT (MAX(cum) // {_SEQ_BUDGET}) // 2 AS step FROM r),
    s AS (
      SELECT lang, tok, p,
             CAST((cum - tok) // {_SEQ_BUDGET} AS BIGINT) AS seq_id
      FROM r),
    rem AS (SELECT s.*, k.step FROM s CROSS JOIN k
            WHERE s.seq_id >= k.step)
    SELECT lang,
           CAST(MAX(step) AS BIGINT) AS resume_step,
           CAST(COUNT(*) AS BIGINT) AS n_remaining,
           CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS tokens_remaining,
           CAST(MIN(p) AS BIGINT) AS first_pos,
           CAST(MIN(seq_id) AS BIGINT) AS first_seq
    FROM rem GROUP BY lang
    """,
)
def mix_resume_from_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MID-EPOCH RESUME: a training job that consumed the
    first K packed sequences (K = half the epoch's sequence count here;
    a real restart passes its checkpoint step) restarts and must see exactly
    the data it has not touched — per language, the remaining document
    count, token mass, and the first remaining stream position /
    sequence id.  Because the epoch order is a pure function of doc_id
    (md5('ep0:'||doc_id), the mix_epoch_shuffle permutation) and
    packing is a prefix-sum bin over that order
    (pack_sequences_greedy's rule applied to the GLOBAL stream), the
    resume point is a deterministic integer predicate — no sampler
    state file, no drift between the dataloader and the checkpoint.

    Scale shape: rank AND inclusive prefix sum come from ONE
    range-partition global-rank pass (with_global_rank(sum_col=...) —
    never an unpartitioned window); seq_id is pure arithmetic; the
    readout is a lang-cardinality aggregate over the surviving rows.
    Every quantity is an exact integer in both engines."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("bigint").alias("tok"),
        F.md5(
            F.concat(F.lit("ep0:"), F.col("doc_id").cast("string"))
        ).alias("hk"),
    )
    r = with_global_rank(docs, ["hk", "doc_id"], sum_col="tok")
    s = r.select(
        "lang",
        "tok",
        F.col("_rk").alias("p"),
        F.col("_tot").alias("tot"),
        F.expr(f"(_cum - tok) div {_SEQ_BUDGET}").cast("bigint").alias(
            "seq_id"
        ),
    )
    step = F.expr(f"(tot div {_SEQ_BUDGET}) div 2")
    rem = s.filter(F.col("seq_id") >= step)
    return rem.groupBy("lang").agg(
        F.max(step).cast("bigint").alias("resume_step"),
        F.count("*").cast("bigint").alias("n_remaining"),
        F.coalesce(F.sum("tok"), F.lit(0))
        .cast("bigint")
        .alias("tokens_remaining"),
        F.min("p").cast("bigint").alias("first_pos"),
        F.min("seq_id").cast("bigint").alias("first_seq"),
    )


def _pack_leak_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio_sql

    share = hu_ratio_sql(
        "g.cross2", "g.tot2", 6)
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, len({DUCK_TOKENS}) AS tok FROM documents),
    packed AS (
      SELECT lang, tok,
             SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks),
    seq AS (
      SELECT lang, tok,
             CAST(floor((cum - tok) / {_SEQ_BUDGET}.0) AS BIGINT) AS seq_id
      FROM packed),
    per AS (
      SELECT lang, seq_id,
             CAST(SUM(tok) AS HUGEINT) AS t,
             CAST(SUM(CAST(tok AS HUGEINT) * tok) AS HUGEINT) AS st2
      FROM seq GROUP BY 1, 2),
    g AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_seqs,
             CAST(SUM((t * t - st2) // 2) AS HUGEINT) AS leak,
             CAST(SUM(t * t - st2) AS HUGEINT) AS cross2,
             CAST(SUM(t * (t - 1)) AS HUGEINT) AS tot2
      FROM per GROUP BY 1)
    SELECT g.lang, g.n_seqs, CAST(g.leak AS BIGINT) AS cross_doc_pairs,
           CASE WHEN g.tot2 = 0 THEN NULL ELSE {share} END
             AS cross_attention_share
    FROM g
    """


@query("pack_crossdoc_attention_leak", oracle=_pack_leak_oracle())
def pack_crossdoc_attention_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document attention leakage of the greedy packer: for each
    language's packed {_SEQ_BUDGET}-token sequences, how many causal
    (query, key) attention pairs CROSS a document boundary — the pairs
    a plain causal mask computes but a document-masked (block-diagonal)
    attention would zero.  The readout that decides whether packing
    needs doc-masking: a share near zero means documents rarely share
    a sequence and the cheap mask is fine.

    Composes pack_sequences_greedy's assignment verbatim (same
    prefix-sum binning, same boundary-overflow semantics).  Per
    sequence the strictly-cross-document ordered-pair count is
    (T^2 - sum t_i^2)/2 — an exact even-integer identity over the
    per-doc token counts — and the per-lang share divides by the
    causal total sum T(T-1)/2, cleared to ONE exact rational
    sum(T^2 - sum t^2) / sum(T(T-1)) via the half-up render (an
    all-empty-docs language renders NULL via lazy CASE).  Headroom:
    T <= budget + max doc length, so the sums are ~n_seqs * budget^2 —
    int128 past 1e28 tokens.  Scale shape: the packer's one
    lang-partitioned prefix-sum window, a (lang, seq) rollup, a
    lang-cardinality reduce."""
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.size(tokens("text")).alias("tok"))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = t.withColumn("cum", F.sum("tok").over(w)).withColumn(
        "seq_id",
        F.floor((F.col("cum") - F.col("tok")) / _SEQ_BUDGET).cast("bigint"),
    )
    per = seq.groupBy("lang", "seq_id").agg(
        F.sum("tok").cast("decimal(38,0)").alias("t"),
        F.sum(F.expr("cast(tok as decimal(38,0)) * tok")).alias("st2"),
    )
    g = per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_seqs"),
        F.sum(F.expr("(t * t - st2) div 2"))
        .cast("decimal(38,0)")
        .alias("leak"),
        F.sum(F.expr("t * t - st2")).cast("decimal(38,0)").alias("cross2"),
        F.sum(F.expr("t * (t - 1)")).cast("decimal(38,0)").alias("tot2"),
    )
    return g.select(
        "lang",
        "n_seqs",
        F.col("leak").cast("bigint").alias("cross_doc_pairs"),
        F.when(F.col("tot2") == 0, F.lit(None).cast("double"))
        .otherwise(hu_ratio("cross2", "tot2", 6))
        .alias("cross_attention_share"),
    )


_UNIMAX_E = 4  # epoch cap: no source repeats more than E times


def _unimax_oracle() -> str:
    return f"""
    WITH nt AS (
      SELECT source, CAST(SUM(len({DUCK_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    c AS (SELECT source, n_tokens,
                 CAST({_UNIMAX_E} * n_tokens AS BIGINT) AS cap
          FROM nt),
    r AS (SELECT source, n_tokens, cap,
                 row_number() OVER (ORDER BY cap, source) AS j,
                 CAST(SUM(cap) OVER (ORDER BY cap, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS p,
                 CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM c),
    f AS (SELECT *,
                 CASE WHEN CAST(cap AS HUGEINT) * (m - j)
                           <= {_BUDGET} - p
                      THEN 1 ELSE 0 END AS capped
          FROM r),
    kk AS (SELECT CAST(COALESCE(SUM(capped), 0) AS BIGINT) AS k,
                  CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN cap END), 0)
                       AS BIGINT) AS pk,
                  CAST(MAX(m) AS BIGINT) AS m
           FROM f),
    u AS (SELECT f.*, kk.k, kk.pk,
                 CASE WHEN kk.m = kk.k THEN 0
                      ELSE ({_BUDGET} - kk.pk) // (kk.m - kk.k) END AS base,
                 CASE WHEN kk.m = kk.k THEN 0
                      ELSE ({_BUDGET} - kk.pk) % (kk.m - kk.k) END AS rem
          FROM f CROSS JOIN kk),
    a AS (SELECT source, n_tokens, cap, capped,
                 CASE WHEN capped = 1 THEN cap
                      ELSE base + CASE WHEN j - k <= rem THEN 1 ELSE 0 END
                 END AS alloc_tokens
          FROM u)
    SELECT source, n_tokens, cap AS cap_tokens,
           capped = 1 AS capped,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CASE WHEN n_tokens = 0 THEN NULL ELSE
           CAST((2 * CAST(alloc_tokens AS HUGEINT) * 10000 + n_tokens)
                // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) END
             AS epochs_bp
    FROM a
    """


@query("mix_unimax_waterfill", oracle=_unimax_oracle())
def mix_unimax_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax-style waterfilling allocator: split the 1M-token
    budget as UNIFORMLY as possible across sources subject to an
    epoch CAP (no source repeats more than 4 times) — the
    cap-and-redistribute allocator that replaces temperature mixing
    when repetition damage dominates (mix_epoch_token_budget is the
    tau=2 temperature twin; this one solves
    alloc_i = min(cap_i, theta) with theta chosen so the total is
    exactly the budget).

    Determinism: the waterfill threshold never materializes as a float
    — sources sort ascending by (cap, source); row j is capped iff
    cap_j * (m - j) <= B - P_j (the cross-multiplied integer form of
    cap_j <= theta_j, monotone in j so the capped set is a prefix);
    the uncapped sources split the remainder by integer division with
    the first (remainder) of them — in the same deterministic order —
    taking one extra token (the largest-remainder discipline; all
    uncapped fractional parts are equal by construction, so the
    tie-break IS the rank).  The allocation sums to exactly B whenever
    the cap permits, and to sum(cap) when it doesn't (every source
    capped).  epochs_bp renders via the integer half-up recipe.  Scale
    shape: one token-count scan; everything after is source-cardinality
    (the ranked windows run on the m-row frame)."""
    docs = load_table(spark, sf_dir, "documents")
    nt = (
        docs.select("source", F.size(tokens("text")).alias("ntok"))
        .groupBy("source")
        .agg(F.sum("ntok").cast("bigint").alias("n_tokens"))
    )
    c = nt.select(
        "source",
        "n_tokens",
        (F.lit(_UNIMAX_E) * F.col("n_tokens")).cast("bigint").alias("cap"),
    )
    wr = Window.orderBy("cap", "source")
    r = c.select(
        "source",
        "n_tokens",
        "cap",
        F.row_number().over(wr).alias("j"),
        F.sum("cap")
        .over(wr.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("p"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    f = r.withColumn(
        "capped",
        F.when(
            F.expr(
                f"cast(cap as decimal(38,0)) * (m - j) <= {_BUDGET} - p"
            ),
            1,
        ).otherwise(0),
    )
    kk = f.agg(
        F.coalesce(F.sum("capped"), F.lit(0)).cast("bigint").alias("k"),
        F.coalesce(
            F.sum(F.when(F.col("capped") == 1, F.col("cap"))), F.lit(0)
        )
        .cast("bigint")
        .alias("pk"),
        F.max("m").cast("bigint").alias("m2"),
    )
    u = f.crossJoin(F.broadcast(kk)).select(
        "*",
        F.expr(
            f"CASE WHEN m2 = k THEN 0"
            f" ELSE ({_BUDGET} - pk) div (m2 - k) END"
        ).alias("base"),
        F.expr(
            f"CASE WHEN m2 = k THEN 0"
            f" ELSE ({_BUDGET} - pk) % (m2 - k) END"
        ).alias("rem"),
    )
    a = u.select(
        "source",
        "n_tokens",
        "cap",
        "capped",
        F.expr(
            "CASE WHEN capped = 1 THEN cap"
            " ELSE base + CASE WHEN j - k <= rem THEN 1 ELSE 0 END END"
        ).alias("alloc_tokens"),
    )
    return a.select(
        "source",
        "n_tokens",
        F.col("cap").alias("cap_tokens"),
        (F.col("capped") == 1).alias("capped"),
        F.col("alloc_tokens").cast("bigint").alias("alloc_tokens"),
        F.expr(
            "CASE WHEN n_tokens = 0 THEN NULL ELSE"
            " cast((2 * cast(alloc_tokens as decimal(38,0)) * 10000"
            " + n_tokens) div (2 * cast(n_tokens as decimal(38,0)))"
            " as bigint) END"
        ).alias("epochs_bp"),
    )
