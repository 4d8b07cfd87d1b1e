"""Flagship end-to-end corpus-curation pipeline (SURVEY.md §2.C ⊕):
every stage a 100 TB pretraining-data job runs, composed in ONE
registered query with ONE unrolled DuckDB oracle proving the whole
funnel bit-for-bit:

  raw -> language+length gate -> exact dedup (normalized-fingerprint
  keeper) -> near dedup (MinHash-LSH greedy keeper) -> temperature mix
  (md5-bucket acceptance toward target language shares)

The output is the funnel readout (per-stage surviving docs + tokens)
that every curation run reports.  Each stage reuses the exact spelling
its standalone operator already proved (pipeline_training_data's
fingerprint, dedup.py's banded MinHash chain, mixing.py's integer
acceptance thresholds), so the composite shows the stages COMPOSE --
the point of an engine, not just a query zoo.

Scale shape: stages 0-2 are scan-side expressions plus one fp-keyed
window; stage 3 is the banded-signature equi-join (16-byte keys only);
stage 4 is a 5-row broadcast of acceptance thresholds.  The survivor
id set is pinned after the MinHash stage so the funnel's
later branches never recompute signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS, tokens
from eecs485_p4_mapreduce_spark.functions.modelstore import pin
from eecs485_p4_mapreduce_spark.functions.minhashfn import (
    MINHASH_BANDED_DUCK as _MINHASH_BANDED_DUCK,
)
from eecs485_p4_mapreduce_spark.operators.mixing import (
    _BUCKETS,
    _HEX3,
    _IL_CASE,
    _IL_K,
    _MIX_CASE,
    _SEQ_BUDGET,
)
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, widen_scan

_LANGS = ("en", "de", "es", "fr", "zh")
_MIN_WORDS = 20

# The shared MinHash CTE chain is written against the `documents` view;
# here the signatures must be computed over the exact-dedup SURVIVORS
# (pipeline order matters: near-dedup after exact-dedup), so retarget
# the one scan it contains.
_mh = _MINHASH_BANDED_DUCK.strip()
assert _mh.startswith("WITH ") and _mh.count("FROM documents") == 1
_MH_OVER_EX = _mh[len("WITH "):].replace("FROM documents", "FROM exd")

_LANG_LIST = ", ".join(f"'{l}'" for l in _LANGS)


def _funnel_row(stage: str, rel: str) -> str:
    return (
        f"SELECT '{stage}' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,"
        f" CAST(SUM(n_words) AS BIGINT) AS total_tokens FROM {rel}"
    )


@query(
    "pipeline_curation_end_to_end",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, lang, text, len({DUCK_TOKENS}) AS n_words,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents),
    filt AS MATERIALIZED (
      SELECT * FROM base
      WHERE lang IN ({_LANG_LIST}) AND n_words >= {_MIN_WORDS}),
    exd AS MATERIALIZED (
      SELECT * FROM filt
      WHERE doc_id = (SELECT MIN(doc_id) FROM filt f2 WHERE f2.fp = filt.fp)),
    {_MH_OVER_EX},
    victims AS (
      SELECT DISTINCT y.doc_id AS doc_id
      FROM banded x JOIN banded y
        ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
    nd AS MATERIALIZED (
      SELECT * FROM exd WHERE doc_id NOT IN (SELECT doc_id FROM victims)),
    counts AS (SELECT lang, COUNT(*) AS n_lang FROM nd GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n_total FROM nd),
    rates AS (
      SELECT lang,
             CAST(floor(least(1.0,
               (CASE lang {_MIX_CASE} ELSE 0.0 END) * tot.n_total / n_lang)
               * {_BUCKETS}) AS BIGINT) AS thresh
      FROM counts, tot),
    mixed AS (
      SELECT nd.* FROM nd JOIN rates r ON r.lang = nd.lang
      WHERE {_HEX3['duckdb']} < r.thresh)
    {_funnel_row('s0_raw', 'base')}
    UNION ALL {_funnel_row('s1_lang_length', 'filt')}
    UNION ALL {_funnel_row('s2_exact_dedup', 'exd')}
    UNION ALL {_funnel_row('s3_near_dedup', 'nd')}
    UNION ALL {_funnel_row('s4_mixed', 'mixed')}
    """,
)
def pipeline_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curation funnel in one plan: language + min-length gates,
    exact dedup (min-doc_id keeper per normalized md5 fingerprint),
    MinHash-LSH near dedup (greedy: a doc is dropped when any band
    partner has a smaller id -- deterministic, no component search),
    then temperature mixing by integer md5-bucket acceptance.  Emits
    the per-stage (docs, tokens) funnel a curation run reports.

    Every stage reuses the spelling its standalone operator proved;
    the oracle is the same chain unrolled as CTEs, so the check proves
    the COMPOSITION, end to end, including the order-sensitivity
    (signatures over exact-dedup survivors, mix shares over near-dedup
    survivors).

    The near-dedup stage reads the session's stored signature table
    (``dedup.minhash_signatures``) restricted to the exact-dedup
    survivors by a doc_id semi-join — valid because a MinHash signature
    depends only on its own document's text, so the survivor subset's
    signatures ARE the full table's rows for those ids.  This is the
    production shape: curation probes a maintained signature table, it
    does not re-shingle the corpus per run.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(tokens("text")).alias("n_words"),
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("fp"),
    )
    filt = base.filter(
        F.col("lang").isin(*_LANGS) & (F.col("n_words") >= _MIN_WORDS)
    )
    ex = (
        filt.withColumn("keeper", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    from eecs485_p4_mapreduce_spark.functions.minhashfn import banded_from_sig
    from eecs485_p4_mapreduce_spark.operators.dedup import minhash_signatures

    sig_full, _ = minhash_signatures(spark, sf_dir)
    banded = banded_from_sig(
        sig_full.join(ex.select("doc_id"), "doc_id", "left_semi")
    )
    victims = (
        banded.select(F.col("doc_id").alias("a"), "b", "band_hash")
        .join(banded.select(F.col("doc_id").alias("doc_id"), "b", "band_hash"),
              ["b", "band_hash"])
        .filter(F.col("a") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
    )
    nd = pin(ex.join(victims, "doc_id", "left_anti"))
    counts = nd.groupBy("lang").agg(F.count("*").alias("n_lang"))
    tot = nd.agg(F.count("*").alias("n_total"))
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "thresh",
            F.expr(
                f"cast(floor(least(1.0, (CASE lang {_MIX_CASE} ELSE 0.0 END)"
                f" * n_total / n_lang) * {_BUCKETS}) as bigint)"
            ),
        )
        .select("lang", "thresh")
    )
    mixed = nd.join(F.broadcast(rates), "lang").filter(
        F.expr(_HEX3["spark"]) < F.col("thresh")
    )

    def funnel(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_tokens"),
        )

    return (
        funnel(base, "s0_raw")
        .unionByName(funnel(filt, "s1_lang_length"))
        .unionByName(funnel(ex, "s2_exact_dedup"))
        .unionByName(funnel(nd, "s3_near_dedup"))
        .unionByName(funnel(mixed, "s4_mixed"))
    )


# --- RAG index-build flagship -------------------------------------------
_RAG_CHUNK = 32   # tokens per chunk
_RAG_STRIDE = 16  # chunk stride
_RAG_DIMS = 16    # hashed-embedding dimensionality
_RAG_PLANES = 4   # LSH hyperplanes -> 16 buckets


def _rag_hex(dialect: str, src: str) -> str:
    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql

    return hex_int_sql(dialect, src, 1)


_TOK_H_SPARK = _rag_hex("spark", "md5(w)")
_TOK_H_DUCK = _rag_hex("duckdb", "md5(w)")
_HP_H_SPARK = _rag_hex("spark", "md5(concat('rag-hp-', p, '-', dim))")
_HP_H_DUCK = _rag_hex("duckdb", "md5(concat('rag-hp-', p, '-', dim))")


@query(
    "pipeline_rag_index_build",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    ch AS (SELECT doc_id, tk,
                  unnest(range(1, greatest(len(tk) - {_RAG_CHUNK - 1}, 1) + 1,
                               {_RAG_STRIDE})) AS s
           FROM t),
    cw AS (SELECT doc_id, s, unnest(list_slice(tk, s, s + {_RAG_CHUNK - 1}))
                    AS w
           FROM ch),
    hv AS (SELECT doc_id, s, ({_TOK_H_DUCK}) % {_RAG_DIMS} AS dim,
                  CASE WHEN (({_TOK_H_DUCK}) // {_RAG_DIMS}) % 2 = 0
                       THEN 1 ELSE -1 END AS sgn
           FROM cw),
    vec AS (SELECT doc_id, s, dim, CAST(SUM(sgn) AS BIGINT) AS v
            FROM hv GROUP BY doc_id, s, dim),
    hp AS (SELECT p, dim,
                  CASE WHEN ({_HP_H_DUCK}) % 2 = 0 THEN 1 ELSE -1 END AS c
           FROM (SELECT unnest(range(0, {_RAG_PLANES})) AS p) pl
           CROSS JOIN (SELECT unnest(range(0, {_RAG_DIMS})) AS dim) dm),
    dots AS (SELECT vec.doc_id, vec.s, hp.p,
                    CAST(SUM(vec.v * hp.c) AS BIGINT) AS dot
             FROM vec JOIN hp ON hp.dim = vec.dim
             GROUP BY vec.doc_id, vec.s, hp.p),
    bucketed AS (
      SELECT doc_id, s,
             CAST(SUM(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY doc_id, s),
    l1 AS (SELECT doc_id, s, CAST(SUM(abs(v)) AS BIGINT) AS l1
           FROM vec GROUP BY doc_id, s)
    SELECT b.bucket,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(l1.l1) AS BIGINT) AS total_l1
    FROM bucketed b JOIN l1 ON l1.doc_id = b.doc_id AND l1.s = b.s
    GROUP BY b.bucket
    """,
)
def pipeline_rag_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG index build, end to end in one plan: sliding 32-token chunks
    (stride 16) -> signed 16-dim hashed bag-of-words chunk embedding
    (the hashing trick with md5-derived dimension and sign, so the
    "encoder" is deterministic and vocabulary-free) -> 4-hyperplane
    sign-LSH bucket assignment -> per-bucket occupancy readout (chunks,
    distinct docs, total L1 mass).  The readout is the index-health
    report: bucket skew here is query-time hot-spotting later.

    Stand-in-encoder discipline (multimodal family precedent): a real
    deployment swaps the hashed BoW for a model embedding; every other
    stage -- chunker, vector assembly, hyperplane bucketing, occupancy
    audit -- is the production shape, all integer arithmetic, so the
    oracle replays the full chain bit-for-bit.  Scale shape: everything
    up to the per-dim sums is scan-side explode + partial aggregation
    keyed on (doc_id, chunk, dim); the hyperplane grid is a 64-row
    broadcast; nothing document-sized ever shuffles.
    """
    # the chunk explode fans each token out ~2x and hashes it with two
    # md5 expressions before the first exchange — spread the compact
    # scan so that stage runs wide
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select("doc_id", tokens("text").alias("tk"))
    ch = t.select(
        "doc_id",
        "tk",
        F.explode(
            F.expr(
                f"sequence(1, greatest(size(tk) - {_RAG_CHUNK - 1}, 1),"
                f" {_RAG_STRIDE})"
            )
        ).alias("s"),
    )
    cw = ch.select(
        "doc_id",
        "s",
        F.explode(F.expr(f"slice(tk, s, {_RAG_CHUNK})")).alias("w"),
    )
    hv = cw.select(
        "doc_id",
        "s",
        F.expr(f"({_TOK_H_SPARK}) % {_RAG_DIMS}").alias("dim"),
        F.expr(
            f"CASE WHEN (({_TOK_H_SPARK}) div {_RAG_DIMS}) % 2 = 0"
            f" THEN 1 ELSE -1 END"
        ).alias("sgn"),
    )
    vec = hv.groupBy("doc_id", "s", "dim").agg(
        F.sum("sgn").cast("bigint").alias("v")
    )
    hp = (
        spark.range(_RAG_PLANES)
        .select(F.col("id").cast("int").alias("p"))
        .crossJoin(
            spark.range(_RAG_DIMS).select(F.col("id").cast("int").alias("dim"))
        )
        .select(
            "p",
            "dim",
            F.expr(
                f"CASE WHEN ({_HP_H_SPARK}) % 2 = 0 THEN 1 ELSE -1 END"
            ).alias("c"),
        )
    )
    dots = (
        vec.join(F.broadcast(hp), "dim")
        .groupBy("doc_id", "s", "p")
        .agg(F.sum(F.col("v") * F.col("c")).cast("bigint").alias("dot"))
    )
    bucketed = dots.groupBy("doc_id", "s").agg(
        F.sum(
            F.when(
                F.col("dot") >= 0, F.expr("cast(pow(2, p) as bigint)")
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("bucket")
    )
    l1 = vec.groupBy("doc_id", "s").agg(
        F.sum(F.abs("v")).cast("bigint").alias("l1")
    )
    return (
        bucketed.join(l1, ["doc_id", "s"])
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("l1").cast("bigint").alias("total_l1"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data loader: mix -> epoch shuffle -> interleave -> pack, composed
# ---------------------------------------------------------------------------

_PACK_EPOCH = 0  # the epoch this audit materializes (key = 'ep0:<doc_id>')


@query(
    "pipeline_epoch_pack_end_to_end",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n_total FROM documents),
    rates AS (
      SELECT lang,
             CAST(floor(least(1.0,
               (CASE lang {_MIX_CASE} ELSE 0.0 END) * tot.n_total / n_lang)
               * {_BUCKETS}) AS BIGINT) AS thresh
      FROM counts, tot),
    kept AS (
      SELECT d.doc_id, d.lang, len({DUCK_TOKENS}) AS tok
      FROM documents d JOIN rates r ON r.lang = d.lang
      WHERE {_HEX3['duckdb']} < r.thresh),
    ranked AS (
      SELECT lang, doc_id, tok,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(concat('ep{_PACK_EPOCH}:',
                                   CAST(doc_id AS VARCHAR))), doc_id) AS i
      FROM kept),
    vt AS (
      SELECT lang, doc_id, tok, i,
             i * (CASE lang {_IL_CASE} ELSE {_IL_K} END) AS t
      FROM ranked),
    pos AS (
      SELECT lang, tok, i,
             ROW_NUMBER() OVER (ORDER BY t, lang, i) AS p,
             SUM(tok) OVER (ORDER BY t, lang, i
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM vt),
    seq AS (
      SELECT lang, tok, i, p,
             CAST(floor((cum - tok) / {_SEQ_BUDGET}.0) AS BIGINT) AS seq_id
      FROM pos),
    g AS (
      SELECT CAST(SUM(tok) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs_global
      FROM seq)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS tokens,
           CAST(MIN(p) AS BIGINT) AS first_pos,
           CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
           CAST(SUM(CAST(p AS HUGEINT) * i) AS BIGINT) AS slot_checksum,
           CAST(SUM(CAST(seq_id AS HUGEINT) * tok) AS BIGINT)
             AS pack_checksum,
           g.total_tokens, g.n_seqs_global
    FROM seq CROSS JOIN g
    GROUP BY lang, g.total_tokens, g.n_seqs_global
    """,
)
def pipeline_epoch_pack_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data LOADER composed as one job (round-9 VERDICT
    item 4): weighted mix sampling -> epoch-{_PACK_EPOCH} deterministic
    shuffle -> integer weighted interleave -> greedy sequence packing —
    the four stages mixing.py proves separately, chained so the audit
    pins their COMPOSITION: stage ordering (shuffle key feeds the
    interleave's within-source order; the interleave's merged order is
    the packer's stream) and token conservation (every row carries
    total_tokens = the packed sum, which a pytest cross-checks against
    the kept-set sum).

    Per source: docs kept, tokens contributed, first merged slot, the
    number of distinct training sequences its docs START in, an
    order-sensitive slot checksum (sum p*i over its docs), and a
    pack checksum (sum seq_id*tok — moves if ANY upstream stage
    reorders or resizes anything).  Global columns (broadcast 1-row):
    total tokens and total sequences.

    Scale shape: the mix gate is a 5-row broadcast + scan filter; both
    ranks are the range-partition + partition-offset global rank
    (within-source grouped, then the merged order with sum_col='tok'
    for the EXACT global prefix sum — no unpartitioned window or
    running-sum anywhere); packing is arithmetic on (_rk, _cum);
    readout is a 5-group aggregate.  Determinism: md5 order keys with
    id tie-breaks, integer virtual-time strides, integer division —
    identical stream on every engine, run, and retry."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

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
        .select("lang", "thresh")
    )
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .filter(F.expr(_HEX3["spark"]) < F.col("thresh"))
        .select("doc_id", "lang", F.size(tokens("text")).alias("tok"))
    )
    keyed = kept.withColumn(
        "k",
        F.md5(
            F.concat(
                F.lit(f"ep{_PACK_EPOCH}:"), F.col("doc_id").cast("string")
            )
        ),
    )
    ranked = with_global_rank(
        keyed, ["k", "doc_id"], partition_cols=["lang"]
    ).select("lang", "doc_id", "tok", F.col("_rk").alias("i"))
    vt = ranked.withColumn(
        "t", F.expr(f"i * (CASE lang {_IL_CASE} ELSE {_IL_K} END)")
    )
    merged = with_global_rank(vt, ["t", "lang", "i"], sum_col="tok").select(
        "lang",
        "tok",
        "i",
        F.col("_rk").alias("p"),
        F.col("_cum").alias("cum"),
    )
    seq = merged.withColumn(
        "seq_id",
        F.floor((F.col("cum") - F.col("tok")) / _SEQ_BUDGET).cast("bigint"),
    )
    g = seq.agg(
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.countDistinct("seq_id").cast("bigint").alias("n_seqs_global"),
    )
    return (
        seq.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("tokens"),
            F.min("p").cast("bigint").alias("first_pos"),
            F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
            F.expr(
                "cast(sum(cast(p as decimal(38,0)) * i) as bigint)"
            ).alias("slot_checksum"),
            F.expr(
                "cast(sum(cast(seq_id as decimal(38,0)) * tok) as bigint)"
            ).alias("pack_checksum"),
        )
        .crossJoin(F.broadcast(g))
    )


# ---------------------------------------------------------------------------
# Contamination-guarded mix construction (round-10 VERDICT item 4):
# decontaminate -> DSIR-select -> temperature-mix, composed as ONE job
# with one unrolled oracle.  Each stage reuses the exact spelling its
# standalone operator proved (contamination_benchmark_ngrams' broadcast
# bench-gram probe, mix_dsir_importance_select's hashed-bucket llr
# model, mix_temperature_sampling's integer hash acceptance).
# ---------------------------------------------------------------------------


def _decontam_mix_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.ngramshared import (
        _BENCH_IDS,
        _GRAMS_DUCK,
        _NGRAM,
    )
    from eecs485_p4_mapreduce_spark.operators.mixing import (
        _DSIR_B,
        _DSIR_WHEX,
        _HEX3,
        _TEMP_CASE,
    )

    return f"""
    WITH {_GRAMS_DUCK},
    bench AS (
      SELECT doc_id AS bench_id, list_slice({DUCK_TOKENS}, 5, 20) AS tk
      FROM documents WHERE doc_id IN {_BENCH_IDS}),
    bg AS (
      SELECT DISTINCT
             md5(array_to_string(list_slice(tk, i, i + {_NGRAM - 1}), ' ')) AS h
      FROM bench, unnest(range(1, greatest(len(tk) - {_NGRAM - 2}, 1))) AS t(i)),
    victims AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (h)),
    clean AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.text FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM victims)),
    tok AS MATERIALIZED (
      SELECT doc_id, lang, {_DSIR_WHEX['duckdb']} AS b
      FROM (SELECT doc_id, lang, unnest({DUCK_TOKENS}) AS w FROM clean)),
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
      SELECT tok.doc_id, tok.lang, COUNT(*) AS n_tok, SUM(lr.llr) AS s
      FROM tok JOIN lr ON lr.b = tok.b
      GROUP BY tok.doc_id, tok.lang),
    sel AS MATERIALIZED (
      SELECT doc_id, lang, n_tok FROM per_doc WHERE s > 0),
    counts AS (SELECT lang, COUNT(*) AS n_sel FROM sel GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_tot FROM sel),
    rates AS (
      SELECT lang,
             CAST(floor(least(1.0,
               (CASE lang {_TEMP_CASE} ELSE 0.0 END) * tot.n_tot / n_sel)
               * {_BUCKETS}) AS BIGINT) AS thresh
      FROM counts, tot),
    kept AS (
      SELECT s.lang, s.n_tok
      FROM sel s JOIN rates r ON r.lang = s.lang
      WHERE {_HEX3['duckdb']} < r.thresh),
    raw AS (SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY 1),
    cl AS (SELECT lang, COUNT(*) AS n_clean FROM clean GROUP BY 1),
    sc AS (SELECT lang, COUNT(*) AS n_selected, SUM(n_tok) AS sel_tokens
           FROM sel GROUP BY 1),
    mc AS (SELECT lang, COUNT(*) AS n_mixed, SUM(n_tok) AS mix_tokens
           FROM kept GROUP BY 1)
    SELECT raw.lang, CAST(raw.n_raw AS BIGINT) AS n_raw,
           CAST(COALESCE(cl.n_clean, 0) AS BIGINT) AS n_clean,
           CAST(COALESCE(sc.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(sc.sel_tokens, 0) AS BIGINT) AS sel_tokens,
           CAST(COALESCE(r.thresh, 0) AS BIGINT) AS mix_thresh,
           CAST(COALESCE(mc.n_mixed, 0) AS BIGINT) AS n_mixed,
           CAST(COALESCE(mc.mix_tokens, 0) AS BIGINT) AS mix_tokens
    FROM raw
    LEFT JOIN cl USING (lang)
    LEFT JOIN sc USING (lang)
    LEFT JOIN rates r USING (lang)
    LEFT JOIN mc USING (lang)
    """


@query("pipeline_decontam_mix_select", oracle=_decontam_mix_oracle())
def pipeline_decontam_mix_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-guarded mix construction, composed end-to-end:

      decontaminate (drop any document sharing an 8-token window with
      the eval set) -> DSIR importance-select over the CLEAN pool
      (hashed-bucket llr model rebuilt on survivors — pipeline order
      matters: a leaked benchmark doc must not shape the selection
      model) -> temperature-mix the SELECTED set (integer md5-bucket
      acceptance toward rescaled language shares).

    The per-language readout is the funnel every curation run reports:
    raw -> clean -> selected (with token mass) -> mixed (with token
    mass and the acceptance threshold).  All outputs are exact
    integers; the one float step (ln of identically-computed doubles)
    is quantized round(4) before the exact decimal per-doc sums (the
    kl_nats recipe), and the selection compares the decimal to 0.

    Scale shape: bench grams BROADCAST (eval sets are benchmark-sized);
    the victim id set broadcasts into a scan-side anti-join, so corpus
    text never shuffles; the DSIR model is a {4096}-row broadcast
    scoring token occurrences scan-side into one doc-keyed aggregate;
    the mix thresholds are a 5-row broadcast.  The selected id set
    (ints only) is pinned — the funnel's three downstream
    readers never recompute the scoring join (the
    pipeline_curation_end_to_end survivor-set discipline).
    Monotonicity (mixed <= selected <= clean <= raw, per language) is
    pinned in tests/test_operators_unit.py."""
    from eecs485_p4_mapreduce_spark.operators.dedup import _token_windows
    from eecs485_p4_mapreduce_spark.operators.mixing import (
        _DSIR_B,
        _DSIR_WHEX,
        _HEX3,
        _TEMP_CASE,
    )
    from eecs485_p4_mapreduce_spark.operators.ngramshared import (
        _BENCH_IDS,
        _NGRAM,
    )

    # the DSIR token stream (explode + md5 per token over the clean
    # pool) is replayed by ct, cs and the scoring join; spreading the
    # scan here keeps every replay wide (clean inherits the
    # partitioning through the broadcast anti-join)
    docs = widen_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "lang", "text")
    bench = docs.filter(F.col("doc_id").isin(*_BENCH_IDS)).select(
        F.slice(tokens("text"), 5, 16).alias("tk")
    )
    bg = bench.select(
        F.explode(
            F.expr(
                f"transform(slice(sequence(0, size(tk)), 2,"
                f" greatest(size(tk) - {_NGRAM - 1}, 0)), i ->"
                f" md5(array_join(slice(tk, i, {_NGRAM}), ' ')))"
            )
        ).alias("h")
    ).distinct()
    victims = (
        _token_windows(spark, sf_dir)
        .join(F.broadcast(bg), "h")
        .select("doc_id")
        .distinct()
    )
    clean = docs.join(F.broadcast(victims), "doc_id", "left_anti")
    tok = clean.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("w")
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
    sel = pin(
        per_doc.filter(F.col("s") > 0)
        .select("doc_id", "lang", "n_tok")
    )
    counts = sel.groupBy("lang").agg(F.count("*").alias("n_sel"))
    tot = sel.agg(F.count("*").alias("n_tot"))
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.expr(
                f"cast(floor(least(1.0, (CASE lang {_TEMP_CASE} ELSE 0.0 END)"
                f" * n_tot / n_sel) * {_BUCKETS}) as bigint)"
            ).alias("thresh"),
        )
    )
    kept = sel.join(F.broadcast(rates), "lang").filter(
        F.expr(_HEX3["spark"]) < F.col("thresh")
    )
    raw = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_raw"))
    cl = clean.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_clean")
    )
    sc2 = sel.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_selected"),
        F.sum("n_tok").cast("bigint").alias("sel_tokens"),
    )
    mc = kept.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_mixed"),
        F.sum("n_tok").cast("bigint").alias("mix_tokens"),
    )
    return (
        raw.join(F.broadcast(cl), "lang", "left")
        .join(F.broadcast(sc2), "lang", "left")
        .join(F.broadcast(rates), "lang", "left")
        .join(F.broadcast(mc), "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_clean", F.lit(0)).cast("bigint").alias("n_clean"),
            F.coalesce("n_selected", F.lit(0))
            .cast("bigint")
            .alias("n_selected"),
            F.coalesce("sel_tokens", F.lit(0))
            .cast("bigint")
            .alias("sel_tokens"),
            F.coalesce("thresh", F.lit(0)).cast("bigint").alias("mix_thresh"),
            F.coalesce("n_mixed", F.lit(0)).cast("bigint").alias("n_mixed"),
            F.coalesce("mix_tokens", F.lit(0))
            .cast("bigint")
            .alias("mix_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Dataset card: the one-row datasheet a corpus release ships
# ---------------------------------------------------------------------------


def _dataset_card_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio_sql

    dup_bp = hu_ratio_sql("(g.n - g.nfp) * 10000", "g.n", 0)
    near_bp = hu_ratio_sql("nd.n_near * 10000", "g.n", 0)
    mean_tok = hu_ratio_sql("g.tt", "g.n", 2)
    return f"""
    WITH {_MINHASH_BANDED_DUCK.strip()[len("WITH "):]},
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
    nd AS (SELECT COUNT(DISTINCT d) AS n_near FROM (
             SELECT da AS d FROM cand UNION ALL SELECT db FROM cand)),
    base AS (
      SELECT lang, source, len({DUCK_TOKENS}) AS tok,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents),
    g AS (
      SELECT COUNT(*) AS n, CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS tt,
             COUNT(DISTINCT lang) AS nl, COUNT(DISTINCT source) AS ns,
             COUNT(DISTINCT fp) AS nfp
      FROM base)
    SELECT CAST(g.n AS BIGINT) AS n_docs, g.tt AS total_tokens,
           CAST(g.nl AS BIGINT) AS n_langs, CAST(g.ns AS BIGINT) AS n_sources,
           CAST(g.n - g.nfp AS BIGINT) AS n_exact_dup_docs,
           CASE WHEN g.n = 0 THEN NULL
                ELSE CAST({dup_bp} AS BIGINT) END AS exact_dup_bp,
           CAST(nd.n_near AS BIGINT) AS n_neardup_docs,
           CASE WHEN g.n = 0 THEN NULL
                ELSE CAST({near_bp} AS BIGINT) END AS neardup_bp,
           CASE WHEN g.n = 0 THEN NULL ELSE {mean_tok} END
             AS mean_doc_tokens
    FROM g CROSS JOIN nd
    """


@query("pipeline_dataset_card", oracle=_dataset_card_oracle())
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD — the quantitative half of the datasheet a
    corpus release ships (Gebru et al.'s datasheets, public practice):
    size (docs, tokens, mean tokens/doc), composition (languages,
    sources), and the two duplication health numbers every consumer
    asks for — exact-duplicate share (normalized-fingerprint collisions,
    in basis points) and near-duplicate candidate share (documents
    touched by any MinHash-LSH band collision, in basis points).

    Each ingredient reuses the exact machinery its standalone operator
    proved: the curation fingerprint, the persisted band-collision edge
    set (``lsh_candidate_edges`` — a warm application reads published
    parquet, so the card costs one corpus scan plus two broadcast
    1-row joins).  All counts are exact integers; the three ratios
    render by the half-up recipe with an empty-corpus lazy-CASE NULL.
    Scale shape: one scan into a 1-row moment/dedup rollup, the edge
    set reduced to a distinct-node count, three 1-row frames broadcast
    into the single-row readout."""
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio
    from eecs485_p4_mapreduce_spark.operators.dedup import (
        lsh_candidate_edges,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.size(tokens("text")).cast("bigint").alias("tok"),
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias(
            "fp"
        ),
    )
    g = base.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("tok"), F.lit(0)).cast("bigint").alias("tt"),
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
        F.countDistinct("fp").alias("nfp"),
    )
    e = lsh_candidate_edges(spark, sf_dir)
    nd = (
        e.select(F.col("da").alias("d"))
        .unionByName(e.select(F.col("db").alias("d")))
        .agg(F.countDistinct("d").alias("n_near"))
    )
    guard = F.col("n") == 0
    return g.crossJoin(F.broadcast(nd)).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("tt").alias("total_tokens"),
        F.col("nl").cast("bigint").alias("n_langs"),
        F.col("ns").cast("bigint").alias("n_sources"),
        (F.col("n") - F.col("nfp")).cast("bigint").alias("n_exact_dup_docs"),
        F.when(guard, F.lit(None))
        .otherwise(
            hu_ratio("(cast(n as decimal(38,0)) - nfp) * 10000", "n", 0)
            .cast("bigint")
        )
        .alias("exact_dup_bp"),
        F.col("n_near").cast("bigint").alias("n_neardup_docs"),
        F.when(guard, F.lit(None))
        .otherwise(
            hu_ratio("cast(n_near as decimal(38,0)) * 10000", "n", 0)
            .cast("bigint")
        )
        .alias("neardup_bp"),
        F.when(guard, F.lit(None)).otherwise(hu_ratio("tt", "n", 2)).alias(
            "mean_doc_tokens"
        ),
    )


@query(
    "pipeline_snapshot_diff",
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
             ((instr('0123456789abcdef',
                     substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef',
                       substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1))
               AS bkt
      FROM documents),
    c AS (
      SELECT lang,
             CASE WHEN bkt < 26 THEN 'removed'
                  WHEN bkt >= 230 THEN 'added'
                  ELSE 'common' END AS state,
             n_chars
      FROM b)
    SELECT lang,
           CAST(SUM(CASE WHEN state = 'added' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN state = 'removed' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN state = 'common' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_common,
           CAST(SUM(CASE WHEN state = 'added' THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_added,
           CAST(SUM(CASE WHEN state = 'removed' THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_removed,
           CAST(SUM(CASE WHEN state = 'added' THEN n_chars
                         WHEN state = 'removed' THEN -n_chars
                         ELSE 0 END) AS BIGINT) AS net_char_delta
    FROM c GROUP BY lang
    """,
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning audit a curation
    pipeline publishes between releases: per language, how many
    documents (and characters) were added, removed, and carried over
    from snapshot v1 to snapshot v2.  Snapshots are simulated with the
    deterministic md5 doc_id bucketing (v1 = buckets 0..229, v2 =
    26..255 — an ~80% overlap), so the diff itself is the artifact
    under test, not the snapshot storage.

    The crucial scale property: because membership is a pure function
    of the row, the three-way classification is ONE CASE over ONE scan
    — never an anti-join of two corpus-sized snapshots (the naive diff
    shape that shuffles both sides).  Real snapshot tables diff the
    same way whenever membership or version is derivable row-side
    (partition column, validity interval, tombstone flag); only
    content-hash drift detection needs the join.  All counters exact
    integers."""
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    docs = load_table(spark, sf_dir, "documents")
    bkt = F.expr(_bucket256_sql("doc_id"))
    state = (
        F.when(bkt < 26, "removed")
        .when(bkt >= 230, "added")
        .otherwise("common")
    )
    c = docs.select("lang", "n_chars", state.alias("state"))
    z = F.lit(0)
    return c.groupBy("lang").agg(
        F.sum(F.when(F.col("state") == "added", 1).otherwise(z))
        .cast("bigint")
        .alias("n_added"),
        F.sum(F.when(F.col("state") == "removed", 1).otherwise(z))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(F.when(F.col("state") == "common", 1).otherwise(z))
        .cast("bigint")
        .alias("n_common"),
        F.sum(F.when(F.col("state") == "added", F.col("n_chars")).otherwise(z))
        .cast("bigint")
        .alias("chars_added"),
        F.sum(
            F.when(F.col("state") == "removed", F.col("n_chars")).otherwise(z)
        )
        .cast("bigint")
        .alias("chars_removed"),
        F.sum(
            F.when(F.col("state") == "added", F.col("n_chars"))
            .when(F.col("state") == "removed", -F.col("n_chars"))
            .otherwise(z)
        )
        .cast("bigint")
        .alias("net_char_delta"),
    )
