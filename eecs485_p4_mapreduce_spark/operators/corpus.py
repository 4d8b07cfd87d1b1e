"""Corpus-preparation operators for LLM training-data pipelines
(SURVEY.md §2.C ⊕ text analysis / dedup family).

Four document-rewriting / chunking stages a 100 TB pretraining pipeline
runs between raw ingest and tokenization:

- ``chunk_sliding_windows``   fixed-size token chunking with overlap
  (the RAG / context-window packing shape).
- ``chunk_content_defined``   content-defined chunking: rolling-hash
  boundaries, so chunk edges survive insertions (rsync/CDC recipe
  applied to token streams).
- ``quality_gopher_rules``    Gopher-style document quality rules as
  integer-exact boolean columns, aggregated per source.
- ``dedup_span_rewrite``      Lee-et-al-style exact-substring dedup
  that actually REWRITES documents: tokens covered by a cross-document
  duplicated 8-token span are dropped from every non-canonical doc and
  the survivors are reassembled.

Everything is JVM built-ins (split/transform/filter/window) — no Python
in the hot path.  Shuffle keys are (doc_id) or 16-byte md5s, never
document bodies, so each plan is a scan + one bounded shuffle at any
scale.  Cross-engine determinism: md5 everywhere, integer-ratio
comparisons instead of float thresholds (functions/hashfn.py rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql
from eecs485_p4_mapreduce_spark.functions.modelstore import pin
from eecs485_p4_mapreduce_spark.functions.numeric import (
    hu_ratio,
    hu_ratio_signed,
    hu_ratio_signed_sql,
    hu_ratio_sql,
)
from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS, tokens
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, widen_scan

_CHUNK = 32  # sliding-window chunk size (tokens)
_STRIDE = 16  # chunk start step -> 16-token overlap
_CDC_DIV = 16  # CDC boundary divisor -> mean chunk ~16 tokens
_SPAN = 8  # duplicated-span width (tokens), matches dedup_ngram_spans


@query(
    "chunk_sliding_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    ex AS (SELECT doc_id, tk,
                  unnest(range(1, greatest(len(tk) - {_CHUNK - 1}, 1) + 1,
                               {_STRIDE})) AS s
           FROM t)
    SELECT doc_id,
           CAST(floor((s - 1) / {_STRIDE}) AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS start_pos,
           CAST(len(list_slice(tk, s, s + {_CHUNK - 1})) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(tk, s, s + {_CHUNK - 1}), ' ')) AS chunk_md5
    FROM ex
    """,
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks ({_CHUNK} tokens, stride
    {_STRIDE}) — the chunking stage of a RAG index build or a
    fixed-context packing pipeline.

    Pure scan-side generate: per document, explode the (tiny) list of
    chunk start offsets and slice the token array — zero shuffles, and
    each output row carries a hash, never the chunk body twice.  The
    final chunk is the natural short tail (slice past the end truncates
    identically in both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("tk"))
    ex = t.select(
        "doc_id",
        "tk",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("tk") - F.lit(_CHUNK - 1), F.lit(1)),
                F.lit(_STRIDE),
            )
        ).alias("s"),
    )
    chunk = F.expr(f"slice(tk, s, {_CHUNK})")
    return ex.select(
        "doc_id",
        F.floor((F.col("s") - 1) / _STRIDE).cast("bigint").alias("chunk_id"),
        F.col("s").cast("bigint").alias("start_pos"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@query(
    "chunk_content_defined",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    t AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
          FROM t0, unnest(range(1, len(tk) + 1)) AS u(i)),
    g AS (SELECT doc_id, pos, tok,
                 concat_ws(' ', lag(tok, 3) OVER w, lag(tok, 2) OVER w,
                           lag(tok, 1) OVER w, tok) AS gram
          FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    b AS (SELECT doc_id, pos, tok,
                 CASE WHEN ({hex_int_sql('duckdb', 'md5(gram)', 1)}) % {_CDC_DIV} = 0
                      THEN 1 ELSE 0 END AS bnd
          FROM g),
    c AS (SELECT doc_id, pos, tok,
                 COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cid
          FROM b)
    SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           md5(array_to_string(list(tok ORDER BY pos), ' ')) AS chunk_md5
    FROM c GROUP BY doc_id, cid
    """,
)
def chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over the token stream: a boundary closes
    a chunk wherever the rolling 4-token window hash ≡ 0 (mod
    {_CDC_DIV}), so expected chunk length is {_CDC_DIV} tokens and —
    unlike fixed-stride chunking — inserting a token only perturbs the
    chunks it touches.  This is the CDC trick dedup storage systems use,
    applied to corpus chunk-level dedup.

    Plan: posexplode + two windows over the SAME (doc_id, pos) ordering
    (one lag-gram, one running boundary count) + a per-doc group —
    Spark plans all three over a single doc_id shuffle.  The boundary
    token ends its chunk; chunk_id is the count of earlier boundaries."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    g = toks.withColumn(
        "gram",
        F.concat_ws(
            " ",
            F.lag("tok", 3).over(w),
            F.lag("tok", 2).over(w),
            F.lag("tok", 1).over(w),
            F.col("tok"),
        ),
    )
    b = g.withColumn(
        "bnd",
        (F.expr(hex_int_sql("spark", "md5(gram)", 1)) % _CDC_DIV == 0).cast("int"),
    )
    c = b.withColumn(
        "cid",
        F.coalesce(
            F.sum("bnd").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    return (
        c.groupBy("doc_id", "cid")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda x: x["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
        .select(
            "doc_id",
            F.col("cid").cast("bigint").alias("chunk_id"),
            "n_tokens",
            "chunk_md5",
        )
    )


# Gopher-style rule expressions, generated per dialect so the Spark plan
# and the DuckDB oracle are the same logic by construction.
_GOPHER_STOPS = ("the", "a", "and", "of", "to", "is", "in")


def _gopher_exprs(dialect: str) -> dict[str, str]:
    if dialect == "spark":
        size, flt, arr, has, agg = (
            "size",
            "filter",
            "array",
            "array_contains",
            "aggregate(tk, cast(0 as bigint), (a, t) -> a + length(t))",
        )
        rx = "t rlike '^[a-z]+$'"
    else:
        size, flt, arr, has, agg = (
            "len",
            "list_filter",
            "list_value",
            "list_contains",
            "CAST(list_sum(list_transform(tk, t -> length(t))) AS BIGINT)",
        )
        rx = "regexp_matches(t, '^[a-z]+$')"
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    return {
        "nw": f"{size}(tk)",
        "sumlen": agg,
        "stophits": f"{size}({flt}(tk, t -> {has}({arr}({stops}), t)))",
        "alphatoks": f"{size}({flt}(tk, t -> {rx}))",
    }


def _gopher_rules() -> dict[str, str]:
    """Rules as integer-exact predicates over the feature columns —
    ratio thresholds are cross-multiplied so no float compare exists."""
    return {
        "r_nwords": "nw BETWEEN 30 AND 500",
        "r_meanlen": "sumlen >= 2 * nw AND sumlen <= 12 * nw",
        "r_stop": "stophits >= 2",
        "r_alpha": "5 * alphatoks >= 4 * nw",
    }


@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS tk FROM documents),
    feat AS (SELECT doc_id, source,
                    {', '.join(f'{e} AS {k}' for k, e in _gopher_exprs('duckdb').items())}
             FROM t),
    flags AS (SELECT source,
                     {', '.join(f'CASE WHEN {p} THEN 1 ELSE 0 END AS {k}' for k, p in _gopher_rules().items())}
              FROM feat)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {', '.join(f'CAST(SUM({k}) AS BIGINT) AS n_{k}' for k in _gopher_rules())},
           CAST(SUM(r_nwords * r_meanlen * r_stop * r_alpha) AS BIGINT) AS n_pass_all
    FROM flags GROUP BY source
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate: word-count bounds, mean word
    length bounds, required stopword hits, alphabetic-token ratio — the
    standard pretraining heuristic filter bank — evaluated scan-side and
    rolled up to per-source pass rates.

    All four rules are single-pass array expressions over the token
    list; the only shuffle is the 20-group source aggregate.  Ratio
    rules compare cross-multiplied integers, so both engines decide
    every boundary case identically (no float thresholds)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", tokens("text").alias("tk"))
    feat = t.select(
        "doc_id",
        "source",
        *[F.expr(e).alias(k) for k, e in _gopher_exprs("spark").items()],
    )
    flags = feat.select(
        "source",
        *[
            F.when(F.expr(p), 1).otherwise(0).alias(k)
            for k, p in _gopher_rules().items()
        ],
    )
    return flags.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        *[F.sum(k).cast("bigint").alias(f"n_{k}") for k in _gopher_rules()],
        F.sum(
            F.col("r_nwords") * F.col("r_meanlen") * F.col("r_stop") * F.col("r_alpha")
        )
        .cast("bigint")
        .alias("n_pass_all"),
    )


@query(
    "dedup_span_rewrite",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    t AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
          FROM t0, unnest(range(1, len(tk) + 1)) AS u(i)),
    sp AS (SELECT doc_id, i - 1 AS pos,
                  md5(array_to_string(list_slice(tk, i, i + {_SPAN - 1}), ' ')) AS h
           FROM t0, unnest(range(1, len(tk) - {_SPAN - 2})) AS u(i)),
    dup AS (SELECT h, MIN(doc_id) AS keeper FROM sp
            GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    drops AS (SELECT DISTINCT sp.doc_id, sp.pos + u.k AS dpos
              FROM sp JOIN dup ON sp.h = dup.h AND sp.doc_id <> dup.keeper
              CROSS JOIN unnest(range(0, {_SPAN})) AS u(k)),
    kept AS (SELECT t.doc_id, t.pos, t.tok
             FROM t LEFT JOIN drops
               ON t.doc_id = drops.doc_id AND t.pos = drops.dpos
             WHERE drops.doc_id IS NULL),
    ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
                  md5(array_to_string(list(tok ORDER BY pos), ' ')) AS new_md5
           FROM kept GROUP BY doc_id)
    SELECT t0.doc_id, CAST(len(tk) AS BIGINT) AS n_before,
           CAST(COALESCE(ka.n_after, 0) AS BIGINT) AS n_after,
           CAST(len(tk) - COALESCE(ka.n_after, 0) AS BIGINT) AS n_dropped,
           COALESCE(ka.new_md5, md5('')) AS new_md5
    FROM t0 LEFT JOIN ka ON t0.doc_id = ka.doc_id
    """,
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with document REWRITE (the step after
    ``dedup_ngram_spans``'s audit): any {_SPAN}-token span appearing
    verbatim in ≥2 documents keeps only the copy in the lowest doc_id;
    every other document drops the tokens that span covers, and the
    survivors are reassembled in order.  This is the Lee et al.
    'deduplicate exact substrings then splice' recipe with the span
    posting list standing in for the suffix array.

    Shuffle inventory: span hashes group on md5 (16 bytes/row), drop
    positions are (doc_id, int) pairs, and reassembly groups by doc_id
    — the document body crosses the wire once, as tokens of bounded
    per-doc size.  Output carries md5(new_text), so result width stays
    constant regardless of doc length."""
    docs = load_table(spark, sf_dir, "documents")
    # span hashes come straight off the token ARRAY (slice from the
    # attribute after a constant-sequence explode — the CLAUDE.md
    # generate rule), not off a lead-chain window: the window spelling
    # paid a full exchange + sort of the exploded token stream just to
    # see the next SPAN-1 tokens that already sit in the same array.
    # Conditional keyed repartition (widen_scan) keeps the
    # md5-per-position work off the compact scan's single core.
    t0 = widen_scan(docs.select("doc_id", tokens("text").alias("tk")), "doc_id")
    toks = t0.select("doc_id", F.posexplode("tk").alias("pos", "tok"))
    sp = (
        t0.filter(F.size("tk") >= _SPAN)
        .select(
            "doc_id",
            "tk",
            F.explode(F.sequence(F.lit(0), F.size("tk") - _SPAN)).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.expr(f"md5(array_join(slice(tk, pos + 1, {_SPAN}), ' '))").alias(
                "h"
            ),
        )
    )
    dup = (
        sp.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "keeper")
    )
    drops = (
        sp.join(dup, "h")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(_SPAN - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    kept = toks.join(drops, ["doc_id", "pos"], "left_anti")
    ka = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_after"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            )
        ).alias("new_md5"),
    )
    base = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_before")
    )
    return base.join(ka, "doc_id", "left").select(
        "doc_id",
        "n_before",
        F.coalesce(F.col("n_after"), F.lit(0)).cast("bigint").alias("n_after"),
        (F.col("n_before") - F.coalesce(F.col("n_after"), F.lit(0)))
        .cast("bigint")
        .alias("n_dropped"),
        F.coalesce(F.col("new_md5"), F.md5(F.lit(""))).alias("new_md5"),
    )


_ZTOP = 50  # regression window: top-N ranks per language

# ln() quantized to 4 places before the decimal-exact moment sums --
# same guard as the surprisal/entropy family (Spark's and DuckDB's log
# agree only to ~1 ulp, and the decimal sums must see identical inputs).
_ZX_SPARK = "cast(round(ln(cast(r as double)), 4) as decimal(18,4))"
_ZY_SPARK = "cast(round(ln(cast(c as double)), 4) as decimal(18,4))"


@query(
    "corpus_zipf_slope",
    oracle=f"""
    WITH tok AS (SELECT lang, unnest({DUCK_TOKENS}) AS w FROM documents),
    cnt AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY lang, w),
    rk AS (SELECT lang, c,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY c DESC, w ASC) AS r
           FROM cnt),
    xy AS (SELECT lang,
                  CAST(round(ln(CAST(r AS DOUBLE)), 4) AS DECIMAL(18,4)) AS x,
                  CAST(round(ln(CAST(c AS DOUBLE)), 4) AS DECIMAL(18,4)) AS y
           FROM rk WHERE r <= {_ZTOP}),
    m AS (SELECT lang, COUNT(*) AS np,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM xy GROUP BY lang)
    SELECT lang, CAST(np AS BIGINT) AS n_terms,
           {hu_ratio_signed_sql(
               "CAST(np AS HUGEINT) * CAST(sxy * 100000000 AS HUGEINT)"
               " - CAST(sx * 10000 AS HUGEINT) * CAST(sy * 10000 AS HUGEINT)",
               "CAST(np AS HUGEINT) * CAST(sxx * 100000000 AS HUGEINT)"
               " - CAST(sx * 10000 AS HUGEINT) * CAST(sx * 10000 AS HUGEINT)",
               4)} AS zipf_slope
    FROM m
    """,
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent per language: OLS slope of ln(frequency) on
    ln(rank) over each language's top-50 words -- the corpus-health
    audit that flags machine-generated or boilerplate-heavy sources
    (natural text sits near slope -1; templated text flattens it).

    Shape: tokenize -> per-(lang, word) partial-aggregated count -> the
    rank window lowers to WindowGroupLimit (per-partition top-50 before
    the lang-keyed shuffle, so the window never sees the full vocabulary
    at scale) -> four decimal-exact moment sums -> closed-form slope as
    one identical float expression on both engines.  The ln inputs are
    integer ranks/counts quantized to 4 places before summing, the same
    cross-engine guard as the surprisal family.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.explode(tokens("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("w").asc())
    xy = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _ZTOP)
        .select("lang", F.expr(_ZX_SPARK).alias("x"), F.expr(_ZY_SPARK).alias("y"))
    )
    m = xy.groupBy("lang").agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # the OLS slope is the exact rational
    # (np*sxy_i - sx_i*sy_i)/(np*sxx_i - sx_i^2) over the 10^8/10^4-
    # scaled quantized-log sums: signed half-up recipe, never
    # round(double, 4) of a decimal ratio
    return m.select(
        "lang",
        F.col("np").cast("bigint").alias("n_terms"),
        hu_ratio_signed(
            "cast(np as decimal(38,0)) * cast(sxy * 100000000 as decimal(38,0))"
            " - cast(sx * 10000 as decimal(38,0))"
            " * cast(sy * 10000 as decimal(38,0))",
            "cast(np as decimal(38,0)) * cast(sxx * 100000000 as decimal(38,0))"
            " - cast(sx * 10000 as decimal(38,0))"
            " * cast(sx * 10000 as decimal(38,0))",
            4,
        ).alias("zipf_slope"),
    )


@query(
    "token_length_histogram",
    oracle=f"""
    WITH n AS (SELECT source, len({DUCK_TOKENS}) AS nt FROM documents),
    b AS (SELECT source, nt,
                 CAST(length(bin(greatest(nt, 1))) - 1 AS BIGINT) AS bucket
          FROM n)
    SELECT source, bucket,
           CAST(pow(2, bucket) AS BIGINT) AS bucket_min_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens
    FROM b GROUP BY source, bucket
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution per source in power-of-two buckets
    -- the input to every packing decision: the bucket profile says how
    much padding a fixed context window wastes and whether greedy
    packing (``pack_sequences_greedy``) will find complements.

    Bucket = floor(log2(tokens)) spelled WITHOUT floats: the bit length
    of the count (``length(bin(n)) - 1``, identical builtins in both
    engines) -- no libm in the loop, so a 1-ulp ln() disagreement at an
    exact power of two can never move a bucket boundary.  One scan, one
    partial-aggregated (source, bucket) shuffle of output size.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select("source", F.size(tokens("text")).alias("nt"))
    b = n.withColumn(
        "bucket",
        F.expr("cast(length(bin(cast(greatest(nt, 1) as bigint))) - 1 as bigint)"),
    )
    return b.groupBy("source", "bucket").agg(
        F.expr("cast(pow(2, bucket) as bigint)").alias("bucket_min_tokens"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
    )


@query(
    "corpus_kl_divergence_by_source",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({DUCK_TOKENS}) AS w FROM documents),
    cs AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
    ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cs GROUP BY source),
    cc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM cs GROUP BY w),
    nc AS (SELECT CAST(SUM(cw) AS BIGINT) AS nt FROM cc),
    contrib AS (
      SELECT cs.source,
             CAST(cs.c AS DECIMAL(18,4))
               * CAST(round(ln((CAST(cs.c AS DOUBLE) * nc.nt)
                               / (CAST(ns.n AS DOUBLE) * cc.cw)), 4)
                      AS DECIMAL(18,4)) AS x
      FROM cs
      JOIN ns ON ns.source = cs.source
      JOIN cc ON cc.w = cs.w
      CROSS JOIN nc)
    SELECT c.source, ns.n AS n_tokens,
           {hu_ratio_signed_sql("SUM(c.x) * 10000",
                                "CAST(ns.n AS HUGEINT) * 10000", 6)} AS kl_nats
    FROM contrib c JOIN ns ON ns.source = c.source
    GROUP BY c.source, ns.n
    """,
)
def corpus_kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the unigram distribution from the
    corpus distribution -- the vocabulary-level domain-shift meter
    (high KL = the source speaks its own dialect; the number that
    decides whether a source needs its own mixing weight or tokenizer
    attention).  Complements the value-distribution KS drift audit and
    the vocabulary Venn with an information-theoretic summary.

    KL(s||corpus) = sum_w p_s(w) ln(p_s(w)/p_c(w)) over the source's
    own support (every ratio is of observed counts, so no smoothing
    term and no log of zero).  Cross-engine discipline: the log ratio
    quantizes to 4 places, multiplies the INTEGER count exactly in
    decimal, and the final mean renders via the SIGNED integer half-up
    recipe over the 10^4-scaled exact sum (quantization can push a
    near-zero KL fractionally negative, and round(double, 6) of a
    decimal-sum ratio is the cross-engine half-boundary class) -- the
    surprisal-family guard applied to a two-distribution statistic.
    Shape: two word-keyed aggregates (source-conditional and global)
    joined on the word key, everything else output-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("w"))
    cs = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    ns = cs.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    cc = cs.groupBy("w").agg(F.sum("c").cast("bigint").alias("cw"))
    nt = cc.agg(F.sum("cw").cast("bigint").alias("nt"))
    contrib = (
        cs.join(ns, "source")
        .join(cc, "w")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            (
                F.col("c").cast("decimal(18,4)")
                * F.round(
                    F.log(
                        (F.col("c").cast("double") * F.col("nt"))
                        / (F.col("n").cast("double") * F.col("cw"))
                    ),
                    4,
                ).cast("decimal(18,4)")
            ).alias("x"),
        )
    )
    return (
        contrib.groupBy("source")
        .agg(F.sum("x").alias("sx"))
        .join(ns, "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            hu_ratio_signed(
                "sx * 10000", "cast(n as decimal(38,0)) * 10000", 6
            ).alias("kl_nats"),
        )
    )


_BOILER_K = 20  # boilerplate list size (global top-k 5-grams by doc freq)


@query(
    "quality_boilerplate_ngrams",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    g AS (SELECT doc_id, source,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1)), i ->
                     concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ',
                            toks[i+3], ' ', toks[i+4])))) AS g5
          FROM tk WHERE len(toks) >= 5),
    df AS (SELECT g5, COUNT(*) AS nd FROM g GROUP BY g5),
    top AS (SELECT g5 FROM df ORDER BY nd DESC, g5 ASC LIMIT {_BOILER_K}),
    fl AS (SELECT DISTINCT g.doc_id, g.source
           FROM g JOIN top ON top.g5 = g.g5),
    per AS (SELECT source, COUNT(*) AS n_flagged FROM fl GROUP BY source)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(MAX(per.n_flagged), 0) AS BIGINT) AS n_flagged,
           CAST(CAST((2 * CAST(COALESCE(MAX(per.n_flagged), 0) AS HUGEINT)
                          * 1000000 + COUNT(*))
                     // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS flagged_ratio
    FROM documents d LEFT JOIN per ON per.source = d.source
    GROUP BY d.source
    """,
)
def quality_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: the global top-20
    5-grams by DOCUMENT frequency (headers, footers, nav text -- the
    strings that recur across pages, not within one) are mined in one
    pass, then every document containing at least one of them is
    flagged, aggregated per source.  This is the cross-document twin of
    ``quality_repeated_ngrams`` (within-doc repetition) and the rewrite
    trigger ``dedup_span_rewrite`` acts on.

    Scale shape: per-doc DISTINCT 5-grams shuffle once on the gram
    string (map-side combinable count = document frequency); the top-k
    cut is a TakeOrdered of the gram table with a (df DESC, gram ASC)
    deterministic tie-break; the 20-row boilerplate list
    broadcasts back onto the gram stream, so flagging costs no second
    corpus shuffle on text.  At 100 TB the only wide exchange carries
    short gram keys, never document bodies."""
    # the 5-gram stream is replayed by BOTH consumers (df mining and
    # the flagging join) — spread the compact scan so neither replay
    # regenerates every gram on one core
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = docs.select("doc_id", "source", tokens("text").alias("toks")).filter(
        F.size("toks") >= 5
    )
    g = tk.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks) - 4), i ->"
                    " concat(element_at(toks, i), ' ', element_at(toks, i + 1),"
                    " ' ', element_at(toks, i + 2), ' ', element_at(toks, i + 3),"
                    " ' ', element_at(toks, i + 4)))"
                )
            )
        ).alias("g5"),
    )
    df = g.groupBy("g5").agg(F.count("*").alias("nd"))
    top = df.orderBy(F.desc("nd"), F.asc("g5")).limit(_BOILER_K).select("g5")
    fl = (
        g.join(F.broadcast(top), "g5")
        .select("doc_id", "source")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("n_flagged"))
    )
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .join(fl, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("n_flagged", F.lit(0)).cast("bigint").alias("n_flagged"),
            # integer half-up recipe: count ratios can land on halves
            hu_ratio("coalesce(n_flagged, 0)", "n_docs", 6).alias(
                "flagged_ratio"
            ),
        )
    )


_URLF_VARIANTS_DUCK = """
SELECT doc_id, source,
       CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN concat('https://site', CAST(doc_id AS VARCHAR),
                            '.example.com/articles/post-', CAST(doc_id AS VARCHAR))
         WHEN 1 THEN concat('https://site', CAST(doc_id AS VARCHAR),
                            '.example.com/a/b/c/d/e/f/p-', CAST(doc_id AS VARCHAR))
         WHEN 2 THEN concat('https://site', CAST(doc_id AS VARCHAR),
                            '.example.com/p?a=1&b=2&c=3&d=4&sessionid=',
                            CAST(doc_id AS VARCHAR))
         ELSE concat('https://casino', CAST(doc_id AS VARCHAR),
                     '.example.com/win-', CAST(doc_id AS VARCHAR), '?ref=spin')
       END AS url
FROM documents
"""


def _urlf_variants_spark(d: DataFrame) -> DataFrame:
    cid = F.col("doc_id").cast("string")
    v0 = F.concat(
        F.lit("https://site"), cid, F.lit(".example.com/articles/post-"), cid
    )
    v1 = F.concat(
        F.lit("https://site"), cid, F.lit(".example.com/a/b/c/d/e/f/p-"), cid
    )
    v2 = F.concat(
        F.lit("https://site"), cid,
        F.lit(".example.com/p?a=1&b=2&c=3&d=4&sessionid="), cid,
    )
    v3 = F.concat(
        F.lit("https://casino"), cid, F.lit(".example.com/win-"), cid,
        F.lit("?ref=spin"),
    )
    m = F.col("doc_id") % 4
    return d.select(
        "doc_id",
        "source",
        F.when(m == 0, v0).when(m == 1, v1).when(m == 2, v2).otherwise(v3)
        .alias("url"),
    )


@query(
    "quality_url_filters",
    oracle=f"""
    WITH u AS ({_URLF_VARIANTS_DUCK}),
    p AS (SELECT source,
                 regexp_extract(url, '^https://([^/]+)', 1) AS host,
                 split_part(regexp_replace(url, '^https://[^/]+', ''),
                            '?', 1) AS path,
                 split_part(regexp_replace(url, '^https://[^/]+', ''),
                            '?', 2) AS qs
          FROM u),
    r AS (SELECT source,
            CASE WHEN length(path) - length(replace(path, '/', '')) > 5
                 THEN 1 ELSE 0 END AS f_depth,
            CASE WHEN qs <> '' AND
                      length(qs) - length(replace(qs, '&', '')) + 1 >= 4
                 THEN 1
                 WHEN contains(qs, 'sessionid=') THEN 1 ELSE 0 END AS f_params,
            CASE WHEN contains(host, 'casino') THEN 1 ELSE 0 END AS f_block
          FROM p)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(f_depth) AS BIGINT) AS n_fail_depth,
           CAST(SUM(f_params) AS BIGINT) AS n_fail_params,
           CAST(SUM(f_block) AS BIGINT) AS n_fail_blocklist,
           CAST(SUM(CASE WHEN f_depth + f_params + f_block = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM r GROUP BY source
    """,
)
def quality_url_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level quality filtering -- the RefinedWeb/CCNet-style crawl
    gate that runs BEFORE any content is fetched or parsed: reject
    fetches whose URL alone signals low value (excessive path depth,
    query-string spam / session ids, blocklisted host tokens).  URLs
    are synthesized deterministically from doc_id (four shapes, one
    exercising each rule) exactly as ``dedup_url_canonical`` does, so
    the oracle recomputes identical inputs.

    Every rule is codegen string arithmetic on the scan side --
    slash/ampersand counts via length-difference, host/query splits via
    split_part, blocklist via contains; the single shuffle is the
    per-source rollup (output-sized, map-side combinable).  At 100 TB
    of frontier URLs this is a scan-rate filter: no join, no explode,
    no Python, and the regexes live in the Java∩RE2 subset passed as
    API literals (the PII-family convention)."""
    docs = load_table(spark, sf_dir, "documents")
    u = _urlf_variants_spark(docs)
    rest = F.regexp_replace("url", "^https://[^/]+", "")
    p = u.select(
        "source",
        F.regexp_extract("url", "^https://([^/]+)", 1).alias("host"),
        F.split_part(rest, F.lit("?"), F.lit(1)).alias("path"),
        F.split_part(rest, F.lit("?"), F.lit(2)).alias("qs"),
    )
    depth = F.length("path") - F.length(F.expr("replace(path, '/', '')"))
    nparams = F.when(
        F.col("qs") == "", F.lit(0)
    ).otherwise(F.length("qs") - F.length(F.expr("replace(qs, '&', '')")) + 1)
    r = p.select(
        "source",
        F.when(depth > 5, 1).otherwise(0).alias("f_depth"),
        F.when(nparams >= 4, 1)
        .when(F.col("qs").contains("sessionid="), 1)
        .otherwise(0)
        .alias("f_params"),
        F.when(F.col("host").contains("casino"), 1).otherwise(0).alias("f_block"),
    )
    return r.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.sum("f_depth").cast("bigint").alias("n_fail_depth"),
        F.sum("f_params").cast("bigint").alias("n_fail_params"),
        F.sum("f_block").cast("bigint").alias("n_fail_blocklist"),
        F.sum(
            F.when(
                F.col("f_depth") + F.col("f_params") + F.col("f_block") == 0, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pass"),
    )


@query(
    "corpus_heaps_law",
    oracle=f"""
    WITH fd AS (
      SELECT w, MIN(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest({DUCK_TOKENS}) AS w FROM documents)
      GROUP BY w),
    mx AS (SELECT MAX(doc_id) AS maxid FROM documents),
    grid AS (SELECT CAST(i AS BIGINT) AS decile,
                    (mx.maxid * i) // 10 AS cut
             FROM range(1, 11) t(i), mx),
    dc AS (SELECT g.decile, COUNT(*) AS n_docs
           FROM grid g JOIN documents d ON d.doc_id <= g.cut
           GROUP BY g.decile),
    vc AS (SELECT g.decile, COUNT(*) AS vocab
           FROM grid g JOIN fd ON fd.first_doc <= g.cut
           GROUP BY g.decile),
    pts AS (SELECT dc.decile, dc.n_docs, vc.vocab,
                   CAST(round(ln(CAST(dc.n_docs AS DOUBLE)), 4)
                        AS DECIMAL(18,4)) AS x,
                   CAST(round(ln(CAST(vc.vocab AS DOUBLE)), 4)
                        AS DECIMAL(18,4)) AS y
            FROM dc JOIN vc ON vc.decile = dc.decile),
    m AS (SELECT COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM pts)
    SELECT pts.decile, CAST(pts.n_docs AS BIGINT) AS n_docs,
           CAST(pts.vocab AS BIGINT) AS vocab,
           {hu_ratio_signed_sql(
               "CAST(m.np AS HUGEINT) * CAST(m.sxy * 100000000 AS HUGEINT)"
               " - CAST(m.sx * 10000 AS HUGEINT)"
               " * CAST(m.sy * 10000 AS HUGEINT)",
               "CAST(m.np AS HUGEINT) * CAST(m.sxx * 100000000 AS HUGEINT)"
               " - CAST(m.sx * 10000 AS HUGEINT)"
               " * CAST(m.sx * 10000 AS HUGEINT)",
               4)} AS heaps_beta
    FROM pts, m
    """,
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-type count as the
    corpus grows through ten doc-id checkpoints, plus the fitted growth
    exponent β (OLS of ln V on ln N; natural text sits near β ≈ 0.5 —
    a flat curve means the incoming data stopped contributing new
    vocabulary, the diminishing-returns signal for continued crawling
    of a source).

    The scalable trick: cumulative distinct counts WITHOUT re-scanning
    per checkpoint — each type's FIRST-occurrence doc id is one
    map-side-combinable min() aggregate, and V(cut) is then just how
    many first-occurrences precede the cut (the inference_threshold_
    sweep pattern: a 10-row checkpoint grid broadcast against the
    bounded type table).  Determinism: checkpoints are integer ``div``
    of max(doc_id); doc/vocab counts are exact integers; the two ln
    inputs are quantized round(4) into decimals before the moment sums
    (the zipf-slope guard), and β is one identical float expression on
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    fd = (
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    mx = docs.agg(F.max("doc_id").alias("maxid"))
    grid = (
        spark.range(1, 11)
        .select(F.col("id").cast("bigint").alias("decile"))
        .crossJoin(F.broadcast(mx))
        .select(
            "decile", F.expr("(maxid * decile) div 10").alias("cut")
        )
    )
    dc = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(grid))
        .filter(F.col("doc_id") <= F.col("cut"))
        .groupBy("decile")
        .agg(F.count("*").alias("n_docs"))
    )
    vc = (
        fd.crossJoin(F.broadcast(grid))
        .filter(F.col("first_doc") <= F.col("cut"))
        .groupBy("decile")
        .agg(F.count("*").alias("vocab"))
    )
    pts = pin(
        dc.join(vc, "decile")
        .select(
            "decile",
            "n_docs",
            "vocab",
            F.expr(
                "cast(round(ln(cast(n_docs as double)), 4) as decimal(18,4))"
            ).alias("x"),
            F.expr(
                "cast(round(ln(cast(vocab as double)), 4) as decimal(18,4))"
            ).alias("y"),
        )
    )  # pts feeds both the readout and the moment agg
    m = pts.agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # same signed half-up OLS-slope recipe as corpus_zipf_slope
    return pts.crossJoin(F.broadcast(m)).select(
        "decile",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("vocab").cast("bigint").alias("vocab"),
        hu_ratio_signed(
            "cast(np as decimal(38,0)) * cast(sxy * 100000000 as decimal(38,0))"
            " - cast(sx * 10000 as decimal(38,0))"
            " * cast(sy * 10000 as decimal(38,0))",
            "cast(np as decimal(38,0)) * cast(sxx * 100000000 as decimal(38,0))"
            " - cast(sx * 10000 as decimal(38,0))"
            " * cast(sx * 10000 as decimal(38,0))",
            4,
        ).alias("heaps_beta"),
    )


_BURST_MIN_CF = 50   # ignore rare tokens: Fano of a 3-occurrence token is noise
_BURST_TOPK = 20


@query(
    "corpus_token_burstiness",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    m AS (SELECT term,
                 CAST(SUM(tf) AS BIGINT) AS cf,
                 CAST(SUM(tf * tf) AS BIGINT) AS sff
          FROM tf GROUP BY 1),
    f AS (SELECT m.term, m.cf,
                 {hu_ratio_sql(
                     "CAST(n.n_docs AS HUGEINT) * m.sff"
                     " - CAST(m.cf AS HUGEINT) * m.cf",
                     "CAST(n.n_docs AS HUGEINT) * m.cf", 6)} AS fano
          FROM m CROSS JOIN n
          WHERE m.cf >= {_BURST_MIN_CF})
    SELECT term, cf, fano
    FROM f ORDER BY fano DESC, term LIMIT {_BURST_TOPK}
    """,
)
def corpus_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_BURST_TOPK} burstiest tokens by Fano factor (variance-to-
    mean ratio of per-document counts, zeros included): Fano ~ 1 is
    Poisson background vocabulary; Fano >> 1 marks topical/templated
    tokens that arrive in clumps — the Church-Gale burstiness signal a
    curation pipeline uses to separate content words from boilerplate
    carriers before TF-IDF-style weighting trusts raw frequencies.

    Including the zero rows costs nothing: with integer per-doc counts,
    var/mean over all N docs collapses to the EXACT integer rational
    (N*sum(tf^2) - cf^2) / (N*cf) — only matched (doc, term) rows are
    ever materialized, and Cauchy-Schwarz makes the numerator
    nonnegative, so the unsigned half-up recipe renders it at 1e-6 and
    the top-k orders by the rendered value with the term tie-break.
    Scale shape: one tokenize scan into a vocabulary-sized two-level
    aggregate, broadcast 1-row N, TakeOrdered readout.  Headroom:
    N*sum(tf^2) at N ~ 1e12 docs and per-doc tf <= 1e4 stays ~1e28,
    and the render factor 2*num*10^6 ~ 1e35 < 1e38."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    m = tf.groupBy("term").agg(
        F.sum("tf").cast("bigint").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("sff"),
    )
    f = (
        m.filter(F.col("cf") >= _BURST_MIN_CF)
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "cf",
            hu_ratio(
                "cast(n_docs as decimal(38,0)) * sff"
                " - cast(cf as decimal(38,0)) * cf",
                "cast(n_docs as decimal(38,0)) * cf",
                6,
            ).alias("fano"),
        )
    )
    return f.orderBy(F.desc("fano"), "term").limit(_BURST_TOPK)


def _jsd_oracle() -> str:
    jsd = hu_ratio_signed_sql(
        "g.sp * 10000 * g.n2 + g.sq * 10000 * g.n1",
        "2 * CAST(g.n1 AS HUGEINT) * g.n2 * 10000", 6)
    return f"""
    WITH tok AS (SELECT source, unnest({DUCK_TOKENS}) AS w FROM documents),
    cs AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
    ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cs GROUP BY 1),
    pr AS (SELECT a.source AS sa, b.source AS sb,
                  a.n AS n1, b.n AS n2
           FROM ns a JOIN ns b ON a.source < b.source),
    sides AS (
      SELECT pr.sa, pr.sb, cs.w, cs.c AS c1, 0 AS c2
      FROM cs JOIN pr ON cs.source = pr.sa
      UNION ALL
      SELECT pr.sa, pr.sb, cs.w, 0 AS c1, cs.c AS c2
      FROM cs JOIN pr ON cs.source = pr.sb),
    tm AS (SELECT sa, sb, w, CAST(SUM(c1) AS BIGINT) AS c1,
                  CAST(SUM(c2) AS BIGINT) AS c2
           FROM sides GROUP BY 1, 2, 3),
    contrib AS (
      SELECT tm.sa, tm.sb,
             CASE WHEN tm.c1 > 0 THEN
               CAST(tm.c1 AS DECIMAL(18,4))
                 * CAST(round(log2((2.0 * tm.c1 * pr.n2)
                          / (CAST(tm.c1 AS DOUBLE) * pr.n2
                             + CAST(tm.c2 AS DOUBLE) * pr.n1)), 4)
                        AS DECIMAL(18,4))
             ELSE CAST(0 AS DECIMAL(18,4)) END AS xp,
             CASE WHEN tm.c2 > 0 THEN
               CAST(tm.c2 AS DECIMAL(18,4))
                 * CAST(round(log2((2.0 * tm.c2 * pr.n1)
                          / (CAST(tm.c1 AS DOUBLE) * pr.n2
                             + CAST(tm.c2 AS DOUBLE) * pr.n1)), 4)
                        AS DECIMAL(18,4))
             ELSE CAST(0 AS DECIMAL(18,4)) END AS xq
      FROM tm JOIN pr USING (sa, sb)),
    g AS (SELECT c.sa, c.sb, pr.n1, pr.n2,
                 SUM(c.xp) AS sp, SUM(c.xq) AS sq
          FROM contrib c JOIN pr USING (sa, sb)
          GROUP BY 1, 2, 3, 4)
    SELECT g.sa AS source_a, g.sb AS source_b,
           g.n1 AS n_tokens_a, g.n2 AS n_tokens_b,
           {jsd} AS jsd_bits
    FROM g
    """


@query("corpus_js_divergence_sources", oracle=_jsd_oracle())
def corpus_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between every pair of
    sources' unigram distributions — the SYMMETRIC, bounded-[0,1]
    domain-distance matrix that corpus_kl_divergence_by_source (each
    source vs the pooled corpus) can't give: KL is asymmetric and
    unbounded, so 'how far apart are web and wiki' needs JSD.

    JSD(P,Q) = (KL(P||M) + KL(Q||M))/2 with M the even mixture; per
    term the log ratio collapses to log2(2*c1*n2/(c1*n2 + c2*n1)) —
    counts only, so a term absent from one side contributes exactly
    log2(2) = 1 from the other and nothing from its own (no smoothing,
    no log of zero; zero-count sides short-circuit through a lazy
    CASE).  Cross-engine discipline is the KL recipe verbatim: the
    log2 quantizes round(4), multiplies the INTEGER count exactly in
    decimal, and the pair readout clears the two different token
    denominators by cross-multiplication into ONE signed half-up
    render (sp*n2 + sq*n1)/(2*n1*n2).  Scale shape: per-source vocab
    counts fan out once per pair via two equi-joins on the small pair
    list and re-aggregate on (pair, term) — k(k-1)/2 pairs of
    vocab-sized streams, map-side combinable, no full-outer join and
    no all-pairs row blowup beyond the declared pair fan-out."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("w"))
    cs = tok.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    ns = cs.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = ns.select(F.col("source").alias("sa"), F.col("n").alias("n1"))
    b = ns.select(F.col("source").alias("sb"), F.col("n").alias("n2"))
    pr = a.join(b, F.col("sa") < F.col("sb"))
    left = cs.join(
        F.broadcast(pr), cs.source == F.col("sa")
    ).select("sa", "sb", "w", F.col("c").alias("c1"), F.lit(0).alias("c2"))
    right = cs.join(
        F.broadcast(pr), cs.source == F.col("sb")
    ).select("sa", "sb", "w", F.lit(0).alias("c1"), F.col("c").alias("c2"))
    tm = (
        left.unionByName(right)
        .groupBy("sa", "sb", "w")
        .agg(
            F.sum("c1").cast("bigint").alias("c1"),
            F.sum("c2").cast("bigint").alias("c2"),
        )
    )
    den = (
        "(cast(c1 as double) * n2 + cast(c2 as double) * n1)"
    )
    contrib = tm.join(F.broadcast(pr), ["sa", "sb"]).select(
        "sa",
        "sb",
        F.expr(
            "CASE WHEN c1 > 0 THEN cast(c1 as decimal(18,4))"
            f" * cast(round(log2((2.0 * c1 * n2) / {den}), 4)"
            "   as decimal(18,4))"
            " ELSE cast(0 as decimal(18,4)) END"
        ).alias("xp"),
        F.expr(
            "CASE WHEN c2 > 0 THEN cast(c2 as decimal(18,4))"
            f" * cast(round(log2((2.0 * c2 * n1) / {den}), 4)"
            "   as decimal(18,4))"
            " ELSE cast(0 as decimal(18,4)) END"
        ).alias("xq"),
    )
    g = (
        contrib.groupBy("sa", "sb")
        .agg(F.sum("xp").alias("sp"), F.sum("xq").alias("sq"))
        .join(F.broadcast(pr), ["sa", "sb"])
    )
    return g.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("n1").alias("n_tokens_a"),
        F.col("n2").alias("n_tokens_b"),
        hu_ratio_signed(
            "sp * 10000 * n2 + sq * 10000 * n1",
            "2 * cast(n1 as decimal(38,0)) * n2 * 10000",
            6,
        ).alias("jsd_bits"),
    )
