"""Text analysis operators (SURVEY.md §2.C ⊕): language-ID, quality
scoring, token counting, document fingerprinting.

All hot-path expressions are JVM built-ins (split/filter/transform/
regexp) -- no Python UDFs -- so at 100 TB these are embarrassingly
parallel scan+project plans with a final small aggregate where needed.
Every query is oracle-checked; the Spark and DuckDB expressions are
generated from the same templates below to keep them bitwise-aligned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import load_or_train, pin
from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio, hu_ratio_sql
from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS, tokens
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, widen_scan

# n-gram/stopword profiles for the language-ID heuristic.  Tiny on purpose:
# at scale these ship as a broadcast literal, not a join.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "los", "de", "que", "una"],
    "fr": ["le", "la", "les", "des", "est", "une"],
    "zh": ["de", "le", "shi", "zai", "you"],
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]  # tie-break priority

# BPE-ish word/number/punctuation splitter (identical RE2/Java regex).
_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"



def _score_exprs(dialect: str) -> dict[str, str]:
    """Per-language stopword-hit counts; same SQL for both engines modulo
    list-function names."""
    size, flt, arr, has = (
        ("size", "filter", "array", "array_contains")
        if dialect == "spark"
        else ("len", "list_filter", "list_value", "list_contains")
    )
    out = {}
    for lang, words in STOPWORDS.items():
        lits = ", ".join(f"'{w}'" for w in words)
        out[lang] = f"{size}({flt}(toks, t -> {has}({arr}({lits}), t)))"
    return out


def _argmax_case(scores: dict[str, str]) -> str:
    """Deterministic argmax with _LANG_ORDER tie-break, as a CASE chain."""
    clauses = []
    for i, lang in enumerate(_LANG_ORDER):
        others = [f"({scores[lang]}) >= ({scores[o]})" for o in _LANG_ORDER[i + 1:]]
        cond = " AND ".join(others) if others else "TRUE"
        clauses.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " END"


@query(
    "lang_id",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents),
    scored AS (SELECT doc_id, lang, {_argmax_case(_score_exprs('duckdb'))} AS pred_lang,
                      ({_score_exprs('duckdb')['en']}) AS en_hits
               FROM tok)
    SELECT pred_lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_label_agree,
           CAST(SUM(en_hits) AS BIGINT) AS total_en_hits
    FROM scored GROUP BY pred_lang
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-profile hit counts + deterministic
    argmax.  Pure scan+project (broadcast-literal profiles), then a
    5-group aggregate -- no shuffle of document text at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    scores = _score_exprs("spark")
    tok = docs.withColumn("toks", tokens("text"))
    scored = tok.select(
        "doc_id",
        "lang",
        F.expr(_argmax_case(scores)).alias("pred_lang"),
        F.expr(scores["en"]).alias("en_hits"),
    )
    return scored.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_label_agree"),
        F.sum("en_hits").cast("bigint").alias("total_en_hits"),
    )


@query(
    "token_count",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len({DUCK_TOKENS})) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_TOKEN_RE}'))) AS BIGINT) AS re_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    lexer (words / numbers / single punctuation), aggregated per source."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("ws_tokens"),
        F.sum(F.size(F.regexp_extract_all(F.lower("text"), F.lit(_TOKEN_RE), F.lit(0))))
        .cast("bigint")
        .alias("re_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             len({DUCK_TOKENS}) AS n_words,
             length(text) AS n_chars_txt,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
             len(list_filter({DUCK_TOKENS},
                 t -> list_contains(['the','a','and','of','to','is','in'], t))) AS n_stop
      FROM documents)
    SELECT doc_id, lang, n_words,
           CAST(n_punct AS DOUBLE) / n_chars_txt AS punct_ratio,
           CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
           CAST(n_chars_txt AS DOUBLE) / n_words AS avg_word_span,
           (CAST(n_stop AS DOUBLE) / n_words) * 2.0
             + CASE WHEN n_words >= 20 THEN 1.0 ELSE 0.0 END
             - (CAST(n_punct AS DOUBLE) / n_chars_txt) * 5.0 AS quality
    FROM feat
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length / punctuation / stopword
    ratios) combined into a deterministic composite score."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    feat = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_words"),
        F.length("text").alias("n_chars_txt"),
        F.length(F.regexp_replace("text", "[^.,!?;:]", "")).alias("n_punct"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_en, t))).alias("n_stop"),
    )
    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars_txt")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_words")
    return feat.select(
        "doc_id",
        "lang",
        "n_words",
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        (F.col("n_chars_txt").cast("double") / F.col("n_words")).alias("avg_word_span"),
        (
            stop_ratio * F.lit(2.0)
            + F.when(F.col("n_words") >= 20, 1.0).otherwise(0.0)
            - punct_ratio * F.lit(5.0)
        ).alias("quality"),
    )


@query(
    "fingerprint",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents
    GROUP BY 1
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowered
    text; grouping by fingerprint is the exact-dedup scale path (the
    shuffle key is a 32-byte hash, never the document body)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    return docs.groupBy(fp.alias("fp")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


@query(
    "token_bigrams",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
      FROM documents),
    b AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bigram HAVING COUNT(*) >= 5
    ORDER BY n DESC, bigram LIMIT 50
    """,
)
def token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair counts (the inner loop of BPE-merge training)
    with a frequency floor and a deterministic top-50 cut.

    Formulation: posexplode the token array once, pair each token with
    ``lead(token)`` over (doc, position), then hash-aggregate.  A pure
    expression version (transform+element_at over an index sequence) is
    6-9x slower here: higher-order lambdas are interpreted, and Catalyst's
    projection collapse re-inlines the tokenizer into every element
    access -- the explode+window shape keeps tokenization single-pass and
    the pair builder in whole-stage codegen.  Map-side partial counting
    means the agg shuffle carries one row per distinct pair per
    partition, not one per occurrence, which is what makes corpus-scale
    pair counting feasible."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks.select(
            F.concat("tok", F.lit(" "), F.lead("tok").over(w)).alias("bigram")
        )
        .filter(F.col("bigram").isNotNull())
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )


@query(
    "quality_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS w FROM documents),
    cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY doc_id, w),
    agg AS (SELECT doc_id,
                   CAST(MAX(c) AS BIGINT) AS top_tok,
                   CAST(SUM(c) AS BIGINT) AS n_tok,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct
            FROM cnt GROUP BY doc_id)
    SELECT doc_id, top_tok, n_tok, n_distinct,
           CAST(top_tok AS DOUBLE) / n_tok AS top_ratio,
           CAST(n_distinct AS DOUBLE) / n_tok AS distinct_ratio
    FROM agg
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signal: per document, the most frequent
    token's share and the distinct-token ratio -- the standard filters
    for boilerplate/looping text in LLM corpora (a doc whose top token is
    30% of all tokens is template spam, not prose).

    explode -> (doc_id, token) count -> per-doc max/sum/count: both
    aggregations get map-side partial combine, nothing touches the doc
    body after the explode, and the shuffle key space is (doc, token) --
    flat, no hot keys.  Empty docs drop out at the explode on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .count()
    )
    agg = cnt.groupBy("doc_id").agg(
        F.max("count").cast("bigint").alias("top_tok"),
        F.sum("count").cast("bigint").alias("n_tok"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        "top_tok",
        "n_tok",
        "n_distinct",
        (F.col("top_tok").cast("double") / F.col("n_tok")).alias("top_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_tok")).alias("distinct_ratio"),
    )


@query(
    "text_redact_numbers",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             concat(text, ' uid:', CAST(doc_id AS VARCHAR),
                    ' ref:', CAST((doc_id * 7919) % 100000 AS VARCHAR)) AS body
      FROM documents),
    r AS (
      SELECT doc_id, source, body,
             regexp_replace(body, '[0-9]+', '#', 'g') AS red
      FROM d)
    SELECT doc_id, source,
           md5(red) AS redacted_hash,
           CAST(length(body) - length(red) AS BIGINT) AS n_removed_chars,
           CAST(len(regexp_extract_all(body, '[0-9]+')) AS BIGINT) AS n_spans
    FROM r
    """,
)
def text_redact_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction (the PII-scrubbing shape): replace every digit
    run with '#', report per-doc span counts and the redacted-content
    hash.  The synthetic corpus has digit-free prose, so deterministic
    id-bearing metadata is appended first (the realistic input: scraped
    text full of ids/phones); the redactor must find ALL of them.  Pure
    scan-side regexp expressions in whole-stage codegen -- at 100 TB
    this is a map-only pass with zero shuffle; real PII rules swap in
    richer patterns (emails, phone formats) in the same plan.  Note
    DuckDB's regexp_replace needs the 'g' flag to match Spark's
    replace-all default."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" uid:"),
        F.col("doc_id").cast("string"),
        F.lit(" ref:"),
        ((F.col("doc_id") * 7919) % 100000).cast("string"),
    )
    red = F.regexp_replace(body, F.lit("[0-9]+"), F.lit("#"))
    return docs.select(
        "doc_id",
        "source",
        F.md5(red).alias("redacted_hash"),
        (F.length(body) - F.length(red)).cast("bigint").alias("n_removed_chars"),
        F.size(F.regexp_extract_all(body, F.lit("[0-9]+"), F.lit(0)))
        .cast("bigint")
        .alias("n_spans"),
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, df, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, df ASC, term ASC) AS rk
      FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(tfidf, 6) AS tfidf, rk
    FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most distinctive terms per document by TF-IDF.

    Two shuffles total: (doc, term) term-frequency aggregate, then a
    term-keyed document-frequency aggregate joined back; idf is a
    broadcast scalar.  RANKING is deliberately integer-only
    (tf desc, df asc, term asc -- the same ordering tf*idf induces for
    fixed tf, made total): a float ORDER BY could pick a different rank-3
    term than the oracle on a last-ulp ln() difference, while the float
    tfidf VALUE itself is safe to emit under round(6).  The window is
    a per-doc top-k, so Spark lowers it to a group-limit, no global sort.
    At 100 TB: df is the only corpus-wide state, a broadcastable
    term->count table (or a count-min sketch when vocab explodes).
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tk.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tk.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; fixed per sf_dir, folded into the plan
    scored = tf.join(df, "term").withColumn(
        "tfidf", F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("tfidf", 6).alias("tfidf"),
            "rk",
        )
    )


@query(
    "quality_bigram_surprisal",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)), i ->
                    concat(list_extract(toks, i), ' ', list_extract(toks, i + 1)))) AS bigram,
                  unnest(list_transform(range(1, len(toks)), i ->
                    list_extract(toks, i))) AS w1
           FROM tk),
    c2 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    scored AS (
      SELECT bg.doc_id,
             round(-log2(CAST(c2.c12 AS DOUBLE) / c1.c1), 4) AS surprisal
      FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {hu_ratio_sql("SUM(CAST(surprisal AS DECIMAL(18,6))) * 1000000",
                         "COUNT(*) * CAST(1000000 AS HUGEINT)", 6)}
             AS avg_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def quality_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model surprisal per document --
    the classic fluency/quality signal (high avg -log2 P(w2|w1) = the
    document's word pairs are rare in this corpus).

    Train and score in one job: bigram counts c(w1,w2) and unigram
    counts c(w1) over the whole corpus (two aggregates), then each
    document's bigrams join their probabilities and average.  Per-bigram
    surprisal is rounded to 4 places BEFORE the decimal-exact sum
    (functions/numeric.py rationale), and the doc average renders via
    the integer half-up recipe over the 10^6-scaled sum (never
    round(double, 6) of a decimal ratio), so it is bitwise stable
    across engines and partial-agg orders.  At 100 TB the count
    tables are the model: store them bucketed by key and this is two
    scan-aggregates plus two equi-joins, with frequency floors to cap
    vocab (not needed at test scale).
    """
    # the bigram stream is replayed by THREE consumers (c2, c1, and the
    # scoring join) — without the keyed spread each replay regenerates
    # every bigram on the compact scan's one core
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = docs.select("doc_id", tokens("text").alias("toks"))
    bg = tk.select(
        "doc_id",
        F.posexplode(
            F.expr(
                # slice-of-sequence, NOT sequence(1, size-1): for 0/1-token
                # docs sequence(1, 0) DESCENDS to [1, 0] in Spark and the
                # element_at(toks, 0) probe throws; the slice spelling is
                # empty there and identical for size >= 2 (the oracle's
                # range(1, len) is naturally empty).
                "transform(slice(sequence(0, size(toks)), 2,"
                " greatest(size(toks) - 1, 0)), i ->"
                " named_struct('w1', element_at(toks, i),"
                " 'bigram', concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
            )
        ).alias("pos", "s"),
    ).select("doc_id", F.col("s.w1").alias("w1"), F.col("s.bigram").alias("bigram"))
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    scored = (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .select(
            "doc_id",
            # round(4), not round(6): Spark's and DuckDB's log2 differ in
            # the last ulp (~1e-13 abs), and at a 1e-6 rounding grid one
            # bigram in ~500k lands within an ulp of a .5 boundary (observed
            # once at sf0.1).  The 1e-4 grid keeps the quality signal and
            # pushes the boundary probability past the corpus sizes the
            # oracle ever checks.
            F.round(-F.log2(F.col("c12").cast("double") / F.col("c1")), 4).alias(
                "surprisal"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        hu_ratio(
            "sum(cast(surprisal as decimal(18,6))) * 1000000",
            "count(*) * cast(1000000 as decimal(38,0))",
            6,
        ).alias("avg_surprisal"),
    )


@query(
    "token_bpe_merge_step",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS tok
      FROM (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents),
           unnest(range(1, len(t) + 1)) AS u(i)),
    big AS (
      SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
               AS bigram
      FROM toks),
    top1 AS (
      SELECT split_part(bigram, ' ', 1) AS pa,
             split_part(bigram, ' ', 2) AS pb
      FROM big WHERE bigram IS NOT NULL
      GROUP BY bigram ORDER BY COUNT(*) DESC, bigram LIMIT 1),
    t2 AS (
      SELECT doc_id, pos, tok, pa, pb,
             (tok = pa AND
              lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) = pb)
               AS match
      FROM toks, top1),
    t3 AS (
      SELECT *, pos - SUM(CASE WHEN match THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM t2),
    t4 AS (
      SELECT *, CASE WHEN match AND
                  (pos - MIN(CASE WHEN match THEN pos END)
                           OVER (PARTITION BY doc_id, grp)) % 2 = 0
                THEN TRUE ELSE FALSE END AS merged
      FROM t3),
    t5 AS (
      SELECT *, coalesce(lag(merged) OVER (PARTITION BY doc_id ORDER BY pos),
                         FALSE) AS consumed
      FROM t4),
    stream AS (
      SELECT CASE WHEN merged THEN pa || ' ' || pb ELSE tok END AS token,
             merged AS is_merged
      FROM t5 WHERE NOT consumed)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n, is_merged
    FROM stream GROUP BY token, is_merged HAVING COUNT(*) >= 5
    ORDER BY n DESC, token LIMIT 50
    """,
)
def token_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE-training merge iteration, declaratively: count
    adjacent-token pairs, pick the top pair (ties lexicographic), apply
    it greedily LEFT-TO-RIGHT over every document, and emit the
    post-merge vocabulary counts (merged token included, flagged).

    Greedy non-overlapping application is the part engines usually drop
    to imperative code for; here it is ONE string replace per document
    over the delimited-string encoding (`_bpe_apply_pair_str`; the
    window-kernel reference spelling lives in the tests, and the two
    are property-pinned equal).  The whole step is a pair-count
    aggregate (partial-agg shuffle of (tok, nxt) keys only), a bounded
    1-row top-pair collect (the kmeans-centroid model-state pattern,
    same as the training loop), a narrow per-doc replace, and the final
    vocabulary count — zero doc-partitioned windows, zero self-joins.
    ``is_merged`` is derivable: round one starts from whitespace tokens
    (no spaces), so a token contains a space iff this round's merge
    built it.  Iterating the full BPE vocabulary training = re-running
    this step on the re-tokenized stream (the merged token participates
    in the next round's pairs).

    Degenerate contract (oracle's ``FROM toks, top1`` comma join): a
    corpus with NO adjacent pair anywhere yields an EMPTY readout."""
    docs = load_table(spark, sf_dir, "documents")
    st = pin(_bpe_string_frame(docs))
    top1 = (
        _bpe_pairs(st)
        .groupBy("tok", "nxt")
        .agg(F.count("*").alias("cnt"))
        # this query's oracle tie-breaks on the CONCATENATED bigram
        # (unambiguous in round one: raw tokens contain no spaces)
        .orderBy(F.desc("cnt"), F.concat("tok", F.lit(" "), "nxt"))
        .limit(1)
        .collect()  # bounded model state: at most 1 (pa, pb) row
    )
    if not top1:
        st = st.where(F.lit(False))
    else:
        st = st.select(
            _bpe_apply_pair_str(F.col("s"), top1[0]["tok"], top1[0]["nxt"]).alias(
                "s"
            )
        )
    return (
        _bpe_tokens(st)
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy(F.desc("n"), "tok")
        .limit(50)
        .select(
            F.col("tok").alias("token"),
            "n",
            F.contains("tok", F.lit(" ")).alias("is_merged"),
        )
    )


_BPE_ROUNDS = 3


def _bpe_doc_string(tokens_col) -> Column:
    """Render a doc's token array as the DOUBLE-newline-delimited string
    the string-replace merge kernel operates on::

        \\n\\n t1 \\n\\n t2 \\n\\n ... tn \\n\\n

    Tokens come from whitespace splitting (``functions/textfn.tokens``)
    so they can never contain a newline, and merged tokens acquire
    SPACES, never newlines — the delimiter cannot collide at any merge
    depth.  The separator is two newlines because the replace pattern
    consumes one newline on each side (see `_bpe_apply_pair_str`), which
    keeps the separator invariant after every substitution and lets
    back-to-back merges in one pass each see their leading delimiter."""
    return F.concat(F.lit("\n\n"), F.array_join(tokens_col, "\n\n"), F.lit("\n\n"))


def _bpe_apply_pair_str(s_col, pa: str, pb: str) -> Column:
    """One greedy left-to-right, non-overlapping merge pass of the
    CONSTANT pair (``pa``, ``pb``) as a SINGLE narrow string replace —
    the round-13 respelling of the window kernel (whose reference
    implementation, `_bpe_apply_pair`, lives next to
    ``test_bpe_string_kernel_matches_window_kernel`` in
    tests/test_operators_unit.py, which pins the two equal on
    adversarial run corpora).

    Why it is the same function: on the `_bpe_doc_string` encoding,
    ``replace`` scans left to right and resumes AFTER each replacement
    (UTF8String.replace never rescans replaced output), which IS the
    greedy non-overlapping rule — a just-merged token can never serve
    as the left side of a same-round merge (''pa pb'' is strictly
    longer than ``pa``), exactly the window kernel's run-parity /
    consumed logic.  The pattern ``\\n pa \\n\\n pb \\n`` anchors both
    tokens to full delimiter-bounded occurrences (tokens contain no
    newline, so the interior ``\\n\\n`` can only align with a
    separator), and the replacement restores the invariant: the
    untouched outer newlines plus the replacement's own make the
    boundaries ``\\n\\n`` again, and the source keeps one trailing
    newline after the match so an immediately following occurrence
    still matches — [x,y,x,y] under (x,y) merges BOTH pairs, while
    [a,a,a] under (a,a) merges only positions 0-1, the parity rule.

    Plan effect vs the window kernel: zero Exchange, zero Sort per
    round (was: one doc_id exchange + four window sorts + an eager
    localCheckpoint of the full exploded token stream)."""
    return F.replace(
        s_col,
        F.lit("\n" + pa + "\n\n" + pb + "\n"),
        F.lit("\n" + pa + " " + pb + "\n"),
    )


def _bpe_string_frame(docs: DataFrame, *carry: str) -> DataFrame:
    """The (``*carry``, s) per-doc string state the string-replace BPE
    loop iterates on, widened off the single-split documents scan (the
    CLAUDE.md single-split rule: one compact parquet file = one task,
    and every per-round pair count and the final readout would
    otherwise tokenize the whole corpus on one core).  Conditional +
    keyed via ``widen_scan`` (round-13 ADVICE: an already-wide
    production scan must not pay a keyless full exchange of document
    text per BPE query)."""
    return widen_scan(docs, "doc_id").select(
        *carry, _bpe_doc_string(tokens("text")).alias("s")
    )


def _bpe_tokens(st: DataFrame, *carry: str) -> DataFrame:
    """Explode the current token stream back out of the string state
    (order within a doc is irrelevant to every consumer — they count)."""
    return st.select(
        *carry,
        F.explode(F.filter(F.split(F.col("s"), "\n"), lambda t: t != "")).alias(
            "tok"
        ),
    )


def _bpe_pairs(st: DataFrame) -> DataFrame:
    """Adjacent ``(tok, nxt)`` pairs of the current token stream — the
    pair-count input of a training round.  Pairs are built per doc from
    the split array with an index lambda (``F.get`` is null-safe at the
    tail, unlike ANSI ``element_at``), so the job is Scan → Project →
    Generate → partial agg: the only exchange a round pays is the tiny
    post-partial pair-count shuffle."""
    arr = F.filter(F.split(F.col("s"), "\n"), lambda t: t != "")
    return (
        st.select(arr.alias("arr"))
        .select(
            F.explode(
                F.filter(
                    F.transform(
                        F.col("arr"),
                        lambda x, i: F.struct(
                            x.alias("tok"),
                            F.get(F.col("arr"), i + 1).alias("nxt"),
                        ),
                    ),
                    lambda p: p["nxt"].isNotNull(),
                )
            ).alias("p")
        )
        .select("p.tok", "p.nxt")
    )


def _bpe_train_sql(dialect: str, rounds: int = _BPE_ROUNDS) -> str:
    """Full ``rounds``-round BPE training as ONE SQL text per dialect
    (recursive_cte_tree_rollup precedent: identical logic, both
    engines).  Tokens acquire spaces as they merge, so pair keys use
    chr(9) and tie-breaks order by (pa, pb) -- never by the ambiguous
    concatenation.  Each round re-numbers positions densely so the
    greedy run-grouping (pos minus running match-rank) stays valid after
    earlier rounds punch holes in the stream."""
    if dialect == "spark":
        s0 = (
            "SELECT doc_id, pos, tok FROM (SELECT doc_id,"
            " posexplode(filter(split(lower(text), '\\\\s+'), t -> t <> ''))"
            " AS (pos, tok) FROM documents)"
        )
        nwords = "cast(size(split(tok, ' ')) as bigint)"
    else:
        s0 = (
            "SELECT doc_id, i - 1 AS pos, t[i] AS tok"
            " FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),"
            " '\\s+'), t -> t <> '') AS t FROM documents),"
            " unnest(range(1, len(t) + 1)) AS u(i)"
        )
        nwords = "CAST(len(string_split(tok, ' ')) AS BIGINT)"
    # DuckDB: force per-round materialization — the optimizer inlines
    # single-reference CTEs, and each round references its predecessor
    # through ~3 paths (stream + the top-pair scalar subqueries), so an
    # inlined chain re-executes earlier rounds ~5x per added round
    # (measured: 0.6s at 3 rounds -> 44s at 6).  Spark's dialect is the
    # documentation twin; the engine runs the pinned-round loop instead.
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    parts = [f"s0 AS {mat}({s0})"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""
    big{i} AS {mat}(
      SELECT doc_id, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM s{p}),
    top{i} AS {mat}(
      SELECT tok AS pa, nxt AS pb FROM big{i} WHERE nxt IS NOT NULL
      GROUP BY tok, nxt ORDER BY COUNT(*) DESC, tok, nxt LIMIT 1),
    m{i} AS {mat}(
      SELECT doc_id, pos, tok, nxt,
             (tok = (SELECT pa FROM top{i})
              AND nxt = (SELECT pb FROM top{i})) AS match
      FROM big{i}),
    g{i} AS {mat}(
      SELECT *, pos - SUM(CASE WHEN match THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m{i}),
    mg{i} AS {mat}(
      SELECT *, CASE WHEN match AND
                 (pos - MIN(CASE WHEN match THEN pos END)
                          OVER (PARTITION BY doc_id, grp)) % 2 = 0
                THEN TRUE ELSE FALSE END AS merged
      FROM g{i}),
    c{i} AS {mat}(
      SELECT *, coalesce(lag(merged) OVER (PARTITION BY doc_id ORDER BY pos),
                         FALSE) AS consumed
      FROM mg{i}),
    s{i} AS {mat}(
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
             CASE WHEN merged THEN tok || ' ' || nxt ELSE tok END AS tok
      FROM c{i} WHERE NOT consumed)""")
    return (
        "WITH " + ",".join(parts) + f"""
    SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n,
           {nwords} AS n_words
    FROM s{rounds}
    GROUP BY tok HAVING COUNT(*) >= 5
    ORDER BY n DESC, token LIMIT 50
    """
    )


@query("token_bpe_train_3merges", oracle=_bpe_train_sql("duckdb"))
def token_bpe_train_3merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary TRAINING, {_BPE_ROUNDS} full merge rounds: each
    round counts adjacent pairs over the current token stream, picks the
    top pair, applies it greedily left-to-right, and re-numbers the
    stream for the next round — so round 2 can merge a token round 1
    built (hierarchical merges, the actual BPE construction; n_words in
    the output exposes the merge depth).

    The MERGE TABLE is a trained model and gets the kmeans/PQ
    treatment (functions/modelstore.py): on a store hit (same corpus
    mtime, any application) the per-round pair-count aggregates are
    skipped entirely and the stored (round, pa, pb) rows replay as
    literal apply passes — training is deterministic, so the replayed
    stream is bit-identical.  On a miss, each round's top pair is a
    bounded 1-row model-state collect (the kmeans-centroid pattern),
    applied as literals via the shared `_bpe_apply_pair_str` kernel and
    published atomically at the end.  A round with NO adjacent pair is
    a no-op — exactly the oracle's NULL scalar-subquery semantics
    (the old broadcast-crossJoin spelling emptied the stream there).
    Each round's output string state is pinned before the
    next: as one monolithic statement the round-3 scalar subqueries
    re-executed the whole round-1/2 chain (34 s at sf0.01); the
    pinned-round loop runs the identical logic in ~4 s.  The oracle IS
    the monolithic statement (DuckDB materializes its CTEs), so
    selection AND application are proven at every round.  Per round:
    three doc-partitioned windows (+ one global pair count when
    training) — rounds sequential, exactly the Lloyd's/PageRank loop
    shape."""
    return _bpe_train_readout(spark, sf_dir, _BPE_ROUNDS, "bpe_merges")


def _bpe_train_readout(
    spark: SparkSession, sf_dir: str, rounds: int, tag_name: str
) -> DataFrame:
    """Shared parametric BPE training loop (round-9: the loop, not N
    unrolled rounds) — per-round top-pair selection (bounded 1-row
    model-state collect), literal apply via the `_bpe_apply_pair_str`
    string-replace kernel with a per-round pin of the
    per-doc STRING state (round 13: the exploded-stream window kernel
    cost one exchange + four window sorts + a full-stream checkpoint
    per round; the string state applies each round as a narrow replace
    and checkpoints one short row per doc), model-store persistence
    under ``tag_name`` (mtime-keyed, so 3- and 8-round models never
    collide), and the top-50 vocabulary readout.  A warm replay (store
    hit) folds ALL stored rounds into one stacked-replace projection —
    a single job with the readout's pair-count exchange as its only
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    st = _bpe_string_frame(docs)
    trained: list[DataFrame] = []  # the miss path's final string state

    def train() -> list[tuple]:
        cur = pin(st)
        merges = []
        for i in range(rounds):
            top1 = (
                _bpe_pairs(cur)
                .groupBy("tok", "nxt")
                .agg(F.count("*").alias("cnt"))
                .orderBy(F.desc("cnt"), "tok", "nxt")
                .limit(1)
                .collect()  # bounded model state: at most 1 (pa, pb) row
            )
            if top1:
                merges.append((i, top1[0]["tok"], top1[0]["nxt"]))
                cur = pin(cur.select(
                    _bpe_apply_pair_str(
                        F.col("s"), top1[0]["tok"], top1[0]["nxt"]
                    ).alias("s")
                ))
        trained.append(cur)
        return merges

    merges = load_or_train(
        spark,
        tag_name,
        sf_dir,
        "round bigint, pa string, pb string",
        train,
        table="documents",
        loader=load_table,
    )
    if trained:
        st = trained[0]
    else:
        s_col = F.col("s")
        for _, pa, pb in merges:
            s_col = _bpe_apply_pair_str(s_col, pa, pb)
        st = st.select(s_col.alias("s"))
    return (
        _bpe_tokens(st)
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") >= 5)
        .select(
            F.col("tok").alias("token"),
            "n",
            F.size(F.split("tok", " ")).cast("bigint").alias("n_words"),
        )
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


_BPE_DEEP_ROUNDS = 8


@query("token_bpe_train_8merges", oracle=_bpe_train_sql("duckdb", _BPE_DEEP_ROUNDS))
def token_bpe_train_8merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at production-like depth ({_BPE_DEEP_ROUNDS} merge
    rounds) through the SAME parametric loop as
    ``token_bpe_train_3merges`` — the round-9 proof that the iterative
    training discipline (per-round pin, bounded 1-row
    model-state collects, model-store freshness key) is a loop that
    scales in N, not three unrolled rounds: rounds 4-8 merge tokens
    rounds 1-3 BUILT, so the stored merge list is genuinely
    hierarchical (n_words up to {_BPE_DEEP_ROUNDS + 1} in the readout).
    The oracle is the monolithic {_BPE_DEEP_ROUNDS}-round CTE chain, so
    selection AND application are proven at every depth.  Model-store
    tag 'bpe_merges_d{_BPE_DEEP_ROUNDS}' keeps the deep model separate
    from the 3-round one; a warm application replays 8 literal apply
    passes off the stored table — zero training aggregates."""
    return _bpe_train_readout(
        spark, sf_dir, _BPE_DEEP_ROUNDS, f"bpe_merges_d{_BPE_DEEP_ROUNDS}"
    )


@query(
    "quality_token_entropy",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    ex AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM tk),
    cnt AS (SELECT doc_id, MAX(n) AS n, tok, COUNT(*) AS c
            FROM ex GROUP BY doc_id, tok),
    contrib AS (
      SELECT doc_id, n,
             round(-(CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n), 4) AS h
      FROM cnt)
    SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(h AS DECIMAL(18,6))) AS DOUBLE) AS entropy
    FROM contrib GROUP BY doc_id
    """,
)
def quality_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    repetition/diversity quality signal (low entropy = templated or
    looping text, a standard pretraining filter axis alongside
    ``quality_repetition``'s top-token share).

    One explode + one (doc_id, tok) aggregate; per-term contributions
    -(c/n)log2(c/n) are rounded to 4 places before the decimal-exact sum
    (the quality_bigram_surprisal ulp rationale), so the per-doc entropy
    is bitwise stable across engines and partial-agg orders."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", tokens("text").alias("toks"))
    ex = tk.select(
        "doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok")
    )
    cnt = ex.groupBy("doc_id", "tok").agg(
        F.max("n").alias("n"), F.count("*").alias("c")
    )
    p = F.col("c").cast("double") / F.col("n")
    contrib = cnt.select(
        "doc_id", "n", F.round(-p * F.log2(p), 4).alias("h")
    )
    return contrib.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        # the 4-decimal-quantized contributions sum exactly in decimal;
        # a <= 4-fractional-digit value is never at a 6-decimal half, so
        # the double cast needs no re-round
        F.sum(F.col("h").cast("decimal(18,6)")).cast("double").alias("entropy"),
    )


@query(
    "quality_repeated_ngrams",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents),
    g AS (SELECT doc_id, lang,
                 list_transform(range(1, greatest(len(toks) - 1, 1)), i ->
                   concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) AS g3
          FROM tk WHERE len(toks) >= 3)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(g3)) AS BIGINT) AS total_3grams,
           CAST(SUM(len(list_distinct(g3))) AS BIGINT) AS distinct_3grams,
           {hu_ratio_sql(
               "SUM(len(g3)) - SUM(len(list_distinct(g3)))",
               "SUM(len(g3))", 6)} AS repeated_ratio
    FROM g GROUP BY lang
    """,
)
def quality_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-3-gram ratio (the Gopher 'repetition' rule family at
    n-gram granularity, complementing ``quality_repetition``'s top-token
    share): fraction of each document's 3-grams that are internal
    repeats, rolled up per language from integer totals.  Pure
    scan-side array expressions + a 5-group aggregate; the ratio
    renders the exact integer rational (total - distinct)/total via
    the half-up recipe, so no float step remains.

    Note the DuckDB range bound: ``range(1, greatest(len-1, 1))`` stops
    at len-2 (exclusive), matching Spark's inclusive
    ``sequence(1, len-2)``; toks[i+2] over the end would null-pad
    instead of erroring, so the bound must be exact."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", "lang", tokens("text").alias("toks")).filter(
        F.size("toks") >= 3
    )
    g = tk.withColumn(
        "g3",
        F.expr(
            "transform(sequence(1, size(toks) - 2), i ->"
            " concat(element_at(toks, i), ' ', element_at(toks, i + 1),"
            " ' ', element_at(toks, i + 2)))"
        ),
    )
    return g.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size("g3")).cast("bigint").alias("total_3grams"),
        F.sum(F.size(F.array_distinct("g3"))).cast("bigint").alias("distinct_3grams"),
        hu_ratio(
            "sum(size(g3)) - sum(size(array_distinct(g3)))",
            "sum(size(g3))",
            6,
        ).alias("repeated_ratio"),
    )


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents),
    g AS (SELECT doc_id, lang,
                 unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), i ->
                   concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))) AS g3
          FROM tk WHERE len(toks) >= 3),
    df AS (SELECT g3, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY g3),
    marked AS (SELECT g.doc_id, g.lang,
                      CASE WHEN df.nd = 1 THEN 1 ELSE 0 END AS uniq
               FROM g JOIN df ON df.g3 = g.g3)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(uniq) AS BIGINT) AS n_novel,
           CAST(CAST((2 * CAST(SUM(uniq) AS HUGEINT) * 1000000 + COUNT(*))
                     // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS novelty_ratio
    FROM marked GROUP BY lang
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram novelty: the fraction of each language's
    distinct 3-grams that occur in exactly ONE document — the inverse
    of the contamination/duplication signals, and the quantity a
    memorization audit tracks (low novelty = the corpus keeps repeating
    itself across documents).  Shuffle keys are 3-gram strings and doc
    ids; the per-doc distinct keeps internal repeats from inflating
    document frequency."""
    # the 3-gram stream is replayed by the df aggregate AND the marking
    # join — spread the compact scan first
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = docs.select("doc_id", "lang", tokens("text").alias("toks")).filter(
        F.size("toks") >= 3
    )
    g = tk.select(
        "doc_id",
        "lang",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks) - 2), i ->"
                    " concat(element_at(toks, i), ' ', element_at(toks, i + 1),"
                    " ' ', element_at(toks, i + 2)))"
                )
            )
        ).alias("g3"),
    )
    df = g.groupBy("g3").agg(F.countDistinct("doc_id").alias("nd"))
    marked = g.join(df, "g3").select(
        "lang", F.when(F.col("nd") == 1, 1).otherwise(0).alias("uniq")
    )
    g2 = marked.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum("uniq").cast("bigint").alias("n_novel"),
    )
    # integer half-up recipe: count ratios can land on decimal halves
    return g2.withColumn("novelty_ratio", hu_ratio("n_novel", "n_grams", 6))


@query(
    "ml_naive_bayes_train",
    oracle=f"""
    WITH tk AS (
      SELECT lang, unnest({DUCK_TOKENS}) AS token FROM documents),
    c AS (SELECT lang, token, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_lang FROM c GROUP BY 1),
    voc AS (SELECT COUNT(DISTINCT token) AS v FROM tk),
    pri AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(COUNT(*) AS DOUBLE)
               / (SELECT COUNT(*) FROM documents) AS prior_frac
      FROM documents GROUP BY 1),
    ranked AS (
      SELECT lang, token, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token ASC) AS rk
      FROM c)
    SELECT r.lang, r.token, CAST(r.cnt AS BIGINT) AS cnt,
           round(ln(CAST(r.cnt + 1 AS DOUBLE) / (t.n_lang + voc.v)), 4)
             AS log_likelihood,
           round(ln(p.prior_frac), 4) AS log_prior
    FROM ranked r
    JOIN tot t USING (lang) JOIN pri p USING (lang) CROSS JOIN voc
    WHERE r.rk <= 10
    """,
)
def ml_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes training over the document corpus: the
    model IS two aggregation outputs -- Laplace-smoothed token
    log-likelihoods ln((c+1)/(N_lang+V)) per (lang, token) and class
    log-priors -- the classic first classifier over a labeled text dump.

    Scale shape: one tokenize-explode pass feeds a map-side-combinable
    (lang, token) count -- the only job that touches the corpus; the
    totals, vocabulary size, and priors are output-sized aggregates that
    broadcast back onto the count table.  Output is capped to the top-10
    tokens per class via a rank window over the count table (already
    model-sized, partitioned by lang, WindowGroupLimit-lowerable), with
    (count DESC, token ASC) so the cut is deterministic.  Logs are
    quantized round(4) per the cross-engine convention (Spark's and
    DuckDB's libm ln differ in the last ulp); everything upstream of the
    ln is exact integer arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("lang", F.explode(tokens("text")).alias("token"))
    c = tk.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    tot = c.groupBy("lang").agg(F.sum("cnt").cast("bigint").alias("n_lang"))
    voc = tk.agg(F.countDistinct("token").alias("v"))
    ntot = docs.agg(F.count("*").alias("n_total"))
    pri = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(ntot))
        .select(
            "lang",
            (F.col("n_docs").cast("double") / F.col("n_total")).alias(
                "prior_frac"
            ),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token").asc())
    )
    ranked = c.withColumn("rk", rk).filter(F.col("rk") <= 10)
    return (
        ranked.join(F.broadcast(tot), "lang")
        .join(F.broadcast(pri), "lang")
        .crossJoin(F.broadcast(voc))
        .select(
            "lang",
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(
                F.log(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("n_lang") + F.col("v"))
                ),
                4,
            ).alias("log_likelihood"),
            F.round(F.log(F.col("prior_frac")), 4).alias("log_prior"),
        )
    )


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents),
    scored AS (SELECT lang, {_argmax_case(_score_exprs('duckdb'))} AS pred_lang
               FROM tok)
    SELECT lang AS true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against the
    labeled lang column -- the classifier-evaluation readout every
    filtering pipeline needs before trusting a cheap model at scale
    (which low-resource languages bleed into 'en'?).

    Same scan-side scoring expressions as ``lang_id`` (broadcast-literal
    stopword profiles, deterministic argmax), then a single (true, pred)
    hash aggregate: at 100 TB this is one combinable count over at most
    |langs|^2 groups."""
    docs = load_table(spark, sf_dir, "documents")
    scores = _score_exprs("spark")
    scored = docs.withColumn("toks", tokens("text")).select(
        "lang", F.expr(_argmax_case(scores)).alias("pred_lang")
    )
    return (
        scored.groupBy(F.col("lang").alias("true_lang"), "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )



@query(
    "corpus_vocab_venn",
    oracle=f"""
    WITH t0 AS (
      SELECT source, {DUCK_TOKENS} AS toks FROM documents
      WHERE source IN ('src0', 'src1', 'src2')),
    tk AS (
      SELECT source,
             unnest(list_transform(range(1, len(toks)), i ->
               concat(list_extract(toks, i), ' ',
                      list_extract(toks, i + 1)))) AS gram
      FROM t0),
    pres AS (
      SELECT gram,
             CAST(max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
               + 2 * max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
               + 4 * max(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
               AS BIGINT) AS mask
      FROM tk GROUP BY 1)
    SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM pres GROUP BY 1
    """,
)
def corpus_vocab_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way BIGRAM-vocabulary Venn diagram across sources
    src0/src1/src2: every word bigram maps to a presence bitmask
    (1=src0, 2=src1, 4=src2) and the 7 mask counts are the full overlap
    structure -- the corpus-diff readout for "what does adding this
    source actually contribute".  (Bigrams, not unigrams: a shared base
    vocabulary makes the unigram Venn degenerate -- every word is in
    every source -- while pair combinations actually discriminate.)

    One tokenize+bigram pass over the three sources' documents, a
    per-gram max-of-indicators aggregate (map-side combinable -- the
    mask is a bit-OR expressed as max so both engines fold it
    identically), and a 7-group count.  Generalizes to S sources as a
    BIGINT bitmask up to 63 sources, beyond that a presence array; all
    integers."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    tk = docs.select("source", tokens("text").alias("toks")).select(
        "source",
        F.explode(
            F.expr(
                # slice-of-sequence, NOT sequence(1, size-1): for 0/1-token
                # docs sequence(1, 0) DESCENDS to [1, 0] in Spark and the
                # element_at(toks, 0) probe throws; the slice spelling is
                # empty there and identical for size >= 2 (the oracle's
                # range(1, len) is naturally empty).
                "transform(slice(sequence(0, size(toks)), 2,"
                " greatest(size(toks) - 1, 0)), i ->"
                " concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("gram"),
    )
    pres = tk.groupBy("gram").agg(
        (
            F.max(F.when(F.col("source") == "src0", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("source") == "src1", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("source") == "src2", 1).otherwise(0))
        )
        .cast("bigint")
        .alias("mask")
    )
    return pres.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )


@query(
    "text_hapax_rate",
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest({DUCK_TOKENS}) AS token FROM documents),
    c AS (SELECT source, token, COUNT(*) AS n FROM tk GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_share
    FROM c GROUP BY 1
    """,
)
def text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source: the share of each source's
    vocabulary that occurs exactly once -- the Heaps-law tail signal
    that separates natural long-tail text (high hapax share) from
    template/boilerplate dumps (low) and OCR noise (extreme), and the
    first thing to check before trusting token-frequency features.

    One (source, token) count -- the only input-sized pass, map-side
    combinable -- then a per-source rollup of exact integers with one
    final division."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", F.explode(tokens("text")).alias("token"))
    c = tk.groupBy("source", "token").agg(F.count("*").alias("n"))
    return c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        (
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("hapax_share"),
    )


_FH_BUCKETS = 64  # hashing-trick dimensionality


@query(
    "ml_feature_hashing",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents),
    hb AS (SELECT doc_id, term,
                  CAST(list_sum(list_transform(range(0, 8),
                    c -> (strpos('0123456789abcdef',
                          substring(md5(term), 1 + c, 1)) - 1)
                         * CAST(pow(16, 7 - c) AS BIGINT))) AS BIGINT)
                    % {_FH_BUCKETS} AS bucket
           FROM tk),
    agg AS (SELECT bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM hb GROUP BY bucket)
    SELECT bucket, n_tokens, n_terms, n_docs,
           n_terms > 1 AS has_collision
    FROM agg
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project an unbounded vocabulary into a fixed
    64-bucket feature space (bucket = md5(term) mod 64) and report the
    occupancy/collision profile per bucket -- the audit one runs before
    committing to a hashed-feature dimensionality, since collisions are
    the accuracy cost the trick trades for O(1) vocabulary memory.

    This is the scan-side half of every hashed bag-of-words training
    pipeline at 100 TB: no vocabulary build, no dictionary broadcast,
    just a stateless hash per token followed by one bucket-keyed
    partial-aggregated shuffle (64 keys).  md5-derived bucket ids keep
    the assignment bit-identical across engines, runs, and retries --
    the property that makes hashed features joinable across separately
    computed shards.
    """
    docs = load_table(spark, sf_dir, "documents")
    hb = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).withColumn(
        "bucket",
        F.expr(
            f"cast(conv(substring(md5(term), 1, 8), 16, 10) as bigint)"
            f" % {_FH_BUCKETS}"
        ),
    )
    return (
        hb.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.countDistinct("term").cast("bigint").alias("n_terms"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .select(
            "bucket",
            "n_tokens",
            "n_terms",
            "n_docs",
            (F.col("n_terms") > 1).alias("has_collision"),
        )
    )


@query(
    "quality_perplexity_buckets",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)), i ->
                    concat(list_extract(toks, i), ' ', list_extract(toks, i + 1)))) AS bigram,
                  unnest(list_transform(range(1, len(toks)), i ->
                    list_extract(toks, i))) AS w1
           FROM tk),
    c2 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    scored AS (
      SELECT bg.doc_id,
             round(-log2(CAST(c2.c12 AS DOUBLE) / c1.c1), 4) AS surprisal
      FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1)),
    per_doc AS (
      SELECT doc_id,
             {hu_ratio_sql("SUM(CAST(surprisal AS DECIMAL(18,6))) * 1000000",
                           "COUNT(*) * CAST(1000000 AS HUGEINT)", 6)}
               AS avg_surprisal
      FROM scored GROUP BY doc_id),
    bucketed AS (
      SELECT doc_id, avg_surprisal,
             ntile(3) OVER (ORDER BY avg_surprisal, doc_id) AS bucket
      FROM per_doc)
    SELECT CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {hu_ratio_sql("SUM(CAST(avg_surprisal AS DECIMAL(18,6))) * 1000000",
                         "COUNT(*) * CAST(1000000 AS HUGEINT)", 6)}
             AS mean_surprisal,
           MIN(avg_surprisal) AS min_surprisal,
           MAX(avg_surprisal) AS max_surprisal
    FROM bucketed GROUP BY bucket
    """,
)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split: score every document with
    the corpus-trained bigram LM (same spelling as
    ``quality_bigram_surprisal``), then ntile(3) on (score, doc_id)
    assigns the fluent head, the middle, and the noisy tail -- the
    bucketing CCNet uses to keep head+middle and drop or downweight
    the tail of a web crawl.

    The bucket comes from a range-partitioned partition-offset global
    rank (functions/ranking.py) mapped through the exact ANSI
    first-(n%3)-groups-get-one-extra tile rule — per-document rows are
    still corpus-sized, so no one-task window is allowed here.  Both
    engines order by (score, doc_id), so the bucket boundaries are
    bitwise stable.  Per-bucket means sum the already-rounded per-doc
    scores in decimal.
    """
    # same three-consumer bigram replay as quality_bigram_surprisal —
    # spread the scan before the per-token transform
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = docs.select("doc_id", tokens("text").alias("toks"))
    bg = tk.select(
        "doc_id",
        F.posexplode(
            F.expr(
                # slice-of-sequence, NOT sequence(1, size-1): for 0/1-token
                # docs sequence(1, 0) DESCENDS to [1, 0] in Spark and the
                # element_at(toks, 0) probe throws; the slice spelling is
                # empty there and identical for size >= 2 (the oracle's
                # range(1, len) is naturally empty).
                "transform(slice(sequence(0, size(toks)), 2,"
                " greatest(size(toks) - 1, 0)), i ->"
                " named_struct('w1', element_at(toks, i),"
                " 'bigram', concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
            )
        ).alias("pos", "s"),
    ).select("doc_id", F.col("s.w1").alias("w1"), F.col("s.bigram").alias("bigram"))
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    per_doc = (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .select(
            "doc_id",
            F.round(-F.log2(F.col("c12").cast("double") / F.col("c1")), 4).alias(
                "surprisal"
            ),
        )
        .groupBy("doc_id")
        .agg(
            hu_ratio(
                "sum(cast(surprisal as decimal(18,6))) * 1000000",
                "count(*) * cast(1000000 as decimal(38,0))",
                6,
            ).alias("avg_surprisal")
        )
    )
    from eecs485_p4_mapreduce_spark.functions.ranking import (
        ntile_from_rank,
        with_global_rank,
    )

    bucketed = with_global_rank(per_doc, ["avg_surprisal", "doc_id"]).withColumn(
        "bucket", ntile_from_rank("_rk", "_n", 3)
    )
    return (
        bucketed.withColumn(
            "bucket",
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            hu_ratio(
                "sum(cast(avg_surprisal as decimal(18,6))) * 1000000",
                "count(*) * cast(1000000 as decimal(38,0))",
                6,
            ).alias("mean_surprisal"),
            F.min("avg_surprisal").alias("min_surprisal"),
            F.max("avg_surprisal").alias("max_surprisal"),
        )
    )


_RAKE_STOPS = ("the", "a", "and", "of", "to", "is", "in")
_RAKE_TOPK = 30


def _rake_stop_list(dialect: str) -> str:
    items = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
    return f"[{items}]" if dialect == "duckdb" else f"array({items})"


@query(
    "text_keywords_rake",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    pos AS (SELECT doc_id, unnest(toks) AS w,
                   unnest(range(1, len(toks) + 1)) AS i
            FROM tk),
    nonstop AS (
      SELECT doc_id, w, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM pos
      WHERE NOT list_contains({_rake_stop_list('duckdb')}, w)),
    phrased AS (
      SELECT doc_id, grp, w,
             COUNT(*) OVER (PARTITION BY doc_id, grp) AS phrase_len
      FROM nonstop),
    wordstats AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(phrase_len) AS BIGINT) AS degree
      FROM phrased GROUP BY w),
    ranked AS (
      SELECT w, freq, degree,
             row_number() OVER (
               ORDER BY (degree * 10000) // freq DESC, freq DESC, w ASC) AS rk
      FROM wordstats)
    SELECT w AS keyword, freq, degree,
           CAST((degree * 10000) // freq AS BIGINT) AS rake_score_bp
    FROM ranked WHERE rk <= {_RAKE_TOPK}
    """,
)
def text_keywords_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.): split token streams into
    candidate phrases at stopwords, then score each word by
    degree/frequency -- degree counts co-occurrence within its phrases
    (here via phrase length), so words that anchor long content
    phrases outrank merely-frequent ones.  The island detection (i -
    row_number over kept positions) is the gaps-and-islands trick on
    token indices.

    Scoring stays integral: degree/freq becomes basis points by
    integer division, ranked with (score, freq, word) tie-breaks --
    no float anywhere.  Shape: one explode, one doc-keyed window for
    islands, one word-keyed aggregate; the global top-30 is
    sort+limit, which Spark plans as TakeOrderedAndProject — each
    partition keeps its own 30, the driver merges 30*P rows — so no
    executor ever materializes a full vocabulary ordering.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", tokens("text").alias("toks"))
    pos = tk.select(
        "doc_id",
        F.posexplode("toks").alias("i0", "w"),
    ).select("doc_id", F.col("w"), (F.col("i0") + 1).alias("i"))
    stop = F.expr(f"{_rake_stop_list('spark')}")
    nonstop = pos.filter(~F.array_contains(stop, F.col("w"))).withColumn(
        "grp",
        F.col("i")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    phrased = nonstop.withColumn(
        "phrase_len", F.count("*").over(Window.partitionBy("doc_id", "grp"))
    )
    wordstats = phrased.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("phrase_len").cast("bigint").alias("degree"),
    )
    score = F.expr("(degree * 10000) div freq")
    return (
        wordstats.withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col("freq").desc(), F.col("w").asc())
        .limit(_RAKE_TOPK)
        .select(
            F.col("w").alias("keyword"),
            "freq",
            "degree",
            F.col("score").cast("bigint").alias("rake_score_bp"),
        )
    )


_BPE_ENC_MERGES = 3  # frozen merge-table size for the encode pass


def _bpe_encode_sql() -> str:
    """BPE ENCODE as one DuckDB SQL text (unlike ``_bpe_train_sql``
    there is no Spark dialect to generate — the engine side is
    DataFrame-built around the collected literal merge table): rank the
    top three adjacent pairs of the ORIGINAL stream once (the frozen
    merge table), then apply them in priority order with the train
    query's greedy left-to-right machinery.  Unlike training, later
    merges are NOT re-counted on the rewritten stream — that is exactly
    how a tokenizer applies a FIXED vocabulary at encode time, and why
    encode is three cheap passes instead of three count+select
    rounds."""
    s0 = (
        "SELECT doc_id, source, i - 1 AS pos, t[i] AS tok"
        " FROM (SELECT doc_id, source, list_filter(string_split_regex("
        "lower(text), '\\s+'), t -> t <> '') AS t FROM documents),"
        " unnest(range(1, len(t) + 1)) AS u(i)"
    )
    # always-DuckDB: materialize per-pass CTEs (same inlining blowup as
    # the train chain — see _bpe_train_sql)
    mat = "MATERIALIZED "
    parts = [
        f"s0 AS {mat}({s0})",
        f"""
    big0 AS (
      SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM s0),
    mtab AS (
      SELECT tok AS pa, nxt AS pb,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok, nxt) AS rk
      FROM big0 WHERE nxt IS NOT NULL
      GROUP BY tok, nxt ORDER BY COUNT(*) DESC, tok, nxt
      LIMIT {_BPE_ENC_MERGES})""",
    ]
    for i in range(1, _BPE_ENC_MERGES + 1):
        p = i - 1
        parts.append(f"""
    big{i} AS (
      SELECT doc_id, source, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM s{p}),
    m{i} AS {mat}(
      SELECT doc_id, source, pos, tok, nxt,
             (tok = (SELECT pa FROM mtab WHERE rk = {i})
              AND nxt = (SELECT pb FROM mtab WHERE rk = {i})) AS match
      FROM big{i}),
    g{i} AS {mat}(
      SELECT *, pos - SUM(CASE WHEN match THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m{i}),
    mg{i} AS {mat}(
      SELECT *, CASE WHEN match AND
                 (pos - MIN(CASE WHEN match THEN pos END)
                          OVER (PARTITION BY doc_id, grp)) % 2 = 0
                THEN TRUE ELSE FALSE END AS merged
      FROM g{i}),
    c{i} AS {mat}(
      SELECT *, coalesce(lag(merged) OVER (PARTITION BY doc_id ORDER BY pos),
                         FALSE) AS consumed
      FROM mg{i}),
    s{i} AS {mat}(
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
             CASE WHEN merged THEN tok || ' ' || nxt ELSE tok END AS tok
      FROM c{i} WHERE NOT consumed)""")
    return (
        "WITH " + ",".join(parts) + f"""
    , before AS (SELECT doc_id, source, COUNT(*) AS n0 FROM s0 GROUP BY doc_id, source),
    after AS (SELECT doc_id, COUNT(*) AS n3 FROM s{_BPE_ENC_MERGES} GROUP BY doc_id)
    SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n0) AS BIGINT) AS tokens_before,
           CAST(SUM(a.n3) AS BIGINT) AS tokens_after,
           CAST(CAST((2 * CAST(SUM(a.n3) AS HUGEINT) * 1000000 + SUM(b.n0))
                     // (2 * CAST(SUM(b.n0) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS compression
    FROM before b JOIN after a ON a.doc_id = b.doc_id
    GROUP BY b.source
    """
    )


@query("token_bpe_encode", oracle=_bpe_encode_sql())
def token_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE with a frozen merge table — the other half of
    ``token_bpe_train_3merges``: rank the corpus's top three adjacent
    pairs ONCE (the merge table a trainer would have produced), then
    apply them in priority order, greedy left-to-right, without
    re-counting between passes — exactly how a tokenizer encodes at
    corpus scale.  Output is the per-source tokens-before/after
    compression readout teams compare tokenizers with.

    The 3-row frozen merge table is a trained model: persisted through
    functions/modelstore.py (content-addressed by corpus mtime, atomic
    publish, cross-application — the kmeans/PQ treatment), so a store
    hit skips the pair-count training scan entirely; a miss collects
    the bounded 3-row table and publishes it.  The three apply passes
    stack as one narrow projection over the per-doc delimited string
    (`_bpe_apply_pair_str`, round 13 — the window-kernel spelling cost
    one exchange + four sorts + a full-stream localCheckpoint PER PASS)
    and the before/after token counts are per-ROW array sizes off the
    same projection, so the whole encode is one job whose only exchange
    is the final per-source aggregate: no before/after join at all.
    Docs with zero tokens are excluded, matching the oracle's inner
    join of the two exploded-stream groupings (an empty doc has no row
    in either).  The oracle replays selection AND all three
    applications in one monolithic statement."""
    docs = load_table(spark, sf_dir, "documents")
    st = pin(_bpe_string_frame(docs, "source"))

    def train() -> list[tuple]:
        rows = (
            _bpe_pairs(st)
            .groupBy("tok", "nxt")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), "tok", "nxt")
            .limit(_BPE_ENC_MERGES)
            .collect()  # bounded model state: exactly 3 (pa, pb) literals
        )
        return [(i, r["tok"], r["nxt"]) for i, r in enumerate(rows)]

    merge_table = load_or_train(
        spark,
        "bpe_frozen",
        sf_dir,
        "rank bigint, pa string, pb string",
        train,
        table="documents",
        loader=load_table,
    )
    s_col = F.col("s")
    for _, pa, pb in merge_table:
        s_col = _bpe_apply_pair_str(s_col, pa, pb)

    def ntok(col) -> Column:
        return F.size(F.filter(F.split(col, "\n"), lambda t: t != ""))

    return (
        st.select("source", ntok(F.col("s")).alias("n0"), ntok(s_col).alias("n3"))
        .filter(F.col("n0") >= 1)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n0").cast("bigint").alias("tokens_before"),
            F.sum("n3").cast("bigint").alias("tokens_after"),
        )
        # integer half-up recipe: token-count ratios can land on halves
        .withColumn(
            "compression", hu_ratio("tokens_after", "tokens_before", 6)
        )
    )


_OOV_V = 500  # tokenizer vocabulary budget for the coverage audit


@query(
    "tokenizer_oov_rate",
    oracle=f"""
    WITH tk AS (SELECT source, unnest({DUCK_TOKENS}) AS tok FROM documents),
    c AS (SELECT source, tok, COUNT(*) AS cnt FROM tk GROUP BY source, tok),
    tot AS (SELECT tok, SUM(cnt) AS n FROM c GROUP BY tok),
    voc AS (SELECT tok FROM tot ORDER BY n DESC, tok LIMIT {_OOV_V})
    SELECT c.source,
           CAST(SUM(c.cnt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN voc.tok IS NULL THEN c.cnt ELSE 0 END)
                AS BIGINT) AS oov_tokens,
           CAST(CAST((2 * CAST(SUM(CASE WHEN voc.tok IS NULL THEN c.cnt
                                        ELSE 0 END) AS HUGEINT) * 1000000
                          + SUM(c.cnt))
                     // (2 * CAST(SUM(c.cnt) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS oov_rate
    FROM c LEFT JOIN voc ON voc.tok = c.tok
    GROUP BY c.source
    """,
)
def tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage (OOV-rate) audit: fix a 500-type vocabulary
    (the corpus's most frequent tokens, deterministic (freq DESC, token)
    cut) and report, per source, how much of its token mass falls
    outside it — the tokenizer-health readout that decides whether a
    vocabulary trained on one mix serves another (high OOV = fertility
    blow-up for that source under a word-level or small-BPE vocab).

    Scale shape: one (source, token) map-side-combinable count is the
    only corpus-scale shuffle; global type totals reduce from it
    (token-keyed, vocabulary-sized); the 500-row vocabulary is a
    TakeOrdered that BROADCASTS back onto the per-source counts; the
    readout rollup is output-sized.  Token strings shuffle once."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", F.explode(tokens("text")).alias("tok"))
    c = tk.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    tot = c.groupBy("tok").agg(F.sum("cnt").alias("n"))
    voc = (
        tot.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_OOV_V)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    j = c.join(F.broadcast(voc), "tok", "left")
    oov = F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(0)
    g = j.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.sum(oov).cast("bigint").alias("oov_tokens"),
    )
    # integer half-up recipe: count ratios can land on decimal halves
    return g.withColumn("oov_rate", hu_ratio("oov_tokens", "total_tokens", 6))


# LIX readability constants: "long word" threshold (>= 7 chars, the
# standard LIX cut) and the sentence-delimiter run regex (identical
# Java/RE2 semantics: a character class + '+' quantifier).
_LIX_LONG = 7
_SENT_RE = "[.!?]+"


@query(
    "quality_readability_lix",
    oracle=f"""
    WITH d AS (
      SELECT source,
             len({DUCK_TOKENS}) AS words,
             greatest(len(regexp_extract_all(text, '{_SENT_RE}')), 1)
               AS sentences,
             len(list_filter({DUCK_TOKENS}, t -> length(t) >= {_LIX_LONG}))
               AS long_words
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           CAST(SUM(sentences) AS BIGINT) AS sentences,
           CAST(SUM(long_words) AS BIGINT) AS long_words,
           {hu_ratio_sql(
               "CAST(SUM(words) AS HUGEINT) * SUM(words)"
               " + 100 * CAST(SUM(long_words) AS HUGEINT) * SUM(sentences)",
               "CAST(SUM(sentences) AS HUGEINT) * SUM(words)", 6)} AS lix
    FROM d GROUP BY source
    """,
)
def quality_readability_lix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus readability audit: the LIX index (words/sentence +
    100 * long-word share, long = 7+ chars) per source — the
    syllable-free readability formula, so every input is an exact
    integer count and the score is deterministic cross-engine (unlike
    Flesch, which needs syllable heuristics).  A curation pipeline uses
    the per-source LIX to spot sources whose prose complexity drifts
    from the mix target.

    Determinism: words/sentences/long-words are integer counts
    (whitespace tokens; sentence-delimiter runs via the shared Java∩RE2
    regex subset, per-doc floored at 1; token length >= 7), summed as
    BIGINTs; LIX renders the exact rational (W^2 + 100*L*S)/(S*W) via
    the integer half-up recipe (never round(double, 6) of an integer
    ratio).
    Scale shape: pure scan-side projection (regexp_extract_all + two
    size(filter()) passes inside whole-stage codegen) into a
    source-cardinality hash aggregate — no joins, no windows, one
    map-side-combinable shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(tokens("text")).alias("words"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit(_SENT_RE), F.lit(0))),
            F.lit(1),
        ).alias("sentences"),
        F.size(
            F.filter(tokens("text"), lambda t: F.length(t) >= _LIX_LONG)
        ).alias("long_words"),
    )
    g = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("sentences").cast("bigint").alias("sentences"),
        F.sum("long_words").cast("bigint").alias("long_words"),
    )
    return g.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "long_words",
        # LIX = W/S + 100*L/W is the exact integer rational
        # (W^2 + 100*L*S) / (S*W): render via the half-up recipe, never
        # round(double, 6) of an integer ratio
        hu_ratio(
            "cast(words as decimal(38,0)) * words"
            " + 100 * cast(long_words as decimal(38,0)) * sentences",
            "cast(sentences as decimal(38,0)) * words",
            6,
        ).alias("lix"),
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             len({DUCK_TOKENS}) AS ws,
             len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS re,
             n_chars
      FROM documents),
    g AS (
      SELECT lang, COUNT(*) AS n_docs, SUM(ws) AS ws_tokens,
             SUM(re) AS re_tokens, SUM(n_chars) AS chars
      FROM d GROUP BY lang),
    en AS (SELECT re_tokens AS re_en, ws_tokens AS ws_en
           FROM g WHERE lang = 'en')
    SELECT g.lang,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(g.ws_tokens AS BIGINT) AS ws_tokens,
           CAST(g.re_tokens AS BIGINT) AS re_tokens,
           CAST(CAST((2 * CAST(g.re_tokens AS HUGEINT) * 1000000 + g.ws_tokens)
                     // (2 * CAST(g.ws_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS fertility,
           CAST(CAST((2 * CAST(g.chars AS HUGEINT) * 1000000 + g.re_tokens)
                     // (2 * CAST(g.re_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS chars_per_token,
           CAST(CAST((2 * CAST(g.re_tokens AS HUGEINT) * en.ws_en * 1000000
                      + CAST(g.ws_tokens AS HUGEINT) * en.re_en)
                     // (2 * CAST(g.ws_tokens AS HUGEINT) * en.re_en)
                  AS BIGINT) AS DOUBLE)
             / 1000000 AS fertility_vs_en
    FROM g, en
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language: subword (BPE-ish regex
    lexer) tokens per whitespace word, characters per subword token,
    and each language's fertility relative to English — the
    multilingual-tokenizer health readout that decides whether a vocab
    trained on an en-heavy mix taxes other languages with longer token
    sequences (fertility_vs_en > 1 = that language pays more tokens per
    word, i.e. more compute per sentence).

    Determinism: all inputs are integer counts (whitespace tokens, regex
    lexer matches via the shared Java∩RE2 ``_TOKEN_RE``, the n_chars
    column) summed as BIGINTs; every ratio renders by the integer
    half-up recipe, with the relative fertility cleared of its nested
    division by cross-multiplication.  Scale shape: scan-side token counting into
    a lang-cardinality aggregate; the 1-row 'en' baseline is broadcast
    back onto the per-lang rows (broadcast-NL on a single row, never a
    CartesianProduct)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.size(tokens("text")).alias("ws"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(_TOKEN_RE), F.lit(0))
        ).alias("re"),
        "n_chars",
    )
    g = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("re").cast("bigint").alias("re_tokens"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    en = g.filter(F.col("lang") == "en").select(
        F.col("re_tokens").alias("re_en"), F.col("ws_tokens").alias("ws_en")
    )
    # integer half-up recipes; fertility_vs_en clears the nested ratio by
    # cross-multiplication — (re/ws)/(re_en/ws_en) = (re*ws_en)/(ws*re_en)
    # — so even the relative readout is one exact integer ratio
    # (decimal(38,0)/HUGEINT give the product headroom)
    return g.crossJoin(F.broadcast(en)).select(
        "lang",
        "n_docs",
        "ws_tokens",
        "re_tokens",
        hu_ratio("re_tokens", "ws_tokens", 6).alias("fertility"),
        hu_ratio("chars", "re_tokens", 6).alias("chars_per_token"),
        hu_ratio(
            "cast(re_tokens as decimal(38,0)) * ws_en",
            "cast(ws_tokens as decimal(38,0)) * re_en",
            6,
        ).alias("fertility_vs_en"),
    )


# --------------------------------------------- Kneser-Ney smoothing

# absolute discount D = 3/4, folded into integer arithmetic: with every
# scored bigram OBSERVED (we score the training corpus itself),
#   P_KN(w2|w1) = (c12 - 3/4)/c1 + (3/4) * n1fw(w1)/c1 * n1bw(w2)/T
#              = [ (4*c12 - 3) * T + 3 * n1fw * n1bw ] / [ 4 * c1 * T ]
# where T = distinct bigram types, n1fw(w1) = |{w2 : c(w1,w2)>0}|,
# n1bw(w2) = |{w1 : c(w1,w2)>0}| (the continuation count that makes KN
# KN).  num/den are exact integers carried in DECIMAL(38,0)/HUGEINT
# (int64 would overflow near c12*T ~ (corpus bigrams)^2 at real scale);
# the ONE double step is log2(num/den) — both casts and the division
# are correctly rounded IEEE ops, identical in both engines at any
# magnitude — quantized round(4) before the decimal-exact mean
# (the quality_bigram_surprisal rationale).
_KN_NUM_SPARK = (
    "cast(4 * c12 - 3 as decimal(38,0)) * cast(ntypes as decimal(38,0))"
    " + cast(3 * n1fw as decimal(38,0)) * cast(n1bw as decimal(38,0))"
)
_KN_DEN_SPARK = "cast(4 * c1 as decimal(38,0)) * cast(ntypes as decimal(38,0))"
_KN_NUM_DUCK = (
    "CAST(4 * c12 - 3 AS HUGEINT) * CAST(ntypes AS HUGEINT)"
    " + CAST(3 * n1fw AS HUGEINT) * CAST(n1bw AS HUGEINT)"
)
_KN_DEN_DUCK = "CAST(4 * c1 AS HUGEINT) * CAST(ntypes AS HUGEINT)"


@query(
    "quality_kneser_ney_bigram",
    oracle=f"""
    WITH tk AS (SELECT source, {DUCK_TOKENS} AS toks FROM documents),
    bg AS (SELECT source,
                  unnest(list_transform(range(1, len(toks)), i ->
                    list_extract(toks, i))) AS w1,
                  unnest(list_transform(range(1, len(toks)), i ->
                    list_extract(toks, i + 1))) AS w2
           FROM tk),
    c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    fw AS (SELECT w1, COUNT(*) AS n1fw FROM c2 GROUP BY 1),
    bw AS (SELECT w2, COUNT(*) AS n1bw FROM c2 GROUP BY 1),
    t AS (SELECT COUNT(*) AS ntypes FROM c2),
    scored AS (
      SELECT bg.source,
             c2.c12,
             round(-log2(CAST(({_KN_NUM_DUCK}) AS DOUBLE)
                         / CAST(({_KN_DEN_DUCK}) AS DOUBLE)), 4) AS kn,
             round(-log2(CAST(c2.c12 AS DOUBLE) / c1.c1), 4) AS mle
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
              JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN t)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           {hu_ratio_sql("SUM(CAST(kn AS DECIMAL(18,6))) * 1000000",
                         "COUNT(*) * CAST(1000000 AS HUGEINT)", 6)}
             AS avg_kn_surprisal,
           {hu_ratio_sql("SUM(CAST(mle AS DECIMAL(18,6))) * 1000000",
                         "COUNT(*) * CAST(1000000 AS HUGEINT)", 6)}
             AS avg_mle_surprisal
    FROM scored GROUP BY source
    """,
)
def quality_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal per source, next to the
    MLE baseline — THE standard n-gram smoothing (Kneser & Ney 1995):
    the discount D = 3/4 shaves mass off every observed bigram and
    redistributes it by CONTINUATION counts (how many distinct left
    contexts a word follows), so "san francisco" stops inflating
    P(francisco | anything).  The per-source KN-vs-MLE gap plus the
    singleton share is the smoothing-sensitivity readout: sources
    whose bigram mass is singletons shift most under KN and their MLE
    fluency scores are the least trustworthy.

    Exactness: P_KN is ONE exact integer rational (discount 3/4 folded
    into 4x-scaled counts, module-level derivation), carried in
    DECIMAL(38,0)/HUGEINT, with a single correctly-rounded
    log2(num/den) double step quantized round(4) before the
    decimal-exact mean via the half-up recipe — the
    quality_bigram_surprisal discipline with the continuation-count
    model on top.

    Scale shape: the corpus-sized bigram stream is reduced ONCE to
    (source, w1, w2, cnt) by a map-side-combinable aggregate; every
    model table (c12, c1, and the two continuation rollups of c12) is
    vocabulary-sized and they join each other — never the stream —
    before ONE (w1, w2) equi-join attaches per-type scores, weighted
    back by cnt (decimal addition is exact, so the weighted type sum
    equals the oracle's per-occurrence sum bit for bit).  At 100 TB
    store the model bucketed by key and apply frequency floors to cap
    vocab."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", tokens("text").alias("toks"))
    bg = tk.select(
        "source",
        F.posexplode(
            F.expr(
                # slice-of-sequence, NOT sequence(1, size-1): empty for
                # 0/1-token docs (quality_bigram_surprisal precedent)
                "transform(slice(sequence(0, size(toks)), 2,"
                " greatest(size(toks) - 1, 0)), i ->"
                " named_struct('w1', element_at(toks, i),"
                " 'w2', element_at(toks, i + 1)))"
            )
        ).alias("pos", "s"),
    ).select("source", F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
    sbg = bg.groupBy("source", "w1", "w2").agg(F.count("*").alias("cnt"))
    c2 = sbg.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12"))
    c1 = c2.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1fw")
    )
    bw = c2.groupBy("w2").agg(F.count("*").alias("n1bw"))
    t = c2.agg(F.count("*").alias("ntypes"))
    model = (
        c2.join(c1, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                -F.log2(
                    F.expr(f"cast(({_KN_NUM_SPARK}) as double)")
                    / F.expr(f"cast(({_KN_DEN_SPARK}) as double)")
                ),
                4,
            ).alias("kn"),
            F.round(
                -F.log2(F.col("c12").cast("double") / F.col("c1")), 4
            ).alias("mle"),
        )
    )
    scored = sbg.join(model, ["w1", "w2"])
    return scored.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.sum(F.when(F.col("c12") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        hu_ratio(
            "sum(cnt * cast(kn as decimal(18,6))) * 1000000",
            "sum(cnt) * cast(1000000 as decimal(38,0))",
            6,
        ).alias("avg_kn_surprisal"),
        hu_ratio(
            "sum(cnt * cast(mle as decimal(18,6))) * 1000000",
            "sum(cnt) * cast(1000000 as decimal(38,0))",
            6,
        ).alias("avg_mle_surprisal"),
    )


# ------------------------------------------- vocab coverage curve

_VCC_KS = (1, 2, 4, 8, 16)  # power-of-two checkpoints + the full-vocab row


@query(
    "corpus_vocab_coverage_curve",
    oracle=f"""
    WITH tk AS (SELECT unnest({DUCK_TOKENS}) AS w FROM documents),
    ty AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY w),
    rk AS (
      SELECT w, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
             SUM(c) OVER (ORDER BY c DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER () AS tot,
             COUNT(*) OVER () AS nty
      FROM ty)
    SELECT CAST(rk AS BIGINT) AS k,
           CAST(cum AS BIGINT) AS covered_tokens,
           CAST(tot AS BIGINT) AS total_tokens,
           {hu_ratio_sql("cum", "tot", 6)} AS coverage
    FROM rk WHERE rk IN {_VCC_KS} OR rk = nty
    """,
)
def corpus_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design readout: what
    fraction of all token OCCURRENCES the top-k types cover, at
    power-of-two k plus the full-vocab row.  The elbow of this curve is
    where a vocab budget stops paying (the Zipf head carries most of
    the mass); a flat curve flags templated/low-diversity sources
    before a tokenizer is trained on them.

    The type table is vocabulary-sized, but its ranked prefix sum must
    not funnel 100 TB of vocab through one task: rank AND running sum
    both come from the range-partition global-rank recipe
    (``with_global_rank(sum_col=...)`` — the ``_cum``/``_tot`` exact
    decimal prefix sum), so the curve read-off is a filter on ``_rk``.
    Coverage renders via the integer half-up recipe, never
    round(double, N) of a count ratio."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    ty = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("decimal(38,0)").alias("c"))
    )
    ranked = with_global_rank(
        ty, [F.col("c").desc(), "w"], sum_col="c"
    )
    ks = ", ".join(str(k) for k in _VCC_KS)
    return ranked.filter(
        F.expr(f"_rk IN ({ks})") | (F.col("_rk") == F.col("_n"))
    ).select(
        F.col("_rk").cast("bigint").alias("k"),
        F.col("_cum").cast("bigint").alias("covered_tokens"),
        F.col("_tot").cast("bigint").alias("total_tokens"),
        hu_ratio("_cum", "_tot", 6).alias("coverage"),
    )


# --------------------------------------------- PMI collocations

_PMI_MIN_COUNT = 5   # frequency floor: PMI is noise below this
_PMI_TOPK = 50


@query(
    "corpus_pmi_collocations",
    oracle=f"""
    WITH tk AS (SELECT {DUCK_TOKENS} AS toks FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(toks)), i ->
                    list_extract(toks, i))) AS w1,
                  unnest(list_transform(range(1, len(toks)), i ->
                    list_extract(toks, i + 1))) AS w2
           FROM tk),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    c2 AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM bg),
    scored AS (
      SELECT c12.w1, c12.w2, c12.c12, c1.c1, c2.c2,
             round(log2((CAST(c12.c12 AS DOUBLE) * n.n)
                        / (CAST(c1.c1 AS DOUBLE) * c2.c2)), 4) AS pmi
      FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
      WHERE c12.c12 >= {_PMI_MIN_COUNT}),
    top AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rk
      FROM scored ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOPK})
    SELECT CAST(rk AS BIGINT) AS rk, w1, w2,
           CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
           CAST(c2 AS BIGINT) AS c2, pmi
    FROM top
    """,
)
def corpus_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOPK} bigram collocations by pointwise mutual
    information, PMI = log2(c12*N / (c1*c2)) with a count floor of
    {_PMI_MIN_COUNT} — the classic collocation extractor (phrases like
    named entities and technical terms surface at high PMI; the floor
    kills the hapax noise PMI is notorious for).  c1 counts the word
    in FIRST position and c2 in SECOND position (the directed bigram
    convention), so the model matches quality_bigram_surprisal's count
    tables.

    Determinism: counts are exact integers; each PMI is log2 of an
    IDENTICALLY-computed double — int-to-double casts are correctly
    rounded in both engines and stay exact while each product is
    < 2^53 (c12*N binds first: ~9e15, i.e. past-1e11-bigram corpora
    pair a hot collocation with the corpus total; beyond that compute
    in decimal and cast the RATIO once) — quantized round(4) BEFORE
    ranking; the top-k orders by (rounded score, w1, w2), never a raw
    float (the ranking-windows rule).  Scale shape: three
    bigram/unigram aggregates (map-side combinable) + two equi-joins on
    token keys; the floor prunes before the join; top-k is
    TakeOrdered + a rank window over <= {_PMI_TOPK} rows."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(tokens("text").alias("toks"))
    bg = tk.select(
        F.posexplode(
            F.expr(
                # slice-of-sequence guard (quality_bigram_surprisal):
                # never a descending sequence on 0/1-token docs
                "transform(slice(sequence(0, size(toks)), 2,"
                " greatest(size(toks) - 1, 0)), i ->"
                " named_struct('w1', element_at(toks, i),"
                " 'w2', element_at(toks, i + 1)))"
            )
        ).alias("pos", "s")
    ).select(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_COUNT)
    )
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    c2 = bg.groupBy("w2").agg(F.count("*").alias("c2"))
    n = bg.agg(F.count("*").alias("n"))
    scored = (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            F.round(
                F.log2(
                    (F.col("c12").cast("double") * F.col("n"))
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    top = (
        scored.orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOPK)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("pmi"), "w1", "w2")),
        )
    )
    return top.select(
        F.col("rk").cast("bigint").alias("rk"),
        "w1",
        "w2",
        F.col("c12").cast("bigint").alias("c12"),
        F.col("c1").cast("bigint").alias("c1"),
        F.col("c2").cast("bigint").alias("c2"),
        "pmi",
    )


# --------------------------------------------- lang-ID agreement (kappa)


def _kappa_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.numeric import (
        hu_ratio_signed_sql,
        hu_ratio_sql,
    )

    kappa = hu_ratio_signed_sql(
        "CAST(g.n AS HUGEINT) * g.diag - rc.rcsum",
        "CAST(g.n AS HUGEINT) * g.n - rc.rcsum", 6)
    acc = hu_ratio_sql("g.diag", "g.n", 6)
    prec = hu_ratio_sql("cm.tp", "cm.tp + cm.fp", 6)
    rec = hu_ratio_sql("cm.tp", "cm.tp + cm.fn", 6)
    f1 = hu_ratio_sql("2 * cm.tp", "2 * cm.tp + cm.fp + cm.fn", 6)
    return f"""
    WITH tok AS (SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents),
    scored AS (SELECT lang, {_argmax_case(_score_exprs('duckdb'))} AS pred
               FROM tok),
    conf AS (SELECT lang, pred, COUNT(*) AS n FROM scored GROUP BY 1, 2),
    rows_ AS (SELECT lang AS c, SUM(n) AS rn FROM conf GROUP BY 1),
    cols_ AS (SELECT pred AS c, SUM(n) AS cn FROM conf GROUP BY 1),
    g AS (SELECT SUM(n) AS n,
                 SUM(CASE WHEN lang = pred THEN n ELSE 0 END) AS diag
          FROM conf),
    rc AS (SELECT SUM(CAST(rows_.rn AS HUGEINT) * cols_.cn) AS rcsum
           FROM rows_ JOIN cols_ USING (c)),
    cm AS (
      SELECT rows_.c AS lang,
             COALESCE((SELECT n FROM conf
                       WHERE conf.lang = rows_.c AND conf.pred = rows_.c),
                      0) AS tp,
             COALESCE((SELECT cn FROM cols_ WHERE cols_.c = rows_.c), 0)
               - COALESCE((SELECT n FROM conf
                           WHERE conf.lang = rows_.c
                             AND conf.pred = rows_.c), 0) AS fp,
             rows_.rn
               - COALESCE((SELECT n FROM conf
                           WHERE conf.lang = rows_.c
                             AND conf.pred = rows_.c), 0) AS fn
      FROM rows_)
    SELECT cm.lang, CAST(cm.tp AS BIGINT) AS tp,
           CAST(cm.fp AS BIGINT) AS fp, CAST(cm.fn AS BIGINT) AS fn,
           CASE WHEN cm.tp + cm.fp = 0 THEN NULL ELSE {prec} END
             AS precision_,
           CASE WHEN cm.tp + cm.fn = 0 THEN NULL ELSE {rec} END AS recall_,
           CASE WHEN 2 * cm.tp + cm.fp + cm.fn = 0 THEN NULL ELSE {f1} END
             AS f1,
           {acc} AS accuracy,
           CASE WHEN CAST(g.n AS HUGEINT) * g.n = rc.rcsum THEN NULL
                ELSE {kappa} END AS kappa
    FROM cm CROSS JOIN g CROSS JOIN rc
    """


@query("lang_id_kappa", oracle=_kappa_oracle())
def lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement between the heuristic language
    identifier and the labels: Cohen's kappa plus per-class
    precision/recall/F1 — the eval readout that says whether the cheap
    filter's accuracy beats what class imbalance alone would produce
    (accuracy flatters a classifier that just predicts 'en').

    kappa = (po - pe)/(1 - pe) CLEARED OF ITS NESTED RATIOS:
    (n*diag - sum_c row_c*col_c) / (n^2 - sum_c row_c*col_c) — one
    exact integer rational rendered by the signed half-up recipe (a
    degenerate marginal with pe = 1 renders NULL through the lazy
    CASE); precision/recall/F1 are exact integer ratios per class with
    empty-denominator NULL guards.  int128 headroom: n^2 * 10^6 * 2
    <= 1e38 -> ~7e15 documents.  Scale shape: the same scan-side
    scoring as lang_id_confusion into a <=|langs|^2-row matrix;
    everything after runs on 5-row marginals."""
    from eecs485_p4_mapreduce_spark.functions.numeric import (
        hu_ratio,
        hu_ratio_signed,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.withColumn("toks", tokens("text")).select(
        "lang", F.expr(_argmax_case(_score_exprs("spark"))).alias("pred")
    )
    conf = pin(
        scored.groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
    )  # marginals + diagonal + per-class all read it
    rows_ = conf.groupBy(F.col("lang").alias("c")).agg(
        F.sum("n").alias("rn")
    )
    cols_ = conf.groupBy(F.col("pred").alias("c")).agg(
        F.sum("n").alias("cn")
    )
    g = conf.agg(
        F.sum("n").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("pred"), F.col("n")).otherwise(0))
        .alias("diag"),
    )
    rc = (
        rows_.join(cols_, "c")
        .agg(
            F.sum(F.expr("cast(rn as decimal(38,0)) * cn")).alias("rcsum")
        )
    )
    diag = conf.filter(F.col("lang") == F.col("pred")).select(
        F.col("lang").alias("c"), F.col("n").alias("tp")
    )
    cm = (
        rows_.join(F.broadcast(cols_), "c", "left")
        .join(F.broadcast(diag), "c", "left")
        .select(
            F.col("c").alias("lang"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
            (F.coalesce("cn", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias(
                "fp"
            ),
            (F.col("rn") - F.coalesce("tp", F.lit(0))).alias("fn"),
        )
    )
    prec = hu_ratio("tp", "tp + fp", 6)
    rec = hu_ratio("tp", "tp + fn", 6)
    f1 = hu_ratio("2 * tp", "2 * tp + fp + fn", 6)
    acc = hu_ratio("diag", "n", 6)
    kappa = hu_ratio_signed(
        "cast(n as decimal(38,0)) * diag - rcsum",
        "cast(n as decimal(38,0)) * n - rcsum",
        6,
    )
    return cm.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(rc)).select(
        "lang",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(None))
        .otherwise(prec)
        .alias("precision_"),
        F.when(F.col("tp") + F.col("fn") == 0, F.lit(None))
        .otherwise(rec)
        .alias("recall_"),
        F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(None))
        .otherwise(f1)
        .alias("f1"),
        acc.alias("accuracy"),
        F.when(
            F.expr("cast(n as decimal(38,0)) * n = rcsum"), F.lit(None)
        )
        .otherwise(kappa)
        .alias("kappa"),
    )


# --------------------------------------------- Simpson diversity


def _simpson_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio_sql

    # 1 - sum n_i(n_i-1) / (N(N-1)) rendered as ONE rational:
    # (N(N-1) - sum n_i(n_i-1)) / (N(N-1))
    div = hu_ratio_sql(
        "CAST(n AS HUGEINT) * (n - 1) - ssq",
        "CAST(n AS HUGEINT) * (n - 1)", 6)
    return f"""
    WITH tok AS (
      SELECT source, unnest({DUCK_TOKENS}) AS w FROM documents),
    c AS (SELECT source, w, COUNT(*) AS ni FROM tok GROUP BY 1, 2),
    g AS (
      SELECT source, SUM(ni) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             SUM(CAST(ni AS HUGEINT) * (ni - 1)) AS ssq
      FROM c GROUP BY 1)
    SELECT source, CAST(n AS BIGINT) AS n_tokens, n_types,
           CASE WHEN n < 2 THEN NULL ELSE {div} END AS simpson_diversity
    FROM g
    """


@query("corpus_simpson_diversity", oracle=_simpson_oracle())
def corpus_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index of the token distribution per source:
    1 - sum n_i(n_i - 1)/(N(N - 1)) — the probability two tokens drawn
    without replacement are DIFFERENT types.  The ecology-standard
    diversity measure next to quality_token_entropy: entropy weights
    the tail, Simpson weights the head, so a boilerplate-dominated
    source drops Simpson first.

    Determinism: unlike entropy (log2 per type), Simpson is ONE exact
    integer rational — (N(N-1) - sum n_i(n_i-1)) / (N(N-1)) via the
    half-up recipe; no transcendental anywhere.  N < 2 renders NULL
    through the lazy CASE (ANSI divide-by-zero rule).  int128
    headroom: sum n_i(n_i-1) <= N^2 -> ~7e15 tokens per source through
    the render factor.  Scale shape: one (source, type) count
    (map-side combinable), one source-cardinality rollup."""
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("w"))
    c = tok.groupBy("source", "w").agg(F.count("*").alias("ni"))
    g = c.groupBy("source").agg(
        F.sum("ni").alias("n"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(
            F.expr("cast(ni as decimal(38,0)) * (ni - 1)")
        ).alias("ssq"),
    )
    div = hu_ratio(
        "cast(n as decimal(38,0)) * (n - 1) - ssq",
        "cast(n as decimal(38,0)) * (n - 1)",
        6,
    )
    return g.select(
        "source",
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_types",
        F.when(F.col("n") < 2, F.lit(None)).otherwise(div).alias(
            "simpson_diversity"
        ),
    )


# preference-pair quality key: the quality_score composite cleared of
# its two divisions (x n_words * n_chars_txt) and rendered half-up onto
# the 1e-6 integer grid — same value to 1e-6, integer sort key.
_PREF_Q_NUM = (
    "2 * cast(n_stop as decimal(38,0)) * n_chars_txt"
    " + CASE WHEN n_words >= 20 THEN 1 ELSE 0 END"
    "   * cast(n_words as decimal(38,0)) * n_chars_txt"
    " - 5 * cast(n_punct as decimal(38,0)) * n_words"
)
_PREF_Q_DEN = "cast(n_words as decimal(38,0)) * n_chars_txt"


@query(
    "preference_pairs_quality",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             len({DUCK_TOKENS}) AS n_words,
             length(text) AS n_chars_txt,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
             len(list_filter({DUCK_TOKENS},
                 t -> list_contains(['the','a','and','of','to','is','in'],
                                    t))) AS n_stop
      FROM documents),
    q AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN (2 * CAST(n_stop AS HUGEINT) * n_chars_txt
                   + CASE WHEN n_words >= 20 THEN 1 ELSE 0 END
                     * CAST(n_words AS HUGEINT) * n_chars_txt
                   - 5 * CAST(n_punct AS HUGEINT) * n_words) >= 0
             THEN (2 * (2 * CAST(n_stop AS HUGEINT) * n_chars_txt
                   + CASE WHEN n_words >= 20 THEN 1 ELSE 0 END
                     * CAST(n_words AS HUGEINT) * n_chars_txt
                   - 5 * CAST(n_punct AS HUGEINT) * n_words) * 1000000
                   + CAST(n_words AS HUGEINT) * n_chars_txt)
                  // (2 * CAST(n_words AS HUGEINT) * n_chars_txt)
             ELSE -((2 * -(2 * CAST(n_stop AS HUGEINT) * n_chars_txt
                   + CASE WHEN n_words >= 20 THEN 1 ELSE 0 END
                     * CAST(n_words AS HUGEINT) * n_chars_txt
                   - 5 * CAST(n_punct AS HUGEINT) * n_words) * 1000000
                   + CAST(n_words AS HUGEINT) * n_chars_txt)
                  // (2 * CAST(n_words AS HUGEINT) * n_chars_txt))
             END AS BIGINT) AS q6
      FROM feat
      WHERE n_words >= 1),
    r AS (
      SELECT lang, doc_id, q6,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY q6 DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM q),
    pairs AS (
      SELECT a.lang, a.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
             a.q6 - b.q6 AS margin6
      FROM r a JOIN r b
        ON b.lang = a.lang AND b.rk = a.n + 1 - a.rk
      WHERE a.rk <= a.n // 2)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(margin6) AS DOUBLE) / 1000000 AS min_margin,
           CAST(MAX(margin6) AS DOUBLE) / 1000000 AS max_margin,
           {{mean}} AS mean_margin
    FROM pairs GROUP BY lang
    """.format(mean=hu_ratio_sql(
        "CAST(SUM(margin6) AS HUGEINT)",
        "CAST(COUNT(*) AS HUGEINT) * 1000000", 6)),
)
def preference_pairs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO-style
    training data: within each language stratum, rank documents by the
    quality_score composite and pair BEST-with-WORST (rank i with rank
    n+1-i) — the max-margin pairing that gives a preference dataset its
    strongest signal — then report per-stratum pair counts and margin
    statistics (a margin near zero means the stratum can't supply
    informative pairs).

    Determinism: the quality composite is cleared of its two divisions
    and rendered half-up onto the 1e-6 integer grid (_PREF_Q_NUM/DEN —
    signed: punctuation-heavy docs go negative), so the ranking is an
    integer sort with doc_id tie-break; margins are integer
    differences; the mean margin is one exact rational.  Zero-word
    (empty / punctuation-only) docs are EXCLUDED before ranking — their
    quality denominator is 0 (ANSI divide-by-zero), and an unjudgeable
    doc can't anchor a preference pair; filtering beats a NULL q6,
    whose DESC NULL placement would need per-engine pinning.  Scale shape:
    the rank is a grouped GLOBAL rank (few/huge lang groups — the
    functions/ranking.py partition_cols discipline, rfm precedent);
    pairing is one self-join on the mirrored rank; everything after is
    lang-cardinality."""
    from eecs485_p4_mapreduce_spark.functions.numeric import (
        hu_ratio,
        hu_ratio_signed,
    )
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    # feat re-tokenizes the text for three feature columns in one
    # projection — spread the compact scan so it runs wide
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens("text")
    stop_en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    feat = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_words"),
        F.length("text").alias("n_chars_txt"),
        F.length(F.regexp_replace("text", "[^.,!?;:]", "")).alias("n_punct"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_en, t))).alias(
            "n_stop"
        ),
    )
    q = feat.filter(F.col("n_words") >= 1).select(
        "doc_id",
        "lang",
        F.expr(
            "cast(CASE WHEN ({num}) >= 0"
            " THEN (2 * ({num}) * 1000000 + ({den})) div (2 * ({den}))"
            " ELSE -((2 * -({num}) * 1000000 + ({den})) div (2 * ({den})))"
            " END as bigint)".format(num=_PREF_Q_NUM, den=_PREF_Q_DEN)
        ).alias("q6"),
    )
    r = with_global_rank(
        q,
        [F.col("q6").desc(), F.col("doc_id")],
        partition_cols=["lang"],
    ).select("lang", "doc_id", "q6", F.col("_rk").alias("rk"), F.col("_n").alias("n"))
    a = r.filter(F.col("rk") <= F.expr("n div 2")).select(
        "lang",
        F.col("doc_id").alias("chosen_doc"),
        F.col("q6").alias("qa"),
        (F.col("n") + 1 - F.col("rk")).alias("mate"),
    )
    b = r.select(
        F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("q6").alias("qb"),
        F.col("rk").alias("rk_b"),
    )
    pairs = a.join(
        b,
        (F.col("lang_b") == F.col("lang")) & (F.col("rk_b") == F.col("mate")),
    ).select("lang", (F.col("qa") - F.col("qb")).alias("margin6"))
    return pairs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.min("margin6").cast("double") / 1000000).alias("min_margin"),
        (F.max("margin6").cast("double") / 1000000).alias("max_margin"),
        hu_ratio(
            "cast(sum(margin6) as decimal(38,0))",
            "cast(count(*) as decimal(38,0)) * 1000000",
            6,
        ).alias("mean_margin"),
    )


# --------------------------------------------- held-out unigram perplexity


def _unigram_ppl_oracle() -> str:
    oov = hu_ratio_sql("g.oov_cnt", "g.n_tokens", 6)
    bits = hu_ratio_sql(
        "g.snum", "CAST(g.n_tokens AS HUGEINT) * 10000", 6)
    return f"""
    WITH trtok AS (
      SELECT unnest({DUCK_TOKENS}) AS w FROM documents
      WHERE doc_id % 2 = 0),
    trc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM trtok GROUP BY 1),
    tv AS (SELECT CAST(COALESCE(SUM(cw), 0) AS BIGINT) AS t,
                  CAST(COUNT(*) AS BIGINT) AS v
           FROM trc),
    tetok AS (
      SELECT lang, unnest({DUCK_TOKENS}) AS w FROM documents
      WHERE doc_id % 2 = 1),
    tec AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tetok GROUP BY 1, 2),
    sc AS (
      SELECT tec.lang, tec.cnt,
             CASE WHEN trc.cw IS NULL THEN tec.cnt ELSE 0 END AS oov,
             CAST(CAST(round(-log2(CAST(COALESCE(trc.cw, 0) + 1 AS DOUBLE)
                                   / (tv.t + tv.v + 1)), 4)
                       AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s4
      FROM tec LEFT JOIN trc USING (w) CROSS JOIN tv),
    g AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(oov) AS BIGINT) AS oov_cnt,
             CAST(SUM(CAST(cnt AS HUGEINT) * s4) AS HUGEINT) AS snum
      FROM sc GROUP BY 1)
    SELECT g.lang, g.n_tokens, {oov} AS oov_share, {bits} AS bits_per_token
    FROM g
    """


@query("token_unigram_perplexity_heldout", oracle=_unigram_ppl_oracle())
def token_unigram_perplexity_heldout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Held-out unigram language-model cross-entropy per language: train
    an add-one-smoothed unigram LM on the even-doc_id half of the
    corpus, score the odd half, and report bits/token + OOV share per
    lang — the classic intrinsic LM eval and the quality signal CCNet
    buckets on, but measured OUT of sample (quality_perplexity_buckets
    scores in-sample; a held-out split is what catches memorized
    boilerplate).

    Determinism: per-type surprisal -log2((c_w + 1)/(T + V' )) with
    V' = V + 1 (the unseen-type mass) is a correctly-rounded double of
    exact integer counts, quantized round(4) BEFORE the sums (the
    kl_nats discipline) and carried as the 1e4-scaled BIGINT s4 (the
    Adamic-Adar integer-partial-sum lesson); per-lang bits/token and
    oov_share are then single exact rationals via the half-up render.
    Degenerate contract (empty train half): with T = V = 0 the add-one
    term is -log2(1/(0+0+1)) = 0 for every test type, so bits_per_token
    renders 0.0 and oov_share 1.0 — identically in both engines (no
    NULL; COALESCE(cw,0)+1 keeps every path defined; round-12 ADVICE
    corrected an earlier claim that this propagated NULL).  Headroom: cnt * s4 ~ 1e5-scaled
    token counts — int128 past 1e30 tokens.  Scale shape: two token
    explosions (train/test) into (type) and (lang, type) counts — all
    map-side combinable — one vocab-sized left join, one 2-int
    broadcast, one lang-cardinality rollup."""
    docs = load_table(spark, sf_dir, "documents")
    trc = (
        docs.filter(F.expr("doc_id % 2 = 0"))
        .select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cw"))
    )
    tv = trc.agg(
        F.coalesce(F.sum("cw"), F.lit(0)).cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("v"),
    )
    tec = (
        docs.filter(F.expr("doc_id % 2 = 1"))
        .select("lang", F.explode(tokens("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    sc = (
        tec.join(trc, "w", "left")
        .crossJoin(F.broadcast(tv))
        .select(
            "lang",
            "cnt",
            F.when(F.col("cw").isNull(), F.col("cnt"))
            .otherwise(F.lit(0))
            .alias("oov"),
            F.expr(
                "cast(cast(round(-log2(cast(coalesce(cw, 0) + 1 as double)"
                " / (t + v + 1)), 4) as decimal(18,4)) * 10000 as bigint)"
            ).alias("s4"),
        )
    )
    g = sc.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("oov_cnt"),
        F.sum(F.expr("cast(cnt as decimal(38,0)) * s4")).alias("snum"),
    )
    return g.select(
        "lang",
        "n_tokens",
        hu_ratio("oov_cnt", "n_tokens", 6).alias("oov_share"),
        hu_ratio(
            "snum", "cast(n_tokens as decimal(38,0)) * 10000", 6
        ).alias("bits_per_token"),
    )


# --------------------------------------------- rank-biased overlap (RBO)

_RBO_D = 50  # evaluation depth
# (1-p) p^(d-1) at p = 9/10, rendered half-up onto the 1e-12 integer
# grid from exact Fractions at import time (the resample_ewma_daily
# precedent: NEVER query-time pow — libm divergence), so both dialects
# consume identical integer literals.
def _rbo_w12() -> list[int]:
    from fractions import Fraction

    p = Fraction(9, 10)
    out = []
    for d in range(1, _RBO_D + 1):
        w = (1 - p) * p ** (d - 1)
        out.append((2 * w.numerator * 10**12 + w.denominator)
                   // (2 * w.denominator))
    return out


_RBO_W12 = _rbo_w12()


def _rbo_oracle() -> str:
    vals = ", ".join(f"({d + 1}, {w})" for d, w in enumerate(_RBO_W12))
    rbo = hu_ratio_sql("s.rbo18", "CAST(1000000000000000000 AS HUGEINT)", 6)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({DUCK_TOKENS}) AS w FROM documents),
    tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
    df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS cnt
           FROM tok GROUP BY 1),
    ta AS (SELECT w, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS ra
           FROM tf ORDER BY cnt DESC, w LIMIT {_RBO_D}),
    tb AS (SELECT w, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rb
           FROM df ORDER BY cnt DESC, w LIMIT {_RBO_D}),
    pr AS (SELECT ta.w, CASE WHEN ta.ra > tb.rb THEN ta.ra ELSE tb.rb END
                    AS mx
           FROM ta JOIN tb USING (w)),
    dw AS (SELECT * FROM (VALUES {vals}) AS t(d, w12)),
    ag AS (SELECT dw.d, dw.w12,
                  CAST(COUNT(pr.w) AS BIGINT) AS inter
           FROM dw LEFT JOIN pr ON pr.mx <= dw.d
           GROUP BY 1, 2),
    s AS (SELECT CAST(SUM(w12 * ((2 * inter * 1000000 + d) // (2 * d)))
                      AS HUGEINT) AS rbo18,
                 CAST(MAX(CASE WHEN d = {_RBO_D} THEN inter END)
                      AS BIGINT) AS n_common
          FROM ag)
    SELECT CAST({_RBO_D} AS BIGINT) AS depth, s.n_common,
           {rbo} AS rbo_min
    FROM s
    """


@query("corpus_rank_biased_overlap", oracle=_rbo_oracle())
def corpus_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (RBO, p = 0.9, depth 50) between the corpus'
    two canonical term rankings — by collection frequency (tf) and by
    document frequency (df) — the top-weighted rank-correlation a
    curation pipeline uses to ask "do burst-heavy terms distort the
    head of the vocabulary?" (Spearman over the full vocab is
    tail-dominated; RBO weights depth d by (1-p)p^(d-1)).

    Determinism: the geometric weights are EXACT-Fraction-rendered
    1e-12 integer literals computed at import time (the EWMA
    precedent — query-time pow would be a libm divergence); per-depth
    prefix agreement |A_d ∩ B_d|/d lands on the 1e-6 half-up grid as
    an integer (each term's entry depth is max(ra, rb), so agreement
    is a <=50x50 theta-join count, zero-filled from the literal depth
    table); the truncated RBO_min sum is then an exact <=1e18 int64
    rendered once.  Both top-50 lists use (count DESC, term)
    tie-breaks; the rank windows run over the 50-row TakeOrdered
    results (adjudicated constant-size).  Scale shape: one token
    explosion into tf/df counts (map-side combinable; df's distinct is
    a (doc_id, w) pre-aggregate), two top-50 TakeOrdereds, then
    constant-size frames."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    tf = tok.groupBy("w").agg(F.count("*").cast("bigint").alias("cnt"))
    df = (
        tok.select("doc_id", "w")
        .distinct()
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )

    def _top(frame: DataFrame, rcol: str) -> DataFrame:
        return (
            frame.orderBy(F.desc("cnt"), "w")
            .limit(_RBO_D)
            .withColumn(
                rcol,
                F.row_number().over(Window.orderBy(F.desc("cnt"), "w")),
            )
            .select("w", rcol)
        )

    ta, tb = _top(tf, "ra"), _top(df, "rb")
    pr = ta.join(tb, "w").select(
        "w", F.greatest("ra", "rb").alias("mx")
    )
    dw = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d + 1).alias("d"),
                        F.lit(w).alias("w12"),
                    )
                    for d, w in enumerate(_RBO_W12)
                ]
            )
        ).alias("s")
    ).select("s.d", "s.w12")
    ag = (
        dw.join(F.broadcast(pr), F.col("mx") <= F.col("d"), "left")
        .groupBy("d", "w12")
        .agg(F.count("w").cast("bigint").alias("inter"))
    )
    s = ag.agg(
        F.sum(
            F.expr("w12 * ((2 * inter * 1000000 + d) div (2 * d))")
        )
        .cast("decimal(38,0)")
        .alias("rbo18"),
        F.max(F.when(F.col("d") == _RBO_D, F.col("inter")))
        .cast("bigint")
        .alias("n_common"),
    )
    return s.select(
        F.lit(_RBO_D).cast("bigint").alias("depth"),
        "n_common",
        hu_ratio("rbo18", "cast(1000000000000000000 as decimal(38,0))", 6)
        .alias("rbo_min"),
    )
