"""Search-engine retrieval operators over the documents corpus.

The reference framework exists to build a search engine's inverted index
(its course's companion project); these queries close the loop by
actually SERVING retrieval from that index shape, declaratively:

- ``search_phrase_positions``  positional-index phrase match: build the
  (term, doc, position) posting relation and intersect adjacent
  positions — the standard phrase-query plan.
- ``search_tfidf_rank``        ranked retrieval: score documents against
  a term query by tf x idf and return the global top-k.

Both stay JVM-side end to end.  The query terms are pushed into the
scan-side filter BEFORE any aggregation, so the posting construction
only materializes the terms the query touches — at 100 TB the posting
relation for 3 terms is tiny regardless of corpus size (and in a
serving system it is the stored index this plan reads instead of
building).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import local_frame, pin
from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS, tokens
from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio, hu_ratio_sql
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table

_PHRASE = ("fast", "table")        # adjacent-pair phrase query
_QTERMS = ("fast", "table", "scan")  # ranked-retrieval query bag
_TOPK = 10


@query(
    "search_phrase_positions",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    post AS (SELECT doc_id, i - 1 AS pos, tk[i] AS term
             FROM t0, unnest(range(1, len(tk) + 1)) AS u(i)
             WHERE tk[i] IN ('{_PHRASE[0]}', '{_PHRASE[1]}')),
    hits AS (SELECT a.doc_id, a.pos
             FROM post a JOIN post b
               ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             WHERE a.term = '{_PHRASE[0]}' AND b.term = '{_PHRASE[1]}')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id
    """,
)
def search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase query '{' '.join(_PHRASE)}' via positional-index
    intersection: postings (doc, position) for each phrase term,
    adjacent positions joined on (doc_id, pos+1) — the classic
    phrase-search plan over the inverted index the reference's MapReduce
    jobs were built to produce.

    The term filter sits INSIDE the posting generation, so only the two
    queried terms' postings exist anywhere in the plan; the intersection
    is a hash equi-join on (doc_id, pos).  Serving note: a real engine
    reads these postings from the stored index instead of re-deriving
    them — the join shape is identical."""
    docs = load_table(spark, sf_dir, "documents")
    post = (
        docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "term"))
        .filter(F.col("term").isin(*_PHRASE))
    )
    a = post.filter(F.col("term") == _PHRASE[0]).select("doc_id", "pos")
    b = post.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    hits = a.join(b, ["doc_id", "pos"])
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )


@query(
    "search_tfidf_rank",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents),
    qt AS (SELECT doc_id, term FROM tk
           WHERE term IN ({', '.join(f"'{t}'" for t in _QTERMS)})),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id,
             COUNT(*) AS n_terms_matched,
             CAST(SUM(CAST(round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 4)
                   AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
      GROUP BY tf.doc_id),
    ranked AS (
      SELECT doc_id, n_terms_matched, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM scored)
    SELECT doc_id, CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
           score, rk
    FROM ranked WHERE rk <= {_TOPK}
    """,
)
def search_tfidf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval for the query bag {_QTERMS}: per-document
    sum of tf x idf over matched terms, global top-{_TOPK}.

    Per-term contributions are quantized at 1e-4 before the
    decimal-exact document sum (the quality_bigram_surprisal ulp
    rationale), so the ORDER BY on the rounded score ties out
    bit-identically across engines, with doc_id as the total-order
    tie-break.  The query-term filter precedes every aggregate, so tf
    and df are built from 3 terms' postings, not the corpus vocabulary;
    the final top-k is a single tiny sort over matched docs only."""
    docs = load_table(spark, sf_dir, "documents")
    qt = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(*_QTERMS))
    )
    tf = qt.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = qt.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    scored = (
        tf.join(F.broadcast(df), "term")
        .withColumn(
            "contrib",
            F.round(
                F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 4
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            # exact 4-decimal contribution sum: the double cast needs
            # no re-round (never at a 6-decimal half)
            F.sum(F.col("contrib").cast("decimal(18,6)")).cast("double")
            .alias("score"),
        )
    )
    # global top-k via TakeOrdered (per-partition top-k + driver merge;
    # a rank-filter window would sort EVERY matched doc in one task when
    # a query term is common), then rank the <=_TOPK-row result -- the
    # only window left is constant-size
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "n_terms_matched", "score", "rk")
    )


_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "search_bm25_rank",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl
              FROM dl),
    qt AS (SELECT doc_id, unnest(toks) AS term FROM tk),
    qf AS (SELECT doc_id, term FROM qt
           WHERE term IN ({', '.join(f"'{t}'" for t in _QTERMS)})),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qf GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             COUNT(*) AS n_terms_matched,
             CAST(SUM(CAST(round(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / stats.avgdl)), 4)
               AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id),
    ranked AS (
      SELECT doc_id, n_terms_matched, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM scored)
    SELECT doc_id, CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
           score, rk
    FROM ranked WHERE rk <= {_TOPK}
    """,
)
def search_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking for the query bag {_QTERMS} (k1={_BM25_K1},
    b={_BM25_B}) — the production default tf-idf variant, adding
    saturating term frequency and document-length normalization.

    avgdl comes from a decimal-exact corpus aggregate (broadcast
    scalar); per-term BM25 contributions are 1e-4-quantized before the
    decimal document sum so the global ranking ties out bitwise (the
    search_tfidf_rank recipe with the length-normalized formula)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", tokens("text").alias("toks"))
    dl = tk.select("doc_id", F.size("toks").alias("dl"))
    srow = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("dl").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
            "avgdl"
        ),
    ).collect()[0]
    n_docs, avgdl = srow["n_docs"], srow["avgdl"]
    qf = tk.select("doc_id", F.explode("toks").alias("term")).filter(
        F.col("term").isin(*_QTERMS)
    )
    tf = qf.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = qf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tfn = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .withColumn("contrib", F.round(idf * tfn, 4))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            # exact 4-decimal contribution sum: the double cast needs
            # no re-round (never at a 6-decimal half)
            F.sum(F.col("contrib").cast("decimal(18,6)")).cast("double")
            .alias("score"),
        )
    )
    # global top-k via TakeOrdered (per-partition top-k + driver merge;
    # a rank-filter window would sort EVERY matched doc in one task when
    # a query term is common), then rank the <=_TOPK-row result -- the
    # only window left is constant-size
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "n_terms_matched", "score", "rk")
    )


_RRF_K = 60


def _rrf_oracle() -> str:
    from eecs485_p4_mapreduce_spark.plans.registry import REGISTRY

    t = REGISTRY["search_tfidf_rank"].oracle
    b = REGISTRY["search_bm25_rank"].oracle
    return f"""
    SELECT COALESCE(t.doc_id, b.doc_id) AS doc_id,
           t.rk AS tfidf_rk, b.rk AS bm25_rk,
           COALESCE(1.0 / ({_RRF_K} + t.rk), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + b.rk), 0.0) AS rrf_score,
           ROW_NUMBER() OVER (
             ORDER BY COALESCE(1.0 / ({_RRF_K} + t.rk), 0.0)
                      + COALESCE(1.0 / ({_RRF_K} + b.rk), 0.0) DESC,
                      COALESCE(t.doc_id, b.doc_id)) AS rk
    FROM ({t}) t FULL JOIN ({b}) b ON t.doc_id = b.doc_id
    """


@query("search_rrf_fusion", oracle=_rrf_oracle())
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the TF-IDF and BM25 ranked lists:
    score(d) = sum over lists of 1/(k + rank_d), k=60 -- the standard
    zero-tuning way to combine retrieval signals (and the same shape
    used to fuse lexical with vector results).

    Runs both ranked-retrieval pipelines (each already top-10 and
    term-pruned, so the fusion input is tens of rows at any corpus
    scale), full-outer-joins on doc_id, and re-ranks by the fused
    score.  Each RRF contribution is an exact 1/(k+rank) with the sum
    written in fixed list order on both engines, so the doubles agree
    bitwise; doc_id breaks score ties."""
    t = search_tfidf_rank(spark, sf_dir).select(
        "doc_id", F.col("rk").alias("tfidf_rk")
    )
    b = search_bm25_rank(spark, sf_dir).select(
        "doc_id", F.col("rk").alias("bm25_rk")
    )
    fused = t.join(b, ["doc_id"], "full")
    rrf = F.coalesce(1.0 / (_RRF_K + F.col("tfidf_rk")), F.lit(0.0)) + F.coalesce(
        1.0 / (_RRF_K + F.col("bm25_rk")), F.lit(0.0)
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "tfidf_rk", "bm25_rk", "rrf_score", "rk")
    )


_DS_MAXDF = 25   # inverted-index pruning: ignore terms in > 25 docs
_DS_TOPK = 20    # result size


@query(
    "search_docsim_sparse_cosine",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term),
    rare AS (SELECT term FROM tf GROUP BY term
             HAVING COUNT(*) <= {_DS_MAXDF}),
    rtf AS (SELECT tf.* FROM tf JOIN rare USING (term)),
    norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nn
              FROM rtf GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM rtf a JOIN rtf b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT d.doc_a, d.doc_b, d.dot,
             CAST((10000 * d.dot * d.dot) // (na.nn * nb.nn) AS BIGINT)
               AS cos2_bp
      FROM dots d
      JOIN norms na ON na.doc_id = d.doc_a
      JOIN norms nb ON nb.doc_id = d.doc_b)
    SELECT doc_a, doc_b, dot, cos2_bp
    FROM scored
    ORDER BY cos2_bp DESC, doc_a, doc_b
    LIMIT {_DS_TOPK}
    """,
)
def search_docsim_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse cosine similarity via an inverted-index
    equi-join on RARE terms (document frequency <= 25, ``_DS_MAXDF``) -- the
    document-to-document similarity join behind related-content and
    duplicate-candidate mining, in the shape that scales: pairs are
    generated ONLY for docs sharing a rare term, so the join fan-out is
    bounded by df^2 per term instead of n^2 globally (the standard
    DAAT / common-term-pruning trade, documented rather than hidden).

    Determinism discipline: raw term-frequency integer dot products and
    integer squared norms; the ranking key is squared cosine in basis
    points via integer division (10000*dot^2 div (na*nb)) with (doc_a,
    doc_b) tie-breaks -- no float ever enters the ORDER BY.  Top-20
    lowers to TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    rare = tf.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") <= _DS_MAXDF
    ).select("term")
    rtf = tf.join(rare, "term")
    norms = rtf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("nn")
    )
    a = rtf.select(F.col("doc_id").alias("doc_a"), "term", F.col("tf").alias("tfa"))
    b = rtf.select(F.col("doc_id").alias("doc_b"), "term", F.col("tf").alias("tfb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.expr("cast((10000 * dot * dot) div (na * nb) as bigint)").alias(
                "cos2_bp"
            ),
        )
        .orderBy(F.col("cos2_bp").desc(), "doc_a", "doc_b")
        .limit(_DS_TOPK)
    )


# nDCG position discounts 1/log2(i+1), i=1..10 — Python-precomputed
# literals (the quality_benford_digits convention: no query-time
# cross-engine log2), identical in both dialects by construction.
_NDCG_W = (1.0, 0.63093, 0.5, 0.430677, 0.386853,
           0.356207, 0.333333, 0.315465, 0.30103, 0.289065)
_NDCG_K = 10


def _ndcg_oracle() -> str:
    from eecs485_p4_mapreduce_spark.plans.registry import REGISTRY

    b = REGISTRY["search_bm25_rank"].oracle
    w_list = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"
    terms = ", ".join(f"'{t}'" for t in _QTERMS)
    gain = "(CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END)"
    return f"""
    WITH bm AS ({b}),
    rel AS (SELECT doc_id,
                   len(list_intersect(list_distinct({DUCK_TOKENS}),
                                      [{terms}])) AS rel
            FROM documents),
    dcg AS (SELECT SUM(CAST({gain} * ({w_list})[bm.rk] AS DECIMAL(18,6)))
              AS dcg
            FROM bm JOIN rel ON rel.doc_id = bm.doc_id
            WHERE bm.rk <= {_NDCG_K}),
    ideal AS (SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rk
              FROM rel ORDER BY rel DESC, doc_id LIMIT {_NDCG_K}),
    idcg AS (SELECT SUM(CAST({gain} * ({w_list})[rk] AS DECIMAL(18,6)))
               AS idcg
             FROM ideal)
    SELECT CAST({_NDCG_K} AS BIGINT) AS k,
           CAST(dcg.dcg AS DOUBLE) AS dcg_at_k,
           CAST(idcg.idcg AS DOUBLE) AS idcg_at_k,
           {hu_ratio_sql("dcg.dcg * 1000000", "idcg.idcg * 1000000", 6)}
             AS ndcg_at_k
    FROM dcg, idcg
    """


@query("search_ndcg_eval", oracle=_ndcg_oracle())
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: nDCG@10 of the BM25 ranked list
    against a graded relevance label (rel(doc) = number of distinct
    query-bag terms the document contains, 0..3) — the eval-harness
    readout a retrieval stack tracks per release; composes the BM25
    pipeline exactly as ``search_rrf_fusion`` does.

    Determinism: gains are exact ints via CASE (2^rel - 1); position
    discounts are Python-precomputed literals indexed by rank (never
    query-time log2); per-position contributions cast to decimal before
    the sum; the ideal list is a (rel DESC, doc_id) TakeOrdered.  Scale
    shape: relevance is one scan-side array_intersect pass; both DCG
    sums reduce <=10 rows; the only corpus-scale work is the BM25
    pipeline itself (already term-pruned)."""
    docs = load_table(spark, sf_dir, "documents")
    bm = search_bm25_rank(spark, sf_dir).filter(F.col("rk") <= _NDCG_K)
    rel = docs.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(tokens("text")),
                F.array(*[F.lit(t) for t in _QTERMS]),
            )
        ).alias("rel"),
    )
    warr = F.array(*[F.lit(w) for w in _NDCG_W])
    gain = (
        F.when(F.col("rel") == 0, 0)
        .when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .otherwise(7)
    )
    dcg = (
        bm.join(rel, "doc_id")
        .select(
            (gain * F.element_at(warr, F.col("rk").cast("int")))
            .cast("decimal(18,6)")
            .alias("c")
        )
        .agg(F.sum("c").alias("dcg"))
    )
    from pyspark.sql import Window

    ideal = (
        rel.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(_NDCG_K)
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("rel"), F.asc("doc_id")))
        )
    )
    idcg = ideal.select(
        (gain * F.element_at(warr, F.col("rk").cast("int")))
        .cast("decimal(18,6)")
        .alias("c")
    ).agg(F.sum("c").alias("idcg"))
    return (
        dcg.crossJoin(F.broadcast(idcg))  # two 1-row sides: broadcast-NL, never CartesianProduct
        .select(
            F.lit(_NDCG_K).cast("bigint").alias("k"),
            # dcg/idcg are exact 6-decimal sums (integer gain x 6-dec
            # weight literals): double casts need no re-round, and the
            # ratio renders via the half-up recipe over 10^6-scaled ints
            F.col("dcg").cast("double").alias("dcg_at_k"),
            F.col("idcg").cast("double").alias("idcg_at_k"),
            hu_ratio("dcg * 1000000", "idcg * 1000000", 6).alias("ndcg_at_k"),
        )
    )


# Reciprocal-rank literals 1/i, i=1..10 (the _NDCG_W convention: no
# query-time division on the rank, identical in both dialects).
_MRR_W = (1.0, 0.5, 0.333333, 0.25, 0.2, 0.166667,
          0.142857, 0.125, 0.111111, 0.1)
_MRR_K = 10


def _mrr_oracle() -> str:
    from eecs485_p4_mapreduce_spark.plans.registry import REGISTRY

    b = REGISTRY["search_bm25_rank"].oracle
    w_list = "[" + ", ".join(str(w) for w in _MRR_W) + "]"
    terms = ", ".join(f"'{t}'" for t in _QTERMS)
    return f"""
    WITH bm AS ({b}),
    top AS (SELECT bm.doc_id, bm.rk, list_distinct({DUCK_TOKENS}) AS toks
            FROM bm JOIN documents USING (doc_id)
            WHERE bm.rk <= {_MRR_K}),
    q AS (SELECT unnest([{terms}]) AS query_term),
    hit AS (
      SELECT q.query_term, MIN(top.rk) AS first_rank
      FROM q LEFT JOIN top ON list_contains(top.toks, q.query_term)
      GROUP BY q.query_term),
    rr AS (
      SELECT query_term,
             CAST(COALESCE(first_rank, 0) AS BIGINT) AS first_rank,
             CAST(CASE WHEN first_rank IS NULL THEN 0.0
                       ELSE ({w_list})[first_rank] END AS DOUBLE) AS rr
      FROM hit)
    SELECT query_term, first_rank, rr,
           (SELECT CAST(CAST((2 * CAST(SUM(CAST(rr AS DECIMAL(18,6)))
                                   * 1000000 AS HUGEINT) + COUNT(*))
                        // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT)
                     AS DOUBLE) / 1000000 FROM rr) AS mrr
    FROM rr
    """


@query("search_mrr_eval", oracle=_mrr_oracle())
def search_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 of the BM25 ranked list, per query term: for each term of
    the query bag, the rank of the FIRST top-10 document containing it,
    its reciprocal rank, and the bag-level mean reciprocal rank — the
    second standard retrieval-eval readout next to ``search_ndcg_eval``
    (nDCG grades the whole list, MRR grades time-to-first-hit; a fusion
    change can move them in opposite directions).

    Determinism: reciprocal ranks are Python-precomputed literals
    indexed by rank (never query-time 1/rk division); terms missing
    from the top-10 contribute exactly 0.0; MRR renders by the integer
    half-up recipe over the exact micro-rr sum (the literals have 6
    decimals, so the mean is an integer ratio).  Scale shape: the corpus-scale work is the BM25
    pipeline itself; the top-10 list joins back to documents on a
    10-key broadcast hash join, the 3-row term table is a broadcast
    nested loop over those 10 rows, and everything after is
    constant-size."""
    docs = load_table(spark, sf_dir, "documents")
    bm = search_bm25_rank(spark, sf_dir).filter(F.col("rk") <= _MRR_K)
    top = bm.join(
        docs.select("doc_id", F.array_distinct(tokens("text")).alias("toks")),
        "doc_id",
    ).select("doc_id", "rk", "toks")
    q = local_frame(spark, [(t,) for t in _QTERMS], "query_term string")
    hit = (
        F.broadcast(q)
        .join(top, F.array_contains(F.col("toks"), F.col("query_term")), "left")
        .groupBy("query_term")
        .agg(F.min("rk").alias("first_rank"))
    )
    warr = F.array(*[F.lit(w) for w in _MRR_W])
    rr = pin(hit.select(
        "query_term",
        F.coalesce(F.col("first_rank"), F.lit(0)).cast("bigint").alias(
            "first_rank"
        ),
        F.when(F.col("first_rank").isNull(), F.lit(0.0))
        .otherwise(F.element_at(warr, F.col("first_rank").cast("int")))
        .alias("rr"),
    ))
    # integer half-up: rr values are exact 6-decimal literals, so the
    # mean is an integer ratio at micro-rr scale — round(double, 6) of
    # the division is the cross-engine half-boundary risk class
    mrr = rr.agg(
        F.expr(
            "cast(cast((2 * cast(sum(cast(rr as decimal(18,6))) * 1000000"
            " as decimal(38,0)) + count(*)) div (2 * cast(count(*) as"
            " decimal(38,0))) as bigint) as double) / 1000000"
        ).alias("mrr")
    )
    return rr.crossJoin(F.broadcast(mrr))


# --------------------------------------------- MAP@10


def _map_oracle() -> str:
    from eecs485_p4_mapreduce_spark.plans.registry import REGISTRY

    b = REGISTRY["search_bm25_rank"].oracle
    terms = ", ".join(f"'{t}'" for t in _QTERMS)
    ap = hu_ratio_sql(
        "psum", "least(rel.r, {k}) * 1000000".format(k=_MRR_K), 6)
    map_ = hu_ratio_sql(
        "(SELECT SUM(CAST(COALESCE(ap, 0.0) AS DECIMAL(18,6)) * 1000000)"
        " FROM per_term)",
        "(SELECT COUNT(*) FROM per_term) * 1000000", 6)
    return f"""
    WITH bm AS ({b}),
    top AS (SELECT bm.doc_id, bm.rk, list_distinct({DUCK_TOKENS}) AS toks
            FROM bm JOIN documents USING (doc_id)
            WHERE bm.rk <= {_MRR_K}),
    q AS (SELECT unnest([{terms}]) AS query_term),
    rel AS (
      SELECT q.query_term, COUNT(d.doc_id) AS r
      FROM q LEFT JOIN documents d
        ON list_contains(list_distinct({DUCK_TOKENS.replace("text", "d.text")}), q.query_term)
      GROUP BY q.query_term),
    flags AS (
      SELECT q.query_term, top.rk,
             CASE WHEN list_contains(top.toks, q.query_term)
                  THEN 1 ELSE 0 END AS is_rel
      FROM q CROSS JOIN top),
    prec AS (
      SELECT query_term, rk, is_rel,
             SUM(is_rel) OVER (PARTITION BY query_term ORDER BY rk
                               ROWS UNBOUNDED PRECEDING) AS hits
      FROM flags),
    pterm AS (
      SELECT query_term,
             SUM(CASE WHEN is_rel = 1 THEN
                   (2 * CAST(hits AS HUGEINT) * 1000000 + rk)
                     // (2 * CAST(rk AS HUGEINT))
                 ELSE 0 END) AS psum,
             SUM(is_rel) AS n_rel_topk
      FROM prec GROUP BY query_term),
    per_term AS (
      SELECT p.query_term, CAST(rel.r AS BIGINT) AS n_relevant,
             CAST(p.n_rel_topk AS BIGINT) AS n_rel_topk,
             CASE WHEN rel.r = 0 THEN NULL ELSE {ap} END AS ap
      FROM pterm p JOIN rel ON rel.query_term = p.query_term)
    SELECT query_term, n_relevant, n_rel_topk, ap, {map_} AS map_at_k
    FROM per_term
    """


@query("search_map_eval", oracle=_map_oracle())
def search_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@{_MRR_K} of the BM25 ranked list — the third standard
    retrieval eval next to nDCG (whole-list grading) and MRR
    (time-to-first-hit): average precision rewards packing ALL the
    relevant documents early, normalized by min(R, k) with R the
    corpus-wide relevant count, so an unreachable tail never deflates
    the score.

    Determinism: every P@i is the exact integer rational hits_i/i
    HALF-UP-QUANTIZED to the 1e-6 integer grid BEFORE the per-term sum
    (the kl_nats discipline applied to precisions); AP is one hu_ratio
    over that exact sum; a term absent from the corpus renders NULL
    through the lazy CASE, contributing 0 to MAP (COALESCE in the
    quantized-mean recipe).  Scale shape: the corpus-scale work is the
    BM25 pipeline plus ONE broadcast-NL relevance-count scan (3 terms
    scan-side); everything else runs on 30 rows."""
    docs = load_table(spark, sf_dir, "documents")
    bm = search_bm25_rank(spark, sf_dir).filter(F.col("rk") <= _MRR_K)
    top = bm.join(
        docs.select(
            "doc_id", F.array_distinct(tokens("text")).alias("toks")
        ),
        "doc_id",
    ).select("rk", "toks")
    q = local_frame(spark, [(t,) for t in _QTERMS], "query_term string")
    rel = (
        F.broadcast(q)
        .join(
            docs.select(F.array_distinct(tokens("text")).alias("dtoks")),
            F.array_contains(F.col("dtoks"), F.col("query_term")),
            "left",
        )
        .groupBy("query_term")
        .agg(F.count("dtoks").alias("r"))
    )
    flags = F.broadcast(q).crossJoin(top).select(
        "query_term",
        "rk",
        F.when(
            F.array_contains(F.col("toks"), F.col("query_term")), 1
        )
        .otherwise(0)
        .alias("is_rel"),
    )
    w = (
        Window.partitionBy("query_term")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prec = flags.withColumn("hits", F.sum("is_rel").over(w))
    pterm = prec.groupBy("query_term").agg(
        F.sum(
            F.when(
                F.col("is_rel") == 1,
                F.expr(
                    "(2 * cast(hits as decimal(38,0)) * 1000000 + rk)"
                    " div (2 * cast(rk as decimal(38,0)))"
                ),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("psum"),
        F.sum("is_rel").cast("bigint").alias("n_rel_topk"),
    )
    ap = hu_ratio("psum", f"least(r, {_MRR_K}) * 1000000", 6)
    per_term = pin(pterm.join(F.broadcast(rel), "query_term").select(
        "query_term",
        F.col("r").cast("bigint").alias("n_relevant"),
        "n_rel_topk",
        F.when(F.col("r") == 0, F.lit(None)).otherwise(ap).alias("ap"),
    ))
    map_ = per_term.agg(
        hu_ratio(
            "sum(cast(coalesce(ap, 0.0) as decimal(18,6)) * 1000000)",
            "count(*) * 1000000",
            6,
        ).alias("map_at_k")
    )
    return per_term.crossJoin(F.broadcast(map_))


_QLM_MU = 2000.0  # Dirichlet smoothing mass (Zhai-Lafferty default ballpark)


@query(
    "search_qlm_dirichlet",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
    qt AS (SELECT doc_id, unnest(toks) AS term FROM tk),
    qf AS (SELECT doc_id, term FROM qt
           WHERE term IN ({', '.join(f"'{t}'" for t in _QTERMS)})),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qf GROUP BY 1, 2),
    cf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM qf GROUP BY 1),
    pc AS (SELECT term,
                  (CAST(cf AS DOUBLE) + 1.0)
                    / (CAST(tot.total_tokens AS DOUBLE) + 1.0) AS pc
           FROM cf CROSS JOIN tot),
    md AS (SELECT DISTINCT doc_id FROM qf),
    grid AS (SELECT md.doc_id, pc.term, pc.pc, dl.dl
             FROM md CROSS JOIN pc JOIN dl USING (doc_id)),
    scored AS (
      SELECT g.doc_id,
             CAST(SUM(CASE WHEN tf.tf IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_terms_matched,
             CAST(SUM(CAST(round(
               ln((COALESCE(tf.tf, 0) + {_QLM_MU} * g.pc)
                  / (g.dl + {_QLM_MU})), 4) AS DECIMAL(18,6))) AS DOUBLE)
               AS score
      FROM grid g LEFT JOIN tf
        ON tf.doc_id = g.doc_id AND tf.term = g.term
      GROUP BY g.doc_id),
    ranked AS (
      SELECT doc_id, n_terms_matched, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM scored)
    SELECT doc_id, n_terms_matched, score, rk
    FROM ranked WHERE rk <= {_TOPK}
    """,
)
def search_qlm_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai-Lafferty) for
    the query bag {_QTERMS}, mu={_QLM_MU} — the language-modeling
    retrieval family beside BM25/tf-idf: score(d) = sum_q
    ln((tf + mu*P(q|C)) / (dl + mu)), with P(q|C) the add-one-smoothed
    collection unigram probability.

    Determinism: P(q|C) is ONE double division of exact integers
    (identical correctly-rounded value in both engines), each per-term
    log contribution is quantized round(4) BEFORE the decimal document
    sum (the log-quantize recipe — ln outputs are never decimal
    halves), and the final top-k orders by the exact 4-decimal score
    with doc_id tie-break.  Unmatched query terms still contribute
    their background mass, so the grid is matched-docs x |Q| rows with
    a left join onto tf — query terms, not the vocabulary, bound every
    frame after the scan.  Scale shape: identical to search_bm25_rank —
    scan-side term filter, broadcast 3-row model, TakeOrdered top-k;
    nothing global but the <= k-row final rank."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", tokens("text").alias("toks"))
    dl = tk.select("doc_id", F.size("toks").alias("dl"))
    # `or 0`: an empty corpus sums to NULL — the scorer then emits no
    # rows anyway (no matched docs), but the literal must stay a float
    total_tokens = dl.agg(
        F.sum("dl").cast("bigint").alias("t")
    ).collect()[0]["t"] or 0
    qf = tk.select("doc_id", F.explode("toks").alias("term")).filter(
        F.col("term").isin(*_QTERMS)
    )
    tf = qf.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    pc = qf.groupBy("term").agg(
        (
            (F.count("*").cast("double") + F.lit(1.0))
            / (F.lit(float(total_tokens)) + F.lit(1.0))
        ).alias("pc")
    )
    md = qf.select("doc_id").distinct()
    grid = md.crossJoin(F.broadcast(pc)).join(dl, "doc_id")
    contrib = F.round(
        F.log(
            (F.coalesce(F.col("tf"), F.lit(0)) + _QLM_MU * F.col("pc"))
            / (F.col("dl") + _QLM_MU)
        ),
        4,
    )
    scored = (
        grid.join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            F.col("tf").isNotNull().cast("int").alias("matched"),
            contrib.cast("decimal(18,6)").alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("matched").cast("bigint").alias("n_terms_matched"),
            # exact 4-decimal contribution sum: the double cast needs
            # no re-round (never at a 6-decimal half)
            F.sum("c").cast("double").alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "n_terms_matched", "score", "rk")
    )
