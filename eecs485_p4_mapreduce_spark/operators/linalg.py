"""Distributed iterative linear algebra (SURVEY.md §2.C iterative
category, alongside graph.py): top principal direction of the embedding
matrix by power iteration, oracle-pinned by unrolling the fixed
iteration count into chained CTEs -- the same proof technique as
``graph_pagerank``.

Scale shape: each iteration is one scan of the embeddings table -- a
per-row dot product against the broadcast current vector, then a
(d, component) partial-sum aggregate of D*|rows| terms down to D values.
Nothing but the D-vector (64 doubles) ever leaves the executors; at
100 TB this is the standard distributed mat-vec and the driver loop just
re-broadcasts 512 bytes per iteration.

Cross-engine determinism: per-row dots fold left-to-right (Spark
``aggregate`` == DuckDB ``list_inner_product`` order, the knn_cosine
precedent); the per-component sums accumulate in DECIMAL(30,15)
(order-independent, functions/numeric.py rationale); the norm is a
sequential d-ascending fold both sides (Python loop == DuckDB
``list_sum`` over a d-ordered list), so every intermediate double is
bit-identical.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions import kmeansfn
from eecs485_p4_mapreduce_spark.functions.modelstore import (
    load_or_train,
    local_frame,
    pin,
)
from eecs485_p4_mapreduce_spark.functions.numeric import (
    hu_ratio,
    hu_ratio_signed,
    hu_ratio_signed_sql,
    hu_ratio_sql,
)
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table

_D = 64      # embedding dim
_ITERS = 4   # fixed unrolled iteration count

_DOT_V = (
    "aggregate(zip_with(v, {vl}, (x, y) -> x * y),"
    " cast(0.0 as double), (acc, x) -> acc + x)"
)


def _power_iter_oracle() -> str:
    """Unroll the mat-vec fixed point into chained CTEs (v0..vN)."""
    parts = [
        f"""
        e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        el AS MATERIALIZED (
          SELECT vec_id, d, v[d] AS x
          FROM e, unnest(range(1, {_D} + 1)) AS t(d)),
        v0 AS (SELECT list_transform(range(1, {_D} + 1), d -> 1.0) AS vv)
        """
    ]
    for k in range(1, _ITERS + 1):
        parts.append(
            f"""
        dot{k} AS (SELECT e.vec_id,
                          list_inner_product(e.v, (SELECT vv FROM v{k - 1})) AS dot
                   FROM e),
        s{k} AS (SELECT el.d,
                        CAST(SUM(CAST(el.x * dot{k}.dot AS DECIMAL(30,15))) AS DOUBLE) AS s
                 FROM el JOIN dot{k} ON dot{k}.vec_id = el.vec_id
                 GROUP BY el.d),
        sv{k} AS (SELECT list(s ORDER BY d) AS sv FROM s{k}),
        v{k} AS (SELECT list_transform(sv, x ->
                     x / sqrt(list_sum(list_transform(sv, y -> y * y)))) AS vv
                 FROM sv{k})
            """
        )
    return (
        "WITH " + ",".join(parts) + f"""
        SELECT d,
               round(vv[d], 6) AS component,
               round(sqrt(list_sum(list_transform(sv, y -> y * y))), 6) AS sigma
        FROM v{_ITERS}, sv{_ITERS}, unnest(range(1, {_D} + 1)) AS t(d)
        """
    )


@query("embedding_top_pc_power_iteration", oracle=_power_iter_oracle())
def embedding_top_pc_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix:
    v <- X^T X v / ||X^T X v||, {_ITERS} fixed iterations from v0 = 1.

    Per iteration: broadcast v as a one-row local relation, one scan
    computes each row's dot x.v, posexplode multiplies it back against
    each component, and a decimal-exact groupBy(d) reduces to the
    D-vector.  Only the 64-double result is collected (the
    pagerank-style driver loop -- data never moves).  Normalization runs
    on the driver as a sequential d-ascending fold so it is
    bit-identical to the oracle's list_sum.
    sigma (the final pre-normalization norm) estimates the top singular
    value of X^T X's action, i.e. lambda_1.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    v = [1.0] * _D
    for _ in range(_ITERS):
        # v travels as DATA, not as a literal array: with literals every
        # iteration is a brand-new plan and whole-stage codegen
        # recompiles (~1.5 s/iteration of pure JIT), while a data leaf
        # keeps the generated code identical, so the compiled stages are
        # cache-hit from iteration 2 on.  The leaf is a one-row local
        # relation (local_frame): the JVM holds the 64 doubles and the
        # plan reads them in a LocalTableScan, so an iteration starts no
        # Python worker.
        vdf = local_frame(spark, [(v,)], "vl array<double>")
        dotted = (
            e.crossJoin(F.broadcast(vdf))
            .withColumn("dot", F.expr(_DOT_V.format(vl="vl")))
            .select("v", "dot")
        )
        # dot is a pass-through column of the Generate node, so it is
        # evaluated once per input row, not once per exploded element
        s_rows = (
            dotted.select(F.posexplode("v").alias("d0", "x"), "dot")
            .groupBy((F.col("d0") + 1).alias("d"))
            .agg(
                F.sum((F.col("x") * F.col("dot")).cast("decimal(30,15)"))
                .cast("double")
                .alias("s")
            )
            .collect()
        )
        s = [r["s"] for r in sorted(s_rows, key=lambda r: r["d"])]
        norm_sq = 0.0
        for y in s:
            norm_sq += y * y
        sigma = math.sqrt(norm_sq)
        v = [y / sigma for y in s]
    # round via Spark's SQL round (HALF_UP, matching the oracle's round),
    # not Python's round (HALF_EVEN)
    rows = [(d + 1, v[d], sigma) for d in range(_D)]
    raw = local_frame(spark, rows, "d bigint, component double, sigma double")
    return raw.select(
        "d", F.round("component", 6).alias("component"), F.round("sigma", 6).alias("sigma")
    )


# The Lloyd's trainer + unrolled oracle CTEs moved to
# functions/kmeansfn.py so operators/semdedup.py can share the quantizer
# without a decoration-time circular import (the lshfn.py convention).
# Local underscore aliases keep this module's call sites unchanged.
_KM_K = kmeansfn.KM_K
_KM_ROUNDS = kmeansfn.KM_ROUNDS
_lloyds_assignments = kmeansfn.lloyds_assignments
_kmeans_cte = kmeansfn.kmeans_cte


def _kmeans_oracle() -> str:
    return (
        _kmeans_cte()
        + f"""
        SELECT a.k, CAST(COUNT(*) AS BIGINT) AS n_points,
               round(list_inner_product(c.cv, c.cv), 6) AS centroid_sq_norm
        FROM afin a JOIN c{_KM_ROUNDS} c ON c.k = a.k
        GROUP BY a.k, c.cv
        """
    )


@query("embedding_kmeans_ivf_train", oracle=_kmeans_oracle())
def embedding_kmeans_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: Lloyd's k-means over the embedding
    table, K={_KM_K} lists, {_KM_ROUNDS} fixed update rounds from a
    deterministic init (centroids = vec_id 0..K-1) -- closing the
    ``knn_ivf_label`` caveat where a pre-assigned label column stood in
    for a trained quantizer.

    Each round: broadcast the K x D centroid table (data, not literals
    -- the power-iteration codegen lesson above), assign every vector by
    join + row_number argmin on -2 x.c + |c|^2 (|x|^2 is constant per
    row; ties break on k, matching the oracle's ORDER BY dist, k), then
    recompute centroids with a decimal-exact component mean.  Only the
    K x D centroid matrix reaches the driver between rounds.  The oracle
    unrolls the identical rounds as chained CTEs, so even the iterative
    TRAINING loop is proven exactly -- same argmin, same decimal means.
    At 100 TB: assignment is a broadcast join scan (embarrassingly
    parallel), the update one (k, d) aggregate; rounds are sequential
    scans, the classic distributed Lloyd's shape.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cdf, final = _lloyds_assignments(spark, e, sf_dir=sf_dir, loader=load_table)
    norm = F.expr(
        "aggregate(zip_with(cv, cv, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
    )
    return (
        final.join(F.broadcast(cdf), "k")
        .groupBy("k", F.round(norm, 6).alias("centroid_sq_norm"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .select("k", "n_points", "centroid_sq_norm")
    )


_IVF_NQ = 10    # vec_id < 10 are the query vectors (matches knn_cosine)
_IVF_TOPK = 5


def _ivf_trained_oracle() -> str:
    return (
        _kmeans_cte()
        + f""",
        qa AS (SELECT a.vec_id AS query_id, a.k, e.v AS qv
               FROM afin a JOIN e ON e.vec_id = a.vec_id
               WHERE a.vec_id < {_IVF_NQ}),
        scored AS (
          SELECT qa.query_id, a.vec_id AS neighbor_id,
                 list_inner_product(qa.qv, e.v)
                   / (sqrt(list_inner_product(qa.qv, qa.qv))
                      * sqrt(list_inner_product(e.v, e.v))) AS cos_raw
          FROM qa
          JOIN afin a ON a.k = qa.k AND a.vec_id <> qa.query_id
          JOIN e ON e.vec_id = a.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos_raw,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, neighbor_id) AS rk
          FROM scored)
        SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rk
        FROM ranked WHERE rk <= {_IVF_TOPK}
        """
    )


@query("knn_ivf_trained", oracle=_ivf_trained_oracle())
def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end trained IVF search: train the coarse quantizer
    (Lloyd's, the shared _lloyds_assignments), assign the corpus to
    lists, then answer each query by probing ONLY its own list
    (nprobe=1) with exact cosine rerank -- the full production IVF
    pipeline in one declarative query, upgrading ``knn_ivf_label`` from
    a pre-assigned label to a quantizer the engine itself trained.

    The probe is a broadcast equi-join on the list id: with the corpus
    bucketed/partitioned by list, each query scans 1/nlist of the data
    and nothing shuffles but results.  The oracle reuses the identical
    unrolled training CTEs, so quantizer, assignment, and search are all
    proven against DuckDB in one statement.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    _, assigned = _lloyds_assignments(spark, e, sf_dir=sf_dir, loader=load_table)
    corpus = assigned.select("vec_id", "v", "k")
    q = F.broadcast(
        corpus.filter(F.col("vec_id") < _IVF_NQ).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "k"
        )
    )
    cos = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
        " / (sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x))"
        " * sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)))"
    )
    scored = (
        q.join(corpus, "k")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", cos)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _IVF_TOPK)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUB = _D // _PQ_M   # dims per subspace (16)
_PQ_K = 4        # codewords per subspace codebook
_PQ_ROUNDS = 1   # Lloyd update rounds per subspace codebook
_PQ_NQ = 10      # query vectors (matches knn_cosine)
_PQ_K1 = 25      # ADC candidate pool per query
_PQ_TOPK = 5

_PQ_DIST = (
    "-2 * aggregate(zip_with(sv, cv, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, x) -> acc + x)"
    " + aggregate(zip_with(cv, cv, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, x) -> acc + x)"
)


def _pq_subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, m, sv): split each vector into _PQ_M contiguous
    _PQ_SUB-dim subvectors, exploded so one training/encode plan covers
    every subspace at once."""
    return e.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), m ->"
                f" struct(m AS m, slice(v, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_assign(sub: DataFrame, cdf: DataFrame) -> DataFrame:
    """Nearest codeword per (vector, subspace); ties on k."""
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "k")
    return (
        sub.join(F.broadcast(cdf), "m")
        .withColumn("dist", F.expr(_PQ_DIST))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "m", "sv", "k")
    )


def _pq_codebook(spark: SparkSession, sub: DataFrame, sf_dir: str) -> DataFrame:
    """Train the per-subspace codebooks: deterministic init (codeword k =
    vec_id k's subvector), then _PQ_ROUNDS Lloyd updates with
    decimal-exact component means.  Only the M x K x SUB codebook (256
    doubles) reaches the driver between rounds — and it is read back
    from the model store (functions/modelstore.py) instead of
    retrained, so repeated PQ queries skip every training job."""

    def train() -> list[tuple]:
        init = sub.filter(F.col("vec_id") < _PQ_K).select(
            "m", F.col("vec_id").alias("k"), F.col("sv").alias("cv")
        )
        cb = [(int(r["m"]), int(r["k"]), list(r["cv"])) for r in init.collect()]
        for _ in range(_PQ_ROUNDS):
            cdf = local_frame(spark, cb, "m bigint, k bigint, cv array<double>")
            assigned = _pq_assign(sub, cdf)
            means = (
                assigned.select("m", "k", F.posexplode("sv").alias("d0", "x"))
                .groupBy("m", "k", (F.col("d0") + 1).alias("d"))
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                        / F.count(F.lit(1))
                    ).alias("c")
                )
                .collect()
            )
            by: dict[tuple, list] = {}
            for r in means:
                by.setdefault((int(r["m"]), int(r["k"])), []).append((r["d"], r["c"]))
            cb = [(m, k, [c for _, c in sorted(vals)]) for (m, k), vals in sorted(by.items())]
        return cb

    schema = "m bigint, k bigint, cv array<double>"
    cb = load_or_train(spark, "pqcb", sf_dir, schema, train, loader=load_table)
    return local_frame(spark, cb, schema)


def _pq_oracle() -> str:
    """Unrolled PQ pipeline: subspace split -> 1 Lloyd round per
    codebook -> encode -> ADC lookup-table scan -> exact rerank."""
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS MATERIALIZED (
      SELECT vec_id, m, list_slice(v, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM e, unnest(range(0, {_PQ_M})) AS t(m)),
    c0 AS (SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id < {_PQ_K}),
    d1 AS (SELECT s.vec_id, s.m, c.k,
                  -2 * list_inner_product(s.sv, c.cv)
                    + list_inner_product(c.cv, c.cv) AS dist
           FROM sub s JOIN c0 c ON c.m = s.m),
    a1 AS (SELECT vec_id, m, k FROM (
             SELECT vec_id, m, k,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                       ORDER BY dist, k) AS rk
             FROM d1) WHERE rk = 1),
    sube AS (SELECT vec_id, m, d, sv[d] AS x
             FROM sub, unnest(range(1, {_PQ_SUB} + 1)) AS u(d)),
    m1 AS (SELECT a.m, a.k, se.d,
                  CAST(SUM(CAST(se.x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS c
           FROM sube se JOIN a1 a ON a.vec_id = se.vec_id AND a.m = se.m
           GROUP BY a.m, a.k, se.d),
    c1 AS (SELECT m, k, list(c ORDER BY d) AS cv FROM m1 GROUP BY m, k),
    denc AS (SELECT s.vec_id, s.m, c.k,
                    -2 * list_inner_product(s.sv, c.cv)
                      + list_inner_product(c.cv, c.cv) AS dist
             FROM sub s JOIN c1 c ON c.m = s.m),
    enc AS (SELECT vec_id, m, k FROM (
              SELECT vec_id, m, k,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                        ORDER BY dist, k) AS rk
              FROM denc) WHERE rk = 1),
    lut AS (SELECT s.vec_id AS query_id, s.m, c.k,
                   list_inner_product(s.sv, s.sv)
                     - 2 * list_inner_product(s.sv, c.cv)
                     + list_inner_product(c.cv, c.cv) AS pd
            FROM sub s JOIN c1 c ON c.m = s.m
            WHERE s.vec_id < {_PQ_NQ}),
    adc AS (SELECT l.query_id, enc.vec_id,
                   CAST(SUM(CAST(l.pd AS DECIMAL(30,15))) AS DOUBLE) AS adc_dist
            FROM enc JOIN lut l ON l.m = enc.m AND l.k = enc.k
            WHERE enc.vec_id <> l.query_id
            GROUP BY l.query_id, enc.vec_id),
    cand AS (SELECT query_id, vec_id FROM (
               SELECT query_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, vec_id) AS rk1
               FROM adc) WHERE rk1 <= {_PQ_K1}),
    rr AS (SELECT c.query_id, c.vec_id AS neighbor_id,
                  list_inner_product(q.v, e.v)
                    / (sqrt(list_inner_product(q.v, q.v))
                       * sqrt(list_inner_product(e.v, e.v))) AS cos_raw
           FROM cand c JOIN e ON e.vec_id = c.vec_id
           JOIN e q ON q.vec_id = c.query_id),
    ranked AS (SELECT query_id, neighbor_id, cos_raw,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos_raw DESC, neighbor_id) AS rk
               FROM rr)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rk
    FROM ranked WHERE rk <= {_PQ_TOPK}
    """


@query("ann_pq_adc", oracle=_pq_oracle())
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search with asymmetric distance computation —
    the fourth ANN tier after brute-force / IVF / LSH: train {_PQ_M}
    per-subspace codebooks ({_PQ_K} codewords each, Lloyd's from a
    deterministic init), encode every vector as {_PQ_M} small codes,
    then answer queries by summing a broadcast per-query lookup table
    over the codes and exact-reranking the top {_PQ_K1} candidates.

    The scale shape PQ exists for: the ADC stage scans CODES (a few
    bytes/vector instead of 64 doubles — here 4 codes = 32x compression)
    against a {_PQ_NQ}x{_PQ_M}x{_PQ_K}-row broadcast LUT; full vectors
    are touched only for {_PQ_K1} candidates per query.  All codebook
    training traffic to the driver is the 256-double codebook itself.
    The oracle unrolls training, encoding, ADC, and rerank into one
    statement, so the trained pipeline is proven end-to-end (the
    knn_ivf_trained precedent)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = _pq_subvectors(e)
    cdf = _pq_codebook(spark, sub, sf_dir=sf_dir)
    enc = _pq_assign(sub, cdf).select("vec_id", "m", "k")
    qsub = sub.filter(F.col("vec_id") < _PQ_NQ)
    lut = (
        qsub.join(F.broadcast(cdf), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "k",
            F.expr(
                "aggregate(zip_with(sv, sv, (x, y) -> x * y), cast(0.0 as double),"
                " (acc, x) -> acc + x)"
                " - 2 * aggregate(zip_with(sv, cv, (x, y) -> x * y), cast(0.0 as double),"
                " (acc, x) -> acc + x)"
                " + aggregate(zip_with(cv, cv, (x, y) -> x * y), cast(0.0 as double),"
                " (acc, x) -> acc + x)"
            ).alias("pd"),
        )
    )
    adc = (
        enc.join(F.broadcast(lut), ["m", "k"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("pd").cast("decimal(30,15)")).cast("double").alias("adc_dist"))
    )
    w1 = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    cand = (
        adc.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= _PQ_K1)
        .select("query_id", "vec_id")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < _PQ_NQ).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    cos = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
        " / (sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x))"
        " * sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)))"
    )
    rr = (
        cand.join(e, "vec_id")
        .join(q, "query_id")
        .withColumn("cos_raw", cos)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rk")
    )


# ml_logreg_gradient_step's gradient numerator, factored to a module
# constant so the headroom boundary pin drives the PRODUCTION string
# (tests/test_headroom_bounds.py): per-term 10^15 pre-scale into
# decimal(38,0), then the full-width integer sum.
_LOGREG_GRAD_NUM = (
    "sum(cast(cast(err * x as decimal(30,15))"
    " * 1000000000000000 as decimal(38,0)))"
)


def _logreg_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.similarity import _INF_W

    wl = ", ".join(repr(x) for x in _INF_W)
    return f"""
    WITH e AS (SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y,
                      CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    z AS (SELECT vec_id, y, v,
                 round(1.0 / (1.0 + exp(-list_inner_product(v, [{wl}]))), 4) AS p
          FROM e),
    el AS (SELECT (p - y) AS err, d, v[d] AS x
           FROM z, unnest(range(1, 65)) AS t(d)),
    n AS (SELECT COUNT(*) AS n FROM e)
    SELECT el.d,
           {hu_ratio_signed_sql(
               "SUM(CAST(el.err * el.x AS DECIMAL(30,15))) * 1000000000000000",
               "CAST(n.n AS HUGEINT) * 1000000000000000", 6)} AS grad
    FROM el, n GROUP BY el.d, n.n
    """


@query("ml_logreg_gradient_step", oracle=_logreg_oracle())
def ml_logreg_gradient_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed logistic-regression gradient step — the training
    primitive underneath every quality-classifier / reward-model fit:
    grad = (1/n) X^T (sigmoid(Xw) - y) over the embedding matrix with
    broadcast weights (the shared _INF_W stand-in model) and labels
    y = label mod 2.

    The scale shape is identical to power iteration: one scan computes
    each row's margin (a sequential fold, knn_cosine's discipline), the
    sigmoid is quantized at 1e-4 (exp differs in the last ulp across
    engines — the bigram-surprisal rationale), and posexplode + a
    decimal-exact (d)-grouped sum reduces n x 64 products to the
    64-double gradient.  A full trainer is this query in the pagerank
    driver loop; only 512 bytes move per step."""
    from eecs485_p4_mapreduce_spark.operators.similarity import _INF_W

    wl = ", ".join(repr(x) for x in _INF_W)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("label") % 2).cast("double").alias("y"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    z = e.withColumn(
        "p",
        F.round(
            1.0
            / (
                1.0
                + F.exp(
                    -F.expr(
                        f"aggregate(zip_with(v, array({wl}), (x, y) -> x * y),"
                        " cast(0.0 as double), (acc, x) -> acc + x)"
                    )
                )
            ),
            4,
        ),
    )
    n = e.count()
    el = z.select(
        (F.col("p") - F.col("y")).alias("err"), F.posexplode("v").alias("d0", "x")
    )
    # the gradient component renders via the signed half-up recipe over
    # the 10^15-scaled exact sum (never round(double, 6) of a decimal
    # ratio).  DECISION RULE (measured, pinned in
    # tests/test_headroom_bounds.py): each term is PRE-scaled to an
    # integer decimal(38,0) BEFORE the sum — exact-identical
    # term-by-term (10^15 * a 15-fraction-digit decimal is lossless,
    # equivalence property-pinned vs the sum-then-scale spelling) — so
    # the only remaining cap is hu_ratio_signed's internal
    # 2 * |num| * 10^6 <= 1e38, i.e. ~5e16 rows of |err * x| <= 1:
    # clear of the declared 100 TB scale.  (The sum-then-scale
    # spelling's decimal(38,15) sum capped the integer part at 10^23 —
    # also ~1e23 rows of unit terms, NOT the ~1e8 a previous comment
    # claimed; the respell removes the narrower intermediate anyway.)
    # The oracle keeps sum-then-scale: DuckDB's HUGEINT-backed
    # DECIMAL(38,15) carries the same integers at both SFs.
    return (
        el.groupBy((F.col("d0") + 1).alias("d"))
        .agg(
            hu_ratio_signed(
                _LOGREG_GRAD_NUM,
                f"cast({n} as decimal(38,0)) * 1000000000000000",
                6,
            ).alias("grad")
        )
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: IVF recall@k against the exact top-k
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    return (
        _kmeans_cte()
        + f""",
        qa AS (SELECT a.vec_id AS query_id, a.k, e.v AS qv
               FROM afin a JOIN e ON e.vec_id = a.vec_id
               WHERE a.vec_id < {_IVF_NQ}),
        iscored AS (
          SELECT qa.query_id, a.vec_id AS neighbor_id,
                 list_inner_product(qa.qv, e.v)
                   / (sqrt(list_inner_product(qa.qv, qa.qv))
                      * sqrt(list_inner_product(e.v, e.v))) AS cos_raw
          FROM qa
          JOIN afin a ON a.k = qa.k AND a.vec_id <> qa.query_id
          JOIN e ON e.vec_id = a.vec_id),
        itop AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rk
            FROM iscored) WHERE rk <= {_IVF_TOPK}),
        eq AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < {_IVF_NQ}),
        escored AS (
          SELECT eq.query_id, e.vec_id AS neighbor_id,
                 list_inner_product(eq.qv, e.v)
                   / (sqrt(list_inner_product(eq.qv, eq.qv))
                      * sqrt(list_inner_product(e.v, e.v))) AS cos_raw
          FROM eq JOIN e ON e.vec_id <> eq.query_id),
        etop AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rk
            FROM escored) WHERE rk <= {_IVF_TOPK})
        SELECT etop.query_id,
               CAST(COUNT(it.neighbor_id) AS BIGINT) AS hits_at_k,
               {hu_ratio_sql('COUNT(it.neighbor_id)', str(_IVF_TOPK), 4)}
                 AS recall_at_k
        FROM etop
        LEFT JOIN itop it ON it.query_id = etop.query_id
          AND it.neighbor_id = etop.neighbor_id
        GROUP BY etop.query_id
        """
    )


@query("eval_ann_recall_ivf", oracle=_ann_recall_oracle())
def eval_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the trained-IVF search (nprobe=1) against the exact
    brute-force top-k -- the evaluation every ANN deployment runs before
    trading exactness for the partition-pruned scan.  Composes two
    registry recipes (``knn_ivf_trained``'s probe, ``knn_cosine``'s
    exact rerank) over ONE shared quantizer training, and the oracle
    re-derives both sides from the same unrolled Lloyd's CTEs, so the
    recall numbers are proven end-to-end, not asserted.

    Scale shape: the exact side is the broadcast-queries scan-everything
    brute force (the verify stage you run on a SAMPLE of queries at
    100 TB -- here the query set IS 10 rows); the IVF side scans 1/nlist
    of the corpus via the list equi-join.  Hits are a (query_id,
    neighbor_id) equi-join of two k-row-per-query frames -- |Q| x k rows
    either side, trivially broadcastable at any corpus size.

    Determinism: both top-k rankings order by (cos_raw DESC, neighbor_id)
    -- the registry's rounded-score-plus-id-tie-break convention; recall
    is hits/k, an identical small-integer division in both engines.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    _, assigned = _lloyds_assignments(
        spark, e, sf_dir=sf_dir, loader=load_table
    )
    # four self-references below (both query sets + both probe sides):
    # checkpoint the assigned corpus once so the trained-assignment
    # lineage isn't re-derived per reference (graph_triangle_count
    # precedent)
    corpus = pin(assigned.select("vec_id", "v", "k"))
    cos = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
        " / (sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x))"
        " * sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)))"
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )

    # IVF side: probe only the query's own list (knn_ivf_trained shape).
    q_ivf = F.broadcast(
        corpus.filter(F.col("vec_id") < _IVF_NQ).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "k"
        )
    )
    itop = (
        q_ivf.join(corpus, "k")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", cos)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
        .withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= _IVF_TOPK)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )

    # Exact side: brute force over the full corpus (knn_cosine shape).
    q_ex = F.broadcast(
        corpus.filter(F.col("vec_id") < _IVF_NQ).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    etop = (
        q_ex.join(corpus, F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", cos)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
        .withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= _IVF_TOPK)
        .select("query_id", "neighbor_id")
    )

    hits = etop.join(F.broadcast(itop), ["query_id", "neighbor_id"], "left")
    return hits.groupBy("query_id").agg(
        F.count("hit").cast("bigint").alias("hits_at_k"),
        # integer half-up recipe: hits/k lands on decimal halves often
        hu_ratio("count(hit)", str(_IVF_TOPK), 4).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# k-means training diagnostics: per-cluster inertia (within-cluster SSE)
# ---------------------------------------------------------------------------


def _inertia_oracle() -> str:
    return (
        _kmeans_cte()
        + f""",
        cj AS (
          SELECT a.k,
                 round(list_inner_product(e.v, e.v)
                       - 2 * list_inner_product(e.v, c.cv)
                       + list_inner_product(c.cv, c.cv), 4) AS dsq
          FROM afin a
          JOIN e ON e.vec_id = a.vec_id
          JOIN c{_KM_ROUNDS} c ON c.k = a.k)
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(SUM(CAST(dsq AS DECIMAL(20,4))) AS DOUBLE) AS inertia,
               {hu_ratio_sql(
                   "SUM(CAST(dsq AS DECIMAL(20,4))) * 10000",
                   "COUNT(*) * CAST(10000 AS HUGEINT)", 6)} AS mean_sq_dist
        FROM cj GROUP BY k
        """
    )


@query("ml_kmeans_inertia", oracle=_inertia_oracle())
def ml_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster inertia (within-cluster sum of squared distances) of
    the trained IVF quantizer — the elbow-method / training-quality
    diagnostic read after every Lloyd's run: a cluster with outsized
    mean squared distance is under-split (an IVF list that over-scans)
    and a near-empty one is wasted capacity.

    Composes the shared ``_lloyds_assignments`` training (stored in
    the derived-state store, so this readout costs one assignment join
    when the quantizer is already trained) and proves the whole
    training + distance accounting against the unrolled-CTE oracle.

    Determinism: each point's squared distance is |x|² − 2x·c + |c|²
    from the same sequential-fold dots both engines use for the argmin,
    quantized round(4) BEFORE the per-cluster decimal sum (the ln-
    quantization convention applied to distances); inertia casts the
    exact 4-decimal sum straight to double, and the mean renders via
    the half-up recipe over the 10^4-scaled sum (never round(double, 6)
    of a decimal ratio).  Scale shape: one broadcast-
    centroid scan, one ≤K-group aggregate."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cdf, assigned = _lloyds_assignments(
        spark, e, sf_dir=sf_dir, loader=load_table
    )
    dsq = F.expr(
        "round(aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
        " - 2 * aggregate(zip_with(v, cv, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
        " + aggregate(zip_with(cv, cv, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x), 4)"
    )
    cj = (
        assigned.select("vec_id", "v", "k")
        .join(F.broadcast(cdf), "k")
        .select("k", dsq.alias("dsq"))
    )
    return cj.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_points"),
        # exact 4-decimal sum: no re-round needed on the double cast (a
        # <= 4-fractional-digit value is never at a 4-decimal half)
        F.sum(F.col("dsq").cast("decimal(20,4)")).cast("double").alias(
            "inertia"
        ),
        hu_ratio(
            "sum(cast(dsq as decimal(20,4))) * 10000",
            "count(*) * cast(10000 as decimal(38,0))",
            6,
        ).alias("mean_sq_dist"),
    )


# ------------------------------------------------- k-center coreset

_KC_K = 8        # number of centers (picks)
_KC_SCALE = 1000  # fixed quantization grid: qv[i] = floor(v[i] * 1000)

_KC_QV_DUCK = (
    f"list_transform(range(1, {_D} + 1), i ->"
    f" CAST(floor(CAST(v[i] AS DOUBLE) * {_KC_SCALE}) AS BIGINT))"
)


def _kc_dist_duck(a: str, b: str) -> str:
    """DuckDB squared L2 between two quantized BIGINT lists (exact)."""
    return (
        f"CAST(list_sum(list_transform(range(1, {_D} + 1), i ->"
        f" ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _kcenter_oracle() -> str:
    """Unroll the greedy farthest-point loop into chained MATERIALIZED
    CTEs (c1/m1 .. cK/mK) — each m_r is referenced by both c_{r+1} and
    m_{r+1}, so materialization is load-bearing (the BPE-oracle
    CTE-inlining lesson, CLAUDE.md round 9)."""
    parts = [
        f"""
        qe AS MATERIALIZED (
          SELECT vec_id, {_KC_QV_DUCK} AS qv
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings)),
        c1 AS MATERIALIZED (
          SELECT vec_id, qv FROM qe ORDER BY vec_id LIMIT 1),
        m1 AS MATERIALIZED (
          SELECT qe.vec_id, qe.qv,
                 {_kc_dist_duck('qe.qv', 'c1.qv')} AS mind
          FROM qe CROSS JOIN c1)
        """
    ]
    for r in range(2, _KC_K + 1):
        parts.append(
            f"""
        c{r} AS MATERIALIZED (
          SELECT vec_id, qv, mind FROM m{r - 1}
          ORDER BY mind DESC, vec_id LIMIT 1),
        m{r} AS MATERIALIZED (
          SELECT m.vec_id, m.qv,
                 LEAST(m.mind, {_kc_dist_duck('m.qv', 'c.qv')}) AS mind
          FROM m{r - 1} m CROSS JOIN c{r} c)
            """
        )
    picks = " UNION ALL ".join(
        ["SELECT CAST(1 AS BIGINT) AS pick, vec_id,"
         " CAST(0 AS BIGINT) AS maximin FROM c1"]
        + [
            f"SELECT CAST({r} AS BIGINT), vec_id, CAST(mind AS BIGINT)"
            f" FROM c{r}"
            for r in range(2, _KC_K + 1)
        ]
    )
    return (
        "WITH " + ",".join(parts) + f""",
        picks AS ({picks}),
        rad AS (SELECT CAST(MAX(mind) AS BIGINT) AS coverage_radius
                FROM m{_KC_K})
        SELECT picks.pick, picks.vec_id, picks.maximin, rad.coverage_radius
        FROM picks CROSS JOIN rad
        """
    )


@query("embedding_coreset_kcenter", oracle=_kcenter_oracle())
def embedding_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point (Gonzalez) k-center coreset over the
    embedding table: start from the smallest vec_id, then {_KC_K}-1
    times pick the point with the LARGEST min-distance to the chosen
    set (ties to the smallest vec_id) — the classic 2-approximation to
    the optimal k-center cover, i.e. diversity-based training-data
    selection (pick the most "unlike anything already kept" examples).
    Output: pick order, chosen vec_id, the maximin distance that got it
    chosen, and the final coverage radius (how far the farthest corpus
    point sits from the selected coreset).

    Cross-engine exactness: embeddings are quantized onto a fixed
    integer grid qv[i] = floor(v[i] * 1000) — floor of a correctly-
    rounded double product is bit-deterministic in both engines (no
    round() half hazard) — and every distance is an exact BIGINT
    squared-L2 (|qv| <= ~1000 here; the int64 bound is
    d * (2*max|qv|)^2 < 2^63, i.e. max|v| ~ 3e8 at d=64 — any real
    normalized embedding).  Selection order compares (integer, vec_id),
    never a float.

    Scale shape: each of the k rounds is ONE scan — per-row distance to
    the newly chosen center (a broadcast 64-int literal), a least()
    fold into the running min-distance column, and a TakeOrdered(1)
    argmax (per-partition top-1 + driver merge, no global sort).  The
    frame is pinned per round (the BPE-loop discipline) so
    round r+1 rescans materialized state instead of replaying r rounds
    of lineage; only k 1-row argmax results ever reach the driver.
    k*n distance evaluations total — the Gonzalez bound."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x ->"
            f" cast(floor(cast(x as double) * {_KC_SCALE}) as bigint))"
        ).alias("qv"),
    )

    first = e.orderBy("vec_id").limit(1).collect()
    schema = (
        "pick bigint, vec_id bigint, maximin bigint, coverage_radius bigint"
    )
    if not first:
        return local_frame(spark, [], schema)

    def dist_to(center_qv: list[int]) -> F.Column:
        lit = "array(" + ",".join(f"{int(x)}L" for x in center_qv) + ")"
        return F.expr(
            f"aggregate(zip_with(qv, {lit}, (x, y) -> (x - y) * (x - y)),"
            f" cast(0 as bigint), (acc, x) -> acc + x)"
        )

    picks = [(1, int(first[0]["vec_id"]), 0)]
    cur = pin(e.withColumn("mind", dist_to(first[0]["qv"])))
    for r in range(2, _KC_K + 1):
        top = cur.orderBy(F.desc("mind"), "vec_id").limit(1).collect()[0]
        picks.append((r, int(top["vec_id"]), int(top["mind"])))
        cur = pin(cur.withColumn(
            "mind", F.least("mind", dist_to(top["qv"]))
        ))

    rad = cur.agg(F.max("mind").cast("bigint").alias("coverage_radius"))
    pdf = local_frame(spark, picks, "pick bigint, vec_id bigint, maximin bigint")
    return pdf.crossJoin(F.broadcast(rad))


# --------------------------------------------- closed-form OLS (2 features)

# 3x3 Cramer determinants over the exact Gram moments, shared verbatim
# by both dialects (operands are pre-cast int128-wide: decimal(38,0) on
# Spark, HUGEINT in DuckDB).  Column order: [1, x1, x2] with b the
# y-moment vector — dn is det(X'X); d0/d1/d2 replace the respective
# column with b.
_OLS_DN = (
    "(n * (s11 * s22 - s12 * s12)"
    " - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
_OLS_D0 = (
    "(sy * (s11 * s22 - s12 * s12)"
    " - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
_OLS_D1 = (
    "(n * (s1y * s22 - s12 * s2y)"
    " - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_OLS_D2 = (
    "(n * (s11 * s2y - s1y * s12)"
    " - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)


def _ols_oracle() -> str:
    beta = {
        k: hu_ratio_signed_sql(d, f"{_OLS_DN} * 1000000", 6)
        for k, d in (("b0", _OLS_D0), ("b1", _OLS_D1), ("b2", _OLS_D2))
    }
    return f"""
    WITH v AS (
      SELECT (epoch_us(ts) // 3600000000) % 24 AS x1,
             ((epoch_us(ts) // 86400000000) + 4) % 7 AS x2,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y6
      FROM events),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x1) AS HUGEINT) AS s1,
             CAST(SUM(x2) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
             CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
             CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
             CAST(SUM(CAST(y6 AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x1 AS HUGEINT) * y6) AS HUGEINT) AS s1y,
             CAST(SUM(CAST(x2 AS HUGEINT) * y6) AS HUGEINT) AS s2y
      FROM v)
    SELECT CAST(m.n AS BIGINT) AS n,
           CASE WHEN {_OLS_DN} = 0 THEN NULL ELSE {beta['b0']} END
             AS beta_intercept,
           CASE WHEN {_OLS_DN} = 0 THEN NULL ELSE {beta['b1']} END
             AS beta_hour,
           CASE WHEN {_OLS_DN} = 0 THEN NULL ELSE {beta['b2']} END
             AS beta_dow
    FROM m
    """


@query("ml_ols_normal_equation", oracle=_ols_oracle())
def ml_ols_normal_equation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature linear regression solved in CLOSED FORM by the
    normal equations: value ~ intercept + hour-of-day + day-of-week,
    fit via Cramer's rule over the exact 3x3 Gram matrix — the
    distributed-ML shape where training is ONE aggregation (nine exact
    integer moments) and the 'solve' is constant-time driver-free
    arithmetic, the multi-feature step beyond stats_trend_ols_daily's
    single-regressor slope.

    Determinism: both features derive from integer epoch arithmetic
    ((us div 3600e6) % 24 and the Thursday-anchored (days + 4) % 7 —
    NEVER the engines' dayofweek(), whose numbering conventions
    differ); y quantizes losslessly to 1e-6 integers, so all nine
    moments and all four Cramer determinants are exact int128 values
    and each coefficient is ONE signed rational det_j/(det * 1e6)
    rendered half-up (det(X'X) >= 0, zero only for a collinear/empty
    design — lazy-CASE NULL).  Headroom: det ~ n^3 * 1e4 and det_j
    carries the 1e6 y-scale — int128 through the render factor to
    ~1e8 rows; past that, center the features first (the
    stats_var_twopass escape) — centering drops det by ~n^2.  Scale
    shape: one scan into a single 9-moment reduce; nothing else."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("x1"),
        F.expr("((unix_micros(ts) div 86400000000) + 4) % 7").alias("x2"),
        F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
        .alias("y6"),
    )
    m = v.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x1").cast("decimal(38,0)").alias("s1"),
        F.sum("x2").cast("decimal(38,0)").alias("s2"),
        F.sum(F.expr("cast(x1 as decimal(38,0)) * x1")).alias("s11"),
        F.sum(F.expr("cast(x2 as decimal(38,0)) * x2")).alias("s22"),
        F.sum(F.expr("cast(x1 as decimal(38,0)) * x2")).alias("s12"),
        F.sum("y6").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("cast(x1 as decimal(38,0)) * y6")).alias("s1y"),
        F.sum(F.expr("cast(x2 as decimal(38,0)) * y6")).alias("s2y"),
    )
    degen = F.expr(f"{_OLS_DN} = 0")
    out = [("beta_intercept", _OLS_D0), ("beta_hour", _OLS_D1),
           ("beta_dow", _OLS_D2)]
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        *[
            F.when(degen, F.lit(None).cast("double"))
            .otherwise(hu_ratio_signed(d, f"{_OLS_DN} * 1000000", 6))
            .alias(name)
            for name, d in out
        ],
    )
