"""Similarity search, sketches and model evaluation over the embeddings
table (SURVEY.md §2.C ⊕).

- kNN / ANN top-k, mirroring how ANN is actually deployed:
  ``knn_cosine`` (exact brute force, pure JVM expressions),
  ``knn_cosine_pandas`` (the same through a vectorized Arrow/Pandas UDF
  -- the pattern for a metric built-ins cannot express),
  ``knn_ivf_label`` (probe only the query's cluster; ``label`` stands in
  for a trained IVF coarse quantizer), ``ann_lsh_hyperplane`` and
  ``ann_lsh_multiprobe`` (random-hyperplane LSH buckets), plus
  ``knn_hard_negatives`` and the ``embedding_matryoshka_topk`` cascade.
  Each ends in the one partitioned top-k (:func:`_top_k` /
  :func:`_top_k_sql`).
- Sketches (HLL, KLL, theta, Bloom, AMS) validated against exact
  counts, and embedding statistics (dimension moments, whitening,
  Mahalanobis outliers, JL distortion, int8 quantization).
- The linear-scorer bank: one stand-in model (``_INF_W``) served by a
  Pandas UDF and evaluated by the ``eval_*`` queries.  Every eval
  query starts from the same scored frame, :func:`_scored_embeddings`
  in Spark and ``_SCORED_DUCK`` in the oracle.
- The nearest-centroid classifier (``eval_confusion_nearest_centroid``
  and ``eval_macro_f1_centroid``, one oracle chain
  ``_CENTROID_CONF_DUCK``).

Dot products fold left-to-right in double (Spark ``aggregate`` ==
DuckDB ``list_inner_product`` order), round(6) guards the last bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
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

_TOPK = 5
_NQ = 10  # vec_id < 10 are the query vectors

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"


def _cos_expr(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = f"sqrt({_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_DOT.format(a=b, b=b)})"
    return f"{dot} / ({na} * {nb})"


def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`_cos_expr`."""
    return (
        f"list_inner_product({a}, {b})"
        f" / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
    )


def _top_k(scored: DataFrame, k: int = _TOPK, *extra: str) -> DataFrame:
    """Each query's ``k`` nearest neighbors among ``scored``'s (query_id,
    neighbor_id, cos_raw, ``extra``) rows: ranked by cosine, ties to the
    lower neighbor id, the cosine rounded to 6 places.  The window is
    partitioned by query, so only (query, neighbor, score) rows shuffle."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", *extra, F.round("cos_raw", 6).alias("cosine"), "rk")
    )


def _knn_rank_sql(score: str, rk: str) -> str:
    """Oracle rank of each query's candidates by ``score``, ties to the
    lower neighbor id."""
    return f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {score} DESC, neighbor_id) AS {rk}"


def _top_k_sql(k: int = _TOPK, src: str = "scored", extra: str = "") -> str:
    """Oracle twin of :func:`_top_k`: the ``ranked`` CTE and the final
    SELECT over ``src``'s rows; ``extra`` is a column list ending in
    ``", "``."""
    return f"""ranked AS (
      SELECT query_id, neighbor_id, {extra}cos_raw, {_knn_rank_sql("cos_raw", "rk")}
      FROM {src})
    SELECT query_id, neighbor_id, {extra}round(cos_raw, 6) AS cosine, rk
    FROM ranked WHERE rk <= {k}"""


_ORACLE_KNN = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_NQ}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_cos_sql("q.qv", "e.v")} AS cos_raw
      FROM q JOIN e ON e.vec_id <> q.query_id),
    {_top_k_sql()}
"""


def _knn_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The vectors (vec_id, label, v) and the broadcast query vectors
    (query_id, qlabel, qv): the first ``_NQ`` vec_ids."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
        )
    )
    return e, q


def _knn_exact(spark: SparkSession, sf_dir: str, cos: Column) -> DataFrame:
    """Exact top-k of every query vector over all other vectors, scored
    by ``cos``, a column over the query vector ``qv`` and the vector ``v``."""
    e, q = _knn_sides(spark, sf_dir)
    scored = (
        q.join(e, F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", cos)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
    )
    return _top_k(scored)


@query("knn_cosine", oracle=_ORACLE_KNN)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set, score every
    vector JVM-side, partitioned top-k via row_number.

    One broadcast + one shuffle (on query_id, cardinality = |queries|).
    The scan side never shuffles -- this shape survives any table size;
    it is the verify/rerank stage for the IVF/LSH variants.
    """
    return _knn_exact(spark, sf_dir, F.expr(_cos_expr("qv", "v")))


@query("knn_cosine_pandas", oracle=_ORACLE_KNN)
def knn_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-k, but the scoring runs in a scalar Pandas UDF:
    Arrow-batched columns -> numpy dot per row pair.  Demonstrates the
    vectorized-UDF escape hatch with identical results to the built-in
    plan (same oracle)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_udf(qv: pd.Series, v: pd.Series) -> pd.Series:
        # per-element fold in float64; np.dot would use SIMD/BLAS reorder
        # and drift in the last bit vs the oracle's sequential sum.
        def fold(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        out = [
            fold(a, b) / ((fold(a, a) ** 0.5) * (fold(b, b) ** 0.5))
            for a, b in zip(qv, v)
        ]
        return pd.Series(out)

    return _knn_exact(spark, sf_dir, cos_udf(F.col("qv"), F.col("v")))


@query(
    "knn_ivf_label",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < {_NQ}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_cos_sql("q.qv", "e.v")} AS cos_raw
      FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.query_id),
    {_top_k_sql()}
    """,
)
def knn_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: probe only the query's own cluster
    (label = coarse quantizer cell).  The label equi-join IS the partition
    pruning -- with the table bucketed by label, each query touches one
    bucket (1/nlist of the data) and nothing shuffles but the results."""
    e, q = _knn_sides(spark, sf_dir)
    scored = (
        q.join(e, (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")))
        .withColumn("cos_raw", F.expr(_cos_expr("qv", "v")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
    )
    return _top_k(scored)


# ---------------------------------------------------- LSH-bucketed ANN

# Shared with operators/dedup.py via functions/lshfn.py (registry-free
# module: both operator files build oracle strings from these at import
# time, so a direct cross-import would be circular).
from eecs485_p4_mapreduce_spark.functions.lshfn import D as _D
from eecs485_p4_mapreduce_spark.functions.lshfn import H as _H
from eecs485_p4_mapreduce_spark.functions.lshfn import bucket_expr_spark as _bucket_expr_spark
from eecs485_p4_mapreduce_spark.functions.lshfn import bucket_sql as _bucket_sql
from eecs485_p4_mapreduce_spark.functions.lshfn import w_sql as _w_sql


@query(
    "ann_lsh_hyperplane",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bucketed AS MATERIALIZED (
      SELECT vec_id, v, {_bucket_sql('duckdb')} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed
          WHERE vec_id < {_NQ}),
    scored AS (
      SELECT q.query_id, b.vec_id AS neighbor_id, {_cos_sql("q.qv", "b.v")} AS cos_raw
      FROM q JOIN bucketed b ON b.bucket = q.bucket AND b.vec_id <> q.query_id),
    {_top_k_sql()}
    """,
)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: md5-derived hyperplanes
    give every vector an 8-bit sign bucket; queries only score vectors in
    their own bucket.

    The scale story: bucket assignment is scan-side (no shuffle), the
    candidate join is an equi-join on a 12-bit key, and the exact-cosine
    rerank touches ~1/256 of the table per query.  Recall is tunable by
    bucket bits / multi-probe; the brute-force twin (``knn_cosine``) is
    the ground truth to measure that recall against.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # bucket is an expensive derived column used by both join sides ->
    # materialize once (cf. the projection-collapse notes in dedup.py)
    bucketed = pin(e.withColumn("bucket", F.expr(_bucket_expr_spark())))
    q = F.broadcast(
        bucketed.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
        )
    )
    scored = (
        q.join(bucketed, ["bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", F.expr(_cos_expr("qv", "v")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
    )
    return _top_k(scored)


@query(
    "approx_distinct_tokens",
    oracle=r"""
    SELECT lang, COUNT(DISTINCT w) AS n_distinct_exact, TRUE AS within_bound
    FROM (SELECT lang,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> t <> '')) AS w
          FROM documents)
    GROUP BY lang
    """,
)
def approx_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct token count per language,
    validated in-query against the exact count.

    HLL estimates are implementation-specific, so the raw estimate cannot
    hash-match a DuckDB oracle; instead the query emits the *exact*
    distinct count (oracle-checkable) plus ``within_bound`` = the HLL++
    estimate landed within 3x its configured rsd (2%) of exact.  The
    oracle asserts TRUE, so an out-of-bound sketch turns the driver's
    CORRECTNESS row red.  At 100 TB the exact arm is dropped and only the
    sketch runs -- fixed-size, map-side mergeable, no giant shuffle of
    distinct values; the exact arm here exists purely as the validation
    counterpart.
    """
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.select("lang", F.explode(tokens("text")).alias("word"))
        .groupBy("lang")
        .agg(
            F.approx_count_distinct("word", rsd=0.02).alias("n_approx"),
            F.countDistinct("word").alias("n_distinct_exact"),
        )
    )
    tol = F.greatest(F.lit(2.0), 0.06 * F.col("n_distinct_exact"))
    return agg.select(
        "lang",
        "n_distinct_exact",
        (F.abs(F.col("n_approx") - F.col("n_distinct_exact")) <= tol).alias(
            "within_bound"
        ),
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale
          FROM e),
    q AS (SELECT vec_id, scale,
                 list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv,
                 v
          FROM s),
    err AS (SELECT vec_id, scale,
                   list_max(list_transform(range(1, 65),
                       i -> abs(list_extract(qv, i) * scale - list_extract(v, i)))) AS max_err,
                   list_max(list_transform(qv, x -> abs(x))) AS max_q
            FROM q)
    SELECT vec_id, round(scale, 9) AS scale, round(max_err, 9) AS max_abs_err,
           CAST(max_q AS BIGINT) AS max_q
    FROM err
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization: per-vector scale = max|x|/127,
    q = round(x/scale), plus reconstruction-error audit columns.

    The storage-side op of a vector pipeline (4x smaller embeddings for
    ANN candidate scans; full-precision only for rerank).  round()
    spelled floor(x+0.5) so both engines use identical
    round-half-up-toward-+inf semantics (values here are symmetric, so
    ties are vanishingly rare but still deterministic).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    s = e.withColumn(
        "scale",
        F.greatest(
            F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(1e-12)
        )
        / 127.0,
    )
    q = s.withColumn(
        "qv", F.transform("v", lambda x: F.floor(x / F.col("scale") + 0.5).cast("bigint"))
    )
    err = q.select(
        "vec_id",
        "scale",
        F.array_max(
            F.expr(
                "transform(sequence(1, 64),"
                " i -> abs(element_at(qv, i) * scale - element_at(v, i)))"
            )
        ).alias("max_err"),
        F.array_max(F.transform("qv", lambda x: F.abs(x))).alias("max_q"),
    )
    return err.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.round("max_err", 9).alias("max_abs_err"),
        F.col("max_q").cast("bigint").alias("max_q"),
    )


def _probes_sql(dialect: str) -> str:
    """All buckets within Hamming distance 1 of `bucket` (itself + one
    flip per bit position) -- the multi-probe sequence."""
    if dialect == "spark":
        flip = (
            f"transform(sequence(1, {_H}), i -> concat("
            "substring(bucket, 1, i - 1), "
            "case when substring(bucket, i, 1) = '1' then '0' else '1' end, "
            f"substring(bucket, i + 1, {_H} - i)))"
        )
        return f"concat(array(bucket), {flip})"
    flip = (
        f"list_transform(range(1, {_H} + 1), i -> concat("
        "substring(bucket, 1, i - 1), "
        "CASE WHEN substring(bucket, i, 1) = '1' THEN '0' ELSE '1' END, "
        f"substring(bucket, i + 1, {_H} - i)))"
    )
    return f"list_concat([bucket], {flip})"


@query(
    "ann_lsh_multiprobe",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bucketed AS MATERIALIZED (
      SELECT vec_id, v, {_bucket_sql('duckdb')} AS bucket FROM e),
    q AS (
      SELECT query_id, qv, unnest(probes) AS probe
      FROM (SELECT vec_id AS query_id, v AS qv,
                   {_probes_sql('duckdb')} AS probes
            FROM bucketed WHERE vec_id < {_NQ})),
    scored AS (
      SELECT q.query_id, b.vec_id AS neighbor_id, {_cos_sql("q.qv", "b.v")} AS cos_raw
      FROM q JOIN bucketed b ON b.bucket = q.probe AND b.vec_id <> q.query_id),
    {_top_k_sql()}
    """,
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query scores its own sign bucket PLUS the
    8 buckets at Hamming distance 1 (flip one hyperplane sign), recovering
    most of the recall single-probe LSH loses to near-boundary vectors at
    ~9/256 of the table per query -- still two orders of magnitude under
    brute force.

    Scale shape: the table side is bucketed once (scan-side expression);
    only the QUERY side fans out x9 (explode of a 9-element array), so
    the candidate join stays a broadcast equi-join on the bucket string.
    A probed bucket never repeats per query (all 9 probes are distinct
    strings), so no candidate dedup pass is needed before the rerank.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucketed = pin(e.withColumn("bucket", F.expr(_bucket_expr_spark())))
    q = F.broadcast(
        bucketed.filter(F.col("vec_id") < _NQ)
        .withColumn("probe", F.explode(F.expr(_probes_sql("spark"))))
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "probe")
    )
    scored = (
        q.join(bucketed, q.probe == bucketed.bucket)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", F.expr(_cos_expr("qv", "v")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
    )
    return _top_k(scored)


@query(
    "sketch_quantiles_error",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90_exact,
           round(quantile_cont(o_totalprice, 0.99), 6) AS p99_exact,
           TRUE AS within_bound
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sketch_quantiles_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch via
    ``percentile_approx``, accuracy 10000) validated in-query against the
    GK rank-error guarantee, per order status.

    Quantile sketches are implementation-specific (DuckDB uses t-digest),
    so the sketch value itself cannot hash-match an oracle.  Instead the
    query emits the exact interpolated quantiles (oracle = DuckDB
    ``quantile_cont``) plus ``within_bound``: for each q, the *rank* of
    the sketch's answer must sit within q +/- (1/accuracy + 2/n) -- the
    GK guarantee with one order-statistic of slack for tiny groups.  The
    oracle asserts TRUE, so a sketch outside its guarantee turns the
    CORRECTNESS row red.  At 100 TB only the sketch arm survives:
    fixed-size, one-pass, mergeable across partitions, where exact
    percentiles need a full sort per group.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    qs = [0.5, 0.9, 0.99]
    acc = 10000
    approx = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", qs, acc).alias("approx")
    )
    joined = o.join(F.broadcast(approx), "o_orderstatus")
    checked = joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias("exact"),
        *[
            F.avg((F.col("o_totalprice") <= F.col("approx")[i]).cast("double")).alias(
                f"frac_le_{i}"
            )
            for i in range(len(qs))
        ],
        *[
            F.avg((F.col("o_totalprice") < F.col("approx")[i]).cast("double")).alias(
                f"frac_lt_{i}"
            )
            for i in range(len(qs))
        ],
    )
    slack = F.lit(1.0 / acc) + 2.0 / F.col("n")
    bound = F.lit(True)
    for i, q in enumerate(qs):
        bound = (
            bound
            & (F.col(f"frac_lt_{i}") <= F.lit(q) + slack)
            & (F.col(f"frac_le_{i}") >= F.lit(q) - slack)
        )
    return checked.select(
        "o_orderstatus",
        *[F.round(F.col("exact")[i], 6).alias(f"p{int(q * 100)}_exact") for i, q in enumerate(qs)],
        bound.alias("within_bound"),
    )


@query(
    "sketch_hll_mergeable",
    oracle=r"""
    WITH w AS (SELECT lang,
                      unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> t <> '')) AS word
               FROM documents)
    SELECT lang, COUNT(DISTINCT word) AS n_distinct_exact, TRUE AS within_bound
    FROM w GROUP BY lang
    UNION ALL
    SELECT 'ALL' AS lang, COUNT(DISTINCT word) AS n_distinct_exact,
           TRUE AS within_bound
    FROM w
    """,
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL):
    build one sketch per language with ``hll_sketch_agg``, then merge
    the stored sketches with ``hll_union_agg`` for the corpus-wide
    estimate -- WITHOUT touching the raw tokens again.

    This is the re-aggregation property that matters at 100 TB: daily
    per-shard sketches are tiny blobs that roll up to any coarser
    grouping (week, corpus) with no second pass over the data.  The
    per-language rows and the merged 'ALL' row come from the same stored
    sketch column.  Sketch estimates are engine-specific, so the output
    exposes the exact counterpart (oracle-checkable in DuckDB) plus
    ``within_bound`` = |estimate - exact| <= 5% (lgK=14 => rsd ~0.81%;
    5% is >> 3 sigma).  The oracle asserts TRUE, so a broken sketch or a
    sum-instead-of-union merge turns the CORRECTNESS row red.  The exact
    arm exists for validation only — at 100 TB just the sketches run.
    """
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("lang", F.explode(tokens("text")).alias("word"))
    sketches = words.groupBy("lang").agg(
        F.hll_sketch_agg("word", F.lit(14)).alias("sk"),
        F.countDistinct("word").alias("n_distinct_exact"),
    )
    all_exact = words.select(F.countDistinct("word").alias("n_distinct_exact"))
    per_lang = sketches.select(
        "lang",
        "n_distinct_exact",
        F.hll_sketch_estimate("sk").cast("bigint").alias("est"),
    )
    merged = (
        sketches.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("est")
        )
        .crossJoin(F.broadcast(all_exact))
        .select(F.lit("ALL").alias("lang"), "n_distinct_exact", "est")
    )
    both = per_lang.unionByName(merged)
    tol = F.greatest(F.lit(2.0), 0.05 * F.col("n_distinct_exact"))
    return both.select(
        "lang",
        "n_distinct_exact",
        (F.abs(F.col("est") - F.col("n_distinct_exact")) <= tol).alias("within_bound"),
    )


@query(
    "sketch_theta_set_ops",
    oracle=r"""
    WITH w AS (SELECT DISTINCT source,
                      unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> t <> '')) AS word
               FROM documents),
    sizes AS (SELECT source, COUNT(*) AS n FROM w GROUP BY source),
    inter AS (SELECT a.source AS source_a, b.source AS source_b,
                     COUNT(*) AS n_inter
              FROM w a JOIN w b ON a.word = b.word AND a.source < b.source
              GROUP BY 1, 2)
    SELECT i.source_a, i.source_b,
           CAST(i.n_inter AS BIGINT) AS n_inter_exact,
           CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS n_union_exact,
           TRUE AS within_bound
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def sketch_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (Apache DataSketches): per-source token-set
    sketches, pairwise INTERSECTION and UNION estimates across all source
    pairs -- the sketch-side answer to "how much does corpus A overlap
    corpus B", i.e. cross-source contamination estimation at 100 TB scale
    where the exact distinct-join is unaffordable.

    One sketch per source (one pass over the tokens), then all pairwise
    set ops run on the tiny sketch blobs -- S^2 work on KBs, never on the
    data.  Sketch estimates are engine-specific, so the output carries
    the exact counterparts (oracle-checkable: DuckDB computes the same
    pairs exactly) plus ``within_bound`` = both estimates within 5% of
    exact (default lgK=12 => rsd < 1% in estimation mode; exact mode
    below 4096 distinct).  The oracle asserts TRUE.
    """
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("source", F.explode(tokens("text")).alias("word")).distinct()
    per_src = words.groupBy("source").agg(
        F.theta_sketch_agg("word").alias("sk"),
        F.count("*").alias("n_exact"),
    )
    a = per_src.select(
        F.col("source").alias("source_a"), F.col("sk").alias("sk_a"),
        F.col("n_exact").alias("na"),
    )
    b = per_src.select(
        F.col("source").alias("source_b"), F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("nb"),
    )
    # S sketches -> S^2/2 pairs; both sides are tiny aggregates, the
    # cross join is broadcast on KB-sized sketch blobs.
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("source_a") < F.col("source_b"))
    exact_inter = (
        words.select(F.col("source").alias("source_a"), "word")
        .join(words.select(F.col("source").alias("source_b"), "word"), "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_inter_exact"))
    )
    est = pairs.select(
        "source_a",
        "source_b",
        "na",
        "nb",
        F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b"))
        .cast("bigint")
        .alias("est_inter"),
        F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
        .cast("bigint")
        .alias("est_union"),
    )
    joined = est.join(exact_inter, ["source_a", "source_b"])
    n_union_exact = (F.col("na") + F.col("nb") - F.col("n_inter_exact")).cast("bigint")
    tol_i = F.greatest(F.lit(2.0), 0.05 * F.col("n_inter_exact"))
    within = (
        (F.abs(F.col("est_inter") - F.col("n_inter_exact")) <= tol_i)
        & (F.abs(F.col("est_union") - n_union_exact)
           <= F.greatest(F.lit(2.0), 0.05 * n_union_exact))
    )
    return joined.select(
        "source_a",
        "source_b",
        F.col("n_inter_exact").cast("bigint").alias("n_inter_exact"),
        n_union_exact.alias("n_union_exact"),
        within.alias("within_bound"),
    )


@query(
    "sketch_kll_quantiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90_exact,
           TRUE AS within_bound
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'ALL', round(quantile_cont(o_totalprice, 0.5), 6),
           round(quantile_cont(o_totalprice, 0.9), 6), TRUE
    FROM orders
    """,
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles (Apache DataSketches KLL): one doubles sketch
    per order status, plus the 'ALL' row obtained by MERGING the stored
    per-status sketches -- never re-reading the data.  That
    re-aggregation property is the 100 TB story: per-shard sketches roll
    up to any coarser grouping in KBs.

    Sketch answers are engine-specific, so the query emits the exact
    interpolated quantiles (oracle = DuckDB quantile_cont) plus
    ``within_bound``: the RANK of each sketch answer must sit within
    q +/- (0.025 + 2/n) -- KLL k=200 guarantees ~1.65% normalized rank
    error at 99% confidence, so 2.5% + one order statistic of slack is a
    real bound that still fails on a broken sketch or merge.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    qs = [0.5, 0.9]
    per_status = o.groupBy("o_orderstatus").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk")
    )
    merged = per_status.agg(F.kll_merge_agg_double("sk").alias("sk")).select(
        F.lit("ALL").alias("o_orderstatus"), "sk"
    )
    approx = per_status.unionByName(merged).select(
        "o_orderstatus",
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(q)).alias(f"a{i}")
            for i, q in enumerate(qs)
        ],
    )
    # Re-key every order row to (its status, 'ALL') so one aggregation
    # checks the per-status sketches AND the merged sketch.
    keyed = o.unionByName(
        o.select(F.lit("ALL").alias("o_orderstatus"), "o_totalprice")
    )
    joined = keyed.join(F.broadcast(approx), "o_orderstatus")
    checked = joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("exact"),
        *[
            F.avg((F.col("o_totalprice") <= F.col(f"a{i}")).cast("double")).alias(
                f"frac_le_{i}"
            )
            for i in range(len(qs))
        ],
        *[
            F.avg((F.col("o_totalprice") < F.col(f"a{i}")).cast("double")).alias(
                f"frac_lt_{i}"
            )
            for i in range(len(qs))
        ],
    )
    slack = F.lit(0.025) + 2.0 / F.col("n")
    bound = F.lit(True)
    for i, q in enumerate(qs):
        bound = (
            bound
            & (F.col(f"frac_lt_{i}") <= F.lit(q) + slack)
            & (F.col(f"frac_le_{i}") >= F.lit(q) - slack)
        )
    return checked.select(
        "o_orderstatus",
        *[F.round(F.col("exact")[i], 6).alias(f"p{int(q * 100)}_exact") for i, q in enumerate(qs)],
        bound.alias("within_bound"),
    )


_HN_K = 3  # hard negatives per query
_MAT_DIM = 16  # matryoshka prefix dims (of 64)
_MAT_K1 = 25  # stage-1 candidate pool per query


@query(
    "knn_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < {_NQ}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
             {_cos_sql("q.qv", "e.v")} AS cos_raw
      FROM q JOIN e ON e.label <> q.qlabel),
    {_top_k_sql(_HN_K, extra="neg_label, ")}
    """,
)
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each query vector, the top-{_HN_K} most-similar vectors whose LABEL
    differs — the near-misses a contrastive loss learns the most from.

    Same broadcast + partitioned-top-k shape as ``knn_cosine``; the
    label inequality rides the join condition, so the scan side is
    filtered before any scoring.  At 100 TB this is knn over the
    label-pruned candidate stream (in practice run after ANN recall,
    see ``ann_lsh_hyperplane``)."""
    e, q = _knn_sides(spark, sf_dir)
    scored = (
        q.join(e, F.col("label") != F.col("qlabel"))
        .withColumn("cos_raw", F.expr(_cos_expr("qv", "v")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            "cos_raw",
        )
    )
    return _top_k(scored, _HN_K, "neg_label")


@query(
    "embedding_matryoshka_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      CAST(list_slice(embedding, 1, {_MAT_DIM}) AS DOUBLE[]) AS vp
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, vp AS qp FROM e WHERE vec_id < {_NQ}),
    pre AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.v,
             {_cos_sql("q.qp", "e.vp")} AS cos_pre
      FROM q JOIN e ON e.vec_id <> q.query_id),
    cand AS (
      SELECT query_id, neighbor_id, qv, v, {_knn_rank_sql("cos_pre", "rk1")}
      FROM pre),
    full_r AS (
      SELECT query_id, neighbor_id, {_cos_sql("qv", "v")} AS cos_raw
      FROM cand WHERE rk1 <= {_MAT_K1}),
    {_top_k_sql(src="full_r")}
    """,
)
def embedding_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka cascade search: rank ALL candidates on the cheap
    {_MAT_DIM}-dim embedding prefix (MRL-style truncation — 4x less
    arithmetic and memory traffic per candidate), keep the top
    {_MAT_K1} per query, then rerank only those on the full 64 dims.

    The scale shape: stage 1 is where 100 TB of vectors get scanned, so
    it reads a {_MAT_DIM}-dim slice (with column pruning this is a
    narrower scan + 4x fewer FLOPs); stage 2's exact rerank touches
    {_MAT_K1} rows per query.  Both stages shuffle only (query_id,
    neighbor_id, score) triples."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.expr(f"cast(slice(embedding, 1, {_MAT_DIM}) as array<double>)").alias("vp"),
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("vp").alias("qp"),
        )
    )
    pre = (
        q.join(e, F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_pre", F.expr(_cos_expr("qp", "vp")))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "qv", "v", "cos_pre"
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("cos_pre"), F.asc("neighbor_id"))
    cand = pre.withColumn("rk1", F.row_number().over(w1)).filter(
        F.col("rk1") <= _MAT_K1
    )
    full_r = cand.withColumn("cos_raw", F.expr(_cos_expr("qv", "v"))).select(
        "query_id", "neighbor_id", "cos_raw"
    )
    return _top_k(full_r)


# embedding_dim_stats' single-pass variance rational, factored to
# module constants so the int128 boundary pin
# (tests/test_headroom_bounds.py) drives the PRODUCTION expression
# strings (the _WELCH_AQ discipline).  sxd/sxxd are the decimal(18,9)
# and decimal(28,15) moment sums; n the group count.
_DIMSTAT_SX = "cast(sxd * 1000000000 as decimal(38,0))"
_DIMSTAT_VAR_NUM = (
    "cast(n as decimal(38,0))"
    " * cast(sxxd * 1000000000000000 as decimal(38,0)) * 1000"
    f" - {_DIMSTAT_SX} * {_DIMSTAT_SX}"
)
_DIMSTAT_VAR_DEN = "cast(n as decimal(38,0)) * n * 1000000000000000000"


@query(
    "embedding_dim_stats",
    oracle=f"""
    WITH el AS (
      SELECT d, CAST(embedding[d] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, 65)) AS t(d)),
    g AS (
      SELECT d, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(18,9))) AS sx,
             SUM(CAST(x * x AS DECIMAL(28,15))) AS sxx
      FROM el GROUP BY d)
    SELECT d, CAST(n AS BIGINT) AS n,
           {hu_ratio_signed_sql("CAST(sx * 1000000000 AS HUGEINT)",
                                "CAST(n AS HUGEINT) * 1000000000", 6)} AS mean,
           {hu_ratio_signed_sql(
               "CAST(n AS HUGEINT) * CAST(sxx * 1000000000000000 AS HUGEINT)"
               " * 1000 - CAST(sx * 1000000000 AS HUGEINT)"
               " * CAST(sx * 1000000000 AS HUGEINT)",
               "CAST(n AS HUGEINT) * n * 1000000000000000000", 6)} AS var_pop
    FROM g
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding matrix — the
    feature-normalization statistics a training pipeline computes before
    whitening or standardizing vectors.  posexplode to (dim, value),
    then a 64-group decimal-exact moment aggregate (the stats_moments
    recipe columnwise); only 64 rows of statistics leave the executors,
    at any corpus size."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x")
    )
    g = e.groupBy((F.col("d0") + 1).alias("d")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(18,9)")).alias("sxd"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,15)")).alias("sxxd"),
    )
    # mean and population variance are exact rationals of the 10^9- and
    # 10^15-scaled integer sums: var = (n*sxx_i*10^3 - sx_i^2)/(n^2*10^18)
    # — rendered by the signed half-up recipe, never round(double, 6).
    # DECISION RULE (int128 headroom, MEASURED in
    # tests/test_headroom_bounds.py): the render's 2*|num|*10^6 factor
    # is the binding constraint — num ~ n^2 * E[x^2] * 10^18 must stay
    # <= 5e31, i.e. n <= ~7e6/sqrt(E[x^2]) rows per dimension (~5e7 for
    # unit-norm 64-dim embeddings where E[x^2] ~ 1/64).  The wrap is
    # LOUD (NUMERIC_VALUE_OUT_OF_RANGE), never a wrong number.  Beyond
    # that: (a) DECLARED quantization drop — IMPLEMENTED as
    # embedding_dim_stats_q4 below (floor(x*10^4) grid + 4-digit
    # render puts the bound past 1e12 rows/dim, identical in both
    # engines; survival at the exact form's wrap point pinned in
    # tests/test_headroom_bounds.py); (b) the mean-shifted two-pass
    # (relational2.twopass_var, boundary-pinned) when the mean
    # dominates the spread — useless here since embedding means ~ 0.
    # Sharding alone does NOT relax the render — merged moment
    # partials still feed the same rational.
    return g.select(
        "d",
        "n",
        hu_ratio_signed(
            "sxd * 1000000000", "cast(n as decimal(38,0)) * 1000000000", 6
        ).alias("mean"),
        hu_ratio_signed(
            _DIMSTAT_VAR_NUM, _DIMSTAT_VAR_DEN, 6
        ).alias("var_pop"),
    )


# embedding_dim_stats_q4's quantized variance rational, factored to
# module constants so the headroom test can demonstrate survival at the
# row count where the exact form's render wraps.  sx4/sxx8 are
# decimal(38,0) sums of floor(x*10^4) and its square; n the group count.
_DIMSTAT_Q4_VAR_NUM = (
    "cast(n as decimal(38,0)) * sxx8 - sx4 * sx4"
)
_DIMSTAT_Q4_VAR_DEN = "cast(n as decimal(38,0)) * n * 100000000"


@query(
    "embedding_dim_stats_q4",
    oracle=f"""
    WITH el AS (
      SELECT d, CAST(embedding[d] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, 65)) AS t(d)),
    q AS (SELECT d, CAST(FLOOR(x * 10000.0) AS HUGEINT) AS x4 FROM el),
    g AS (
      SELECT d, COUNT(*) AS n, SUM(x4) AS sx4, SUM(x4 * x4) AS sxx8
      FROM q GROUP BY d)
    SELECT d, CAST(n AS BIGINT) AS n,
           {hu_ratio_signed_sql("sx4", "CAST(n AS HUGEINT) * 10000", 4)}
             AS mean_q4,
           {hu_ratio_signed_sql(
               "CAST(n AS HUGEINT) * sxx8 - sx4 * sx4",
               "CAST(n AS HUGEINT) * n * 100000000", 4)} AS var_pop_q4
    FROM g
    """,
)
def embedding_dim_stats_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance on a DECLARED 10^-4 input grid with a
    4-digit render — the IMPLEMENTED quantization-drop fallback
    embedding_dim_stats' decision rule names for past-the-render-bound
    corpora.

    For zero-mean embeddings, centering buys nothing (E[x^2] ~ var), so
    the exact form's render factor 2*n^2*E[x^2]*10^18*10^6 binds at
    ~5e7 rows/dim regardless of passes.  Dropping DECLARED precision
    relaxes it: quantize each coordinate to x4 = floor(x*10^4) — floor
    of a correctly-rounded double product is half-hazard-free and
    bit-identical in both engines (the coreset-grid recipe) — then the
    rational is over integer sums with render factor
    2*n^2*E[x4^2]*10^4 <= 10^38, i.e. n <= ~5e13 rows/dim at unit-norm
    64-dim magnitudes (E[x4^2] ~ 1.6e6): past 1e12 rows with margin,
    covering 100 TB outright.  Per-term products are pre-cast to
    decimal(38,0) before the sum (CLAUDE.md rule: int64 products
    overflow first).  The declared drop is a CONTRACT, not an
    approximation — both engines compute the identical statistic of the
    identical quantized corpus.  Survival at the row count where the
    exact form wraps is pinned in tests/test_headroom_bounds.py."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x")
    )
    q = e.select(
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("x") * F.lit(10000.0)).alias("x4"),
    )
    g = q.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("cast(x4 as decimal(38,0))")).alias("sx4"),
        F.sum(F.expr("cast(x4 as decimal(38,0)) * x4")).alias("sxx8"),
    )
    return g.select(
        "d",
        "n",
        hu_ratio_signed("sx4", "cast(n as decimal(38,0)) * 10000", 4).alias(
            "mean_q4"
        ),
        hu_ratio_signed(
            _DIMSTAT_Q4_VAR_NUM, _DIMSTAT_Q4_VAR_DEN, 4
        ).alias("var_pop_q4"),
    )


# Deterministic stand-in model: 64 md5-derived weights in [-0.5, 0.5),
# Python literals shared by the Spark plan and the oracle (the
# Benford-literals recipe) -- a real deployment broadcasts trained
# weights the same way.
_INF_W = [-0.021426, -0.238382, -0.084529, -0.079714, -0.407197, 0.061007, 0.033981, -0.290046, -0.209396, -0.433055, 0.325514, -0.272452, 0.050871, 0.139029, -0.241085, -0.469813, -0.286796, 0.480144, -0.356815, 0.31483, 0.012064, -0.06554, 0.12421, 0.314971, -0.239186, 0.36039, -0.444064, 0.014245, 0.456717, 0.133074, 0.002064, -0.295269, 0.425871, 0.267484, 0.300831, 0.470085, -0.196794, -0.156624, -0.087983, -0.274415, -0.09705, -0.303554, -0.149114, 0.209532, -0.499992, 0.48193, 0.049541, 0.091163, 0.116252, 0.204575, 0.08902, -0.065811, 0.446259, -0.013789, 0.484094, -0.229645, -0.006373, -0.157964, -0.256003, -0.148068, -0.218903, 0.35249, 0.24842, -0.448734]


def _weights(dialect: str, ws: list[float] = _INF_W) -> str:
    """The scorer's weights ``ws`` (default all 64) as an array literal."""
    if dialect == "spark":
        return "array(" + ", ".join(f"{w}D" for w in ws) + ")"
    return "[" + ", ".join(str(w) for w in ws) + "]"


def _logit(a: str = "CAST(embedding AS ARRAY<DOUBLE>)", ws: list[float] = _INF_W) -> Column:
    """The scorer's logit of the vector ``a`` under the weights ``ws``:
    the sequential-fold dot product, rounded to 6 places."""
    return F.round(F.expr(_DOT.format(a=a, b=_weights("spark", ws))), 6)


_LOGIT_DUCK = f"round(list_inner_product(CAST(embedding AS DOUBLE[]), {_weights('duckdb')}), 6)"


def _scored_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame every eval query starts from: per vector, the weak
    positive label ``y`` (label >= 5) as 0/1 and the scorer's sigmoid
    probability ``p_bp`` in integer basis points.  The sigmoid of the
    round(6) logit is quantized to basis points at once (round-half-away
    on identical IEEE doubles -- the ln round-4 convention's risk class),
    so everything downstream is integer arithmetic."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
        _logit().alias("logit"),
    )
    return e.select(
        "y",
        F.round(10000 * (1 / (1 + F.exp(-F.col("logit")))))
        .cast("bigint")
        .alias("p_bp"),
    )


# Oracle twin of _scored_embeddings: CTEs e and p, p holding (y, p_bp).
_SCORED_DUCK = f"""
    WITH e AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
                      {_LOGIT_DUCK} AS logit
               FROM embeddings),
    p AS (SELECT y,
                 CAST(round(10000 * (1 / (1 + exp(-logit)))) AS BIGINT)
                   AS p_bp
          FROM e)"""


def _decile_bin() -> Column:
    """The decile of the basis-point score (p_bp = 10000 joins decile 9)."""
    return F.least(F.expr("p_bp div 1000"), F.lit(9)).alias("bin")


_DECILE_DUCK = "least(p_bp // 1000, 9) AS bin"


def _score_histogram(p: DataFrame) -> DataFrame:
    """(v, c, c1): per distinct basis-point score, its count and its
    positives -- at most 10001 rows."""
    return p.groupBy(F.col("p_bp").alias("v")).agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("c1"),
    )


# Oracle twin of _score_histogram over the p CTE.
_HISTOGRAM_DUCK = """vc AS (SELECT p_bp AS v, CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(SUM(y) AS BIGINT) AS c1
           FROM p GROUP BY 1)"""


def _rank_sums_sql(name: str) -> str:
    """Oracle CTEs vc, r and ``name``, the one row (n1, n0, r2):
    positives, negatives and the positives' DOUBLED midrank sum over the
    score histogram.  Per distinct score the doubled midrank
    2*cum_before + c + 1 is an exact integer, so ties count half
    without enumerating n1*n0 pairs."""
    return f"""{_HISTOGRAM_DUCK},
    r AS (SELECT v, c, c1,
                 CAST(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                   AS BIGINT) AS cum_before
          FROM vc),
    {name} AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c) - SUM(c1) AS BIGINT) AS n0,
                 CAST(SUM(CAST(c1 AS HUGEINT)
                          * (2 * cum_before + c + 1)) AS HUGEINT) AS r2
          FROM r)"""


def _auc() -> Column:
    """ROC AUC = U / (n1 n0) from the rank sums (n1, n0, r2), NULL for a
    single-class corpus (a lazy CASE before the division: ANSI
    divide-by-zero rule)."""
    return (
        F.when((F.col("n1") == 0) | (F.col("n0") == 0), F.lit(None).cast("double"))
        .otherwise(
            hu_ratio(
                "r2 - cast(n1 as decimal(38,0)) * (n1 + 1)",
                "2 * cast(n1 as decimal(38,0)) * n0",
                6,
            )
        )
        .alias("auc")
    )


def _auc_sql(m: str) -> str:
    """Oracle twin of :func:`_auc` over the rank-sum CTE ``m``."""
    return f"""CASE WHEN {m}.n1 = 0 OR {m}.n0 = 0 THEN NULL ELSE
           {hu_ratio_sql(f"{m}.r2 - CAST({m}.n1 AS HUGEINT) * ({m}.n1 + 1)",
                         f"2 * CAST({m}.n1 AS HUGEINT) * {m}.n0", 6)} END AS auc"""


@query(
    "inference_linear_scores",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
      SELECT vec_id, label,
             round(list_inner_product(v, {_weights('duckdb')}), 6) AS logit
      FROM e)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(SUM(CAST(logit AS DECIMAL(18,6))) AS DOUBLE) AS total_logit
    FROM scored GROUP BY label
    """,
)
def inference_linear_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference over the embedding table: a vectorized
    Pandas UDF scores every vector against broadcast linear weights
    (the classifier / reward-model / quality-filter serving shape), and
    the per-label rollup audits the score distribution.

    The Arrow batch arrives as a pandas Series of arrays; scoring folds
    each dot product sequentially in float64 (the knn_cosine_pandas
    discipline -- numpy BLAS would reorder and drift in the last bit vs
    the oracle's list_inner_product), then rounds to 6 places before the
    decimal-exact label rollup.  At 100 TB this is the embarrassingly
    parallel scan stage; the weights ride the closure exactly as a
    broadcast model would."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    w = _INF_W

    @pandas_udf("double")
    def score(vs: pd.Series) -> pd.Series:
        out = []
        for v in vs:
            acc = 0.0
            for x, wi in zip(v, w):
                acc += x * wi
            out.append(acc)
        return pd.Series(out)

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    scored = e.select(
        "label", F.round(score(F.col("v")), 6).alias("logit")
    )
    return scored.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("logit") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_positive"),
        # exact 6-decimal sum: the double cast needs no re-round (a
        # <= 6-fractional-digit value is never at a 6-decimal half)
        F.sum(F.col("logit").cast("decimal(18,6)")).cast("double").alias(
            "total_logit"
        ),
    )


from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql
from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS

# Probe-term Bloom masks, Python-precomputed from the same md5->int
# derivation the engines use (functions/hashfn.py), so probing is pure
# integer literals at query time.  Probe set: ['fast', 'table', 'scan', 'zebra', 'quantum']
# ('zebra'/'quantum' are absent from the corpus -- expected misses
# modulo false positives).
_BLOOM_HITS = "(CASE WHEN (w1 & 16777216) = 16777216 AND (w2 & 4398046511104) = 4398046511104 THEN 1 ELSE 0 END) + (CASE WHEN (w1 & 281477124194304) = 281477124194304 THEN 1 ELSE 0 END) + (CASE WHEN (w0 & 140737488355328) = 140737488355328 AND (w3 & 8796093022208) = 8796093022208 THEN 1 ELSE 0 END) + (CASE WHEN (w1 & 2473901162496) = 2473901162496 THEN 1 ELSE 0 END) + (CASE WHEN (w1 & 4) = 4 AND (w2 & 4294967296) = 4294967296 THEN 1 ELSE 0 END)"


@query(
    "sketch_bloom_tokens",
    oracle=f"""
    WITH tk AS (SELECT source, unnest(list_distinct({DUCK_TOKENS})) AS tok
                FROM documents),
    hx AS (SELECT DISTINCT source, tok FROM tk),
    pos AS (SELECT source,
                   ({hex_int_sql('duckdb', 'md5(tok)', 1)}) % 252 AS p1,
                   (({hex_int_sql('duckdb', 'md5(tok)', 1)})
                    + (2 * ({hex_int_sql('duckdb', 'md5(tok)', 9)}) + 1)) % 252 AS p2
            FROM hx),
    masks AS (SELECT source,
        {', '.join(
            f"(CASE WHEN p1 // 63 = {w} THEN (1::BIGINT << (p1 % 63)) ELSE 0 END)"
            f" | (CASE WHEN p2 // 63 = {w} THEN (1::BIGINT << (p2 % 63)) ELSE 0 END) AS m{w}"
            for w in range(4)
        )}
      FROM pos),
    bloom AS (SELECT source,
                     {', '.join(f"bit_or(m{w}) AS w{w}" for w in range(4))}
              FROM masks GROUP BY source)
    SELECT source, w0, w1, w2, w3,
           CAST({_BLOOM_HITS} AS BIGINT) AS n_probe_hits
    FROM bloom
    """,
)
def sketch_bloom_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom filter per source over its distinct token set --
    the classic membership sketch, built ENTIRELY from integer
    aggregation: each token contributes two md5-derived bit positions in
    a 4x63-bit filter (63 usable bits/word keeps shifts off the sign
    bit, which one engine rejects), and ``bit_or`` is the merge -- the
    same associativity that lets per-partition partial filters combine
    map-side, or per-day filters roll up to per-month.  The emitted
    words ARE the filter (16 bytes/source at any corpus size); probing
    is literal mask tests precomputed in Python from the identical
    md5 derivation.  Complements the HLL (cardinality) / KLL (rank) /
    theta (set algebra) / Count-Min (frequency) sketch family with
    membership."""
    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql as _hx
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens as _toks

    docs = load_table(spark, sf_dir, "documents")
    hx = (
        docs.select("source", F.explode(F.array_distinct(_toks("text"))).alias("tok"))
        .distinct()
    )
    pos = hx.select(
        "source",
        (F.expr(_hx("spark", "md5(tok)", 1)) % 252).alias("p1"),
        (
            (
                F.expr(_hx("spark", "md5(tok)", 1))
                + (2 * F.expr(_hx("spark", "md5(tok)", 9)) + 1)
            )
            % 252
        ).alias("p2"),
    )
    masks = pos.select(
        "source",
        *[
            F.expr(
                f"(CASE WHEN p1 div 63 = {w} THEN shiftleft(cast(1 as bigint), cast(p1 % 63 as int)) ELSE cast(0 as bigint) END)"
                f" | (CASE WHEN p2 div 63 = {w} THEN shiftleft(cast(1 as bigint), cast(p2 % 63 as int)) ELSE cast(0 as bigint) END)"
            ).alias(f"m{w}")
            for w in range(4)
        ],
    )
    bloom = masks.groupBy("source").agg(
        *[F.bit_or(f"m{w}").alias(f"w{w}") for w in range(4)]
    )
    return bloom.select(
        "source",
        "w0",
        "w1",
        "w2",
        "w3",
        F.expr(_BLOOM_HITS).cast("bigint").alias("n_probe_hits"),
    )


# Oracle CTEs el and cm: per (label, dimension d), the decimal-exact
# mean m of the label's vectors.
_CENTROID_MEANS_DUCK = """
    WITH el AS (
      SELECT label, d, CAST(embedding[d] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, 65)) AS t(d)),
    cm AS (
      SELECT label, d,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
      FROM el GROUP BY 1, 2)"""


@query(
    "embedding_centroid_similarity",
    oracle=f"""{_CENTROID_MEANS_DUCK},
    cv AS (SELECT label, array_agg(m ORDER BY d) AS v FROM cm GROUP BY 1)
    SELECT a.label AS label_a, b.label AS label_b,
           round({_cos_sql("a.v", "b.v")}, 6) AS cosine
    FROM cv a JOIN cv b ON a.label < b.label
    """,
)
def embedding_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    -- the class-confusability map (near-identical centroids = labels a
    classifier or router will mix up, and IVF lists that should merge).

    The 100 TB pass is the per-(label, dim) decimal-exact mean (the
    embedding_dim_stats moment recipe -- map-side combinable, output is
    labels x 64 rows); centroids then assemble into dim-ordered arrays
    and the 45-pair cosine matrix is computed on rows proportional to
    label-pairs, nothing else.  Dot products use the sequential fold
    (knn_cosine's _DOT) that matches DuckDB's list_inner_product
    bitwise; means are identical exact divisions of decimal sums, so
    the whole pipeline is deterministic with one final round(6)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x"),
    )
    cm = e.groupBy("label", (F.col("d0") + 1).alias("d")).agg(
        (F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count("*")).alias(
            "m"
        )
    )
    cv = cm.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s.m
        ).alias("v")
    )
    a = cv.select(F.col("label").alias("label_a"), F.col("v").alias("va"))
    b = cv.select(F.col("label").alias("label_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(F.expr(_cos_expr("va", "vb")), 6).alias("cosine"),
        )
    )


_SWEEP_THRESHOLDS = [-0.5, -0.25, 0.0, 0.25, 0.5]


def _sweep_oracle() -> str:
    th_list = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    return f"""
    WITH e AS (SELECT label >= 5 AS pos, {_LOGIT_DUCK} AS logit
               FROM embeddings),
    th AS (SELECT CAST(unnest([{th_list}]) AS DOUBLE) AS threshold),
    m AS (
      SELECT th.threshold,
             CAST(SUM(CASE WHEN e.logit > th.threshold AND e.pos
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN e.logit > th.threshold AND NOT e.pos
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN e.logit <= th.threshold AND e.pos
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM th CROSS JOIN e GROUP BY 1)
    SELECT threshold, tp, fp, fn,
           CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) AS precision,
           CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS recall
    FROM m
    """


@query("inference_threshold_sweep", oracle=_sweep_oracle())
def inference_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold sweep for the linear scorer: precision/recall
    of logit > t against the weak positive label (label >= 5) at five
    candidate thresholds -- the calibration table consulted before
    turning a scored column into a keep/drop filter over 100 TB.

    Scoring stays JVM-side here (the sequential-fold dot product against
    the same broadcast literal weights the Pandas-UDF serving query
    uses, quantized round(6) like it), and the sweep is ONE pass: each
    vector is scored once and cross-joined against the 5-row broadcast
    threshold list, so the confusion counts for every threshold
    accumulate in a single map-side-combinable aggregate.  All counts
    are exact integers; precision/recall are single exact divisions."""
    e = load_table(spark, sf_dir, "embeddings").select(
        (F.col("label") >= 5).alias("pos"), _logit().alias("logit")
    )
    th = spark.range(len(_SWEEP_THRESHOLDS)).select(
        F.explode(F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])).alias(
            "threshold"
        )
    ).distinct()
    m = (
        F.broadcast(th)
        .crossJoin(e)
        .groupBy("threshold")
        .agg(
            F.sum(F.when((F.col("logit") > F.col("threshold")) & F.col("pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when((F.col("logit") > F.col("threshold")) & ~F.col("pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when((F.col("logit") <= F.col("threshold")) & F.col("pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("fn"),
        )
    )
    return m.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))).alias(
            "precision"
        ),
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))).alias(
            "recall"
        ),
    )


_AMS_ROWS = 16


def _ams_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql
    from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS

    h = hex_int_sql("duckdb", "md5(token || '|' || CAST(r AS VARCHAR))", 1)
    return f"""
    WITH tk AS (SELECT unnest({DUCK_TOKENS}) AS token FROM documents),
    ck AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1),
    f2 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM ck),
    sg AS (
      SELECT t.r,
             CASE WHEN ({h}) % 2 = 0 THEN 1 ELSE -1 END * ck.c AS sc
      FROM ck CROSS JOIN generate_series(0, {_AMS_ROWS - 1}) AS t(r)),
    sr AS (SELECT r, CAST(SUM(sc) AS BIGINT) AS s FROM sg GROUP BY 1),
    est AS (SELECT CAST(SUM(s * s) AS BIGINT) AS est_sum,
                   CAST(COUNT(*) AS BIGINT) AS n_rows FROM sr)
    SELECT est.n_rows, f2.f2_exact,
           3 * est.est_sum >= {_AMS_ROWS} * f2.f2_exact
             AND est.est_sum <= 3 * {_AMS_ROWS} * f2.f2_exact AS within_bound
    FROM est CROSS JOIN f2
    """


@query("sketch_ams_f2_tokens", oracle=_ams_oracle())
def sketch_ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch over the
    token stream: F2 = sum of squared token counts -- the self-join-size
    / skew statistic a planner consults before choosing a join strategy,
    estimated from 16 random-sign linear projections.

    Deterministic AMS: the +-1 sign for (token, row) comes from md5
    parity (the engine's shared randomness source), so S_r = sum of
    sign*count is an exact BIGINT reproducible on both engines; the
    estimate mean-of-S_r^2 is audited against the exactly-computed F2
    with an integer 3x-band check (count sums and squares only -- no
    floats anywhere).  Scale shape: one token-count aggregate over the
    corpus, then everything runs on vocab x 16 rows; in production S_r
    accumulates streaming-side per partition and merges by addition --
    the signature property that makes AMS mergeable."""
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(F.explode(_tokens("text")).alias("token"))
    ck = tk.groupBy("token").agg(F.count("*").cast("bigint").alias("c"))
    f2 = ck.agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"))
    h = (
        "cast(conv(substring(md5(concat(token, '|', cast(r as string))),"
        " 1, 8), 16, 10) as bigint)"
    )
    sg = ck.select(
        "c", F.explode(F.sequence(F.lit(0), F.lit(_AMS_ROWS - 1))).alias("r"), "token"
    ).select(
        "r",
        (
            F.when(F.expr(h) % 2 == 0, 1).otherwise(-1) * F.col("c")
        ).alias("sc"),
    )
    sr = sg.groupBy("r").agg(F.sum("sc").cast("bigint").alias("s"))
    est = sr.agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("est_sum"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    return est.crossJoin(F.broadcast(f2)).select(
        "n_rows",
        "f2_exact",
        (
            (3 * F.col("est_sum") >= _AMS_ROWS * F.col("f2_exact"))
            & (F.col("est_sum") <= 3 * _AMS_ROWS * F.col("f2_exact"))
        ).alias("within_bound"),
    )


_BTX_SRC = 0  # "source language" label
_BTX_TGT = 1  # "target language" label
_BTX_K = 4  # margin denominator: avg cosine of each side's top-k neighbors


@query(
    "bitext_margin_mining",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id AS x_id, v AS xv,
                 sqrt(list_inner_product(v, v)) AS xn
          FROM e WHERE label = {_BTX_SRC}),
    t AS (SELECT vec_id AS y_id, v AS yv,
                 sqrt(list_inner_product(v, v)) AS yn
          FROM e WHERE label = {_BTX_TGT}),
    p AS (SELECT x_id, y_id,
                 round(list_inner_product(xv, yv) / (xn * yn), 6) AS cos_r
          FROM s, t),
    rx AS (SELECT *, row_number() OVER
             (PARTITION BY x_id ORDER BY cos_r DESC, y_id) AS rk FROM p),
    ax AS (SELECT x_id,
                  {hu_ratio_signed_sql(
                      "SUM(CAST(cos_r AS DECIMAL(18,6))) * 1000000",
                      f"{_BTX_K} * CAST(1000000 AS HUGEINT)", 6)} AS avg_x
           FROM rx WHERE rk <= {_BTX_K} GROUP BY x_id),
    ry AS (SELECT *, row_number() OVER
             (PARTITION BY y_id ORDER BY cos_r DESC, x_id) AS rk FROM p),
    ay AS (SELECT y_id,
                  {hu_ratio_signed_sql(
                      "SUM(CAST(cos_r AS DECIMAL(18,6))) * 1000000",
                      f"{_BTX_K} * CAST(1000000 AS HUGEINT)", 6)} AS avg_y
           FROM ry WHERE rk <= {_BTX_K} GROUP BY y_id),
    m AS (SELECT p.x_id, p.y_id, p.cos_r,
                 {hu_ratio_signed_sql(
                     "2 * CAST(CAST(p.cos_r AS DECIMAL(18,6)) * 1000000"
                     " AS BIGINT)",
                     "CAST(CAST(ax.avg_x AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
                     " + CAST(CAST(ay.avg_y AS DECIMAL(18,6)) * 1000000"
                     " AS BIGINT)", 6)} AS margin
          FROM p JOIN ax ON ax.x_id = p.x_id
                 JOIN ay ON ay.y_id = p.y_id),
    bx AS (SELECT *, row_number() OVER
             (PARTITION BY x_id ORDER BY margin DESC, y_id) AS bxr FROM m),
    by AS (SELECT x_id, y_id, row_number() OVER
             (PARTITION BY y_id ORDER BY margin DESC, x_id) AS byr FROM m)
    SELECT bx.x_id AS src_id, bx.y_id AS tgt_id, bx.cos_r, bx.margin
    FROM bx JOIN by ON by.x_id = bx.x_id AND by.y_id = bx.y_id
    WHERE bx.bxr = 1 AND by.byr = 1
    """,
)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-corpus (bitext) mining with ratio-margin scoring -- the
    Artetxe-Schwenk / CCMatrix recipe for harvesting translation pairs
    from two monolingual embedding spaces: score every cross-lingual
    pair by cosine NORMALIZED by the mean cosine of each side's top-k
    neighborhood (margin = 2*cos(x,y)/(avgk(x)+avgk(y)), which cancels
    hubness), then keep only MUTUAL best matches.  Labels 0 and 1 stand
    in for the two languages.

    Determinism: pair cosines are rounded to 6 places BEFORE any
    ranking or averaging; neighborhood averages and the margin render
    via the signed integer half-up recipe over 10^6-scaled exact
    decimals (never round(double, 6) of a decimal ratio — margin is
    rank-determining, so a cross-engine half disagreement would flip
    mutual-best pairs); every window tie-breaks on the vector id (the
    ranking convention).  Scale shape:
    norms are precomputed per side so the pair stage does ONE dot
    product per pair; the top-k windows partition by vector id (never
    global); at 100 TB the exhaustive pair stage is replaced by the
    ANN-prefiltered candidate stream (``ann_lsh_hyperplane`` recall,
    the knn_hard_negatives note) with identical scoring downstream."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    norm = F.expr("sqrt(" + _DOT.format(a="v", b="v") + ")")
    s = e.filter(F.col("label") == _BTX_SRC).select(
        F.col("vec_id").alias("x_id"), F.col("v").alias("xv"), norm.alias("xn")
    )
    t = e.filter(F.col("label") == _BTX_TGT).select(
        F.col("vec_id").alias("y_id"), F.col("v").alias("yv"), norm.alias("yn")
    )
    p = pin(
        s.crossJoin(F.broadcast(t))
        .select(
            "x_id",
            "y_id",
            F.round(
                F.expr(_DOT.format(a="xv", b="yv")) / (F.col("xn") * F.col("yn")),
                6,
            ).alias("cos_r"),
        )
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("cos_r"), F.asc("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.desc("cos_r"), F.asc("x_id"))
    ax = (
        p.withColumn("rk", F.row_number().over(wx))
        .filter(F.col("rk") <= _BTX_K)
        .groupBy("x_id")
        .agg(
            hu_ratio_signed(
                "sum(cast(cos_r as decimal(18,6))) * 1000000",
                f"{_BTX_K} * cast(1000000 as decimal(38,0))",
                6,
            ).alias("avg_x")
        )
    )
    ay = (
        p.withColumn("rk", F.row_number().over(wy))
        .filter(F.col("rk") <= _BTX_K)
        .groupBy("y_id")
        .agg(
            hu_ratio_signed(
                "sum(cast(cos_r as decimal(18,6))) * 1000000",
                f"{_BTX_K} * cast(1000000 as decimal(38,0))",
                6,
            ).alias("avg_y")
        )
    )
    m = (
        p.join(ax, "x_id")
        .join(ay, "y_id")
        .select(
            "x_id",
            "y_id",
            "cos_r",
            # margin = 2c/(ax+ay) over exact 6-decimal values is the
            # integer rational 2*c_i/(ax_i + ay_i): signed half-up
            # recipe (the divisor CAN be negative or zero for adversarial
            # neighborhoods — the generalized recipe sign-splits both
            # operands and renders NULL on a zero divisor in both
            # dialects), never round(double, 6)
            hu_ratio_signed(
                "2 * cast(cast(cos_r as decimal(18,6)) * 1000000 as bigint)",
                "cast(cast(avg_x as decimal(18,6)) * 1000000 as bigint)"
                " + cast(cast(avg_y as decimal(18,6)) * 1000000 as bigint)",
                6,
            ).alias("margin"),
        )
    )
    wbx = Window.partitionBy("x_id").orderBy(F.desc("margin"), F.asc("y_id"))
    wby = Window.partitionBy("y_id").orderBy(F.desc("margin"), F.asc("x_id"))
    bx = m.withColumn("bxr", F.row_number().over(wbx)).filter(F.col("bxr") == 1)
    by = (
        m.withColumn("byr", F.row_number().over(wby))
        .filter(F.col("byr") == 1)
        .select("x_id", "y_id")
    )
    return bx.join(by, ["x_id", "y_id"]).select(
        F.col("x_id").alias("src_id"),
        F.col("y_id").alias("tgt_id"),
        "cos_r",
        "margin",
    )


def _calib_oracle() -> str:
    return f"""{_SCORED_DUCK},
    b AS (SELECT {_DECILE_DUCK}, y, p_bp,
                 (p_bp - 10000 * y) * (p_bp - 10000 * y) AS sq
          FROM p)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST((2 * CAST(SUM(p_bp) AS HUGEINT) * 100 + COUNT(*))
                     // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS mean_predicted,
           CAST(CAST((2 * CAST(SUM(y) AS HUGEINT) * 1000000 + COUNT(*))
                     // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS pos_rate,
           CAST(CAST((2 * CAST(SUM(sq) AS HUGEINT) + COUNT(*) * 100)
                     // (2 * CAST(COUNT(*) AS HUGEINT) * 100) AS BIGINT)
                AS DOUBLE)
             / 1000000 AS brier
    FROM b GROUP BY bin
    """


@query("eval_calibration_bins", oracle=_calib_oracle())
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-calibration audit (reliability diagram + per-bin
    Brier score) for the linear scorer against the weak positive label
    (label >= 5): sigmoid probabilities bucketed into deciles, each bin
    reporting mean predicted probability vs empirical positive rate —
    the readout that says whether a quality-filter's scores can be
    thresholded by probability or must be re-calibrated first.

    Determinism: the logit is the shared sequential-fold dot product
    quantized round(6); the sigmoid is immediately quantized to integer
    basis points (round-half-away on identical IEEE doubles — the ln
    round-4 convention's risk class), after which EVERYTHING is integer:
    the decile bin is a bigint div, the Brier numerator is the exact
    integer (p_bp − 10000·y)², and the final ratios are single
    divisions of exact integer sums.  Scale shape: embarrassingly
    parallel scan+project into a ≤10-group map-side-combinable
    aggregate; no joins, no windows, nothing leaves the executors but
    10 rows."""
    p = _scored_embeddings(spark, sf_dir)
    b = p.select(
        _decile_bin(),
        "y",
        "p_bp",
        ((F.col("p_bp") - 10000 * F.col("y"))
         * (F.col("p_bp") - 10000 * F.col("y"))).alias("sq"),
    )
    # integer half-up recipes: every readout is a ratio of exact integer
    # sums (p_bp/sq are basis-point ints), so round(double, 6) of the
    # division is the cross-engine half-boundary risk class.  The scale
    # factors fold into the recipe: mean_predicted = sum_bp/(n*10^4) at
    # 6 digits = half-up(sum_bp*10^2 / n) / 10^6, and brier =
    # sum_sq/(n*10^8) at 6 digits = half-up(sum_sq / (n*10^2)) / 10^6.
    return b.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        hu_ratio("cast(sum(p_bp) as decimal(38,0)) * 100", "count(*)", 0)
        .cast("double")
        .alias("_mp_raw"),
        hu_ratio("sum(y)", "count(*)", 6).alias("pos_rate"),
        # sq <= 1e8 per row: a BIGINT sum would wrap (loudly, ANSI) at
        # ~9e10 rows per bin — below the declared 100 TB scale — so sum
        # in decimal(38,0) (hash-identical, ~1e30-row headroom; the
        # eval_brier_decomposition fix applied to the shared rollup
        # shape).  sum(p_bp) stays bigint: p_bp <= 1e4 binds at ~9e14.
        hu_ratio(
            "sum(cast(sq as decimal(38,0)))",
            "cast(count(*) as decimal(38,0)) * 100",
            0,
        )
        .cast("double")
        .alias("_br_raw"),
    ).select(
        "bin",
        "n",
        (F.col("_mp_raw") / 1000000).alias("mean_predicted"),
        "pos_rate",
        (F.col("_br_raw") / 1000000).alias("brier"),
    )


# The nearest-centroid classifier's oracle up to its (true_label,
# pred_label, n_vectors) confusion rollup ``conf``.
_CENTROID_CONF_DUCK = f"""{_CENTROID_MEANS_DUCK},
    cv AS (SELECT label AS c_label, array_agg(m ORDER BY d) AS cvec
           FROM cm GROUP BY 1),
    scored AS (
      SELECT e.vec_id, e.label, cv.c_label,
             -2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), cv.cvec)
               + list_inner_product(cv.cvec, cv.cvec) AS dist
      FROM embeddings e CROSS JOIN cv),
    pred AS (
      SELECT vec_id, label, c_label AS pred_label FROM (
        SELECT vec_id, label, c_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, c_label) AS rk
        FROM scored) WHERE rk = 1),
    conf AS (
      SELECT label AS true_label, pred_label,
             CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM pred GROUP BY 1, 2)"""


@query(
    "eval_confusion_nearest_centroid",
    oracle=f"""{_CENTROID_CONF_DUCK}
    SELECT true_label, pred_label, n_vectors,
           CAST(CAST((2 * CAST(n_vectors AS HUGEINT) * 1000000
                          + SUM(n_vectors) OVER (PARTITION BY true_label))
                     // (2 * CAST(SUM(n_vectors) OVER (PARTITION BY true_label)
                                  AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS row_share
    FROM conf
    """,
)
def eval_confusion_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass confusion matrix of the nearest-centroid classifier
    (Rocchio) over the embedding table: train per-label centroids with
    the decimal-exact mean (the ``embedding_centroid_similarity``
    recipe), assign every vector to its nearest centroid by the k-means
    -2x·c+|c|² argmin, and report (true, predicted) counts with
    per-true-label row shares — the eval readout that turns the
    centroid-confusability map into realized error rates.

    Determinism: centroid means are exact decimal sums / counts; the
    argmin distance is the sequential-fold dot (bitwise equal to
    DuckDB's list_inner_product) with a label tie-break — the
    ``knn_ivf_trained`` assignment discipline; counts are exact ints
    and the row share renders by the integer half-up recipe (count
    ratios can land on exact decimal halves).  Scale
    shape: one (label, dim) map-side-combinable mean pass, then one
    embarrassingly-parallel scan scoring each vector against the ≤|L|
    broadcast centroids; the confusion rollup and its row-share window
    are |L|² rows."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    el = e.select("label", F.posexplode("v").alias("d0", "x"))
    cm = el.groupBy("label", (F.col("d0") + 1).alias("d")).agg(
        (F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count("*")).alias(
            "m"
        )
    )
    cv = cm.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s.m
        ).alias("cvec")
    ).select(F.col("label").alias("c_label"), "cvec")
    dist = F.expr(
        "-2 * aggregate(zip_with(v, cvec, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
        " + aggregate(zip_with(cvec, cvec, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "c_label")
    pred = (
        e.crossJoin(F.broadcast(cv))
        .withColumn("dist", dist)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("label", F.col("c_label").alias("pred_label"))
    )
    conf = pred.groupBy(
        F.col("label").alias("true_label"), "pred_label"
    ).agg(F.count("*").cast("bigint").alias("n_vectors"))
    w_row = Window.partitionBy("true_label")
    return conf.select(
        "true_label",
        "pred_label",
        "n_vectors",
        # integer half-up recipe: count/count shares can land on halves
        hu_ratio(
            "n_vectors", "sum(n_vectors) over (partition by true_label)", 6
        ).alias("row_share"),
    )


@query(
    "embedding_outlier_mahalanobis",
    oracle="""
    WITH el AS (
      SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, 65)) AS t(d)),
    mo AS (
      SELECT d, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS s,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS ss
      FROM el GROUP BY 1),
    st AS (SELECT d, s / n AS m, (ss - s * s / n) / n AS v FROM mo),
    arr AS (SELECT array_agg(m ORDER BY d) AS mv,
                   array_agg(v ORDER BY d) AS vv
            FROM st),
    sc AS (
      SELECT e.vec_id, e.label,
             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65), d ->
                 (CAST(e.embedding[d] AS DOUBLE) - arr.mv[d])
                 * (CAST(e.embedding[d] AS DOUBLE) - arr.mv[d])
                 / arr.vv[d])),
               (a, x) -> a + x), 4) AS mahalanobis_sq
      FROM embeddings e CROSS JOIN arr)
    SELECT vec_id, label, mahalanobis_sq
    FROM sc ORDER BY mahalanobis_sq DESC, vec_id LIMIT 20
    """,
)
def embedding_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen: squared Mahalanobis distance
    under a diagonal covariance (per-dimension mean/variance from the
    ``embedding_dim_stats`` decimal-exact moment recipe), top-20 most
    anomalous vectors — the curation pass that surfaces corrupt or
    out-of-distribution embeddings before they poison ANN training or
    semantic dedup.

    Determinism: per-dim moments are exact decimal sums; mean and
    variance derive from them by identically-spelled double formulas;
    each vector's score is a d-ascending SEQUENTIAL fold of
    (x−m)²/v terms (Spark nested zip_with aggregate == DuckDB
    list_reduce over list_prepend, the pii-fold precedent) quantized
    round(4) and ranked with the vec_id tie-break.  Scale shape: one
    (d, moment) map-side-combinable pass, then an embarrassingly
    parallel scoring scan against the broadcast 64-double stats row
    into a TakeOrdered top-k; nothing shuffles but 20 rows."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    el = e.select(F.posexplode("v").alias("d0", "x"))
    mo = el.groupBy((F.col("d0") + 1).alias("d")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(18,9)")).cast("double").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
        .cast("double")
        .alias("ss"),
    )
    st = mo.select(
        "d",
        (F.col("s") / F.col("n")).alias("m"),
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")).alias(
            "vr"
        ),
    )
    arr = st.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s.m
        ).alias("mv"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "vr"))), lambda s: s.vr
        ).alias("vv"),
    )
    score = F.expr(
        "round(aggregate(zip_with(zip_with(v, mv, (x, m) -> (x - m) * (x - m)),"
        " vv, (c, s) -> c / s), cast(0.0 as double), (acc, x) -> acc + x), 4)"
    )
    sc = e.crossJoin(F.broadcast(arr)).select(
        "vec_id", "label", score.alias("mahalanobis_sq")
    )
    return sc.orderBy(F.desc("mahalanobis_sq"), "vec_id").limit(20)


# eval_brier_decomposition's per-bin deviation rationals, factored to
# module constants so the int128 boundary pin drives the PRODUCTION
# strings (tests/test_headroom_bounds.py).
_BRIER_DREL = "(cast(sp as decimal(38,0)) - 10000 * sy)"
_BRIER_DRES = (
    "(cast(sy as decimal(38,0)) * n - cast(n_k as decimal(38,0)) * sy_tot)"
)


def _brier_decomp_oracle() -> str:
    return f"""{_SCORED_DUCK},
    b AS (SELECT {_DECILE_DUCK},
                 CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(SUM(p_bp) AS BIGINT) AS sp,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM((p_bp - 10000 * y) * (p_bp - 10000 * y)) AS BIGINT)
                   AS ssq
          FROM p GROUP BY 1),
    g AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                 CAST(SUM(sy) AS BIGINT) AS sy_tot,
                 CAST(SUM(ssq) AS BIGINT) AS ssq_tot
          FROM b),
    t AS (SELECT b.n_k,
                 CAST({hu_ratio_sql(
                     "(CAST(b.sp AS HUGEINT) - 10000 * b.sy)"
                     " * (CAST(b.sp AS HUGEINT) - 10000 * b.sy)",
                     "CAST(b.n_k AS HUGEINT) * 100000000", 8)}
                      AS DECIMAL(28,8)) AS t_rel,
                 CAST({hu_ratio_sql(
                     "(CAST(b.sy AS HUGEINT) * g.n"
                     " - CAST(b.n_k AS HUGEINT) * g.sy_tot)"
                     " * (CAST(b.sy AS HUGEINT) * g.n"
                     " - CAST(b.n_k AS HUGEINT) * g.sy_tot)",
                     "CAST(b.n_k AS HUGEINT) * g.n * g.n", 8)}
                      AS DECIMAL(28,8)) AS t_res
          FROM b CROSS JOIN g)
    SELECT g.n,
           {hu_ratio_sql("g.sy_tot", "g.n", 6)} AS base_rate,
           CAST(CAST((2 * CAST(g.ssq_tot AS HUGEINT) + g.n * 100)
                     // (2 * CAST(g.n AS HUGEINT) * 100) AS BIGINT) AS DOUBLE)
             / 1000000 AS brier,
           {hu_ratio_sql("(SELECT SUM(t_rel) FROM t) * 100000000",
                         "CAST(g.n AS HUGEINT) * 100000000", 6)} AS reliability,
           {hu_ratio_sql("(SELECT SUM(t_res) FROM t) * 100000000",
                         "CAST(g.n AS HUGEINT) * 100000000", 6)} AS resolution,
           {hu_ratio_sql("CAST(g.sy_tot AS HUGEINT) * (g.n - g.sy_tot)",
                         "CAST(g.n AS HUGEINT) * g.n", 6)} AS uncertainty
    FROM g
    """


@query("eval_brier_decomposition", oracle=_brier_decomp_oracle())
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the linear scorer's Brier score over the
    ``eval_calibration_bins`` deciles: reliability (how far bin means
    sit from bin outcomes — lower is better-calibrated), resolution
    (how far bin outcomes spread from the base rate — higher is more
    discriminative), and uncertainty (base-rate entropy term) — the
    readout that says WHETHER a bad Brier score comes from
    miscalibration or from a model that can't separate classes at all.

    Determinism: everything through the bin rollup is exact integers
    (the calibration-bins discipline); each bin's reliability and
    resolution term is the EXACT integer rational over those ints
    rendered at 1e-8 by the half-up recipe BEFORE the ≤10-term decimal
    sum (order-independent — bins would otherwise add in
    engine-dependent order); the five outputs are integer-ratio recipes
    too, so no round(double, N) of a ratio survives.
    Scale shape: one scan into a ≤10-group aggregate, then constant
    rows."""
    p = _scored_embeddings(spark, sf_dir)
    b = pin(p.groupBy(
        _decile_bin()
    ).agg(
        F.count("*").cast("bigint").alias("n_k"),
        # sp <= 10^4 * n_k and sy <= n_k stay comfortably inside bigint
        # past 1e11 rows; ssq's per-row square is <= 10^8, so a BIGINT
        # sum would wrap (loudly, ANSI) at ~9e10 rows — below the
        # declared 100 TB scale — hence the decimal(38,0) sum
        # (hash-identical below the old bound, ~1e30-row headroom).
        F.sum("p_bp").cast("bigint").alias("sp"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(
            (
                (F.col("p_bp") - 10000 * F.col("y"))
                * (F.col("p_bp") - 10000 * F.col("y"))
            ).cast("decimal(38,0)")
        ).alias("ssq"),
    ))  # global rollup + per-bin terms both read it
    g = b.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("sy").cast("bigint").alias("sy_tot"),
        F.sum("ssq").cast("decimal(38,0)").alias("ssq_tot"),
    )
    # each bin's reliability/resolution term is the EXACT integer
    # rational ((sp - 10^4 sy)^2 / (n_k 10^8) and
    # (sy n - n_k sy_tot)^2 / (n_k n^2)) rendered at 1e-8 by the half-up
    # recipe; base rate, their means, and the uncertainty p(1-p) are
    # integer-ratio recipes too — no round(double, N) anywhere.
    # DECISION RULE (int128 headroom, MEASURED in
    # tests/test_headroom_bounds.py): the render's 2*dev^2*10^8 factor
    # binds each term at |dev| <= ~2.2e14.  Reliability's
    # drel <= 10^4 * n_k -> ~2e10 rows per bin; RESOLUTION's
    # dres ~ n_k * n * (calibration gap) binds first — ~1e8 total rows
    # at a 20% gap with balanced deciles — and wraps LOUDLY
    # (NUMERIC_VALUE_OUT_OF_RANGE).  Beyond that, the DECLARED
    # quantization drop — IMPLEMENTED as eval_brier_resolution_q4
    # below (bin/base rates half-up on the 1e-4 grid FIRST, term
    # n_k*(rate4-base4)^2 <= n_k*10^8, bound ~8e23 rows; survival at
    # the exact form's wrap point pinned in
    # tests/test_headroom_bounds.py).  Sharding merges the integer bin
    # partials fine but does not relax the render.
    t = b.crossJoin(F.broadcast(g)).select(
        hu_ratio(
            f"{_BRIER_DREL} * {_BRIER_DREL}",
            "cast(n_k as decimal(38,0)) * 100000000",
            8,
        ).cast("decimal(28,8)").alias("t_rel"),
        hu_ratio(
            f"{_BRIER_DRES} * {_BRIER_DRES}",
            "cast(n_k as decimal(38,0)) * n * n",
            8,
        ).cast("decimal(28,8)").alias("t_res"),
    )
    sums = t.agg(
        F.sum("t_rel").alias("rel_s"),
        F.sum("t_res").alias("res_s"),
    )
    return g.crossJoin(F.broadcast(sums)).select(
        "n",
        hu_ratio("sy_tot", "n", 6).alias("base_rate"),
        # integer half-up: sum_sq/(n*10^8) at 6 digits
        (
            F.expr(
                "cast((2 * cast(ssq_tot as decimal(38,0)) + n * 100)"
                " div (2 * cast(n as decimal(38,0)) * 100) as bigint)"
            ).cast("double")
            / 1000000
        ).alias("brier"),
        hu_ratio(
            "rel_s * 100000000", "cast(n as decimal(38,0)) * 100000000", 6
        ).alias("reliability"),
        hu_ratio(
            "res_s * 100000000", "cast(n as decimal(38,0)) * 100000000", 6
        ).alias("resolution"),
        hu_ratio(
            "cast(sy_tot as decimal(38,0)) * (n - sy_tot)",
            "cast(n as decimal(38,0)) * n",
            6,
        ).alias("uncertainty"),
    )


# eval_brier_resolution_q4's quantized per-bin term, factored to module
# constants so the headroom pin can drive the PRODUCTION strings at
# synthetic counts past the exact form's wrap point.  rate4/base4 are
# half-up integer bin/base rates on the declared 1e-4 grid (the hu
# integer recipe (2a*10^4 + b) div (2b) — all operands nonnegative, so
# Spark's truncating decimal div and DuckDB's flooring HUGEINT //
# agree); the term is n_k * (rate4 - base4)^2 <= n_k * 10^8.
_BRIER_Q4_RATE = (
    "((2 * cast(sy as decimal(38,0)) * 10000 + n_k)"
    " div (2 * cast(n_k as decimal(38,0))))"
)
_BRIER_Q4_BASE = (
    "((2 * cast(sy_tot as decimal(38,0)) * 10000 + n)"
    " div (2 * cast(n as decimal(38,0))))"
)
_BRIER_Q4_TERM = (
    f"cast(n_k as decimal(38,0)) * ({_BRIER_Q4_RATE} - {_BRIER_Q4_BASE})"
    f" * ({_BRIER_Q4_RATE} - {_BRIER_Q4_BASE})"
)
# The oracle's spelling of the same term (HUGEINT, flooring //).
_BRIER_Q4_RATE_DUCK = "((2 * CAST(sy AS HUGEINT) * 10000 + n_k) // (2 * CAST(n_k AS HUGEINT)))"
_BRIER_Q4_BASE_DUCK = "((2 * CAST(sy_tot AS HUGEINT) * 10000 + n) // (2 * CAST(n AS HUGEINT)))"
_BRIER_Q4_TERM_DUCK = (
    f"CAST(n_k AS HUGEINT) * ({_BRIER_Q4_RATE_DUCK} - {_BRIER_Q4_BASE_DUCK})"
    f" * ({_BRIER_Q4_RATE_DUCK} - {_BRIER_Q4_BASE_DUCK})"
)


def _brier_resolution_q4_oracle() -> str:
    return f"""{_SCORED_DUCK},
    b AS (SELECT {_DECILE_DUCK},
                 CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM p GROUP BY 1),
    g AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                 CAST(SUM(sy) AS BIGINT) AS sy_tot
          FROM b),
    t AS (SELECT {_BRIER_Q4_TERM_DUCK} AS term
          FROM b CROSS JOIN g)
    SELECT g.n,
           {hu_ratio_sql("g.sy_tot", "g.n", 6)} AS base_rate,
           {hu_ratio_sql("(SELECT SUM(term) FROM t)",
                         "CAST(g.n AS HUGEINT) * 100000000", 6)}
             AS resolution_q4
    FROM g
    """


@query("eval_brier_resolution_q4", oracle=_brier_resolution_q4_oracle())
def eval_brier_resolution_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier resolution on DECLARED 1e-4-quantized bin rates — the
    IMPLEMENTED quantization-drop fallback eval_brier_decomposition's
    decision rule names for its binding term.

    The exact decomposition's resolution deviation
    dres = sy*n - n_k*sy_tot grows like n_k*n*(calibration gap), so its
    render 2*dres^2*10^8 wraps int128 at ~1e8 total rows (20% gap,
    balanced deciles).  Here each bin's outcome rate and the base rate
    are first rendered onto the 1e-4 grid as half-up INTEGERS (the hu
    recipe with nonnegative operands — truncating div and flooring //
    agree), and the term becomes n_k*(rate4 - base4)^2 <= n_k*10^8: the
    resolution numerator is <= n*10^8, so the 6-digit render holds to
    ~8e23 rows — 100 TB outright.  The declared drop is a CONTRACT:
    both engines quantize the identical integers identically, and the
    error vs the exact term is bounded by the 1e-4 grid.  Survival at
    the exact form's wrap point is pinned in
    tests/test_headroom_bounds.py.  Same plan shape as the exact form:
    one scan into a <=10-bin rollup, constant rows out."""
    p = _scored_embeddings(spark, sf_dir)
    b = pin(p.groupBy(
        _decile_bin()
    ).agg(
        F.count("*").cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("sy"),
    ))  # global rollup + per-bin terms both read it
    g = b.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("sy").cast("bigint").alias("sy_tot"),
    )
    t = b.crossJoin(F.broadcast(g)).agg(
        F.sum(F.expr(_BRIER_Q4_TERM)).alias("res_num")
    )
    return g.crossJoin(F.broadcast(t)).select(
        "n",
        hu_ratio("sy_tot", "n", 6).alias("base_rate"),
        hu_ratio(
            "res_num", "cast(n as decimal(38,0)) * 100000000", 6
        ).alias("resolution_q4"),
    )


_JL_K = 16       # projected dims
_JL_NQ = 10      # query vectors (the knn convention)
_JL_MOD = 37     # sampled counterpart set: vec_id % 37 == 0


@query(
    "embedding_jl_projection_distortion",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    pr AS (
      SELECT vec_id, v,
             list_transform(range(0, {_JL_K}), j ->
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(0, 64), d ->
                   v[d + 1] * (1 - 2 * (CAST(list_sum(list_transform(range(0, 8),
                     c -> (strpos('0123456789abcdef',
                           substring(md5(j || ':' || d), 1 + c, 1)) - 1)
                          * CAST(pow(16, 7 - c) AS BIGINT))) AS BIGINT) % 2)))),
                 (a, x) -> a + x) / 4.0) AS p
      FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, p AS qp FROM pr
          WHERE vec_id < {_JL_NQ}),
    o AS (SELECT vec_id AS other_id, v AS ov, p AS op FROM pr
          WHERE vec_id % {_JL_MOD} = 0 AND vec_id >= {_JL_NQ}),
    pairs AS (
      SELECT q.query_id, o.other_id,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(0, 64), d ->
                 (q.qv[d + 1] - o.ov[d + 1]) * (q.qv[d + 1] - o.ov[d + 1]))),
               (a, x) -> a + x)) AS d_orig,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(0, {_JL_K}), j ->
                 (q.qp[j + 1] - o.op[j + 1]) * (q.qp[j + 1] - o.op[j + 1]))),
               (a, x) -> a + x)) AS d_proj
      FROM q CROSS JOIN o)
    SELECT query_id, other_id,
           round(d_orig, 4) AS d_orig, round(d_proj, 4) AS d_proj,
           CASE WHEN d_orig = 0 THEN NULL
                ELSE round(d_proj / d_orig, 4) END AS distortion
    FROM pairs
    """,
)
def embedding_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 -> {_JL_K} dims,
    Achlioptas ±1 signs derived from md5(j:d) so the 'random' matrix is
    REPLAYABLE in both engines) with a pairwise distance-distortion
    audit: projected vs original Euclidean distance for every
    (query, sampled-counterpart) pair — the dimensionality-reduction
    quality readout run before trusting a cheap projected index, next
    to the PQ/int8/matryoshka compression family.

    Determinism: signs are exact integer parities of md5; both the
    projection fold and both distance folds run in a fixed ascending
    order (Spark aggregate == DuckDB list_reduce over list_prepend, the
    pii-fold precedent); sqrt outputs are transcendental (never decimal
    halves) so round(4) is safe; a duplicate counterpart (d_orig = 0)
    yields NULL distortion via an explicit CASE in both dialects —
    engines disagree on double division by zero.  Scale shape: the projection is an
    embarrassingly parallel scan (md5 x 64 x {_JL_K} per vector — the
    minhash md5-floor cost class); the audit joins a broadcast 10-row
    query side against a hash-sampled counterpart set, so pair count is
    bounded by design, never all-pairs."""
    from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql

    hx = hex_int_sql("spark", "md5(concat(cast(j as string), ':', cast(d as string)))", 1)
    proj = F.expr(
        f"transform(sequence(0, {_JL_K - 1}), j ->"
        f" aggregate(transform(sequence(0, 63), d ->"
        f"   element_at(v, d + 1) * (1 - 2 * ({hx} % 2))),"
        f"  cast(0.0 as double), (a, x) -> a + x) / 4.0)"
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pr = e.select("vec_id", "v", proj.alias("p"))
    q = F.broadcast(
        pr.filter(F.col("vec_id") < _JL_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("p").alias("qp"),
        )
    )
    o = pr.filter(
        (F.col("vec_id") % _JL_MOD == 0) & (F.col("vec_id") >= _JL_NQ)
    ).select(
        F.col("vec_id").alias("other_id"),
        F.col("v").alias("ov"),
        F.col("p").alias("op"),
    )
    d_orig = F.expr(
        "sqrt(aggregate(zip_with(qv, ov, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (a, x) -> a + x))"
    )
    d_proj = F.expr(
        "sqrt(aggregate(zip_with(qp, op, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (a, x) -> a + x))"
    )
    return q.crossJoin(o).select(
        "query_id",
        "other_id",
        F.round(d_orig, 4).alias("d_orig"),
        F.round(d_proj, 4).alias("d_proj"),
        # duplicate embeddings give d_orig = 0; IEEE 0/0 vs DuckDB's
        # division-by-zero differ by engine, so both dialects emit an
        # explicit NULL for the degenerate pair instead of dividing
        F.when(d_orig == 0, F.lit(None).cast("double"))
        .otherwise(F.round(d_proj / d_orig, 4))
        .alias("distortion"),
    )


# --------------------------------------------- whitening apply + audit

_WHITEN_Z = 4.0  # outlier threshold on the standardized value


@query(
    "embedding_whiten_audit",
    oracle=f"""
    WITH el AS (
      SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, 65)) AS t(d)),
    g AS (
      SELECT d, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(18,9))) AS sxd,
             SUM(CAST(x * x AS DECIMAL(28,15))) AS sxxd
      FROM el GROUP BY d),
    model AS (
      SELECT d,
             {hu_ratio_signed_sql("CAST(sxd * 1000000000 AS HUGEINT)",
                                  "CAST(n AS HUGEINT) * 1000000000",
                                  6)} AS mean,
             sqrt({hu_ratio_signed_sql(
                 "CAST(n AS HUGEINT) * CAST(sxxd * 1000000000000000"
                 " AS HUGEINT) * 1000 - CAST(sxd * 1000000000 AS HUGEINT)"
                 " * CAST(sxd * 1000000000 AS HUGEINT)",
                 "CAST(n AS HUGEINT) * n * 1000000000000000000", 6)}) AS sd
      FROM g),
    z AS (
      SELECT el.d,
             CASE WHEN m.sd = 0 THEN 0.0
                  ELSE (el.x - m.mean) / m.sd END AS z
      FROM el JOIN model m ON m.d = el.d)
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN abs(z) > {_WHITEN_Z} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(MAX(abs(z)), 4) AS max_abs_z
    FROM z GROUP BY d
    """,
)
def embedding_whiten_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature standardization APPLIED and audited: fit the
    per-dimension mean/sd model (the embedding_dim_stats moments), then
    a second pass standardizes every value and reports per-dimension
    tail mass — how many |z| > {_WHITEN_Z} outliers each coordinate
    carries and its max |z| — the whitening health check a training
    pipeline runs before trusting normalized features (a fat-tailed
    dimension wants clipping or a robust scale instead).

    Determinism: mean and variance render onto the 1e-6 integer grid
    first (the dim-stats recipes), so both engines standardize with
    BIT-IDENTICAL model doubles; z = (x - mean)/sd is then an identical
    IEEE expression, the outlier count is an integer compare of
    identical doubles, and max|z| is round(4) of an identical
    sqrt-divided value (never a decimal half).  A zero-variance
    dimension standardizes to 0 through the lazy CASE — no
    double-division infinities cross an engine boundary.  Scale shape:
    one moment aggregate (64 groups), the 64-row model broadcasts back
    onto a second scan, one output-sized rollup — the train/apply
    two-pass every feature pipeline ships."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d0", "x"
        ),
    ).select((F.col("d0") + 1).alias("d"), "x")
    g = e.groupBy("d").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(18,9)")).alias("sxd"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,15)")).alias(
            "sxxd"
        ),
    )
    model = g.select(
        "d",
        hu_ratio_signed(
            "sxd * 1000000000", "cast(n as decimal(38,0)) * 1000000000", 6
        ).alias("mean"),
        F.sqrt(
            hu_ratio_signed(_DIMSTAT_VAR_NUM, _DIMSTAT_VAR_DEN, 6)
        ).alias("sd"),
    )
    z = e.join(F.broadcast(model), "d").select(
        "d",
        F.when(F.col("sd") == 0, F.lit(0.0))
        .otherwise((F.col("x") - F.col("mean")) / F.col("sd"))
        .alias("z"),
    )
    return z.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.abs("z") > _WHITEN_Z, 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers"),
        F.round(F.max(F.abs("z")), 4).alias("max_abs_z"),
    )


@query(
    "eval_ece_mce",
    oracle=f"""{_SCORED_DUCK},
    b AS (SELECT {_DECILE_DUCK},
                 CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(SUM(p_bp) AS BIGINT) AS sp,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM p GROUP BY 1),
    g AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                 CAST(SUM(abs(10000 * sy - sp)) AS BIGINT) AS dev_tot,
                 MAX({hu_ratio_sql("abs(10000 * sy - sp)",
                                   "CAST(n_k AS HUGEINT) * 10000", 6)})
                   AS mce
          FROM b)
    SELECT n, {hu_ratio_sql("g.dev_tot", "CAST(g.n AS HUGEINT) * 10000", 6)}
             AS ece,
           mce
    FROM g
    """,
)
def eval_ece_mce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error of the linear scorer over
    the standard deciles — the one-number calibration gates beside the
    Murphy decomposition: ECE = sum_k (n_k/n)|rate_k - conf_k|,
    MCE = max_k |rate_k - conf_k|.

    The per-bin gap collapses EXACTLY: with integer basis-point
    predictions, (n_k/n)|sy/n_k - sp/(10^4 n_k)| = |10^4 sy - sp| /
    (10^4 n) — so ECE is ONE integer rational (sum of per-bin integer
    deviations over 10^4*n) with render headroom to ~5e27 rows, no
    per-bin division at all.  MCE renders each bin's exact rational at
    1e-6 first, then takes MAX of the identical doubles (a value, not
    an argmax — tie-safe by construction).  Scale shape: one scan into
    the <=10-bin rollup, one row out."""
    p = _scored_embeddings(spark, sf_dir)
    b = p.groupBy(
        _decile_bin()
    ).agg(
        F.count("*").cast("bigint").alias("n_k"),
        F.sum("p_bp").cast("bigint").alias("sp"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    g = b.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum(F.expr("abs(10000 * sy - sp)")).cast("bigint").alias("dev_tot"),
        F.max(
            hu_ratio(
                "abs(10000 * sy - sp)", "cast(n_k as decimal(38,0)) * 10000", 6
            )
        ).alias("mce"),
    )
    return g.select(
        "n",
        hu_ratio("dev_tot", "cast(n as decimal(38,0)) * 10000", 6).alias(
            "ece"
        ),
        "mce",
    )


@query(
    "eval_isotonic_bins",
    oracle=f"""{_SCORED_DUCK},
    b AS (SELECT {_DECILE_DUCK},
                 CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM p GROUP BY 1),
    c AS (SELECT bin, n_k, sy,
                 SUM(n_k) OVER (ORDER BY bin) AS cn,
                 SUM(sy) OVER (ORDER BY bin) AS cs
          FROM b),
    segs AS (
      SELECT j.bin AS j, k.bin AS k,
             (2 * CAST(k.cs - (j.cs - j.sy) AS HUGEINT) * 1000000
              + (k.cn - (j.cn - j.n_k)))
               // (2 * CAST(k.cn - (j.cn - j.n_k) AS HUGEINT)) AS m6
      FROM c j JOIN c k ON j.bin <= k.bin),
    inner_min AS (
      SELECT b.bin, s.j, MIN(s.m6) AS mn
      FROM b JOIN segs s ON s.j <= b.bin AND s.k >= b.bin
      GROUP BY b.bin, s.j),
    fit AS (SELECT bin, MAX(mn) AS f6 FROM inner_min GROUP BY bin)
    SELECT b.bin, b.n_k,
           {hu_ratio_sql("b.sy", "b.n_k", 6)} AS rate,
           CAST(f.f6 AS DOUBLE) / 1000000 AS iso_rate
    FROM b JOIN fit f USING (bin)
    ORDER BY b.bin
    """,
)
def eval_isotonic_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration curve over the
    scorer's deciles — the PAV fit computed via its minimax identity
    iso_i = max_{{j<=i}} min_{{k>=i}} mean(y, bins j..k), the
    recalibration map a serving system applies on top of raw scores.

    Determinism: every segment mean sy(j..k)/n(j..k) is an exact
    integer rational rendered HALF-UP onto the 1e-6 integer grid FIRST
    (the hu recipe — nonnegative operands, truncating div == flooring
    //), so the max-of-min runs on INTEGERS; the result is monotone by
    construction of the identity.  Scale shape: the corpus collapses to
    <=10 bin rows in one scan; segments (<=55), the j-min and the i-max
    are constant-size frames — PAVA's sequential pooling is replaced by
    a closed-form all-segments formulation precisely because 10x10
    segment enumeration is free while a sequential pool over a
    distributed frame is not."""
    p = _scored_embeddings(spark, sf_dir)
    b = pin(p.groupBy(
        _decile_bin()
    ).agg(
        F.count("*").cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("sy"),
    ))  # cumulative window + joins all read the tiny frame
    wbin = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        "bin", "n_k", "sy",
        F.sum("n_k").over(wbin).alias("cn"),
        F.sum("sy").over(wbin).alias("cs"),
    )
    j = c.select(
        F.col("bin").alias("j"),
        (F.col("cn") - F.col("n_k")).alias("cn0"),
        (F.col("cs") - F.col("sy")).alias("cs0"),
    )
    k = c.select(
        F.col("bin").alias("k"), F.col("cn").alias("cn1"),
        F.col("cs").alias("cs1"),
    )
    segs = (
        j.crossJoin(k)
        .filter(F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            F.expr(
                "(2 * cast(cs1 - cs0 as decimal(38,0)) * 1000000"
                " + (cn1 - cn0)) div (2 * cast(cn1 - cn0 as decimal(38,0)))"
            ).alias("m6"),
        )
    )
    inner = (
        b.select("bin")
        .join(
            segs,
            (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")),
        )
        .groupBy("bin", "j")
        .agg(F.min("m6").alias("mn"))
    )
    fit = inner.groupBy("bin").agg(F.max("mn").alias("f6"))
    return (
        b.join(fit, "bin")
        .select(
            "bin",
            "n_k",
            hu_ratio("sy", "n_k", 6).alias("rate"),
            (F.col("f6").cast("double") / 1000000).alias("iso_rate"),
        )
        .orderBy("bin")
    )


@query(
    "eval_auc_roc",
    oracle=f"""{_SCORED_DUCK},
    {_rank_sums_sql("m")}
    SELECT n1 AS n_pos, n0 AS n_neg,
           {_auc_sql("m")},
           CASE WHEN m.n1 = 0 OR m.n0 = 0 THEN NULL ELSE
           {hu_ratio_signed_sql(
               "m.r2 - CAST(m.n1 AS HUGEINT) * (m.n1 + 1)"
               " - CAST(m.n1 AS HUGEINT) * m.n0",
               "CAST(m.n1 AS HUGEINT) * m.n0", 6)} END AS gini
    FROM m
    """,
)
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (and Gini = 2*AUC - 1) of the linear scorer — the
    threshold-free discrimination readout beside the calibration bank:
    AUC = P(score of a random positive > score of a random negative),
    with ties counted half.

    Computed as the Mann-Whitney U statistic over the scorer's integer
    basis-point outputs via the DOUBLED-midrank value-histogram
    discipline (stats_mannwhitney_en_lengths): per distinct score, the
    doubled midrank 2*cum_before + c + 1 is an exact integer, so the
    positive-class rank sum, U, AUC and Gini are exact integer
    rationals rendered by the half-up recipes — tie handling is exact
    where a naive pairwise count would either miscount ties or
    enumerate n1*n0 pairs.  A single-class corpus (n1=0 or n0=0) has
    no defined AUC: both dialects short-circuit to NULL via a lazy
    CASE before the division (ANSI divide-by-zero rule).  Scale shape: one scoring scan into a
    <=10001-row score histogram; the cumulative window and the final
    reduce are output-sized."""
    vc = _score_histogram(_scored_embeddings(spark, sf_dir))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r = vc.select(
        "v",
        "c",
        "c1",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("cum_before"),
    )
    m = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        (F.sum("c") - F.sum("c1")).cast("bigint").alias("n0"),
        F.sum(
            F.expr("cast(c1 as decimal(38,0)) * (2 * cum_before + c + 1)")
        ).alias("r2"),
    )
    return m.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        _auc(),
        F.when((F.col("n1") == 0) | (F.col("n0") == 0), F.lit(None).cast("double"))
        .otherwise(
            hu_ratio_signed(
                "r2 - cast(n1 as decimal(38,0)) * (n1 + 1)"
                " - cast(n1 as decimal(38,0)) * n0",
                "cast(n1 as decimal(38,0)) * n0",
                6,
            )
        )
        .alias("gini"),
    )


def _model_card_oracle() -> str:
    return f"""{_SCORED_DUCK},
    b AS (SELECT {_DECILE_DUCK},
                 CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(SUM(p_bp) AS BIGINT) AS sp,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(CAST((p_bp - 10000 * y) * (p_bp - 10000 * y)
                               AS HUGEINT)) AS HUGEINT) AS ssq
          FROM p GROUP BY 1),
    g AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                 CAST(SUM(sy) AS BIGINT) AS sy_tot,
                 CAST(SUM(ssq) AS HUGEINT) AS ssq_tot,
                 CAST(SUM(abs(10000 * sy - sp)) AS BIGINT) AS dev_tot,
                 MAX({hu_ratio_sql("abs(10000 * sy - sp)",
                                   "CAST(n_k AS HUGEINT) * 10000", 6)})
                   AS mce
          FROM b),
    rq AS (SELECT CAST(SUM({_BRIER_Q4_TERM_DUCK}) AS HUGEINT) AS res_num
           FROM b CROSS JOIN g),
    {_rank_sums_sql("mw")}
    SELECT g.n,
           {hu_ratio_sql("g.sy_tot", "g.n", 6)} AS base_rate,
           {_auc_sql("mw")},
           CAST(CAST((2 * g.ssq_tot + CAST(g.n AS HUGEINT) * 100)
                     // (2 * CAST(g.n AS HUGEINT) * 100) AS BIGINT)
                AS DOUBLE) / 1000000 AS brier,
           {hu_ratio_sql("g.dev_tot", "CAST(g.n AS HUGEINT) * 10000", 6)}
             AS ece,
           g.mce,
           {hu_ratio_sql("rq.res_num", "CAST(g.n AS HUGEINT) * 100000000", 6)}
             AS resolution_q4
    FROM g CROSS JOIN rq CROSS JOIN mw
    """


@query("eval_model_card", oracle=_model_card_oracle())
def eval_model_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row MODEL CARD for the linear scorer — the evaluation
    twin of pipeline_dataset_card: sample size, base rate,
    discrimination (exact ROC AUC), accuracy (Brier), calibration
    (ECE + MCE) and resolution (quantized Murphy term), all from ONE
    scoring scan fanned into the decile-bin rollup and the basis-point
    score histogram.

    Every number reuses a registry recipe verbatim: AUC via doubled
    midranks (eval_auc_roc), Brier via the integer half-up division
    (eval_brier_decomposition), ECE as its collapsed single rational
    and MCE as a max of rendered rationals (eval_ece_mce), resolution
    on the 1e-4 rate grid (eval_brier_resolution_q4) — so the card is
    hash-consistent with each standalone readout by construction.
    Scale shape: one scan, a <=10-row bin frame, a <=10001-row score
    histogram, three 1-row reduces cross-joined at the end."""
    p = pin(_scored_embeddings(spark, sf_dir))  # the bin rollup AND the histogram read it
    b = pin(p.groupBy(
        _decile_bin()
    ).agg(
        F.count("*").cast("bigint").alias("n_k"),
        F.sum("p_bp").cast("bigint").alias("sp"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(
            F.expr(
                "cast((p_bp - 10000 * y) * (p_bp - 10000 * y)"
                " as decimal(38,0))"
            )
        ).alias("ssq"),
    ))
    g = b.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("sy").cast("bigint").alias("sy_tot"),
        F.sum("ssq").cast("decimal(38,0)").alias("ssq_tot"),
        F.sum(F.expr("abs(10000 * sy - sp)")).cast("bigint").alias("dev_tot"),
        F.max(
            hu_ratio(
                "abs(10000 * sy - sp)",
                "cast(n_k as decimal(38,0)) * 10000",
                6,
            )
        ).alias("mce"),
    )
    rq = b.crossJoin(F.broadcast(g.select("n", "sy_tot"))).agg(
        F.sum(F.expr(_BRIER_Q4_TERM)).alias("res_num")
    )
    # eval_auc_roc's rank sums (oracle: _rank_sums_sql)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r = _score_histogram(p).select(
        "c",
        "c1",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("cum_before"),
    )
    mw = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        (F.sum("c") - F.sum("c1")).cast("bigint").alias("n0"),
        F.sum(
            F.expr("cast(c1 as decimal(38,0)) * (2 * cum_before + c + 1)")
        ).alias("r2"),
    )
    return (
        g.crossJoin(F.broadcast(rq))
        .crossJoin(F.broadcast(mw))
        .select(
            "n",
            hu_ratio("sy_tot", "n", 6).alias("base_rate"),
            _auc(),
            (
                F.expr(
                    "cast((2 * ssq_tot + cast(n as decimal(38,0)) * 100)"
                    " div (2 * cast(n as decimal(38,0)) * 100) as bigint)"
                ).cast("double")
                / 1000000
            ).alias("brier"),
            hu_ratio(
                "dev_tot", "cast(n as decimal(38,0)) * 10000", 6
            ).alias("ece"),
            "mce",
            hu_ratio(
                "res_num", "cast(n as decimal(38,0)) * 100000000", 6
            ).alias("resolution_q4"),
        )
    )


def _mcnemar_oracle() -> str:
    chi = hu_ratio_sql(
        "(abs(CAST(b AS HUGEINT) - c) - 1) * (abs(CAST(b AS HUGEINT) - c) - 1)",
        "CAST(b AS HUGEINT) + c", 6)
    return f"""
    WITH e AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
             CASE WHEN {_LOGIT_DUCK} > 0 THEN 1 ELSE 0 END AS pa,
             CASE WHEN round(list_inner_product(
                    CAST(embedding[1:16] AS DOUBLE[]),
                    {_weights("duckdb", _INF_W[:16])}), 6) > 0 THEN 1 ELSE 0 END AS pb
      FROM embeddings),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT)
               AS a_correct,
             CAST(SUM(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT)
               AS b_correct,
             CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM e)
    SELECT n,
           {hu_ratio_sql("m.a_correct", "m.n", 6)} AS acc_full,
           {hu_ratio_sql("m.b_correct", "m.n", 6)} AS acc_head16,
           b AS full_only_wins, c AS head_only_wins,
           CASE WHEN b + c = 0 THEN NULL ELSE {chi} END AS mcnemar_chi
    FROM m
    """


@query("eval_mcnemar_scorers", oracle=_mcnemar_oracle())
def eval_mcnemar_scorers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between the full 64-dim linear scorer and
    its 16-dim matryoshka-prefix head on the SAME vectors — the correct
    comparison for 'is the cheap head really worse', since both
    classifiers grade identical examples (two independent accuracy
    intervals would double-count shared noise).  Emits both accuracies,
    the discordant counts (full-right-head-wrong b vs
    head-right-full-wrong c — only discordant pairs carry information),
    and the continuity-corrected statistic (|b-c|-1)^2/(b+c).

    Determinism: both logits are round(6)-quantized dot products (the
    scorer-family recipe), predictions and the 2x2 discordant table are
    exact integers, accuracies and the statistic are exact integer
    rationals via the half-up recipe, and the no-disagreement
    degenerate returns NULL through a lazy CASE (ANSI-safe).  Scale
    shape: one scan, one 1-row reduce — nothing but the five counters
    crosses the wire."""
    head = _logit("CAST(slice(embedding, 1, 16) AS ARRAY<DOUBLE>)", _INF_W[:16])
    e = load_table(spark, sf_dir, "embeddings").select(
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
        F.when(_logit() > 0, 1).otherwise(0).alias("pa"),
        F.when(head > 0, 1).otherwise(0).alias("pb"),
    )
    m = e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("pa") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("a_correct"),
        F.sum(F.when(F.col("pb") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("b_correct"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    chi = hu_ratio(
        "(abs(cast(b as decimal(38,0)) - c) - 1)"
        " * (abs(cast(b as decimal(38,0)) - c) - 1)",
        "cast(b as decimal(38,0)) + c",
        6,
    )
    return m.select(
        "n",
        hu_ratio("a_correct", "n", 6).alias("acc_full"),
        hu_ratio("b_correct", "n", 6).alias("acc_head16"),
        F.col("b").alias("full_only_wins"),
        F.col("c").alias("head_only_wins"),
        F.when(F.col("b") + F.col("c") == 0, F.lit(None).cast("double"))
        .otherwise(chi)
        .alias("mcnemar_chi"),
    )


def _macro_f1_oracle() -> str:
    prec = hu_ratio_sql("cls.tp", "cls.pred_n", 6)
    rec = hu_ratio_sql("cls.tp", "cls.support", 6)
    f16 = ("(2 * (2 * CAST(cls.tp AS HUGEINT) * 1000000)"
           " + (cls.support + cls.pred_n))"
           " // (2 * CAST(cls.support + cls.pred_n AS HUGEINT))")
    acc = hu_ratio_sql("mac.diag", "mac.n", 6)
    macro = hu_ratio_sql("mac.sf16", "CAST(mac.k AS HUGEINT) * 1000000", 6)
    return f"""{_CENTROID_CONF_DUCK},
    rows_ AS (SELECT true_label AS c, CAST(SUM(n_vectors) AS BIGINT)
                       AS support
              FROM conf GROUP BY 1),
    cols_ AS (SELECT pred_label AS c, CAST(SUM(n_vectors) AS BIGINT)
                       AS pred_n
              FROM conf GROUP BY 1),
    diag AS (SELECT true_label AS c, CAST(SUM(n_vectors) AS BIGINT) AS tp
             FROM conf WHERE true_label = pred_label GROUP BY 1),
    cls AS (
      SELECT rows_.c, rows_.support,
             COALESCE(cols_.pred_n, 0) AS pred_n,
             COALESCE(diag.tp, 0) AS tp
      FROM rows_
      LEFT JOIN cols_ USING (c)
      LEFT JOIN diag USING (c)),
    mac AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(support) AS BIGINT) AS n,
             CAST(SUM(tp) AS BIGINT) AS diag,
             CAST(SUM(CAST({f16} AS BIGINT)) AS HUGEINT) AS sf16
      FROM cls)
    SELECT CAST(cls.c AS VARCHAR) AS class, cls.support, cls.tp,
           CASE WHEN cls.pred_n = 0 THEN NULL ELSE {prec} END AS precision,
           {rec} AS recall,
           CAST(CAST({f16} AS BIGINT) AS DOUBLE) / 1000000 AS f1
    FROM cls
    UNION ALL
    SELECT '__all__' AS class, mac.n AS support, mac.diag AS tp,
           {acc} AS precision, {acc} AS recall, {macro} AS f1
    FROM mac
    """


@query("eval_macro_f1_centroid", oracle=_macro_f1_oracle())
def eval_macro_f1_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 plus the macro-F1 summary row for
    the nearest-centroid classifier — the readout that turns
    eval_confusion_nearest_centroid's confusion matrix into the
    class-imbalance-aware headline number (macro-F1 weights every class
    equally where micro/accuracy lets the majority class dominate).

    Reuses the registered confusion query verbatim as the base frame
    (predictions and counts hash-consistent with it by construction).

    DECLARED CLASS UNIVERSE (round-12 ADVICE): the per-class rows and
    the macro mean run over the TRUE-label classes only (rows_ left-join
    cols_) — a class that is predicted but never true contributes no
    F1 = 0 term and does not grow k.  This diverges from the
    union-of-labels macro-F1 convention by design: the nearest-centroid
    classifier can only predict labels that exist in the training
    corpus, so pred-only classes arise solely from empty-support
    degenerate strata, and support-weighted readouts should not be
    diluted by them.  (The union convention would full-outer rows_ /
    cols_ and count such classes as F1 = 0.)
    Determinism: TP/FP/FN are exact integers off the |L|^2 confusion
    rollup; per-class F1 = 2TP/(support + predicted) lands on the 1e-6
    half-up grid as an INTEGER (f16) so the macro mean is one exact
    rational of grid values (the declared-quantization mean recipe);
    precision of a never-predicted class is NULL via lazy CASE, and
    the '__all__' row carries micro accuracy (= micro-F1 for
    single-label multiclass) in both ratio slots with macro-F1 in f1.
    Scale shape: everything beyond the reused scoring scan is
    |L|-sized."""
    conf = eval_confusion_nearest_centroid(spark, sf_dir).select(
        "true_label", "pred_label", "n_vectors"
    )
    rows_ = conf.groupBy(F.col("true_label").alias("c")).agg(
        F.sum("n_vectors").cast("bigint").alias("support")
    )
    cols_ = conf.groupBy(F.col("pred_label").alias("c")).agg(
        F.sum("n_vectors").cast("bigint").alias("pred_n")
    )
    diag = (
        conf.filter(F.col("true_label") == F.col("pred_label"))
        .groupBy(F.col("true_label").alias("c"))
        .agg(F.sum("n_vectors").cast("bigint").alias("tp"))
    )
    cls = (
        rows_.join(cols_, "c", "left")
        .join(diag, "c", "left")
        .select(
            "c",
            "support",
            F.coalesce(F.col("pred_n"), F.lit(0)).alias("pred_n"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        )
    )
    f16 = (
        "(2 * (2 * cast(tp as decimal(38,0)) * 1000000)"
        " + (support + pred_n))"
        " div (2 * cast(support + pred_n as decimal(38,0)))"
    )
    mac = cls.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("support").cast("bigint").alias("n"),
        F.sum("tp").cast("bigint").alias("diag"),
        F.sum(F.expr(f"cast({f16} as bigint)"))
        .cast("decimal(38,0)")
        .alias("sf16"),
    )
    per_class = cls.select(
        F.col("c").cast("string").alias("class"),
        "support",
        "tp",
        F.when(F.col("pred_n") == 0, F.lit(None).cast("double"))
        .otherwise(hu_ratio("tp", "pred_n", 6))
        .alias("precision"),
        hu_ratio("tp", "support", 6).alias("recall"),
        (F.expr(f"cast({f16} as bigint)").cast("double") / 1000000).alias(
            "f1"
        ),
    )
    summary = mac.select(
        F.lit("__all__").alias("class"),
        F.col("n").alias("support"),
        F.col("diag").alias("tp"),
        hu_ratio("diag", "n", 6).alias("precision"),
        hu_ratio("diag", "n", 6).alias("recall"),
        hu_ratio("sf16", "cast(k as decimal(38,0)) * 1000000", 6).alias(
            "f1"
        ),
    )
    return per_class.unionByName(summary)


def _pr_auc_oracle() -> str:
    ap = hu_ratio_sql("m.apnum", "CAST(m.n1 AS HUGEINT) * 1000000", 6)
    base = hu_ratio_sql("m.n1", "m.n1 + m.n0", 6)
    return f"""{_SCORED_DUCK},
    {_HISTOGRAM_DUCK},
    r AS (SELECT v, c, c1,
                 CAST(SUM(c) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
                 CAST(SUM(c1) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum1
          FROM vc),
    t AS (SELECT c1,
                 (2 * CAST(cum1 AS HUGEINT) * 1000000 + cum)
                   // (2 * CAST(cum AS HUGEINT)) AS p6
          FROM r WHERE c1 > 0),
    m AS (SELECT (SELECT CAST(COALESCE(SUM(c1), 0) AS BIGINT) FROM vc)
                   AS n1,
                 (SELECT CAST(COALESCE(SUM(c - c1), 0) AS BIGINT) FROM vc)
                   AS n0,
                 CAST(COALESCE(SUM(CAST(c1 AS HUGEINT) * p6), 0)
                      AS HUGEINT) AS apnum
          FROM t)
    SELECT m.n1 AS n_pos, m.n0 AS n_neg,
           CASE WHEN m.n1 = 0 THEN NULL ELSE {ap} END AS avg_precision,
           CASE WHEN m.n1 + m.n0 = 0 THEN NULL ELSE {base} END AS base_rate
    FROM m
    """


@query("eval_pr_auc", oracle=_pr_auc_oracle())
def eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the exact area under the precision-recall
    curve at every distinct score threshold) for the linear scorer —
    the imbalanced-class complement to eval_auc_roc: ROC-AUC stays
    optimistic when positives are rare; AP is anchored to the base
    rate, which rides along for comparison.

    AP = sum over distinct scores v (descending) of
    (c1_v / n1) * Precision(>= v).  Each threshold precision
    cum1/cum is rendered half-up onto the 1e-6 integer grid (p6, the
    search_map_eval P@i discipline: quantize per-term BEFORE the sum),
    so the weighted sum is one exact integer rational
    sum(c1 * p6) / (n1 * 1e6).  The cumulatives run DESC (never a
    suffix frame) over the <=10001-row basis-point score histogram —
    the eval_auc_roc scale shape: one scoring scan, output-sized
    windows, a 1-row reduce.  A no-positives corpus renders AP NULL
    via lazy CASE; the empty corpus renders both NULL."""
    vc = _score_histogram(_scored_embeddings(spark, sf_dir))
    w = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = vc.select(
        "c1",
        F.sum("c").over(w).cast("bigint").alias("cum"),
        F.sum("c1").over(w).cast("bigint").alias("cum1"),
    )
    t = r.filter(F.col("c1") > 0).select(
        "c1",
        F.expr(
            "(2 * cast(cum1 as decimal(38,0)) * 1000000 + cum)"
            " div (2 * cast(cum as decimal(38,0)))"
        ).alias("p6"),
    )
    tot = vc.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.sum(F.col("c") - F.col("c1")), F.lit(0))
        .cast("bigint")
        .alias("n0"),
    )
    ap = t.agg(
        F.coalesce(
            F.sum(F.expr("cast(c1 as decimal(38,0)) * p6")), F.lit(0)
        )
        .cast("decimal(38,0)")
        .alias("apnum")
    )
    return tot.crossJoin(F.broadcast(ap)).select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.when(F.col("n1") == 0, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio("apnum", "cast(n1 as decimal(38,0)) * 1000000", 6)
        )
        .alias("avg_precision"),
        F.when(F.col("n1") + F.col("n0") == 0, F.lit(None).cast("double"))
        .otherwise(hu_ratio("n1", "n1 + n0", 6))
        .alias("base_rate"),
    )


def _cal_regression_oracle() -> str:
    slope = hu_ratio_signed_sql(
        "10000 * (m.n * m.spy - m.sp * m.sy)",
        "m.n * m.spp - m.sp * m.sp", 6)
    intercept = hu_ratio_signed_sql(
        "m.sy * (m.n * m.spp - m.sp * m.sp)"
        " - (m.n * m.spy - m.sp * m.sy) * m.sp",
        "m.n * (m.n * m.spp - m.sp * m.sp)", 6)
    return f"""{_SCORED_DUCK},
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 CAST(SUM(p_bp) AS HUGEINT) AS sp,
                 CAST(SUM(CAST(p_bp AS HUGEINT) * p_bp) AS HUGEINT) AS spp,
                 CAST(SUM(y) AS HUGEINT) AS sy,
                 CAST(SUM(CAST(p_bp AS HUGEINT) * y) AS HUGEINT) AS spy
          FROM p)
    SELECT CAST(m.n AS BIGINT) AS n,
           CASE WHEN m.n * m.spp - m.sp * m.sp = 0 THEN NULL
                ELSE {slope} END AS cal_slope,
           CASE WHEN m.n * m.spp - m.sp * m.sp = 0 THEN NULL
                ELSE {intercept} END AS cal_intercept
    FROM m
    """


@query("eval_calibration_regression", oracle=_cal_regression_oracle())
def eval_calibration_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-in-the-large as a LINEAR regression of outcomes on
    predicted probabilities: y ~ a + b*p over the scorer's basis-point
    outputs — the two-number summary (slope b, intercept a) that
    complements the binned views (eval_calibration_bins / eval_ece_mce
    / eval_isotonic_bins): a perfectly calibrated scorer has b = 1,
    a = 0; b < 1 means overconfident spread, a > 0 means global
    underprediction.

    Determinism: p_bp is the shared integer basis-point score; the
    five regression moments are exact int128 sums, and slope/intercept
    are each ONE signed rational by Cramer on the 2x2 normal equations
    — the 1e4 probability scale folds into the slope numerator and the
    intercept clears BOTH divisions by cross-multiplication (no
    nested-ratio float anywhere).  A constant-score or empty corpus
    (zero predictor variance) renders both NULL via lazy CASE.
    Headroom: n*spp ~ n^2 * 1e8 and the intercept numerator adds a
    factor sy ~ n — int128 through the render factor to ~1e7 rows;
    past that, center p first (the stats_var_twopass escape — the
    moments shift exactly).  Scale shape: one scoring scan into one
    5-moment reduce."""
    p = _scored_embeddings(spark, sf_dir)
    m = p.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("p_bp").cast("decimal(38,0)").alias("sp"),
        F.sum(F.expr("cast(p_bp as decimal(38,0)) * p_bp")).alias("spp"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("cast(p_bp as decimal(38,0)) * y")).alias("spy"),
    )
    degen = F.expr("n * spp - sp * sp = 0")
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio_signed(
                "10000 * (n * spy - sp * sy)", "n * spp - sp * sp", 6
            )
        )
        .alias("cal_slope"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(
            hu_ratio_signed(
                "sy * (n * spp - sp * sp) - (n * spy - sp * sy) * sp",
                "n * (n * spp - sp * sp)",
                6,
            )
        )
        .alias("cal_intercept"),
    )
