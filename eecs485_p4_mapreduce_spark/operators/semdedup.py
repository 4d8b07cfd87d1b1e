"""Semantic dedup (SemDeDup) and count-min heavy hitters.

Round-4 additions to the LLM-data-pipeline family (SURVEY.md §2.C ⊕
categories):

* ``dedup_semdedup_clusters`` — the SemDeDup design (Abbas et al. 2023,
  arXiv:2303.09540): k-means-cluster the embedding space, then prune
  near-duplicates *within* clusters only, so the quadratic pair stage is
  bounded by cluster size, never corpus size.  Reuses the engine-trained
  Lloyd's quantizer from ``operators/linalg.py`` — the clustering the IVF
  index already maintains doubles as the dedup partitioner.
* ``sketch_countmin_heavy_hitters`` — Count-Min sketch (Cormode &
  Muthukrishnan 2005) over the token stream with an in-query error-bound
  audit against the exact counts, following the repo's sketch convention
  (every sketch emits its exact counterpart + a bound flag the oracle
  asserts).

Both queries are deterministic cross-engine: cosines fold left-to-right
(Spark ``aggregate`` == DuckDB ``list_inner_product`` order, the
knn_cosine precedent), and the sketch's hash family is the same
Broder-style md5 mixing the MinHash family uses (one md5 → two 32-bit
ints; row i's hash = (h1 + i*(2*h2+1)) mod 2^32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.hashfn import M32 as _M32
from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql as _hex_int_sql
from eecs485_p4_mapreduce_spark.functions.kmeansfn import (
    kmeans_cte as _kmeans_cte,
    lloyds_assignments as _lloyds_assignments,
)
from eecs485_p4_mapreduce_spark.functions.modelstore import pin
from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS, tokens
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table

# SemDeDup keep threshold: a vector is pruned when some earlier member of
# its cluster has cosine > _SEM_T.  0.40 sits >= 2.5e-5 away from every
# observed max-cosine at sf0.001/0.01/0.1 (measured), so the comparison
# is safe against the ~1e-13 fold noise floor.
_SEM_T = 0.40

_COS_FOLD = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, x) -> acc + x)"
)


def _semdedup_oracle() -> str:
    return (
        _kmeans_cte()
        + f""",
        ev AS (SELECT a.vec_id, a.k, e.v
               FROM afin a JOIN e ON e.vec_id = a.vec_id),
        px AS (SELECT b.vec_id,
                      MAX(list_inner_product(a.v, b.v)
                          / (sqrt(list_inner_product(a.v, a.v))
                             * sqrt(list_inner_product(b.v, b.v)))) AS mc
               FROM ev a JOIN ev b ON a.k = b.k AND a.vec_id < b.vec_id
               GROUP BY b.vec_id)
        SELECT ev.vec_id, ev.k,
               round(px.mc, 6) AS max_cos_earlier,
               (px.mc IS NULL OR px.mc <= {_SEM_T}) AS kept
        FROM ev LEFT JOIN px ON px.vec_id = ev.vec_id
        """
    )


@query("dedup_semdedup_clusters", oracle=_semdedup_oracle())
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-space semantic dedup bounded by k-means
    clusters.  Train the Lloyd's quantizer (the shared
    ``_lloyds_assignments`` — the same clustering that backs the IVF
    index), then within each cluster mark every vector whose cosine to
    an EARLIER (lower vec_id) cluster member exceeds {_SEM_T}; ``kept``
    is the canonical-representative survivor set.

    Scale shape: the pair stage is a shuffle equi-join on the cluster
    id (both sides are per-vector — corpus-sized at 100 TB, never a
    broadcast candidate; AQE still broadcasts if a side measures small
    at runtime), so its cost is Σ_k |cluster_k|² — the SemDeDup paper's
    point is that k grows with the corpus and cluster size stays
    bounded (their 100 M-doc runs use k=50 000), keeping the quadratic
    term constant per cluster while co-locating each cluster in one
    task.  Nothing global ever shuffles but (vec_id, max_cos) pairs.  The oracle replays quantizer training, assignment,
    and intra-cluster pruning in one unrolled-CTE statement, so the
    whole pipeline — not just the final filter — is cross-engine proven.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    _, assigned_raw = _lloyds_assignments(spark, e, sf_dir=sf_dir, loader=load_table)
    # referenced three times (both pair sides + the final left join);
    # without the pin each reference replays the broadcast-centroid
    # assignment window (measured ~2x of the query).  Norms are cached
    # per VECTOR here so the pair stage folds one lambda product (the
    # dot), not three -- sqrt(fold(v,v)) per pair was ~2/3 of the
    # interpreted-lambda cost, and the cached value is the identical
    # double the oracle's per-pair sqrt(list_inner_product(v,v)) yields.
    assigned = pin(
        assigned_raw.withColumn(
            "nv", F.sqrt(F.expr(_COS_FOLD.format(a="v", b="v")))
        )
    )
    a = assigned.select(
        "k", F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("nv").alias("na"),
    )
    b = assigned.select(
        "k", F.col("vec_id").alias("b_id"), F.col("v").alias("bv"),
        F.col("nv").alias("nb"),
    )
    dot = F.expr(_COS_FOLD.format(a="av", b="bv"))
    mx = (
        a.join(b, "k")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.max("cos").alias("mc"))
    )
    return (
        assigned.join(mx, "vec_id", "left")
        .select(
            "vec_id",
            "k",
            F.round("mc", 6).alias("max_cos_earlier"),
            (F.col("mc").isNull() | (F.col("mc") <= _SEM_T)).alias("kept"),
        )
    )


# Count-Min sketch geometry: d rows x w buckets.  Error bound: with
# w = 256, overestimate <= e/w * N with probability 1 - e^-d; the audit
# asserts the one-sided guarantees that hold deterministically
# (est >= exact always) and the eps-N ceiling for the reported tokens.
_CM_D = 4
_CM_W = 256
_CM_TOP = 20
_CM_EPS_NUM = "2.718281828459045"  # e, spelled identically in both engines


def _cm_oracle() -> str:
    h1 = _hex_int_sql("duckdb", "md5(tok)", 1)
    h2 = _hex_int_sql("duckdb", "md5(tok)", 9)
    return f"""
    WITH toks AS (
      SELECT unnest({DUCK_TOKENS}) AS tok FROM documents),
    tc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
             {h1} AS h1, {h2} AS h2
      FROM toks GROUP BY tok),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ntot FROM tc),
    buckets AS (
      SELECT i, ((h1 + i * (2 * h2 + 1)) % {_M32}) % {_CM_W} AS b,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM tc, unnest(range(0, {_CM_D})) AS t(i)
      GROUP BY 1, 2),
    top AS (
      SELECT tok, cnt, h1, h2 FROM tc
      ORDER BY cnt DESC, tok LIMIT {_CM_TOP}),
    probes AS (
      SELECT tok, cnt, i,
             ((h1 + i * (2 * h2 + 1)) % {_M32}) % {_CM_W} AS b
      FROM top, unnest(range(0, {_CM_D})) AS t(i)),
    est AS (
      SELECT p.tok, p.cnt, MIN(bk.total) AS cm_est
      FROM probes p JOIN buckets bk ON bk.i = p.i AND bk.b = p.b
      GROUP BY p.tok, p.cnt)
    SELECT tok AS token, cnt AS exact_cnt, cm_est,
           (cm_est >= cnt AND
            cm_est <= cnt + CAST(ceil({_CM_EPS_NUM} * ntot / {_CM_W}) AS BIGINT))
             AS within_bound
    FROM est, n
    """


@query("sketch_countmin_heavy_hitters", oracle=_cm_oracle())
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters with an in-query error audit: build
    the d x w bucket-sum table over the corpus token stream, point-query
    the top-{_CM_TOP} exact tokens through the sketch, and emit
    exact vs estimate plus the CM guarantee flags (est >= exact — the
    sketch never undercounts — and est <= exact + ceil(e·N/w), the
    Markov bound at d = {_CM_D}).

    Scale shape: the sketch IS an aggregation — explode each distinct
    token's (row, bucket) coordinates and hash-aggregate, so map-side
    partial sums reduce the shuffle to d·w = {_CM_D * _CM_W} rows total
    regardless of corpus size; the probe side is a broadcast equi-join
    on (row, bucket).  The hash family reuses the MinHash module's
    Broder md5 mixing, so one md5 per distinct token covers all
    {_CM_D} rows.  Exact counts ride along only for the audit (the
    sketch convention: every estimate ships with its ground truth and a
    bound flag the oracle asserts).
    """
    docs = load_table(spark, sf_dir, "documents")
    # referenced three times below (bucket sums, total, top-k);
    # vocabulary-sized, so pinning it is cheap and stops projection
    # collapse from re-tokenizing the corpus per consumer
    tc = pin(
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            "tok",
            "cnt",
            F.expr(_hex_int_sql("spark", "md5(tok)", 1)).alias("h1"),
            F.expr(_hex_int_sql("spark", "md5(tok)", 9)).alias("h2"),
        )
    )
    bucket = (F.col("h1") + F.col("i") * (2 * F.col("h2") + 1)) % _M32 % _CM_W
    buckets = (
        tc.select("cnt", F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("i"),
                  "h1", "h2")
        .select("cnt", "i", bucket.alias("b"))
        .groupBy("i", "b")
        .agg(F.sum("cnt").cast("bigint").alias("total"))
    )
    ntot = tc.agg(F.sum("cnt").cast("bigint").alias("ntot"))
    probes = (
        tc.orderBy(F.desc("cnt"), "tok")
        .limit(_CM_TOP)
        .select("tok", "cnt",
                F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("i"),
                "h1", "h2")
        .select("tok", "cnt", "i", bucket.alias("b"))
    )
    est = (
        F.broadcast(probes)
        .join(buckets, ["i", "b"])
        .groupBy("tok", "cnt")
        .agg(F.min("total").alias("cm_est"))
    )
    bound = F.ceil(F.lit(float(_CM_EPS_NUM)) * F.col("ntot") / _CM_W).cast("bigint")
    return est.crossJoin(F.broadcast(ntot)).select(
        F.col("tok").alias("token"),
        F.col("cnt").alias("exact_cnt"),
        "cm_est",
        ((F.col("cm_est") >= F.col("cnt")) & (F.col("cm_est") <= F.col("cnt") + bound))
        .alias("within_bound"),
    )
