"""Shared Lloyd's k-means quantizer: Spark training loop + the unrolled
DuckDB CTE chain that replays it exactly.

Lives under functions/ (no registry import) so any operator module —
the IVF training/search queries in operators/linalg.py and the SemDeDup
pruner in operators/semdedup.py — can be imported first without a
decoration-time circular import (the lshfn.py convention).  See
operators/linalg.py for the determinism rationale (decimal-exact
component means, argmin ties on k) and the scale notes.  The trained
centroids live in the derived-state store (functions/modelstore.py);
there is no in-memory copy.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import (
    load_or_train,
    local_frame,
)

D = 64          # embedding dim
KM_K = 8        # clusters (the IVF nlist)
KM_ROUNDS = 2   # fixed unrolled update rounds

# string, not F.expr(...): building a Column needs an active SparkContext,
# which does not exist at module import time
KM_DIST = (
    "-2 * aggregate(zip_with(v, cv, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, x) -> acc + x)"
    " + aggregate(zip_with(cv, cv, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, x) -> acc + x)"
)


def km_assign(e: DataFrame, cdf: DataFrame) -> DataFrame:
    """(vec_id, v, k): nearest-centroid list id per vector, ties on k."""
    w = Window.partitionBy("vec_id").orderBy("dist", "k")
    return (
        e.crossJoin(F.broadcast(cdf))
        .withColumn("dist", F.expr(KM_DIST))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "v", "k")
    )


def lloyds_assignments(
    spark: SparkSession, e: DataFrame, sf_dir: str, loader: Callable
):
    """Run the fixed Lloyd's rounds; return (final centroid DF, final
    assignment DF).  Shared by the training query, the trained-IVF
    search query, and the SemDeDup pruner so all provably use the same
    quantizer.  The trained centroids go through the model store
    (functions/modelstore.py), so every consumer after the first — in
    this application or a fresh one — reads the published K x D model
    instead of re-running the training jobs.  ``loader`` is the table
    loader that read ``e`` (callers pass their module's load_table, so
    a monkeypatched loader gets its own store location).
    Deterministic training + exact double parquet round-trip means
    stored vs fresh centroids are bit-identical — every consumer's
    oracle replays the same training."""

    def train() -> list[tuple]:
        init = e.filter(F.col("vec_id") < KM_K).select(
            F.col("vec_id").alias("k"), F.col("v").alias("cv")
        )
        cents = [(int(r["k"]), list(r["cv"])) for r in init.collect()]
        for _ in range(KM_ROUNDS):
            cdf = local_frame(spark, cents, "k bigint, cv array<double>")
            assigned = km_assign(e, cdf)
            means = (
                assigned.select("k", F.posexplode("v").alias("d0", "x"))
                .groupBy("k", (F.col("d0") + 1).alias("d"))
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                        / F.count(F.lit(1))
                    ).alias("c")
                )
                .collect()
            )
            by_k: dict[int, list] = {}
            for r in means:
                by_k.setdefault(int(r["k"]), []).append((r["d"], r["c"]))
            cents = [
                (k, [c for _, c in sorted(vals)])
                for k, vals in sorted(by_k.items())
            ]
        return cents

    schema = "k bigint, cv array<double>"
    centroids = load_or_train(
        spark, "kmeans", sf_dir, schema, train, loader=loader
    )
    cdf = local_frame(spark, centroids, schema)
    return cdf, km_assign(e, cdf)


def kmeans_cte() -> str:
    """The unrolled Lloyd's CTE chain through the final assignment
    (afin) and final centroids (c{rounds}) -- shared by the training
    query's oracle, the trained-IVF search oracle, and the SemDeDup
    oracle."""
    parts = [
        f"""
        e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        el AS MATERIALIZED (
          SELECT vec_id, d, v[d] AS x
          FROM e, unnest(range(1, {D} + 1)) AS t(d)),
        c0 AS (SELECT vec_id AS k, v AS cv FROM e WHERE vec_id < {KM_K})
        """
    ]
    for r in range(1, KM_ROUNDS + 1):
        parts.append(
            f"""
        d{r} AS (
          SELECT e.vec_id, c.k,
                 -2 * list_inner_product(e.v, c.cv)
                   + list_inner_product(c.cv, c.cv) AS dist
          FROM e CROSS JOIN c{r - 1} c),
        a{r} AS (
          SELECT vec_id, k FROM (
            SELECT vec_id, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, k) AS rk
            FROM d{r}) WHERE rk = 1),
        m{r} AS (
          SELECT a.k, el.d,
                 CAST(SUM(CAST(el.x AS DECIMAL(30,15))) AS DOUBLE)
                   / COUNT(*) AS c
          FROM el JOIN a{r} a ON a.vec_id = el.vec_id
          GROUP BY a.k, el.d),
        c{r} AS (
          SELECT k, list(c ORDER BY d) AS cv FROM m{r} GROUP BY k)
            """
        )
    final = KM_ROUNDS
    return (
        "WITH " + ",".join(parts) + f""",
        dfin AS (
          SELECT e.vec_id, c.k,
                 -2 * list_inner_product(e.v, c.cv)
                   + list_inner_product(c.cv, c.cv) AS dist
          FROM e CROSS JOIN c{final} c),
        afin AS (
          SELECT vec_id, k FROM (
            SELECT vec_id, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, k) AS rk
            FROM dfin) WHERE rk = 1)
        """
    )
