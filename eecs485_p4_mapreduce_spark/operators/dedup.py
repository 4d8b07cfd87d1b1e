"""Deduplication operators (SURVEY.md §2.C ⊕): exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:
- Exact dedup shuffles a 32-byte md5, never the document body.
- MinHash signatures are computed scan-side as pure column expressions
  (transform/array_min over shingles -- no UDF, no shuffle); only the
  (band, band_hash) pairs shuffle, so the join key space is tiny and the
  candidate join is an equi-join AQE can handle skew on.
- SimHash fingerprints likewise reduce each document to 32 bits scan-side.
- The all-pairs verification joins here (n-gram Jaccard, embedding cosine)
  are the *verify* stage one runs on LSH candidates; at test scale we run
  them globally so the DuckDB oracle can check them exactly.
- Corpus-derived frames (MinHash signatures, the LSH candidate and
  degree-oriented edge sets, the 8-token posting table, the calibration
  samples) live in the derived-state store (functions/modelstore.py):
  derived once per corpus mtime, then read back as parquet scans by
  every consumer in any application.  No in-memory cache fronts them.

Cross-engine determinism: every hash is md5 (identical in Spark and
DuckDB); min/fraction reductions over unordered sets are order-insensitive,
so Spark and DuckDB agree bitwise.  Spark-side expressions use the SQL
dialect (selectExpr/F.expr); the oracle uses DuckDB's list_* spellings of
the same expressions (1-based element_at/list_extract in both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql
from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio
from eecs485_p4_mapreduce_spark.functions.modelstore import load_or_build_frame, pin
from eecs485_p4_mapreduce_spark.functions.textfn import DUCK_TOKENS
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, widen_scan

# ---------------------------------------------------------------- exact

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, CAST(MIN(doc_id) AS BIGINT) AS keeper,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on md5(text): keeper = min doc_id.
    Equivalent to dropDuplicates('text') but shuffles only the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").cast("bigint").alias("keeper"),
        F.count("*").cast("bigint").alias("n_copies"),
    )


# ------------------------------------------------------- minhash + LSH
#
# All MinHash/LSH templates and the signature builder live in
# functions/minhashfn.py (a leaf module, importable before this one) so
# graph.py / pipeline.py / streaming can build their oracles at
# decoration time no matter which operator module the process imports
# first.  Re-bound here under the historical names for local use.

from eecs485_p4_mapreduce_spark.functions import minhashfn as _mh

_K = _mh.K
_BANDS = _mh.BANDS
_SHINGLE = _mh.SHINGLE
_M32 = _mh.M32
_SH_DUCK = _mh.SH_DUCK
_BANDS_DUCK = _mh.BANDS_DUCK
_EST_SPARK = _mh.EST_SPARK
_EST_DUCK = _mh.EST_DUCK
_MIN_EXPRS_DUCK = _mh.MIN_EXPRS_DUCK
_MINHASH_BANDED_DUCK = _mh.MINHASH_BANDED_DUCK
MINHASH_SIG_FOLD = _mh.MINHASH_SIG_FOLD
_minhash_banded = _mh.minhash_banded
_banded_from_sig = _mh.banded_from_sig

# moved to functions/hashfn.py (shared with the Count-Min sketch without
# a decoration-time circular import); re-bound here for all local uses
_hex_int_sql = hex_int_sql


# The signature table and the two edge tables derived from it are
# corpus-derived frames in the derived-state store
# (functions/modelstore.py): built once per corpus mtime, published as
# parquet, and read back as a scan by every later call in any
# application — the stored, bucketed signature/edge TABLES that ingest
# keeps fresh in production.  Eight queries (the minhash dedup family,
# the band-graph family, contamination audits) share the signatures;
# the whole band-graph family shares the edges.


def minhash_signatures(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Stored ``(sig_df, banded)`` for the full documents corpus at
    ``sf_dir`` — bit-identical to ``_minhash_banded(load_table(...))``
    (it IS that, stored), so every consumer's oracle is unchanged.  The
    md5-per-shingle floor (~the whole dedup-family tail) is paid once
    per corpus; a hit is a parquet scan in the REQUESTING session, so a
    consumer on a conf-scoped child session (e.g.
    ``dedup_minhash_calibration``) gets a frame under its own confs."""
    sig_df = load_or_build_frame(
        spark,
        "minhash_sigs",
        sf_dir,
        "documents",
        "doc_id bigint, sig array<bigint>",
        lambda: _minhash_banded(load_table(spark, sf_dir, "documents"))[0],
        loader=load_table,
    )
    return sig_df, _banded_from_sig(sig_df)


def lsh_candidate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored DISTINCT ``(da, db)`` (da < db) LSH band-collision edge set
    over the documents corpus — bit-identical as a SET to the inline
    self-join every band-graph query used to build.  Rebuilding it was
    ~1.8 s per graph query at sf0.1; a hit skips the signature and band
    self-join stages entirely."""

    def build() -> DataFrame:
        _, banded = minhash_signatures(spark, sf_dir)
        left = banded.select("doc_id", "b", "band_hash")
        return (
            left.alias("x")
            .join(left.alias("y"), ["b", "band_hash"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
            .distinct()
        )

    return load_or_build_frame(
        spark,
        "lsh_edges",
        sf_dir,
        "documents",
        "da bigint, db bigint",
        build,
        loader=load_table,
    )


# Degree-ORIENTED edges: the wedge-closure family (triangle count,
# clustering coefficient, link prediction, 2-hop centrality) re-orients
# every candidate edge from its lower-(degree, doc_id) endpoint to the
# higher one before closing wedges — the classic orientation that (a)
# lets triangle listing enumerate only out-out wedges at each
# triangle's key-minimum vertex (sum over nodes of out-degree^2,
# O(m^1.5) total, instead of degree^2 at every vertex) and (b) splits
# full wedge enumeration into three disjoint classes whose join volume
# is i^2 + i*o + o^2 per middle instead of (i+o)^2.  Orientation is a
# pure relabeling: the wedge/triangle MULTISETS are provably unchanged,
# so every consumer's oracle stays bit-identical.


def orient_edges(edges: DataFrame) -> DataFrame:
    """Degree-orient an undirected candidate edge set (columns
    ``da``/``db``, da < db, distinct): relabel each edge from its
    lower-``(degree, doc_id)`` endpoint ``lo`` to the higher ``hi``,
    carrying both exact degrees (``dlo``/``dhi``) for in-join order-key
    comparisons.  Pure relabeling — the wedge/triangle multisets are
    unchanged (property-pinned against the unoriented enumeration AND
    against the test replica of this derivation in
    tests/test_properties.py), so every consumer's oracle keeps the
    unoriented spelling.  One degree aggregate + two hash joins."""
    deg = (
        edges.select(F.col("da").alias("doc_id"))
        .unionAll(edges.select(F.col("db").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    e2 = edges.join(
        deg.select(F.col("doc_id").alias("da"), F.col("d").alias("d_a")), "da"
    ).join(
        deg.select(F.col("doc_id").alias("db"), F.col("d").alias("d_b")), "db"
    )
    a_first = F.struct("d_a", "da") < F.struct("d_b", "db")
    return e2.select(
        F.when(a_first, F.col("da")).otherwise(F.col("db")).alias("lo"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("hi"),
        F.when(a_first, F.col("d_a")).otherwise(F.col("d_b")).alias("dlo"),
        F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("dhi"),
    )


def lsh_oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored degree-oriented view of :func:`lsh_candidate_edges` (see
    :func:`orient_edges` for the relabeling contract): a hit skips the
    degree aggregate AND the two orientation joins, which at 100 TB are
    a real shuffle over the full edge table — and the candidate-edge
    derivation underneath is never invoked either."""
    return load_or_build_frame(
        spark,
        "lsh_oedges",
        sf_dir,
        "documents",
        "lo bigint, hi bigint, dlo bigint, dhi bigint",
        lambda: orient_edges(lsh_candidate_edges(spark, sf_dir)),
        loader=load_table,
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""{_MINHASH_BANDED_DUCK},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, {_EST_DUCK} AS est_jaccard
    FROM cand
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(8 bands x 2): shingle -> minhash -> band ->
    bucket-join -> estimated Jaccard.

    Signature construction is Broder-style: ONE md5 per shingle yields
    two 32-bit ints; hash i is the affine mix (h1 + i*(2*h2+1)) mod 2^32,
    so adding hashes costs integer ops, not extra digests.  The signature
    is then one shuffle: explode shingles, hash, groupBy(doc) with K
    integer MIN aggregates (partial agg collapses map-side).  Only
    (band, band_hash, doc_id) rows shuffle for the candidate equi-join --
    at 100 TB its key cardinality ~= corpus size * bands -- and
    signatures re-attach to the surviving pairs via shuffle hash joins
    on doc_id: the signature table has one row per document, the
    textbook NON-broadcastable side at corpus scale, so we leave the
    join strategy to AQE (which still broadcasts when the side is
    measured small at runtime).

    SKEW: band buckets on a boilerplate-heavy corpus are Zipf-skewed --
    one hot (b, band_hash) bucket can hold thousands of near-identical
    docs and would otherwise sort/join in a single straggler task.  The
    engine relies on AQE's OptimizeSkewedJoin to split hot partitions
    (replicating the matching other-side partition), which handles even
    a single hot KEY; tests/test_scale_layout.py::
    test_aqe_splits_skewed_band_bucket proves the reliance against a
    synthetic hot-bucket fixture (skew=true in the final plan).  At
    cluster scale the production knobs are skewedPartitionThresholdInBytes
    / skewedPartitionFactor; an application-level backstop for
    pathological buckets is capping bucket size at ingest (drop or
    side-table buckets over ~10k docs -- they are 100%-duplicate
    boilerplate by construction and get exact-deduped anyway).
    """
    sig_df, sig = minhash_signatures(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "b", "band_hash"
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "b", "band_hash"
    )
    # Distinct on the bare id pair first (ints shuffle, not signatures);
    # signatures re-attach via doc_id equi-joins afterwards (shuffle of
    # 16-int rows, never a corpus-sized broadcast).
    pairs = (
        a.drop("sig_a")
        .join(b.drop("sig_b"), ["b", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sigs = sig_df
    cand = (
        pairs.join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
    )
    return cand.select("doc_a", "doc_b", F.expr(_EST_SPARK).alias("est_jaccard"))


# ------------------------------------------------------------- simhash

_BITS = 32

# bit j of the 32-bit token hash (h1 = int from md5 hex chars 1-8)
_ONES_SPARK = [f"sum(shiftright(h1, {j}) % 2)" for j in range(_BITS)]
_ONES_DUCK = [f"SUM((h1 >> {j}) % 2)" for j in range(_BITS)]

# fp = sum over bits of 2^j where ones_j wins the majority vote
_FP_SPARK = " + ".join(
    f"(CASE WHEN 2 * o{j} > n THEN cast({1 << j} as bigint) ELSE cast(0 as bigint) END)"
    for j in range(_BITS)
)
_FP_DUCK = " + ".join(
    f"(CASE WHEN 2 * o{j} > n THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for j in range(_BITS)
)

_TOK_SPARK = "filter(split(lower(text), '\\\\s+'), t -> t <> '')"


@query(
    "dedup_simhash",
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS t FROM documents),
    hint AS MATERIALIZED (SELECT doc_id, {_hex_int_sql('duckdb', 'md5(t)', 1)} AS h1 FROM ex),
    ones AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n,
             {', '.join(f'{e} AS o{j}' for j, e in enumerate(_ONES_DUCK))}
      FROM hint GROUP BY doc_id),
    fp AS MATERIALIZED (SELECT doc_id, {_FP_DUCK} AS fp FROM ones)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32) near-dup: majority-vote fingerprint over token-hash
    bits packed into a BIGINT; pairs within Hamming distance 3.

    Fingerprints are one shuffle: explode tokens, 32-bit hash per token
    (one md5 each), groupBy(doc) with 32 integer bit-count sums; the
    majority vote is a flat projection over the aggregate.  Candidates
    come from banding the fingerprint into 4 x 8-bit keys and
    equi-joining on (band, value): by pigeonhole any pair with <= 3
    differing bits shares at least one clean band, so banding is EXACT
    for this threshold -- no brute-force all-pairs join anywhere (the
    DuckDB oracle does brute force, proving the recall claim).  This is
    the 100 TB shape: one narrow shuffle on 8-bit band keys, then
    bit_count(xor) on the candidate set.
    """
    docs = load_table(spark, sf_dir, "documents")
    # md5 per TOKEN follows — the CLAUDE.md single-split rule: keep the
    # hash stage off a compact scan's one core.  Keyed on doc_id, the
    # repartition ALSO satisfies the fingerprint groupBy's required
    # distribution, so the aggregate's own exchange disappears with it
    # (widen_scan decision rule; wide scans never pay it).
    docs = widen_scan(docs, "doc_id")
    ex = docs.select("doc_id", F.explode(F.expr(_TOK_SPARK)).alias("t"))
    hint = ex.select("doc_id", F.expr(_hex_int_sql("spark", "md5(t)", 1)).alias("h1"))
    ones = hint.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.expr(e).alias(f"o{j}") for j, e in enumerate(_ONES_SPARK)],
    )
    fp = pin(ones.select("doc_id", F.expr(_FP_SPARK).alias("fp")))
    banded = fp.select(
        "doc_id",
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn("bv", F.expr("shiftright(fp, band * 8) % 256"))
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"), "band", "bv"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"), "band", "bv"
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# ------------------------------------------------- n-gram exact Jaccard

# word 4-grams: rare enough that the inverted-index join fan-out stays
# near-linear even on a shared-vocabulary corpus
_NG_SPARK = (
    "CASE WHEN size(toks) = 0 THEN array() ELSE "
    "array_distinct(transform(sequence(1, greatest(size(toks) - 3, 1)),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, least(i + 1, size(toks))),"
    " ' ', element_at(toks, least(i + 2, size(toks))),"
    " ' ', element_at(toks, least(i + 3, size(toks)))))) END"
)
_NG_DUCK = (
    "CASE WHEN len(toks) = 0 THEN [] ELSE "
    "list_distinct(list_transform(range(1, greatest(len(toks) - 3, 1) + 1),"
    " i -> concat(list_extract(toks, i), ' ', list_extract(toks, least(i + 1, len(toks))),"
    " ' ', list_extract(toks, least(i + 2, len(toks))),"
    " ' ', list_extract(toks, least(i + 3, len(toks)))))) END"
)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""{_MINHASH_BANDED_DUCK},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    toks AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    ng AS (SELECT doc_id, {_NG_DUCK} AS ng FROM toks),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(na.ng, nb.ng)) AS i,
             len(na.ng) AS sza, len(nb.ng) AS szb
      FROM cand c
      JOIN ng na ON na.doc_id = c.doc_a
      JOIN ng nb ON nb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sza + szb - i) AS jaccard
    FROM scored
    WHERE i > 0 AND CAST(i AS DOUBLE) / (sza + szb - i) >= 0.02
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-4-gram Jaccard (>= 0.02), gated on MinHash-LSH
    candidate pairs -- the 100 TB shape end to end.

    Candidates come from the STORED candidate-edge table (the same
    banded MinHash equi-join as ``dedup_minhash_lsh``, derived once per
    corpus and read as parquet thereafter — lsh_candidate_edges);
    the exact verify is then a per-candidate-pair ``array_intersect``
    over the two gram arrays, so the work is O(candidates * grams/doc),
    never the global inverted-index all-pairs join the round-2 version
    ran.  The oracle mirrors the identical candidate set, so recall
    trade-offs cancel out and the comparison is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the stored candidate-edge table IS this distinct band-collision
    # pair set (bit-identical; see lsh_candidate_edges)
    cand = lsh_candidate_edges(spark, sf_dir).select(
        F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
    )
    # Materialize the gram arrays: Catalyst's projection collapse would
    # otherwise inline the tokenization into every one of the ~4*|doc|
    # element_at references (re-splitting the text thousands of times per
    # document) and again into each downstream branch.
    # Conditional keyed repartition first (widen_scan): the 4-gram
    # transform is ~4 concats per token and would otherwise run on the
    # compact scan's single core before the checkpoint.
    docs = widen_scan(docs, "doc_id")
    ng = pin(
        docs.withColumn("toks", F.expr(_TOK_SPARK))
        .withColumn("ng", F.expr(_NG_SPARK))
        .select("doc_id", "ng")
    )
    na = ng.select(F.col("doc_id").alias("doc_a"), F.col("ng").alias("ng_a"))
    nb = ng.select(F.col("doc_id").alias("doc_b"), F.col("ng").alias("ng_b"))
    scored = (
        cand.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ng_a", "ng_b")).alias("i"),
            F.size("ng_a").alias("sza"),
            F.size("ng_b").alias("szb"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i"))
    return (
        scored.filter(F.col("i") > 0)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.02)
    )


# ------------------------------------------- embedding cosine near-dup

# Hyperplane-LSH banding for candidate generation: the 8 md5-derived sign
# bits from similarity._bucket_sql, split into 4 bands of 2 bits.  A pair
# is a candidate iff it agrees on ALL bits of at least one band.  At
# cosine 0.35 per-bit agreement is ~0.61, so band recall ~0.37 and
# 4-band recall ~1 - (1-0.37)^4 ~ 0.84; at near-dup thresholds (>= 0.9,
# the production setting) recall is > 0.999.  More bands raise recall,
# more bits per band shrink buckets -- both just constants here.
_EMB_BANDS = 4
_EMB_R = 2  # bits per band (uses similarity._H == _EMB_BANDS * _EMB_R)


def _emb_cos_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.lshfn import bucket_sql as _bucket_sql

    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bits AS MATERIALIZED (
      SELECT vec_id, v, {_bucket_sql('duckdb')} AS bits FROM e),
    banded AS (
      SELECT vec_id, b, substring(bits, b * {_EMB_R} + 1, {_EMB_R}) AS band_val
      FROM bits, unnest(range(0, {_EMB_BANDS})) AS t(b)),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
    scored AS (
      SELECT p.vec_a, p.vec_b,
             list_inner_product(ea.v, eb.v)
               / (sqrt(list_inner_product(ea.v, ea.v))
                  * sqrt(list_inner_product(eb.v, eb.v))) AS cos_raw
      FROM pairs p
      JOIN e ea ON ea.vec_id = p.vec_a
      JOIN e eb ON eb.vec_id = p.vec_b)
    SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine
    FROM scored WHERE cos_raw >= 0.35
    """


@query("dedup_embedding_cosine", oracle=_emb_cos_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: hyperplane-LSH candidates, exact cosine verify.

    Fully distributed -- nothing ever touches the driver:
    1. scan-side 8-bit sign signature per vector (md5-derived hyperplanes,
       identical reals on both engines -- similarity._bucket_sql);
    2. explode into 4 bands of 2 bits; shuffle ONLY (band, band_val) keys
       plus the vector itself -- the bucket join replaces round 1's
       driver-side ``toPandas()`` + full-matrix broadcast (O(N) driver
       memory, the round-1 verdict's scale-killer);
    3. per-bucket exact cosine via one numpy/BLAS matmul inside
       ``applyInPandas`` -- compute is O(sum bucket^2), not O(N^2);
    4. pairs found in multiple bands collapse with a groupBy max.

    The oracle mirrors the same banded candidate generation, so both
    engines verify the exact cosine on the identical candidate set.

    Numeric note: BLAS may reorder the 64-term dot sums vs the oracle's
    sequential fold; error is ~1e-13 while the data's closest approach to
    the 0.35 threshold is ~1e-6, and round(6) absorbs the tail.
    """
    import numpy as np
    import pandas as pd

    from eecs485_p4_mapreduce_spark.functions.lshfn import bucket_expr_spark as _bucket_expr_spark

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # bits is an expensive derived column read by every band -> checkpoint
    # so projection collapse cannot re-inline it 4x (see module notes)
    bucketed = pin(emb.withColumn("bits", F.expr(_bucket_expr_spark())))
    banded = bucketed.select(
        "vec_id",
        "v",
        F.posexplode(
            F.array(
                *[F.substring("bits", 1 + b * _EMB_R, _EMB_R) for b in range(_EMB_BANDS)]
            )
        ).alias("band", "band_val"),
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []})
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["v"].to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        rows, cols = np.nonzero(np.triu(sims >= 0.35, k=1))
        return pd.DataFrame(
            {"vec_a": ids[rows], "vec_b": ids[cols], "cos_raw": sims[rows, cols]}
        )

    pairs = banded.groupBy("band", "band_val").applyInPandas(
        bucket_pairs, schema="vec_a bigint, vec_b bigint, cos_raw double"
    )
    return pairs.groupBy("vec_a", "vec_b").agg(
        F.round(F.max("cos_raw"), 6).alias("cosine")
    )


# ----------------------------------------------- duplicate clustering

_CLUSTER_TAU = 0.2  # minhash est_jaccard edge threshold


def _cc_step(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE min-label-propagation round (propagate + pointer-jump) for
    connected components; the template dedup_clusters' driver loop
    repeats to a fixpoint.  Audited by tools/plan_audit.py as the
    representative iterative plan."""
    neighbor_min = (
        edges.join(labels, edges.d == labels.node)
        .groupBy(F.col("s").alias("node2"))
        .agg(F.min("lbl").alias("nlbl"))
    )
    prop = (
        labels.join(neighbor_min, labels.node == F.col("node2"), "left")
        .select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
        )
    )
    # pointer-jump: adopt the label of one's label (path halving), so
    # chains collapse in O(log diameter) rounds instead of O(diameter)
    lbl_of_lbl = labels.select(
        F.col("node").alias("lnode"), F.col("lbl").alias("llbl")
    )
    return (
        prop.join(lbl_of_lbl, prop.lbl == F.col("lnode"), "left")
        .select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("llbl"), F.col("lbl"))).alias("lbl"),
        )
    )


def _cc_setup(spark: SparkSession, sf_dir: str):
    """Pinned both-direction edges of the near-dup pair graph, its node
    set, and the pinned initial labels (every node its own label);
    shared by the query loop and the audit's one-round template."""
    pairs = dedup_minhash_lsh(spark, sf_dir).filter(
        F.col("est_jaccard") >= _CLUSTER_TAU
    ).select("doc_a", "doc_b")
    # no .distinct(): pairs are already distinct with doc_a < doc_b, so
    # the two reversed branches cannot collide — the dedup exchange the
    # old spelling paid removed nothing
    edges = pin(
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .union(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
    )
    # nodes restricted to the pair graph; isolated docs join back at the end
    nodes = edges.select(F.col("s").alias("node")).distinct()
    labels = pin(nodes.withColumn("lbl", F.col("node")))
    return edges, nodes, labels


def _cc_iteration_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy one-round CC plan over the real candidate-edge graph (setup
    executes; the returned frame does not) -- the audit surface."""
    edges, _, labels = _cc_setup(spark, sf_dir)
    return _cc_step(edges, labels)



@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS MATERIALIZED (SELECT doc_id, {_SH_DUCK} AS sh FROM documents),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    hx AS MATERIALIZED (SELECT doc_id, md5(g) AS h FROM ex),
    hint AS MATERIALIZED (SELECT doc_id,
           {_hex_int_sql('duckdb', 'h', 1)} AS h1,
           {_hex_int_sql('duckdb', 'h', 9)} AS h2 FROM hx),
    sig AS MATERIALIZED (SELECT doc_id, list_value({_MIN_EXPRS_DUCK}) AS sig
                         FROM hint GROUP BY doc_id),
    withbands AS MATERIALIZED (SELECT doc_id, sig, {_BANDS_DUCK} AS bands FROM sig),
    banded AS (
      SELECT doc_id, sig, b, list_extract(bands, b) AS band_hash
      FROM withbands, unnest(range(1, {_BANDS} + 1)) AS t(b)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    scored AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
      WHERE CAST(len(list_filter(range(1, {_K} + 1),
            i -> list_extract(sa.sig, i) = list_extract(sb.sig, i))) AS DOUBLE) / {_K}
            >= {_CLUSTER_TAU}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM scored
      UNION SELECT doc_b, doc_a FROM scored),
    nodes AS (SELECT doc_id AS node FROM documents),
    reach AS (
      SELECT node AS src, node AS dst FROM nodes
      UNION
      SELECT r.src, e.d AS dst FROM reach r JOIN edges e ON e.s = r.dst),
    labeled AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM labeled
    GROUP BY cluster_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the MinHash
    near-dup graph (est_jaccard >= 0.2), canonical doc = min doc_id.

    Spark side runs iterative min-label propagation to a fixpoint --
    each round is one join + one aggregate on (node, label), the
    standard large-graph CC shape (label exchange only, never
    adjacency materialization).  The oracle computes the same
    components via a recursive transitive closure, which is exact but
    quadratic per component -- fine for an oracle, wrong at scale;
    the iterative form converges in O(diameter) rounds.
    Docs in no near-dup pair form singleton clusters of themselves.
    """
    edges, nodes, labels = _cc_setup(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    max_rounds = 30
    # convergence via the monotone invariant: min-label propagation only
    # ever DECREASES labels, so sum(lbl) is unchanged iff no label moved
    # — one single-row aggregate per round on the already-materialized
    # checkpoint, instead of a labels⋈labels diff count every other
    # round (and it detects the fixpoint one round sooner).  doc_id sums
    # stay exact in decimal(38,0) at any corpus size.
    prev_sum = None
    for it in range(max_rounds):
        new_labels = pin(_cc_step(edges, labels))
        cur_sum = new_labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = new_labels
        # Empty pair graph: sum over zero rows is NULL — converged by
        # definition (no labels to move), handled EXPLICITLY rather than
        # via None == None against the initial sentinel (round-13
        # ADVICE: the monotone-decrease invariant doesn't cover NULL).
        if cur_sum is None or cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError("dedup_clusters: label propagation did not converge")
    member = labels  # (node=doc_id, lbl=cluster)
    isolated = docs.join(nodes, docs.doc_id == nodes.node, "left_anti").select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("lbl")
    )
    allm = member.union(isolated)
    return allm.groupBy(F.col("lbl").cast("bigint").alias("cluster_id")).agg(
        F.count("*").cast("bigint").alias("cluster_size"),
        F.min("node").cast("bigint").alias("canonical_doc"),
    )


# ------------------------------------------------- fuzzy (edit distance)

@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars, text,
             substring(text, 1, 16) AS pfx,
             substring(text, greatest(length(text) - 15, 1), 16) AS sfx
      FROM documents),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.text AS ta, b.text AS tb
      FROM d a JOIN d b
        ON a.pfx = b.pfx AND a.lang = b.lang AND a.doc_id < b.doc_id
           AND abs(a.n_chars - b.n_chars) <= 20
      UNION
      SELECT a.doc_id, b.doc_id, a.text, b.text
      FROM d a JOIN d b
        ON a.sfx = b.sfx AND a.lang = b.lang AND a.doc_id < b.doc_id
           AND abs(a.n_chars - b.n_chars) <= 20)
    SELECT doc_a, doc_b, levenshtein(ta, tb) AS edit_dist
    FROM cand
    WHERE levenshtein(ta, tb) <= 30
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance with prefix/suffix blocking.

    Levenshtein is O(len^2) per pair, so the all-pairs form is impossible
    at scale; the standard fix is *blocking*: candidates must share a
    16-char prefix OR suffix (two equi-join passes, unioned and deduped),
    plus same language and |len diff| <= 20 -- each block key is an
    equality shuffle key, so this is two ordinary hash joins whose
    fan-out is the block sizes, not n^2.  Spark evaluates the distance
    with the early-exit threshold form ``levenshtein(a, b, 30)`` (bails
    once the running minimum exceeds 30, returning -1); kept pairs'
    distances are exact, so they match DuckDB's unthresholded values.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        "text",
        F.substring("text", 1, 16).alias("pfx"),
        F.expr("substring(text, greatest(length(text) - 15, 1), 16)").alias("sfx"),
    )

    def block(key: str) -> DataFrame:
        a, b = d.alias("a"), d.alias("b")
        return (
            a.join(
                b,
                (F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a.lang") == F.col("b.lang"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 20),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.text").alias("ta"),
                F.col("b.text").alias("tb"),
            )
        )

    cand = block("pfx").union(block("sfx")).dropDuplicates(["doc_a", "doc_b"])
    dist = F.expr("levenshtein(ta, tb, 30)")
    return (
        cand.withColumn("edit_dist", dist)
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 30))
        .select("doc_a", "doc_b", "edit_dist")
    )


# --------------------------------------------- incremental (new batch)

_SPLIT = _mh.SPLIT  # doc_id >= _SPLIT plays the newly ingested batch


@query(
    "dedup_incremental_minhash",
    oracle=f"""{_MINHASH_BANDED_DUCK},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_old, b.doc_id AS doc_new,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash
           AND a.doc_id < {_SPLIT} AND b.doc_id >= {_SPLIT})
    SELECT doc_old, doc_new, {_EST_DUCK} AS est_jaccard
    FROM cand
    WHERE {_EST_DUCK} >= 0.5
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen: which documents of a newly ingested
    batch (doc_id >= 400 stands in for it) near-duplicate the existing
    corpus, via the same MinHash band machinery as ``dedup_minhash_lsh``
    but joining NEW bands against OLD bands only.

    This is the shape that matters for a continuously fed 100 TB corpus:
    the corpus side's signatures/bands are computed once and stored (here
    they come from the shared helper; in production a bucketed table keyed
    by (band, band_hash)), so each ingest only shingles the NEW batch and
    probes it against the index -- cost proportional to the batch, not
    the corpus.  The est >= 0.5 filter (exact multiples of 1/16, so the
    comparison is engine-safe) keeps only pairs worth a verify pass.
    """
    sig_df, sig = minhash_signatures(spark, sf_dir)
    old = sig.filter(F.col("doc_id") < _SPLIT).select(
        F.col("doc_id").alias("doc_old"), "b", "band_hash"
    )
    new = sig.filter(F.col("doc_id") >= _SPLIT).select(
        F.col("doc_id").alias("doc_new"), "b", "band_hash"
    )
    pairs = (
        old.join(new, ["b", "band_hash"]).select("doc_old", "doc_new").distinct()
    )
    # Re-attach via doc_id shuffle hash joins, not a broadcast: the
    # signature table is per-document (corpus-sized at 100 TB).
    sigs = sig_df
    cand = pairs.join(
        sigs.select(F.col("doc_id").alias("doc_old"), F.col("sig").alias("sig_a")),
        "doc_old",
    ).join(
        sigs.select(F.col("doc_id").alias("doc_new"), F.col("sig").alias("sig_b")),
        "doc_new",
    )
    return (
        cand.withColumn("est_jaccard", F.expr(_EST_SPARK))
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_old", "doc_new", "est_jaccard")
    )


# ---- exact substring (token-window) duplication -------------------------

# _NGRAM/_GRAMS_DUCK live in the leaf module ngramshared (also used by
# pipeline.py at decoration time — see its docstring for the
# circular-import rationale); re-exported here for existing consumers.
from eecs485_p4_mapreduce_spark.operators.ngramshared import (  # noqa: E402
    _GRAMS_DUCK,
    _NGRAM,
)


def _token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, h): md5 of each consecutive 8-token window —
    the corpus POSTING TABLE four queries probe (span dedup,
    cross-source contamination, benchmark decontamination, the
    composed decontam-mix pipeline).

    Built explode-first (posexplode + 7 window leads, whole-stage
    codegen) rather than as an array-lambda expression -- same
    projection-collapse / interpreted-lambda reasoning as
    ``token_bigrams``; one shuffle on doc_id.

    The derived frame persists cross-application via
    ``load_or_build_frame`` (the band-graph-stack discipline, mtime
    keyed on documents): a warm application's contamination probes are
    parquet scans of the published postings instead of re-tokenizing
    and re-hashing the corpus — at 100 TB this IS the design the span
    dedup docstring promises (the posting list a suffix-array pass
    would approximate), stored once and probed by every consumer."""
    from pyspark.sql import Window

    from eecs485_p4_mapreduce_spark.functions.textfn import tokens

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", "source", F.posexplode(tokens("text")).alias("pos", "tok")
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        gram = F.col("tok")
        for k in range(1, _NGRAM):
            gram = F.concat(gram, F.lit(" "), F.lead("tok", k).over(w))
        return toks.select(
            "doc_id", "source", F.md5(gram).alias("h")
        ).filter(F.col("h").isNotNull())

    return load_or_build_frame(
        spark,
        "token_windows8",
        sf_dir,
        "documents",
        "doc_id bigint, source string, h string",
        build,
        loader=load_table,
    )


@query(
    "dedup_ngram_spans",
    oracle=f"""
    WITH {_GRAMS_DUCK},
    dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio
    FROM g LEFT JOIN dup ON g.h = dup.h
    GROUP BY doc_id
    HAVING SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) > 0
    """,
)
def dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication detection (the 'dedup exact substrings'
    operator from Lee et al.'s training-data dedup recipe, hash-windowed
    for scale): fraction of each document's 8-token windows that appear
    verbatim in at least one OTHER document.

    Two aggregations over the window-hash table: duplicated hashes
    (COUNT(DISTINCT doc) >= 2), then per-doc contamination counts via a
    mark join.  Shuffle keys are 16-byte md5s, never text; at 100 TB the
    windows table is the posting list a suffix-array pass would
    approximate, and docs above a dup_ratio threshold get their spans
    cut or the whole doc dropped."""
    g = _token_windows(spark, sf_dir)
    dup = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("isdup"))
    )
    marked = g.join(dup, "h", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.count("isdup").cast("bigint").alias("n_dup_windows"),
            (F.count("isdup").cast("double") / F.count("*")).alias("dup_ratio"),
        )
        .filter(F.col("n_dup_windows") > 0)
    )


@query(
    "contamination_cross_source",
    oracle=f"""
    WITH {_GRAMS_DUCK},
    sh AS (SELECT DISTINCT source, h FROM g)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_ngrams
    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def contamination_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit (train/test overlap): for every
    pair of sources, how many distinct 8-token windows they share
    verbatim.  The pair join runs on per-source DISTINCT window hashes
    (postings deduplicated first), so its size is bounded by duplicated
    vocabulary, not corpus size -- the standard benchmark-leakage check
    run before training on a new corpus."""
    g = _token_windows(spark, sf_dir)
    sh = g.select("source", "h").distinct()
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_ngrams"))
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (AllPairs / PPJoin candidate rule)
# ---------------------------------------------------------------------------

_PF_NUM = 7   # Jaccard threshold t = _PF_NUM/_PF_DEN = 0.7
_PF_DEN = 10


@query(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH tk0 AS (SELECT doc_id, {DUCK_TOKENS} AS w FROM documents),
    t0 AS MATERIALIZED (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
               i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS tk
      FROM tk0 WHERE len(w) >= 3),
    ex AS (SELECT doc_id, unnest(tk) AS tok FROM t0),
    df AS (SELECT tok, COUNT(*) AS df FROM ex GROUP BY tok),
    srt AS (SELECT ex.doc_id, list(ex.tok ORDER BY df.df, ex.tok) AS stoks
            FROM ex JOIN df ON df.tok = ex.tok GROUP BY ex.doc_id),
    pref AS (SELECT doc_id, len(stoks) AS n,
                    unnest(list_slice(stoks, 1,
                      len(stoks) - (({_PF_NUM} * len(stoks) + {_PF_DEN - 1}) // {_PF_DEN}) + 1)) AS ptok
             FROM srt),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM pref a JOIN pref b
               ON a.ptok = b.ptok AND a.doc_id < b.doc_id),
    ver AS (SELECT c.doc_a, c.doc_b,
                   len(list_intersect(x.tk, y.tk)) AS inter,
                   len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS un
            FROM cand c
            JOIN t0 x ON x.doc_id = c.doc_a
            JOIN t0 y ON y.doc_id = c.doc_b)
    SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, CAST(un AS BIGINT) AS un,
           CAST(CAST((2 * CAST(inter AS HUGEINT) * 1000000 + un)
                     // (2 * CAST(un AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS jaccard
    FROM ver WHERE {_PF_DEN} * inter >= {_PF_NUM} * un
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (the AllPairs/
    PPJoin candidate rule) over word-3-GRAM sets: order each document's
    distinct 3-grams by global rarity, index only the first
    n - ceil(t*n) + 1, and two documents can reach Jaccard >= t ONLY if
    their prefixes collide — no false negatives (pinned by a hypothesis
    property test), unlike MinHash banding.

    Feature choice is the scale lever: raw WORD sets degenerate on a
    small shared vocabulary (nearly all pairs become candidates —
    measured 12.4M candidate pairs and a 158 s verify at sf0.1), while
    3-gram features are high-cardinality and Zipfian, cutting the same
    corpus to ~200k candidates.  Prefix filtering's guarantees are
    feature-agnostic, so the exact-recall contract is unchanged.
    Threshold arithmetic is integer throughout (ceil(0.7n) as
    (7n+9) div 10; the final test as 10*inter >= 7*union), so both
    engines make identical keep/drop decisions.  Shuffles: gram df
    aggregate, per-doc re-sort, prefix-gram equi-join, id-keyed verify
    joins — every key a gram or doc id."""
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    # Conditional keyed repartition (widen_scan): the 3-gram transform +
    # array_distinct below is the checkpoint's whole cost and would
    # otherwise run on the compact scan's single core.
    docs = widen_scan(docs, "doc_id")
    t0 = pin(
        docs.select("doc_id", tokens("text").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(w) - 2), i ->"
                    " concat(element_at(w, i), ' ', element_at(w, i + 1),"
                    " ' ', element_at(w, i + 2)))"
                )
            ).alias("tk"),
        )
    )  # reused by index build AND verify
    ex = t0.select("doc_id", F.explode("tk").alias("tok"))
    df = ex.groupBy("tok").agg(F.count("*").alias("df"))
    srt = (
        ex.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda x: x["tok"],
            ).alias("stoks")
        )
    )
    n = F.size("stoks")
    plen = n - F.expr(f"({_PF_NUM} * size(stoks) + {_PF_DEN - 1}) div {_PF_DEN}") + 1
    pref = srt.select(
        "doc_id", F.explode(F.slice("stoks", F.lit(1), plen)).alias("ptok")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "ptok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = t0.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("ta"))
    y = t0.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tb"))
    ver = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("un", F.size("ta") + F.size("tb") - F.col("inter"))
    )
    return (
        ver.filter(_PF_DEN * F.col("inter") >= _PF_NUM * F.col("un"))
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("un").cast("bigint").alias("un"),
            # integer half-up recipe: |A∩B|/|A∪B| can land on halves
            hu_ratio("inter", "un", 6).alias("jaccard"),
        )
    )


@query(
    "dedup_soft_weights",
    oracle=f"""
    {_MINHASH_BANDED_DUCK},
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS p
      FROM banded x JOIN banded y
        ON x.b = y.b AND x.band_hash = y.band_hash
      WHERE x.doc_id <> y.doc_id),
    pc AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n_partners
           FROM pairs GROUP BY a)
    SELECT d.doc_id,
           COALESCE(pc.n_partners, 0) AS n_partners,
           CAST(10000 // (1 + COALESCE(pc.n_partners, 0)) AS BIGINT)
             AS weight_bp
    FROM documents d LEFT JOIN pc ON pc.a = d.doc_id
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DELETING near-duplicates, assign
    every document a sampling weight 1/(1 + n_near_dup_partners) -- the
    SoftDeDup recipe that keeps duplicated content in the corpus but
    stops it from dominating the token distribution.

    Partners are distinct documents sharing >= 1 MinHash band with this
    one (the same banded equi-join as ``dedup_minhash_lsh`` -- only
    (band, band_hash, doc_id) triples shuffle, never text).  The weight
    is emitted as integer basis points (10000 div (1+n)), so the mix
    planner downstream consumes exact integers rather than floats.  At
    100 TB the per-band buckets bound the pair blow-up exactly as in the
    hard-dedup path; the weight join back to documents is a doc_id
    equi-join.  Weak-by-design: partner count uses candidate pairs
    without the exact-Jaccard verify (a soft weight tolerates LSH false
    positives; the hard-delete paths verify).
    """
    docs = load_table(spark, sf_dir, "documents")
    # both orientations of the stored candidate-edge table == the
    # distinct (a != p) band-collision pair set (edges are distinct
    # low-high pairs, so the union introduces no duplicates)
    e = lsh_candidate_edges(spark, sf_dir)
    pairs = e.select(F.col("da").alias("a"), F.col("db").alias("p")).unionAll(
        e.select(F.col("db").alias("a"), F.col("da").alias("p"))
    )
    pc = pairs.groupBy("a").agg(F.count("*").cast("bigint").alias("n_partners"))
    return (
        docs.select("doc_id")
        .join(pc, docs["doc_id"] == pc["a"], "left")
        .select(
            "doc_id",
            F.coalesce("n_partners", F.lit(0).cast("bigint")).alias("n_partners"),
            F.expr(
                "cast(10000 div (1 + coalesce(n_partners, 0)) as bigint)"
            ).alias("weight_bp"),
        )
    )


@query(
    "dedup_quality_impact",
    oracle=f"""
    {_MINHASH_BANDED_DUCK},
    victims AS (
      SELECT DISTINCT y.doc_id
      FROM banded x JOIN banded y
        ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
    feat AS (
      SELECT d.doc_id,
             d.doc_id IN (SELECT doc_id FROM victims) AS removed,
             len({{DT}}) AS n_words,
             len(list_filter({{DT}},
                 t -> list_contains(['the','a','and','of','to','is','in'], t)))
               AS n_stop
      FROM documents d)
    SELECT removed,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens,
           CAST(SUM(n_stop) AS BIGINT) AS total_stopwords,
           CAST(CAST((2 * CAST(SUM(n_words) AS HUGEINT) * 10000 + CAST(COUNT(*) AS HUGEINT)) // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS DOUBLE) / 10000 AS avg_words
    FROM feat GROUP BY removed
    """.replace("{DT}", "list_filter(string_split_regex(lower(d.text), '\\s+'), t -> t <> '')"),
)
def dedup_quality_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance readout for near-dedup: compare the quality profile of
    REMOVED documents (greedy MinHash victims, same candidate rule as
    the curation funnel) against the kept set -- the audit that catches
    a dedup rule silently deleting the best documents (e.g. canonical
    templates with high-quality prose attract near-dup clusters and the
    greedy rule may drop the wrong side).

    Integer feature totals (words, stopwords) with the final mean
    rendered by the integer half-up recipe (a pure count ratio --
    round(double, 4) is the cross-engine half-boundary class), so the
    comparison is bitwise; the only non-output-sized
    stages are the shared banded signature join and one scan of the
    corpus features.  Two rows out: removed=true / removed=false.
    """
    docs = load_table(spark, sf_dir, "documents")
    # victims = the higher-id endpoint of any stored candidate edge
    victims = (
        lsh_candidate_edges(spark, sf_dir)
        .select(F.col("db").alias("doc_id"))
        .distinct()
        .withColumn("removed_flag", F.lit(True))
    )
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens as _toks

    stop = F.array([F.lit(t) for t in
                    ("the", "a", "and", "of", "to", "is", "in")])
    feat = (
        docs.join(victims, "doc_id", "left")
        .select(
            F.coalesce("removed_flag", F.lit(False)).alias("removed"),
            F.size(_toks("text")).alias("n_words"),
            F.size(
                F.filter(_toks("text"), lambda t: F.array_contains(stop, t))
            ).alias("n_stop"),
        )
    )
    return feat.groupBy("removed").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_tokens"),
        F.sum("n_stop").cast("bigint").alias("total_stopwords"),
        hu_ratio("sum(n_words)", "count(*)", 4).alias("avg_words"),
    )


def _split_leakage_oracle() -> str:
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    b = _bucket256_sql("doc_id")
    return f"""
    {_MINHASH_BANDED_DUCK},
    tagged AS (
      SELECT doc_id,
             CASE WHEN {b} < 205 THEN 'train'
                  WHEN {b} < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM banded x JOIN banded y
        ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
    leaks AS (
      SELECT ta.split AS split_a, tb.split AS split_b, p.a, p.b
      FROM pairs p
      JOIN tagged ta ON ta.doc_id = p.a
      JOIN tagged tb ON tb.doc_id = p.b
      WHERE ta.split <> tb.split)
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_leaky_pairs,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_docs_b
    FROM leaks GROUP BY split_a, split_b
    """


@query("contamination_split_leakage", oracle=_split_leakage_oracle())
def contamination_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit across the engine's OWN split: the
    deterministic 80/10/10 hash split (sample_split_train_val_test's
    spelling) crossed with MinHash band-collision candidates -- every
    near-duplicate pair straddling two splits is an eval-contamination
    incident, the check run before any benchmark number is trusted.
    Composes two proven operators; random splits leak near-dups by
    construction, which is why dedup must precede splitting (the
    curation funnel's ordering) -- this query measures exactly how much.

    Shape: the banded equi-join emits candidate pairs (ids only), two
    broadcast-able joins tag each side with its split, and the output
    is split-pair sized.  n_docs_b counts distinct higher-id docs per
    leaky split pair -- the documents to quarantine.
    """
    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket256_sql("doc_id"))
    tagged = docs.select(
        "doc_id",
        F.when(bucket < 205, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
        .alias("split"),
    )
    pairs = lsh_candidate_edges(spark, sf_dir).select(
        F.col("da").alias("a"), F.col("db").alias("doc_b")
    )
    leaks = (
        pairs.join(
            tagged.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a")),
            "a",
        )
        .join(
            tagged.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    return leaks.groupBy("split_a", "split_b").agg(
        F.count("*").cast("bigint").alias("n_leaky_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_docs_b"),
    )


def _calibration_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.textfn import shingles_sql

    sh = shingles_sql("text", _SHINGLE, duckdb=True)
    return f"""{_MINHASH_BANDED_DUCK},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    est AS (
      SELECT doc_a, doc_b,
             CAST(({_EST_DUCK}) * {_K} AS BIGINT) AS est_sixteenths
      FROM cand
      WHERE (strpos('0123456789abcdef', substring(
               md5(concat(CAST(doc_a AS VARCHAR), '-', CAST(doc_b AS VARCHAR))),
               1, 1)) - 1) < 4),
    shs AS MATERIALIZED (SELECT doc_id, {sh} AS sh FROM documents),
    exact AS (
      SELECT e.est_sixteenths,
             len(list_intersect(sa.sh, sb.sh)) AS inter,
             len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS un
      FROM est e
      JOIN shs sa ON sa.doc_id = e.doc_a
      JOIN shs sb ON sb.doc_id = e.doc_b)
    SELECT est_sixteenths,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST((2 * CAST(SUM(inter) AS HUGEINT) * 1000000 + SUM(un))
                     // (2 * CAST(SUM(un) AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS pooled_exact_jaccard
    FROM exact GROUP BY est_sixteenths
    """


def _calibration_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy calibration-curve plan (candidate gating, sampled verify);
    plan shape is asserted on THIS builder while the registered query
    wraps it in its execution-conf window.  See
    :func:`dedup_minhash_calibration` for semantics."""
    from eecs485_p4_mapreduce_spark.functions.textfn import shingles

    docs = load_table(spark, sf_dir, "documents")
    sig_df, sig = minhash_signatures(spark, sf_dir)
    pairs = lsh_candidate_edges(spark, sf_dir).select(
        F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
    )
    # Re-attach via doc_id shuffle hash joins, not a broadcast: the
    # signature table is per-document (corpus-sized at 100 TB).
    sigs = sig_df

    def build_est() -> DataFrame:
        return (
            pairs.join(
                sigs.select(
                    F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
                ),
                "doc_a",
            )
            .join(
                sigs.select(
                    F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
                ),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                F.expr(f"cast(({_EST_SPARK}) * {_K} as bigint)").alias(
                    "est_sixteenths"
                ),
            )
            # Deterministic 1-in-4 pair sample (first md5 hex digit < 4):
            # a calibration curve is a statistical audit, and the exact
            # verify is the expensive stage -- the same md5-bucket
            # sampling discipline as the samplers, mirrored in the
            # oracle so both engines audit the identical pair set.
            .filter(
                F.expr(
                    "conv(substring(md5(concat(cast(doc_a as string), '-',"
                    " cast(doc_b as string))), 1, 1), 16, 10) < 4"
                )
            )
        )

    # The sampled estimate table and the sampled-shingle table are both
    # corpus-derived frames (stored edges x stored signatures under a
    # deterministic sample rule), so they persist cross-application
    # through the derived-state store like the layers below them: a warm
    # application's calibration is two parquet scans + two joins + one
    # 7-row aggregate — no signature re-attach, no shingle rebuild, no
    # in-session checkpoint replay.
    est = load_or_build_frame(
        spark,
        "calib_est",
        sf_dir,
        "documents",
        "doc_a bigint, doc_b bigint, est_sixteenths bigint",
        build_est,
        loader=load_table,
    )
    # Shingle ONLY the documents that appear in a sampled pair: the
    # semi-join filters (doc_id, text) rows BEFORE the shingle arrays are
    # built, so verify cost follows the candidate set, not the corpus —
    # the shape that matters when the corpus is 100 TB and the sampled
    # verify set is not.  The sampled-shingle table is itself a
    # corpus-derived frame (the sample rule is deterministic), so it
    # persists cross-application through the model store like the
    # signature and edge tables one layer below: a later application's
    # exact verify is two joins against published parquet, no shingle
    # rebuild.
    def build_sh() -> DataFrame:
        cand_ids = (
            est.select(F.col("doc_a").alias("doc_id"))
            .union(est.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh_base = docs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", "text"
        )
        # same single-split right-sizing as minhashfn.minhash_banded: a
        # compact parquet delivers one scan partition, which would build
        # every shingle array on one core; no-op when the scan already
        # has enough splits (always, at real scale)
        target = spark.sparkContext.defaultParallelism
        if sh_base.rdd.getNumPartitions() < target:
            sh_base = sh_base.repartition(target, "doc_id")
        return sh_base.select("doc_id", shingles("text", _SHINGLE).alias("sh"))

    sh = load_or_build_frame(
        spark,
        "calib_shingles",
        sf_dir,
        "documents",
        "doc_id bigint, sh array<string>",
        build_sh,
        loader=load_table,
    )
    ex = (
        est.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb")), "doc_b")
        .select(
            "est_sixteenths",
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            (F.size("sa") + F.size("sb")).alias("lsum"),
        )
        # inter is referenced twice downstream; computing it in its own
        # projection (and deriving the union arithmetically) keeps
        # projection collapse from inlining TWO array_intersect calls
        # per pair (the dedup.py materialization discipline).
        .select(
            "est_sixteenths",
            "inter",
            (F.col("lsum") - F.col("inter")).alias("un"),
        )
    )
    return ex.groupBy("est_sixteenths").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        # integer half-up recipe: pooled count ratios can land on halves
        hu_ratio("sum(inter)", "sum(un)", 6).alias("pooled_exact_jaccard"),
    )


@query("dedup_minhash_calibration", oracle=_calibration_oracle())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration curve for the MinHash near-dup detector:
    bucket every LSH candidate pair by its estimated similarity (in
    sixteenths -- the exact granularity of a 16-hash signature) and
    report the POOLED exact shingle Jaccard per bucket.  A healthy
    detector shows the buckets climbing monotonically toward their
    nominal values; drift here means the shingle width or hash count no
    longer fits the corpus -- the eval one runs before trusting dedup
    decisions at 100 TB.

    The exact side joins text only for candidate pairs (never all
    pairs), and the per-bucket ratio divides two integer sums once --
    the same exact-verify economics as dedup_ngram_jaccard.  est*16 is
    an exact integer because signature agreement is m/16 by
    construction.  The exact verify runs on a deterministic 1-in-4
    md5-bucket sample of candidate pairs (mirrored in the oracle) --
    calibration is a statistical audit, so sampling the expensive
    stage is the honest scale trade.

    Execution-conf scope: AQE's post-shuffle coalescing sizes
    partitions by BYTES, and the per-pair array_intersect stage is
    CPU-heavy small rows — at test scale AQE collapses it to one task
    (measured 8.2 s vs 2.2 s, the whole suite ceiling).  The curve is
    therefore optimized and materialized eagerly with coalescing
    disabled on a CHILD session (``conf_scoped_session`` — the
    bloom-filter-query pattern: isolated SQLConf, so no concurrently
    submitted query can inherit the override); at real scale the same
    stage carries enough bytes to keep its width and the override is a
    no-op.  The lazy plan stays pinned via :func:`_calibration_frame`."""
    from eecs485_p4_mapreduce_spark.functions.confscope import (
        conf_scoped_session,
    )

    child = conf_scoped_session(
        spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    )
    return pin(_calibration_frame(child, sf_dir))


# ---------------------------------------------------------------------------
# Benchmark decontamination (corpus vs eval set)
# ---------------------------------------------------------------------------

# _BENCH_IDS lives in ngramshared (shared with pipeline.py), re-exported
# here for existing consumers.
from eecs485_p4_mapreduce_spark.operators.ngramshared import (  # noqa: E402
    _BENCH_IDS,
)


@query(
    "contamination_benchmark_ngrams",
    oracle=f"""
    WITH {_GRAMS_DUCK},
    bench AS (
      SELECT doc_id AS bench_id, list_slice({DUCK_TOKENS}, 5, 20) AS tk
      FROM documents WHERE doc_id IN {_BENCH_IDS}),
    bg AS (
      SELECT DISTINCT bench_id,
             md5(array_to_string(list_slice(tk, i, i + {_NGRAM - 1}), ' ')) AS h
      FROM bench, unnest(range(1, greatest(len(tk) - {_NGRAM - 2}, 1))) AS t(i)),
    hits AS (
      SELECT DISTINCT bg.bench_id, g.doc_id, g.source
      FROM g JOIN bg ON g.h = bg.h)
    SELECT bench_id,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM hits GROUP BY bench_id
    """,
)
def contamination_benchmark_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which corpus documents share a
    verbatim 8-token window with any EVAL-SET item — the PaLM/GPT-style
    n-gram overlap rule run before training so leaked benchmark text is
    dropped or flagged.  (Here the eval set is synthesized by lifting a
    16-token prompt from five corpus documents, so hits are guaranteed
    and the check exercises the true leak topology: the source document
    plus any near-copies.)

    Scale shape: the eval side is benchmark-sized (thousands of prompts,
    each a handful of windows) — md5 window keys for it BROADCAST, and
    the corpus side reuses the shared 8-token-window posting stage
    (``_token_windows``), so the probe is one broadcast hash join over
    scan-side hashes; no corpus text ever shuffles, and cost is one
    corpus gram pass regardless of benchmark count.  Per-item readout:
    contaminated doc count, source spread, and the earliest doc id (the
    presumed origin)."""
    docs = load_table(spark, sf_dir, "documents")
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens

    bench = docs.filter(F.col("doc_id").isin(*_BENCH_IDS)).select(
        F.col("doc_id").alias("bench_id"),
        F.slice(tokens("text"), 5, 16).alias("tk"),
    )
    # slice-of-sequence guard: never a descending sequence on short docs
    bg = bench.select(
        "bench_id",
        F.explode(
            F.expr(
                f"transform(slice(sequence(0, size(tk)), 2,"
                f" greatest(size(tk) - {_NGRAM - 1}, 0)), i ->"
                f" md5(array_join(slice(tk, i, {_NGRAM}), ' ')))"
            )
        ).alias("h"),
    ).distinct()
    corpus = _token_windows(spark, sf_dir)
    hits = (
        corpus.join(F.broadcast(bg), "h")
        .select("bench_id", "doc_id", "source")
        .distinct()
    )
    return hits.groupBy("bench_id").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_contaminated_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Canonical-URL dedup (the crawl-side dedup step)
# ---------------------------------------------------------------------------

# The same canonicalization chain, spelled per dialect (backreference
# syntax is the only gap: Java '$1' vs RE2 '\1').  Steps: drop the
# fragment, drop an explicit default :443 port (anchored after the
# host — ':443' inside a longer port like :4433 must not match, and
# the fragment is already gone so [/?] or end-of-string terminates the
# authority), lowercase, strip utm_* tracking params (a run of one or
# more LEADING utm params is consumed in ONE match — a non-rescanning
# global replace would otherwise leave the second of two adjacent
# leading utm params attached to a bare '?'; any other position strips
# cleanly), collapse a path-final slash before the query, strip a bare
# trailing slash.  Patterns stay in the Java/RE2 common subset and are
# assert-guarded like the PII patterns.
_URL_CANON_STEPS = [
    (r"#.*$", "", ""),
    (r"//([^/:]*):443([/?]|$)", "//$1$2", r"//\1\2"),
    ("__LOWER__", "", ""),
    (r"[?](utm_[a-z]+=[^&#]*&)+", "?", "?"),
    (r"[?&]utm_[a-z]+=[^&#]*", "", ""),
    (r"/[?]", "?", "?"),
    (r"/$", "", ""),
]

for _pat, _js, _ds in _URL_CANON_STEPS:
    assert "'" not in _pat + _js + _ds, "URL pattern not SQL-literal-safe"


def _url_canon_duck(col: str) -> str:
    out = col
    for pat, _java, duck in _URL_CANON_STEPS:
        if pat == "__LOWER__":
            out = f"lower({out})"
        else:
            out = f"regexp_replace({out}, '{pat}', '{duck}', 'g')"
    return out


def _url_canon_spark(col) -> F.Column:
    out = col
    for pat, java, _duck in _URL_CANON_STEPS:
        if pat == "__LOWER__":
            out = F.lower(out)
        else:
            out = F.regexp_replace(out, F.lit(pat), F.lit(java))
    return out


_URL_VARIANTS_DUCK = """
      SELECT doc_id, source,
             CASE doc_id % 3
               WHEN 0 THEN 'https://site' || CAST(doc_id // 3 AS VARCHAR)
                 || '.example.com/page/' || CAST(doc_id // 3 AS VARCHAR)
                 || '?id=' || CAST(doc_id // 3 AS VARCHAR)
               WHEN 1 THEN 'https://SITE' || CAST(doc_id // 3 AS VARCHAR)
                 || '.Example.COM:443/page/' || CAST(doc_id // 3 AS VARCHAR)
                 || '/?id=' || CAST(doc_id // 3 AS VARCHAR) || '&utm_source=feed'
               ELSE 'https://site' || CAST(doc_id // 3 AS VARCHAR)
                 || '.example.com/page/' || CAST(doc_id // 3 AS VARCHAR)
                 || '?utm_campaign=x&id=' || CAST(doc_id // 3 AS VARCHAR)
                 || '#frag'
             END AS url
      FROM documents
"""


def _url_variants_spark(d: DataFrame) -> DataFrame:
    cid = F.expr("doc_id div 3").cast("string")
    v0 = F.concat(
        F.lit("https://site"), cid, F.lit(".example.com/page/"), cid,
        F.lit("?id="), cid,
    )
    v1 = F.concat(
        F.lit("https://SITE"), cid, F.lit(".Example.COM:443/page/"), cid,
        F.lit("/?id="), cid, F.lit("&utm_source=feed"),
    )
    v2 = F.concat(
        F.lit("https://site"), cid, F.lit(".example.com/page/"), cid,
        F.lit("?utm_campaign=x&id="), cid, F.lit("#frag"),
    )
    return d.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 3 == 0, v0)
        .when(F.col("doc_id") % 3 == 1, v1)
        .otherwise(v2)
        .alias("url"),
    )


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH u AS ({_URL_VARIANTS_DUCK}),
    c AS (SELECT doc_id, source, {_url_canon_duck('url')} AS canonical FROM u)
    SELECT canonical,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(MIN(doc_id) AS BIGINT) AS kept_doc,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           MIN(source) AS first_source
    FROM c GROUP BY canonical
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the crawl-side dedup step that runs BEFORE
    any content hashing: variant URLs of one page (tracking params,
    host case, explicit default port, trailing slash, fragments) are
    canonicalized by a fixed rewrite chain and collapsed to one kept
    fetch per canonical URL (min doc_id — the deterministic survivor
    rule exact dedup uses).  URL variants are synthesized from doc_id
    (three variants per page id) so the oracle recomputes the identical
    canonicalization; the chain itself is dialect-split ONLY on
    backreference syntax (Java '$1' vs RE2 '\\\\1') and pattern-guarded
    like the PII family.

    Scale shape: canonicalization is scan-side codegen string rewriting;
    the only shuffle groups by the canonical URL (short keys, one row
    per URL out).  At 100 TB this is the frontier-dedup pass a crawler
    runs per batch: hash-partition on canonical, keep min fetch id, no
    content bytes move."""
    d = load_table(spark, sf_dir, "documents")
    u = _url_variants_spark(d)
    c = u.select(
        "doc_id", "source", _url_canon_spark(F.col("url")).alias("canonical")
    )
    return c.groupBy("canonical").agg(
        F.count("*").cast("bigint").alias("n_variants"),
        F.min("doc_id").cast("bigint").alias("kept_doc"),
        (F.count("*") - 1).cast("bigint").alias("n_dropped"),
        F.min("source").alias("first_source"),
    )


_SEM_EVAL_N = 32  # benchmark-embedding set: vec_id < 32 (the _NQ pattern)
_SEM_HI, _SEM_MED, _SEM_LOW = 0.40, 0.30, 0.20  # risk-band cuts on round-6 cosine


@query(
    "contamination_semantic_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    ev AS (SELECT v AS qv, sqrt(list_inner_product(v, v)) AS qn
           FROM e WHERE vec_id < {_SEM_EVAL_N}),
    corp AS (SELECT vec_id, label, v,
                    sqrt(list_inner_product(v, v)) AS vn
             FROM e WHERE vec_id >= {_SEM_EVAL_N}),
    mx AS (SELECT c.vec_id, c.label,
                  round(MAX(list_inner_product(c.v, ev.qv) / (c.vn * ev.qn)),
                        6) AS max_cos
           FROM corp c, ev GROUP BY c.vec_id, c.label),
    banded AS (SELECT label,
                 CASE WHEN max_cos >= {_SEM_HI} THEN 'high'
                      WHEN max_cos >= {_SEM_MED} THEN 'medium'
                      WHEN max_cos >= {_SEM_LOW} THEN 'low'
                      ELSE 'clean' END AS risk
               FROM mx)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN risk = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN risk = 'medium' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
           CAST(SUM(CASE WHEN risk = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN risk = 'clean' THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM banded GROUP BY label
    """,
)
def contamination_semantic_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination screen: the n-gram contamination family
    catches verbatim eval-set leakage; this catches paraphrased leakage
    by scoring every corpus embedding's MAX cosine against the
    benchmark-embedding set and bucketing each vector into risk bands
    (>=0.40 high / >=0.30 medium / >=0.20 low on the round-6 cosine) —
    the per-shard report that decides which sources need the expensive
    exact re-check before a benchmark claim.

    Scale shape: the eval set is benchmark-sized at ANY corpus scale,
    so it broadcasts with precomputed norms; the corpus side computes
    one dot product per (vector, eval) pair in a single scan-side pass
    — no corpus shuffle at all until the label-sized rollup.  Banding
    happens on the ROUNDED max (both engines compare identical
    doubles); at larger eval sets the broadcast swaps for the
    ANN-prefiltered candidate stream (the knn_hard_negatives note)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    norm = F.expr("sqrt(" + dot.format(a="v", b="v") + ")")
    ev = F.broadcast(
        e.filter(F.col("vec_id") < _SEM_EVAL_N).select(
            F.col("v").alias("qv"), norm.alias("qn")
        )
    )
    corp = e.filter(F.col("vec_id") >= _SEM_EVAL_N).select(
        "vec_id", "label", "v", norm.alias("vn")
    )
    mx = (
        corp.crossJoin(ev)
        .select(
            "vec_id",
            "label",
            (F.expr(dot.format(a="v", b="qv")) / (F.col("vn") * F.col("qn"))).alias(
                "cos"
            ),
        )
        .groupBy("vec_id", "label")
        .agg(F.round(F.max("cos"), 6).alias("max_cos"))
    )
    risk = (
        F.when(F.col("max_cos") >= _SEM_HI, "high")
        .when(F.col("max_cos") >= _SEM_MED, "medium")
        .when(F.col("max_cos") >= _SEM_LOW, "low")
        .otherwise("clean")
    )
    banded = mx.select("label", risk.alias("risk"))
    return banded.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("risk") == "high", 1).otherwise(0))
        .cast("bigint")
        .alias("n_high"),
        F.sum(F.when(F.col("risk") == "medium", 1).otherwise(0))
        .cast("bigint")
        .alias("n_medium"),
        F.sum(F.when(F.col("risk") == "low", 1).otherwise(0))
        .cast("bigint")
        .alias("n_low"),
        F.sum(F.when(F.col("risk") == "clean", 1).otherwise(0))
        .cast("bigint")
        .alias("n_clean"),
    )


# ------------------------------------------ asymmetric n-gram containment

# Rare-gram blocking window: grams shared by 2..10 docs generate pairs.
# df >= 2 (df = 1 grams pair nothing); df <= 10 bounds fan-out per gram
# at df^2 = 100 regardless of corpus size (the docsim rare-term trade).
_CONT_DFMIN = 2
_CONT_DFMAX = 10
_CONT_T = 0.5


@query(
    "dedup_containment_ngram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    ng AS (SELECT doc_id, {_NG_DUCK} AS ng FROM toks),
    ex AS (SELECT doc_id, unnest(ng) AS g FROM ng),
    df AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
    rare AS (SELECT g FROM df
             WHERE df BETWEEN {_CONT_DFMIN} AND {_CONT_DFMAX}),
    rex AS (SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM rex a JOIN rex b
               ON a.g = b.g AND a.doc_id < b.doc_id),
    sc AS (SELECT c.doc_a, c.doc_b,
                  len(list_intersect(na.ng, nb.ng)) AS i,
                  len(na.ng) AS sza, len(nb.ng) AS szb
           FROM cand c
           JOIN ng na ON na.doc_id = c.doc_a
           JOIN ng nb ON nb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, CAST(i AS BIGINT) AS ngrams_shared,
           CAST(i AS DOUBLE) / least(sza, szb) AS containment,
           CASE WHEN sza <= szb THEN doc_a ELSE doc_b END AS contained_doc
    FROM sc
    WHERE i > 0 AND CAST(i AS DOUBLE) / least(sza, szb) >= {_CONT_T}
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT dedup (doc-in-doc detection):
    containment c = |ng_a ∩ ng_b| / min(|ng_a|, |ng_b|) flags a short
    document embedded inside a longer one (quoting, page-in-crawl,
    concatenated shards) that Jaccard-gated near-dup misses — a 1 KB
    doc fully contained in a 100 KB doc has Jaccard ~0.01 but
    containment 1.0, so the MinHash-LSH band gate would never pair it.

    The candidate gate is therefore NOT MinHash: pairs are generated
    from a rare-gram inverted index (word 4-grams with document
    frequency 2..10), which fires on ANY shared rare gram regardless of
    size ratio; per-gram fan-out is bounded by df² ≤ 100 at any corpus
    scale, and the exact verify is per-candidate array_intersect (the
    ``dedup_ngram_jaccard`` economics with a containment scorer).

    Determinism: containment is one IEEE division of exact integer
    gram counts (identical both engines); the contained side ties to
    doc_a on equal sizes.  Scale shape: gram df is a map-side-
    combinable aggregate; only rare-gram postings join; the verify
    joins candidates (bounded) back to the materialized gram arrays."""
    # 4-gram transform off the compact scan's single core (the
    # dedup_ngram_jaccard fix)
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    ng = pin(
        docs.withColumn("toks", F.expr(_TOK_SPARK))
        .withColumn("ng", F.expr(_NG_SPARK))
        .select("doc_id", "ng")
    )
    ex = ng.select("doc_id", F.explode("ng").alias("g"))
    rare = (
        ex.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(
            (F.col("df") >= _CONT_DFMIN) & (F.col("df") <= _CONT_DFMAX)
        )
        .select("g")
    )
    rex = ex.join(rare, "g")
    cand = (
        rex.select(F.col("doc_id").alias("doc_a"), "g")
        .join(rex.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    na = ng.select(F.col("doc_id").alias("doc_a"), F.col("ng").alias("ng_a"))
    nb = ng.select(F.col("doc_id").alias("doc_b"), F.col("ng").alias("ng_b"))
    sc = (
        cand.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ng_a", "ng_b")).alias("i"),
            F.size("ng_a").alias("sza"),
            F.size("ng_b").alias("szb"),
        )
    )
    cont = F.col("i").cast("double") / F.least("sza", "szb")
    return (
        sc.filter(F.col("i") > 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("i").cast("bigint").alias("ngrams_shared"),
            cont.alias("containment"),
            F.when(F.col("sza") <= F.col("szb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
        .filter(F.col("containment") >= _CONT_T)
    )
