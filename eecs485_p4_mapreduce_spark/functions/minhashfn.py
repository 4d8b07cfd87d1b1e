"""MinHash + LSH expression templates and the signature builder.

Shared at decoration time by operators/dedup.py, operators/graph.py,
operators/pipeline.py, and streaming/ — their ``@query`` decorators
build DuckDB oracle strings from these templates while their modules
are importing.  Lives under functions/ (no registry import) so ANY of
those modules can be the process's first import without a
decoration-time circular import — the same leaf-module rule as
functions/lshfn.py.

Construction (Broder-style): ONE md5 per 8-char shingle of lower(text)
yields two 32-bit ints (hex chars 1-8, 9-16); hash i is the affine mix
(h1 + i*(2*h2+1)) mod 2^32, so extra hashes cost integer ops, not
digests.  Signature = K running minimums; LSH key = md5 over each
band's r entries.  Both engines spell the identical arithmetic, so the
oracle strings below are bit-exact twins of the Spark builders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.hashfn import hex_int_sql
from eecs485_p4_mapreduce_spark.sources import widen_scan

K = 16          # minhash signature length
BANDS = 8       # LSH bands (r = K // BANDS = 2 rows per band)
R = K // BANDS
SHINGLE = 8     # char-shingle width
M32 = 4_294_967_296
SPLIT = 400     # doc_id >= SPLIT plays the newly ingested batch

# DuckDB spelling for: char shingles of lowered text (kept as a multiset
# -- MIN is duplicate-insensitive, so no distinct pass needed).  The live
# Spark-side construction is the explode form in minhash_banded.
SH_DUCK = (
    f"list_transform(range(1, greatest(length(lower(text)) - {SHINGLE - 1}, 1) + 1),"
    f" i -> substring(lower(text), i, {SHINGLE}))"
)


def bands_sql(dialect: str) -> str:
    """band b (1..BANDS) key = md5 over its r signature entries."""
    if dialect == "spark":
        tr, idx, seq = "transform", "element_at", f"sequence(1, {BANDS})"
        ints = ", ".join(
            f"cast({idx}(sig, (b - 1) * {R} + {j + 1}) as string)" for j in range(R)
        )
    else:
        tr, idx, seq = "list_transform", "list_extract", f"range(1, {BANDS} + 1)"
        ints = ", ".join(
            f"CAST({idx}(sig, (b - 1) * {R} + {j + 1}) AS VARCHAR)" for j in range(R)
        )
    return f"{tr}({seq}, b -> md5(concat({ints})))"


BANDS_SPARK = bands_sql("spark")
BANDS_DUCK = bands_sql("duckdb")

# est similarity = fraction of equal signature entries (1-based indexing)
EST_SPARK = (
    f"cast(size(filter(sequence(1, {K}),"
    f" i -> element_at(sig_a, i) = element_at(sig_b, i))) as double) / {K}"
)
EST_DUCK = (
    f"CAST(len(list_filter(range(1, {K} + 1),"
    f" i -> list_extract(sig_a, i) = list_extract(sig_b, i))) AS DOUBLE) / {K}"
)

MIN_EXPRS_DUCK = ", ".join(
    f"MIN((h1 + {i} * (2 * h2 + 1)) % {M32})" for i in range(K)
)

# shared CTE chain: documents -> shingles -> signatures -> per-band rows
# (used by the full-corpus LSH oracle, the incremental-batch oracle, the
# band-graph family's oracles, and the curation-pipeline oracle)
MINHASH_BANDED_DUCK = f"""
    WITH sh AS MATERIALIZED (SELECT doc_id, {SH_DUCK} AS sh FROM documents),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    hx AS MATERIALIZED (SELECT doc_id, md5(g) AS h FROM ex),
    hint AS MATERIALIZED (SELECT doc_id,
           {hex_int_sql('duckdb', 'h', 1)} AS h1,
           {hex_int_sql('duckdb', 'h', 9)} AS h2 FROM hx),
    sig AS MATERIALIZED (SELECT doc_id, list_value({MIN_EXPRS_DUCK}) AS sig
                         FROM hint GROUP BY doc_id),
    withbands AS MATERIALIZED (SELECT doc_id, sig, {BANDS_DUCK} AS bands FROM sig),
    banded AS (
      SELECT doc_id, sig, b, list_extract(bands, b) AS band_hash
      FROM withbands, unnest(range(1, {BANDS} + 1)) AS t(b))"""


# One-pass, fully scan-side signature: md5 each shingle once (inner
# transform), then a single HOF aggregate folds all K running minimums.
# Stateless -- usable under Structured Streaming, where the explode +
# groupBy(doc_id) construction below would become a stateful aggregate.
# Bit-identical to minhash_banded's signatures (same shingles, same
# affine mixes, min is order-insensitive); ~1.4x slower in batch (7.5 s
# vs 5.5 s at sf0.1, measured), which is why batch keeps the explode form.
MINHASH_SIG_FOLD = (
    "aggregate("
    f"transform(transform(sequence(1, greatest(length(lower(text)) - {SHINGLE - 1}, 1)),"
    f" i -> md5(substring(lower(text), i, {SHINGLE}))),"
    f" h -> named_struct('h1', {hex_int_sql('spark', 'h', 1)},"
    f" 'h2', {hex_int_sql('spark', 'h', 9)})),"
    f" array_repeat(cast({M32} as bigint), {K}),"
    f" (acc, s) -> transform(sequence(0, {K - 1}),"
    f" j -> least(element_at(acc, j + 1), (s.h1 + j * (2 * s.h2 + 1)) % {M32})))"
)


def minhash_banded(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(signatures, per-band rows) for MinHash LSH over ``docs``.

    Returns ``sig_df`` (doc_id, sig), unmaterialized, and ``sig``
    exploded to one row per (doc_id, band, band_hash).  Every consumer
    references the signatures repeatedly, so the engine reads them
    through ``dedup.minhash_signatures``, which stores the frame (a
    parquet write IS the materialization) or, for an unkeyable corpus,
    pins it once.

    Construction choice, measured at sf0.1: the cost is ~one md5 per
    character of text, which is inherent (md5 is the only digest Spark
    and DuckDB both implement bit-identically, so cross-engine
    determinism pins it); explode + partial-agg (5.5 s), a scan-side
    16-array_min expression (6.2 s), and a one-pass HOF aggregate fold
    (7.5 s) all converge on that floor, so the explode form is kept --
    the map-side partial aggregate collapses to one row per doc per
    partition before the (tiny) shuffle.

    Two expression-inlining traps avoided here: lower(text) is hoisted to
    its own projection so the generator does not re-lowercase the whole
    document for every shingle index, and md5 runs inside the generator
    so each shingle is hashed exactly once (projecting md5 after the
    explode would let projection collapse inline it into every hex-digit
    reference below).
    """
    sh_from_lt = (
        f"transform(sequence(1, greatest(length(lt) - {SHINGLE - 1}, 1)),"
        f" i -> md5(substring(lt, i, {SHINGLE})))"
    )
    lt = docs.select("doc_id", F.lower(F.col("text")).alias("lt"))
    # A parquet row group is one scan split, so a compact corpus file can
    # arrive as a single partition and serialize the md5-per-shingle work
    # onto one core (measured 11.4 s -> ~1.5 s at sf0.1).  Right-size only
    # when the source under-delivers: at real scale the scan has far more
    # splits than cores and this never fires, so no full-text shuffle is
    # ever added to the 100 TB plan.
    lt = widen_scan(lt, "doc_id")
    hx = lt.select("doc_id", F.explode(F.expr(sh_from_lt)).alias("h"))
    hint = hx.select(
        "doc_id",
        F.expr(hex_int_sql("spark", "h", 1)).alias("h1"),
        F.expr(hex_int_sql("spark", "h", 9)).alias("h2"),
    )
    sig_df = hint.groupBy("doc_id").agg(
        F.array(
            *[
                F.min((F.col("h1") + i * (2 * F.col("h2") + 1)) % M32)
                for i in range(K)
            ]
        ).alias("sig")
    )
    return sig_df, banded_from_sig(sig_df)


def banded_from_sig(sig_df: DataFrame) -> DataFrame:
    """Explode a (doc_id, sig) frame to one row per (doc_id, band,
    band_hash) — the LSH probe key."""
    return (
        sig_df.withColumn("bands", F.expr(BANDS_SPARK))
        .select("doc_id", "sig", F.posexplode("bands").alias("b0", "band_hash"))
        .select("doc_id", "sig", (F.col("b0") + 1).alias("b"), "band_hash")
    )


def band_hash_sql(sig: str = "sig", b: str = "b") -> str:
    """Band key for band ``b`` computed from a signature COLUMN (same
    md5-over-r-entries as bands_sql, one band at a time).  Use with
    ``explode(sequence(1, BANDS))`` when the signature is an expensive
    expression that must not be re-inlined: exploding the materialized
    bands ARRAY makes InferFiltersFromGenerate emit a ``size(bands) > 0``
    guard that carries the whole signature expression into the scan-side
    filter (measured 16x fold re-evaluation in one task on the streaming
    path); exploding a constant sequence infers only a constant-foldable
    guard, and this per-band key is computed from the ``sig`` attribute
    AFTER the Generate barrier, where no projection collapse can reach
    back into the fold."""
    ints = ", ".join(
        f"cast(element_at({sig}, ({b} - 1) * {R} + {j + 1}) as string)"
        for j in range(R)
    )
    return f"md5(concat({ints}))"
