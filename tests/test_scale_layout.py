"""Storage-layout scale techniques: bucketed co-located joins and
partition-pruned scans.

These are the two levers that remove whole shuffle/scan phases at 100 TB:
bucketing pre-shuffles fact tables once at write time so every future
equi-join/aggregation on the bucket key is exchange-free, and partition
pruning turns a full-table scan into a directory lookup.  Both are
asserted on the physical plan, not timings, so they hold at any scale.
"""

from __future__ import annotations

import contextlib
import io
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.sources import load_table


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir):
    """Write customer + orders bucketed by custkey as external tables in a
    temp location (warehouse.dir is a static conf, so external paths)."""
    wh = tempfile.mkdtemp(prefix="sg-wh-")
    load_table(spark, sf_dir, "customer").write.bucketBy(8, "c_custkey").sortBy(
        "c_custkey"
    ).option("path", os.path.join(wh, "b_customer")).mode("overwrite").saveAsTable("b_customer")
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
        "o_custkey"
    ).option("path", os.path.join(wh, "b_orders")).mode("overwrite").saveAsTable("b_orders")
    yield
    spark.sql("DROP TABLE IF EXISTS b_customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_exchange(spark, warehouse):
    """Equi-join on the bucket key of two co-bucketed tables must not
    shuffle either side: bucketing at write time IS the shuffle, paid
    once instead of per query."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        c = spark.table("b_customer")
        o = spark.table("b_orders")
        joined = c.join(o, c.c_custkey == o.o_custkey).groupBy("c_custkey").count()
        plan = _explain(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: result matches the unbucketed computation
        n = joined.count()
        base = (
            spark.table("b_customer")
            .join(spark.table("b_orders"), F.expr("c_custkey = o_custkey"))
            .select("c_custkey")
            .distinct()
            .count()
        )
        assert n == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_partition_pruning(spark, sf_dir):
    """Writing events partitioned by day and filtering one day must prune
    partitions at planning time (PartitionFilters, not a post-scan
    filter over all files)."""
    out = os.path.join(tempfile.mkdtemp(prefix="sg-part-"), "events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.partitionBy("day").mode("overwrite").parquet(out)

    one_day = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = _explain(one_day.groupBy("event_type").count())
    assert "PartitionFilters" in plan and "day" in plan
    # pruned scan reads only that day's rows
    expected = ev.filter(F.col("day") == "2024-01-05").count()
    assert one_day.count() == expected
    # and the partition count in the scan is 1 directory's worth:
    # selected partitions reported in the FileScan line
    assert one_day.rdd.getNumPartitions() <= 4


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """A selective dim filter must inject a runtime bloom filter on the
    fact side of a shuffle join: the fact scan then drops non-joining
    rows BEFORE the exchange -- at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the matching slice.
    (Thresholds are lowered because test inputs are far below the 10 GiB
    default; on a real cluster the defaults fire on their own.)"""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        o = load_table(spark, sf_dir, "orders").filter(
            "o_orderstatus = 'F' and o_totalprice > 300000"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_zorder_layout_bounds_worst_dimension(spark, sf_dir):
    """Z-order (Morton-interleaved) clustering vs 1-D sort, measured as
    'how many of the 8 written file groups contain rows matching a
    single-dimension slice' -- the proxy for files a min/max-stats (or
    partition-pruning) reader must open.  The 1-D layout prunes its own
    sort column perfectly but a filter on the OTHER dimension hits every
    group; the Z-order layout bounds BOTH dimensions: with 3+3 bucket
    bits and group = zkey >> 3, the group id is (k2 d2 k1), so a fixed
    key bucket touches exactly 2 groups and a fixed date bucket exactly 4
    of 8.  That bounded worst case is the point of multi-dimensional
    clustering at 100 TB.  File groups are written as explicit partition
    dirs (not sampled range boundaries) so the counts are deterministic."""
    from eecs485_p4_mapreduce_spark.functions.layout import morton2, width_bucket

    li = load_table(spark, sf_dir, "lineitem")
    lo_k, hi_k, lo_d, hi_d = li.select(
        F.min("l_orderkey"), F.max("l_orderkey").cast("double") + 1,
        F.min(F.unix_timestamp("l_shipdate")).cast("double"),
        F.max(F.unix_timestamp("l_shipdate")).cast("double") + 1,
    ).first()
    kb = width_bucket(F.col("l_orderkey").cast("double"), float(lo_k), float(hi_k), 8)
    db = width_bucket(F.unix_timestamp("l_shipdate").cast("double"), lo_d, hi_d, 8)

    zdir = tempfile.mkdtemp(prefix="sg-zorder-")
    sdir = tempfile.mkdtemp(prefix="sg-sorted1d-")
    li.withColumn("zgroup", F.shiftright(morton2(kb, db, buckets=8), 3)).write.partitionBy(
        "zgroup"
    ).mode("overwrite").parquet(zdir)
    li.withColumn("kgroup", kb).write.partitionBy("kgroup").mode("overwrite").parquet(sdir)

    mid_key = float(lo_k) + (float(hi_k) - float(lo_k)) * 4 / 8
    key_slice = (F.col("l_orderkey") >= mid_key) & (
        F.col("l_orderkey") < mid_key + (float(hi_k) - float(lo_k)) / 8
    )
    mid_d = lo_d + (hi_d - lo_d) * 4 / 8
    date_slice = (F.unix_timestamp("l_shipdate") >= mid_d) & (
        F.unix_timestamp("l_shipdate") < mid_d + (hi_d - lo_d) / 8
    )

    def groups_touched(path, col, pred) -> int:
        return spark.read.parquet(path).filter(pred).select(col).distinct().count()

    z_key = groups_touched(zdir, "zgroup", key_slice)
    z_date = groups_touched(zdir, "zgroup", date_slice)
    s_key = groups_touched(sdir, "kgroup", key_slice)
    s_date = groups_touched(sdir, "kgroup", date_slice)

    assert s_key <= 2          # 1-D layout: its own column prunes to ~1 group
    assert s_date >= 7         # ...but the other dimension hits everything
    assert z_key == 2 and z_date == 4   # exact Morton-block bit math
    assert max(z_key, z_date) < s_date  # strictly better worst case


def test_schema_evolution_merge(spark, sf_dir):
    """Parquet schema evolution: a new column appears in later-written
    files; ``mergeSchema`` reconciles the union schema, old rows read as
    NULL for the new column, and filters on the new column behave.  At
    100 TB schema evolves in place -- rewriting history is not an option."""
    d = tempfile.mkdtemp(prefix="sg-evolve-")
    o = load_table(spark, sf_dir, "orders")
    o.select("o_orderkey", "o_totalprice").limit(100).write.mode("append").parquet(d)
    o.select(
        "o_orderkey", "o_totalprice", F.lit("v2").alias("ingest_tag")
    ).limit(50).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "ingest_tag"}
    assert merged.count() == 150
    assert merged.filter(F.col("ingest_tag").isNull()).count() == 100
    assert merged.filter(F.col("ingest_tag") == "v2").count() == 50


def test_small_file_compaction(spark, sf_dir):
    """Small-file compaction: a fragmented write (64 tiny files) is
    rewritten to a size-targeted file count computed from the actual
    input bytes, preserving content exactly.  Small files are the #1
    operational tax on 100 TB tables (footer/open overhead per file,
    driver listing memory); compaction is a pure rewrite."""
    import glob

    frag = tempfile.mkdtemp(prefix="sg-frag-")
    compacted = tempfile.mkdtemp(prefix="sg-compact-")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    li.repartition(64).write.mode("overwrite").parquet(frag)
    frag_files = glob.glob(f"{frag}/part-*")
    assert len(frag_files) == 64

    target_bytes = 4 * 1024 * 1024
    total = sum(os.path.getsize(f) for f in frag_files)
    n_out = max(1, -(-total // target_bytes))  # ceil
    spark.read.parquet(frag).coalesce(int(n_out)).write.mode("overwrite").parquet(compacted)
    out_files = glob.glob(f"{compacted}/part-*")
    assert len(out_files) == n_out < 64

    a = spark.read.parquet(frag)
    b = spark.read.parquet(compacted)
    assert a.count() == b.count()
    chk = lambda df: df.agg(  # noqa: E731
        F.sum("l_orderkey"), F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
    ).first()
    assert chk(a) == chk(b)


def test_results_invariant_to_shuffle_partition_count(spark, sf_dir):
    """Re-running representative queries with a different
    spark.sql.shuffle.partitions must produce identical canonical results:
    at cluster scale the partition count is an ops knob, and any operator
    whose OUTPUT depends on it (partition-local ids, order-dependent float
    accumulation, first/last without ordering) is a latent wrong-answer
    bug.  Covers the families most at risk: decimal aggregation, window
    functions, LSH banding, deterministic sampling, and the contiguous-ID
    assigner whose whole job is to be partition-layout-proof."""
    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    names = [
        "q1_pricing_summary",
        "window_running_sum",
        "dedup_minhash_lsh",
        "sample_weighted_bernoulli",
        "ids_contiguous_assign",
    ]
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for nparts in ("7", original):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in names:
                df = REGISTRY[name].fn(spark, sf_dir)
                canon = sorted(tuple(str(v) for v in row) for row in df.collect())
                results.setdefault(name, []).append(canon)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    for name, (a, b) in results.items():
        assert a == b, f"{name} output depends on shuffle partition count"


def test_parquet_codec_roundtrips(spark, sf_dir, tmp_path):
    """Storage codecs a 100 TB lake actually deploys (snappy for hot,
    zstd for cold, gzip for interop) must round-trip bit-exactly and be
    freely mixable at read time -- the reader takes codec per file from
    the footer, so a codec migration never needs a rewrite barrier."""
    from eecs485_p4_mapreduce_spark.sources import load_table

    src = load_table(spark, sf_dir, "orders").limit(500)
    expected = sorted(map(tuple, src.collect()))
    paths = []
    for codec in ("snappy", "zstd", "gzip"):
        p = str(tmp_path / f"orders-{codec}")
        src.write.option("compression", codec).parquet(p)
        paths.append(p)
        got = sorted(map(tuple, spark.read.parquet(p).collect()))
        assert got == expected, f"{codec} round-trip differs"
    # mixed-codec read: one logical dataset, three physical codecs
    mixed = sorted(map(tuple, spark.read.parquet(*paths).collect()))
    assert len(mixed) == 3 * len(expected)


def test_range_clustered_files_have_tight_minmax(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions must produce files with
    NON-OVERLAPPING key ranges -- the property that lets min/max footer
    stats skip whole files for range predicates (the poor man's
    clustered index; Z-order generalizes it to multiple dims)."""
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.sources import load_table

    out = str(tmp_path / "orders-ranged")
    (
        load_table(spark, sf_dir, "orders")
        .repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.parquet(out)
    )
    import glob

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.read_metadata(f)
        lo = min(
            md.row_group(i).column(3).statistics.min for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(3).statistics.max for i in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_aqe_splits_skewed_band_bucket(spark):
    """The LSH band join's skew story: band buckets on a boilerplate-
    heavy corpus are Zipf-skewed (one hot (b, band_hash) bucket can hold
    thousands of near-identical docs), and the engine relies on AQE's
    OptimizeSkewedJoin to split the hot partition instead of hand-salting
    (dedup_minhash_lsh docstring).  This pins that the reliance is REAL:
    a synthetic banded frame with one hot bucket, joined the way the
    probe join runs (shuffle join, production thresholds scaled to the
    fixture), must come out of AQE with the skew-join marker -- the hot
    partition was split across tasks, so no straggler sorts the whole
    bucket."""
    confs = {
        # force the shuffle join the probe runs at corpus scale
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # production defaults (256 MB / 5x) scaled down to the fixture's
        # COMPRESSED shuffle bytes (MapOutputStatistics sizes, ~tens of KB)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # one hot bucket (band 0, hash 0) with 3000 docs; 300 cold buckets
        hot = spark.range(0, 3000).select(
            F.col("id").alias("doc_id"),
            F.lit(0).alias("b"),
            F.lit(0).cast("bigint").alias("band_hash"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        cold = spark.range(3000, 3600).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 8).cast("int").alias("b"),
            (F.col("id") % 300).cast("bigint").alias("band_hash"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        banded = hot.union(cold)
        a = banded.select(F.col("doc_id").alias("doc_a"), "b", "band_hash", F.col("pad").alias("pa"))
        bb = banded.select(F.col("doc_id").alias("doc_b"), "b", "band_hash", F.col("pad").alias("pb"))
        pairs = a.join(bb, ["b", "band_hash"]).filter(F.col("doc_a") < F.col("doc_b"))
        # collect through the SAME DataFrame whose query execution we
        # inspect -- count() would plan (and skew-optimize) a separate one
        cnt = pairs.groupBy().count()
        n = cnt.collect()[0][0]
        from collections import Counter

        buckets = Counter([(0, 0)] * 3000)
        buckets.update((i % 8, i % 300) for i in range(3000, 3600))
        assert n == sum(c * (c - 1) // 2 for c in buckets.values())
        final = cnt._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:3000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_global_rank_reliable_checkpoint_on_vanilla_session(tmp_path):
    """Durability contract of functions/ranking.py (round-5 verdict item
    2): even on a VANILLA session with no checkpoint dir configured —
    the driver's posture — the recipe must self-provision one (env
    override honored) and materialize the ranged frame through reliable
    ``checkpoint()`` (files on the checkpoint filesystem — survives
    executor loss), producing exact ranks.  Runs in its own subprocess
    because setCheckpointDir is SparkContext-sticky."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repr(str(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__)))))})
        from pyspark.sql import SparkSession
        import pyspark.sql.functions as F
        from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        assert spark.sparkContext.getCheckpointDir() is None  # vanilla
        df = spark.range(0, 200).select(
            (F.col("id") * 7 % 31).alias("v"), F.col("id").alias("tid"))
        got = sorted((r["v"], r["tid"], r["_rk"])
                     for r in with_global_rank(df, ["v", "tid"], partitions=4).collect())
        want = sorted((v, t, rk + 1) for rk, (v, t) in enumerate(
            sorted((i * 7 % 31, i) for i in range(200))))
        assert got == want, "ranks wrong under reliable checkpoint"
        # the recipe provisioned the env-pointed dir and WROTE to it
        import os
        ckpt = spark.sparkContext.getCheckpointDir()
        assert ckpt is not None and {repr(str(tmp_path / "envckpt"))} in ckpt, ckpt
        files = [f for _, _, fs in os.walk({repr(str(tmp_path / "envckpt"))}) for f in fs]
        assert files, "no reliable checkpoint files written"
        print("RELIABLE_OK")
        """
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "envckpt")
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert "RELIABLE_OK" in out.stdout, out.stdout + out.stderr


def test_conf_scoped_queries_leave_shared_session_untouched(spark, sf_dir):
    """Round-5 verdict item 1: the conf-overriding queries (runtime
    bloom join, SQL scripting, dynamic partition overwrite, streaming
    state width) must run their overrides on CHILD sessions — the
    shared session's SQLConf is never touched, so a concurrently
    planned query can never inherit a foreign conf."""
    from eecs485_p4_mapreduce_spark.functions.confscope import stream_session
    from eecs485_p4_mapreduce_spark.operators.joins import (
        join_runtime_bloom_filter,
    )
    from eecs485_p4_mapreduce_spark.operators.relational6 import (
        sql_scripting_threshold_search,
    )
    from eecs485_p4_mapreduce_spark.operators.sourcesink import (
        sink_dynamic_partition_overwrite,
    )
    from eecs485_p4_mapreduce_spark.streaming import streaming_tumbling_1h

    watched = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.scripting.enabled",
        "spark.sql.shuffle.partitions",
    ]
    snap = {k: spark.conf.get(k, None) for k in watched}
    for q in (
        join_runtime_bloom_filter,
        sql_scripting_threshold_search,
        sink_dynamic_partition_overwrite,
        streaming_tumbling_1h,
    ):
        q(spark, sf_dir).collect()
        got = {k: spark.conf.get(k, None) for k in watched}
        assert got == snap, (q.__name__, got)
    # the streaming child checkpoints through the FileSystem API; the
    # shared session keeps Spark's default checkpoint file manager
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    assert stream_session(spark).conf.get(manager, None) == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert spark.conf.get(manager, None) is None


def test_grouped_rank_spreads_skewed_group(spark):
    """Round-5 verdict item 7: with_global_rank(partition_cols=...)
    under pathological GROUP skew (one group = 99% of rows) must spread
    the hot group across contiguous ranges — no range partition may
    hold more than 4x the median (the straggler bound the LSH skew test
    pins for AQE) — while ranks stay exact and dense per group."""
    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    n, parts = 40_000, 8
    df = spark.range(n).select(
        F.when(F.col("id") % 100 == 0, "rare").otherwise("hot").alias("g"),
        F.col("id").alias("k"),
    )
    ranked = with_global_rank(df, ["k"], partition_cols=["g"], partitions=parts)
    stats = (
        ranked.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.min("_rk").alias("mn"),
            F.max("_rk").alias("mx"),
            F.countDistinct("_rk").alias("nd"),
        )
        .collect()
    )
    assert len(stats) == 2
    for r in stats:
        assert r["mn"] == 1 and r["mx"] == r["n"] == r["nd"], r
    # layout: replicate the recipe's ranged stage and measure balance
    sizes = (
        df.repartitionByRange(parts, "g", "k")
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in sizes)
    median = counts[len(counts) // 2]
    assert counts[-1] <= 4 * median, counts


def _half_corpus(src: str, dst) -> None:
    """Rewrite ``dst`` in place with the even-doc_id half of ``src``."""
    import duckdb

    tmp = f"{dst}.half"
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{src}' WHERE doc_id % 2 = 0) TO"
        f" '{tmp}' (FORMAT PARQUET)"
    )
    os.replace(tmp, dst)


def test_signature_store_rereads_and_mtime_fresh(spark, tmp_path, monkeypatch):
    """The signature table is a stored derived frame: each corpus gets
    its own published location, going back to an earlier corpus
    re-reads its published parquet (no rebuild), and rewriting the
    parquet under a stored dir (new mtime) resolves a NEW location
    instead of serving stale signatures."""
    import shutil

    from eecs485_p4_mapreduce_spark.functions import modelstore
    from eecs485_p4_mapreduce_spark.operators import dedup

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path / "wh"))
    builds = []
    real = dedup._minhash_banded

    def counting(docs):
        builds.append(1)
        return real(docs)

    monkeypatch.setattr(dedup, "_minhash_banded", counting)
    src = "/root/testdata/sf0.001/documents.parquet"
    d1, d2 = tmp_path / "c1", tmp_path / "c2"
    d1.mkdir(), d2.mkdir()
    shutil.copy(src, d1 / "documents.parquet")
    shutil.copy(src, d2 / "documents.parquet")

    s1, _ = dedup.minhash_signatures(spark, str(d1))
    n1 = s1.count()
    assert n1 > 0 and builds == [1]
    dedup.minhash_signatures(spark, str(d2))
    assert builds == [1, 1]  # a different corpus is a different location
    # corpus 1 again: a scan of its published table, no rebuild
    s3, _ = dedup.minhash_signatures(spark, str(d1))
    assert s3.count() == n1 and builds == [1, 1]
    assert "sg_model_minhash_sigs_" in _explain(s3)
    # rewrite corpus 1 in place with HALF the docs; mtime key must miss
    _half_corpus(src, d1 / "documents.parquet")
    s4, _ = dedup.minhash_signatures(spark, str(d1))
    assert s4.count() < n1  # fresh signatures of the REWRITTEN corpus
    assert builds == [1, 1, 1]


def test_model_store_roundtrip_and_cross_app_read(spark, tmp_path, monkeypatch):
    """functions/modelstore.py: first call trains and publishes; second
    call — even with the in-memory cache cold, i.e. a fresh application
    — reads the published model and must NOT retrain.  Rows round-trip
    bit-identically (doubles are exact in parquet)."""
    from eecs485_p4_mapreduce_spark.functions import modelstore

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path))
    calls = []

    def train():
        calls.append(1)
        return [(1, [1.5, -2.25]), (0, [0.5, 1e-17])]

    sf = "/root/testdata/sf0.001"
    schema = "k bigint, cv array<double>"
    r1 = modelstore.load_or_train(spark, "t1", sf, schema, train)
    r2 = modelstore.load_or_train(spark, "t1", sf, schema, train)
    assert len(calls) == 1  # second served from the published model
    assert r1 == r2 == [(0, [0.5, 1e-17]), (1, [1.5, -2.25])]


_LOCAL_DDL = "k bigint, tag string, w double, cv array<double>"


def test_local_frame_schema_matches_ddl(spark):
    """modelstore.local_frame: column names, types and nullability are
    exactly what the DDL parses to (the join/aggregate plans built on
    these frames depend on the types), and null cells survive."""
    from pyspark.sql.types import DataType

    from eecs485_p4_mapreduce_spark.functions.modelstore import local_frame

    rows = [(1, "a", 0.5, [1.0, 2.0]), (2, None, None, None)]
    df = local_frame(spark, rows, _LOCAL_DDL)
    assert df.schema == DataType.fromDDL(_LOCAL_DDL)
    assert [tuple(r) for r in df.orderBy("k").collect()] == rows


def test_local_frame_empty_rows_keep_columns(spark):
    """rows=[] is a zero-row frame that still has every column and type
    (the empty-corpus k-center result and an empty model both hit it)."""
    from pyspark.sql.types import DataType

    from eecs485_p4_mapreduce_spark.functions.modelstore import local_frame

    df = local_frame(spark, [], _LOCAL_DDL)
    assert df.schema == DataType.fromDDL(_LOCAL_DDL)
    assert df.count() == 0


def test_local_frame_doubles_round_trip_bit_exact(spark):
    """array<double> values (centroids, power-iteration vectors, PQ
    codewords) reach the plan bit-for-bit: every consumer's oracle
    replays the same doubles, so one flipped bit is a wrong answer."""
    import struct

    from eecs485_p4_mapreduce_spark.functions.modelstore import local_frame

    vals = [-0.0, 1e18, 0.1 + 0.2, 5e-324, -1.7976931348623157e308, 1e-17]
    got = local_frame(spark, [(vals,)], "cv array<double>").collect()[0]["cv"]
    assert [struct.pack("<d", x) for x in got] == [
        struct.pack("<d", x) for x in vals
    ]


def test_local_frame_plans_a_local_table_scan(spark):
    """The frame is a JVM local relation: its physical plan is a
    LocalTableScan, not the Python-RDD ``Scan ExistingRDD`` that
    ``spark.createDataFrame(<python list>)`` plans (whose every run
    starts Python workers)."""
    from eecs485_p4_mapreduce_spark.functions.modelstore import local_frame

    df = local_frame(spark, [(1, "a", 0.5, [1.0])], _LOCAL_DDL)
    plan = _explain(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def _package_sites(owner: str, matches):
    """Nodes anywhere in the package for which ``matches(node)`` returns
    a label, split into those inside a function named ``owner`` and the
    rest, each as ``"<module>:<line> <label>"``."""
    import ast
    import glob

    import eecs485_p4_mapreduce_spark as pkg

    def found(node):
        return [n for n in ast.walk(node) if matches(n)]

    root = os.path.dirname(pkg.__file__)
    inside, stray = [], []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        allowed = {
            id(c)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == owner
            for c in found(fn)
        }
        rel = os.path.relpath(path, root)
        for c in found(tree):
            site = f"{rel}:{c.lineno} {matches(c)}"
            (inside if id(c) in allowed else stray).append(site)
    return inside, stray


def _package_calls(owner: str, *methods: str):
    """``<x>.<method>(`` calls anywhere in the package, split into those
    inside a function named ``owner`` and the rest, each as
    ``"<module>:<line> <method>"``."""
    import ast

    def matches(n):
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in methods
            and n.func.attr
        )

    return _package_sites(owner, matches)


def test_create_dataframe_only_inside_local_frame():
    """Every driver-sized frame in the package goes through
    modelstore.local_frame: a ``spark.createDataFrame(`` call anywhere
    else would bring back the Python-RDD leaf and its per-run Python
    workers."""
    inside, stray = _package_calls("local_frame", "createDataFrame")
    assert inside and all(
        c.startswith("functions/modelstore.py:") for c in inside
    ), inside
    assert not stray, stray


def test_checkpoint_only_inside_pin():
    """Every materialize-for-reuse site goes through modelstore.pin, a
    local pin; the one reliable ``.checkpoint(`` is ranking's ranged
    frame.  A call anywhere else would choose its own durability."""
    inside, stray = _package_calls("pin", "localCheckpoint")
    assert len(inside) == 1 and inside[0].startswith(
        "functions/modelstore.py:"
    ), inside
    assert not stray, stray
    inside, stray = _package_calls("_pin_partitioning", "checkpoint")
    assert len(inside) == 1 and inside[0].startswith(
        "functions/ranking.py:"
    ), inside
    assert not stray, stray


def test_parquet_schema_read_only_inside_parquet_schema():
    """A parquet schema is read through ``sources.parquet_schema``, which
    takes a file's schema from its footer on the driver: a
    ``<x>.read.parquet(...).schema`` anywhere else would run Spark's
    one-task inference job.  The helper itself keeps that spelling as
    its fallback for directories and unreadable footers."""
    import ast

    def matches(n):
        return (
            isinstance(n, ast.Attribute)
            and n.attr == "schema"
            and isinstance(n.value, ast.Call)
            and isinstance(n.value.func, ast.Attribute)
            and n.value.func.attr == "parquet"
            and isinstance(n.value.func.value, ast.Attribute)
            and n.value.func.value.attr == "read"
            and "read.parquet().schema"
        )

    inside, stray = _package_sites("parquet_schema", matches)
    assert inside and all(c.startswith("sources/tables.py:") for c in inside), inside
    assert not stray, stray


def _operator_source(module: str) -> str:
    """``operators/<module>.py`` with every whitespace run collapsed."""
    import eecs485_p4_mapreduce_spark.operators as ops

    path = os.path.join(os.path.dirname(ops.__file__), f"{module}.py")
    with open(path, encoding="utf-8") as f:
        return " ".join(f.read().split())


def test_scorer_weights_rendered_once_per_dialect():
    """similarity.py renders the linear scorer's weights as an array
    literal only in ``_weights``, once for Spark and once for DuckDB;
    every query and oracle takes them from there, so no oracle spells
    the 64 weights out by hand."""
    import ast

    import eecs485_p4_mapreduce_spark.plans  # noqa: F401  (operators in registry order)
    from eecs485_p4_mapreduce_spark.operators import similarity as sim

    with open(sim.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())

    def over_weights(gen):
        it = gen.generators[0].iter
        it = it.value if isinstance(it, ast.Subscript) else it
        return isinstance(it, ast.Name) and it.id in ("_INF_W", "ws")

    owners = [
        getattr(top, "name", None)
        for top in tree.body
        for c in ast.walk(top)
        if isinstance(c, ast.Call)
        and isinstance(c.func, ast.Attribute)
        and c.func.attr == "join"
        and c.args
        and isinstance(c.args[0], ast.GeneratorExp)
        and over_weights(c.args[0])
    ]
    assert owners == ["_weights", "_weights"], owners
    assert _operator_source("similarity").count(repr(sim._INF_W[1])) == 1


def test_knn_top_k_and_graph_edge_preamble_written_once():
    """The kNN oracles rank candidates through one ``ROW_NUMBER()``
    spelling (similarity.py ``_knn_rank_sql``), and graph.py's oracles
    open with one candidate-edge CTE ``e`` (``_EDGES_DUCK``; k-core and
    modularity keep their MATERIALIZED edge sets)."""
    sim = _operator_source("similarity")
    assert sim.count("ROW_NUMBER() OVER (PARTITION BY query_id") == 1
    graph = _operator_source("graph")
    assert graph.count("e AS (SELECT DISTINCT a.doc_id AS da") == 1


def test_pin_stays_local_beside_a_reliable_checkpoint(tmp_path):
    """modelstore.pin is a localCheckpoint (one ``getPersistentRDDs``
    entry, no checkpoint files) for eager and lazy pins, whether or not
    ``SPARK_GRAFT_CHECKPOINT_DIR`` is set and whether or not an earlier
    ranking pin gave the SparkContext a checkpoint dir; the ranking pin
    itself writes files there and adds no entry.  So the order queries
    run in cannot switch a pin's mode.  Rows are equal on every path and
    each plans a ``Scan ExistingRDD`` leaf.  Runs in its own subprocess
    because setCheckpointDir is SparkContext-sticky."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckpt = str(tmp_path / "envckpt")
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from eecs485_p4_mapreduce_spark.functions.modelstore import pin
        from eecs485_p4_mapreduce_spark.functions.ranking import (
            _pin_partitioning,
        )
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        ckpt = {ckpt!r}

        def entries():
            return sc._jsc.getPersistentRDDs().size()

        def files():
            return sum(len(fs) for _, _, fs in os.walk(ckpt))

        df = spark.range(0, 200).selectExpr("id", "id * 7 % 31 AS v")
        want = sorted(map(tuple, df.collect()))

        def check(p, added_entries, added_files, e0, f0):
            assert sorted(map(tuple, p.collect())) == want
            plan = p._jdf.queryExecution().executedPlan().toString()
            assert "Scan ExistingRDD" in plan, plan
            assert entries() - e0 == added_entries, (entries(), e0)
            assert (files() > f0) == added_files, (files(), f0)

        def check_pins():
            for eager in (True, False):
                e0, f0 = entries(), files()
                check(pin(df, eager=eager), 1, False, e0, f0)

        assert sc.getCheckpointDir() is None
        check_pins()
        assert sc.getCheckpointDir() is None and not os.path.exists(ckpt)

        e0, f0 = entries(), files()
        check(_pin_partitioning(df), 0, True, e0, f0)
        assert ckpt in sc.getCheckpointDir(), sc.getCheckpointDir()
        check_pins()
        print("PIN_OK")
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CHECKPOINT_DIR=ckpt)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(tmp_path),
    )
    assert "PIN_OK" in out.stdout, out.stdout + out.stderr


def test_frame_store_publishes_reads_and_stays_fresh(spark, tmp_path, monkeypatch):
    """modelstore.load_or_build_frame (the stored derived-TABLE variant):
    first call builds and publishes parquet; second call must read the
    published table WITHOUT invoking build; rewriting the corpus in
    place (new mtime) must re-derive — a stale stored edge/signature
    table would silently corrupt every consumer.  Also pins string
    columns through the row store's DDL -> Arrow mapping."""
    import shutil as _sh

    from eecs485_p4_mapreduce_spark.functions import modelstore

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path))
    d1 = tmp_path / "corpus"
    d1.mkdir()
    _sh.copy(
        "/root/testdata/sf0.001/documents.parquet", d1 / "documents.parquet"
    )
    builds = []

    def build():
        builds.append(1)
        return spark.range(5).selectExpr("id AS da", "id + 1 AS db")

    f1 = modelstore.load_or_build_frame(
        spark, "tedges", str(d1), "documents", "da bigint, db bigint", build
    )
    assert f1.count() == 5 and builds == [1]
    f2 = modelstore.load_or_build_frame(
        spark, "tedges", str(d1), "documents", "da bigint, db bigint", build
    )
    assert f2.count() == 5 and builds == [1]  # hit: no rebuild
    assert "parquet" in f2._jdf.queryExecution().executedPlan().toString().lower()
    # in-place rewrite -> new mtime -> rebuild
    import time as _t

    _t.sleep(0.01)
    _sh.copy(
        "/root/testdata/sf0.001/documents.parquet", d1 / "documents.parquet"
    )
    modelstore.load_or_build_frame(
        spark, "tedges", str(d1), "documents", "da bigint, db bigint", build
    )
    assert builds == [1, 1]
    # string columns (the BPE merge-table shape) round-trip through the
    # driver-side row store; the second call reads, not retrains
    rows = [(0, "a", "b"), (1, "a b", "c")]
    trains = []

    def train():
        trains.append(1)
        return rows

    for _ in range(2):
        got = modelstore.load_or_train(
            spark, "tbpe", str(d1), "round bigint, pa string, pb string",
            train, table="documents",
        )
        assert got == rows
    assert trains == [1]


def test_frame_store_rename_failure_serves_tmp_and_reaps_it(
    spark, tmp_path, monkeypatch
):
    """load_or_build_frame's non-race rename-failure fallback (round-9
    ADVICE): when the publish rename fails with NO winner present, the
    build is served from the tmp dir AND the tmp dir is registered for
    atexit cleanup — a persistently failing rename (EACCES on the
    warehouse) must not accumulate sg_model_*.tmp-* orphans forever."""
    import atexit
    import os
    import shutil as _sh

    from eecs485_p4_mapreduce_spark.functions import modelstore

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path))
    d1 = tmp_path / "corpus"
    d1.mkdir()
    _sh.copy(
        "/root/testdata/sf0.001/documents.parquet", d1 / "documents.parquet"
    )

    def no_rename(src, dst):
        raise OSError(13, "Permission denied", src)

    monkeypatch.setattr(os, "rename", no_rename)
    reaped: list[tuple] = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **k: reaped.append((fn, a, k))
    )
    f = modelstore.load_or_build_frame(
        spark, "tfail", str(d1), "documents", "da bigint, db bigint",
        lambda: spark.range(3).selectExpr("id AS da", "id + 1 AS db"),
    )
    assert f.count() == 3  # served from the tmp dir, not discarded
    assert len(reaped) == 1
    fn, args, kwargs = reaped[0]
    assert fn is _sh.rmtree and ".tmp-" in args[0]
    assert kwargs.get("ignore_errors") is True
    assert os.path.exists(os.path.join(args[0], "_SUCCESS"))


def test_edge_cache_shared_and_mtime_fresh(spark, tmp_path, monkeypatch):
    """lsh_candidate_edges stores the band-graph family's shared edge
    set: a second call is a scan of the published parquet (no rebuild),
    the stored set keeps the da < db orientation, and the mtime key
    must miss after an in-place corpus rewrite — stale edges would
    silently corrupt every graph query."""
    import shutil

    from eecs485_p4_mapreduce_spark.functions import modelstore
    from eecs485_p4_mapreduce_spark.operators import dedup

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path / "wh"))
    src = "/root/testdata/sf0.001/documents.parquet"
    d1 = tmp_path / "c1"
    d1.mkdir()
    shutil.copy(src, d1 / "documents.parquet")

    builds = []
    real = dedup.minhash_signatures
    monkeypatch.setattr(
        dedup, "minhash_signatures", lambda *a: builds.append(1) or real(*a)
    )
    e1 = dedup.lsh_candidate_edges(spark, str(d1))
    n1 = e1.count()
    assert n1 > 0 and builds == [1]
    # second call: store hit — the signature layer below is not touched
    e2 = dedup.lsh_candidate_edges(spark, str(d1))
    assert e2.count() == n1 and builds == [1]
    assert "sg_model_lsh_edges_" in _explain(e2)
    # low-high orientation invariant of the stored set
    assert e1.filter(e1["da"] >= e1["db"]).count() == 0
    # rewrite in place with half the docs; mtime key must miss
    _half_corpus(src, d1 / "documents.parquet")
    e3 = dedup.lsh_candidate_edges(spark, str(d1))
    assert e3.count() < n1 and builds == [1, 1]
