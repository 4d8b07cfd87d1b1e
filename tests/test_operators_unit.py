"""Focused unit tests for operator building blocks and edge cases."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.numeric import dsum
from eecs485_p4_mapreduce_spark.functions.textfn import tokens, shingles


def test_tokens_edges(spark):
    df = spark.createDataFrame(
        [("  Hello  WORLD ",), ("",), ("a\tb\nc",)], ["text"]
    ).select(tokens("text").alias("t"))
    got = [r["t"] for r in df.collect()]
    assert got == [["hello", "world"], [], ["a", "b", "c"]]


def test_shingles_short_text(spark):
    # text shorter than k still yields one (whole-text) shingle
    df = spark.createDataFrame([("ab",), ("abcdef",)], ["text"]).select(
        shingles("text", k=5).alias("s")
    )
    got = [r["s"] for r in df.collect()]
    assert got[0] == ["ab"]
    assert got[1] == ["abcde", "bcdef"]


def test_dsum_order_independent(spark):
    # pathological float ordering: naive double sum differs by eval order;
    # decimal-exact dsum must not.
    vals = [(1e9,), (0.000001,)] * 1000 + [(-1e9,)] * 1000
    df = spark.createDataFrame(vals, ["x"])
    got = df.select(dsum("x").alias("s")).collect()[0]["s"]
    assert got == 0.001  # exact: 1000 * 1e-6
    got_rev = (
        df.orderBy(F.rand(seed=7)).repartition(13).select(dsum("x").alias("s")).collect()[0]["s"]
    )
    assert got_rev == got


def test_asof_join_tiny(spark, monkeypatch):
    """Hand-built as-of scenario: purchase picks the latest strictly
    earlier click, same-instant clicks excluded, no-click users NULL."""
    from eecs485_p4_mapreduce_spark.operators import joins

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(eid, minutes, user, etype):
        return Row(
            event_id=eid,
            ts=t0 + dt.timedelta(minutes=minutes),
            user_id=user,
            event_type=etype,
            value=1.0,
            props="{}",
        )

    events = spark.createDataFrame(
        [
            mk(1, 0, 1, "click"),
            mk(2, 5, 1, "click"),
            mk(3, 5, 1, "purchase"),   # click 2 is same-instant -> excluded; matches click 1
            mk(4, 10, 1, "purchase"),  # latest strictly-earlier click = click 2
            mk(5, 3, 2, "purchase"),   # user 2 has no clicks -> NULL
        ]
    )
    monkeypatch.setattr(joins, "load_table", lambda spark_, sf, name: events)
    out = {r["purchase_id"]: r for r in joins.join_asof_events(spark, "unused").collect()}
    assert out[3]["last_click_id"] == 1  # equal-ts click excluded
    assert out[4]["last_click_id"] == 2
    assert out[5]["last_click_id"] is None


def test_minhash_detects_identical_docs(spark, monkeypatch):
    """Two identical texts must collide in every band with est_jaccard 1."""
    from eecs485_p4_mapreduce_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog", lang="en",
                source="s", n_chars=43),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog", lang="en",
                source="s", n_chars=43),
            Row(doc_id=3, text="completely different content about spark engines", lang="en",
                source="s", n_chars=49),
        ]
    )
    monkeypatch.setattr(dedup, "load_table", lambda spark_, sf, name: docs)
    rows = dedup.dedup_minhash_lsh(spark, "unused").collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in rows}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_exact_dedup_counts(spark, monkeypatch):
    from eecs485_p4_mapreduce_spark.operators import dedup

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="same", lang="en", source="s", n_chars=4) for i in range(3)]
        + [Row(doc_id=9, text="other", lang="en", source="s", n_chars=5)]
    )
    monkeypatch.setattr(dedup, "load_table", lambda spark_, sf, name: docs)
    rows = {r["keeper"]: r["n_copies"] for r in dedup.dedup_exact(spark, "unused").collect()}
    assert rows == {0: 3, 9: 1}


def test_approx_distinct_within_bounds(spark, sf_dir):
    """The HLL++ estimate stays inside its in-query bound (within_bound
    TRUE everywhere) and the exact arm matches the independent exact
    count from operators.text.distinct_tokens."""
    from eecs485_p4_mapreduce_spark.operators.similarity import approx_distinct_tokens
    from eecs485_p4_mapreduce_spark.operators.text import distinct_tokens

    rows = approx_distinct_tokens(spark, sf_dir).collect()
    got = {r["lang"]: r["n_distinct_exact"] for r in rows}
    exact = {r["lang"]: r["n_distinct"] for r in distinct_tokens(spark, sf_dir).collect()}
    assert got == exact
    assert all(r["within_bound"] for r in rows), rows


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH top-k hits are a subset of brute-force candidates with correct
    cosines: every (query, neighbor) pair in the LSH result must carry the
    same cosine the brute-force query computes for it."""
    from eecs485_p4_mapreduce_spark.operators.similarity import ann_lsh_hyperplane, knn_cosine

    lsh = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in ann_lsh_hyperplane(spark, sf_dir).collect()}
    brute = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in knn_cosine(spark, sf_dir).collect()}
    agree = set(lsh) & set(brute)
    for k in agree:
        assert abs(lsh[k] - brute[k]) < 1e-9


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must not change the joined row multiset."""
    from eecs485_p4_mapreduce_spark.functions.skew import salted_join
    from eecs485_p4_mapreduce_spark.sources import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    plain = sorted(
        (r["c_custkey"], r["o_orderkey"])
        for r in c.join(o, c.c_custkey == o.o_custkey).collect()
    )
    salted = sorted(
        (r["c_custkey"], r["o_orderkey"])
        for r in salted_join(o, c, "o_custkey", "c_custkey", salt=4).collect()
    )
    assert plain == salted


def test_salted_agg_equals_plain_count(spark, sf_dir):
    from eecs485_p4_mapreduce_spark.functions.skew import salted_agg_count
    from eecs485_p4_mapreduce_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    plain = {r["o_custkey"]: r["count"] for r in o.groupBy("o_custkey").count().collect()}
    salted = {r["o_custkey"]: r["cnt"] for r in salted_agg_count(o, "o_custkey", salt=8).collect()}
    assert plain == salted


def test_hot_keys_diagnostic(spark, sf_dir):
    from eecs485_p4_mapreduce_spark.functions.skew import hot_keys
    from eecs485_p4_mapreduce_spark.sources import load_table

    e = load_table(spark, sf_dir, "events")
    hot = hot_keys(e, "event_type", threshold_ratio=0.1)
    # five event types at ~20% each -> all are "hot" at a 10% threshold
    assert hot.count() == 5


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    """Probing Hamming-1 neighbor buckets must not lose recall vs the
    single-probe LSH, measured against brute-force top-k ground truth."""
    from eecs485_p4_mapreduce_spark.operators.similarity import (
        ann_lsh_hyperplane,
        ann_lsh_multiprobe,
        knn_cosine,
    )

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(knn_cosine(spark, sf_dir))
    single = pairs(ann_lsh_hyperplane(spark, sf_dir))
    multi = pairs(ann_lsh_multiprobe(spark, sf_dir))
    assert len(multi & truth) >= len(single & truth)
    assert len(multi) >= len(single)


def test_sketch_quantiles_error_bounded(spark, sf_dir):
    """GK-sketch percentiles stay within the accuracy guarantee: the
    in-query rank-error check (within_bound) holds for every group, and
    the exact quantiles are monotone p50 <= p90 <= p99."""
    from eecs485_p4_mapreduce_spark.operators.similarity import sketch_quantiles_error

    rows = sketch_quantiles_error(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["within_bound"], r
        assert r["p50_exact"] <= r["p90_exact"] <= r["p99_exact"], r


def test_sketch_hll_mergeable_bounds(spark, sf_dir):
    """DataSketches HLL: per-lang estimates AND the merged-union estimate
    both land within the in-query 5% bound (within_bound TRUE), and the
    exact arm agrees with an independently computed exact count -- the
    ALL row's exact must be the distinct count of the union of sets, not
    the sum of per-set counts."""
    from eecs485_p4_mapreduce_spark.operators.similarity import sketch_hll_mergeable
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens
    from eecs485_p4_mapreduce_spark.sources import load_table

    rows = sketch_hll_mergeable(spark, sf_dir).collect()
    got = {r["lang"]: r["n_distinct_exact"] for r in rows}
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(tokens("text")).alias("w"))
    exact = {
        r["lang"]: r["n"]
        for r in toks.groupBy("lang").agg(F.countDistinct("w").alias("n")).collect()
    }
    exact["ALL"] = toks.select("w").distinct().count()
    assert got == exact
    assert all(r["within_bound"] for r in rows), rows
    # union < sum of parts (overlapping vocabularies) -- proves real merge
    assert got["ALL"] < sum(v for k, v in got.items() if k != "ALL")


def test_corrupt_record_handling_permissive(spark):
    """Malformed rows in a JSON feed must not kill the job: PERMISSIVE
    mode shunts them into _corrupt_record (nulls elsewhere), DROPMALFORMED
    silently drops them, and the clean rows parse identically either way
    -- the ingestion contract for dirty 100 TB feeds."""
    import json
    import tempfile

    d = tempfile.mkdtemp(prefix="sg-corrupt-")
    good = [{"id": i, "v": i * 1.5} for i in range(10)]
    with open(f"{d}/data.json", "w") as f:
        for r in good[:5]:
            f.write(json.dumps(r) + "\n")
        f.write('{"id": 5, "v": BROKEN}\n')
        f.write("not json at all\n")
        for r in good[5:]:
            f.write(json.dumps(r) + "\n")

    schema = "id BIGINT, v DOUBLE, _corrupt_record STRING"
    perm = spark.read.schema(schema).option("mode", "PERMISSIVE").json(d).cache()
    assert perm.count() == 12
    corrupt = perm.filter(F.col("_corrupt_record").isNotNull())
    assert corrupt.count() == 2
    assert perm.filter(F.col("id").isNotNull()).count() == 10

    dropped = (
        spark.read.schema("id BIGINT, v DOUBLE").option("mode", "DROPMALFORMED").json(d)
    )
    assert dropped.count() == 10
    assert dropped.agg(F.sum("id")).first()[0] == sum(r["id"] for r in good)
    perm.unpersist()


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The production state backend (RocksDB state store) must work for
    stateful streaming: at 100 TB state no longer fits the default
    in-memory HDFS-backed store; RocksDB spills to local disk with
    changelog checkpointing.  Run a streaming dedup through it and check
    the result equals the default-provider run."""
    from eecs485_p4_mapreduce_spark.streaming import streaming_dedup_keys

    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key, None)
    baseline = {tuple(r) for r in streaming_dedup_keys(spark, sf_dir).collect()}
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        got = {tuple(r) for r in streaming_dedup_keys(spark, sf_dir).collect()}
    finally:
        if default is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, default)
    assert got == baseline and len(got) > 0


def test_observe_metrics_ride_along(spark, sf_dir):
    """Data-quality counters via df.observe(): row count, null count, and
    a decimal-exact total computed as the query runs -- no second pass
    over the data.  At 100 TB this is how ingest validation happens:
    the metrics ride the same scan the real query pays for."""
    from pyspark.sql import Observation
    from eecs485_p4_mapreduce_spark.functions.numeric import dsum
    from eecs485_p4_mapreduce_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("quality")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_keys"),
        dsum("o_totalprice").alias("total"),
    )
    kept = observed.filter(F.col("o_orderstatus") == "O").count()
    metrics = obs.get
    assert metrics["n_rows"] == o.count()
    assert metrics["null_keys"] == 0
    exact = o.agg(dsum("o_totalprice")).first()[0]
    assert metrics["total"] == exact
    assert 0 < kept < metrics["n_rows"]


def test_task_retry_like_reassignment(spark):
    """Reference parity for §2.A10 (dead-worker task reassignment): when
    a task attempt dies, the same task must be re-executed and the job
    must still produce the complete, correct result.  The reference
    re-sends the task_id to a live worker; Spark re-runs the task
    (master local[n, 2] allows one retry).  A deliberately-crashing
    first attempt on one partition proves the retry path end to end."""
    from pyspark import TaskContext

    def flaky(index, it):
        if index == 0 and TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("simulated worker death on first attempt")
        return ((index, x) for x in it)

    rdd = spark.sparkContext.parallelize(range(100), 4)
    out = rdd.mapPartitionsWithIndex(flaky).collect()
    assert sorted(x for _, x in out) == list(range(100))
    assert {i for i, _ in out} == {0, 1, 2, 3}


def test_multiprobe_recall_absolute_floor(spark):
    """Deterministic absolute recall floor for multi-probe LSH vs exact
    top-k.  The synthetic embeddings are near-random, so top-5 neighbors
    sit at low cosine and hyperplane LSH recall is intrinsically small --
    the pinned floor is the deterministic value this data+planes produce
    (3/50 at sf0.001); a drop below it means the bucketing or probing
    broke, not that the data got unlucky (seeded data, md5-derived
    planes: nothing here is random)."""
    from eecs485_p4_mapreduce_spark.operators.similarity import (
        ann_lsh_multiprobe,
        knn_cosine,
    )

    sf = "/root/testdata/sf0.001"
    truth = {(r["query_id"], r["neighbor_id"]) for r in knn_cosine(spark, sf).collect()}
    multi = {(r["query_id"], r["neighbor_id"]) for r in ann_lsh_multiprobe(spark, sf).collect()}
    assert len(truth) == 50
    assert len(multi & truth) >= 3


def test_theta_set_ops_bounds_and_symmetric_exact(spark, sf_dir):
    """Theta set algebra: every pair within its in-query bound, and the
    exact arithmetic is consistent (inter <= min side size <= union)."""
    from eecs485_p4_mapreduce_spark.operators.similarity import sketch_theta_set_ops

    rows = sketch_theta_set_ops(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["within_bound"], r
        assert 0 < r["n_inter_exact"] <= r["n_union_exact"], r


def test_kll_quantiles_merge_row_present(spark, sf_dir):
    """KLL: the merged ALL row exists, all groups pass the rank-error
    bound, and exact quantiles are monotone p50 <= p90."""
    from eecs485_p4_mapreduce_spark.operators.similarity import sketch_kll_quantiles

    rows = sketch_kll_quantiles(spark, sf_dir).collect()
    keys = {r["o_orderstatus"] for r in rows}
    assert "ALL" in keys and len(keys) >= 3
    for r in rows:
        assert r["within_bound"], r
        assert r["p50_exact"] <= r["p90_exact"], r


def test_bigram_surprisal_repeated_text_is_predictable(spark, monkeypatch):
    """Corpus-frequent phrasing must score LOWER average surprisal than a
    one-off document: its bigrams dominate the trained counts."""
    from eecs485_p4_mapreduce_spark.operators import textstats

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=common, lang="en", source="s", n_chars=len(common))
         for i in range(5)]
        # shares the frequent unigrams but pairs them unusually, so each of
        # its bigrams is a rare continuation of a common left word
        + [Row(doc_id=9, text="the mat sat the cat on", lang="en",
               source="s", n_chars=22)]
    )
    monkeypatch.setattr(textstats, "load_table", lambda spark_, sf, name: docs)
    by_doc = {
        r["doc_id"]: r["avg_surprisal"]
        for r in textstats.quality_bigram_surprisal(spark, "unused").collect()
    }
    # the weird doc's bigrams are 1-in-many continuations of frequent
    # unigrams -> strictly more surprising than the formulaic copies
    assert by_doc[9] > by_doc[0]
    assert by_doc[0] == by_doc[4]  # identical docs score identically


def test_power_iteration_matches_numpy_top_eigvec(spark, sf_dir):
    """The 4-iteration power method must already align closely with
    numpy's exact top eigenvector of X^T X (embeddings are low-rank-ish),
    and the emitted vector must be unit length."""
    import numpy as np

    from eecs485_p4_mapreduce_spark.operators.linalg import (
        embedding_top_pc_power_iteration,
    )
    from eecs485_p4_mapreduce_spark.sources import load_table

    rows = embedding_top_pc_power_iteration(spark, sf_dir).collect()
    v = np.array([r["component"] for r in sorted(rows, key=lambda r: r["d"])])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    X = np.array(
        [r["embedding"] for r in load_table(spark, sf_dir, "embeddings").collect()],
        dtype=np.float64,
    )
    # independent reimplementation: same 4 iterations in numpy (different
    # summation order -> tiny drift; the oracle pins the exact arithmetic,
    # this pins the ALGORITHM against a second implementation)
    ref = np.ones(X.shape[1])
    sigma_ref = 0.0
    for _ in range(4):
        s = X.T @ (X @ ref)
        sigma_ref = float(np.linalg.norm(s))
        ref = s / sigma_ref
    assert abs(float(v @ ref)) > 0.9999, abs(float(v @ ref))
    sigma = rows[0]["sigma"]
    assert abs(sigma - sigma_ref) / sigma_ref < 1e-6
    # and the returned direction concentrates variance at least as well as
    # the starting direction (power steps never decrease the Rayleigh quotient)
    v0 = np.ones(X.shape[1]) / np.sqrt(X.shape[1])
    rq = lambda u: float(u @ (X.T @ (X @ u)))
    assert rq(v) >= rq(v0)


def test_lsh_literal_weights_match_sql_md5_buckets(spark, sf_dir):
    """The literal-weight bucket expression (fast path) must produce the
    exact same bucket strings as the md5-in-SQL spelling the DuckDB
    oracle uses -- same weights, same fold order, bit for bit."""
    from eecs485_p4_mapreduce_spark.functions.lshfn import bucket_expr_spark, bucket_sql
    from eecs485_p4_mapreduce_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    both = e.select(
        "vec_id",
        F.expr(bucket_sql("spark")).alias("slow"),
        F.expr(bucket_expr_spark()).alias("fast"),
    )
    assert both.filter(F.col("slow") != F.col("fast")).count() == 0


def test_mix_sampler_hits_target_shares(spark, sf_dir):
    """Over-represented languages are downsampled toward their target
    share; under-represented ones keep everything (rate clamps at 1)."""
    from eecs485_p4_mapreduce_spark.operators.mixing import _MIX, mix_sources_weighted

    rows = {r["lang"]: r for r in mix_sources_weighted(spark, sf_dir).collect()}
    assert set(rows) == set(_MIX)
    total = sum(r["n_available"] for r in rows.values())
    for lang, r in rows.items():
        assert 0 < r["n_sampled"] <= r["n_available"]
        target_n = _MIX[lang] * total
        if r["n_available"] <= target_n:
            # clamped: keep everything
            assert r["n_sampled"] == r["n_available"], lang
        else:
            # binomial(n, k/4096): within 5 sigma of the target count
            import math
            p = r["thresh"] / 4096
            sigma = math.sqrt(r["n_available"] * p * (1 - p))
            assert abs(r["n_sampled"] - r["n_available"] * p) <= 5 * sigma + 1, (lang, r)


def test_sequence_packing_conserves_and_fills(spark, sf_dir):
    """Packing must conserve every token, assign contiguous seq_ids per
    language, and fill every non-final sequence to at least
    (budget - max_doc_tokens) -- the provable floor for start-offset
    binning."""
    from eecs485_p4_mapreduce_spark.operators.mixing import (
        _SEQ_BUDGET,
        pack_sequences_greedy,
    )
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens as _tokens
    from eecs485_p4_mapreduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.size(_tokens("text")).alias("tok"))
    totals = {r["lang"]: r["t"] for r in toks.groupBy("lang").agg(F.sum("tok").alias("t")).collect()}
    max_tok = toks.agg(F.max("tok")).collect()[0][0]

    rows = pack_sequences_greedy(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(totals)
    for lang, seqs in by_lang.items():
        seqs.sort(key=lambda r: r["seq_id"])
        assert [s["seq_id"] for s in seqs] == list(range(len(seqs)))  # contiguous
        assert sum(s["tokens_packed"] for s in seqs) == totals[lang]  # conservation
        for s in seqs[:-1]:
            assert s["tokens_packed"] > _SEQ_BUDGET - max_tok, (lang, s)


def test_kmeans_matches_numpy_lloyds(spark, sf_dir):
    """The trained quantizer must match an independent numpy Lloyd's run
    with the same deterministic init and round count: identical cluster
    sizes and centroid norms (to rounding)."""
    import numpy as np

    from eecs485_p4_mapreduce_spark.operators.linalg import (
        _KM_K,
        _KM_ROUNDS,
        embedding_kmeans_ivf_train,
    )
    from eecs485_p4_mapreduce_spark.sources import load_table

    rows = {r["k"]: r for r in embedding_kmeans_ivf_train(spark, sf_dir).collect()}
    e = sorted(
        (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        for r in load_table(spark, sf_dir, "embeddings").collect()
    )
    X = np.vstack([v for _, v in e])
    C = X[:_KM_K].copy()
    for _ in range(_KM_ROUNDS):
        d2 = -2 * X @ C.T + (C * C).sum(axis=1)  # argmin of dist ~ ties on k
        a = np.argmin(d2, axis=1)
        C = np.vstack([X[a == k].mean(axis=0) for k in range(_KM_K)])
    a = np.argmin(-2 * X @ C.T + (C * C).sum(axis=1), axis=1)
    for k in range(_KM_K):
        assert rows[k]["n_points"] == int((a == k).sum()), k
        assert abs(rows[k]["centroid_sq_norm"] - float(C[k] @ C[k])) < 1e-4, k
    # every list is non-empty -- the quantizer is usable for IVF probing
    assert all(rows[k]["n_points"] > 0 for k in range(_KM_K))


def test_ivf_trained_recall_vs_bruteforce(spark, sf_dir):
    """Trained-IVF search (nprobe=1) returns exact cosines for whatever
    it returns (subset correctness vs brute force), and recall@5 against
    the brute-force ground truth clears a floor -- with only 8 lists and
    self-inclusive assignment the query's own list holds its near
    neighbors far more often than chance."""
    from eecs485_p4_mapreduce_spark.operators.linalg import knn_ivf_trained
    from eecs485_p4_mapreduce_spark.operators.similarity import knn_cosine

    ivf = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in knn_ivf_trained(spark, sf_dir).collect()}
    brute = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in knn_cosine(spark, sf_dir).collect()}
    agree = set(ivf) & set(brute)
    for kpair in agree:
        assert abs(ivf[kpair] - brute[kpair]) < 1e-9
    assert len(agree) / len(brute) > 0.2, len(agree) / len(brute)


def test_semdedup_invariants(spark, sf_dir):
    """SemDeDup (round 4): the lowest vec_id of every cluster is always
    kept (it has no earlier member), kept is exactly the thresholded
    max-cos predicate, and every embedding row appears exactly once."""
    from eecs485_p4_mapreduce_spark.operators.semdedup import (
        _SEM_T,
        dedup_semdedup_clusters,
    )
    from eecs485_p4_mapreduce_spark.sources import load_table

    rows = dedup_semdedup_clusters(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_emb
    first_per_cluster = {}
    for r in rows:
        k, vid = r["k"], r["vec_id"]
        if k not in first_per_cluster or vid < first_per_cluster[k]:
            first_per_cluster[k] = vid
    for r in rows:
        if r["vec_id"] == first_per_cluster[r["k"]]:
            assert r["kept"] and r["max_cos_earlier"] is None, r
        mc = r["max_cos_earlier"]
        assert r["kept"] == (mc is None or mc <= _SEM_T), r


def test_countmin_never_undercounts(spark, sf_dir):
    """Count-Min (round 4): the sketch estimate is >= the exact count for
    every probed token (the deterministic CM guarantee) and the eps-N
    audit flag holds on this corpus."""
    from eecs485_p4_mapreduce_spark.operators.semdedup import (
        _CM_TOP,
        sketch_countmin_heavy_hitters,
    )

    rows = sketch_countmin_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == _CM_TOP
    for r in rows:
        assert r["cm_est"] >= r["exact_cnt"], r
        assert r["within_bound"], r


def test_generator_outer_keeps_empty_array_rows(spark, sf_dir):
    """posexplode_outer emits one all-NULL row per empty array (orderkey
    % 3 == 0) and m rows for m-element arrays -- no parent row dropped."""
    from eecs485_p4_mapreduce_spark.operators.relational7 import generator_fns

    rows = generator_fns(spark, sf_dir).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["o_orderkey"], []).append(r)
    for key, rs in by_key.items():
        m = key % 3
        if m == 0:
            assert len(rs) == 1 and rs[0]["pos"] is None and rs[0]["val"] is None
        else:
            assert len(rs) == m and sorted(r["val"] for r in rs) == list(
                range(1, m + 1)
            )


def test_bpe_merge_step_greedy_left_to_right(spark, monkeypatch):
    """The BPE merge must apply greedily left-to-right, non-overlapping:
    in 'a a a a a' with top pair (a, a), positions 0-1 and 2-3 merge and
    the trailing 'a' survives -- 2 merged tokens + 1 bare token per doc.
    (Counts are scaled by 6 docs to clear the n >= 5 floor.)"""
    from pyspark.sql import Row

    from eecs485_p4_mapreduce_spark.operators import textstats

    text = "a a a a a"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))
         for i in range(6)]
    )
    monkeypatch.setattr(textstats, "load_table", lambda spark_, sf, name: docs)
    rows = {r["token"]: (r["n"], r["is_merged"])
            for r in textstats.token_bpe_merge_step(spark, "unused").collect()}
    assert rows["a a"] == (12, True)   # 2 greedy merges x 6 docs
    assert rows["a"] == (6, False)     # the odd trailing token survives


def test_observation_metrics_ride_the_query(spark, sf_dir):
    """The Observation API (df.observe) must deliver accurate in-flight
    metrics without a second scan: rows-seen and revenue observed on the
    scan equal independently-computed values, while the observed query
    itself returns its own (different) result."""
    from pyspark.sql import Observation

    from eecs485_p4_mapreduce_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("scan_audit")
    out = (
        li.observe(
            obs,
            F.count(F.lit(1)).alias("rows_seen"),
            F.sum(F.col("l_extendedprice").cast("decimal(30,4)")).alias("rev"),
        )
        .filter(F.col("l_quantity") > 25)
        .groupBy("l_returnflag")
        .count()
        .collect()
    )
    assert len(out) > 0
    got = obs.get
    assert got["rows_seen"] == li.count()
    exact = li.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(30,4)")).alias("r")
    ).collect()[0]["r"]
    assert got["rev"] == exact


def test_bpe_train_3merges_is_hierarchical(spark, monkeypatch):
    """Three training rounds must merge hierarchically: on 'x y' * 8,
    round 1 builds 'x y', round 2 merges pairs of those into 4-word
    tokens, round 3 into 8-word tokens -- 2 per doc survive."""
    from pyspark.sql import Row

    from eecs485_p4_mapreduce_spark.operators import textstats

    text = ("x y " * 8).strip()
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))
         for i in range(6)]
    )
    monkeypatch.setattr(textstats, "load_table", lambda spark_, sf, name: docs)
    rows = {r["token"]: (r["n"], r["n_words"])
            for r in textstats.token_bpe_train_3merges(spark, "unused").collect()}
    eight = "x y x y x y x y"
    assert rows[eight] == (12, 8)   # 2 per doc x 6 docs
    assert len(rows) == 1           # everything merged into the 8-word token


def test_kcore_fixed_rounds_converged(spark, sf_dir):
    """graph_kcore_2core runs a FIXED 6 peeling rounds for cross-engine
    determinism; this pins that 6 rounds is enough to fully converge at
    test scale (one more peel removes nothing), so the output is the
    true 2-core, not a truncation artifact."""
    from pyspark.sql import functions as F

    # plans first: it finalizes the operators package load order (dedup
    # before graph); importing operators.dedup directly here would hit
    # the registry's circular-import edge.
    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from eecs485_p4_mapreduce_spark.operators.dedup import _minhash_banded
    from eecs485_p4_mapreduce_spark.operators.graph import _KCORE_K
    from eecs485_p4_mapreduce_spark.sources import load_table

    core = REGISTRY["graph_kcore_2core"].fn(spark, sf_dir)
    # one more peel over the claimed core must keep every node
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _, sig = _minhash_banded(docs)
    left = sig.select("doc_id", "b", "band_hash")
    edges = (
        left.alias("x")
        .join(left.alias("y"), ["b", "band_hash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .distinct()
    )
    nodes = core.select("doc_id")
    surviving_edges = (
        edges.join(nodes.withColumnRenamed("doc_id", "da"), "da")
        .join(nodes.withColumnRenamed("doc_id", "db"), "db")
    )
    deg = (
        surviving_edges.select(F.col("da").alias("doc_id"))
        .unionAll(surviving_edges.select(F.col("db").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("deg"))
    )
    assert deg.filter(F.col("deg") < _KCORE_K).count() == 0


def test_epoch_budget_allocations_sum_exactly(spark, sf_dir):
    """Largest-remainder apportionment conservation: the per-source
    allocations must sum to EXACTLY the budget (the property naive
    floor- or round-based splits violate)."""
    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from eecs485_p4_mapreduce_spark.operators.mixing import _BUDGET

    rows = REGISTRY["mix_epoch_token_budget"].fn(spark, sf_dir).collect()
    assert sum(r.alloc_tokens for r in rows) == _BUDGET
    assert all(r.alloc_tokens >= 0 for r in rows)


def test_curation_funnel_monotone(spark, sf_dir):
    """Every curation stage can only shrink the corpus: docs and tokens
    must be non-increasing along the funnel, and no stage may go
    negative or reorder."""
    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    rows = {
        r.stage: r
        for r in REGISTRY["pipeline_curation_end_to_end"].fn(spark, sf_dir).collect()
    }
    order = ["s0_raw", "s1_lang_length", "s2_exact_dedup", "s3_near_dedup", "s4_mixed"]
    assert set(rows) == set(order)
    for a, b in zip(order, order[1:]):
        assert rows[b].n_docs <= rows[a].n_docs, (a, b)
        assert rows[b].total_tokens <= rows[a].total_tokens, (a, b)


def test_soft_dedup_weights_bounds(spark, sf_dir):
    """weight_bp = 10000 div (1+partners): docs with no near-dup
    partner keep full weight; every weight lies in (0, 10000]; one row
    per document."""
    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from eecs485_p4_mapreduce_spark.sources import load_table

    rows = REGISTRY["dedup_soft_weights"].fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        assert 0 < r.weight_bp <= 10000
        if r.n_partners == 0:
            assert r.weight_bp == 10000


def test_rag_index_chunk_conservation(spark, sf_dir):
    """The RAG index's bucket occupancy must account for every chunk
    the chunker produces: sum(n_chunks) over buckets == number of
    sliding windows over the corpus (no chunk silently dropped by the
    embedding or bucketing stages)."""
    from pyspark.sql import functions as F
    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens
    from eecs485_p4_mapreduce_spark.operators.pipeline import (
        _RAG_CHUNK,
        _RAG_STRIDE,
    )
    from eecs485_p4_mapreduce_spark.sources import load_table

    rows = REGISTRY["pipeline_rag_index_build"].fn(spark, sf_dir).collect()
    expected = (
        load_table(spark, sf_dir, "documents")
        .select(F.size(tokens("text")).alias("nt"))
        .select(
            F.expr(
                f"size(sequence(1, greatest(nt - {_RAG_CHUNK - 1}, 1),"
                f" {_RAG_STRIDE}))"
            ).alias("k")
        )
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    assert sum(r.n_chunks for r in rows) == expected
    assert all(0 <= r.bucket < 16 for r in rows)


def test_ntile_from_rank_matches_native_ntile(spark):
    """The ANSI tile-size arithmetic in functions/ranking.py must agree
    with Spark's own ntile() for every (n, tiles) shape — including the
    n < tiles edge where the ELSE branch would divide by q=0 if the
    CASE didn't short-circuit."""
    from pyspark.sql import Window

    from eecs485_p4_mapreduce_spark.functions.ranking import ntile_from_rank

    for n, tiles in [(1, 4), (3, 4), (4, 4), (10, 4), (10, 3), (55, 7), (100, 10)]:
        df = spark.range(1, n + 1).select(
            F.col("id").alias("k"),
            F.lit(n).alias("n"),
        )
        got = df.select(
            "k", ntile_from_rank("k", "n", tiles).alias("t")
        )
        want = df.select(
            "k", F.ntile(tiles).over(Window.orderBy("k")).alias("t")
        )
        g = {r["k"]: r["t"] for r in got.collect()}
        w = {r["k"]: r["t"] for r in want.collect()}
        assert g == w, (n, tiles)


def test_with_global_rank_matches_row_number(spark):
    """Partition-offset global rank == row_number over the same ordering,
    independent of where the sampled range boundaries fall."""
    from pyspark.sql import Window

    from eecs485_p4_mapreduce_spark.functions.ranking import with_global_rank

    df = spark.range(0, 500).select(
        (F.col("id") * 37 % 101).alias("v"), F.col("id").alias("tid")
    )
    ranked = with_global_rank(df, ["v", "tid"], sum_col="v")
    got = {(r["v"], r["tid"]): (r["_rk"], r["_n"], r["_cum"], r["_tot"])
           for r in ranked.collect()}
    w = Window.orderBy("v", "tid")
    want_rows = df.select(
        "v", "tid",
        F.row_number().over(w).alias("rk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    ).collect()
    for r in want_rows:
        rk, n, cum, tot = got[(r["v"], r["tid"])]
        assert rk == r["rk"] and n == 500 and cum == r["cum"], r


def test_with_running_max_matches_window_hwm(spark):
    """Partition-offset running max == max() OVER (PARTITION BY grp
    ORDER BY seq ROWS UNBOUNDED PRECEDING..CURRENT), for both the
    grouped and the ungrouped (global) shape."""
    from pyspark.sql import Window

    from eecs485_p4_mapreduce_spark.functions.ranking import with_running_max

    df = spark.range(0, 400).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        F.col("id").alias("seq"),
        (F.col("id") * 73 % 157).alias("v"),
    )
    got = with_running_max(df, ["seq"], "v", partition_cols=["grp"])
    gmap = {(r["grp"], r["seq"]): r["_runmax"] for r in got.collect()}
    w = (
        Window.partitionBy("grp")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for r in df.withColumn("hwm", F.max("v").over(w)).collect():
        assert gmap[(r["grp"], r["seq"])] == r["hwm"], r
    # ungrouped: one global high-water mark series
    got_g = with_running_max(df, ["seq"], "v")
    ggmap = {r["seq"]: r["_runmax"] for r in got_g.collect()}
    wg = Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    for r in df.withColumn("hwm", F.max("v").over(wg)).collect():
        assert ggmap[r["seq"]] == r["hwm"], r
    # exclusive (strict-predecessor) form: NULL for the first row, and
    # equal to max() over ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    got_x = with_running_max(df, ["seq"], "v", inclusive=False)
    gxmap = {r["seq"]: r["_runmax"] for r in got_x.collect()}
    wx = Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, -1)
    for r in df.withColumn("hwm", F.max("v").over(wx)).collect():
        assert gxmap[r["seq"]] == r["hwm"], r


def test_minhash_signature_cache_shared_across_queries(spark, sf_dir, monkeypatch):
    """Every minhash-family query in a session reads the SAME stored
    signature table: once published, a call runs no signature build and
    plans a parquet scan of the published location.  A store regression
    re-introduces the ~5s-per-query signature rebuild the bench tail
    used to pay."""
    from eecs485_p4_mapreduce_spark.functions import modelstore
    from eecs485_p4_mapreduce_spark.functions.memo import mtime_token
    from eecs485_p4_mapreduce_spark.operators import dedup

    dedup.minhash_signatures(spark, sf_dir)  # may build (first use)
    monkeypatch.setattr(
        dedup, "_minhash_banded", lambda *a: pytest.fail("signatures rebuilt")
    )
    sig, _ = dedup.minhash_signatures(spark, sf_dir)
    loc = modelstore.model_location(
        spark,
        modelstore.loader_tag("minhash_sigs", dedup.load_table),
        sf_dir,
        mtime_token(sf_dir, "documents"),
    )
    assert "FileScan parquet" in sig._jdf.queryExecution().executedPlan().toString()
    files = sig.inputFiles()
    assert files and all(loc in f for f in files)


def test_unkeyable_corpus_pins_frame_and_publishes_nothing(
    spark, tmp_path, monkeypatch
):
    """An injected corpus (monkeypatched loader, no readable mtime under
    ``sf_dir``) cannot key the store: the derived frame is built and
    pinned once with ``modelstore.pin``, and nothing is published."""
    from eecs485_p4_mapreduce_spark.functions import modelstore
    from eecs485_p4_mapreduce_spark.operators import dedup

    wh = tmp_path / "wh"
    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(wh))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} of the injected corpus",
             lang="en", source="s", n_chars=40) for i in range(4)]
    )
    monkeypatch.setattr(dedup, "load_table", lambda spark_, sf, name: docs)
    sig, _ = dedup.minhash_signatures(spark, "unused")
    assert sig.count() == 4
    assert "LogicalRDD" in sig._jdf.queryExecution().analyzed().toString()
    assert not wh.exists() or not list(wh.iterdir())


def test_store_location_depends_on_loader(spark, sf_dir, tmp_path, monkeypatch):
    """The same ``sf_dir`` read through a different loader resolves to a
    different store location, so a monkeypatched loader can neither
    read nor overwrite the real corpus's stored frame."""
    from eecs485_p4_mapreduce_spark.functions import modelstore
    from eecs485_p4_mapreduce_spark.operators import dedup

    wh = tmp_path / "wh"
    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(wh))
    dedup.minhash_signatures(spark, sf_dir)
    first = {p.name for p in wh.iterdir()}
    real = dedup.load_table
    monkeypatch.setattr(dedup, "load_table", lambda *a: real(*a))
    dedup.minhash_signatures(spark, sf_dir)
    second = {p.name for p in wh.iterdir()} - first
    assert len(first) == 1 and len(second) == 1
    (a,), (b,) = first, second
    assert a.startswith("sg_model_minhash_sigs_")
    assert b.startswith("sg_model_minhash_sigs_") and a != b


def test_url_canonicalization_collapses_variants(spark):
    """dedup_url_canonical's rewrite chain: every synthesized variant
    shape (tracking params leading/trailing, host case, explicit :443,
    trailing slash, fragment) must land on the SAME canonical URL —
    pinned on literals so a chain reorder can't regress to a state
    where both engines are identically wrong (the bug this test was
    written against: stripping a leading utm param ate the '?')."""
    import pyspark.sql.functions as F

    from eecs485_p4_mapreduce_spark.operators.dedup import _url_canon_spark

    cases = [
        ("https://site7.example.com/page/7?id=7",
         "https://site7.example.com/page/7?id=7"),
        ("https://SITE7.Example.COM:443/page/7/?id=7&utm_source=feed",
         "https://site7.example.com/page/7?id=7"),
        ("https://site7.example.com/page/7?utm_campaign=x&id=7#frag",
         "https://site7.example.com/page/7?id=7"),
        # lone tracking param: whole query goes, then the bare slash
        ("https://a.example.org/x/?utm_only=1", "https://a.example.org/x"),
        # utm between two kept params strips cleanly
        ("https://a.example.org/x?id=1&utm_x=2&z=3",
         "https://a.example.org/x?id=1&z=3"),
        # TWO leading utm params: the run is consumed in one match —
        # a non-rescanning replace must not leave '?utm_b' to step 5
        # (which would strip the whole query and weld '&id=3' to the path)
        ("https://a.example.org/p?utm_a=1&utm_b=2&id=3",
         "https://a.example.org/p?id=3"),
        # all-utm query: leading run eats all but the last, step 5 the rest
        ("https://a.example.org/p?utm_a=1&utm_b=2",
         "https://a.example.org/p"),
        # :4433 is NOT the default port — the anchored :443 must not
        # backtrack into it and corrupt the host
        ("https://h.example.com:4433/p", "https://h.example.com:4433/p"),
        # :443 at end-of-authority with no path still strips
        ("https://h.example.com:443", "https://h.example.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"] for r in df.select(
            _url_canon_spark(F.col("url")).alias("c")
        ).collect()
    ]
    assert got == [want for _, want in cases], got


def test_bpe_encode_frozen_table_no_recount(spark, monkeypatch):
    """Encode must apply the FROZEN merge table in priority order
    without re-counting: on 'a b c a b c a b' the table ranked on the
    original stream is (a,b)=3, (b,c)=2, (c,a)=2; after merge 1 the
    stream is [ab, c, ab, c, ab] and merges 2/3 find no (b,c)/(c,a)
    adjacency among the surviving singles -- 8 tokens encode to 5.
    (Hierarchical TRAINING would instead re-count and merge (ab, c).)"""
    from pyspark.sql import Row

    from eecs485_p4_mapreduce_spark.operators import textstats

    text = "a b c a b c a b"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))
         for i in range(3)]
    )
    monkeypatch.setattr(textstats, "load_table", lambda spark_, sf, name: docs)
    rows = textstats.token_bpe_encode(spark, "unused").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_docs"], r["tokens_before"], r["tokens_after"]) == (3, 24, 15)
    assert r["compression"] == 0.625


def test_bitext_margin_mutual_best_pairs(spark, monkeypatch):
    """Hand-computed 2-D margin fixture: x1=(1,0), x2=(0,1) vs
    y1=(1,0), y2=(0.6,0.8).  Margins (k=4 constant divisor):
    (x1,y1)=2*1/(0.4+0.25), (x2,y2)=2*0.8/(0.2+0.35); mutual-best must
    keep exactly those two pairs."""
    from pyspark.sql import Row

    from eecs485_p4_mapreduce_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0], label=0),
            Row(vec_id=1, embedding=[0.0, 1.0], label=0),
            Row(vec_id=10, embedding=[1.0, 0.0], label=1),
            Row(vec_id=11, embedding=[0.6, 0.8], label=1),
        ]
    )
    monkeypatch.setattr(similarity, "load_table", lambda spark_, sf, name: vecs)
    rows = {
        (r["src_id"], r["tgt_id"]): r["margin"]
        for r in similarity.bitext_margin_mining(spark, "unused").collect()
    }
    assert set(rows) == {(0, 10), (1, 11)}
    assert abs(rows[(0, 10)] - round(2 * 1.0 / (0.4 + 0.25), 6)) < 1e-9
    assert abs(rows[(1, 11)] - round(2 * 0.8 / (0.2 + 0.35), 6)) < 1e-9


def test_url_filter_shapes_map_to_rules(spark, monkeypatch):
    """Each synthesized URL shape must trip exactly its own rule:
    doc 0 passes, doc 1 fails depth, doc 2 fails params, doc 3 fails
    the host blocklist."""
    from pyspark.sql import Row

    from eecs485_p4_mapreduce_spark.operators import corpus

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="x", lang="en", source="s", n_chars=1)
         for i in range(4)]
    )
    monkeypatch.setattr(corpus, "load_table", lambda spark_, sf, name: docs)
    r = corpus.quality_url_filters(spark, "unused").collect()[0]
    assert (r["n_urls"], r["n_fail_depth"], r["n_fail_params"],
            r["n_fail_blocklist"], r["n_pass"]) == (4, 1, 1, 1, 1)


def test_epoch_pack_pipeline_conserves_tokens_and_mix(spark, sf_dir):
    """pipeline_epoch_pack_end_to_end's composition contracts beyond the
    oracle hash: (1) token conservation — the packer's global
    total_tokens equals the kept-set token sum computed independently
    from the raw table; (2) the per-source doc counts equal
    mix_sources_weighted's n_sampled (stage 1 composes unchanged);
    (3) merged slots are a permutation: per-lang first_pos >= 1 and
    sum(n_docs) equals the max slot count implied by the totals."""
    from pyspark.sql import functions as F

    import eecs485_p4_mapreduce_spark.plans  # noqa: F401 (registry first:
    # a direct mixing import would hit the plans-package init cycle)
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens
    from eecs485_p4_mapreduce_spark.operators.mixing import (
        _BUCKETS,
        _HEX3,
        _MIX_CASE,
        mix_sources_weighted,
    )
    from eecs485_p4_mapreduce_spark.operators.pipeline import (
        pipeline_epoch_pack_end_to_end,
    )
    from eecs485_p4_mapreduce_spark.sources import load_table

    out = {r["lang"]: r for r in pipeline_epoch_pack_end_to_end(spark, sf_dir).collect()}
    mix = {r["lang"]: r for r in mix_sources_weighted(spark, sf_dir).collect()}
    assert set(out) == set(mix)
    for lang, r in out.items():
        assert r["n_docs"] == mix[lang]["n_sampled"], lang
        assert r["first_pos"] >= 1

    # independent kept-set token sum straight off the raw table
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    total = docs.agg(F.count("*").alias("n_total"))
    rates = counts.crossJoin(F.broadcast(total)).withColumn(
        "thresh",
        F.expr(
            f"cast(floor(least(1.0, (CASE lang {_MIX_CASE} ELSE 0.0 END)"
            f" * n_total / n_lang) * {_BUCKETS}) as bigint)"
        ),
    )
    kept_tok = (
        docs.join(F.broadcast(rates), "lang")
        .filter(F.expr(_HEX3["spark"]) < F.col("thresh"))
        .agg(F.sum(F.size(tokens("text"))).alias("s"))
        .collect()[0]["s"]
    )
    totals = {r["total_tokens"] for r in out.values()}
    assert totals == {kept_tok}
    assert sum(r["tokens"] for r in out.values()) == kept_tok


def test_ppswor_small_corpus_returns_whole_corpus(spark, tmp_path):
    """Round-10 ADVICE: a priority sample of a corpus with <= k
    documents must be the corpus itself with ht_weight = n_chars
    (tau falls back to 0 via the 1-row COALESCE aggregate), never
    zero rows — the old bare (k+1)-th-priority filter produced an
    empty tau frame whose cross join annihilated the sample."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    spec = REGISTRY["sample_ppswor_priority"]

    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "text": ["a", "bb", "ccc", "dddd", "eeeee"],
            "lang": ["en"] * 5,
            "source": ["web"] * 5,
            "n_chars": pa.array([1, 2, 3, 4, 5], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    rows = spec.fn(spark, str(tmp_path)).collect()
    assert len(rows) == 5
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id) == {1, 2, 3, 4, 5}
    for r in rows:
        assert r["ht_weight"] == r["w_chars"]  # max(w, tau=0) = w
        assert r["est_total_chars"] == 15 == r["total_chars"]
    # the DuckDB twin renders the identical degenerate sample
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet'"
    )
    drows = con.sql(spec.oracle).fetchall()
    assert len(drows) == 5


def test_asof_forward_same_ts_click_ties_deterministic(spark, tmp_path):
    """Round-10 ADVICE: two same-user clicks at an IDENTICAL timestamp
    must resolve to MIN(event_id) — the DESC-cumulative rewrite is
    frame-equivalent only when (ts, is_click) is total per user, so
    clicks are deduped to min event_id per (user_id, ts) before the
    union (the join_asof_nearest discipline)."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    fwd = REGISTRY["join_asof_forward"].fn

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)
    t1 = _dt.datetime(2024, 1, 1, 12, 5, 0)
    ev = pa.table(
        {
            "event_id": pa.array([10, 99, 42, 7], pa.int64()),
            "ts": pa.array([t0, t1, t1, t0], pa.timestamp("us")),
            "user_id": pa.array([1, 1, 1, 2], pa.int64()),
            "event_type": ["purchase", "click", "click", "purchase"],
            "value": pa.array([5.0, 0.0, 0.0, 3.0], pa.float64()),
            "props": ["{}"] * 4,
        }
    )
    pq.write_table(ev, tmp_path / "events.parquet")
    rows = {
        r["purchase_id"]: r
        for r in fwd(spark, str(tmp_path)).collect()
    }
    assert rows[10]["next_click_id"] == 42  # min(99, 42) at identical ts
    assert rows[7]["next_click_id"] is None  # user 2 never clicks


def test_frame_store_extra_tables_fold_into_key(spark, tmp_path, monkeypatch):
    """Round-10 ADVICE: a derived frame reading TWO source tables must
    miss the cache when EITHER is regenerated — graph_hits_bipartite's
    edge set keys on lineitem + orders via ``extra_tables``.  Also pins
    that single-table callers keep the raw mtime token (their published
    locations stay valid across this change)."""
    import shutil as _sh
    import time as _t

    from eecs485_p4_mapreduce_spark.functions import modelstore

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path))
    d1 = tmp_path / "corpus"
    d1.mkdir()
    for t in ("lineitem", "orders"):
        _sh.copy(
            f"/root/testdata/sf0.001/{t}.parquet", d1 / f"{t}.parquet"
        )
    builds = []

    def build():
        builds.append(1)
        return spark.range(4).selectExpr("id AS c", "id + 1 AS p")

    def go():
        return modelstore.load_or_build_frame(
            spark, "tmulti", str(d1), "lineitem", "c bigint, p bigint",
            build, extra_tables=("orders",),
        )

    assert go().count() == 4 and builds == [1]
    assert go().count() == 4 and builds == [1]  # hit
    # regenerate ONLY orders (lineitem untouched) -> must rebuild
    _t.sleep(0.01)
    _sh.copy("/root/testdata/sf0.001/orders.parquet", d1 / "orders.parquet")
    assert go().count() == 4 and builds == [1, 1]
    # single-table key is the raw token: location matches mtime_token
    from eecs485_p4_mapreduce_spark.functions.memo import mtime_token

    modelstore.load_or_build_frame(
        spark, "tsingle", str(d1), "lineitem", "c bigint, p bigint", build
    )
    tok = mtime_token(str(d1), "lineitem")
    loc = modelstore.model_location(spark, "tsingle", str(d1), tok)
    import os as _os

    assert _os.path.exists(_os.path.join(loc, "_SUCCESS"))


def test_decontam_mix_funnel_is_monotone_and_conserves(spark, sf_dir):
    """pipeline_decontam_mix_select's funnel must be monotone per
    language (mixed <= selected <= clean <= raw) with mix_tokens <=
    sel_tokens, and the clean count must equal an independent
    raw-minus-victims recount through the standalone contamination
    query's victim set."""
    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from eecs485_p4_mapreduce_spark.sources import load_table

    rows = {
        r["lang"]: r
        for r in REGISTRY["pipeline_decontam_mix_select"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert rows
    for lang, r in rows.items():
        assert (
            r["n_mixed"] <= r["n_selected"] <= r["n_clean"] <= r["n_raw"]
        ), (lang, r)
        assert r["mix_tokens"] <= r["sel_tokens"], (lang, r)
    # independent recount of the decontamination stage
    from pyspark.sql import functions as F

    from eecs485_p4_mapreduce_spark.operators.dedup import (
        _BENCH_IDS,
        _NGRAM,
        _token_windows,
    )
    from eecs485_p4_mapreduce_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id").isin(*_BENCH_IDS)).select(
        F.slice(tokens("text"), 5, 16).alias("tk")
    )
    bg = bench.select(
        F.explode(
            F.expr(
                f"transform(slice(sequence(0, size(tk)), 2,"
                f" greatest(size(tk) - {_NGRAM - 1}, 0)), i ->"
                f" md5(array_join(slice(tk, i, {_NGRAM}), ' ')))"
            )
        ).alias("h")
    ).distinct()
    victims = (
        _token_windows(spark, sf_dir)
        .join(F.broadcast(bg), "h")
        .select("doc_id", )
        .distinct()
    )
    nv = {
        r["lang"]: r["nv"]
        for r in docs.join(victims, "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("nv"))
        .collect()
    }
    for lang, r in rows.items():
        assert r["n_clean"] == r["n_raw"] - nv.get(lang, 0), (lang, r, nv)


def test_neyman_largest_remainder_invariants_under_ties(spark, tmp_path):
    """Round-10 VERDICT item 7: sample_neyman_allocation's
    largest-remainder invariant pinned directly on the PRODUCTION query
    (not just via the oracle match), under adversarial sigma ties and
    the all-constant (sigma = 0 everywhere) degenerate corpus:

    - allocations sum EXACTLY to the budget;
    - every allocation is floor(B*wh/tot) or floor+1 (largest-remainder
      never drifts further);
    - ties in the remainder break by lang, so identical strata get the
      +1 in lang order;
    - the DuckDB twin renders the identical rows (canon hash-match on
      the injected corpus)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from tools.canon import canon as _canon

    spec = REGISTRY["sample_neyman_allocation"]
    BUDGET = 1000

    # three corpora: (a) 5 identical strata -> all weights tie, every
    # remainder ties, +1s must land in lang order; (b) mixed with two
    # exactly-tied strata among unequal ones; (c) all-constant values
    # -> sigma 0 everywhere -> proportional fallback
    cases = {
        "tied": [("l%d" % i, v) for i in range(5) for v in (10, 20, 30)],
        "mixed": (
            [("aa", v) for v in (5, 50, 500)]
            + [("bb", v) for v in (5, 50, 500)]      # exact tie with aa
            + [("cc", v) for v in (1, 2, 3, 4, 5, 6)]
            + [("dd", v) for v in (1000, 2000)]
        ),
        "allconst": [("l%d" % i, 7) for i in range(4) for _ in range(i + 1)],
    }
    for name, rows in cases.items():
        d = tmp_path / name
        d.mkdir()
        docs = pa.table(
            {
                "doc_id": pa.array(range(1, len(rows) + 1), pa.int64()),
                "text": ["x" * v for _, v in rows],
                "lang": [lang for lang, _ in rows],
                "source": ["web"] * len(rows),
                "n_chars": pa.array([v for _, v in rows], pa.int64()),
            }
        )
        pq.write_table(docs, d / "documents.parquet")
        sdf = spec.fn(spark, str(d))
        got = sdf.collect()
        assert sum(r["n_alloc"] for r in got) == BUDGET, name
        # recompute the exact fractional allocation in Python ints
        tot = sum(r["weight"] for r in got)
        assert tot > 0, name  # the sigma=0 fallback keeps tot positive
        rem = {}
        for r in got:
            base = (BUDGET * r["weight"]) // tot
            assert r["n_alloc"] in (base, base + 1), (name, r)
            rem[r["lang"]] = BUDGET * r["weight"] - base * tot
        # largest-remainder with lang tie-break: the +1 set must be the
        # top-leftover strata under (rem DESC, lang ASC)
        leftover = BUDGET - sum((BUDGET * r["weight"]) // tot for r in got)
        order = sorted(got, key=lambda r: (-rem[r["lang"]], r["lang"]))
        plus = {r["lang"] for r in order[:leftover]}
        for r in got:
            base = (BUDGET * r["weight"]) // tot
            assert r["n_alloc"] == base + (1 if r["lang"] in plus else 0), (
                name,
                r,
            )
        if name == "allconst":
            assert all(r["sigma"] == 0.0 for r in got)
        # cross-engine: the DuckDB twin hash-matches on this corpus
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{d}/documents.parquet'"
        )
        rel = con.sql(spec.oracle)
        s_canon, s_cols = _canon(got, sdf.columns)
        d_canon, d_cols = _canon(rel.fetchall(), rel.columns)
        assert s_cols == d_cols and s_canon == d_canon, name


def test_model_card_matches_standalone_evals(spark, sf_dir):
    """eval_model_card claims hash-consistency with each standalone
    readout 'by construction' — pin it: every card number must equal
    the same figure from eval_auc_roc / eval_ece_mce /
    eval_brier_decomposition / eval_brier_resolution_q4 on the same
    corpus."""
    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    card = REGISTRY["eval_model_card"].fn(spark, sf_dir).collect()[0]
    auc = REGISTRY["eval_auc_roc"].fn(spark, sf_dir).collect()[0]
    ece = REGISTRY["eval_ece_mce"].fn(spark, sf_dir).collect()[0]
    brier = REGISTRY["eval_brier_decomposition"].fn(spark, sf_dir).collect()[0]
    res = REGISTRY["eval_brier_resolution_q4"].fn(spark, sf_dir).collect()[0]

    assert card["auc"] == auc["auc"]
    assert card["n"] == ece["n"] == res["n"] == brier["n"]
    assert card["ece"] == ece["ece"]
    assert card["mce"] == ece["mce"]
    assert card["brier"] == brier["brier"]
    assert card["base_rate"] == brier["base_rate"] == res["base_rate"]
    assert card["resolution_q4"] == res["resolution_q4"]


def test_robust_trend_family_matches_python_recount(spark, tmp_path):
    """stats_theil_sen_daily / stats_mann_kendall_trend on an INJECTED
    event series with adversarial structure (heavy value ties, a
    calendar gap that the zero-filled spine must close, and one wild
    outlier): the Theil-Sen median slope and the Mann-Kendall S /
    tie-corrected variance must equal an independent pure-Python
    recount that follows the declared recipes (1e-6 half-up slope grid,
    nearest-rank median, doubled tie terms)."""
    import datetime as dt
    from fractions import Fraction

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    # daily counts by construction: day i gets counts[i] events
    # (day 3 intentionally empty -> spine zero-fill; day 6 an outlier)
    counts = [2, 5, 5, 0, 5, 2, 40, 2]
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for day, c in enumerate(counts):
        for j in range(c):
            rows.append(
                (
                    eid,
                    base + dt.timedelta(days=day, minutes=j),
                    100 + (eid % 3),
                    "click",
                    1.5,
                    "{}",
                )
            )
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": [r[5] for r in rows],
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")

    # python recount on the zero-filled series y = counts
    y = counts
    n = len(y)
    s6 = []
    for i in range(n):
        for j in range(i + 1, n):
            dy, dx = y[j] - y[i], j - i
            if dy >= 0:
                v = (2 * dy * 10**6 + dx) // (2 * dx)
            else:
                v = -((2 * -dy * 10**6 + dx) // (2 * dx))
            s6.append((v, i, j))
    s6.sort()
    median6 = s6[(len(s6) + 1) // 2 - 1][0]  # nearest-rank ceil(n/2)
    s_stat = sum(
        (1 if y[j] > y[i] else -1 if y[j] < y[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = Counter(y)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values()
    )

    ts_row = REGISTRY["stats_theil_sen_daily"].fn(spark, str(tmp_path)).collect()
    assert len(ts_row) == 1
    assert ts_row[0]["n_pairs"] == len(s6)
    assert ts_row[0]["slope"] == float(median6) / 10**6

    mk = REGISTRY["stats_mann_kendall_trend"].fn(spark, str(tmp_path)).collect()
    assert len(mk) == 1
    assert mk[0]["n_days"] == n
    assert mk[0]["s_stat"] == s_stat
    assert mk[0]["var_s"] == float(var18) / 18.0
    assert mk[0]["direction"] == ("up" if s_stat > 0 else "down" if s_stat < 0 else "flat")


def test_ewma_matches_python_recount_and_isotonic_monotone(spark, tmp_path, sf_dir):
    """Two declared-grid recipes verified independently:

    - resample_ewma_daily on an injected gappy series must equal a
      pure-Python recount using the SAME exact Fraction weight literals
      (truncated at the declared span, half-up 1e-6 render);
    - eval_isotonic_bins' production output must be monotone
      non-decreasing in the bin index (the minimax identity's defining
      property, pinned on the real corpus)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.operators.timeseries2 import _EWMA_W6
    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    counts = [3, 0, 0, 7, 1, 0, 9]
    base = dt.datetime(2024, 3, 1, 6, 0, 0)
    rows = []
    eid = 0
    for day, c in enumerate(counts):
        for j in range(c):
            rows.append((eid, base + dt.timedelta(days=day, minutes=j)))
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([7] * len(rows), pa.int64()),
            "event_type": ["view"] * len(rows),
            "value": pa.array([0.25] * len(rows), pa.float64()),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")

    got = {
        r["day_index"]: r["ewma"]
        for r in REGISTRY["resample_ewma_daily"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(range(len(counts)))
    for t in range(len(counts)):
        num = sum(
            counts[t - k] * _EWMA_W6[k]
            for k in range(0, min(t, len(_EWMA_W6) - 1) + 1)
        )
        den = sum(
            _EWMA_W6[k] for k in range(0, min(t, len(_EWMA_W6) - 1) + 1)
        )
        expect = float((2 * num * 10**6 + den) // (2 * den)) / 10**6
        assert got[t] == expect, t

    iso = (
        REGISTRY["eval_isotonic_bins"].fn(spark, sf_dir)
        .orderBy("bin")
        .collect()
    )
    fits = [r["iso_rate"] for r in iso]
    assert fits == sorted(fits)


def test_permutation_test_matches_python_recount(spark, tmp_path):
    """ab_permutation_test on an injected corpus: replicate the md5
    bucketing, all 16 re-randomizations, the cross-multiplied
    extremeness rule and the add-one p-value in pure Python (hashlib)
    and require exact agreement — the integer-compare spelling is the
    whole guarantee, so it gets an engine-independent witness."""
    import datetime as dt
    import hashlib
    from fractions import Fraction

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.operators.analytics import _PERM_R
    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    def bucket(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:2], 16)

    # 40 users with deliberately skewed per-user counts
    base = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    ycounts = {u: (u % 7) + 1 + (3 if u % 5 == 0 else 0) for u in range(1, 41)}
    for u, c in ycounts.items():
        for j in range(c):
            rows.append((eid, base + dt.timedelta(minutes=eid), u))
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": ["view"] * len(rows),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")

    def arms(tag_fn):
        syt = syc = nt = nc = 0
        for u, c in ycounts.items():
            if tag_fn(u):
                syt += c
                nt += 1
            else:
                syc += c
                nc += 1
        return syt, syc, nt, nc

    osyt, osyc, ont, onc = arms(lambda u: bucket(str(u)) < 128)
    d_obs = Fraction(osyt, ont) - Fraction(osyc, onc)
    extreme = 0
    for r in range(1, _PERM_R + 1):
        syt, syc, nt, nc = arms(lambda u: bucket(f"{u}:{r}") < 128)
        if nt == 0 or nc == 0:
            extreme += 1
        elif abs(Fraction(syt, nt) - Fraction(syc, nc)) >= abs(d_obs):
            extreme += 1

    got = REGISTRY["ab_permutation_test"].fn(spark, str(tmp_path)).collect()[0]
    assert got["n_treat"] == ont and got["n_control"] == onc
    assert got["n_extreme"] == extreme
    num = 2 * (1 + extreme) * 10**6 + (_PERM_R + 1)
    assert got["p_value"] == float(num // (2 * (_PERM_R + 1))) / 10**6
    dn = d_obs.numerator * 10**6 * 2
    dd = d_obs.denominator
    hu = (abs(dn) + dd) // (2 * dd) * (1 if d_obs >= 0 else -1)
    assert got["observed_diff"] == float(hu) / 10**6


def _duck_with_view(tmp_path, table):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM"
        f" '{tmp_path}/{table}.parquet'"
    )
    return con


def test_preference_pairs_skip_zero_word_docs(spark, tmp_path):
    """Round-11 ADVICE: an empty or punctuation-only document tokenizes
    to zero words, so the quality composite's denominator is 0 — the
    old spelling threw DIVIDE_BY_ZERO on the ANSI session while DuckDB
    '//' yielded NULL.  Zero-word docs are now EXCLUDED before ranking
    in both dialects; the judgeable docs still pair best-with-worst."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    spec = REGISTRY["preference_pairs_quality"]
    texts = [
        "",  # empty: 0 words
        "...!!!???",  # punctuation-only: 0 words
        "the quick brown fox jumps over the lazy dog",
        "a b c d e f g h i j k l m n o p q r s t u v",
        "plain words without any stop tokens here now",
        "of the and to is in a of the and to is in a",
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    rows = spec.fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    # 4 judgeable docs -> 2 pairs; the 2 zero-word docs never rank
    assert rows[0]["n_pairs"] == 2
    con = _duck_with_view(tmp_path, "documents")
    drows = con.sql(spec.oracle).fetchall()
    assert len(drows) == 1
    assert drows[0][1] == 2
    assert rows[0]["mean_margin"] == drows[0][4]


def test_auc_single_class_renders_null(spark, tmp_path):
    """Round-11 ADVICE: a single-class corpus (all labels < 5) has
    n_pos = 0, so the AUC/Gini denominators are 0 — both dialects must
    short-circuit to NULL via the lazy CASE instead of Spark throwing
    under ANSI while DuckDB NULLIFs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    vecs = [[0.01 * (i + j % 7) for j in range(64)] for i in range(5)]
    emb = pa.table(
        {
            "vec_id": pa.array(range(1, 6), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0, 1, 2, 3, 4], pa.int32()),
        }
    )
    pq.write_table(emb, tmp_path / "embeddings.parquet")

    spec = REGISTRY["eval_auc_roc"]
    row = spec.fn(spark, str(tmp_path)).collect()[0]
    assert row["n_pos"] == 0 and row["n_neg"] == 5
    assert row["auc"] is None and row["gini"] is None
    con = _duck_with_view(tmp_path, "embeddings")
    drow = con.sql(spec.oracle).fetchall()[0]
    assert drow[0] == 0 and drow[1] == 5
    assert drow[2] is None and drow[3] is None

    card = REGISTRY["eval_model_card"]
    crow = card.fn(spark, str(tmp_path)).collect()[0]
    assert crow["n"] == 5 and crow["auc"] is None
    assert crow["brier"] is not None and crow["ece"] is not None
    dcrow = con.sql(card.oracle).fetchall()[0]
    assert dcrow[0] == 5 and dcrow[2] is None


def test_kruskal_wallis_single_doc_null_tie_factor(spark, tmp_path):
    """Round-11 ADVICE: a 1-document corpus makes the tie factor's
    denominator N^3 - N = 0 (0/0 NaN, whose integer cast errors
    differently per engine) — c6 now short-circuits to NULL at n <= 1,
    so h_tie_corrected is NULL while h_stat still renders."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    spec = REGISTRY["stats_kruskal_wallis"]
    docs = pa.table(
        {
            "doc_id": pa.array([1], pa.int64()),
            "text": ["only one document"],
            "lang": ["en"],
            "source": ["web"],
            "n_chars": pa.array([17], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    row = spec.fn(spark, str(tmp_path)).collect()[0]
    assert row["n_groups"] == 1 and row["n"] == 1
    assert row["h_stat"] == 0.0
    assert row["h_tie_corrected"] is None
    con = _duck_with_view(tmp_path, "documents")
    drow = con.sql(spec.oracle).fetchall()[0]
    assert drow[0] == 1 and drow[1] == 1
    assert drow[2] == 0.0 and drow[3] is None


def test_ab_power_mde_single_user_renders_null(spark, tmp_path):
    """Round-11 ADVICE: a single-user corpus leaves one arm empty and
    n < 2, so var_samp's n*(n-1) and mde's 1/n_arm denominators are 0 —
    both dialects now short-circuit var_samp/mde_abs to NULL via the
    lazy CASE while n_treat/n_control/mean_y still render."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    spec = REGISTRY["ab_power_mde"]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 1, 0, m) for m in range(3)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([42, 42, 42], pa.int64()),
            "event_type": ["view"] * 3,
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": ["{}"] * 3,
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    row = spec.fn(spark, str(tmp_path)).collect()[0]
    assert row["n_treat"] + row["n_control"] == 1
    assert row["mean_y"] == 3.0
    assert row["var_samp"] is None and row["mde_abs"] is None
    con = _duck_with_view(tmp_path, "events")
    drow = con.sql(spec.oracle).fetchall()[0]
    assert drow[0] + drow[1] == 1
    assert drow[2] == 3.0
    assert drow[3] is None and drow[4] is None


def test_pr_auc_single_class_renders_null(spark, tmp_path):
    """eval_pr_auc on a single-class corpus: no positives means AP has
    no definition (n1 = 0) — NULL via lazy CASE in both dialects, with
    the base rate rendering 0 (not NULL: the corpus is non-empty)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    vecs = [[0.01 * (i + j % 5) for j in range(64)] for i in range(4)]
    emb = pa.table(
        {
            "vec_id": pa.array(range(1, 5), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0, 1, 2, 3], pa.int32()),
        }
    )
    pq.write_table(emb, tmp_path / "embeddings.parquet")
    spec = REGISTRY["eval_pr_auc"]
    row = spec.fn(spark, str(tmp_path)).collect()[0]
    assert row["n_pos"] == 0 and row["n_neg"] == 4
    assert row["avg_precision"] is None
    assert row["base_rate"] == 0.0
    con = _duck_with_view(tmp_path, "embeddings")
    drow = con.sql(spec.oracle).fetchall()[0]
    assert drow[0] == 0 and drow[1] == 4
    assert drow[2] is None and drow[3] == 0.0


def test_logrank_all_censored_renders_null(spark, tmp_path):
    """survival_logrank_test when every user is still active (V = 0 —
    no deaths anywhere): chi2 NULL via lazy CASE, e1_expected 0, and
    the arm/death counts still render."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 1
    for u in range(1, 9):
        # every user's last event is AT the corpus head (lag 0 days)
        rows.append((eid, base, u)); eid += 1
        rows.append((eid, base + dt.timedelta(hours=5), u)); eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": ["view"] * len(rows),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    spec = REGISTRY["survival_logrank_test"]
    row = spec.fn(spark, str(tmp_path)).collect()[0]
    assert row["n_g1"] + row["n_g0"] == 8
    assert row["deaths_g1"] == 0 and row["deaths_g0"] == 0
    assert row["e1_expected"] == 0.0 and row["chi2_logrank"] is None
    con = _duck_with_view(tmp_path, "events")
    drow = con.sql(spec.oracle).fetchall()[0]
    assert drow[0] + drow[1] == 8 and drow[4] == 0.0 and drow[5] is None


def test_ols_collinear_design_renders_null(spark, tmp_path):
    """ml_ols_normal_equation on a single-timestamp corpus: hour and
    dow are constants, the Gram matrix is rank-1 and det = 0 — all
    three coefficients NULL via lazy CASE in both dialects."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    t0 = dt.datetime(2024, 3, 7, 14, 30)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([t0, t0, t0], pa.timestamp("us")),
            "user_id": pa.array([1, 2, 3], pa.int64()),
            "event_type": ["view"] * 3,
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": ["{}"] * 3,
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    spec = REGISTRY["ml_ols_normal_equation"]
    row = spec.fn(spark, str(tmp_path)).collect()[0]
    assert row["n"] == 3
    assert row["beta_intercept"] is None
    assert row["beta_hour"] is None and row["beta_dow"] is None
    con = _duck_with_view(tmp_path, "events")
    drow = con.sql(spec.oracle).fetchall()[0]
    assert drow[0] == 3 and drow[1] is None and drow[2] is None


def test_ratio_delta_missing_arm_renders_null(spark, tmp_path):
    """ab_ratio_metric_delta_method with every user hashed into ONE
    arm: the missing arm's moments are NULL, so CTRs/diff/z all
    short-circuit to NULL while the arm sizes render 0/n."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.operators.sampling import _bucket256_sql
    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    import duckdb as _dd

    con0 = _dd.connect()
    bkt = _bucket256_sql("user_id").replace("AS STRING", "AS VARCHAR")
    # find user ids that all land in the SAME md5 bucket half
    uids = []
    u = 1
    while len(uids) < 4:
        (b,) = con0.sql(
            f"SELECT {bkt} FROM (SELECT {u} AS user_id)"
        ).fetchone()
        if b < 128:
            uids.append(u)
        u += 1
    rows, eid = [], 1
    base = dt.datetime(2024, 1, 1)
    for uu in uids:
        for k, et in enumerate(["view", "view", "click"]):
            rows.append((eid, base + dt.timedelta(minutes=eid), uu, et))
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    spec = REGISTRY["ab_ratio_metric_delta_method"]
    row = spec.fn(spark, str(tmp_path)).collect()[0]
    assert row["n_treat"] == 4 and row["n_control"] == 0
    assert row["ctr_treat"] is not None
    assert row["ctr_control"] is None
    assert row["diff"] is None and row["z_delta"] is None
    con = _duck_with_view(tmp_path, "events")
    drow = con.sql(spec.oracle).fetchall()[0]
    assert drow[0] == 4 and drow[1] == 0
    assert drow[3] is None and drow[4] is None and drow[5] is None


def test_unimax_waterfill_invariants(spark, tmp_path):
    """mix_unimax_waterfill allocation invariants on an injected
    corpus (the Neyman largest-remainder template): with the cap
    binding for small sources, capped sources get exactly cap, the
    uncapped split differs by at most one token, and the total is
    exactly the budget; a corpus whose caps sum below the budget
    returns alloc = cap everywhere."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from eecs485_p4_mapreduce_spark.operators.mixing import (
        _BUDGET,
        _UNIMAX_E,
    )

    spec = REGISTRY["mix_unimax_waterfill"]

    def corpus(sizes):
        texts, srcs, ids = [], [], []
        i = 1
        for s, nw in sizes.items():
            texts.append(" ".join(["w"] * nw))
            srcs.append(s)
            ids.append(i)
            i += 1
        return pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts,
                "lang": ["en"] * len(ids),
                "source": srcs,
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int64()
                ),
            }
        )

    # (a) two tiny sources (capped) + three big ones (uncapped split)
    sizes = {"tiny1": 100, "tiny2": 200, "big1": 200_000,
             "big2": 300_000, "big3": 400_000}
    pq.write_table(corpus(sizes), tmp_path / "documents.parquet")
    rows = {r["source"]: r for r in spec.fn(spark, str(tmp_path)).collect()}
    assert rows["tiny1"]["capped"] and rows["tiny1"]["alloc_tokens"] == 100 * _UNIMAX_E
    assert rows["tiny2"]["capped"] and rows["tiny2"]["alloc_tokens"] == 200 * _UNIMAX_E
    unc = [rows[s]["alloc_tokens"] for s in ("big1", "big2", "big3")]
    assert not any(rows[s]["capped"] for s in ("big1", "big2", "big3"))
    assert max(unc) - min(unc) <= 1
    assert sum(r["alloc_tokens"] for r in rows.values()) == _BUDGET
    # oracle agrees row-for-row
    con = _duck_with_view(tmp_path, "documents")
    drows = {r[0]: r for r in con.sql(spec.oracle).fetchall()}
    for s, r in rows.items():
        assert drows[s][4] == r["alloc_tokens"], s

    # (b) caps sum below the budget -> every source capped at cap
    import shutil

    d2 = tmp_path / "b"
    d2.mkdir()
    sizes2 = {"a": 50, "b": 70}
    pq.write_table(corpus(sizes2), d2 / "documents.parquet")
    rows2 = {r["source"]: r for r in spec.fn(spark, str(d2)).collect()}
    for s, nw in sizes2.items():
        assert rows2[s]["capped"]
        assert rows2[s]["alloc_tokens"] == nw * _UNIMAX_E
        assert rows2[s]["epochs_bp"] == _UNIMAX_E * 10000


def test_token_budget_allocators_zero_token_source(spark, tmp_path):
    """A source whose documents all tokenize EMPTY has n_tokens = 0:
    both budget allocators must render its epochs_bp as NULL via lazy
    CASE (the old spelling threw DIVIDE_BY_ZERO on the ANSI session
    while DuckDB // yielded NULL) while still allocating it zero/cap
    tokens and keeping the other sources' split intact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    texts = ["", "   ", "alpha beta gamma delta", "one two three"]
    srcs = ["empty", "empty", "web", "wiki"]
    docs = pa.table(
        {
            "doc_id": pa.array(range(1, 5), pa.int64()),
            "text": texts,
            "lang": ["en"] * 4,
            "source": srcs,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    con = _duck_with_view(tmp_path, "documents")
    for name in ("mix_epoch_token_budget", "mix_unimax_waterfill"):
        spec = REGISTRY[name]
        rows = {r["source"]: r for r in spec.fn(spark, str(tmp_path)).collect()}
        assert rows["empty"]["n_tokens"] == 0, name
        assert rows["empty"]["epochs_bp"] is None, name
        assert rows["web"]["epochs_bp"] is not None, name
        drows = {r[0]: r for r in con.sql(spec.oracle).fetchall()}
        epochs_idx = {"mix_epoch_token_budget": 3,
                      "mix_unimax_waterfill": 5}[name]
        assert drows["empty"][epochs_idx] is None, name


def _bpe_apply_pair(s: DataFrame, pa: str, pb: str) -> DataFrame:
    """Reference BPE merge kernel: one greedy left-to-right,
    non-overlapping merge pass of the CONSTANT pair (``pa``, ``pb``)
    over a (doc_id, pos, tok) stream — the match/run-group/parity/
    consume window kernel the oracles twin.  Production applies merges
    through the equivalent string kernel `_bpe_apply_pair_str` (zero
    exchanges/sorts per round); the test below pins the two equal.
    Returns the re-numbered, localCheckpointed stream."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = s.withColumn("nxt", F.lead("tok").over(w))
    t2 = big.withColumn(
        "match", (F.col("tok") == F.lit(pa)) & (F.col("nxt") == F.lit(pb))
    )
    g = t2.withColumn(
        "grp",
        F.col("pos")
        - F.sum(F.when(F.col("match"), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    wg = Window.partitionBy("doc_id", "grp")
    mg = g.withColumn(
        "merged",
        F.when(
            F.col("match")
            & (
                (F.col("pos") - F.min(F.when(F.col("match"), F.col("pos"))).over(wg))
                % 2
                == 0
            ),
            F.lit(True),
        ).otherwise(F.lit(False)),
    )
    c = mg.withColumn(
        "consumed", F.coalesce(F.lag("merged").over(w), F.lit(False))
    )
    return (
        c.filter(~F.col("consumed"))
        .select(
            "doc_id",
            (F.row_number().over(w) - 1).alias("pos"),
            F.when(F.col("merged"), F.concat("tok", F.lit(" "), "nxt"))
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
        .localCheckpoint()
    )


def test_bpe_string_kernel_matches_window_kernel(spark):
    """Round-13 optimization proof: the narrow string-replace merge
    kernel (`_bpe_apply_pair_str`, zero exchanges/sorts per round) must
    produce byte-identical per-doc token streams to the proven window
    kernel (`_bpe_apply_pair` above, the oracle-twinned reference) under
    adversarial merge sequences: runs of the repeated pair (parity
    rule), back-to-back occurrences (resume-after-replacement rule),
    hierarchical merges whose pair tokens already CONTAIN spaces, and
    tokens that are substrings of their neighbors (delimiter
    anchoring)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from eecs485_p4_mapreduce_spark.functions.textfn import tokens
    from eecs485_p4_mapreduce_spark.operators.textstats import (
        _bpe_apply_pair_str,
        _bpe_string_frame,
    )

    texts = [
        "a a a",               # odd run: merge 0-1, keep the tail
        "a a a a",             # even run: two merges
        "a a a a a a a",       # long odd run
        "x y x y x y",         # back-to-back non-overlapping merges
        "x y y x x y x",       # mixed adjacencies
        "ab b a ab b",         # substring-of-neighbor tokens
        "x y x y y",           # hierarchical: round 2 merges 'x y' 'x y'
        "q",                   # single token: no pair ever
        "",                    # empty doc
        "y x y x y",           # pair starts mid-doc
    ]
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
            for i, t in enumerate(texts)
        ]
    )
    # merge sequence: repeated-token pair, ordinary pair, then a round-2
    # pair whose sides already contain spaces, then a substring pair
    seq = [("a", "a"), ("x", "y"), ("x y", "x y"), ("ab", "b"), ("x y x y", "y")]

    ref = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    ).localCheckpoint()
    for pa, pb in seq:
        ref = _bpe_apply_pair(ref, pa, pb)
    want = {i: [] for i in range(len(texts))}
    for r in ref.orderBy("doc_id", "pos").collect():
        want[r["doc_id"]].append(r["tok"])

    st = _bpe_string_frame(docs, "doc_id")
    s_col = F.col("s")
    for pa, pb in seq:
        s_col = _bpe_apply_pair_str(s_col, pa, pb)
    got_rows = st.select(
        "doc_id",
        F.filter(F.split(s_col, "\n"), lambda t: t != "").alias("toks"),
    ).collect()
    got = {r["doc_id"]: list(r["toks"]) for r in got_rows}

    assert got == want
    # spot-check the parity rule survived both kernels identically
    assert want[0] == ["a a", "a"]
    assert want[1] == ["a a", "a a"]


def test_scored_embeddings_match_their_oracle_twin(spark, sf_dir, duck):
    """The eval bank's shared scorer: the (y, p_bp) rows of
    ``_scored_embeddings`` equal those of the oracle CTEs
    ``_SCORED_DUCK`` as a multiset."""
    from collections import Counter

    import eecs485_p4_mapreduce_spark.plans  # noqa: F401  (operators in registry order)
    from eecs485_p4_mapreduce_spark.operators.similarity import (
        _SCORED_DUCK,
        _scored_embeddings,
    )

    got = Counter(tuple(r) for r in _scored_embeddings(spark, sf_dir).collect())
    exp = Counter(duck.sql(_SCORED_DUCK + " SELECT y, p_bp FROM p").fetchall())
    assert got == exp
    assert {y for y, _ in got} == {0, 1} and len({p for _, p in got}) > 10
