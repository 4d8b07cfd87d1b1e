"""Physical-plan regression tests: pin the plan *shapes* that make these
queries scale (pushdown, pruning, broadcast, TakeOrdered, partial agg).

A correctness-preserving change that regresses one of these (e.g. a lost
broadcast or a filter that stops reaching the scan) fails here long
before it would show up as a slow benchmark.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from eecs485_p4_mapreduce_spark.plans import REGISTRY


def explain(spark, sf_dir, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        REGISTRY[name].fn(spark, sf_dir).explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = explain(spark, sf_dir, "q1_pricing_summary")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "LessThanOrEqual(l_shipdate" in m.group(1), m


def test_column_pruning(spark, sf_dir):
    # a 2-column projection must not scan all 11 lineitem columns
    plan = explain(spark, sf_dir, "topk_orders")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "o_orderkey", "o_custkey", "o_totalprice",
    }, m


def test_topk_is_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in explain(spark, sf_dir, "topk_orders")


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = explain(spark, sf_dir, "join_broadcast_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_strategy(spark, sf_dir):
    plan = explain(spark, sf_dir, "join_semi")
    assert "LeftSemi" in plan


def test_hash_agg_partial_final(spark, sf_dir):
    # two HashAggregate nodes (partial + final) around one exchange
    plan = explain(spark, sf_dir, "wordcount")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_range_tiers_broadcast_nested_loop(spark, sf_dir):
    # non-equi join against the literal tier table must be broadcast NL,
    # never a cartesian shuffle
    plan = explain(spark, sf_dir, "join_range_tiers")
    assert "BroadcastNestedLoopJoin" in plan


def test_grep_prunes_to_two_columns(spark, sf_dir):
    plan = explain(spark, sf_dir, "grep")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"doc_id", "text"}, m


def test_window_topk_group_limit(spark, sf_dir):
    # rank-filter pushdown: Spark 3.5+ plans rk<=3 as WindowGroupLimit,
    # keeping only k rows per partition before the full window sort
    plan = explain(spark, sf_dir, "window_rank_orders")
    assert "WindowGroupLimit" in plan


def test_subquery_in_lowered_to_semi_join(spark, sf_dir):
    # IN (SELECT ... HAVING ...) must become a left-semi join against the
    # aggregated side, not a per-row re-scan
    plan = explain(spark, sf_dir, "subquery_in_q18")
    assert "LeftSemi" in plan


def test_subquery_exists_lowered_to_semi_and_anti(spark, sf_dir):
    plan = explain(spark, sf_dir, "subquery_exists_correlated")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q3_broadcasts_filtered_dims_and_takes_ordered(spark, sf_dir):
    plan = explain(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    m = re.search(r"PushedFilters: \[([^\]]*EqualTo\(c_mktsegment[^\]]*)\]", plan)
    assert m, "segment filter must reach the customer scan"


def test_quota_sample_group_limit(spark, sf_dir):
    # rk <= 20 must plan as WindowGroupLimit so each stratum's sort stops
    # at the quota instead of fully sorting the corpus
    plan = explain(spark, sf_dir, "sample_per_lang_quota")
    assert "WindowGroupLimit" in plan


def test_multiprobe_explodes_query_side_only(spark, sf_dir):
    # the x9 probe fan-out must hit the tiny broadcast query side, never
    # the table side, and the candidate join must stay broadcast-hash
    plan = explain(spark, sf_dir, "ann_lsh_multiprobe")
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_dedup_blocking_is_equi_join(spark, sf_dir):
    # prefix/suffix blocking must plan as hash-partitioned equi-joins --
    # a nested-loop or cartesian plan would be the O(n^2) failure mode
    plan = explain(spark, sf_dir, "dedup_fuzzy_levenshtein")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gapfill_spine_has_no_collect_shaped_plan(spark, sf_dir):
    # the hourly grid comes from sequence()+explode over a 1-row agg --
    # the plan must contain the generator and the locf window
    plan = explain(spark, sf_dir, "resample_gapfill_1h")
    assert "Generate" in plan
    assert "Window" in plan


def test_lateral_topk_decorrelates_to_group_limit(spark, sf_dir):
    # LATERAL (... ORDER BY ... LIMIT 3) must become WindowGroupLimit +
    # join, never a per-customer re-scan of orders
    plan = explain(spark, sf_dir, "lateral_topk_orders")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_zscore_stats_broadcast_back(spark, sf_dir):
    # the per-type stats are tiny and must broadcast onto the event scan
    plan = explain(spark, sf_dir, "stats_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_scan_side(spark, sf_dir):
    # the keep/drop decision must be a filter over the scan -- exactly one
    # exchange (the audit count), nothing before it
    plan = explain(spark, sf_dir, "sample_stratified_fraction")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_funnel_is_single_aggregate_no_self_join(spark, sf_dir):
    # conditional-MIN formulation: one scan, one agg, zero joins
    plan = explain(spark, sf_dir, "funnel_view_click_purchase")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_unpivot_expands_after_aggregate(spark, sf_dir):
    # the Expand must sit above the aggregate (3x a handful of rows),
    # which in the formatted plan means Expand's id is LOWER than the
    # final HashAggregate chain feeding it
    plan = explain(spark, sf_dir, "unpivot_lineitem_metrics")
    assert "Expand" in plan


def test_tpch_q5_broadcasts_all_dimensions(spark, sf_dir):
    """q5's six-way snowflake at test scale: every dimension side
    broadcasts (no SortMergeJoin), filters push to the scans, and the
    aggregate is partial+final."""
    plan = explain(spark, sf_dir, "tpch_q5_local_supplier_volume")
    # formatted explain lists each node twice (tree + detail section)
    assert plan.count("BroadcastHashJoin") == 2 * 5
    assert "SortMergeJoin" not in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert plan.count("HashAggregate") >= 2


def test_tpch_q8_double_nation_role_join(spark, sf_dir):
    """q8 joins nation twice (customer's region path, supplier's
    nationality); both must stay broadcast and the part type filter must
    reach the part scan."""
    plan = explain(spark, sf_dir, "tpch_q8_market_share")
    assert plan.count("BroadcastHashJoin") == 2 * 7
    assert "SortMergeJoin" not in plan
    assert "EqualTo(p_type,ECONOMY)" in plan


def test_tpch_q13_left_join_preserves_zero_customers(spark, sf_dir):
    """q13's join-condition filter must stay inside the LEFT OUTER join
    (moving it to WHERE would silently drop zero-order customers)."""
    plan = explain(spark, sf_dir, "tpch_q13_custdist")
    assert "LeftOuter" in plan
    # the priority filter is a join condition, not a customer-side filter
    assert "o_orderpriority" in plan


def test_tpch_q22_anti_join_lowering(spark, sf_dir):
    """q22's NOT EXISTS must lower to a left-anti join (one shuffle),
    never a per-row subquery."""
    plan = explain(spark, sf_dir, "tpch_q22_sales_opportunity")
    assert "LeftAnti" in plan


# Queries where a nested-loop join is the DELIBERATE physical strategy:
# non-equi predicates (range join), a broadcast query-set with a != guard
# (brute-force kNN), and the bounded gap-fill spine.  Everything else in
# the join-bearing families must plan hash/sort-merge equi-joins.
_ALLOWED_NESTED_LOOP = {
    "join_range_tiers",
    "join_cross_regions",  # the explicit CROSS JOIN query itself
    "knn_cosine",
    "knn_cosine_pandas",
    "knn_hard_negatives",  # brute-force over the label-pruned broadcast, like knn_cosine
    "embedding_matryoshka_topk",  # stage-1 brute-force prefix scan (the deliberate baseline)
    "knn_ivf_trained",  # deliberate: every vector scores all K=8 broadcast centroids
    "dedup_semdedup_clusters",  # same broadcast-centroid assignment as knn_ivf_trained
    "resample_gapfill_1h",
    "bitext_margin_mining",  # exhaustive pair stage over the broadcast target side (ANN-prefiltered at scale, like knn_*)
    "contamination_semantic_eval",  # benchmark-sized broadcast eval side, one dot per (vector, eval) pair
    "eval_ann_recall_ivf",  # exact-recall baseline side is the knn_cosine brute force
    "eval_confusion_nearest_centroid",  # every vector scores the <=|L| broadcast centroids, like knn_ivf_trained
    "timeseries_cross_correlation",  # 4-row broadcast lag fan-out over the bounded hourly grid
    "embedding_jl_projection_distortion",  # 10-row broadcast query side x hash-sampled counterparts
}

_JOIN_FAMILY = re.compile(
    r"join|dedup|knn|ann|contamination|gapfill|lateral|tpch|cross|asof|range"
    r"|bitext|rtbf|linkpred"
)


@pytest.mark.parametrize(
    "name", sorted(n for n in REGISTRY if _JOIN_FAMILY.search(n))
)
def test_no_cartesian_product(name, spark, sf_dir):
    """No registered join-family query may plan a CartesianProduct, and
    nested-loop joins are allowed only where they are the documented
    deliberate strategy.  A CartesianProduct anywhere is the
    O(N^2)-at-100TB regression this suite exists to catch."""
    plan = explain(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    if name not in _ALLOWED_NESTED_LOOP:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} regressed to a nested-loop join"
        )


def test_ngram_jaccard_gated_no_gram_join(spark, sf_dir):
    """dedup_ngram_jaccard must verify per LSH-candidate pair via
    array_intersect -- NOT a global inverted-index equi-join on the
    exploded gram column (the round-2 all-pairs shape that cannot scale).
    The only generator allowed in the plan is the minhash band explode."""
    plan = explain(spark, sf_dir, "dedup_ngram_jaccard")
    assert "array_intersect" in plan
    # the gram arrays are never exploded: every Generate node in the plan
    # belongs to the minhash shingle/band construction
    for m in re.finditer(r"Generate explode\(([^)]*)\)", plan):
        assert "ng" not in m.group(1), m.group(0)


def test_collation_join_is_hash_on_collation_key(spark, sf_dir):
    """Collating at projection time must keep the UTF8_LCASE comparison an
    equi-join: hash join on collationkey, no join-condition BNL between
    the two nation branches (the final 1x1 scalar crossJoin is exempt)."""
    plan = explain(spark, sf_dir, "collation_case_insensitive")
    assert "BroadcastHashJoin" in plan and "collationkey" in plan


def test_partitioned_source_prunes_partitions(spark, sf_dir):
    """The event_type filter on the hive-partitioned copy must prune at
    planning time: the scan reads only the 2 selected of 5 partitions and
    the partition-key predicate appears as a partition filter, not a data
    filter evaluated per row."""
    plan = explain(spark, sf_dir, "source_partitioned_pruning")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:2000]
    # the partition key must NOT be re-read as data (pruned ReadSchema)
    m2 = re.search(r"ReadSchema: (\S+)", plan)
    assert m2 and "event_type" not in m2.group(1), m2


def test_semdedup_pair_stage_is_equi_join(spark, sf_dir):
    """SemDeDup's quadratic stage must be an equi-join on the cluster id
    (cost bounded by cluster size) — shuffled, since both sides are
    per-vector and therefore non-broadcastable at corpus scale."""
    plan = explain(spark, sf_dir, "dedup_semdedup_clusters")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    # the a_id < b_id predicate rides as a residual condition on the
    # k-equi join, not as a nested-loop join condition
    assert re.search(r"Join condition: \(a_id#\d+L? < b_id#\d+L?\)", plan), plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_incremental_minhash",
        "dedup_minhash_calibration",
        "dedup_semdedup_clusters",
    ],
)
def test_no_forced_broadcast_of_per_document_side(name, spark, sf_dir):
    """The signature / vector-assignment re-attach joins must NOT carry a
    forced broadcast hint: those sides are one row per document/vector —
    corpus-sized at 100 TB, the textbook non-broadcastable side.  With
    autoBroadcastJoinThreshold=-1 only *hinted* broadcasts survive
    planning, so any BroadcastExchange of a sig/vector column here means
    a forced F.broadcast() crept back in.  (At real sf the CBO/AQE still
    broadcasts these sides when they measure small — that path stays
    available; this pins only that we never FORCE it.)"""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        if name == "dedup_minhash_calibration":
            # the registered query materializes eagerly inside its AQE
            # conf window; pin the underlying lazy plan instead
            from eecs485_p4_mapreduce_spark.operators.dedup import (
                _calibration_frame,
            )

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                _calibration_frame(spark, sf_dir).explain("formatted")
            plan = buf.getvalue()
        else:
            plan = explain(spark, sf_dir, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    for m in re.finditer(r"\(\d+\) BroadcastExchange\n(?:.+\n)+?(?=\n)", plan):
        block = m.group(0)
        assert not re.search(r"\b(sig|sig_a|sig_b|av|bv|v)#", block), (
            f"{name} force-broadcasts a per-document side:\n{block}"
        )


@pytest.mark.parametrize(
    "name",
    [
        "rfm_segmentation",
        "window_abc_classification",
        "stats_gini_revenue",
        "mix_quality_weighted",
        "mix_epoch_shuffle",
        "mix_interleave_deterministic",
        "quality_perplexity_buckets",
        "funnel_time_to_convert",
        "ids_contiguous_assign",
        "skyline_orders_pareto",
        "stats_exact_median_distributed",
        "pii_redaction_density_deciles",
        "stats_spearman_correlation",
        "mix_resume_from_step",
        "preference_pairs_quality",
    ],
)
def test_global_rank_queries_have_no_data_sized_global_window(name, spark, sf_dir):
    """These queries used to run ntile/rank/cumsum in ONE task via an
    unpartitioned window over entity-scale data.  After the
    partition-offset rewrite (functions/ranking.py) the only windows
    allowed in their plans are the recipe's own: the per-partition rank
    (partitioned by _pid) and the P-row offsets prefix sum (ordered by
    _pid, constant-size at any data scale).  Any windowspecdefinition
    NOT referencing _pid means a data-sized single-task window crept
    back in."""
    plan = explain(spark, sf_dir, name)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"{name}: expected the ranking-recipe windows in the plan"
    for s in specs:
        assert re.search(r"\b_pid#", s), (
            f"{name} has a data-sized global window: {s}"
        )


def test_auto_watermark_measurement_has_no_data_sized_window(spark, sf_dir):
    """streaming_auto_watermark_tumbling's batch measurement (the p95
    lateness scan that configures the stream's watermark) executes at
    definition time, so the registered query's plan never shows it --
    pin the factored lazy frame instead.  Every windowspec must be
    _pid-scoped: the per-type high-water mark via with_running_max and
    the p95 rank via with_global_rank; an unscoped spec means a
    corpus-sized single-task window crept back into the measurement."""
    from eecs485_p4_mapreduce_spark.streaming import _auto_wm_lateness_ranked

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _auto_wm_lateness_ranked(spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the ranking-recipe windows in the plan"
    for s in specs:
        assert re.search(r"\b_pid#", s), f"data-sized global window: {s}"


def test_rank_partitions_track_default_parallelism(spark, sf_dir):
    """with_global_rank's ranged frame must scale its partition count
    with the session's defaultParallelism (cluster size), not a fixed
    constant -- the fixed-32 cap would throttle the rank stage on a
    1000-executor cluster."""
    from eecs485_p4_mapreduce_spark.functions.ranking import (
        default_rank_partitions,
        with_global_rank,
    )
    from eecs485_p4_mapreduce_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    expected = max(spark.sparkContext.defaultParallelism, 2)
    assert default_rank_partitions(o) == expected
    # AQE rightly coalesces the tiny test frame at runtime; turn it off
    # to observe the STATIC request, which is what scales (and to keep
    # the observation independent of ambient adaptive confs left by
    # other tests in the session)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ranked = with_global_rank(o, ["o_orderkey"])
        # the joined output carries the ranged frame's partitioning
        # through the broadcast join
        assert ranked.rdd.getNumPartitions() == expected
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """join_runtime_bloom_filter's contract: under its conf window (no
    broadcast, test-scale size floor) Spark must inject a runtime bloom
    filter — a bloom aggregate over the selective side's join keys and a
    might_contain guard on the fact scan side.  Losing the injection
    silently turns the demo into a plain shuffle join."""
    from eecs485_p4_mapreduce_spark.sources import load_table

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        import pyspark.sql.functions as F

        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n_lines"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]


def test_rake_topk_is_take_ordered(spark, sf_dir):
    """text_keywords_rake's global top-30 must plan as
    TakeOrderedAndProject (per-partition top-k, driver merge) and its
    only windows are the doc-keyed island detection."""
    plan = explain(spark, sf_dir, "text_keywords_rake")
    assert "TakeOrderedAndProject" in plan
    for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "doc_id#" in s, f"unpartitioned window crept in: {s}"


def test_countmin_probe_is_broadcast_equi_join(spark, sf_dir):
    """The Count-Min point-query probes its d buckets via a broadcast
    equi-join on (row, bucket) -- the sketch table never shuffles for
    the probe."""
    plan = explain(spark, sf_dir, "sketch_countmin_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert re.search(r"Left keys \[2\]: \[i#\d+", plan), plan
    assert "CartesianProduct" not in plan


def test_join_hints_control_strategy(spark, sf_dir):
    """Join strategy hints must be honored: the same customer-orders
    equi-join plans SortMergeJoin under MERGE, ShuffledHashJoin under
    SHUFFLE_HASH, and BroadcastHashJoin under BROADCAST -- the manual
    override lever when AQE's choice is wrong for a known workload."""
    from eecs485_p4_mapreduce_spark.sources import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")

    def plan_of(hint: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            c.hint(hint).join(o, c.c_custkey == o.o_custkey).explain("formatted")
        return buf.getvalue()

    assert "SortMergeJoin" in plan_of("merge")
    assert "ShuffledHashJoin" in plan_of("shuffle_hash")
    assert "BroadcastHashJoin" in plan_of("broadcast")


def test_cache_table_plans_inmemory_scan(spark, sf_dir):
    """df.cache() must materialize into an InMemoryRelation consumed by
    InMemoryTableScan on re-use -- the iterative-workload lever (shared
    scan across the Lloyd's rounds / PageRank iterations family)."""
    from eecs485_p4_mapreduce_spark.sources import load_table

    n = load_table(spark, sf_dir, "nation").cache()
    try:
        n.count()  # materialize
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            n.groupBy("n_regionkey").count().explain("formatted")
        plan = buf.getvalue()
        assert "InMemoryTableScan" in plan
    finally:
        n.unpersist()


def test_cluster_by_plans_exchange_plus_local_sort(spark, sf_dir):
    """SQL physical-layout clauses: CLUSTER BY = hash exchange + within-
    partition sort; DISTRIBUTE BY alone = exchange without sort -- the
    write-side co-location levers (bucketing's ad-hoc cousin)."""
    from eecs485_p4_mapreduce_spark.sources import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

    def plan_of(sql: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            spark.sql(sql).explain("formatted")
        return buf.getvalue()

    clustered = plan_of(
        "SELECT o_custkey, o_totalprice FROM orders CLUSTER BY o_custkey"
    )
    assert re.search(r"hashpartitioning\(o_custkey", clustered)
    assert re.search(r"\(\d+\) Sort", clustered)
    assert re.search(r"\[o_custkey#\d+L? ASC", clustered)
    distributed = plan_of(
        "SELECT o_custkey, o_totalprice FROM orders DISTRIBUTE BY o_custkey"
    )
    assert re.search(r"hashpartitioning\(o_custkey", distributed)
    assert not re.search(r"\(\d+\) Sort", distributed)


def test_sliding_chunks_plan_has_no_exchange(spark, sf_dir):
    """chunk_sliding_windows is pure per-document generate+project: any
    Exchange in its plan means chunking started shuffling document
    bodies, which cannot scale."""
    plan = explain(spark, sf_dir, "chunk_sliding_windows")
    assert "Exchange" not in plan, plan
    assert "Generate" in plan and "explode(sequence" in plan


def test_cdc_chunks_single_doc_shuffle(spark, sf_dir):
    """chunk_content_defined needs doc-ordered windows + a per-doc group:
    everything must ride ONE hashpartitioning(doc_id) exchange (windows
    and groupBy share the key), never a second text shuffle."""
    plan = explain(spark, sf_dir, "chunk_content_defined")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{plan}"


def test_multires_rollup_single_scan_expand(spark, sf_dir):
    """rollup_multires_events builds hourly+daily aggregates from ONE
    events scan via Expand; a second Scan parquet of events means the
    grouping-sets plan regressed to a per-resolution rescan."""
    plan = explain(spark, sf_dir, "rollup_multires_events")
    # formatted explain lists each node twice (tree + detail section)
    assert len(re.findall(r"Scan parquet", plan)) == 2, plan
    assert "Expand" in plan


def test_span_rewrite_joins_are_equi(spark, sf_dir):
    """dedup_span_rewrite's three joins (span-hash mark, position drop,
    doc reassembly) must all be hash-keyed: a nested loop anywhere means
    the posting-list recipe degraded to all-pairs."""
    plan = explain(spark, sf_dir, "dedup_span_rewrite")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pattern_sessions_single_user_shuffle(spark, sf_dir):
    """pattern_funnel_sessions' three windows and two aggregations all
    key on user_id: the event stream must cross the wire exactly once
    (one hashpartitioning(user_id) exchange; AQE may add coalesce-only
    reads but never a second key shuffle)."""
    plan = explain(spark, sf_dir, "pattern_funnel_sessions")
    keys = set(re.findall(r"hashpartitioning\((\w+)#", plan))
    assert keys == {"user_id"}, f"unexpected shuffle keys {keys}:\n{plan}"


def test_winsorize_bounds_broadcast_back(spark, sf_dir):
    """stats_winsorize_events' 5-row bounds table must broadcast onto the
    events scan (the stats_zscore_outliers shape) -- a sort-merge join
    would shuffle the full fact table a second time."""
    plan = explain(spark, sf_dir, "stats_winsorize_events")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_phash_never_shuffles_payloads(spark, sf_dir):
    """multimodal_phash_neardup must shuffle fingerprints and band keys
    only — a payload (or pixel-array) column inside any Exchange means
    media bytes are crossing the wire."""
    plan = explain(spark, sf_dir, "multimodal_phash_neardup")
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.+\n)+?(?=\n)", plan):
        assert "payload" not in m.group(0) and "px#" not in m.group(0), m.group(0)


def test_pq_adc_lut_join_is_broadcast(spark, sf_dir):
    """ann_pq_adc's ADC stage must join the per-query lookup table as a
    broadcast onto the code scan; a shuffled or nested-loop LUT join
    breaks the 'codes are the only big thing' contract."""
    plan = explain(spark, sf_dir, "ann_pq_adc")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_search_scans_prune_to_doc_and_text(spark, sf_dir):
    """Both search queries must read only (doc_id, text) from documents —
    pulling lang/source/n_chars into a retrieval scan is wasted IO at
    corpus scale."""
    for name in ("search_phrase_positions", "search_tfidf_rank"):
        plan = explain(spark, sf_dir, name)
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
            assert cols <= {"doc_id", "text"}, (name, cols)


def test_modern_sugar_filter_still_pushes_down(spark, sf_dir):
    """IDENTIFIER()/EXCEPT/lateral aliases must desugar BEFORE filter
    pushdown: the price predicate has to reach the parquet scan."""
    plan = explain(spark, sf_dir, "modern_sql_sugar_orders")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(o_totalprice" in m.group(1), m


def test_cohort_first_week_broadcasts_back(spark, sf_dir):
    """cohort_retention_weekly's per-user first-week table must broadcast
    onto the activity stream (the zscore shape), not sort-merge."""
    plan = explain(spark, sf_dir, "cohort_retention_weekly")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ewma_and_rolling_median_have_no_window_exchange(spark, sf_dir):
    """The EWMA and rolling-median queries re-express positional window
    frames as explode + hash aggregation — the whole point of their 100 TB
    shape.  A rewrite that sneaks a per-series Window (one sorted task per
    series) back in must fail here."""
    for name in ("timeseries_ewma_hourly", "window_rolling_median_24h"):
        plan = explain(spark, sf_dir, name)
        assert "Window" not in plan, name
        # the per-type max joins back as a broadcast, never sort-merge
        assert "SortMergeJoin" not in plan, name


def test_rolling_distinct_queries_are_window_free(spark, sf_dir):
    """The rolling-DAU pair must stay explode+aggregate: a rewrite back
    to a per-day distinct window or a range self-join is the shape that
    cannot scale.  (stats_ks_drift_by_source and the cumulative-users
    query DO use windows -- over output-sized grids -- so they are not
    pinned here.)"""
    for name in ("window_rolling_dau_7d", "window_rolling_hll_7d"):
        plan = explain(spark, sf_dir, name)
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_incremental_session_merge_all_equi_joins(spark, sf_dir):
    """session_incremental_merge's bridge/anti-flag joins must all be
    user-keyed equi-joins -- no nested-loop anywhere, or the incremental
    path would be worse than the recompute it replaces."""
    plan = explain(spark, sf_dir, "session_incremental_merge")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q21_semi_anti_lowering(spark, sf_dir):
    """q21's correlated EXISTS / NOT EXISTS must lower to one LeftSemi
    and one LeftAnti equi-join on l_orderkey (never a per-row rescan or
    nested loop), with the orderstatus filter pushed to the orders scan
    and the top-100 planned as TakeOrderedAndProject."""
    plan = explain(spark, sf_dir, "tpch_q21_suppliers_kept_waiting")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(o_orderstatus,F)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_pipeline_shuffles_keys_not_text(spark, sf_dir):
    """The end-to-end curation funnel must keep document bodies out of
    every exchange: the near-dedup stage shuffles (band, band_hash,
    doc_id) triples and the mix stage broadcasts a 5-row threshold
    table.  A text column appearing in an Exchange's partitioning or a
    nested-loop join anywhere means a stage regressed to a
    body-shuffling plan."""
    plan = explain(spark, sf_dir, "pipeline_curation_end_to_end")
    assert "CartesianProduct" not in plan
    # the one allowed nested loop: the 1-row totals crossJoin feeding the
    # 5-row rates table (same shape as mix_sources_weighted)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_dynamic_partition_pruning_in_fact_scan(spark, sf_dir):
    """join_dynamic_partition_pruning's fact scan must carry a runtime
    dynamicpruningexpression partition filter injected from the dim side
    -- the DPP contract; losing it means every partition is read."""
    plan = explain(spark, sf_dir, "join_dynamic_partition_pruning")
    assert "dynamicpruningexpression" in plan.lower()
    assert "PartitionFilters" in plan


def test_new_ranked_queries_lower_to_bounded_topk(spark, sf_dir):
    """The new ranked queries must keep their top-k bounded: docsim's
    LIMIT plans as TakeOrderedAndProject, and the zipf / RAKE rank
    filters lower to WindowGroupLimit so no executor materializes a
    full vocabulary ordering."""
    plan = explain(spark, sf_dir, "search_docsim_sparse_cosine")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    for name in ("corpus_zipf_slope", "text_keywords_rake"):
        plan = explain(spark, sf_dir, name)
        assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan, name


def test_search_topk_is_take_ordered_then_tiny_rank(spark, sf_dir):
    """tfidf/bm25 retrieval must select the global top-k via
    TakeOrderedAndProject (per-partition top-k + driver merge) BEFORE
    ranking: a rank-filter window over all matched docs would sort the
    whole posting intersection in one task when a query term is common."""
    for name in ("search_tfidf_rank", "search_bm25_rank"):
        plan = explain(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_pii_queries_are_scan_side_jvm_regex(spark, sf_dir):
    """The PII detect/redact pair must stay JVM-side codegen regex over
    the scan with ONE exchange (the tiny per-source aggregate): a Python
    eval node or a pre-aggregate shuffle of document text would turn the
    compliance pass from IO-bound into the pipeline bottleneck."""
    for name in (
        "pii_detect_counts",
        "pii_redact_audit",
        "pii_luhn_creditcard",
        "pii_iban_mod97",
    ):
        plan = explain(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        # <= 1, not == 1: ambient adaptive confs left by other tests in
        # the shared session can legitimately elide the tiny final
        # exchange; the regression this guards is EXTRA exchanges
        # (pre-aggregate shuffles of document text)
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 1, (name, n_exchanges)
        # partial+final (redact's min(string digest) forces SortAggregate;
        # the partials are per-source scalars either way)
        n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
        assert n_aggs >= 2, name


def test_url_filters_scan_side_single_exchange(spark, sf_dir):
    """quality_url_filters must stay codegen string arithmetic over the
    scan with only the output-sized per-source rollup exchange — a join,
    explode, or Python node here breaks the scan-rate frontier-filter
    contract."""
    plan = explain(spark, sf_dir, "quality_url_filters")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan and "Join" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, n_exchanges


def test_boilerplate_topk_broadcasts_back(spark, sf_dir):
    """quality_boilerplate_ngrams' flagging join must broadcast the
    20-row boilerplate list onto the gram stream (never shuffle the
    grams a second time), and the top-k cut must be a TakeOrdered, not
    a global sort."""
    plan = explain(spark, sf_dir, "quality_boilerplate_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rtbf_cascade_broadcasts_subject_keys(spark, sf_dir):
    """privacy_rtbf_cascade prunes every table by a broadcast semi/hash
    join on the request-batch-sized subject set; a sort-merge join here
    means a full-table shuffle keyed on the erasure cohort — wrong at
    any scale."""
    plan = explain(spark, sf_dir, "privacy_rtbf_cascade")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bitext_windows_are_id_partitioned(spark, sf_dir):
    """bitext_margin_mining's ranking windows must partition by the
    vector id (windowspecdefinition carries x_id/y_id) — an empty
    partition spec would funnel the whole pair table through one task."""
    plan = explain(spark, sf_dir, "bitext_margin_mining")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected ranking windows in the plan"
    for spec in specs:
        assert "x_id" in spec or "y_id" in spec, spec


def test_readability_and_fertility_scan_side_jvm(spark, sf_dir):
    """LIX readability and tokenizer fertility must stay JVM-side
    codegen (size/filter/regexp_extract_all built-ins) over the scan
    with only tiny group-cardinality exchanges — a Python eval node or
    a pre-aggregate shuffle of document text is the 100 TB regression
    this pin guards."""
    for name in ("quality_readability_lix", "tokenizer_fertility_by_lang"):
        plan = explain(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        # document text must never shuffle: every exchange in the plan
        # moves pre-aggregated per-group rows (hash partitioning on the
        # group key or a single-partition readout), never the text column
        for m in re.finditer(r"Exchange [^\n]*", plan):
            assert "text" not in m.group(0), (name, m.group(0))


def test_calibration_bins_single_aggregate_no_python(spark, sf_dir):
    """eval_calibration_bins is one scan-side JVM projection (the
    sequential-fold dot, sigmoid, integer quantization) into a <=10-group
    aggregate: no Python eval, no joins, one data exchange."""
    plan = explain(spark, sf_dir, "eval_calibration_bins")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, n_exchanges


def test_containment_candidates_are_rare_gram_equi_join(spark, sf_dir):
    """dedup_containment_ngram's pair stage must be an equi-join on the
    rare gram (df-bounded postings), with the exact verify a
    per-candidate array_intersect — never a global all-pairs join of
    gram arrays."""
    plan = explain(spark, sf_dir, "dedup_containment_ngram")
    assert "array_intersect" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the df gate exists as a filter between the gram aggregate and the
    # postings self-join
    assert re.search(r"\(df#\d+L? >= 2\)", plan) or "df" in plan


def test_t_closeness_single_corpus_aggregate(spark, sf_dir):
    """privacy_t_closeness reads the customer table ONCE: class totals,
    band marginals and the grand total are rollups of the (class, band)
    cell aggregate, so exactly one scan of the base table appears in the
    plan (the grid join runs over bounded cell rollups)."""
    plan = explain(spark, sf_dir, "privacy_t_closeness")
    # the lazy localCheckpoint replaces every branch's input with the SAME
    # checkpointed cell RDD, so the customer parquet scan appears at most
    # once (inside the RDD lineage, not the final plan) and all four
    # rollup branches read ExistingRDD
    scans = len(re.findall(r"Scan parquet[^\n]*customer", plan))
    assert scans <= 1, scans
    assert plan.count("Scan ExistingRDD") >= 3, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "knn_ivf_trained",
        "embedding_kmeans_ivf_train",
        "embedding_top_pc_power_iteration",
        "ann_pq_adc",
        "join_range_tiers",
    ],
)
def test_driver_sized_frames_are_local_relations(name, spark, sf_dir):
    """Centroids, the power-iteration vector, PQ codebooks and the tier
    dimension are built with modelstore.local_frame, so they plan as a
    LocalTableScan.  A ``Scan ExistingRDD`` here would be a Python-list
    createDataFrame, whose every run starts Python workers.  (Queries
    that localCheckpoint on purpose, like eval_ann_recall_ivf, plan an
    ExistingRDD leaf for that and are not listed.)"""
    plan = explain(spark, sf_dir, name)
    assert "Scan ExistingRDD" not in plan, plan[:2000]
    assert "LocalTableScan" in plan


def test_ann_recall_probes_list_and_broadcasts_topk(spark, sf_dir):
    """eval_ann_recall_ivf's IVF side must stay the equi-join list probe
    (BroadcastHashJoin on k) and the only nested loops beyond the shared
    Lloyd's-training assignment (the knn_ivf_trained allowlisted shape)
    are the exact baseline's deliberate knn_cosine brute force — pinned
    as exactly ONE extra NL site vs the knn_ivf_trained plan."""
    plan = explain(spark, sf_dir, "eval_ann_recall_ivf")
    assert "CartesianProduct" not in plan
    # list probe: an equi hash join keyed on the cluster id
    assert "BroadcastHashJoin" in plan
    # the assigned corpus is checkpointed once, so the training lineage
    # never re-derives per reference; the single remaining NL site is the
    # exact baseline's != scan (formatted explain lists each node twice)
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan.count(
        "BroadcastNestedLoopJoin"
    )
    assert "Scan ExistingRDD" in plan


def test_clustering_coefficient_stays_equi_join(spark, sf_dir):
    """graph_clustering_coefficient closes wedges by hash equi-joins
    over the stored oriented edge set — never a cartesian/NL pair
    stage — and the final rollup is a <=64-band aggregate.  The edge
    source is the model-store parquet when the corpus is mtime-keyable
    (round 8: the oriented table persists cross-application) or the
    in-session checkpoint (ExistingRDD) on the unkeyable fallback."""
    plan = explain(spark, sf_dir, "graph_clustering_coefficient")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "sg_model_lsh_oedges" in plan or "Scan ExistingRDD" in plan
    ), plan[:800]


def test_kaplan_meier_windows_ride_the_day_grid(spark, sf_dir):
    """survival_kaplan_meier scans events ONCE (user rollup; head anchor
    derives from the rollup) and every window runs above the duration-day
    aggregate — the raw event table never enters a window."""
    plan = explain(spark, sf_dir, "survival_kaplan_meier")
    scans = len(re.findall(r"Scan parquet[^\n]*events", plan))
    assert scans <= 1, scans
    # the life-table windows sit above the dur_days HashAggregate: every
    # windowspecdefinition orders by dur_days, never by raw ts
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("dur_days" in sp for sp in specs), specs


def test_cross_correlation_scans_events_once(spark, sf_dir):
    """timeseries_cross_correlation's x/y sides and every lag reuse ONE
    checkpointed hourly grid — the raw event scan must not re-derive per
    self-join side, and the shift must be an equi-join (never NL)."""
    plan = explain(spark, sf_dir, "timeseries_cross_correlation")
    scans = len(re.findall(r"Scan parquet[^\n]*events", plan))
    assert scans == 0, scans  # both sides read the checkpointed grid
    assert plan.count("Scan ExistingRDD") >= 2
    assert "CartesianProduct" not in plan


def test_basket_pairs_take_ordered_and_order_keyed_join(spark, sf_dir):
    """assoc_basket_part_pairs' pair stage joins on the ORDER key (fan-out
    bounded by basket size) and the global readout is TakeOrdered — no
    all-pairs join over parts, no full sort."""
    plan = explain(spark, sf_dir, "assoc_basket_part_pairs")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the only NL site is the 1-row basket-count broadcast cross join
    # (formatted explain lists each node twice)
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan.count(
        "BroadcastNestedLoopJoin"
    )


def test_mahalanobis_is_broadcast_scan_takeordered(spark, sf_dir):
    """embedding_outlier_mahalanobis scores every vector against ONE
    broadcast stats row and reads out via TakeOrdered — no shuffle of
    scored vectors, no full sort."""
    plan = explain(spark, sf_dir, "embedding_outlier_mahalanobis")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bitmap_distinct_partial_aggregates(spark, sf_dir):
    """agg_bitmap_distinct's page stage must partial-aggregate (two
    HashAggregate levels around the exchange) — the whole point of the
    bitmap plan over COUNT(DISTINCT)'s expand-based rewrite."""
    plan = explain(spark, sf_dir, "agg_bitmap_distinct")
    assert "bitmap_construct_agg" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels
    assert "Expand" not in plan


def test_centrality_2hop_stays_equi_join_take_ordered(spark, sf_dir):
    """graph_centrality_2hop: stored-edge reads (model-store parquet, or
    ExistingRDD on the unkeyable fallback), hash equi-joins for the
    wedge + anti-join stages, TakeOrdered readout."""
    plan = explain(spark, sf_dir, "graph_centrality_2hop")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert (
        "sg_model_lsh_oedges" in plan or "Scan ExistingRDD" in plan
    ), plan[:800]


def test_centrality_capped_bounds_fanout_with_keyed_window(spark, sf_dir):
    """graph_centrality_2hop_capped: the hub cap must be a u-KEYED
    row_number window (never an unpartitioned sort), wedges close by
    hash equi-joins over the checkpointed capped adjacency, and the
    readout is TakeOrdered — the plan shape that keeps a 10^6-degree
    hub as cheap as any vertex."""
    plan = explain(spark, sf_dir, "graph_centrality_2hop_capped")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed capped adjacency
    # the cap window itself executes inside the checkpointed
    # sub-derivation, so pin its shape on the pre-checkpoint template
    # (the _pagerank_step convention)
    from eecs485_p4_mapreduce_spark.operators import graph
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    cap_plan = (
        graph._capped_adjacency(lsh_candidate_edges(spark, sf_dir))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", cap_plan)
    assert specs and all(re.search(r"\bu#", sp) for sp in specs), specs


def test_ppswor_topk_is_take_ordered_no_global_sort(spark, sf_dir):
    """sample_ppswor_priority's top-(k+1) must lower to TakeOrdered
    (per-partition heap + driver merge); an Exchange rangepartitioning
    in the plan means a 100 TB global sort crept in for a 33-row
    result.  The rank window then runs over that <= k+1-row frame."""
    plan = explain(spark, sf_dir, "sample_ppswor_priority")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_interpolate_windows_are_series_partitioned(spark, sf_dir):
    """resample_interpolate_linear's anchor windows must partition by
    the series key (event_type) over the calendar-bounded spine — an
    unpartitioned windowspec would funnel the grid through one task."""
    plan = explain(spark, sf_dir, "resample_interpolate_linear")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the anchor windows in the plan"
    for s in specs:
        assert re.search(r"\bevent_type#", s), f"unpartitioned window: {s}"


_SUFFIX_FRAME = re.compile(
    r"specifiedwindowframe\(RowFrame, (?!unboundedpreceding)"
    r"[^,]+, unboundedfollowing"
)


@pytest.mark.parametrize(
    "name",
    [
        "join_asof_forward",
        "join_asof_nearest",
        "resample_interpolate_linear",
        "survival_kaplan_meier",
        "survival_logrank_test",
        "eval_pr_auc",
    ],
)
def test_no_quadratic_suffix_frames(name, spark, sf_dir):
    """Spark re-aggregates (x, unboundedFollowing) frames from scratch
    per row — O(n^2) per partition key (43 s vs 0.35 s measured on one
    50k-row partition).  Forward scans must stay spelled as
    desc-ordered CUMULATIVE frames; tools/plan_audit.py flags any
    regression registry-wide, with ZERO allowlist entries since round
    10 (survival_kaplan_meier's at-risk suffix sum was the last)."""
    plan = explain(spark, sf_dir, name)
    m = _SUFFIX_FRAME.search(plan)
    assert not m, f"{name} regressed to a quadratic suffix frame: {m.group()}"


def test_bh_fdr_fanout_not_single_split(spark, sf_dir):
    """stats_bh_fdr_permutation fans ONE documents scan into m*R md5
    partial aggregates; a compact one-row-group parquet file would
    serialize the whole fan-out onto a single core (the minhash_banded
    lesson), so the query repartitions the scan BEFORE the replica
    explode — pinned as a RoundRobin exchange in the plan."""
    plan = explain(spark, sf_dir, "stats_bh_fdr_permutation")
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, (
        "stats_bh_fdr_permutation lost its pre-fan-out repartition"
    )
