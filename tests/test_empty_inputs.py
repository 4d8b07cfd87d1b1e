"""Empty-input robustness: every operator family must analyze and run
over ZERO-row tables (the empty-partition / fresh-ingest case a 100 TB
pipeline hits constantly) without throwing.

The empty tables reuse the real testdata schemas, so this is exactly
"the same pipeline, before any data lands"."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eecs485_p4_mapreduce_spark.plans import REGISTRY
from eecs485_p4_mapreduce_spark.sources import TABLES

# One representative per family; streaming excluded (file-source
# streams need at least one file commit to terminate availableNow
# cleanly).
_REPRESENTATIVES = [
    "q1_pricing_summary",       # scan+filter+agg
    "join_revenue_by_nation",   # multi-join
    "window_rank_orders",       # window
    "grouping_sets_orders",     # expand
    "topk_orders",              # sort/limit
    "dedup_minhash_lsh",        # LSH self-join
    "dedup_span_rewrite",       # multi-stage rewrite
    "knn_cosine",               # broadcast knn
    "embedding_matryoshka_topk",# cascade
    "chunk_content_defined",    # windows over explode
    "quality_gopher_rules",     # scan-side rules
    "search_tfidf_rank",        # retrieval (driver-side count() on empty)
    "pattern_funnel_sessions",  # sessionization
    "cdc_compact_latest",       # compaction
    "mv_incremental_refresh",   # partial-agg merge
    "stats_winsorize_events",   # rank selection
    "rfm_segmentation",         # global ntile
    "graph_triangle_count",     # edge joins (empty localCheckpoint)
    "stats_exact_median_distributed",  # driver-side bucket select on empty hist
    "search_bm25_rank",         # driver-side avgdl collect on empty corpus
    "search_qlm_dirichlet",     # driver-side total-tokens collect (or-0 pad)
    "preference_pairs_quality", # grouped global rank + mirror join on empty
    "eval_model_card",          # bin rollup + histogram reduces on empty
    "stats_kruskal_wallis",     # NULL-guarded H on an empty value histogram
    "ab_permutation_test",      # replica explode over an empty user rollup
    "mix_temperature_sampling", # empty rates table
    "ml_logreg_gradient_step",  # n = 0 division guard surface
    "window_abc_classification",# partition-offset running sum on empty
    "skyline_orders_pareto",    # partition-offset suffix max on empty
    "funnel_time_to_convert",   # rank-select median over zero converters
    "join_runtime_bloom_filter",# conf window + eager checkpoint on empty
    "multimodal_bmp_decode",    # real codec kernel over zero assets
    "pipeline_curation_end_to_end",  # signature-table semi-join on empty
    "token_bpe_encode",         # empty merge table -> zero apply passes
    "quality_boilerplate_ngrams",  # empty top-k broadcast side
    "bitext_margin_mining",     # empty pair table through both rank windows
    "privacy_rtbf_cascade",     # constant 4-row shape even on empty inputs
    "graph_linkpred_common_neighbors",  # empty adjacency wedge + anti-join
    "contamination_semantic_eval",  # empty broadcast eval side
    # model-store family: an empty corpus must publish a schema-correct
    # zero-row model, not crash pyarrow Table.from_arrays (regression
    # introduced with functions/modelstore.py, fixed by the empty-cols pad)
    "embedding_kmeans_ivf_train",
    "knn_ivf_trained",
    "ann_pq_adc",
    "dedup_semdedup_clusters",
    "dedup_containment_ngram",  # rare-gram postings + verify on empty
    "search_mrr_eval",          # literal term table left-joined to empty top-10
    "privacy_t_closeness",      # grid of empty cell rollups
    "eval_calibration_bins",    # empty ≤10-bin aggregate
    "tokenizer_fertility_by_lang",  # empty 'en' baseline broadcast side
    "graph_assortativity",      # single-row moment reduce over zero edges
    "corpus_heaps_law",         # empty checkpoint grid (null maxid)
    "stats_psi_drift_by_source",  # empty bin grid + smoothing guards
    "attribution_position_decay",  # purchase-keyed windows over zero touches
    "dq_freshness_lag",         # null head anchor over zero streams
    "eval_ann_recall_ivf",      # recall join of two empty top-k frames
    "graph_clustering_coefficient",  # d>=2 filter over zero nodes
    "survival_kaplan_meier",    # null head anchor, empty life table
    "timeseries_cross_correlation",  # null-bounds spine, empty lag join
    "stats_runs_test",          # empty median pick, 1-row null summary
    "eval_confusion_nearest_centroid",  # zero centroids, empty argmin
    "assoc_basket_part_pairs",  # empty basket self-join + top-k
    "source_binaryfile_assets", # zero asset files through binaryFile
    "embedding_outlier_mahalanobis",  # empty stats arrays, empty top-k
    "interval_concurrency_daily",  # null bounds, empty day spine
    "resample_ohlc_daily",      # arg-extremes over zero rows
    "ml_kmeans_inertia",        # empty model-store assignment join
    "dq_primary_key_uniqueness",  # 7-branch union over zero rows
    "dq_order_total_reconciliation",  # empty join, zero-row rollup
    "eval_brier_decomposition",  # empty bins, null global rollup
    "agg_bitmap_distinct",      # bitmap pages over zero rows
    "stats_spearman_correlation",  # ranking recipe over zero customers
    "graph_centrality_2hop",    # wedge + anti-join over zero edges
    "cohort_ltv_monthly",       # empty triangle, zero cohorts
    "privacy_small_cell_suppression",  # zero cells, all-suppressed path
    "embedding_jl_projection_distortion",  # empty broadcast pair audit
    "privacy_generalization_sweep",  # 4-level explode over zero rows
    "pattern_top_session_paths",  # empty sessionization + top-k
    # round-9 additions
    "stats_var_twopass",        # empty center table + second pass
    "stats_welch_ttest",        # NULL moments through the quantized recipe
    "mix_dsir_importance_select",  # empty feature model, full-outer lr
    "curriculum_length_schedule",  # rank+prefix-sum staging over zero docs
    "pipeline_epoch_pack_end_to_end",  # two empty global ranks composed
    "token_bpe_train_8merges",  # zero training rounds find no pair
    # round-9 session additions
    "sample_ppswor_priority",   # empty top-k, empty tau broadcast
    "embedding_coreset_kcenter",  # empty first-pick collect -> empty frame
    "resample_interpolate_linear",  # null bounds -> empty spine
    "quality_kneser_ney_bigram",  # empty model tables, 1-row ntypes
    "graph_hits_bipartite",     # empty edges through 3 normalize rounds
    "corpus_vocab_coverage_curve",  # empty type table through the rank
    "mix_shard_balance_rr",     # zero docs, empty 16-shard rollup
    # round-10 additions
    "pipeline_decontam_mix_select",  # empty victim set + DSIR + mix chain
    "corpus_pmi_collocations",  # empty bigram tables through the top-k
    "sample_neyman_allocation", # zero strata through the remainder rank
    "ab_cuped_readout",         # NULL moments through T6 + guards
    "anomaly_robust_zscore_daily",  # empty day grid, two rank selections
    "lang_id_kappa",            # empty confusion matrix + marginals
    "mix_resume_from_step",     # empty epoch stream through rank+prefix
    "embedding_whiten_audit",   # empty model broadcast second pass
    # exe-compat MapReduce: an empty table still yields one (empty) input
    # file, so the mappers and reducers run over no lines
    "mr_grep",
    "mr_wordcount",
    "mr_inverted_index",
]


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory, sf_dir):
    out = tmp_path_factory.mktemp("sf-empty")
    for t in TABLES:
        schema = pq.read_schema(f"{sf_dir}/{t}.parquet")
        pq.write_table(schema.empty_table(), out / f"{t}.parquet")
    return str(out)


@pytest.mark.parametrize("name", _REPRESENTATIVES)
def test_runs_on_empty_tables(name, spark, empty_sf_dir):
    rows = REGISTRY[name].fn(spark, empty_sf_dir).collect()
    assert rows == [] or all(r is not None for r in rows)


def test_funnel_time_to_convert_empty_matches_oracle_shape(spark, empty_sf_dir):
    """Zero converters must yield the oracle's ONE all-NULL summary row,
    not zero rows — the crossJoin's median side is aggregated to stay
    1-row and n_converted is NULL (not 0), matching MAX(n) over empty."""
    rows = REGISTRY["funnel_time_to_convert"].fn(spark, empty_sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_converted"] is None and r["median_us"] is None
    assert r["min_us"] is None and r["max_us"] is None
