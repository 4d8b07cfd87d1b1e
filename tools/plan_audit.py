"""Generate PLANS.md: the physical-plan audit for every registered query.

For each query, records the scale-critical plan facts: scan pushdown +
read schema, join strategies, aggregation shape, exchange count, codegen
coverage, Python-boundary operators, and window-partitioning risk.  Usage:

    python tools/plan_audit.py [sf_dir] > PLANS.md

Coverage of the formerly skipped families (the round-4 lesson: the last
two scale bugs hid exactly where the audit said "skipped"):

- ``streaming_*`` queries execute their sink at definition time, so the
  registered callable can't be explained directly.  The audit intercepts
  ``run_to_completion`` to capture the STREAMING frame right before the
  sink and explains that — the full pre-sink plan, including any batch
  setup joined into it.  Driver-side measurement collects that run
  before the stream is built still execute (they are part of definition).
- Iterative queries (``graph_pagerank``, ``dedup_clusters``) loop a
  fixed join+aggregate template under a driver loop; the audit explains
  the factored one-iteration frame (``_pagerank_iteration_frame``,
  ``_cc_iteration_frame``) — the plan every round repeats.
- ``mr_*`` stays plan-less by nature: the exe-compat path is an RDD
  pipeline of executables (no Catalyst plan exists); its scale story is the
  reference-parity contract in mapreduce/job.py's docstrings.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from eecs485_p4_mapreduce_spark import get_spark  # noqa: E402
from eecs485_p4_mapreduce_spark.plans import REGISTRY  # noqa: E402

SKIP = {
    n: "exe-compat RDD pipeline of executables; no Catalyst plan (see mapreduce/job.py)"
    for n in REGISTRY
    if n.startswith("mr_")
}

# Unpartitioned windowspecs ADJUDICATED constant-size (audited by hand;
# a query appearing with an unpartitioned spec but NOT in this map is an
# unreviewed scale hazard and the audit line says so).
CONSTANT_WINDOW_OK = {
    "funnel_time_to_convert": "P-row offsets frame (ranking recipe)",
    "ids_contiguous_assign": "P-row offsets frame (ranking recipe)",
    "mix_epoch_token_budget": "remainder-rank over one row per source",
    "curriculum_length_schedule": "P-row offsets frame (ranking recipe)",
    "mix_quality_weighted": "P-row offsets frame (ranking recipe)",
    "mix_shard_balance_rr": "P-row offsets frame (ranking recipe)",
    "corpus_vocab_coverage_curve": "P-row offsets frames (ranking recipe,"
    " sum_col prefix sum)",
    "mix_resume_from_step": "P-row offsets frames (ranking recipe,"
    " sum_col prefix sum; _pid-pinned in test_plans)",
    "mix_interleave_deterministic": "P-row offsets frame (ranking recipe;"
    " _pid-scoped, verified)",
    "pipeline_epoch_pack_end_to_end": "P-row offsets frames (ranking"
    " recipe: grouped within-source rank, then the merged rank+prefix-sum)",
    "quality_perplexity_buckets": "P-row offsets frame (ranking recipe)",
    "search_tfidf_rank": "rank over the <=10-row TakeOrdered result",
    "sample_reservoir_bottomk": "rank over the <=64-row TakeOrdered result",
    "sample_ppswor_priority": "rank over the <=33-row TakeOrdered result",
    "corpus_pmi_collocations": "rank over the <=50-row TakeOrdered result",
    "sample_neyman_allocation": "remainder rank over one row per stratum",
    "graph_hits_bipartite": "ranks over two <=10-row TakeOrdered heads",
    "search_bm25_rank": "rank over the <=10-row TakeOrdered result",
    "search_rrf_fusion": "rank over the fused <=20-row top-k lists",
    "search_ndcg_eval": "rank over the <=10-row ideal list + the BM25"
    " sub-pipeline's adjudicated top-k rank",
    "skyline_orders_pareto": "P-row prefix-max frame (ranking recipe)",
    "stats_exact_median_distributed": "P-row offsets frame (ranking recipe)",
    "stats_gini_revenue": "P-row offsets frame (ranking recipe)",
    "stats_mannwhitney_en_lengths": "distinct-length histogram (output-sized)",
    "stats_spearman_correlation": "P-row offsets frames (ranking recipe;"
    " _pid-pinned in test_plans)",
    "stats_ks_drift_by_source": "distinct-length histogram (output-sized)",
    "window_abc_classification": "P-row offsets frame (ranking recipe)",
    "window_cumulative_users": "daily-grid cumsum (calendar-bounded)",
    "window_period_over_period": "daily-grid lag (calendar-bounded)",
    "rfm_segmentation": "P-row offsets frame (ranking recipe, grouped)",
    "streaming_auto_watermark_tumbling": "P-row offsets frames (ranking recipes)",
    "pii_redaction_density_deciles": "P-row offsets frames (ranking recipe;"
    " _pid-scoped pinned in test_plans)",
    "survival_kaplan_meier": "duration-day grid life table (calendar-bounded)",
    "survival_nelson_aalen": "duration-day grid life table (calendar-bounded)",
    "eval_auc_roc": "basis-point score histogram (<=10001 rows, output-sized)",
    "eval_pr_auc": "basis-point score histogram (<=10001 rows,"
    " output-sized — DESC cumulatives)",
    "privacy_dp_topk_noisy_max": "rank over the <=3-row TakeOrdered"
    " result",
    "eval_model_card": "basis-point score histogram (<=10001 rows,"
    " output-sized — the eval_auc_roc cumsum)",
    "eval_isotonic_bins": "<=10-bin frames (bin cumsum + constant-size"
    " segment minimax)",
    "search_qlm_dirichlet": "rank over the <=10-row TakeOrdered result",
    "stats_kruskal_wallis": "distinct-length histogram (output-sized,"
    " the Mann-Whitney precedent)",
    "stats_runs_test": "daily-grid rank/lag (calendar-bounded)",
    "interval_concurrency_daily": "day-spine sweep cumsum (calendar-bounded)",
    "stats_wilcoxon_signed_rank": "distinct-|d| histogram (output-sized,"
    " the Mann-Whitney precedent)",
    "stats_bh_fdr_permutation": "BH rank over the lang-cardinality"
    " p-value frame",
    "corpus_rank_biased_overlap": "ranks over two <=50-row TakeOrdered"
    " heads",
    "mix_unimax_waterfill": "waterfill rank over one row per source",
}

_FACTS = [
    ("BroadcastHashJoin", "broadcast-hash join"),
    ("SortMergeJoin", "sort-merge join"),
    ("ShuffledHashJoin", "shuffled-hash join"),
    ("BroadcastNestedLoopJoin", "broadcast-NL join"),
    ("TakeOrderedAndProject", "top-k without global sort"),
    ("HashAggregate", "hash aggregate"),
    ("ObjectHashAggregate", "object hash aggregate"),
    ("SortAggregate", "sort aggregate"),
    ("Window", "window"),
    ("WindowGroupLimit", "window group-limit pushdown"),
    ("Expand", "grouping-set expand"),
    ("Generate", "generator (explode)"),
    ("ArrowEvalPython", "pandas UDF (Arrow)"),
    ("BatchEvalPython", "python UDF (row)"),
    ("MapInPandas", "mapInPandas"),
    ("FlatMapGroupsInPandas", "applyInPandas"),
    ("PythonUDTF", "python UDTF"),
    ("StreamingRelation", "streaming source"),
    ("CartesianProduct", "CARTESIAN PRODUCT (scale hazard)"),
]

# windowspecdefinition(pcol#1, ocol#2 ASC NULLS FIRST,
#                      specifiedwindowframe(RowFrame, unboundedpreceding$(), ...))
# Frames contain NESTED parens (unboundedpreceding$() etc.), so extraction
# must balance parens — a fixed-depth regex silently returns ZERO specs for
# every row_number/rank/running-aggregate window (the round-5 review bug:
# the audit's whole reason to exist went unmatched).


def _balanced_args(plan: str, needle: str) -> list[str]:
    """Every balanced argument string following ``needle(`` in ``plan``."""
    out, i = [], 0
    while True:
        j = plan.find(needle + "(", i)
        if j < 0:
            return out
        k = j + len(needle) + 1
        depth = 1
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j + len(needle) + 1 : k - 1])
        i = k


def _split_top_level(args: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in args:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _window_partition_risk(plan: str) -> tuple[int, int]:
    """(n_specs, n_unpartitioned): a spec with NO partition column (every
    argument before the frame carries a sort direction) funnels its whole
    input through one task — fine only for provably constant-size frames
    (the ranking recipe's P-row offsets, output-sized grids)."""
    n = unpart = 0
    for args in _balanced_args(plan, "windowspecdefinition"):
        cols = [
            c
            for c in _split_top_level(args)
            if not c.startswith("specifiedwindowframe(")
        ]
        parts = [c for c in cols if not re.search(r"\b(ASC|DESC)\b", c)]
        n += 1
        if not parts:
            unpart += 1
    return n, unpart


# Suffix frames — lower bound NOT unboundedpreceding, upper bound
# unboundedfollowing — are re-aggregated from scratch for EVERY row by
# Spark's window exec: O(n^2) per partition key (measured 43 s vs
# 0.35 s on one 50k-row partition, the round-9 as-of lesson).  Respell
# as a DESC-ordered cumulative frame (running last-non-null) unless the
# frame is provably constant-size and adjudicated here.
# Zero-exception since round 10: survival_kaplan_meier (the last
# entry) now spells its at-risk suffix sum as a DESC-ordered
# cumulative frame like the as-of family.
SUFFIX_FRAME_OK: dict[str, str] = {}


def _suffix_frames(plan: str) -> int:
    n = 0
    for args in _balanced_args(plan, "specifiedwindowframe"):
        parts = _split_top_level(args)
        if (
            len(parts) == 3
            and parts[2].startswith("unboundedfollowing")
            and not parts[1].startswith("unboundedpreceding")
        ):
            n += 1
    return n


class _CapturedStream(Exception):
    def __init__(self, df):
        super().__init__("captured")
        self.df = df


def _frame_for(name: str, spark, sf_dir: str):
    """Return (lazy frame to explain, audit-mode note)."""
    if name == "graph_pagerank":
        from eecs485_p4_mapreduce_spark.operators.graph import (
            _pagerank_iteration_frame,
        )

        return _pagerank_iteration_frame(spark, sf_dir), "per-iteration template"
    if name == "dedup_clusters":
        from eecs485_p4_mapreduce_spark.operators.dedup import (
            _cc_iteration_frame,
        )

        return _cc_iteration_frame(spark, sf_dir), "per-iteration template"
    if name == "dedup_minhash_calibration":
        from eecs485_p4_mapreduce_spark.operators.dedup import (
            _calibration_frame,
        )

        return _calibration_frame(spark, sf_dir), "pre-materialization frame"
    if name.startswith("streaming_"):
        import eecs485_p4_mapreduce_spark.streaming as streaming

        def _capture(stream_df, **_kw):
            raise _CapturedStream(stream_df)

        orig = streaming.run_to_completion
        streaming.run_to_completion = _capture
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
        except _CapturedStream as c:
            return c.df, "streaming plan, pre-sink"
        finally:
            streaming.run_to_completion = orig
        return df, "returned batch frame (no run_to_completion call)"
    return REGISTRY[name].fn(spark, sf_dir), None


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE wraps plans in AdaptiveSparkPlan, which hides codegen ids until
    # execution; audit the static plans so codegen coverage is visible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    print("# PLANS — physical-plan audit of every declared query")
    print()
    print(f"Generated by tools/plan_audit.py at {sf_dir} "
          "(AQE on at runtime; final plans may further coalesce). "
          "Streaming queries are audited at their pre-sink frame, "
          "iterative queries at their one-iteration template.")
    print()
    for name in sorted(REGISTRY):
        if name in SKIP:
            print(f"## {name}\n\nskipped: {SKIP[name]}\n")
            continue
        try:
            df, note = _frame_for(name, spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            print(f"## {name}\n\nERROR: {e}\n")
            continue
        facts = [label for pat, label in _FACTS if pat in plan]
        n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_broadcast_ex = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        ids = [int(m) for m in re.findall(r"codegen id : (\d+)", plan)]
        codegen = max(ids) if ids else 0
        n_specs, n_unpart = _window_partition_risk(plan)
        print(f"## {name}\n")
        if note:
            print(f"- audited: {note}")
        print(f"- operators: {', '.join(facts) if facts else '(scan/project only)'}")
        print(f"- shuffles: {n_exchange} hash exchange(s), {n_broadcast_ex} broadcast exchange(s)")
        if pushed:
            print(f"- pushed filters: {'; '.join(p[:100] for p in pushed if p)[:300] or '(none)'}")
        for s in schemas[:3]:
            cols = [c.split(":")[0] for c in s.split(",")]
            print(f"- scan columns: {', '.join(cols)[:140]}")
        if n_specs:
            if n_unpart and name in CONSTANT_WINDOW_OK:
                tag = f" — adjudicated constant-size: {CONSTANT_WINDOW_OK[name]}"
            elif n_unpart:
                tag = (
                    " — UNREVIEWED: verify constant-size or fix"
                    " (anything data-sized is a single-task scale bug)"
                )
            else:
                tag = ""
            print(f"- window specs: {n_specs}, unpartitioned: {n_unpart}{tag}")
        n_suffix = _suffix_frames(plan)
        if n_suffix:
            if name in SUFFIX_FRAME_OK:
                stag = f" — adjudicated constant-size: {SUFFIX_FRAME_OK[name]}"
            else:
                stag = (
                    " — QUADRATIC: Spark re-aggregates suffix frames per"
                    " row; respell as a desc-ordered cumulative frame"
                )
            print(f"- suffix frames: {n_suffix}{stag}")
        print(f"- whole-stage codegen spans: {codegen}")
        print()


if __name__ == "__main__":
    main()
