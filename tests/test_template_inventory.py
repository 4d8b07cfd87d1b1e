"""Systematic shared-template audit (round-12 verdict item 3).

THE HAZARD: a query whose Spark body and DuckDB oracle render from ONE
Python-generated template (a module-level expression string, a literal
table, a formula skeleton) is invisible to the oracle gate — both
engines execute the same mistake.  This test makes the audit
mechanical:

1. An AST detector walks every operators/functions/streaming module and
   finds each module-level ``_UPPER_SNAKE`` string constant referenced
   at least twice in its module (the shared-template signature).
2. ``INVENTORY`` classifies every such constant.  ``shared-formula``
   entries MUST name a pin test (an engine-independent recount or
   property pin); the other classes record why the oracle gate remains
   an independent check:
   - ``oracle-only`` / ``spark-only``: the constant renders in one
     dialect; the other dialect spells the semantics independently, so
     cross-engine agreement still verifies it.
   - ``shared-sql-engine-parity``: one ANSI SQL string executed by BOTH
     engines (run_sql queries, TPC-H bank) — two independent
     parsers/optimizers/executors are the check; there is no formula
     render to get wrong on one side only.
   - ``shared-regex-engine-parity``: one regex literal executed by two
     independent regex engines (Java vs RE2) in the declared common
     subset.
   - ``parameter-literal``: a declared scalar parameter (threshold,
     salt, cut date, epsilon) — definitional, both sides MUST share it;
     there is no independent 'correct' value to recount.
3. Every named pin test must exist in tests/.

A NEW shared constant fails this test until it is classified here and
(if shared-formula) pinned — closing the class that let the BH-FDR
step-up bug survive eleven green sweeps.
"""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "eecs485_p4_mapreduce_spark")

SCAN_FILES = sorted(
    glob.glob(os.path.join(PKG, "operators", "*.py"))
    + [
        os.path.join(PKG, "streaming", "__init__.py"),
        os.path.join(PKG, "functions", "numeric.py"),
        os.path.join(PKG, "functions", "minhashfn.py"),
        os.path.join(PKG, "functions", "hashfn.py"),
        os.path.join(PKG, "functions", "textfn.py"),
    ]
)

# constant -> (class, pin test name or rationale)
F = "shared-formula"
OO = "oracle-only"
SO = "spark-only"
SQL = "shared-sql-engine-parity"
RE_ = "shared-regex-engine-parity"
P = "parameter-literal"

INVENTORY: dict[str, tuple[str, str]] = {
    # analytics
    "analytics::_BENFORD_EXPECTED": (F, "test_benford_literals_match_log10"),
    "analytics::_WELCH_AQ": (F, "test_welch_df_recipe_matches_fraction"),
    "analytics::_SENS_SQL": (F, "test_tclose_sens_band_matches_python"),
    "analytics::_KW_DEV": (F, "test_kruskal_wallis_matches_python_recount"),
    "analytics::_KW_TERM4": (F, "test_kruskal_wallis_matches_python_recount"),
    "analytics::_KW_C6": (F, "test_kruskal_wallis_matches_python_recount"),
    "analytics::_REG_P6": (F, "test_reg_p6_quantizer_matches_fraction"),
    "analytics::_DP_TOPK_SALT": (P, "salt only; formula pinned by"
                                    " test_dp_noise_matches_python_recount"),
    # dedup: tokenization/shingling spelled independently per dialect
    "dedup::_TOK_SPARK": (SO, "duck twin spelled separately"),
    "dedup::_NG_SPARK": (SO, "duck twin spelled separately"),
    "dedup::_NG_DUCK": (OO, "spark twin spelled separately"),
    # joins
    "joins::_SESSIONS_DUCK": (OO, "spark sessionization is windowed DF code"),
    # linalg
    "linalg::_OLS_DN": (F, "test_ols_matches_python_recount"),
    "linalg::_OLS_D0": (F, "test_ols_matches_python_recount"),
    "linalg::_OLS_D1": (F, "test_ols_matches_python_recount"),
    "linalg::_OLS_D2": (F, "test_ols_matches_python_recount"),
    # mixing
    "mixing::_TEMP_CASE": (F, "test_temperature_case_literals_match_policy"),
    # pii
    "pii::_AUG_DUCK": (OO, "spark augmentation is DF expressions"),
    "pii::_LUHN_STEP": (F, "test_pii_checksum_cross_engine_parity"),
    # relational: one ANSI SQL string, two independent engines
    "relational4::_Q4": (SQL, "run_sql both engines"),
    "relational4::_Q5": (SQL, "run_sql both engines"),
    "relational4::_Q6": (SQL, "run_sql both engines"),
    "relational4::_Q10": (SQL, "run_sql both engines"),
    "relational4::_Q14": (SQL, "run_sql both engines"),
    "relational4::_Q17": (SQL, "run_sql both engines"),
    "relational4::_Q19": (SQL, "run_sql both engines"),
    "relational4::_RCTE": (SQL, "run_sql both engines"),
    "relational4::_RCTE_PATHS": (SQL, "run_sql both engines"),
    "relational5::_Q7": (SQL, "run_sql both engines"),
    "relational5::_Q8": (SQL, "run_sql both engines"),
    "relational5::_Q13": (SQL, "run_sql both engines"),
    "relational5::_Q15": (SQL, "run_sql both engines"),
    "relational5::_Q22": (SQL, "run_sql both engines"),
    "relational8::_Q12": (SQL, "run_sql both engines"),
    "relational8::_Q21": (SQL, "run_sql both engines"),
    "relational6::_ARG_KEY_DUCK": (OO, "spark orders by STRUCT instead"),
    "relational7::_GBA": (SQL, "run_sql both engines"),
    "relational7::_AGG_FILTER": (SQL, "run_sql both engines"),
    "relational7::_EXISTS_PROJ": (SQL, "run_sql both engines"),
    # sampling
    "sampling::_HEX": (P, "hex digit table for the md5 fold; value"
                          " pinned transitively by every bucket recount"),
    "sampling::_POIS_CASE": (F, "test_poisson_case_thresholds_match_cdf"),
    # semdedup
    "semdedup::_COS_FOLD": (SO, "duck uses list_inner_product"),
    "semdedup::_CM_EPS_NUM": (P, "declared CM epsilon numerator"),
    # similarity
    "similarity::_DOT": (SO, "duck uses list_inner_product"),
    "similarity::_ORACLE_KNN": (OO, "shared by two oracles only"),
    "similarity::_DIMSTAT_SX": (F,
        "test_dimstat_variance_exact_below_bound_loud_above"),
    "similarity::_DIMSTAT_VAR_NUM": (F,
        "test_dimstat_variance_exact_below_bound_loud_above"),
    "similarity::_DIMSTAT_VAR_DEN": (F,
        "test_dimstat_variance_exact_below_bound_loud_above"),
    "similarity::_BLOOM_HITS": (F, "test_bloom_probe_masks_regenerate"),
    "similarity::_BRIER_DREL": (F,
        "test_brier_terms_exact_below_bound_loud_above"),
    "similarity::_BRIER_DRES": (F,
        "test_brier_terms_exact_below_bound_loud_above"),
    "similarity::_BRIER_Q4_RATE": (F,
        "test_brier_resolution_q4_survives_where_exact_form_wraps"),
    "similarity::_BRIER_Q4_BASE": (F,
        "test_brier_resolution_q4_survives_where_exact_form_wraps"),
    "similarity::_BRIER_Q4_TERM": (F,
        "test_brier_resolution_q4_survives_where_exact_form_wraps"),
    # streaming
    "streaming::_LEFT_OUTER_ORACLE": (OO, "left- and full-outer oracles;"
                                         " spark joins are DF code"),
    # textstats
    "textstats::_TOKEN_RE": (RE_, "Java vs RE2 execute independently"),
    "textstats::_SENT_RE": (RE_, "Java vs RE2 execute independently"),
    "textstats::_PREF_Q_NUM": (F, "test_pref_quality_rational_identity"),
    # timeseries
    "timeseries::_SNAP_CUT": (P, "declared snapshot cut timestamp"),
    "timeseries::_CHI_D": (F, "test_chi_square_cell_exact_below_bound_loud_above"),
    "timeseries::_CHI_NUM": (F, "test_chi_square_cell_exact_below_bound_loud_above"),
    "timeseries::_CHI_DEN": (F, "test_chi_square_cell_exact_below_bound_loud_above"),
    "timeseries::_LERP_NUM": (F, "test_lerp_rational_identity"),
    "timeseries::_LERP_DEN": (F, "test_lerp_rational_identity"),
    # timeseries2
    "timeseries2::_FILLED_DUCK": (OO, "spark spine spelled as DF code"),
    "timeseries2::_DAILY_FILLED_DUCK": (OO, "spark spine spelled as DF code"),
}


def _detect() -> set[str]:
    found = set()
    for path in SCAN_FILES:
        src = open(path).read()
        mod = os.path.basename(path).replace(".py", "")
        if mod == "__init__":
            mod = os.path.basename(os.path.dirname(path))
        for node in ast.parse(src).body:
            if not (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
            ):
                continue
            name = node.targets[0].id
            if not re.match(r"^_[A-Z][A-Z0-9_]*$", name):
                continue

            def is_str(v) -> bool:
                if isinstance(v, ast.Constant):
                    return isinstance(v.value, str)
                if isinstance(v, ast.BinOp):
                    return is_str(v.left) or is_str(v.right)
                return isinstance(v, ast.JoinedStr)

            if not is_str(node.value):
                continue
            refs = len(re.findall(r"\b" + name + r"\b", src)) - 1
            if refs >= 2:
                found.add(f"{mod}::{name}")
    return found


def test_every_shared_template_constant_is_inventoried():
    found = _detect()
    missing = found - set(INVENTORY)
    assert not missing, (
        "NEW shared-template constants detected — classify them in"
        f" INVENTORY and add a pin if shared-formula: {sorted(missing)}"
    )
    stale = set(INVENTORY) - found
    assert not stale, (
        f"INVENTORY entries no longer detected (renamed/removed?):"
        f" {sorted(stale)}"
    )


def test_every_shared_formula_constant_has_a_pin():
    test_src = ""
    for path in glob.glob(os.path.join(REPO, "tests", "*.py")):
        test_src += open(path).read()
    for const, (cls, pin) in INVENTORY.items():
        if cls is not F:
            continue
        assert re.search(rf"\bdef {pin}\b", test_src), (
            f"{const} is shared-formula but its pin {pin!r} does not"
            " exist in tests/"
        )


def test_streaming_python_oracle_twins_are_pinned():
    """The streaming sessionizer's Python helpers mirror oracle SQL
    (a shared-LOGIC template the constant detector can't see); assert
    their boundary pins exist."""
    test_src = ""
    for path in glob.glob(os.path.join(REPO, "tests", "*.py")):
        test_src += open(path).read()
    for pin in [
        "test_idle_timeout_exact_watermark_boundary_stays_open",
        "test_idle_timeout_sessions_timer_and_restart",
    ]:
        assert re.search(rf"\bdef {pin}\b", test_src), pin
