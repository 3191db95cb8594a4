"""AST-level lint: every driver-side ``.collect()`` in the package is
either routed through :func:`pliers_spark.operators.census.census_collect`
(count-gated, raises :class:`CensusBoundExceeded` over its audited bound)
or whitelisted below with an audited ≤1-row / ``limit(1)`` / unique-key
bound.

This closes the class VERDICT r4 "What's wrong" #2 identified: the
plan-tree scale linter (plans/scale_lint.py) proves single-task *plan*
operators sit above contractions, but it cannot see driver-side
collects — a ``groupBy(user_id)...collect()`` is invisible to it and
becomes a driver OOM at 100× the corpus.  Sites routed through
``census_collect`` disappear from this sweep (the helper's own internal
collect is the one sanctioned raw site); anything else must match the
whitelist EXACTLY — a new ungated collect fails, and a stale whitelist
entry (site removed or moved to the gate) also fails, so the list
cannot rot.

Keyed by (file, enclosing function, count) rather than line numbers so
unrelated edits don't churn the lint.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "pliers_spark")

# (relpath, enclosing function) -> (site count, audited bound)
WHITELIST: dict[tuple[str, str], tuple[int, str]] = {
    ("operators/census.py", "census_collect"): (
        1, "THE gate itself — limit(max_rows+1) fetch, raises over bound"),
    ("operators/bpe.py", "bpe_learn"): (
        1, "orderBy(...).limit(1): 1 row (best merge pair per round)"),
    ("operators/bpe.py", "bpe_encode_counts"): (
        1, "orderBy(...).limit(1): 1 row (best merge pair per round)"),
    ("queries/stats_06.py", "giant"): (
        1, "orderBy(gain).limit(1): 1 row (greedy max-coverage pick)"),
    ("queries/stats_06.py", "q_max_coverage"): (
        1, "agg(max)...[0][0]: 1-row scalar agg"),
    ("queries/stats_07.py", "q_ams_f2"): (
        2, "agg(...)[0]: 1-row scalar aggs (AMS sketch moments)"),
    ("queries/stats_07.py", "q_transitivity_global"): (
        1, "agg(...)[0]: 1-row scalar agg (triangle/wedge totals)"),
    ("queries/stats_10.py", "q_kcenter_coreset"): (
        2, "unique-key fetch (vec_id == seed, ≤1 row) + limit(1) farthest point"),
    ("queries/stats_11.py", "q_bayes_ab_beta"): (
        1, "agg(...)[0]: 4 scalars in 1 row — sizes the range frames"),
    ("queries/stats_12.py", "q_adaboost_stumps"): (
        3, "agg(...)[0] per boosting round: 1-row scalar aggs"),
    ("queries/stats_12.py", "q_gmm_em_1d"): (
        4, "agg(...)[0] / filtered agg-min quantile fetches: 1 row each"),
    ("queries/stats_12.py", "q_logistic_irls"): (
        2, "agg(...)[0] per IRLS round: 1-row gradient/Hessian scalars"),
    ("queries/stats_12.py", "q_svm_batch_subgradient"): (
        4, "agg(...)[0] per epoch: 1-row subgradient scalars"),
    ("queries/stats_12.py", "q_tolerance_interval"): (
        5, "agg/unique-k fetches: 1 row each (order-statistic bounds)"),
    ("queries/stats_13.py", "q_record_highs"): (
        2, "agg(...)[0]: 1-row scalar aggs"),
    ("queries/stats_13.py", "q_cox_regression"): (
        2, "agg(...)[0] per Newton round: 1-row score/information scalars"),
    ("queries/stats_13.py", "q_poisson_irls"): (
        2, "agg(...)[0] per IRLS round: 1-row scalars"),
    ("sources/layout.py", "check_sorted_contract"): (
        1, "agg(sum)[0]: 1-row violation count"),
    ("sources/snapshots.py", "delete_where"): (
        1, "distinct input_file_name(): file grain, bounded by the "
           "snapshot manifest (metadata scale, never row scale)"),
}


def _collect_sites() -> dict[tuple[str, str], int]:
    sites: dict[tuple[str, str], int] = {}
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read(), filename=path)

            def walk(node: ast.AST, func: str) -> None:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    func = node.name
                for child in ast.iter_child_nodes(node):
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr == "collect"
                    ):
                        key = (rel, func)
                        sites[key] = sites.get(key, 0) + 1
                    walk(child, func)

            walk(tree, "<module>")
    return sites


def test_every_collect_is_gated_or_whitelisted():
    sites = _collect_sites()
    ungated = {
        k: v for k, v in sites.items()
        if k not in WHITELIST or WHITELIST[k][0] != v
    }
    assert not ungated, (
        "raw .collect() sites that are neither routed through "
        f"census_collect nor whitelisted with an audited bound: {ungated}. "
        "Route the frame through pliers_spark.operators.census."
        "census_collect(df, max_rows, label) or add an audited entry."
    )


def test_whitelist_has_no_stale_entries():
    sites = _collect_sites()
    stale = {k: v for k, v in WHITELIST.items() if sites.get(k) != v[0]}
    assert not stale, (
        f"stale collect-lint whitelist entries (site removed/moved/recounted): {stale}"
    )


def test_census_collect_enforces_bound(spark):
    # NB: takes the shared session fixture — a get_spark(...) here with
    # its own shuffle_partitions would reconfigure the process-global
    # session and poison later plan-shape tests (AQE skew thresholds).
    from pliers_spark.operators.census import CensusBoundExceeded, census_collect
    import pytest

    df = spark.range(10)
    assert len(census_collect(df, 10, "exact bound")) == 10
    assert len(census_collect(df, 100, "loose bound")) == 10
    with pytest.raises(CensusBoundExceeded, match="over-bound census"):
        census_collect(df, 9, "over-bound census")
