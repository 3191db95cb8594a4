"""Scale-hazard linter gate (VERDICT r3 item 2): every registered query
must be free of single-task operators over non-contracted input.

A global (unpartitioned) Window or a constant-grouped applyInPandas is
allowed ONLY above a census contraction (Aggregate/Deduplicate/limit/
bounded literal spine).  Lineage-truncated inputs (stableCheckpoint →
LogicalRDD) hide their history from the plan, so sites where the
checkpointed frame is bounded BY CONSTRUCTION are whitelisted here with
the audited bound; anything else — raw grain, or an unlisted opaque
site — fails the build.
"""

import pytest

from pliers_spark.plans.scale_lint import audit_scale_hazards

SF = "/root/testdata/sf0.001"

# Audited single-task sites over checkpointed (plan-opaque) frames.
# Every entry must state the bound that makes the global window safe;
# an entry that stops being flagged is stale and fails the test.
OPAQUE_WHITELIST = {
    "bh_fdr": "windows run on the per-source p-value table: m = distinct "
    "sources of the corpus — the test count of the BH procedure itself, "
    "bounded by construction (stats_07.py, st = groupBy(source) census)",
}


@pytest.mark.slow
def test_all_queries_scale_lint_clean(spark):
    from pliers_spark.queries import QUERIES

    raw, unlisted, errors = {}, {}, {}
    flagged = set()
    for name, fn in sorted(QUERIES.items()):
        try:
            hazards = audit_scale_hazards(fn(spark, SF))
        except Exception as e:  # noqa: BLE001 — collect, don't abort sweep
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        if not hazards:
            continue
        flagged.add(name)
        kinds = {h.reason for h in hazards}
        if "raw_grain" in kinds:
            raw[name] = [h.detail[:100] for h in hazards]
        elif name not in OPAQUE_WHITELIST:
            unlisted[name] = [h.detail[:100] for h in hazards]
    assert not errors, f"queries failed to build: {errors}"
    assert not raw, (
        "single-task operator over RAW input (use operators/census.py "
        f"census-grain machinery): {raw}"
    )
    assert not unlisted, (
        "global window over a checkpointed frame with no audited bound — "
        f"add to OPAQUE_WHITELIST with the bound, or fix: {unlisted}"
    )
    stale = set(OPAQUE_WHITELIST) - flagged
    assert not stale, f"stale whitelist entries (no longer flagged): {stale}"
