"""Registry ↔ docs ↔ bench consistency (VERDICT r3 item 7): the r2-era
stale-count drift (COVERAGE.md claiming a different query total than
the registry) must be structurally impossible — this test pins every
stated count and every referenced query name to the live registry."""

import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry():
    from pliers_spark.queries import QUERIES

    return QUERIES


def test_coverage_md_counts_match_registry():
    q = _registry()
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(r"(\d+) registered queries", text)
    assert m, "COVERAGE.md must state the registered query count"
    assert int(m.group(1)) == len(q), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(q)} — "
        "update COVERAGE.md"
    )
    for m2 in re.finditer(r"ALL (\d+) pass", text):
        assert int(m2.group(1)) == len(q), "stale pass-count in COVERAGE.md"


def test_bench_headline_names_are_registered():
    import bench

    q = _registry()
    missing = [n for n in bench.HEADLINE_QUERIES if n not in q]
    assert not missing, f"bench HEADLINE names not in registry: {missing}"
    assert len(set(bench.HEADLINE_QUERIES)) == len(bench.HEADLINE_QUERIES), (
        "duplicate names in HEADLINE_QUERIES"
    )


def test_full_queries_covers_registry():
    import bench

    q = _registry()
    full = bench._full_queries()
    assert set(full) == set(q), "bench --full must cover the whole registry"
    assert len(full) == len(q)


def test_driver_contract_matches_registry():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    q = _registry()
    dq = E.queries()
    assert set(dq) == set(q), "__spark_entry__.queries() drifted from registry"
    oracles = E.oracle_sql()
    assert set(oracles) <= set(dq)
    missing_oracle = set(dq) - set(oracles)
    assert not missing_oracle, (
        f"queries without oracle_sql (driver records weaker check): {missing_oracle}"
    )


def test_golden_hashes_cover_registry():
    q = _registry()
    hashes = json.load(open(os.path.join(REPO, "tests", "golden_hashes.json")))
    missing = set(q) - set(hashes)
    assert not missing, (
        f"queries without a recorded golden hash (run tools/golden_hashes.py "
        f"--update <name>): {missing}"
    )
    stale = set(hashes) - set(q)
    assert not stale, f"golden hashes for unregistered queries: {stale}"


# The only registered queries behind the VERDICT.md LLM-pipeline rows
# that name no query ("leak-proof splits; stratified sampling",
# "mixture sampling", "Kneser-Ney LM").
_LLM_ROWS_WITHOUT_NAMES = {
    "hash_split", "rate_sample", "stratified_sample", "mixture_sample",
    "kn_perplexity",
}


def test_keep_set_is_registered():
    """A catalog cut must not drop a query the engine is held to: every
    name the driver sampled (the keys of CORRECTNESS_r0*.json), every
    query named in the third column of COVERAGE.md's §2.1–§2.8 tables
    (backticked tokens without a `/`, which are file paths), every query
    named in VERDICT.md's LLM-pipeline table, and the queries behind that
    table's rows that name none stay registered."""
    import glob

    q = _registry()
    sampled = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r0*.json"))):
        sampled |= set(json.load(open(path)))
    assert sampled, "no CORRECTNESS_r0*.json found"

    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    survey = text[text.index("## §2.1"):text.index("## Beyond-reference")]
    covered = set()
    for line in survey.splitlines():
        cells = line.split("|")
        if not line.startswith("|") or line.startswith("|---") or len(cells) < 5:
            continue
        covered |= {t for t in re.findall(r"`([^`]+)`", cells[3]) if "/" not in t}
    assert len(covered) > 50, "COVERAGE.md §2 tables not parsed"

    verdict = open(os.path.join(REPO, "VERDICT.md")).read()
    llm = verdict[verdict.index("## LLM-data-pipeline operators"):]
    llm = llm[:llm.index("\n\n", llm.index("|---"))]
    llm_named = {
        t for line in llm.splitlines() if line.startswith("| ")
        for t in re.findall(r"`([^`]+)`", line.split("|")[2])
    }
    assert len(llm_named) > 15, "VERDICT.md LLM-pipeline table not parsed"

    missing = sorted((sampled | covered | llm_named | _LLM_ROWS_WITHOUT_NAMES) - set(q))
    assert not missing, f"keep-set queries not registered: {missing}"


def test_no_citation_of_retired_queries():
    """A retired query is not cited in the package: no name of the
    catalog recorded in ``bench_results/full_sweep.json`` that is no
    longer registered appears in single or double backticks under
    ``pliers_spark/``, alone or as the last part of a dotted path
    (``queries.<name>``). The sweep also times the ``flagship``, which
    is not a query."""
    q = _registry()
    sweep = json.load(open(os.path.join(REPO, "bench_results", "full_sweep.json")))
    retired = set(sweep["queries"]) - {"flagship"} - set(q)
    assert len(retired) > 100, "full_sweep.json catalog not parsed"

    cited = []
    pkg = os.path.join(REPO, "pliers_spark")
    for root, _, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            for n, line in enumerate(open(path, encoding="utf-8"), 1):
                for span in re.findall(r"``?([\w.]+)``?", line):
                    if span.rsplit(".", 1)[-1] in retired:
                        cited.append(f"{os.path.relpath(path, REPO)}:{n}: {span}")
    assert not cited, f"docstrings cite retired queries: {cited}"
