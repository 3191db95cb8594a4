"""Self-tests of the benchmark's own parts: the generator, the DuckDB
checker, the event-log reader, and that a run leaves no file behind.

    python3 -B -m pytest -p no:cacheprovider perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import eventlog  # noqa: E402
import gen  # noqa: E402
import jobs  # noqa: E402
import reference  # noqa: E402

SMALL = gen.Spec(n_urls=300, hot_urls=2, hot_snapshots=120)


def readme_shares() -> dict[str, dict[str, str]]:
    """The input-shares table of README.md: property -> workload -> cell."""
    rows, header = {}, None
    with open(os.path.join(HERE, "README.md"), encoding="utf-8") as f:
        for line in f:
            if not line.startswith("|"):
                header = None
                continue
            cells = [c.strip().strip("`") for c in line.strip().strip("|").split("|")]
            if cells[0] == "property":
                header = cells[1:]
            elif header and not set(cells[0]) <= set("-: "):
                rows[cells[0]] = dict(zip(header, cells[1:]))
    return rows


def benchmark_json_shares() -> dict[str, dict[str, str]]:
    """The seed-1 figures each workload's ``why`` in BENCHMARK.json states."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        whys = {w["name"]: w["why"] for w in json.load(f)["workloads"]}
    props = ("pages", "vocabulary", "non_ascii_ws_rows", "null_rows", "max_snapshots_per_url")
    shares: dict[str, dict[str, str]] = {p: {} for p in props}
    for name, why in whys.items():
        m = re.search(r"Seed 1: (\d+) pages, (\d+) words, ([\d.]+%) non-ASCII-ws rows, "
                      r"([\d.]+%) null rows, max (\d+) snapshots/url", why)
        assert m, why
        for prop, cell in zip(props, m.groups()):
            shares[prop][name] = cell
    return shares


def test_same_seed_gives_byte_identical_parquet(tmp_path):
    paths = [tmp_path / f"{n}.parquet" for n in "abc"]
    for path, seed in zip(paths, (5, 5, 6)):
        gen.write(SMALL, seed, str(path))
    a, b, c = (p.read_bytes() for p in paths)
    assert a == b
    assert a != c


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_measured_shares_match_the_docs(workload):
    measured = gen.measure(gen.generate(gen.SPECS[workload], 1))
    for documented in (readme_shares(), benchmark_json_shares()):
        for prop, cells in documented.items():
            value, doc = measured[prop], cells[workload]
            if isinstance(value, int):
                assert value == int(doc), (prop, value, doc)
            else:
                assert abs(value - float(doc.rstrip("%")) / 100) < 0.0005, (prop, value, doc)


def test_census_engages_only_on_the_hot_input():
    for name, spec in gen.SPECS.items():
        top = gen.measure(gen.generate(spec, 1))["max_snapshots_per_url"]
        assert (top >= jobs.HEAVY_HITTER_THRESHOLD) == (name == "flagship_hot"), (name, top)


@pytest.fixture(scope="module")
def checked(tmp_path_factory):
    """A reference table, and a copy of it standing in for engine output."""
    pages = str(tmp_path_factory.mktemp("ref") / "pages.parquet")
    gen.write(SMALL, 3, pages)
    con = reference.connect(2)
    reference.build_reference(con, pages)
    con.execute("CREATE TEMP TABLE got AS SELECT * FROM ref")
    return con


def _plant(con, column: str, expr: str) -> None:
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE bad AS
SELECT * REPLACE (CASE WHEN row_number() OVER (ORDER BY url, t) = 7
                       THEN {expr} ELSE {column} END AS {column})
FROM got""")


def test_checker_accepts_identical_output(checked):
    assert reference.check(checked) == []


def test_checker_rejects_a_perturbed_value(checked):
    _plant(checked, "quality", "quality + 0.01")
    assert reference.check(checked, got="bad") == ["1 rows differ in quality"]


def test_checker_rejects_a_future_match(checked):
    _plant(checked, "matched_ts", "t + INTERVAL 1 DAY")
    assert "1 rows matched a snapshot after t (leakage)" in reference.check(checked, got="bad")


def test_checker_rejects_a_missing_row(checked):
    checked.execute("CREATE OR REPLACE TEMP TABLE bad AS SELECT * FROM got LIMIT 10 OFFSET 1")
    assert any(f.startswith("row count") for f in reference.check(checked, got="bad"))


def test_event_log_reader_on_a_recorded_log(tmp_path):
    """Record a small traced flagship and read it back by job group."""
    from pliers_spark.session import get_spark

    pages = str(tmp_path / "pages.parquet")
    rows = gen.write(SMALL, 4, pages)
    events = tmp_path / "events"
    events.mkdir()
    spark = get_spark("perfbench-test", cpus=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path / "wh"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(events),
        "spark.eventLog.compress": "false",
    })
    try:
        sc = spark.sparkContext
        sc.setJobGroup("extract", "extract")
        jobs.noop(jobs.extract_page_features_arrow(spark.read.parquet(pages)))
        sc.setJobGroup("asof", "asof")
        jobs.noop(jobs.flagship(spark, pages))
    finally:
        spark.stop()
    groups = eventlog.read_groups(str(events))
    ex, full = groups["extract"], groups["asof"]
    assert ex.nodes["py_rows_out"] == ex.input_records == rows
    assert ex.nodes["py_bytes_in"] > 0 and ex.nodes["py_bytes_out"] > 0
    assert ex.shuffle_bytes == 0 < full.shuffle_bytes
    assert full.nodes["generate_rows_out"] > 0
    assert full.max_task_ms > 0 and full.tasks > ex.tasks
    assert ex.failed_tasks == full.failed_tasks == 0
    # no url of SMALL reaches the threshold: the census scans the input
    # once, then the plain plan extracts once and scans twice
    assert sum(eventlog.count_nodes(p, "MapInPandas") for p in full.plans) == 1
    assert sum(eventlog.count_scans_of(p, pages) for p in full.plans) == 3


def _tree(root: str) -> set[str]:
    return {os.path.relpath(os.path.join(d, f), root)
            for d, _, files in os.walk(root) for f in files}


def test_a_run_is_quiet_and_leaves_no_file():
    before = _tree(ROOT)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "flagship_plain",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert not any(re.search(r"\[Stage \d+", ln) for ln in lines)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert _tree(ROOT) == before


def test_a_bare_checkout_fails_without_a_result(tmp_path):
    """Only BENCHMARK.json and perfbench/: no engine to import."""
    (tmp_path / "perfbench").mkdir()
    for name in os.listdir(HERE):
        if name.endswith((".py", ".md")):
            shutil.copy(os.path.join(HERE, name), tmp_path / "perfbench" / name)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-B", "perfbench/run.py", "--workload", "flagship_plain",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
