"""As-of join semantics + strategy equivalence on the synthetic pages
table (the north-rule core operator)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from pliers_spark.operators.asof import (
    asof_join,
    asof_join_cogroup,
    asof_join_split,
    detect_heavy_hitters,
)


@pytest.fixture(scope="module")
def fixture(spark):
    rows = [
        ("u1", dt.datetime(2024, 1, 1, 0, 0), 1.0),
        ("u1", dt.datetime(2024, 1, 3, 0, 0), 2.0),
        ("u1", dt.datetime(2024, 1, 10, 0, 0), 3.0),
        ("u2", dt.datetime(2024, 1, 5, 0, 0), 10.0),
    ]
    right = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    spine_rows = [
        ("u1", dt.datetime(2023, 12, 31)),  # before first → NULL
        ("u1", dt.datetime(2024, 1, 3)),    # exact tie → inclusive (2.0)
        ("u1", dt.datetime(2024, 1, 4)),    # between → 2.0
        ("u1", dt.datetime(2024, 2, 1)),    # after last → 3.0
        ("u2", dt.datetime(2024, 1, 6)),    # → 10.0
        ("u3", dt.datetime(2024, 1, 6)),    # entity with no snapshots → NULL
    ]
    spine = spark.createDataFrame(spine_rows, "url string, t timestamp")
    return spine, right


EXPECTED = {
    ("u1", dt.datetime(2023, 12, 31)): None,
    ("u1", dt.datetime(2024, 1, 3)): 2.0,
    ("u1", dt.datetime(2024, 1, 4)): 2.0,
    ("u1", dt.datetime(2024, 2, 1)): 3.0,
    ("u2", dt.datetime(2024, 1, 6)): 10.0,
    ("u3", dt.datetime(2024, 1, 6)): None,
}


def collect_map(df):
    return {(r.url, r.t): r.v for r in df.collect()}


def test_asof_union_window(fixture):
    spine, right = fixture
    out = asof_join(spine, right, ["url"], "t", "warc_ts", ["v"])
    assert collect_map(out) == EXPECTED


def test_asof_cogroup(fixture):
    spine, right = fixture
    out = asof_join_cogroup(spine, right, ["url"], "t", "warc_ts", ["v"])
    assert collect_map(out) == EXPECTED


def test_asof_split(fixture):
    spine, right = fixture
    # 1-day chunks: u1's 2024-02-01 spine point is many empty chunks past
    # the last snapshot — exercises the exact boundary carry
    out = asof_join_split(spine, right, ["url"], "t", "warc_ts", ["v"], split_seconds=86400.0)
    assert collect_map(out) == EXPECTED


def test_strategies_agree_on_pages(spark, pages):
    """Differential test at realistic shape: all three physical strategies
    produce identical results on the Zipf-skewed pages table, on a
    100-hour grid and on that grid plus every snapshot's own instant
    (each an inclusive tie)."""
    grid = (
        pages.groupBy("url")
        .agg(F.min("warc_ts").alias("t0"), F.max("warc_ts").alias("t1"))
        .select(
            "url",
            F.explode(
                F.sequence("t0", "t1", F.expr("INTERVAL 100 HOURS"))
            ).alias("t"),
        )
    )
    right = pages.select("url", "warc_ts", F.length("text").alias("text_len"))
    with_ties = grid.union(right.select("url", F.col("warc_ts").alias("t"))).distinct()
    for spine in (grid, with_ties):
        a = asof_join(spine, right, ["url"], "t", "warc_ts", ["text_len"], matched_ts_col=None)
        b = asof_join_cogroup(spine, right, ["url"], "t", "warc_ts", ["text_len"])
        c = asof_join_split(spine, right, ["url"], "t", "warc_ts", ["text_len"],
                            split_seconds=30 * 86400.0).select("url", "t", "text_len")
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        rc = sorted(map(tuple, c.collect()))
        assert ra == rb == rc
        assert len(ra) > 0


def test_heavy_hitter_census(spark, pages):
    hh = detect_heavy_hitters(pages, ["url"], threshold_rows=5)
    assert hh.columns == ["url", "n_rows"]
    for r in hh.collect():
        assert r.n_rows >= 5


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tol", [None, 3 * 86400.0])
def test_directional_matches_pandas_merge_asof(spark, fixture, direction, tol):
    """Differential: asof_join ≡ pandas.merge_asof for every
    direction × tolerance combination on the module fixture."""
    import pandas as pd

    spine, right = fixture
    got = (
        asof_join(
            spine, right, ["url"], "t", "warc_ts", ["v"], None,
            direction=direction, tolerance_seconds=tol,
        )
        .toPandas()
        .sort_values(["url", "t"])
        .reset_index(drop=True)
    )
    lp = spine.toPandas().sort_values(["t", "url"]).reset_index(drop=True)
    rp = right.toPandas().sort_values(["warc_ts", "url"]).reset_index(drop=True)
    exp = pd.merge_asof(
        lp, rp, left_on="t", right_on="warc_ts", by="url",
        direction=direction,
        tolerance=None if tol is None else pd.Timedelta(seconds=tol),
    ).sort_values(["url", "t"]).reset_index(drop=True)
    assert list(got["v"].fillna(-1)) == list(exp["v"].fillna(-1)), (
        direction, tol, got, exp)


def test_directional_backward_equals_default_strategy(fixture):
    """The explicit backward direction ≡ the cogroup merge_asof twin,
    matched timestamp included."""
    spine, right = fixture
    a = asof_join(spine, right, ["url"], "t", "warc_ts", ["v"], direction="backward").collect()
    b = asof_join_cogroup(
        spine, right, ["url"], "t", "warc_ts", ["v"], matched_ts_col="matched_ts"
    ).collect()
    assert sorted([(r.url, r.t, r.v, r.matched_ts) for r in a]) == sorted(
        [(r.url, r.t, r.v, r.matched_ts) for r in b]
    )


def test_directional_single_shuffle(spark, fixture):
    """nearest must still compile to ONE exchange (two frames over one
    sort), never a second shuffle or a Python stage."""
    spine, right = fixture
    df = asof_join(spine, right, ["url"], "t", "warc_ts", ["v"], direction="nearest")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2, plan  # 1 data + (AQE may add a read)
    assert "PythonUDF" not in plan, plan


def test_row_atomic_fill_with_null_value_columns(spark):
    """r5 review fix: the as-of fill must attach the value columns of
    the latest right ROW as a unit. Per-column last(ignorenulls) would
    resurrect column values from OLDER rows when the latest row carries
    a null — mixing columns across rows and disagreeing with pandas
    merge_asof and the cogroup twin. All three strategies must agree,
    and matched_ts must come from the same row as the values."""
    import datetime as dt

    from pliers_spark.operators.asof import asof_join, asof_join_cogroup, asof_join_split

    t = lambda d: dt.datetime(2024, 1, d)
    right = spark.createDataFrame(
        [("e", t(1), 7.0, 100.0), ("e", t(5), None, 200.0), ("f", t(2), 1.0, None)],
        "ent string, rts timestamp, a double, b double",
    )
    spine = spark.createDataFrame(
        [("e", t(10)), ("f", t(10)), ("g", t(10))], "ent string, ts timestamp"
    )
    key = lambda r: (r["ent"], r["a"], r["b"])
    uw = {key(r): r for r in
          asof_join(spine, right, ["ent"], "ts", "rts", ["a", "b"]).collect()}
    # latest e-row is t(5): a must be NULL (not resurrected 7.0), b=200
    assert ("e", None, 200.0) in uw and uw[("e", None, 200.0)]["matched_ts"] == t(5)
    assert ("f", 1.0, None) in uw
    assert ("g", None, None) in uw
    cg = sorted(map(key,
         asof_join_cogroup(spine, right, ["ent"], "ts", "rts", ["a", "b"]).collect()),
         key=str)
    sp = sorted(map(key,
         asof_join_split(spine, right, ["ent"], "ts", "rts", ["a", "b"],
                         split_seconds=86400.0).collect()), key=str)
    want = sorted([("e", None, 200.0), ("f", 1.0, None), ("g", None, None)], key=str)
    assert cg == want and sp == want


def test_directional_row_atomic_with_null_values(spark):
    import datetime as dt

    t = lambda d: dt.datetime(2024, 1, d)
    right = spark.createDataFrame(
        [("e", t(1), 7.0), ("e", t(5), None)], "ent string, rts timestamp, a double"
    )
    spine = spark.createDataFrame([("e", t(3)), ("e", t(10))],
                                  "ent string, ts timestamp")
    got = {r["ts"]: (r["a"], r["matched_ts"]) for r in asof_join(
        spine, right, ["ent"], "ts", "rts", ["a"], direction="backward").collect()}
    assert got[t(3)] == (7.0, t(1))
    assert got[t(10)] == (None, t(5))  # null NOT replaced by the t(1) value
    fwd = {r["ts"]: (r["a"], r["matched_ts"]) for r in asof_join(
        spine, right, ["ent"], "ts", "rts", ["a"], direction="forward").collect()}
    assert fwd[t(3)] == (None, t(5))


def test_null_timestamps_never_match(spark):
    """A right row with a null timestamp is never a match, and a spine
    row with a null timestamp matches nothing, in every direction (the
    oracle's ASOF JOIN compares with NULL and finds no row)."""
    import datetime as dt

    t = lambda d: dt.datetime(2024, 1, d)
    right = spark.createDataFrame(
        [("e", None, 1.0), ("e", t(5), 2.0), ("f", None, 3.0)],
        "ent string, rts timestamp, a double",
    )
    spine = spark.createDataFrame(
        [("e", t(1)), ("e", t(9)), ("e", None), ("f", t(9))], "ent string, ts timestamp"
    )
    want = {
        "backward": {("e", t(1)): None, ("e", t(9)): 2.0, ("e", None): None, ("f", t(9)): None},
        "forward": {("e", t(1)): 2.0, ("e", t(9)): None, ("e", None): None, ("f", t(9)): None},
        "nearest": {("e", t(1)): 2.0, ("e", t(9)): 2.0, ("e", None): None, ("f", t(9)): None},
    }
    for direction, expected in want.items():
        got = asof_join(spine, right, ["ent"], "ts", "rts", ["a"], direction=direction)
        rows = {(r.ent, r.ts): (r.a, r.matched_ts) for r in got.collect()}
        assert {k: a for k, (a, _) in rows.items()} == expected, direction
        assert all((a is None) == (m is None) for a, m in rows.values()), (direction, rows)
