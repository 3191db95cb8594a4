"""Windowed temporal operators: correctness + the zero-leakage gate."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from pliers_spark.operators import temporal as TP


@pytest.fixture(scope="module")
def ev(spark):
    base = dt.datetime(2024, 1, 1)
    rows = []
    # u1: three bursts separated by > 1h gaps
    for offset_min, v in [(0, 1.0), (5, 2.0), (10, None), (200, 4.0), (205, 5.0), (500, 6.0)]:
        rows.append(("u1", base + dt.timedelta(minutes=offset_min), v))
    rows.append(("u2", base, 9.0))
    return spark.createDataFrame(rows, "uid string, ts timestamp, v double")


def test_lag_lead(ev):
    out = TP.lag_features(ev, ["uid"], "ts", "v", [1])
    out = TP.lead_features(out, ["uid"], "ts", "v", [1])
    r = {(x.uid, x.ts.minute + 60 * x.ts.hour): x for x in out.collect()}
    assert r[("u1", 5)].v_lag1 == 1.0
    assert r[("u1", 0)].v_lag1 is None
    assert r[("u1", 5)].v_lead1 is None  # next value is NULL
    assert r[("u2", 0)].v_lag1 is None


def test_ffill_and_bfill(ev):
    out = TP.ffill(ev, ["uid"], "ts", "v")
    r = sorted(out.where("uid='u1'").collect(), key=lambda x: x.ts)
    assert [x.v_ffill for x in r] == [1.0, 2.0, 2.0, 4.0, 5.0, 6.0]
    out2 = TP.bfill(ev, ["uid"], "ts", "v")
    r2 = sorted(out2.where("uid='u1'").collect(), key=lambda x: x.ts)
    assert [x.v_bfill for x in r2] == [1.0, 2.0, 4.0, 4.0, 5.0, 6.0]


def test_sessionize_gaps(ev):
    out = TP.sessionize(ev, ["uid"], "ts", gap_seconds=3600)
    r = sorted(out.where("uid='u1'").collect(), key=lambda x: x.ts)
    assert [x.session_id for x in r] == [1, 1, 1, 2, 2, 3]
    bounds = TP.session_bounds(ev, ["uid"], "ts", gap_seconds=3600)
    b = {(x.uid, x.session_id): x.n_events for x in bounds.collect()}
    assert b[("u1", 1)] == 3 and b[("u1", 2)] == 2 and b[("u1", 3)] == 1
    assert b[("u2", 1)] == 1


def test_rolling_agg_trailing_range(ev):
    out = TP.rolling_agg(ev, ["uid"], "ts", "v", 600.0, aggs={"s": "sum", "c": "count"})
    r = sorted(out.where("uid='u1'").collect(), key=lambda x: x.ts)
    # at minute 10 (v=None): window covers minutes 0,5,10 → sum 3.0, count 2
    assert r[2].s == 3.0 and r[2].c == 2
    # at minute 205: window covers 200,205 → 9.0
    assert r[4].s == 9.0 and r[4].c == 2


def test_running_count_and_object_id(spark):
    df = spark.createDataFrame(
        [("d", 0, "x"), ("d", 1, "y"), ("d", 2, "x"), ("d", 3, "x")],
        "doc string, pos long, tok string",
    )
    rc = TP.running_count(df, ["doc"], "tok", "pos", out_col="c")
    assert [r.c for r in rc.orderBy("pos").collect()] == [1, 1, 2, 3]
    oid = TP.with_object_id(df, ["doc", "tok"], "pos")
    got = {(r.tok, r.pos): r.object_id for r in oid.collect()}
    assert got[("x", 0)] == 0 and got[("x", 2)] == 1 and got[("x", 3)] == 2


def test_top_n_by_change(ev):
    out = TP.top_n_by_change(ev.na.drop(), ["uid"], "ts", "v", 1)
    r = out.where("uid='u1'").collect()
    assert len(r) == 1
    # largest |Δ| among consecutive non-null: |4-2|=2 at minute 200... but
    # na.drop removes the NULL row first, so diffs are 1,2,1,1 → minute 200
    assert r[0].ts == dt.datetime(2024, 1, 1, 3, 20)


def test_resample_grid_step(ev):
    grid = TP.resample_grid(ev, ["uid"], "ts", 3600)
    g1 = [r.ts for r in grid.where("uid='u1'").orderBy("ts").collect()]
    assert g1[0] == dt.datetime(2024, 1, 1, 0, 0)
    assert g1[1] == dt.datetime(2024, 1, 1, 1, 0)
    assert g1[-1] <= dt.datetime(2024, 1, 1, 8, 20)


def test_resample_grid_independent_of_session_time_zone(spark):
    """A weekly grid across New York's 2024 spring-forward steps exactly
    7 days of µs under the UTC and the America/New_York session zones,
    for an instant (``timestamp``) and a wall-clock ``timestamp_ntz``
    column: an interval step would add whole days on the New York wall
    clock and step 601,200 s across 2024-03-10."""
    from pliers_spark.operators._util import ts_micros

    week_us = 7 * 86400 * 1_000_000
    t0 = dt.datetime(2024, 3, 1, 12, tzinfo=dt.timezone.utc)
    zone = spark.conf.get("spark.sql.session.timeZone")
    got = {}
    try:
        for ts_type in ("timestamp", "timestamp_ntz"):
            tz = dt.timezone.utc if ts_type == "timestamp" else None
            rows = [("u", (t0 + dt.timedelta(days=d)).replace(tzinfo=tz)) for d in (0, 30)]
            df = spark.createDataFrame(rows, f"uid string, ts {ts_type}")
            for session_tz in ("UTC", "America/New_York"):
                spark.conf.set("spark.sql.session.timeZone", session_tz)
                grid = TP.resample_grid(df, ["uid"], "ts", 7 * 86400)
                us = grid.select(ts_micros(F.col("ts"), grid.schema["ts"].dataType).alias("us"))
                got[ts_type, session_tz] = sorted(r.us for r in us.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    for (ts_type, _), us in got.items():
        assert us == got[ts_type, "UTC"]
        assert len(us) == 5 and {b - a for a, b in zip(us, us[1:])} == {week_us}, us


def test_trim_and_framed_agg_independent_of_session_time_zone(spark):
    """On a ``timestamp_ntz`` column, ``temporal_trim``'s ``rel_s`` and
    ``framed_agg``'s frame ids read the literal bound as a wall-clock
    value like the column, so the America/New_York session zone gives
    the UTC answer: 2024-03-11 is 172,800 s after 2024-03-09 across the
    spring-forward step (reading both through ``timestamp_ltz`` gave
    169,200), and 02:00 on day 10 after a 1-day-hop origin is in frame
    10 (an origin read in the session zone put it in frame 9)."""
    df = spark.createDataFrame(
        [("u", dt.datetime(2024, 3, 11, 2), 1.0)], "uid string, ts timestamp_ntz, v double"
    )
    zone = spark.conf.get("spark.sql.session.timeZone")
    got = {}
    try:
        for session_tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", session_tz)
            trim = TP.temporal_trim(df, "ts", "2024-03-09 02:00:00", "2024-03-12 00:00:00",
                                    rebase=True)
            frames = TP.framed_agg(df, ["uid"], "ts", "v", 86400, 86400,
                                   origin="2024-03-01 00:00:00")
            got[session_tz] = ([r.rel_s for r in trim.collect()],
                               [r.frame_id for r in frames.collect()])
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert got["UTC"] == got["America/New_York"] == ([172800.0], [10])


def test_interpolate_linear_row_atomic_matches_oracle(spark, tmp_path):
    """``resample_interpolate`` brackets each grid point with whole
    observation rows, as its DuckDB oracle's two ASOF joins do: a
    bracket whose value is NULL interpolates to NULL (no value borrowed
    from an older or newer row), and a grid point exactly on the last
    observation takes that observation's value. Both brackets come from
    one Window over one sort."""
    import duckdb

    from pliers_spark.queries import ORACLES, QUERIES

    h = lambda hours: dt.datetime(2024, 1, 1) + dt.timedelta(hours=hours)
    rows = [(1, h(0), 1.0), (1, h(9), None), (1, h(18), 5.0),
            (2, h(0), 2.0), (2, h(3), 4.0), (2, h(12), 8.0),
            (3, h(5), 7.0)]
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double").write.parquet(
        str(tmp_path / "events.parquet"))
    out = QUERIES["resample_interpolate"](spark, str(tmp_path))
    got = {(r.user_id, r.t): r.value_interp for r in out.collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet/*.parquet')")
    want = {(r[0], r[1]): r[2] for r in
            con.sql(f"SELECT user_id, t, value_interp FROM ({ORACLES['resample_interpolate']})")
            .fetchall()}
    assert got == pytest.approx(want)
    assert got[1, h(6)] is None and got[1, h(12)] is None  # a NULL bracket
    assert got[1, h(18)] == 5.0 and got[2, h(12)] == 8.0  # on the last observation
    assert got[2, h(6)] == pytest.approx(4.0 + 4.0 / 3)

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # the adaptive plan that ran
    assert len([line for line in final.splitlines() if "Window [" in line]) == 1, plan


def test_zero_temporal_leakage(spark, pages):
    """North-rule leakage gate: recompute windowed features with all rows
    after a cutoff deleted — features at (url, ts <= cutoff) must be
    identical (no frame reads the future)."""
    feats = lambda df: TP.lag_features(
        TP.ffill(
            TP.sessionize(df, ["url"], "warc_ts", gap_seconds=30 * 86400),
            ["url"], "warc_ts", "text_len",
        ),
        ["url"], "warc_ts", "text_len", [1],
    )
    base = pages.select("url", "warc_ts", F.length("text").alias("text_len"))
    us = F.unix_micros(F.col("warc_ts").cast("timestamp_ltz"))
    cutoff = base.select(F.expr(
        "percentile_approx(unix_micros(cast(warc_ts as timestamp_ltz)), 0.5)"
    )).first()[0]
    full = feats(base).where(us <= cutoff)
    truncated = feats(base.where(us <= cutoff))
    a = sorted(map(tuple, full.collect()))
    b = sorted(map(tuple, truncated.collect()))
    assert a == b and len(a) > 0


def test_sample_every_nth(ev):
    out = TP.sample_every_nth(ev, ["uid"], "ts", 2)
    kept = sorted((r.uid, r.ts.minute + 60 * r.ts.hour) for r in out.collect())
    # u1 rows at offsets 0,5,10,200,205,500 -> indices 0,2,4 kept
    assert kept == [("u1", 0), ("u1", 10), ("u1", 205), ("u2", 0)]


def test_sample_per_period(ev):
    out = TP.sample_per_period(ev, ["uid"], "ts", "hour")
    kept = sorted((r.uid, r.ts.minute + 60 * r.ts.hour) for r in out.collect())
    # u1 hours: 0 (first=0min), 3 (first=200min), 8 (500min); u2 hour 0
    assert kept == [("u1", 0), ("u1", 200), ("u1", 500), ("u2", 0)]


def test_temporal_trim_rebase(ev):
    import datetime as dt

    start = dt.datetime(2024, 1, 1, 1, 0)
    end = dt.datetime(2024, 1, 1, 8, 0)
    out = TP.temporal_trim(ev, "ts", start, end, rebase=True)
    rows = {r.ts.minute + 60 * r.ts.hour: r.rel_s for r in out.collect()}
    # only u1's 200/205-minute rows fall in [60min, 480min)
    assert sorted(rows) == [200, 205]
    assert rows[200] == (200 - 60) * 60.0


def test_lag1_timesplit_equals_plain_lag(spark):
    """Time-bucket-split lag-1 (``timesplit_windows(lag1=...)``) == plain
    window lag, including null values mid-stream and entities spanning
    many/missing buckets."""
    import datetime as dt

    from pliers_spark.operators.skew import timesplit_windows
    from pliers_spark.operators.temporal import lag_features

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in ["hot", "cold"]:
        n = 500 if uid == "hot" else 7
        for k in range(n):
            # irregular spacing → buckets with many rows, one row, none
            ts = base + dt.timedelta(minutes=17 * k + (k % 5) * 123)
            v = None if k % 11 == 3 else float(k)
            rows.append((uid, ts, v))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")

    want = {
        (r.user_id, r.ts): r.value_lag1
        for r in lag_features(df, ["user_id"], "ts", "value", [1]).collect()
    }
    got = {
        (r.user_id, r.ts): r.value_lag1
        for r in timesplit_windows(df, ["user_id"], "ts", 3600, lag1=("value",)).collect()
    }
    assert got == want and len(got) == 507


def test_sessionize_timesplit_equals_plain(spark):
    import datetime as dt

    from pliers_spark.operators.skew import timesplit_windows
    from pliers_spark.operators.temporal import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in ["hot", "cold"]:
        t = base
        n = 400 if uid == "hot" else 9
        for k in range(n):
            # gaps straddling bucket boundaries and the session threshold
            t += dt.timedelta(minutes=25 if k % 7 else 60 * 9)
            rows.append((uid, t))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")

    want = {
        (r.user_id, r.ts): r.session_id
        for r in sessionize(df, ["user_id"], "ts", gap_seconds=4 * 3600).collect()
    }
    got = {
        (r.user_id, r.ts): r.session_id
        for r in timesplit_windows(
            df, ["user_id"], "ts", 3600, session_gap=4 * 3600
        ).collect()
    }
    assert got == want and len(got) == 409


def test_ffill_timesplit_equals_plain(spark):
    """Includes all-null buckets (carry must ffill across them)."""
    import datetime as dt

    from pliers_spark.operators.skew import timesplit_windows
    from pliers_spark.operators.temporal import ffill

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in ["hot", "cold"]:
        n = 300 if uid == "hot" else 8
        for k in range(n):
            ts = base + dt.timedelta(minutes=13 * k)
            v = float(k) if k % 9 == 0 else None  # long null runs spanning buckets
            rows.append((uid, ts, v))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")

    want = {
        (r.user_id, r.ts): r.value_ffill
        for r in ffill(df, ["user_id"], "ts", "value").collect()
    }
    got = {
        (r.user_id, r.ts): r.value_ffill
        for r in timesplit_windows(df, ["user_id"], "ts", 3600, ffill=("value",)).collect()
    }
    assert got == want and len(got) == 308


def test_timesplit_windows_all_features_in_one_call(spark):
    """Session, two lags and two fills from ONE timesplit_windows call
    equal the three plain temporal operators — with null values mid-
    bucket and on buckets' first rows (a null first row must take the
    carried fill, and its own null must be the next row's lag), rows on
    a bucket's start instant, and gaps over the session threshold both
    inside a bucket and across a boundary."""
    import datetime as dt

    from pliers_spark.operators.skew import timesplit_windows
    from pliers_spark.operators.temporal import ffill, lag_features, sessionize

    base = dt.datetime(2024, 1, 1)  # a 4 h bucket's start instant
    rows, buckets = [], set()
    for uid, n in [("hot", 240), ("cold", 6)]:
        for k in range(n):
            # 20-min steps with a 200-min jump every 25 rows: the jumps
            # open sessions inside a bucket and across a boundary
            m = 20 * k + 180 * (k // 25)
            head = (uid, m // 240) not in buckets  # first row of its bucket
            buckets.add((uid, m // 240))
            a = None if (head and m // 240 % 2) or k % 7 == 5 else float(k)
            b = None if (k // 15) % 3 == 1 else k  # null runs spanning buckets
            rows.append((uid, base + dt.timedelta(minutes=m), a, b))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, a double, b long")
    key = ["user_id"]

    plain = sessionize(df, key, "ts", gap_seconds=2 * 3600)
    plain = lag_features(lag_features(plain, key, "ts", "a", [1]), key, "ts", "b", [1])
    plain = ffill(ffill(plain, key, "ts", "a"), key, "ts", "b")
    split = timesplit_windows(
        df, key, "ts", 4 * 3600, lag1=("a", "b"), ffill=("a", "b"), session_gap=2 * 3600
    )
    assert split.columns == df.columns + [
        "session_id", "a_lag1", "b_lag1", "a_ffill", "b_ffill"]
    by_key = lambda out: {
        (r.user_id, r.ts): tuple(r[c] for c in split.columns) for r in out.collect()
    }
    got, want = by_key(split), by_key(plain)
    assert got == want and len(got) == 246
    assert max(v[4] for v in got.values()) == 10  # each jump opens a session


def test_timesplit_windows_lag2_and_first_equal_plain(spark):
    """Lag-2 and the entity's first value from one timesplit_windows
    call equal ``F.lag(c, 2)`` and a running ``first(c)``: a bucket
    holding one row (the next bucket's first row takes its lag-2 from
    two buckets back), runs of empty buckets, null values (also on the
    entity's first row, on a single-row bucket and on a bucket's last
    row), rows on a bucket's start instant and sub-second timestamps."""
    import datetime as dt
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pliers_spark.operators.skew import timesplit_windows

    base = dt.datetime(2024, 1, 1)  # a 5 s bucket's start instant
    rnd = random.Random(7)
    rows = []
    # ms offsets: buckets 0 (four rows), 1 (one row, on its start
    # instant), 4 and 5 (one row each, after two empty buckets), 6, ...
    fixed = [0, 250, 1250.5, 4999.999, 5000, 21000, 26000.001, 30000, 30250, 31000]
    for uid, offsets in [("hot", fixed), ("cold", [3, 9000, 9000.25])]:
        for k, ms in enumerate(offsets):
            v = None if (uid, k) in {("hot", 5), ("hot", 3), ("cold", 0)} else float(k)
            rows.append((uid, base + dt.timedelta(milliseconds=ms), v))
    t = base + dt.timedelta(seconds=40)
    for k in range(300):  # gaps from 1 ms to 12 s: dense, single-row and empty buckets
        t += dt.timedelta(microseconds=rnd.choice([1_000, 250_000, 4_000_000, 12_000_000])
                          + rnd.randrange(1000))
        rows.append(("hot", t, None if k % 7 == 3 else float(k)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, v double")

    w = Window.partitionBy("user_id").orderBy("ts")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    plain = df.withColumns({
        "v_lag1": F.lag("v").over(w),
        "v_lag2": F.lag("v", 2).over(w),
        "ts_lag2": F.lag("ts", 2).over(w),
        "v_first": F.first("v").over(w_run),
        "ts_first": F.first("ts").over(w_run),
    })
    split = timesplit_windows(
        df, ["user_id"], "ts", 5, lag1=("v",), lag2=("v", "ts"), first=("v", "ts")
    )
    assert split.columns == plain.columns
    by_key = lambda out: {(r.user_id, r.ts): tuple(r) for r in out.collect()}
    got, want = by_key(split), by_key(plain)
    assert got == want and len(got) == len(rows)
    # 26.000001 s opens bucket 5 after the one-row buckets 4 (21 s, null)
    # and 1 (5 s, two empty buckets earlier): its lag-2 is the 5 s row
    hot = got[("hot", base + dt.timedelta(milliseconds=26000.001))]
    assert hot[4:6] == (4.0, base + dt.timedelta(seconds=5))
    assert {v[6:] for k, v in got.items() if k[0] == "cold"} == {
        (None, base + dt.timedelta(milliseconds=3))}


def test_rolling_timesplit_equals_plain(spark):
    import datetime as dt

    from pliers_spark.operators.skew import rolling_timesplit
    from pliers_spark.operators.temporal import rolling_agg

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("hot", base + dt.timedelta(minutes=7 * k), float(k % 13)) for k in range(400)
    ] + [("cold", base + dt.timedelta(hours=3 * k), 1.0) for k in range(6)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")

    want = {
        (r.user_id, r.ts): (round(r.rs, 6), r.rc)
        for r in rolling_agg(df, ["user_id"], "ts", "value", 3600.0,
                             aggs={"rs": "sum", "rc": "count"}).collect()
    }
    got = {
        (r.user_id, r.ts): (round(r.rs, 6), r.rc)
        for r in rolling_timesplit(df, ["user_id"], "ts", "value", 3600.0, 7200,
                                   aggs={"rs": "sum", "rc": "count"}).collect()
    }
    assert got == want and len(got) == 406

    import pytest

    with pytest.raises(ValueError):
        rolling_timesplit(df, ["user_id"], "ts", "value", 7201.0, 7200)


def test_timesplit_subsecond_timestamps(spark):
    """Sub-second data: the split ops (rolling_timesplit and each
    timesplit_windows feature) must agree with their plain twins at
    µs precision (regression: unix_timestamp truncation made rolling
    frames read same-second FUTURE rows and mis-split sub-second gaps)."""
    import datetime as dt

    from pliers_spark.operators.skew import rolling_timesplit, timesplit_windows
    from pliers_spark.operators.temporal import ffill, lag_features, rolling_agg, sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in ["hot", "cold"]:
        n = 120 if uid == "hot" else 9
        t = base
        for k in range(n):
            # 0.25s steps with occasional 2.5s gaps — everything sub-bucket
            t += dt.timedelta(milliseconds=250 if k % 8 else 2500)
            v = None if k % 11 == 4 else float(k)
            rows.append((uid, t, v))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")

    want = {
        (r.user_id, r.ts): (round(r.rs, 6) if r.rs is not None else None, r.rc)
        for r in rolling_agg(df, ["user_id"], "ts", "value", 1.0,
                             aggs={"rs": "sum", "rc": "count"}).collect()
    }
    got = {
        (r.user_id, r.ts): (round(r.rs, 6) if r.rs is not None else None, r.rc)
        for r in rolling_timesplit(df, ["user_id"], "ts", "value", 1.0, 5,
                                   aggs={"rs": "sum", "rc": "count"}).collect()
    }
    assert got == want

    want = {
        (r.user_id, r.ts): r.session_id
        for r in sessionize(df, ["user_id"], "ts", gap_seconds=0.6).collect()
    }
    got = {
        (r.user_id, r.ts): r.session_id
        for r in timesplit_windows(df, ["user_id"], "ts", 5, session_gap=0.6).collect()
    }
    assert got == want

    want = {
        (r.user_id, r.ts): r.value_lag1
        for r in lag_features(df, ["user_id"], "ts", "value", [1]).collect()
    }
    got = {
        (r.user_id, r.ts): r.value_lag1
        for r in timesplit_windows(df, ["user_id"], "ts", 5, lag1=("value",)).collect()
    }
    assert got == want

    want = {
        (r.user_id, r.ts): r.value_ffill
        for r in ffill(df, ["user_id"], "ts", "value").collect()
    }
    got = {
        (r.user_id, r.ts): r.value_ffill
        for r in timesplit_windows(df, ["user_id"], "ts", 5, ffill=("value",)).collect()
    }
    assert got == want
