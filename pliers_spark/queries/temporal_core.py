"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: asof_join, asof_join_forward, asof_join_nearest,
    asof_join_cogroup, asof_join_split, lag_lead, ffill, bfill,
    sessionize, rolling_window, resample_ffill, interval_join, object_id,
    top_n_by_change, events_pivot, tpch_q1
"""
from __future__ import annotations

from ._registry import A, F, TP, _events, load_table, query
from .core_parity import _GRID_START

_GRID_END = "2024-01-31 00:00:00"



def _user_grid(spark, sf_dir, hours: int):
    users = _events(spark, sf_dir).select("user_id").distinct()
    return users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.to_timestamp(F.lit(_GRID_START)),
                F.to_timestamp(F.lit(_GRID_END)),
                F.expr(f"INTERVAL {hours} HOURS"),
            )
        ).alias("t"),
    )



def _grid_sql(hours: int) -> str:
    return f"""(SELECT user_id, unnest(generate_series(TIMESTAMP '{_GRID_START}',
                TIMESTAMP '{_GRID_END}', INTERVAL {hours} HOUR)) AS t
               FROM (SELECT DISTINCT user_id FROM events))"""



_ASOF_SQL = f"""SELECT g.user_id, g.t, e.value AS last_value, e.ts AS matched_ts
       FROM {_grid_sql(6)} g
       ASOF LEFT JOIN events e ON g.user_id = e.user_id AND g.t >= e.ts"""



@query("asof_join", _ASOF_SQL)
def q_asof_join(spark, sf_dir):
    """Point-in-time as-of join (union + window-ffill strategy, pure JVM):
    latest event value per (user, t), inclusive tie — the north-rule core
    operator (generalizes pliers' step-fill, pliers/utils/base.py:218-223)."""
    spine = _user_grid(spark, sf_dir, 6)
    ev = _events(spark, sf_dir)
    out = A.asof_join(spine, ev, ["user_id"], "t", "ts", ["value"], matched_ts_col="matched_ts")
    return out.select("user_id", "t", F.col("value").alias("last_value"), "matched_ts")



_ASOF_FWD_SQL = f"""SELECT g.user_id, g.t, e.value AS next_value, e.ts AS matched_ts
       FROM {_grid_sql(6)} g
       ASOF LEFT JOIN events e ON g.user_id = e.user_id AND g.t <= e.ts"""



@query("asof_join_forward", _ASOF_FWD_SQL)
def q_asof_join_forward(spark, sf_dir):
    """Forward as-of join (earliest event with ts >= t, inclusive):
    pandas merge_asof direction='forward' on the same one-shuffle
    union+window plan — the backward operator's following-frame mirror."""
    spine = _user_grid(spark, sf_dir, 6)
    ev = _events(spark, sf_dir)
    out = A.asof_join(
        spine, ev, ["user_id"], "t", "ts", ["value"], direction="forward"
    )
    return out.select("user_id", "t", F.col("value").alias("next_value"), "matched_ts")



_ASOF_NEAREST_TOL_S = 21_600  # 6 h — half the spine step, so some rows null out



def _asof_nearest_sql() -> str:
    tol_us = _ASOF_NEAREST_TOL_S * 1_000_000
    return f"""WITH b AS (
         SELECT g.user_id, g.t, e.value AS bv, e.ts AS bts
         FROM {_grid_sql(6)} g
         ASOF LEFT JOIN events e ON g.user_id = e.user_id AND g.t >= e.ts),
       f AS (
         SELECT g.user_id, g.t, e.value AS fv, e.ts AS fts
         FROM {_grid_sql(6)} g
         ASOF LEFT JOIN events e ON g.user_id = e.user_id AND g.t <= e.ts),
       j AS (
         SELECT b.user_id, b.t, bv, bts, fv, fts,
                epoch_us(b.t) - epoch_us(bts) AS bd,
                epoch_us(fts) - epoch_us(b.t) AS fd
         FROM b JOIN f ON b.user_id = f.user_id AND b.t = f.t),
       pick AS (
         SELECT user_id, t,
                (bts IS NOT NULL AND (fts IS NULL OR bd <= fd)) AS use_back,
                CASE WHEN (bts IS NOT NULL AND (fts IS NULL OR bd <= fd))
                     THEN bd ELSE fd END AS dist,
                bv, bts, fv, fts
         FROM j)
       SELECT user_id, t,
              CASE WHEN dist IS NOT NULL AND dist <= {tol_us}
                   THEN (CASE WHEN use_back THEN bv ELSE fv END) END AS near_value,
              CASE WHEN dist IS NOT NULL AND dist <= {tol_us}
                   THEN (CASE WHEN use_back THEN bts ELSE fts END) END AS matched_ts
       FROM pick"""



@query("asof_join_nearest", _asof_nearest_sql())
def q_asof_join_nearest(spark, sf_dir):
    """Nearest as-of join with tolerance (pandas merge_asof
    direction='nearest', tolerance=6h): closest event either side,
    equal-distance ties to the backward row, matches beyond the
    tolerance nulled. Both directions come from two window frames over
    ONE per-entity sort — still a single shuffle; distance arithmetic
    is exact integer microseconds on both engines."""
    spine = _user_grid(spark, sf_dir, 6)
    ev = _events(spark, sf_dir)
    out = A.asof_join(
        spine, ev, ["user_id"], "t", "ts", ["value"],
        direction="nearest", tolerance_seconds=_ASOF_NEAREST_TOL_S,
    )
    return out.select("user_id", "t", F.col("value").alias("near_value"), "matched_ts")



@query("asof_join_cogroup", _ASOF_SQL)
def q_asof_join_cogroup(spark, sf_dir):
    """Same semantics, second physical strategy: cogrouped applyInPandas
    sort-merge (pandas.merge_asof per url-hash group — the north rule's
    sort-merge formulation). Differential twin of `asof_join`."""
    spine = _user_grid(spark, sf_dir, 6)
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = A.asof_join_cogroup(
        spine, ev, ["user_id"], "t", "ts", ["value"], matched_ts_col="matched_ts"
    )
    return out.select("user_id", "t", F.col("value").alias("last_value"), "matched_ts")



@query("asof_join_split", _ASOF_SQL)
def q_asof_join_split(spark, sf_dir):
    """Same semantics, the as-of core's skew path: the tagged union of
    spine and events runs through one ``timesplit_windows`` carry pass
    (7-day time buckets per entity), whose forward fill of the
    right-row struct is the backward match — a hot entity spreads over
    many tasks, and each bucket takes the latest event of any earlier
    bucket from the one-row-per-bucket carry frame."""
    spine = _user_grid(spark, sf_dir, 6)
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = A.asof_join_split(spine, ev, ["user_id"], "t", "ts", ["value"], split_seconds=7 * 86400.0)
    return out.select("user_id", "t", F.col("value").alias("last_value"), F.col("matched_ts"))



@query(
    "lag_lead",
    """SELECT user_id, ts, value,
              lag(value, 1) OVER w AS value_lag1,
              lag(value, 2) OVER w AS value_lag2,
              lead(value, 1) OVER w AS value_lead1
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts)""",
)
def q_lag_lead(spark, sf_dir):
    """Lag/lead features per entity timeline (north-rule windowed stage;
    lead flagged as future-reading — label construction only)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = TP.lag_features(ev, ["user_id"], "ts", "value", [1, 2])
    out = TP.lead_features(out, ["user_id"], "ts", "value", [1])
    return out



@query(
    "ffill",
    """SELECT user_id, ts,
              last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
       FROM (SELECT user_id, ts,
                    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
             FROM events)""",
)
def q_ffill(spark, sf_dir):
    """Forward-fill over nulls — the reference resample's step-function
    fill generalized (pliers/utils/base.py:218-223)."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(F.col("value")).alias("v"),
    )
    return TP.ffill(ev, ["user_id"], "ts", "v", out_col="v_ffill").select("user_id", "ts", "v_ffill")



@query(
    "bfill",
    """SELECT user_id, ts,
              first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
       FROM (SELECT user_id, ts,
                    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
             FROM events)""",
)
def q_bfill(spark, sf_dir):
    """Backward-fill over nulls (north-rule backfill stage). Reads future
    rows by construction — label/imputation use only, never a leakage-safe
    feature; the ffill/asof family stays bounded at currentRow."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(F.col("value")).alias("v"),
    )
    return TP.bfill(ev, ["user_id"], "ts", "v", out_col="v_bfill").select("user_id", "ts", "v_bfill")



_SESSION_GAP_S = 6 * 3600



@query(
    "sessionize",
    f"""WITH flagged AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > {_SESSION_GAP_S}
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       sess AS (
         SELECT user_id, ts,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM flagged)
       SELECT user_id, session_id::BIGINT AS session_id,
              min(ts) AS session_start, max(ts) AS session_end,
              count(*)::BIGINT AS n_events
       FROM sess GROUP BY user_id, session_id""",
)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of per-entity timelines (north-rule op;
    batch twin of Structured Streaming session_window)."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    out = TP.session_bounds(ev, ["user_id"], "ts", gap_seconds=_SESSION_GAP_S)
    return out.withColumn("session_id", F.col("session_id").cast("long")).withColumn(
        "n_events", F.col("n_events").cast("long")
    )



@query(
    "rolling_window",
    """SELECT user_id, ts,
              round(sum(value) OVER w, 6) AS roll_sum_1h,
              count(value) OVER w::BIGINT AS roll_cnt_1h
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts
                    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",
)
def q_rolling_window(spark, sf_dir):
    """Leakage-safe trailing time-range aggregates (frame ends at the
    current row — never reads the future)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = TP.rolling_agg(
        ev, ["user_id"], "ts", "value", 3600.0,
        aggs={"roll_sum_1h": "sum", "roll_cnt_1h": "count"},
    )
    return out.select(
        "user_id", "ts", F.round("roll_sum_1h", 6).alias("roll_sum_1h"),
        F.col("roll_cnt_1h").cast("long").alias("roll_cnt_1h"),
    )



@query(
    "resample_ffill",
    """WITH bounds AS (
         SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY user_id),
       grid AS (
         SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS t FROM bounds)
       SELECT g.user_id, g.t, e.value AS value FROM grid g
       ASOF LEFT JOIN events e ON g.user_id = e.user_id AND g.t >= e.ts""",
)
def q_resample_ffill(spark, sf_dir):
    """Resample to a dense hourly grid + as-of forward fill — the Spark
    recast of the reference resample() (pliers/utils/base.py:173-248:
    step-fill + regular-grid interpolation, grid via sequence+explode)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    grid = TP.resample_grid(ev, ["user_id"], "ts", 3600).withColumnRenamed("ts", "t")
    out = A.asof_join(grid, ev, ["user_id"], "t", "ts", ["value"], matched_ts_col=None)
    return out.select("user_id", "t", "value")



@query(
    "interval_join",
    f"""WITH flagged AS (
         SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > {_SESSION_GAP_S}
                     THEN 1 ELSE 0 END AS is_new
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       sess AS (
         SELECT user_id, ts, value,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM flagged),
       intervals AS (
         SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
         FROM sess GROUP BY user_id, session_id)
       SELECT i.user_id, i.session_id::BIGINT AS session_id,
              round(avg(e.value), 6) AS mean_value, count(*)::BIGINT AS n_in
       FROM intervals i JOIN events e
         ON e.user_id = i.user_id AND e.ts >= i.session_start AND e.ts <= i.session_end
       GROUP BY i.user_id, i.session_id""",
)
def q_interval_join(spark, sf_dir):
    """Interval/range join + per-interval aggregate — MeanAmplitudeExtractor
    recast (aggregate samples inside each word interval,
    pliers/extractors/audio.py:116-147)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    intervals = TP.session_bounds(ev, ["user_id"], "ts", gap_seconds=_SESSION_GAP_S).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    joined = intervals.join(ev, "user_id").where(
        (F.col("ts") >= F.col("session_start")) & (F.col("ts") <= F.col("session_end"))
    )
    return joined.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.count(F.lit(1)).alias("n_in"),
    )



@query(
    "object_id",
    """SELECT user_id, event_type, ts,
              (row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts) - 1)::BIGINT AS object_id
       FROM events""",
)
def q_object_id(spark, sf_dir):
    """object_id group-cumcount (pliers/extractors/base.py:155-164)."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    out = TP.with_object_id(ev, ["user_id", "event_type"], "ts")
    return out.withColumn("object_id", F.col("object_id").cast("long"))



@query(
    "top_n_by_change",
    """WITH d AS (
         SELECT user_id, ts, value,
                abs(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts)) AS chg
         FROM events),
       r AS (
         SELECT user_id, ts, value, chg,
                row_number() OVER (PARTITION BY user_id ORDER BY chg DESC, ts) AS rk
         FROM d WHERE chg IS NOT NULL)
       SELECT user_id, ts, value, round(chg, 6) AS chg FROM r WHERE rk <= 3""",
)
def q_top_n_by_change(spark, sf_dir):
    """Top-n rows by inter-row change — FrameSamplingFilter(top_n) recast
    (lag-diff + rank, pliers/filters/video.py:55-67)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = TP.top_n_by_change(ev, ["user_id"], "ts", "value", 3)
    return out.select("user_id", "ts", "value", F.round("_chg", 6).alias("chg"))



_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]



@query(
    "events_pivot",
    "SELECT user_id, "
    + ", ".join(
        f"count(CASE WHEN event_type = '{t}' THEN 1 END)::BIGINT AS n_{t}" for t in _EVENT_TYPES
    )
    + ", "
    + ", ".join(
        f"round(coalesce(sum(CASE WHEN event_type = '{t}' THEN value END), 0.0), 6) AS sum_{t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
)
def q_events_pivot(spark, sf_dir):
    """Long→wide pivot with static categories (merge_results pivot recast,
    pliers/extractors/base.py:312-340) — conditional aggregation keeps it
    a single shuffle (no second pivot pass)."""
    ev = _events(spark, sf_dir)
    aggs = [
        F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(f"n_{t}") for t in _EVENT_TYPES
    ] + [
        F.round(F.coalesce(F.sum(F.when(F.col("event_type") == t, F.col("value"))), F.lit(0.0)), 6).alias(f"sum_{t}")
        for t in _EVENT_TYPES
    ]
    return ev.groupBy("user_id").agg(*aggs)



# --------------------------------------------------------------------------
# general relational capability (TPC-H-style over the star schema)


@query(
    "tpch_q1",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 6) AS sum_qty,
              round(sum(l_extendedprice), 6) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
              round(avg(l_quantity), 6) AS avg_qty,
              round(avg(l_discount), 6) AS avg_disc,
              count(*)::BIGINT AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def q_tpch_q1(spark, sf_dir):
    """Pricing-summary aggregate (MetricExtractor-style scalar reductions
    at relational scale; predicate pushed to the parquet scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
