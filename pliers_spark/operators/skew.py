"""Skew defense for aggregations (SURVEY.md §4 custom-physical item 1).

Spark's partial (map-side) aggregation already neutralizes key skew for
algebraic aggregates (sum/count/min/max): each mapper pre-collapses its
share of the hot key. What it can NOT fix is a **non-algebraic**
aggregate — exact ``count(DISTINCT v)``, ``collect_set`` — where every
distinct value of the hot key must meet in one reduce task.

``salted_count_distinct`` breaks that with the standard two-stage salt:

    stage 1: group by (key, pmod(xxhash64(v), S)) — the VALUE hash is
             the salt, so each distinct v lands in exactly one salt
             bucket; a per-bucket exact distinct is safe to compute
             independently (buckets partition the value space);
    stage 2: group by key, SUM the per-bucket distinct counts.

The hot key's work now spreads over S reduce tasks. Both shuffles carry
only (key, salt) pre-aggregated rows. Correctness is oracle-gated
(query ``salted_unique_tokens``: result ≡ plain count distinct).

For skewed *joins* the engine relies on AQE's skew-join splitting
(asserted live in tests/test_plans.py::test_aqe_splits_skewed_join).
A skewed *as-of join* is a window problem: salting would break its
sort continuity, so ``operators/asof.py::asof_join_split`` runs the
as-of core's tagged union through ``timesplit_windows`` below.

For skewed *windows* (a hot entity's whole timeline in one task) the
timeline is split into time buckets, partitioned by (entity, bucket):

- ``timesplit_windows`` — lag-1, lag-2, forward fill, the entity's
  first value and gap sessionization, any mix of them, in ONE scan
  decomposition: a Window pass inside each bucket, one row per bucket
  carrying its head and tail, a Window over that small frame for every
  carry, one join back;
- ``rolling_timesplit`` — trailing range aggregates, whose frame
  reaches back in time rather than one row, via ghost rows copied into
  the next bucket.

Each is bit-equal to its plain window (oracle-gated queries
``lag_split``, ``sessionize_split``, ``ffill_split``, ``rolling_split``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._util import epoch_micros, epoch_seconds


def salted_count_distinct(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    num_salts: int = 32,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact distinct-count per key, skew-spread over ``num_salts``
    buckets by hashing the VALUE (each distinct value maps to exactly
    one bucket, so bucket counts add exactly)."""
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(num_salts)).alias("_salt")
    stage1 = (
        df.select(*key_cols, F.col(value_col), salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.countDistinct(value_col).alias("_part"))
    )
    return (
        stage1.groupBy(*key_cols)
        .agg(F.sum("_part").cast("long").alias(out_col))
    )


def timesplit_windows(
    df: DataFrame,
    entity_cols: list[str],
    ts_col: str,
    bucket_seconds: int,
    *,
    lag1: Sequence[str] = (),
    lag2: Sequence[str] = (),
    ffill: Sequence[str] = (),
    first: Sequence[str] = (),
    session_gap: float | None = None,
) -> DataFrame:
    """Skew-defused lag-1, lag-2, forward fill, entity-first value and
    gap sessionization in one carry pass: exactly
    ``temporal.lag_features(..., [1])``, ``temporal.lag_features(...,
    [2])``, ``temporal.ffill``, ``first(c)`` over the running frame and
    ``temporal.sessionize`` (output names ``{c}_lag1``, ``{c}_lag2``,
    ``{c}_ffill``, ``{c}_first``, ``session_id``, appended in the order
    session, lag-1s, lag-2s, fills, firsts), but with each entity's
    timeline split into time buckets so no single task owns a hot
    entity's whole history (SURVEY.md §7.3: "windowed stages need
    range-splitting by warc_ts with boundary overlap").

    Every feature is a prefix scan over the entity's timeline, so one
    two-level scan decomposition serves all of them:

    1. one Window pass over (entity, bucket): row number, the lags, the
       forward fills and the new-session flags (a bucket's first row
       has no in-bucket predecessor, so its flag is left to step 3)
       with their running count. The fills' RANGE frame gives rows
       that share a ts one fill (``asof_join_split``'s inclusive tie);
    2. one ``groupBy(entity, bucket)`` over that output — first ts,
       a ``min_by`` struct of the first row's values, a ``max_by``
       struct of the last row (its ts, row number, lag values, its
       in-bucket lag-1s and in-bucket fills = the bucket's last
       non-null values), and the bucket's in-bucket new-session count.
       It reuses step 1's partitioning, and its output has ONE row per
       (entity, bucket);
    3. one Window over entity on that small frame: the tails of the
       previous two non-empty buckets (empty buckets never
       materialize), the latest non-null value of any earlier bucket,
       the first bucket's first row, whether the bucket's first row
       starts a session, and the exclusive prefix sum of session
       starts (the bucket's session-id offset);
    4. one join back on (entity, bucket): the first row of a bucket
       takes the carried lag-1 (a null value lagged mid-bucket stays
       null); its lag-2 is the previous tail's in-bucket lag-1, or,
       when that bucket holds one row, the tail two buckets back; the
       second row's lag-2 is the previous tail's value; a fill is the
       in-bucket fill or else the carry (it is null exactly on the
       rows before the bucket's first non-null value); a first value
       is the carried first row's; and session_id = offset + first-row
       start + in-bucket running count.

    The bucket is ``floor(epoch µs / bucket µs)``, one expression for
    every feature — exact while |µs| < 2^53 (years 1685 to 2255), so a
    sub-second timestamp or a row exactly on a bucket's start instant
    lands in one bucket for all of them. Exactness requires ``ts``
    unique per entity (the engine's snapshot tables guarantee it);
    equality with the plain windows is pinned by the ``lag_split``/
    ``sessionize_split``/``ffill_split`` driver oracles and
    tests/test_temporal.py.
    """
    keys = [*entity_cols, "_tb"]
    sess = session_gap is not None
    us = epoch_micros(df, ts_col)
    dfb = df.withColumns({
        "_tb": F.floor(us / F.lit(bucket_seconds * 1_000_000)),
        "_s": epoch_seconds(df, ts_col),  # the gap arithmetic of temporal.sessionize
    })

    # 1. inside each bucket
    w_in = Window.partitionBy(*keys).orderBy(ts_col)
    w_run = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lagged = list(dict.fromkeys([*lag1, *lag2]))
    inner = {"_rn": F.row_number().over(w_in)}
    inner.update({f"_lag_{c}": F.lag(c).over(w_in) for c in lagged})
    inner.update({f"_lag2_{c}": F.lag(c, 2).over(w_in) for c in lag2})
    w_fill = w_in.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    inner.update({f"_ff_{c}": F.last(c, ignorenulls=True).over(w_fill) for c in ffill})
    if sess:  # null on the bucket's first row -> 0; step 3 decides that row
        gap = F.col("_s") - F.lag("_s").over(w_in)
        inner["_new"] = F.when(gap > session_gap, 1).otherwise(0)
    rows = dfb.withColumns(inner)
    if sess:
        rows = rows.withColumn("_run", F.sum("_new").over(w_run))

    # 2. one row per bucket
    depth2 = ["_rn", *[f"_lag_{c}" for c in lag2]] if lag2 else []
    tail = F.struct("_s", *lagged, *depth2, *[f"_ff_{c}" for c in ffill])
    aggs = [F.min("_s").alias("_first_s"), F.max_by(tail, ts_col).alias("_tail")]
    if first:
        aggs.append(F.min_by(F.struct(*first), ts_col).alias("_head"))
    if sess:
        aggs.append(F.sum("_new").alias("_n_new"))
    buckets = rows.groupBy(*keys).agg(*aggs)

    # 3. every carry, over the bucket frame
    w_b = Window.partitionBy(*entity_cols).orderBy("_tb")
    w_before = w_b.rowsBetween(Window.unboundedPreceding, -1)
    carry = buckets.withColumn("_prev", F.lag("_tail").over(w_b)).withColumns(
        {f"_carry_{c}": F.last(f"_tail._ff_{c}", ignorenulls=True).over(w_before) for c in ffill}
    )
    if lag2:
        carry = carry.withColumn("_prev2", F.lag("_tail", 2).over(w_b))
    if first:
        w_upto = w_b.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carry = carry.withColumn("_first", F.first("_head").over(w_upto))
    if sess:
        prev_s = F.col("_prev._s")
        starts = prev_s.isNull() | (F.col("_first_s") - prev_s > session_gap)
        carry = carry.withColumn("_first_new", F.when(starts, 1).otherwise(0))
        n_starts = F.sum(F.col("_first_new") + F.col("_n_new")).over(w_before)
        carry = carry.withColumn("_off", F.coalesce(n_starts, F.lit(0)))

    # 4. one join back
    out = rows.join(carry.drop("_first_s", "_tail", "_head", "_n_new"), keys, "left")
    feats = {}
    if sess:
        feats["session_id"] = (F.col("_off") + F.col("_first_new") + F.col("_run")).cast("long")
    rn = F.col("_rn")
    for c in lag1:
        feats[f"{c}_lag1"] = F.when(rn == 1, F.col(f"_prev.{c}")).otherwise(F.col(f"_lag_{c}"))
    for c in lag2:
        carried = F.when(F.col("_prev._rn") > 1, F.col(f"_prev._lag_{c}")).otherwise(
            F.col(f"_prev2.{c}"))
        feats[f"{c}_lag2"] = (F.when(rn == 1, carried).when(rn == 2, F.col(f"_prev.{c}"))
                              .otherwise(F.col(f"_lag2_{c}")))
    for c in ffill:
        feats[f"{c}_ffill"] = F.coalesce(F.col(f"_ff_{c}"), F.col(f"_carry_{c}"))
    for c in first:
        feats[f"{c}_first"] = F.col(f"_first.{c}")
    return out.withColumns(feats).select(*df.columns, *feats)


def rolling_timesplit(
    df: DataFrame,
    entity_cols: list[str],
    ts_col: str,
    value_col: str,
    range_seconds: float,
    bucket_seconds: int,
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Skew-defused trailing time-range rolling aggregates: exactly
    ``temporal.rolling_agg`` (frame = [ts - range_seconds, ts], no
    future rows) with the hot entity's timeline split across time
    buckets via **ghost rows**:

    rows in the last ``range_seconds`` of a bucket also contribute to
    the next bucket's leading rows, so each such row is duplicated into
    the next bucket as a contributor-only ghost (``_ghost=1``); the
    range frame inside (entity, bucket) then sees every in-range
    predecessor, and ghosts are dropped from the output. Exact for any
    contribution-only aggregate (sum/count/min/max/avg via sum+count).
    Requires ``range_seconds <= bucket_seconds`` (one-bucket reach);
    chain k ghost unions for longer ranges.
    """
    if range_seconds > bucket_seconds:
        raise ValueError("range_seconds must be <= bucket_seconds (one-bucket ghost reach)")
    aggs = aggs or {f"{value_col}_roll_sum": "sum", f"{value_col}_roll_cnt": "count"}

    # microsecond integer ordering key (rangeBetween needs long bounds;
    # micros also preserve sub-second timestamps exactly — unix_timestamp
    # would truncate to seconds and leak same-second FUTURE rows into the frame)
    us = epoch_micros(df, ts_col)
    base = df.withColumn("_us", us).withColumn(
        "_tb", F.floor(F.col("_us") / F.lit(bucket_seconds * 1_000_000))
    )
    ghosts = (
        base.where(
            F.col("_us")
            >= (F.col("_tb") + 1) * F.lit(bucket_seconds * 1_000_000)
            - F.lit(int(range_seconds * 1_000_000))
        )
        .withColumn("_tb", F.col("_tb") + 1)
        .withColumn("_ghost", F.lit(1))
    )
    both = base.withColumn("_ghost", F.lit(0)).unionByName(ghosts)

    w = (
        Window.partitionBy(*entity_cols, "_tb")
        .orderBy("_us")
        .rangeBetween(-int(range_seconds * 1_000_000), 0)
    )
    fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max, "avg": F.avg}
    out = both
    for out_col, fn in aggs.items():
        out = out.withColumn(out_col, fns[fn](value_col).over(w))
    return out.where(F.col("_ghost") == 0).drop("_us", "_tb", "_ghost")
