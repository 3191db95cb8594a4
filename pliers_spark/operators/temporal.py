"""Windowed temporal feature operators: lag/lead, ffill/backfill,
gap sessionization, leakage-safe rolling aggregates, resample grids,
running counts.

These are the north-rule additions (BASELINE.json) that pliers lacks;
their seeds in the reference are:

- ``resample``'s step-function forward-fill (``pliers/utils/base.py:218-223``:
  each value holds from its onset until its interval ends) → :func:`ffill`;
- ``WordCounterExtractor``'s cumulative count
  (``pliers/extractors/text.py:851-862``) → :func:`running_count`;
- ``FrameSamplingFilter(top_n)``'s lag-diff + rank
  (``pliers/filters/video.py:55-67``) → :func:`top_n_by_change`;
- ``object_id`` group-cumcount (``pliers/extractors/base.py:155-164``)
  → :func:`with_object_id`.

**Temporal-leakage discipline** (north rule: zero leakage): every frame
here ends at ``Window.currentRow`` — features never read rows with a
later timestamp. The only future-reading op is :func:`lead_features`,
which exists for label construction and is explicitly flagged.
All operators are pure Window/column expressions: one shuffle on the
partition key, then map-side computation — the plan scales linearly in
partitions and is skew-handled by AQE (hot keys are a data property;
for windowed ops we cannot salt without breaking frame continuity, so
hot entities are bounded by time-bucket splitting in
``operators/skew.py::timesplit_windows``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ._util import epoch_micros, epoch_seconds, lit_micros, seconds, ts_micros
from .asof import _fill, _tag


def _entity_time_window(entity_cols: list[str], ts_col: str) -> WindowSpec:
    return Window.partitionBy(*entity_cols).orderBy(ts_col)


def lag_features(
    df: DataFrame, entity_cols: list[str], ts_col: str, value_col: str, lags: list[int]
) -> DataFrame:
    """Append ``{value_col}_lag{k}`` columns (past values only — leakage-safe)."""
    w = _entity_time_window(entity_cols, ts_col)
    for k in lags:
        df = df.withColumn(f"{value_col}_lag{k}", F.lag(value_col, k).over(w))
    return df


def lead_features(
    df: DataFrame, entity_cols: list[str], ts_col: str, value_col: str, leads: list[int]
) -> DataFrame:
    """Append ``{value_col}_lead{k}`` columns. **Reads the future** — only
    for label/target construction, never as model features (north rule)."""
    w = _entity_time_window(entity_cols, ts_col)
    for k in leads:
        df = df.withColumn(f"{value_col}_lead{k}", F.lead(value_col, k).over(w))
    return df


def ffill(df: DataFrame, entity_cols: list[str], ts_col: str, value_col: str, out_col: str | None = None) -> DataFrame:
    """Forward-fill nulls with the latest non-null earlier value.

    Generalizes the reference's step-function fill (value holds forward
    from its onset, ``pliers/utils/base.py:218-223``). Frame ends at
    currentRow ⇒ leakage-free.
    """
    w = _entity_time_window(entity_cols, ts_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out_col or f"{value_col}_ffill", F.last(value_col, ignorenulls=True).over(w))


def bfill(df: DataFrame, entity_cols: list[str], ts_col: str, value_col: str, out_col: str | None = None) -> DataFrame:
    """Backward-fill (next non-null later value). Future-reading by
    definition — flagged like :func:`lead_features`."""
    w = _entity_time_window(entity_cols, ts_col).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return df.withColumn(out_col or f"{value_col}_bfill", F.first(value_col, ignorenulls=True).over(w))


def sessionize(
    df: DataFrame,
    entity_cols: list[str],
    ts_col: str,
    gap_seconds: float,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap since
    the previous event exceeds ``gap_seconds``. session_id is the running
    count of session starts (1-based) per entity.

    Batch twin of Structured Streaming's ``session_window`` (see
    ``streaming/sessions.py``). One shuffle on the entity key.
    """
    w = _entity_time_window(entity_cols, ts_col)
    secs = epoch_seconds(df, ts_col)
    prev = F.lag(secs).over(w)
    gap = secs - prev
    is_new = F.when(prev.isNull() | (gap > gap_seconds), F.lit(1)).otherwise(F.lit(0))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(session_col, F.sum(is_new).over(wc))


def session_bounds(
    df: DataFrame, entity_cols: list[str], ts_col: str, gap_seconds: float
) -> DataFrame:
    """Sessionize then aggregate to one row per session:
    (entity, session_id, session_start, session_end, n_events)."""
    s = sessionize(df, entity_cols, ts_col, gap_seconds)
    return s.groupBy(*entity_cols, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def rolling_agg(
    df: DataFrame,
    entity_cols: list[str],
    ts_col: str,
    value_col: str,
    range_seconds: float,
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Time-range rolling aggregates over the trailing ``range_seconds``
    window **including** the current row (upper bound = currentRow ⇒ no
    leakage). ``aggs`` maps output-column → {'sum','avg','min','max','count'}.
    """
    aggs = aggs or {f"{value_col}_roll_sum": "sum", f"{value_col}_roll_cnt": "count"}
    w = (
        Window.partitionBy(*entity_cols)
        .orderBy(epoch_micros(df, ts_col))
        .rangeBetween(-int(range_seconds * 1_000_000), 0)
    )
    fns = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}
    for out, fn in aggs.items():
        df = df.withColumn(out, fns[fn](value_col).over(w))
    return df


def running_count(
    df: DataFrame,
    entity_cols: list[str],
    key_col: str,
    order_col: str,
    out_col: str = "word_count",
    log_scale: bool = False,
) -> DataFrame:
    """Running occurrence count of each key value up to the current
    position — WordCounterExtractor parity (case-folding is the caller's
    choice, matching ``case_sensitive``; cumcount+1 semantics of
    ``pliers/extractors/text.py:851-862``)."""
    w = (
        Window.partitionBy(*entity_cols, key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cnt = F.count(F.lit(1)).over(w)
    if log_scale:
        cnt = F.log(cnt.cast("double"))
    return df.withColumn(out_col, cnt)


def with_object_id(df: DataFrame, group_cols: list[str], order_col: str, out_col: str = "object_id") -> DataFrame:
    """0-based cumcount within group — disambiguates multiple objects at
    one onset (``pliers/extractors/base.py:155-164``)."""
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    return df.withColumn(out_col, F.row_number().over(w) - 1)


def top_n_by_change(
    df: DataFrame, entity_cols: list[str], ts_col: str, value_col: str, n: int
) -> DataFrame:
    """Per entity, the n rows with the largest absolute change from the
    previous row — FrameSamplingFilter(top_n) recast (lag-diff + rank,
    ``pliers/filters/video.py:55-67``). rank ≤ n instead of a global
    sort+limit so it stays one shuffle and scales per-entity."""
    w = _entity_time_window(entity_cols, ts_col)
    diff = F.abs(F.col(value_col) - F.lag(value_col).over(w))
    d = df.withColumn("_chg", diff).where(F.col("_chg").isNotNull())
    wr = Window.partitionBy(*entity_cols).orderBy(F.desc("_chg"), F.col(ts_col))
    return d.withColumn("_rk", F.row_number().over(wr)).where(F.col("_rk") <= n).drop("_rk")


def sample_every_nth(
    df: DataFrame, entity_cols: list[str], ts_col: str, n: int
) -> DataFrame:
    """Keep every n-th row per entity in time order —
    ``FrameSamplingFilter(every=n)``'s ``range(0, nframes, every)``
    selection (``pliers/filters/video.py:42-44``) generalized from video
    frames to crawl snapshots. One shuffle on the entity key; the modulo
    filter runs map-side after the window rank."""
    w = _entity_time_window(entity_cols, ts_col)
    return (
        df.withColumn("_rn", F.row_number().over(w) - 1)
        .where(F.col("_rn") % n == 0)
        .drop("_rn")
    )


def sample_per_period(
    df: DataFrame, entity_cols: list[str], ts_col: str, period: str = "hour"
) -> DataFrame:
    """First row per (entity, truncated-time bucket) —
    ``FrameSamplingFilter(hertz=h)``'s resample-to-rate selection
    (``pliers/filters/video.py:46-53``) recast for event time: the video
    filter keeps the frame at each 1/h-second tick; here we keep the
    earliest snapshot in each ``date_trunc(period)`` bucket. Single
    shuffle; ties broken deterministically by the full timestamp."""
    w = Window.partitionBy(*entity_cols, F.date_trunc(period, F.col(ts_col))).orderBy(ts_col)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def temporal_trim(
    df: DataFrame, ts_col: str, start, end, rebase: bool = False
) -> DataFrame:
    """Keep rows with ``start <= ts < end`` — TemporalTrimmingFilter's
    subclip-[start,end] semantics (``pliers/filters/base.py:27-68``)
    lifted from one stim's sample axis to the table's event-time axis.
    ``rebase`` subtracts ``start`` (seconds) the way a subclip's frames
    are re-onset to 0, in exact µs whatever the session zone
    (``_util.lit_micros``). Pure predicate → pushed to the parquet scan."""
    out = df.where((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))
    if rebase:
        rel_us = epoch_micros(df, ts_col) - lit_micros(start, df.schema[ts_col].dataType)
        out = out.withColumn("rel_s", rel_us / F.lit(1_000_000.0))
    return out


def interpolate_linear(
    obs: DataFrame,
    grid: DataFrame,
    entity_cols: list[str],
    obs_ts: str,
    grid_ts: str,
    value_col: str,
    out_col: str = "value_interp",
) -> DataFrame:
    """Linear interpolation of ``value_col`` onto grid timestamps:
    v(t) = v0 + (v1 - v0) * (t - t0) / (t1 - t0) between the bracketing
    observations — the latest at or before t and the earliest at or
    after it, each taken as a whole row, so a bracket whose value is
    NULL gives NULL — and v0 on an observation's own instant; NULL
    outside the observed range.

    Generalizes the reference ``resample``'s interp1d step
    (pliers/utils/base.py:235-239). **Reads one future point** (the
    upper bracket) by construction — offline/label use, flagged like
    :func:`lead_features`. Both brackets are the as-of core's two frames
    (``asof._tag`` + ``asof._fill``): one union, one shuffle, one sort.
    """
    tagged, _ = _tag(grid.select(*entity_cols, grid_ts), obs, entity_cols, grid_ts, obs_ts,
                     [value_col])
    filled = _fill(tagged, entity_cols, [], back=True, fwd=True)
    obs_type = obs.schema[obs_ts].dataType
    s = seconds(F.col("_ts"), tagged.schema["_ts"].dataType)
    s0, s1 = seconds(F.col("_b._rts"), obs_type), seconds(F.col("_f._rts"), obs_type)
    v0, v1 = F.col("_b")[value_col], F.col("_f")[value_col]
    lerp = F.when(s0 == s1, v0).otherwise(v0 + (v1 - v0) * (s - s0) / (s1 - s0))
    return filled.select(
        *entity_cols, F.col("_ts").alias(grid_ts),
        F.round(F.when(s0.isNotNull() & s1.isNotNull(), lerp), 6).alias(out_col),
    )


def resample_grid(
    df: DataFrame,
    entity_cols: list[str],
    ts_col: str,
    step_seconds: int,
) -> DataFrame:
    """Dense per-entity timestamp grid from min(ts) to max(ts) at a fixed
    step: ``sequence()`` + ``explode`` (generalizes the reference
    ``resample``'s target-rate grid, ``pliers/utils/base.py:235-239``).
    Values are then attached with an as-of join (operators/asof.py) —
    grid construction itself is one groupBy shuffle.

    Point k is exactly t0 + k·S µs (``_util.ts_micros``, added with
    ``timestampadd(MICROSECOND, ...)``, which keeps the column's
    timestamp type), whatever the session time zone: an interval step
    would add whole days on the session zone's wall clock and step an
    hour short or long across a DST change."""
    step_us = int(step_seconds) * 1_000_000
    dtype = df.schema[ts_col].dataType
    span = ts_micros(F.col("_t1"), dtype) - ts_micros(F.col("_t0"), dtype)
    bounds = (
        df.groupBy(*entity_cols)
        .agg(F.min(ts_col).alias("_t0"), F.max(ts_col).alias("_t1"))
        .withColumn("_n", span)
    )
    k = F.explode(F.sequence(F.lit(0).cast("long"), F.expr(f"_n div {step_us}")))
    return bounds.select(*entity_cols, "_t0", k.alias("_k")).select(
        *entity_cols, F.timestamp_add("MICROSECOND", F.col("_k") * step_us, "_t0").alias(ts_col)
    )


def framed_agg(
    df: DataFrame,
    entity_cols: list[str],
    ts_col: str,
    value_col: str,
    frame_seconds: int,
    hop_seconds: int,
    origin: str = "2024-01-01 00:00:00",
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Overlapping frame/hop windowed aggregation — the Spark recast of
    the reference's STFT/librosa framing (frame_size window advanced by
    hop_size; ``pliers/extractors/audio.py:64-113,198-221``): frame ``i``
    covers ``[origin + i*hop, origin + i*hop + frame)``.

    Physical plan (scale path): instead of a range join of frames ×
    rows, each row is *exploded to the ≤ ceil(frame/hop) frame ids it
    belongs to* — a narrow bounded fan-out — then one hash aggregation
    on (entity, frame_id). No per-entity sort, no window state; at
    10^12 rows this is a single shuffle whose width is controlled by
    the frame/hop overlap factor. Rows before ``origin`` are dropped
    (frames are anchored at the origin, matching the reference's
    onset=i*hop indexing from clip start). ``origin`` is read as a value
    of the column's type (``_util.lit_micros``), so the frame ids of a
    ``timestamp_ntz`` column do not move with the session zone.
    """
    aggs = aggs or {"n_events": "count", f"{value_col}_sum": "sum"}
    origin_s = lit_micros(origin, df.schema[ts_col].dataType) / F.lit(1_000_000.0)
    off = epoch_seconds(df, ts_col) - origin_s
    i_max = F.floor(off / F.lit(float(hop_seconds))).cast("long")
    i_min = F.greatest(
        F.floor((off - F.lit(float(frame_seconds))) / F.lit(float(hop_seconds))).cast("long")
        + F.lit(1).cast("long"),
        F.lit(0).cast("long"),
    )
    exploded = (
        df.where(off >= 0)
        .withColumn("_frame_id", F.explode(F.sequence(i_min, i_max)))
    )
    fns = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}
    return exploded.groupBy(*entity_cols, F.col("_frame_id").alias("frame_id")).agg(
        *[fns[fn](value_col).alias(out) for out, fn in aggs.items()]
    )
