"""Point-in-time (as-of) join — the engine's core operator.

Semantics (north rule, BASELINE.json): for each spine row
``(entity, t)``, attach the value columns of the **latest** right-side
row with ``right_ts <= t`` (inclusive tie — matches the reference's
step-fill, which holds a value from its onset forward:
``pliers/utils/base.py:221-223``, i.e. ``allow_exact_matches=True``).
No right row at or before ``t`` → NULLs (left-outer). The forward and
nearest directions and a tolerance follow pandas ``merge_asof``.

One as-of core serves every point-in-time match: ``_tag`` puts spine
and right rows in one union, the right row packed as ONE struct ``_r``
(so a match is row-atomic), and ``_fill`` runs over one
``partitionBy(entity).orderBy(ts)`` sort with peer-inclusive RANGE
frames: ``last(_r, ignorenulls)`` up to the current row's last peer,
``first(_r, ignorenulls)`` from its first peer on. A right row at
``t`` is a peer of the spine row, so both ties are inclusive; a spine
row with a null timestamp matches nothing. Built on it:

1. :func:`asof_join` — the core plus pandas ``merge_asof`` direction
   (backward, forward, nearest) and tolerance. ONE shuffle on the
   entity key, one Window node, no Python boundary, no join explosion:
   cost is O((|L|+|R|) log within-partition).
2. :func:`asof_join_split` — the same tagged union through
   ``operators/skew.py::timesplit_windows(..., ffill=("_r",))``: each
   entity's timeline is split into time buckets, so a hot entity's
   match spreads over many tasks, and each bucket carries the latest
   right row of the buckets before it. :func:`detect_heavy_hitters`
   reports the entities that need splitting; the pages flagship uses
   it to pick ``timesplit_windows`` for its window step, and runs no
   as-of join.
3. ``temporal.interpolate_linear`` — both frames of the core plus the
   lerp between the two bracketing right rows.

:func:`asof_join_cogroup` is the independent twin: ``groupBy().cogroup()
.applyInPandas`` with a per-group ``pandas.merge_asof`` (the
sort-merge formulation the north rule names), backward only,
Arrow-vectorized, never per-row Python. Tests compare the core's
operators against it.

At 100 TB: the right side (pages) is bucketed/sorted by
``(entity, ts)`` at write time (see ``plans/layout.py`` notes); both
strategies then shuffle only the (much smaller) spine, or nothing when
bucket schemes align.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._util import micros
from .skew import timesplit_windows

_SPINE, _RIGHT = 1, 0


def _tag(
    spine: DataFrame,
    right: DataFrame,
    entity_cols: list[str],
    spine_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> tuple[DataFrame, list[str]]:
    """The core's union: ``entity_cols``, ``_ts``, ``_side``, ``_r`` and
    the spine's other columns (null on right rows). ``_r`` is the right
    row as one struct ``(_rts, *value_cols)``, null on spine rows and on
    right rows with a null timestamp, which are never matched. Returns
    the union and the spine's other column names."""
    spine_extra = [c for c in spine.columns if c not in entity_cols and c != spine_ts]
    left_tagged = spine.select(
        *entity_cols,
        F.col(spine_ts).alias("_ts"),
        F.lit(_SPINE).alias("_side"),
        F.lit(None).alias("_r"),
        *spine_extra,
    )
    right_tagged = right.select(
        *entity_cols,
        F.col(right_ts).alias("_ts"),
        F.lit(_RIGHT).alias("_side"),
        F.when(
            F.col(right_ts).isNotNull(),
            F.struct(F.col(right_ts).alias("_rts"), *value_cols),
        ).alias("_r"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(c) for c in spine_extra],
    )
    return left_tagged.unionByName(right_tagged), spine_extra


def _spine_rows(filled: DataFrame, entity_cols: list[str], spine_extra: list[str],
                frames: dict[str, Column]) -> DataFrame:
    """The spine rows of a filled union with each frame's match as a
    column; a spine row with a null timestamp matches nothing."""
    has_ts = F.col("_ts").isNotNull()
    return filled.select(
        *entity_cols, "_ts", "_side", *spine_extra,
        *[F.when(has_ts, f).alias(name) for name, f in frames.items()],
    ).where(F.col("_side") == _SPINE).drop("_side")


def _fill(tagged: DataFrame, entity_cols: list[str], spine_extra: list[str], *,
          back: bool = True, fwd: bool = False) -> DataFrame:
    """The core's fill over ONE per-entity sort: ``_b`` = the latest
    right row at or before ``_ts``, ``_f`` = the earliest one at or
    after it. RANGE frames include the current row's peers, so a right
    row at exactly ``_ts`` is in both, wherever the sort put it."""
    order = Window.partitionBy(*entity_cols).orderBy("_ts")
    frames = {}
    if back:
        w_back = order.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        frames["_b"] = F.last("_r", ignorenulls=True).over(w_back)
    if fwd:
        w_fwd = order.rangeBetween(Window.currentRow, Window.unboundedFollowing)
        frames["_f"] = F.first("_r", ignorenulls=True).over(w_fwd)
    return _spine_rows(tagged, entity_cols, spine_extra, frames)


def _emit(matched: DataFrame, entity_cols: list[str], spine_ts: str, spine_extra: list[str],
          value_cols: list[str], matched_ts_col: str | None, m: Column) -> DataFrame:
    """The spine columns plus the fields of the chosen right row ``m``."""
    picked = matched.select(*entity_cols, F.col("_ts").alias(spine_ts), *spine_extra,
                            m.alias("_m"))
    return picked.select(
        *entity_cols, spine_ts, *spine_extra,
        *[F.col("_m")[c].alias(c) for c in value_cols],
        *([F.col("_m._rts").alias(matched_ts_col)] if matched_ts_col else []),
    )


def asof_join(
    spine: DataFrame,
    right: DataFrame,
    entity_cols: list[str],
    spine_ts: str,
    right_ts: str,
    value_cols: list[str],
    matched_ts_col: str | None = "matched_ts",
    *,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Union + window as-of join (JVM-only, one shuffle) with pandas
    ``merge_asof`` direction and tolerance semantics:

    - ``backward`` (default): latest right row with ``rt <= t``;
    - ``forward``: earliest right row with ``rt >= t``;
    - ``nearest``: whichever side is closer in absolute time,
      ties (equal distance) resolved to the BACKWARD row — and an
      exact-timestamp match is distance 0 on the backward side, so
      inclusivity is automatic.

    ``tolerance_seconds`` nulls the value columns (and matched ts) when
    the chosen match is farther than the bound — pandas' ``tolerance``.
    Distances are exact integer microseconds (``_util.micros``), never
    floats, and are computed only for ``nearest`` or a tolerance. A
    right row with a null timestamp is never matched, and a spine row
    with a null timestamp matches nothing.

    Returns the spine columns plus ``value_cols`` and, unless
    ``matched_ts_col`` is None, the matched right timestamp.

    Physical shape: the module's as-of core — one sort per entity,
    ordered by ts, with the backward frame for ``backward``, the
    forward frame for ``forward`` and both for ``nearest`` (one extra
    window function over the same sort, not an extra exchange). The
    right row is ONE struct, so each frame is one window function
    however many value columns ride along, and the match is
    row-atomic: per-column ``last(ignorenulls)`` would resurrect a
    column's latest NON-NULL value when the latest right row carries a
    null there, mixing columns from different right rows and
    disagreeing with merge_asof and the cogroup twin.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction}")
    tagged, spine_extra = _tag(spine, right, entity_cols, spine_ts, right_ts, value_cols)
    filled = _fill(tagged, entity_cols, spine_extra,
                   back=direction != "forward", fwd=direction != "backward")

    m = F.col("_f" if direction == "forward" else "_b")
    if direction == "nearest" or tolerance_seconds is not None:
        us = micros(F.col("_ts"), tagged.schema["_ts"].dataType)
        rts_type = right.schema[right_ts].dataType
        b_dist = us - micros(F.col("_b._rts"), rts_type)
        f_dist = micros(F.col("_f._rts"), rts_type) - us
        if direction == "nearest":
            use_back = F.col("_b").isNotNull() & (F.col("_f").isNull() | (b_dist <= f_dist))
            m = F.when(use_back, F.col("_b")).otherwise(F.col("_f"))
            dist = F.when(use_back, b_dist).otherwise(f_dist)
        else:
            dist = b_dist if direction == "backward" else f_dist
        keep = dist.isNotNull() if tolerance_seconds is None else (
            dist <= F.lit(int(round(tolerance_seconds * 1_000_000)))
        )
        m = F.when(keep, m)
    return _emit(filled, entity_cols, spine_ts, spine_extra, value_cols, matched_ts_col, m)


def asof_join_cogroup(
    spine: DataFrame,
    right: DataFrame,
    entity_cols: list[str],
    spine_ts: str,
    right_ts: str,
    value_cols: list[str],
    num_buckets: int | None = None,
    matched_ts_col: str | None = None,
) -> DataFrame:
    """Sort-merge as-of join via cogrouped ``applyInPandas`` +
    ``pandas.merge_asof`` over **entity-hash buckets** (the north rule's
    url-hash-bucketed sort-merge, literally).

    The cogroup key is ``pmod(xxhash64(entity), num_buckets)`` — NOT the
    raw entity: per-entity groups would mean millions of tiny Arrow
    batches whose per-group scheduling/serialization overhead dwarfs the
    merge (measured 4x slower at sf0.1). One bucket holds many entities;
    inside it a single vectorized ``merge_asof(by=entity)`` handles the
    per-entity alignment at C speed. ``num_buckets`` defaults to the
    session's shuffle partitions (one Arrow group per task).
    """
    import pandas as pd

    spine_fields = [spine.schema[c] for c in spine.columns]
    out_fields = spine_fields + [right.schema[c] for c in value_cols]
    from pyspark.sql.types import StructField, StructType

    if matched_ts_col:
        # the matched event timestamp rides along from merge_asof's
        # right_on column — no second as-of pass needed for it
        ts_field = right.schema[right_ts]
        out_fields = out_fields + [StructField(matched_ts_col, ts_field.dataType, True)]
    out_schema = StructType(out_fields)
    out_names = [f.name for f in out_fields]

    if num_buckets is None:
        num_buckets = int(spine.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bucket = F.pmod(F.xxhash64(*entity_cols), F.lit(num_buckets)).alias("_bucket")

    def merge(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        if left_pdf.empty:
            return pd.DataFrame(columns=out_names)
        # merge_asof(by=...) requires both frames sorted on the `on` key
        left_sorted = left_pdf.sort_values(spine_ts, kind="mergesort")
        if right_pdf.empty:
            res = left_sorted.copy()
            for c in value_cols:
                res[c] = None
            if matched_ts_col:
                res[matched_ts_col] = pd.NaT
            return res[out_names]
        right_sorted = right_pdf[entity_cols + [right_ts] + value_cols].sort_values(
            right_ts, kind="mergesort"
        )
        on_col = right_ts
        if matched_ts_col:
            # pre-rename so the matched timestamp survives the merge even
            # when spine and right share a ts column name
            right_sorted = right_sorted.rename(columns={right_ts: matched_ts_col})
            on_col = matched_ts_col
        merged = pd.merge_asof(
            left_sorted,
            right_sorted,
            left_on=spine_ts,
            right_on=on_col,
            by=entity_cols,
            allow_exact_matches=True,  # inclusive tie: warc_ts <= t
            direction="backward",
        )
        return merged[out_names]

    left_g = spine.withColumn("_bucket", bucket).groupBy("_bucket")
    right_g = right.withColumn("_bucket", bucket).groupBy("_bucket")
    return left_g.cogroup(right_g).applyInPandas(merge, schema=out_schema)


def detect_heavy_hitters(
    df: DataFrame, entity_cols: list[str], threshold_rows: int = 1_000_000
) -> DataFrame:
    """Pre-pass heavy-hitter census: entities whose row count would
    overwhelm a single window/cogroup task (hot domains in the crawl):
    those with at least ``threshold_rows`` rows. Cheap count-aggregate;
    hot entities take a time-range split instead of salting, which
    would break window and as-of continuity — the pages flagship
    (``pages_pipeline.asof_feature_table``) switches its window step to
    ``operators/skew.py::timesplit_windows`` when any row comes out."""
    return (
        df.groupBy(*entity_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") >= threshold_rows)
    )


def asof_join_split(
    spine: DataFrame,
    right: DataFrame,
    entity_cols: list[str],
    spine_ts: str,
    right_ts: str,
    value_cols: list[str],
    split_seconds: float,
) -> DataFrame:
    """Skew-defused backward as-of join for hot entities, equal to
    :func:`asof_join` (``matched_ts`` included): the core's tagged
    union goes through ``skew.timesplit_windows(..., ffill=("_r",))``,
    whose forward fill of the right-row struct IS the backward match.
    Each entity's timeline is split into ``split_seconds`` buckets
    partitioned by (entity, bucket), so one hot entity spreads over
    many tasks, and each bucket takes the latest right row of any
    earlier bucket from the small one-row-per-bucket carry frame —
    exact however many empty buckets lie between a spine row and its
    match. The in-bucket fill's RANGE frame keeps ties inclusive."""
    tagged, spine_extra = _tag(spine, right, entity_cols, spine_ts, right_ts, value_cols)
    filled = timesplit_windows(tagged, entity_cols, "_ts", split_seconds, ffill=("_r",))
    matched = _spine_rows(filled, entity_cols, spine_extra, {"_b": F.col("_r_ffill")})
    return _emit(matched, entity_cols, spine_ts, spine_extra, value_cols, "matched_ts",
                 F.col("_b"))
