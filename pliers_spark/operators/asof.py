"""Point-in-time (as-of) join — the engine's core operator.

Semantics (north rule, BASELINE.json): for each spine row
``(entity, t)``, attach the value columns of the **latest** right-side
row with ``right_ts <= t`` (inclusive tie — matches the reference's
step-fill, which holds a value from its onset forward:
``pliers/utils/base.py:221-223``, i.e. ``allow_exact_matches=True``).
No right row at or before ``t`` → NULLs (left-outer). The forward and
nearest directions and a tolerance follow pandas ``merge_asof``.

Two physical strategies, chosen for Spark's execution model:

1. :func:`asof_join` — **union + window fill**, pure JVM, one operator
   for the three directions (backward, forward, nearest). Tag both
   sides, ``unionByName``, one shuffle on the entity key, sort within
   partition by ``(ts, side)``, take the matched right row as ONE
   struct per window frame (``last`` over the preceding frame,
   ``first`` over the following one), then keep spine rows.
   Properties:
   - exactly ONE shuffle, no Python boundary, whole-stage codegen;
   - no join explosion: cost is O((|L|+|R|) log within-partition);
   - skew: a hot entity is one sort group, not a join blow-up; AQE
     handles partition-level imbalance, and :func:`asof_join_split`
     time-range splits a hot entity. :func:`detect_heavy_hitters`
     reports the entities that need splitting; the pages flagship
     uses it to pick ``operators/skew.py::timesplit_windows`` for its
     window step, and runs no as-of join.

2. :func:`asof_join_cogroup` — ``groupBy().cogroup().applyInPandas``
   with a per-group ``pandas.merge_asof`` (the sort-merge formulation
   the north rule names), backward only. Arrow-vectorized, never
   per-row Python. The differential-testing twin of strategy 1.

At 100 TB: the right side (pages) is bucketed/sorted by
``(entity, ts)`` at write time (see ``plans/layout.py`` notes); both
strategies then shuffle only the (much smaller) spine, or nothing when
bucket schemes align.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._util import micros


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

    Physical shape: one sort per entity, ordered by ``(ts, side)``.
    Right rows sort before spine rows at equal ts, which makes the
    preceding frame inclusive (backward, nearest); ``forward`` flips
    the tag, so the following frame is inclusive instead. The right
    row is ONE struct (null on spine rows), so each frame is one
    window function however many value columns ride along, and the
    match is row-atomic: per-column ``last(ignorenulls)`` would
    resurrect a column's latest NON-NULL value when the latest right
    row carries a null there, mixing columns from different right rows
    and disagreeing with merge_asof and the cogroup twin. ``nearest``
    costs one extra window function over the same sort, not an extra
    exchange.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction}")
    spine_extra = [c for c in spine.columns if c not in entity_cols and c != spine_ts]
    right_side, spine_side = (1, 0) if direction == "forward" else (0, 1)

    left_tagged = spine.select(
        *entity_cols,
        F.col(spine_ts).alias("_ts"),
        F.lit(spine_side).alias("_side"),
        F.lit(None).alias("_r"),
        *spine_extra,
    )
    right_tagged = right.select(
        *entity_cols,
        F.col(right_ts).alias("_ts"),
        F.lit(right_side).alias("_side"),
        F.when(
            F.col(right_ts).isNotNull(),
            F.struct(F.col(right_ts).alias("_rts"), *value_cols),
        ).alias("_r"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(c) for c in spine_extra],
    )
    unioned = left_tagged.unionByName(right_tagged)

    # a forward spine row with a null ts sorts last, after every
    # candidate; backward/nearest ones sort first, before every one
    ts_order = F.col("_ts").asc_nulls_last() if direction == "forward" else F.col("_ts")
    order = Window.partitionBy(*entity_cols).orderBy(ts_order, F.col("_side"))
    frames = {}
    if direction != "forward":
        w_back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        frames["_b"] = F.last("_r", ignorenulls=True).over(w_back)
    if direction != "backward":
        w_fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        frames["_f"] = F.first("_r", ignorenulls=True).over(w_fwd)
    filled = (
        unioned.select(*entity_cols, "_ts", "_side", *spine_extra,
                       *[f.alias(name) for name, f in frames.items()])
        .where(F.col("_side") == spine_side)
    )

    m = F.col("_f" if direction == "forward" else "_b")
    if direction == "nearest" or tolerance_seconds is not None:
        us = micros(F.col("_ts"), unioned.schema["_ts"].dataType)
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
    matched = filled.select(
        *entity_cols, F.col("_ts").alias(spine_ts), *spine_extra, m.alias("_m")
    )
    return matched.select(
        *entity_cols, spine_ts, *spine_extra,
        *[F.col("_m")[c].alias(c) for c in value_cols],
        *([F.col("_m._rts").alias(matched_ts_col)] if matched_ts_col else []),
    )


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
    """Skew-defused as-of join for hot entities: augment the partition
    key with a coarse time chunk so one hot entity spreads over many
    tasks, while correctness across chunk boundaries is preserved by
    replicating each chunk's **last row per value** into the next chunk
    (boundary carry). Two narrow passes + one shuffle on
    (entity, chunk) — the standard range-split pattern for windowed skew.
    """
    from ._util import epoch_seconds

    r = right.withColumn(
        "_chunk", F.floor(epoch_seconds(right, right_ts) / F.lit(float(split_seconds))).cast("long")
    )
    s = spine.withColumn(
        "_chunk", F.floor(epoch_seconds(spine, spine_ts) / F.lit(float(split_seconds))).cast("long")
    )

    # Boundary carry, exact for arbitrarily sparse right sides: the latest
    # right row of each (entity, chunk) — a chunk-level table ~|entities|×
    # |chunks| rows, tiny next to the fact tables — is as-of joined to the
    # spine's chunk set so every spine chunk knows the latest right row from
    # any STRICTLY EARLIER chunk (availability key = chunk + 1).
    w_last = Window.partitionBy(*entity_cols, "_chunk").orderBy(F.desc(right_ts))
    last_per_chunk = (
        r.withColumn("_rn", F.row_number().over(w_last)).where(F.col("_rn") == 1).drop("_rn")
    )
    avail = last_per_chunk.withColumn("_avail", F.col("_chunk") + 1).drop("_chunk")
    spine_chunks = s.select(*entity_cols, "_chunk").distinct()
    carried = asof_join(
        spine_chunks.withColumn("_sc", F.col("_chunk")),
        avail,
        entity_cols,
        "_chunk",
        "_avail",
        value_cols + [right_ts],
        matched_ts_col=None,
    )
    carried_rows = (
        carried.where(F.col(right_ts).isNotNull())
        .select(*entity_cols, F.col("_sc").alias("_chunk"), F.col(right_ts), *value_cols)
    )

    r_aug = r.select(*entity_cols, "_chunk", right_ts, *value_cols).unionByName(carried_rows)
    out = asof_join(
        s,
        r_aug,
        entity_cols + ["_chunk"],
        spine_ts,
        right_ts,
        value_cols,
    )
    return out.drop("_chunk")
