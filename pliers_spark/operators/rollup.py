"""Multi-resolution rollup: coarse time aggregates built FROM finer
aggregates, never by rescanning raw.

The hypertable/OLAP-cube pattern a 10^12-row event table demands: the
raw table is scanned ONCE to build the finest level (hour); every
coarser level (day, week) is a re-aggregation of the level below it —
day reads #hour-buckets rows, week reads #day-buckets rows. At web
scale that is the difference between one 100 TB scan and three.

Mergeability is guaranteed by keeping only decomposable aggregates in
integer space: ``count`` and a ``sum`` of once-rounded micro-unit
values (int64), so re-aggregation is exact and order-independent —
the day total from hour partials is bit-identical to the day total
from raw (tests/test_rollup.py compares every coarse level with a
direct aggregation of raw). Averages are derived at read time from
(sum, count), never stored.

The shared DAG is cut at the hour level with an eager
``stableCheckpoint`` (durability modes: plans/reliable.py) so the union of the three levels references the
materialized hour partials instead of replaying the raw scan per
branch (same device as dedup.connected_components /
curation.source_kl). The checkpointed dataset is #hours × O(1) rows —
tiny relative to raw — and at cluster scale would be a real
checkpoint/table write carrying the run's lineage.

Reference anchor: pliers resamples feature series to coarser rates one
stimulus at a time (pliers/extractors/base.py ExtractorResult.to_df
``sampling_rate`` path); this is that semantics corpus-wide, with the
reuse structure the single-stimulus engine never needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LEVELS = ("hour", "day", "week")


def coarsen(fine: DataFrame, level: str) -> DataFrame:
    """Re-aggregate a (bucket_start, n_events, sum_value_fp) tier to a
    coarser ``level`` — the merge step both the batch multires rollup
    and the streaming hour tier's read path share."""
    return (
        fine.groupBy(F.date_trunc(level, F.col("bucket_start")).alias("bucket_start"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_fp").alias("sum_value_fp"),
        )
    )


def multires_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    levels: tuple[str, ...] = LEVELS,
    cut: bool = True,
) -> DataFrame:
    """(resolution, bucket_start, n_events, sum_value_fp) for each level.

    ``levels`` must be ordered finest → coarsest; each level is built by
    re-aggregating the previous one. ``cut=False`` skips the
    stableCheckpoint (used by the plan tests to inspect the raw DAG).
    """
    fine = (
        events.select(
            F.date_trunc(levels[0], F.col(ts_col)).alias("bucket_start"),
            F.round(F.col(value_col) * F.lit(1e6), 0).cast("long").alias("v_fp"),
        )
        .groupBy("bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_fp").alias("sum_value_fp"),
        )
    )
    if cut:
        # one raw scan total: day/week re-aggregate these partials
        fine = fine.stableCheckpoint(eager=True)
    tiers = [fine.select(F.lit(levels[0]).alias("resolution"), "*")]
    prev = fine
    for lv in levels[1:]:
        nxt = coarsen(prev, lv)
        tiers.append(nxt.select(F.lit(lv).alias("resolution"), "*"))
        prev = nxt
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out.select("resolution", "bucket_start", "n_events", "sum_value_fp")


def merge_rollup(
    existing_fine: DataFrame,
    delta_events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    level: str = LEVELS[0],
) -> DataFrame:
    """Incremental rollup maintenance: fold a snapshot DELTA into an
    existing finest-tier rollup without touching historical raw data —
    the materialized-view-maintenance read path of
    ``sources/snapshots.read_incremental``. At 100 TB this is the
    difference between re-scanning the table per refresh and scanning
    only the appended files; exactness is inherited from the int64
    partial-merge contract (tests pin merged == from-scratch)."""
    delta_fine = (
        delta_events.select(
            F.date_trunc(level, F.col(ts_col)).alias("bucket_start"),
            F.round(F.col(value_col) * F.lit(1e6), 0).cast("long").alias("v_fp"),
        )
        .groupBy("bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_fp").alias("sum_value_fp"),
        )
    )
    return (
        existing_fine.select("bucket_start", "n_events", "sum_value_fp")
        .unionByName(delta_fine)
        .groupBy("bucket_start")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_fp").alias("sum_value_fp"),
        )
    )
