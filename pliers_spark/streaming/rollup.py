"""Streaming twin of operators/rollup.multires_rollup.

The lambda shape for a 10^12-row event firehose: Structured Streaming
maintains ONLY the finest tier (hour) — watermarked tumbling windows,
int64 micro-unit sums, 'append' mode so each closed hour is emitted
exactly once — and the coarser tiers (day, week) are batch
re-aggregations of the materialized hour partials via
:func:`pliers_spark.operators.rollup.coarsen`. Since the batch partial-merge is
exact (tests/test_rollup.py checks it against aggregates of raw), the
streaming path inherits correctness as long
as its hour tier matches the batch hour tier — which
tests/test_streaming.py pins with a file replay.

State is keyed by hour bucket only (no entity key): bounded by the
watermark horizon × one row per hour — trivially small, never skewed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_hour_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked hour-tier rollup over a stream:
    (bucket_start, n_events, sum_value_fp) per closed hour."""
    return (
        events.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.round(F.col(value_col) * F.lit(1e6), 0).cast("long").alias("v_fp"),
        )
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_fp").alias("sum_value_fp"),
        )
        .select(
            F.col("w.start").alias("bucket_start"), "n_events", "sum_value_fp"
        )
    )
