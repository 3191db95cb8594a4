"""Streaming feature extraction over incrementally-arriving page files.

The north-star pipeline's extract stage (``pages_pipeline.
extract_page_features_arrow``) is one narrow ``mapInArrow`` stage — no
shuffle — so the SAME stage runs unchanged under Structured Streaming:
new crawl-snapshot parquet files landing in the input directory are
picked up by the file source, pushed through the identical Arrow stage,
and appended to the sink. Batch ≡ streaming output by construction
(pinned in tests/test_streaming.py); the file-source checkpoint gives
exactly-once file accounting, which is the streaming analog of the
batch checkpoint manifests (plans/checkpoint.py).

Scale notes: the file source lists the directory each trigger —
at crawl scale, point it at a date-partitioned landing zone
(``.../dt=2026-08-18/``) and use ``latestFirst``/``maxFilesPerTrigger``
to bound a trigger's batch; the extract itself stays shuffle-free, so
micro-batch latency is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pages_pipeline import extract_page_features_arrow


def streaming_page_features(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the pages landing directory → the batch extract
    stage, unchanged. Returns the streaming DataFrame; callers attach
    their sink (tests use a memory sink with trigger availableNow)."""
    batch_schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return extract_page_features_arrow(stream)
