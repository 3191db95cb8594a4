"""The benchmark's jobs, composed only from the engine's public calls.

``flagship`` is ``pages_pipeline.pages_flagship`` as a user calls it.
``checkpoint_job`` is the ``tools/submit_job.py --checkpoint`` path, run
once per traced run: the extraction stage runs through
``plans/checkpoint.CheckpointedRun`` over url-hash buckets, is killed after
half of them, resumes in the same session, and then feeds
``windowed_page_features`` and ``asof_join``. ``layer_prefixes`` cuts the
flagship at each layer boundary for the traced run: every prefix is
materialised from scratch, in the same composition ``pages_flagship``
uses; ``leakage_and_spine`` times the two layers that sit beside the
windows-to-as-of path rather than on it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pliers_spark.operators import temporal as TP
from pliers_spark.operators.asof import asof_join, detect_heavy_hitters
from pliers_spark.pages_pipeline import (
    extract_page_features_arrow,
    pages_flagship,
    windowed_page_features,
)
from pliers_spark.plans.checkpoint import CheckpointedRun
from pliers_spark.plans.leakage import assert_leakage_free

HEAVY_HITTER_THRESHOLD = 500
NUM_BUCKETS = 4
SPINE_STEP_S = 7 * 86_400
PAGE_COLS = ["url", "warc_ts", "lang", "text"]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def flagship(spark: SparkSession, path: str) -> DataFrame:
    return pages_flagship(spark, path, heavy_hitter_threshold=HEAVY_HITTER_THRESHOLD)


@dataclass
class CheckpointStats:
    resume_s: float = 0.0  # manifest read to the final table
    manifest_read_s: float = 0.0
    buckets_run: int = 0
    buckets_skipped: int = 0


def _bucket():
    return F.pmod(F.xxhash64("url"), F.lit(NUM_BUCKETS)).cast("int")


def checkpoint_job(spark: SparkSession, path: str,
                   out_dir: str) -> tuple[CheckpointStats, CheckpointedRun]:
    """Kill after half the buckets, resume, then windows, spine and as-of,
    materialised with the noop sink. ``out_dir`` must not exist."""
    stats = CheckpointStats()
    ck = CheckpointedRun("extract_v1", out_dir, num_buckets=NUM_BUCKETS)
    pages = spark.read.parquet(path)
    try:
        stats.buckets_run += ck.run(spark, pages, extract_page_features_arrow, _bucket(),
                                    fail_after=NUM_BUCKETS // 2)
        raise AssertionError("the simulated kill did not happen")
    except RuntimeError as e:
        if "simulated failure" not in str(e):
            raise
        stats.buckets_run += NUM_BUCKETS // 2
    t1 = time.perf_counter()
    stats.buckets_skipped = len(ck.completed_keys(spark))
    stats.manifest_read_s = time.perf_counter() - t1
    t2 = time.perf_counter()
    stats.buckets_run += ck.run(spark, pages, extract_page_features_arrow, _bucket())
    feats = windowed_page_features(ck.read_output(spark))
    spine = TP.resample_grid(
        spark.read.parquet(path).select("url", "warc_ts"), ["url"], "warc_ts", SPINE_STEP_S
    ).withColumnRenamed("warc_ts", "t")
    value_cols = [c for c in feats.columns if c not in ("url", "warc_ts")]
    noop(asof_join(spine, feats, ["url"], "t", "warc_ts", value_cols))
    stats.resume_s = time.perf_counter() - t2
    return stats, ck


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _windows(pages: DataFrame, engaged: bool) -> DataFrame:
    return windowed_page_features(extract_page_features_arrow(pages), skew_safe=engaged)


def layer_prefixes(spark: SparkSession, path: str, span):
    """``(layer, run)`` in pipeline order; ``run()`` materialises the prefix
    ending at that layer from scratch. ``span(name, fn)`` calls ``fn`` and
    records its wall: the census job is timed as a span inside the
    prefixes, the other layers by differences of prefix walls."""
    pages = spark.read.parquet(path)

    def census() -> bool:
        return span("census", lambda: bool(detect_heavy_hitters(
            pages.select("url"), ["url"], HEAVY_HITTER_THRESHOLD).take(1)))

    def p_scan():
        noop(pages.select(*PAGE_COLS))

    def p_extract():
        census()
        noop(extract_page_features_arrow(pages))

    def p_windows():
        noop(_windows(pages, census()))

    def p_asof():
        noop(flagship(spark, path))

    return [("scan", p_scan), ("extract", p_extract), ("windows", p_windows),
            ("asof", p_asof)]


def leakage_and_spine(spark: SparkSession, path: str, span, engaged: bool) -> None:
    """Time the leakage audit of the windowed plan (driver only) and the
    spine job on their own, as the ``leakage`` and ``spine`` spans."""
    pages = spark.read.parquet(path)
    feats = _windows(pages, engaged)
    span("leakage", lambda: assert_leakage_free(feats))
    span("spine", lambda: noop(TP.resample_grid(
        pages.select("url", "warc_ts"), ["url"], "warc_ts", SPINE_STEP_S)))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
