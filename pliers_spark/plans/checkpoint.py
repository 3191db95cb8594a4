"""Resumable per-partition checkpoints with lineage + metrics.

North-rule requirement: runs are resumable from per-partition
checkpoints carrying lineage (input snapshot id, partition hash, row
counts) and metrics. The reference's seeds are its memoization cache
(``pliers/transformers/base.py:19,47-62`` — results keyed by
hash((transformer, stim))) and the TransformationLog provenance chain
(``pliers/stimuli/base.py:181-238``); here both generalize to a
manifest table.

Design (size-oblivious, idempotent):

- work is partitioned by a **deterministic partition key** (e.g.
  ``pmod(xxhash64(url), num_buckets)``) so the same rows land in the
  same logical partition across runs;
- each completed partition writes its output to
  ``<out>/part=<k>/`` (overwrite-by-partition = idempotent) and then
  appends a manifest row ``(stage_id, partition_key, input_snapshot_id,
  partition_hash, row_count, wall_ms, status, run_id, num_buckets)`` —
  output first, manifest last, so a crash mid-partition re-runs that
  partition;
- on resume, completed partition keys are read from the manifest and
  their buckets are skipped before any compute. A key names a bucket
  only under the bucket count it was written with, so a resume with
  another count is refused before any bucket runs;
- lineage columns ride on the manifest, not the data (no per-row cost).

The driver-side loop below iterates partition *groups* (buckets), not
rows; each group is one Spark job over a filtered slice, so a kill
between groups loses at most one group's work. At cluster scale the
same manifest protocol works with per-task commits via
``foreachPartition``; the bucket-loop form is chosen because it is
restart-safe under any failure mode (including driver loss) without a
custom commit protocol.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pliers_spark.operators.census import census_collect

MANIFEST_SCHEMA = (
    "stage_id string, partition_key int, input_snapshot_id string, "
    "partition_hash long, row_count long, wall_ms long, status string, run_id string, "
    "num_buckets int"
)


def _partition_hash(df: DataFrame) -> Column:
    """Order-free 64-bit hash of a partition's rows. Each row hashes its
    typed columns (a ``timestamp`` as its instant, whatever the session
    zone) and one null flag per column, since ``xxhash64`` skips nulls
    and would hash ``("a", NULL)`` like ``(NULL, "a")``. Rows combine
    by a sum, which equal rows cannot cancel as they would under XOR,
    taken as decimal (a ``long`` sum overflows under ANSI mode) and
    wrapped to a signed 64-bit value."""
    row_hash = F.xxhash64(*df.columns, *[F.isnull(c) for c in df.columns])
    total = F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0))
    wrapped = F.pmod(total, F.lit(Decimal(2**64)))
    return F.when(wrapped >= Decimal(2**63), wrapped - Decimal(2**64)).otherwise(wrapped).cast("long")


@dataclass
class CheckpointedRun:
    stage_id: str
    out_dir: str
    num_buckets: int = 16

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.out_dir, "_manifest")

    def _manifest(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(self.manifest_dir).where(
            F.col("stage_id") == self.stage_id
        )

    def completed_keys(self, spark: SparkSession) -> set[int]:
        """Bucket keys already done. Raises ``ValueError`` if a done
        bucket was written with another bucket count (or with none
        recorded): its key names other rows under this count, so
        skipping or re-running it would drop or duplicate rows."""
        if not os.path.exists(self.manifest_dir):
            return set()
        done = self._manifest(spark).where(F.col("status") == "done")
        other = done.where(~F.col("num_buckets").eqNullSafe(self.num_buckets)).first()
        if other is not None:
            raise ValueError(
                f"checkpoint {self.out_dir!r} (stage {self.stage_id!r}) was written with "
                f"{other.num_buckets} buckets; this run has num_buckets={self.num_buckets}. "
                "Resume with the recorded count or write to a new out_dir."
            )
        rows = census_collect(
            done.select("partition_key").distinct(),
            self.num_buckets, "checkpoint manifest keys (bucket grain)",
        )
        return {r.partition_key for r in rows}

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        transform,
        bucket_expr,
        input_snapshot_id: str = "",
        fail_after: int | None = None,
    ) -> int:
        """Execute ``transform`` bucket-by-bucket with checkpointing.

        ``bucket_expr`` is a Column mapping each row to [0, num_buckets);
        ``transform(df_slice) -> DataFrame`` is the feature stage.
        ``fail_after`` (tests only) raises after K buckets to simulate a
        crash. Returns the number of buckets executed this run.
        """
        run_id = uuid.uuid4().hex[:12]
        done = self.completed_keys(spark)
        bucketed = df.withColumn("_bucket", bucket_expr)
        executed = 0
        for k in range(self.num_buckets):
            if k in done:
                continue
            if fail_after is not None and executed >= fail_after:
                raise RuntimeError(f"simulated failure after {executed} partitions")
            t0 = time.time()
            part = bucketed.where(F.col("_bucket") == k).drop("_bucket")
            part_dir = os.path.join(self.out_dir, f"part={k}")
            transform(part).write.mode("overwrite").parquet(part_dir)
            # count and hash the written files in one pass: the stage
            # itself runs once per bucket
            written = spark.read.parquet(part_dir)
            n, phash = written.agg(F.count(F.lit(1)), _partition_hash(written)).first()
            manifest_row = [
                (self.stage_id, k, input_snapshot_id, int(phash), int(n),
                 int((time.time() - t0) * 1000), "done", run_id, self.num_buckets)
            ]
            spark.createDataFrame(manifest_row, MANIFEST_SCHEMA).write.mode("append").parquet(
                self.manifest_dir
            )
            executed += 1
        return executed

    def read_output(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "part=*"))

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage + metrics (row counts, wall time, hashes)."""
        return self._manifest(spark)
