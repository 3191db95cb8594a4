"""SparkSession factory with scale-appropriate defaults.

Single place where engine-level Spark tuning lives so tests, bench and
the driver entrypoint all run the same configuration. Targets: a
1000-executor cluster reading ~100 TB — locally we emulate with
``local[N]``, but every knob here is chosen to survive the scale-up:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- Arrow on for every pandas UDF / applyInPandas boundary;
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a high initial value;
- broadcast threshold left at default (10 MB) — dimension tables
  (lexicons, vocabularies) are explicitly ``F.broadcast``-ed anyway;
- no per-call call-site capture: with DataFrame debugging on, PySpark 4
  walks the Python stack and sends it to the JVM on every ``F.col`` /
  ``withColumns`` call, several py4j round trips each, which is most of
  the cost of building a flagship plan.

:data:`ENGINE_CONF` holds the settings every engine session needs,
wherever it runs; ``tools/submit_job.py`` builds its session from it.
:func:`get_spark` adds the local-mode ones (master, cores, driver
memory, split size, no UI).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "pliers_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for the engine.

    ``cpus`` controls ``local[N]`` parallelism — the two-cluster-size
    scaling evidence (BASELINE.md) runs the same job at two values.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # local bench inputs are single ~100-200MB files; without a lower
        # split size the scan caps at 1-2 tasks and nothing downstream can
        # scale. On a real cluster with many files the default is fine.
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    return (
        SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
        .config(map=conf)
        .getOrCreate()
    )


_UNITS = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def _parse_bytes(s: str) -> int:
    """Parse a Spark size string ('8m', '128MB', '134217728') to bytes."""
    s = s.strip().lower().removesuffix("b")
    if s and s[-1] in "kmg":
        return int(s[:-1]) * _UNITS[s[-1]]
    return int(s or 0)


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False):
    """Read one driver testdata table (TESTDATA.md).

    ``spread=True`` round-robin-repartitions the scan to the session's
    core count when the file is too small to fill the cores on its own
    (file bytes < cores x maxPartitionBytes). Use it before CPU-heavy
    per-row map stages (hashing, tokenizing, pandas UDFs): a sub-MB scan
    otherwise yields one split, serializing the whole stage on one core.
    On a many-file cluster-scale table the condition is false and the
    scan's natural splits are kept — no extra shuffle.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if spread:
        cores = spark.sparkContext.defaultParallelism
        max_split = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        try:
            size = (
                os.path.getsize(path)
                if os.path.isfile(path)
                else sum(
                    os.path.getsize(os.path.join(path, f))
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
            )
        except OSError:
            return df
        if size < cores * max_split:
            df = df.repartition(cores)
    return df
