#!/usr/bin/env python
"""spark-submit entrypoint for the flagship pages pipeline (north rule:
"launched via spark-submit --py-files on multi-executor clusters").

Packaging + launch:

    cd /root/repo && zip -qr /tmp/pliers_spark.zip pliers_spark
    spark-submit --py-files /tmp/pliers_spark.zip \
        tools/submit_job.py --input /data/pages --output /data/features

Local smoke (generates a synthetic pages table first):

    spark-submit --master 'local[8]' --py-files /tmp/pliers_spark.zip \
        tools/submit_job.py --synth-urls 5000 --output /tmp/features

The script never sets a master itself — spark-submit owns cluster
placement, cores and memory — and builds its session from
``session.ENGINE_CONF``, the engine settings every session shares (AQE,
Arrow and its batch size, the UTC session zone, no per-call call-site
capture). With ``--checkpoint`` the extraction stage runs through the
resumable per-partition manifest (plans/checkpoint.py): re-running the
same command after a failure skips completed url-hash buckets. Either
way the rest of the job is ``pages_pipeline.asof_feature_table``, the
flagship's own back half (census, windows, leakage gate, as-of spine points).
"""

from __future__ import annotations

import argparse
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    p.add_argument("--output", required=True, help="feature table output path")
    p.add_argument("--synth-urls", type=int, default=0,
                   help="generate a synthetic pages table of N urls at <output>_pages first")
    p.add_argument("--spine-step-hours", type=int, default=24 * 7,
                   help="as-of query spine granularity (default weekly)")
    p.add_argument("--checkpoint", action="store_true",
                   help="run extraction via resumable per-partition checkpoints")
    p.add_argument("--num-buckets", type=int, default=64,
                   help="url-hash buckets for --checkpoint mode")
    p.add_argument("--snapshot-id", default="",
                   help="input snapshot id recorded in checkpoint lineage")
    return p.parse_args(argv)


def checkpointed_flagship(spark, input_path, args):
    """``pages_flagship`` with its extraction run bucket by bucket through
    the resumable checkpoint manifest; the back half reads the
    checkpointed features."""
    from pyspark.sql import functions as F

    from pliers_spark.pages_pipeline import asof_feature_table, extract_page_features_arrow
    from pliers_spark.plans.checkpoint import CheckpointedRun

    pages = spark.read.parquet(input_path)
    ck = CheckpointedRun(
        stage_id="extract_v1",
        out_dir=args.output.rstrip("/") + "_extract",
        num_buckets=args.num_buckets,
    )
    ran = ck.run(
        spark,
        pages,
        extract_page_features_arrow,
        F.pmod(F.xxhash64("url"), F.lit(args.num_buckets)).cast("int"),
        input_snapshot_id=args.snapshot_id,
    )
    print(f"checkpoint: executed {ran} buckets this run", file=sys.stderr)
    return asof_feature_table(pages, ck.read_output(spark), args.spine_step_hours)


def main(argv=None):
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from pliers_spark.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName("pliers_spark.pages_flagship")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    from pliers_spark.pages_pipeline import pages_flagship

    input_path = args.input
    if args.synth_urls:
        from pliers_spark.synthgen import write_pages

        input_path = args.output.rstrip("/") + "_pages"
        write_pages(input_path, n_urls=args.synth_urls)
        print(f"synth pages written: {input_path}", file=sys.stderr)
    if not input_path:
        raise SystemExit("one of --input / --synth-urls is required")

    t0 = time.time()
    if args.checkpoint:
        out = checkpointed_flagship(spark, input_path, args)
    else:
        out = pages_flagship(spark, input_path, spine_step_hours=args.spine_step_hours)

    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    wall = time.time() - t0
    print(f"wrote {n} feature rows to {args.output} in {wall:.1f}s "
          f"({n / max(wall, 1e-9):.0f} rows/sec)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
