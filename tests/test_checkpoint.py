"""Resume-from-checkpoint gate (FIXTURES.md §8): kill after K partitions,
restart, identical final output, completed partitions not recomputed."""

import pyspark.sql.functions as F
import pytest

from pliers_spark.functions import text as T
from pliers_spark.plans.checkpoint import CheckpointedRun


def transform(df):
    return df.select(
        "url", "warc_ts", T.text_length("text").alias("text_length"), T.token_count("text").alias("n_tokens")
    )


def bucket_expr(n):
    return F.pmod(F.xxhash64("url"), F.lit(n)).cast("int")


def test_resume_after_simulated_crash(spark, pages, tmp_path):
    n_buckets = 8
    run = CheckpointedRun("textfeat", str(tmp_path / "out"), num_buckets=n_buckets)

    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(spark, pages, transform, bucket_expr(n_buckets), input_snapshot_id="snap1", fail_after=3)

    assert len(run.completed_keys(spark)) == 3

    # resume: only the remaining 5 buckets execute
    executed = run.run(spark, pages, transform, bucket_expr(n_buckets), input_snapshot_id="snap1")
    assert executed == n_buckets - 3

    # final output identical to a non-checkpointed run
    expected = sorted(map(tuple, transform(pages).collect()))
    got = sorted(map(tuple, run.read_output(spark).select(*transform(pages).columns).collect()))
    assert got == expected

    # lineage + metrics: one manifest row per bucket, counts add up
    m = run.metrics(spark)
    rows = m.collect()
    assert len(rows) == n_buckets
    assert sum(r.row_count for r in rows) == pages.count()
    assert all(r.input_snapshot_id == "snap1" and r.status == "done" for r in rows)

    # idempotence: a third run executes nothing
    assert run.run(spark, pages, transform, bucket_expr(n_buckets)) == 0


def test_resume_with_another_bucket_count_is_refused(spark, pages, tmp_path):
    """A bucket key names rows only under the bucket count it was
    written with. Resuming 4 done buckets with 8 would skip keys 0-3 of
    the new split and run 4-7, writing some rows twice; resuming them
    with 2 would find more done keys than buckets. Either way the run
    raises a ValueError naming both counts before any bucket runs."""
    out = str(tmp_path / "out")
    assert CheckpointedRun("textfeat", out, num_buckets=4).run(
        spark, pages, transform, bucket_expr(4)) == 4
    for n in (8, 2):
        run = CheckpointedRun("textfeat", out, num_buckets=n)
        with pytest.raises(ValueError, match=f"written with 4 buckets; this run has num_buckets={n}"):
            run.run(spark, pages, transform, bucket_expr(n))
    first = CheckpointedRun("textfeat", out, num_buckets=4)
    assert sorted(r.partition_key for r in first.metrics(spark).collect()) == [0, 1, 2, 3]
    assert first.read_output(spark).count() == pages.count()


def test_checkpointed_stage_runs_once_per_row(spark, pages, tmp_path):
    """Every input row passes through the checkpointed stage exactly
    once: the manifest's row count and hash are read from the written
    files, not by running the stage again."""
    rows_through = spark.sparkContext.accumulator(0)

    def counted(df):
        def through(batches):
            for b in batches:
                rows_through.add(b.num_rows)
                yield b

        out = transform(df)
        return out.mapInArrow(through, out.schema)

    run = CheckpointedRun("counted", str(tmp_path / "out"), num_buckets=4)
    assert run.run(spark, pages, counted, bucket_expr(4)) == 4
    n = pages.count()
    assert rows_through.value == n
    assert sum(r.row_count for r in run.metrics(spark).collect()) == n


def test_partition_hash_tells_outputs_apart(spark, tmp_path):
    """The manifest's ``partition_hash`` differs for outputs that differ
    and only for those: two equal rows do not cancel, a null moved to
    another column changes the hash, and a ``timestamp`` output hashes
    the same under any session time zone."""
    import datetime as dt

    def phash(name, rows, schema):
        run = CheckpointedRun(name, str(tmp_path / name), num_buckets=1)
        run.run(spark, spark.createDataFrame(rows, schema), lambda df: df, F.lit(0))
        return run.metrics(spark).first().partition_hash

    twice = phash("aa", [("a",), ("a",)], "s string"), phash("bb", [("b",), ("b",)], "s string")
    assert twice[0] != twice[1] and 0 not in twice
    assert (phash("an", [("a", None)], "x string, y string")
            != phash("na", [(None, "a")], "x string, y string"))
    ts = [(dt.datetime(2024, 3, 10, 12, tzinfo=dt.timezone.utc),)]
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        by_zone = []
        for i, tz in enumerate(("UTC", "America/New_York")):
            spark.conf.set("spark.sql.session.timeZone", tz)
            by_zone.append(phash(f"ts{i}", ts, "t timestamp"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert by_zone[0] == by_zone[1]
