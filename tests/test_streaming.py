"""Structured Streaming twins agree with batch operators (file replay)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from pliers_spark.operators.temporal import session_bounds
from pliers_spark.streaming.sessions import streaming_session_bounds, streaming_windowed_counts


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in ["u1", "u2"]:
        for burst in range(3):
            for k in range(4):
                rows.append(
                    (uid, base + dt.timedelta(hours=8 * burst, minutes=5 * k), float(k))
                )
    df = spark.createDataFrame(rows, "uid string, ts timestamp, value double")
    d = str(tmp_path_factory.mktemp("stream") / "events")
    df.coalesce(1).write.parquet(d)
    return d


def test_streaming_sessions_match_batch(spark, stream_dir):
    batch_df = spark.read.parquet(stream_dir)
    expected = {
        (r.uid, r.session_start, r.session_end, r.n_events)
        for r in session_bounds(batch_df, ["uid"], "ts", gap_seconds=6 * 3600).collect()
    }

    stream = spark.readStream.schema("uid string, ts timestamp, value double").parquet(stream_dir)
    q = (
        streaming_session_bounds(stream, "uid", "ts", gap="6 hours", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.uid, r.session_start, r.session_end, r.n_events)
            for r in spark.sql("select * from sessions_out").collect()
        }
    finally:
        q.stop()
    assert got == expected and len(got) == 6  # 3 bursts × 2 users


def test_streaming_windowed_counts(spark, stream_dir):
    stream = spark.readStream.schema("uid string, ts timestamp, value double").parquet(stream_dir)
    q = (
        streaming_windowed_counts(stream, "uid", "ts", window="1 hour", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from wincounts").collect()
    finally:
        q.stop()
    per_user = {}
    for r in rows:
        per_user[r.uid] = per_user.get(r.uid, 0) + r.n_events
    assert per_user == {"u1": 12, "u2": 12}


def test_stateful_running_stats_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: two files replayed as two micro-batches
    (maxFilesPerTrigger=1); the final update per entity must equal the
    batch aggregate over ALL rows — proving state carried across
    batches, not per-batch recomputation."""
    import pandas as pd

    from pliers_spark.streaming.stateful import streaming_running_stats

    d = str(tmp_path / "ev")
    os.makedirs(d)
    base = dt.datetime(2024, 1, 1)
    batch1 = [("u1", base, 1.0), ("u1", base, 2.0), ("u2", base, 10.0)]
    batch2 = [("u1", base, 3.0), ("u2", base, 30.0), ("u2", base, 20.0)]
    schema = "uid string, ts timestamp, value double"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(d + "/f1")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(d + "/f2")
    # file source reads a flat dir of files; re-lay them out
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    i = 0
    for sub in ("f1", "f2"):
        for f in sorted(os.listdir(f"{d}/{sub}")):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{sub}/{f}", f"{flat}/{i:03d}.parquet")
                i += 1

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    q = (
        streaming_running_stats(stream, "uid", "value")
        .writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from running_stats").collect()
    finally:
        q.stop()
    # last update per uid
    final = {}
    for r in rows:
        final[r.uid] = r  # memory sink appends updates in batch order
    exp = (
        spark.read.parquet(flat)
        .groupBy("uid")
        .agg(F.count("value").alias("n"), F.avg("value").alias("mean"), F.stddev_samp("value").alias("std"))
        .collect()
    )
    exp = {r.uid: r for r in exp}
    assert set(final) == {"u1", "u2"}
    for uid in final:
        assert final[uid].n == exp[uid].n
        assert final[uid].mean == pytest.approx(exp[uid].mean)
        assert final[uid].std == pytest.approx(exp[uid].std)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    import datetime as dt

    from pliers_spark.streaming.sessions import streaming_dedup

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in ["u1", "u2"]:
        for k in range(5):
            r = (uid, f"page_{k % 3}", base + dt.timedelta(minutes=k), float(k))
            rows.append(r)  # page_0..2 repeat → dups within the window
    df = spark.createDataFrame(rows, "uid string, url string, ts timestamp, value double")
    d = str(tmp_path / "dedup_events")
    df.coalesce(1).write.parquet(d)

    expected = {(r.uid, r.url) for r in df.dropDuplicates(["uid", "url"]).collect()}

    stream = spark.readStream.schema("uid string, url string, ts timestamp, value double").parquet(d)
    q = (
        streaming_dedup(stream, ["uid", "url"], "ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [(r.uid, r.url) for r in spark.sql("select * from dedup_out").collect()]
    finally:
        q.stop()
    assert len(got) == len(expected) == 6  # 3 distinct urls × 2 users
    assert set(got) == expected


def test_streaming_extract_matches_batch_and_is_incremental(spark, tmp_path):
    """The flagship extract stage under Structured Streaming: (a) a
    first availableNow pass over the landing dir equals the batch
    extract row-for-row; (b) a SECOND file landing is picked up
    incrementally (only new rows appended — exactly-once file
    accounting via the stream checkpoint)."""
    import shutil

    from pliers_spark.pages_pipeline import extract_page_features_arrow
    from pliers_spark.streaming.extract import streaming_page_features
    from pliers_spark.synthgen import write_pages

    land = tmp_path / "landing"
    land.mkdir()
    p1 = write_pages(str(tmp_path / "b1.parquet"), n_urls=40, max_snapshots=3, seed=7)
    shutil.copy(p1, land / "batch1.parquet")

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_trigger(name):
        q = (
            streaming_page_features(spark, str(land))
            .writeStream.format("parquet")
            .queryName(name)
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got1 = run_trigger("stream_extract_1")
    batch1 = extract_page_features_arrow(spark.read.parquet(str(land)))
    assert sorted(map(tuple, got1.collect())) == sorted(map(tuple, batch1.collect()))
    n1 = got1.count()

    # second landing: new file with different urls — the checkpointed
    # file source processes ONLY the new file (exactly-once accounting)
    p2 = write_pages(str(tmp_path / "b2.parquet"), n_urls=15, max_snapshots=2, seed=99)
    shutil.copy(p2, land / "batch2.parquet")
    got2 = run_trigger("stream_extract_2")
    batch2 = extract_page_features_arrow(spark.read.parquet(str(land)))
    assert got2.count() == batch2.count() > n1
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, batch2.collect()))


def test_streaming_enrich_latest_dim_version(spark, stream_dir, tmp_path):
    """Stream-static as-of enrichment: events joined to the LATEST
    dimension row per key; a key with two versions gets the newer one,
    an unknown key stays null (left join)."""
    import datetime as dt2

    from pliers_spark.streaming.sessions import streaming_enrich_latest

    dim = spark.createDataFrame(
        [
            ("u1", dt2.datetime(2023, 1, 1), "old-segment"),
            ("u1", dt2.datetime(2023, 6, 1), "new-segment"),
            ("u3", dt2.datetime(2023, 6, 1), "never-matches"),
        ],
        "uid string, updated_at timestamp, segment string",
    )
    stream = (
        spark.readStream.schema("uid string, ts timestamp, value double")
        .parquet(stream_dir)
    )
    out = streaming_enrich_latest(stream, dim, "uid", "updated_at", ["segment"])
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM enriched").collect()
    assert rows, "stream produced no rows"
    by_uid = {}
    for r in rows:
        by_uid.setdefault(r["uid"], set()).add(r["segment"])
    assert by_uid["u1"] == {"new-segment"}  # latest version wins
    assert by_uid["u2"] == {None}  # unknown key -> left-join null


def test_streaming_hour_rollup_matches_batch_and_coarsens(spark, stream_dir):
    """The streaming hour tier equals the batch hour tier on replay;
    coarsening the streamed partials to 'day' equals the batch day tier
    (the lambda read path of operators/rollup)."""
    from pliers_spark.operators.rollup import coarsen, multires_rollup
    from pliers_spark.streaming.rollup import streaming_hour_rollup

    batch = multires_rollup(spark.read.parquet(stream_dir), cut=False)
    want_hour = {
        (r.bucket_start, r.n_events, r.sum_value_fp)
        for r in batch.where(F.col("resolution") == "hour").collect()
    }
    want_day = {
        (r.bucket_start, r.n_events, r.sum_value_fp)
        for r in batch.where(F.col("resolution") == "day").collect()
    }

    stream = spark.readStream.schema("uid string, ts timestamp, value double").parquet(stream_dir)
    q = (
        streaming_hour_rollup(stream, "ts", "value", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("hour_rollup")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        hour_df = spark.sql("SELECT * FROM hour_rollup")
        got_hour = {
            (r.bucket_start, r.n_events, r.sum_value_fp) for r in hour_df.collect()
        }
        got_day = {
            (r.bucket_start, r.n_events, r.sum_value_fp)
            for r in coarsen(hour_df, "day").collect()
        }
    finally:
        q.stop()
    assert got_hour == want_hour
    assert got_day == want_day


def test_streaming_paths_scale_lint_clean(spark, stream_dir):
    """VERDICT r4 item 8: the streaming twins carry the same structural
    scale guarantee as the batch catalog — every plan is keyed
    (watermark + per-key state), no global single-task operator over
    raw rows. audit runs on the streaming logical plan pre-start."""
    from pliers_spark.plans.scale_lint import audit_scale_hazards
    from pliers_spark.streaming.sessions import (
        streaming_dedup,
        streaming_session_bounds,
        streaming_windowed_counts,
    )

    stream = spark.readStream.schema(
        "uid string, ts timestamp, value double"
    ).parquet(stream_dir)
    frames = [
        streaming_session_bounds(stream, "uid", "ts", gap="6 hours", watermark="0 seconds"),
        streaming_windowed_counts(stream, "uid", "ts", window="1 hour", watermark="0 seconds"),
        streaming_dedup(stream, ["uid", "ts"], "ts", watermark="1 hour"),
    ]
    for f in frames:
        hazards = audit_scale_hazards(f)
        assert not hazards, [h.detail for h in hazards]
