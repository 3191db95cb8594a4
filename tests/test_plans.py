"""Physical-plan quality gates — the properties that matter at 100 TB.

These assert on `.explain` output, not results: column pruning (the
binary ``html`` column must never reach a text stage's scan), predicate
pushdown, broadcast joins for dimensions, and shuffle counts for the
windowed stages.
"""

import pyspark.sql.functions as F

from pliers_spark.pages_pipeline import (
    extract_page_features_arrow,
    pages_flagship,
    windowed_page_features,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_html_column_pruned(spark, pages_path):
    """ReadSchema of the flagship scan must exclude the html binary, and
    the plain flagship runs the Arrow extraction stage exactly once."""
    out = pages_flagship(spark, pages_path)
    plan = formatted(out)
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for line in scans:
        assert "html" not in line, line
    assert plan_of(out).count("MapInArrow") == 1, plan_of(out)


def test_filter_pushed_to_scan(spark, pages):
    df = pages.where(F.col("lang") == "en").select("url", "warc_ts")
    plan = formatted(df)
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters")[1][:200]


def test_extraction_is_shuffle_free(spark, pages):
    plan = plan_of(extract_page_features_arrow(pages))
    assert "Exchange" not in plan  # one narrow mapInArrow stage


def test_windowed_stage_single_shuffle(spark, pages):
    feats = windowed_page_features(extract_page_features_arrow(pages))
    plan = plan_of(feats)
    # sessionize + two lag windows share partitioning → exactly one
    # hashpartitioning exchange on url
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_skew_safe_windowed_stage_one_carry_pass(spark, pages):
    """The skew-safe per-row table runs the flagship's window step in
    ONE time-bucket carry pass: one self-join, and four exchanges: one
    (url, bucket) shuffle per side, the bucket frame's shuffle on url
    and the carry join's broadcast. The table reads two fields of the
    lagged struct, so pruning narrows the bucket-tail side and the
    Arrow extraction runs twice (rows and bucket tails)."""
    plan = plan_of(windowed_page_features(extract_page_features_arrow(pages), skew_safe=True))
    assert plan.count("MapInArrow") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert plan.count("Exchange") == 4, plan


def test_plain_flagship_one_shuffle_no_join(spark, pages_path):
    """The plain flagship builds no spine and runs no as-of join: each
    snapshot emits the spine points it decides in a narrow explode after
    the url's one window pass. One scan, one Arrow stage, one
    hashpartitioning Exchange on url, no Join operator."""
    plan = plan_of(pages_flagship(spark, pages_path))
    assert plan.count("FileScan") == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") == plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def final_plan(df) -> str:
    """The adaptive plan that ran: execute ``df``, then keep the final
    plan (the initial one follows it in the string). Exchange reuse
    happens when adaptive execution creates the query stages, so only
    this plan shows which subtrees really ran once."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    return plan.split("== Initial Plan ==")[0]


def test_skew_safe_flagship_extracts_once(spark, pages_path):
    """The skew-safe flagship carries the whole extracted row, packed in
    one struct, through one time-bucket carry pass: no skeleton scan,
    no attach join, no fold. Both sides of the carry pass's self-join
    read the same ``(url, _tb)`` exchange, so in the plan that ran the
    scan and the Arrow extraction appear once, one exchange is reused,
    the only Join is the carry join, and no aggregate is keyed on the
    spine point (url, t)."""
    import re

    plan = final_plan(pages_flagship(spark, pages_path, heavy_hitter_threshold=1))
    assert plan.count("FileScan") == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("ReusedExchange") >= 1, plan
    assert plan.count("Join") == 1, plan
    keys = re.findall(r"Aggregate\(keys?=\[([^\]]*)\]", plan)
    assert keys, plan
    assert not [k for k in keys if re.search(r"\bt#", k)], plan


def test_flagship_build_py4j_budget(spark, pages_path, monkeypatch):
    """Building (not running) either flagship plan, the heavy-hitter
    census included, stays within a budget of py4j commands sent to the
    JVM, about 1.15-1.2x the count with PySpark's per-call call-site
    capture off (plain path at the default threshold 564, skew path at
    threshold 1 896 on this fixture). With the capture on, every
    ``F.col`` / ``withColumns`` call also walks the Python stack and
    sends it to the JVM, about twice the commands. Proxy releases
    (``m d`` commands) are not counted: they follow the timing of
    Python's garbage collector."""
    import pyspark.errors.utils

    # a fresh process reads the setting from the session on its first
    # API call; drop the cached answer so this test reads it the same way
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    for threshold, budget in ((1_000_000, 650), (1, 1070)):
        pages_flagship(spark, pages_path, heavy_hitter_threshold=threshold)  # warm-up
        sent.clear()
        monkeypatch.setattr(client, "send_command", counting)
        pages_flagship(spark, pages_path, heavy_hitter_threshold=threshold)
        monkeypatch.setattr(client, "send_command", send)
        assert len(sent) <= budget, (threshold, len(sent))


def test_dictionary_join_is_broadcast(spark):
    from pliers_spark.operators.dictionary import dictionary_lookup

    toks = spark.createDataFrame([(1, "a")], "doc long, token string")
    dim = spark.createDataFrame([("a", 1.0)], "word string, v double")
    plan = plan_of(dictionary_lookup(toks, dim, "token", "word"))
    assert "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle_after_sources(spark, pages):
    from pliers_spark.operators.asof import asof_join
    from pliers_spark.operators.temporal import resample_grid

    right = pages.select("url", "warc_ts", F.length("text").alias("n"))
    spine = resample_grid(pages.select("url", "warc_ts"), ["url"], "warc_ts", 7 * 86400).withColumnRenamed(
        "warc_ts", "t"
    )
    out = asof_join(spine, right, ["url"], "t", "warc_ts", ["n"])
    plan = plan_of(out)
    # the as-of itself adds ONE hashpartitioning exchange over the union
    # (the spine grid's groupBy adds its own); no join operator at all
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_asof_join_one_frame_function_per_direction(spark):
    """The as-of join takes the matched right row as ONE struct per
    window frame, however many value columns ride along: with three
    value columns the executed Window node runs one ``last`` for
    backward, one ``first`` for forward and one of each for nearest,
    never one per column."""
    import datetime as dt

    from pliers_spark.operators.asof import asof_join

    t = dt.datetime(2024, 1, 1)
    right = spark.createDataFrame(
        [("e", t, 1.0, "x", 2)], "ent string, rts timestamp, a double, b string, c int"
    )
    spine = spark.createDataFrame([("e", t)], "ent string, ts timestamp")
    for direction, want in (("backward", (1, 0)), ("forward", (0, 1)), ("nearest", (1, 1))):
        plan = plan_of(asof_join(
            spine, right, ["ent"], "ts", "rts", ["a", "b", "c"], direction=direction
        ))
        windows = [line for line in plan.splitlines() if "Window [" in line]
        assert len(windows) == 1, plan
        assert (windows[0].count("last("), windows[0].count("first(")) == want, plan


def test_stft_scan_prunes_to_needed_columns(spark, tmp_path):
    """The STFT stage must read only (entity, ts, value, tiebreak) from
    the source — props/event_type never reach the scan."""
    import datetime

    from pliers_spark.functions.spectral import stft_power_frames

    p = str(tmp_path / "ev.parquet")
    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, t0, 1.0 * i, "x", "y") for i in range(10)],
        "user_id long, ts timestamp, value double, event_type string, props string",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = stft_power_frames(df, "user_id", "ts", "value", order_cols=["ts"])
    plan = formatted(out)
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for line in scans:
        assert "props" not in line and "event_type" not in line, line


def test_stft_single_shuffle(spark, pages):
    """One Exchange only: the hash-repartition feeding applyInPandas."""
    import datetime

    from pliers_spark.functions.spectral import stft_power_frames

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i % 3, t0 + datetime.timedelta(seconds=i), float(i)) for i in range(30)],
        "user_id long, ts timestamp, value double",
    )
    plan = plan_of(stft_power_frames(df, "user_id", "ts", "value"))
    assert plan.count("Exchange") == 1, plan


def test_compound_struct_collapses_to_projection(spark, tmp_path):
    """struct pack + slot extract must leave no struct materialization —
    Catalyst folds it into a plain column projection over the scan."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["compound_slots"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "Exchange" not in plan
    # the executed plan projects the source columns directly
    assert "named_struct" not in plan.lower() or "Project" in plan


def test_aqe_splits_skewed_join(spark, tmp_path):
    """AQE skew-join: with thresholds lowered to sandbox scale, a join
    against a heavily-skewed key must show skew=n in the final adaptive
    plan (SMJ skew splitting) — the engine's runtime defense for
    skewed shuffle joins (salting is reserved for non-join stages)."""
    import pyspark.sql.functions as F2

    left = spark.range(0, 60000).withColumn(
        "k", F2.when(F2.col("id") % 100 < 99, F2.lit(0)).otherwise(F2.col("id") % 7)
    ).withColumn("pad", F2.sha2(F2.col("id").cast("string"), 256))
    right = spark.range(0, 8).withColumnRenamed("id", "k").withColumn("r", F2.col("k") * 2)
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        # the aggregate must consume the wide column, else Catalyst
        # prunes it before the shuffle and no partition is skewed
        df = left.join(right, "k").agg(F2.sum(F2.length("pad")).alias("total"))
        df.collect()  # execute THIS plan so AQE finalizes it
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_latest_value_agg_is_partial(spark, tmp_path):
    """max_by compaction must partial-aggregate map-side (one shuffle,
    combiner before it)."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["latest_value_per_user"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan
    before_exchange = plan.split("Exchange")[-1]  # bottom-up text: child side
    assert "partial" in before_exchange.lower(), plan


def test_ann_lsh_broadcasts_queries(spark):
    from pliers_spark.queries import QUERIES

    df = QUERIES["ann_lsh_topk"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_novelty_single_shuffle_no_python(spark):
    """novelty is one window shuffle; token-set algebra stays JVM-side."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["novelty_jaccard"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    # the only exchanges allowed: the deliberate small-scan spread
    # repartition + the window hash partitioning
    assert plan.count("Exchange") <= 2, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan


def test_hash_sample_no_shuffle_no_python(spark):
    from pliers_spark.queries import QUERIES

    df = QUERIES["hash_sample"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "PythonUDF" not in plan, plan
    # narrow map + filter over the (spread) scan — nothing else
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


def test_rms_zcr_single_shuffle_single_sort(spark):
    """rms_zcr is a 100%-built-in plan: ONE Exchange (entity hash) and
    ONE Sort feeding every window pass — the later lags reuse the
    (ts, tiebreak) spec instead of re-sorting by the derived row index —
    then the frame agg reuses the entity partitioning (no second
    Exchange: hash(entity) satisfies the (entity, frame) clustering)."""
    import datetime

    from pliers_spark.functions.audio_features import rms_zcr

    rows = [
        (1, i, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i), float(i % 7))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    plan = plan_of(rms_zcr(df, "user_id", "ts", "value", "event_id"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort") == 1, plan


def test_lm_score_scans_corpus_bounded_times(spark, tmp_path):
    # after the vocab/bigram checkpoints, the FINAL lm_score plan may
    # touch the corpus only for the id-projection join — the expensive
    # tokenize→zip→explode path must live behind the checkpoint cut
    from pliers_spark.operators.lm import bigram_lm_score

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "a b c d e") for i in range(50)], "doc_id long, text string"
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = formatted(bigram_lm_score(docs))
    assert plan.count("Scan parquet") <= 2, plan


def test_chunk_dedup_no_tokenize_after_checkpoint(spark, tmp_path):
    # doc universe and reassembly both derive from the checkpointed span
    # relation: the final plan reads the parquet corpus zero times
    from pliers_spark.operators.lm import chunk_dedup

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "w x y z") for i in range(20)], "doc_id long, text string"
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = formatted(chunk_dedup(docs))
    assert "Scan parquet" not in plan, plan


def test_bpe_round_runs_on_word_dimension(spark, tmp_path):
    # the merge loop's pair census reads the checkpointed symbol
    # relation, never the corpus: after _char_symbols checkpoints, a
    # round's plan contains no parquet scan
    from pliers_spark.operators.bpe import _char_symbols

    from pyspark.sql import Window

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "abc abd") for i in range(20)], "doc_id long, text string"
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    syms = _char_symbols(docs, "text").localCheckpoint(eager=True)
    w = Window.partitionBy("word").orderBy("pos")
    pairs = (
        syms.select("freq", "sym", F.lead("sym").over(w).alias("s2"))
        .where(F.col("s2").isNotNull())
        .groupBy("sym", "s2")
        .agg(F.sum("freq").alias("cnt"))
    )
    plan = formatted(pairs)
    assert "Scan parquet" not in plan, plan


def test_chroma_cqt_family_no_python_two_exchanges(spark):
    """The constant-Q chroma family (chroma_cqt / chroma_cens / tonnetz)
    is 100% built-in: literal-kernel multiply-adds over the shared
    position-pivot framing — no Python at all, and at most the spread
    repartition + ONE entity hash Exchange (the pivot agg and the CENS
    smoothing window both reuse the entity partitioning)."""
    from pliers_spark.queries import QUERIES

    for name in ("chroma_cqt", "chroma_cens", "tonnetz"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = plan_of(df)
        assert "PythonUDF" not in plan and "ArrowEval" not in plan, (name, plan)
        assert plan.count("Exchange hashpartitioning") <= 2, (name, plan)


def test_blocklist_filter_no_join_single_agg_shuffle(spark):
    """The IN-list constant-folds into codegen: no join anywhere, and
    the only exchanges are the spread repartition + the doc_id hash agg
    (partial agg runs map-side)."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["blocklist_filter"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial_sum" in plan or "HashAggregate" in plan, plan


def test_gopher_rules_no_python_bounded_shuffles(spark):
    """gopher_rules is pure Column algebra: token branch + line branch
    + scalar projection, each one hash shuffle on the doc key, joined
    co-partitioned. No Python anywhere."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["gopher_rules"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    # the two branch-agg joins back onto the scalar spine must be
    # broadcast (per-doc dims), never shuffle joins
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    # 3 branch scans (each with the deliberate small-file spread) + 3
    # doc-key aggs + 2 broadcasts; a regression to per-rule scans shows
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_semantic_dedup_no_cross_cluster_join(spark):
    """Pairwise work is confined to applyInPandas per cluster — the plan
    must contain NO join at all (and no Cartesian product): the Gram
    matmul happens inside one Arrow group stage."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["semantic_dedup"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan, plan


def test_dsir_bucket_model_broadcasts(spark):
    """The lr dimension (<= n_buckets rows) must reach per-doc features
    via broadcast, never a shuffle join on the big side."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["dsir_weights"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "PythonUDF" not in plan, plan


def test_bloom_positions_stay_jvm_side(spark):
    """Bloom positions are seeded md5 Column arithmetic — no Python; the
    delta-vs-position-set membership is joins + one count aggregate."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["bloom_dedup"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan


def test_winnowing_single_window_pass(spark):
    """Winnowing = explode → windowed count + windowed min, BOTH over
    the same (doc) partitioning — exactly one hash shuffle feeds them;
    no Python."""
    from pliers_spark.queries import QUERIES

    df = QUERIES["winnowing"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "PythonUDF" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_url_canonicalization_is_narrow(spark):
    """canonical_url is a codegen regex chain: the canonicalization
    itself adds no exchange — only the dedup groupBy shuffles."""
    import pyspark.sql.functions as F2

    from pliers_spark.pages_pipeline import canonical_url

    df = spark.range(100).select(
        canonical_url(
            F2.concat(F2.lit("https://Host.com:443/a/"), F2.col("id").cast("string"))
        ).alias("c")
    )
    plan = plan_of(df)
    assert "Exchange" not in plan and "PythonUDF" not in plan, plan


def test_exact_substr_spans_linear_no_pair_join(spark):
    """Span dedup must stay linear: census + 1:1 join back + per-doc
    window — no cartesian/pair expansion, no Python, bounded exchanges."""
    from pliers_spark.operators.dedup import exact_substr_spans

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f g h i j k "), F.col("id").cast("string")).alias("text"),
    )
    plan = plan_of(exact_substr_spans(df, "text", "doc_id", 4, 2))
    assert "CartesianProduct" not in plan and "PythonUDF" not in plan, plan
    assert plan.count("Exchange") <= 6, plan


def test_prefix_filter_jaccard_no_cartesian(spark):
    """Candidate generation must go through the rare-token equi-join,
    never a cross join; verification joins only candidates."""
    from pliers_spark.operators.dedup import prefix_filter_jaccard_pairs

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y z q "), F.col("id").cast("string")).alias("text"),
    )
    plan = plan_of(prefix_filter_jaccard_pairs(df, "text", "doc_id", 1, 2))
    assert "CartesianProduct" not in plan and "PythonUDF" not in plan, plan


def test_pagerank_lineage_cut_per_round(spark):
    """localCheckpoint each round: the FINAL plan must not grow with the
    iteration count — K=6 compiles to the same bounded shape as K=2
    (without the cut, the plan doubles per round and the driver dies
    long before the data does)."""
    from pliers_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(40)], "src long, dst long"
    )
    p2 = plan_of(pagerank(edges, iterations=2))
    p6 = plan_of(pagerank(edges, iterations=6))
    assert "PythonUDF" not in p6
    assert p6.count("Exchange") == p2.count("Exchange"), (p2, p6)
    assert p6.count("Exchange") <= 4, p6


def test_rolling_multi_shares_one_sort_across_horizons(spark):
    """Six frames over three horizons must reuse ONE (user_id, ts)
    Exchange+Sort — the multi-horizon feature pass does not pay per
    window spec."""
    import datetime as dt

    rows = [
        (i % 3, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=17 * i), float(i))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    from pliers_spark.operators._util import epoch_micros
    from pyspark.sql import Window

    base = df.select(
        "user_id", "ts", epoch_micros(df, "ts").alias("u"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("v_fp"),
    )
    out = base
    for name, hours in (("1h", 1), ("24h", 24), ("7d", 168)):
        w = Window.partitionBy("user_id").orderBy("u").rangeBetween(
            -hours * 3_600_000_000, 0
        )
        out = out.withColumn(f"cnt_{name}", F.count(F.lit(1)).over(w).cast("long"))
        out = out.withColumn(f"sum_{name}_fp", F.sum("v_fp").over(w).cast("long"))
    plan = plan_of(out)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("+- Sort ") == 1, plan
    # Spark collapses all six frames into a single Window operator
    assert plan.count("+- Window ") == 1, plan


def test_decay_tiers_and_labels_share_one_exchange(spark):
    """The 6-tier decay pass and the forward-label pass each reuse ONE
    (user_id, u) Exchange+Sort+Window — recency features and horizon
    labels cost one shuffle apiece no matter how many frames ride it."""
    from pliers_spark.queries import QUERIES

    for name in ("decay_tiers", "label_horizon"):
        plan = plan_of(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == 1, (name, plan)
        assert plan.count("+- Sort ") == 1, (name, plan)
        assert plan.count("+- Window ") == 1, (name, plan)
        assert "PythonUDF" not in plan, name


def test_session_position_single_shuffle(spark):
    """Both window layers (user_id) and (user_id, session_id) must ride
    one user_id Exchange: the second layer's keys are a superset, so
    only an intra-partition re-Sort is allowed, never a new shuffle."""
    from pliers_spark.queries import QUERIES

    plan = plan_of(QUERIES["session_position"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "PythonUDF" not in plan, plan


def test_funnel_scd2_anomaly_single_shuffle(spark):
    """The single-sorted-scan family — SCD2 build (lag + lead/rownum
    layers), ordered funnel (two running-min layers + final agg), and
    trailing z-score — must each cost exactly ONE entity Exchange."""
    from pliers_spark.queries import QUERIES

    for name in ("scd2_build", "funnel_steps", "rolling_anomaly"):
        plan = plan_of(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == 1, (name, plan)
        assert "PythonUDF" not in plan, name


def test_attribution_cusum_one_exchange(spark):
    """CUSUM/drawdown (three stacked window layers) and lag-1
    autocorrelation each claim ONE entity Exchange in their docstrings
    — pin it."""
    from pliers_spark.queries import QUERIES

    for name in ("cusum_drawdown", "autocorr_lag1"):
        plan = plan_of(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == 1, (name, plan)
        assert "PythonUDF" not in plan, name


def test_new_batch_queries_no_cartesian_no_python(spark):
    """Batches 24-29 (graphs, clustering eval, nonparametric stats):
    every join is an equi-join or an intentional dimension-grain
    broadcast — never a CartesianProduct — and nothing falls back to a
    Python UDF."""
    from pliers_spark.queries import QUERIES

    for name in (
        "ndcg_at_k", "dunning_keyness", "woe_iv", "kn_perplexity",
        "burrows_delta", "item_cosine", "cdc_chunks", "ucb_arms",
        "dbscan_clusters", "ari_nmi", "triangle_coeffs", "covariate_balance",
        "wasserstein_1d", "texttiling_gaps", "degree_assortativity",
        "mann_kendall_sen", "kruskal_wallis", "cmh_odds",
    ):
        plan = plan_of(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, name
        assert "PythonUDF" not in plan, name


def test_mann_kendall_pair_join_single_shuffle(spark):
    """The O(n²) per-user pair join must reuse the checkpointed series
    frame: one user-key exchange for the join, one for the final
    user-grain agg — no more."""
    from pliers_spark.queries import QUERIES

    plan = plan_of(QUERIES["mann_kendall_sen"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") <= 2, plan


def test_ndcg_checkpoint_bounds_branch_recompute(spark):
    """The BM25 candidate frame feeds three branches; without the
    checkpoint the postings pass re-ran per branch (observed: 63
    Exchanges). Pin the bounded plan."""
    from pliers_spark.queries import QUERIES

    plan = plan_of(QUERIES["ndcg_at_k"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") <= 10, plan.count("Exchange")
    assert "BroadcastNestedLoop" not in plan


def test_dbscan_grid_probe_is_equijoin(spark):
    """The 9-cell neighbor probe must plan as an equi-join on the cell
    key (hash-partitionable at any scale), never a nested-loop distance
    join."""
    from pliers_spark.queries import QUERIES

    plan = plan_of(QUERIES["dbscan_clusters"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoop" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_round3_queries_plan_shapes(spark):
    """Round-3 additions keep the engine's plan discipline: the Treebank
    cascade is pure JVM expression work (no Python evaluator, no extra
    shuffle beyond the doc spread), and the multimodal round-trip
    queries are single mapInPandas stages over the synthesized payload
    scan — no joins, no nested loops, no surprise Exchanges."""
    from pliers_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"

    plan = plan_of(QUERIES["treebank_tokenize"](spark, sf))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 1, plan

    for name in ("image_saliency", "jpeg_decode_stats", "image_resize_bilinear"):
        plan = plan_of(QUERIES[name](spark, sf))
        assert "Join" not in plan, (name, plan)
        assert plan.count("Exchange") <= 1, (name, plan)
        assert "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan, (name, plan)

    plan = plan_of(QUERIES["spectral_contrast"](spark, sf))
    assert "BroadcastNestedLoop" not in plan, plan


def test_flagship_paths_scale_lint_clean(spark, pages_path):
    """VERDICT r4 item 8: the scale linter sweeps registered queries;
    the north-rule path (pages flagship + the documents flagship entry)
    must carry the same structural guarantee — no single-task operator
    over non-contracted input anywhere in either plan tree."""
    import __spark_entry__ as E
    from pliers_spark.plans.scale_lint import assert_scale_safe

    assert_scale_safe(pages_flagship(spark, pages_path))
    assert_scale_safe(pages_flagship(spark, pages_path, heavy_hitter_threshold=1))
    assert_scale_safe(E.entry(spark))


def test_incremental_and_windowed_paths_scale_lint_clean(spark, pages):
    """The checkpoint/resume page path and the skew-safe windowed stage
    are flagship variants a cluster run composes — lint them too."""
    from pliers_spark.plans.scale_lint import assert_scale_safe

    feats = extract_page_features_arrow(pages)
    assert_scale_safe(windowed_page_features(feats))
    assert_scale_safe(windowed_page_features(feats, skew_safe=True))
