"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: stft_power, resample_lowpass, doc_embedding_maxpool, diag_flags,
    word_counter_log, compound_slots, seq_encoding, metric_percentiles,
    hierarchical_tokens, corpus_stats, token_top100, decontaminate_fuzzy,
    countmin_tokens, salted_unique_tokens, dup_clusters,
    cluster_representatives, novelty_jaccard, top_tokens_per_doc,
    props_extract, hash_sample, split_assign, feature_zscore,
    latest_value_per_user, quality_filter, regexp_stem, ann_lsh_topk,
    lag_split, sessionize_split, ffill_split, rolling_split
"""
from __future__ import annotations

from ._registry import (
    D,
    F,
    S,
    T,
    TP,
    Window,
    _docs,
    _events,
    load_table,
    md5_int,
    md5_int_sql,
    query,
)
from .core_parity import _QUALITY_ORACLE, q_quality_score
from .temporal_core import _SESSION_GAP_S
from .dedup_sim import _DOT_SQL, _NORM_A, _NORM_Q, _SIMHASH_BITS
from .features_a import _EMB_DIM, _simhash_pairs_cte, _simhash_sims_cte



def _stft_sql() -> str:
    from pliers_spark.functions.spectral import stft_power_sql

    return stft_power_sql()



@query("stft_power", _stft_sql())
def q_stft_power(spark, sf_dir):
    """STFTAudioExtractor (pliers/extractors/audio.py:64-113): Hann-
    windowed rFFT power per (entity, frame), frame_size=8 hop=4, full
    frames only. Spark side is numpy rfft inside applyInPandas (Arrow
    batch per entity); the oracle is the same transform written as an
    explicit DFT with constant-folded twiddle factors."""
    from pliers_spark.functions.spectral import stft_power_frames

    return stft_power_frames(
        _events(spark, sf_dir),
        "user_id",
        "ts",
        "value",
        order_cols=["ts", "event_id"],
    )



def _lowpass_sql() -> str:
    from pliers_spark.functions.spectral import lowpass_decimate_sql

    return lowpass_decimate_sql()



@query("resample_lowpass", _lowpass_sql())
def q_resample_lowpass(spark, sf_dir):
    """resample() downsample path — windowed-sinc anti-alias low-pass
    then decimate 4× per entity (role of pliers/utils/base.py:225-239's
    Butterworth; scipy absent so the FIR design is golden-tested in
    tests/test_spectral.py). applyInPandas per entity-hash bucket, the
    convolution as an explicit tap-ordered fold so the DuckDB oracle
    (spectral.lowpass_decimate_sql — the same convolution as relational
    algebra, list_reduce fold) is bit-identical."""
    from pliers_spark.functions.spectral import lowpass_decimate

    return lowpass_decimate(_events(spark, sf_dir), "user_id", "ts", "value", decimate=4)



def _maxpool_sql() -> str:
    from pliers_spark.functions.embeddings import hash_embedding_dim_sql

    dims = ", ".join(
        f"round(max({hash_embedding_dim_sql('token', d)}), 6) AS emb_{d}" for d in range(_EMB_DIM)
    )
    return f"""WITH toks AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents)
       SELECT doc_id, {dims} FROM toks GROUP BY doc_id"""



@query("doc_embedding_maxpool", _maxpool_sql())
def q_doc_embedding_maxpool(spark, sf_dir):
    """BertExtractor-style pooling with pooling='max' — per-dimension max
    over token vectors (pliers/extractors/text.py:412-560 pools token
    encodings with np.<fn>). Same deterministic hash-embedding as
    word_embeddings; partial-agg (max) map-side, one shuffle on doc_id."""
    from pliers_spark.functions.embeddings import hash_embedding_dim

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
    )
    return toks.groupBy("doc_id").agg(
        *[
            F.round(F.max(hash_embedding_dim(F.col("token"), d)), 6).alias(f"emb_{d}")
            for d in range(_EMB_DIM)
        ]
    )



def _diag_flag_sql() -> str:
    feats = ["text_length", "n_tokens", "n_unique", "n_chars"]
    exprs = {
        "text_length": "length(trim(text))",
        "n_tokens": "length(string_split(trim(text), ' '))",
        "n_unique": "length(list_distinct(string_split(trim(text), ' ')))",
        "n_chars": "n_chars",
    }
    base = ", ".join(f"{e}::DOUBLE AS {c}" for c, e in exprs.items())
    aggs = [f"var_samp({c}) AS v_{c}" for c in feats]
    pairs: dict[str, list[str]] = {c: [] for c in feats}
    for i, a in enumerate(feats):
        for b in feats[i + 1 :]:
            aggs.append(f"corr({a}, {b}) AS c_{a}__{b}")
            pairs[a].append(f"c_{a}__{b}")
            pairs[b].append(f"c_{a}__{b}")
    rows = []
    for c in feats:
        mc = "greatest(" + ", ".join(f"abs({p})" for p in pairs[c]) + ")"
        rows.append(
            f"SELECT '{c}' AS feature, round(v_{c}, 6) AS variance,"
            f" round({mc}, 6) AS max_abs_corr,"
            f" v_{c} < 0.000001 AS low_variance, {mc} > 0.95 AS collinear FROM s"
        )
    return (
        f"WITH f AS (SELECT {base} FROM documents),\n"
        f" s AS (SELECT {', '.join(aggs)} FROM f)\n" + "\nUNION ALL\n".join(rows)
    )



@query("diag_flags", _diag_flag_sql())
def q_diag_flags(spark, sf_dir):
    """Diagnostics.flag/flag_all (pliers/diagnostics/base.py:150-214) —
    per-feature variance + max |corr| + boolean flags over a derived
    feature table, all K aggregates in ONE map-side-partial pass."""
    from pliers_spark.operators.diagnostics import flag_features

    feats = _docs(spark, sf_dir).select(
        T.text_length("text").cast("double").alias("text_length"),
        T.token_count("text").cast("double").alias("n_tokens"),
        T.num_unique_words("text").cast("double").alias("n_unique"),
        F.col("n_chars").cast("double").alias("n_chars"),
    )
    return flag_features(feats, ["text_length", "n_tokens", "n_unique", "n_chars"])



@query(
    "word_counter_log",
    """WITH toks AS (
         SELECT doc_id,
                unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                lower(unnest(string_split(trim(text), ' '))) AS token
         FROM documents)
       SELECT doc_id, pos, token,
              round(ln(count(*) OVER (PARTITION BY doc_id, token ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS log_word_count
       FROM toks""",
)
def q_word_counter_log(spark, sf_dir):
    """WordCounterExtractor(log_scale=True) — np.log of the running
    count, feature named log_word_count (pliers/extractors/text.py:
    844-858). Same single-shuffle window as word_counter."""
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token"))
        .withColumn("pos", F.col("pos").cast("long"))
        .withColumn("token", F.lower(F.col("token")))
    )
    out = TP.running_count(toks, ["doc_id"], "token", "pos", out_col="cnt")
    return out.select(
        "doc_id", "pos", "token", F.round(F.log(F.col("cnt")), 6).alias("log_word_count")
    )



@query(
    "compound_slots",
    """SELECT doc_id,
              struct_extract(c, 'text') AS slot_text,
              struct_extract(c, 'lang') AS slot_lang,
              struct_extract(c, 'n_chars')::BIGINT AS slot_n_chars
       FROM (SELECT doc_id,
                    struct_pack(text := text, lang := lang, n_chars := n_chars) AS c
             FROM documents)""",
)
def q_compound_slots(spark, sf_dir):
    """CompoundStim typed slots (pliers/stimuli/compound.py:10-110):
    heterogeneous payload as a StructType column; a stage pulls the slot
    matching its input type (transformers/base.py:96-100). Struct
    pack/extract is pure Column algebra — Catalyst collapses it to a
    projection (asserted in tests/test_plans.py). No spread: projection
    is not CPU-bound, so the extra Exchange would be pure cost."""
    docs = load_table(spark, sf_dir, "documents")
    compound = docs.select(
        "doc_id", F.struct(F.col("text"), F.col("lang"), F.col("n_chars")).alias("c")
    )
    return compound.select(
        "doc_id",
        F.col("c.text").alias("slot_text"),
        F.col("c.lang").alias("slot_lang"),
        F.col("c.n_chars").cast("long").alias("slot_n_chars"),
    )



def _seq_encode_oracle() -> str:
    from pliers_spark.functions.encoder import seq_encode_sql

    return seq_encode_sql()



@query("seq_encoding", _seq_encode_oracle())
def q_seq_encoding(spark, sf_dir):
    """BertExtractor pattern (pliers/extractors/text.py:412-560) —
    Iterator-of-batches pandas UDF, model loaded once per worker,
    mean-pooled sequence vector per document. Weights are a
    deterministic stand-in (no torch here); the Spark plumbing is the
    production shape. The stand-in is built from md5-derived exact ppm
    integers + libm tanh-via-exp, so the DuckDB oracle recomputes the
    SAME model in SQL bit-for-bit (functions/encoder.seq_encode_sql).
    Parity pinned in tests/test_encoder.py."""
    from pliers_spark.functions.encoder import sequence_encode_col

    docs = _docs(spark, sf_dir)
    enc = docs.select("doc_id", sequence_encode_col(F.col("text")).alias("emb"))
    return enc.select(
        "doc_id", *[F.col("emb")[d].alias(f"emb_{d}") for d in range(8)]
    )



@query(
    "metric_percentiles",
    """SELECT user_id,
              round(quantile_cont(value, 0.5), 6) AS p50,
              round(quantile_cont(value, 0.9), 6) AS p90,
              round(quantile_cont(value, 0.99), 6) AS p99
       FROM events GROUP BY user_id""",
)
def q_metric_percentiles(spark, sf_dir):
    """MetricExtractor with quantile reducers (pliers/extractors/misc.py:
    13-74 accepts any numpy fn, e.g. np.percentile). Exact percentiles
    via F.percentile (linear interpolation — same definition as
    numpy/DuckDB quantile_cont). At 100 TB swap to approx_percentile
    with a documented error bound; the exact form is the oracle-able
    reference semantics."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )



@query(
    "hierarchical_tokens",
    r"""WITH marked AS (
         SELECT doc_id,
                regexp_replace(regexp_replace(trim(text), '\bthe\b', 'the.', 'g'),
                               '([.!?])\s+', '\1' || chr(10), 'g') AS m
         FROM documents),
       sent_raw AS (
         SELECT doc_id, i, trim(ss[i + 1]) AS sentence
         FROM (SELECT doc_id, string_split(m, chr(10)) AS ss FROM marked),
              unnest(range(len(ss))) AS u(i)),
       sents AS (
         SELECT doc_id,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS sent_pos,
                sentence
         FROM sent_raw WHERE sentence <> ''),
       toks AS (
         SELECT doc_id, sent_pos, string_split(sentence, ' ') AS tt FROM sents)
       SELECT doc_id, sent_pos, j AS tok_pos, tt[j + 1] AS token
       FROM toks, unnest(range(len(tt))) AS v(j)
       WHERE tt[j + 1] <> ''""",
)
def q_hierarchical_tokens(spark, sf_dir):
    """ComplexTextStim hierarchy (pliers/stimuli/text.py:54-256): a
    document is an ordered list of sentences, each an ordered list of
    tokens — two nested posexplodes carrying (sent_pos, tok_pos), the
    Spark shape of pliers' per-element onset/order propagation. Narrow
    map + generate stages only: zero shuffle."""
    marked = F.regexp_replace(F.col("text"), r"\bthe\b", "the.")
    sents = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(T.split_sentences(marked)).alias("sent_pos", "sentence"),
    )
    return (
        sents.select(
            "doc_id",
            F.col("sent_pos").cast("long"),
            F.posexplode(T.tokenize(F.col("sentence"))).alias("tok_pos", "token"),
        )
        .withColumn("tok_pos", F.col("tok_pos").cast("long"))
        .select("doc_id", "sent_pos", "tok_pos", "token")
    )



@query(
    "corpus_stats",
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents)
       SELECT count(DISTINCT doc_id)::BIGINT AS n_docs,
              count(*)::BIGINT AS total_tokens,
              count(DISTINCT token)::BIGINT AS vocab_size,
              round(count(*) / count(DISTINCT doc_id)::DOUBLE, 6) AS avg_doc_tokens
       FROM toks""",
)
def q_corpus_stats(spark, sf_dir):
    """Corpus accounting for a training-data pipeline: doc count, token
    count, exact vocabulary size, mean doc length — one exploded scan,
    map-side partial aggregation. At 100 TB vocab_size switches to
    approx_count_distinct (HLL) — asserted within 5% of exact in
    tests/test_batch5.py — because an exact global distinct over ~10^9
    types forces a full shuffle of every token."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
    )
    return toks.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("total_tokens"),
        F.countDistinct("token").alias("vocab_size"),
        F.round(F.count("*") / F.countDistinct("doc_id"), 6).alias("avg_doc_tokens"),
    )



@query(
    "token_top100",
    """WITH toks AS (
         SELECT lower(unnest(string_split(trim(text), ' '))) AS token FROM documents)
       SELECT token, count(*)::BIGINT AS cnt
       FROM toks GROUP BY token
       ORDER BY cnt DESC, token LIMIT 100""",
)
def q_token_top100(spark, sf_dir):
    """Corpus frequency head (Zipf table): distributed top-k — partial
    counts map-side, one shuffle on token, then TakeOrderedAndProject
    (per-partition heaps, no global sort). Deterministic tiebreak on the
    token so both engines agree at the cut."""
    toks = _docs(spark, sf_dir).select(
        F.explode(T.tokenize(F.lower(F.col("text")))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
    )



def _decon_fuzzy_sql() -> str:
    from pliers_spark.operators.curation import decontaminate_fuzzy_sql

    return decontaminate_fuzzy_sql()



@query("decontaminate_fuzzy", _decon_fuzzy_sql())
def q_decontaminate_fuzzy(spark, sf_dir):
    """FUZZY benchmark decontamination: training docs sharing >= 2
    winnowing fingerprints with the eval split are flagged — winnowing's
    local-overlap guarantee survives the small edits and repositioning
    that defeat the exact n-gram protocol (`decontaminate`), which is
    how lightly-paraphrased eval content actually leaks. Same broadcast
    shape: the eval fingerprint set is a tiny dimension; the training
    scan stays narrow."""
    from pliers_spark.operators.curation import decontaminate_fuzzy

    return decontaminate_fuzzy(_docs(spark, sf_dir))



def _cms_sql() -> str:
    from pliers_spark.operators.sketches import countmin_token_sql

    return countmin_token_sql()



@query("countmin_tokens", _cms_sql())
def q_countmin_tokens(spark, sf_dir):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over corpus
    tokens, probed with the exact top-20: depth=3 x width=1024 BIGINT
    counters via the seeded 60-bit md5 — build is one explode +
    groupBy whose shuffle carries at most depth*width rows regardless
    of corpus size; probes take MIN over their depth counters
    (guaranteed overestimate, emitted as the `overcount` column a
    pipeline watches when sizing the sketch). Fully deterministic —
    the oracle replays build AND probe bit-for-bit."""
    from pliers_spark.operators.sketches import countmin_build, countmin_probe

    toks = _docs(spark, sf_dir).select(
        F.explode(T.tokenize(F.col("text"))).alias("token")
    )
    sketch = countmin_build(toks, "token")
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(20)
    )
    est = countmin_probe(sketch, exact.select("token"), "token")
    return exact.join(est, "token").select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )



@query(
    "salted_unique_tokens",
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents)
       SELECT doc_id, count(DISTINCT token)::BIGINT AS n_distinct
       FROM toks GROUP BY doc_id""",
)
def q_salted_unique_tokens(spark, sf_dir):
    """Skew-spread exact distinct (operators/skew.py): two-stage salted
    count-distinct whose result is provably identical to the plain
    aggregate (the oracle IS the plain aggregate). The value-hash salt
    spreads a hot key over 32 reduce tasks — the fix for hot-domain
    exact-distinct at 10^12 rows, where partial aggregation alone
    cannot help a non-algebraic aggregate."""
    from pliers_spark.operators.skew import salted_count_distinct

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
    )
    return salted_count_distinct(toks, ["doc_id"], "token", num_salts=32)



# --------------------------------------------------------------------------
# batch 6: duplicate clustering (iterative CC), stream novelty, per-doc
# token heads


def _dup_clusters_sql() -> str:
    # Transitive closure via recursive UNION (dedups rows, so cycles
    # terminate); cluster id = min reachable node — same fixpoint the
    # Spark min-label propagation converges to.
    return f"""WITH RECURSIVE {_simhash_pairs_cte()},
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM nd_pairs
         UNION
         SELECT id_b AS src, id_a AS dst FROM nd_pairs),
       reach(node, peer) AS (
         SELECT src, src FROM edges
         UNION
         SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src)
       SELECT node AS doc_id, min(peer)::BIGINT AS cluster_id
       FROM reach GROUP BY node"""



@query("dup_clusters", _dup_clusters_sql())
def q_dup_clusters(spark, sf_dir):
    """Transitive duplicate clusters: connected components over the
    SimHash near-dup pair list via iterative min-label propagation
    (driver loop, stableCheckpoint-truncated lineage — the idiomatic
    Spark shape for iterative graph algorithms). Dedup keeps one
    representative per *cluster*, not per pair: A~B, B~C must retire
    both B and C even when A~C was never emitted."""
    pairs = D.simhash_near_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", bits=_SIMHASH_BITS, bands=4, max_hamming=3
    ).select("id_a", "id_b")
    out = D.connected_components(pairs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )



def _cluster_reps_sql() -> str:
    # cluster key = the EXACT 16-bit SimHash fingerprint (hamming-0
    # equivalence classes): still fuzzy at the token level (the
    # majority vote erases small word reorderings/substitutions) but a
    # single hash-groupBy — no pair expansion, no iterative closure.
    # Graph-transitive clustering is dup_clusters' job; this query is
    # the KEEP RULE on top of whatever clustering ran.
    return f"""WITH {_simhash_sims_cte()},
q AS ({_QUALITY_ORACLE}),
spine AS (
  SELECT q.doc_id, s.simhash, q.quality
  FROM q JOIN sims s USING (doc_id)),
ranked AS (
  SELECT doc_id, quality,
         min(doc_id) OVER (PARTITION BY simhash) AS cluster_id,
         row_number() OVER (PARTITION BY simhash
                            ORDER BY quality DESC, doc_id) AS rn
  FROM spine)
SELECT doc_id, cluster_id::BIGINT AS cluster_id, quality, (rn = 1) AS keep
FROM ranked"""



@query("cluster_representatives", _cluster_reps_sql())
def q_cluster_representatives(spark, sf_dir):
    """End-to-end fuzzy-dedup keep rule (the RefinedWeb 'retire all but
    one' step): SimHash hamming-0 equivalence classes (the majority
    vote already absorbs small token edits/reorderings) joined with
    the quality score; within each class the highest-quality doc
    (ties -> smallest id) is the kept representative, singletons keep
    themselves. ONE fingerprint groupBy + one rank window — no pair
    expansion, no iterative closure (transitive clustering at looser
    thresholds is `dup_clusters`; this is the quality-ranked keep
    decision that follows ANY clustering). Dedup keeps the BEST
    document, not the first-seen one."""
    from pyspark.sql import Window as W

    sims = D.simhash_fingerprints(
        _docs(spark, sf_dir), "text", "doc_id", bits=_SIMHASH_BITS
    )
    quality = q_quality_score(spark, sf_dir)
    spine = quality.join(sims, "doc_id")
    w = W.partitionBy("simhash")
    rn = F.row_number().over(w.orderBy(F.desc("quality"), F.asc("doc_id")))
    return spine.select(
        "doc_id",
        F.min("doc_id").over(w).cast("long").alias("cluster_id"),
        "quality",
        (rn == 1).alias("keep"),
    )



@query(
    "novelty_jaccard",
    """WITH t AS (
         SELECT source, doc_id,
                list_distinct(string_split(trim(text), ' ')) AS tok_set
         FROM documents),
       l AS (
         SELECT source, doc_id, tok_set,
                lag(tok_set) OVER (PARTITION BY source ORDER BY doc_id) AS prev
         FROM t)
       SELECT source, doc_id,
              CASE WHEN prev IS NULL THEN NULL
                   ELSE round(1.0 - len(list_intersect(tok_set, prev))::DOUBLE /
                              nullif(len(list_distinct(list_concat(tok_set, prev))), 0), 6)
              END AS novelty
       FROM l""",
)
def q_novelty_jaccard(spark, sf_dir):
    """Inter-document novelty (1 - token-set Jaccard vs the previous doc
    in the same source stream): lag over per-stream windows + JVM array
    set algebra. Catches boilerplate re-crawls inline — one shuffle, no
    pair join, rows in = rows out."""
    return D.novelty_vs_previous(_docs(spark, sf_dir), "text", ["source"], "doc_id")



@query(
    "top_tokens_per_doc",
    """WITH toks AS (
         SELECT doc_id, lower(unnest(string_split(trim(text), ' '))) AS token
         FROM documents),
       counts AS (
         SELECT doc_id, token, count(*)::BIGINT AS cnt FROM toks GROUP BY 1, 2)
       SELECT doc_id, token, cnt, rank FROM (
         SELECT doc_id, token, cnt,
                row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token)::BIGINT AS rank
         FROM counts)
       WHERE rank <= 3""",
)
def q_top_tokens_per_doc(spark, sf_dir):
    """Per-document token head (top-3 by count, deterministic tie-break):
    the per-group top-k pattern — hash agg then rank-window + filter,
    never a global sort (BertLMExtractor's per-sequence top-k,
    pliers/extractors/text.py:740-749, as a relational op)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.lower(F.col("text")))).alias("token")
    )
    counts = toks.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("token"))
    return counts.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= 3
    )



@query(
    "props_extract",
    """SELECT event_id,
              json_extract_string(props, '$.k')::BIGINT AS k,
              (json_extract_string(props, '$.k')::BIGINT % 10)::BIGINT AS k_bucket
       FROM events""",
)
def q_props_extract(spark, sf_dir):
    """Semi-structured payload extraction: pull a typed field out of a
    JSON metadata column (the crawl-record pattern — WARC headers /
    page metadata ride along as JSON strings). JVM-side
    ``get_json_object`` — no Python, stays inside codegen; at 10^12
    rows the parse cost is the scan, so the projection prunes to
    (event_id, props) only."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select(
        "event_id", k.alias("k"), F.pmod(k, F.lit(10)).cast("long").alias("k_bucket")
    )



# --------------------------------------------------------------------------
# batch 7: reproducible sampling / splits / per-group feature scaling
# (training-data pipeline staples; all JVM expressions, full oracles)


@query(
    "hash_sample",
    f"""SELECT doc_id, text FROM documents
       WHERE {md5_int_sql('text', seed=7)} % 100 < 10""",
)
def q_hash_sample(spark, sf_dir):
    """Deterministic 10% corpus sample by content-hash bucket. The
    reproducible-at-scale sampling pattern: ``rand()`` re-rolls per
    task retry / partition replan, a content hash never does — the
    sample is a pure function of the data, stable across reruns,
    engines, and cluster sizes (the oracle reproduces it exactly)."""
    d = _docs(spark, sf_dir)
    return d.where(F.pmod(md5_int(F.col("text"), seed=7), F.lit(100)) < 10).select(
        "doc_id", "text"
    )



@query(
    "split_assign",
    f"""SELECT doc_id,
              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id, {md5_int_sql('text', seed=13)} % 100 AS b FROM documents)""",
)
def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (80/10/10) by content
    hash — leak-proof by construction: exact duplicates land in the
    same split (the hash is over ``text``, not the id), so a dup can't
    straddle train and test."""
    d = _docs(spark, sf_dir)
    b = F.pmod(md5_int(F.col("text"), seed=13), F.lit(100))
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return d.select("doc_id", split.alias("split"))



@query(
    "feature_zscore",
    """WITH f AS (
         SELECT doc_id, lang, length(trim(text))::DOUBLE AS text_length FROM documents)
       SELECT doc_id, lang,
              round((text_length - avg(text_length) OVER (PARTITION BY lang)) /
                    nullif(stddev_samp(text_length) OVER (PARTITION BY lang), 0), 6) AS z
       FROM f""",
)
def q_feature_zscore(spark, sf_dir):
    """Per-group feature standardization (z-score within lang) as a
    single window pass — no two-phase agg-then-rejoin, one shuffle on
    the group key. The feature-scaling stage a training pipeline runs
    just before export."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang")
    x = T.text_length("text").cast("double")
    f = d.select("doc_id", "lang", x.alias("text_length"))
    z = (F.col("text_length") - F.avg("text_length").over(w)) / F.nullif(
        F.stddev_samp("text_length").over(w), F.lit(0)
    )
    return f.select("doc_id", "lang", F.round(z, 6).alias("z"))



@query(
    "latest_value_per_user",
    """SELECT user_id, max(ts) AS latest_ts,
              max_by(value, ts) AS latest_value,
              count(*)::BIGINT AS n_snapshots
       FROM events GROUP BY user_id""",
)
def q_latest_value_per_user(spark, sf_dir):
    """Dedup-to-latest (keep the newest snapshot per entity) as a single
    ``max_by`` hash aggregate — map-side partial agg, one shuffle, no
    window sort and no self-join. The 'current state of every url'
    compaction a crawl store runs continuously; ties on ts resolve to
    one deterministic row here because events carry unique timestamps
    per user (enforced by the oracle agreeing)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.max("ts").alias("latest_ts"),
        F.max_by("value", "ts").alias("latest_value"),
        F.count("*").cast("long").alias("n_snapshots"),
    )



@query(
    "quality_filter",
    """WITH q AS (
         SELECT doc_id, lang, length(trim(text))::DOUBLE AS ql FROM documents),
       r AS (
         SELECT doc_id, lang, ql,
                percent_rank() OVER (PARTITION BY lang ORDER BY ql, doc_id) AS pr
         FROM q)
       SELECT doc_id, lang, ql, round(pr, 6) AS pr FROM r WHERE pr >= 0.1""",
)
def q_quality_filter(spark, sf_dir):
    """Percentile-gated corpus filter: drop the bottom decile per
    language by a quality proxy — rank-window + filter, the
    distribution-relative cleaning rule (an absolute threshold can't
    survive per-language length distributions at crawl scale). Tie-break
    on doc_id keeps the rank deterministic."""
    d = _docs(spark, sf_dir)
    f = d.select("doc_id", "lang", T.text_length("text").cast("double").alias("ql"))
    w = Window.partitionBy("lang").orderBy("ql", "doc_id")
    r = f.withColumn("pr", F.percent_rank().over(w))
    return r.where(F.col("pr") >= 0.1).select(
        "doc_id", "lang", "ql", F.round("pr", 6).alias("pr")
    )



@query(
    "regexp_stem",
    """WITH toks AS (
         SELECT doc_id,
                unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                lower(unnest(string_split(trim(text), ' '))) AS token
         FROM documents)
       SELECT doc_id, pos, token,
              CASE WHEN length(token) < 4 THEN token
                   ELSE regexp_replace(token, 'ing$|s$|e$', '', 'g') END AS stem
       FROM toks""",
)
def q_regexp_stem(spark, sf_dir):
    """WordStemmingFilter(stemmer='regexp') — nltk RegexpStemmer as a
    pure codegen expression: strip suffix matches unless the word is
    shorter than min (pliers/filters/text.py:43-52)."""
    from pliers_spark.functions.stemming import regexp_stem

    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token"))
        .withColumn("pos", F.col("pos").cast("long"))
        .withColumn("token", F.lower(F.col("token")))
    )
    return toks.withColumn("stem", regexp_stem(F.col("token"), "ing$|s$|e$", min_len=4))



def _lsh_planes(dim: int = 64, n_planes: int = 4, seed: int = 42) -> list[list[float]]:
    # identical constants to operators/similarity.random_hyperplane_buckets
    import hashlib

    def coef(p, d):
        h = int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:15], 16)
        return (h / float(2**60)) * 2.0 - 1.0

    return [[coef(p, d) for d in range(dim)] for p in range(n_planes)]



def _ann_lsh_sql() -> str:
    planes = _lsh_planes()
    terms = []
    for p, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(c) for c in plane) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {len(plane)+1}), "
            f"i -> embedding[i]::DOUBLE * ({arr}::DOUBLE[])[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {2**p} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""WITH b AS (
         SELECT vec_id, embedding, ({bucket})::BIGINT AS bucket FROM embeddings),
       q AS (SELECT * FROM b WHERE vec_id < 8),
       scored AS (
         SELECT q.vec_id AS q_id, a.vec_id AS c_id,
                round({_DOT_SQL} / ({_NORM_A} * {_NORM_Q}), 6) AS cosine
         FROM b a JOIN q ON a.bucket = q.bucket AND a.vec_id != q.vec_id),
       ranked AS (
         SELECT q_id, c_id, cosine,
                row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id)::BIGINT AS rank
         FROM scored)
       SELECT q_id, c_id, cosine, rank FROM ranked WHERE rank <= 5"""



@query("ann_lsh_topk", _ann_lsh_sql())
def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH ANN: random-hyperplane bucket assignment (deterministic
    md5-derived coefficients — reproducible across engines, retries,
    cluster sizes) + bucket-local cosine top-k. The second ANN family
    beside IVF: no training pass, bucket count fixed by n_planes, recall
    tuned by multi-probe. All JVM array expressions."""
    emb = S.random_hyperplane_buckets(
        load_table(spark, sf_dir, "embeddings"), "embedding", dim=64, n_planes=4, seed=42
    )
    qs = emb.where(F.col("vec_id") < 8)
    out = S.ivf_topk(emb, qs, "vec_id", "embedding", "vec_id", "embedding", "bucket", k=5)
    return out.select("q_id", "c_id", "cosine", F.col("rank").cast("long").alias("rank"))



@query(
    "lag_split",
    """SELECT user_id, ts,
              lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS value_lag1
       FROM events""",
)
def q_lag_split(spark, sf_dir):
    """Skew-defused lag-1 (time-bucket split + boundary carry,
    operators/skew.py::timesplit_windows). The oracle IS the plain window
    lag — proving the split path bit-equal, the same pattern as
    `salted_unique_tokens`. `asof_join_split` runs the same carry pass
    (a forward fill of the as-of core's right-row struct) against the
    plain as-of oracle."""
    from pliers_spark.operators.skew import timesplit_windows

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = timesplit_windows(ev, ["user_id"], "ts", 6 * 3600, lag1=("value",))
    return out.select("user_id", "ts", "value_lag1")



@query(
    "sessionize_split",
    f"""WITH flagged AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > {_SESSION_GAP_S}
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts))
       SELECT user_id, ts,
              sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
       FROM flagged""",
)
def q_sessionize_split(spark, sf_dir):
    """Skew-defused sessionization (two-level scan decomposition over
    time buckets, operators/skew.py::timesplit_windows); the oracle
    is the plain single-window sessionize — bit-equal."""
    from pliers_spark.operators.skew import timesplit_windows

    ev = _events(spark, sf_dir).select("user_id", "ts")
    out = timesplit_windows(ev, ["user_id"], "ts", 12 * 3600, session_gap=_SESSION_GAP_S)
    return out.select("user_id", "ts", "session_id")



@query(
    "ffill_split",
    """WITH v AS (
         SELECT user_id, ts,
                CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value
         FROM events)
       SELECT user_id, ts,
              last_value(value IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
       FROM v""",
)
def q_ffill_split(spark, sf_dir):
    """Skew-defused forward-fill (time-bucket split + non-null carry,
    operators/skew.py::timesplit_windows); oracle = plain window ffill
    over the same null-punched series."""
    from pliers_spark.operators.skew import timesplit_windows

    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "view", F.lit(None)).otherwise(F.col("value")).alias("value"),
    )
    out = timesplit_windows(ev, ["user_id"], "ts", 12 * 3600, ffill=("value",))
    return out.select("user_id", "ts", F.col("value_ffill"))



@query(
    "rolling_split",
    """SELECT user_id, ts,
              round(sum(value) OVER w, 6) AS roll_sum_1h,
              count(value) OVER w::BIGINT AS roll_cnt_1h
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts
                    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",
)
def q_rolling_split(spark, sf_dir):
    """Skew-defused rolling window (ghost-row union split,
    operators/skew.py::rolling_timesplit); oracle = the plain trailing
    range window."""
    from pliers_spark.operators.skew import rolling_timesplit

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = rolling_timesplit(
        ev, ["user_id"], "ts", "value", range_seconds=3600.0, bucket_seconds=6 * 3600,
        aggs={"roll_sum_1h": "sum", "roll_cnt_1h": "count"},
    )
    return out.select(
        "user_id", "ts", F.round("roll_sum_1h", 6).alias("roll_sum_1h"),
        F.col("roll_cnt_1h").cast("long").alias("roll_cnt_1h"),
    )



# --------------------------------------------------------------------------
# batch 6 (round 2): masked-LM head, softmax sentiment, spaCy-style token
# attributes, named spectral features, merge_results 'first' aggfunc.


def _lm_common_ctes() -> str:
    """Shared SQL: per-doc context vector (exact integer-ppm sums, one
    final division) — the DuckDB twin of encoder._context_vector."""
    from pliers_spark.functions.embeddings import hash_embedding_dim_ppm_sql

    dims = ", ".join(
        f"sum({hash_embedding_dim_ppm_sql('token', d)}) / (count(*) * 1000000.0) AS c{d}"
        for d in range(4)
    )
    zeros = ", ".join(f"coalesce(c.c{d}, 0.0) AS c{d}" for d in range(4))
    return f"""toks AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
         WHERE trim(text) <> ''),
       ctx0 AS (SELECT doc_id, {dims} FROM toks GROUP BY doc_id),
       ctx AS (SELECT d.doc_id, {zeros} FROM documents d LEFT JOIN ctx0 c USING (doc_id))"""
