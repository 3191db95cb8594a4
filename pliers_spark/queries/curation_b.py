"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: decontaminate, quality_weighted_sample, dsir_weights,
    sequence_pack, temperature_sample, bm25_topk, pmi_collocations,
    readability, bm25_rerank, pq_codes, pq_adc_topk, ivfpq_topk,
    pq_recall, tpch_q6, rolling_multi, interarrival_stats, quantile_bins,
    training_matrix, target_encode_pit, feature_psi, decay_tiers,
    session_position, label_horizon, token_label_mi, hashed_cross,
    scd2_build, funnel_steps, retention_cohorts, cdc_merge,
    walk_forward_cv, rolling_anomaly, winsorize, bootstrap_ci, dq_checks,
    table_profile, seasonal_profile, transition_matrix, autocorr_lag1,
    cusum_drawdown, gini_tokens, ab_test_stats, roc_auc, ks_drift,
    calibration_bins, heaps_law, trend_slope, activity_halflife,
    robots_prefix_match, ecdf_normalize
"""
from __future__ import annotations

from ._registry import A, F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from .core_parity import _QUALITY_ORACLE
from .temporal_core import _SESSION_GAP_S
from .relational import _tok_sql
from .dedup_sim import _URL_PATH_SQL, _URL_SYNTH_SQL
from .curation_a import _decontaminate_sql



@query("decontaminate", _decontaminate_sql())
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the GPT-2/GPT-3/Pile n-gram-overlap
    protocol): flag training docs sharing any word 5-gram with the eval
    split. The eval n-gram set is a broadcast dimension — the corpus
    scan is one narrow shingle map + broadcast hash join, no shuffle of
    the big side (the reason this stays O(corpus) at 100 TB)."""
    from pliers_spark.operators.curation import decontaminate

    return decontaminate(_docs(spark, sf_dir))



def _qws_sql() -> str:
    from pliers_spark.operators.curation import quality_weighted_sample_sql

    return quality_weighted_sample_sql(_QUALITY_ORACLE)



@query("quality_weighted_sample", _qws_sql())
def q_quality_weighted_sample(spark, sf_dir):
    """Quality-bucketed importance resampling (DCLM/FineWeb-style soft
    curation): keep-rate rises with the quality bucket, decided by a
    deterministic content hash (retry-stable, duplicate-consistent),
    kept rows carry 1/rate weights for unbiased downstream aggregates.
    Narrow map + filter — zero shuffle."""
    from pliers_spark.operators.curation import quality_weighted_sample

    return quality_weighted_sample(_docs(spark, sf_dir))



def _dsir_sql() -> str:
    from pliers_spark.operators.curation import dsir_weights_sql

    return dsir_weights_sql("lang = 'en'")



@query("dsir_weights", _dsir_sql())
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed word-bigram
    bag features, add-one-smoothed target (lang='en') vs raw unigram
    bucket models, per-doc log likelihood ratio in exact integer
    micro-nats (the bigram-LM rounding convention). The bucket model
    is a bounded broadcast dimension; composes with the hash-lottery
    sampler for the actual resampling step."""
    from pliers_spark.operators.curation import dsir_weights

    return dsir_weights(_docs(spark, sf_dir), F.col("lang") == "en")



def _pack_sql() -> str:
    from pliers_spark.operators.packing import pack_sequences_sql

    return pack_sequences_sql()



@query("sequence_pack", _pack_sql())
def q_sequence_pack(spark, sf_dir):
    """GPT-style sequence packing: every doc's placement in the
    concatenate-and-chunk token stream. The global prefix sum runs as a
    two-level distributed scan (bucket-local cumsum + broadcast bucket
    prefixes) — never a single-task global Window — while the oracle is
    the literal one-window global cumsum it must equal
    (operators/packing.py)."""
    from pliers_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir))



def _temperature_sql() -> str:
    from pliers_spark.operators.curation import temperature_sample_sql

    return temperature_sample_sql()



@query("temperature_sample", _temperature_sql())
def q_temperature_sample(spark, sf_dir):
    """Temperature mixture sampling at α=1/2 (Conneau et al. 2020 /
    Xue et al. 2021): output mixture ∝ sqrt(group size) — flattens the
    source head without equalizing. Keep rule is the squared pure-
    integer gate ticket²·n_s < SCALE²·n_min in DECIMAL/HUGEINT, exact
    at any corpus size."""
    from pliers_spark.operators.curation import temperature_sample

    return temperature_sample(_docs(spark, sf_dir))



def _bm25_sql() -> str:
    from pliers_spark.operators.ir import bm25_topk_sql

    return f"""WITH seeds AS (
         SELECT doc_id, string_split(trim(text), ' ') AS t
         FROM documents ORDER BY doc_id LIMIT 8),
       queries AS (
         SELECT doc_id AS q_id, unnest(t[1:6]) AS term FROM seeds),
       {bm25_topk_sql()}"""



@query("bm25_topk", _bm25_sql())
def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 seed-document retrieval: top-5 corpus documents per
    seed query (8 smallest doc_ids, first 6 tokens each). Inverted-
    index-shaped plan with no materialized index: one (doc,term) tf
    aggregation, broadcast query-term semi-join, integer micro-unit
    score sum (operators/ir.bm25_topk)."""
    from pliers_spark.operators.ir import bm25_topk

    docs = _docs(spark, sf_dir)
    seeds = (
        docs.orderBy("doc_id")
        .limit(8)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.slice(T.tokenize(F.col("text")), 1, 6)).alias("term"),
        )
    )
    return bm25_topk(docs, seeds, k=5)



def _pmi_sql() -> str:
    from pliers_spark.operators.ir import pmi_collocations_sql

    return pmi_collocations_sql()



@query("pmi_collocations", _pmi_sql())
def q_pmi_collocations(spark, sf_dir):
    """Top-50 bigram collocations by pointwise mutual information
    (Church & Hanks 1990), min count 5: two partial-agg censuses, word-
    key joins (vocab is NOT broadcast — it is corpus-vocabulary-sized at
    scale), integer micro-nat PMI, TakeOrderedAndProject top-k
    (operators/ir.pmi_collocations)."""
    from pliers_spark.operators.ir import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir))



def _readability_sql() -> str:
    from pliers_spark.operators.ir import readability_sql

    return readability_sql()



@query("readability", _readability_sql())
def q_readability(spark, sf_dir):
    """Flesch reading ease + Flesch–Kincaid grade per document in
    integer micro-units — a pure narrow projection (sentence counting
    and vowel-group syllables as Column algebra over the token array;
    zero shuffle, no UDF) (operators/ir.readability)."""
    from pliers_spark.operators.ir import readability

    return readability(_docs(spark, sf_dir))



def _bm25_rerank_sql() -> str:
    from pliers_spark.operators.ir import bm25_rerank_sql

    return f"""WITH seeds AS (
         SELECT doc_id, string_split(trim(text), ' ') AS t
         FROM documents ORDER BY doc_id LIMIT 8),
       queries AS (
         SELECT doc_id AS q_id, unnest(t[1:6]) AS term FROM seeds),
       {bm25_rerank_sql(k1=20, k=5)}"""



@query("bm25_rerank", _bm25_rerank_sql())
def q_bm25_rerank(spark, sf_dir):
    """Two-stage hybrid retrieval funnel: BM25 lexical recall (top-20)
    → semantic cosine rerank (top-5) against the embedding sidecar
    table. The corpus-sized embedding table is touched only through a
    broadcast semi-join against the tiny candidate set — no dense pass
    (operators/ir.bm25_rerank)."""
    from pliers_spark.operators.ir import bm25_rerank

    docs = _docs(spark, sf_dir)
    seeds = (
        docs.orderBy("doc_id")
        .limit(8)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.slice(T.tokenize(F.col("text")), 1, 6)).alias("term"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return bm25_rerank(docs, seeds, emb, k1=20, k=5)



def _pq_codes_sql() -> str:
    from pliers_spark.operators.similarity import pq_encode_sql

    return pq_encode_sql()



@query("pq_codes", _pq_codes_sql())
def q_pq_codes(spark, sf_dir):
    """Product-quantization encoding (Jégou et al. 2011): 64-float
    vectors → 8 sub-codes against a deterministic seed codebook —
    exact int64 micro-unit distances, smaller-code ties, one
    zero-shuffle Arrow matmul pass (operators/similarity.pq_encode)."""
    from pliers_spark.operators.similarity import pq_encode

    return pq_encode(load_table(spark, sf_dir, "embeddings"))



def _pq_adc_sql() -> str:
    from pliers_spark.operators.similarity import pq_adc_topk_sql

    return pq_adc_topk_sql()



@query("pq_adc_topk", _pq_adc_sql())
def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance ANN over PQ codes: per-query (m × ksub)
    integer distance tables, candidate distance = m table lookups
    summed in int64 — query time never reads a full-precision corpus
    vector (operators/similarity.pq_adc_topk)."""
    from pliers_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, emb.where(F.col("vec_id") < 8), k=5)



def _ivfpq_sql() -> str:
    from pliers_spark.operators.similarity import ivfpq_topk_sql

    return ivfpq_topk_sql()



@query("ivfpq_topk", _ivfpq_sql())
def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (FAISS IndexIVFPQ shape): coarse k-means inverted-file
    gate — only clusters containing a query are encoded-scored — times
    PQ asymmetric-distance scoring; both stages exact int64, the whole
    index bit-reproducible (operators/similarity.ivfpq_topk)."""
    from pliers_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, emb.where(F.col("vec_id") < 8), kc=8, k=5)



def _pq_recall_sql() -> str:
    from pliers_spark.operators.similarity import pq_recall_sql

    return pq_recall_sql()



@query("pq_recall", _pq_recall_sql())
def q_pq_recall(spark, sf_dir):
    """Recall@5 audit of the PQ ADC index against the exact int64 L2
    truth — the PQ analog of `lsh_recall`: the realized (not
    theoretical) miss rate a deployment must publish before trusting
    compressed search. The synthetic corpus is PQ's worst case
    (near-orthogonal random vectors carry no subspace structure, and
    the codebook is an untrained 16-seed sample), so recall@5 lands
    around 0.15 — which is exactly the point of shipping the audit:
    it is the gate that tells you to train the codebook
    (operators/similarity.pq_recall)."""
    from pliers_spark.operators.similarity import pq_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_recall(emb, emb.where(F.col("vec_id") < 8), k=5)



@query(
    "tpch_q6",
    """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100.0) AS BIGINT)) AS BIGINT)
              AS revenue_cents
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def q_tpch_q6(spark, sf_dir):
    """Forecasting-revenue-change scan (TPC-H Q6): every predicate
    pushes to the parquet scan, one map-side partial sum, no shuffle of
    data rows. Per-row product rounded ONCE to integer cents so the
    global sum is order-independent (cross-engine bit-stable)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            F.round(F.col("l_extendedprice") * F.col("l_discount") * F.lit(100.0), 0)
            .cast("long")
            .alias("cents")
        )
        .agg(F.sum("cents").cast("long").alias("revenue_cents"))
    )



@query(
    "rolling_multi",
    """WITH base AS (
         SELECT user_id, ts, CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events)
       SELECT user_id, ts,
              count(*) OVER w1::BIGINT AS cnt_1h,
              sum(v_fp) OVER w1::BIGINT AS sum_1h_fp,
              count(*) OVER w2::BIGINT AS cnt_24h,
              sum(v_fp) OVER w2::BIGINT AS sum_24h_fp,
              count(*) OVER w3::BIGINT AS cnt_7d,
              sum(v_fp) OVER w3::BIGINT AS sum_7d_fp
       FROM base
       WINDOW
         w1 AS (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
         w2 AS (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW),
         w3 AS (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)""",
)
def q_rolling_multi(spark, sf_dir):
    """Multi-horizon trailing features (1h/24h/7d count+sum) in ONE
    sorted pass: all six frames share the (user_id, ts) partition+order,
    so Spark plans a single Exchange and a single Sort — the
    several-horizons-per-entity shape every feature store materializes.
    Leakage-safe (frames end at the current row); int64 micro-unit sums
    (tests/test_plans.py pins the 1-Exchange/1-Sort plan)."""
    ev = _events(spark, sf_dir)
    from pliers_spark.operators._util import epoch_micros

    base = ev.select(
        "user_id",
        "ts",
        epoch_micros(ev, "ts").alias("u"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    out = base
    for name, hours in (("1h", 1), ("24h", 24), ("7d", 168)):
        w = (
            Window.partitionBy("user_id")
            .orderBy("u")
            .rangeBetween(-hours * 3_600_000_000, 0)
        )
        out = out.withColumn(f"cnt_{name}", F.count(F.lit(1)).over(w).cast("long"))
        out = out.withColumn(f"sum_{name}_fp", F.sum("v_fp").over(w).cast("long"))
    return out.select(
        "user_id", "ts",
        "cnt_1h", "sum_1h_fp", "cnt_24h", "sum_24h_fp", "cnt_7d", "sum_7d_fp",
    )



@query(
    "interarrival_stats",
    """WITH g AS (
         SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts) AS gap_us
         FROM events)
       SELECT user_id, count(gap_us)::BIGINT AS n_gaps,
              min(gap_us)::BIGINT AS min_gap_us,
              max(gap_us)::BIGINT AS max_gap_us,
              CAST(round(sum(gap_us)::DOUBLE / count(gap_us)) AS BIGINT) AS mean_gap_us
       FROM g WHERE gap_us IS NOT NULL GROUP BY user_id""",
)
def q_interarrival_stats(spark, sf_dir):
    """Per-entity inter-arrival cadence (crawl-revisit scheduling
    signal): lag over the entity timeline → exact integer gap
    microseconds → min/max/mean per entity. Equal-timestamp ties leave
    the gap MULTISET invariant, so the aggregates are deterministic
    without a tiebreak column. One shuffle on the entity key."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    u = epoch_micros(ev, "ts")
    g = ev.select(
        "user_id", (u - F.lag(u).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.round(F.sum("gap_us").cast("double") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("mean_gap_us"),
    )



@query(
    "quantile_bins",
    """WITH f AS (
         SELECT doc_id, lang, length(trim(text))::BIGINT AS ql FROM documents)
       SELECT doc_id, lang, ql,
              ntile(10) OVER (PARTITION BY lang ORDER BY ql, doc_id)::BIGINT AS decile
       FROM f""",
)
def q_quantile_bins(spark, sf_dir):
    """Per-language decile binning of a quality proxy (feature
    discretization before bucketed training mixes): ntile over the
    language-keyed window with a doc_id tiebreak — deterministic, and
    keyed windows keep the sort partition-sized at corpus scale (the
    same shape as `quality_filter`'s percentile gate)."""
    d = _docs(spark, sf_dir)
    f = d.select("doc_id", "lang", T.text_length("text").cast("long").alias("ql"))
    w = Window.partitionBy("lang").orderBy("ql", "doc_id")
    return f.select("*", F.ntile(10).over(w).cast("long").alias("decile"))



@query(
    "training_matrix",
    """WITH vts AS (
         SELECT user_id, ts,
                sum(CAST(round(value * 1000000.0) AS BIGINT)) AS v_ts
         FROM events GROUP BY 1, 2),
       f1 AS (
         SELECT user_id, ts,
                sum(v_ts) OVER (PARTITION BY user_id ORDER BY ts)::BIGINT AS cum_v_fp
         FROM vts),
       f2 AS (SELECT user_id, ts, max(event_type) AS last_type
              FROM events GROUP BY 1, 2),
       labels AS (
         SELECT user_id, ts AS label_ts,
                max(CASE WHEN value > 0 THEN 1 ELSE 0 END)::BIGINT AS label
         FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2)
       SELECT l.user_id, l.label_ts, l.label, a.cum_v_fp, b.last_type
       FROM labels l
       ASOF LEFT JOIN f1 a ON l.user_id = a.user_id AND l.label_ts >= a.ts
       ASOF LEFT JOIN f2 b ON l.user_id = b.user_id AND l.label_ts >= b.ts""",
)
def q_training_matrix(spark, sf_dir):
    """Point-in-time training-set assembly — the north-rule showcase:
    a label spine as-of joined to TWO feature tables at different
    semantics (cumulative micro-unit value; latest categorical state),
    each via the one-shuffle union+window as-of strategy, so no feature
    cell ever reads past its label_ts (backward-inclusive, pliers'
    step-fill convention). Feature tables are deduped to unique
    (entity, ts) keys first, which makes the as-of match deterministic.
    This is the feature-store read path every training pipeline runs."""
    ev = _events(spark, sf_dir)
    v_fp = F.round(F.col("value") * F.lit(1e6), 0).cast("long")
    vts = ev.select("user_id", "ts", v_fp.alias("v_fp")).groupBy("user_id", "ts").agg(
        F.sum("v_fp").alias("v_ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    f1 = vts.select("user_id", "ts", F.sum("v_ts").over(w).cast("long").alias("cum_v_fp"))
    f2 = ev.groupBy("user_id", "ts").agg(F.max("event_type").alias("last_type"))
    labels = (
        ev.where(F.col("event_id") % 10 == 0)
        .select(
            "user_id",
            F.col("ts").alias("label_ts"),
            F.when(F.col("value") > 0, 1).otherwise(0).alias("l"),
        )
        .groupBy("user_id", "label_ts")
        .agg(F.max("l").cast("long").alias("label"))
    )
    m1 = A.asof_join(
        labels, f1, ["user_id"], "label_ts", "ts", ["cum_v_fp"], matched_ts_col=None
    )
    m2 = A.asof_join(
        m1, f2, ["user_id"], "label_ts", "ts", ["last_type"], matched_ts_col=None
    )
    return m2.select("user_id", "label_ts", "label", "cum_v_fp", "last_type")



@query(
    "target_encode_pit",
    """WITH base AS (
         SELECT event_id, event_type, ts, epoch_us(ts) AS u,
                CASE WHEN value > 34.0 THEN 1 ELSE 0 END AS label
         FROM events)
       SELECT event_id, event_type, ts, label::BIGINT AS label,
              (count(label) OVER w)::BIGINT AS cnt_past,
              CASE WHEN (count(label) OVER w) = 0 THEN NULL
                   ELSE CAST(round((sum(label) OVER w)::DOUBLE * 1000000.0
                                   / (count(label) OVER w)) AS BIGINT)
              END AS enc_fp
       FROM base
       WINDOW w AS (PARTITION BY event_type ORDER BY u
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""",
)
def q_target_encode_pit(spark, sf_dir):
    """Point-in-time target encoding — the leakage-SAFE variant of the
    classic categorical encoder: each row's encoding is the mean label
    of STRICTLY-PAST rows in its category (expanding frame ending 1µs
    before the current key), so the feature never sees its own or any
    future label — train-serve-consistent by construction and exactly
    the north rule's zero-leakage contract. Equal-timestamp rows share
    identical frames (deterministic without a tiebreak). First
    occurrence per category encodes NULL (the explicit cold-start
    signal, not a silent prior)."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        "event_type",
        "ts",
        epoch_micros(ev, "ts").alias("u"),
        F.when(F.col("value") > 34.0, 1).otherwise(0).alias("label"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("u")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    cnt = F.count("label").over(w)
    s = F.sum("label").over(w)
    return base.select(
        "event_id",
        "event_type",
        "ts",
        F.col("label").cast("long").alias("label"),
        cnt.cast("long").alias("cnt_past"),
        F.when(
            cnt == 0, F.lit(None).cast("long")
        ).otherwise(
            F.round(s.cast("double") * F.lit(1e6) / cnt, 0).cast("long")
        ).alias("enc_fp"),
    )



_PSI_BINS = 8



@query(
    "feature_psi",
    f"""WITH f AS (
         SELECT doc_id, length(trim(text))::BIGINT AS ql,
                doc_id < 250 AS is_ref
         FROM documents),
       rstats AS (
         SELECT min(ql) AS rmin, max(ql) AS rmax FROM f WHERE is_ref),
       binned AS (
         SELECT CAST(greatest(least(floor((ql - rstats.rmin) * {_PSI_BINS}
                                          / (rstats.rmax - rstats.rmin + 1)),
                                    {_PSI_BINS - 1}), 0) AS BIGINT) AS bin,
                is_ref
         FROM f CROSS JOIN rstats),
       cnts AS (
         SELECT b.bin,
                coalesce(sum(CASE WHEN binned.is_ref THEN 1 END), 0)::BIGINT AS ref_cnt,
                coalesce(sum(CASE WHEN NOT binned.is_ref THEN 1 END), 0)::BIGINT AS cur_cnt
         FROM (SELECT unnest(range({_PSI_BINS}))::BIGINT AS bin) b
         LEFT JOIN binned ON binned.bin = b.bin
         GROUP BY 1),
       tot AS (SELECT sum(ref_cnt) AS n_ref, sum(cur_cnt) AS n_cur FROM cnts),
       terms AS (
         SELECT bin, ref_cnt, cur_cnt,
                CAST(round(
                  ((ref_cnt + 1)::DOUBLE / (tot.n_ref + {_PSI_BINS})
                   - (cur_cnt + 1)::DOUBLE / (tot.n_cur + {_PSI_BINS}))
                  * ln(((ref_cnt + 1)::DOUBLE / (tot.n_ref + {_PSI_BINS}))
                       / ((cur_cnt + 1)::DOUBLE / (tot.n_cur + {_PSI_BINS})))
                  * 1000000.0) AS BIGINT) AS term_fp
         FROM cnts CROSS JOIN tot)
       SELECT bin, ref_cnt, cur_cnt, term_fp,
              sum(term_fp) OVER ()::BIGINT AS psi_total_fp
       FROM terms""",
)
def q_feature_psi(spark, sf_dir):
    """Population-stability-index drift monitor between a reference
    corpus slice and the current one (the alarm a feature store raises
    before a model silently degrades on a new crawl): reference-anchored
    equal-width integer bins (exact int64 arithmetic, clamped), Laplace-
    smoothed bin shares, each PSI term rounded ONCE to integer
    micro-nats then summed exactly — per-bin evidence plus the headline
    total on every row. Two partial-agg passes, 1-row broadcast stats;
    nothing here breaks at 10^12 rows."""
    d = _docs(spark, sf_dir)
    f = d.select(
        T.text_length("text").cast("long").alias("ql"),
        (F.col("doc_id") < 250).alias("is_ref"),
    )
    rstats = f.where("is_ref").agg(
        F.min("ql").alias("rmin"), F.max("ql").alias("rmax")
    )
    binned = f.crossJoin(F.broadcast(rstats)).select(
        F.greatest(
            F.least(
                (F.col("ql") - F.col("rmin")) * _PSI_BINS
                / (F.col("rmax") - F.col("rmin") + 1),
                F.lit(_PSI_BINS - 1),
            ),
            F.lit(0),
        ).cast("long").alias("bin"),
        "is_ref",
    )
    # aggregate to bin grain BEFORE touching the spine: the corpus
    # collapses map-side to ≤ _PSI_BINS rows; joining the raw binned
    # rows against an 8-row spine first would be an 8-key skewed join
    # (and unbroadcastable at corpus scale)
    agg0 = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        .cast("long").alias("ref_cnt"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
        .cast("long").alias("cur_cnt"),
    )
    cnts = (
        spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
        .join(F.broadcast(agg0), "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("ref_cnt"), F.lit(0)).cast("long").alias("ref_cnt"),
            F.coalesce(F.col("cur_cnt"), F.lit(0)).cast("long").alias("cur_cnt"),
        )
    )
    tot = cnts.agg(
        F.sum("ref_cnt").alias("n_ref"), F.sum("cur_cnt").alias("n_cur")
    )
    p = (F.col("ref_cnt") + 1).cast("double") / (F.col("n_ref") + _PSI_BINS)
    q = (F.col("cur_cnt") + 1).cast("double") / (F.col("n_cur") + _PSI_BINS)
    terms = cnts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.round((p - q) * F.log(p / q) * F.lit(1e6), 0).cast("long").alias("term_fp"),
    )
    wall = Window.partitionBy()
    return terms.select(
        "*", F.sum("term_fp").over(wall).cast("long").alias("psi_total_fp")
    )



_DECAY_TIERS = 6

_DECAY_H_US = 3_600_000_000  # 1h tier width in µs



def _decay_tiers_sql() -> str:
    cols, wins = [], []
    for k in range(_DECAY_TIERS):
        lo = (k + 1) * _DECAY_H_US - 1
        hi = max(k * _DECAY_H_US, 1)
        wins.append(
            f"w{k} AS (PARTITION BY user_id ORDER BY u "
            f"RANGE BETWEEN {lo} PRECEDING AND {hi} PRECEDING)"
        )
        cols.append(f"(count(*) OVER w{k})::BIGINT AS cnt_t{k}")
    decayed = " + ".join(
        f"count(*) OVER w{k} * {2 ** (_DECAY_TIERS - 1 - k)}"
        for k in range(_DECAY_TIERS)
    )
    return (
        "WITH base AS (SELECT event_id, user_id, ts, epoch_us(ts) AS u FROM events)\n"
        "SELECT event_id, user_id, ts,\n  "
        + ",\n  ".join(cols)
        + f",\n  ({decayed})::BIGINT AS decayed_fp\nFROM base\nWINDOW "
        + ",\n  ".join(wins)
    )



@query("decay_tiers", _decay_tiers_sql())
def q_decay_tiers(spark, sf_dir):
    """Tiered geometric time-decay counts — the feature store's EWMA
    recency signal in EXACT integer arithmetic: the strictly-past hour
    axis is cut into 6 half-open 1h tiers (t-(k+1)h, t-kh], tier k
    weighted 2^(5-k), so decayed_fp halves per hour of age with no
    float accumulation and no cross-engine drift. All 6 frames share
    one (user_id, u) partition+order → a single Exchange and a single
    Sort regardless of tier count (same 1-pass shape as rolling_multi).
    Frames end at 1µs before the row: same-timestamp neighbours and the
    row itself are excluded — zero leakage AND tie-determinism."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    out = ev.select(
        "event_id", "user_id", "ts", epoch_micros(ev, "ts").alias("u")
    )
    decayed = F.lit(0)
    for k in range(_DECAY_TIERS):
        lo = -((k + 1) * _DECAY_H_US - 1)
        hi = -max(k * _DECAY_H_US, 1)
        w = Window.partitionBy("user_id").orderBy("u").rangeBetween(lo, hi)
        cnt = F.count(F.lit(1)).over(w)
        out = out.withColumn(f"cnt_t{k}", cnt.cast("long"))
        decayed = decayed + F.col(f"cnt_t{k}") * F.lit(2 ** (_DECAY_TIERS - 1 - k))
    return out.withColumn("decayed_fp", decayed.cast("long")).drop("u")



@query(
    "session_position",
    f"""WITH flagged AS (
         SELECT event_id, user_id, ts, epoch_us(ts) AS u,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > {_SESSION_GAP_S}
                     THEN 1 ELSE 0 END AS is_new,
                epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM flagged)
       SELECT event_id, user_id, ts, session_id::BIGINT AS session_id,
              row_number() OVER (PARTITION BY user_id, session_id
                                 ORDER BY ts, event_id)::BIGINT AS pos_in_session,
              (u - min(u) OVER (PARTITION BY user_id, session_id))::BIGINT
                AS t_into_session_us,
              gap_us::BIGINT AS gap_us
       FROM sess""",
)
def q_session_position(spark, sf_dir):
    """Event-grain within-session features that are leakage-safe by
    construction: position-in-session, µs since session start, and gap
    to the previous event all derive from the CURRENT and EARLIER rows
    only (session start is the first event's own timestamp — known the
    moment it happens, unlike session end/duration which are future
    facts and belong in session-grain offline rollups like `sessionize`).
    Session assignment reuses temporal.sessionize's running-flag-sum;
    both window layers share the user_id shuffle. Ties broken by
    event_id so row_number is deterministic."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    u = epoch_micros(ev, "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select("event_id", "user_id", "ts", u.alias("u"))
    prev_u = F.lag("u").over(w)
    flagged = base.select(
        "*",
        F.when(
            prev_u.isNull()
            | ((F.col("u") - prev_u) > _SESSION_GAP_S * 1_000_000),
            1,
        ).otherwise(0).alias("is_new"),
        (F.col("u") - prev_u).alias("gap_us"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_id", F.sum("is_new").over(wc))
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id", "session_id")
    return sess.select(
        "event_id",
        "user_id",
        "ts",
        F.col("session_id").cast("long").alias("session_id"),
        F.row_number().over(ws).cast("long").alias("pos_in_session"),
        (F.col("u") - F.min("u").over(wall)).cast("long").alias("t_into_session_us"),
        F.col("gap_us").cast("long").alias("gap_us"),
    )



@query(
    "label_horizon",
    """WITH base AS (
         SELECT event_id, user_id, ts, epoch_us(ts) AS u, event_type,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events)
       SELECT event_id, user_id, ts,
              (count(*) OVER w1)::BIGINT AS future_cnt_1h,
              coalesce(sum(v_fp) OVER w1, 0)::BIGINT AS future_sum_1h_fp,
              coalesce(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                         OVER w24, 0)::BIGINT AS label_error_24h
       FROM base
       WINDOW
         w1 AS (PARTITION BY user_id ORDER BY u
                RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING),
         w24 AS (PARTITION BY user_id ORDER BY u
                 RANGE BETWEEN 1 FOLLOWING AND 86400000000 FOLLOWING)""",
)
def q_label_horizon(spark, sf_dir):
    """Forward-horizon label construction — the ONE place future rows
    are legal: supervision targets. For each event, activity count/sum
    over (t, t+1h] and a binary did-an-error-occur flag over (t, t+24h],
    as strictly-FORWARD range frames (offset 1 excludes the row itself
    and its same-timestamp peers, so labels are tie-deterministic and
    never self-referential). Paired with target_encode_pit /
    training_matrix this completes the leakage discipline: features
    look strictly back, labels strictly forward, same single per-entity
    shuffle either way."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        epoch_micros(ev, "ts").alias("u"),
        "event_type",
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    w1 = Window.partitionBy("user_id").orderBy("u").rangeBetween(1, 3_600_000_000)
    w24 = Window.partitionBy("user_id").orderBy("u").rangeBetween(1, 86_400_000_000)
    return base.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w1).cast("long").alias("future_cnt_1h"),
        F.coalesce(F.sum("v_fp").over(w1), F.lit(0)).cast("long")
        .alias("future_sum_1h_fp"),
        F.coalesce(
            F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).over(w24),
            F.lit(0),
        ).cast("long").alias("label_error_24h"),
    )



_MI_MIN_DF = 5

_MI_LABEL_LEN = 300



@query(
    "token_label_mi",
    f"""WITH docs2 AS (
         SELECT doc_id,
                CASE WHEN length(trim(text)) > {_MI_LABEL_LEN} THEN 1 ELSE 0 END AS label,
                list_distinct({_tok_sql()}) AS toks
         FROM documents),
       tot AS (SELECT sum(label) AS n_pos, count(*) - sum(label) AS n_neg FROM docs2),
       tl AS (
         SELECT unnest(toks) AS token, label FROM docs2),
       cnt AS (
         SELECT token,
                sum(label)::BIGINT AS n11,
                (count(*) - sum(label))::BIGINT AS n10
         FROM tl GROUP BY token HAVING count(*) >= {_MI_MIN_DF}),
       cells AS (
         SELECT token, n11, n10,
                (tot.n_pos - n11)::BIGINT AS n01,
                (tot.n_neg - n10)::BIGINT AS n00,
                (tot.n_pos + tot.n_neg)::BIGINT AS n
         FROM cnt CROSS JOIN tot),
       mi AS (
         SELECT token, n11, n10, n01, n00,
                (CAST(round(((n11 + 1.0) / (n + 4)) * ln((n11 + 1.0) * (n + 4)
                     / ((n11 + n10 + 2.0) * (n11 + n01 + 2.0))) * 1000000.0) AS BIGINT)
               + CAST(round(((n10 + 1.0) / (n + 4)) * ln((n10 + 1.0) * (n + 4)
                     / ((n11 + n10 + 2.0) * (n10 + n00 + 2.0))) * 1000000.0) AS BIGINT)
               + CAST(round(((n01 + 1.0) / (n + 4)) * ln((n01 + 1.0) * (n + 4)
                     / ((n01 + n00 + 2.0) * (n11 + n01 + 2.0))) * 1000000.0) AS BIGINT)
               + CAST(round(((n00 + 1.0) / (n + 4)) * ln((n00 + 1.0) * (n + 4)
                     / ((n01 + n00 + 2.0) * (n10 + n00 + 2.0))) * 1000000.0) AS BIGINT)
                ) AS mi_fp
         FROM cells)
       SELECT token, n11, n10, n01, n00, mi_fp
       FROM mi ORDER BY mi_fp DESC, token LIMIT 100""",
)
def q_token_label_mi(spark, sf_dir):
    """Mutual-information feature selection (token presence vs a doc
    label): per-token 2x2 contingency from ONE explode+groupBy of
    distinct tokens (map-side partial agg; the label marginals are a
    1-row broadcast), Laplace-smoothed pointwise terms each rounded
    ONCE to integer micro-nats (the feature_psi determinism recipe),
    min_df gate, top-100 by (mi_fp, token) — deterministic under ties.
    This is the supervised cousin of tfidf: the standard cheap filter
    before training a quality/edu classifier at corpus scale."""
    d = _docs(spark, sf_dir)
    docs2 = d.select(
        F.when(T.text_length("text") > _MI_LABEL_LEN, 1).otherwise(0).alias("label"),
        F.array_distinct(T.tokenize(F.col("text"))).alias("toks"),
    )
    tot = docs2.agg(
        F.sum("label").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("n_neg"),
    )
    cnt = (
        docs2.select(F.explode("toks").alias("token"), "label")
        .groupBy("token")
        .agg(
            F.sum("label").cast("long").alias("n11"),
            (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("n10"),
        )
        .where(F.col("n11") + F.col("n10") >= _MI_MIN_DF)
    )
    cells = cnt.crossJoin(F.broadcast(tot)).select(
        "token",
        "n11",
        "n10",
        (F.col("n_pos") - F.col("n11")).cast("long").alias("n01"),
        (F.col("n_neg") - F.col("n10")).cast("long").alias("n00"),
        (F.col("n_pos") + F.col("n_neg")).cast("long").alias("n"),
    )

    def term(nij, row_m, col_m):
        p = (nij + F.lit(1.0)) / (F.col("n") + 4)
        lift = (nij + F.lit(1.0)) * (F.col("n") + 4) / ((row_m + F.lit(2.0)) * (col_m + F.lit(2.0)))
        return F.round(p * F.log(lift) * F.lit(1e6), 0).cast("long")

    n11, n10, n01, n00 = (F.col(c) for c in ("n11", "n10", "n01", "n00"))
    mi = cells.select(
        "token", "n11", "n10", "n01", "n00",
        (
            term(n11, n11 + n10, n11 + n01)
            + term(n10, n11 + n10, n10 + n00)
            + term(n01, n01 + n00, n11 + n01)
            + term(n00, n01 + n00, n10 + n00)
        ).alias("mi_fp"),
    )
    return mi.orderBy(F.desc("mi_fp"), "token").limit(100)



_CROSS_BUCKETS = 64



@query(
    "hashed_cross",
    f"""WITH pairs AS (
         SELECT event_type || '|' || CAST(hour(ts) AS VARCHAR) AS cross_key
         FROM events)
       SELECT CAST({md5_int_sql('cross_key')} % {_CROSS_BUCKETS} AS BIGINT) AS bucket,
              count(*)::BIGINT AS n_events,
              count(DISTINCT cross_key)::BIGINT AS n_crosses
       FROM pairs GROUP BY 1""",
)
def q_hashed_cross(spark, sf_dir):
    """Feature-hashing trick over a categorical cross (event_type x
    hour-of-day → fixed 64-bucket space): the md5-derived bucket is a
    pure per-row map (no vocabulary build, no second pass — the whole
    point of hashing features at 10^12 rows), then one groupBy with
    map-side partial agg; n_crosses per bucket surfaces the collision
    rate the dimensionality trade bought. Bit-identical across engines
    because the hash is md5-prefix arithmetic (functions/hashing.py)."""
    ev = _events(spark, sf_dir)
    pairs = ev.select(
        F.concat(
            F.col("event_type"), F.lit("|"), F.hour("ts").cast("string")
        ).alias("cross_key")
    )
    return (
        pairs.withColumn(
            "bucket", (md5_int(F.col("cross_key")) % _CROSS_BUCKETS).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("cross_key").cast("long").alias("n_crosses"),
        )
    )



@query(
    "scd2_build",
    """WITH ordered AS (
         SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type
         FROM events),
       changes AS (
         SELECT user_id, ts AS valid_from, event_type AS state
         FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type)
       SELECT user_id, state, valid_from,
              lead(valid_from) OVER w AS valid_to,
              row_number() OVER w::BIGINT AS version,
              (lead(valid_from) OVER w IS NULL) AS is_current
       FROM changes
       WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)""",
)
def q_scd2_build(spark, sf_dir):
    """Slowly-changing-dimension type-2 build from an event log: keep
    only rows where the tracked state CHANGES (lag compare), then
    lead() closes each interval — (user, state, valid_from, valid_to,
    version, is_current). This is the dimension table the as-of join /
    training_matrix reads for point-in-time categorical state, produced
    in one entity shuffle shared by both window layers (change rows are
    a subset, so the second Sort is intra-partition). Ties broken by
    event_id; valid_to is exclusive and NULL on the open interval."""
    ev = _events(spark, sf_dir)
    w0 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(w0).alias("prev_type"),
    )
    changes = ordered.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", F.col("ts").alias("valid_from"),
             F.col("event_type").alias("state"))
    w = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id", "state", "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )



@query(
    "funnel_steps",
    """WITH base AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS u FROM events),
       scanned AS (
         SELECT user_id, event_type, u,
                min(CASE WHEN event_type = 'view' THEN u END) OVER w AS v_min
         FROM base WINDOW w AS (PARTITION BY user_id ORDER BY u, event_id
                                ROWS UNBOUNDED PRECEDING)),
       s2 AS (
         SELECT user_id, event_type, u, v_min,
                min(CASE WHEN event_type = 'click' AND v_min < u THEN u END)
                  OVER w AS c_min
         FROM scanned WINDOW w AS (PARTITION BY user_id ORDER BY u
                                   ROWS UNBOUNDED PRECEDING))
       SELECT user_id,
              min(v_min)::BIGINT AS view_u,
              min(c_min)::BIGINT AS click_u,
              min(CASE WHEN event_type = 'purchase' AND c_min < u THEN u END)
                ::BIGINT AS purchase_u,
              (CASE WHEN min(CASE WHEN event_type = 'purchase' AND c_min < u
                                  THEN u END) IS NOT NULL THEN 3
                    WHEN min(c_min) IS NOT NULL THEN 2
                    WHEN min(v_min) IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS depth
       FROM s2 GROUP BY user_id""",
)
def q_funnel_steps(spark, sf_dir):
    """Ordered-funnel analysis (view → click → purchase) in ONE sorted
    scan per entity — no self-joins, no per-step passes: a running min
    of qualifying-step timestamps makes step k's predicate 'after the
    earliest step-(k-1) completion so far' a plain window expression,
    so the classic product-analytics sequence match costs exactly one
    (user_id, u) Exchange+Sort however deep the funnel. Strict '<'
    keeps one event from serving two steps; final per-user agg reports
    each step's completion time and the funnel depth reached."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id", "event_id", "event_type", epoch_micros(ev, "ts").alias("u")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("u", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = F.col("u")
    v_min = F.min(F.when(F.col("event_type") == "view", u)).over(w)
    scanned = base.select("user_id", "event_type", "u", v_min.alias("v_min"))
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("u")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c_min = F.min(
        F.when((F.col("event_type") == "click") & (F.col("v_min") < u), u)
    ).over(w2)
    s2 = scanned.select("user_id", "event_type", "u", "v_min", c_min.alias("c_min"))
    p_u = F.min(
        F.when((F.col("event_type") == "purchase") & (F.col("c_min") < u), u)
    )
    return s2.groupBy("user_id").agg(
        F.min("v_min").cast("long").alias("view_u"),
        F.min("c_min").cast("long").alias("click_u"),
        p_u.cast("long").alias("purchase_u"),
        F.when(p_u.isNotNull(), 3)
        .when(F.min("c_min").isNotNull(), 2)
        .when(F.min("v_min").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("depth"),
    )



_WEEK_US = 7 * 86_400_000_000



@query(
    "retention_cohorts",
    f"""WITH uw AS (
         SELECT user_id, epoch_us(ts) // {_WEEK_US} AS week_idx FROM events),
       firsts AS (
         SELECT user_id, min(week_idx) AS cohort_w FROM uw GROUP BY user_id),
       active AS (SELECT DISTINCT user_id, week_idx FROM uw)
       SELECT f.cohort_w::BIGINT AS cohort_w,
              (a.week_idx - f.cohort_w)::BIGINT AS week_offset,
              count(*)::BIGINT AS n_users
       FROM active a JOIN firsts f USING (user_id)
       GROUP BY 1, 2""",
)
def q_retention_cohorts(spark, sf_dir):
    """Retention-cohort matrix (the crawl-revisit loyalty table): epoch
    weeks (integer µs division — no calendar/timezone semantics to
    disagree on across engines), first-week cohort per entity, distinct
    active (entity, week) pairs, then cohort x offset user counts. The
    cohort table is entity-grain (small) so the join broadcasts at any
    corpus scale; both aggs are map-side partial."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    uw = ev.select(
        "user_id", F.floor(epoch_micros(ev, "ts") / _WEEK_US).alias("week_idx")
    )
    firsts = uw.groupBy("user_id").agg(F.min("week_idx").alias("cohort_w"))
    active = uw.distinct()
    return (
        active.join(F.broadcast(firsts), "user_id")
        .groupBy(
            F.col("cohort_w").cast("long").alias("cohort_w"),
            (F.col("week_idx") - F.col("cohort_w")).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )



@query(
    "cdc_merge",
    """WITH base AS (
         SELECT event_id AS key, CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events WHERE event_id < 5000),
       ch AS (
         SELECT event_id - 5000 AS key,
                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                CAST(round(value * 1000000.0) AS BIGINT) AS new_v
         FROM events WHERE event_id >= 5000)
       SELECT coalesce(b.key, c.key)::BIGINT AS key,
              (CASE WHEN c.op = 'U' THEN c.new_v ELSE b.v_fp END)::BIGINT AS v_fp,
              CASE WHEN c.op IS NULL THEN 'kept'
                   WHEN b.key IS NULL THEN 'inserted'
                   ELSE 'updated' END AS action
       FROM base b FULL JOIN ch c ON b.key = c.key
       WHERE c.op IS NULL OR c.op <> 'D'""",
)
def q_cdc_merge(spark, sf_dir):
    """MERGE INTO semantics (the lakehouse CDC apply step) as one full
    outer join on the key: unmatched base rows are kept, 'U' changes
    update-or-insert, 'D' changes delete — all resolved with plain
    conditional projection, no per-row Python and exactly one key
    shuffle (AQE splits skewed keys at scale; a real run would write
    copy-on-write files like sources/snapshots.delete_rows). The change
    feed here is derived deterministically from the events table so the
    oracle replays the identical merge."""
    ev = _events(spark, sf_dir)
    v_fp = F.round(F.col("value") * F.lit(1e6), 0).cast("long")
    base = ev.where(F.col("event_id") < 5000).select(
        F.col("event_id").alias("key"), v_fp.alias("v_fp")
    )
    ch = ev.where(F.col("event_id") >= 5000).select(
        (F.col("event_id") - 5000).alias("key"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        v_fp.alias("new_v"),
    )
    j = base.join(ch, "key", "full")
    return (
        j.where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.col("key").cast("long").alias("key"),
            F.when(F.col("op") == "U", F.col("new_v"))
            .otherwise(F.col("v_fp"))
            .cast("long")
            .alias("v_fp"),
            F.when(F.col("op").isNull(), "kept")
            .when(F.col("v_fp").isNull(), "inserted")
            .otherwise("updated")
            .alias("action"),
        )
    )



_CV_FOLDS = 4

_CV_EMBARGO_US = 3_600_000_000  # 1h purge gap between train end and test start



@query(
    "walk_forward_cv",
    f"""WITH base AS (SELECT event_id, epoch_us(ts) AS u FROM events),
       bounds AS (SELECT min(u) AS u0,
                         (max(u) - min(u)) // {_CV_FOLDS} AS span FROM base),
       folds AS (
         SELECT f.fold, bounds.u0 + f.fold * bounds.span AS test_start,
                bounds.u0 + (f.fold + 1) * bounds.span AS test_end
         FROM (SELECT unnest(range({_CV_FOLDS}))::BIGINT AS fold) f
         CROSS JOIN bounds)
       SELECT b.event_id, f.fold,
              CASE WHEN b.u >= f.test_start AND b.u < f.test_end THEN 'test'
                   ELSE 'train' END AS role
       FROM base b CROSS JOIN folds f
       WHERE (b.u >= f.test_start AND b.u < f.test_end)
          OR b.u < f.test_start - {_CV_EMBARGO_US}""",
)
def q_walk_forward_cv(spark, sf_dir):
    """Walk-forward (purged) cross-validation assignment — the
    time-series CV that respects the zero-leakage rule: fold k tests on
    window k and trains ONLY on rows ending an embargo gap before the
    test window starts (rows inside the gap are excluded entirely, so
    rolling features computed near the boundary can't smuggle test-set
    information into training). Fold boundaries are integer-µs
    arithmetic off a 1-row broadcast bounds agg; assignment is a
    broadcast cross with a 4-row fold spec — a pure per-row map at any
    corpus scale. Ordinary k-fold on time-series data leaks; this is
    the standard fix (cf. combinatorial purged CV in the quant ML
    literature)."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    base = ev.select("event_id", epoch_micros(ev, "ts").alias("u"))
    bounds = base.agg(
        F.min("u").alias("u0"),
        F.floor((F.max("u") - F.min("u")) / _CV_FOLDS).alias("span"),
    )
    folds = (
        spark.range(_CV_FOLDS)
        .select(F.col("id").alias("fold"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "fold",
            (F.col("u0") + F.col("fold") * F.col("span")).alias("test_start"),
            (F.col("u0") + (F.col("fold") + 1) * F.col("span")).alias("test_end"),
        )
    )
    j = base.crossJoin(F.broadcast(folds))
    in_test = (F.col("u") >= F.col("test_start")) & (F.col("u") < F.col("test_end"))
    in_train = F.col("u") < F.col("test_start") - _CV_EMBARGO_US
    return j.where(in_test | in_train).select(
        "event_id",
        F.col("fold").cast("long").alias("fold"),
        F.when(in_test, "test").otherwise("train").alias("role"),
    )



_ANOM_WIN = 100

_ANOM_MIN_N = 20



@query(
    "rolling_anomaly",
    f"""WITH base AS (
         SELECT event_id, user_id, epoch_us(ts) AS u,
                CAST(round(value * 100.0) AS BIGINT) AS c
         FROM events),
       stats AS (
         SELECT event_id, user_id, c,
                count(*) OVER w::BIGINT AS n_win,
                sum(c) OVER w AS s,
                sum(c * c) OVER w AS ss
         FROM base
         WINDOW w AS (PARTITION BY user_id ORDER BY u, event_id
                      ROWS BETWEEN {_ANOM_WIN} PRECEDING AND 1 PRECEDING))
       SELECT event_id, user_id, n_win,
              CASE WHEN n_win >= {_ANOM_MIN_N} AND n_win * ss - s * s > 0
                   THEN CAST(round(
                     (c - s::DOUBLE / n_win)
                     / sqrt((n_win * ss - s * s)::DOUBLE / (n_win * (n_win - 1)))
                     * 1000000.0) AS BIGINT)
              END AS z_fp,
              coalesce(abs(CASE WHEN n_win >= {_ANOM_MIN_N}
                                     AND n_win * ss - s * s > 0
                   THEN CAST(round(
                     (c - s::DOUBLE / n_win)
                     / sqrt((n_win * ss - s * s)::DOUBLE / (n_win * (n_win - 1)))
                     * 1000000.0) AS BIGINT) END) > 3000000, FALSE) AS is_anomaly
       FROM stats""",
)
def q_rolling_anomaly(spark, sf_dir):
    """Trailing z-score anomaly flag with EXACT sufficient statistics:
    the strictly-past {_ANOM_WIN}-row frame carries int64 sum and
    sum-of-squares of centi-scaled values (bounded frame ⇒ bounded
    magnitude at ANY corpus size), variance comes from the integer
    identity n·Σx² − (Σx)², and the only float ops are IEEE-exact
    divide/sqrt rounded ONCE to micro-z — bit-stable across engines.
    One (user_id) shuffle; NULL z below {_ANOM_MIN_N} warm-up rows or
    on zero variance (explicit cold-start signal, mirroring
    target_encode_pit)."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        "user_id",
        epoch_micros(ev, "ts").alias("u"),
        F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("u", "event_id")
        .rowsBetween(-_ANOM_WIN, -1)
    )
    stats = base.select(
        "event_id",
        "user_id",
        "c",
        F.count(F.lit(1)).over(w).cast("long").alias("n_win"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    )
    n, s, ss = F.col("n_win"), F.col("s"), F.col("ss")
    var_num = n * ss - s * s
    z = F.round(
        (F.col("c") - s.cast("double") / n)
        / F.sqrt(var_num.cast("double") / (n * (n - 1)))
        * F.lit(1e6),
        0,
    ).cast("long")
    z_col = F.when((n >= _ANOM_MIN_N) & (var_num > 0), z)
    return stats.select(
        "event_id",
        "user_id",
        "n_win",
        z_col.alias("z_fp"),
        F.coalesce(F.abs(z_col) > 3_000_000, F.lit(False)).alias("is_anomaly"),
    )



@query(
    "winsorize",
    """WITH f AS (
         SELECT doc_id, lang, length(trim(text))::BIGINT AS ql FROM documents),
       ranked AS (
         SELECT doc_id, lang, ql,
                row_number() OVER (PARTITION BY lang ORDER BY ql, doc_id) AS rn,
                count(*) OVER (PARTITION BY lang) AS n
         FROM f),
       cut AS (
         SELECT *,
                max(CASE WHEN rn = (5 * n + 99) // 100 THEN ql END)
                  OVER (PARTITION BY lang) AS lo,
                max(CASE WHEN rn = (95 * n + 99) // 100 THEN ql END)
                  OVER (PARTITION BY lang) AS hi
         FROM ranked)
       SELECT doc_id, lang, ql, lo::BIGINT AS lo, hi::BIGINT AS hi,
              greatest(least(ql, hi), lo)::BIGINT AS ql_w
       FROM cut""",
)
def q_winsorize(spark, sf_dir):
    """Per-group winsorization at the exact p5/p95 ORDER STATISTICS —
    rank selection (row_number = ceil(p·n)) instead of interpolated
    percentiles, so the cut points are actual data values in pure
    integer arithmetic: no interpolation formula to disagree on across
    engines and no approx-percentile sketch error. Rank pass and
    cut-broadcast pass share one lang shuffle (the second window is an
    unbounded frame over the same partition — no new Exchange); clamp
    is a narrow map. The standard heavy-tail guard before z-scoring a
    feature (pairs with feature_zscore / rolling_anomaly)."""
    d = _docs(spark, sf_dir)
    f = d.select("doc_id", "lang", T.text_length("text").cast("long").alias("ql"))
    wr = Window.partitionBy("lang").orderBy("ql", "doc_id")
    wall = Window.partitionBy("lang")
    ranked = f.select(
        "*",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    lo_rank = F.floor((5 * F.col("n") + 99) / 100)
    hi_rank = F.floor((95 * F.col("n") + 99) / 100)
    cut = ranked.select(
        "*",
        F.max(F.when(F.col("rn") == lo_rank, F.col("ql"))).over(wall).alias("lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("ql"))).over(wall).alias("hi"),
    )
    return cut.select(
        "doc_id", "lang", "ql",
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.greatest(F.least(F.col("ql"), F.col("hi")), F.col("lo"))
        .cast("long").alias("ql_w"),
    )



_BOOT_B = 64



@query(
    "bootstrap_ci",
    f"""WITH reps AS (
         SELECT b.b, d.doc_id, length(trim(d.text))::BIGINT AS ql
         FROM documents d
         CROSS JOIN (SELECT unnest(range({_BOOT_B}))::BIGINT AS b) b
         WHERE {md5_int_sql("concat(CAST(b.b AS VARCHAR), ':', CAST(d.doc_id AS VARCHAR))")} % 2 = 0),
       means AS (
         SELECT b, count(*)::BIGINT AS n_docs,
                CAST(round(sum(ql)::DOUBLE * 1000000.0 / count(*)) AS BIGINT)
                  AS mean_fp
         FROM reps GROUP BY b),
       ranked AS (
         SELECT *, row_number() OVER (ORDER BY mean_fp, b) AS rn FROM means)
       SELECT b, n_docs, mean_fp,
              max(CASE WHEN rn = {max(1, (25 * _BOOT_B + 999) // 1000)} THEN mean_fp END)
                OVER ()::BIGINT AS ci_lo_fp,
              max(CASE WHEN rn = {(975 * _BOOT_B + 999) // 1000} THEN mean_fp END)
                OVER ()::BIGINT AS ci_hi_fp
       FROM ranked""",
)
def q_bootstrap_ci(spark, sf_dir):
    """Deterministic subsample-bootstrap confidence interval for a
    corpus metric (mean doc length): replicate b keeps a doc iff
    md5(b:doc_id) is even — reproducible across retries/executors, no
    rand() — so each of the {_BOOT_B} half-samples is a fixed function
    of the data. Replicate means are exact int64 micro-units rounded
    once; the 2.5/97.5 CI endpoints are ORDER STATISTICS over the
    {_BOOT_B}-row replicate table (tiny, single partition by
    construction). Scale shape: one corpus scan fanned out ×B with
    map-side partial aggs — only B rows ever shuffle, the textbook
    distributed-bootstrap plan."""
    d = _docs(spark, sf_dir)
    reps = (
        d.select("doc_id", T.text_length("text").cast("long").alias("ql"))
        .crossJoin(
            F.broadcast(spark.range(_BOOT_B).select(F.col("id").alias("b")))
        )
        .where(
            md5_int(
                F.concat(
                    F.col("b").cast("string"), F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ) % 2
            == 0
        )
    )
    means = reps.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("ql").cast("double") * F.lit(1e6) / F.count(F.lit(1)), 0)
        .cast("long").alias("mean_fp"),
    )
    wr = Window.orderBy("mean_fp", "b")
    wall = Window.partitionBy()
    lo_rank = max(1, (25 * _BOOT_B + 999) // 1000)
    hi_rank = (975 * _BOOT_B + 999) // 1000
    ranked = means.select("*", F.row_number().over(wr).alias("rn"))
    return ranked.select(
        "b", "n_docs", "mean_fp",
        F.max(F.when(F.col("rn") == lo_rank, F.col("mean_fp"))).over(wall)
        .cast("long").alias("ci_lo_fp"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("mean_fp"))).over(wall)
        .cast("long").alias("ci_hi_fp"),
    )



@query(
    "dq_checks",
    """SELECT 'pk_unique_orders' AS check_name,
              (count(*) - count(DISTINCT o_orderkey))::BIGINT AS n_violations
       FROM orders
       UNION ALL
       SELECT 'fk_orders_customer',
              count(*)::BIGINT
       FROM orders o WHERE o.o_custkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
       UNION ALL
       SELECT 'fk_lineitem_orders',
              count(*)::BIGINT
       FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
       UNION ALL
       SELECT 'discount_in_unit_range',
              sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
                ::BIGINT
       FROM lineitem
       UNION ALL
       SELECT 'quantity_positive',
              sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT
       FROM lineitem
       UNION ALL
       SELECT 'custkey_not_null',
              sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
       FROM orders""",
)
def q_dq_checks(spark, sf_dir):
    """Deequ-style declarative data-quality audit — one row per
    constraint with its violation count: primary-key uniqueness,
    two referential-integrity checks as LEFT ANTI joins (customer
    broadcasts — it's the dimension; lineitem→orders shuffles on the
    key like any fact-fact join), and three scalar range/null checks
    that are pure map-side conditional sums. Each check is a 1-row
    aggregate, so the union ships six rows total no matter the corpus
    size — the audit you run before promoting a snapshot (pairs with
    sources/snapshots lineage)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def one(name, df_cnt):
        return df_cnt.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    pk = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n")
    )
    fk1 = (
        orders.where(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fk2 = (
        lineitem.select(F.col("l_orderkey").alias("k"))
        .join(orders.select(F.col("o_orderkey").alias("k")), "k", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rng = lineitem.agg(
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
            .otherwise(0)
        ).alias("n")
    )
    pos = lineitem.agg(
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("n")
    )
    nn = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("n")
    )
    return (
        one("pk_unique_orders", pk)
        .unionAll(one("fk_orders_customer", fk1))
        .unionAll(one("fk_lineitem_orders", fk2))
        .unionAll(one("discount_in_unit_range", rng))
        .unionAll(one("quantity_positive", pos))
        .unionAll(one("custkey_not_null", nn))
    )



@query(
    "table_profile",
    """WITH s AS (
         SELECT count(*) AS n,
                count(*) - count(event_id) AS null_event_id,
                count(DISTINCT event_id) AS d_event_id,
                min(event_id) AS min_event_id, max(event_id) AS max_event_id,
                count(*) - count(user_id) AS null_user_id,
                count(DISTINCT user_id) AS d_user_id,
                min(user_id) AS min_user_id, max(user_id) AS max_user_id,
                count(*) - count(ts) AS null_ts,
                count(DISTINCT ts) AS d_ts,
                min(epoch_us(ts)) AS min_ts, max(epoch_us(ts)) AS max_ts,
                count(*) - count(value) AS null_value,
                count(DISTINCT value) AS d_value,
                min(CAST(round(value * 1000000.0) AS BIGINT)) AS min_value,
                max(CAST(round(value * 1000000.0) AS BIGINT)) AS max_value,
                count(*) - count(event_type) AS null_event_type,
                count(DISTINCT event_type) AS d_event_type
         FROM events)
       SELECT 'event_id' AS col_name, n::BIGINT AS n_rows,
              null_event_id::BIGINT AS n_null, d_event_id::BIGINT AS n_distinct,
              min_event_id::BIGINT AS min_fp, max_event_id::BIGINT AS max_fp
       FROM s
       UNION ALL
       SELECT 'user_id', n, null_user_id, d_user_id, min_user_id, max_user_id FROM s
       UNION ALL
       SELECT 'ts', n, null_ts, d_ts, min_ts, max_ts FROM s
       UNION ALL
       SELECT 'value_fp', n, null_value, d_value, min_value, max_value FROM s
       UNION ALL
       SELECT 'event_type', n, null_event_type, d_event_type, NULL, NULL FROM s""",
)
def q_table_profile(spark, sf_dir):
    """Single-pass column profiler (the deequ/dbt-docs summary stats
    table): null counts, distinct cardinalities, and numeric/timestamp
    min-max for five columns computed in ONE aggregate over ONE scan —
    then unpivoted to a row-per-column report with a narrow stack().
    Non-numeric columns report NULL extrema rather than lexicographic
    fakes. countDistinct on several columns in one agg expands via
    Spark's expand operator — still a single source scan, which is the
    whole game when the source is 100 TB."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    v_fp = F.round(F.col("value") * F.lit(1e6), 0).cast("long")
    n = F.count(F.lit(1))
    s = ev.agg(
        n.alias("n"),
        (n - F.count("event_id")).alias("null_event_id"),
        F.countDistinct("event_id").alias("d_event_id"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        (n - F.count("user_id")).alias("null_user_id"),
        F.countDistinct("user_id").alias("d_user_id"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
        (n - F.count("ts")).alias("null_ts"),
        F.countDistinct("ts").alias("d_ts"),
        F.min(epoch_micros(ev, "ts")).alias("min_ts"),
        F.max(epoch_micros(ev, "ts")).alias("max_ts"),
        (n - F.count("value")).alias("null_value"),
        F.countDistinct("value").alias("d_value"),
        F.min(v_fp).alias("min_value"),
        F.max(v_fp).alias("max_value"),
        (n - F.count("event_type")).alias("null_event_type"),
        F.countDistinct("event_type").alias("d_event_type"),
    )
    stacked = s.select(
        F.expr(
            """stack(5,
                 'event_id',  null_event_id,  d_event_id,  min_event_id, max_event_id,
                 'user_id',   null_user_id,   d_user_id,   min_user_id,  max_user_id,
                 'ts',        null_ts,        d_ts,        min_ts,       max_ts,
                 'value_fp',  null_value,     d_value,     min_value,    max_value,
                 'event_type',null_event_type,d_event_type,
                              CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
               ) AS (col_name, n_null, n_distinct, min_fp, max_fp)"""
        ),
        F.col("n"),
    )
    return stacked.select(
        "col_name",
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("min_fp").cast("long").alias("min_fp"),
        F.col("max_fp").cast("long").alias("max_fp"),
    )



@query(
    "seasonal_profile",
    """WITH base AS (
         SELECT event_id, hour(ts) AS hod,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       prof AS (
         SELECT hod, count(*)::BIGINT AS n,
                CAST(round(sum(v_fp)::DOUBLE / count(*)) AS BIGINT) AS hour_mean_fp
         FROM base GROUP BY hod)
       SELECT b.event_id, b.hod::BIGINT AS hod, b.v_fp,
              p.hour_mean_fp, (b.v_fp - p.hour_mean_fp)::BIGINT AS resid_fp
       FROM base b JOIN prof p USING (hod)""",
)
def q_seasonal_profile(spark, sf_dir):
    """Seasonal (hour-of-day) profile + residual features — the
    de-seasonalization step before anomaly scoring or forecasting:
    a 24-row mean profile from one map-side partial agg, broadcast back
    onto the events so the residual is a pure per-row map (no second
    shuffle of the fact table, ever). Means are int64 micro-units
    rounded once; residuals are exact integer differences. hour() is
    UTC-deterministic on both engines."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    prof = base.groupBy("hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("v_fp").cast("double") / F.count(F.lit(1)), 0)
        .cast("long").alias("hour_mean_fp"),
    )
    return (
        base.join(F.broadcast(prof.select("hod", "hour_mean_fp")), "hod")
        .select(
            "event_id",
            F.col("hod").cast("long").alias("hod"),
            "v_fp",
            "hour_mean_fp",
            (F.col("v_fp") - F.col("hour_mean_fp")).cast("long").alias("resid_fp"),
        )
    )



@query(
    "transition_matrix",
    """WITH pairs AS (
         SELECT lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type,
                event_type AS next_type
         FROM events),
       cnt AS (
         SELECT prev_type, next_type, count(*)::BIGINT AS n
         FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2)
       SELECT prev_type, next_type, n,
              CAST(round(n::DOUBLE * 1000000.0 / sum(n) OVER
                         (PARTITION BY prev_type)) AS BIGINT) AS p_fp
       FROM cnt""",
)
def q_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-entity event
    sequences (the behavioral-prior table for session models and
    next-event prediction): lag pairs from one entity-sorted window
    pass, bigram counts with map-side partial agg, then row-normalized
    probabilities where the denominator is a window sum over the
    TYPE×TYPE matrix (≤25 rows here — never the fact table). Integer
    micro-probabilities rounded once."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    cnt = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wrow = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type", "next_type", "n",
        F.round(F.col("n").cast("double") * F.lit(1e6) / F.sum("n").over(wrow), 0)
        .cast("long").alias("p_fp"),
    )



_AC_MIN_N = 10



@query(
    "autocorr_lag1",
    f"""WITH base AS (
         SELECT user_id, CAST(round(value * 100.0) AS BIGINT) AS y,
                lag(CAST(round(value * 100.0) AS BIGINT)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS x
         FROM events),
       s AS (
         SELECT user_id, count(*)::BIGINT AS n,
                sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                sum(x * x) AS sxx, sum(y * y) AS syy
         FROM base WHERE x IS NOT NULL GROUP BY user_id)
       SELECT user_id, n,
              CASE WHEN n >= {_AC_MIN_N}
                        AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                   THEN CAST(round(
                     (n * sxy - sx * sy)::DOUBLE
                     / (sqrt((n * sxx - sx * sx)::DOUBLE)
                        * sqrt((n * syy - sy * sy)::DOUBLE))
                     * 1000000.0) AS BIGINT)
              END AS r1_fp
       FROM s""",
)
def q_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation per entity — the persistence/burstiness
    feature for crawl-value series: lag pairs from one sorted window
    pass, then Pearson r from EXACT int64 sufficient statistics
    (centi-scaled values bound every sum; the two variance terms stay
    under separate sqrt() calls so nothing exceeds int64 — the
    expression is mirrored verbatim in the oracle, and IEEE
    divide/sqrt make it bit-stable). NULL below {_AC_MIN_N} pairs or on
    constant series. Window and groupBy share the entity shuffle."""
    ev = _events(spark, sf_dir)
    c = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", c.alias("y"), F.lag(c).over(w).alias("x")
    ).where(F.col("x").isNotNull())
    s = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    r = F.round(
        (n * F.col("sxy") - sx * sy).cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        * F.lit(1e6),
        0,
    ).cast("long")
    return s.select(
        "user_id", "n",
        F.when((n >= _AC_MIN_N) & (vx > 0) & (vy > 0), r).alias("r1_fp"),
    )



@query(
    "cusum_drawdown",
    """WITH base AS (
         SELECT event_id, user_id, ts,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       m AS (
         SELECT *, CAST(round(avg(v_fp) OVER (PARTITION BY user_id)) AS BIGINT)
                     AS mean_fp
         FROM base),
       c AS (
         SELECT event_id, user_id, ts,
                sum(v_fp - mean_fp) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS cusum_fp
         FROM m)
       SELECT event_id, user_id, cusum_fp::BIGINT AS cusum_fp,
              (max(cusum_fp) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) - cusum_fp)::BIGINT AS drawdown_fp
       FROM c""",
)
def q_cusum_drawdown(spark, sf_dir):
    """CUSUM chart + running drawdown per entity — the classic
    change-point / regression-detection pair: cumulative sum of exact
    integer deviations from the entity mean (mean itself rounded ONCE
    to µ-units, so every later op is int64), and drawdown = running
    peak minus current CUSUM. Three window layers (unordered mean,
    ordered cumsum, ordered running max) all key on user_id — ONE
    Exchange; a sustained level shift shows up as a monotone CUSUM
    ramp, a regression as a growing drawdown."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    wall = Window.partitionBy("user_id")
    m = base.withColumn(
        "mean_fp", F.round(F.avg("v_fp").over(wall), 0).cast("long")
    )
    wo = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = m.select(
        "event_id", "user_id", "ts",
        F.sum(F.col("v_fp") - F.col("mean_fp")).over(wo).alias("cusum_fp"),
    )
    return c.select(
        "event_id", "user_id",
        F.col("cusum_fp").cast("long").alias("cusum_fp"),
        (F.max("cusum_fp").over(wo) - F.col("cusum_fp"))
        .cast("long").alias("drawdown_fp"),
    )



@query(
    "gini_tokens",
    f"""WITH freq AS (
         SELECT token, count(*)::BIGINT AS f
         FROM (SELECT unnest({_tok_sql()}) AS token FROM documents)
         GROUP BY token),
       ranked AS (
         SELECT f, row_number() OVER (ORDER BY f, token) AS rn,
                count(*) OVER () AS n, sum(f) OVER () AS tot
         FROM freq)
       SELECT n::BIGINT AS n_tokens, tot::BIGINT AS total_count,
              CAST(round(sum((2 * rn - n - 1) * f)::DOUBLE
                         / (n * tot) * 1000000.0) AS BIGINT) AS gini_fp
       FROM ranked GROUP BY n, tot""",
)
def q_gini_tokens(spark, sf_dir):
    """Gini coefficient of the token-frequency distribution — the
    one-number concentration summary behind Zipf plots (how much of
    the corpus a handful of tokens own): exact integer rank-weighted
    sum Σ(2i−n−1)fᵢ over the VOCABULARY (corpus-sized data never sorts
    globally — only the post-agg vocab does, the same concession zipf
    top-k makes), divided once and rounded once. Deterministic rank
    ties broken by token."""
    d = _docs(spark, sf_dir)
    freq = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    wr = Window.orderBy("f", "token")
    wall = Window.partitionBy()
    ranked = freq.select(
        "f",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("f").over(wall).alias("tot"),
    )
    return ranked.groupBy("n", "tot").agg(
        F.round(
            F.sum((2 * F.col("rn") - F.col("n") - 1) * F.col("f")).cast("double")
            / (F.col("n") * F.col("tot"))
            * F.lit(1e6),
            0,
        ).cast("long").alias("gini_fp"),
    ).select(
        F.col("n").cast("long").alias("n_tokens"),
        F.col("tot").cast("long").alias("total_count"),
        "gini_fp",
    )



@query(
    "ab_test_stats",
    f"""WITH per_user AS (
         SELECT user_id, {md5_int_sql("concat('ab:', CAST(user_id AS VARCHAR))")} % 2
                  AS variant,
                sum(CAST(round(value * 100.0) AS BIGINT)) AS x
         FROM events GROUP BY user_id),
       s AS (
         SELECT variant, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx
         FROM per_user GROUP BY variant),
       wide AS (
         SELECT
           max(CASE WHEN variant = 0 THEN n END) AS n_a,
           max(CASE WHEN variant = 0 THEN sx END) AS sx_a,
           max(CASE WHEN variant = 0 THEN sxx END) AS sxx_a,
           max(CASE WHEN variant = 1 THEN n END) AS n_b,
           max(CASE WHEN variant = 1 THEN sx END) AS sx_b,
           max(CASE WHEN variant = 1 THEN sxx END) AS sxx_b
         FROM s)
       SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
              CAST(round(sx_a::DOUBLE / n_a * 10000.0) AS BIGINT) AS mean_a_fp,
              CAST(round(sx_b::DOUBLE / n_b * 10000.0) AS BIGINT) AS mean_b_fp,
              CAST(round((sx_a::DOUBLE / n_a - sx_b::DOUBLE / n_b) * 10000.0)
                   AS BIGINT) AS diff_fp,
              CAST(round(
                (sx_a::DOUBLE / n_a - sx_b::DOUBLE / n_b)
                / sqrt(((n_a * sxx_a - sx_a * sx_a)::DOUBLE / (n_a * (n_a - 1)))
                         / n_a
                       + ((n_b * sxx_b - sx_b * sx_b)::DOUBLE / (n_b * (n_b - 1)))
                         / n_b)
                * 1000000.0) AS BIGINT) AS welch_t_fp
       FROM wide""",
)
def q_ab_test_stats(spark, sf_dir):
    """A/B experiment readout with deterministic assignment and exact
    sufficient statistics: variant = md5(user) % 2 — assignment at the
    ENTITY grain (assigning at event grain would correlate a user's own
    events across arms, the classic interference bug) and reproducible
    across retries, no rand(). Per-user centi-scaled totals roll into
    int64 (n, Σx, Σx²) per arm, and the Welch t statistic is one
    mirrored IEEE expression rounded once. Two partial-agg passes on
    shrinking data; the final 2-row pivot is driver-trivial."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * F.lit(100.0), 0).cast("long")).alias("x")
    ).select(
        (md5_int(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2)
        .alias("variant"),
        "x",
    )
    s = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    wide = s.agg(
        *[
            F.max(F.when(F.col("variant") == v, F.col(c))).alias(f"{c}_{a}")
            for v, a in ((0, "a"), (1, "b"))
            for c in ("n", "sx", "sxx")
        ]
    )
    mean = lambda a: F.col(f"sx_{a}").cast("double") / F.col(f"n_{a}")
    var = lambda a: (
        F.col(f"n_{a}") * F.col(f"sxx_{a}") - F.col(f"sx_{a}") * F.col(f"sx_{a}")
    ).cast("double") / (F.col(f"n_{a}") * (F.col(f"n_{a}") - 1))
    t = (mean("a") - mean("b")) / F.sqrt(
        var("a") / F.col("n_a") + var("b") / F.col("n_b")
    )
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(mean("a") * 1e4, 0).cast("long").alias("mean_a_fp"),
        F.round(mean("b") * 1e4, 0).cast("long").alias("mean_b_fp"),
        F.round((mean("a") - mean("b")) * 1e4, 0).cast("long").alias("diff_fp"),
        F.round(t * 1e6, 0).cast("long").alias("welch_t_fp"),
    )



@query(
    "roc_auc",
    """WITH base AS (
         SELECT CAST(round(value * 1000000.0) AS BIGINT) AS score,
                CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label
         FROM events),
       ranked AS (
         SELECT label,
                2 * rank() OVER (ORDER BY score)
                  + count(*) OVER (PARTITION BY score) - 1 AS avg_rank2
         FROM base)
       SELECT sum(label)::BIGINT AS n_pos,
              (count(*) - sum(label))::BIGINT AS n_neg,
              CAST(round(
                (sum(CASE WHEN label = 1 THEN avg_rank2 END)
                   - sum(label) * (sum(label) + 1))::DOUBLE
                / (2.0 * sum(label) * (count(*) - sum(label)))
                * 1000000.0) AS BIGINT) AS auc_fp
       FROM ranked""",
)
def q_roc_auc(spark, sf_dir):
    """EXACT ROC AUC via the Mann-Whitney rank identity — no threshold
    sweep, no trapezoids, and ties handled exactly: 2×(average tie
    rank) = 2·min_rank + tie_count − 1 stays integer, so the positive
    rank-sum is int64 and AUC is one rational rounded once. CENSUS
    GRAIN (r4): rows contract to per-score cells (one map-side-combined
    shuffle, bounded by distinct scores); the doubled avg-rank comes
    from a census-frame window (operators/census.py) and the positive
    rank-sum weights each cell by its positive count — identical
    integer arithmetic, no unpartitioned window over raw rows. Score:
    does `value` predict an error event."""
    from pliers_spark.operators.census import with_census_ranks

    ev = _events(spark, sf_dir)
    base = ev.select(
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("score"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("label"),
    )
    cells = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos_cnt")
    )
    cells = with_census_ranks(cells, "score", r2="avg_rank2")
    n_pos = F.sum("pos_cnt")
    n_all = F.sum("cnt")
    pos_rank2 = F.sum(F.col("pos_cnt") * F.col("avg_rank2"))
    return cells.agg(
        n_pos.cast("long").alias("n_pos"),
        (n_all - n_pos).cast("long").alias("n_neg"),
        F.round(
            (pos_rank2 - n_pos * (n_pos + 1)).cast("double")
            / (F.lit(2.0) * n_pos * (n_all - n_pos))
            * F.lit(1e6),
            0,
        ).cast("long").alias("auc_fp"),
    )



@query(
    "ks_drift",
    """WITH tagged AS (
         SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v_fp,
                user_id % 2 AS grp
         FROM events),
       per_v AS (
         SELECT v_fp,
                sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS a_cnt,
                sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS b_cnt
         FROM tagged GROUP BY v_fp),
       cum AS (
         SELECT sum(a_cnt) OVER (ORDER BY v_fp
                  ROWS UNBOUNDED PRECEDING) AS ca,
                sum(b_cnt) OVER (ORDER BY v_fp
                  ROWS UNBOUNDED PRECEDING) AS cb,
                sum(a_cnt) OVER () AS na, sum(b_cnt) OVER () AS nb
         FROM per_v)
       SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
              max(abs(nb * ca - na * cb))::BIGINT AS d_num,
              CAST(round(max(abs(nb * ca - na * cb))::DOUBLE
                         / (max(na) * max(nb)) * 1000000.0) AS BIGINT) AS ks_fp
       FROM cum""",
)
def q_ks_drift(spark, sf_dir):
    """EXACT two-sample Kolmogorov-Smirnov drift statistic: per-value
    counts for both samples (one partial agg collapses the corpus to
    distinct values), cumulative counts give both ECDFs at every jump
    point, and the sup-distance is max |n_b·F_a − n_a·F_b| in pure
    int64 — the D statistic is a rational, rounded once. Only the
    post-agg DISTINCT-VALUE table sorts globally (the zipf/gini
    concession); the corpus itself never does. The distribution-drift
    alarm that complements feature_psi's binned version with an exact,
    bin-free answer."""
    ev = _events(spark, sf_dir)
    tagged = ev.select(
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
        (F.col("user_id") % 2).alias("grp"),
    )
    per_v = tagged.groupBy("v_fp").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("a_cnt"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("b_cnt"),
    )
    wc = Window.orderBy("v_fp").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per_v.select(
        F.sum("a_cnt").over(wc).alias("ca"),
        F.sum("b_cnt").over(wc).alias("cb"),
        F.sum("a_cnt").over(wall).alias("na"),
        F.sum("b_cnt").over(wall).alias("nb"),
    )
    d_num = F.max(F.abs(F.col("nb") * F.col("ca") - F.col("na") * F.col("cb")))
    return cum.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        d_num.cast("long").alias("d_num"),
        F.round(
            d_num.cast("double") / (F.max("na") * F.max("nb")) * F.lit(1e6), 0
        ).cast("long").alias("ks_fp"),
    )



@query(
    "calibration_bins",
    """WITH base AS (
         SELECT event_type,
                CAST(round(value * 1000000.0) AS BIGINT) AS score_fp,
                CASE WHEN json_extract_string(props, '$.k')::BIGINT > 50
                     THEN 1 ELSE 0 END AS label,
                event_id
         FROM events),
       binned AS (
         SELECT *, ntile(10) OVER (PARTITION BY event_type
                                   ORDER BY score_fp, event_id) AS decile
         FROM base)
       SELECT event_type, decile::BIGINT AS decile, count(*)::BIGINT AS n,
              CAST(round(avg(score_fp)) AS BIGINT) AS mean_score_fp,
              CAST(round(sum(label)::DOUBLE * 1000000.0 / count(*)) AS BIGINT)
                AS pos_rate_fp
       FROM binned GROUP BY 1, 2""",
)
def q_calibration_bins(spark, sf_dir):
    """Reliability / calibration table per segment: keyed decile
    binning of the score (ntile over the event_type partition — sorts
    stay partition-sized, the quantile_bins discipline) then observed
    positive rate and mean score per bin, both integer-rounded once.
    Where the curve bends away from the diagonal is where a model's
    scores need recalibrating — the standard post-training audit,
    here with the label pulled from the JSON payload (JVM-side
    get_json_object, no Python)."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("score_fp"),
        F.when(
            F.get_json_object(F.col("props"), "$.k").cast("long") > 50, 1
        ).otherwise(0).alias("label"),
        "event_id",
    )
    wb = Window.partitionBy("event_type").orderBy("score_fp", "event_id")
    binned = base.select("*", F.ntile(10).over(wb).alias("decile"))
    return binned.groupBy(
        "event_type", F.col("decile").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("score_fp"), 0).cast("long").alias("mean_score_fp"),
        F.round(
            F.sum("label").cast("double") * F.lit(1e6) / F.count(F.lit(1)), 0
        ).cast("long").alias("pos_rate_fp"),
    )



_HEAPS_STEP = 50



@query(
    "heaps_law",
    f"""WITH tok AS (
         SELECT doc_id, unnest({_tok_sql()}) AS token FROM documents),
       first_seen AS (
         SELECT token, min(doc_id) AS fs FROM tok GROUP BY token),
       doc_tokens AS (
         SELECT doc_id, count(*)::BIGINT AS n_tok FROM tok GROUP BY doc_id),
       new_at AS (
         SELECT fs AS doc_id, count(*)::BIGINT AS n_new
         FROM first_seen GROUP BY fs),
       curve AS (
         SELECT d.doc_id,
                sum(d.n_tok) OVER w AS cum_tokens,
                sum(coalesce(n.n_new, 0)) OVER w AS vocab_size
         FROM doc_tokens d LEFT JOIN new_at n USING (doc_id)
         WINDOW w AS (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING))
       SELECT doc_id, cum_tokens::BIGINT AS cum_tokens,
              vocab_size::BIGINT AS vocab_size
       FROM curve WHERE (doc_id + 1) % {_HEAPS_STEP} = 0""",
)
def q_heaps_law(spark, sf_dir):
    """Heaps-law vocabulary-growth curve WITHOUT sequential scanning:
    running-distinct is inherently serial, but 'vocabulary size after
    doc d' equals the count of tokens whose FIRST occurrence is ≤ d —
    so one token census (min doc_id per token, map-side partial agg)
    plus a cumulative sum over the doc-grain table gives the whole
    curve. Only doc-grain/vocab-grain rows ever sort; checkpointed
    every {_HEAPS_STEP} docs. The curve's flattening is the
    diminishing-returns signal for corpus growth decisions."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(T.tokenize(F.col("text"))).alias("token"))
    first_seen = tok.groupBy("token").agg(F.min("doc_id").alias("fs"))
    doc_tokens = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_at = first_seen.groupBy(F.col("fs").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = doc_tokens.join(new_at, "doc_id", "left").select(
        "doc_id",
        F.sum("n_tok").over(w).alias("cum_tokens"),
        F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w).alias("vocab_size"),
    )
    return curve.where((F.col("doc_id") + 1) % _HEAPS_STEP == 0).select(
        "doc_id",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
    )



_TREND_MIN_N = 10



@query(
    "trend_slope",
    f"""WITH base AS (
         SELECT user_id,
                (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
                  // 1000000 AS t,
                CAST(round(value * 100.0) AS BIGINT) AS y
         FROM events),
       s AS (
         SELECT user_id, count(*)::BIGINT AS n, sum(t) AS st, sum(y) AS sy,
                sum(t * y) AS sty, sum(t * t) AS stt
         FROM base GROUP BY user_id)
       SELECT user_id, n,
              CASE WHEN n >= {_TREND_MIN_N} AND n * stt - st * st > 0
                   THEN CAST(round((n * sty - st * sy)::DOUBLE
                                   / (n * stt - st * st)::DOUBLE
                                   * 1000000000.0) AS BIGINT)
              END AS slope_fp
       FROM s""",
)
def q_trend_slope(spark, sf_dir):
    """Per-entity linear trend via closed-form OLS on EXACT integer
    sufficient statistics: time re-based to seconds since the entity's
    own first event (bounds Σt·y and Σt² in int64 — absolute epochs
    would overflow), centi-scaled values, slope = the one float
    division rounded once (nano-units/sec). The drift/ramp feature for
    revisit scheduling and degradation detection; window (entity min)
    and groupBy share one shuffle. NULL below {_TREND_MIN_N} points or
    on a single-instant entity."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    wall = Window.partitionBy("user_id")
    u = epoch_micros(ev, "ts")
    base = ev.select(
        "user_id",
        F.floor((u - F.min(u).over(wall)) / F.lit(1_000_000)).alias("t"),
        F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("y"),
    )
    s = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    den = n * F.col("stt") - st * st
    slope = F.round(
        (n * F.col("sty") - st * sy).cast("double") / den.cast("double")
        * F.lit(1e9),
        0,
    ).cast("long")
    return s.select(
        "user_id", "n",
        F.when((n >= _TREND_MIN_N) & (den > 0), slope).alias("slope_fp"),
    )



@query(
    "activity_halflife",
    """WITH base AS (
         SELECT user_id, epoch_us(ts) AS u,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n
         FROM events)
       SELECT user_id, max(n)::BIGINT AS n_events,
              min(u)::BIGINT AS first_u, max(u)::BIGINT AS last_u,
              min(CASE WHEN 2 * rn >= n THEN u END)::BIGINT AS half_u,
              CAST(round((min(CASE WHEN 2 * rn >= n THEN u END) - min(u))
                         * 1000000.0
                         / nullif(max(u) - min(u), 0)) AS BIGINT)
                AS half_frac_fp
       FROM base GROUP BY user_id""",
)
def q_activity_halflife(spark, sf_dir):
    """Activity half-life per entity — when did the FIRST half of an
    entity's lifetime events happen: the timestamp where the running
    event count crosses 50% of the total, plus its position as a
    fraction of the entity's observed lifespan (front-loaded ≈ 0,
    uniform ≈ 0.5, late-bursting ≈ 1). Rank and partition count come
    from one window pass; the crossing point is a conditional min —
    exact integer µs throughout, one rational rounded once. An offline
    lifecycle descriptor (uses the full history by design — not a
    point-in-time feature)."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    base = ev.select(
        "user_id",
        epoch_micros(ev, "ts").alias("u"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    half_u = F.min(F.when(2 * F.col("rn") >= F.col("n"), F.col("u")))
    span = F.max("u") - F.min("u")
    return base.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.min("u").cast("long").alias("first_u"),
        F.max("u").cast("long").alias("last_u"),
        half_u.cast("long").alias("half_u"),
        F.round(
            (half_u - F.min("u")) * F.lit(1e6)
            / F.nullif(span, F.lit(0)).cast("double"),
            0,
        ).cast("long").alias("half_frac_fp"),
    )



_N_PREFIX_RULES = 12



@query(
    "robots_prefix_match",
    f"""WITH u AS (
         SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents),
       parsed AS (
         SELECT doc_id, url, {_URL_PATH_SQL} AS path FROM u),
       rules AS (
         SELECT r, CASE WHEN r < 5 THEN '/sec' || CAST(r % 5 AS VARCHAR)
                        ELSE '/sec' || CAST(r % 5 AS VARCHAR)
                             || '/page' || CAST(r % 11 AS VARCHAR) END AS rule_path,
                CASE WHEN r % 2 = 0 THEN 'deny' ELSE 'allow' END AS decision
         FROM (SELECT unnest(range({_N_PREFIX_RULES}))::BIGINT AS r)),
       cand AS (
         SELECT p.doc_id, p.url, pfx.pfx
         FROM parsed p
         CROSS JOIN LATERAL (
           SELECT unnest([regexp_extract(p.path, '^(/[^/]+)', 1), p.path]) AS pfx
         ) pfx),
       matched AS (
         SELECT c.doc_id, c.url, r.rule_path, r.decision, r.r,
                row_number() OVER (PARTITION BY c.doc_id
                  ORDER BY length(r.rule_path) DESC, r.r) AS rnk
         FROM cand c JOIN rules r ON c.pfx = r.rule_path)
       SELECT p.doc_id, p.url,
              m.rule_path AS matched_rule,
              coalesce(m.decision, 'allow') AS decision
       FROM parsed p LEFT JOIN (SELECT * FROM matched WHERE rnk = 1) m
         USING (doc_id)""",
)
def q_robots_prefix_match(spark, sf_dir):
    """Longest-prefix-match against a path rule table — robots.txt /
    routing semantics at corpus scale: each url explodes into its
    (bounded-depth) path prefixes, joins the BROADCAST rule dimension
    on exact prefix equality (never a LIKE scan per rule — prefix
    explosion turns the scan×rules product into an equi-join), and the
    winner is the longest matching rule with a deterministic rule-id
    tiebreak. Unmatched urls default-allow. The decision column is the
    crawl-compliance gate in front of every ingestion pipeline."""
    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 1, F.lit("https://")).otherwise(F.lit("http://")),
        F.lit("www.site"), (did % 50).cast("string"),
        F.lit(".example"), (did % 7).cast("string"),
        F.lit(".com/sec"), (did % 5).cast("string"),
        F.lit("/page"), (did % 11).cast("string"),
        F.when(did % 3 == 0, F.lit("?q=spark")).otherwise(F.lit("")),
    )
    parsed = d.select(
        "doc_id", url.alias("url"),
        F.regexp_extract(url, r"^[a-z]+://[^/]+(/[^?]*)", 1).alias("path"),
    )
    parts = F.split(F.col("path"), "/")
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, 1, i + 1), "/"),
    )
    cand = parsed.select(
        "doc_id", "url", F.explode(prefixes).alias("pfx")
    )
    r = F.col("r")
    rules = spark.range(_N_PREFIX_RULES).select(
        F.col("id").alias("r"),
        F.when(
            r < 5, F.concat(F.lit("/sec"), (r % 5).cast("string"))
        ).otherwise(
            F.concat(
                F.lit("/sec"), (r % 5).cast("string"),
                F.lit("/page"), (r % 11).cast("string"),
            )
        ).alias("rule_path"),
        F.when(r % 2 == 0, "deny").otherwise("allow").alias("decision"),
    )
    matched = cand.join(
        F.broadcast(rules), cand.pfx == rules.rule_path
    )
    wm = Window.partitionBy("doc_id").orderBy(
        F.length("rule_path").desc(), "r"
    )
    best = matched.select(
        "doc_id", "rule_path", "decision", F.row_number().over(wm).alias("rnk")
    ).where(F.col("rnk") == 1)
    return parsed.join(best, "doc_id", "left").select(
        "doc_id", "url",
        F.col("rule_path").alias("matched_rule"),
        F.coalesce(F.col("decision"), F.lit("allow")).alias("decision"),
    )



@query(
    "ecdf_normalize",
    """WITH f AS (
         SELECT doc_id, lang, length(trim(text))::BIGINT AS ql FROM documents)
       SELECT doc_id, lang, ql,
              CAST(round(percent_rank() OVER (PARTITION BY lang ORDER BY ql)
                         * 1000000.0) AS BIGINT) AS pr_fp
       FROM f""",
)
def q_ecdf_normalize(spark, sf_dir):
    """Quantile (ECDF) feature transform — rank-normalize a skewed
    feature into [0,1] per group, the robust alternative to z-scoring
    when the distribution is heavy-tailed: percent_rank = (min-rank−1)
    / (n−1) is an exact rational of integers (tied values share the
    min rank on BOTH engines — no tiebreak column needed, unlike
    ntile), rounded once to micro-units. Keyed window keeps sorts
    partition-sized; pairs with winsorize/feature_zscore as the third
    standard scaler."""
    d = _docs(spark, sf_dir)
    f = d.select("doc_id", "lang", T.text_length("text").cast("long").alias("ql"))
    w = Window.partitionBy("lang").orderBy("ql")
    return f.select(
        "doc_id", "lang", "ql",
        F.round(F.percent_rank().over(w) * F.lit(1e6), 0)
        .cast("long").alias("pr_fp"),
    )
