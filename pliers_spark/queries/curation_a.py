"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: token_count_bpe, token_fertility, edu_classifier, pii_scrub,
    boilerplate_removal, yin_f0, chroma_stft, curation_pipeline,
    mfcc_energy, tempogram, hash_split, rate_sample, stratified_sample,
    mixture_sample, kn_perplexity
"""
from __future__ import annotations

from ._registry import F, T, Window, _docs, _events, md5_int, md5_int_sql, query
from .dedup_sim import _STOPWORD_SQL_LIST
from .audio_librosa import _BPE_RE



@query(
    "token_count_bpe",
    f"""SELECT doc_id,
              len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))::BIGINT AS n_bpe_tokens,
              len(string_split(trim(text), ' '))::BIGINT AS n_ws_tokens
       FROM documents""",
)
def q_token_count_bpe(spark, sf_dir):
    """Token accounting with a GPT-2-style pre-tokenizer regex
    (contractions | space-word | space-number | space-punct-run |
    whitespace-run; clean-room ASCII recast of the published gpt-2
    pattern) next to the whitespace count — the budget estimator a
    training pipeline runs corpus-wide. Pure regexp_extract_all, RE2-
    and Java-regex-compatible subset, integer outputs."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, \"{_BPE_RE}\", 0)")).cast("long").alias("n_bpe_tokens"),
        F.size(T.tokenize(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )



@query(
    "token_fertility",
    f"""WITH per_doc AS (
         SELECT lang,
                len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))::BIGINT AS n_bpe,
                len(string_split(trim(text), ' '))::BIGINT AS n_ws,
                strlen(text)::BIGINT AS n_bytes
         FROM documents)
       SELECT lang, count(*)::BIGINT AS n_docs,
              sum(n_bpe)::BIGINT AS sum_bpe,
              sum(n_ws)::BIGINT AS sum_ws,
              sum(n_bytes)::BIGINT AS sum_bytes,
              ((sum(n_bpe) * 1000000) // sum(n_ws))::BIGINT AS fertility_ppm,
              ((sum(n_bytes) * 1000000) // sum(n_bpe))::BIGINT AS bytes_per_token_ppm
       FROM per_doc GROUP BY lang""",
)
def q_token_fertility(spark, sf_dir):
    """Tokenizer fertility accounting per language — the go/no-go
    diagnostic a multilingual pipeline runs before committing to a
    tokenizer: BPE-pretokens per whitespace word (fertility) and UTF-8
    bytes per BPE pretoken, as exact integer ppm (BIGINT multiply
    before integer divide — no float at any corpus size). One narrow
    regexp projection + one groupBy(lang) with map-side partial aggs;
    the lang dimension is tiny so the shuffle is a few rows per
    partition."""
    d = _docs(spark, sf_dir)
    per_doc = d.select(
        "lang",
        F.size(F.expr(f"regexp_extract_all(text, \"{_BPE_RE}\", 0)")).cast("long").alias("n_bpe"),
        F.size(T.tokenize(F.col("text"))).cast("long").alias("n_ws"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("sum_bpe"),
        F.sum("n_ws").alias("sum_ws"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.expr("sum(n_bpe) * 1000000 div sum(n_ws)").alias("fertility_ppm"),
        F.expr("sum(n_bytes) * 1000000 div sum(n_bpe)").alias("bytes_per_token_ppm"),
    )



_EDU_WEIGHTS = [  # (feature, milli-weight) — deterministic stand-in model
    ("alpha_ppm", 1),
    ("stop_ppm", 2),
    ("uniq_ppm", 1),
    ("bias", 300),
]

_EDU_W_SQL = ", ".join(f"('{f}', {w})" for f, w in _EDU_WEIGHTS)



@query(
    "edu_classifier",
    f"""WITH toks AS (
         SELECT doc_id, lower(unnest(string_split(trim(text), ' '))) AS t
         FROM documents),
       agg AS (
         SELECT doc_id, count(*)::BIGINT AS n_words,
                sum(CASE WHEN regexp_matches(t, '[a-z]') THEN 1 ELSE 0 END)::BIGINT AS n_alpha,
                sum(CASE WHEN t IN ({_STOPWORD_SQL_LIST}) THEN 1 ELSE 0 END)::BIGINT AS n_stop,
                count(DISTINCT t)::BIGINT AS n_uniq
         FROM toks GROUP BY doc_id),
       feats AS (
         SELECT doc_id, 'alpha_ppm' AS feat, (n_alpha * 1000000) // n_words AS v FROM agg
         UNION ALL
         SELECT doc_id, 'stop_ppm', (n_stop * 1000000) // n_words FROM agg
         UNION ALL
         SELECT doc_id, 'uniq_ppm', (n_uniq * 1000000) // n_words FROM agg
         UNION ALL
         SELECT doc_id, 'bias', 1000 FROM agg),
       w(feat, w_milli) AS (VALUES {_EDU_W_SQL}),
       scored AS (
         SELECT f.doc_id, sum(f.v * w.w_milli)::BIGINT AS score_u
         FROM feats f JOIN w USING (feat) GROUP BY f.doc_id)
       SELECT doc_id, score_u,
              least(greatest(score_u, 0) // 700000, 5)::BIGINT AS edu_bucket
       FROM scored""",
)
def q_edu_classifier(spark, sf_dir):
    """FineWeb-Edu-style classifier-score bucketing, execution-pattern
    real / weights stand-in: per-doc integer features (alphabetic,
    stopword, distinct-token shares in exact ppm) are melted to long
    form and scored against a BROADCAST weight dimension — the linear-
    classifier-at-scale shape where swapping in trained weights (or
    more features) changes the dimension table, not the plan. Integer
    dot product and fixed bucket thresholds → bit-stable 0-5 buckets
    (the published FineWeb-Edu int-score convention). One token
    aggregation + one broadcast join + one groupBy(doc)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("t0")
    ).select("doc_id", F.lower("t0").alias("t"))
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.when(F.col("t").rlike("[a-z]"), 1).otherwise(0)).alias("n_alpha"),
        F.sum(F.when(F.col("t").isin(*T.ENGLISH_STOPWORDS), 1).otherwise(0)).alias("n_stop"),
        F.count_distinct("t").alias("n_uniq"),
    )
    feats = None
    for name, expr in [
        ("alpha_ppm", F.expr("n_alpha * 1000000 div n_words")),
        ("stop_ppm", F.expr("n_stop * 1000000 div n_words")),
        ("uniq_ppm", F.expr("n_uniq * 1000000 div n_words")),
        ("bias", F.lit(1000).cast("long")),
    ]:
        part = agg.select("doc_id", F.lit(name).alias("feat"), expr.alias("v"))
        feats = part if feats is None else feats.unionByName(part)
    w = spark.createDataFrame(_EDU_WEIGHTS, "feat string, w_milli long")
    scored = (
        feats.join(F.broadcast(w), "feat")
        .groupBy("doc_id")
        .agg(F.sum(F.col("v") * F.col("w_milli")).cast("long").alias("score_u"))
    )
    return scored.select(
        "doc_id",
        "score_u",
        F.least(
            F.expr("greatest(score_u, 0) div 700000"), F.lit(5).cast("long")
        ).cast("long").alias("edu_bucket"),
    )



_PII_RULES = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d().-]{7,}\d", "<PHONE>"),
]



@query(
    "pii_scrub",
    "SELECT doc_id, "
    + "".join(
        f"regexp_replace(" for _ in _PII_RULES
    )
    + "text"
    + "".join(
        f", '{pat.replace(chr(39), chr(39)*2)}', '{rep}', 'g')" for pat, rep in _PII_RULES
    )
    + " AS clean_text FROM documents",
)
def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails → <EMAIL>, IPv4 → <IP>, phone-like runs →
    <PHONE>): the standard pre-training scrub pass, as a fixed-order
    regexp_replace chain in the RE2/Java-compatible regex subset —
    narrow map stage, no shuffle, byte-comparable across engines."""
    c = F.col("text")
    for pat, rep in _PII_RULES:
        c = F.regexp_replace(c, pat, rep)
    return _docs(spark, sf_dir).select("doc_id", c.alias("clean_text"))



@query(
    "boilerplate_removal",
    """WITH marked AS (
         SELECT doc_id, regexp_replace(text, '\\bthe\\b', 'the.', 'g') AS mtext
         FROM documents),
       sents AS (
         SELECT doc_id,
                unnest(range(len(string_split(regexp_replace(trim(mtext), '([.!?]) +', '\\1' || chr(10), 'g'), chr(10)))))::BIGINT AS pos,
                unnest(list_transform(string_split(regexp_replace(trim(mtext), '([.!?]) +', '\\1' || chr(10), 'g'), chr(10)), s -> trim(s))) AS sentence
         FROM marked),
       sents2 AS (SELECT * FROM sents WHERE sentence != ''),
       df_t AS (
         SELECT sentence, count(DISTINCT doc_id) AS df FROM sents2 GROUP BY 1),
       kept AS (
         SELECT s.doc_id, s.pos, s.sentence
         FROM sents2 s JOIN df_t USING (sentence) WHERE df_t.df < 40),
       agg AS (
         SELECT doc_id, string_agg(sentence, ' ' ORDER BY pos) AS clean_text,
                count(*) AS n_kept
         FROM kept GROUP BY doc_id)
       SELECT m.doc_id, coalesce(a.clean_text, '') AS clean_text,
              coalesce(a.n_kept, 0)::BIGINT AS n_kept
       FROM marked m LEFT JOIN agg a USING (doc_id)""",
)
def q_boilerplate_removal(spark, sf_dir):
    """Cross-corpus boilerplate line removal (CCNet-style: drop lines
    whose document frequency ≥ threshold — nav bars, cookie banners):
    sentence-split (same marker rule as sentence_split), global
    line-DF census (map-side partial agg over (line, doc) pairs), drop
    hot lines, reassemble each doc in original order. The census keys
    on the line text — Zipf-skewed, but the agg is algebraic (count
    distinct per line via two-level agg) so it partial-aggregates;
    reassembly sorts inside each doc's array, not globally."""
    d = _docs(spark, sf_dir)
    marked = F.regexp_replace(F.col("text"), r"\bthe\b", "the.")
    sents = d.select(
        "doc_id", F.posexplode(T.split_sentences(marked)).alias("pos", "sentence")
    ).withColumn("pos", F.col("pos").cast("long"))
    df_t = sents.groupBy("sentence").agg(F.countDistinct("doc_id").alias("df"))
    kept = sents.join(df_t.where(F.col("df") < 40), "sentence")
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sentence"))),
                lambda s: s["sentence"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return d.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )



def _yin_sql() -> str:
    from pliers_spark.functions.audio_features import yin_f0_sql

    return yin_f0_sql()



@query("yin_f0", _yin_sql())
def q_yin_f0(spark, sf_dir):
    """FundamentalFrequencyExtractor role (pliers/extractors/audio.py:
    508-521): the YIN difference-function pitch estimator, 100% built-in
    — window framing, bounded explode, conditional-agg position pivot,
    then shared-text CMND/threshold/argmin expressions. No UDF at all,
    not even for the framing."""
    from pliers_spark.functions.audio_features import yin_f0

    return yin_f0(_events(spark, sf_dir), "user_id", "ts", "value", "event_id")



def _chroma_sql() -> str:
    from pliers_spark.functions.audio_features import chroma_stft_sql
    from pliers_spark.functions.spectral import stft_power_sql

    return chroma_stft_sql(stft_power_sql())



@query("chroma_stft", _chroma_sql())
def q_chroma_stft(spark, sf_dir):
    """ChromaSTFTExtractor role (pliers/extractors/audio.py:368-384):
    per-frame pitch-class energy profile — the A440 class map is folded
    driver-side into literal per-class sums, max-normalized."""
    from pliers_spark.functions.audio_features import chroma_stft
    from pliers_spark.functions.spectral import stft_power_frames

    frames = stft_power_frames(
        _events(spark, sf_dir), "user_id", "ts", "value",
        order_cols=["ts", "event_id"],
    )
    return chroma_stft(frames)



def _curation_pipeline_sql() -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    pii = "text"
    for pat, rep in _PII_RULES:
        pii = f"regexp_replace({pii}, '{pat.replace(chr(39), chr(39)*2)}', '{rep}', 'g')"
    return f"""WITH hashed AS (
         SELECT doc_id, lang, text,
                row_number() OVER (PARTITION BY {md5_int_sql('text')}
                                   ORDER BY doc_id) AS rn
         FROM documents),
       reps AS (SELECT doc_id, lang, text FROM hashed WHERE rn = 1),
       ranked AS (
         SELECT doc_id, lang, text,
                percent_rank() OVER (PARTITION BY lang
                                     ORDER BY length(trim(text)), doc_id) AS pr
         FROM reps),
       kept AS (SELECT * FROM ranked WHERE pr >= 0.1)
       SELECT doc_id, lang, round(pr, 6) AS pr,
              CASE WHEN {md5_int_sql('text', seed=13)} % 100 < 80 THEN 'train'
                   WHEN {md5_int_sql('text', seed=13)} % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split,
              length({pii})::BIGINT AS clean_len
       FROM kept"""



@query("curation_pipeline", _curation_pipeline_sql())
def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation composition as ONE optimized DAG: exact-dedup
    representative selection (content-hash window) -> per-language
    percentile quality gate -> PII scrub -> leak-proof content-hash
    split assignment. Catalyst pipelines the scrub/split projections
    into the rank filter; two window shuffles (hash, lang) total -- the
    shape a 100 TB cleaning pass actually runs."""
    d = _docs(spark, sf_dir)
    w_rep = Window.partitionBy(md5_int(F.col("text"))).orderBy("doc_id")
    reps = d.withColumn("rn", F.row_number().over(w_rep)).where(F.col("rn") == 1)
    w_rank = Window.partitionBy("lang").orderBy(F.length(F.trim(F.col("text"))), F.col("doc_id"))
    ranked = reps.withColumn("pr", F.percent_rank().over(w_rank)).where(F.col("pr") >= 0.1)
    clean = F.col("text")
    for pat, rep in _PII_RULES:
        clean = F.regexp_replace(clean, pat, rep)
    b = F.pmod(md5_int(F.col("text"), seed=13), F.lit(100))
    split = F.when(b < 80, F.lit("train")).when(b < 90, F.lit("val")).otherwise(F.lit("test"))
    return ranked.select(
        "doc_id", "lang", F.round("pr", 6).alias("pr"), split.alias("split"),
        F.length(clean).cast("long").alias("clean_len"),
    )



def _mfcc_energy_sql() -> str:
    from pliers_spark.functions.audio_features import mfcc_energy_sql
    from pliers_spark.functions.spectral import stft_power_sql

    return mfcc_energy_sql(stft_power_sql())



@query("mfcc_energy", _mfcc_energy_sql())
def q_mfcc_energy(spark, sf_dir):
    """MFCCEnergyExtractor (pliers/extractors/audio.py:645-703): low-
    and high-quefrency mel-spectrum reconstructions — select cepstral
    coefficients, inverse-DCT back to mel bands; the orthonormal DCT is
    literal so the whole reconstruction folds into linear shared-text
    expressions over the log-mel values."""
    from pliers_spark.functions.audio_features import mfcc_energy
    from pliers_spark.functions.spectral import stft_power_frames

    frames = stft_power_frames(
        _events(spark, sf_dir), "user_id", "ts", "value",
        order_cols=["ts", "event_id"],
    )
    return mfcc_energy(frames)



def _tempogram_sql() -> str:
    from pliers_spark.functions.audio_features import tempogram_sql
    from pliers_spark.functions.spectral import stft_power_sql

    return tempogram_sql(stft_power_sql())



@query("tempogram", _tempogram_sql())
def q_tempogram(spark, sf_dir):
    """TempogramExtractor role (pliers/extractors/audio.py:470-486):
    local autocorrelation of the onset envelope per (frame, lag) — lag
    products + trailing rolling sums, two pipelined Window passes over
    one Sort, no UDF."""
    from pliers_spark.functions.audio_features import tempogram
    from pliers_spark.functions.spectral import stft_power_frames

    frames = stft_power_frames(
        _events(spark, sf_dir), "user_id", "ts", "value",
        order_cols=["ts", "event_id"],
    )
    return tempogram(frames)



# --------------------------------------------------------------------------
# batch 12: corpus curation — benchmark decontamination and
# quality-weighted importance sampling (operators/curation.py)


def _decontaminate_sql() -> str:
    from pliers_spark.operators.curation import decontaminate_sql

    return decontaminate_sql()



# --------------------------------------------------------------------------
# sampling: leak-proof splits, rate/stratified/mixture sampling
# (operators/sampling.py, operators/curation.py)

def _hash_split_sql() -> str:
    from pliers_spark.operators.sampling import hash_split_sql

    return hash_split_sql("documents", "doc_id", "doc_id, lang")



@query("hash_split", _hash_split_sql())
def q_hash_split(spark, sf_dir):
    """Deterministic train/valid/test split (98/1/1) by id hash — the
    reproducible-corpus-construction split convention (C4/The Pile): a
    pure projection (zero shuffle, no RNG), every row's split
    recomputable from its id alone (operators/sampling.hash_split)."""
    from pliers_spark.operators.sampling import hash_split

    return hash_split(_docs(spark, sf_dir).select("doc_id", "lang"), "doc_id")



def _rate_sample_sql() -> str:
    from pliers_spark.operators.sampling import rate_sample_sql

    return f"""WITH s AS ({rate_sample_sql('documents', 'doc_id', 250000, seed=3)})
       SELECT doc_id, lang, source FROM s"""



@query("rate_sample", _rate_sample_sql())
def q_rate_sample(spark, sf_dir):
    """Seeded Bernoulli-by-hash down-sampling gate (keep 25%): a plain
    deterministic filter that pushes below wide operators and is stable
    under task retries — the smoke-slice / ablation-corpus sampler
    (operators/sampling.rate_sample)."""
    from pliers_spark.operators.sampling import rate_sample

    return rate_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "source"), "doc_id", 250000, seed=3
    )



def _stratified_sql() -> str:
    from pliers_spark.operators.sampling import stratified_sample_sql

    return stratified_sample_sql("documents", ["lang", "source"], "doc_id", 5)



@query("stratified_sample", _stratified_sql())
def q_stratified_sample(spark, sf_dir):
    """Exact-k-per-stratum sample (5 per lang×source), winners = the k
    smallest (hash(id), id) per stratum — deterministic and
    layout-independent, unlike 'first k seen'. One shuffle on the
    strata key (operators/sampling.stratified_sample)."""
    from pliers_spark.operators.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), ["lang", "source"], "doc_id", 5)



def _mixture_sql() -> str:
    from pliers_spark.operators.curation import mixture_sample_sql

    return mixture_sample_sql()



@query("mixture_sample", _mixture_sql())
def q_mixture_sample(spark, sf_dir):
    """Data-mixture balancing across the `source` column (equalize to
    the smallest group): group census → broadcast rates → narrow
    integer-hash filter; kept rows carry group/min weights. The corpus
    scan itself never shuffles (operators/curation.mixture_sample)."""
    from pliers_spark.operators.curation import mixture_sample

    return mixture_sample(_docs(spark, sf_dir))



# --------------------------------------------------------------------------
# Kneser-Ney LM scoring (operators/lm.py)

def _kn_sql() -> str:
    from pliers_spark.operators.lm import kneser_ney_score_sql

    return kneser_ney_score_sql()



@query("kn_perplexity", _kn_sql())
def q_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM scoring + perplexity — the
    KenLM smoothing family, i.e. the model class CCNet's actual quality
    filter uses (operators/lm.kneser_ney_score; Kneser & Ney 1995,
    Chen & Goodman 1999). Same shuffle structure as `lm_score` (vocab
    top-k, ONE bigram-grain model agg — the continuation-type counts
    ride the same grain — broadcast model, per-doc reduction); per-type
    log-probs in once-rounded integer micro-nats."""
    from pliers_spark.operators.lm import kneser_ney_score

    return kneser_ney_score(_docs(spark, sf_dir))
