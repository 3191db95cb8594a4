"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: kmv_distinct, kmv_overlap, bloom_fpr_audit, priority_sample,
    rendezvous_shards, neyman_allocation, kmv_rollup, diff_in_diff,
    markov_accuracy, mde_power, cuped_adjustment, sprt_crossing,
    source_jsd, conformal_coverage, budget_select, lsh_band_sweep,
    rec_coverage, missing_mass, snapshot_asof, classifier_kappa,
    posting_compression
"""
from __future__ import annotations

from ._registry import D, F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from .core_parity import _QUALITY_ORACLE
from .dedup_sim import _MH_K, _MH_SHINGLE, _minhash_cte



# --------------------------------------------------------------------------
# batch 32: KMV distinct sketch, KMV Jaccard, Bloom FPR audit — the
# "sketch accuracy audit" family: at 100 TB these sketches ARE the plan;
# auditing them against exact truth at small scale is how you size them.

_KMV_K = 64

_H60 = 1 << 60  # md5_int range



def _kmv_sql(k: int = _KMV_K) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    return f"""WITH th AS (
         SELECT DISTINCT source, {md5_int_sql('u')}::BIGINT AS h
         FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS u FROM documents)),
       ranked AS (
         SELECT source, h,
                row_number() OVER (PARTITION BY source ORDER BY h) AS rnk,
                count(*) OVER (PARTITION BY source) AS n_exact
         FROM th),
       sk AS (
         SELECT source, max(n_exact)::BIGINT AS exact_distinct,
                count(*)::BIGINT AS in_sketch,
                max(CASE WHEN rnk = {k} THEN h END)::BIGINT AS v_k
         FROM ranked WHERE rnk <= {k} GROUP BY source)
       SELECT source, exact_distinct,
              CASE WHEN in_sketch < {k} THEN exact_distinct::DOUBLE
                   ELSE round(({k} - 1)::DOUBLE * {_H60}::DOUBLE / v_k::DOUBLE, 4)
              END AS est_distinct,
              CASE WHEN in_sketch < {k} THEN 0.0
                   ELSE round((({k} - 1)::DOUBLE * {_H60}::DOUBLE / v_k::DOUBLE
                               - exact_distinct::DOUBLE) / exact_distinct::DOUBLE, 6)
              END AS rel_err
       FROM sk"""



@query("kmv_distinct", _kmv_sql())
def q_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) distinct-count sketch audit
    (Bar-Yossef et al., RANDOM 2002): per source, the estimate
    (k−1)·H/v_k from the k smallest 60-bit token hashes next to the
    exact distinct count and the relative error. Unlike HLL the KMV
    sketch is EXACTLY reproducible cross-engine (it is just an order
    statistic of md5 values), fully mergeable (union = k smallest of
    concatenated sketches), and collapses to exact below k — so it is
    the sketch this engine recommends where approx_count_distinct
    can't be oracle-checked. Plan: distinct (source, hash) census, one
    per-source bottom-k window, source-grain math."""
    from pliers_spark.functions.hashing import md5_int

    d = _docs(spark, sf_dir)
    th = (
        d.select("source", F.explode(T.tokenize(F.col("text"))).alias("tok"))
        .select("source", md5_int(F.col("tok")).alias("h"))
        .distinct()
    )
    ws = Window.partitionBy("source")
    ranked = th.select(
        "source", "h",
        F.row_number().over(ws.orderBy("h")).alias("rnk"),
        F.count(F.lit(1)).over(ws).alias("n_exact"),
    )
    sk = ranked.where(F.col("rnk") <= _KMV_K).groupBy("source").agg(
        F.max("n_exact").cast("long").alias("exact_distinct"),
        F.count(F.lit(1)).cast("long").alias("in_sketch"),
        F.max(F.when(F.col("rnk") == _KMV_K, F.col("h"))).cast("long").alias("v_k"),
    )
    est = (F.lit(float(_KMV_K - 1)) * F.lit(float(_H60))) / F.col("v_k").cast("double")
    return sk.select(
        "source", "exact_distinct",
        F.when(F.col("in_sketch") < _KMV_K, F.col("exact_distinct").cast("double"))
        .otherwise(F.round(est, 4))
        .alias("est_distinct"),
        F.when(F.col("in_sketch") < _KMV_K, F.lit(0.0))
        .otherwise(
            F.round((est - F.col("exact_distinct").cast("double")) / F.col("exact_distinct").cast("double"), 6)
        )
        .alias("rel_err"),
    )



def _kmv_overlap_sql(k: int = _KMV_K) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    return f"""WITH th AS (
         SELECT DISTINCT source, {md5_int_sql('u')}::BIGINT AS h
         FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS u FROM documents)),
       srcs AS (SELECT DISTINCT source FROM th),
       pairs AS (
         SELECT a.source AS src_a, b.source AS src_b
         FROM srcs a JOIN srcs b ON a.source < b.source),
       tagged AS (
         SELECT p.src_a, p.src_b, t.h,
                max((t.source = p.src_a)::INT) AS ina,
                max((t.source = p.src_b)::INT) AS inb
         FROM pairs p JOIN th t ON t.source IN (p.src_a, p.src_b)
         GROUP BY 1, 2, 3),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rnk,
                count(*) OVER (PARTITION BY src_a, src_b) AS n_union
         FROM tagged),
       sk AS (
         SELECT src_a, src_b,
                least(max(n_union), {k})::BIGINT AS k_eff,
                sum((ina = 1 AND inb = 1)::INT)::BIGINT AS both_in_sketch
         FROM ranked WHERE rnk <= {k} GROUP BY 1, 2),
       ex AS (
         SELECT src_a, src_b,
                sum((ina = 1 AND inb = 1)::INT)::BIGINT AS inter,
                count(*)::BIGINT AS uni
         FROM tagged GROUP BY 1, 2)
       SELECT sk.src_a, sk.src_b,
              round(sk.both_in_sketch::DOUBLE / sk.k_eff::DOUBLE, 6) AS j_est,
              round(ex.inter::DOUBLE / ex.uni::DOUBLE, 6) AS j_exact,
              round(abs(sk.both_in_sketch::DOUBLE / sk.k_eff::DOUBLE
                        - ex.inter::DOUBLE / ex.uni::DOUBLE), 6) AS abs_err
       FROM sk JOIN ex USING (src_a, src_b)"""



@query("kmv_overlap", _kmv_overlap_sql())
def q_kmv_overlap(spark, sf_dir):
    """KMV Jaccard estimation between source vocabularies (Beyer et al.,
    SIGMOD 2007): the union's bottom-k hash sketch doubles as a uniform
    sample of A∪B, so |sketch ∩ A ∩ B| / k estimates J(A,B) — audited
    against the exact Jaccard of the two vocabularies. This
    is the mergeable scale path for pairwise corpus-overlap matrices
    where exact set intersection would shuffle the full vocabulary per
    pair. Plan: one distinct (source, hash) census; pair tagging joins
    the census to the S² pair dimension; bottom-k is a per-pair window
    over union-grain rows."""
    from pliers_spark.functions.hashing import md5_int

    d = _docs(spark, sf_dir)
    th = (
        d.select("source", F.explode(T.tokenize(F.col("text"))).alias("tok"))
        .select("source", md5_int(F.col("tok")).alias("h"))
        .distinct()
        .stableCheckpoint(eager=True)
    )
    srcs = th.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .join(srcs.select(F.col("source").alias("src_b")), F.col("src_a") < F.col("src_b"))
    )
    tagged = (
        pairs.join(
            th, (F.col("source") == F.col("src_a")) | (F.col("source") == F.col("src_b"))
        )
        .groupBy("src_a", "src_b", "h")
        .agg(
            F.max((F.col("source") == F.col("src_a")).cast("int")).alias("ina"),
            F.max((F.col("source") == F.col("src_b")).cast("int")).alias("inb"),
        )
        .stableCheckpoint(eager=True)  # feeds sketch ranking AND exact truth
    )
    wp = Window.partitionBy("src_a", "src_b")
    ranked = tagged.select(
        "*",
        F.row_number().over(wp.orderBy("h")).alias("rnk"),
        F.count(F.lit(1)).over(wp).alias("n_union"),
    )
    sk = ranked.where(F.col("rnk") <= _KMV_K).groupBy("src_a", "src_b").agg(
        F.least(F.max("n_union"), F.lit(_KMV_K)).cast("long").alias("k_eff"),
        F.sum(((F.col("ina") == 1) & (F.col("inb") == 1)).cast("int")).cast("long").alias("both_in_sketch"),
    )
    ex = tagged.groupBy("src_a", "src_b").agg(
        F.sum(((F.col("ina") == 1) & (F.col("inb") == 1)).cast("int")).cast("long").alias("inter"),
        F.count(F.lit(1)).cast("long").alias("uni"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    j_est = d_("both_in_sketch") / d_("k_eff")
    j_ex = d_("inter") / d_("uni")
    return sk.join(ex, ["src_a", "src_b"]).select(
        "src_a", "src_b",
        F.round(j_est, 6).alias("j_est"),
        F.round(j_ex, 6).alias("j_exact"),
        F.round(F.abs(j_est - j_ex), 6).alias("abs_err"),
    )



_BLOOM_M = 1024

_BLOOM_K = 3



def _bloom_fpr_sql(m: int = _BLOOM_M, k: int = _BLOOM_K) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    poss = ", ".join(
        f"(({md5_int_sql('text', seed=s)}) % {m})::BIGINT" for s in range(k)
    )
    return f"""WITH hist AS (
         SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),
       probe AS (
         SELECT DISTINCT d.text FROM documents d
         WHERE d.doc_id % 2 = 1
           AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.text = d.text)),
       hp AS (
         SELECT DISTINCT p FROM (SELECT unnest([{poss}]) AS p FROM hist)),
       probe_pos AS (SELECT text, unnest([{poss}]) AS p FROM probe),
       hits AS (
         SELECT text, count(*)::BIGINT AS nhit
         FROM probe_pos JOIN hp USING (p) GROUP BY text),
       st AS (
         SELECT (SELECT count(*) FROM hist)::BIGINT AS n_inserted,
                (SELECT count(*) FROM probe)::BIGINT AS n_probes,
                (SELECT count(*) FROM hits WHERE nhit = {k})::BIGINT AS n_fp)
       SELECT n_inserted, n_probes, n_fp,
              CASE WHEN n_probes > 0
                   THEN round(n_fp::DOUBLE / n_probes::DOUBLE, 6) END AS fpr_observed,
              round(pow(1.0 - exp(-({k}.0 * n_inserted::DOUBLE) / {m}.0), {k}.0), 6)
                AS fpr_theory
       FROM st"""



@query("bloom_fpr_audit", _bloom_fpr_sql())
def q_bloom_fpr_audit(spark, sf_dir):
    """Bloom-filter false-positive-rate audit: insert the even-half
    document contents into an (m=1024, k=3) position-set Bloom filter
    (the `bloom_dedup` representation), probe with contents PROVABLY
    absent (odd-half, anti-joined on exact text), and report observed
    FPR against the (1 − e^(−kn/m))^k theory line — the sizing check an
    operator runs before trusting a constant-memory gate at ingest
    scale. The deliberately small m puts the filter in its loaded
    regime (kn/m ≈ 0.7) so the audit exercises real collisions. All
    counts exact; the two transcendentals touch one final row."""
    from pliers_spark.functions.hashing import md5_int

    d = _docs(spark, sf_dir)
    hist = (
        d.where(F.col("doc_id") % 2 == 0).select("text").distinct().stableCheckpoint(eager=True)
    )
    probe = (
        d.where(F.col("doc_id") % 2 == 1)
        .select("text")
        .distinct()
        .join(hist, "text", "left_anti")
        .stableCheckpoint(eager=True)
    )
    pos = lambda s: F.pmod(md5_int(F.col("text"), seed=s), F.lit(_BLOOM_M))  # noqa: E731
    hp = hist.select(
        F.explode(F.array(*[pos(s) for s in range(_BLOOM_K)])).alias("p")
    ).distinct()
    probe_pos = probe.select(
        "text", F.explode(F.array(*[pos(s) for s in range(_BLOOM_K)])).alias("p")
    )
    hits = probe_pos.join(hp, "p").groupBy("text").agg(F.count(F.lit(1)).alias("nhit"))
    n_fp = hits.where(F.col("nhit") == _BLOOM_K).count()
    n_ins = hist.count()
    n_pr = probe.count()
    import math as _m

    theory = round((1.0 - _m.exp(-(_BLOOM_K * n_ins) / _BLOOM_M)) ** _BLOOM_K, 6)
    return spark.createDataFrame(
        [(n_ins, n_pr, n_fp, round(n_fp / n_pr, 6) if n_pr else None, theory)],
        "n_inserted long, n_probes long, n_fp long, fpr_observed double, fpr_theory double",
    )



# --------------------------------------------------------------------------
# batch 33: priority sampling, rendezvous sharding, Neyman allocation

_PRIO_K = 64



def _priority_sql(k: int = _PRIO_K) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    h = md5_int_sql("CAST(doc_id AS VARCHAR)")
    return f"""WITH w AS (
         SELECT doc_id, source,
                len(string_split(trim(text), ' '))::BIGINT AS wt,
                ({h} + 1)::BIGINT AS hu
         FROM documents),
       q AS (
         SELECT *, wt::DOUBLE * {_H60}::DOUBLE / hu::DOUBLE AS prio,
                row_number() OVER (ORDER BY wt::DOUBLE * {_H60}::DOUBLE / hu::DOUBLE DESC,
                                   doc_id) AS rnk
         FROM w),
       tau AS (SELECT prio AS t FROM q WHERE rnk = {k} + 1),
       est AS (
         SELECT source,
                sum(CAST(round(CASE WHEN wt::DOUBLE > tau.t THEN wt::DOUBLE
                                    ELSE tau.t END) AS BIGINT))::BIGINT AS est_tokens
         FROM q CROSS JOIN tau WHERE rnk <= {k} GROUP BY source),
       exact AS (SELECT source, sum(wt)::BIGINT AS exact_tokens FROM w GROUP BY source)
       SELECT exact.source, exact.exact_tokens,
              coalesce(est.est_tokens, 0)::BIGINT AS est_tokens,
              round((coalesce(est.est_tokens, 0) - exact.exact_tokens)::DOUBLE
                    / exact.exact_tokens, 6) AS rel_err
       FROM exact LEFT JOIN est USING (source)"""



@query("priority_sample", _priority_sql())
def q_priority_sample(spark, sf_dir):
    """Priority sampling subset-sum audit (Duffield, Lund & Thorup,
    JACM 2007): weight = doc token count, priority = w/u with u the
    deterministic 60-bit hash uniform, keep the top-k priorities, and
    estimate each source's TOTAL tokens as Σ max(wᵢ, τ) over its
    sampled docs (τ = the (k+1)-th priority) — the provably
    near-optimal weighted sample for answering arbitrary subset-sum
    questions later from k rows instead of the corpus. Estimates round
    to integer tokens per item before summing (order-proof). Plan: one
    narrow weight/priority map, a distributed top-(k+1), source-grain
    joins of a k-row frame against the exact census."""
    from pliers_spark.functions.hashing import md5_int

    d = _docs(spark, sf_dir)
    w = d.select(
        "doc_id", "source",
        F.size(T.tokenize(F.col("text"))).cast("long").alias("wt"),
        (md5_int(F.col("doc_id").cast("string")) + 1).alias("hu"),
    ).stableCheckpoint(eager=True)  # feeds sample AND exact census
    prio = F.col("wt").cast("double") * F.lit(float(_H60)) / F.col("hu").cast("double")
    q = w.select("*", prio.alias("prio"), F.row_number().over(
        Window.orderBy(F.desc(prio), "doc_id")
    ).alias("rnk"))
    topk1 = q.where(F.col("rnk") <= _PRIO_K + 1).stableCheckpoint(eager=True)
    tau = topk1.where(F.col("rnk") == _PRIO_K + 1).select(F.col("prio").alias("t"))
    est = (
        topk1.where(F.col("rnk") <= _PRIO_K)
        .crossJoin(F.broadcast(tau))
        .groupBy("source")
        .agg(
            F.sum(
                F.round(
                    F.when(F.col("wt").cast("double") > F.col("t"), F.col("wt").cast("double"))
                    .otherwise(F.col("t")),
                    0,
                ).cast("long")
            ).cast("long").alias("est_tokens")
        )
    )
    exact = w.groupBy("source").agg(F.sum("wt").cast("long").alias("exact_tokens"))
    return exact.join(est, "source", "left").select(
        "source", "exact_tokens",
        F.coalesce("est_tokens", F.lit(0)).cast("long").alias("est_tokens"),
        F.round(
            (F.coalesce("est_tokens", F.lit(0)) - F.col("exact_tokens")).cast("double")
            / F.col("exact_tokens").cast("double"),
            6,
        ).alias("rel_err"),
    )



_RDV_SHARDS = 16



def _rendezvous_sql(n_shards: int = _RDV_SHARDS) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    def argmax(n):
        items = ", ".join(
            f"{{'h': {md5_int_sql('CAST(doc_id AS VARCHAR)', seed=s)}, 's': {s}}}"
            for s in range(n)
        )
        return f"list_max([{items}]).s"

    return f"""WITH a AS (
         SELECT doc_id, {argmax(n_shards)}::BIGINT AS shard,
                {argmax(n_shards + 1)}::BIGINT AS shard_plus
         FROM documents)
       SELECT shard, count(*)::BIGINT AS n_docs,
              sum((shard <> shard_plus)::INT)::BIGINT AS n_moved,
              sum((shard <> shard_plus AND shard_plus <> {n_shards})::INT)::BIGINT
                AS n_moved_elsewhere
       FROM a GROUP BY shard"""



@query("rendezvous_shards", _rendezvous_sql())
def q_rendezvous_shards(spark, sf_dir):
    """Rendezvous (highest-random-weight) shard assignment audit
    (Thaler & Ravishankar, ToN 1998 — the consistent-placement scheme
    behind cache rings and shard maps): each doc goes to the shard with
    the highest seeded hash; per shard, the doc count (balance) and how
    many docs MOVE when a {_RDV_SHARDS + 1}th shard joins. HRW's
    guarantee — relocations land ONLY on the new shard — is emitted as
    n_moved_elsewhere (must be 0), and expected movement is
    n/{_RDV_SHARDS + 1}. The argmax is a per-row array-of-struct max
    (lexicographic, hash-then-shard) — zero shuffle besides the final
    16-row census; exactly how a reshard cost estimate runs over a
    10^12-row table."""
    from pliers_spark.functions.hashing import md5_int

    d = _docs(spark, sf_dir)

    def argmax(n):
        return F.array_max(
            F.array(
                *[
                    F.struct(
                        md5_int(F.col("doc_id").cast("string"), seed=s).alias("h"),
                        F.lit(s).alias("s"),
                    )
                    for s in range(n)
                ]
            )
        )["s"]

    a = d.select(
        "doc_id",
        argmax(_RDV_SHARDS).cast("long").alias("shard"),
        argmax(_RDV_SHARDS + 1).cast("long").alias("shard_plus"),
    )
    return a.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("shard") != F.col("shard_plus")).cast("int")).cast("long").alias("n_moved"),
        F.sum(
            ((F.col("shard") != F.col("shard_plus")) & (F.col("shard_plus") != _RDV_SHARDS)).cast("int")
        ).cast("long").alias("n_moved_elsewhere"),
    )



_NEYMAN_BUDGET = 1000



@query(
    "neyman_allocation",
    f"""WITH s AS (
         SELECT source, count(*)::BIGINT AS n,
                sum(n_chars)::BIGINT AS sv,
                sum(n_chars::HUGEINT * n_chars::HUGEINT) AS q
         FROM documents GROUP BY source),
       w AS (
         SELECT source, n,
                CAST(round(1000000.0 * sqrt((n::DOUBLE * q::DOUBLE
                                             - sv::DOUBLE * sv::DOUBLE))
                           / n::DOUBLE) AS BIGINT) AS sigma_fp
         FROM s),
       ww AS (SELECT *, n * sigma_fp AS wgt FROM w),
       z AS (SELECT sum(wgt)::BIGINT AS zw, sum(n)::BIGINT AS zn FROM ww)
       SELECT source, n AS n_docs,
              round(sigma_fp / 1000000.0, 6) AS sigma,
              CAST(round({_NEYMAN_BUDGET}.0 * wgt::DOUBLE / z.zw::DOUBLE) AS BIGINT)
                AS alloc_neyman,
              CAST(round({_NEYMAN_BUDGET}.0 * n::DOUBLE / z.zn::DOUBLE) AS BIGINT)
                AS alloc_proportional
       FROM ww CROSS JOIN z""",
)
def q_neyman_allocation(spark, sf_dir):
    """Neyman optimal stratified-sample allocation (Neyman, JRSS 1934):
    a {_NEYMAN_BUDGET}-row audit budget is split across sources
    ∝ N_h·σ_h (population std of doc length) — minimizing estimator
    variance — next to the naive proportional split, so the gap shows
    which strata are over/under-sampled by uniform auditing. σ_h comes
    from exact int64/HUGEINT sufficient stats via √(nQ−S²)/n rounded
    ONCE to micro-units; weights are exact int64 products; the two
    normalizing divisions are the only further floats. Plan: one
    stratum census; everything after is S-grain. Composes with
    `stratified_sample` for the actual draw."""
    dec = "decimal(38,0)"
    d = _docs(spark, sf_dir)
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sv"),
        F.sum(F.col("n_chars").cast(dec) * F.col("n_chars").cast(dec)).cast(dec).alias("q"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    w = s.select(
        "source", "n",
        F.round(
            F.lit(1e6)
            * F.sqrt(d_("n") * d_("q") - d_("sv") * d_("sv"))
            / d_("n"),
            0,
        ).cast("long").alias("sigma_fp"),
    )
    ww = w.select("*", (F.col("n") * F.col("sigma_fp")).alias("wgt"))
    z = ww.agg(F.sum("wgt").cast("long").alias("zw"), F.sum("n").cast("long").alias("zn"))
    return ww.crossJoin(F.broadcast(z)).select(
        "source", F.col("n").alias("n_docs"),
        F.round(F.col("sigma_fp") / F.lit(1e6), 6).alias("sigma"),
        F.round(F.lit(float(_NEYMAN_BUDGET)) * d_("wgt") / d_("zw"), 0).cast("long").alias("alloc_neyman"),
        F.round(F.lit(float(_NEYMAN_BUDGET)) * d_("n") / d_("zn"), 0).cast("long").alias("alloc_proportional"),
    )



# --------------------------------------------------------------------------
# batch 34: mergeable KMV rollup, difference-in-differences, Markov eval

_KMVR_K = 32



def _kmv_rollup_sql(k: int = _KMVR_K) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    h = md5_int_sql("CAST(user_id AS VARCHAR)")
    return f"""WITH uh AS (
         SELECT DISTINCT date_trunc('day', ts)::TIMESTAMP AS day,
                date_trunc('week', ts)::TIMESTAMP AS week,
                {h}::BIGINT AS h
         FROM events),
       daily AS (
         SELECT day, week, h,
                row_number() OVER (PARTITION BY day ORDER BY h) AS rnk
         FROM uh),
       dsk AS (SELECT day, week, h FROM daily WHERE rnk <= {k}),
       merged AS (
         SELECT week, h, row_number() OVER (PARTITION BY week ORDER BY h) AS rnk
         FROM (SELECT DISTINCT week, h FROM dsk)),
       wsk AS (
         SELECT week, count(*)::BIGINT AS in_sketch,
                max(CASE WHEN rnk = {k} THEN h END)::BIGINT AS v_k
         FROM merged WHERE rnk <= {k} GROUP BY week),
       exact AS (
         SELECT week, count(DISTINCT h)::BIGINT AS exact_users,
                count(DISTINCT day)::BIGINT AS n_days
         FROM uh GROUP BY week)
       SELECT exact.week, exact.n_days, exact.exact_users,
              CASE WHEN wsk.in_sketch < {k} THEN wsk.in_sketch::DOUBLE
                   ELSE round(({k} - 1)::DOUBLE * {_H60}::DOUBLE / wsk.v_k::DOUBLE, 4)
              END AS est_users,
              round((CASE WHEN wsk.in_sketch < {k} THEN wsk.in_sketch::DOUBLE
                          ELSE round(({k} - 1)::DOUBLE * {_H60}::DOUBLE / wsk.v_k::DOUBLE, 4)
                     END - exact_users::DOUBLE) / exact_users::DOUBLE, 6) AS rel_err
       FROM exact JOIN wsk USING (week)"""



@query("kmv_rollup", _kmv_rollup_sql())
def q_kmv_rollup(spark, sf_dir):
    """Mergeable distinct-count rollup: per-DAY KMV bottom-k sketches of
    active users, merged day→week by taking the k smallest of the
    unioned sketch values — the weekly estimate touches ONLY k×7 sketch
    rows, never the raw events again (the `rollup.multires_rollup`
    pattern for COUNT DISTINCT, which plain partial sums can't roll
    up). Audited
    against the exact weekly distinct count; if every constituent day
    stayed under k the merged sketch is provably exact and the estimate
    collapses to it. Plan: one distinct (day, user-hash) census, two
    bottom-k windows at day and week grain — at 100 TB the daily sketch
    table is the only thing the weekly/monthly/yearly jobs read."""
    from pliers_spark.functions.hashing import md5_int

    ev = _events(spark, sf_dir)
    uh = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
        md5_int(F.col("user_id").cast("string")).alias("h"),
    ).distinct().stableCheckpoint(eager=True)  # feeds sketches AND exact truth
    wd = Window.partitionBy("day").orderBy("h")
    dsk = uh.select("day", "week", "h", F.row_number().over(wd).alias("rnk")).where(
        F.col("rnk") <= _KMVR_K
    )
    ww = Window.partitionBy("week").orderBy("h")
    merged = (
        dsk.select("week", "h").distinct()
        .select("week", "h", F.row_number().over(ww).alias("rnk"))
        .where(F.col("rnk") <= _KMVR_K)
    )
    wsk = merged.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("in_sketch"),
        F.max(F.when(F.col("rnk") == _KMVR_K, F.col("h"))).cast("long").alias("v_k"),
    )
    exact = uh.groupBy("week").agg(
        F.count_distinct("h").cast("long").alias("exact_users"),
        F.count_distinct("day").cast("long").alias("n_days"),
    )
    est = F.when(
        F.col("in_sketch") < _KMVR_K, F.col("in_sketch").cast("double")
    ).otherwise(
        F.round(F.lit(float(_KMVR_K - 1)) * F.lit(float(_H60)) / F.col("v_k").cast("double"), 4)
    )
    return exact.join(wsk, "week").select(
        "week", "n_days", "exact_users",
        est.alias("est_users"),
        F.round((est - F.col("exact_users").cast("double")) / F.col("exact_users").cast("double"), 6).alias("rel_err"),
    )



@query(
    "diff_in_diff",
    """WITH v AS (
         SELECT (user_id % 2 = 0) AS treat, epoch_us(ts)::BIGINT AS t_us,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp,
                event_id
         FROM events),
       r AS (SELECT *, row_number() OVER (ORDER BY t_us, event_id) AS rn,
                    count(*) OVER () AS nn FROM v),
       med AS (SELECT max(t_us) AS m FROM r WHERE rn <= (nn + 1) // 2),
       cells AS (
         SELECT treat, (t_us > med.m) AS post,
                count(*)::BIGINT AS n, sum(v_fp)::BIGINT AS s
         FROM v CROSS JOIN med GROUP BY 1, 2),
       wide AS (
         SELECT
           max(CASE WHEN treat AND post THEN s END)::BIGINT AS s11,
           max(CASE WHEN treat AND post THEN n END)::BIGINT AS n11,
           max(CASE WHEN treat AND NOT post THEN s END)::BIGINT AS s10,
           max(CASE WHEN treat AND NOT post THEN n END)::BIGINT AS n10,
           max(CASE WHEN NOT treat AND post THEN s END)::BIGINT AS s01,
           max(CASE WHEN NOT treat AND post THEN n END)::BIGINT AS n01,
           max(CASE WHEN NOT treat AND NOT post THEN s END)::BIGINT AS s00,
           max(CASE WHEN NOT treat AND NOT post THEN n END)::BIGINT AS n00
         FROM cells)
       SELECT n11, n10, n01, n00,
              round(((s11::DOUBLE / n11 - s10::DOUBLE / n10)
                     - (s01::DOUBLE / n01 - s00::DOUBLE / n00)) / 1000000.0, 6) AS did
       FROM wide""",
)
def q_diff_in_diff(spark, sf_dir):
    """Difference-in-differences estimator (the Card-Krueger design):
    treatment = even user ids, post = events after the EXACT global
    median timestamp (integer-rank median, deterministic cutoff), DiD =
    (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre) — the
    parallel-trends causal readout every experimentation platform
    reports next to the naive post-mean gap. Four cell means from exact
    int64 sufficient stats; ONE identical double expression both
    engines. Plan: global rank for the cutoff (two-pass histogram at
    scale), one 4-cell census."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    v = ev.select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        epoch_micros(ev, "ts").cast("long").alias("t_us"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
        "event_id",
    )
    n_all = v.count()
    wr = Window.orderBy("t_us", "event_id")
    med = (
        v.select("t_us", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") <= (n_all + 1) // 2)
        .agg(F.max("t_us").alias("m"))
    )
    cells = (
        v.crossJoin(F.broadcast(med))
        .groupBy("treat", (F.col("t_us") > F.col("m")).alias("post"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v_fp").cast("long").alias("s"))
    )
    def cell(t, p, c):
        return F.max(F.when((F.col("treat") == t) & (F.col("post") == p), F.col(c))).cast("long")
    wide = cells.agg(
        cell(True, True, "s").alias("s11"), cell(True, True, "n").alias("n11"),
        cell(True, False, "s").alias("s10"), cell(True, False, "n").alias("n10"),
        cell(False, True, "s").alias("s01"), cell(False, True, "n").alias("n01"),
        cell(False, False, "s").alias("s00"), cell(False, False, "n").alias("n00"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    did = (
        (d_("s11") / d_("n11") - d_("s10") / d_("n10"))
        - (d_("s01") / d_("n01") - d_("s00") / d_("n00"))
    ) / F.lit(1e6)
    return wide.select("n11", "n10", "n01", "n00", F.round(did, 6).alias("did"))



@query(
    "markov_accuracy",
    """WITH r AS (
         SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events),
       tr AS (
         SELECT a.event_type AS prev, b.event_type AS nxt, b.rn AS nrn
         FROM r a JOIN r b ON a.user_id = b.user_id AND b.rn = a.rn + 1),
       train AS (SELECT prev, nxt FROM tr WHERE nrn % 2 = 0),
       test AS (SELECT prev, nxt FROM tr WHERE nrn % 2 = 1),
       model AS (
         SELECT prev, nxt AS pred FROM (
           SELECT prev, nxt, count(*) AS c,
                  row_number() OVER (PARTITION BY prev ORDER BY count(*) DESC, nxt) AS rk
           FROM train GROUP BY prev, nxt) WHERE rk = 1),
       maj AS (
         SELECT nxt AS pred FROM (
           SELECT nxt, count(*) AS c,
                  row_number() OVER (ORDER BY count(*) DESC, nxt) AS rk
           FROM train GROUP BY nxt) WHERE rk = 1),
       sc AS (
         SELECT count(*)::BIGINT AS n_test,
                sum((t.nxt = m.pred)::INT)::BIGINT AS hit_markov,
                sum((t.nxt = maj.pred)::INT)::BIGINT AS hit_majority
         FROM test t LEFT JOIN model m ON m.prev = t.prev CROSS JOIN maj)
       SELECT (SELECT count(*) FROM train)::BIGINT AS n_train, n_test,
              round(hit_markov::DOUBLE / n_test, 6) AS acc_markov,
              round(hit_majority::DOUBLE / n_test, 6) AS acc_majority
       FROM sc""",
)
def q_markov_accuracy(spark, sf_dir):
    """Held-out next-event prediction accuracy of the first-order
    Markov model vs the majority-class baseline: transitions split by
    parity of their target position (a deterministic interleaved
    train/test split that can't leak a user's whole series into one
    side), the model is argmax of the train transition census (count
    then type tiebreak), and the lift of acc_markov over acc_majority
    is the standard 'is sequence structure real?' check before anyone
    ships a session-based recommender. All counts exact; two final
    divisions. Plan: one user-key window, a self-join on the SAME key
    (co-partitioned), two tiny censuses, broadcast model join."""
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select("user_id", "event_type", F.row_number().over(wu).alias("rn")).stableCheckpoint(eager=True)
    a = r.select("user_id", F.col("event_type").alias("prev"), F.col("rn").alias("ra"))
    b = r.select("user_id", F.col("event_type").alias("nxt"), F.col("rn").alias("nrn"))
    tr = a.join(b, "user_id").where(F.col("nrn") == F.col("ra") + 1).select(
        "prev", "nxt", "nrn"
    ).stableCheckpoint(eager=True)
    train = tr.where(F.col("nrn") % 2 == 0).select("prev", "nxt")
    test = tr.where(F.col("nrn") % 2 == 1).select("prev", "nxt")
    tc = train.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wm = Window.partitionBy("prev").orderBy(F.desc("c"), "nxt")
    model = tc.select("prev", F.col("nxt").alias("pred"), F.row_number().over(wm).alias("rk")).where(
        F.col("rk") == 1
    ).drop("rk")
    mj = tc.groupBy("nxt").agg(F.sum("c").alias("c"))
    maj = mj.orderBy(F.desc("c"), "nxt").limit(1).select(F.col("nxt").alias("mpred"))
    sc = (
        test.join(F.broadcast(model), "prev", "left")
        .crossJoin(F.broadcast(maj))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum((F.col("nxt") == F.col("pred")).cast("int")).cast("long").alias("hit_markov"),
            F.sum((F.col("nxt") == F.col("mpred")).cast("int")).cast("long").alias("hit_majority"),
        )
    )
    n_train = train.count()
    return sc.select(
        F.lit(n_train).cast("long").alias("n_train"),
        "n_test",
        F.round(F.col("hit_markov").cast("double") / F.col("n_test"), 6).alias("acc_markov"),
        F.round(F.col("hit_majority").cast("double") / F.col("n_test"), 6).alias("acc_majority"),
    )



# --------------------------------------------------------------------------
# batch 35: MDE power analysis, CUPED variance reduction, SPRT crossing

_Z_ALPHA2 = 1.959964  # two-sided 5%

_Z_BETA = 0.841621    # 80% power



@query(
    "mde_power",
    f"""WITH v AS (
         SELECT (user_id % 2 = 0) AS arm_a,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       g AS (
         SELECT count(*)::BIGINT AS n, sum(v_fp)::BIGINT AS s,
                sum(v_fp::HUGEINT * v_fp::HUGEINT) AS q,
                sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS n_a
         FROM v)
       SELECT n_a, (n - n_a)::BIGINT AS n_b,
              round(sqrt(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
                    / 1000000.0, 6) AS sigma,
              round(({_Z_ALPHA2} + {_Z_BETA})
                    * sqrt(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
                    * sqrt(2.0 / least(n_a, n - n_a)::DOUBLE) / 1000000.0, 6) AS mde_abs,
              round(({_Z_ALPHA2} + {_Z_BETA})
                    * sqrt(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
                    * sqrt(2.0 / least(n_a, n - n_a)::DOUBLE) / (s::DOUBLE / n), 6)
                AS mde_rel
       FROM g""",
)
def q_mde_power(spark, sf_dir):
    """Minimum detectable effect at 80% power / 5% two-sided α for the
    even-vs-odd-user experiment split: MDE = (z_{{α/2}}+z_β)·σ·√(2/n)
    with n the smaller arm — the pre-registration number every A/B
    design doc states before launch (complements `ab_test_stats`'s
    post-hoc read). σ comes from exact int64/HUGEINT sufficient stats;
    the z constants are shared literals so both engines evaluate the
    identical expression. Plan: ONE corpus census row; no shuffle
    beyond the partial agg."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        (F.col("user_id") % 2 == 0).alias("arm_a"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    dec = "decimal(38,0)"
    g = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_fp").cast("long").alias("s"),
        F.sum(F.col("v_fp").cast(dec) * F.col("v_fp").cast(dec)).cast(dec).alias("q"),
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("long").alias("n_a"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    sig = F.sqrt(d_("q") / d_("n") - (d_("s") / d_("n")) * (d_("s") / d_("n")))
    nmin = F.least(F.col("n_a"), F.col("n") - F.col("n_a")).cast("double")
    mde = F.lit(_Z_ALPHA2 + _Z_BETA) * sig * F.sqrt(F.lit(2.0) / nmin)
    return g.select(
        "n_a", (F.col("n") - F.col("n_a")).cast("long").alias("n_b"),
        F.round(sig / F.lit(1e6), 6).alias("sigma"),
        F.round(mde / F.lit(1e6), 6).alias("mde_abs"),
        F.round(mde / (d_("s") / d_("n")), 6).alias("mde_rel"),
    )



@query(
    "cuped_adjustment",
    """WITH v AS (
         SELECT user_id, epoch_us(ts)::BIGINT AS t_us,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp, event_id
         FROM events),
       r AS (SELECT *, row_number() OVER (ORDER BY t_us, event_id) AS rn,
                    count(*) OVER () AS nn FROM v),
       med AS (SELECT max(t_us) AS m FROM r WHERE rn <= (nn + 1) // 2),
       per_u AS (
         SELECT user_id,
                CAST(round(sum(CASE WHEN t_us <= med.m THEN v_fp END)::DOUBLE
                           / count(CASE WHEN t_us <= med.m THEN 1 END)) AS BIGINT) AS x_fp,
                CAST(round(sum(CASE WHEN t_us > med.m THEN v_fp END)::DOUBLE
                           / count(CASE WHEN t_us > med.m THEN 1 END)) AS BIGINT) AS y_fp
         FROM v CROSS JOIN med GROUP BY user_id
         HAVING count(CASE WHEN t_us <= med.m THEN 1 END) > 0
            AND count(CASE WHEN t_us > med.m THEN 1 END) > 0),
       st AS (
         SELECT count(*)::BIGINT AS n,
                sum(x_fp)::BIGINT AS sx, sum(y_fp)::BIGINT AS sy,
                sum(x_fp::HUGEINT * x_fp::HUGEINT) AS qx,
                sum(y_fp::HUGEINT * y_fp::HUGEINT) AS qy,
                sum(x_fp::HUGEINT * y_fp::HUGEINT) AS qxy
         FROM per_u)
       SELECT n,
              CASE WHEN n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
                   THEN round((n::DOUBLE * qxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                              / (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
              END AS theta,
              CASE WHEN (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                    AND (n::DOUBLE * qy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                   THEN round((n::DOUBLE * qxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                              * (n::DOUBLE * qxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                              / ((n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                                 * (n::DOUBLE * qy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
              END AS var_reduction
       FROM st""",
)
def q_cuped_adjustment(spark, sf_dir):
    """CUPED pre-period covariate adjustment (Deng, Xu, Kohavi & Walker,
    WSDM 2013): per user, pre-period mean (before the exact global
    median timestamp) as covariate X and post-period mean as metric Y;
    θ = cov(X,Y)/var(X) and the guaranteed variance reduction
    var(Y−θX)/var(Y) − 1 = −ρ² — the single highest-leverage trick in
    industrial A/B testing (same metric, ρ²-fraction less sample
    needed). Per-user means round once to micro-units; moments are
    exact int64/HUGEINT; θ and ρ² are identical double expressions.
    Plan: global-median rank pass + one user census + one moment row."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    v = ev.select(
        "user_id", epoch_micros(ev, "ts").cast("long").alias("t_us"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
        "event_id",
    )
    n_all = v.count()
    wr = Window.orderBy("t_us", "event_id")
    med = (
        v.select("t_us", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") <= (n_all + 1) // 2)
        .agg(F.max("t_us").alias("m"))
    )
    pre = F.when(F.col("t_us") <= F.col("m"), F.col("v_fp"))
    post = F.when(F.col("t_us") > F.col("m"), F.col("v_fp"))
    per_u = (
        v.crossJoin(F.broadcast(med))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(pre).cast("double") / F.count(pre), 0).cast("long").alias("x_fp"),
            F.round(F.sum(post).cast("double") / F.count(post), 0).cast("long").alias("y_fp"),
            F.count(pre).alias("n_pre"),
            F.count(post).alias("n_post"),
        )
        .where((F.col("n_pre") > 0) & (F.col("n_post") > 0))
    )
    dec = "decimal(38,0)"
    st = per_u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_fp").cast("long").alias("sx"),
        F.sum("y_fp").cast("long").alias("sy"),
        F.sum(F.col("x_fp").cast(dec) * F.col("x_fp").cast(dec)).cast(dec).alias("qx"),
        F.sum(F.col("y_fp").cast(dec) * F.col("y_fp").cast(dec)).cast(dec).alias("qy"),
        F.sum(F.col("x_fp").cast(dec) * F.col("y_fp").cast(dec)).cast(dec).alias("qxy"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    vx = d_("n") * d_("qx") - d_("sx") * d_("sx")
    vy = d_("n") * d_("qy") - d_("sy") * d_("sy")
    cv = d_("n") * d_("qxy") - d_("sx") * d_("sy")
    return st.select(
        "n",
        F.when(vx > 0, F.round(cv / vx, 6)).alias("theta"),
        F.when((vx > 0) & (vy > 0), F.round(cv * cv / (vx * vy), 6)).alias("var_reduction"),
    )



_SPRT_LLR1 = 182_322    # round(1e6·ln(0.6/0.5))

_SPRT_LLR0 = -223_144   # round(1e6·ln(0.4/0.5))

_SPRT_BOUND = 2_944_439  # round(1e6·ln(19)) — α = β = 0.05



@query(
    "sprt_crossing",
    f"""WITH v AS (
         SELECT event_id, epoch_us(ts)::BIGINT AS t_us,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       r AS (SELECT *, row_number() OVER (ORDER BY t_us, event_id) AS rn,
                    count(*) OVER () AS nn FROM v),
       med AS (SELECT max(v_fp) AS m
               FROM (SELECT v_fp, row_number() OVER (ORDER BY v_fp, event_id) AS vr,
                            count(*) OVER () AS vn FROM v)
               WHERE vr <= (vn + 1) // 2),
       llr AS (
         SELECT r.rn,
                sum(CASE WHEN r.v_fp >= med.m THEN {_SPRT_LLR1}
                         ELSE {_SPRT_LLR0} END)
                  OVER (ORDER BY r.rn)::BIGINT AS cum
         FROM r CROSS JOIN med),
       crossing AS (
         SELECT rn, cum,
                CASE WHEN cum >= {_SPRT_BOUND} THEN 'h1'
                     WHEN cum <= -{_SPRT_BOUND} THEN 'h0' END AS hit
         FROM llr),
       first_hit AS (
         SELECT rn, hit FROM crossing WHERE hit IS NOT NULL
         ORDER BY rn LIMIT 1)
       SELECT (SELECT max(rn) FROM llr)::BIGINT AS n,
              coalesce((SELECT rn FROM first_hit), 0)::BIGINT AS first_cross,
              coalesce((SELECT hit FROM first_hit), 'none') AS decision,
              (SELECT cum FROM llr WHERE rn = (SELECT max(rn) FROM llr))::BIGINT
                AS llr_final_fp""",
)
def q_sprt_crossing(spark, sf_dir):
    """Wald sequential probability ratio test replay (Wald 1945): the
    time-ordered stream of above-median indicators accumulates
    log-likelihood ratio for p=0.6 vs p=0.5 in once-rounded integer
    micro-nats; the FIRST crossing of ±ln(19) (α=β=0.05) is the early-
    stopping decision every sequential experimentation / monitoring
    system implements — the replay says when the experiment COULD have
    stopped. Integer cumsum = order-proof; the global ordered scan is
    one window (two-pass range partitioning at scale, as documented in
    sequence_pack). Reward threshold is the exact integer-rank median
    so the replay is self-contained and deterministic."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_id", epoch_micros(ev, "ts").cast("long").alias("t_us"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    ).stableCheckpoint(eager=True)  # feeds median rank AND the ordered scan
    n_all = v.count()
    wv = Window.orderBy("v_fp", "event_id")
    med = (
        v.select("v_fp", F.row_number().over(wv).alias("vr"))
        .where(F.col("vr") <= (n_all + 1) // 2)
        .agg(F.max("v_fp").alias("m"))
    )
    wr = Window.orderBy("t_us", "event_id")
    wc = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    llr = (
        v.crossJoin(F.broadcast(med))
        .select(
            F.row_number().over(wr).alias("rn"),
            F.when(F.col("v_fp") >= F.col("m"), F.lit(_SPRT_LLR1))
            .otherwise(F.lit(_SPRT_LLR0))
            .alias("step"),
        )
        .select("rn", F.sum("step").over(wc).cast("long").alias("cum"))
        .stableCheckpoint(eager=True)  # feeds first-hit scan AND final row
    )
    hit = F.when(F.col("cum") >= _SPRT_BOUND, F.lit("h1")).when(
        F.col("cum") <= -_SPRT_BOUND, F.lit("h0")
    )
    first = (
        llr.select("rn", "cum", hit.alias("hit"))
        .where(F.col("hit").isNotNull())
        .orderBy("rn")
        .limit(1)
        .select(F.col("rn").alias("first_cross"), F.col("hit").alias("decision"))
    )
    final = llr.orderBy(F.desc("rn")).limit(1).select(
        F.col("rn").alias("n"), F.col("cum").alias("llr_final_fp")
    )
    return (
        final.crossJoin(
            first.unionAll(
                spark.createDataFrame([(0, "none")], "first_cross long, decision string")
            ).limit(1)
        )
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("first_cross").cast("long").alias("first_cross"),
            "decision",
            F.col("llr_final_fp").cast("long").alias("llr_final_fp"),
        )
    )



# --------------------------------------------------------------------------
# batch 36: Jensen-Shannon source drift, conformal coverage, budget curation

_JSD_V = 100



def _jsd_sql(v: int = _JSD_V) -> str:
    return f"""WITH toks AS (
         SELECT source, unnest(string_split(trim(text), ' ')) AS token FROM documents),
       cnt AS (SELECT source, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       topv AS (
         SELECT token FROM (SELECT token, sum(c) AS tc FROM cnt GROUP BY token)
         ORDER BY tc DESC, token LIMIT {v}),
       mapped AS (
         SELECT cnt.source,
                CASE WHEN topv.token IS NOT NULL THEN cnt.token ELSE '<other>' END AS tok,
                sum(cnt.c)::BIGINT AS c
         FROM cnt LEFT JOIN topv ON topv.token = cnt.token
         GROUP BY 1, 2),
       ns AS (SELECT source, sum(c)::BIGINT AS n FROM mapped GROUP BY source),
       pr AS (SELECT a.source AS src_a, a.n AS na, b.source AS src_b, b.n AS nb
              FROM ns a JOIN ns b ON a.source < b.source),
       cells AS (
         SELECT pr.src_a, pr.src_b, pr.na, pr.nb, t.tok,
                coalesce(ca.c, 0) AS a, coalesce(cb.c, 0) AS b
         FROM pr CROSS JOIN (SELECT DISTINCT tok FROM mapped) t
         LEFT JOIN mapped ca ON ca.source = pr.src_a AND ca.tok = t.tok
         LEFT JOIN mapped cb ON cb.source = pr.src_b AND cb.tok = t.tok),
       terms AS (
         SELECT src_a, src_b, na, nb,
                CASE WHEN a > 0
                     THEN a * CAST(round(1000000.0 * ln(2.0 * a::DOUBLE * nb::DOUBLE
                                   / (a::DOUBLE * nb::DOUBLE + b::DOUBLE * na::DOUBLE)))
                              AS BIGINT) ELSE 0 END AS ta,
                CASE WHEN b > 0
                     THEN b * CAST(round(1000000.0 * ln(2.0 * b::DOUBLE * na::DOUBLE
                                   / (a::DOUBLE * nb::DOUBLE + b::DOUBLE * na::DOUBLE)))
                              AS BIGINT) ELSE 0 END AS tb
         FROM cells)
       SELECT src_a, src_b,
              round((sum(ta)::DOUBLE / na + sum(tb)::DOUBLE / nb) / 2000000.0, 6) AS jsd
       FROM terms GROUP BY src_a, src_b, na, nb"""



@query("source_jsd", _jsd_sql())
def q_source_jsd(spark, sf_dir):
    """Jensen-Shannon divergence between source token distributions
    (Lin, IEEE-IT 1991): the symmetric, bounded (≤ ln 2) drift metric —
    unlike `source_kl` it tolerates zero-frequency tokens without
    smoothing, and unlike `wasserstein_1d` it compares CATEGORY
    distributions. Vocabulary is the global top-{_JSD_V} plus an
    '<other>' bucket so the cell grid stays bounded at any corpus
    size. Each cell's ln rounds once to micro-nats against its exact
    integer count; the two per-source sums divide by their totals at
    the very end. Plan: one census shuffle, pair×vocab dimension grid."""
    d = _docs(spark, sf_dir)
    toks = d.select("source", F.explode(T.tokenize(F.col("text"))).alias("token"))
    cnt = toks.groupBy("source", "token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    topv = (
        cnt.groupBy("token").agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), "token").limit(_JSD_V).select("token", F.lit(1).alias("keep"))
    )
    mapped = (
        cnt.join(F.broadcast(topv), "token", "left")
        .select(
            "source",
            F.when(F.col("keep") == 1, F.col("token")).otherwise(F.lit("<other>")).alias("tok"),
            "c",
        )
        .groupBy("source", "tok")
        .agg(F.sum("c").cast("long").alias("c"))
        .stableCheckpoint(eager=True)  # feeds totals, vocab dim, and both cell sides
    )
    ns = mapped.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    pr = (
        ns.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
        .join(
            ns.select(F.col("source").alias("src_b"), F.col("n").alias("nb")),
            F.col("src_a") < F.col("src_b"),
        )
    )
    vocab = mapped.select("tok").distinct()
    cells = (
        pr.crossJoin(vocab)
        .join(
            mapped.select(F.col("source").alias("src_a"), "tok", F.col("c").alias("a")),
            ["src_a", "tok"], "left",
        )
        .join(
            mapped.select(F.col("source").alias("src_b"), "tok", F.col("c").alias("b")),
            ["src_b", "tok"], "left",
        )
        .select(
            "src_a", "src_b", "na", "nb",
            F.coalesce("a", F.lit(0)).alias("a"), F.coalesce("b", F.lit(0)).alias("b"),
        )
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    den = d_("a") * d_("nb") + d_("b") * d_("na")
    ta = F.when(
        F.col("a") > 0,
        F.col("a") * F.round(F.lit(1e6) * F.log(F.lit(2.0) * d_("a") * d_("nb") / den), 0).cast("long"),
    ).otherwise(F.lit(0))
    tb = F.when(
        F.col("b") > 0,
        F.col("b") * F.round(F.lit(1e6) * F.log(F.lit(2.0) * d_("b") * d_("na") / den), 0).cast("long"),
    ).otherwise(F.lit(0))
    return (
        cells.select("src_a", "src_b", "na", "nb", ta.alias("ta"), tb.alias("tb"))
        .groupBy("src_a", "src_b", "na", "nb")
        .agg(
            F.round(
                (F.sum("ta").cast("double") / F.col("na") + F.sum("tb").cast("double") / F.col("nb"))
                / F.lit(2e6),
                6,
            ).alias("jsd")
        )
        .select("src_a", "src_b", "jsd")
    )



@query(
    "conformal_coverage",
    """WITH v AS (
         SELECT event_id, event_type,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp,
                event_id % 3 AS fold
         FROM events),
       model AS (
         SELECT event_type,
                CAST(round(sum(v_fp)::DOUBLE / count(*)) AS BIGINT) AS pred
         FROM v WHERE fold = 0 GROUP BY event_type),
       cal AS (
         SELECT abs(v.v_fp - m.pred)::BIGINT AS r
         FROM v JOIN model m USING (event_type) WHERE fold = 1),
       qh AS (
         SELECT max(r)::BIGINT AS q_hat, max(n)::BIGINT AS n_cal FROM (
           SELECT r, row_number() OVER (ORDER BY r) AS rn, count(*) OVER () AS n
           FROM cal) WHERE rn <= CAST(ceil(0.9 * (n + 1)) AS BIGINT)),
       test AS (
         SELECT abs(v.v_fp - m.pred)::BIGINT AS r
         FROM v JOIN model m USING (event_type) WHERE fold = 2)
       SELECT qh.n_cal, count(*)::BIGINT AS n_test, qh.q_hat,
              round(sum((test.r <= qh.q_hat)::INT)::DOUBLE / count(*), 6) AS coverage
       FROM test CROSS JOIN qh GROUP BY qh.n_cal, qh.q_hat""",
)
def q_conformal_coverage(spark, sf_dir):
    """Split-conformal prediction-interval calibration (Vovk 2005;
    Angelopoulos & Bates 2023 tutorial): train a per-event-type mean
    predictor on fold 0, take q̂ = the ⌈0.9(n+1)⌉-th smallest absolute
    residual on calibration fold 1, and report empirical coverage of
    |y−ŷ| ≤ q̂ on held-out fold 2 — the distribution-free guarantee
    check that modern ML-deployment pipelines run on every model. The
    deterministic event_id%3 folds make the audit reproducible;
    residuals and the rank quantile are exact integers; coverage is
    one division. Plan: one fold census for the model (broadcast dim),
    one rank window on the calibration residuals (cal-fold-sized)."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_id", "event_type",
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
        (F.col("event_id") % 3).alias("fold"),
    ).stableCheckpoint(eager=True)
    model = (
        v.where(F.col("fold") == 0)
        .groupBy("event_type")
        .agg(F.round(F.sum("v_fp").cast("double") / F.count(F.lit(1)), 0).cast("long").alias("pred"))
    )
    cal = v.where(F.col("fold") == 1).join(F.broadcast(model), "event_type").select(
        F.abs(F.col("v_fp") - F.col("pred")).cast("long").alias("r")
    )
    # CENSUS GRAIN (r4): the ⌈0.9(n+1)⌉-th smallest residual is the
    # least census value whose cumulative count reaches that rank
    # (operators/census.py) — no global rank window over residual rows.
    from pliers_spark.operators.census import with_census_ranks

    cells = with_census_ranks(
        cal.groupBy("r").agg(F.count(F.lit(1)).alias("cnt")), "r", le="cum_le"
    )
    ncal = cal.agg(F.count(F.lit(1)).alias("n"))
    k_eff = F.least(
        F.ceil(F.lit(0.9) * (F.col("n") + 1)).cast("long"), F.col("n")
    )
    qh = (
        cells.crossJoin(F.broadcast(ncal))
        .where(F.col("cum_le") >= k_eff)
        .agg(F.min("r").cast("long").alias("q_hat"), F.max("n").cast("long").alias("n_cal"))
    )
    test = v.where(F.col("fold") == 2).join(F.broadcast(model), "event_type").select(
        F.abs(F.col("v_fp") - F.col("pred")).cast("long").alias("r")
    )
    return (
        test.crossJoin(F.broadcast(qh))
        .groupBy("n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(
                F.sum((F.col("r") <= F.col("q_hat")).cast("int")).cast("double") / F.count(F.lit(1)), 6
            ).alias("coverage"),
        )
        .select("n_cal", "n_test", "q_hat", "coverage")
    )



def _budget_sql() -> str:
    return f"""WITH q AS (SELECT * FROM ({_QUALITY_ORACLE}) t),
       w AS (
         SELECT d.doc_id,
                len(string_split(trim(d.text), ' '))::BIGINT AS toks,
                CAST(round(q.quality * 1000000.0) AS BIGINT) AS q_fp
         FROM documents d JOIN q ON q.doc_id = d.doc_id
         WHERE len(string_split(trim(d.text), ' ')) > 0),
       tot AS (SELECT (sum(toks) // 5)::BIGINT AS budget FROM w),
       ranked AS (
         SELECT *, CAST(round(1000000000.0 * q_fp / toks) AS BIGINT) AS ratio_fp
         FROM w),
       cum AS (
         SELECT *, sum(toks) OVER (ORDER BY ratio_fp DESC, doc_id) AS cum_toks
         FROM ranked),
       flagged AS (SELECT cum.*, (cum_toks <= tot.budget) AS kept FROM cum CROSS JOIN tot)
       SELECT max(tot.budget)::BIGINT AS budget,
              sum(kept::INT)::BIGINT AS n_kept,
              sum(CASE WHEN kept THEN toks ELSE 0 END)::BIGINT AS tokens_kept,
              round(sum(CASE WHEN kept THEN q_fp ELSE 0 END)::DOUBLE
                    / (1000000.0 * sum(kept::INT)), 6) AS avg_q_kept,
              round(sum(CASE WHEN NOT kept THEN q_fp ELSE 0 END)::DOUBLE
                    / (1000000.0 * sum((NOT kept)::INT)), 6) AS avg_q_dropped
       FROM flagged CROSS JOIN tot GROUP BY tot.budget"""



@query("budget_select", _budget_sql())
def q_budget_select(spark, sf_dir):
    """Budget-constrained greedy curation (the fractional-knapsack
    ratio rule): rank documents by quality-per-token and keep the
    prefix that fits a 20%-of-corpus token budget — the selection move
    every 'train on the best X tokens' pipeline makes, reported as
    kept/dropped quality separation. Ratios round once to integer
    nano-units (total order, deterministic ties by doc id); the
    running token total is one global ordered window (two-pass range
    partitioning at scale, as documented in sequence_pack). Output is
    a single audit row."""
    d = _docs(spark, sf_dir)
    n_t = F.size(T.tokenize(F.col("text"))).cast("long")
    w = d.select(
        "doc_id", n_t.alias("toks"),
        F.round(T.quality_score("text") * F.lit(1e6), 0).cast("long").alias("q_fp"),
    ).where(F.col("toks") > 0).stableCheckpoint(eager=True)
    budget = w.agg((F.floor(F.sum("toks") / 5)).cast("long").alias("budget"))
    ranked = w.select(
        "*", F.round(F.lit(1e9) * F.col("q_fp") / F.col("toks"), 0).cast("long").alias("ratio_fp")
    )
    # CENSUS GRAIN (r4): the running token total is the two-pass
    # range-partitioned prefix scan for real (operators/census.py;
    # descending ratio order via negation), not one global window.
    from pliers_spark.operators.census import scalable_running_sum

    cum = scalable_running_sum(
        ranked.withColumn("_negr", -F.col("ratio_fp")),
        "toks", "_negr", out="cum_toks", tiebreak=("doc_id",),
    ).drop("_negr")
    flagged = cum.crossJoin(F.broadcast(budget)).select(
        "*", (F.col("cum_toks") <= F.col("budget")).alias("kept")
    )
    return flagged.groupBy("budget").agg(
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("toks")).otherwise(0)).cast("long").alias("tokens_kept"),
        F.round(
            F.sum(F.when(F.col("kept"), F.col("q_fp")).otherwise(0)).cast("double")
            / (F.lit(1e6) * F.sum(F.col("kept").cast("int"))),
            6,
        ).alias("avg_q_kept"),
        F.round(
            F.sum(F.when(~F.col("kept"), F.col("q_fp")).otherwise(0)).cast("double")
            / (F.lit(1e6) * F.sum((~F.col("kept")).cast("int"))),
            6,
        ).alias("avg_q_dropped"),
    ).select("budget", "n_kept", "tokens_kept", "avg_q_kept", "avg_q_dropped")



# --------------------------------------------------------------------------
# batch 37: LSH band-tuning sweep, recommender coverage, missing mass

_SWEEP_CFGS = [(1, 8), (2, 4), (4, 2), (8, 1)]  # (bands, rows) over K=8

_SWEEP_S = (0.5, 0.8, 0.9)



def _sweep_theory(b: int, r: int) -> tuple[float, float, float]:
    return tuple(round(1.0 - (1.0 - s**r) ** b, 6) for s in _SWEEP_S)



def _sweep_band_sql(cfg_i: int, b: int, rows: int) -> str:
    concat = " || '|' || ".join(
        f"CAST(mh_{b * rows + j} AS VARCHAR)" for j in range(rows)
    )
    return md5_int_sql(f"({concat})", seed=20_000 + cfg_i * 16 + b)



def _lsh_sweep_sql() -> str:
    parts = []
    for i, (nb, rows) in enumerate(_SWEEP_CFGS):
        keys = ", ".join(_sweep_band_sql(i, b, rows) for b in range(nb))
        p50, p80, p90 = _sweep_theory(nb, rows)
        parts.append(f"""(
          SELECT {nb}::BIGINT AS bands, {rows}::BIGINT AS rows_per_band,
                 (SELECT count(*) FROM (
                    SELECT DISTINCT a.doc_id, b.doc_id
                    FROM (SELECT doc_id, unnest([{keys}]) AS bk FROM sigs) a
                    JOIN (SELECT doc_id, unnest([{keys}]) AS bk FROM sigs) b
                      USING (bk)
                    WHERE a.doc_id < b.doc_id))::BIGINT AS n_candidates,
                 {p50}::DOUBLE AS p_at_s50, {p80}::DOUBLE AS p_at_s80,
                 {p90}::DOUBLE AS p_at_s90)""")
    return _minhash_cte() + " " + "\nUNION ALL\n".join(parts)



@query("lsh_band_sweep", _lsh_sweep_sql())
def q_lsh_band_sweep(spark, sf_dir):
    """LSH banding-parameter sweep over the SAME K=8 MinHash signature:
    for each (bands, rows) split, the realized candidate-pair count next
    to the theoretical capture probability 1−(1−s^r)^b at similarity
    0.5/0.8/0.9 — the tuning table every LSH deployment derives before
    fixing its S-curve (more bands = higher recall AND more candidate
    volume; this query shows both sides on real data). Signatures are
    computed ONCE (checkpointed) and each config is a banded explode +
    bucket self-join — the sweep never rescans the corpus. Theory
    values are Python-computed shared literals."""
    sigs = D.minhash_signatures(
        _docs(spark, sf_dir), "text", "doc_id", _MH_K, _MH_SHINGLE
    ).stableCheckpoint(eager=True)
    rows_out = []
    for i, (nb, rows) in enumerate(_SWEEP_CFGS):
        keys = F.array(
            *[
                md5_int(
                    F.concat_ws("|", *[F.col(f"mh_{b * rows + j}").cast("string") for j in range(rows)]),
                    seed=20_000 + i * 16 + b,
                )
                for b in range(nb)
            ]
        )
        banded = sigs.select("doc_id", F.explode(keys).alias("bk"))
        a = banded.select(F.col("doc_id").alias("ia"), "bk")
        bb = banded.select(F.col("doc_id").alias("ib"), "bk")
        n_cand = (
            a.join(bb, "bk").where(F.col("ia") < F.col("ib")).select("ia", "ib").distinct().count()
        )
        p50, p80, p90 = _sweep_theory(nb, rows)
        rows_out.append((nb, rows, n_cand, p50, p80, p90))
    return spark.createDataFrame(
        rows_out,
        "bands long, rows_per_band long, n_candidates long, "
        "p_at_s50 double, p_at_s80 double, p_at_s90 double",
    )



@query(
    "rec_coverage",
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       ci AS (SELECT l_partkey, count(*)::BIGINT AS c FROM b GROUP BY l_partkey),
       co AS (
         SELECT a.l_partkey AS p1, bb.l_partkey AS p2, count(*)::BIGINT AS c_co
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey
         GROUP BY 1, 2),
       sym AS (SELECT p1 AS part_id, p2 AS neighbor_id, c_co FROM co
               UNION ALL SELECT p2, p1, c_co FROM co),
       scored AS (
         SELECT s.part_id, s.neighbor_id,
                round(s.c_co::DOUBLE / sqrt(c1.c::DOUBLE * c2.c::DOUBLE), 6) AS cosine
         FROM sym s JOIN ci c1 ON c1.l_partkey = s.part_id
                    JOIN ci c2 ON c2.l_partkey = s.neighbor_id),
       recs AS (
         SELECT neighbor_id FROM (
           SELECT part_id, neighbor_id,
                  row_number() OVER (PARTITION BY part_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5),
       rc AS (
         SELECT ci.l_partkey, count(recs.neighbor_id)::BIGINT AS nrec
         FROM ci LEFT JOIN recs ON recs.neighbor_id = ci.l_partkey
         GROUP BY ci.l_partkey),
       lorenz AS (
         SELECT nrec, row_number() OVER (ORDER BY nrec, l_partkey) AS i,
                count(*) OVER () AS n, sum(nrec) OVER () AS tot
         FROM rc)
       SELECT max(n)::BIGINT AS catalog,
              sum((nrec > 0)::INT)::BIGINT AS recommended,
              round(sum((nrec > 0)::INT)::DOUBLE / max(n), 6) AS coverage,
              round(2.0 * sum(i::HUGEINT * nrec::HUGEINT)::DOUBLE
                    / (max(n)::DOUBLE * max(tot)::DOUBLE)
                    - (max(n) + 1)::DOUBLE / max(n)::DOUBLE, 6) AS gini
       FROM lorenz""",
)
def q_rec_coverage(spark, sf_dir):
    """Catalog coverage and popularity-bias Gini of the `item_cosine`
    recommender's top-5 lists — the aggregate-diversity health check
    (Adomavicius & Kwon, TKDE 2012): what share of the catalog is ever
    recommended, and how concentrated recommendation slots are (Gini
    over per-item recommendation counts, zeros included — the
    long-tail starvation number a marketplace watches). Gini comes
    from the exact Lorenz identity 2Σi·xᵢ/(n·Σx) − (n+1)/n with one
    global rank window on the item-grain table; everything upstream is
    the item_cosine plan."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("bs"))
        .where((F.col("bs") >= 2) & (F.col("bs") <= 20)).select("l_orderkey")
    )
    b = op.join(sized, "l_orderkey").stableCheckpoint(eager=True)
    ci = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    a1 = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
    a2 = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
    co = (
        a1.join(a2, "l_orderkey").where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2").agg(F.count(F.lit(1)).cast("long").alias("c_co"))
    )
    sym = co.select(F.col("p1").alias("part_id"), F.col("p2").alias("neighbor_id"), "c_co").unionAll(
        co.select(F.col("p2").alias("part_id"), F.col("p1").alias("neighbor_id"), "c_co")
    )
    scored = (
        sym.join(ci.withColumnRenamed("l_partkey", "part_id").withColumnRenamed("c", "c1"), "part_id")
        .join(ci.withColumnRenamed("l_partkey", "neighbor_id").withColumnRenamed("c", "c2"), "neighbor_id")
        .select(
            "part_id", "neighbor_id",
            F.round(
                F.col("c_co").cast("double")
                / F.sqrt(F.col("c1").cast("double") * F.col("c2").cast("double")), 6
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("part_id").orderBy(F.desc("cosine"), "neighbor_id")
    recs = scored.select("neighbor_id", F.row_number().over(wr).alias("rank")).where(
        F.col("rank") <= 5
    )
    rc = (
        ci.select("l_partkey")
        .join(recs.groupBy("neighbor_id").agg(F.count(F.lit(1)).alias("nrec")),
              ci.l_partkey == F.col("neighbor_id"), "left")
        .select("l_partkey", F.coalesce("nrec", F.lit(0)).cast("long").alias("nrec"))
    )
    # CENSUS GRAIN (r4): Σ i·nrec via the tie-cell identity
    # x·(cnt·cum_lt + cnt(cnt+1)/2) on the nrec value census
    # (operators/census.py) — the global rank window over the
    # item-grain table is gone (item grain is catalog-sized, not
    # bounded).
    from pliers_spark.operators.census import with_census_ranks

    dec = "decimal(38,0)"
    cells = with_census_ranks(
        rc.groupBy("nrec").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        "nrec",
        lt="cum_lt",
    )
    six_cell = F.col("nrec").cast(dec) * (
        F.col("cnt").cast(dec) * F.col("cum_lt").cast(dec)
        + F.shiftright(F.col("cnt") * (F.col("cnt") + 1), 1).cast(dec)
    )
    six = cells.agg(F.sum(six_cell).cast(dec).alias("six"))
    base = rc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nrec").cast("long").alias("tot"),
        F.sum((F.col("nrec") > 0).cast("int")).cast("long").alias("recommended"),
    )
    return base.crossJoin(F.broadcast(six)).select(
        F.col("n").alias("catalog"),
        "recommended",
        F.round(F.col("recommended").cast("double") / F.col("n"), 6).alias("coverage"),
        F.round(
            F.lit(2.0) * F.col("six").cast("double")
            / (F.col("n").cast("double") * F.col("tot").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
            6,
        ).alias("gini"),
    )



@query(
    "missing_mass",
    """WITH toks AS (
         SELECT source, unnest(string_split(trim(text), ' ')) AS token FROM documents),
       cnt AS (SELECT source, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2)
       SELECT source,
              sum(c)::BIGINT AS n_tokens,
              count(*)::BIGINT AS s_obs,
              sum((c = 1)::INT)::BIGINT AS hapax,
              sum((c = 2)::INT)::BIGINT AS doubletons,
              round(sum((c = 1)::INT)::DOUBLE / sum(c), 6) AS missing_mass,
              round(count(*)::DOUBLE
                    + sum((c = 1)::INT)::DOUBLE * (sum((c = 1)::INT) - 1)::DOUBLE
                      / (2.0 * (sum((c = 2)::INT) + 1)::DOUBLE), 6) AS chao1
       FROM cnt GROUP BY source""",
)
def q_missing_mass(spark, sf_dir):
    """Good-Turing missing mass and bias-corrected Chao1 richness per
    source (Good 1953; Chao 1984): the hapax share N₁/N estimates the
    probability the NEXT token is unseen, and Chao1 = S + N₁(N₁−1)/
    (2(N₂+1)) estimates total vocabulary including the unobserved tail
    — the pair of numbers that says whether a source's vocabulary is
    exhausted or barely sampled (drives crawl-more-vs-enough
    decisions). All counts exact from one (source, token) census; two
    final divisions. The bias-corrected Chao1 form stays defined when
    no doubletons exist."""
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("source", F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n1 = F.sum((F.col("c") == 1).cast("int")).cast("long")
    n2 = F.sum((F.col("c") == 2).cast("int")).cast("long")
    return cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        n1.alias("hapax"),
        n2.alias("doubletons"),
        F.round(n1.cast("double") / F.sum("c"), 6).alias("missing_mass"),
        F.round(
            F.count(F.lit(1)).cast("double")
            + n1.cast("double") * (n1 - 1).cast("double") / (F.lit(2.0) * (n2 + 1).cast("double")),
            6,
        ).alias("chao1"),
    )



# --------------------------------------------------------------------------
# batch 38: snapshot time travel, Cohen's kappa, posting-list compression

@query(
    "snapshot_asof",
    """SELECT 'asof_s1' AS snapshot_label,
              count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
       FROM documents WHERE doc_id % 3 = 0
       UNION ALL
       SELECT 'current', count(*)::BIGINT, sum(n_chars)::BIGINT
       FROM documents WHERE doc_id % 3 IN (0, 1)
       UNION ALL
       SELECT 'delta_s2', count(*)::BIGINT, sum(n_chars)::BIGINT
       FROM documents WHERE doc_id % 3 = 1""",
)
def q_snapshot_asof(spark, sf_dir):
    """Iceberg-style snapshot isolation exercised end-to-end (north
    rule: versioned input with time travel): commit docs with
    doc_id%3==0 as snapshot 1, append doc_id%3==1 as snapshot 2, then
    read (a) AS OF snapshot 1 — later commits must be invisible,
    (b) the current table, and (c) the INCREMENTAL delta (s1, s2] —
    only snapshot 2's files are scanned. The oracle is the pure
    relational meaning of each read, so a stale manifest, a leaked
    file, or a wrong delta walk all hash-mismatch. The table lives
    under the session's ``spark.sql.warehouse.dir`` and is rebuilt
    idempotently per run
    (sources/snapshots.py; reference anchor: pliers has no versioned
    store — this is the engine-level Iceberg contract the 10^12-page
    crawl table needs)."""
    import os
    import shutil
    from urllib.parse import urlparse

    from pliers_spark.sources.snapshots import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/"))
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    root = os.path.join(warehouse, f"_asof_demo_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    t = SnapshotTable(root)
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    s1 = t.commit(d.where(F.col("doc_id") % 3 == 0), "append")
    s2 = t.commit(d.where(F.col("doc_id") % 3 == 1), "append")

    def summarize(df, label):
        return df.agg(
            F.lit(label).alias("snapshot_label"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        ).select("snapshot_label", "n_docs", "sum_chars")

    asof = summarize(t.read(spark, s1), "asof_s1")
    cur = summarize(t.read(spark), "current")
    delta = summarize(t.read_incremental(spark, s1, s2), "delta_s2")
    return asof.unionAll(cur).unionAll(delta)



@query(
    "classifier_kappa",
    f"""WITH q AS (SELECT * FROM ({_QUALITY_ORACLE}) t),
       j AS (
         SELECT (q.quality >= 0.5)::INT AS a,
                (len(string_split(trim(d.text), ' ')) >= 30)::INT AS b
         FROM documents d JOIN q ON q.doc_id = d.doc_id),
       s AS (
         SELECT count(*)::BIGINT AS n,
                sum((a = b)::INT)::BIGINT AS agree,
                sum(a)::BIGINT AS a_yes, sum(b)::BIGINT AS b_yes
         FROM j)
       SELECT n, agree, a_yes, b_yes,
              round((n::DOUBLE * agree::DOUBLE
                     - (a_yes::DOUBLE * b_yes::DOUBLE
                        + (n - a_yes)::DOUBLE * (n - b_yes)::DOUBLE))
                    / (n::DOUBLE * n::DOUBLE
                       - (a_yes::DOUBLE * b_yes::DOUBLE
                          + (n - a_yes)::DOUBLE * (n - b_yes)::DOUBLE)), 6) AS kappa
       FROM s""",
)
def q_classifier_kappa(spark, sf_dir):
    """Cohen's kappa agreement (Cohen 1960) between two in-repo quality
    signals — the composite quality score ≥ 0.5 vs a plain ≥30-token
    length gate: κ = (p_o − p_e)/(1 − p_e) with chance agreement from
    the marginals. This is the annotator/classifier-agreement audit a
    curation team runs before trusting cheap heuristic labels as
    training signal for a learned filter. Everything is one 2×2 census
    in exact int64; κ is a single identical double expression (the
    n·agree − (a·b + a'·b') cross-multiplied form avoids intermediate
    ratios)."""
    d = _docs(spark, sf_dir)
    j = d.select(
        (T.quality_score("text") >= 0.5).cast("int").alias("a"),
        (F.size(T.tokenize(F.col("text"))) >= 30).cast("int").alias("b"),
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("int")).cast("long").alias("agree"),
        F.sum("a").cast("long").alias("a_yes"),
        F.sum("b").cast("long").alias("b_yes"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    pe_num = d_("a_yes") * d_("b_yes") + (F.col("n") - F.col("a_yes")).cast("double") * (
        F.col("n") - F.col("b_yes")
    ).cast("double")
    return s.select(
        "n", "agree", "a_yes", "b_yes",
        F.round(
            (d_("n") * d_("agree") - pe_num) / (d_("n") * d_("n") - pe_num), 6
        ).alias("kappa"),
    )



@query(
    "posting_compression",
    """WITH toks AS (
         SELECT DISTINCT doc_id,
                unnest(string_split(trim(text), ' ')) AS token
         FROM documents),
       g AS (
         SELECT token, doc_id,
                doc_id - lag(doc_id) OVER (PARTITION BY token ORDER BY doc_id) AS gap
         FROM toks),
       bits AS (
         SELECT token,
                count(*)::BIGINT AS df,
                sum(CASE WHEN gap IS NULL THEN 2 * CAST(floor(log2(doc_id + 1)) AS BIGINT) + 1
                         ELSE 2 * CAST(floor(log2(gap)) AS BIGINT) + 1 END)::BIGINT
                  AS gamma_bits
         FROM g GROUP BY token HAVING count(*) >= 2)
       SELECT token, df, gamma_bits, (64 * df)::BIGINT AS raw_bits,
              round(gamma_bits::DOUBLE / (64.0 * df), 6) AS ratio,
              row_number() OVER (ORDER BY (64 * df - gamma_bits) DESC, token)::BIGINT
                AS rank
       FROM bits QUALIFY rank <= 20""",
)
def q_posting_compression(spark, sf_dir):
    """Elias-γ posting-list compression planning (Witten/Moffat/Bell,
    'Managing Gigabytes'): per frequent token, the delta-gap-encoded
    index size (Σ 2⌊log2 gap⌋+1 bits; first posting encodes doc_id+1)
    against the raw 64-bit layout, top-20 by absolute savings — the
    back-of-envelope every inverted-index/storage design doc runs
    before choosing an encoding. Gaps come from ONE per-token window
    over the distinct postings census (token-key shuffle); ⌊log2⌋ of an
    exact integer never mis-rounds at power-of-2 boundaries. All bit
    counts are exact int64."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
    ).distinct()
    wt = Window.partitionBy("token").orderBy("doc_id")
    g = toks.select(
        "token", "doc_id", (F.col("doc_id") - F.lag("doc_id").over(wt)).alias("gap")
    )
    bit = F.when(
        F.col("gap").isNull(),
        2 * F.floor(F.log2((F.col("doc_id") + 1).cast("double"))).cast("long") + 1,
    ).otherwise(2 * F.floor(F.log2(F.col("gap").cast("double"))).cast("long") + 1)
    bits = (
        g.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum(bit).cast("long").alias("gamma_bits"),
        )
        .where(F.col("df") >= 2)
    )
    wr = Window.orderBy(F.desc(64 * F.col("df") - F.col("gamma_bits")), "token")
    return (
        bits.select(
            "token", "df", "gamma_bits",
            (64 * F.col("df")).cast("long").alias("raw_bits"),
            F.round(F.col("gamma_bits").cast("double") / (F.lit(64.0) * F.col("df")), 6).alias("ratio"),
            F.row_number().over(wr).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= 20)
    )
