"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: moore_lewis, oov_rate, haar_energy, fd_binning, pacf_lag2,
    ams_f2, negbin_fit, transitivity_global, adamic_adar,
    kendall_tau_binned, chi2_independence, hash_bootstrap_ci,
    kcore_members, jaro_winkler_dups, image_phash, ewma_smooth,
    cusum_changepoint, brier_calibration, bh_fdr, theil_index,
    assoc_rules
"""
from __future__ import annotations

from ._registry import F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from .stats_02 import _synth_image, _synth_payloads



# --------------------------------------------------------------------------
# batch 54: Moore-Lewis CED selection, OOV-rate audit

def _moore_lewis_sql(vocab_size: int = 1000) -> str:
    return f"""WITH base AS (
         SELECT doc_id, lang, string_split(trim(text), ' ') AS toks FROM documents),
       census AS (
         SELECT t AS w, count(*)::BIGINT AS c
         FROM (SELECT unnest(toks) AS t FROM base) GROUP BY t),
       vocab AS (SELECT w FROM census ORDER BY c DESC, w LIMIT {vocab_size}),
       nv AS (SELECT count(*)::BIGINT AS n_vocab FROM vocab),
       bi AS (
         SELECT b.doc_id, b.lang,
                CASE WHEN v1.w IS NULL THEN '<unk>' ELSE w1r END AS w1,
                CASE WHEN v2.w IS NULL THEN '<unk>' ELSE w2r END AS w2
         FROM (SELECT doc_id, lang,
                      unnest(toks[1:len(toks)-1]) AS w1r,
                      unnest(toks[2:len(toks)]) AS w2r
               FROM base) b
         LEFT JOIN vocab v1 ON b.w1r = v1.w
         LEFT JOIN vocab v2 ON b.w2r = v2.w),
       gen AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bi GROUP BY w1, w2),
       genc AS (SELECT w1, sum(cb)::BIGINT AS cw FROM gen GROUP BY w1),
       ind AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bi WHERE lang = 'en'
               GROUP BY w1, w2),
       indc AS (SELECT w1, sum(cb)::BIGINT AS cw FROM ind GROUP BY w1),
       scored AS (
         SELECT bi.doc_id,
                CAST(round(ln((coalesce(i.cb, 0) + 1)::DOUBLE
                              / (coalesce(ic.cw, 0) + nv.n_vocab + 1)::DOUBLE) * 1e6)
                     AS BIGINT)
                - CAST(round(ln((g.cb + 1)::DOUBLE
                                / (gc.cw + nv.n_vocab + 1)::DOUBLE) * 1e6)
                       AS BIGINT) AS ced_unats
         FROM bi
         JOIN gen g USING (w1, w2) JOIN genc gc USING (w1)
         LEFT JOIN ind i ON i.w1 = bi.w1 AND i.w2 = bi.w2
         LEFT JOIN indc ic ON ic.w1 = bi.w1
         CROSS JOIN nv)
       SELECT doc_id, count(*)::BIGINT AS n_bigrams,
              round(sum(ced_unats)::DOUBLE / count(*) / 1000000.0, 6) AS ced,
              (sum(ced_unats) > 0) AS selected
       FROM scored GROUP BY doc_id"""



@query("moore_lewis", _moore_lewis_sql())
def q_moore_lewis(spark, sf_dir):
    """Moore-Lewis cross-entropy-difference data selection (ACL 2010 —
    the canonical pick-what-looks-in-domain method, still the baseline
    every data-selection paper fights): per document, the average
    bigram log-prob under the IN-DOMAIN model (lang='en' slice) minus
    under the GENERAL model (whole corpus), both add-one-smoothed over
    a shared top-1000 vocabulary; positive CED = more in-domain-like
    than average, selected. Both models' per-TYPE log-probs round once
    to micro-nats (lm_score's discipline) so per-doc sums are exact;
    the shared mapped-bigram table is built ONCE and feeds both model
    censuses and the scoring join."""
    from pliers_spark.operators.lm import UNK, _mapped_bigrams

    d = _docs(spark, sf_dir)
    tok_census = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        tok_census.orderBy(F.desc("c"), F.asc("w")).limit(1000)
        .select("w").stableCheckpoint(eager=True)
    )
    n_vocab = vocab.count()
    bg = (
        _mapped_bigrams(d, vocab, "text", "doc_id")
        .join(d.select("doc_id", "lang"), "doc_id")
        .stableCheckpoint(eager=True)  # feeds both models AND scoring
    )
    gen = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("g_cb"))
    genc = gen.groupBy("w1").agg(F.sum("g_cb").cast("long").alias("g_cw"))
    ind = bg.where(F.col("lang") == "en").groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("i_cb")
    )
    indc = ind.groupBy("w1").agg(F.sum("i_cb").cast("long").alias("i_cw"))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    lp_in = F.round(
        F.log(
            (F.coalesce("i_cb", F.lit(0)) + 1).cast("double")
            / (F.coalesce("i_cw", F.lit(0)) + n_vocab + 1).cast("double")
        ) * F.lit(1e6), 0,
    ).cast("long")
    lp_gen = F.round(
        F.log((F.col("g_cb") + 1).cast("double") / (F.col("g_cw") + n_vocab + 1).cast("double"))
        * F.lit(1e6), 0,
    ).cast("long")
    scored = (
        bg.join(F.broadcast(gen), ["w1", "w2"])
        .join(F.broadcast(genc), "w1")
        .join(F.broadcast(ind), ["w1", "w2"], "left")
        .join(F.broadcast(indc), "w1", "left")
        .select("doc_id", (lp_in - lp_gen).alias("ced_unats"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("ced_unats").cast("double") / F.count(F.lit(1)) / F.lit(1e6), 6).alias("ced"),
        (F.sum("ced_unats") > 0).alias("selected"),
    )



@query(
    "oov_rate",
    """WITH census AS (
         SELECT u AS w, count(*)::BIGINT AS c
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS u FROM documents)
         GROUP BY u),
       vocab AS (SELECT w FROM census ORDER BY c DESC, w LIMIT 1000),
       toks AS (
         SELECT source, unnest(string_split(trim(text), ' ')) AS w FROM documents)
       SELECT source, count(*)::BIGINT AS n_tokens,
              sum((vocab.w IS NULL)::INT)::BIGINT AS n_oov,
              round(sum((vocab.w IS NULL)::INT)::DOUBLE / count(*), 6) AS oov_rate
       FROM toks LEFT JOIN vocab ON vocab.w = toks.w
       GROUP BY source""",
)
def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per source against the global top-1000
    vocabulary — the cheapest domain-shift alarm (a source whose OOV
    rate spikes will inflate `token_fertility`, starve `dictionary_
    lookup`, and break fixed-vocab models). One global census for the
    vocab (distributed top-k), one broadcast left join over the token
    stream, exact counts and one division per source."""
    d = _docs(spark, sf_dir)
    census = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = census.orderBy(F.desc("c"), F.asc("w")).limit(1000).select(
        "w", F.lit(1).alias("in_v")
    )
    toks = d.select("source", F.explode(T.tokenize(F.col("text"))).alias("w"))
    j = toks.join(F.broadcast(vocab), "w", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.col("in_v").isNull().cast("int")).cast("long").alias("n_oov"),
        F.round(F.sum(F.col("in_v").isNull().cast("int")).cast("double") / F.count(F.lit(1)), 6).alias("oov_rate"),
    )



# --------------------------------------------------------------------------
# batch 55: Haar wavelet energy, Freedman-Diaconis binning, PACF(2)

@query(
    "haar_energy",
    """WITH daily AS (
         SELECT count(*)::BIGINT AS c,
                row_number() OVER (ORDER BY date_trunc('day', ts)) AS rn
         FROM events GROUP BY date_trunc('day', ts)),
       l0 AS (SELECT rn, c FROM daily WHERE rn <= 16),
       l1 AS (
         SELECT ((rn - 1) // 2)::BIGINT AS blk,
                sum(CASE WHEN rn % 2 = 1 THEN c ELSE -c END)::BIGINT AS d,
                sum(c)::BIGINT AS s
         FROM l0 GROUP BY 1),
       l2 AS (
         SELECT (blk // 2)::BIGINT AS blk,
                sum(CASE WHEN blk % 2 = 0 THEN s ELSE -s END)::BIGINT AS d,
                sum(s)::BIGINT AS s
         FROM l1 GROUP BY 1),
       l3 AS (
         SELECT (blk // 2)::BIGINT AS blk,
                sum(CASE WHEN blk % 2 = 0 THEN s ELSE -s END)::BIGINT AS d,
                sum(s)::BIGINT AS s
         FROM l2 GROUP BY 1)
       SELECT 1::BIGINT AS level, count(*)::BIGINT AS n_coeffs,
              sum(d::HUGEINT * d::HUGEINT)::BIGINT AS energy FROM l1
       UNION ALL
       SELECT 2, count(*), sum(d::HUGEINT * d::HUGEINT)::BIGINT FROM l2
       UNION ALL
       SELECT 3, count(*), sum(d::HUGEINT * d::HUGEINT)::BIGINT FROM l3""",
)
def q_haar_energy(spark, sf_dir):
    """Haar wavelet energy spectrum over the first 16 days of the daily
    event-count series: level-ℓ detail coefficients are differences of
    adjacent 2^(ℓ−1)-day block sums, and the per-level energy Σd² says
    WHERE the variance lives — day-to-day jitter (level 1) vs weekly-ish
    swells (level 3) — the multi-resolution twin of `seasonality_
    strength` that needs no period guess. Unnormalized Haar keeps
    every coefficient an exact integer (sums and differences of
    counts), so energies are exact; each level is one tiny grouped agg
    over the previous level's 16→8→4→2 rows."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select("c", F.row_number().over(Window.orderBy("day")).alias("rn"))
        .where(F.col("rn") <= 16)
    )
    dec = "decimal(38,0)"
    l1 = daily.groupBy(F.floor((F.col("rn") - 1) / 2).cast("long").alias("blk")).agg(
        F.sum(F.when(F.col("rn") % 2 == 1, F.col("c")).otherwise(-F.col("c"))).cast("long").alias("d"),
        F.sum("c").cast("long").alias("s"),
    ).stableCheckpoint(eager=True)
    def up(prev):
        return prev.groupBy(F.floor(F.col("blk") / 2).cast("long").alias("blk")).agg(
            F.sum(F.when(F.col("blk") % 2 == 0, F.col("s")).otherwise(-F.col("s"))).cast("long").alias("d"),
            F.sum("s").cast("long").alias("s"),
        ).stableCheckpoint(eager=True)
    l2 = up(l1)
    l3 = up(l2)
    def row(lv, df):
        return df.agg(
            F.lit(lv).cast("long").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_coeffs"),
            F.sum(F.col("d").cast(dec) * F.col("d").cast(dec)).cast("long").alias("energy"),
        ).select("level", "n_coeffs", "energy")
    return row(1, l1).unionAll(row(2, l2)).unionAll(row(3, l3))



@query(
    "fd_binning",
    """WITH v AS (
         SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS x, o_orderkey
         FROM orders),
       r AS (SELECT x, row_number() OVER (ORDER BY x, o_orderkey) AS rn,
                    count(*) OVER () AS n FROM v),
       qs AS (
         SELECT max(n)::BIGINT AS n,
                max(CASE WHEN rn <= CAST(ceil(0.25 * max_n) AS BIGINT) THEN x END)::BIGINT AS q1,
                max(CASE WHEN rn <= CAST(ceil(0.75 * max_n) AS BIGINT) THEN x END)::BIGINT AS q3,
                min(x)::BIGINT AS mn, max(x)::BIGINT AS mx
         FROM (SELECT *, max(n) OVER () AS max_n FROM r))
       SELECT n, (q3 - q1)::BIGINT AS iqr_fp,
              round(2.0 * (q3 - q1)::DOUBLE / pow(n::DOUBLE, 1.0 / 3.0), 4) AS width_fp,
              CAST(ceil((mx - mn)::DOUBLE
                        / (2.0 * (q3 - q1)::DOUBLE / pow(n::DOUBLE, 1.0 / 3.0)))
                   AS BIGINT) AS n_bins
       FROM qs WHERE q3 > q1""",
)
def q_fd_binning(spark, sf_dir):
    """Freedman-Diaconis histogram bin selection (1981): width =
    2·IQR/n^⅓ over order totals — the robust automatic binning rule
    `feature_histogram`-style reports should use instead of guessing a
    bucket count. Quartiles are EXACT type-1 rank statistics (value at
    rank ⌈0.25n⌉ / ⌈0.75n⌉, orderkey tiebreak — no interpolation
    ambiguity); the cube root and division touch one final row. One
    rank window on the (already value-grain) table."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100.0, 0).cast("long").alias("x"), "o_orderkey"
    )
    # CENSUS GRAIN (r4): exact quartile ranks via the range-bucketed
    # row_number (operators/census.py), not a single-task global sort
    from pliers_spark.operators.census import scalable_row_number

    n = v.count()
    r = scalable_row_number(v, "x", out="rn", tiebreak=("o_orderkey",)).select("x", "rn")
    import math as _m

    k1 = _m.ceil(0.25 * n)
    k3 = _m.ceil(0.75 * n)
    qs = r.agg(
        F.max(F.when(F.col("rn") <= k1, F.col("x"))).cast("long").alias("q1"),
        F.max(F.when(F.col("rn") <= k3, F.col("x"))).cast("long").alias("q3"),
        F.min("x").cast("long").alias("mn"),
        F.max("x").cast("long").alias("mx"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    width = F.lit(2.0) * (d_("q3") - d_("q1")) / F.pow(F.lit(float(n)), F.lit(1.0 / 3.0))
    return qs.where(F.col("q3") > F.col("q1")).select(
        F.lit(n).cast("long").alias("n"),
        (F.col("q3") - F.col("q1")).cast("long").alias("iqr_fp"),
        F.round(width, 4).alias("width_fp"),
        F.ceil((d_("mx") - d_("mn")) / width).cast("long").alias("n_bins"),
    )



@query(
    "pacf_lag2",
    """WITH daily AS (
         SELECT count(*)::BIGINT AS c,
                row_number() OVER (ORDER BY date_trunc('day', ts)) AS rn
         FROM events GROUP BY date_trunc('day', ts)),
       lagged AS (
         SELECT c, lag(c, 1) OVER (ORDER BY rn) AS c1,
                lag(c, 2) OVER (ORDER BY rn) AS c2
         FROM daily),
       st AS (
         SELECT count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
                sum(c::HUGEINT * c::HUGEINT) AS q FROM daily),
       r1 AS (
         SELECT count(*)::BIGINT AS n1, sum(c)::BIGINT AS sx, sum(c1)::BIGINT AS sy,
                sum(c::HUGEINT * c1::HUGEINT) AS sxy,
                sum(c::HUGEINT * c::HUGEINT) AS sxx,
                sum(c1::HUGEINT * c1::HUGEINT) AS syy
         FROM lagged WHERE c1 IS NOT NULL),
       r2 AS (
         SELECT count(*)::BIGINT AS n2, sum(c)::BIGINT AS sx, sum(c2)::BIGINT AS sy,
                sum(c::HUGEINT * c2::HUGEINT) AS sxy,
                sum(c::HUGEINT * c::HUGEINT) AS sxx,
                sum(c2::HUGEINT * c2::HUGEINT) AS syy
         FROM lagged WHERE c2 IS NOT NULL),
       rhos AS (
         SELECT round((r1.n1::DOUBLE * r1.sxy::DOUBLE - r1.sx::DOUBLE * r1.sy::DOUBLE)
                / sqrt((r1.n1::DOUBLE * r1.sxx::DOUBLE - r1.sx::DOUBLE * r1.sx::DOUBLE)
                       * (r1.n1::DOUBLE * r1.syy::DOUBLE - r1.sy::DOUBLE * r1.sy::DOUBLE)), 6)
                  AS rho1,
                round((r2.n2::DOUBLE * r2.sxy::DOUBLE - r2.sx::DOUBLE * r2.sy::DOUBLE)
                / sqrt((r2.n2::DOUBLE * r2.sxx::DOUBLE - r2.sx::DOUBLE * r2.sx::DOUBLE)
                       * (r2.n2::DOUBLE * r2.syy::DOUBLE - r2.sy::DOUBLE * r2.sy::DOUBLE)), 6)
                  AS rho2
         FROM r1 CROSS JOIN r2)
       SELECT rho1, rho2,
              CASE WHEN 1.0 - rho1 * rho1 > 1e-12
                   THEN round((rho2 - rho1 * rho1) / (1.0 - rho1 * rho1), 4)
              END AS pacf2
       FROM rhos""",
)
def q_pacf_lag2(spark, sf_dir):
    """Partial autocorrelation at lag 2 via Durbin-Levinson:
    φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²) on the daily count series — with
    `autocorr_lag1` this is the AR-order identification pair (an AR(1)
    process has φ₂₂ ≈ 0; a surviving φ₂₂ says one lag isn't enough).
    Each ρ uses exact int64/HUGEINT Pearson sufficient stats over its
    own lag-aligned support and rounds ONCE at 6dp; the φ₂₂ quotient
    rounds at 4dp (ratio of near-collinear quantities). One day-grain
    window, two moment rows."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select("c", F.row_number().over(Window.orderBy("day")).alias("rn"))
    )
    w = Window.orderBy("rn")
    lagged = daily.select(
        "c", F.lag("c", 1).over(w).alias("c1"), F.lag("c", 2).over(w).alias("c2")
    ).stableCheckpoint(eager=True)
    dec = "decimal(38,0)"
    def rho(col):
        sub = lagged.where(F.col(col).isNotNull())
        st = sub.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sx"),
            F.sum(col).cast("long").alias("sy"),
            F.sum(F.col("c").cast(dec) * F.col(col).cast(dec)).cast(dec).alias("sxy"),
            F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).cast(dec).alias("sxx"),
            F.sum(F.col(col).cast(dec) * F.col(col).cast(dec)).cast(dec).alias("syy"),
        )
        d_ = lambda c: F.col(c).cast("double")  # noqa: E731
        return st.select(
            F.round(
                (d_("n") * d_("sxy") - d_("sx") * d_("sy"))
                / F.sqrt(
                    (d_("n") * d_("sxx") - d_("sx") * d_("sx"))
                    * (d_("n") * d_("syy") - d_("sy") * d_("sy"))
                ),
                6,
            ).alias(f"rho_{col}")
        )
    rhos = rho("c1").crossJoin(rho("c2")).select(
        F.col("rho_c1").alias("rho1"), F.col("rho_c2").alias("rho2")
    )
    return rhos.select(
        "rho1", "rho2",
        F.when(
            F.lit(1.0) - F.col("rho1") * F.col("rho1") > 1e-12,
            F.round(
                (F.col("rho2") - F.col("rho1") * F.col("rho1"))
                / (F.lit(1.0) - F.col("rho1") * F.col("rho1")),
                4,
            ),
        ).alias("pacf2"),
    )



# --------------------------------------------------------------------------
# batch 56: AMS F2 sketch audit, negative-binomial fit, global transitivity

_AMS_K = 64

_AMS_GROUPS = 8  # median of 8 group-means (the AMS median-of-means combiner)



def _ams_sql(k: int = _AMS_K, g: int = _AMS_GROUPS) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    signs = ", ".join(
        f"sum((1 - 2 * CAST((({md5_int_sql('w', seed=100 + j)}) % 2) AS BIGINT)) * c)"
        f"::BIGINT AS z{j}" for j in range(k)
    )
    per_g = k // g
    gsums = ", ".join(
        "("
        + " + ".join(f"z{i}::HUGEINT * z{i}::HUGEINT" for i in range(gi * per_g, (gi + 1) * per_g))
        + f") AS g{gi}"
        for gi in range(g)
    )
    glist = ", ".join(f"g{gi}" for gi in range(g))
    return f"""WITH cnt AS (
         SELECT u AS w, count(*)::BIGINT AS c
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS u FROM documents)
         GROUP BY u),
       f2x AS (SELECT sum(c::HUGEINT * c::HUGEINT)::BIGINT AS f2_exact FROM cnt),
       zs AS (SELECT {signs} FROM cnt),
       gs AS (SELECT {gsums} FROM zs),
       med AS (
         SELECT CAST(e AS BIGINT) AS e,
                row_number() OVER (ORDER BY e) AS rn
         FROM (SELECT unnest([{glist}]) AS e FROM gs))
       SELECT f2x.f2_exact,
              CAST(round((SELECT max(e) FROM med WHERE rn <= {(g + 1) // 2})::DOUBLE
                         / {per_g}.0) AS BIGINT) AS f2_est,
              round((round((SELECT max(e) FROM med WHERE rn <= {(g + 1) // 2})::DOUBLE
                           / {per_g}.0) - f2x.f2_exact::DOUBLE)
                    / f2x.f2_exact::DOUBLE, 6) AS rel_err
       FROM f2x"""



@query("ams_f2", _ams_sql())
def q_ams_f2(spark, sf_dir):
    """AMS second-moment (F₂) sketch audit (Alon, Matias & Szegedy,
    STOC 1996 — the Gödel-Prize streaming sketch): 64 independent
    ±1-hash estimators Z_j = Σ s_j(w)·f(w) combined by the canonical
    MEDIAN-OF-MEANS (8 groups of 8 — a plain median of single Z² values
    would be biased toward the χ² median ≈ 0.45·F₂), audited against
    the exact Σf² of the token frequency vector. F₂ drives self-join
    size estimation and skew planning; deterministic md5 sign hashes
    make the sketch fully reproducible cross-engine (every Z_j and
    group sum is exact integer arithmetic; one division by the group
    size at the end)."""
    from pliers_spark.functions.hashing import md5_int

    d = _docs(spark, sf_dir)
    cnt = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
        .stableCheckpoint(eager=True)
    )
    dec = "decimal(38,0)"
    f2_exact = cnt.agg(
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).cast("long").alias("f2")
    ).collect()[0].f2
    zs = cnt.agg(
        *[
            F.sum((1 - 2 * F.pmod(md5_int(F.col("w"), seed=100 + j), F.lit(2))) * F.col("c"))
            .cast("long").alias(f"z{j}")
            for j in range(_AMS_K)
        ]
    ).collect()[0]
    per_g = _AMS_K // _AMS_GROUPS
    gsums = sorted(
        sum(int(zs[f"z{i}"]) ** 2 for i in range(gi * per_g, (gi + 1) * per_g))
        for gi in range(_AMS_GROUPS)
    )
    med = gsums[(_AMS_GROUPS + 1) // 2 - 1]
    f2_est = round(med / per_g)
    rel = round((round(med / per_g) - f2_exact) / f2_exact, 6)
    return spark.createDataFrame(
        [(f2_exact, f2_est, rel)], "f2_exact long, f2_est long, rel_err double"
    )



@query(
    "negbin_fit",
    """WITH users AS (SELECT DISTINCT user_id FROM events),
       types AS (SELECT DISTINCT event_type FROM events),
       cnt AS (SELECT user_id, event_type, count(*)::BIGINT AS c
               FROM events GROUP BY 1, 2),
       dense AS (
         SELECT t.event_type, coalesce(cnt.c, 0)::BIGINT AS c
         FROM users u CROSS JOIN types t
         LEFT JOIN cnt ON cnt.user_id = u.user_id AND cnt.event_type = t.event_type),
       st AS (
         SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
                sum(c::HUGEINT * c::HUGEINT) AS q
         FROM dense GROUP BY event_type)
       SELECT event_type, n AS n_users,
              round(s::DOUBLE / n, 6) AS mu,
              round(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n), 6) AS var,
              CASE WHEN q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)
                        > s::DOUBLE / n
                   THEN round((s::DOUBLE / n) * (s::DOUBLE / n)
                              / (q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)
                                 - s::DOUBLE / n), 6) END AS nb_r,
              CASE WHEN q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)
                        > s::DOUBLE / n
                   THEN round((s::DOUBLE / n)
                              / (q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)), 6)
              END AS nb_p
       FROM st""",
)
def q_negbin_fit(spark, sf_dir):
    """Negative-binomial method-of-moments fit per event type
    (r = μ²/(σ²−μ), p = μ/σ²) over zero-densified per-user counts —
    the model `dispersion_index` motivates: when counts are
    overdispersed the NB(r,p) parameters drive capacity simulation and
    per-user rate modeling; NULL when σ² ≤ μ (Poisson or under-
    dispersed, NB undefined). Exact int64/HUGEINT sufficient stats;
    identical one-expression doubles both engines."""
    ev = _events(spark, sf_dir)
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dense = (
        users.crossJoin(F.broadcast(types))
        .join(cnt, ["user_id", "event_type"], "left")
        .select("event_type", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    dec = "decimal(38,0)"
    st = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).cast(dec).alias("q"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = d_("s") / d_("n")
    var = d_("q") / d_("n") - mu * mu
    over = var > mu
    return st.select(
        "event_type", F.col("n").alias("n_users"),
        F.round(mu, 6).alias("mu"),
        F.round(var, 6).alias("var"),
        F.when(over, F.round(mu * mu / (var - mu), 6)).alias("nb_r"),
        F.when(over, F.round(mu / var, 6)).alias("nb_p"),
    )



@query(
    "transitivity_global",
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS (
         SELECT DISTINCT a.l_partkey AS u, bb.l_partkey AS v
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey),
       sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
       deg AS (SELECT a AS node, count(*)::BIGINT AS d FROM sym GROUP BY a),
       o AS (
         SELECT s.a AS src, s.b AS dst, db.d AS dd
         FROM sym s JOIN deg da ON da.node = s.a JOIN deg db ON db.node = s.b
         WHERE (da.d, s.a) < (db.d, s.b)),
       tri AS (
         SELECT count(*)::BIGINT AS t FROM (
           SELECT e1.src
           FROM o e1 JOIN o e2 ON e1.src = e2.src
             AND ((e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst))
           JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst)),
       wd AS (SELECT sum(d::HUGEINT * (d - 1)::HUGEINT / 2)::BIGINT AS wedges,
                     count(*)::BIGINT AS n FROM deg)
       SELECT wd.n AS n_nodes, wd.wedges, tri.t AS triangles,
              CASE WHEN wd.wedges > 0
                   THEN round(3.0 * tri.t::DOUBLE / wd.wedges::DOUBLE, 6) END
                AS transitivity
       FROM wd CROSS JOIN tri""",
)
def q_transitivity_global(spark, sf_dir):
    """Global transitivity C = 3·triangles / wedges (the graph-level
    clustering number; Watts-Strogatz's C is its per-node mean, emitted
    by `triangle_coeffs`) — with `triangle_nullmodel` this closes the
    clustering triptych: per-node profile, global ratio, null
    expectation. Triangles reuse the orientation-ordered enumeration;
    wedges are Σ C(d,2) from the degree census — no new shuffle
    shapes, one ratio."""
    dec = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("bs"))
        .where((F.col("bs") >= 2) & (F.col("bs") <= 20)).select("l_orderkey")
    )
    b = op.join(sized, "l_orderkey")
    e = (
        b.alias("x").join(b.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v"))
        .distinct()
        .stableCheckpoint(eager=True)
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).withColumnRenamed("u", "node").stableCheckpoint(eager=True)
    o = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select(F.col("u").alias("src"), F.col("v").alias("dst"), F.col("dv").alias("dd"))
        .stableCheckpoint(eager=True)
    )
    e1 = o.select("src", F.col("dst").alias("v"), F.col("dd").alias("dv_"))
    e2 = o.select("src", F.col("dst").alias("w"), F.col("dd").alias("dw_"))
    wedges_j = e1.join(e2, "src").where(
        (F.col("dv_") < F.col("dw_"))
        | ((F.col("dv_") == F.col("dw_")) & (F.col("v") < F.col("w")))
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    t = wedges_j.join(closing, ["v", "w"]).count()
    wd = deg.agg(
        F.sum((F.col("d").cast(dec) * (F.col("d") - 1).cast(dec) / 2).cast(dec))
        .cast("long").alias("wedges"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).collect()[0]
    trans = round(3.0 * t / wd.wedges, 6) if wd.wedges else None
    return spark.createDataFrame(
        [(wd.n, wd.wedges, t, trans)],
        "n_nodes long, wedges long, triangles long, transitivity double",
    )



# --------------------------------------------------------------------------
# batch 57: Adamic-Adar link prediction, binned Kendall tau-b, chi-square

_AA_MAX_DEG = 500  # hub cap: a hub z adds <= 1/ln(500) per wedge but O(d_z^2) wedges



@query(
    "adamic_adar",
    f"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS (
         SELECT DISTINCT a.l_partkey AS u, bb.l_partkey AS v
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey),
       sym AS (SELECT u AS z, v AS nb FROM e UNION ALL SELECT v, u FROM e),
       deg AS (SELECT z AS node, count(*)::BIGINT AS d FROM sym GROUP BY z),
       mid AS (
         SELECT s.z, s.nb, round(1000000.0 / ln(d.d))::BIGINT AS w_micro
         FROM sym s JOIN deg d ON d.node = s.z
         WHERE d.d >= 2 AND d.d <= {_AA_MAX_DEG}),
       wedge AS (
         SELECT x.nb AS a, y.nb AS b,
                sum(x.w_micro)::BIGINT AS aa_micro, count(*)::BIGINT AS cn
         FROM mid x JOIN mid y ON x.z = y.z AND x.nb < y.nb
         GROUP BY 1, 2),
       cand AS (
         SELECT w.* FROM wedge w
         ANTI JOIN e ON e.u = w.a AND e.v = w.b)
       SELECT a, b, cn AS common_neighbors, aa_micro,
              round(aa_micro / 1000000.0, 6) AS aa_score
       FROM cand
       ORDER BY aa_micro DESC, a, b LIMIT 50""",
)
def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (Adamic & Adar, Social Networks 2003)
    over the part co-purchase graph: for each NON-adjacent pair (a,b),
    score = Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg z) — the classic common-neighbor
    index that down-weights promiscuous hubs. Plan: one wedge
    enumeration through the shared neighbor z (join of the symmetric
    edge list with itself on z, a<b), summed per pair, then an
    anti-join against the edge list keeps only non-edges — no all-pairs
    product anywhere. z is capped at deg ≤ {_AA_MAX_DEG} on BOTH
    engines (a hub contributes ≤ 1/ln(cap) per wedge yet O(d²) wedges;
    truncated-AA is the standard production form of this index — the
    same reasoning as `ngram_jaccard`'s max_df stop-shingle cap).
    Weights are integer micro-units (round(1e6/ln d)) so the per-pair
    sum is exact and order-independent cross-engine; top-50 by
    (score, a, b) is a deterministic TakeOrderedAndProject."""
    dec = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("bs"))
        .where((F.col("bs") >= 2) & (F.col("bs") <= 20)).select("l_orderkey")
    )
    b = op.join(sized, "l_orderkey")
    e = (
        b.alias("x").join(b.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v"))
        .distinct()
        .stableCheckpoint(eager=True)
    )
    sym = e.select(F.col("u").alias("z"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("z"), F.col("u").alias("nb"))
    )
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("d"))
    mid = (
        sym.join(deg.where((F.col("d") >= 2) & (F.col("d") <= _AA_MAX_DEG)), "z")
        .select("z", "nb", F.round(F.lit(1e6) / F.log(F.col("d")), 0).cast("long").alias("w_micro"))
    )
    wedge = (
        mid.alias("x").join(mid.alias("y"), "z")
        .where(F.col("x.nb") < F.col("y.nb"))
        .groupBy(F.col("x.nb").alias("a"), F.col("y.nb").alias("b"))
        .agg(
            F.sum("x.w_micro").cast("long").alias("aa_micro"),
            F.count(F.lit(1)).cast("long").alias("cn"),
        )
    )
    cand = wedge.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")), ["a", "b"], "left_anti"
    )
    return (
        cand.select(
            "a", "b", F.col("cn").alias("common_neighbors"), "aa_micro",
            F.round(F.col("aa_micro") / 1e6, 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_micro"), "a", "b")
        .limit(50)
    )



@query(
    "kendall_tau_binned",
    """WITH base AS (
         SELECT doc_id, n_chars,
                len(string_split(trim(text), ' '))::BIGINT AS n_toks
         FROM documents),
       nq AS (
         SELECT n_chars, n_toks,
                ntile(5) OVER (ORDER BY n_chars, doc_id) AS qx,
                ntile(5) OVER (ORDER BY n_toks, doc_id) AS qy
         FROM base),
       cell AS (SELECT qx, qy, count(*)::HUGEINT AS n FROM nq GROUP BY 1, 2),
       tot AS (SELECT sum(n) AS n FROM cell),
       conc AS (
         SELECT coalesce(sum(c1.n * c2.n), 0) AS c
         FROM cell c1 JOIN cell c2 ON c2.qx > c1.qx AND c2.qy > c1.qy),
       disc AS (
         SELECT coalesce(sum(c1.n * c2.n), 0) AS d
         FROM cell c1 JOIN cell c2 ON c2.qx > c1.qx AND c2.qy < c1.qy),
       tx AS (SELECT sum(s * (s - 1) / 2) AS t FROM
                (SELECT sum(n) AS s FROM cell GROUP BY qx)),
       ty AS (SELECT sum(s * (s - 1) / 2) AS t FROM
                (SELECT sum(n) AS s FROM cell GROUP BY qy))
       SELECT conc.c::BIGINT AS concordant, disc.d::BIGINT AS discordant,
              round((conc.c::DOUBLE - disc.d::DOUBLE)
                    / sqrt((tot.n * (tot.n - 1) / 2 - tx.t)::DOUBLE
                           * (tot.n * (tot.n - 1) / 2 - ty.t)::DOUBLE), 6)
                AS tau_b
       FROM conc, disc, tx, ty, tot""",
)
def q_kendall_tau_binned(spark, sf_dir):
    """Kendall τ-b rank correlation between document length in chars
    and in tokens, computed on QUINTILE-BINNED data (Kendall 1945 ties
    correction): concordant/discordant pair counts come from the 5×5
    contingency table — Σ n_ij · n_i'j' over strictly greater /
    strictly lesser cells — so the O(n²) pair space collapses to 25²
    cell pairs after one aggregation. This is the scale form of τ
    (exact for the binned ordinal variables): all counts are exact integers, one sqrt at the
    end. ntile ties are broken by doc_id on BOTH engines — without the
    total order, equal raw values straddle tile boundaries differently
    per engine and the 5×5 census drifts."""
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id", "n_chars", F.size(T.tokenize(F.col("text"))).cast("long").alias("n_toks")
    )
    nq = base.select(
        F.ntile(5).over(Window.orderBy("n_chars", "doc_id")).alias("qx"),
        F.ntile(5).over(Window.orderBy("n_toks", "doc_id")).alias("qy"),
    )
    dec = "decimal(38,0)"
    cell = nq.groupBy("qx", "qy").agg(F.count(F.lit(1)).cast(dec).alias("n")).stableCheckpoint(eager=True)
    tot = cell.agg(F.sum("n").cast(dec).alias("n"))
    conc = (
        cell.alias("c1").join(
            cell.alias("c2"),
            (F.col("c2.qx") > F.col("c1.qx")) & (F.col("c2.qy") > F.col("c1.qy")),
        )
        .agg(F.coalesce(F.sum(F.col("c1.n") * F.col("c2.n")), F.lit(0)).cast(dec).alias("c"))
    )
    disc = (
        cell.alias("c1").join(
            cell.alias("c2"),
            (F.col("c2.qx") > F.col("c1.qx")) & (F.col("c2.qy") < F.col("c1.qy")),
        )
        .agg(F.coalesce(F.sum(F.col("c1.n") * F.col("c2.n")), F.lit(0)).cast(dec).alias("d"))
    )
    tx = (
        cell.groupBy("qx").agg(F.sum("n").alias("s"))
        .agg(F.sum(F.col("s") * (F.col("s") - 1) / 2).cast(dec).alias("t"))
    )
    ty = (
        cell.groupBy("qy").agg(F.sum("n").alias("s"))
        .agg(F.sum(F.col("s") * (F.col("s") - 1) / 2).cast(dec).alias("t"))
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    half = F.col("n").cast(dec) * (F.col("n").cast(dec) - 1) / 2
    return (
        conc.crossJoin(disc).crossJoin(tx.withColumnRenamed("t", "t_x"))
        .crossJoin(ty.withColumnRenamed("t", "t_y")).crossJoin(tot)
        .select(
            F.col("c").cast("long").alias("concordant"),
            F.col("d").cast("long").alias("discordant"),
            F.round(
                (d_("c") - d_("d"))
                / F.sqrt(
                    (half - F.col("t_x")).cast("double")
                    * (half - F.col("t_y")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )



@query(
    "chi2_independence",
    """WITH o AS (SELECT lang, source, count(*)::BIGINT AS o FROM documents GROUP BY 1, 2),
       r AS (SELECT lang, sum(o)::BIGINT AS r FROM o GROUP BY lang),
       c AS (SELECT source, sum(o)::BIGINT AS c FROM o GROUP BY source),
       n AS (SELECT sum(o)::BIGINT AS n FROM o),
       dense AS (
         SELECT r.lang, c.source, coalesce(o.o, 0)::BIGINT AS o, r.r, c.c, n.n
         FROM r CROSS JOIN c CROSS JOIN n
         LEFT JOIN o ON o.lang = r.lang AND o.source = c.source),
       terms AS (
         SELECT round(1e9 * ((o * n - r * c)::HUGEINT * (o * n - r * c)::HUGEINT)::DOUBLE
                      / (r::HUGEINT * c::HUGEINT * n::HUGEINT)::DOUBLE / n::DOUBLE
                )::BIGINT AS t_nano,
                r, c, n
         FROM dense),
       dims AS (SELECT count(DISTINCT lang)::BIGINT AS nr,
                       count(DISTINCT source)::BIGINT AS nc FROM o)
       SELECT sum(t_nano)::BIGINT AS chi2_nano,
              round(sum(t_nano) / 1e9, 6) AS chi2,
              (SELECT (nr - 1) * (nc - 1) FROM dims)::BIGINT AS dof,
              round(sqrt(sum(t_nano) / 1e9 / (SELECT max(n) FROM n)
                         / (SELECT least(nr - 1, nc - 1) FROM dims)), 6) AS cramers_v
       FROM terms""",
)
def q_chi2_independence(spark, sf_dir):
    """Pearson χ² test of independence on the lang × source contingency
    table plus Cramér's V effect size (the corpus-design alarm behind
    `lang_confusion`/`source_jsd`: is language mix independent of
    source?). Each cell's term uses the margin identity
    (o·n − r·c)²/(r·c·n²) — ALL-INTEGER numerator, so the only float is
    one division per cell, rounded to integer NANO-units before the
    sum (order-independent cross-engine, the `pr_auc` convention);
    zero-cells are densified via the margin cross join (χ² needs every
    expected cell). One groupBy census + two broadcast margins; V =
    sqrt(χ²/(n·min(R−1,C−1)))."""
    d = _docs(spark, sf_dir)
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("long").alias("o")).stableCheckpoint(eager=True)
    r = o.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    c = o.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    n = o.agg(F.sum("o").cast("long").alias("n"))
    dense = (
        r.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(n))
        .join(o, ["lang", "source"], "left")
        .select(F.coalesce("o", F.lit(0)).cast("long").alias("o"), "r", "c", "n")
    )
    dec = "decimal(38,0)"
    diff = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast(dec)
    t_nano = F.round(
        F.lit(1e9) * (diff * diff).cast("double")
        / (F.col("r").cast(dec) * F.col("c").cast(dec) * F.col("n").cast(dec)).cast("double")
        / F.col("n").cast("double"),
        0,
    ).cast("long")
    dims = o.agg(
        F.count_distinct("lang").cast("long").alias("nr"),
        F.count_distinct("source").cast("long").alias("nc"),
    )
    agg = dense.agg(F.sum(t_nano).cast("long").alias("chi2_nano"))
    return (
        agg.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(n))
        .select(
            "chi2_nano",
            F.round(F.col("chi2_nano") / 1e9, 6).alias("chi2"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            F.round(
                F.sqrt(
                    F.col("chi2_nano") / 1e9 / F.col("n").cast("double")
                    / F.least(F.col("nr") - 1, F.col("nc") - 1).cast("double")
                ),
                6,
            ).alias("cramers_v"),
        )
    )



# --------------------------------------------------------------------------
# batch 58: deterministic bootstrap CI, k-core peeling, Jaro-Winkler linkage

# Poisson(1) inverse-CDF thresholds scaled to the md5_int 60-bit hash
# range: multiplicity k iff hash < floor(P(X<=k)*2^60); tail capped at 6.
_HBOOT_THRESH = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
)

_HBOOT_B = 200



def _boot_case_sql(hv: str) -> str:
    branches = "".join(
        f" WHEN {hv} < {t} THEN {k}" for k, t in enumerate(_HBOOT_THRESH)
    )
    return f"CASE{branches} ELSE 6 END"



@query(
    "hash_bootstrap_ci",
    f"""WITH d AS (SELECT doc_id, n_chars FROM documents),
       bs AS (SELECT b, doc_id, n_chars
              FROM d CROSS JOIN (SELECT unnest(range(1, {_HBOOT_B + 1}))::BIGINT AS b)),
       h AS (SELECT b, n_chars,
                    {md5_int_sql("concat(doc_id::VARCHAR, ':', b::VARCHAR)")} AS hv
             FROM bs),
       kk AS (SELECT b, n_chars, {_boot_case_sql('hv')} AS k FROM h),
       m AS (SELECT b, sum(k * n_chars)::BIGINT AS sx, sum(k)::BIGINT AS sk
             FROM kk GROUP BY b),
       means AS (SELECT b, sx::DOUBLE / sk AS mb,
                        row_number() OVER (ORDER BY sx::DOUBLE / sk, b) AS rn
                 FROM m WHERE sk > 0),
       fl AS (SELECT count(*)::BIGINT AS n_docs,
                     round(sum(n_chars)::DOUBLE / count(*), 6) AS mean_full
              FROM d)
       SELECT fl.n_docs, fl.mean_full,
              round((SELECT mb FROM means WHERE rn = 5), 6) AS ci_lo,
              round((SELECT mb FROM means WHERE rn = {_HBOOT_B - 4}), 6) AS ci_hi,
              (SELECT count(*) FROM means)::BIGINT AS n_resamples
       FROM fl""",
)
def q_hash_bootstrap_ci(spark, sf_dir):
    """Deterministic Poissonized bootstrap 95% CI for the mean document
    length (Efron 1979; the Poisson(1) multiplicity approximation to
    multinomial resampling is the standard one-pass STREAMING bootstrap
    — Owen & Eckles 2012): resample b counts row i with multiplicity
    Poisson(1) read off a seeded md5 hash of (doc_id, b) against
    precomputed 60-bit inverse-CDF thresholds — NO rand(), so every
    resample is replan/retry-stable and identical cross-engine (the
    `hash_sample` design extended to multiplicities). B=200 resample
    means are exact-integer sums (Σk·x / Σk, one division); the CI is
    nearest-rank order statistics (ranks 5 and 196, ties broken by b).
    Scale shape: ONE explode×B pass + one groupBy — per-row work is B
    hashes, no collect, no iteration; B partial sums per partition is
    the map-side-combine form of the one-pass bootstrap."""
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    bs = d.select(
        "doc_id", "n_chars", F.explode(F.sequence(F.lit(1), F.lit(_HBOOT_B))).alias("b")
    )
    hv = md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("b").cast("string")))
    k = F.lit(6)
    for kk in range(len(_HBOOT_THRESH) - 1, -1, -1):
        k = F.when(hv < _HBOOT_THRESH[kk], F.lit(kk)).otherwise(k)
    m = (
        bs.select("b", "n_chars", k.alias("k"))
        .groupBy("b")
        .agg(
            F.sum(F.col("k") * F.col("n_chars")).cast("long").alias("sx"),
            F.sum("k").cast("long").alias("sk"),
        )
        .where(F.col("sk") > 0)
    )
    means = m.select(
        "b", (F.col("sx").cast("double") / F.col("sk")).alias("mb")
    ).withColumn("rn", F.row_number().over(Window.orderBy("mb", "b")))
    fl = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6).alias("mean_full"),
    )
    lo = means.where(F.col("rn") == 5).select(F.round("mb", 6).alias("ci_lo"))
    hi = means.where(F.col("rn") == _HBOOT_B - 4).select(F.round("mb", 6).alias("ci_hi"))
    nb = means.agg(F.count(F.lit(1)).cast("long").alias("n_resamples"))
    return (
        fl.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi)).crossJoin(F.broadcast(nb))
        .select("n_docs", "mean_full", "ci_lo", "ci_hi", "n_resamples")
    )



_KCORE_K = 3

_KCORE_ROUNDS = 40



def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    # every CTE is MATERIALIZED: each round references the previous one
    # three times, so default CTE inlining would expand the plan 3^rounds
    parts = [
        """op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS MATERIALIZED (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       bb AS MATERIALIZED (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS MATERIALIZED (
         SELECT DISTINCT a.l_partkey AS u, b2.l_partkey AS v
         FROM bb a JOIN bb b2 ON a.l_orderkey = b2.l_orderkey
                            AND a.l_partkey < b2.l_partkey),
       s0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)"""
    ]
    prev = "s0"
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT u AS node FROM {prev} "
            f"GROUP BY u HAVING count(*) >= {k})"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT s.u, s.v FROM {prev} s "
            f"JOIN n{r} na ON na.node = s.u JOIN n{r} nb ON nb.node = s.v)"
        )
        prev = f"s{r}"
    return (
        "WITH " + ",\n       ".join(parts)
        + f"\n       SELECT u AS node, count(*)::BIGINT AS core_degree "
        f"FROM {prev} GROUP BY u"
    )



@query("kcore_members", _kcore_sql())
def q_kcore_members(spark, sf_dir):
    """k-core decomposition membership (Seidman 1983; Batagelj-Zaveršnik
    peeling) for k=3 on the part co-purchase graph: repeatedly remove
    every node of degree < k until the remaining induced subgraph is
    the maximal one with min degree ≥ k — THE standard dense-nucleus
    extractor (spam-farm / community cores; `rich_club` profiles by
    degree, this peels by induced degree). Spark side is the canonical
    driver-loop peel: per round one degree census + two semi-joins,
    lineage truncated per round, terminating at the fixpoint (node set
    unchanged) with a loud guard at 40 rounds — the oracle
    unrolls the same synchronous peel 40× (idempotent once the
    fixpoint is reached, so extra rounds are harmless). Returns every
    core member with its degree inside the core."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("bs"))
        .where((F.col("bs") >= 2) & (F.col("bs") <= 20)).select("l_orderkey")
    )
    b = op.join(sized, "l_orderkey")
    e = (
        b.alias("x").join(b.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v"))
        .distinct()
    )
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).stableCheckpoint(eager=True)
    prev_n = -1
    for _ in range(_KCORE_ROUNDS + 1):
        keep = (
            sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= _KCORE_K).select(F.col("u").alias("node"))
        )
        n_now = keep.count()
        if n_now == prev_n:
            break
        sym = (
            sym.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.selectExpr("node AS v"), "v")
            .select("u", "v")
            .stableCheckpoint(eager=True)
        )
        prev_n = n_now
    else:
        raise RuntimeError(
            f"k-core peel did not reach a fixpoint in {_KCORE_ROUNDS} rounds"
        )
    return sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("core_degree")).withColumnRenamed("u", "node")



def _jw_sql() -> str:
    from pliers_spark.operators.dedup import jaro_winkler_blocked_sql

    return jaro_winkler_blocked_sql()



@query("jaro_winkler_dups", _jw_sql())
def q_jaro_winkler_dups(spark, sf_dir):
    """Jaro-Winkler fuzzy vocabulary matching (Winkler 1990) — typo and
    variant detection over the distinct-token vocabulary, blocked by a
    2-char prefix + length window so no all-pairs product forms (the
    record-linkage blocking discipline; same gate shape as
    `edit_distance_dups`). Scoring is one Arrow-batched pandas UDF over
    the gated pairs, semantics verified against DuckDB's built-in
    ``jaro_winkler_similarity`` (0.7 boost gate, p=0.1, prefix ≤ 4),
    which IS the oracle."""
    from pliers_spark.operators.dedup import jaro_winkler_blocked

    return jaro_winkler_blocked(_docs(spark, sf_dir))



# --------------------------------------------------------------------------
# batch 59: perceptual DCT hash, truncated EWMA, CUSUM changepoint


def _phash_sql() -> str:
    from pliers_spark.multimodal import PHASH_KERNEL

    kern = ", ".join(
        f"({u}, {x}, {kq})" for u, row in enumerate(PHASH_KERNEL) for x, kq in enumerate(row)
    )
    px = "(doc_id*131 + r.r*17 + c.c*5 + {ch})"
    return f"""WITH kern(u, x, kq) AS (VALUES {kern}),
       lum AS (
         SELECT d.doc_id, r.r, c.c,
                (299*({px.format(ch=0)} % 256)
               + 587*({px.format(ch=29)} % 256)
               + 114*({px.format(ch=58)} % 256))::BIGINT AS lum
         FROM documents d, generate_series(0,7) r(r), generate_series(0,7) c(c)),
       coeff AS (
         SELECT doc_id, ku.u AS u, kv.u AS v,
                sum(lum * ku.kq * kv.kq)::BIGINT AS cf
         FROM lum JOIN kern ku ON ku.x = lum.r JOIN kern kv ON kv.x = lum.c
         GROUP BY 1, 2, 3),
       ac AS (
         SELECT doc_id, u, v, cf,
                row_number() OVER (PARTITION BY doc_id ORDER BY cf, u, v) AS rn
         FROM coeff WHERE NOT (u = 0 AND v = 0)),
       med AS (SELECT doc_id, max(CASE WHEN rn = 32 THEN cf END) AS med
               FROM ac GROUP BY doc_id),
       bits AS (
         SELECT a.doc_id, a.u*8 + a.v - 1 AS pos,
                CASE WHEN a.cf > m.med THEN 1 ELSE 0 END AS b
         FROM ac a JOIN med m USING (doc_id))
       SELECT doc_id, sum(b * (1::BIGINT << pos))::BIGINT AS phash,
              sum(b)::BIGINT AS n_above
       FROM bits GROUP BY doc_id"""



@query("image_phash", _phash_sql())
def q_image_phash(spark, sf_dir):
    """Perceptual DCT hash (pHash) over a REAL PPM round trip: synthetic
    8×8 images (pixel formula keyed by doc_id) are encoded to P6 bytes,
    decoded by the production codec path, luma'd, and 2-D DCT'd with
    the QUANTIZED integer kernel (round(cos·2¹⁸) literals — the
    chroma_cqt discipline), so every coefficient, the 63-way AC median
    (exact 32nd-smallest order statistic), each comparison bit, and
    the packed 63-bit hash are exact int64 on both engines. pHash is
    the frequency-domain complement to `image_dhash_dups`: DCT energy
    compaction makes it robust to blur/re-encode, the standard second
    perceptual key in crawl image dedup. The oracle recomputes
    pixel → luma → DCT relationally from the same formula, certifying
    encode → decode → DCT → median → pack bit-for-bit."""
    import numpy as np

    from pliers_spark import codecs, multimodal

    def build(did: int) -> bytes:
        return codecs.encode_ppm(_synth_image(did))

    payloads = _synth_payloads(spark, sf_dir, build)
    return multimodal.image_phash(payloads).withColumnRenamed("id", "doc_id")



_EWMA_ALPHA = 0.3

_EWMA_LAGS = 20

_EWMA_W = tuple(
    round(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j * 1e9) for j in range(_EWMA_LAGS)
)



def _ewma_sql() -> str:
    wx = " + ".join(
        f"coalesce(lag(x, {j}) OVER w, 0) * {w}::BIGINT" for j, w in enumerate(_EWMA_W)
    )
    ww = " + ".join(
        f"CASE WHEN lag(x, {j}) OVER w IS NOT NULL THEN {w}::BIGINT ELSE 0 END"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""WITH base AS (
         SELECT event_id, user_id, ts, round(value * 100)::BIGINT AS x
         FROM events),
       s AS (
         SELECT event_id, user_id,
                ({wx}) AS sum_wx,
                ({ww}) AS sum_w
         FROM base
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT event_id, user_id,
              round(sum_wx::DOUBLE / sum_w::DOUBLE / 100.0, 6) AS ewma
       FROM s"""



@query("ewma_smooth", _ewma_sql())
def q_ewma_smooth(spark, sf_dir):
    """Truncated exponential smoothing (EWMA, α=0.3) of each user's
    event-value stream — the classic online noise filter behind
    anomaly bands and `rolling_anomaly`-style monitors. The recursion
    s_t = α·x_t + (1−α)·s_{t−1} is unrolled to its 20-term window form
    with integer NANO-unit weights w_j = round(α(1−α)ʲ·10⁹) and
    cent-unit values, normalized by the weights actually present at
    the stream head — so both sums are exact int64 and the smoothed
    value is one identical double division per row. Plan: ONE window
    pass per user (20 lag() columns share a single sort/shuffle on
    user_id — whole-stage codegen, no interpreted array fold, no
    exploding (1−α)^{−t} rescale that would overflow on long
    streams)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = F.round(F.col("value") * 100, 0).cast("long")
    base = ev.select("event_id", "user_id", "ts", x.alias("x"))
    sum_wx = None
    sum_w = None
    for j, wj in enumerate(_EWMA_W):
        lj = F.lag("x", j).over(w)
        term_x = F.coalesce(lj, F.lit(0)) * F.lit(wj)
        term_w = F.when(lj.isNotNull(), F.lit(wj)).otherwise(F.lit(0))
        sum_wx = term_x if sum_wx is None else sum_wx + term_x
        sum_w = term_w if sum_w is None else sum_w + term_w
    return base.select(
        "event_id", "user_id",
        F.round(
            sum_wx.cast("double") / sum_w.cast("double") / F.lit(100.0), 6
        ).alias("ewma"),
    )



@query(
    "cusum_changepoint",
    """WITH daily AS (
         SELECT date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
                count(*)::BIGINT AS n_events
         FROM events GROUP BY 1),
       tot AS (SELECT sum(n_events)::BIGINT AS s, count(*)::BIGINT AS n FROM daily),
       p AS (
         SELECT day, n_events, s, n,
                sum(n * n_events - s) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
         FROM daily CROSS JOIN tot),
       sc AS (
         SELECT day, n_events, s, n,
                pf - least(0, min(pf) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sp
         FROM p)
       SELECT day, n_events,
              round(sp::DOUBLE / n, 6) AS cusum,
              (sp::DOUBLE / n > 3.0 * sqrt(s::DOUBLE / n)) AS alarm
       FROM sc""",
)
def q_cusum_changepoint(spark, sf_dir):
    """One-sided CUSUM changepoint monitor (Page, Biometrika 1954) on
    the daily event-count series: S_t = max(0, S_{t−1} + (x_t − μ)).
    The max-reset recursion is NOT window-expressible directly, but the
    prefix identity S_t = P_t − min_{0≤j≤t} P_j (P = running sum of
    deviations, P₀ = 0 folded in via least(0, ·)) turns it into two
    stacked running windows over ONE sort — the scale shape, no
    driver recursion. Deviations are scaled by n (y' = n·x − Σx) so
    every prefix sum and running min is exact int64; the alarm fires
    when S_t > 3·√μ̂ (one identical float comparison). This is the
    formal changepoint detector behind `rolling_anomaly`'s z-score
    heuristic."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.select(F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long").alias("day"))
        .groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    tot = daily.agg(
        F.sum("n_events").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = daily.crossJoin(F.broadcast(tot)).withColumn(
        "pf", F.sum(F.col("n") * F.col("n_events") - F.col("s")).over(wrun)
    )
    sc = p.withColumn("sp", F.col("pf") - F.least(F.lit(0).cast("long"), F.min("pf").over(wrun)))
    return sc.select(
        "day", "n_events",
        F.round(F.col("sp").cast("double") / F.col("n"), 6).alias("cusum"),
        (
            F.col("sp").cast("double") / F.col("n")
            > F.lit(3.0) * F.sqrt(F.col("s").cast("double") / F.col("n"))
        ).alias("alarm"),
    )



# --------------------------------------------------------------------------
# batch 60: Brier calibration decomposition, BH-FDR, Theil inequality


@query(
    "brier_calibration",
    """WITH scored AS (
         SELECT round(n_chars * 1e6 / (n_chars + 500))::BIGINT AS p_micro,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y
         FROM documents),
       binned AS (
         SELECT least(9, p_micro // 100000)::BIGINT AS bin, p_micro, y
         FROM scored),
       bins AS (
         SELECT bin, count(*)::BIGINT AS nk,
                sum(p_micro)::BIGINT AS sp, sum(y)::BIGINT AS sy
         FROM binned GROUP BY bin),
       tot AS (
         SELECT sum(nk)::BIGINT AS n, sum(sy)::BIGINT AS sy_all,
                (SELECT sum((p_micro - 1000000*y)::HUGEINT
                            * (p_micro - 1000000*y)::HUGEINT) FROM binned)
                  AS brier_num
         FROM bins),
       terms AS (
         SELECT b.bin, b.nk,
                round(b.sp::DOUBLE / b.nk / 1e6, 6) AS mean_p,
                round(b.sy::DOUBLE / b.nk, 6) AS frac_pos,
                round(1e9 * ((b.sp - 1000000*b.sy)::HUGEINT
                             * (b.sp - 1000000*b.sy)::HUGEINT)::DOUBLE
                      / b.nk / 1e12 / t.n)::BIGINT AS rel_nano,
                round(1e9 * ((b.sy * t.n - b.nk * t.sy_all)::HUGEINT
                             * (b.sy * t.n - b.nk * t.sy_all)::HUGEINT)::DOUBLE
                      / b.nk / t.n / t.n / t.n)::BIGINT AS res_nano
         FROM bins b CROSS JOIN tot t)
       SELECT (SELECT round(brier_num::DOUBLE / 1e12 / n, 6) FROM tot) AS brier,
              round(sum(rel_nano) / 1e9, 6) AS reliability,
              round(sum(res_nano) / 1e9, 6) AS resolution,
              (SELECT round(sy_all::DOUBLE / n * (n - sy_all) / n, 6) FROM tot)
                AS uncertainty,
              count(*)::BIGINT AS n_bins
       FROM terms""",
)
def q_brier_calibration(spark, sf_dir):
    """Brier score with Murphy's calibration decomposition (Murphy, JAM
    1973: Brier = reliability − resolution + uncertainty) for a
    deterministic length-based probability that a document is English
    (p = n_chars/(n_chars+500) — an exact integer-ratio score, so no
    model RNG): 10 equal-width probability bins, per-bin mean forecast
    vs observed frequency. Every sufficient statistic is an exact
    integer (micro-unit forecasts, HUGEINT squared deviations); the
    reliability/resolution bin terms round once to NANO-units before
    the 10-term sum (the `pr_auc` order-independence convention), and
    the Brier numerator is a single exact integer sum. The
    calibration-curve audit every probabilistic quality/langid scorer
    feeding `quality_weighted_sample` should pass before its scores
    are trusted as sampling weights."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    scored = d.select(
        F.round(F.col("n_chars") * 1e6 / (F.col("n_chars") + 500), 0).cast("long").alias("p_micro"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    binned = scored.select(
        F.least(F.lit(9), F.floor(F.col("p_micro") / 100000)).cast("long").alias("bin"),
        "p_micro", "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("p_micro").cast("long").alias("sp"),
        F.sum("y").cast("long").alias("sy"),
    ).stableCheckpoint(eager=True)
    bdiff = (F.col("p_micro") - 1000000 * F.col("y")).cast(dec)
    brier_num = binned.agg(F.sum(bdiff * bdiff).cast(dec).alias("brier_num"))
    tot = (
        bins.agg(
            F.sum("nk").cast("long").alias("n"), F.sum("sy").cast("long").alias("sy_all")
        )
        .crossJoin(F.broadcast(brier_num))
    )
    t = bins.crossJoin(F.broadcast(tot))
    rdiff = (F.col("sp") - 1000000 * F.col("sy")).cast(dec)
    sdiff = (F.col("sy") * F.col("n") - F.col("nk") * F.col("sy_all")).cast(dec)
    terms = t.select(
        F.round(
            F.lit(1e9) * (rdiff * rdiff).cast("double") / F.col("nk") / 1e12 / F.col("n"), 0
        ).cast("long").alias("rel_nano"),
        F.round(
            F.lit(1e9) * (sdiff * sdiff).cast("double")
            / F.col("nk") / F.col("n") / F.col("n") / F.col("n"), 0
        ).cast("long").alias("res_nano"),
    )
    agg = terms.agg(
        F.round(F.sum("rel_nano") / 1e9, 6).alias("reliability"),
        F.round(F.sum("res_nano") / 1e9, 6).alias("resolution"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("brier_num").cast("double") / 1e12 / F.col("n"), 6).alias("brier"),
            "reliability", "resolution",
            F.round(
                F.col("sy_all").cast("double") / F.col("n")
                * (F.col("n") - F.col("sy_all")) / F.col("n"), 6
            ).alias("uncertainty"),
            "n_bins",
        )
    )



_BH_ALPHA_MICRO = 100000  # alpha = 0.10 in micro-units



@query(
    "bh_fdr",
    f"""WITH st AS (
         SELECT source, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s,
                sum(n_chars::HUGEINT * n_chars::HUGEINT) AS q
         FROM documents GROUP BY source),
       tot AS (SELECT sum(n)::BIGINT AS tn, sum(s)::BIGINT AS ts,
                      sum(q) AS tq, count(*)::BIGINT AS m FROM st),
       z AS (
         SELECT st.source, st.n,
                (st.s::DOUBLE / st.n - (t.ts - st.s)::DOUBLE / (t.tn - st.n)) AS diff,
                (st.q::DOUBLE / st.n - (st.s::DOUBLE / st.n) * (st.s::DOUBLE / st.n))
                  / st.n
              + ((t.tq - st.q)::DOUBLE / (t.tn - st.n)
                 - ((t.ts - st.s)::DOUBLE / (t.tn - st.n))
                   * ((t.ts - st.s)::DOUBLE / (t.tn - st.n)))
                  / (t.tn - st.n) AS se2,
                t.m
         FROM st CROSS JOIN tot t),
       pv AS (
         SELECT source, m,
                round(1e6 / (1.0 + diff * diff / se2))::BIGINT AS p_micro
         FROM z),
       ranked AS (
         SELECT source, m, p_micro,
                row_number() OVER (ORDER BY p_micro, source) AS rk
         FROM pv),
       cutoff AS (
         SELECT coalesce(max(rk), 0) AS kstar
         FROM ranked WHERE p_micro * m <= {_BH_ALPHA_MICRO}::BIGINT * rk)
       SELECT r.source, round(r.p_micro / 1e6, 6) AS p_value, r.rk AS rank,
              round({_BH_ALPHA_MICRO} * r.rk / 1e6 / r.m, 6) AS bh_threshold,
              (r.rk <= c.kstar) AS rejected
       FROM ranked r CROSS JOIN cutoff c""",
)
def q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR control (JRSS-B 1995) across the m
    per-source "is this source's mean doc length shifted?" tests: each
    source gets a distribution-free Cantelli-bound p-value
    p = 1/(1+z²) from its two-sample z² (exact integer sufficient
    stats, ONE identical float expression per source — conservative by
    construction, so the procedure is honest without cross-engine
    erf), then the step-up rule rejects ranks ≤ k* = max{k : p_(k) ≤
    α·k/m} — the threshold comparison is INTEGER cross-multiplication
    (p_micro·m ≤ α_micro·k), so the rejection set is exact. THE
    standard multiple-comparisons gate when `dunning_keyness`/
    `ks_drift`-style per-source screens run at corpus scale (m sources
    → m tests → FDR, not per-test α). One census + rank window over m
    rows."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    st = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars").cast(dec) * F.col("n_chars").cast(dec)).cast(dec).alias("q"),
    ).stableCheckpoint(eager=True)
    tot = st.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("s").cast("long").alias("ts"),
        F.sum("q").cast(dec).alias("tq"), F.count(F.lit(1)).cast("long").alias("m"),
    )
    z = st.crossJoin(F.broadcast(tot))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    mean_in = d_("s") / d_("n")
    mean_out = (d_("ts") - d_("s")) / (d_("tn") - d_("n"))
    var_in = d_("q") / d_("n") - mean_in * mean_in
    var_out = (
        (d_("tq") - d_("q")) / (d_("tn") - d_("n")) - mean_out * mean_out
    )
    diff = mean_in - mean_out
    se2 = var_in / F.col("n") + var_out / (F.col("tn") - F.col("n"))
    pv = z.select(
        "source", "m",
        F.round(F.lit(1e6) / (F.lit(1.0) + diff * diff / se2), 0).cast("long").alias("p_micro"),
    )
    ranked = pv.withColumn("rk", F.row_number().over(Window.orderBy("p_micro", "source")))
    cutoff = ranked.where(
        F.col("p_micro") * F.col("m") <= F.lit(_BH_ALPHA_MICRO) * F.col("rk")
    ).agg(F.coalesce(F.max("rk"), F.lit(0)).alias("kstar"))
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "source",
        F.round(F.col("p_micro") / 1e6, 6).alias("p_value"),
        F.col("rk").cast("long").alias("rank"),
        F.round(F.lit(_BH_ALPHA_MICRO) * F.col("rk") / 1e6 / F.col("m"), 6).alias("bh_threshold"),
        (F.col("rk") <= F.col("kstar")).alias("rejected"),
    )



@query(
    "theil_index",
    """WITH x AS (SELECT source, n_chars::BIGINT AS x FROM documents WHERE n_chars > 0),
       tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx FROM x),
       rows_t AS (
         SELECT source,
                round(1e6 * (x::DOUBLE * t.n / t.sx) * ln(x::DOUBLE * t.n / t.sx))::BIGINT
                  AS t_micro,
                x, t.n, t.sx
         FROM x CROSS JOIN tot t),
       grp AS (
         SELECT source, count(*)::BIGINT AS ng, sum(x)::BIGINT AS sg,
                sum(t_micro)::BIGINT AS tg_micro
         FROM rows_t GROUP BY source),
       btw AS (
         SELECT sum(round(1e6 * (g.sg::DOUBLE / t.sx)
                          * ln((g.sg::DOUBLE * t.n) / (g.ng::DOUBLE * t.sx)))::BIGINT)
                  AS tb_micro
         FROM grp g CROSS JOIN tot t)
       SELECT round((SELECT sum(tg_micro) FROM grp) / 1e6
                    / (SELECT n FROM tot), 6) AS theil_total,
              round((SELECT tb_micro FROM btw) / 1e6, 6) AS theil_between,
              round((SELECT sum(tg_micro) FROM grp) / 1e6 / (SELECT n FROM tot)
                    - (SELECT tb_micro FROM btw) / 1e6, 6) AS theil_within""",
)
def q_theil_index(spark, sf_dir):
    """Theil T inequality index of document length with its exact
    between/within-source decomposition (Theil 1967; the additive
    decomposability that Gini lacks — the reason economists reach for
    Theil when attributing inequality to groups): T = Σ (x/Σx)·
    ln(x·n/Σx), T_between from source totals, T_within = T − T_between.
    Per-row and per-group log terms round once to integer micro-units
    (ln parity across engines is already pinned by `pmi_collocations`/
    `dunning_keyness`), so every sum is exact and order-independent.
    Complements `gini_tokens`/`pareto_8020`: same concentration
    question, but attributable to sources — the corpus-curation view
    of "is length inequality a few weird sources or everyone?"."""
    d = _docs(spark, sf_dir)
    x = d.where(F.col("n_chars") > 0).select("source", F.col("n_chars").cast("long").alias("x"))
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").cast("long").alias("sx")
    )
    rt = x.crossJoin(F.broadcast(tot))
    share = F.col("x").cast("double") * F.col("n") / F.col("sx")
    rows_t = rt.select(
        "source",
        F.round(F.lit(1e6) * share * F.log(share), 0).cast("long").alias("t_micro"),
        "x", "n", "sx",
    )
    grp = rows_t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sg"),
        F.sum("t_micro").cast("long").alias("tg_micro"),
    )
    gt = grp.crossJoin(F.broadcast(tot))
    btw_term = F.round(
        F.lit(1e6) * (F.col("sg").cast("double") / F.col("sx"))
        * F.log(
            F.col("sg").cast("double") * F.col("n")
            / (F.col("ng").cast("double") * F.col("sx"))
        ),
        0,
    ).cast("long")
    btw = gt.agg(F.sum(btw_term).cast("long").alias("tb_micro"))
    total = rows_t.agg(F.sum("t_micro").cast("long").alias("tt_micro"))
    return (
        total.crossJoin(F.broadcast(btw)).crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("tt_micro") / 1e6 / F.col("n"), 6).alias("theil_total"),
            F.round(F.col("tb_micro") / 1e6, 6).alias("theil_between"),
            F.round(
                F.col("tt_micro") / 1e6 / F.col("n") - F.col("tb_micro") / 1e6, 6
            ).alias("theil_within"),
        )
    )



# --------------------------------------------------------------------------
# batch 61: association rules (support/confidence/lift)


_AR_MIN_SUPP = 20



@query(
    "assoc_rules",
    f"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       nb AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n FROM b),
       item AS (SELECT l_partkey, count(*)::BIGINT AS c1 FROM b GROUP BY 1),
       co AS (
         SELECT x.l_partkey AS a, y.l_partkey AS bpart, count(*)::BIGINT AS c2
         FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
                          AND x.l_partkey < y.l_partkey
         GROUP BY 1, 2 HAVING count(*) >= {_AR_MIN_SUPP}),
       rules AS (
         SELECT co.a AS antecedent, co.bpart AS consequent, co.c2,
                ia.c1 AS c_ant, ic.c1 AS c_con, nb.n
         FROM co JOIN item ia ON ia.l_partkey = co.a
                 JOIN item ic ON ic.l_partkey = co.bpart
                 CROSS JOIN nb
         UNION ALL
         SELECT co.bpart, co.a, co.c2, ic.c1, ia.c1, nb.n
         FROM co JOIN item ia ON ia.l_partkey = co.a
                 JOIN item ic ON ic.l_partkey = co.bpart
                 CROSS JOIN nb)
       SELECT antecedent, consequent, c2 AS pair_count,
              round(c2::DOUBLE / n, 6) AS support,
              round(c2::DOUBLE / c_ant, 6) AS confidence,
              round(c2::DOUBLE * n / (c_ant::DOUBLE * c_con), 6) AS lift
       FROM rules""",
)
def q_assoc_rules(spark, sf_dir):
    """Association rules over co-purchase baskets (Agrawal & Srikant,
    VLDB 1994 — Apriori's 2-itemset tier): every frequent pair
    (support ≥ 20 baskets) emits both directed rules a→b
    with support, confidence c(ab)/c(a), and lift c(ab)·n/(c(a)·c(b)).
    The pair census is the SAME bounded-basket self-join `item_cosine`
    and `butterfly_count` share (support threshold = map-side partial
    agg + HAVING, the Apriori anti-monotone prune); singleton counts
    attach by two broadcast-size joins. All counts exact; the three
    ratios are one division each. The recommender/basket workhorse on
    which `rec_coverage`'s catalogs are built."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("bs"))
        .where((F.col("bs") >= 2) & (F.col("bs") <= 20)).select("l_orderkey")
    )
    b = op.join(sized, "l_orderkey").stableCheckpoint(eager=True)
    nb = b.agg(F.count_distinct("l_orderkey").cast("long").alias("n"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    co = (
        b.alias("x").join(b.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("bpart"))
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        .where(F.col("c2") >= _AR_MIN_SUPP)
    )
    base = (
        co.join(item.selectExpr("l_partkey AS a", "c1 AS c_ant"), "a")
        .join(item.selectExpr("l_partkey AS bpart", "c1 AS c_con"), "bpart")
        .crossJoin(F.broadcast(nb))
    )
    fwd = base.select(
        F.col("a").alias("antecedent"), F.col("bpart").alias("consequent"),
        "c2", "c_ant", "c_con", "n",
    )
    rev = base.select(
        F.col("bpart").alias("antecedent"), F.col("a").alias("consequent"),
        "c2", F.col("c_con").alias("c_ant"), F.col("c_ant").alias("c_con"), "n",
    )
    rules = fwd.unionByName(rev)
    return rules.select(
        "antecedent", "consequent", F.col("c2").alias("pair_count"),
        F.round(F.col("c2").cast("double") / F.col("n"), 6).alias("support"),
        F.round(F.col("c2").cast("double") / F.col("c_ant"), 6).alias("confidence"),
        F.round(
            F.col("c2").cast("double") * F.col("n")
            / (F.col("c_ant").cast("double") * F.col("c_con")), 6
        ).alias("lift"),
    )
