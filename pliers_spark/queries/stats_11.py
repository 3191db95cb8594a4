"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: stupid_backoff_loo, kaplan_meier, aalen_johansen,
    markov_entropy_rate, seq_pattern_support, hits_scores,
    propensity_match, gamma_poisson_eb, scc_components, bowtie_structure,
    eccentricity, textrank_keywords, fightin_words, phrase_search,
    bayes_ab_beta, amoc_changepoint, kde_grid, props_schema_drift,
    mmd_rff, cochran_armitage, nelson_aalen, rarefaction_curve,
    decile_lift, isotonic_fit, von_neumann_ratio, cronbach_alpha,
    condensation_layers
"""
from __future__ import annotations

from ._registry import F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query



@query(
    "stupid_backoff_loo",
    """WITH tok AS (
         SELECT doc_id,
                unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                unnest(string_split(trim(text), ' ')) AS w
         FROM documents),
       dl AS (SELECT doc_id, count(*)::BIGINT AS dlen FROM tok GROUP BY doc_id),
       uni_d AS (SELECT doc_id, w, count(*)::BIGINT AS ud FROM tok GROUP BY 1, 2),
       uni AS (SELECT w, sum(ud)::BIGINT AS u FROM uni_d GROUP BY w),
       ntot AS (SELECT sum(u)::BIGINT AS n FROM uni),
       vsize AS (SELECT count(*)::BIGINT AS v FROM uni),
       bi_d AS (
         SELECT a.doc_id, a.w AS w1, b.w AS w2, count(*)::BIGINT AS bd
         FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         GROUP BY 1, 2, 3),
       bi AS (SELECT w1, w2, sum(bd)::BIGINT AS b FROM bi_d GROUP BY 1, 2),
       terms AS (
         SELECT bd.doc_id, bd.bd,
                CASE WHEN bi.b - bd.bd > 0
                     THEN CAST(round(1000000.0 * ln(
                            (bi.b - bd.bd)::DOUBLE
                            / (u1.u - coalesce(ud1.ud, 0))::DOUBLE)) AS BIGINT)
                     ELSE CAST(round(1000000.0 * ln(
                            0.4 * (u2.u - coalesce(ud2.ud, 0) + 1)::DOUBLE
                            / ((SELECT n FROM ntot) - dl.dlen
                               + (SELECT v FROM vsize))::DOUBLE)) AS BIGINT)
                END AS t_fp
         FROM bi_d bd
         JOIN bi ON bi.w1 = bd.w1 AND bi.w2 = bd.w2
         JOIN uni u1 ON u1.w = bd.w1
         JOIN uni u2 ON u2.w = bd.w2
         LEFT JOIN uni_d ud1 ON ud1.doc_id = bd.doc_id AND ud1.w = bd.w1
         LEFT JOIN uni_d ud2 ON ud2.doc_id = bd.doc_id AND ud2.w = bd.w2
         JOIN dl ON dl.doc_id = bd.doc_id),
       sc AS (
         SELECT t.doc_id, sum(t.t_fp * t.bd)::BIGINT AS score_fp,
                any_value(dl.dlen) AS dlen
         FROM terms t JOIN dl ON dl.doc_id = t.doc_id
         GROUP BY t.doc_id)
       SELECT doc_id, round(score_fp::DOUBLE / (dlen - 1) / 1000000.0, 6)
                AS avg_logscore
       FROM sc WHERE dlen > 1""",
)
def q_stupid_backoff_loo(spark, sf_dir):
    """Leave-one-out stupid-backoff language-model score per document
    (Brants et al., EMNLP 2007 — the web-scale LM that skips
    normalization): every bigram in doc d is scored against the corpus
    WITH d's own occurrences removed — S(w₂|w₁) = (b−b_d)/(u₁−u₁_d)
    when the bigram survives removal, else backoff 0.4·(u₂−u₂_d+1)/
    (N−|d|+V) (add-one so doc-unique tokens stay finite) — giving a
    held-out-style novelty/typicality signal with no train/test split
    (cf. `moore_lewis`, `kn_perplexity` which score in-sample). Each
    log term is micro-int-rounded, weighted by the doc's bigram count
    (exact int), normalized by |d|−1. Plan: one position explode, one
    self-join on pos+1 (co-partitioned by doc), bigram/unigram
    censuses, then the scoring join keyed on the bigram — the LOO
    subtraction is columnar, no per-doc recomputation of the corpus
    model."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "w")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dlen"))
    uni_d = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("long").alias("ud"))
    uni = uni_d.groupBy("w").agg(F.sum("ud").cast("long").alias("u"))
    ntot = uni.agg(F.sum("u").cast("long").alias("n"))
    vsize = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    a = tok.alias("a")
    b = tok.alias("b")
    bi_d = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.w").alias("w1"),
            F.col("b.w").alias("w2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("bd"))
    )
    bi = bi_d.groupBy("w1", "w2").agg(F.sum("bd").cast("long").alias("b"))
    terms = (
        bi_d.join(bi, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), F.col("u").alias("u1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("u").alias("u2")), "w2")
        .join(
            uni_d.select("doc_id", F.col("w").alias("w1"), F.col("ud").alias("ud1")),
            ["doc_id", "w1"], "left",
        )
        .join(
            uni_d.select("doc_id", F.col("w").alias("w2"), F.col("ud").alias("ud2")),
            ["doc_id", "w2"], "left",
        )
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(ntot))
        .crossJoin(F.broadcast(vsize))
    )
    surv = F.col("b") - F.col("bd")
    t_fp = F.when(
        surv > 0,
        F.round(
            F.lit(1e6)
            * F.log(
                surv.cast("double")
                / (F.col("u1") - F.coalesce(F.col("ud1"), F.lit(0))).cast("double")
            ),
            0,
        ).cast("long"),
    ).otherwise(
        F.round(
            F.lit(1e6)
            * F.log(
                F.lit(0.4)
                * (F.col("u2") - F.coalesce(F.col("ud2"), F.lit(0)) + 1).cast("double")
                / (F.col("n") - F.col("dlen") + F.col("v")).cast("double")
            ),
            0,
        ).cast("long")
    )
    sc = (
        terms.select("doc_id", "dlen", (t_fp * F.col("bd")).alias("wt_fp"))
        .groupBy("doc_id", "dlen")
        .agg(F.sum("wt_fp").cast("long").alias("score_fp"))
    )
    return sc.where(F.col("dlen") > 1).select(
        "doc_id",
        F.round(
            F.col("score_fp").cast("double") / (F.col("dlen") - 1) / F.lit(1e6), 6
        ).alias("avg_logscore"),
    )



@query(
    "kaplan_meier",
    """WITH firsts AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_u,
                min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_u,
                max(epoch_us(ts)) AS last_u
         FROM events GROUP BY user_id),
       spans AS (
         SELECT user_id,
                CASE WHEN p_u IS NOT NULL AND p_u > v_u
                     THEN (p_u - v_u) // 86400000000 END AS conv_day,
                (last_u - v_u) // 86400000000 AS censor_day
         FROM firsts WHERE v_u IS NOT NULL),
       days AS (SELECT unnest(range(30))::BIGINT AS day),
       tbl AS (
         SELECT d.day,
                sum(CASE WHEN coalesce(s.conv_day, s.censor_day) >= d.day
                         THEN 1 ELSE 0 END)::BIGINT AS n_at_risk,
                sum(CASE WHEN s.conv_day = d.day THEN 1 ELSE 0 END)::BIGINT AS n_events
         FROM days d CROSS JOIN spans s GROUP BY d.day),
       lt AS (
         SELECT day, n_at_risk, n_events,
                CASE WHEN n_at_risk > 0 AND n_events < n_at_risk
                     THEN CAST(round(1000000.0 * ln(1.0 - n_events::DOUBLE / n_at_risk))
                          AS BIGINT)
                     ELSE 0 END AS lnterm_fp,
                CASE WHEN n_at_risk > 0 AND n_events >= n_at_risk THEN 1 ELSE 0 END AS dead
         FROM tbl),
       run AS (
         SELECT day, n_at_risk, n_events,
                sum(lnterm_fp) OVER (ORDER BY day) AS cum_fp,
                max(dead) OVER (ORDER BY day) AS any_dead
         FROM lt)
       SELECT day, n_at_risk, n_events,
              CASE WHEN any_dead = 1 THEN 0.0
                   ELSE round(exp(cum_fp / 1000000.0), 6) END AS survival
       FROM run""",
)
def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier product-limit survival curve (Kaplan & Meier, JASA
    1958) for view→purchase conversion with right-censoring at each
    user's last event — the survival companion to `rmst` (same risk
    sets): S(t) = Π_{i≤t}(1 − d_i/n_i). The
    product is carried as a running SUM of micro-int-rounded
    ln(1−d/n) terms (ordered window — identical add sequence both
    engines) and exponentiated once; the d=n absorbing state pins
    S to exact 0 from that day on. Plan: user-grain reduce, 30-day
    broadcast expansion, day-grain windows — the curve is O(days)
    regardless of user count."""
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_u"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_u"),
        F.max(us).alias("last_u"),
    )
    spans = firsts.where(F.col("v_u").isNotNull()).select(
        F.when(
            F.col("p_u").isNotNull() & (F.col("p_u") > F.col("v_u")),
            F.floor((F.col("p_u") - F.col("v_u")) / 86400000000),
        ).alias("conv_day"),
        F.floor((F.col("last_u") - F.col("v_u")) / 86400000000).alias("censor_day"),
    )
    days = spark.range(0, 30).select(F.col("id").cast("long").alias("day"))
    tbl = (
        days.crossJoin(spans)
        .groupBy("day")
        .agg(
            F.sum(
                F.when(
                    F.coalesce(F.col("conv_day"), F.col("censor_day")) >= F.col("day"), 1
                ).otherwise(0)
            ).cast("long").alias("n_at_risk"),
            F.sum(
                F.when(F.col("conv_day") == F.col("day"), 1).otherwise(0)
            ).cast("long").alias("n_events"),
        )
    )
    lnterm = F.when(
        (F.col("n_at_risk") > 0) & (F.col("n_events") < F.col("n_at_risk")),
        F.round(
            F.lit(1e6)
            * F.log(F.lit(1.0) - F.col("n_events").cast("double") / F.col("n_at_risk")),
            0,
        ).cast("long"),
    ).otherwise(F.lit(0))
    dead = F.when(
        (F.col("n_at_risk") > 0) & (F.col("n_events") >= F.col("n_at_risk")), 1
    ).otherwise(0)
    lt = tbl.select("day", "n_at_risk", "n_events", lnterm.alias("lnterm_fp"), dead.alias("dead"))
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    run = lt.select(
        "day", "n_at_risk", "n_events",
        F.sum("lnterm_fp").over(wrun).alias("cum_fp"),
        F.max("dead").over(wrun).alias("any_dead"),
    )
    return run.select(
        "day", "n_at_risk", "n_events",
        F.when(F.col("any_dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_fp") / F.lit(1e6)), 6))
        .alias("survival"),
    )



@query(
    "aalen_johansen",
    """WITH firsts AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_u,
                max(epoch_us(ts)) AS last_u
         FROM events GROUP BY user_id),
       causes AS (
         SELECT e.user_id,
                min(CASE WHEN e.event_type = 'purchase' AND epoch_us(e.ts) > f.v_u
                         THEN epoch_us(e.ts) END) AS c1_u,
                min(CASE WHEN e.event_type = 'error' AND epoch_us(e.ts) > f.v_u
                         THEN epoch_us(e.ts) END) AS c2_u
         FROM events e JOIN firsts f USING (user_id)
         WHERE f.v_u IS NOT NULL
         GROUP BY e.user_id),
       spans AS (
         SELECT f.user_id,
                CASE WHEN c.c1_u IS NOT NULL AND (c.c2_u IS NULL OR c.c1_u <= c.c2_u)
                     THEN (c.c1_u - f.v_u) // 86400000000 END AS d1_day,
                CASE WHEN c.c2_u IS NOT NULL AND (c.c1_u IS NULL OR c.c2_u < c.c1_u)
                     THEN (c.c2_u - f.v_u) // 86400000000 END AS d2_day,
                (f.last_u - f.v_u) // 86400000000 AS censor_day
         FROM firsts f JOIN causes c USING (user_id)
         WHERE f.v_u IS NOT NULL),
       days AS (SELECT unnest(range(30))::BIGINT AS day),
       tbl AS (
         SELECT d.day,
                sum(CASE WHEN coalesce(s.d1_day, s.d2_day, s.censor_day) >= d.day
                         THEN 1 ELSE 0 END)::BIGINT AS n_at_risk,
                sum(CASE WHEN s.d1_day = d.day THEN 1 ELSE 0 END)::BIGINT AS d1,
                sum(CASE WHEN s.d2_day = d.day THEN 1 ELSE 0 END)::BIGINT AS d2
         FROM days d CROSS JOIN spans s GROUP BY d.day),
       lt AS (
         SELECT day, n_at_risk, d1, d2,
                CASE WHEN n_at_risk > 0 AND d1 + d2 < n_at_risk
                     THEN CAST(round(1000000.0 * ln(1.0 - (d1 + d2)::DOUBLE / n_at_risk))
                          AS BIGINT)
                     ELSE 0 END AS lnterm_fp,
                CASE WHEN n_at_risk > 0 AND d1 + d2 >= n_at_risk THEN 1 ELSE 0 END AS dead
         FROM tbl),
       surv AS (
         SELECT day, n_at_risk, d1, d2,
                coalesce(sum(lnterm_fp) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumln_prev,
                coalesce(max(dead) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dead_prev
         FROM lt),
       inc AS (
         SELECT day, n_at_risk, d1, d2,
                CASE WHEN n_at_risk > 0 AND dead_prev = 0
                     THEN CAST(round(1000000.0 * exp(cumln_prev / 1000000.0)
                               * d1 / n_at_risk) AS BIGINT) ELSE 0 END AS i1_fp,
                CASE WHEN n_at_risk > 0 AND dead_prev = 0
                     THEN CAST(round(1000000.0 * exp(cumln_prev / 1000000.0)
                               * d2 / n_at_risk) AS BIGINT) ELSE 0 END AS i2_fp
         FROM surv)
       SELECT day, n_at_risk, d1, d2,
              round(sum(i1_fp) OVER (ORDER BY day) / 1000000.0, 6) AS cif_purchase,
              round(sum(i2_fp) OVER (ORDER BY day) / 1000000.0, 6) AS cif_error
       FROM inc""",
)
def q_aalen_johansen(spark, sf_dir):
    """Aalen-Johansen cumulative incidence under competing risks
    (Aalen & Johansen, Scand. J. Statist. 1978): after a user's first
    view, the first subsequent purchase and first subsequent error
    COMPETE — whichever strikes first absorbs the user — and
    CIF_k(t) = Σ_{s≤t} Ŝ(s⁻)·d_ks/n_s allocates probability mass per
    cause (1−KM on the combined hazard would overstate both; this is
    the correct decomposition, CIF₁+CIF₂+S = 1). Ŝ(s⁻) is the
    all-cause KM survival carried as an EXCLUSIVE-window running sum
    of micro-int ln terms (same machinery as `kaplan_meier`); each
    day's incidence increment is micro-rounded then cumulatively
    summed in exact int64. Plan: two user-grain reduces, 30-day
    broadcast expansion, day-grain windows."""
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_u"),
        F.max(us).alias("last_u"),
    ).where(F.col("v_u").isNotNull())
    causes = (
        ev.join(firsts.select("user_id", "v_u"), "user_id")
        .groupBy("user_id")
        .agg(
            F.min(F.when((F.col("event_type") == "purchase") & (us > F.col("v_u")), us)).alias("c1_u"),
            F.min(F.when((F.col("event_type") == "error") & (us > F.col("v_u")), us)).alias("c2_u"),
        )
    )
    spans = firsts.join(causes, "user_id").select(
        F.when(
            F.col("c1_u").isNotNull()
            & (F.col("c2_u").isNull() | (F.col("c1_u") <= F.col("c2_u"))),
            F.floor((F.col("c1_u") - F.col("v_u")) / 86400000000),
        ).alias("d1_day"),
        F.when(
            F.col("c2_u").isNotNull()
            & (F.col("c1_u").isNull() | (F.col("c2_u") < F.col("c1_u"))),
            F.floor((F.col("c2_u") - F.col("v_u")) / 86400000000),
        ).alias("d2_day"),
        F.floor((F.col("last_u") - F.col("v_u")) / 86400000000).alias("censor_day"),
    )
    days = spark.range(0, 30).select(F.col("id").cast("long").alias("day"))
    tbl = (
        days.crossJoin(spans)
        .groupBy("day")
        .agg(
            F.sum(
                F.when(
                    F.coalesce(F.col("d1_day"), F.col("d2_day"), F.col("censor_day"))
                    >= F.col("day"), 1,
                ).otherwise(0)
            ).cast("long").alias("n_at_risk"),
            F.sum(F.when(F.col("d1_day") == F.col("day"), 1).otherwise(0)).cast("long").alias("d1"),
            F.sum(F.when(F.col("d2_day") == F.col("day"), 1).otherwise(0)).cast("long").alias("d2"),
        )
    )
    dtot = F.col("d1") + F.col("d2")
    lnterm = F.when(
        (F.col("n_at_risk") > 0) & (dtot < F.col("n_at_risk")),
        F.round(
            F.lit(1e6) * F.log(F.lit(1.0) - dtot.cast("double") / F.col("n_at_risk")), 0
        ).cast("long"),
    ).otherwise(F.lit(0))
    dead = F.when((F.col("n_at_risk") > 0) & (dtot >= F.col("n_at_risk")), 1).otherwise(0)
    lt = tbl.select("day", "n_at_risk", "d1", "d2", lnterm.alias("lnterm_fp"), dead.alias("dead"))
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    surv = lt.select(
        "day", "n_at_risk", "d1", "d2",
        F.coalesce(F.sum("lnterm_fp").over(wprev), F.lit(0)).alias("cumln_prev"),
        F.coalesce(F.max("dead").over(wprev), F.lit(0)).alias("dead_prev"),
    )
    s_prev = F.exp(F.col("cumln_prev") / F.lit(1e6))
    alive = (F.col("n_at_risk") > 0) & (F.col("dead_prev") == 0)
    inc = surv.select(
        "day", "n_at_risk", "d1", "d2",
        F.when(alive, F.round(F.lit(1e6) * s_prev * F.col("d1") / F.col("n_at_risk"), 0))
        .otherwise(F.lit(0)).cast("long").alias("i1_fp"),
        F.when(alive, F.round(F.lit(1e6) * s_prev * F.col("d2") / F.col("n_at_risk"), 0))
        .otherwise(F.lit(0)).cast("long").alias("i2_fp"),
    )
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return inc.select(
        "day", "n_at_risk", "d1", "d2",
        F.round(F.sum("i1_fp").over(wrun) / F.lit(1e6), 6).alias("cif_purchase"),
        F.round(F.sum("i2_fp").over(wrun) / F.lit(1e6), 6).alias("cif_error"),
    )



def _markov_er_sql(iterations: int = 10) -> str:
    """Unrolled fixed-point power iteration for the event-type chain's
    stationary distribution (same exact-integer style as the PageRank
    oracles)."""
    ctes = [
        """pairs AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS a, event_type AS b
           FROM events)""",
        "cnt AS (SELECT a, b, count(*)::BIGINT AS c FROM pairs WHERE a IS NOT NULL GROUP BY a, b)",
        "rowt AS (SELECT a, sum(c)::BIGINT AS r FROM cnt GROUP BY a)",
        "states AS (SELECT a AS s FROM rowt)",
        "p0 AS (SELECT s, 1000000000 // (SELECT count(*) FROM states) AS pi_fp FROM states)",
    ]
    for k in range(iterations):
        ctes.append(
            f"""p{k + 1} AS (
              SELECT st.s, coalesce(sum((p.pi_fp * c.c) // r.r), 0)::BIGINT AS pi_fp
              FROM states st
              LEFT JOIN cnt c ON c.b = st.s
              LEFT JOIN p{k} p ON p.s = c.a
              LEFT JOIN rowt r ON r.a = c.a
              GROUP BY st.s)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
       hrow AS (
         SELECT c.a AS s,
                sum(CAST(round(-1000000.0 * (c.c::DOUBLE / r.r)
                          * ln(c.c::DOUBLE / r.r)) AS BIGINT))::BIGINT AS h_fp
         FROM cnt c JOIN rowt r USING (a) GROUP BY c.a)
       SELECT p.s AS state, p.pi_fp::BIGINT AS pi_fp, h.h_fp,
              CAST(round(p.pi_fp::DOUBLE * h.h_fp / 1000000000.0) AS BIGINT)
                AS contrib_fp
       FROM p{iterations} p JOIN hrow h USING (s)"""
    )



@query("markov_entropy_rate", _markov_er_sql())
def q_markov_entropy_rate(spark, sf_dir):
    """Entropy rate of the per-user event-type Markov chain (Shannon
    1948 §7: H = Σ_i π_i H(·|i)) — the single-number compressibility
    of user behavior that a per-user transition entropy average
    doesn't give: π is the chain's STATIONARY distribution, obtained
    by 10 fixed-point integer power-iteration rounds (nano-unit π,
    integer (π·c)//r flows — bit-identical to the oracle's unrolled
    CTE chain, same discipline as `host_pagerank`), and each row
    entropy H(·|i) is a micro-int sum of −p·ln p terms. Emits per
    state: stationary mass, row entropy, and the contribution
    π_i·H(·|i) whose total is the entropy rate. Plan: one lag window
    + (a,b) census; the chain itself is k×k (event-type cardinality),
    so every iteration is constant-size work."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("a"), F.col("event_type").alias("b")
    ).where(F.col("a").isNotNull())
    cnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    rowt = cnt.groupBy("a").agg(F.sum("c").cast("long").alias("r"))
    states = rowt.select(F.col("a").alias("s"))
    n_states = states.count()
    pi = states.withColumn("pi_fp", F.lit(1_000_000_000 // n_states).cast("long"))
    trans = cnt.join(rowt, "a")
    for _ in range(10):
        pi = (
            states.join(trans, trans.b == states.s, "left")
            .join(pi.select(F.col("s").alias("ps"), "pi_fp"), F.col("a") == F.col("ps"), "left")
            .groupBy("s")
            .agg(
                F.coalesce(
                    F.sum(F.expr("(pi_fp * c) div r")), F.lit(0)
                ).cast("long").alias("pi_fp")
            )
        )
    p = F.col("c").cast("double") / F.col("r")
    hrow = (
        trans.select("a", F.round(F.lit(-1e6) * p * F.log(p), 0).cast("long").alias("t"))
        .groupBy(F.col("a").alias("s"))
        .agg(F.sum("t").cast("long").alias("h_fp"))
    )
    return pi.join(hrow, "s").select(
        F.col("s").alias("state"),
        F.col("pi_fp").cast("long").alias("pi_fp"),
        "h_fp",
        F.round(F.col("pi_fp").cast("double") * F.col("h_fp") / F.lit(1e9), 0)
        .cast("long").alias("contrib_fp"),
    )



@query(
    "seq_pattern_support",
    """WITH pos AS (
         SELECT user_id, event_type, min(epoch_us(ts)) AS first_u,
                max(epoch_us(ts)) AS last_u
         FROM events GROUP BY user_id, event_type),
       pairs AS (
         SELECT a.user_id, a.event_type AS a, b.event_type AS b,
                (a.first_u < b.last_u)::INT AS a_before_b
         FROM pos a JOIN pos b USING (user_id)
         WHERE a.event_type <> b.event_type),
       agg AS (
         SELECT a, b, count(*)::BIGINT AS n_users_both,
                sum(a_before_b)::BIGINT AS n_a_before_b
         FROM pairs GROUP BY a, b)
       SELECT a, b, n_users_both, n_a_before_b,
              round(n_a_before_b::DOUBLE / n_users_both, 6) AS confidence
       FROM agg""",
)
def q_seq_pattern_support(spark, sf_dir):
    """Sequential-pattern support (the length-2 core of GSP, Srikant &
    Agrawal, EDBT 1996): for every ordered event-type pair (a→b),
    count users whose history contains SOME a before SOME b
    (min-ts(a) < max-ts(b) — the exact existence test, no windowed
    scan needed) among users that have both — the temporal companion
    to `assoc_rules`' unordered co-occurrence. Exact integer
    micro-timestamps; one user×type reduce then a user-grain
    self-join whose right side is ≤|event types| rows per user.
    Output is k(k−1) rows — corpus-scale-free."""
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    pos = ev.groupBy("user_id", "event_type").agg(
        F.min(us).alias("first_u"), F.max(us).alias("last_u")
    )
    a = pos.alias("a")
    b = pos.alias("b")
    pairs = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .where(F.col("a.event_type") != F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("a"),
            F.col("b.event_type").alias("b"),
            (F.col("a.first_u") < F.col("b.last_u")).cast("int").alias("a_before_b"),
        )
    )
    agg = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_users_both"),
        F.sum("a_before_b").cast("long").alias("n_a_before_b"),
    )
    return agg.select(
        "a", "b", "n_users_both", "n_a_before_b",
        F.round(F.col("n_a_before_b").cast("double") / F.col("n_users_both"), 6).alias("confidence"),
    )



def _hits_sql(iterations: int = 8, n_hosts: int = 50, links: int = 3) -> str:
    """Unrolled HITS oracle: alternating authority/hub updates with
    integer max-normalization to 10^6 each half-step."""
    def dst(j: int) -> str:
        h = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({h} % {n_hosts})::BIGINT"

    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % {n_hosts})::BIGINT AS src, {dst(j)} AS dst FROM documents"
        for j in range(links)
    )
    ctes = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({link_union}) WHERE src != dst)",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "h0 AS (SELECT node, 1000000::BIGINT AS h FROM nodes)",
    ]
    for k in range(iterations):
        ctes.append(
            f"""a{k + 1}r AS (
              SELECT n.node, coalesce(s.v, 0)::BIGINT AS a
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(h.h) AS v
                FROM edges e JOIN h{k} h ON h.node = e.src GROUP BY 1) s USING (node))"""
        )
        ctes.append(
            f"a{k + 1} AS (SELECT node, (a * 1000000) // max(a) OVER () AS a FROM a{k + 1}r)"
        )
        ctes.append(
            f"""h{k + 1}r AS (
              SELECT n.node, coalesce(s.v, 0)::BIGINT AS h
              FROM nodes n LEFT JOIN (
                SELECT e.src AS node, sum(a.a) AS v
                FROM edges e JOIN a{k + 1} a ON a.node = e.dst GROUP BY 1) s USING (node))"""
        )
        ctes.append(
            f"h{k + 1} AS (SELECT node, (h * 1000000) // max(h) OVER () AS h FROM h{k + 1}r)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT h.node, h.h::BIGINT AS hub_fp, a.a::BIGINT AS auth_fp
        FROM h{iterations} h JOIN a{iterations} a USING (node)"""
    )



@query("hits_scores", _hits_sql())
def q_hits_scores(spark, sf_dir):
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) over the same
    deterministic host link graph as `host_pagerank` — the mutually
    recursive pair PageRank collapses into one score: a(v) = Σ_{u→v}
    h(u), h(u) = Σ_{u→v} a(v). Instead of the float L2 normalization,
    each half-step max-normalizes in EXACT integers ((x·10⁶) div max —
    same fixed-point discipline as the engine's PageRank), so 8
    rounds are bit-identical to the oracle's unrolled CTE chain.
    Plan: the two shuffles per round hash on the same node keys every
    round (AQE reuses the layout); the score frame is host-grain."""
    from ..operators.graph import host_link_edges

    e = host_link_edges(_docs(spark, sf_dir))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .stableCheckpoint(eager=True)
    )
    ew = e.stableCheckpoint(eager=True)
    h = nodes.withColumn("h", F.lit(1_000_000).cast("long"))
    a = None
    for _ in range(8):
        ar = (
            nodes.join(
                ew.join(h.select(F.col("node").alias("hn"), "h"), F.col("src") == F.col("hn"))
                .groupBy("dst").agg(F.sum("h").alias("v")),
                nodes.node == F.col("dst"), "left",
            )
            .select("node", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("a"))
        )
        amax = ar.agg(F.max("a").alias("mx"))
        a = ar.crossJoin(F.broadcast(amax)).select(
            "node", F.expr("(a * 1000000) div mx").cast("long").alias("a")
        ).stableCheckpoint(eager=True)
        hr = (
            nodes.join(
                ew.join(a.select(F.col("node").alias("an"), "a"), F.col("dst") == F.col("an"))
                .groupBy("src").agg(F.sum("a").alias("v")),
                nodes.node == F.col("src"), "left",
            )
            .select("node", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("h"))
        )
        hmax = hr.agg(F.max("h").alias("mx"))
        h = hr.crossJoin(F.broadcast(hmax)).select(
            "node", F.expr("(h * 1000000) div mx").cast("long").alias("h")
        ).stableCheckpoint(eager=True)
    return h.join(a, "node").select(
        "node", F.col("h").cast("long").alias("hub_fp"), F.col("a").cast("long").alias("auth_fp")
    )



_PSM_CALIPER = 50_000  # 0.05 in micro-units



@query(
    "propensity_match",
    f"""WITH u AS (
         SELECT user_id,
                max((event_type = 'signup')::INT) AS treated,
                CAST(round(1000000.0 * sum((event_type = 'click')::INT) / count(*))
                     AS BIGINT) AS s,
                CAST(round(1000000.0 * avg(value)) AS BIGINT) AS y_fp
         FROM events GROUP BY user_id),
       t AS (SELECT * FROM u WHERE treated = 1),
       c AS (SELECT * FROM u WHERE treated = 0),
       cand AS (
         SELECT t.user_id, t.y_fp AS y_t, c.y_fp AS y_c,
                abs(t.s - c.s) AS adiff,
                CASE WHEN c.s <= t.s THEN 0 ELSE 1 END AS side,
                CASE WHEN c.s <= t.s THEN -c.user_id ELSE c.user_id END AS uid_order
         FROM t JOIN c ON abs(t.s - c.s) <= {_PSM_CALIPER}),
       best AS (
         SELECT user_id, y_t, y_c,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY adiff, side, uid_order) AS rn
         FROM cand),
       m AS (SELECT user_id, y_t, y_c FROM best WHERE rn = 1)
       SELECT (SELECT count(*) FROM t)::BIGINT AS n_treated,
              count(*)::BIGINT AS n_matched,
              round(sum(y_t - y_c)::DOUBLE / count(*) / 1000000.0, 6) AS att
       FROM m""",
)
def q_propensity_match(spark, sf_dir):
    """Propensity-score nearest-neighbor matching with replacement and
    a 0.05 caliper (Rosenbaum & Rubin, Biometrika 1983): treated =
    users with a signup event, score = click share (a deterministic
    stand-in propensity), outcome = mean event value; each treated
    user takes the nearest in-caliper control (tie rules: smaller
    |Δs|, then the below side, then adjacent-in-sort-order uid) and
    ATT = mean(y_t − y_match). The Spark plan is the scale shape: a
    UNION of treated+controls sorted once on (score, side, uid) with
    last/first ignore-null windows picking each treated row's
    preceding and following control — the same one-shuffle
    union+window machinery as `asof_join` (nearest mode), never the
    oracle's quadratic candidate join. Exact micro-int scores/outcomes
    end-to-end."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "signup").cast("int")).alias("treated"),
        F.round(
            F.lit(1e6)
            * F.sum((F.col("event_type") == "click").cast("int"))
            / F.count(F.lit(1)),
            0,
        ).cast("long").alias("s"),
        F.round(F.lit(1e6) * F.avg("value"), 0).cast("long").alias("y_fp"),
    )
    ctl_struct = F.when(
        F.col("treated") == 0,
        F.struct(F.col("s").alias("cs"), F.col("y_fp").alias("cy"), F.col("user_id").alias("cuid")),
    )
    # sort controls before treated at equal score so a same-score control
    # is visible on the "prev" side; uid ascending makes prev pick the
    # max-uid control of an equal-score run and next pick the min-uid one
    marked = u.select(
        "user_id", "treated", "s", "y_fp", ctl_struct.alias("ctl")
    )
    w = Window.orderBy("s", "treated", "user_id")
    prev_ctl = F.last("ctl", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_ctl = F.first("ctl", ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    t = (
        marked.select("user_id", "treated", "s", "y_fp",
                      prev_ctl.alias("p"), next_ctl.alias("nx"))
        .where(F.col("treated") == 1)
    )
    dp = F.abs(F.col("s") - F.col("p.cs"))
    dn = F.abs(F.col("nx.cs") - F.col("s"))
    use_prev = F.col("p").isNotNull() & (
        F.col("nx").isNull() | (dp <= dn)
    )
    matched = (
        t.select(
            "user_id", "y_fp", "s",
            F.when(use_prev, F.col("p")).otherwise(F.col("nx")).alias("m"),
        )
        .where(F.col("m").isNotNull() & (F.abs(F.col("s") - F.col("m.cs")) <= _PSM_CALIPER))
    )
    n_treated = t.agg(F.count(F.lit(1)).cast("long").alias("n_treated"))
    return matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.round(
            F.sum(F.col("y_fp") - F.col("m.cy")).cast("double") / F.count(F.lit(1)) / F.lit(1e6),
            6,
        ).alias("att"),
    ).crossJoin(F.broadcast(n_treated)).select("n_treated", "n_matched", "att")



@query(
    "gamma_poisson_eb",
    """WITH x AS (SELECT user_id, count(*)::BIGINT AS x FROM events GROUP BY user_id),
       m AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
                sum(x * x)::BIGINT AS q
         FROM x),
       prior AS (
         SELECT n, s, q,
                s::DOUBLE / n AS mu,
                (n * q - s * s)::DOUBLE / (n::DOUBLE * (n - 1)::DOUBLE) AS v
         FROM m)
       SELECT x.user_id, x.x,
              CASE WHEN p.v > p.mu
                   THEN round((x.x + p.mu * (p.mu / (p.v - p.mu)))
                              / (1.0 + p.mu / (p.v - p.mu)), 6)
                   ELSE round(p.mu, 6) END AS posterior_rate,
              CASE WHEN p.v > p.mu
                   THEN round((p.mu / (p.v - p.mu)) / (1.0 + p.mu / (p.v - p.mu)), 6)
                   ELSE 1.0 END AS shrink_weight
       FROM x CROSS JOIN prior p""",
)
def q_gamma_poisson_eb(spark, sf_dir):
    """Gamma-Poisson empirical-Bayes shrinkage of per-user event rates
    (Robbins 1956 / the Gamma-conjugate form): the prior Gamma(α, β)
    is method-of-moments fit from the user-count census — β =
    μ/(v−μ), α = μβ — and each user's posterior mean (x+α)/(1+β)
    pulls low-activity users toward the population rate with weight
    β/(1+β); the equidispersed fallback (v ≤ μ: no overdispersion to
    exploit) collapses to the global mean. Unlike a fixed-pseudo-count
    mean encoding, here the shrinkage STRENGTH
    is learned from the data. Census moments are exact int64; each
    posterior is one mirrored IEEE expression. One user-grain reduce
    + a 1-row broadcast prior."""
    ev = _events(spark, sf_dir)
    x = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    prior = m.select(
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        ((F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast("double")
         / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))).alias("v"),
    )
    beta = F.col("mu") / (F.col("v") - F.col("mu"))
    over = F.col("v") > F.col("mu")
    return x.crossJoin(F.broadcast(prior)).select(
        "user_id", "x",
        F.when(over, F.round((F.col("x") + F.col("mu") * beta) / (F.lit(1.0) + beta), 6))
        .otherwise(F.round(F.col("mu"), 6)).alias("posterior_rate"),
        F.when(over, F.round(beta / (F.lit(1.0) + beta), 6))
        .otherwise(F.lit(1.0)).alias("shrink_weight"),
    )



def _closure_sql(n_hosts: int = 50, links: int = 3, max_d: int = 64) -> str:
    """Recursive-CTE all-pairs shortest hop distances on the derived
    host graph (bounded depth keeps the recursion finite on cycles)."""
    def dst(j: int) -> str:
        h = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({h} % {n_hosts})::BIGINT"

    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % {n_hosts})::BIGINT AS src, {dst(j)} AS dst FROM documents"
        for j in range(links)
    )
    return f"""edges AS (SELECT DISTINCT src, dst FROM ({link_union}) WHERE src != dst),
       reach_r AS (
         WITH RECURSIVE walk(src, dst, d) AS (
           SELECT src, dst, 1::BIGINT FROM edges
           UNION
           SELECT w.src, e.dst, w.d + 1
           FROM walk w JOIN edges e ON e.src = w.dst
           WHERE w.d < {max_d}),
         mind AS (SELECT src, dst, min(d)::BIGINT AS dist FROM walk GROUP BY 1, 2)
         SELECT * FROM mind)"""



@query(
    "scc_components",
    f"""WITH {_closure_sql()},
       nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges
                                            UNION SELECT dst FROM edges)),
       mutual AS (
         SELECT a.src AS u, a.dst AS v
         FROM reach_r a JOIN reach_r b ON b.src = a.dst AND b.dst = a.src),
       selfp AS (
         SELECT node AS u, node AS v FROM nodes
         UNION SELECT u, v FROM mutual),
       scc AS (SELECT u AS node, min(v)::BIGINT AS scc_id FROM selfp GROUP BY u),
       sz AS (SELECT scc_id, count(*)::BIGINT AS scc_size FROM scc GROUP BY scc_id)
       SELECT s.node, s.scc_id, z.scc_size
       FROM scc s JOIN sz z USING (scc_id)""",
)
def q_scc_components(spark, sf_dir):
    """Strongly connected components of the host link graph (Tarjan's
    notion, computed the distributed way): u,v share an SCC iff each
    reaches the other, read directly off the min-plus transitive
    closure (`operators.graph.minplus_closure` — O(log diameter)
    doubling rounds, cf. Valiant 1990 BSP path doubling), with
    scc_id = min member. The closure is per-PAIR state — right-sized
    for host-grain graphs; page-grain graphs use the per-node
    label-propagation operators instead (documented trade-off in the
    helper). Exact integers throughout."""
    from ..operators.graph import host_link_edges, minplus_closure

    e = host_link_edges(_docs(spark, sf_dir))
    r = minplus_closure(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    a = r.alias("a")
    b = r.alias("b")
    mutual = a.join(
        b, (F.col("b.src") == F.col("a.dst")) & (F.col("b.dst") == F.col("a.src"))
    ).select(F.col("a.src").alias("u"), F.col("a.dst").alias("v"))
    selfp = nodes.select(
        F.col("node").alias("u"), F.col("node").alias("v")
    ).union(mutual).distinct()
    scc = selfp.groupBy(F.col("u").alias("node")).agg(F.min("v").cast("long").alias("scc_id"))
    sz = scc.groupBy("scc_id").agg(F.count(F.lit(1)).cast("long").alias("scc_size"))
    return scc.join(sz, "scc_id").select("node", "scc_id", "scc_size")



@query(
    "bowtie_structure",
    f"""WITH {_closure_sql()},
       nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges
                                            UNION SELECT dst FROM edges)),
       mutual AS (
         SELECT a.src AS u, a.dst AS v
         FROM reach_r a JOIN reach_r b ON b.src = a.dst AND b.dst = a.src),
       selfp AS (
         SELECT node AS u, node AS v FROM nodes
         UNION SELECT u, v FROM mutual),
       scc AS (SELECT u AS node, min(v)::BIGINT AS scc_id FROM selfp GROUP BY u),
       sz AS (SELECT scc_id, count(*)::BIGINT AS n FROM scc GROUP BY scc_id),
       core AS (
         SELECT scc_id FROM sz ORDER BY n DESC, scc_id LIMIT 1),
       core_nodes AS (
         SELECT node FROM scc WHERE scc_id = (SELECT scc_id FROM core)),
       cls AS (
         SELECT n.node,
                CASE WHEN n.node IN (SELECT node FROM core_nodes) THEN 'CORE'
                     WHEN EXISTS (SELECT 1 FROM reach_r r
                                  WHERE r.src = n.node
                                    AND r.dst IN (SELECT node FROM core_nodes))
                       THEN 'IN'
                     WHEN EXISTS (SELECT 1 FROM reach_r r
                                  WHERE r.dst = n.node
                                    AND r.src IN (SELECT node FROM core_nodes))
                       THEN 'OUT'
                     ELSE 'OTHER' END AS component
         FROM nodes n)
       SELECT component, count(*)::BIGINT AS n_hosts,
              min(node)::BIGINT AS min_node
       FROM cls GROUP BY component""",
)
def q_bowtie_structure(spark, sf_dir):
    """Bow-tie decomposition of the host web graph (Broder et al.,
    WWW 2000 — THE macroscopic shape result for the web): CORE = the
    largest SCC (size ties break to min scc_id), IN = hosts that reach
    CORE without membership, OUT = hosts CORE reaches, OTHER =
    tendrils/tubes/disconnected. Derived entirely from the same
    min-plus closure as `scc_components` (one closure computation
    feeds both queries' logic); membership tests are semi-joins
    against the core set. Emits per-class host counts — the crawl-
    frontier-planning census (IN shrinks as seeds improve; OUT-heavy
    graphs mean link-following exhausts quickly)."""
    from ..operators.graph import host_link_edges, minplus_closure

    e = host_link_edges(_docs(spark, sf_dir))
    r = minplus_closure(e).stableCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    a = r.alias("a")
    b = r.alias("b")
    mutual = a.join(
        b, (F.col("b.src") == F.col("a.dst")) & (F.col("b.dst") == F.col("a.src"))
    ).select(F.col("a.src").alias("u"), F.col("a.dst").alias("v"))
    selfp = nodes.select(
        F.col("node").alias("u"), F.col("node").alias("v")
    ).union(mutual).distinct()
    scc = selfp.groupBy(F.col("u").alias("node")).agg(F.min("v").cast("long").alias("scc_id"))
    core_id = (
        scc.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "scc_id").limit(1).select("scc_id")
    )
    core_nodes = scc.join(F.broadcast(core_id), "scc_id").select("node")
    to_core = (
        r.join(F.broadcast(core_nodes.withColumnRenamed("node", "dst")), "dst")
        .select(F.col("src").alias("node")).distinct()
    )
    from_core = (
        r.join(F.broadcast(core_nodes.withColumnRenamed("node", "src")), "src")
        .select(F.col("dst").alias("node")).distinct()
    )
    cls = (
        nodes.join(core_nodes.withColumn("in_core", F.lit(1)), "node", "left")
        .join(to_core.withColumn("reaches_core", F.lit(1)), "node", "left")
        .join(from_core.withColumn("reached", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(F.col("in_core") == 1, "CORE")
            .when(F.col("reaches_core") == 1, "IN")
            .when(F.col("reached") == 1, "OUT")
            .otherwise("OTHER").alias("component"),
        )
    )
    return cls.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.min("node").cast("long").alias("min_node"),
    )



@query(
    "eccentricity",
    f"""WITH {_closure_sql()},
       ecc AS (
         SELECT src AS node, max(dist)::BIGINT AS ecc,
                count(*)::BIGINT AS n_reachable
         FROM reach_r GROUP BY src),
       dia AS (SELECT max(ecc) AS diameter FROM ecc)
       SELECT e.node, e.ecc, e.n_reachable,
              (e.ecc = d.diameter)::INT AS is_periphery
       FROM ecc e CROSS JOIN dia d""",
)
def q_eccentricity(spark, sf_dir):
    """Out-eccentricity per host and the reachable-diameter of the
    host graph (Harary's graph-distance invariants on the directed
    reachability relation): ecc(v) = max shortest-hop distance to any
    node v reaches, periphery = nodes attaining the diameter. Read in
    one group-by off the same min-plus closure as `scc_components`
    (exact integer hop counts from O(log D) doubling rounds); emits
    per-host eccentricity, reach set size, and the periphery flag —
    the crawl-depth planning numbers (diameter bounds the
    link-following rounds needed for full coverage)."""
    from ..operators.graph import host_link_edges, minplus_closure

    r = minplus_closure(host_link_edges(_docs(spark, sf_dir)))
    ecc = r.groupBy(F.col("src").alias("node")).agg(
        F.max("dist").cast("long").alias("ecc"),
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
    )
    dia = ecc.agg(F.max("ecc").alias("diameter"))
    return ecc.crossJoin(F.broadcast(dia)).select(
        "node", "ecc", "n_reachable",
        (F.col("ecc") == F.col("diameter")).cast("int").alias("is_periphery"),
    )



def _textrank_sql(iterations: int = 10, topk: int = 20) -> str:
    """Unrolled fixed-point PageRank over the token adjacency graph
    (same exact-integer recurrence as ``_pagerank_sql``, edges from
    in-document bigram adjacency, symmetrized)."""
    ctes = [
        """tok AS (
           SELECT doc_id,
                  unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                  unnest(string_split(trim(text), ' ')) AS w
           FROM documents)""",
        """bi AS (
           SELECT DISTINCT a.w AS src, b.w AS dst
           FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
           WHERE a.w <> b.w)""",
        "edges AS (SELECT src, dst FROM bi UNION SELECT dst, src FROM bi)",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)",
        "r0 AS (SELECT node, 1000000000 // (SELECT count(*) FROM nodes) AS rank_fp FROM nodes)",
    ]
    base = "(3000000000 // (20 * (SELECT count(*) FROM nodes)))"
    for k in range(iterations):
        ctes.append(
            f"""r{k + 1} AS (
              SELECT n.node, {base} + (17 * coalesce(s.i, 0)) // 20 AS rank_fp
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank_fp // o.outdeg) AS i
                FROM edges e JOIN r{k} r ON r.node = e.src
                JOIN outdeg o ON o.src = e.src
                GROUP BY 1) s USING (node))"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT node AS token, rank_fp::BIGINT AS rank_fp
        FROM r{iterations}
        ORDER BY rank_fp DESC, token LIMIT {topk}"""
    )



@query("textrank_keywords", _textrank_sql())
def q_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    PageRank over the symmetrized token-adjacency graph (distinct
    in-document bigram pairs as edges), top-20 tokens by rank — the
    graph-centrality alternative to `ctfidf_terms` frequency
    scoring. Reuses `operators.graph.pagerank`'s exact
    fixed-point integer recurrence verbatim, so 10 rounds are
    bit-identical to the oracle's unrolled CTE chain. Plan: one
    position self-join (co-partitioned on doc) builds the
    vocabulary-grain graph — rank iterations then shuffle VOCAB rows,
    not corpus rows."""
    from ..operators.graph import pagerank

    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "w")
    )
    a = tok.alias("a")
    b = tok.alias("b")
    bi = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .where(F.col("a.w") != F.col("b.w"))
        .select(F.col("a.w").alias("src"), F.col("b.w").alias("dst"))
        .distinct()
    )
    edges = bi.union(bi.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    pr = pagerank(edges, iterations=10)
    return (
        pr.select(F.col("node").alias("token"), "rank_fp")
        .orderBy(F.desc("rank_fp"), "token")
        .limit(20)
    )



_FW_MU = 100  # Dirichlet prior mass



@query(
    "fightin_words",
    f"""WITH tok AS (
         SELECT source, unnest(string_split(trim(text), ' ')) AS w
         FROM documents WHERE source IN ('src0', 'src1')),
       cnt AS (SELECT source, w, count(*)::BIGINT AS y FROM tok GROUP BY 1, 2),
       vocab AS (SELECT w, sum(y)::BIGINT AS f FROM cnt GROUP BY w),
       tot AS (
         SELECT sum(f)::BIGINT AS ftot,
                (SELECT sum(y) FROM cnt WHERE source = 'src0')::BIGINT AS n0,
                (SELECT sum(y) FROM cnt WHERE source = 'src1')::BIGINT AS n1
         FROM vocab),
       wide AS (
         SELECT v.w, v.f,
                coalesce((SELECT y FROM cnt c WHERE c.source = 'src0' AND c.w = v.w), 0) AS y0,
                coalesce((SELECT y FROM cnt c WHERE c.source = 'src1' AND c.w = v.w), 0) AS y1
         FROM vocab v),
       z AS (
         SELECT w, y0, y1,
                ln((y0 + {_FW_MU}.0 * f / t.ftot)
                   / (t.n0 + {_FW_MU} - y0 - {_FW_MU}.0 * f / t.ftot))
                - ln((y1 + {_FW_MU}.0 * f / t.ftot)
                     / (t.n1 + {_FW_MU} - y1 - {_FW_MU}.0 * f / t.ftot)) AS delta,
                1.0 / (y0 + {_FW_MU}.0 * f / t.ftot)
                + 1.0 / (y1 + {_FW_MU}.0 * f / t.ftot) AS var
         FROM wide CROSS JOIN tot t)
       SELECT w AS token, y0, y1, round(delta / sqrt(var), 6) AS zeta
       FROM z WHERE y0 + y1 >= 5""",
)
def q_fightin_words(spark, sf_dir):
    """Monroe-Colaresi-Quinn "Fightin' Words" (Political Analysis
    2008): log-odds-ratio of token use between src0 and src1 with an
    informative Dirichlet prior α_w = μ·f_w/F (μ=100) and the
    variance-standardized ζ = δ/√(1/(y0+α)+1/(y1+α)) — the corpus-
    comparison statistic that, unlike `dunning_keyness`'s G², shrinks
    rare-word noise via the prior instead of discarding it. All
    counts exact int64; ζ is one mirrored IEEE expression per token
    (cf. the engine's ln-parity convention), filtered to y0+y1 ≥ 5.
    Plan: one (source, token) census, a vocab-grain pivot, no
    corpus-grain shuffles after the census."""
    tok = (
        _docs(spark, sf_dir)
        .where(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(T.tokenize(F.col("text"))).alias("w"))
    )
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wide = cnt.groupBy("w").agg(
        F.sum("y").cast("long").alias("f"),
        F.sum(F.when(F.col("source") == "src0", F.col("y")).otherwise(0)).cast("long").alias("y0"),
        F.sum(F.when(F.col("source") == "src1", F.col("y")).otherwise(0)).cast("long").alias("y1"),
    )
    tot = wide.agg(
        F.sum("f").cast("long").alias("ftot"),
        F.sum("y0").cast("long").alias("n0"),
        F.sum("y1").cast("long").alias("n1"),
    )
    j = wide.crossJoin(F.broadcast(tot))
    alpha = F.lit(float(_FW_MU)) * F.col("f") / F.col("ftot")
    d0 = F.log(
        (F.col("y0") + alpha)
        / (F.col("n0") + F.lit(_FW_MU) - F.col("y0") - alpha)
    )
    d1 = F.log(
        (F.col("y1") + alpha)
        / (F.col("n1") + F.lit(_FW_MU) - F.col("y1") - alpha)
    )
    var = F.lit(1.0) / (F.col("y0") + alpha) + F.lit(1.0) / (F.col("y1") + alpha)
    return (
        j.where(F.col("y0") + F.col("y1") >= 5)
        .select(
            F.col("w").alias("token"), "y0", "y1",
            F.round((d0 - d1) / F.sqrt(var), 6).alias("zeta"),
        )
    )



_PHRASE = ("spark", "join")



@query(
    "phrase_search",
    f"""WITH tok AS (
         SELECT doc_id,
                unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                unnest(string_split(trim(text), ' ')) AS w
         FROM documents),
       hits AS (
         SELECT a.doc_id, a.pos
         FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         WHERE a.w = '{_PHRASE[0]}' AND b.w = '{_PHRASE[1]}')
       SELECT doc_id, count(*)::BIGINT AS n_occurrences,
              min(pos)::BIGINT AS first_pos
       FROM hits GROUP BY doc_id""",
)
def q_phrase_search(spark, sf_dir):
    """Exact phrase query "spark join" via positional-index
    intersection (Manning/Raghavan/Schütze IR ch.2 — the positional
    postings-merge every phrase-capable search engine runs): a hit is
    a position p with term₁ at p and term₂ at p+1 in the same doc.
    Emits per-doc occurrence count and first position. Plan: the
    posting lists are FILTERED before the join (predicate pushdown to
    the token stream — only the two phrase terms' positions shuffle),
    joined co-partitioned on doc_id — the selective-first merge order
    the textbook prescribes."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "w")
    )
    a = tok.where(F.col("w") == _PHRASE[0]).select("doc_id", "pos")
    b = tok.where(F.col("w") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    hits = a.join(b, ["doc_id", "pos"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("pos").cast("long").alias("first_pos"),
    )



@query(
    "bayes_ab_beta",
    """WITH u AS (
         SELECT user_id, (user_id % 2)::INT AS variant,
                max((event_type = 'purchase')::INT) AS conv
         FROM events GROUP BY user_id),
       c AS (
         SELECT sum(CASE WHEN variant = 0 THEN conv ELSE 0 END)::BIGINT + 1 AS aa,
                sum(CASE WHEN variant = 0 THEN 1 - conv ELSE 0 END)::BIGINT + 1 AS ba,
                sum(CASE WHEN variant = 1 THEN conv ELSE 0 END)::BIGINT + 1 AS ab,
                sum(CASE WHEN variant = 1 THEN 1 - conv ELSE 0 END)::BIGINT + 1 AS bb
         FROM u),
       mx AS (SELECT (aa + ba + ab + bb)::BIGINT AS n FROM c),
       lf AS (
         SELECT i,
                sum(CASE WHEN i >= 2 THEN CAST(round(1000000.0 * ln(i)) AS BIGINT)
                         ELSE 0 END) OVER (ORDER BY i) AS lfact
         FROM (SELECT unnest(range((SELECT n FROM mx) + 1))::BIGINT AS i)),
       ti AS (
         SELECT t.i,
                c.aa + t.i - 1 AS k_la1, c.ba + c.bb - 1 AS k_lb1,
                c.aa + t.i + c.ba + c.bb - 1 AS k_lab1,
                t.i AS k_la2, c.bb - 1 AS k_lb2, t.i + c.bb AS k_lab2,
                c.aa - 1 AS k_la3, c.ba - 1 AS k_lb3, c.aa + c.ba - 1 AS k_lab3,
                c.bb AS bb
         FROM (SELECT unnest(range((SELECT ab FROM c)))::BIGINT AS i) t
         CROSS JOIN c),
       terms AS (
         SELECT ti.i,
                (la1.lfact + lb1.lfact - lab1.lfact)
                - CAST(round(1000000.0 * ln(ti.bb + ti.i)) AS BIGINT)
                - (la2.lfact + lb2.lfact - lab2.lfact)
                - (la3.lfact + lb3.lfact - lab3.lfact) AS l_fp
         FROM ti
         JOIN lf la1 ON la1.i = ti.k_la1
         JOIN lf lb1 ON lb1.i = ti.k_lb1
         JOIN lf lab1 ON lab1.i = ti.k_lab1
         JOIN lf la2 ON la2.i = ti.k_la2
         JOIN lf lb2 ON lb2.i = ti.k_lb2
         JOIN lf lab2 ON lab2.i = ti.k_lab2
         JOIN lf la3 ON la3.i = ti.k_la3
         JOIN lf lb3 ON lb3.i = ti.k_lb3
         JOIN lf lab3 ON lab3.i = ti.k_lab3),
       p AS (
         SELECT sum(CAST(round(1000000000.0 * exp(l_fp / 1000000.0)) AS BIGINT))::BIGINT
                  AS p_nano
         FROM terms)
       SELECT (c.aa - 1)::BIGINT AS s_a, (c.ba - 1)::BIGINT AS f_a,
              (c.ab - 1)::BIGINT AS s_b, (c.bb - 1)::BIGINT AS f_b,
              round(p.p_nano / 1000000000.0, 6) AS prob_b_beats_a
       FROM c, p""",
)
def q_bayes_ab_beta(spark, sf_dir):
    """Exact Bayesian A/B on conversion with Beta(1,1) priors: the
    closed-form P(p_B > p_A) = Σ_{i<α_B} B(α_A+i, β_A+β_B) /
    ((β_B+i)·B(1+i, β_B)·B(α_A, β_A)) (Evan Miller's formula; the
    standard exact evaluation of two Beta posteriors) for variant =
    user_id parity, conversion = any purchase. Every log-Beta is
    assembled from an INTEGER log-factorial table — lfact(n) as the
    running sum of micro-rounded ln i over a range frame, identical
    on both engines — so each term's log is exact int64 and the final
    sum adds nano-rounded exp terms order-free. Plan: user-grain
    reduce → 4 counts; the term fan-out is α_B rows joined 7× against
    the lfact table on integer keys (broadcast-sized)."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    ).select((F.col("user_id") % 2).cast("int").alias("variant"), "conv")
    c = u.agg(
        (F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)) + 1).cast("long").alias("aa"),
        (F.sum(F.when(F.col("variant") == 0, 1 - F.col("conv")).otherwise(0)) + 1).cast("long").alias("ba"),
        (F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)) + 1).cast("long").alias("ab"),
        (F.sum(F.when(F.col("variant") == 1, 1 - F.col("conv")).otherwise(0)) + 1).cast("long").alias("bb"),
    )
    row = c.collect()[0]  # 4 scalars — driver-side by design (sizes the range frames)
    aa, ba, ab, bb = row.aa, row.ba, row.ab, row.bb
    n = aa + ba + ab + bb
    # CENSUS GRAIN (r4): the log-factorial prefix sum is data-sized
    # (n ≈ user count), so build it with the range-bucketed running sum
    # (operators/census.py) instead of one unpartitioned window.
    from pliers_spark.operators.census import scalable_running_sum

    lf_terms = spark.range(0, n + 1).select(
        F.col("id").alias("i"),
        F.when(F.col("id") >= 2, F.round(F.lit(1e6) * F.log(F.col("id")), 0).cast("long"))
        .otherwise(F.lit(0)).alias("_term"),
    )
    lf = scalable_running_sum(lf_terms, "_term", "i", out="lfact").select("i", "lfact")
    t = spark.range(0, ab).select(F.col("id").alias("i"))
    lf1 = lf.select(F.col("i").alias("k"), F.col("lfact").alias("v"))

    def j(df, key_expr, alias):
        return df.join(
            F.broadcast(lf1.withColumnRenamed("k", f"k_{alias}").withColumnRenamed("v", alias)),
            key_expr == F.col(f"k_{alias}"),
        ).drop(f"k_{alias}")

    t = j(t, F.col("i") + F.lit(aa - 1), "la1")
    t = j(t, F.lit(ba + bb - 1), "lb1")
    t = j(t, F.col("i") + F.lit(aa + ba + bb - 1), "lab1")
    t = j(t, F.col("i"), "la2")
    t = j(t, F.lit(bb - 1), "lb2")
    t = j(t, F.col("i") + F.lit(bb), "lab2")
    t = j(t, F.lit(aa - 1), "la3")
    t = j(t, F.lit(ba - 1), "lb3")
    t = j(t, F.lit(aa + ba - 1), "lab3")
    l_fp = (
        (F.col("la1") + F.col("lb1") - F.col("lab1"))
        - F.round(F.lit(1e6) * F.log(F.lit(bb) + F.col("i")), 0).cast("long")
        - (F.col("la2") + F.col("lb2") - F.col("lab2"))
        - (F.col("la3") + F.col("lb3") - F.col("lab3"))
    )
    p = t.select(
        F.round(F.lit(1e9) * F.exp(l_fp.cast("double") / F.lit(1e6)), 0).cast("long").alias("t_nano")
    ).agg(F.sum("t_nano").cast("long").alias("p_nano"))
    return p.select(
        F.lit(aa - 1).cast("long").alias("s_a"),
        F.lit(ba - 1).cast("long").alias("f_a"),
        F.lit(ab - 1).cast("long").alias("s_b"),
        F.lit(bb - 1).cast("long").alias("f_b"),
        F.round(F.col("p_nano") / F.lit(1e9), 6).alias("prob_b_beats_a"),
    )



@query(
    "amoc_changepoint",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                CAST(round(sum(CAST(round(value * 1000000.0) AS BIGINT))::DOUBLE
                     / count(*)) AS BIGINT) AS y
         FROM events GROUP BY 1),
       seq AS (
         SELECT day, y, row_number() OVER (ORDER BY day) AS t,
                sum(y) OVER (ORDER BY day) AS s,
                count(*) OVER () AS n,
                sum(y) OVER () AS stot
         FROM d),
       gains AS (
         SELECT day, t, n,
                s::DOUBLE * s / t + (stot - s)::DOUBLE * (stot - s) / (n - t)
                - stot::DOUBLE * stot / n AS gain,
                s::DOUBLE / t / 1000000.0 AS mean_left,
                (stot - s)::DOUBLE / (n - t) / 1000000.0 AS mean_right
         FROM seq WHERE t < n),
       best AS (
         SELECT day, t, n, gain, mean_left, mean_right,
                row_number() OVER (ORDER BY gain DESC, day) AS rn
         FROM gains)
       SELECT day::TIMESTAMP AS split_day, n,
              round(gain / 1e12, 6) AS gain,
              round(mean_left, 6) AS mean_left,
              round(mean_right, 6) AS mean_right
       FROM best WHERE rn = 1""",
)
def q_amoc_changepoint(spark, sf_dir):
    """At-most-one-changepoint detection by binary segmentation
    (Scott & Knott 1974; the split step of every binary-seg/PELT
    changepoint stack): choose the day boundary τ maximizing the
    between-segment sum-of-squares S_τ²/τ + (S−S_τ)²/(n−τ) − S²/n of
    the daily mean value — equivalently the single split minimizing
    total within-SSE. Complements `cusum_changepoint` (sequential
    alarm) with the retrospective argmax form. Daily means micro-int-
    rounded once; prefix sums exact; each candidate's gain is one
    identical double expression and the argmax tie-breaks to the
    earliest day. Day-grain windows only."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(
            F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            0,
        ).cast("long").alias("y")
    )
    wday = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    seq = d.select(
        "day", "y",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("y").over(wday).alias("s"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("y").over(wall).alias("stot"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    gains = seq.where(F.col("t") < F.col("n")).select(
        "day", "t", "n",
        (
            d_("s") * F.col("s") / F.col("t")
            + (F.col("stot") - F.col("s")).cast("double") * (F.col("stot") - F.col("s")) / (F.col("n") - F.col("t"))
            - d_("stot") * F.col("stot") / F.col("n")
        ).alias("gain"),
        (d_("s") / F.col("t") / F.lit(1e6)).alias("mean_left"),
        ((F.col("stot") - F.col("s")).cast("double") / (F.col("n") - F.col("t")) / F.lit(1e6)).alias("mean_right"),
    )
    best = gains.select(
        "*", F.row_number().over(Window.orderBy(F.desc("gain"), "day")).alias("rn")
    ).where(F.col("rn") == 1)
    return best.select(
        F.col("day").alias("split_day"), "n",
        F.round(F.col("gain") / F.lit(1e12), 6).alias("gain"),
        F.round("mean_left", 6).alias("mean_left"),
        F.round("mean_right", 6).alias("mean_right"),
    )



_KDE_GRID = 41



@query(
    "kde_grid",
    f"""WITH v AS (
         SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v_fp FROM events),
       cen AS (SELECT v_fp, count(*)::BIGINT AS c FROM v GROUP BY v_fp),
       m AS (
         SELECT count(*)::BIGINT AS n, sum(v_fp)::BIGINT AS s,
                sum(v_fp::HUGEINT * v_fp::HUGEINT) AS q,
                min(v_fp)::BIGINT AS vmin, max(v_fp)::BIGINT AS vmax
         FROM v),
       h AS (
         SELECT n, vmin, vmax,
                1.06 * sqrt((q::DOUBLE - s::DOUBLE * s / n) / (n - 1)::DOUBLE)
                     * pow(n::DOUBLE, -0.2) AS hw
         FROM m),
       grid AS (
         SELECT g.j,
                h.vmin + g.j * (h.vmax - h.vmin) / ({_KDE_GRID} - 1.0) AS x_fp,
                h.hw, h.n
         FROM (SELECT unnest(range({_KDE_GRID}))::BIGINT AS j) g CROSS JOIN h),
       terms AS (
         SELECT g.j, g.x_fp, g.hw, g.n,
                CAST(round(1000000000.0 * cen.c
                     * exp(-((g.x_fp - cen.v_fp) / g.hw)
                           * ((g.x_fp - cen.v_fp) / g.hw) / 2.0)) AS BIGINT) AS t_nano
         FROM grid g CROSS JOIN cen)
       SELECT j AS grid_idx,
              round(x_fp / 1000000.0, 6) AS x,
              round(sum(t_nano) / 1000000000.0
                    / (n * hw / 1000000.0 * sqrt(2 * pi())), 6) AS density
       FROM terms GROUP BY j, x_fp, hw, n""",
)
def q_kde_grid(spark, sf_dir):
    """Gaussian kernel density estimate of the event-value
    distribution on a {g}-point grid with Silverman's rule-of-thumb
    bandwidth h = 1.06·σ̂·n^(-1/5) (Silverman 1986 eq. 3.31) — the
    smooth companion to `feature_histogram`'s binned view. The value
    CENSUS (not the row stream) is crossed with the constant grid, so
    the kernel-sum work is O(distinct values × grid); each weighted
    kernel term is nano-int-rounded before the per-gridpoint sum
    (order-free), and the bandwidth is one mirrored IEEE expression
    from exact int64/int128 moments. Output is {g} rows regardless of
    scale.""".format(g=_KDE_GRID)
    ev = _events(spark, sf_dir)
    v = ev.select(F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"))
    cen = v.groupBy("v_fp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dec = "decimal(38,0)"
    m = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_fp").cast("long").alias("s"),
        F.sum(F.col("v_fp").cast(dec) * F.col("v_fp").cast(dec)).cast(dec).alias("q"),
        F.min("v_fp").cast("long").alias("vmin"),
        F.max("v_fp").cast("long").alias("vmax"),
    )
    h = m.select(
        "n", "vmin", "vmax",
        (
            F.lit(1.06)
            * F.sqrt(
                (F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / (F.col("n") - 1).cast("double")
            )
            * F.pow(F.col("n").cast("double"), F.lit(-0.2))
        ).alias("hw"),
    )
    grid = (
        spark.range(0, _KDE_GRID).select(F.col("id").alias("j"))
        .crossJoin(F.broadcast(h))
        .select(
            "j", "hw", "n",
            (
                F.col("vmin")
                + F.col("j") * (F.col("vmax") - F.col("vmin")) / F.lit(_KDE_GRID - 1.0)
            ).alias("x_fp"),
        )
    )
    u = (F.col("x_fp") - F.col("v_fp")) / F.col("hw")
    terms = grid.crossJoin(cen).select(
        "j", "x_fp", "hw", "n",
        F.round(F.lit(1e9) * F.col("c") * F.exp(-u * u / F.lit(2.0)), 0).cast("long").alias("t_nano"),
    )
    pi = float(__import__("math").pi)
    return terms.groupBy("j", "x_fp", "hw", "n").agg(
        F.sum("t_nano").cast("long").alias("ksum")
    ).select(
        F.col("j").alias("grid_idx"),
        F.round(F.col("x_fp") / F.lit(1e6), 6).alias("x"),
        F.round(
            F.col("ksum") / F.lit(1e9)
            / (F.col("n") * F.col("hw") / F.lit(1e6) * F.sqrt(F.lit(2.0 * pi))),
            6,
        ).alias("density"),
    )



@query(
    "props_schema_drift",
    """WITH mk AS (
         SELECT DISTINCT date_trunc('month', ts) AS month,
                unnest(json_keys(props::JSON)) AS key
         FROM events),
       months AS (
         SELECT month, row_number() OVER (ORDER BY month) AS mi
         FROM (SELECT DISTINCT month FROM mk)),
       mki AS (SELECT m.mi, mk.key FROM mk JOIN months m USING (month)),
       stats AS (
         SELECT m.mi, m.month,
                (SELECT count(*) FROM mki WHERE mki.mi = m.mi) AS n_keys,
                (SELECT count(*) FROM mki cur
                 WHERE cur.mi = m.mi AND m.mi > 1
                   AND NOT EXISTS (SELECT 1 FROM mki prev
                                   WHERE prev.mi = m.mi - 1 AND prev.key = cur.key))
                  AS n_new,
                (SELECT count(*) FROM mki prev
                 WHERE prev.mi = m.mi - 1
                   AND NOT EXISTS (SELECT 1 FROM mki cur
                                   WHERE cur.mi = m.mi AND cur.key = prev.key))
                  AS n_dropped
         FROM months m)
       SELECT month::TIMESTAMP AS month, n_keys::BIGINT AS n_keys,
              n_new::BIGINT AS n_new, n_dropped::BIGINT AS n_dropped
       FROM stats""",
)
def q_props_schema_drift(spark, sf_dir):
    """Semi-structured schema-drift audit over the `props` JSON
    payload: the month-over-month appearing/disappearing key census —
    the evolution check every event-log ingestion pipeline runs
    before a typed-schema promotion (new keys = producers shipped a
    field; dropped keys = silent deprecation upstream). Key sets come
    from `json_object_keys` (no parsing UDF); new/dropped are
    anti-joins between consecutive month key sets on a dense month
    index. Plan: one (month, key) distinct census — month×key
    cardinality, corpus-scale-free after the census shuffle."""
    ev = _events(spark, sf_dir)
    mk = ev.select(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.explode(F.json_object_keys(F.col("props"))).alias("key"),
    ).distinct()
    months = mk.select("month").distinct().select(
        "month", F.row_number().over(Window.orderBy("month")).alias("mi")
    )
    mki = mk.join(months, "month").select("mi", "key")
    cur = mki.alias("cur")
    prev = mki.select((F.col("mi") + 1).alias("mi"), F.col("key").alias("pkey")).alias("prev")
    new_keys = (
        cur.join(prev, (F.col("cur.mi") == F.col("prev.mi")) & (F.col("cur.key") == F.col("pkey")), "left_anti")
        .where(F.col("mi") > 1)
        .groupBy("mi").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    # dropped = keys of month mi-1 absent in month mi: anti-join shifted-prev against current
    dropped = (
        mki.select((F.col("mi") + 1).alias("mi"), "key")
        .join(mki, ["mi", "key"], "left_anti")
        .join(months.select("mi"), "mi")  # only months that actually exist
        .groupBy("mi").agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )
    nk = mki.groupBy("mi").agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return (
        months.join(nk, "mi", "left")
        .join(new_keys, "mi", "left")
        .join(dropped, "mi", "left")
        .select(
            "month",
            F.coalesce(F.col("n_keys"), F.lit(0)).cast("long").alias("n_keys"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
    )



_RFF_D = 32  # random Fourier features

_RFF_EMB_DIM = 64



def _mmd_rff_sql() -> str:
    hw = md5_int_sql("concat('w:', j::VARCHAR, ':', d::VARCHAR, ':1')")
    hw2 = md5_int_sql("concat('w:', j::VARCHAR, ':', d::VARCHAR, ':2')")
    hb = md5_int_sql("concat('b:', j::VARCHAR)")
    return f"""WITH x AS (
         SELECT vec_id, (label = 1) AS grp,
                unnest(range({_RFF_EMB_DIM}))::BIGINT AS d,
                CAST(round(1000000.0 * embedding[(unnest(range({_RFF_EMB_DIM})))::INT + 1]::DOUBLE)
                     AS BIGINT) AS xm
         FROM embeddings WHERE label IN (0, 1)),
       mom AS (
         SELECT sum(xm::HUGEINT * xm::HUGEINT)::DOUBLE / count(DISTINCT vec_id) / 1e12
                  AS e_xx,
                count(DISTINCT vec_id)::BIGINT AS n
         FROM x),
       mu AS (
         SELECT d, sum(xm)::DOUBLE / (SELECT n FROM mom) / 1e6 AS m FROM x GROUP BY d),
       sig AS (
         SELECT sqrt(2.0 * ((SELECT e_xx FROM mom) - (SELECT sum(m * m) FROM mu)))
                  AS sigma),
       w AS (
         SELECT j.j, d.d,
                sqrt(-2.0 * ln((({hw} % 1000000) + 0.5) / 1000000.0))
                * cos(2 * pi() * (({hw2} % 1000000) + 0.5) / 1000000.0) AS wv
         FROM (SELECT unnest(range({_RFF_D}))::BIGINT AS j) j,
              (SELECT unnest(range({_RFF_EMB_DIM}))::BIGINT AS d) d),
       b AS (
         SELECT j, 2 * pi() * (({hb} % 1000000) + 0.5) / 1000000.0 AS bv
         FROM (SELECT unnest(range({_RFF_D}))::BIGINT AS j)),
       proj AS (
         SELECT x.vec_id, x.grp, w.j,
                CAST(round(1000000.0 * (sum(x.xm * w.wv) / 1e6 / (SELECT sigma FROM sig)
                     + any_value(b.bv))) AS BIGINT) AS arg_fp
         FROM x JOIN w ON w.d = x.d JOIN b ON b.j = w.j
         GROUP BY x.vec_id, x.grp, w.j),
       z AS (
         SELECT grp, j,
                sum(CAST(round(1000000.0 * cos(arg_fp / 1000000.0)) AS BIGINT))::BIGINT
                  AS zsum,
                count(*)::BIGINT AS n
         FROM proj GROUP BY grp, j),
       dj AS (
         SELECT a.j,
                CAST(round(1000000.0
                     * (a.zsum::DOUBLE / a.n / 1e6 - bb.zsum::DOUBLE / bb.n / 1e6)
                     * (a.zsum::DOUBLE / a.n / 1e6 - bb.zsum::DOUBLE / bb.n / 1e6))
                     AS BIGINT) AS d2_fp,
                a.n AS n_a, bb.n AS n_b
         FROM z a JOIN z bb ON bb.j = a.j AND a.grp AND NOT bb.grp)
       SELECT max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
              round(2.0 / {_RFF_D} * sum(d2_fp) / 1000000.0, 6) AS mmd2
       FROM dj"""



@query("mmd_rff", _mmd_rff_sql())
def q_mmd_rff(spark, sf_dir):
    """Maximum Mean Discrepancy two-sample test between label-0 and
    label-1 embeddings, approximated with D=32 random Fourier features
    (Gretton et al., JMLR 2012 §3 + Rahimi & Recht, NeurIPS 2007):
    MMD² ≈ ||z̄_A − z̄_B||² with z_j(x) = √(2/D)·cos(wⱼ·x/σ + bⱼ) —
    the O(n·D) scale path that replaces the O(n²) kernel matrix. The
    Gaussian wⱼ are Box-Muller transforms of the cross-engine md5
    uniforms (fully deterministic), σ² is the moment identity
    E‖x−y‖² = 2(E‖x‖²−‖Ex‖²), and every projection/feature-mean/
    difference is micro-int-rounded at the reduction boundaries so
    cross-row add order never matters. Plan: dim-explode → broadcast
    join with the 2048-row W table → (vec, feature) partial agg —
    embarrassingly parallel, no pairwise anything."""
    from ..functions.hashing import md5_int

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("label").isin(0, 1))
    x = emb.select(
        "vec_id", (F.col("label") == 1).alias("grp"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "xv"),
    ).select(
        "vec_id", "grp", "d",
        F.round(F.lit(1e6) * F.col("xv"), 0).cast("long").alias("xm"),
    )
    dec = "decimal(38,0)"
    mom = x.agg(
        (F.sum(F.col("xm").cast(dec) * F.col("xm").cast(dec)).cast("double")
         / F.countDistinct("vec_id") / F.lit(1e12)).alias("e_xx"),
        F.countDistinct("vec_id").cast("long").alias("n"),
    )
    mu = x.groupBy("d").agg(F.sum("xm").cast("long").alias("ms"))
    mu2 = mu.crossJoin(F.broadcast(mom.select("n"))).select(
        (F.col("ms").cast("double") / F.col("n") / F.lit(1e6)).alias("m")
    ).agg(F.sum(F.col("m") * F.col("m")).alias("mm"))
    sig = mom.crossJoin(mu2).select(
        F.sqrt(F.lit(2.0) * (F.col("e_xx") - F.col("mm"))).alias("sigma")
    )
    jd = spark.range(0, _RFF_D).select(F.col("id").alias("j")).crossJoin(
        spark.range(0, _RFF_EMB_DIM).select(F.col("id").alias("d"))
    )
    u1 = ((md5_int(F.concat(F.lit("w:"), F.col("j").cast("string"), F.lit(":"), F.col("d").cast("string"), F.lit(":1"))) % 1000000) + 0.5) / F.lit(1e6)
    u2 = ((md5_int(F.concat(F.lit("w:"), F.col("j").cast("string"), F.lit(":"), F.col("d").cast("string"), F.lit(":2"))) % 1000000) + 0.5) / F.lit(1e6)
    pi2 = F.lit(2.0 * float(__import__("math").pi))
    w = jd.select(
        "j", "d",
        (F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(pi2 * u2)).alias("wv"),
    )
    bu = ((md5_int(F.concat(F.lit("b:"), F.col("j").cast("string"))) % 1000000) + 0.5) / F.lit(1e6)
    b = spark.range(0, _RFF_D).select(F.col("id").alias("j")).select(
        "j", (pi2 * bu).alias("bv")
    )
    proj = (
        x.join(F.broadcast(w), "d")
        .join(F.broadcast(b), "j")
        .crossJoin(F.broadcast(sig))
        .groupBy("vec_id", "grp", "j")
        .agg(
            F.round(
                F.lit(1e6)
                * (F.sum(F.col("xm") * F.col("wv")) / F.lit(1e6) / F.first("sigma")
                   + F.first("bv")),
                0,
            ).cast("long").alias("arg_fp")
        )
    )
    z = proj.groupBy("grp", "j").agg(
        F.sum(
            F.round(F.lit(1e6) * F.cos(F.col("arg_fp") / F.lit(1e6)), 0).cast("long")
        ).cast("long").alias("zsum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = z.where(F.col("grp")).select("j", F.col("zsum").alias("za"), F.col("n").alias("n_a"))
    bb = z.where(~F.col("grp")).select("j", F.col("zsum").alias("zb"), F.col("n").alias("n_b"))
    diff = (F.col("za").cast("double") / F.col("n_a") / F.lit(1e6)
            - F.col("zb").cast("double") / F.col("n_b") / F.lit(1e6))
    dj = a.join(bb, "j").select(
        "n_a", "n_b",
        F.round(F.lit(1e6) * diff * diff, 0).cast("long").alias("d2_fp"),
    )
    return dj.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.round(F.lit(2.0 / _RFF_D) * F.sum("d2_fp") / F.lit(1e6), 6).alias("mmd2"),
    )



@query(
    "cochran_armitage",
    """WITH b AS (
         SELECT least((n_chars // 200)::BIGINT, 4) AS k,
                (lang = 'en')::INT AS y
         FROM documents),
       g AS (
         SELECT k, count(*)::BIGINT AS nk, sum(y)::BIGINT AS rk
         FROM b GROUP BY k),
       tot AS (
         SELECT sum(nk)::BIGINT AS n, sum(rk)::BIGINT AS r,
                sum(k * nk)::BIGINT AS skn, sum(k * k * nk)::BIGINT AS sk2n,
                sum(k * rk)::BIGINT AS skr
         FROM g)
       SELECT n, r,
              round((n * skr - r * skn)::DOUBLE
                    / sqrt(r::DOUBLE * (n - r) / n
                           * (n::DOUBLE * sk2n - skn::DOUBLE * skn))
                    , 6) AS z_trend
       FROM tot""",
)
def q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955) for a
    monotone trend in the English-language share across ordered
    document-length strata (200-char bins, capped at 4) — the ordered-
    category refinement of `chi2_independence`, which ignores bin
    order: T = Σk(r_k − n_k R/N) with linear scores, Z = T/√Var.
    Multiplying through by N makes the numerator N·Σk·r_k − R·Σk·n_k
    exact int64; Var uses the same exact sufficient statistics in one
    mirrored expression. Single census + 5-row reduce."""
    b = _docs(spark, sf_dir).select(
        F.least(F.floor(F.col("n_chars") / 200), F.lit(4)).cast("long").alias("k"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    g = b.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("nk"), F.sum("y").cast("long").alias("rk")
    )
    tot = g.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("rk").cast("long").alias("r"),
        F.sum(F.col("k") * F.col("nk")).cast("long").alias("skn"),
        F.sum(F.col("k") * F.col("k") * F.col("nk")).cast("long").alias("sk2n"),
        F.sum(F.col("k") * F.col("rk")).cast("long").alias("skr"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return tot.select(
        "n", "r",
        F.round(
            (F.col("n") * F.col("skr") - F.col("r") * F.col("skn")).cast("double")
            / F.sqrt(
                d_("r") * (F.col("n") - F.col("r")) / F.col("n")
                * (d_("n") * F.col("sk2n") - d_("skn") * F.col("skn"))
            ),
            6,
        ).alias("z_trend"),
    )



@query(
    "nelson_aalen",
    """WITH firsts AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_u,
                min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_u,
                max(epoch_us(ts)) AS last_u
         FROM events GROUP BY user_id),
       spans AS (
         SELECT user_id,
                CASE WHEN p_u IS NOT NULL AND p_u > v_u
                     THEN (p_u - v_u) // 86400000000 END AS conv_day,
                (last_u - v_u) // 86400000000 AS censor_day
         FROM firsts WHERE v_u IS NOT NULL),
       days AS (SELECT unnest(range(30))::BIGINT AS day),
       tbl AS (
         SELECT d.day,
                sum(CASE WHEN coalesce(s.conv_day, s.censor_day) >= d.day
                         THEN 1 ELSE 0 END)::BIGINT AS n_at_risk,
                sum(CASE WHEN s.conv_day = d.day THEN 1 ELSE 0 END)::BIGINT AS n_events
         FROM days d CROSS JOIN spans s GROUP BY d.day),
       lt AS (
         SELECT day, n_at_risk, n_events,
                CASE WHEN n_at_risk > 0
                     THEN CAST(round(1000000.0 * n_events / n_at_risk) AS BIGINT)
                     ELSE 0 END AS h_fp,
                CASE WHEN n_at_risk > 0
                     THEN CAST(round(1000000.0 * n_events / (n_at_risk::DOUBLE * n_at_risk))
                          AS BIGINT)
                     ELSE 0 END AS v_fp
         FROM tbl)
       SELECT day, n_at_risk, n_events,
              round(sum(h_fp) OVER (ORDER BY day) / 1000000.0, 6) AS cum_hazard,
              round(sum(v_fp) OVER (ORDER BY day) / 1000000.0, 6) AS var_hazard,
              round(exp(-sum(h_fp) OVER (ORDER BY day) / 1000000.0), 6) AS s_fleming
       FROM lt""",
)
def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative-hazard estimator with its variance and
    the Fleming-Harrington survival transform (Nelson 1972; Aalen
    1978): H(t) = Σ_{s≤t} d_s/n_s, Var = Σ d_s/n_s², S_FH = e^{−H} —
    the hazard-scale twin of `kaplan_meier` on the identical risk
    sets (S_FH ≥ S_KM always; the pair brackets the truth). Each
    day's increment is micro-int-rounded before the ordered running
    sum. Same plan shape as the KM query: user-grain reduce, 30-day
    expansion, day-grain windows."""
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_u"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_u"),
        F.max(us).alias("last_u"),
    )
    spans = firsts.where(F.col("v_u").isNotNull()).select(
        F.when(
            F.col("p_u").isNotNull() & (F.col("p_u") > F.col("v_u")),
            F.floor((F.col("p_u") - F.col("v_u")) / 86400000000),
        ).alias("conv_day"),
        F.floor((F.col("last_u") - F.col("v_u")) / 86400000000).alias("censor_day"),
    )
    days = spark.range(0, 30).select(F.col("id").cast("long").alias("day"))
    tbl = (
        days.crossJoin(spans)
        .groupBy("day")
        .agg(
            F.sum(
                F.when(
                    F.coalesce(F.col("conv_day"), F.col("censor_day")) >= F.col("day"), 1
                ).otherwise(0)
            ).cast("long").alias("n_at_risk"),
            F.sum(F.when(F.col("conv_day") == F.col("day"), 1).otherwise(0)).cast("long").alias("n_events"),
        )
    )
    h_fp = F.when(
        F.col("n_at_risk") > 0,
        F.round(F.lit(1e6) * F.col("n_events") / F.col("n_at_risk"), 0),
    ).otherwise(F.lit(0)).cast("long")
    v_fp = F.when(
        F.col("n_at_risk") > 0,
        F.round(
            F.lit(1e6) * F.col("n_events")
            / (F.col("n_at_risk").cast("double") * F.col("n_at_risk")),
            0,
        ),
    ).otherwise(F.lit(0)).cast("long")
    lt = tbl.select("day", "n_at_risk", "n_events", h_fp.alias("h_fp"), v_fp.alias("v_fp"))
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return lt.select(
        "day", "n_at_risk", "n_events",
        F.round(F.sum("h_fp").over(wrun) / F.lit(1e6), 6).alias("cum_hazard"),
        F.round(F.sum("v_fp").over(wrun) / F.lit(1e6), 6).alias("var_hazard"),
        F.round(F.exp(-F.sum("h_fp").over(wrun) / F.lit(1e6)), 6).alias("s_fleming"),
    )



_LNFACT_SMALL = [
    0.0, 0.0, 0.6931471805599453, 1.791759469228055, 3.1780538303479458,
    4.787491742782046, 6.579251212010101, 8.525161361065415,
    10.60460290274525, 12.801827480081469,
]

_RAREFY_QS = (10, 25, 50, 75)  # percent subsample sizes



def _lnfact_sql(expr: str) -> str:
    """Stirling-series ln(n!) (abs err < 1e-9 for n ≥ 10) with exact
    literals below — one identical IEEE expression on both engines,
    O(1) per evaluation at ANY n (no factorial table; this is the
    form that survives 10^12-token corpora)."""
    small = " ".join(
        f"WHEN {i} THEN {v!r}" for i, v in enumerate(_LNFACT_SMALL)
    )
    st = (f"({expr}) * ln({expr}) - ({expr}) + 0.5 * ln(2 * pi() * ({expr}))"
          f" + 1.0 / (12.0 * ({expr})) - 1.0 / (360.0 * ({expr}) * ({expr}) * ({expr}))")
    return f"(CASE WHEN ({expr}) <= 9 THEN (CASE ({expr}) {small} END) ELSE {st} END)"



def _lnfact_col(c):
    n = c.cast("double")
    st = (
        n * F.log(n) - n
        + F.lit(0.5) * F.log(F.lit(2.0 * float(__import__("math").pi)) * n)
        + F.lit(1.0) / (F.lit(12.0) * n)
        - F.lit(1.0) / (F.lit(360.0) * n * n * n)
    )
    case = F.when(c == 0, F.lit(_LNFACT_SMALL[0]))
    for i in range(1, 10):
        case = case.when(c == i, F.lit(_LNFACT_SMALL[i]))
    return case.otherwise(st)



@query(
    "rarefaction_curve",
    f"""WITH cnt AS (
         SELECT token, count(*)::BIGINT AS c
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
         GROUP BY token),
       coc AS (SELECT c, count(*)::BIGINT AS nc FROM cnt GROUP BY c),
       tot AS (SELECT sum(c * nc)::BIGINT AS n, sum(nc)::BIGINT AS s FROM coc),
       ms AS (
         SELECT q, ((SELECT n FROM tot) * q) // 100 AS m
         FROM (SELECT unnest([{", ".join(str(q) for q in _RAREFY_QS)}]) AS q)),
       terms AS (
         SELECT ms.q, ms.m, coc.nc,
                CASE WHEN (SELECT n FROM tot) - coc.c >= ms.m
                     THEN CAST(round(1000000000.0 * exp(
                            {_lnfact_sql("(SELECT n FROM tot) - coc.c")}
                            - {_lnfact_sql("(SELECT n FROM tot) - coc.c - ms.m")}
                            - {_lnfact_sql("(SELECT n FROM tot)")}
                            + {_lnfact_sql("(SELECT n FROM tot) - ms.m")})) AS BIGINT)
                     ELSE 0 END AS miss_nano
         FROM ms CROSS JOIN coc)
       SELECT q::BIGINT AS q_pct, max(m)::BIGINT AS m,
              round((SELECT s FROM tot) - sum(nc * miss_nano) / 1000000000.0, 6)
                AS s_expected
       FROM terms GROUP BY q""",
)
def q_rarefaction_curve(spark, sf_dir):
    """Hurlbert rarefaction — the expected distinct-token count at a
    random subsample of m tokens (Hurlbert, Ecology 1971; the exact
    hypergeometric form): E[S_m] = S − Σ_c N_c·C(N−c,m)/C(N,m),
    evaluated at 10/25/50/75% of the corpus — the MEASURED companion
    to `heaps_law`'s fitted curve and `missing_mass`'s asymptote.
    Binomial ratios go through a Stirling-series ln(n!) (identical
    IEEE expression both engines, O(1) at any n — no factorial table,
    so the form survives 10^12-token corpora); each miss-probability
    is nano-int-rounded before the count-weighted sum. Work is
    O(distinct counts × 4 subsample points) after the token census —
    corpus-scale-free."""
    cnt = (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    coc = cnt.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("nc"))
    tot = coc.agg(
        F.sum(F.col("c") * F.col("nc")).cast("long").alias("n"),
        F.sum("nc").cast("long").alias("s"),
    )
    qs = spark.createDataFrame([(q,) for q in _RAREFY_QS], "q long")
    ms = qs.crossJoin(F.broadcast(tot)).select(
        "q", "n", "s", F.floor(F.col("n") * F.col("q") / 100).cast("long").alias("m")
    )
    t = ms.crossJoin(coc)
    lnr = (
        _lnfact_col(F.col("n") - F.col("c"))
        - _lnfact_col(F.col("n") - F.col("c") - F.col("m"))
        - _lnfact_col(F.col("n"))
        + _lnfact_col(F.col("n") - F.col("m"))
    )
    miss = F.when(
        F.col("n") - F.col("c") >= F.col("m"),
        F.round(F.lit(1e9) * F.exp(lnr), 0).cast("long"),
    ).otherwise(F.lit(0))
    return (
        t.select("q", "m", "s", (F.col("nc") * miss).alias("wmiss"))
        .groupBy("q", "s")
        .agg(F.max("m").cast("long").alias("m"), F.sum("wmiss").alias("wm"))
        .select(
            F.col("q").cast("long").alias("q_pct"), "m",
            F.round(F.col("s") - F.col("wm") / F.lit(1e9), 6).alias("s_expected"),
        )
    )



@query(
    "decile_lift",
    """WITH s AS (
         SELECT doc_id, n_chars AS score, (lang = 'en')::INT AS y FROM documents),
       r AS (
         SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk,
                count(*) OVER () AS n, sum(y) OVER () AS pos
         FROM s),
       d AS (
         SELECT least(9, (10 * (rk - 1)) // n)::BIGINT AS decile, y, n, pos
         FROM r),
       g AS (
         SELECT decile, count(*)::BIGINT AS n_rows, sum(y)::BIGINT AS n_pos,
                max(n)::BIGINT AS n, max(pos)::BIGINT AS pos
         FROM d GROUP BY decile)
       SELECT decile, n_rows, n_pos,
              round(n_pos::DOUBLE / n_rows, 6) AS rate,
              round((n_pos::DOUBLE / n_rows) / (pos::DOUBLE / n), 6) AS lift,
              round(sum(n_pos) OVER (ORDER BY decile)::DOUBLE / pos, 6) AS cum_capture
       FROM g""",
)
def q_decile_lift(spark, sf_dir):
    """Decile lift / cumulative-gains table (the standard targeting-
    model report, cf. Berry & Linoff 1997) scoring docs by length
    against the is-English label: decile 0 = highest scores
    (row_number ties broken by doc_id, so bin edges are exact),
    per-decile response rate, lift over base rate, and the cumulative
    capture curve — the table-form twin of `roc_auc`/`qini_curve`
    that operations actually reads. Exact integer counts; three
    ratios per decile. One global sort window over the census —
    at production scale the decile assignment switches to the
    `quantile_bins` bucketing (approx boundaries) while this exact
    form remains the audit."""
    # CENSUS GRAIN (r4): global rank via range-bucketed row_number
    # (operators/census.py); n/pos via a 1-row aggregate broadcast.
    from pliers_spark.operators.census import scalable_row_number

    s = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").alias("score"), (F.col("lang") == "en").cast("int").alias("y")
    )
    tot = s.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    r = (
        scalable_row_number(s, "score", out="rk", desc=True, tiebreak=("doc_id",))
        .crossJoin(F.broadcast(tot))
        .select("y", "rk", "n", "pos")
    )
    d = r.select(
        F.least(F.lit(9), F.floor(10 * (F.col("rk") - 1) / F.col("n"))).cast("long").alias("decile"),
        "y", "n", "pos",
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
        F.max("n").cast("long").alias("n"),
        F.max("pos").cast("long").alias("pos"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "decile", "n_rows", "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n_rows"), 6).alias("rate"),
        F.round(
            (F.col("n_pos").cast("double") / F.col("n_rows"))
            / (F.col("pos").cast("double") / F.col("n")),
            6,
        ).alias("lift"),
        F.round(
            F.sum("n_pos").over(wcum).cast("double") / F.col("pos"), 6
        ).alias("cum_capture"),
    )



@query(
    "isotonic_fit",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                sum(CAST(round(value * 1000000.0) AS BIGINT))::BIGINT AS s_fp,
                count(*)::BIGINT AS c
         FROM events GROUP BY 1),
       y AS (
         SELECT day, row_number() OVER (ORDER BY day) AS t,
                CAST(round(s_fp::DOUBLE / c) AS BIGINT) AS y_fp
         FROM d),
       pre AS (
         SELECT t, day, y_fp, sum(y_fp) OVER (ORDER BY t) AS ps
         FROM y),
       pairs AS (
         SELECT a.t AS j, b.t AS k,
                (b.ps - a.ps + a.y_fp)::DOUBLE / (b.t - a.t + 1) AS seg_avg
         FROM pre a JOIN pre b ON b.t >= a.t),
       inner_min AS (
         SELECT i.t AS i, p.j, min(p.seg_avg) AS mn
         FROM y i JOIN pairs p ON p.j <= i.t AND p.k >= i.t
         GROUP BY i.t, p.j),
       fit AS (
         SELECT i, max(mn) AS iso FROM inner_min GROUP BY i)
       SELECT y.day::TIMESTAMP AS day, round(y.y_fp / 1000000.0, 6) AS y,
              round(f.iso / 1000000.0, 6) AS iso_fit
       FROM y JOIN fit f ON f.i = y.t""",
)
def q_isotonic_fit(spark, sf_dir):
    """Isotonic (monotone non-decreasing) regression of the daily mean
    value via the minimax characterization f_i = max_{j≤i} min_{k≥i}
    ȳ[j..k] (Ayer et al. 1955 — the closed form whose pool-adjacent-
    violators algorithm is the sequential evaluation; this direct form
    is embarrassingly parallel where PAVA is inherently serial, the
    right trade at day grain): segment means come from exact integer
    prefix sums, the double reduction is two group-bys over the O(n³)
    (i, j, k≥i) expansion — bounded because the series is DAY-grain
    (n=days, never corpus rows; at n>10³ switch to per-partition PAVA
    in applyInPandas). The fitted curve is the L2-optimal monotone
    approximation — the same operator sklearn's IsotonicRegression
    runs for probability calibration."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("long").alias("s_fp"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    y = d.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.round(F.col("s_fp").cast("double") / F.col("c"), 0).cast("long").alias("y_fp"),
    )
    pre = y.select(
        "t", "day", "y_fp",
        F.sum("y_fp").over(Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)).alias("ps"),
    )
    a = pre.alias("a")
    b = pre.alias("b")
    pairs = a.join(b, F.col("b.t") >= F.col("a.t")).select(
        F.col("a.t").alias("j"), F.col("b.t").alias("k"),
        (
            (F.col("b.ps") - F.col("a.ps") + F.col("a.y_fp")).cast("double")
            / (F.col("b.t") - F.col("a.t") + 1)
        ).alias("seg_avg"),
    )
    i = y.select(F.col("t").alias("i"))
    inner_min = (
        i.join(pairs, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("seg_avg").alias("mn"))
    )
    fit = inner_min.groupBy("i").agg(F.max("mn").alias("iso"))
    return y.join(fit, y.t == fit.i).select(
        F.col("day").alias("day"),
        F.round(F.col("y_fp") / F.lit(1e6), 6).alias("y"),
        F.round(F.col("iso") / F.lit(1e6), 6).alias("iso_fit"),
    )



@query(
    "von_neumann_ratio",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       c AS (
         SELECT x, lead(x) OVER (ORDER BY day) AS nx,
                count(*) OVER () AS n, sum(x) OVER () AS s
         FROM d),
       agg AS (
         SELECT max(n) AS n,
                sum(CASE WHEN nx IS NOT NULL
                         THEN (nx - x) * (nx - x) ELSE 0 END)::BIGINT AS ssd,
                sum((n * x - s) * (n * x - s))::BIGINT AS ssn
         FROM c)
       SELECT n,
              round(ssd::DOUBLE * n * n / ssn / (1.0 * n) * (n - 1), 6) AS vn_ratio,
              round((ssd::DOUBLE * n * n / ssn / (1.0 * n) * (n - 1) - 2.0)
                    / sqrt(4.0 * (n - 2)::DOUBLE / ((n::DOUBLE * n) - 1.0)), 6) AS z
       FROM agg""",
)
def q_von_neumann_ratio(spark, sf_dir):
    """Von Neumann successive-difference ratio on the daily count
    series (von Neumann, Ann. Math. Statist. 1941): VN = Σ(x_{t+1}−
    x_t)²/(n−1) ÷ Σ(x−x̄)²/n... emitted in the mean-square form VN =
    n·Σd²/((n−1)·Σ(x−x̄)²) with E[VN]=2 under independence — trend or
    positive autocorrelation drives it below 2, alternation above
    (the quick randomness screen that complements `ljung_box`'s lag
    spectrum). Numerator and the
    n²-scaled centered sum are exact int64; VN and its z-score are
    one mirrored expression. One lead window over day grain."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = d.select(
        "x",
        F.lead("x").over(Window.orderBy("day")).alias("nx"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(wall).alias("s"),
    )
    agg = c.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("nx").isNotNull(),
                (F.col("nx") - F.col("x")) * (F.col("nx") - F.col("x")),
            ).otherwise(0)
        ).cast("long").alias("ssd"),
        F.sum(
            (F.col("n") * F.col("x") - F.col("s")) * (F.col("n") * F.col("x") - F.col("s"))
        ).cast("long").alias("ssn"),
    )
    d_ = lambda cc: F.col(cc).cast("double")  # noqa: E731
    vn = d_("ssd") * F.col("n") * F.col("n") / F.col("ssn") / (F.lit(1.0) * F.col("n")) * (F.col("n") - 1)
    return agg.select(
        "n",
        F.round(vn, 6).alias("vn_ratio"),
        F.round(
            (vn - F.lit(2.0))
            / F.sqrt(F.lit(4.0) * (F.col("n") - 2).cast("double") / (d_("n") * F.col("n") - F.lit(1.0))),
            6,
        ).alias("z"),
    )



_CRONBACH_K = 4



@query(
    "cronbach_alpha",
    f"""WITH it AS (
         SELECT vec_id, unnest(range({_CRONBACH_K}))::BIGINT AS item,
                CAST(round(1000000.0 * embedding[(unnest(range({_CRONBACH_K})))::INT + 1]::DOUBLE)
                     AS BIGINT) AS v
         FROM embeddings),
       per_item AS (
         SELECT item, count(*)::BIGINT AS n, sum(v)::BIGINT AS s,
                sum(v::HUGEINT * v::HUGEINT) AS q
         FROM it GROUP BY item),
       item_var AS (
         SELECT sum(CAST(round((q::DOUBLE - s::DOUBLE * s / n) / (n - 1) / 1e6) AS BIGINT))::BIGINT
                  AS sum_var_fp
         FROM per_item),
       totals AS (
         SELECT vec_id, sum(v)::BIGINT AS tv FROM it GROUP BY vec_id),
       tot_var AS (
         SELECT count(*)::BIGINT AS n,
                CAST(round((sum(tv::HUGEINT * tv::HUGEINT)::DOUBLE
                      - sum(tv)::DOUBLE * sum(tv) / count(*)) / (count(*) - 1) / 1e6)
                     AS BIGINT) AS var_tot_fp
         FROM totals)
       SELECT t.n, {_CRONBACH_K}::BIGINT AS k,
              round({_CRONBACH_K} / ({_CRONBACH_K} - 1.0)
                    * (1.0 - i.sum_var_fp::DOUBLE / t.var_tot_fp), 6) AS alpha
       FROM tot_var t, item_var i""",
)
def q_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha internal-consistency coefficient (Cronbach,
    Psychometrika 1951) treating the first 4 embedding dimensions as
    a 4-item scale over vectors-as-subjects: α = k/(k−1)·(1 −
    Σσ²ᵢ/σ²_total) — the tau-equivalent reliability every
    questionnaire/labeling-rubric QA reports (complements the
    inter-RATER agreement pair `fleiss_kappa`/`krippendorff_alpha`
    with inter-ITEM consistency). Each variance is computed from
    exact int64/int128 moments and micro-int-rounded once before the
    ratio. One dim-explode + two partial aggs."""
    emb = load_table(spark, sf_dir, "embeddings")
    it = emb.select(
        "vec_id",
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, _CRONBACH_K)
        ).alias("item", "x"),
    ).select(
        "vec_id", "item", F.round(F.lit(1e6) * F.col("x"), 0).cast("long").alias("v")
    )
    dec = "decimal(38,0)"
    per_item = it.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v").cast(dec) * F.col("v").cast(dec)).cast(dec).alias("q"),
    )
    item_var = per_item.select(
        F.round(
            (F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("n") - 1) / F.lit(1e6),
            0,
        ).cast("long").alias("var_fp")
    ).agg(F.sum("var_fp").cast("long").alias("sum_var_fp"))
    totals = it.groupBy("vec_id").agg(F.sum("v").cast("long").alias("tv"))
    tot_var = totals.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            (
                F.sum(F.col("tv").cast(dec) * F.col("tv").cast(dec)).cast("double")
                - F.sum("tv").cast("double") * F.sum("tv") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1) / F.lit(1e6),
            0,
        ).cast("long").alias("var_tot_fp"),
    )
    return tot_var.crossJoin(item_var).select(
        "n", F.lit(_CRONBACH_K).cast("long").alias("k"),
        F.round(
            F.lit(_CRONBACH_K / (_CRONBACH_K - 1.0))
            * (F.lit(1.0) - F.col("sum_var_fp").cast("double") / F.col("var_tot_fp")),
            6,
        ).alias("alpha"),
    )



@query(
    "condensation_layers",
    f"""WITH {_closure_sql()},
       nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges
                                            UNION SELECT dst FROM edges)),
       mutual AS (
         SELECT a.src AS u, a.dst AS v
         FROM reach_r a JOIN reach_r b ON b.src = a.dst AND b.dst = a.src),
       selfp AS (
         SELECT node AS u, node AS v FROM nodes
         UNION SELECT u, v FROM mutual),
       scc AS (SELECT u AS node, min(v)::BIGINT AS scc_id FROM selfp GROUP BY u),
       cedges AS (
         SELECT DISTINCT sa.scc_id AS src, sb.scc_id AS dst
         FROM edges e JOIN scc sa ON sa.node = e.src JOIN scc sb ON sb.node = e.dst
         WHERE sa.scc_id <> sb.scc_id),
       lp AS (
         WITH RECURSIVE walk(src, dst, d) AS (
           SELECT src, dst, 1::BIGINT FROM cedges
           UNION
           SELECT w.src, e.dst, w.d + 1
           FROM walk w JOIN cedges e ON e.src = w.dst
           WHERE w.d < 64)
         SELECT dst, max(d)::BIGINT AS layer FROM walk GROUP BY dst),
       members AS (SELECT scc_id, count(*)::BIGINT AS n_members FROM scc GROUP BY scc_id)
       SELECT m.scc_id, coalesce(lp.layer, 0)::BIGINT AS layer, m.n_members
       FROM members m LEFT JOIN lp ON lp.dst = m.scc_id""",
)
def q_condensation_layers(spark, sf_dir):
    """Topological layering of the host graph's SCC condensation: the
    condensation is a DAG by construction (Tarjan), and layer(C) =
    longest path from any source component — the dependency depth
    used to schedule staged crawls/recomputations (everything at
    layer k can run once layers < k finished). Longest paths come
    from `operators.graph.maxplus_closure` (max-plus doubling — the
    DAG-only dual of the min-plus helper; O(log depth) rounds).
    Components reuse the same closure machinery as `scc_components`.
    Emits (scc_id, layer, member count) — condensation-grain."""
    from ..operators.graph import host_link_edges, maxplus_closure, minplus_closure

    e = host_link_edges(_docs(spark, sf_dir))
    r = minplus_closure(e).stableCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    a = r.alias("a")
    b = r.alias("b")
    mutual = a.join(
        b, (F.col("b.src") == F.col("a.dst")) & (F.col("b.dst") == F.col("a.src"))
    ).select(F.col("a.src").alias("u"), F.col("a.dst").alias("v"))
    selfp = nodes.select(
        F.col("node").alias("u"), F.col("node").alias("v")
    ).union(mutual).distinct()
    scc = selfp.groupBy(F.col("u").alias("node")).agg(F.min("v").cast("long").alias("scc_id"))
    cedges = (
        e.join(scc.withColumnRenamed("node", "src").withColumnRenamed("scc_id", "sa"), "src")
        .join(scc.withColumnRenamed("node", "dst").withColumnRenamed("scc_id", "sb"), "dst")
        .where(F.col("sa") != F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    lp = maxplus_closure(cedges).groupBy("dst").agg(F.max("dist").cast("long").alias("layer"))
    members = scc.groupBy("scc_id").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    return members.join(lp, members.scc_id == lp.dst, "left").select(
        "scc_id",
        F.coalesce(F.col("layer"), F.lit(0)).cast("long").alias("layer"),
        "n_members",
    )



_SINKHORN_ITERS = 20

_SINKHORN_K = 5



def _sinkhorn_sql() -> str:
    k = _SINKHORN_K
    ctes = [
        f"""b0 AS (
           SELECT least((n_chars // 200)::BIGINT, {k - 1}) AS bin, source
           FROM documents WHERE source IN ('src0', 'src1'))""",
        f"bins AS (SELECT unnest(range({k}))::BIGINT AS bin)",
        """h0 AS (SELECT bin, count(*)::BIGINT AS c FROM b0 WHERE source = 'src0' GROUP BY bin)""",
        """h1 AS (SELECT bin, count(*)::BIGINT AS c FROM b0 WHERE source = 'src1' GROUP BY bin)""",
        """t0 AS (SELECT count(*)::BIGINT AS tot FROM b0 WHERE source = 'src0')""",
        """t1 AS (SELECT count(*)::BIGINT AS tot FROM b0 WHERE source = 'src1')""",
        """p AS MATERIALIZED (
           SELECT bins.bin,
                  CAST(round(1000000.0 * coalesce(h0.c, 0) / t0.tot) AS BIGINT) AS m
           FROM bins LEFT JOIN h0 USING (bin) CROSS JOIN t0)""",
        """q AS MATERIALIZED (
           SELECT bins.bin,
                  CAST(round(1000000.0 * coalesce(h1.c, 0) / t1.tot) AS BIGINT) AS m
           FROM bins LEFT JOIN h1 USING (bin) CROSS JOIN t1)""",
        """km AS MATERIALIZED (
           SELECT a.bin AS i, b.bin AS j, exp(-2.0 * abs(a.bin - b.bin)) AS kv
           FROM bins a CROSS JOIN bins b)""",
        "u0 AS (SELECT bin, 1000000::BIGINT AS u FROM bins)",
    ]
    for t in range(_SINKHORN_ITERS):
        ctes.append(
            f"""v{t + 1} AS MATERIALIZED (
              SELECT km.j AS bin,
                     CAST(round(1000000.0 * (any_value(q.m) / 1000000.0)
                          / sum(km.kv * u{t}.u / 1000000.0)) AS BIGINT) AS v
              FROM km JOIN u{t} ON u{t}.bin = km.i JOIN q ON q.bin = km.j
              GROUP BY km.j)"""
        )
        ctes.append(
            f"""u{t + 1} AS MATERIALIZED (
              SELECT km.i AS bin,
                     CAST(round(1000000.0 * (any_value(p.m) / 1000000.0)
                          / sum(km.kv * v{t + 1}.v / 1000000.0)) AS BIGINT) AS u
              FROM km JOIN v{t + 1} ON v{t + 1}.bin = km.j JOIN p ON p.bin = km.i
              GROUP BY km.i)"""
        )
    T = _SINKHORN_ITERS
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
       plan AS (
         SELECT km.i, km.j,
                CAST(round(1000000.0 * (u{T}.u / 1000000.0) * km.kv
                     * (v{T}.v / 1000000.0)) AS BIGINT) AS p_fp
         FROM km JOIN u{T} ON u{T}.bin = km.i JOIN v{T} ON v{T}.bin = km.j),
       tc AS (SELECT sum(p_fp * abs(i - j)) AS s FROM plan)
       SELECT i, j, p_fp, round(tc.s / 1000000.0, 6) AS total_cost
       FROM plan CROSS JOIN tc"""
    )
