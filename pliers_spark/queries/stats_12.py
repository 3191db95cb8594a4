"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: sinkhorn_ot, partial_correlation, granger_lag1, davies_bouldin,
    classical_decompose, ransac_line, shorth_mode, pca_project,
    lof_scores, symspell_correct, percolation_audit, ecod_scores,
    watermark_audit, vocab_retention, collocation_measures,
    tolerance_interval, control_chart, np_chunks, calinski_harabasz,
    gmm_em_1d, logistic_irls, svm_batch_subgradient, adaboost_stumps,
    fk_discovery, fd_violations
"""
from __future__ import annotations

from ._registry import D, F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from pliers_spark.operators.census import census_collect
from .features_a import _tag_case_sql
from .stats_11 import _SINKHORN_ITERS, _SINKHORN_K, _lnfact_col, _lnfact_sql, _sinkhorn_sql



@query("sinkhorn_ot", _sinkhorn_sql())
def q_sinkhorn_ot(spark, sf_dir):
    """Entropy-regularized optimal transport between the src0 and src1
    document-length quintile distributions via 20 Sinkhorn-Knopp
    scaling iterations (Cuturi, NeurIPS 2013; ε=0.5 so K = e^{−2|i−j|})
    — the modern OT workhorse, complementing the exact 1-D
    `wasserstein_1d` with the regularized plan (and the plan itself,
    which Wasserstein doesn't give). Marginals are micro-int-rounded
    histograms; every u/v scaling is micro-rounded per iteration so
    the alternating projection is bit-identical to the oracle's
    unrolled 40-CTE chain. The k×k system is CONSTANT-size — the
    distributed work is only the two histogram censuses; the scaling
    loop runs on 5-row frames driver-side by the same K×K precedent
    as `eigen_diagnostics`."""
    import math as _m

    docs = _docs(spark, sf_dir).where(F.col("source").isin("src0", "src1"))
    b0 = docs.select(
        F.least(F.floor(F.col("n_chars") / 200), F.lit(_SINKHORN_K - 1)).cast("long").alias("bin"),
        "source",
    )
    hist = census_collect(
        b0.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c")),
        10_000, "source\u00d7bin histogram census",
    )
    tot = {"src0": 0, "src1": 0}
    cnt = {}
    for r in hist:
        cnt[(r.source, r.bin)] = r.c
        tot[r.source] += r.c
    p = [round(1e6 * cnt.get(("src0", i), 0) / tot["src0"]) for i in range(_SINKHORN_K)]
    q = [round(1e6 * cnt.get(("src1", i), 0) / tot["src1"]) for i in range(_SINKHORN_K)]
    K = [[_m.exp(-2.0 * abs(i - j)) for j in range(_SINKHORN_K)] for i in range(_SINKHORN_K)]
    u = [1_000_000] * _SINKHORN_K
    v = [0] * _SINKHORN_K
    for _ in range(_SINKHORN_ITERS):
        v = [
            round(1e6 * (q[j] / 1e6) / sum(K[i][j] * u[i] / 1e6 for i in range(_SINKHORN_K)))
            for j in range(_SINKHORN_K)
        ]
        u = [
            round(1e6 * (p[i] / 1e6) / sum(K[i][j] * v[j] / 1e6 for j in range(_SINKHORN_K)))
            for i in range(_SINKHORN_K)
        ]
    plan = [
        (i, j, round(1e6 * (u[i] / 1e6) * K[i][j] * (v[j] / 1e6)))
        for i in range(_SINKHORN_K)
        for j in range(_SINKHORN_K)
    ]
    total = round(sum(pf * abs(i - j) for i, j, pf in plan) / 1e6, 6)
    return spark.createDataFrame(
        [(i, j, pf, total) for i, j, pf in plan],
        "i long, j long, p_fp long, total_cost double",
    )



@query(
    "partial_correlation",
    """WITH x AS (
         SELECT CAST(round(1000000.0 * embedding[1]::DOUBLE) AS BIGINT) AS a,
                CAST(round(1000000.0 * embedding[2]::DOUBLE) AS BIGINT) AS b,
                CAST(round(1000000.0 * embedding[3]::DOUBLE) AS BIGINT) AS c
         FROM embeddings),
       m AS (
         SELECT count(*)::BIGINT AS n,
                sum(a)::BIGINT AS sa, sum(b)::BIGINT AS sb, sum(c)::BIGINT AS sc,
                sum(a::HUGEINT * a::HUGEINT) AS qa, sum(b::HUGEINT * b::HUGEINT) AS qb,
                sum(c::HUGEINT * c::HUGEINT) AS qc,
                sum(a::HUGEINT * b::HUGEINT) AS sab,
                sum(a::HUGEINT * c::HUGEINT) AS sac,
                sum(b::HUGEINT * c::HUGEINT) AS sbc
         FROM x),
       r AS (
         SELECT n,
                (n * sab - sa::HUGEINT * sb)::DOUBLE
                  / sqrt((n * qa - sa::HUGEINT * sa)::DOUBLE)
                  / sqrt((n * qb - sb::HUGEINT * sb)::DOUBLE) AS rab,
                (n * sac - sa::HUGEINT * sc)::DOUBLE
                  / sqrt((n * qa - sa::HUGEINT * sa)::DOUBLE)
                  / sqrt((n * qc - sc::HUGEINT * sc)::DOUBLE) AS rac,
                (n * sbc - sb::HUGEINT * sc)::DOUBLE
                  / sqrt((n * qb - sb::HUGEINT * sb)::DOUBLE)
                  / sqrt((n * qc - sc::HUGEINT * sc)::DOUBLE) AS rbc
         FROM m)
       SELECT n, round(rab, 6) AS r_ab, round(rac, 6) AS r_ac, round(rbc, 6) AS r_bc,
              round((rab - rac * rbc)
                    / sqrt(1.0 - rac * rac) / sqrt(1.0 - rbc * rbc), 6) AS partial_r
       FROM r""",
)
def q_partial_correlation(spark, sf_dir):
    """First-order partial correlation between embedding dims 1 and 2
    controlling for dim 3: r_ab·c = (r_ab − r_ac·r_bc)/√((1−r_ac²)
    (1−r_bc²)) (Yule 1907) — the confound-removal step behind
    `feature_correlations`' raw matrix (a large r_ab can be entirely
    dim-3-mediated; the partial says so). All three Pearson r's come
    from one pass of exact int64/int128 moments; the partial is one
    mirrored expression. Single map-side-partial reduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    x = emb.select(
        F.round(F.lit(1e6) * F.col("embedding")[0], 0).cast("long").alias("a"),
        F.round(F.lit(1e6) * F.col("embedding")[1], 0).cast("long").alias("b"),
        F.round(F.lit(1e6) * F.col("embedding")[2], 0).cast("long").alias("c"),
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("a").cast(dec) * F.col("a").cast(dec)).cast(dec).alias("qa"),
        F.sum(F.col("b").cast(dec) * F.col("b").cast(dec)).cast(dec).alias("qb"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).cast(dec).alias("qc"),
        F.sum(F.col("a").cast(dec) * F.col("b").cast(dec)).cast(dec).alias("sab"),
        F.sum(F.col("a").cast(dec) * F.col("c").cast(dec)).cast(dec).alias("sac"),
        F.sum(F.col("b").cast(dec) * F.col("c").cast(dec)).cast(dec).alias("sbc"),
    )

    def corr(sxy, sx, sy, qx, qy):
        num = (F.col("n").cast(dec) * F.col(sxy) - F.col(sx).cast(dec) * F.col(sy).cast(dec)).cast("double")
        dx = F.sqrt((F.col("n").cast(dec) * F.col(qx) - F.col(sx).cast(dec) * F.col(sx).cast(dec)).cast("double"))
        dy = F.sqrt((F.col("n").cast(dec) * F.col(qy) - F.col(sy).cast(dec) * F.col(sy).cast(dec)).cast("double"))
        return num / dx / dy

    r = m.select(
        "n",
        corr("sab", "sa", "sb", "qa", "qb").alias("rab"),
        corr("sac", "sa", "sc", "qa", "qc").alias("rac"),
        corr("sbc", "sb", "sc", "qb", "qc").alias("rbc"),
    )
    return r.select(
        "n",
        F.round("rab", 6).alias("r_ab"),
        F.round("rac", 6).alias("r_ac"),
        F.round("rbc", 6).alias("r_bc"),
        F.round(
            (F.col("rab") - F.col("rac") * F.col("rbc"))
            / F.sqrt(F.lit(1.0) - F.col("rac") * F.col("rac"))
            / F.sqrt(F.lit(1.0) - F.col("rbc") * F.col("rbc")),
            6,
        ).alias("partial_r"),
    )



@query(
    "granger_lag1",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                sum((event_type = 'click')::INT)::BIGINT AS x,
                sum((event_type = 'purchase')::INT)::BIGINT AS y
         FROM events GROUP BY 1),
       s AS (
         SELECT y, lag(y) OVER (ORDER BY day) AS yl, lag(x) OVER (ORDER BY day) AS xl
         FROM d),
       r AS (SELECT * FROM s WHERE yl IS NOT NULL),
       m AS (
         SELECT count(*)::BIGINT AS n,
                sum(y)::BIGINT AS sy, sum(yl)::BIGINT AS sl, sum(xl)::BIGINT AS sx,
                sum(y::HUGEINT * y::HUGEINT) AS qyy,
                sum(yl::HUGEINT * yl::HUGEINT) AS qll,
                sum(xl::HUGEINT * xl::HUGEINT) AS qxx,
                sum(y::HUGEINT * yl::HUGEINT) AS qyl,
                sum(y::HUGEINT * xl::HUGEINT) AS qyx,
                sum(yl::HUGEINT * xl::HUGEINT) AS qlx
         FROM r),
       c AS (
         SELECT n,
                (n * qyy - sy::HUGEINT * sy)::DOUBLE AS syy,
                (n * qll - sl::HUGEINT * sl)::DOUBLE AS sll,
                (n * qxx - sx::HUGEINT * sx)::DOUBLE AS sxx,
                (n * qyl - sy::HUGEINT * sl)::DOUBLE AS sly,
                (n * qyx - sy::HUGEINT * sx)::DOUBLE AS sxy,
                (n * qlx - sl::HUGEINT * sx)::DOUBLE AS slx
         FROM m),
       fit AS (
         SELECT n, syy, sll, sxx, sly, sxy, slx,
                (sly * sxx - sxy * slx) / (sll * sxx - slx * slx) AS b_l,
                (sxy * sll - sly * slx) / (sll * sxx - slx * slx) AS b_x
         FROM c)
       SELECT n,
              round(b_x, 6) AS b_xlag,
              CASE WHEN syy - b_l * sly - b_x * sxy > 0
                   THEN round((syy - sly * sly / sll
                          - (syy - b_l * sly - b_x * sxy))
                         * (n - 3)::DOUBLE
                         / (syy - b_l * sly - b_x * sxy), 6) END AS f_stat,
              round(1.0 - (syy - b_l * sly - b_x * sxy) / syy, 6) AS r2_u
       FROM fit""",
)
def q_granger_lag1(spark, sf_dir):
    """Lag-1 Granger causality screen (Granger, Econometrica 1969):
    does yesterday's CLICK count improve today's PURCHASE forecast
    beyond yesterday's purchases? F = (SSR_r − SSR_u)(n−3)/SSR_u with
    the unrestricted 2-regressor OLS solved in closed form from the
    2×2 normal equations — every centered moment is the exact-integer
    n·Σab − ΣaΣb form (int128 products), so both engines evaluate one
    identical rational expression; no iterative solver. The
    directional regression test, where a cross-correlation is
    symmetric. One lag window over day grain + a single
    moment reduce."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("int")).cast("long").alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int")).cast("long").alias("y"),
    )
    w = Window.orderBy("day")
    s = d.select(
        "y", F.lag("y").over(w).alias("yl"), F.lag("x").over(w).alias("xl")
    ).where(F.col("yl").isNotNull())
    dec = "decimal(38,0)"
    m = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("yl").cast("long").alias("sl"),
        F.sum("xl").cast("long").alias("sx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).cast(dec).alias("qyy"),
        F.sum(F.col("yl").cast(dec) * F.col("yl").cast(dec)).cast(dec).alias("qll"),
        F.sum(F.col("xl").cast(dec) * F.col("xl").cast(dec)).cast(dec).alias("qxx"),
        F.sum(F.col("y").cast(dec) * F.col("yl").cast(dec)).cast(dec).alias("qyl"),
        F.sum(F.col("y").cast(dec) * F.col("xl").cast(dec)).cast(dec).alias("qyx"),
        F.sum(F.col("yl").cast(dec) * F.col("xl").cast(dec)).cast(dec).alias("qlx"),
    )
    nn = F.col("n").cast(dec)
    c = m.select(
        "n",
        (nn * F.col("qyy") - F.col("sy").cast(dec) * F.col("sy").cast(dec)).cast("double").alias("syy"),
        (nn * F.col("qll") - F.col("sl").cast(dec) * F.col("sl").cast(dec)).cast("double").alias("sll"),
        (nn * F.col("qxx") - F.col("sx").cast(dec) * F.col("sx").cast(dec)).cast("double").alias("sxx"),
        (nn * F.col("qyl") - F.col("sy").cast(dec) * F.col("sl").cast(dec)).cast("double").alias("sly"),
        (nn * F.col("qyx") - F.col("sy").cast(dec) * F.col("sx").cast(dec)).cast("double").alias("sxy"),
        (nn * F.col("qlx") - F.col("sl").cast(dec) * F.col("sx").cast(dec)).cast("double").alias("slx"),
    )
    det = F.col("sll") * F.col("sxx") - F.col("slx") * F.col("slx")
    b_l = (F.col("sly") * F.col("sxx") - F.col("sxy") * F.col("slx")) / det
    b_x = (F.col("sxy") * F.col("sll") - F.col("sly") * F.col("slx")) / det
    ssr_u = F.col("syy") - b_l * F.col("sly") - b_x * F.col("sxy")
    ssr_r = F.col("syy") - F.col("sly") * F.col("sly") / F.col("sll")
    return c.select(
        "n",
        F.round(b_x, 6).alias("b_xlag"),
        F.when(
            ssr_u > 0,
            F.round((ssr_r - ssr_u) * (F.col("n") - 3).cast("double") / ssr_u, 6),
        ).alias("f_stat"),
        F.round(F.lit(1.0) - ssr_u / F.col("syy"), 6).alias("r2_u"),
    )



@query(
    "davies_bouldin",
    """WITH comps AS (
         SELECT vec_id, label,
                unnest(range(8))::BIGINT AS i,
                CAST(round(1000000.0 * embedding[(unnest(range(8)))::INT + 1]::DOUBLE) AS BIGINT)
                  AS cm
         FROM embeddings),
       cent AS (
         SELECT label, i, sum(cm)::BIGINT AS s, count(*)::BIGINT AS n
         FROM comps GROUP BY label, i),
       pdist AS (
         SELECT c.vec_id, c.label,
                sqrt(sum(CAST(round(1e12 * (c.cm / 1e6 - ct.s::DOUBLE / ct.n / 1e6)
                         * (c.cm / 1e6 - ct.s::DOUBLE / ct.n / 1e6)) AS BIGINT)) / 1e12)
                  AS d
         FROM comps c JOIN cent ct ON ct.label = c.label AND ct.i = c.i
         GROUP BY c.vec_id, c.label),
       scat AS (
         SELECT label, count(*)::BIGINT AS n,
                sum(CAST(round(1000000.0 * d) AS BIGINT))::BIGINT AS sd_fp
         FROM pdist GROUP BY label),
       s AS (SELECT label, n, sd_fp::DOUBLE / n / 1e6 AS si FROM scat),
       cdist AS (
         SELECT a.label AS la, b.label AS lb,
                sqrt(sum(CAST(round(1e12 * (a.s::DOUBLE / a.n / 1e6 - b.s::DOUBLE / b.n / 1e6)
                         * (a.s::DOUBLE / a.n / 1e6 - b.s::DOUBLE / b.n / 1e6)) AS BIGINT)) / 1e12)
                  AS dij
         FROM cent a JOIN cent b ON b.i = a.i AND a.label <> b.label
         GROUP BY a.label, b.label),
       ratio AS (
         SELECT cd.la AS label, max((sa.si + sb.si) / cd.dij) AS r_i
         FROM cdist cd JOIN s sa ON sa.label = cd.la JOIN s sb ON sb.label = cd.lb
         GROUP BY cd.la),
       db AS (SELECT avg(r_i) AS dbv FROM ratio)
       SELECT r.label, round(s.si, 6) AS s_i, round(r.r_i, 6) AS r_i,
              round(db.dbv, 6) AS db_index
       FROM ratio r JOIN s USING (label) CROSS JOIN db""",
)
def q_davies_bouldin(spark, sf_dir):
    """Davies-Bouldin cluster-validity index over the first 8
    embedding dims with labels as clusters (Davies & Bouldin, TPAMI
    1979): DB = (1/k)Σᵢ maxⱼ≠ᵢ (sᵢ+sⱼ)/d(cᵢ,cⱼ) — lower is better —
    the centroid-scatter twin of `silhouette_simplified` (which
    scores points; DB scores clusters, both O(n·k), never pairwise
    points). Centroids are exact integer component sums; per-point
    distances micro-round once before the scatter mean; the k×k
    ratio matrix is constant-size. Emits per-cluster scatter, worst
    ratio R_i, and the shared DB index."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id", "label",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 8)).alias("i", "x"),
    ).select(
        "vec_id", "label", "i",
        F.round(F.lit(1e6) * F.col("x"), 0).cast("long").alias("cm"),
    )
    cent = comps.groupBy("label", "i").agg(
        F.sum("cm").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    cdiff = F.col("cm") / F.lit(1e6) - F.col("s").cast("double") / F.col("n") / F.lit(1e6)
    pdist = (
        comps.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum(F.round(F.lit(1e12) * cdiff * cdiff, 0).cast("long")) / F.lit(1e12)
            ).alias("d")
        )
    )
    scat = pdist.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.lit(1e6) * F.col("d"), 0).cast("long")).cast("long").alias("sd_fp"),
    )
    s = scat.select(
        "label", (F.col("sd_fp").cast("double") / F.col("n") / F.lit(1e6)).alias("si")
    )
    a = cent.alias("a")
    b = cent.alias("b")
    cm = lambda side: F.col(f"{side}.s").cast("double") / F.col(f"{side}.n") / F.lit(1e6)  # noqa: E731
    cdist = (
        a.join(b, (F.col("b.i") == F.col("a.i")) & (F.col("a.label") != F.col("b.label")))
        .groupBy(F.col("a.label").alias("la"), F.col("b.label").alias("lb"))
        .agg(
            F.sqrt(
                F.sum(
                    F.round(F.lit(1e12) * (cm("a") - cm("b")) * (cm("a") - cm("b")), 0).cast("long")
                ) / F.lit(1e12)
            ).alias("dij")
        )
    )
    ratio = (
        cdist.join(s.select(F.col("label").alias("la"), F.col("si").alias("sa")), "la")
        .join(s.select(F.col("label").alias("lb"), F.col("si").alias("sb")), "lb")
        .groupBy(F.col("la").alias("label"))
        .agg(F.max((F.col("sa") + F.col("sb")) / F.col("dij")).alias("r_i"))
    )
    db = ratio.agg(F.avg("r_i").alias("dbv"))
    return ratio.join(s, "label").crossJoin(F.broadcast(db)).select(
        "label",
        F.round("si", 6).alias("s_i"),
        F.round("r_i", 6).alias("r_i"),
        F.round("dbv", 6).alias("db_index"),
    )



@query(
    "classical_decompose",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       tr AS (
         SELECT day, x,
                datediff('day', DATE '2024-01-01', day::DATE) % 7 AS wd,
                CASE WHEN count(*) OVER w = 7
                     THEN CAST(round(1000000.0 * avg(x) OVER w) AS BIGINT)
                END AS trend_fp
         FROM d
         WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       det AS (
         SELECT day, x, wd, trend_fp,
                1000000 * x - trend_fp AS detr_fp
         FROM tr),
       seas AS (
         SELECT wd, CAST(round(avg(detr_fp)) AS BIGINT) AS s_raw_fp
         FROM det WHERE detr_fp IS NOT NULL GROUP BY wd),
       c0 AS (SELECT CAST(round(avg(s_raw_fp)) AS BIGINT) AS adj FROM seas),
       sc AS (SELECT wd, (s_raw_fp - (SELECT adj FROM c0))::BIGINT AS s_fp FROM seas)
       SELECT t.day::TIMESTAMP AS day, t.x,
              round(t.trend_fp / 1000000.0, 6) AS trend,
              round(sc.s_fp / 1000000.0, 6) AS seasonal,
              round((1000000 * t.x - t.trend_fp - sc.s_fp) / 1000000.0, 6) AS resid
       FROM tr t JOIN sc ON sc.wd = t.wd""",
)
def q_classical_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of the daily count
    series (the moving-average method behind X-11 and R's
    `decompose`, cf. Makridakis et al. 1998 §3): trend = centered
    7-day MA (full windows only), weekly seasonal = weekday means of
    the detrended series re-centered to sum ~0, residual = the rest.
    Weekday is (days since 2024-01-01) mod 7 — identical arithmetic
    on both engines, dodging their different DOW numbering. Trend and
    seasonal are micro-int-rounded once at their reduction points.
    Day-grain windows + a 7-row seasonal table."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = d.select(
        "day", "x",
        (F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date")) % 7).alias("wd"),
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.round(F.lit(1e6) * F.avg("x").over(w7), 0).cast("long"),
        ).alias("trend_fp"),
    )
    det = tr.select(
        "wd", (F.lit(1_000_000) * F.col("x") - F.col("trend_fp")).alias("detr_fp")
    ).where(F.col("detr_fp").isNotNull())
    seas = det.groupBy("wd").agg(
        F.round(F.avg("detr_fp"), 0).cast("long").alias("s_raw_fp")
    )
    c0 = seas.agg(F.round(F.avg("s_raw_fp"), 0).cast("long").alias("adj"))
    sc = seas.crossJoin(F.broadcast(c0)).select(
        "wd", (F.col("s_raw_fp") - F.col("adj")).cast("long").alias("s_fp")
    )
    return tr.join(F.broadcast(sc), "wd").select(
        "day", "x",
        F.round(F.col("trend_fp") / F.lit(1e6), 6).alias("trend"),
        F.round(F.col("s_fp") / F.lit(1e6), 6).alias("seasonal"),
        F.round(
            (F.lit(1_000_000) * F.col("x") - F.col("trend_fp") - F.col("s_fp")) / F.lit(1e6), 6
        ).alias("resid"),
    )



_RANSAC_K = 20

_RANSAC_TAU_FP = 2_000_000  # inlier threshold: |resid| <= 2.0 in micro-units



def _ransac_sql() -> str:
    h1 = md5_int_sql("concat('ransac_i:', k::VARCHAR)")
    h2 = md5_int_sql("concat('ransac_j:', k::VARCHAR)")
    return f"""WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                CAST(round(sum(CAST(round(value * 1000000.0) AS BIGINT))::DOUBLE
                     / count(*)) AS BIGINT) AS y
         FROM events GROUP BY 1),
       pts AS (
         SELECT row_number() OVER (ORDER BY day) - 1 AS t, y,
                count(*) OVER () AS n
         FROM d),
       cand0 AS (
         SELECT k, ({h1} % (SELECT max(n) FROM pts)) AS i,
                ({h2} % ((SELECT max(n) FROM pts) - 1)) AS jraw
         FROM (SELECT unnest(range({_RANSAC_K}))::BIGINT AS k)),
       cand AS (
         SELECT k, i, (i + 1 + jraw) % (SELECT max(n) FROM pts) AS j FROM cand0),
       models AS (
         SELECT c.k, c.i, c.j,
                CAST(round((pj.y - pi.y)::DOUBLE / (c.j - c.i)) AS BIGINT) AS b_fp,
                CAST(round(pi.y - (pj.y - pi.y)::DOUBLE / (c.j - c.i) * c.i) AS BIGINT)
                  AS a_fp
         FROM cand c JOIN pts pi ON pi.t = c.i JOIN pts pj ON pj.t = c.j),
       scored AS (
         SELECT m.k, m.a_fp, m.b_fp,
                sum((abs(p.y - (m.a_fp + m.b_fp * p.t)) <= {_RANSAC_TAU_FP})::INT)::BIGINT
                  AS n_inliers
         FROM models m CROSS JOIN pts p GROUP BY m.k, m.a_fp, m.b_fp),
       best AS (
         SELECT *, row_number() OVER (ORDER BY n_inliers DESC, k) AS rn FROM scored)
       SELECT k, round(a_fp / 1000000.0, 6) AS intercept,
              round(b_fp / 1000000.0, 6) AS slope, n_inliers
       FROM best WHERE rn = 1"""



@query("ransac_line", _ransac_sql())
def q_ransac_line(spark, sf_dir):
    """RANSAC line fit of the daily mean-value series (Fischler &
    Bolles, CACM 1981): 20 deterministic md5-chosen index pairs
    propose (slope, intercept) models, every point votes inlier when
    |residual| ≤ 2.0, and the max-consensus model wins (ties: lowest
    candidate id) — the robust trend fit that survives the outlier
    days `grubbs_outlier` flags (OLS `trend_slope` does not). Model
    params are micro-int-rounded once at proposal; scoring is one
    broadcast candidates × points pass (20·n integer comparisons —
    map-side, no shuffle). Day-grain."""
    from ..functions.hashing import md5_int

    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(
            F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            0,
        ).cast("long").alias("y")
    )
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pts = d.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "y",
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    nrow = pts.agg(F.max("n").alias("n"))
    cand = (
        spark.range(0, _RANSAC_K).select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(nrow))
        .select(
            "k", "n",
            (md5_int(F.concat(F.lit("ransac_i:"), F.col("k").cast("string"))) % F.col("n")).alias("i"),
            (md5_int(F.concat(F.lit("ransac_j:"), F.col("k").cast("string"))) % (F.col("n") - 1)).alias("jraw"),
        )
        .select("k", "i", ((F.col("i") + 1 + F.col("jraw")) % F.col("n")).alias("j"))
    )
    pi = pts.select(F.col("t").alias("i"), F.col("y").alias("yi"))
    pj = pts.select(F.col("t").alias("j"), F.col("y").alias("yj"))
    slope = (F.col("yj") - F.col("yi")).cast("double") / (F.col("j") - F.col("i"))
    models = (
        cand.join(F.broadcast(pi), "i")
        .join(F.broadcast(pj), "j")
        .select(
            "k",
            F.round(slope, 0).cast("long").alias("b_fp"),
            F.round(F.col("yi") - slope * F.col("i"), 0).cast("long").alias("a_fp"),
        )
    )
    scored = (
        pts.crossJoin(F.broadcast(models))
        .select(
            "k", "a_fp", "b_fp",
            (
                F.abs(F.col("y") - (F.col("a_fp") + F.col("b_fp") * F.col("t")))
                <= _RANSAC_TAU_FP
            ).cast("int").alias("inl"),
        )
        .groupBy("k", "a_fp", "b_fp")
        .agg(F.sum("inl").cast("long").alias("n_inliers"))
    )
    best = scored.select(
        "*", F.row_number().over(Window.orderBy(F.desc("n_inliers"), "k")).alias("rn")
    ).where(F.col("rn") == 1)
    return best.select(
        "k",
        F.round(F.col("a_fp") / F.lit(1e6), 6).alias("intercept"),
        F.round(F.col("b_fp") / F.lit(1e6), 6).alias("slope"),
        "n_inliers",
    )



@query(
    "shorth_mode",
    """WITH v AS (
         SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v_fp FROM events),
       cen AS (SELECT v_fp, count(*)::BIGINT AS c FROM v GROUP BY v_fp),
       cum AS (
         SELECT v_fp, c,
                sum(c) OVER (ORDER BY v_fp) AS cc,
                sum(c) OVER () AS n
         FROM cen),
       lo AS (
         SELECT a.v_fp AS lo_fp, a.cc - a.c AS before_cnt, a.n,
                (a.n + 1) // 2 AS h
         FROM cum a),
       hi AS (
         SELECT lo.lo_fp, lo.h, lo.n,
                min(b.v_fp) AS hi_fp
         FROM lo JOIN cum b ON b.cc >= lo.before_cnt + lo.h
         GROUP BY lo.lo_fp, lo.h, lo.n, lo.before_cnt),
       best AS (
         SELECT lo_fp, hi_fp, n, h,
                row_number() OVER (ORDER BY hi_fp - lo_fp, lo_fp) AS rn
         FROM hi)
       SELECT n, h AS half_count,
              round(lo_fp / 1000000.0, 6) AS shorth_lo,
              round(hi_fp / 1000000.0, 6) AS shorth_hi,
              round((lo_fp + hi_fp) / 2.0 / 1000000.0, 6) AS mode_est
       FROM best WHERE rn = 1""",
)
def q_shorth_mode(spark, sf_dir):
    """The shorth: the SHORTest interval containing Half the data, and
    the least-median-of-squares mode estimate at its midpoint
    (Andrews et al. 1972; Rousseeuw 1984 uses the same interval) —
    the robust location estimate that tracks the DENSEST region where
    mean/median track the bulk (multimodal `kde_grid` distributions
    make them disagree informatively). From the exact value census:
    for every candidate left endpoint, the right endpoint is the
    first value whose cumulative count covers h = (n+1)//2 more —
    one window + one census self-join keyed on the running count,
    winner by exact integer width (ties: lower endpoint). No sort of
    raw rows — census-grain throughout."""
    ev = _events(spark, sf_dir)
    v = ev.select(F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"))
    cen = v.groupBy("v_fp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.orderBy("v_fp").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = cen.select(
        "v_fp", "c", F.sum("c").over(wcum).alias("cc"), F.sum("c").over(wall).alias("n")
    )
    lo = cum.select(
        F.col("v_fp").alias("lo_fp"),
        (F.col("cc") - F.col("c")).alias("before_cnt"),
        "n",
        F.floor((F.col("n") + 1) / 2).cast("long").alias("h"),
    )
    b = cum.select(F.col("v_fp").alias("bv"), F.col("cc").alias("bcc"))
    hi = (
        lo.join(b, F.col("bcc") >= F.col("before_cnt") + F.col("h"))
        .groupBy("lo_fp", "h", "n")
        .agg(F.min("bv").alias("hi_fp"))
    )
    best = hi.select(
        "*",
        F.row_number().over(Window.orderBy(F.col("hi_fp") - F.col("lo_fp"), "lo_fp")).alias("rn"),
    ).where(F.col("rn") == 1)
    return best.select(
        "n", F.col("h").alias("half_count"),
        F.round(F.col("lo_fp") / F.lit(1e6), 6).alias("shorth_lo"),
        F.round(F.col("hi_fp") / F.lit(1e6), 6).alias("shorth_hi"),
        F.round((F.col("lo_fp") + F.col("hi_fp")) / F.lit(2.0) / F.lit(1e6), 6).alias("mode_est"),
    )



_PCA_D = 8

_PCA_ITERS = 30



def _pca_sql() -> str:
    D, T = _PCA_D, _PCA_ITERS
    ctes = [
        f"""comps AS MATERIALIZED (
           SELECT vec_id, unnest(range({D}))::BIGINT AS i,
                  CAST(round(1000000.0 * embedding[(unnest(range({D})))::INT + 1]::DOUBLE)
                       AS BIGINT) AS xm
           FROM embeddings)""",
        """mom AS MATERIALIZED (
           SELECT a.i AS i, b.i AS j,
                  count(*)::BIGINT AS n,
                  sum(a.xm)::BIGINT AS si, sum(b.xm)::BIGINT AS sj,
                  sum(a.xm::HUGEINT * b.xm::HUGEINT) AS q
           FROM comps a JOIN comps b ON b.vec_id = a.vec_id
           GROUP BY a.i, b.i)""",
        """cov AS MATERIALIZED (
           SELECT i, j,
                  (n * q - si::HUGEINT * sj)::DOUBLE / (n::DOUBLE * n) / 1e12 AS c
           FROM mom)""",
        f"""v0 AS (SELECT unnest(range({D}))::BIGINT AS i,
                  CASE WHEN unnest(range({D})) = 0 THEN 1000000 ELSE 0 END::BIGINT AS v)""",
    ]
    for t in range(T):
        ctes.append(
            f"""w{t + 1} AS MATERIALIZED (
              SELECT cov.i, sum(cov.c * v{t}.v / 1000000.0) AS w
              FROM cov JOIN v{t} ON v{t}.i = cov.j GROUP BY cov.i)"""
        )
        ctes.append(
            f"""v{t + 1} AS MATERIALIZED (
              SELECT i, CAST(round(1000000.0 * w / (SELECT max(abs(w)) FROM w{t + 1}))
                        AS BIGINT) AS v
              FROM w{t + 1})"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
       pick AS (
         SELECT v, row_number() OVER (ORDER BY abs(v) DESC, i) AS rn FROM v{T}),
       sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s FROM pick WHERE rn = 1),
       vec AS (SELECT i, v * (SELECT s FROM sgn) AS v FROM v{T})
       SELECT c.vec_id,
              round(sum(c.xm * vec.v)::DOUBLE / 1e12, 6) AS pc1
       FROM comps c JOIN vec ON vec.i = c.i
       GROUP BY c.vec_id"""
    )



@query("pca_project", _pca_sql())
def q_pca_project(spark, sf_dir):
    """First-principal-component scores over the leading 8 embedding
    dims: the covariance matrix comes from ONE pass of exact
    int64/int128 moments, the top eigenvector from 30 power-iteration
    rounds with integer L∞ normalization (micro-rounded each round —
    bit-identical to the oracle's unrolled 60-CTE chain; sign pinned
    by the largest-|component| rule), and the projection is a
    distributed dot product with micro-int inputs — the variance-
    maximizing 1-D view `eigen_diagnostics` reports only spectra for.
    The D×D system is constant-size driver work (same precedent as
    `eigen_diagnostics`); corpus-scale cost is the moment pass + the
    projection map."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, _PCA_D)).alias("i", "x"),
    ).select("vec_id", "i", F.round(F.lit(1e6) * F.col("x"), 0).cast("long").alias("xm"))
    dec = "decimal(38,0)"
    a = comps.alias("a")
    b = comps.alias("b")
    mom = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("a.xm")).cast("long").alias("si"),
            F.sum(F.col("b.xm")).cast("long").alias("sj"),
            F.sum(F.col("a.xm").cast(dec) * F.col("b.xm").cast(dec)).cast(dec).alias("q"),
        )
    )
    cov_rows = mom.select(
        "i", "j",
        (
            (F.col("n").cast(dec) * F.col("q") - F.col("si").cast(dec) * F.col("sj").cast(dec)).cast("double")
            / (F.col("n").cast("double") * F.col("n")) / F.lit(1e12)
        ).alias("c"),
    )
    cov_rows = census_collect(cov_rows, 10_000, "D\u00b2 covariance census (model-size grain)")
    C = [[0.0] * _PCA_D for _ in range(_PCA_D)]
    for r in cov_rows:
        C[r.i][r.j] = r.c
    v = [1_000_000] + [0] * (_PCA_D - 1)
    for _ in range(_PCA_ITERS):
        w = [sum(C[i][j] * v[j] / 1e6 for j in range(_PCA_D)) for i in range(_PCA_D)]
        m = max(abs(x) for x in w)
        v = [round(1e6 * x / m) for x in w]
    top = max(range(_PCA_D), key=lambda i: (abs(v[i]), -i))
    if v[top] < 0:
        v = [-x for x in v]
    vec = spark.createDataFrame(
        [(i, v[i]) for i in range(_PCA_D)], "i long, v long"
    )
    return (
        comps.join(F.broadcast(vec), "i")
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(F.col("xm") * F.col("v")).cast("double") / F.lit(1e12), 6
            ).alias("pc1")
        )
    )



_LOF_K = 5

_LOF_D = 8



@query(
    "lof_scores",
    f"""WITH comps AS MATERIALIZED (
         SELECT vec_id, unnest(range({_LOF_D}))::BIGINT AS i,
                CAST(round(1000000.0 * embedding[(unnest(range({_LOF_D})))::INT + 1]::DOUBLE)
                     AS BIGINT) AS xm
         FROM embeddings WHERE vec_id % 3 = 0),
       pd AS MATERIALIZED (
         SELECT a.vec_id AS va, b.vec_id AS vb,
                sqrt(sum(CAST(round(1e12 * ((a.xm - b.xm) / 1e6)
                         * ((a.xm - b.xm) / 1e6)) AS BIGINT)) / 1e12) AS d
         FROM comps a JOIN comps b ON b.i = a.i AND a.vec_id <> b.vec_id
         GROUP BY a.vec_id, b.vec_id),
       rk AS MATERIALIZED (
         SELECT va, vb, d,
                row_number() OVER (PARTITION BY va ORDER BY d, vb) AS rn
         FROM pd),
       kd AS MATERIALIZED (
         SELECT va AS v, max(d) AS kdist FROM rk WHERE rn <= {_LOF_K} GROUP BY va),
       knn AS MATERIALIZED (SELECT va, vb, d FROM rk WHERE rn <= {_LOF_K}),
       reach AS (
         SELECT knn.va, knn.vb,
                CAST(round(1000000.0 * greatest(kd.kdist, knn.d)) AS BIGINT) AS r_fp
         FROM knn JOIN kd ON kd.v = knn.vb),
       lrd AS MATERIALIZED (
         SELECT va AS v,
                CAST(round(1e12 / (sum(r_fp)::DOUBLE / count(*))) AS BIGINT) AS lrd_fp
         FROM reach GROUP BY va),
       lof AS (
         SELECT knn.va AS vec_id,
                round(sum(lb.lrd_fp)::DOUBLE / count(*) / la.lrd_fp, 6) AS lof
         FROM knn JOIN lrd la ON la.v = knn.va JOIN lrd lb ON lb.v = knn.vb
         GROUP BY knn.va, la.lrd_fp)
       SELECT vec_id, lof FROM lof""",
)
def q_lof_scores(spark, sf_dir):
    """Local Outlier Factor, k={k} (Breunig et al., SIGMOD 2000) over
    the first {d} embedding dims of a 1-in-3 vec sample: LOF(a) =
    mean_b∈kNN(a) lrd(b) / lrd(a) with reachability distances
    reach(a,b) = max(kdist(b), d(a,b)) — ~1 for bulk points, ≫1 for
    density outliers (the density-aware score a global
    `mahalanobis` misses). Distances pico-int-round their squared
    terms (order-free), kNN ranks tie-break on vec_id, and lrd is
    stored as an integer reciprocal so the final ratio is one
    mirrored expression. The pairwise join is the documented exact
    baseline (sample-gated here); at corpus scale the kNN stage
    swaps to the IVF/LSH bucketed joins (`ann_ivf_topk`) with
    identical downstream algebra.""".format(k=_LOF_K, d=_LOF_D)
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 3 == 0)
    comps = emb.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, _LOF_D)).alias("i", "x"),
    ).select("vec_id", "i", F.round(F.lit(1e6) * F.col("x"), 0).cast("long").alias("xm"))
    a = comps.alias("a")
    b = comps.alias("b")
    diff = (F.col("a.xm") - F.col("b.xm")) / F.lit(1e6)
    pd_ = (
        a.join(b, (F.col("b.i") == F.col("a.i")) & (F.col("a.vec_id") != F.col("b.vec_id")))
        .groupBy(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .agg(
            F.sqrt(
                F.sum(F.round(F.lit(1e12) * diff * diff, 0).cast("long")) / F.lit(1e12)
            ).alias("d")
        )
    )
    rk = pd_.select(
        "va", "vb", "d",
        F.row_number().over(Window.partitionBy("va").orderBy("d", "vb")).alias("rn"),
    )
    knn = rk.where(F.col("rn") <= _LOF_K).select("va", "vb", "d")
    kd = knn.groupBy(F.col("va").alias("v")).agg(F.max("d").alias("kdist"))
    reach = knn.join(kd, knn.vb == kd.v).select(
        "va", "vb",
        F.round(F.lit(1e6) * F.greatest(F.col("kdist"), F.col("d")), 0).cast("long").alias("r_fp"),
    )
    lrd = reach.groupBy(F.col("va").alias("v")).agg(
        F.round(
            F.lit(1e12) / (F.sum("r_fp").cast("double") / F.count(F.lit(1))), 0
        ).cast("long").alias("lrd_fp")
    )
    la = lrd.select(F.col("v").alias("va"), F.col("lrd_fp").alias("lrd_a"))
    lb = lrd.select(F.col("v").alias("vb"), F.col("lrd_fp").alias("lrd_b"))
    return (
        knn.join(la, "va").join(lb, "vb")
        .groupBy(F.col("va").alias("vec_id"), "lrd_a")
        .agg(
            F.round(
                F.sum("lrd_b").cast("double") / F.count(F.lit(1)) / F.col("lrd_a"), 6
            ).alias("lof")
        )
        .select("vec_id", "lof")
    )



@query(
    "symspell_correct",
    """WITH cnt AS (
         SELECT token, count(*)::BIGINT AS c
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
         GROUP BY token),
       rare AS (SELECT token, c FROM cnt WHERE c = 1 AND len(token) >= 4),
       freq AS (SELECT token, c FROM cnt WHERE c >= 3),
       rv AS (
         SELECT r.token,
                CASE WHEN p.p = 0 THEN r.token
                     ELSE substr(r.token, 1, p.p) || substr(r.token, p.p + 2) END AS v
         FROM rare r,
              LATERAL (SELECT unnest(range(len(r.token) + 1))::INT AS p) p),
       fv AS (
         SELECT f.token, f.c,
                CASE WHEN p.p = 0 THEN f.token
                     ELSE substr(f.token, 1, p.p) || substr(f.token, p.p + 2) END AS v
         FROM freq f,
              LATERAL (SELECT unnest(range(len(f.token) + 1))::INT AS p) p),
       cand AS (
         SELECT DISTINCT rv.token, fv.token AS cand, fv.c
         FROM rv JOIN fv USING (v)
         WHERE rv.token <> fv.token
           AND levenshtein(rv.token, fv.token) <= 1),
       best AS (
         SELECT token, cand, c,
                row_number() OVER (PARTITION BY token ORDER BY c DESC, cand) AS rn
         FROM cand)
       SELECT token, cand AS suggestion, c AS suggestion_count
       FROM best WHERE rn = 1""",
)
def q_symspell_correct(spark, sf_dir):
    """SymSpell-style spelling normalization (Garbe 2012's symmetric-
    delete trick): hapax tokens (candidate typos) meet frequent vocab
    (count ≥ 3) through their 1-DELETION variant keys — two tokens at
    Damerau distance ≤ 1 always share a deletion variant, so the join
    on variant keys replaces the all-pairs edit-distance scan with an
    equi-join (the distributed-scale trick; candidates then verify
    with one real `levenshtein ≤ 1` check to kill the ed-2 false
    positives). Best suggestion = max corpus count, tie
    lexicographic. Complements `jaro_winkler_dups` (name linkage)
    and `edit_distance_dups` with the vocabulary-normalization role.
    Plan: census → two variant explodes (≤ len+1 keys per token) →
    equi-join on the variant key — never quadratic."""
    cnt = (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rare = cnt.where((F.col("c") == 1) & (F.length("token") >= 4))
    freq = cnt.where(F.col("c") >= 3)

    def del_variants(df):
        pos = df.select(
            "token", "c",
            F.explode(F.sequence(F.lit(0), F.length("token"))).alias("p"),
        )
        v = F.when(F.col("p") == 0, F.col("token")).otherwise(
            F.concat(F.expr("substr(token, 1, p)"), F.expr("substr(token, p + 2)"))
        )
        return pos.select("token", "c", v.alias("v"))

    rv = del_variants(rare).select(F.col("token").alias("rtoken"), "v")
    fv = del_variants(freq).select(F.col("token").alias("ftoken"), F.col("c").alias("fc"), "v")
    cand = (
        rv.join(fv, "v")
        .where(F.col("rtoken") != F.col("ftoken"))
        .where(F.levenshtein(F.col("rtoken"), F.col("ftoken")) <= 1)
        .select(F.col("rtoken").alias("token"), F.col("ftoken").alias("cand"), F.col("fc").alias("c"))
        .distinct()
    )
    best = cand.select(
        "*",
        F.row_number().over(
            Window.partitionBy("token").orderBy(F.desc("c"), "cand")
        ).alias("rn"),
    ).where(F.col("rn") == 1)
    return best.select(
        "token", F.col("cand").alias("suggestion"), F.col("c").alias("suggestion_count")
    )



def _percolation_sql(ps=(30, 60)) -> str:
    h = md5_int_sql("concat('perc:', least(src, dst)::VARCHAR, ':', greatest(src, dst)::VARCHAR)")
    base = f"""edges0 AS MATERIALIZED (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM ({{link_union}}) WHERE src != dst),
       nodes AS (SELECT DISTINCT n FROM (SELECT u AS n FROM edges0
                                         UNION SELECT v FROM edges0))"""

    def dst(j: int) -> str:
        hh = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({hh} % 50)::BIGINT"

    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % 50)::BIGINT AS src, {dst(j)} AS dst FROM documents"
        for j in range(3)
    )
    blocks = []
    for p in ps:
        keep_h = md5_int_sql("concat('perc:', u::VARCHAR, ':', v::VARCHAR)")
        blocks.append(f"""kept{p} AS MATERIALIZED (
           SELECT u, v FROM edges0 WHERE {keep_h} % 100 < {p}),
       sym{p} AS (SELECT u AS src, v AS dst FROM kept{p}
                  UNION ALL SELECT v, u FROM kept{p}),
       walk{p} AS (
         WITH RECURSIVE w(src, dst) AS (
           SELECT src, dst FROM sym{p}
           UNION
           SELECT w.src, e.dst FROM w JOIN sym{p} e ON e.src = w.dst)
         SELECT * FROM w),
       lab{p} AS (
         SELECT n.n AS node,
                least(n.n, coalesce(min(w.dst), n.n)) AS comp
         FROM nodes n LEFT JOIN walk{p} w ON w.src = n.n
         GROUP BY n.n),
       stats{p} AS (
         SELECT {p}::BIGINT AS p_pct,
                (SELECT count(*) FROM kept{p})::BIGINT AS n_edges_kept,
                count(DISTINCT comp)::BIGINT AS n_components,
                round(max(cnt)::DOUBLE / (SELECT count(*) FROM nodes), 6) AS giant_frac
         FROM (SELECT comp, count(*)::BIGINT AS cnt FROM lab{p} GROUP BY comp))""")
    union = " UNION ALL ".join(f"SELECT * FROM stats{p}" for p in ps)
    return (
        "WITH " + base.format(link_union=link_union) + ",\n"
        + ",\n".join(blocks)
        + f"\n       {union}"
    )



@query("percolation_audit", _percolation_sql())
def q_percolation_audit(spark, sf_dir):
    """Bond-percolation robustness audit of the host graph (Broadbent
    & Hammersley 1957; the random-failure half of the Albert-Barabási
    attack-tolerance story told by `hub_resilience`): keep each
    undirected edge iff its cross-engine md5 draw < p for p ∈
    {30%, 60%}, recompute components, report edge survivals,
    component count, and the giant-component fraction — the
    phase-transition signature (giant_frac collapses below the
    percolation threshold). Components come from the same min-plus
    closure machinery as `scc_components` on the symmetrized kept
    edges; isolated hosts count as singletons. Deterministic edge
    draws, exact integers throughout."""
    from ..functions.hashing import md5_int
    from ..operators.graph import host_link_edges, minplus_closure

    e0 = (
        host_link_edges(_docs(spark, sf_dir))
        .select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .distinct()
        .stableCheckpoint(eager=True)
    )
    nodes = (
        e0.select(F.col("u").alias("n")).union(e0.select(F.col("v").alias("n"))).distinct()
    )
    n_nodes = nodes.count()
    out = None
    for p in (30, 60):
        keep = e0.where(
            md5_int(
                F.concat(
                    F.lit("perc:"), F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
                )
            ) % 100 < p
        )
        n_kept = keep.count()
        sym = keep.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            keep.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        reach = minplus_closure(sym)
        lab = (
            nodes.join(reach, nodes.n == reach.src, "left")
            .groupBy("n")
            .agg(F.least(F.col("n"), F.coalesce(F.min("dst"), F.col("n"))).alias("comp"))
        )
        comp_sizes = lab.groupBy("comp").agg(F.count(F.lit(1)).alias("cnt"))
        stats = comp_sizes.agg(
            F.countDistinct("comp").cast("long").alias("n_components"),
            F.round(F.max("cnt").cast("double") / F.lit(n_nodes), 6).alias("giant_frac"),
        ).select(
            F.lit(p).cast("long").alias("p_pct"),
            F.lit(n_kept).cast("long").alias("n_edges_kept"),
            "n_components", "giant_frac",
        )
        out = stats if out is None else out.unionAll(stats)
    return out



_ECOD_D = 8



@query(
    "ecod_scores",
    f"""WITH comps AS MATERIALIZED (
         SELECT vec_id, unnest(range({_ECOD_D}))::BIGINT AS i,
                CAST(round(1000000.0 * embedding[(unnest(range({_ECOD_D})))::INT + 1]::DOUBLE)
                     AS BIGINT) AS xm
         FROM embeddings),
       cen AS (
         SELECT i, xm, count(*)::BIGINT AS c FROM comps GROUP BY i, xm),
       cum AS (
         SELECT i, xm, c,
                sum(c) OVER (PARTITION BY i ORDER BY xm) AS cle,
                sum(c) OVER (PARTITION BY i) AS n
         FROM cen),
       terms AS (
         SELECT co.vec_id,
                CAST(round(-1000000.0 * ln(
                      least(cu.cle, cu.n - cu.cle + cu.c)::DOUBLE / cu.n)) AS BIGINT)
                  AS t_fp
         FROM comps co JOIN cum cu ON cu.i = co.i AND cu.xm = co.xm)
       SELECT vec_id, round(sum(t_fp) / 1000000.0, 6) AS ecod_score
       FROM terms GROUP BY vec_id""",
)
def q_ecod_scores(spark, sf_dir):
    """ECOD-style tail-probability outlier score (Li et al., TKDE 2022,
    unified-tail simplification) over the first {d} embedding dims:
    per dim, the empirical tail probability is min(P(X ≤ x), P(X ≥ x))
    from the exact value census (running-count ECDF — ties handled by
    the census, no sort of raw rows), and the score is Σ_d −ln(tail) —
    points extreme in ANY dimension score high. The O(n·d) census
    formulation is the scale story that `lof_scores`' pairwise
    baseline lacks: two shuffles (census, join-back), no distances at
    all. Each log term micro-rounds before the per-point sum.""".format(d=_ECOD_D)
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, _ECOD_D)).alias("i", "x"),
    ).select("vec_id", "i", F.round(F.lit(1e6) * F.col("x"), 0).cast("long").alias("xm"))
    cen = comps.groupBy("i", "xm").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.partitionBy("i").orderBy("xm").rowsBetween(Window.unboundedPreceding, 0)
    wi = Window.partitionBy("i")
    cum = cen.select(
        "i", "xm", "c",
        F.sum("c").over(wcum).alias("cle"),
        F.sum("c").over(wi).alias("n"),
    )
    tail = F.least(F.col("cle"), F.col("n") - F.col("cle") + F.col("c")).cast("double") / F.col("n")
    terms = comps.join(cum, ["i", "xm"]).select(
        "vec_id", F.round(F.lit(-1e6) * F.log(tail), 0).cast("long").alias("t_fp")
    )
    return terms.groupBy("vec_id").agg(
        F.round(F.sum("t_fp") / F.lit(1e6), 6).alias("ecod_score")
    )



@query(
    "watermark_audit",
    """WITH o AS (
         SELECT event_id, epoch_us(ts) AS us,
                max(epoch_us(ts)) OVER (ORDER BY event_id) AS seen_max
         FROM events),
       late AS (SELECT (seen_max - us)::BIGINT AS l_us FROM o),
       cen AS (SELECT l_us, count(*)::BIGINT AS c FROM late GROUP BY l_us),
       cum AS (
         SELECT l_us, c, sum(c) OVER (ORDER BY l_us) AS cc, sum(c) OVER () AS n
         FROM cen),
       qs AS (
         SELECT max(n) AS n,
                (SELECT sum(c) FROM cen WHERE l_us > 0)::BIGINT AS n_late,
                min(CASE WHEN cc >= (n + 1) // 2 THEN l_us END) AS p50,
                min(CASE WHEN cc * 100 >= 95 * n THEN l_us END) AS p95,
                min(CASE WHEN cc * 100 >= 99 * n THEN l_us END) AS p99,
                max(l_us) AS mx
         FROM cum)
       SELECT n AS n_events, coalesce(n_late, 0) AS n_late,
              round(p50 / 1000000.0, 6) AS p50_s,
              round(p95 / 1000000.0, 6) AS p95_s,
              round(p99 / 1000000.0, 6) AS p99_s,
              round(mx / 1000000.0, 6) AS max_s
       FROM qs""",
)
def q_watermark_audit(spark, sf_dir):
    """Out-of-orderness audit for watermark sizing (the measurement
    behind Structured Streaming's `withWatermark` delay and the
    Dataflow/Beam lateness model, Akidau et al. VLDB 2015): treating
    event_id as ARRIVAL order, each event's lateness is
    max-event-time-seen-so-far minus its own event time; the exact
    lateness census yields p50/p95/p99/max — p99 is the watermark
    delay that drops <1% of events as late. Exact micro-second
    integers, census-grain quantile selection (no percentile_approx).
    The running max is arrival-sequential by definition — the audit
    form; in the streaming engine the same statistic accumulates
    per-partition (`streaming/` twins)."""
    # CENSUS GRAIN (r4): the arrival-order running max is the
    # range-bucketed two-pass prefix scan (operators/census.py) —
    # bucket maxima + census prefix + partitioned within-bucket scan.
    from pliers_spark.operators.census import scalable_running_max

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    o = scalable_running_max(
        ev.select("event_id", us.alias("us")), "us", "event_id", out="seen_max"
    ).select("event_id", "us", "seen_max")
    late = o.select((F.col("seen_max") - F.col("us")).cast("long").alias("l_us"))
    cen = late.groupBy("l_us").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.orderBy("l_us").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = cen.select(
        "l_us", "c", F.sum("c").over(wcum).alias("cc"), F.sum("c").over(wall).alias("n")
    )
    n_late = cen.where(F.col("l_us") > 0).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_late")
    )
    qs = cum.agg(
        F.max("n").cast("long").alias("n_events"),
        F.min(F.when(F.col("cc") >= F.floor((F.col("n") + 1) / 2), F.col("l_us"))).alias("p50"),
        F.min(F.when(F.col("cc") * 100 >= 95 * F.col("n"), F.col("l_us"))).alias("p95"),
        F.min(F.when(F.col("cc") * 100 >= 99 * F.col("n"), F.col("l_us"))).alias("p99"),
        F.max("l_us").alias("mx"),
    )
    return qs.crossJoin(F.broadcast(n_late)).select(
        "n_events", "n_late",
        F.round(F.col("p50") / F.lit(1e6), 6).alias("p50_s"),
        F.round(F.col("p95") / F.lit(1e6), 6).alias("p95_s"),
        F.round(F.col("p99") / F.lit(1e6), 6).alias("p99_s"),
        F.round(F.col("mx") / F.lit(1e6), 6).alias("max_s"),
    )



@query(
    "vocab_retention",
    """WITH mk AS (
         SELECT DISTINCT (doc_id % 12)::BIGINT AS mi,
                unnest(string_split(trim(text), ' ')) AS token
         FROM documents),
       sizes AS (SELECT mi, count(*)::BIGINT AS vocab FROM mk GROUP BY mi),
       ret AS (
         SELECT cur.mi, count(*)::BIGINT AS n_retained
         FROM mk cur JOIN mk prev ON prev.mi = cur.mi - 1 AND prev.token = cur.token
         GROUP BY cur.mi),
       rates AS (
         SELECT s.mi, s.vocab,
                coalesce(r.n_retained, 0) AS n_retained,
                sp.vocab AS prev_vocab
         FROM sizes s
         LEFT JOIN ret r ON r.mi = s.mi
         LEFT JOIN sizes sp ON sp.mi = s.mi - 1)
       SELECT mi AS period, vocab, n_retained,
              CASE WHEN prev_vocab IS NOT NULL
                   THEN round(n_retained::DOUBLE / prev_vocab, 6) END AS retention_rate,
              CASE WHEN prev_vocab IS NOT NULL AND n_retained > 0 AND n_retained < prev_vocab
                   THEN round(ln(2.0) / (-ln(CAST(round(1000000.0 * n_retained / prev_vocab)
                                                  AS BIGINT) / 1000000.0)), 6) END
                AS half_life_periods
       FROM rates""",
)
def q_vocab_retention(spark, sf_dir):
    """Vocabulary survival across ingestion periods (doc_id mod 12 as
    the deterministic period key — the crawl-batch axis): per period,
    the fraction of the PREVIOUS period's distinct tokens that
    reappear, plus the implied vocabulary half-life ln2/−ln(rate) in
    periods — the churn counterpart to `novelty_decay` (which tracks
    NEW material; this tracks what persists — the pair bounds how
    stale a frozen tokenizer/vocab gets). One (period, token)
    distinct census, one self-join on (period−1, token), rate
    micro-rounded before the log. Census-grain only."""
    mk = (
        _docs(spark, sf_dir)
        .select(
            (F.col("doc_id") % 12).cast("long").alias("mi"),
            F.explode(T.tokenize(F.col("text"))).alias("token"),
        )
        .distinct()
    )
    sizes = mk.groupBy("mi").agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    prev = mk.select((F.col("mi") + 1).alias("mi"), "token")
    ret = mk.join(prev, ["mi", "token"]).groupBy("mi").agg(
        F.count(F.lit(1)).cast("long").alias("n_retained")
    )
    sp = sizes.select((F.col("mi") + 1).alias("mi"), F.col("vocab").alias("prev_vocab"))
    rates = (
        sizes.join(ret, "mi", "left")
        .join(sp, "mi", "left")
        .select(
            "mi", "vocab",
            F.coalesce(F.col("n_retained"), F.lit(0)).cast("long").alias("n_retained"),
            "prev_vocab",
        )
    )
    rate_fp = F.round(
        F.lit(1e6) * F.col("n_retained") / F.col("prev_vocab"), 0
    ).cast("long")
    return rates.select(
        F.col("mi").alias("period"), "vocab", "n_retained",
        F.when(
            F.col("prev_vocab").isNotNull(),
            F.round(F.col("n_retained").cast("double") / F.col("prev_vocab"), 6),
        ).alias("retention_rate"),
        F.when(
            F.col("prev_vocab").isNotNull()
            & (F.col("n_retained") > 0)
            & (F.col("n_retained") < F.col("prev_vocab")),
            F.round(
                F.log(F.lit(2.0)) / (-F.log(rate_fp / F.lit(1e6))), 6
            ),
        ).alias("half_life_periods"),
    )



@query(
    "collocation_measures",
    """WITH tok AS (
         SELECT doc_id,
                unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                unnest(string_split(trim(text), ' ')) AS w
         FROM documents),
       bi AS (
         SELECT a.w AS w1, b.w AS w2, count(*)::BIGINT AS fab
         FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         GROUP BY a.w, b.w),
       uni AS (SELECT w, count(*)::BIGINT AS f FROM tok GROUP BY w),
       ntot AS (SELECT sum(fab)::BIGINT AS n FROM bi)
       SELECT bi.w1, bi.w2, bi.fab,
              round((bi.fab - u1.f::DOUBLE * u2.f / t.n) / sqrt(bi.fab::DOUBLE), 6)
                AS t_score,
              round(14.0 + log2(2.0 * bi.fab / (u1.f + u2.f)::DOUBLE), 6) AS log_dice,
              round(log2(t.n::DOUBLE * bi.fab / (u1.f::DOUBLE * u2.f)), 6) AS mi
       FROM bi JOIN uni u1 ON u1.w = bi.w1 JOIN uni u2 ON u2.w = bi.w2
       CROSS JOIN ntot t
       WHERE bi.fab >= 5""",
)
def q_collocation_measures(spark, sf_dir):
    """The corpus-linguistics collocation triple for adjacent bigrams
    with f ≥ 5: t-score (Church & Hanks 1990 — frequency-weighted,
    favors common pairs), logDice (Rychlý 2008 — the Sketch Engine
    scale-free measure, 14 + log₂(2f_ab/(f_a+f_b))), and pointwise MI
    (rare-pair-inflating — the known bias the other two correct),
    complementing `pmi_collocations`' single ranking with the
    measure-disagreement view lexicographers actually inspect. All
    counts exact from one position self-join census; each measure is
    one mirrored expression. Bigram-census grain after the join."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "w")
    )
    a = tok.alias("a")
    b = tok.alias("b")
    bi = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id")) & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("fab"))
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("f"))
    ntot = bi.agg(F.sum("fab").cast("long").alias("n"))
    j = (
        bi.where(F.col("fab") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("f").alias("f1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("f").alias("f2")), "w2")
        .crossJoin(F.broadcast(ntot))
    )
    return j.select(
        "w1", "w2", "fab",
        F.round(
            (F.col("fab") - F.col("f1").cast("double") * F.col("f2") / F.col("n"))
            / F.sqrt(F.col("fab").cast("double")),
            6,
        ).alias("t_score"),
        F.round(
            F.lit(14.0) + F.log2(F.lit(2.0) * F.col("fab") / (F.col("f1") + F.col("f2")).cast("double")),
            6,
        ).alias("log_dice"),
        F.round(
            F.log2(F.col("n").cast("double") * F.col("fab") / (F.col("f1").cast("double") * F.col("f2"))),
            6,
        ).alias("mi"),
    )



_TOL_P_NUM, _TOL_P_DEN = 9, 10  # coverage 0.9

_TOL_CONF_FP = 950_000  # confidence 0.95 in micro-units



@query(
    "tolerance_interval",
    f"""WITH v AS (
         SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v_fp FROM events),
       cen AS (SELECT v_fp, count(*)::BIGINT AS c FROM v GROUP BY v_fp),
       cum AS (
         SELECT v_fp, c, sum(c) OVER (ORDER BY v_fp) AS cc, sum(c) OVER () AS n
         FROM cen),
       nn AS (SELECT max(n)::BIGINT AS n FROM cum),
       pmf AS (
         SELECT j.j,
                {_lnfact_sql("(SELECT n FROM nn)")}
                - {_lnfact_sql("j.j")}
                - {_lnfact_sql("(SELECT n FROM nn) - j.j")}
                + j.j * ln(0.9) + ((SELECT n FROM nn) - j.j) * ln(0.1) AS lp
         FROM (SELECT unnest(range((SELECT n FROM nn) + 1))::BIGINT AS j) j),
       cdf AS (
         SELECT j, sum(CAST(round(1000000000.0 * exp(lp)) AS BIGINT))
                     OVER (ORDER BY j) AS f_nano
         FROM pmf),
       ks AS (
         SELECT k.k, cdf.f_nano
         FROM (SELECT unnest(range(((SELECT n FROM nn) - 1) // 2))::BIGINT AS k) k
         JOIN cdf ON cdf.j = (SELECT n FROM nn) - 2 * k.k - 1),
       kbest AS (
         SELECT max(k) AS k FROM ks WHERE f_nano >= {_TOL_CONF_FP} * 1000),
       lo AS (
         SELECT min(v_fp) AS lo_fp FROM cum
         WHERE cc >= (SELECT k FROM kbest) + 1),
       hi AS (
         SELECT min(v_fp) AS hi_fp FROM cum
         WHERE cc >= (SELECT n FROM nn) - (SELECT k FROM kbest)),
       conf AS (
         SELECT f_nano FROM ks WHERE k = (SELECT k FROM kbest))
       SELECT (SELECT n FROM nn) AS n, (SELECT k FROM kbest) AS k_trim,
              round((SELECT lo_fp FROM lo) / 1000000.0, 6) AS tol_lo,
              round((SELECT hi_fp FROM hi) / 1000000.0, 6) AS tol_hi,
              round((SELECT f_nano FROM conf) / 1000000000.0, 6) AS confidence""",
)
def q_tolerance_interval(spark, sf_dir):
    """Wilks distribution-free two-sided tolerance interval (Wilks,
    Ann. Math. Statist. 1941): the widest symmetric trim k such that
    [x₍k+1₎, x₍n−k₎] covers ≥ 90% of the population with ≥ 95%
    confidence — coverage of the trimmed interval is Beta(n−2k, 2k+1),
    so confidence(k) = P(Bin(n, 0.9) ≤ n−2k−1), evaluated from ONE
    cumulative pass over the binomial pmf built with the Stirling
    ln-factorial (same `_lnfact` machinery as `rarefaction_curve` —
    no n-row factorial table limits), nano-int-rounded per term so
    the running CDF is exact-int. Endpoints are census order
    statistics. The SPC-grade guarantee `quantile_bins` points don't
    carry. Census-grain + an O(n)-row constant helper frame."""
    ev = _events(spark, sf_dir)
    v = ev.select(F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"))
    cen = v.groupBy("v_fp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.orderBy("v_fp").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = cen.select(
        "v_fp", "c", F.sum("c").over(wcum).alias("cc"), F.sum("c").over(wall).alias("n")
    ).stableCheckpoint(eager=True)
    n = cum.agg(F.max("n")).collect()[0][0]
    js = spark.range(0, n + 1).select(F.col("id").alias("j"))
    lp = (
        _lnfact_col(F.lit(n))
        - _lnfact_col(F.col("j"))
        - _lnfact_col(F.lit(n) - F.col("j"))
        + F.col("j") * F.log(F.lit(0.9))
        + (F.lit(n) - F.col("j")) * F.log(F.lit(0.1))
    )
    cdf = js.select(
        "j",
        F.sum(F.round(F.lit(1e9) * F.exp(lp), 0).cast("long"))
        .over(Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0))
        .alias("f_nano"),
    )
    ks = (
        spark.range(0, max((n - 1) // 2, 1)).select(F.col("id").alias("k"))
        .join(cdf, F.col("j") == F.lit(n) - 2 * F.col("k") - 1)
    )
    kbest = ks.where(F.col("f_nano") >= _TOL_CONF_FP * 1000).agg(
        F.max("k").alias("k")
    ).collect()[0][0]
    conf = ks.where(F.col("k") == kbest).select("f_nano").collect()[0][0]
    lo = cum.where(F.col("cc") >= kbest + 1).agg(F.min("v_fp")).collect()[0][0]
    hi = cum.where(F.col("cc") >= n - kbest).agg(F.min("v_fp")).collect()[0][0]
    return spark.createDataFrame(
        [(n, kbest, round(lo / 1e6, 6), round(hi / 1e6, 6), round(conf / 1e9, 6))],
        "n long, k_trim long, tol_lo double, tol_hi double, confidence double",
    )



_SPC_N = 5

_SPC_A2 = 0.577  # Shewhart constants for subgroup size 5

_SPC_D3 = 0.0

_SPC_D4 = 2.114



@query(
    "control_chart",
    f"""WITH sub AS (
         SELECT date_trunc('day', ts) AS day,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp,
                row_number() OVER (PARTITION BY date_trunc('day', ts)
                                   ORDER BY ts, event_id) AS rn
         FROM events),
       g AS (
         SELECT day,
                CAST(round(avg(v_fp)) AS BIGINT) AS xbar_fp,
                (max(v_fp) - min(v_fp))::BIGINT AS r_fp
         FROM sub WHERE rn <= {_SPC_N} GROUP BY day
         HAVING count(*) = {_SPC_N}),
       grand AS (
         SELECT CAST(round(avg(xbar_fp)) AS BIGINT) AS xbb_fp,
                CAST(round(avg(r_fp)) AS BIGINT) AS rbar_fp
         FROM g)
       SELECT g.day::TIMESTAMP AS day,
              round(g.xbar_fp / 1000000.0, 6) AS xbar,
              round(g.r_fp / 1000000.0, 6) AS r,
              (abs(g.xbar_fp - gr.xbb_fp) > {_SPC_A2} * gr.rbar_fp)::INT AS ooc_x,
              (g.r_fp > {_SPC_D4} * gr.rbar_fp OR g.r_fp < {_SPC_D3} * gr.rbar_fp)::INT
                AS ooc_r
       FROM g CROSS JOIN grand gr""",
)
def q_control_chart(spark, sf_dir):
    """Shewhart X̄-R control chart (Shewhart 1931; constants per ASTM
    STP-15D) over daily subgroups of the first {n} events (fixed
    subgroup size — the constants A₂={a2}, D₃={d3}, D₄={d4} are
    n-specific): a day is out-of-control on the mean chart when
    |x̄_d − x̄̄| > A₂·R̄ and on the range chart when R_d leaves
    [D₃·R̄, D₄·R̄] — the process-stability screen run before any
    capability claim. Subgroup stats and grand means are micro-int-
    rounded once; flags are integer comparisons scaled by literal
    constants. Day-grain windows.""".format(n=_SPC_N, a2=_SPC_A2, d3=_SPC_D3, d4=_SPC_D4)
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    sub = ev.select(
        day.alias("day"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
        F.row_number().over(Window.partitionBy(day).orderBy("ts", "event_id")).alias("rn"),
    ).where(F.col("rn") <= _SPC_N)
    g = (
        sub.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("v_fp"), 0).cast("long").alias("xbar_fp"),
            (F.max("v_fp") - F.min("v_fp")).cast("long").alias("r_fp"),
        )
        .where(F.col("cnt") == _SPC_N)
        .drop("cnt")
    )
    grand = g.agg(
        F.round(F.avg("xbar_fp"), 0).cast("long").alias("xbb_fp"),
        F.round(F.avg("r_fp"), 0).cast("long").alias("rbar_fp"),
    )
    return g.crossJoin(F.broadcast(grand)).select(
        "day",
        F.round(F.col("xbar_fp") / F.lit(1e6), 6).alias("xbar"),
        F.round(F.col("r_fp") / F.lit(1e6), 6).alias("r"),
        (F.abs(F.col("xbar_fp") - F.col("xbb_fp")) > F.lit(_SPC_A2) * F.col("rbar_fp"))
        .cast("int").alias("ooc_x"),
        (
            (F.col("r_fp") > F.lit(_SPC_D4) * F.col("rbar_fp"))
            | (F.col("r_fp") < F.lit(_SPC_D3) * F.col("rbar_fp"))
        ).cast("int").alias("ooc_r"),
    )



_NP_TAG_CHAR_SQL = """CASE tag WHEN 'DT' THEN 'D' WHEN 'JJ' THEN 'J'
         WHEN 'NN' THEN 'N' WHEN 'CD' THEN 'C' WHEN 'PRP' THEN 'P'
         WHEN 'IN' THEN 'I' WHEN 'CC' THEN 'K' WHEN 'RB' THEN 'R'
         ELSE 'V' END"""



def _np_chunks_sql() -> str:
    return f"""WITH toks AS (
         SELECT doc_id,
                unnest(range(len(string_split(text, ' '))))::BIGINT AS pos,
                unnest(string_split(text, ' ')) AS token
         FROM documents),
       ctx AS (
         SELECT doc_id, pos, lower(token) AS w,
                lower(lag(token) OVER (PARTITION BY doc_id ORDER BY pos)) AS prev_w
         FROM toks),
       tags AS (
         SELECT doc_id, pos, {_tag_case_sql()} AS tag FROM ctx),
       tstr AS (
         SELECT doc_id,
                string_agg({_NP_TAG_CHAR_SQL}, '' ORDER BY pos) AS s,
                count(*)::BIGINT AS n_tokens
         FROM tags GROUP BY doc_id),
       chunks AS (
         SELECT doc_id, n_tokens, regexp_extract_all(s, 'D?J*N+') AS m FROM tstr)
       SELECT doc_id, n_tokens,
              len(m)::BIGINT AS n_np_chunks,
              coalesce(list_sum(list_transform(m, x -> len(x))), 0)::BIGINT
                AS np_token_len
       FROM chunks"""



@query("np_chunks", _np_chunks_sql())
def q_np_chunks(spark, sf_dir):
    """Regex-over-tags NP chunking (Abney 1991's chunk grammar; the
    nltk RegexpParser pattern DT?JJ*NN+) on the engine's own POS tag
    stream (`pos_tags`): per document, count maximal noun-phrase
    chunks and the tokens they cover — the shallow-parsing stage
    between tagging and relation extraction. The tag sequence
    collapses to one char-per-token string (ordered string_agg) and
    chunking is ONE greedy regex scan per doc — no per-token Python,
    no joins after the tag window. Both engines run the identical
    pattern on identical strings."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    from ..functions.pos import tag_expr

    w = F.lower(F.col("token"))
    prev_w = F.lower(
        F.lag("token").over(Window.partitionBy("doc_id").orderBy("pos"))
    )
    tags = tok.select("doc_id", "pos", tag_expr(w, prev_w).alias("tag"))
    ch = (
        F.when(F.col("tag") == "DT", "D")
        .when(F.col("tag") == "JJ", "J")
        .when(F.col("tag") == "NN", "N")
        .when(F.col("tag") == "CD", "C")
        .when(F.col("tag") == "PRP", "P")
        .when(F.col("tag") == "IN", "I")
        .when(F.col("tag") == "CC", "K")
        .when(F.col("tag") == "RB", "R")
        .otherwise("V")
    )
    tstr = (
        tags.select("doc_id", "pos", ch.alias("tc"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("pos", "tc"))).getField("tc")
            ).alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    m = F.expr("regexp_extract_all(s, 'D?J*N+', 0)")
    return tstr.select(
        "doc_id", "n_tokens",
        F.size(m).cast("long").alias("n_np_chunks"),
        F.coalesce(
            F.aggregate(
                F.transform(m, lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
            ),
            F.lit(0),
        ).cast("long").alias("np_token_len"),
    )



@query(
    "calinski_harabasz",
    """WITH comps AS MATERIALIZED (
         SELECT vec_id, label,
                unnest(range(8))::BIGINT AS i,
                CAST(round(1000000.0 * embedding[(unnest(range(8)))::INT + 1]::DOUBLE)
                     AS BIGINT) AS cm
         FROM embeddings),
       cent AS (
         SELECT label, i, sum(cm)::BIGINT AS s, count(*)::BIGINT AS n
         FROM comps GROUP BY label, i),
       gc AS (SELECT i, sum(s)::BIGINT AS gs, sum(n)::BIGINT AS gn FROM cent GROUP BY i),
       w AS (
         SELECT sum(CAST(round(1e12 * (c.cm / 1e6 - ct.s::DOUBLE / ct.n / 1e6)
                          * (c.cm / 1e6 - ct.s::DOUBLE / ct.n / 1e6)) AS BIGINT))::BIGINT
                  AS w_fp
         FROM comps c JOIN cent ct ON ct.label = c.label AND ct.i = c.i),
       b AS (
         SELECT sum(CAST(round(1e12 * ct.n * (ct.s::DOUBLE / ct.n / 1e6 - gc.gs::DOUBLE / gc.gn / 1e6)
                          * (ct.s::DOUBLE / ct.n / 1e6 - gc.gs::DOUBLE / gc.gn / 1e6)) AS BIGINT))::BIGINT
                  AS b_fp
         FROM cent ct JOIN gc ON gc.i = ct.i),
       kk AS (SELECT count(DISTINCT label)::BIGINT AS k,
                     (SELECT max(gn) FROM gc)::BIGINT AS n FROM cent)
       SELECT kk.n, kk.k,
              round((b.b_fp::DOUBLE / (kk.k - 1)) / (w.w_fp::DOUBLE / (kk.n - kk.k)), 6)
                AS ch_index
       FROM kk, w, b""",
)
def q_calinski_harabasz(spark, sf_dir):
    """Calinski-Harabasz variance-ratio criterion (Calinski &
    Harabasz 1974) over the first 8 embedding dims with labels as
    clusters: CH = (B/(k−1))/(W/(n−k)) — higher is better — the
    third leg of the internal-validity triple with
    `silhouette_simplified` (point-grain) and `davies_bouldin`
    (worst-pair): CH is the global F-statistic view. Within/between
    squared deviations pico-int-round per term (order-free); the
    centroids are exact integer sums. O(n·k) — no pairwise."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id", "label",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 8)).alias("i", "x"),
    ).select(
        "vec_id", "label", "i", F.round(F.lit(1e6) * F.col("x"), 0).cast("long").alias("cm")
    )
    cent = comps.groupBy("label", "i").agg(
        F.sum("cm").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    gc = cent.groupBy("i").agg(
        F.sum("s").cast("long").alias("gs"), F.sum("n").cast("long").alias("gn")
    )
    wdiff = F.col("cm") / F.lit(1e6) - F.col("s").cast("double") / F.col("n") / F.lit(1e6)
    w = comps.join(F.broadcast(cent), ["label", "i"]).agg(
        F.sum(F.round(F.lit(1e12) * wdiff * wdiff, 0).cast("long")).cast("long").alias("w_fp")
    )
    bdiff = (
        F.col("s").cast("double") / F.col("n") / F.lit(1e6)
        - F.col("gs").cast("double") / F.col("gn") / F.lit(1e6)
    )
    b = cent.join(F.broadcast(gc), "i").agg(
        F.sum(
            F.round(F.lit(1e12) * F.col("n") * bdiff * bdiff, 0).cast("long")
        ).cast("long").alias("b_fp")
    )
    kk = cent.agg(F.countDistinct("label").cast("long").alias("k")).crossJoin(
        gc.agg(F.max("gn").cast("long").alias("n"))
    )
    return kk.crossJoin(w).crossJoin(b).select(
        "n", "k",
        F.round(
            (F.col("b_fp").cast("double") / (F.col("k") - 1))
            / (F.col("w_fp").cast("double") / (F.col("n") - F.col("k"))),
            6,
        ).alias("ch_index"),
    )



_GMM_ITERS = 5



def _gmm_sql() -> str:
    T = _GMM_ITERS
    ctes = [
        """cen AS MATERIALIZED (
           SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v, count(*)::BIGINT AS c
           FROM events GROUP BY 1)""",
        """mom AS MATERIALIZED (
           SELECT sum(c)::BIGINT AS n, sum(c * v)::BIGINT AS sv,
                  sum(c::HUGEINT * v::HUGEINT * v::HUGEINT) AS svv
           FROM cen)""",
        """cum AS (
           SELECT v, c, sum(c) OVER (ORDER BY v) AS cc FROM cen)""",
        """par0 AS MATERIALIZED (
           SELECT (SELECT min(v) FROM cum WHERE cc * 4 >= (SELECT n FROM mom)) AS mu1,
                  (SELECT min(v) FROM cum WHERE cc * 4 >= 3 * (SELECT n FROM mom)) AS mu2,
                  (SELECT CAST(round((svv::DOUBLE - sv::DOUBLE * sv / n) / n) AS BIGINT)
                   FROM mom) AS s2,
                  500000::BIGINT AS pi)""",
    ]
    for t in range(T):
        ctes.append(
            f"""resp{t} AS MATERIALIZED (
              SELECT cen.v, cen.c,
                     CAST(round(1000000.0 / (1.0 + exp(-(
                       ln(p.pi::DOUBLE / (1000000 - p.pi))
                       + (((cen.v - p.mu2)::DOUBLE * (cen.v - p.mu2)
                           - (cen.v - p.mu1)::DOUBLE * (cen.v - p.mu1))
                          / (2.0 * p.s2)))))) AS BIGINT) AS r1
              FROM cen CROSS JOIN par{t} p)"""
        )
        ctes.append(
            f"""sums{t} AS MATERIALIZED (
              SELECT sum(c * r1)::BIGINT AS w1,
                     sum(c::HUGEINT * r1::HUGEINT * v::HUGEINT) AS wv1,
                     sum(c::HUGEINT * r1::HUGEINT * v::HUGEINT * v::HUGEINT) AS wvv1
              FROM resp{t})"""
        )
        ctes.append(
            f"""par{t + 1} AS MATERIALIZED (
              SELECT CAST(round(s.wv1::DOUBLE / s.w1) AS BIGINT) AS mu1,
                     CAST(round((1000000 * m.sv::HUGEINT - s.wv1)::DOUBLE
                          / (1000000 * m.n - s.w1)) AS BIGINT) AS mu2,
                     CAST(round((
                       (s.wvv1::DOUBLE - s.wv1::DOUBLE * s.wv1::DOUBLE / s.w1)
                       + ((1000000 * m.svv - s.wvv1)::DOUBLE
                          - (1000000 * m.sv::HUGEINT - s.wv1)::DOUBLE
                            * (1000000 * m.sv::HUGEINT - s.wv1)::DOUBLE
                            / (1000000 * m.n - s.w1)::DOUBLE)
                     ) / (1000000.0 * m.n)) AS BIGINT) AS s2,
                     CAST(round(s.w1::DOUBLE / m.n) AS BIGINT) AS pi
              FROM sums{t} s CROSS JOIN mom m)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT m.n, round(p.pi / 1000000.0, 6) AS pi1,
               round(p.mu1 / 1000000.0, 6) AS mu1,
               round(p.mu2 / 1000000.0, 6) AS mu2,
               round(sqrt(p.s2 / 1e12), 6) AS sigma
        FROM par{T} p CROSS JOIN mom m"""
    )



@query("gmm_em_1d", _gmm_sql())
def q_gmm_em_1d(spark, sf_dir):
    """Two-component 1-D Gaussian mixture fit by {t} EM iterations
    (Dempster, Laird & Rubin 1977), shared variance, deterministic
    quartile initialization (μ₁=q25, μ₂=q75 from the exact census,
    σ²=global variance, π=½): the E-step responsibilities are
    logistic in the exact integer squared-distance difference and
    micro-int-rounded per census VALUE (the census-grain trick — EM
    cost is O(distinct values), not O(rows)); the M-step moments are
    exact int64/int128 census-weighted sums, and every new parameter
    rounds once to micro before the next round — making all {t}
    iterations bit-identical to the oracle's unrolled CTE chain. The
    iteration loop touches only 3 scalar aggregates per round
    (collected like `eigen_diagnostics`' K×K); the heavy census pass
    runs once.""".format(t=_GMM_ITERS)
    import math as _m

    ev = _events(spark, sf_dir)
    cen = ev.select(
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    dec = "decimal(38,0)"
    mom = cen.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("v")).cast("long").alias("sv"),
        F.sum(F.col("c").cast(dec) * F.col("v").cast(dec) * F.col("v").cast(dec)).cast(dec).alias("svv"),
    ).collect()[0]
    n, sv, svv = mom.n, mom.sv, int(mom.svv)
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cen.select("v", F.sum("c").over(wcum).alias("cc"))
    mu1 = cum.where(F.col("cc") * 4 >= n).agg(F.min("v")).collect()[0][0]
    mu2 = cum.where(F.col("cc") * 4 >= 3 * n).agg(F.min("v")).collect()[0][0]

    def rnd(x):
        return int(_m.floor(x + 0.5)) if x >= 0 else -int(_m.floor(-x + 0.5))

    s2 = rnd((float(svv) - float(sv) * sv / n) / n)
    pi = 500000
    for _ in range(_GMM_ITERS):
        z = (
            F.log(F.lit(float(pi)) / F.lit(float(1_000_000 - pi)))
            + (
                ((F.col("v") - F.lit(mu2)).cast("double") * (F.col("v") - F.lit(mu2)))
                - ((F.col("v") - F.lit(mu1)).cast("double") * (F.col("v") - F.lit(mu1)))
            ) / (F.lit(2.0) * F.lit(float(s2)))
        )
        r1 = F.round(F.lit(1e6) / (F.lit(1.0) + F.exp(-z)), 0).cast("long")
        s = cen.select("v", "c", r1.alias("r1")).agg(
            F.sum(F.col("c") * F.col("r1")).cast("long").alias("w1"),
            F.sum(F.col("c").cast(dec) * F.col("r1").cast(dec) * F.col("v").cast(dec)).cast(dec).alias("wv1"),
            F.sum(
                F.col("c").cast(dec) * F.col("r1").cast(dec) * F.col("v").cast(dec) * F.col("v").cast(dec)
            ).cast(dec).alias("wvv1"),
        ).collect()[0]
        w1, wv1, wvv1 = s.w1, int(s.wv1), int(s.wvv1)
        mu1_n = rnd(float(wv1) / w1)
        mu2_n = rnd(float(1_000_000 * sv - wv1) / (1_000_000 * n - w1))
        s2_n = rnd(
            (
                (float(wvv1) - float(wv1) * float(wv1) / w1)
                + (
                    float(1_000_000 * svv - wvv1)
                    - float(1_000_000 * sv - wv1) * float(1_000_000 * sv - wv1)
                    / float(1_000_000 * n - w1)
                )
            )
            / (1_000_000.0 * n)
        )
        pi_n = rnd(float(w1) / n)
        mu1, mu2, s2, pi = mu1_n, mu2_n, s2_n, pi_n
    return spark.createDataFrame(
        [(
            n,
            round(pi / 1e6, 6),
            round(mu1 / 1e6, 6),
            round(mu2 / 1e6, 6),
            round(_m.sqrt(s2 / 1e12), 6),
        )],
        "n long, pi1 double, mu1 double, mu2 double, sigma double",
    )



_IRLS_ITERS = 6



def _logistic_sql() -> str:
    T = _IRLS_ITERS
    ctes = [
        """cen AS MATERIALIZED (
           SELECT n_chars::BIGINT AS x, (lang = 'en')::INT AS y, count(*)::BIGINT AS c
           FROM documents GROUP BY 1, 2)""",
        "par0 AS (SELECT 0::BIGINT AS a, 0::BIGINT AS b)",
    ]
    for t in range(T):
        ctes.append(
            f"""p{t} AS MATERIALIZED (
              SELECT cen.x, cen.y, cen.c,
                     CAST(round(1000000.0 / (1.0 + exp(-((par.a + par.b * cen.x)
                                                         / 1000000.0)))) AS BIGINT) AS pf
              FROM cen CROSS JOIN par{t} par)"""
        )
        ctes.append(
            f"""s{t} AS MATERIALIZED (
              SELECT sum(c * CAST(round(pf * (1000000 - pf) / 1000000.0) AS BIGINT))::BIGINT AS sw,
                     sum(c::HUGEINT * CAST(round(pf * (1000000 - pf) / 1000000.0) AS BIGINT)::HUGEINT
                         * x::HUGEINT) AS swx,
                     sum(c::HUGEINT * CAST(round(pf * (1000000 - pf) / 1000000.0) AS BIGINT)::HUGEINT
                         * x::HUGEINT * x::HUGEINT) AS swxx,
                     sum(c * (1000000 * y - pf))::BIGINT AS sr,
                     sum(c::HUGEINT * (1000000 * y - pf)::HUGEINT * x::HUGEINT) AS srx
              FROM p{t})"""
        )
        ctes.append(
            f"""par{t + 1} AS MATERIALIZED (
              SELECT par.a + CAST(round(1000000.0 *
                       (s.sr::DOUBLE * s.swxx::DOUBLE - s.srx::DOUBLE * s.swx::DOUBLE)
                       / (s.sw::DOUBLE * s.swxx::DOUBLE - s.swx::DOUBLE * s.swx::DOUBLE))
                     AS BIGINT) AS a,
                     par.b + CAST(round(1000000.0 *
                       (s.srx::DOUBLE * s.sw::DOUBLE - s.sr::DOUBLE * s.swx::DOUBLE)
                       / (s.sw::DOUBLE * s.swxx::DOUBLE - s.swx::DOUBLE * s.swx::DOUBLE))
                     AS BIGINT) AS b
              FROM par{t} par CROSS JOIN s{t} s)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
       acc AS (
         SELECT sum(c)::BIGINT AS n,
                sum(c * (((par.a + par.b * cen.x) >= 0) = (cen.y = 1))::INT)::BIGINT
                  AS n_correct
         FROM cen CROSS JOIN par{T} par)
       SELECT acc.n, round(p.a / 1000000.0, 6) AS intercept,
              round(p.b / 1000000.0, 6) AS coef_nchars,
              round(acc.n_correct::DOUBLE / acc.n, 6) AS train_acc
       FROM par{T} p CROSS JOIN acc"""
    )



@query("logistic_irls", _logistic_sql())
def q_logistic_irls(spark, sf_dir):
    """Logistic regression of is-English on document length by {t}
    Newton/IRLS iterations (Nelder & Wedderburn 1972's GLM fitting):
    p = σ(a+bx) micro-rounds per census VALUE (census-grain E-pass —
    cost is O(distinct (x,y) pairs), not rows), the weighted normal
    equations accumulate exact int64/int128 sums, and the 2×2 Newton
    solve is one Cramer expression whose parameter updates round once
    to micro — all {t} rounds bit-identical to the unrolled oracle.
    Emits the fitted log-odds coefficients and training accuracy at
    the 0.5 threshold. The iteration collects 5 scalars per round
    (`eigen_diagnostics` precedent); the census pass runs
    once.""".format(t=_IRLS_ITERS)
    import math as _m

    docs = _docs(spark, sf_dir)
    cen = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        (F.col("lang") == "en").cast("int").alias("y"),
    ).groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    dec = "decimal(38,0)"

    def rnd(x):
        return int(_m.floor(x + 0.5)) if x >= 0 else -int(_m.floor(-x + 0.5))

    a = b = 0
    for _ in range(_IRLS_ITERS):
        eta = (F.lit(a) + F.lit(b) * F.col("x")) / F.lit(1e6)
        pf = F.round(F.lit(1e6) / (F.lit(1.0) + F.exp(-eta)), 0).cast("long")
        wf = F.round(pf * (F.lit(1_000_000) - pf) / F.lit(1e6), 0).cast("long")
        s = cen.select("x", "y", "c", pf.alias("pf"), wf.alias("wf")).agg(
            F.sum(F.col("c") * F.col("wf")).cast("long").alias("sw"),
            F.sum(F.col("c").cast(dec) * F.col("wf").cast(dec) * F.col("x").cast(dec)).cast(dec).alias("swx"),
            F.sum(
                F.col("c").cast(dec) * F.col("wf").cast(dec) * F.col("x").cast(dec) * F.col("x").cast(dec)
            ).cast(dec).alias("swxx"),
            F.sum(F.col("c") * (F.lit(1_000_000) * F.col("y") - F.col("pf"))).cast("long").alias("sr"),
            F.sum(
                F.col("c").cast(dec)
                * (F.lit(1_000_000) * F.col("y") - F.col("pf")).cast(dec)
                * F.col("x").cast(dec)
            ).cast(dec).alias("srx"),
        ).collect()[0]
        sw, swx, swxx, sr, srx = s.sw, int(s.swx), int(s.swxx), s.sr, int(s.srx)
        det = float(sw) * float(swxx) - float(swx) * float(swx)
        da = (float(sr) * float(swxx) - float(srx) * float(swx)) / det
        db = (float(srx) * float(sw) - float(sr) * float(swx)) / det
        a += rnd(1e6 * da)
        b += rnd(1e6 * db)
    acc = cen.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.col("c")
            * (
                ((F.lit(a) + F.lit(b) * F.col("x")) >= 0) == (F.col("y") == 1)
            ).cast("int")
        ).cast("long").alias("n_correct"),
    ).collect()[0]
    return spark.createDataFrame(
        [(acc.n, round(a / 1e6, 6), round(b / 1e6, 6), round(acc.n_correct / acc.n, 6))],
        "n long, intercept double, coef_nchars double, train_acc double",
    )



_SVM_STEPS = 5

_SVM_LAM_FP = 10_000  # lambda = 0.01 micro

_SVM_LR_NUM, _SVM_LR_DEN = 1, 2  # lr = 0.5



def _svm_sql() -> str:
    T = _SVM_STEPS
    ctes = [
        """raw AS MATERIALIZED (
           SELECT (n_chars * 1000)::BIGINT AS r1,
                  (len(string_split(trim(text), ' ')) * 10000)::BIGINT AS r2,
                  CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                  count(*)::BIGINT AS c
           FROM documents GROUP BY 1, 2, 3)""",
        """mu AS (SELECT CAST(round(sum(c::HUGEINT * r1)::DOUBLE / sum(c)) AS BIGINT) AS m1,
                  CAST(round(sum(c::HUGEINT * r2)::DOUBLE / sum(c)) AS BIGINT) AS m2
           FROM raw)""",
        """pts AS MATERIALIZED (
           SELECT (r1 - mu.m1)::BIGINT AS x1, (r2 - mu.m2)::BIGINT AS x2, y, c
           FROM raw CROSS JOIN mu)""",
        """ntot AS (SELECT sum(c)::BIGINT AS n FROM pts)""",
        "w0 AS (SELECT 0::BIGINT AS wb, 0::BIGINT AS w1, 0::BIGINT AS w2)",
    ]
    for t in range(T):
        ctes.append(
            f"""g{t} AS MATERIALIZED (
              SELECT sum(CASE WHEN y * (w.wb + (w.w1::DOUBLE * p.x1 + w.w2::DOUBLE * p.x2) / 1000000.0)
                                   < 1000000.0
                              THEN c * y ELSE 0 END)::BIGINT AS gy,
                     sum(CASE WHEN y * (w.wb + (w.w1::DOUBLE * p.x1 + w.w2::DOUBLE * p.x2) / 1000000.0)
                                   < 1000000.0
                              THEN c::HUGEINT * y * p.x1 ELSE 0 END) AS gy1,
                     sum(CASE WHEN y * (w.wb + (w.w1::DOUBLE * p.x1 + w.w2::DOUBLE * p.x2) / 1000000.0)
                                   < 1000000.0
                              THEN c::HUGEINT * y * p.x2 ELSE 0 END) AS gy2,
                     sum(CASE WHEN y * (w.wb + (w.w1::DOUBLE * p.x1 + w.w2::DOUBLE * p.x2) / 1000000.0)
                                   < 1000000.0
                              THEN c ELSE 0 END)::BIGINT AS nviol
              FROM pts p CROSS JOIN w{t} w)"""
        )
        ctes.append(
            f"""w{t + 1} AS MATERIALIZED (
              SELECT w.wb - CAST(round({_SVM_LR_NUM}.0 / {_SVM_LR_DEN}
                       * ({_SVM_LAM_FP} / 1000000.0 * w.wb
                          - g.gy::DOUBLE * 1000000.0 / n.n)) AS BIGINT) AS wb,
                     w.w1 - CAST(round({_SVM_LR_NUM}.0 / {_SVM_LR_DEN}
                       * ({_SVM_LAM_FP} / 1000000.0 * w.w1
                          - g.gy1::DOUBLE / n.n)) AS BIGINT) AS w1,
                     w.w2 - CAST(round({_SVM_LR_NUM}.0 / {_SVM_LR_DEN}
                       * ({_SVM_LAM_FP} / 1000000.0 * w.w2
                          - g.gy2::DOUBLE / n.n)) AS BIGINT) AS w2
              FROM w{t} w CROSS JOIN g{t} g CROSS JOIN ntot n)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
       fin AS (
         SELECT sum(CASE WHEN y * (w.wb + (w.w1::DOUBLE * p.x1 + w.w2::DOUBLE * p.x2) / 1000000.0)
                              < 1000000.0 THEN c ELSE 0 END)::BIGINT AS n_viol,
                sum(CASE WHEN y * (w.wb + (w.w1::DOUBLE * p.x1 + w.w2::DOUBLE * p.x2) / 1000000.0)
                              > 0 THEN c ELSE 0 END)::BIGINT AS n_correct
         FROM pts p CROSS JOIN w{T} w)
       SELECT n.n, round(w.wb / 1000000.0, 6) AS w_bias,
              round(w.w1 / 1000000.0, 6) AS w_len,
              round(w.w2 / 1000000.0, 6) AS w_tok,
              fin.n_viol AS n_margin_violations,
              round(fin.n_correct::DOUBLE / n.n, 6) AS train_acc
       FROM w{T} w CROSS JOIN fin CROSS JOIN ntot n"""
    )



@query("svm_batch_subgradient", _svm_sql())
def q_svm_batch_subgradient(spark, sf_dir):
    """Linear SVM on (scaled length, scaled token count) → is-English
    by {t} FULL-BATCH Pegasos-style subgradient steps (Shalev-Shwartz
    et al., ICML 2007, batch variant; λ=0.01, η=0.5): each step is
    ONE aggregate over the feature census — margin violators
    contribute exact integer Σc·y·x sums (int128), the weight update
    rounds once to micro — so all {t} steps are bit-identical to the
    unrolled oracle (the deterministic twin of SGD that a distributed
    engine should prefer: no sample order, no RNG). Emits the
    hyperplane and the final margin-violation count. Census-grain
    gradient passes; scalars-only driver traffic.""".format(t=_SVM_STEPS)
    import math as _m

    docs = _docs(spark, sf_dir)
    raw = docs.select(
        (F.col("n_chars") * 1000).cast("long").alias("r1"),
        (F.size(F.split(F.trim(F.col("text")), " ")) * 10000).cast("long").alias("r2"),
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
    ).groupBy("r1", "r2", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dec0 = "decimal(38,0)"
    mu = raw.agg(
        F.round(
            F.sum(F.col("c").cast(dec0) * F.col("r1").cast(dec0)).cast("double") / F.sum("c"), 0
        ).cast("long").alias("m1"),
        F.round(
            F.sum(F.col("c").cast(dec0) * F.col("r2").cast(dec0)).cast("double") / F.sum("c"), 0
        ).cast("long").alias("m2"),
    ).collect()[0]
    pts = raw.select(
        (F.col("r1") - F.lit(mu.m1)).cast("long").alias("x1"),
        (F.col("r2") - F.lit(mu.m2)).cast("long").alias("x2"),
        "y", "c",
    ).stableCheckpoint(eager=True)
    n = pts.agg(F.sum("c")).collect()[0][0]
    dec = "decimal(38,0)"

    def rnd(x):
        return int(_m.floor(x + 0.5)) if x >= 0 else -int(_m.floor(-x + 0.5))

    wb = w1 = w2 = 0
    for _ in range(_SVM_STEPS):
        margin = F.col("y") * (
            F.lit(wb) + (F.lit(float(w1)) * F.col("x1") + F.lit(float(w2)) * F.col("x2")) / F.lit(1e6)
        )
        viol = margin < F.lit(1e6)
        g = pts.agg(
            F.sum(F.when(viol, F.col("c") * F.col("y")).otherwise(0)).cast("long").alias("gy"),
            F.sum(
                F.when(viol, F.col("c").cast(dec) * F.col("y").cast(dec) * F.col("x1").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            ).cast(dec).alias("gy1"),
            F.sum(
                F.when(viol, F.col("c").cast(dec) * F.col("y").cast(dec) * F.col("x2").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            ).cast(dec).alias("gy2"),
            F.sum(F.when(viol, F.col("c")).otherwise(0)).cast("long").alias("nviol"),
        ).collect()[0]
        gy, gy1, gy2 = g.gy, int(g.gy1), int(g.gy2)
        lr = _SVM_LR_NUM / _SVM_LR_DEN
        wb = wb - rnd(lr * (_SVM_LAM_FP / 1e6 * wb - float(gy) * 1e6 / n))
        w1 = w1 - rnd(lr * (_SVM_LAM_FP / 1e6 * w1 - float(gy1) / n))
        w2 = w2 - rnd(lr * (_SVM_LAM_FP / 1e6 * w2 - float(gy2) / n))
    margin = F.col("y") * (
        F.lit(wb) + (F.lit(float(w1)) * F.col("x1") + F.lit(float(w2)) * F.col("x2")) / F.lit(1e6)
    )
    fin = pts.agg(
        F.sum(F.when(margin < F.lit(1e6), F.col("c")).otherwise(0)).cast("long").alias("n_viol"),
        F.sum(F.when(margin > F.lit(0.0), F.col("c")).otherwise(0)).cast("long").alias("n_correct"),
    ).collect()[0]
    return spark.createDataFrame(
        [(
            n, round(wb / 1e6, 6), round(w1 / 1e6, 6), round(w2 / 1e6, 6),
            fin.n_viol, round(fin.n_correct / n, 6),
        )],
        "n long, w_bias double, w_len double, w_tok double, "
        "n_margin_violations long, train_acc double",
    )



_ADA_ROUNDS = 3



def _adaboost_sql() -> str:
    T = _ADA_ROUNDS
    ctes = [
        """cen AS MATERIALIZED (
           SELECT n_chars::BIGINT AS x, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                  count(*)::BIGINT AS c
           FROM documents GROUP BY 1, 2)""",
        """w0 AS MATERIALIZED (SELECT x, y, c, 1000000::BIGINT AS wt FROM cen)""",
    ]
    for t in range(T):
        ctes.append(
            f"""tot{t} AS (SELECT sum(c::HUGEINT * wt) AS tw,
                        sum(CASE WHEN y = 1 THEN c::HUGEINT * wt ELSE 0 END) AS twpos
                 FROM w{t})"""
        )
        # candidate thresholds = distinct x; stump: predict +1 iff x > thr (pol=1)
        # or x <= thr (pol=-1). weighted error via prefix sums over x order.
        ctes.append(
            f"""pre{t} AS MATERIALIZED (
              SELECT x,
                     sum(CASE WHEN y = 1 THEN c::HUGEINT * wt ELSE 0 END)
                       OVER (ORDER BY x) AS cpos,
                     sum(CASE WHEN y = -1 THEN c::HUGEINT * wt ELSE 0 END)
                       OVER (ORDER BY x) AS cneg
              FROM w{t} QUALIFY row_number() OVER (PARTITION BY x ORDER BY x) = 1)"""
        )
        ctes.append(
            f"""cands{t} AS (
              SELECT x AS thr, 1 AS pol,
                     (cpos + ((SELECT tw FROM tot{t})
                              - (SELECT twpos FROM tot{t}) - cneg)) AS err
              FROM pre{t}
              UNION ALL
              SELECT x AS thr, -1 AS pol,
                     (((SELECT twpos FROM tot{t}) - cpos) + cneg) AS err
              FROM pre{t})"""
        )
        ctes.append(
            f"""best{t} AS MATERIALIZED (
              SELECT thr, pol, err, (SELECT tw FROM tot{t}) AS tw,
                     row_number() OVER (ORDER BY err, thr, pol) AS rn
              FROM cands{t} QUALIFY rn = 1)"""
        )
        ctes.append(
            f"""al{t} AS MATERIALIZED (
              SELECT thr, pol,
                     CAST(round(500000.0 * ln((tw - least(greatest(err, 1), tw - 1))::DOUBLE
                                / least(greatest(err, 1), tw - 1))) AS BIGINT)
                       AS alpha_fp,
                     CAST(round(1000000.0 * err / tw) AS BIGINT) AS eps_fp
              FROM best{t})"""
        )
        ctes.append(
            f"""w{t + 1}r AS MATERIALIZED (
              SELECT w.x, w.y, w.c,
                     CAST(round(w.wt * exp(-(CASE WHEN (w.x > a.thr) = (a.pol = 1)
                                                  THEN 1 ELSE -1 END)
                                           * w.y * a.alpha_fp / 1000000.0)) AS BIGINT) AS wt
              FROM w{t} w CROSS JOIN al{t} a)""",
        )
        ctes.append(
            f"""w{t + 1} AS MATERIALIZED (
              SELECT x, y, c,
                     CAST(round(1000000.0 * wt
                          / ((SELECT sum(c::HUGEINT * wt) FROM w{t + 1}r)::DOUBLE
                             / (SELECT sum(c) FROM w{t + 1}r))) AS BIGINT) AS wt
              FROM w{t + 1}r)"""
        )
    rounds = " UNION ALL ".join(
        f"""SELECT {t}::BIGINT AS round, b.thr::BIGINT AS threshold, b.pol::INT AS polarity,
               round(a.alpha_fp / 1000000.0, 6) AS alpha,
               round(a.eps_fp / 1000000.0, 6) AS eps
        FROM best{t} b CROSS JOIN al{t} a"""
        for t in range(T)
    )
    return "WITH " + ",\n".join(ctes) + f"\n       {rounds}"



@query("adaboost_stumps", _adaboost_sql())
def q_adaboost_stumps(spark, sf_dir):
    """AdaBoost.M1 with {t} decision-stump rounds on document length
    → is-English (Freund & Schapire 1997): each round scans ALL
    candidate thresholds via weight prefix-sums over the value census
    (best stump = one window pass, not per-threshold jobs), α =
    ½ln((1−ε)/ε) micro-rounds, and the exponential weight update +
    mean-normalization re-round to micro — so every round is
    bit-identical to the unrolled oracle. Emits per round: threshold,
    polarity, α, ε (ε must fall below ½ each round — the boosting
    guarantee). Weights live on the census (O(distinct values) state);
    driver traffic is 4 scalars per round.""".format(t=_ADA_ROUNDS)
    import math as _m

    docs = _docs(spark, sf_dir)
    cen = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
    ).groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    dec = "decimal(38,0)"

    def rnd(v):
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    w = cen.withColumn("wt", F.lit(1_000_000).cast("long")).stableCheckpoint(eager=True)
    out_rows = []
    for t in range(_ADA_ROUNDS):
        tots = w.agg(
            F.sum(F.col("c").cast(dec) * F.col("wt").cast(dec)).cast(dec).alias("tw"),
            F.sum(
                F.when(F.col("y") == 1, F.col("c").cast(dec) * F.col("wt").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            ).cast(dec).alias("twpos"),
        ).collect()[0]
        tw, twpos = int(tots.tw), int(tots.twpos)
        wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        pre = (
            w.groupBy("x")
            .agg(
                F.sum(
                    F.when(F.col("y") == 1, F.col("c").cast(dec) * F.col("wt").cast(dec)).otherwise(
                        F.lit(0).cast(dec)
                    )
                ).cast(dec).alias("ppos"),
                F.sum(
                    F.when(F.col("y") == -1, F.col("c").cast(dec) * F.col("wt").cast(dec)).otherwise(
                        F.lit(0).cast(dec)
                    )
                ).cast(dec).alias("pneg"),
            )
            .select(
                "x",
                F.sum("ppos").over(wx).cast(dec).alias("cpos"),
                F.sum("pneg").over(wx).cast(dec).alias("cneg"),
            )
        )
        c1 = pre.select(
            F.col("x").alias("thr"), F.lit(1).alias("pol"),
            (F.col("cpos") + (F.lit(tw).cast(dec) - F.lit(twpos).cast(dec) - F.col("cneg"))).cast(dec).alias("err"),
        )
        c2 = pre.select(
            F.col("x").alias("thr"), F.lit(-1).alias("pol"),
            ((F.lit(twpos).cast(dec) - F.col("cpos")) + F.col("cneg")).cast(dec).alias("err"),
        )
        best = (
            c1.unionAll(c2)
            .select("*", F.row_number().over(Window.orderBy("err", "thr", "pol")).alias("rn"))
            .where(F.col("rn") == 1)
            .collect()[0]
        )
        thr, pol, err = best.thr, best.pol, int(best.err)
        err_c = min(max(err, 1), tw - 1)  # eps=0/1 smoothing (separable data)
        alpha_fp = rnd(5e5 * _m.log((tw - err_c) / err_c))
        eps_fp = rnd(1e6 * err / tw)
        out_rows.append((t, thr, pol, round(alpha_fp / 1e6, 6), round(eps_fp / 1e6, 6)))
        correct = (F.col("x") > F.lit(thr)) == F.lit(pol == 1)
        sign = F.when(correct, F.lit(1)).otherwise(F.lit(-1))
        wr = w.select(
            "x", "y", "c",
            F.round(
                F.col("wt") * F.exp(-sign * F.col("y") * F.lit(alpha_fp) / F.lit(1e6)), 0
            ).cast("long").alias("wt"),
        )
        norm = wr.agg(
            F.sum(F.col("c").cast(dec) * F.col("wt").cast(dec)).cast(dec).alias("sw"),
            F.sum("c").cast("long").alias("sc"),
        ).collect()[0]
        mean_wt = int(norm.sw) / norm.sc
        w = wr.select(
            "x", "y", "c",
            F.round(F.lit(1e6) * F.col("wt") / F.lit(mean_wt), 0).cast("long").alias("wt"),
        ).stableCheckpoint(eager=True)
    return spark.createDataFrame(
        out_rows, "round long, threshold long, polarity int, alpha double, eps double"
    )



@query(
    "fk_discovery",
    """WITH pairs AS (
         SELECT 'orders.o_custkey->customer.c_custkey' AS candidate,
                (SELECT count(DISTINCT o_custkey) FROM orders) AS n_child,
                (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) o
                 JOIN (SELECT DISTINCT c_custkey FROM customer) c
                   ON c.c_custkey = o.o_custkey) AS n_shared
         UNION ALL
         SELECT 'customer.c_nationkey->nation.n_nationkey',
                (SELECT count(DISTINCT c_nationkey) FROM customer),
                (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer) a
                 JOIN (SELECT DISTINCT n_nationkey FROM nation) b
                   ON b.n_nationkey = a.c_nationkey)
         UNION ALL
         SELECT 'lineitem.l_partkey->part.p_partkey',
                (SELECT count(DISTINCT l_partkey) FROM lineitem),
                (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) a
                 JOIN (SELECT DISTINCT p_partkey FROM part) b
                   ON b.p_partkey = a.l_partkey)
         UNION ALL
         SELECT 'orders.o_orderkey->lineitem.l_orderkey',
                (SELECT count(DISTINCT o_orderkey) FROM orders),
                (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders) a
                 JOIN (SELECT DISTINCT l_orderkey FROM lineitem) b
                   ON b.l_orderkey = a.o_orderkey))
       SELECT candidate, n_child::BIGINT AS n_child, n_shared::BIGINT AS n_shared,
              round(n_shared::DOUBLE / n_child, 6) AS inclusion,
              (n_shared = n_child)::INT AS is_fk_candidate
       FROM pairs""",
)
def q_fk_discovery(spark, sf_dir):
    """Inclusion-dependency profiling for foreign-key DISCOVERY (the
    Bellman data-profiling primitive, Dasu et al. SIGMOD 2002; cf.
    SPIDER): for each candidate column pair, the inclusion coefficient
    |child ∩ parent| / |child| over DISTINCT values — exactly 1 marks
    a valid FK direction (note the deliberately-included reverse
    direction customer→orders scoring < 1: inclusion is asymmetric,
    which is how direction is inferred). Complements `fk_orphans`
    (enforcement of a KNOWN key) with the discovery step. Each
    candidate is two distinct-censuses + one equi-join on shrunken
    key sets."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def inc(name, child_df, child_col, parent_df, parent_col):
        ch = child_df.select(F.col(child_col).alias("k")).distinct()
        pa = parent_df.select(F.col(parent_col).alias("k")).distinct()
        st = ch.agg(F.count(F.lit(1)).cast("long").alias("n_child")).crossJoin(
            ch.join(pa, "k").agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        )
        return st.select(
            F.lit(name).alias("candidate"), "n_child", "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_child"), 6).alias("inclusion"),
            (F.col("n_shared") == F.col("n_child")).cast("int").alias("is_fk_candidate"),
        )

    return (
        inc("orders.o_custkey->customer.c_custkey", orders, "o_custkey", cust, "c_custkey")
        .unionAll(inc("customer.c_nationkey->nation.n_nationkey", cust, "c_nationkey", nation, "n_nationkey"))
        .unionAll(inc("lineitem.l_partkey->part.p_partkey", lineitem, "l_partkey", part, "p_partkey"))
        .unionAll(inc("orders.o_orderkey->lineitem.l_orderkey", orders, "o_orderkey", lineitem, "l_orderkey"))
    )



@query(
    "fd_violations",
    """WITH cands AS (
         SELECT 'nation: n_nationkey->n_regionkey' AS fd,
                (SELECT count(*) FROM (
                   SELECT n_nationkey FROM nation
                   GROUP BY n_nationkey HAVING count(DISTINCT n_regionkey) > 1)) AS viol,
                (SELECT count(DISTINCT n_nationkey) FROM nation) AS n_lhs
         UNION ALL
         SELECT 'customer: c_custkey->c_nationkey',
                (SELECT count(*) FROM (
                   SELECT c_custkey FROM customer
                   GROUP BY c_custkey HAVING count(DISTINCT c_nationkey) > 1)),
                (SELECT count(DISTINCT c_custkey) FROM customer)
         UNION ALL
         SELECT 'orders: o_custkey->o_orderpriority',
                (SELECT count(*) FROM (
                   SELECT o_custkey FROM orders
                   GROUP BY o_custkey HAVING count(DISTINCT o_orderpriority) > 1)),
                (SELECT count(DISTINCT o_custkey) FROM orders)
         UNION ALL
         SELECT 'lineitem: l_orderkey->l_returnflag',
                (SELECT count(*) FROM (
                   SELECT l_orderkey FROM lineitem
                   GROUP BY l_orderkey HAVING count(DISTINCT l_returnflag) > 1)),
                (SELECT count(DISTINCT l_orderkey) FROM lineitem))
       SELECT fd, n_lhs::BIGINT AS n_lhs, viol::BIGINT AS n_violating_groups,
              round(1.0 - viol::DOUBLE / n_lhs, 6) AS g3_confidence,
              (viol = 0)::INT AS holds
       FROM cands""",
)
def q_fd_violations(spark, sf_dir):
    """Functional-dependency validation (TANE-style g₃ confidence,
    Huhtala et al. 1999): for candidate FDs A→B, count LHS groups
    whose B is not single-valued — exact FDs (key→attribute, e.g.
    custkey→nationkey) score confidence 1; behavioral non-FDs (a
    customer's order priorities vary) score below — the profiling
    signal schema-normalization and dedup-key selection both consume.
    Each candidate is one group-by with a conditional distinct count;
    LHS-grain only."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def fd(name, df, a, b):
        g = df.groupBy(a).agg(F.countDistinct(b).alias("nb"))
        st = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum((F.col("nb") > 1).cast("int")).cast("long").alias("viol"),
        )
        return st.select(
            F.lit(name).alias("fd"), "n_lhs",
            F.col("viol").alias("n_violating_groups"),
            F.round(F.lit(1.0) - F.col("viol").cast("double") / F.col("n_lhs"), 6).alias("g3_confidence"),
            (F.col("viol") == 0).cast("int").alias("holds"),
        )

    return (
        fd("nation: n_nationkey->n_regionkey", nation, "n_nationkey", "n_regionkey")
        .unionAll(fd("customer: c_custkey->c_nationkey", cust, "c_custkey", "c_nationkey"))
        .unionAll(fd("orders: o_custkey->o_orderpriority", orders, "o_custkey", "o_orderpriority"))
        .unionAll(fd("lineitem: l_orderkey->l_returnflag", lineitem, "l_orderkey", "l_returnflag"))
    )



def _body_span_sql() -> str:
    h = md5_int_sql("concat(doc_id::VARCHAR, ':', pos::VARCHAR)")
    return f"""WITH tok AS (
         SELECT doc_id,
                unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                unnest(string_split(trim(text), ' ')) AS w
         FROM documents),
       scored AS (
         SELECT doc_id, pos,
                CASE WHEN {h} % 3 = 0 THEN -len(w)::BIGINT ELSE len(w)::BIGINT END AS s
         FROM tok),
       pre AS (
         SELECT doc_id, pos, s,
                sum(s) OVER (PARTITION BY doc_id ORDER BY pos) AS p
         FROM scored),
       gain AS (
         SELECT doc_id, pos, p,
                least(0, coalesce(min(p) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS minpre
         FROM pre),
       best AS (
         SELECT doc_id, pos AS body_end, p - minpre AS body_score, minpre,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY p - minpre DESC, pos) AS rn
         FROM gain),
       bsel AS (SELECT * FROM best WHERE rn = 1),
       st AS (
         SELECT b.doc_id, b.body_end, b.body_score,
                coalesce(min(g.pos) + 1, 0) AS body_start
         FROM bsel b LEFT JOIN gain g
           ON g.doc_id = b.doc_id AND g.pos < b.body_end AND g.p = b.minpre
              AND b.minpre < 0
         GROUP BY b.doc_id, b.body_end, b.body_score)
       SELECT doc_id, body_start::BIGINT AS body_start,
              body_end::BIGINT AS body_end, body_score::BIGINT AS body_score
       FROM st"""
