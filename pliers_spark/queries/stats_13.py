"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: body_extraction_span, warc_roundtrip, holt_linear,
    bass_diffusion, kleinberg_bursts, spearman_footrule, herfindahl_index,
    weekly_user_overlap, median_polish, hashring_migration, zip_moments,
    casefold_collisions, ktruss_edges, clarity_score,
    absorbing_chain_steps, gumbel_maxima, record_highs, turning_points,
    qte_deciles, mcc_confusion, lexical_density, icc_design_effect,
    batch_means_ci, graph_reciprocity, dalenius_hodges, hotelling_t2,
    prefix_branching, cox_regression, anova_effect_sizes,
    effective_sample_size, poisson_irls
"""
from __future__ import annotations

from ._registry import F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from pliers_spark.operators.census import census_collect
from .features_a import _tag_case_sql
from .stats_10 import _QLD_TOKENS
from .stats_12 import _body_span_sql



@query("body_extraction_span", _body_span_sql())
def q_body_extraction_span(spark, sf_dir):
    """Main-content span extraction as maximum-sum segment (the
    Finn/Goldstein "body text extraction" objective, Finn et al.
    2001: the contiguous region maximizing text-minus-markup mass —
    deterministic hash marks ~⅓ of tokens as boilerplate, scoring
    −len, content scoring +len): Kadane's maximum subarray evaluated
    DECLARATIVELY as prefix-sum minus running-min-prefix — two
    ordered windows per doc, no sequential scan, then the span start
    recovers by matching the argmin prefix. Exact integers; ties
    break to the earliest end then earliest start. Per-doc windows —
    embarrassingly parallel across the corpus."""
    from ..functions.hashing import md5_int

    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "w")
    )
    is_boiler = (
        md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string"))) % 3
        == 0
    )
    scored = tok.select(
        "doc_id", "pos",
        F.when(is_boiler, -F.length("w").cast("long")).otherwise(F.length("w").cast("long")).alias("s"),
    )
    wp = Window.partitionBy("doc_id").orderBy("pos")
    pre = scored.select(
        "doc_id", "pos", "s",
        F.sum("s").over(wp.rowsBetween(Window.unboundedPreceding, 0)).alias("p"),
    )
    gain = pre.select(
        "doc_id", "pos", "p",
        F.least(
            F.lit(0),
            F.coalesce(
                F.min("p").over(wp.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
            ),
        ).alias("minpre"),
    )
    best = gain.select(
        "doc_id",
        F.col("pos").alias("body_end"),
        (F.col("p") - F.col("minpre")).alias("body_score"),
        "minpre",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.desc(F.col("p") - F.col("minpre")), "pos")
        ).alias("rn"),
    ).where(F.col("rn") == 1)
    g2 = gain.select(F.col("doc_id").alias("gd"), F.col("pos").alias("gpos"), F.col("p").alias("gp"))
    st = (
        best.join(
            g2,
            (F.col("gd") == F.col("doc_id"))
            & (F.col("gpos") < F.col("body_end"))
            & (F.col("gp") == F.col("minpre"))
            & (F.col("minpre") < 0),
            "left",
        )
        .groupBy("doc_id", "body_end", "body_score")
        .agg(F.coalesce(F.min("gpos") + 1, F.lit(0)).alias("body_start"))
    )
    return st.select(
        "doc_id",
        F.col("body_start").cast("long").alias("body_start"),
        F.col("body_end").cast("long").alias("body_end"),
        F.col("body_score").cast("long").alias("body_score"),
    )



@query(
    "warc_roundtrip",
    """WITH rec AS (
         SELECT doc_id,
                'WARC/1.0' || chr(13) || chr(10)
                || 'WARC-Type: response' || chr(13) || chr(10)
                || 'WARC-Target-URI: https://host' || (doc_id % 50)::VARCHAR
                   || '.example/p/' || doc_id::VARCHAR || chr(13) || chr(10)
                || 'Content-Length: ' || length(text)::VARCHAR || chr(13) || chr(10)
                || chr(13) || chr(10) || text AS warc,
                text
         FROM documents),
       parsed AS (
         SELECT doc_id, text,
                regexp_extract(warc, 'WARC-Target-URI: https://([^/]+)/', 1) AS uri_host,
                CAST(regexp_extract(warc, 'Content-Length: ([0-9]+)', 1) AS BIGINT)
                  AS content_length,
                substr(warc, strpos(warc, chr(13) || chr(10) || chr(13) || chr(10)) + 4)
                  AS payload
         FROM rec)
       SELECT doc_id, uri_host, content_length,
              (payload = text)::INT AS payload_ok,
              (content_length = length(text))::INT AS length_ok
       FROM parsed""",
)
def q_warc_roundtrip(spark, sf_dir):
    """WARC record round-trip (ISO 28500 / the Common Crawl container
    format): serialize each document as a WARC/1.0 response record —
    version line, WARC-Type, WARC-Target-URI, Content-Length, CRLF
    CRLF, payload — then parse it back with header regexes and a
    byte-offset payload slice, verifying payload and Content-Length
    integrity (the ingest-side machinery `pages_pipeline` assumes a
    prior fetcher did; here the full parse path is exercised
    end-to-end and BYTE-verified). Pure column expressions — concat,
    two regex extracts, one strpos slice — no UDFs; per-row map,
    no shuffle."""
    docs = _docs(spark, sf_dir)
    crlf = F.concat(F.lit("\r"), F.lit("\n"))
    warc = F.concat(
        F.lit("WARC/1.0"), crlf,
        F.lit("WARC-Type: response"), crlf,
        F.lit("WARC-Target-URI: https://host"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example/p/"), F.col("doc_id").cast("string"), crlf,
        F.lit("Content-Length: "), F.length("text").cast("string"), crlf,
        crlf, F.col("text"),
    )
    rec = docs.select("doc_id", "text", warc.alias("warc"))
    sep = "\r\n\r\n"
    parsed = rec.select(
        "doc_id", "text",
        F.regexp_extract(F.col("warc"), r"WARC-Target-URI: https://([^/]+)/", 1).alias("uri_host"),
        F.regexp_extract(F.col("warc"), r"Content-Length: ([0-9]+)", 1).cast("long").alias("content_length"),
        F.expr(f"substr(warc, instr(warc, '{sep}') + 4)").alias("payload"),
    )
    return parsed.select(
        "doc_id", "uri_host", "content_length",
        (F.col("payload") == F.col("text")).cast("int").alias("payload_ok"),
        (F.col("content_length") == F.length("text")).cast("int").alias("length_ok"),
    )



_HOLT_ALPHA = (1, 2)  # 1/2

_HOLT_BETA = (3, 10)  # 3/10



@query(
    "holt_linear",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                CAST(round(sum(CAST(round(value * 1000000.0) AS BIGINT))::DOUBLE
                     / count(*)) AS BIGINT) AS x
         FROM events GROUP BY 1),
       s AS (
         SELECT day, x, row_number() OVER (ORDER BY day) AS t,
                count(*) OVER () AS n
         FROM d),
       rec AS (
         WITH RECURSIVE hw(t, l, b) AS (
           SELECT 2::BIGINT,
                  (SELECT x FROM s WHERE t = 2),
                  (SELECT x FROM s WHERE t = 2) - (SELECT x FROM s WHERE t = 1)
           UNION ALL
           SELECT hw.t + 1,
                  CAST(round(0.5e0 * sx.x + 0.5e0 * (hw.l + hw.b)) AS BIGINT),
                  CAST(round(0.3e0 * (CAST(round(0.5e0 * sx.x + 0.5e0 * (hw.l + hw.b)) AS BIGINT)
                                    - hw.l)
                             + 0.7e0 * hw.b) AS BIGINT)
           FROM hw JOIN s sx ON sx.t = hw.t + 1
           WHERE hw.t < (SELECT max(n) FROM s))
         SELECT * FROM hw)
       SELECT s.day::TIMESTAMP AS day, round(s.x / 1000000.0, 6) AS x,
              round(rec.l / 1000000.0, 6) AS level,
              round(rec.b / 1000000.0, 6) AS trend,
              round((rec.l + rec.b) / 1000000.0, 6) AS one_step_forecast
       FROM rec JOIN s ON s.t = rec.t""",
)
def q_holt_linear(spark, sf_dir):
    """Holt's linear-trend exponential smoothing (Holt 1957, α=0.5,
    β=0.3) of the daily mean value: l_t = αx_t + (1−α)(l+b),
    b_t = β(l_t−l_{t−1}) + (1−β)b — the level/trend decomposition the
    truncated `ewma_smooth` can't give (EWMA lags trends; Holt tracks
    them). Both state updates micro-int-round every step, so the
    recursion is bit-identical between the Spark driver DP (the day
    series is AGGREGATE-grain — collected like `sinkhorn_ot`'s k×k)
    and the oracle's recursive CTE. Emits per-day level, trend, and
    the 1-step-ahead forecast. The corpus-scale work is only the day
    census."""
    import math as _m

    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(
            F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            0,
        ).cast("long").alias("x")
    )
    rows = sorted(census_collect(d, 200_000, "daily value census"), key=lambda r: r.day)

    def rnd(v):
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    out = []
    if len(rows) >= 2:
        l = rows[1].x
        b = rows[1].x - rows[0].x

        def emit(t, x):
            out.append(
                (
                    rows[t].day,
                    round(x / 1e6, 6),
                    round(l / 1e6, 6),
                    round(b / 1e6, 6),
                    round((l + b) / 1e6, 6),
                )
            )

        emit(1, rows[1].x)  # init state recorded at t=2 (1-indexed), no update
        for t in range(2, len(rows)):
            x = rows[t].x
            l_new = rnd(0.5 * x + 0.5 * (l + b))
            b_new = rnd(0.3 * (l_new - l) + 0.7 * b)
            l, b = l_new, b_new
            emit(t, x)
    return spark.createDataFrame(
        out, "day timestamp, x double, level double, trend double, one_step_forecast double"
    )



@query(
    "bass_diffusion",
    """WITH nd AS (SELECT max(doc_id)::BIGINT + 1 AS ndocs FROM documents),
       firsts AS (
         SELECT token,
                min((doc_id * 30) // (SELECT ndocs FROM nd))::BIGINT AS p0
         FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
               FROM documents)
         GROUP BY token),
       daily AS (
         SELECT p0 AS day, count(*)::BIGINT AS n_new FROM firsts GROUP BY p0),
       seq AS (
         SELECT day, n_new,
                coalesce(sum(n_new) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
         FROM daily),
       m AS (
         SELECT count(*)::BIGINT AS n,
                sum(n_new)::BIGINT AS sy,
                sum(cum_prev)::BIGINT AS sx,
                sum(cum_prev * cum_prev)::BIGINT AS sxx,
                sum(cum_prev * cum_prev * cum_prev)::BIGINT AS sxxx,
                sum(CAST(cum_prev AS HUGEINT) * cum_prev * cum_prev * cum_prev) AS sx4,
                sum(n_new * cum_prev)::BIGINT AS sxy,
                sum(n_new * cum_prev * cum_prev)::BIGINT AS sx2y
         FROM seq),
       solve AS (
         SELECT n, sy, sx, sxx, sxxx, sx4, sxy, sx2y,
                -- Cramer for [n sx sxx; sx sxx sxxx; sxx sxxx sx4] [a b c]' = [sy sxy sx2y]'
                (n::DOUBLE * (sxx::DOUBLE * sx4::DOUBLE - sxxx::DOUBLE * sxxx)
                 - sx::DOUBLE * (sx::DOUBLE * sx4::DOUBLE - sxx::DOUBLE * sxxx)
                 + sxx::DOUBLE * (sx::DOUBLE * sxxx - sxx::DOUBLE * sxx)) AS det,
                (sy::DOUBLE * (sxx::DOUBLE * sx4::DOUBLE - sxxx::DOUBLE * sxxx)
                 - sx::DOUBLE * (sxy::DOUBLE * sx4::DOUBLE - sx2y::DOUBLE * sxxx)
                 + sxx::DOUBLE * (sxy::DOUBLE * sxxx - sx2y::DOUBLE * sxx)) AS det_a,
                (n::DOUBLE * (sxy::DOUBLE * sx4::DOUBLE - sx2y::DOUBLE * sxxx)
                 - sy::DOUBLE * (sx::DOUBLE * sx4::DOUBLE - sxx::DOUBLE * sxxx)
                 + sxx::DOUBLE * (sx::DOUBLE * sx2y - sxx::DOUBLE * sxy)) AS det_b,
                (n::DOUBLE * (sxx::DOUBLE * sx2y - sxxx::DOUBLE * sxy)
                 - sx::DOUBLE * (sx::DOUBLE * sx2y - sxx::DOUBLE * sxy)
                 + sy::DOUBLE * (sx::DOUBLE * sxxx - sxx::DOUBLE * sxx)) AS det_c
         FROM m),
       coefs AS (
         SELECT n,
                CASE WHEN det <> 0 THEN det_a / det END AS a,
                CASE WHEN det <> 0 THEN det_b / det END AS b,
                CASE WHEN det <> 0 THEN det_c / det END AS c
         FROM solve)
       SELECT n AS n_days, round(a, 6) AS a, round(b, 6) AS b, round(c, 6) AS c,
              CASE WHEN c < 0 AND b * b - 4.0 * a * c > 0
                   THEN round((-b - sqrt(b * b - 4.0 * a * c)) / (2.0 * c), 6) END
                AS m_potential,
              CASE WHEN c < 0 AND b * b - 4.0 * a * c > 0
                   THEN round(a / ((-b - sqrt(b * b - 4.0 * a * c)) / (2.0 * c)), 6) END
                AS p_innovation
       FROM coefs""",
)
def q_bass_diffusion(spark, sf_dir):
    """Bass diffusion model fit (Bass, Mgmt. Science 1969) on
    VOCABULARY adoption over 30 equal doc-id crawl batches (each
    token 'adopts' at its first batch — the corpus analogue of
    product adoption, and a series with genuine diminishing growth,
    cf. `heaps_law`): new adopters per period n_t = a + b·N_{t−1}
    + c·N²_{t−1} — the discrete-time OLS identification whose roots
    recover the market potential m (quadratic root of a+bm+cm²=0) and
    innovation coefficient p = a/m. The 3×3 normal equations solve by
    Cramer determinants built ENTIRELY from exact int64/int128
    moments of integer cumulative-adopter counts — one mirrored
    rational expression per coefficient. m/p emit only when the
    quadratic is economically valid (c<0, real roots) — the guard
    both engines share. User-grain reduce → day-grain window →
    one moment pass."""
    docs = _docs(spark, sf_dir)
    nd = docs.agg((F.max("doc_id") + 1).cast("long").alias("ndocs"))
    tok = docs.select("doc_id", F.explode(T.tokenize(F.col("text"))).alias("token"))
    firsts = (
        tok.crossJoin(F.broadcast(nd))
        .select("token", F.floor(F.col("doc_id") * 30 / F.col("ndocs")).cast("long").alias("p"))
        .groupBy("token")
        .agg(F.min("p").alias("p0"))
    )
    daily = firsts.groupBy(F.col("p0").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    seq = daily.select(
        "n_new", F.coalesce(F.sum("n_new").over(wprev), F.lit(0)).alias("cum_prev")
    )
    dec = "decimal(38,0)"
    cp = F.col("cum_prev")
    m = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_new").cast("long").alias("sy"),
        F.sum(cp).cast("long").alias("sx"),
        F.sum(cp * cp).cast("long").alias("sxx"),
        F.sum(cp * cp * cp).cast("long").alias("sxxx"),
        F.sum(cp.cast(dec) * cp.cast(dec) * cp.cast(dec) * cp.cast(dec)).cast(dec).alias("sx4"),
        F.sum(F.col("n_new") * cp).cast("long").alias("sxy"),
        F.sum(F.col("n_new") * cp * cp).cast("long").alias("sx2y"),
    )
    d_ = lambda col: F.col(col).cast("double")  # noqa: E731
    det = (
        d_("n") * (d_("sxx") * d_("sx4") - d_("sxxx") * F.col("sxxx"))
        - d_("sx") * (d_("sx") * d_("sx4") - d_("sxx") * F.col("sxxx"))
        + d_("sxx") * (d_("sx") * F.col("sxxx") - d_("sxx") * F.col("sxx"))
    )
    det_a = (
        d_("sy") * (d_("sxx") * d_("sx4") - d_("sxxx") * F.col("sxxx"))
        - d_("sx") * (d_("sxy") * d_("sx4") - d_("sx2y") * F.col("sxxx"))
        + d_("sxx") * (d_("sxy") * F.col("sxxx") - d_("sx2y") * F.col("sxx"))
    )
    det_b = (
        d_("n") * (d_("sxy") * d_("sx4") - d_("sx2y") * F.col("sxxx"))
        - d_("sy") * (d_("sx") * d_("sx4") - d_("sxx") * F.col("sxxx"))
        + d_("sxx") * (d_("sx") * F.col("sx2y") - d_("sxx") * F.col("sxy"))
    )
    det_c = (
        d_("n") * (d_("sxx") * F.col("sx2y") - d_("sxxx") * F.col("sxy"))
        - d_("sx") * (d_("sx") * F.col("sx2y") - d_("sxx") * F.col("sxy"))
        + d_("sy") * (d_("sx") * F.col("sxxx") - d_("sxx") * F.col("sxx"))
    )
    coefs = m.select(
        "n",
        F.when(det != 0, det_a / det).alias("a"),
        F.when(det != 0, det_b / det).alias("b"),
        F.when(det != 0, det_c / det).alias("c"),
    )
    disc = F.col("b") * F.col("b") - F.lit(4.0) * F.col("a") * F.col("c")
    valid = (F.col("c") < 0) & (disc > 0)
    mroot = (-F.col("b") - F.sqrt(disc)) / (F.lit(2.0) * F.col("c"))
    return coefs.select(
        F.col("n").alias("n_days"),
        F.round("a", 6).alias("a"), F.round("b", 6).alias("b"), F.round("c", 6).alias("c"),
        F.when(valid, F.round(mroot, 6)).alias("m_potential"),
        F.when(valid, F.round(F.col("a") / mroot, 6)).alias("p_innovation"),
    )



def _kleinberg_sql() -> str:
    return """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       s AS (
         SELECT day, x, row_number() OVER (ORDER BY day) AS t,
                count(*) OVER () AS tn, sum(x) OVER () AS xn
         FROM d),
       rates AS (
         SELECT max(tn) AS tn, max(xn)::DOUBLE / max(tn) AS r0,
                2.0 * max(xn)::DOUBLE / max(tn) AS r1,
                CAST(round(1000000.0 * ln(max(tn))) AS BIGINT) AS gam
         FROM s),
       costs AS (
         SELECT s.t, s.day, s.x,
                CAST(round(1000000.0 * (r.r0 - s.x * ln(r.r0))) AS BIGINT) AS c0,
                CAST(round(1000000.0 * (r.r1 - s.x * ln(r.r1))) AS BIGINT) AS c1,
                r.gam, r.tn
         FROM s CROSS JOIN rates r),
       fwd AS (
         WITH RECURSIVE f(t, d0, d1, p0, p1) AS (
           SELECT 1::BIGINT, c.c0, c.gam + c.c1, 0, 0
           FROM costs c WHERE c.t = 1
           UNION ALL
           SELECT f.t + 1,
                  least(f.d0, f.d1) + c.c0,
                  least(f.d0 + c.gam, f.d1) + c.c1,
                  CASE WHEN f.d0 <= f.d1 THEN 0 ELSE 1 END,
                  CASE WHEN f.d1 < f.d0 + c.gam THEN 1 ELSE 0 END
           FROM f JOIN costs c ON c.t = f.t + 1)
         SELECT * FROM f),
       bk AS (
         WITH RECURSIVE b(t, st) AS (
           SELECT f.t, CASE WHEN f.d0 <= f.d1 THEN 0 ELSE 1 END
           FROM fwd f WHERE f.t = (SELECT max(tn) FROM rates)
           UNION ALL
           SELECT b.t - 1,
                  CASE WHEN b.st = 0 THEN f.p0 ELSE f.p1 END
           FROM b JOIN fwd f ON f.t = b.t
           WHERE b.t > 1)
         SELECT * FROM b)
       SELECT c.day::TIMESTAMP AS day, c.x, bk.st::INT AS burst_state
       FROM costs c JOIN bk ON bk.t = c.t"""



@query("kleinberg_bursts", _kleinberg_sql())
def q_kleinberg_bursts(spark, sf_dir):
    """Kleinberg's 2-state burst automaton (Kleinberg, KDD 2002) on
    the daily event-count series: state 1 emits at 2× the base rate,
    entering it costs γ = ln T, and the reported per-day state is the
    GLOBAL min-cost (Viterbi) path — not a local threshold, so brief
    dips inside a burst stay bursty and isolated spikes don't pay the
    entry toll (what `cusum_changepoint`/`page_hinkley` can't
    express). Day costs are micro-int Poisson NLLs; the forward DP
    and its predecessor pointers are exact-integer with explicit tie
    rules, and the backtrack is a second recursion — on the Spark
    side the day-grain series runs the identical DP driver-side
    (`sinkhorn_ot` precedent), on the oracle side both passes are
    recursive CTEs. Corpus-scale work is only the day census."""
    import math as _m

    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    rows = sorted(census_collect(d, 200_000, "daily value census"), key=lambda r: r.day)
    T = len(rows)
    N = sum(r.x for r in rows)
    r0 = N / T
    r1 = 2.0 * N / T
    gam = int(_m.floor(1e6 * _m.log(T) + 0.5))

    def rnd(v):
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    c0 = [rnd(1e6 * (r0 - r.x * _m.log(r0))) for r in rows]
    c1 = [rnd(1e6 * (r1 - r.x * _m.log(r1))) for r in rows]
    d0 = [0] * T
    d1 = [0] * T
    p0 = [0] * T
    p1 = [0] * T
    d0[0] = c0[0]
    d1[0] = gam + c1[0]
    for t in range(1, T):
        p0[t] = 0 if d0[t - 1] <= d1[t - 1] else 1
        p1[t] = 1 if d1[t - 1] < d0[t - 1] + gam else 0
        d0[t] = min(d0[t - 1], d1[t - 1]) + c0[t]
        d1[t] = min(d0[t - 1] + gam, d1[t - 1]) + c1[t]
    st = [0] * T
    st[T - 1] = 0 if d0[T - 1] <= d1[T - 1] else 1
    for t in range(T - 1, 0, -1):
        st[t - 1] = p0[t] if st[t] == 0 else p1[t]
    return spark.createDataFrame(
        [(rows[t].day, rows[t].x, st[t]) for t in range(T)],
        "day timestamp, x long, burst_state int",
    )



@query(
    "spearman_footrule",
    """WITH s AS (
         SELECT doc_id, n_chars::BIGINT AS a,
                len(string_split(trim(text), ' '))::BIGINT AS b
         FROM documents),
       r AS (
         SELECT doc_id,
                row_number() OVER (ORDER BY a, doc_id) AS ra,
                row_number() OVER (ORDER BY b, doc_id) AS rb,
                count(*) OVER () AS n
         FROM s),
       f AS (
         SELECT max(n) AS n, sum(abs(ra - rb))::BIGINT AS footrule FROM r)
       SELECT n, footrule,
              round(1.0 - footrule::DOUBLE
                    / (CASE WHEN n % 2 = 0 THEN n * n / 2
                            ELSE (n * n - 1) / 2 END)::DOUBLE, 6) AS footrule_sim
       FROM f""",
)
def q_spearman_footrule(spark, sf_dir):
    """Spearman's footrule F = Σ|rank_A(i) − rank_B(i)| between the
    by-length and by-token-count document rankings (Spearman 1906;
    Diaconis & Graham 1977 prove F is within 2× of Kendall distance),
    normalized by its maximum ⌊n²/2⌋ into a [0,1] similarity — the
    L1 rank-agreement companion to `rbo_rankings` (top-weighted). Ranks tie-break on doc_id in BOTH
    orderings (exact integer row_numbers), so F is exact int64.
    Two rank windows + one reduce."""
    s = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("a"),
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("b"),
    )
    # CENSUS GRAIN (r4): both global ranks via the range-bucketed
    # row_number (operators/census.py), stitched on doc_id; n from a
    # 1-row aggregate — no unpartitioned window over raw rows.
    from pliers_spark.operators.census import scalable_row_number

    ra = scalable_row_number(
        s.select("doc_id", "a"), "a", out="ra", tiebreak=("doc_id",)
    ).select("doc_id", "ra")
    rb = scalable_row_number(
        s.select("doc_id", "b"), "b", out="rb", tiebreak=("doc_id",)
    ).select("doc_id", "rb")
    tot = s.agg(F.count(F.lit(1)).alias("n"))
    r = ra.join(rb, "doc_id").crossJoin(F.broadcast(tot))
    f = r.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.abs(F.col("ra") - F.col("rb"))).cast("long").alias("footrule"),
    )
    maxf = F.when(
        F.col("n") % 2 == 0, F.col("n") * F.col("n") / 2
    ).otherwise((F.col("n") * F.col("n") - 1) / 2)
    return f.select(
        "n", "footrule",
        F.round(F.lit(1.0) - F.col("footrule").cast("double") / maxf.cast("double"), 6).alias("footrule_sim"),
    )



@query(
    "herfindahl_index",
    """WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source),
       t AS (SELECT sum(n)::BIGINT AS tot, count(*)::BIGINT AS k FROM c),
       h AS (
         SELECT t.k, t.tot,
                sum(CAST(round(1e10 * (c.n::DOUBLE / t.tot) * (c.n::DOUBLE / t.tot))
                    AS BIGINT))::BIGINT AS hhi_fp
         FROM c CROSS JOIN t GROUP BY t.k, t.tot)
       SELECT k AS n_sources, tot AS n_docs,
              round(hhi_fp / 1e10, 6) AS hhi,
              CASE WHEN k > 1
                   THEN round((hhi_fp / 1e10 - 1.0 / k) / (1.0 - 1.0 / k), 6) END
                AS hhi_normalized,
              round(1.0 / (hhi_fp / 1e10), 6) AS effective_sources
       FROM h""",
)
def q_herfindahl_index(spark, sf_dir):
    """Herfindahl-Hirschman concentration of the corpus source mix
    (Herfindahl 1950; the antitrust-standard Σshare² that
    `pareto_8020`'s cumulative view complements): raw HHI, the
    k-corrected normalized form
    (HHI−1/k)/(1−1/k), and the effective source count 1/HHI — the
    data-mixing diagnostic (effective_sources ≪ k means the pretrain
    mix is dominated by few crawls). Squared shares round to 1e-10
    ints before the cross-source sum. One census + one reduce."""
    c = _docs(spark, sf_dir).groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("tot"), F.count(F.lit(1)).cast("long").alias("k"))
    share = F.col("n").cast("double") / F.col("tot")
    h = c.crossJoin(F.broadcast(t)).groupBy("k", "tot").agg(
        F.sum(F.round(F.lit(1e10) * share * share, 0).cast("long")).cast("long").alias("hhi_fp")
    )
    hhi = F.col("hhi_fp") / F.lit(1e10)
    return h.select(
        F.col("k").alias("n_sources"), F.col("tot").alias("n_docs"),
        F.round(hhi, 6).alias("hhi"),
        F.when(
            F.col("k") > 1,
            F.round((hhi - F.lit(1.0) / F.col("k")) / (F.lit(1.0) - F.lit(1.0) / F.col("k")), 6),
        ).alias("hhi_normalized"),
        F.round(F.lit(1.0) / hhi, 6).alias("effective_sources"),
    )



@query(
    "weekly_user_overlap",
    """WITH wu AS (
         SELECT DISTINCT date_trunc('week', ts) AS week, user_id FROM events),
       weeks AS (
         SELECT week, row_number() OVER (ORDER BY week) AS wi
         FROM (SELECT DISTINCT week FROM wu)),
       wui AS (SELECT w.wi, wu.user_id FROM wu JOIN weeks w USING (week)),
       sizes AS (SELECT wi, count(*)::BIGINT AS n_users FROM wui GROUP BY wi),
       inter AS (
         SELECT cur.wi, count(*)::BIGINT AS n_both
         FROM wui cur JOIN wui prev
           ON prev.wi = cur.wi - 1 AND prev.user_id = cur.user_id
         GROUP BY cur.wi),
       j AS (
         SELECT s.wi, s.n_users,
                coalesce(i.n_both, 0) AS n_retained,
                sp.n_users AS prev_users
         FROM sizes s
         LEFT JOIN inter i ON i.wi = s.wi
         LEFT JOIN sizes sp ON sp.wi = s.wi - 1)
       SELECT w.week::TIMESTAMP AS week, j.n_users, j.n_retained,
              CASE WHEN j.prev_users IS NOT NULL
                   THEN round(j.n_retained::DOUBLE
                              / (j.prev_users + j.n_users - j.n_retained), 6) END
                AS jaccard_prev_week
       FROM j JOIN weeks w USING (wi)""",
)
def q_weekly_user_overlap(spark, sf_dir):
    """Week-over-week active-user set Jaccard (the audience-overlap
    companion to `retention_cohorts`' fixed-cohort view — Jaccard
    treats churn AND
    acquisition symmetrically): per week, |active ∩ previous| /
    |active ∪ previous| over distinct user sets on a dense week
    index. One (week, user) distinct census, one shifted self-join —
    census-grain only; exact integers, one final ratio."""
    ev = _events(spark, sf_dir)
    wu = ev.select(
        F.date_trunc("week", F.col("ts")).alias("week"), "user_id"
    ).distinct()
    weeks = wu.select("week").distinct().select(
        "week", F.row_number().over(Window.orderBy("week")).alias("wi")
    )
    wui = wu.join(weeks, "week").select("wi", "user_id")
    sizes = wui.groupBy("wi").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    prev = wui.select((F.col("wi") + 1).alias("wi"), "user_id")
    inter = wui.join(prev, ["wi", "user_id"]).groupBy("wi").agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )
    sp = sizes.select((F.col("wi") + 1).alias("wi"), F.col("n_users").alias("prev_users"))
    j = (
        sizes.join(inter, "wi", "left")
        .join(sp, "wi", "left")
        .select(
            "wi", "n_users",
            F.coalesce(F.col("n_both"), F.lit(0)).cast("long").alias("n_retained"),
            "prev_users",
        )
    )
    return j.join(weeks, "wi").select(
        "week", "n_users", "n_retained",
        F.when(
            F.col("prev_users").isNotNull(),
            F.round(
                F.col("n_retained").cast("double")
                / (F.col("prev_users") + F.col("n_users") - F.col("n_retained")),
                6,
            ),
        ).alias("jaccard_prev_week"),
    )



def _medpolish_sql() -> str:
    def med(src, part, val, tb, out):
        # lower median: the ((n+1)//2)-th smallest with a deterministic tie key
        return f"""{out} AS (
           SELECT {part}, {val} AS m FROM (
             SELECT {part}, {val},
                    row_number() OVER (PARTITION BY {part} ORDER BY {val}, {tb}) AS rn,
                    count(*) OVER (PARTITION BY {part}) AS ng
             FROM {src}) WHERE rn = (ng + 1) // 2)"""

    return f"""WITH g0 AS (
         SELECT datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) % 7 AS wd,
                datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) // 7 AS wi,
                count(*)::BIGINT AS x
         FROM events GROUP BY 1, 2),
       {med('g0', 'wd', 'x', 'wi', 'rm1')},
       r1 AS (SELECT g0.wd, g0.wi, g0.x, g0.x - rm1.m AS v, rm1.m AS racc
              FROM g0 JOIN rm1 USING (wd)),
       {med('r1', 'wi', 'v', 'wd', 'cm1')},
       r2 AS (SELECT r1.*, r1.v - cm1.m AS v2, cm1.m AS cacc
              FROM r1 JOIN cm1 USING (wi)),
       {med('r2', 'wd', 'v2', 'wi', 'rm2')},
       r3 AS (SELECT r2.*, r2.v2 - rm2.m AS v3, r2.racc + rm2.m AS racc2
              FROM r2 JOIN rm2 USING (wd)),
       {med('r3', 'wi', 'v3', 'wd', 'cm2')},
       r4 AS (SELECT r3.*, r3.v3 - cm2.m AS v4, r3.cacc + cm2.m AS cacc2
              FROM r3 JOIN cm2 USING (wi)),
       reff AS (SELECT wd, min(racc2) AS re FROM r4 GROUP BY wd),
       ceff AS (SELECT wi, min(cacc2) AS ce FROM r4 GROUP BY wi),
       orow AS (
         SELECT re AS m FROM (
           SELECT re, row_number() OVER (ORDER BY re, wd) AS rn, count(*) OVER () AS ng
           FROM reff) WHERE rn = (ng + 1) // 2),
       ocol AS (
         SELECT ce AS m FROM (
           SELECT ce, row_number() OVER (ORDER BY ce, wi) AS rn, count(*) OVER () AS ng
           FROM ceff) WHERE rn = (ng + 1) // 2)
       SELECT r4.wd::BIGINT AS weekday, r4.wi::BIGINT AS week_idx, r4.x,
              (r4.racc2 - (SELECT m FROM orow))::BIGINT AS row_effect,
              (r4.cacc2 - (SELECT m FROM ocol))::BIGINT AS col_effect,
              ((SELECT m FROM orow) + (SELECT m FROM ocol))::BIGINT AS overall,
              r4.v4::BIGINT AS residual
       FROM r4"""



@query("median_polish", _medpolish_sql())
def q_median_polish(spark, sf_dir):
    """Tukey median polish (Tukey, EDA 1977 ch. 10) of the
    weekday × week grid of daily event counts, two full row/col
    sweeps: the robust additive decomposition x ≈ overall + row +
    col + residual whose effects resist the outlier days that wreck
    `classical_decompose`'s mean-based version. Every step is a
    LOWER-median (the ((n+1)//2)-th smallest with explicit tie keys)
    of INTEGERS — the whole decomposition is exact int64 with zero
    float ops. Weekday/week indices derive from the same fixed-anchor
    date arithmetic as `classical_decompose` (engine-neutral DOW).
    Grid-grain windows after one day census."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date"))
    g0 = ev.groupBy(
        (dd % 7).alias("wd"), F.floor(dd / 7).cast("long").alias("wi")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))

    def med(df, part, val, tb, alias):
        w = Window.partitionBy(part)
        r = df.select(
            part, F.col(val),
            F.row_number().over(w.orderBy(val, tb)).alias("rn"),
            F.count(F.lit(1)).over(w).alias("ng"),
        ).where(F.col("rn") == F.floor((F.col("ng") + 1) / 2))
        return r.select(part, F.col(val).alias(alias))

    rm1 = med(g0, "wd", "x", "wi", "m1")
    r1 = g0.join(rm1, "wd").select(
        "wd", "wi", "x", (F.col("x") - F.col("m1")).alias("v"), F.col("m1").alias("racc")
    )
    cm1 = med(r1, "wi", "v", "wd", "c1")
    r2 = r1.join(cm1, "wi").select(
        "wd", "wi", "x", "racc", (F.col("v") - F.col("c1")).alias("v2"), F.col("c1").alias("cacc")
    )
    rm2 = med(r2, "wd", "v2", "wi", "m2")
    r3 = r2.join(rm2, "wd").select(
        "wd", "wi", "x", "cacc", (F.col("v2") - F.col("m2")).alias("v3"),
        (F.col("racc") + F.col("m2")).alias("racc2"),
    )
    cm2 = med(r3, "wi", "v3", "wd", "c2")
    r4 = r3.join(cm2, "wi").select(
        "wd", "wi", "x", "racc2", (F.col("v3") - F.col("c2")).alias("v4"),
        (F.col("cacc") + F.col("c2")).alias("cacc2"),
    )
    reff = r4.groupBy("wd").agg(F.min("racc2").alias("re"))
    ceff = r4.groupBy("wi").agg(F.min("cacc2").alias("ce"))
    worow = Window.orderBy()
    orow = reff.select(
        "re",
        F.row_number().over(Window.orderBy("re", "wd")).alias("rn"),
        F.count(F.lit(1)).over(worow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("ng"),
    ).where(F.col("rn") == F.floor((F.col("ng") + 1) / 2)).select(F.col("re").alias("om"))
    ocol = ceff.select(
        "ce",
        F.row_number().over(Window.orderBy("ce", "wi")).alias("rn"),
        F.count(F.lit(1)).over(worow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("ng"),
    ).where(F.col("rn") == F.floor((F.col("ng") + 1) / 2)).select(F.col("ce").alias("ocm"))
    return (
        r4.crossJoin(F.broadcast(orow))
        .crossJoin(F.broadcast(ocol))
        .select(
            F.col("wd").cast("long").alias("weekday"),
            F.col("wi").cast("long").alias("week_idx"),
            "x",
            (F.col("racc2") - F.col("om")).cast("long").alias("row_effect"),
            (F.col("cacc2") - F.col("ocm")).cast("long").alias("col_effect"),
            (F.col("om") + F.col("ocm")).cast("long").alias("overall"),
            F.col("v4").cast("long").alias("residual"),
        )
    )



_RING_VNODES = 16



def _hashring_sql() -> str:
    # virtual nodes for N in {8, 9}: vnode position = md5(node:replica)
    def ring(n):
        parts = []
        for node in range(n):
            for r in range(_RING_VNODES):
                h = md5_int_sql(f"'vn:{node}:{r}'")
                parts.append(f"SELECT {node} AS node, {h} AS pos")
        return " UNION ALL ".join(parts)

    return f"""WITH keys AS (
         SELECT doc_id, {md5_int_sql('doc_id::VARCHAR')} AS kpos FROM documents),
       ring8 AS ({ring(8)}),
       ring9 AS ({ring(9)}),
       a8 AS (
         SELECT k.doc_id,
                coalesce(
                  (SELECT r.node FROM ring8 r WHERE r.pos >= k.kpos
                   ORDER BY r.pos, r.node LIMIT 1),
                  (SELECT r.node FROM ring8 r ORDER BY r.pos, r.node LIMIT 1)) AS n8
         FROM keys k),
       a9 AS (
         SELECT k.doc_id,
                coalesce(
                  (SELECT r.node FROM ring9 r WHERE r.pos >= k.kpos
                   ORDER BY r.pos, r.node LIMIT 1),
                  (SELECT r.node FROM ring9 r ORDER BY r.pos, r.node LIMIT 1)) AS n9
         FROM keys k)
       SELECT count(*)::BIGINT AS n_keys,
              sum((a8.n8 <> a9.n9)::INT)::BIGINT AS n_moved,
              round(sum((a8.n8 <> a9.n9)::INT)::DOUBLE / count(*), 6) AS moved_frac,
              round(1.0 / 9.0, 6) AS ideal_frac
       FROM a8 JOIN a9 USING (doc_id)"""



@query("hashring_migration", _hashring_sql())
def q_hashring_migration(spark, sf_dir):
    """Consistent-hash ring migration audit (Karger et al., STOC 1997)
    with {v} virtual nodes per server: assign every doc to its
    clockwise-successor vnode on an 8-server ring and again on a
    9-server ring, and measure the moved fraction — consistent
    hashing's contract is ≈ 1/(N+1) ≈ 0.111 (modulo-sharding would
    move ~8/9 of keys; cf. `rendezvous_shards`, the other minimal-
    migration scheme, which this audit complements with the
    ring-topology variant). The successor search is a broadcast
    min-over-ring (the ring is servers×vnodes rows — tiny); 60-bit
    md5 positions make assignment exact on both engines.""".format(v=_RING_VNODES)
    from ..functions.hashing import md5_int

    keys = _docs(spark, sf_dir).select(
        "doc_id", md5_int(F.col("doc_id").cast("string")).alias("kpos")
    )

    def assign(n, alias):
        ring = spark.createDataFrame(
            [(node, r) for node in range(n) for r in range(_RING_VNODES)],
            "node int, r int",
        ).select(
            "node",
            md5_int(F.concat(F.lit("vn:"), F.col("node").cast("string"), F.lit(":"), F.col("r").cast("string"))).alias("pos"),
        )
        succ = (
            keys.crossJoin(F.broadcast(ring))
            .where(F.col("pos") >= F.col("kpos"))
            .groupBy("doc_id")
            .agg(F.min_by(F.col("node"), F.struct(F.col("pos"), F.col("node"))).alias(alias))
        )
        wrap = ring.orderBy("pos", "node").limit(1).select(F.col("node").alias("wrap_node"))
        return (
            keys.select("doc_id")
            .join(succ, "doc_id", "left")
            .crossJoin(F.broadcast(wrap))
            .select("doc_id", F.coalesce(F.col(alias), F.col("wrap_node")).alias(alias))
        )

    a8 = assign(8, "n8")
    a9 = assign(9, "n9")
    return a8.join(a9, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("n8") != F.col("n9")).cast("int")).cast("long").alias("n_moved"),
        F.round(
            F.sum((F.col("n8") != F.col("n9")).cast("int")).cast("double") / F.count(F.lit(1)), 6
        ).alias("moved_frac"),
        F.round(F.lit(1.0 / 9.0), 6).alias("ideal_frac"),
    )



@query(
    "zip_moments",
    """WITH x AS (
         SELECT user_id, sum((event_type = 'purchase')::INT)::BIGINT AS k
         FROM events GROUP BY user_id),
       m AS (
         SELECT count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
                sum(k * k)::BIGINT AS q, sum((k = 0)::INT)::BIGINT AS n0
         FROM x),
       mm AS (
         SELECT n, n0, s::DOUBLE / n AS mean,
                (q::DOUBLE - s::DOUBLE * s / n) / n AS var
         FROM m)
       SELECT n, n0, round(mean, 6) AS mean,
              CASE WHEN var + mean * mean - mean > 0 AND mean > 0
                   THEN round((var + mean * mean - mean) / mean, 6) END AS lambda_zip,
              CASE WHEN var + mean * mean - mean > mean
                   THEN round(1.0 - mean * mean / (var + mean * mean - mean), 6) END
                AS pi_zero,
              round(n0::DOUBLE / n, 6) AS observed_zero_frac
       FROM mm""",
)
def q_zip_moments(spark, sf_dir):
    """Zero-inflated Poisson fit by method of moments (Lambert,
    Technometrics 1992; MoM identification λ = (σ²+μ²−μ)/μ, π = 1 −
    μ/λ) on per-user purchase counts — the count model for "a
    structural never-buyer mass plus Poisson buyers" that a plain
    Poisson (`gamma_poisson_eb`'s base) or negative binomial
    (`negbin_fit`) parameterize differently; comparing π̂ against the
    raw zero fraction is the standard excess-zeros diagnostic.
    Moments exact int64; estimates guarded to the identifiable region
    (λ>0, π∈[0,1)). One user-grain reduce."""
    ev = _events(spark, sf_dir)
    x = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).cast("long").alias("k")
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("q"),
        F.sum((F.col("k") == 0).cast("int")).cast("long").alias("n0"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")) / F.col("n")
    lam = (var + mean * mean - mean) / mean
    return m.select(
        "n", "n0",
        F.round(mean, 6).alias("mean"),
        F.when((var + mean * mean - mean > 0) & (mean > 0), F.round(lam, 6)).alias("lambda_zip"),
        F.when(var + mean * mean - mean > mean, F.round(F.lit(1.0) - mean * mean / (var + mean * mean - mean), 6)).alias("pi_zero"),
        F.round(F.col("n0").cast("double") / F.col("n"), 6).alias("observed_zero_frac"),
    )



@query(
    "casefold_collisions",
    """WITH toks AS (
         SELECT DISTINCT token
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)),
       folded AS (
         SELECT lower(token) AS folded, count(*)::BIGINT AS n_variants,
                min(token) AS first_variant, max(token) AS last_variant
         FROM toks GROUP BY lower(token))
       SELECT folded, n_variants, first_variant, last_variant
       FROM folded WHERE n_variants > 1""",
)
def q_casefold_collisions(spark, sf_dir):
    """Case-folding collision audit: surface forms that are DISTINCT
    case-sensitively but merge under lower() — the normalization-loss
    census every tokenizer/dedup pipeline should check before
    case-folding (merging 'US'/'us' or 'Polish'/'polish' changes
    token statistics silently; cf. `text_prep`, whose lowering this
    audits). One distinct-token census, one fold group-by, emitting
    each collision class with its variant count and lexicographic
    first/last exemplars. Census-grain."""
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .distinct()
    )
    folded = toks.groupBy(F.lower(F.col("token")).alias("folded")).agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min("token").alias("first_variant"),
        F.max("token").alias("last_variant"),
    )
    return folded.where(F.col("n_variants") > 1)



_TRUSS_ROUNDS = 6

_TRUSS_K = 3  # 3-truss: every surviving edge in >= 1 triangle



def _ktruss_sql() -> str:
    def dst(j: int) -> str:
        h = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({h} % 50)::BIGINT"

    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % 50)::BIGINT AS src, {dst(j)} AS dst FROM documents"
        for j in range(3)
    )
    ctes = [
        f"""e0 AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM ({link_union}) WHERE src != dst)""",
    ]
    prev = "e0"
    for t in range(_TRUSS_ROUNDS):
        ctes.append(
            f"""sup{t} AS MATERIALIZED (
              SELECT e.u, e.v, count(w.w) AS sup
              FROM {prev} e
              LEFT JOIN (
                SELECT a.u AS x, a.v AS y, b.v AS w
                FROM {prev} a JOIN {prev} b ON b.u = a.u AND b.v > a.v
                JOIN {prev} c ON c.u = a.v AND c.v = b.v) w
                ON (w.x = e.u AND w.y = e.v) OR (w.x = e.u AND w.w = e.v)
                   OR (w.y = e.u AND w.w = e.v)
              GROUP BY e.u, e.v)"""
        )
        ctes.append(
            f"e{t + 1} AS MATERIALIZED (SELECT u, v FROM sup{t} WHERE sup >= {_TRUSS_K - 2})"
        )
        prev = f"e{t + 1}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT s.u, s.v, s.sup::BIGINT AS support
        FROM sup{_TRUSS_ROUNDS - 1} s
        JOIN e{_TRUSS_ROUNDS} k ON k.u = s.u AND k.v = s.v"""
    )



@query("ktruss_edges", _ktruss_sql())
def q_ktruss_edges(spark, sf_dir):
    """{k}-truss of the host graph (Cohen 2008): iteratively peel
    edges supported by fewer than {k}−2 triangles until fixpoint —
    the EDGE-level cohesion filter that survives where `kcore_members`
    (vertex degrees) keeps hub-and-spoke noise: a truss edge sits in
    a triangle, so truss subgraphs are 'community-grade'. Each peel
    round recounts triangle support via the ordered wedge join
    (`triangle_coeffs` machinery) over the SURVIVING edges; {r}
    rounds are unrolled identically in the oracle (fixpoint on this
    graph family well before that, matching the `connected_components`
    convergence discipline). Emits surviving edges with final
    support.""".format(k=_TRUSS_K, r=_TRUSS_ROUNDS)
    from ..operators.graph import host_link_edges

    e = (
        host_link_edges(_docs(spark, sf_dir))
        .select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .distinct()
        .stableCheckpoint(eager=True)
    )
    sup_last = None
    for _ in range(_TRUSS_ROUNDS):
        a = e.alias("a")
        b = e.alias("b")
        c = e.alias("c")
        tri = (
            a.join(b, (F.col("b.u") == F.col("a.u")) & (F.col("b.v") > F.col("a.v")))
            .join(c, (F.col("c.u") == F.col("a.v")) & (F.col("c.v") == F.col("b.v")))
            .select(
                F.col("a.u").alias("x"), F.col("a.v").alias("y"), F.col("b.v").alias("w")
            )
        )
        edge_sup = (
            tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
            .unionAll(tri.select(F.col("x").alias("u"), F.col("w").alias("v")))
            .unionAll(tri.select(F.col("y").alias("u"), F.col("w").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        sup = e.join(edge_sup, ["u", "v"], "left").select(
            "u", "v", F.coalesce(F.col("sup"), F.lit(0)).alias("sup")
        )
        sup_last = sup.stableCheckpoint(eager=True)
        e = sup_last.where(F.col("sup") >= _TRUSS_K - 2).select("u", "v").stableCheckpoint(eager=True)
    return sup_last.join(e, ["u", "v"]).select(
        "u", "v", F.col("sup").cast("long").alias("support")
    )



_CLARITY_TOPD = 10



def _clarity_sql() -> str:
    toks = ", ".join(f"'{t}'" for t in _QLD_TOKENS)
    return f"""WITH tok AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents),
       dl AS (SELECT doc_id, count(*)::BIGINT AS dlen FROM tok GROUP BY doc_id),
       qtf AS (
         SELECT doc_id, count(*)::BIGINT AS score
         FROM tok WHERE t IN ({toks}) GROUP BY doc_id),
       top AS (
         SELECT doc_id FROM qtf ORDER BY score DESC, doc_id LIMIT {_CLARITY_TOPD}),
       fb AS (
         SELECT tok.t, count(*)::BIGINT AS ftf
         FROM tok JOIN top USING (doc_id) GROUP BY tok.t),
       fbtot AS (SELECT sum(ftf)::BIGINT AS fn FROM fb),
       corpus AS (SELECT t, count(*)::BIGINT AS cf FROM tok GROUP BY t),
       ctot AS (SELECT sum(cf)::BIGINT AS cn FROM corpus)
       SELECT (SELECT count(*) FROM fb)::BIGINT AS n_feedback_terms,
              round(sum(CAST(round(1000000.0 * (fb.ftf::DOUBLE / ft.fn)
                        * ln((fb.ftf::DOUBLE / ft.fn) / (c.cf::DOUBLE / ct.cn)))
                        AS BIGINT)) / 1000000.0, 6) AS clarity
       FROM fb JOIN corpus c USING (t)
       CROSS JOIN fbtot ft CROSS JOIN ctot ct"""



@query("clarity_score", _clarity_sql())
def q_clarity_score(spark, sf_dir):
    """Query clarity score (Cronen-Townsend, Zhou & Croft, SIGIR
    2002): KL divergence between the feedback language model (term
    distribution of the top-10 docs for {{spark, join, data}} —
    retrieved by the same query-term-frequency ranking as
    `rocchio_expand`) and the corpus model — THE classic
    query-performance predictor: focused result sets diverge from
    the background (high clarity), ambiguous queries don't. Every
    p·ln(p/q) term micro-rounds before the cross-term sum; all
    counts exact. The feedback census touches only the 10-doc
    slice."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("t")
    )
    qtf = (
        tok.where(F.col("t").isin(*_QLD_TOKENS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("score"))
    )
    top = qtf.orderBy(F.desc("score"), "doc_id").limit(_CLARITY_TOPD).select("doc_id")
    fb = tok.join(F.broadcast(top), "doc_id").groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("ftf")
    )
    fbtot = fb.agg(F.sum("ftf").cast("long").alias("fn"))
    corpus = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    ctot = corpus.agg(F.sum("cf").cast("long").alias("cn"))
    j = fb.join(corpus, "t").crossJoin(F.broadcast(fbtot)).crossJoin(F.broadcast(ctot))
    p = F.col("ftf").cast("double") / F.col("fn")
    q = F.col("cf").cast("double") / F.col("cn")
    term = F.round(F.lit(1e6) * p * F.log(p / q), 0).cast("long")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_feedback_terms"),
        F.round(F.sum(term) / F.lit(1e6), 6).alias("clarity"),
    )



_ABS_ITERS = 30



def _absorbing_sql() -> str:
    ctes = [
        """pairs AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS a, event_type AS b
           FROM events)""",
        "cnt AS (SELECT a, b, count(*)::BIGINT AS c FROM pairs WHERE a IS NOT NULL GROUP BY a, b)",
        "rowt AS (SELECT a, sum(c)::BIGINT AS r FROM cnt GROUP BY a)",
        "trans AS (SELECT a FROM rowt WHERE a <> 'purchase')",
        "q AS (SELECT c.a, c.b, c.c, r.r FROM cnt c JOIN rowt r USING (a) WHERE c.a <> 'purchase' AND c.b <> 'purchase')",
        "e0 AS (SELECT a AS s, 0::BIGINT AS ev FROM trans)",
    ]
    for t in range(_ABS_ITERS):
        ctes.append(
            f"""e{t + 1} AS MATERIALIZED (
              SELECT tr.a AS s,
                     1000000 + coalesce(CAST(round(sum(q.c::DOUBLE * e{t}.ev / q.r))
                                        AS BIGINT), 0) AS ev
              FROM trans tr
              LEFT JOIN q ON q.a = tr.a
              LEFT JOIN e{t} ON e{t}.s = q.b
              GROUP BY tr.a)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT s AS state, round(ev / 1000000.0, 6) AS expected_steps
        FROM e{_ABS_ITERS}"""
    )



@query("absorbing_chain_steps", _absorbing_sql())
def q_absorbing_chain_steps(spark, sf_dir):
    """Expected steps to absorption in the event-type Markov chain
    with 'purchase' absorbing (Kemeny & Snell 1960 ch. 3: E = (I−Q)⁻¹1,
    evaluated by {t} value-iteration rounds E ← 1 + Q·E instead of a
    matrix inverse — the fixed-point form that scales and unrolls):
    per transient state, how many transitions a user is expected to
    make before purchasing — the funnel-depth number
    `funnel_steps`' observed counts estimate empirically and this
    derives from the fitted chain. Each round's expectations
    micro-round (bit-identical to the unrolled oracle); the chain is
    event-type-grain so every iteration is constant-size. States
    that cannot reach absorption diverge toward the iteration cap —
    visible, not silent. r4 perf: the fitted chain is MODEL state
    (|event types|² cells — dimension-sized, like the kmeans centroid
    table), so after ONE corpus pass for the transition census the
    {t} value-iteration rounds run on the driver in exact arithmetic
    (identical HALF_UP micro-rounding; golden-hash pinned) instead of
    {t} checkpointed join jobs.""".format(t=_ABS_ITERS)
    import math

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("a"), F.col("event_type").alias("b")
    ).where(F.col("a").isNotNull())
    cnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    rowt = cnt.groupBy("a").agg(F.sum("c").cast("long").alias("r"))
    qrows = census_collect(
        cnt.join(rowt, "a")
        .where((F.col("a") != "purchase") & (F.col("b") != "purchase")),
        10_000, "event-type transition census",
    )
    trans_states = sorted(r["a"] for r in census_collect(rowt.where(F.col("a") != "purchase"), 1_000, "event-type census"))
    out_edges: dict[str, list] = {s: [] for s in trans_states}
    for r in qrows:
        out_edges[r["a"]].append((r["b"], r["c"], r["r"]))
    for s in out_edges:
        out_edges[s].sort()  # deterministic summation order
    evs = {s: 0 for s in trans_states}
    for _ in range(_ABS_ITERS):
        new = {}
        for s in trans_states:
            terms = [c * evs[b] / r for (b, c, r) in out_edges[s] if b in evs]
            # F.round(x, 0) is HALF_UP; floor(x+0.5) matches for x >= 0
            new[s] = 1_000_000 + (int(math.floor(sum(terms) + 0.5)) if terms else 0)
        evs = new
    rows = [(s, round(evs[s] / 1e6, 6)) for s in trans_states]
    return spark.createDataFrame(rows, "state string, expected_steps double")



_EULER_GAMMA = 0.5772156649015329

_SQRT6_OVER_PI = 0.7796968012336793  # sqrt(6)/pi



@query(
    "gumbel_maxima",
    f"""WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                max(CAST(round(value * 1000000.0) AS BIGINT))::BIGINT AS mx
         FROM events GROUP BY 1),
       m AS (
         SELECT count(*)::BIGINT AS n, sum(mx)::BIGINT AS s,
                sum(mx::HUGEINT * mx::HUGEINT) AS q
         FROM d),
       fit AS (
         SELECT n,
                s::DOUBLE / n / 1e6 AS mean,
                sqrt((q::DOUBLE - s::DOUBLE * s / n) / (n - 1)::DOUBLE) / 1e6 AS sd
         FROM m),
       par AS (
         SELECT n, mean, sd,
                {_SQRT6_OVER_PI} * sd AS beta,
                mean - {_EULER_GAMMA} * ({_SQRT6_OVER_PI} * sd) AS mu
         FROM fit)
       SELECT n AS n_days, round(mu, 6) AS mu, round(beta, 6) AS beta,
              round(mu - beta * ln(-ln(1.0 - 1.0 / 30.0)), 6) AS return_level_30,
              round(mu - beta * ln(-ln(1.0 - 1.0 / 365.0)), 6) AS return_level_365
       FROM par""",
)
def q_gumbel_maxima(spark, sf_dir):
    """Gumbel extreme-value fit of daily MAXIMA by method of moments
    (Gumbel 1958; β = s√6/π, μ = x̄ − γβ with Euler's γ) and the
    T-day return levels x_T = μ − β·ln(−ln(1−1/T)) for T = 30 and
    365 — the capacity-planning numbers ("the daily spike exceeded
    once a month / once a year") that `grubbs_outlier`'s
    single-outlier test can't give. Block maxima are exact micro
    ints; moments int64/int128; the fit is one mirrored expression
    with literal constants. Day-grain reduce only."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.max(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("long").alias("mx")
    )
    dec = "decimal(38,0)"
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(F.col("mx").cast(dec) * F.col("mx").cast(dec)).cast(dec).alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n") / F.lit(1e6)
    sd = F.sqrt(
        (F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1).cast("double")
    ) / F.lit(1e6)
    beta = F.lit(_SQRT6_OVER_PI) * sd
    mu = mean - F.lit(_EULER_GAMMA) * beta
    rl = lambda T: mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0 / T)))  # noqa: E731
    return m.select(
        F.col("n").alias("n_days"),
        F.round(mu, 6).alias("mu"),
        F.round(beta, 6).alias("beta"),
        F.round(rl(30.0), 6).alias("return_level_30"),
        F.round(rl(365.0), 6).alias("return_level_365"),
    )



@query(
    "record_highs",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       r AS (
         SELECT day, x,
                max(x) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
                row_number() OVER (ORDER BY day) AS t,
                count(*) OVER () AS n
         FROM d),
       obs AS (
         SELECT max(n) AS n,
                sum(CASE WHEN prev_max IS NULL OR x > prev_max THEN 1 ELSE 0 END)::BIGINT
                  AS n_records
         FROM r),
       harm AS (
         SELECT sum(CAST(round(1000000.0 / k) AS BIGINT))::BIGINT AS h1_fp,
                sum(CAST(round(1000000.0 / (k * k)) AS BIGINT))::BIGINT AS h2_fp
         FROM (SELECT unnest(range(1, (SELECT n FROM obs) + 1))::BIGINT AS k))
       SELECT obs.n, obs.n_records,
              round(h1_fp / 1000000.0, 6) AS expected_records,
              round((obs.n_records - h1_fp / 1000000.0)
                    / sqrt((h1_fp - h2_fp) / 1000000.0), 6) AS z
       FROM obs, harm""",
)
def q_record_highs(spark, sf_dir):
    """Record statistics of the daily count series (Rényi 1962 /
    Glick 1978 "records" theory): under exchangeability the number of
    running-maximum records in n days is H_n = Σ1/k in expectation
    with variance H_n − H_n⁽²⁾ — an upward trend inflates the record
    count (the distribution-free trend screen complementing
    `mann_kendall_sen`). Records are exact integer
    window comparisons; harmonic terms micro-round before summation.
    One day-grain window + a constant n-row range frame."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = d.select(
        "x",
        F.max("x").over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
        ).alias("prev_max"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    obs = r.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(
            F.when(F.col("prev_max").isNull() | (F.col("x") > F.col("prev_max")), 1).otherwise(0)
        ).cast("long").alias("n_records"),
    ).collect()[0]
    n, n_records = obs.n, obs.n_records
    harm = spark.range(1, n + 1).select(F.col("id").alias("k")).agg(
        F.sum(F.round(F.lit(1e6) / F.col("k"), 0).cast("long")).cast("long").alias("h1_fp"),
        F.sum(F.round(F.lit(1e6) / (F.col("k") * F.col("k")), 0).cast("long")).cast("long").alias("h2_fp"),
    ).collect()[0]
    h1, h2 = harm.h1_fp, harm.h2_fp
    import math as _m

    return spark.createDataFrame(
        [(
            n, n_records,
            round(h1 / 1e6, 6),
            round((n_records - h1 / 1e6) / _m.sqrt((h1 - h2) / 1e6), 6),
        )],
        "n long, n_records long, expected_records double, z double",
    )



@query(
    "turning_points",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       r AS (
         SELECT x,
                lag(x) OVER (ORDER BY day) AS pv,
                lead(x) OVER (ORDER BY day) AS nx,
                count(*) OVER () AS n
         FROM d),
       obs AS (
         SELECT max(n) AS n,
                sum(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
                          AND ((x > pv AND x > nx) OR (x < pv AND x < nx))
                         THEN 1 ELSE 0 END)::BIGINT AS n_turns
         FROM r)
       SELECT n, n_turns,
              round(2.0 * (n - 2) / 3.0, 6) AS expected_turns,
              round((n_turns - 2.0 * (n - 2) / 3.0)
                    / sqrt((16.0 * n - 29.0) / 90.0), 6) AS z
       FROM obs""",
)
def q_turning_points(spark, sf_dir):
    """Turning-points randomness test (Kendall & Stuart vol. 3 §45.18;
    Bienaymé 1874 first derived E): count strict local maxima/minima
    of the daily count series — under IID the count is 2(n−2)/3 ±
    √((16n−29)/90); too FEW turns means trend/persistence, too MANY
    means alternation — the phase-based complement to
    `von_neumann_ratio` (magnitude-based). Plateau days (exact ties) are not strict extrema
    on either engine by construction. One lag/lead window + a
    reduce."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("day")
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = d.select(
        "x", F.lag("x").over(w).alias("pv"), F.lead("x").over(w).alias("nx"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    turn = (
        F.col("pv").isNotNull() & F.col("nx").isNotNull()
        & (
            ((F.col("x") > F.col("pv")) & (F.col("x") > F.col("nx")))
            | ((F.col("x") < F.col("pv")) & (F.col("x") < F.col("nx")))
        )
    )
    obs = r.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.when(turn, 1).otherwise(0)).cast("long").alias("n_turns"),
    )
    exp = F.lit(2.0) * (F.col("n") - 2) / F.lit(3.0)
    return obs.select(
        "n", "n_turns",
        F.round(exp, 6).alias("expected_turns"),
        F.round(
            (F.col("n_turns") - exp)
            / F.sqrt((F.lit(16.0) * F.col("n") - F.lit(29.0)) / F.lit(90.0)),
            6,
        ).alias("z"),
    )



@query(
    "qte_deciles",
    """WITH v AS (
         SELECT (event_type = 'click') AS g1,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events WHERE event_type IN ('click', 'view')),
       cen AS (SELECT g1, v_fp, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
       cum AS (
         SELECT g1, v_fp, c,
                sum(c) OVER (PARTITION BY g1 ORDER BY v_fp) AS cc,
                sum(c) OVER (PARTITION BY g1) AS n
         FROM cen),
       qs AS (SELECT unnest(range(1, 10))::BIGINT AS q),
       pick AS (
         SELECT qs.q, cum.g1, min(cum.v_fp) AS qv
         FROM qs JOIN cum ON cum.cc * 10 >= qs.q * cum.n
         GROUP BY qs.q, cum.g1)
       SELECT a.q AS decile,
              round(a.qv / 1000000.0, 6) AS q_click,
              round(b.qv / 1000000.0, 6) AS q_view,
              round((a.qv - b.qv) / 1000000.0, 6) AS qte
       FROM pick a JOIN pick b ON b.q = a.q AND a.g1 AND NOT b.g1""",
)
def q_qte_deciles(spark, sf_dir):
    """Quantile treatment effects at the nine deciles (Doksum 1974;
    Koenker's distributional view of a treatment contrast): the
    click-vs-view value difference at each matched quantile — where a
    mean contrast (`effect_sizes`) says "shifted by d", the QTE
    profile says WHERE in the distribution the shift lives (tails vs
    bulk; crossing QTEs reveal heterogeneity that `wasserstein_1d`
    integrates away). Quantiles are exact census order statistics
    (smallest value with 10·cumcount ≥ q·n — no percentile_approx);
    the nine-row output is scale-free. One per-group census + one
    windowed pass."""
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("click", "view"))
    v = ev.select(
        (F.col("event_type") == "click").alias("g1"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    cen = v.groupBy("g1", "v_fp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.partitionBy("g1").orderBy("v_fp").rowsBetween(Window.unboundedPreceding, 0)
    cum = cen.select(
        "g1", "v_fp",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(Window.partitionBy("g1")).alias("n"),
    )
    qs = spark.range(1, 10).select(F.col("id").alias("q"))
    pick = (
        qs.join(cum, F.col("cc") * 10 >= F.col("q") * F.col("n"))
        .groupBy("q", "g1")
        .agg(F.min("v_fp").alias("qv"))
    )
    a = pick.where(F.col("g1")).select("q", F.col("qv").alias("qa"))
    b = pick.where(~F.col("g1")).select("q", F.col("qv").alias("qb"))
    return a.join(b, "q").select(
        F.col("q").alias("decile"),
        F.round(F.col("qa") / F.lit(1e6), 6).alias("q_click"),
        F.round(F.col("qb") / F.lit(1e6), 6).alias("q_view"),
        F.round((F.col("qa") - F.col("qb")) / F.lit(1e6), 6).alias("qte"),
    )



@query(
    "mcc_confusion",
    """WITH p AS (
         SELECT (n_chars >= 500)::INT AS pred, (lang = 'en')::INT AS y
         FROM documents),
       c AS (
         SELECT sum((pred = 1 AND y = 1)::INT)::BIGINT AS tp,
                sum((pred = 1 AND y = 0)::INT)::BIGINT AS fp,
                sum((pred = 0 AND y = 1)::INT)::BIGINT AS fn,
                sum((pred = 0 AND y = 0)::INT)::BIGINT AS tn
         FROM p)
       SELECT tp, fp, fn, tn,
              CASE WHEN (tp+fp) > 0 AND (tp+fn) > 0 AND (tn+fp) > 0 AND (tn+fn) > 0
                   THEN round((tp::DOUBLE * tn - fp::DOUBLE * fn)
                        / sqrt((tp+fp)::DOUBLE) / sqrt((tp+fn)::DOUBLE)
                        / sqrt((tn+fp)::DOUBLE) / sqrt((tn+fn)::DOUBLE), 6) END AS mcc,
              round(0.5 * (tp::DOUBLE / nullif(tp+fn, 0)
                           + tn::DOUBLE / nullif(tn+fp, 0)), 6) AS balanced_acc,
              round(2.0 * tp / nullif(2.0 * tp + fp + fn, 0), 6) AS f1
       FROM c""",
)
def q_mcc_confusion(spark, sf_dir):
    """Matthews correlation coefficient, balanced accuracy, and F1 for
    the fixed rule "length ≥ 500 ⇒ English" (Matthews 1975; Chicco &
    Jurman 2020 argue MCC over F1 under imbalance — this triple shows
    WHY: F1 ignores TN, balanced accuracy ignores the prediction
    margin, MCC uses all four cells). The confusion matrix is one
    exact-integer reduce; each metric one mirrored expression with
    degenerate-margin guards. The imbalance-robust eval for the rule
    threshold `youden_threshold` picks."""
    p = _docs(spark, sf_dir).select(
        (F.col("n_chars") >= 500).cast("int").alias("pred"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    c = p.agg(
        F.sum(((F.col("pred") == 1) & (F.col("y") == 1)).cast("int")).cast("long").alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("y") == 0)).cast("int")).cast("long").alias("fp"),
        F.sum(((F.col("pred") == 0) & (F.col("y") == 1)).cast("int")).cast("long").alias("fn"),
        F.sum(((F.col("pred") == 0) & (F.col("y") == 0)).cast("int")).cast("long").alias("tn"),
    )
    d_ = lambda x: F.col(x).cast("double")  # noqa: E731
    ok = (
        (F.col("tp") + F.col("fp") > 0) & (F.col("tp") + F.col("fn") > 0)
        & (F.col("tn") + F.col("fp") > 0) & (F.col("tn") + F.col("fn") > 0)
    )
    mcc = (
        (d_("tp") * F.col("tn") - d_("fp") * F.col("fn"))
        / F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
        / F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
        / F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
        / F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
    )
    return c.select(
        "tp", "fp", "fn", "tn",
        F.when(ok, F.round(mcc, 6)).alias("mcc"),
        F.round(
            F.lit(0.5)
            * (
                d_("tp") / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0))
                + d_("tn") / F.nullif((F.col("tn") + F.col("fp")).cast("double"), F.lit(0.0))
            ),
            6,
        ).alias("balanced_acc"),
        F.round(
            F.lit(2.0) * F.col("tp")
            / F.nullif(F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0.0)),
            6,
        ).alias("f1"),
    )



def _lexdens_sql() -> str:
    return f"""WITH toks AS (
         SELECT doc_id,
                unnest(range(len(string_split(text, ' '))))::BIGINT AS pos,
                unnest(string_split(text, ' ')) AS token
         FROM documents),
       ctx AS (
         SELECT doc_id, pos, lower(token) AS w,
                lower(lag(token) OVER (PARTITION BY doc_id ORDER BY pos)) AS prev_w
         FROM toks),
       tags AS (SELECT doc_id, {_tag_case_sql()} AS tag FROM ctx)
       SELECT doc_id, count(*)::BIGINT AS n_tokens,
              sum((tag IN ('NN', 'VB', 'VBG', 'VBD', 'JJ', 'RB'))::INT)::BIGINT
                AS n_content,
              round(sum((tag IN ('NN', 'VB', 'VBG', 'VBD', 'JJ', 'RB'))::INT)::DOUBLE
                    / count(*), 6) AS lexical_density
       FROM tags GROUP BY doc_id"""



@query("lexical_density", _lexdens_sql())
def q_lexical_density(spark, sf_dir):
    """Lexical density (Ure 1971; Halliday's written-vs-spoken
    register diagnostic): the share of CONTENT words — nouns, verbs,
    adjectives, adverbs per the engine's POS stream — among all
    tokens, per document; dense text (≥0.5) reads as informational
    prose, low density as function-word-heavy/boilerplate (a quality
    signal orthogonal to `quality_score`'s length/stopword form). One
    tag window + a per-doc reduce over the same `pos_tags`
    machinery."""
    from ..functions.pos import tag_expr

    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    w = F.lower(F.col("token"))
    prev_w = F.lower(F.lag("token").over(Window.partitionBy("doc_id").orderBy("pos")))
    tags = tok.select("doc_id", tag_expr(w, prev_w).alias("tag"))
    content = F.col("tag").isin("NN", "VB", "VBG", "VBD", "JJ", "RB").cast("int")
    return tags.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(content).cast("long").alias("n_content"),
        F.round(F.sum(content).cast("double") / F.count(F.lit(1)), 6).alias("lexical_density"),
    )



@query(
    "icc_design_effect",
    """WITH v AS (
         SELECT user_id, CAST(round(value * 1000000.0) AS BIGINT) AS x FROM events),
       g AS (
         SELECT user_id, count(*)::BIGINT AS m, sum(x)::BIGINT AS s,
                sum(x::HUGEINT * x::HUGEINT) AS q
         FROM v GROUP BY user_id),
       tot AS (
         SELECT count(*)::BIGINT AS k, sum(m)::BIGINT AS n, sum(s)::BIGINT AS st,
                sum(q) AS qt,
                sum(CAST(round((s::DOUBLE * s / m) / 1e6) AS BIGINT))::BIGINT AS ssb_fp,
                sum(m * m)::BIGINT AS smm
         FROM g),
       an AS (
         SELECT k, n,
                (ssb_fp * 1e6 - st::DOUBLE * st / n) / (k - 1)::DOUBLE AS msb,
                (qt::DOUBLE - ssb_fp * 1e6) / (n - k)::DOUBLE AS msw,
                (n::DOUBLE - smm::DOUBLE / n) / (k - 1)::DOUBLE AS m0
         FROM tot)
       SELECT k AS n_clusters, n AS n_obs,
              round((msb - msw) / (msb + (m0 - 1.0) * msw), 6) AS icc,
              round(1.0 + (n::DOUBLE / k - 1.0)
                    * ((msb - msw) / (msb + (m0 - 1.0) * msw)), 6) AS design_effect
       FROM an""",
)
def q_icc_design_effect(spark, sf_dir):
    """One-way ANOVA intraclass correlation with users as clusters
    (Fisher 1925; the ANOVA estimator with the unequal-cluster-size
    m₀ correction) and Kish's design effect DEFF = 1 + (m̄−1)·ICC —
    the number that says how much clustering deflates the effective
    sample (the CLUSTERING deff; Kish's WEIGHTING deff is the other
    half of survey-quality accounting).
    Between-cluster sums micro-round once per cluster before the
    cross-cluster sum; all other moments exact int64/int128; the
    ANOVA algebra is one mirrored expression. One user-grain reduce
    + a 1-row finish."""
    ev = _events(spark, sf_dir)
    v = ev.select("user_id", F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("x"))
    dec = "decimal(38,0)"
    g = v.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(dec).alias("q"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("m").cast("long").alias("n"),
        F.sum("s").cast("long").alias("st"),
        F.sum("q").cast(dec).alias("qt"),
        F.sum(
            F.round((F.col("s").cast("double") * F.col("s") / F.col("m")) / F.lit(1e6), 0).cast("long")
        ).cast("long").alias("ssb_fp"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    msb = (F.col("ssb_fp") * F.lit(1e6) - d_("st") * F.col("st") / F.col("n")) / (F.col("k") - 1).cast("double")
    msw = (d_("qt") - F.col("ssb_fp") * F.lit(1e6)) / (F.col("n") - F.col("k")).cast("double")
    m0 = (d_("n") - d_("smm") / F.col("n")) / (F.col("k") - 1).cast("double")
    icc = (msb - msw) / (msb + (m0 - F.lit(1.0)) * msw)
    return tot.select(
        F.col("k").alias("n_clusters"), F.col("n").alias("n_obs"),
        F.round(icc, 6).alias("icc"),
        F.round(F.lit(1.0) + (d_("n") / F.col("k") - F.lit(1.0)) * icc, 6).alias("design_effect"),
    )



_BM_BATCHES = 10



@query(
    "batch_means_ci",
    f"""WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                CAST(round(sum(CAST(round(value * 1000000.0) AS BIGINT))::DOUBLE
                     / count(*)) AS BIGINT) AS y
         FROM events GROUP BY 1),
       s AS (
         SELECT y, row_number() OVER (ORDER BY day) - 1 AS t, count(*) OVER () AS n
         FROM d),
       b AS (
         SELECT least(({_BM_BATCHES} * t) // n, {_BM_BATCHES - 1}) AS batch, y FROM s),
       bm AS (
         SELECT batch, CAST(round(avg(y)) AS BIGINT) AS bmean FROM b GROUP BY batch),
       st AS (
         SELECT count(*)::BIGINT AS nb, sum(bmean)::BIGINT AS sb,
                sum(bmean::HUGEINT * bmean::HUGEINT) AS qb
         FROM bm)
       SELECT nb AS n_batches,
              round(sb::DOUBLE / nb / 1e6, 6) AS grand_mean,
              round(sqrt((qb::DOUBLE - sb::DOUBLE * sb / nb) / (nb - 1)::DOUBLE / nb)
                    / 1e6, 6) AS se_batch,
              round(sb::DOUBLE / nb / 1e6
                    - 2.262157 * sqrt((qb::DOUBLE - sb::DOUBLE * sb / nb)
                                      / (nb - 1)::DOUBLE / nb) / 1e6, 6) AS ci_lo,
              round(sb::DOUBLE / nb / 1e6
                    + 2.262157 * sqrt((qb::DOUBLE - sb::DOUBLE * sb / nb)
                                      / (nb - 1)::DOUBLE / nb) / 1e6, 6) AS ci_hi
       FROM st""",
)
def q_batch_means_ci(spark, sf_dir):
    """Batch-means confidence interval for the long-run daily mean
    (the method of batch means, Conway 1963 / Law & Kelton ch. 9 —
    THE output-analysis tool for autocorrelated series): split the
    day sequence into {b} contiguous batches, treat batch means as
    ~independent, and form the t-interval (t₉,₀.₀₂₅ = 2.262157
    literal) — honest uncertainty where the IID `bootstrap_ci` would
    understate variance under serial correlation (cf. `ljung_box`
    deciding WHETHER you need this). Batch means micro-round once;
    the {b}-row finishing stats are exact. Day-grain only.""".format(b=_BM_BATCHES)
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(
            F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            0,
        ).cast("long").alias("y")
    )
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    s = d.select(
        "y", (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    b = s.select(
        F.least(F.floor(_BM_BATCHES * F.col("t") / F.col("n")), F.lit(_BM_BATCHES - 1)).alias("batch"),
        "y",
    )
    bm = b.groupBy("batch").agg(F.round(F.avg("y"), 0).cast("long").alias("bmean"))
    dec = "decimal(38,0)"
    st = bm.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("bmean").cast("long").alias("sb"),
        F.sum(F.col("bmean").cast(dec) * F.col("bmean").cast(dec)).cast(dec).alias("qb"),
    )
    gm = F.col("sb").cast("double") / F.col("nb") / F.lit(1e6)
    se = F.sqrt(
        (F.col("qb").cast("double") - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
        / (F.col("nb") - 1).cast("double") / F.col("nb")
    ) / F.lit(1e6)
    t975 = F.lit(2.262157)
    return st.select(
        F.col("nb").alias("n_batches"),
        F.round(gm, 6).alias("grand_mean"),
        F.round(se, 6).alias("se_batch"),
        F.round(gm - t975 * se, 6).alias("ci_lo"),
        F.round(gm + t975 * se, 6).alias("ci_hi"),
    )



def _reciprocity_sql() -> str:
    def dst(j: int) -> str:
        h = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({h} % 50)::BIGINT"

    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % 50)::BIGINT AS src, {dst(j)} AS dst FROM documents"
        for j in range(3)
    )
    return f"""WITH e AS (
         SELECT DISTINCT src, dst FROM ({link_union}) WHERE src != dst),
       m AS (
         SELECT count(*)::BIGINT AS n_edges,
                sum(EXISTS (SELECT 1 FROM e r
                            WHERE r.src = e.dst AND r.dst = e.src)::INT)::BIGINT
                  AS n_recip
         FROM e),
       dens AS (
         SELECT n_edges, n_recip,
                n_edges::DOUBLE / (50.0 * 49.0) AS abar
         FROM m)
       SELECT n_edges, n_recip,
              round(n_recip::DOUBLE / n_edges, 6) AS reciprocity,
              round((n_recip::DOUBLE / n_edges - abar) / (1.0 - abar), 6) AS rho_gl
       FROM dens"""



@query("graph_reciprocity", _reciprocity_sql())
def q_graph_reciprocity(spark, sf_dir):
    """Directed reciprocity of the host link graph: the raw r =
    |mutual edges|/|edges| and Garlaschelli-Loffredo's density-
    corrected ρ = (r − ā)/(1 − ā) (PRL 2004 — raw r is inflated on
    dense graphs; ρ is comparable across densities, positive =
    reciprocal, negative = anti-reciprocal) — the linkspam/mutual-
    citation signal that degree-based `degree_assortativity` misses.
    Mutual detection is one self-semi-join on the swapped key; exact
    integers, two final ratios."""
    from ..operators.graph import host_link_edges

    e = host_link_edges(_docs(spark, sf_dir)).stableCheckpoint(eager=True)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst")).withColumn(
        "has_rev", F.lit(1)
    )
    m = (
        e.join(rev, ["src", "dst"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum(F.coalesce(F.col("has_rev"), F.lit(0))).cast("long").alias("n_recip"),
        )
    )
    abar = F.col("n_edges").cast("double") / F.lit(50.0 * 49.0)
    r = F.col("n_recip").cast("double") / F.col("n_edges")
    return m.select(
        "n_edges", "n_recip",
        F.round(r, 6).alias("reciprocity"),
        F.round((r - abar) / (F.lit(1.0) - abar), 6).alias("rho_gl"),
    )



_DH_BINS = 50

_DH_STRATA = 4



@query(
    "dalenius_hodges",
    f"""WITH v AS (
         SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v_fp FROM events),
       rng AS (SELECT min(v_fp) AS lo, max(v_fp) AS hi FROM v),
       binned AS (
         SELECT least(({_DH_BINS}::BIGINT * (v_fp - rng.lo)) // (rng.hi - rng.lo + 1),
                      {_DH_BINS - 1}) AS bin
         FROM v CROSS JOIN rng),
       hist AS (SELECT bin, count(*)::BIGINT AS f FROM binned GROUP BY bin),
       grid AS (SELECT unnest(range({_DH_BINS}))::BIGINT AS bin),
       filled AS (
         SELECT g.bin, coalesce(h.f, 0) AS f FROM grid g LEFT JOIN hist h USING (bin)),
       csf AS (
         SELECT bin, f,
                sum(CAST(round(1000.0 * sqrt(f::DOUBLE)) AS BIGINT))
                  OVER (ORDER BY bin) AS cum_fp,
                sum(CAST(round(1000.0 * sqrt(f::DOUBLE)) AS BIGINT)) OVER () AS tot_fp
         FROM filled),
       assigned AS (
         SELECT bin, f,
                least(({_DH_STRATA}::BIGINT * cum_fp - 1) // tot_fp,
                      {_DH_STRATA - 1}) AS stratum
         FROM csf),
       agg AS (
         SELECT stratum, min(bin)::BIGINT AS bin_lo, max(bin)::BIGINT AS bin_hi,
                sum(f)::BIGINT AS n
         FROM assigned GROUP BY stratum)
       SELECT stratum::BIGINT AS stratum, bin_lo, bin_hi, n
       FROM agg""",
)
def q_dalenius_hodges(spark, sf_dir):
    """Dalenius-Hodges cum-√f stratification rule (JASA 1959 — the
    textbook construction of near-optimal strata for Neyman
    allocation): histogram the value into {b} equal-width bins,
    accumulate √f, and cut the cumulative at {k} equal shares — the
    BOUNDARY-choosing step upstream of `neyman_allocation` (which
    assumes strata given) and smarter than `quantile_bins`' equal-
    count cuts when variance, not count, drives sampling error. √f
    terms milli-round before the running sum (order-defined); the
    stratum of a bin is an exact integer division of cumulative
    shares. Census-grain histogram only.""".format(b=_DH_BINS, k=_DH_STRATA)
    ev = _events(spark, sf_dir)
    v = ev.select(F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"))
    rng = v.agg(F.min("v_fp").alias("lo"), F.max("v_fp").alias("hi"))
    binned = v.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(_DH_BINS * (F.col("v_fp") - F.col("lo")) / (F.col("hi") - F.col("lo") + 1)),
            F.lit(_DH_BINS - 1),
        ).cast("long").alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("f"))
    grid = spark.range(0, _DH_BINS).select(F.col("id").alias("bin"))
    filled = grid.join(hist, "bin", "left").select(
        "bin", F.coalesce(F.col("f"), F.lit(0)).cast("long").alias("f")
    )
    sq = F.round(F.lit(1e3) * F.sqrt(F.col("f").cast("double")), 0).cast("long")
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    csf = filled.select(
        "bin", "f", F.sum(sq).over(wc).alias("cum_fp"), F.sum(sq).over(wall).alias("tot_fp")
    )
    assigned = csf.select(
        "bin", "f",
        F.least(
            F.floor((_DH_STRATA * F.col("cum_fp") - 1) / F.col("tot_fp")),
            F.lit(_DH_STRATA - 1),
        ).cast("long").alias("stratum"),
    )
    return assigned.groupBy("stratum").agg(
        F.min("bin").cast("long").alias("bin_lo"),
        F.max("bin").cast("long").alias("bin_hi"),
        F.sum("f").cast("long").alias("n"),
    )



@query(
    "hotelling_t2",
    """WITH x AS (
         SELECT (label = 1) AS g,
                CAST(round(1000000.0 * embedding[1]::DOUBLE) AS BIGINT) AS a,
                CAST(round(1000000.0 * embedding[2]::DOUBLE) AS BIGINT) AS b
         FROM embeddings WHERE label IN (0, 1)),
       m AS (
         SELECT g, count(*)::BIGINT AS n, sum(a)::BIGINT AS sa, sum(b)::BIGINT AS sb,
                sum(a::HUGEINT * a::HUGEINT) AS qaa,
                sum(b::HUGEINT * b::HUGEINT) AS qbb,
                sum(a::HUGEINT * b::HUGEINT) AS qab
         FROM x GROUP BY g),
       w AS (
         SELECT max(CASE WHEN g THEN n END) AS n1, max(CASE WHEN NOT g THEN n END) AS n2,
                max(CASE WHEN g THEN sa END) AS sa1, max(CASE WHEN NOT g THEN sa END) AS sa2,
                max(CASE WHEN g THEN sb END) AS sb1, max(CASE WHEN NOT g THEN sb END) AS sb2,
                max(CASE WHEN g THEN qaa END) AS qaa1, max(CASE WHEN NOT g THEN qaa END) AS qaa2,
                max(CASE WHEN g THEN qbb END) AS qbb1, max(CASE WHEN NOT g THEN qbb END) AS qbb2,
                max(CASE WHEN g THEN qab END) AS qab1, max(CASE WHEN NOT g THEN qab END) AS qab2
         FROM m),
       pool AS (
         SELECT n1, n2,
                (sa1::DOUBLE / n1 - sa2::DOUBLE / n2) / 1e6 AS da,
                (sb1::DOUBLE / n1 - sb2::DOUBLE / n2) / 1e6 AS db,
                ((qaa1::DOUBLE - sa1::DOUBLE * sa1 / n1)
                 + (qaa2::DOUBLE - sa2::DOUBLE * sa2 / n2)) / (n1 + n2 - 2)::DOUBLE / 1e12 AS saa,
                ((qbb1::DOUBLE - sb1::DOUBLE * sb1 / n1)
                 + (qbb2::DOUBLE - sb2::DOUBLE * sb2 / n2)) / (n1 + n2 - 2)::DOUBLE / 1e12 AS sbb,
                ((qab1::DOUBLE - sa1::DOUBLE * sb1 / n1)
                 + (qab2::DOUBLE - sa2::DOUBLE * sb2 / n2)) / (n1 + n2 - 2)::DOUBLE / 1e12 AS sab
         FROM w),
       t2 AS (
         SELECT n1, n2,
                (n1::DOUBLE * n2 / (n1 + n2))
                * (da * (sbb * da - sab * db) + db * (saa * db - sab * da))
                / (saa * sbb - sab * sab) AS t2
         FROM pool)
       SELECT n1, n2, round(t2, 6) AS t2,
              round(t2 * (n1 + n2 - 3)::DOUBLE / (2.0 * (n1 + n2 - 2)), 6) AS f_stat
       FROM t2""",
)
def q_hotelling_t2(spark, sf_dir):
    """Hotelling's two-sample T² on embedding dims (1,2) between
    labels 0 and 1 (Hotelling 1931): T² = (n₁n₂/n)·d'S⁻¹d with the
    pooled 2×2 covariance inverted in closed form — the multivariate
    mean test that catches correlated shifts two marginal t-tests
    (`effect_sizes` per dim) miss, plus the exact F transform
    T²(n−p−1)/(p(n−2)). All moments exact int64/int128; the quadratic
    form is one mirrored rational expression. One census-grain
    reduce."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("label").isin(0, 1))
    dec = "decimal(38,0)"
    x = emb.select(
        (F.col("label") == 1).alias("g"),
        F.round(F.lit(1e6) * F.col("embedding")[0], 0).cast("long").alias("a"),
        F.round(F.lit(1e6) * F.col("embedding")[1], 0).cast("long").alias("b"),
    )
    m = x.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("a").cast(dec) * F.col("a").cast(dec)).cast(dec).alias("qaa"),
        F.sum(F.col("b").cast(dec) * F.col("b").cast(dec)).cast(dec).alias("qbb"),
        F.sum(F.col("a").cast(dec) * F.col("b").cast(dec)).cast(dec).alias("qab"),
    )
    def pick(col, g):
        cond = F.col("g") if g else ~F.col("g")
        return F.max(F.when(cond, F.col(col)))
    w = m.agg(
        *[pick(c, True).alias(c + "1") for c in ("n", "sa", "sb", "qaa", "qbb", "qab")],
        *[pick(c, False).alias(c + "2") for c in ("n", "sa", "sb", "qaa", "qbb", "qab")],
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    da = (d_("sa1") / F.col("n1") - d_("sa2") / F.col("n2")) / F.lit(1e6)
    db = (d_("sb1") / F.col("n1") - d_("sb2") / F.col("n2")) / F.lit(1e6)
    dn = (F.col("n1") + F.col("n2") - 2).cast("double")
    saa = ((d_("qaa1") - d_("sa1") * F.col("sa1") / F.col("n1"))
           + (d_("qaa2") - d_("sa2") * F.col("sa2") / F.col("n2"))) / dn / F.lit(1e12)
    sbb = ((d_("qbb1") - d_("sb1") * F.col("sb1") / F.col("n1"))
           + (d_("qbb2") - d_("sb2") * F.col("sb2") / F.col("n2"))) / dn / F.lit(1e12)
    sab = ((d_("qab1") - d_("sa1") * F.col("sb1") / F.col("n1"))
           + (d_("qab2") - d_("sa2") * F.col("sb2") / F.col("n2"))) / dn / F.lit(1e12)
    t2 = (
        (d_("n1") * F.col("n2") / (F.col("n1") + F.col("n2")))
        * (da * (sbb * da - sab * db) + db * (saa * db - sab * da))
        / (saa * sbb - sab * sab)
    )
    return w.select(
        "n1", "n2",
        F.round(t2, 6).alias("t2"),
        F.round(
            t2 * (F.col("n1") + F.col("n2") - 3).cast("double")
            / (F.lit(2.0) * (F.col("n1") + F.col("n2") - 2).cast("double")),
            6,
        ).alias("f_stat"),
    )



@query(
    "prefix_branching",
    """WITH toks AS (
         SELECT DISTINCT token
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
         ),
       ks AS (SELECT unnest(range(1, 6))::BIGINT AS k),
       pre AS (
         SELECT ks.k, substr(t.token, 1, ks.k::INT) AS prefix
         FROM toks t JOIN ks ON len(t.token) >= ks.k),
       agg AS (
         SELECT k, count(DISTINCT prefix)::BIGINT AS n_prefixes,
                count(*)::BIGINT AS n_tokens_covered
         FROM pre GROUP BY k)
       SELECT k, n_prefixes, n_tokens_covered,
              round(n_tokens_covered::DOUBLE / n_prefixes, 6) AS avg_fanout
       FROM agg""",
)
def q_prefix_branching(spark, sf_dir):
    """Vocabulary trie branching profile: distinct k-character
    prefixes and the average tokens-per-prefix fan-out for k = 1..5 —
    the shape number behind prefix-compressed term dictionaries and
    FST sizing (steep fan-out decay ⇒ front-coding pays;
    `posting_compression` covers the postings side, this covers the
    dictionary side). One distinct-token census × 5 prefix
    projections; census-grain."""
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .distinct()
    )
    ks = spark.range(1, 6).select(F.col("id").alias("k"))
    pre = toks.crossJoin(F.broadcast(ks)).where(
        F.length("token") >= F.col("k")
    ).select("k", F.expr("substr(token, 1, k)").alias("prefix"))
    return pre.groupBy("k").agg(
        F.countDistinct("prefix").cast("long").alias("n_prefixes"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_covered"),
    ).select(
        "k", "n_prefixes", "n_tokens_covered",
        F.round(F.col("n_tokens_covered").cast("double") / F.col("n_prefixes"), 6).alias("avg_fanout"),
    )



_COX_ITERS = 3



def _cox_sql() -> str:
    ctes = [
        """base AS MATERIALIZED (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_u,
                  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_u,
                  max(epoch_us(ts)) AS last_u,
                  CAST(round(1000000.0 * sum((event_type = 'click')::INT) / count(*))
                       AS BIGINT) AS x_fp
           FROM events GROUP BY user_id)""",
        """spans AS MATERIALIZED (
           SELECT user_id, x_fp,
                  CASE WHEN p_u IS NOT NULL AND p_u > v_u
                       THEN (p_u - v_u) // 86400000000
                       ELSE (last_u - v_u) // 86400000000 END AS t,
                  (p_u IS NOT NULL AND p_u > v_u)::INT AS ev
           FROM base WHERE v_u IS NOT NULL)""",
        "b0 AS (SELECT 0::BIGINT AS beta)",
    ]
    for it in range(_COX_ITERS):
        ctes.append(
            f"""w{it} AS MATERIALIZED (
              SELECT s.user_id, s.t, s.ev, s.x_fp,
                     CAST(round(1000000.0 * exp(b.beta / 1000000.0 * s.x_fp / 1000000.0))
                          AS BIGINT) AS ew
              FROM spans s CROSS JOIN b{it} b)"""
        )
        ctes.append(
            f"""rs{it} AS MATERIALIZED (
              SELECT t,
                     sum(sum(ew)) OVER (ORDER BY t DESC) AS s0,
                     sum(sum(CAST(round(ew::DOUBLE * x_fp / 1000000.0) AS BIGINT)))
                       OVER (ORDER BY t DESC) AS s1,
                     sum(sum(CAST(round(ew::DOUBLE * x_fp / 1000000.0 * x_fp / 1000000.0)
                                  AS BIGINT))) OVER (ORDER BY t DESC) AS s2
              FROM w{it} GROUP BY t)"""
        )
        ctes.append(
            f"""ui{it} AS MATERIALIZED (
              SELECT sum(CASE WHEN w.ev = 1
                              THEN CAST(round(1000000.0 * (w.x_fp / 1000000.0
                                   - r.s1::DOUBLE / r.s0)) AS BIGINT) ELSE 0 END)::BIGINT
                       AS u_fp,
                     sum(CASE WHEN w.ev = 1
                              THEN CAST(round(1000000.0 * (r.s2::DOUBLE / r.s0
                                   - (r.s1::DOUBLE / r.s0) * (r.s1::DOUBLE / r.s0)))
                                   AS BIGINT) ELSE 0 END)::BIGINT AS i_fp
              FROM w{it} w JOIN rs{it} r ON r.t = w.t)"""
        )
        ctes.append(
            f"""b{it + 1} AS MATERIALIZED (
              SELECT b.beta + CAST(round(1000000.0 * u.u_fp::DOUBLE / u.i_fp) AS BIGINT)
                       AS beta
              FROM b{it} b CROSS JOIN ui{it} u)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT (SELECT count(*) FROM spans)::BIGINT AS n_subjects,
               (SELECT sum(ev) FROM spans)::BIGINT AS n_events,
               round(b.beta / 1000000.0, 6) AS beta,
               round(exp(b.beta / 1000000.0), 6) AS hazard_ratio
        FROM b{_COX_ITERS} b"""
    )



@query("cox_regression", _cox_sql())
def q_cox_regression(spark, sf_dir):
    """Cox proportional-hazards regression of view→purchase timing on
    the user's click share (Cox, JRSS-B 1972; Breslow ties), fitted
    by {t} Newton steps on the partial likelihood: the risk-set sums
    S₀ = Σ_{{T≥t}}e^{{βx}}, S₁, S₂ are DESCENDING-time cumulative
    windows over the day-grain census (no per-event risk-set scan —
    the one-pass suffix-sum formulation that scales), the score and
    information accumulate micro-int event terms, and β micro-rounds
    per step — bit-identical to the unrolled oracle. Emits β and the
    hazard ratio e^β: the covariate-adjusted WHY behind
    `kaplan_meier`'s marginal curve.""".format(t=_COX_ITERS)
    import math as _m

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    base = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_u"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_u"),
        F.max(us).alias("last_u"),
        F.round(
            F.lit(1e6) * F.sum((F.col("event_type") == "click").cast("int")) / F.count(F.lit(1)), 0
        ).cast("long").alias("x_fp"),
    )
    conv = F.col("p_u").isNotNull() & (F.col("p_u") > F.col("v_u"))
    spans = base.where(F.col("v_u").isNotNull()).select(
        "x_fp",
        F.when(conv, F.floor((F.col("p_u") - F.col("v_u")) / 86400000000))
        .otherwise(F.floor((F.col("last_u") - F.col("v_u")) / 86400000000)).alias("t"),
        conv.cast("int").alias("ev"),
    ).stableCheckpoint(eager=True)
    n_subjects = spans.count()
    n_events = spans.agg(F.sum("ev")).collect()[0][0]

    def rnd(v):
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    beta = 0
    for _ in range(_COX_ITERS):
        ew = F.round(
            F.lit(1e6) * F.exp(F.lit(beta) / F.lit(1e6) * F.col("x_fp") / F.lit(1e6)), 0
        ).cast("long")
        w = spans.select("t", "ev", "x_fp", ew.alias("ew"))
        g = w.groupBy("t").agg(
            F.sum("ew").alias("g0"),
            F.sum(F.round(F.col("ew").cast("double") * F.col("x_fp") / F.lit(1e6), 0).cast("long")).alias("g1"),
            F.sum(
                F.round(
                    F.col("ew").cast("double") * F.col("x_fp") / F.lit(1e6) * F.col("x_fp") / F.lit(1e6), 0
                ).cast("long")
            ).alias("g2"),
        )
        wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
        rs = g.select(
            "t",
            F.sum("g0").over(wdesc).alias("s0"),
            F.sum("g1").over(wdesc).alias("s1"),
            F.sum("g2").over(wdesc).alias("s2"),
        )
        ui = (
            w.join(rs, "t")
            .agg(
                F.sum(
                    F.when(
                        F.col("ev") == 1,
                        F.round(
                            F.lit(1e6)
                            * (F.col("x_fp") / F.lit(1e6) - F.col("s1").cast("double") / F.col("s0")),
                            0,
                        ).cast("long"),
                    ).otherwise(0)
                ).cast("long").alias("u_fp"),
                F.sum(
                    F.when(
                        F.col("ev") == 1,
                        F.round(
                            F.lit(1e6)
                            * (
                                F.col("s2").cast("double") / F.col("s0")
                                - (F.col("s1").cast("double") / F.col("s0"))
                                * (F.col("s1").cast("double") / F.col("s0"))
                            ),
                            0,
                        ).cast("long"),
                    ).otherwise(0)
                ).cast("long").alias("i_fp"),
            )
            .collect()[0]
        )
        beta = beta + rnd(1e6 * ui.u_fp / ui.i_fp)
    return spark.createDataFrame(
        [(n_subjects, n_events, round(beta / 1e6, 6), round(_m.exp(beta / 1e6), 6))],
        "n_subjects long, n_events long, beta double, hazard_ratio double",
    )



@query(
    "anova_effect_sizes",
    """WITH v AS (
         SELECT event_type, CAST(round(value * 1000000.0) AS BIGINT) AS x FROM events),
       g AS (
         SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
                sum(x::HUGEINT * x::HUGEINT) AS q
         FROM v GROUP BY event_type),
       tot AS (
         SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n, sum(s)::BIGINT AS st,
                sum(q) AS qt,
                sum(CAST(round((s::DOUBLE * s / n) / 1e6) AS BIGINT))::BIGINT AS ssb_fp
         FROM g),
       an AS (
         SELECT k, n,
                ssb_fp * 1e6 - st::DOUBLE * st / n AS ssb,
                qt::DOUBLE - ssb_fp * 1e6 AS ssw,
                qt::DOUBLE - st::DOUBLE * st / n AS sst
         FROM tot)
       SELECT k, n,
              round(ssb / sst, 6) AS eta_sq,
              round((ssb - (k - 1)::DOUBLE * (ssw / (n - k)::DOUBLE))
                    / (sst + ssw / (n - k)::DOUBLE), 6) AS omega_sq,
              round((ssb / (k - 1)::DOUBLE) / (ssw / (n - k)::DOUBLE), 6) AS f_stat
       FROM an""",
)
def q_anova_effect_sizes(spark, sf_dir):
    """One-way ANOVA effect sizes for value across event types: η² =
    SSB/SST (biased upward) and Hays' ω² (the unbiased estimate —
    Hays 1963; the pair shows the small-sample optimism gap), plus
    the F statistic — the PARAMETRIC magnitude companion to
    `kruskal_wallis`' rank-based significance. Between-group sums
    micro-round per group before the cross-group sum; everything else
    exact int64/int128 in one mirrored expression. One census-grain
    reduce."""
    ev = _events(spark, sf_dir)
    dec = "decimal(38,0)"
    v = ev.select("event_type", F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("x"))
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(dec).alias("q"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("st"),
        F.sum("q").cast(dec).alias("qt"),
        F.sum(
            F.round((F.col("s").cast("double") * F.col("s") / F.col("n")) / F.lit(1e6), 0).cast("long")
        ).cast("long").alias("ssb_fp"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    ssb = F.col("ssb_fp") * F.lit(1e6) - d_("st") * F.col("st") / F.col("n")
    ssw = d_("qt") - F.col("ssb_fp") * F.lit(1e6)
    sst = d_("qt") - d_("st") * F.col("st") / F.col("n")
    msw = ssw / (F.col("n") - F.col("k")).cast("double")
    return tot.select(
        "k", "n",
        F.round(ssb / sst, 6).alias("eta_sq"),
        F.round((ssb - (F.col("k") - 1).cast("double") * msw) / (sst + msw), 6).alias("omega_sq"),
        F.round((ssb / (F.col("k") - 1).cast("double")) / msw, 6).alias("f_stat"),
    )



@query(
    "effective_sample_size",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       c AS (
         SELECT x, lead(x) OVER (ORDER BY day) AS nx,
                count(*) OVER () AS n, sum(x) OVER () AS s
         FROM d),
       agg AS (
         SELECT max(n) AS n,
                sum((n * x - s) * (n * x - s))::BIGINT AS den,
                sum(CASE WHEN nx IS NOT NULL
                         THEN (n * x - s) * (n * nx - s) ELSE 0 END)::BIGINT AS num
         FROM c)
       SELECT n,
              round(num::DOUBLE / den, 6) AS rho1,
              round(n * (1.0 - num::DOUBLE / den) / (1.0 + num::DOUBLE / den), 6)
                AS n_eff,
              round(sqrt((1.0 + num::DOUBLE / den) / (1.0 - num::DOUBLE / den)), 6)
                AS se_inflation
       FROM agg""",
)
def q_effective_sample_size(spark, sf_dir):
    """Autocorrelation-adjusted effective sample size for the daily
    series under an AR(1) approximation (Kish 1965 / the MCMC ESS
    rule n_eff = n(1−ρ₁)/(1+ρ₁)) plus the standard-error inflation
    √((1+ρ)/(1−ρ)) — the single number connecting `autocorr_lag1`'s
    ρ to `batch_means_ci`'s corrected interval: positive serial
    correlation means your n days carry fewer independent
    observations. Exact scaled deviations (n·x−Σx), one lead window,
    three mirrored ratios."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    wall = Window.orderBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = d.select(
        "x", F.lead("x").over(Window.orderBy("day")).alias("nx"),
        F.count(F.lit(1)).over(wall).alias("n"), F.sum("x").over(wall).alias("s"),
    )
    agg = c.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(
            (F.col("n") * F.col("x") - F.col("s")) * (F.col("n") * F.col("x") - F.col("s"))
        ).cast("long").alias("den"),
        F.sum(
            F.when(
                F.col("nx").isNotNull(),
                (F.col("n") * F.col("x") - F.col("s")) * (F.col("n") * F.col("nx") - F.col("s")),
            ).otherwise(0)
        ).cast("long").alias("num"),
    )
    rho = F.col("num").cast("double") / F.col("den")
    return agg.select(
        "n",
        F.round(rho, 6).alias("rho1"),
        F.round(F.col("n") * (F.lit(1.0) - rho) / (F.lit(1.0) + rho), 6).alias("n_eff"),
        F.round(F.sqrt((F.lit(1.0) + rho) / (F.lit(1.0) - rho)), 6).alias("se_inflation"),
    )



_POIS_ITERS = 6



def _poisson_sql() -> str:
    ctes = [
        """cen AS MATERIALIZED (
           SELECT CAST(round(1000000.0 * sum((event_type = 'click')::INT) / count(*))
                  AS BIGINT) AS x_fp,
                  sum((event_type = 'purchase')::INT)::BIGINT AS y,
                  count(*) AS _n
           FROM events GROUP BY user_id)""",
        """pts AS MATERIALIZED (
           SELECT x_fp, y, count(*)::BIGINT AS c FROM cen GROUP BY x_fp, y)""",
        "p0 AS (SELECT 0::BIGINT AS a, 0::BIGINT AS b)",
    ]
    for t in range(_POIS_ITERS):
        ctes.append(
            f"""mu{t} AS MATERIALIZED (
              SELECT pts.x_fp, pts.y, pts.c,
                     CAST(round(1000000.0 * exp((p.a + p.b * (pts.x_fp / 1000000.0))
                                                / 1000000.0)) AS BIGINT) AS mu_fp
              FROM pts CROSS JOIN p{t} p)"""
        )
        ctes.append(
            f"""s{t} AS MATERIALIZED (
              SELECT sum(c * (1000000 * y - mu_fp))::BIGINT AS sr,
                     sum(CAST(round(c * (1000000 * y - mu_fp) * (x_fp / 1000000.0))
                              AS BIGINT))::BIGINT AS srx,
                     sum(c * mu_fp)::BIGINT AS sw,
                     sum(CAST(round(c * mu_fp * (x_fp / 1000000.0)) AS BIGINT))::BIGINT AS swx,
                     sum(CAST(round(c * mu_fp * (x_fp / 1000000.0) * (x_fp / 1000000.0))
                              AS BIGINT))::BIGINT AS swxx
              FROM mu{t})"""
        )
        ctes.append(
            f"""p{t + 1} AS MATERIALIZED (
              SELECT p.a + CAST(round(1000000.0 *
                       (s.sr::DOUBLE * s.swxx - s.srx::DOUBLE * s.swx)
                       / (s.sw::DOUBLE * s.swxx - s.swx::DOUBLE * s.swx)) AS BIGINT) AS a,
                     p.b + CAST(round(1000000.0 *
                       (s.srx::DOUBLE * s.sw - s.sr::DOUBLE * s.swx)
                       / (s.sw::DOUBLE * s.swxx - s.swx::DOUBLE * s.swx)) AS BIGINT) AS b
              FROM p{t} p CROSS JOIN s{t} s)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT (SELECT sum(c) FROM pts)::BIGINT AS n,
               round(p.a / 1000000.0, 6) AS intercept,
               round(p.b / 1000000.0, 6) AS coef_clickshare,
               round(exp(p.b / 1000000.0), 6) AS rate_ratio
        FROM p{_POIS_ITERS} p"""
    )



@query("poisson_irls", _poisson_sql())
def q_poisson_irls(spark, sf_dir):
    """Poisson log-link GLM of per-user purchase counts on click share
    by {t} Newton/IRLS rounds (Nelder & Wedderburn 1972 — the count
    companion to `logistic_irls`, closing the classic GLM pair):
    μ = e^{{a+bx}} micro-rounds per census cell, the weighted normal
    equations accumulate micro-int sums, the 2×2 Cramer update
    micro-rounds — all rounds bit-identical to the unrolled oracle.
    e^b is the RATE RATIO per unit click share — the causal-flavored
    readout `gamma_poisson_eb` (no covariate) can't give. Census-grain
    E-pass; 5 scalars per round driver-side.""".format(t=_POIS_ITERS)
    import math as _m

    ev = _events(spark, sf_dir)
    cen = ev.groupBy("user_id").agg(
        F.round(
            F.lit(1e6) * F.sum((F.col("event_type") == "click").cast("int")) / F.count(F.lit(1)), 0
        ).cast("long").alias("x_fp"),
        F.sum((F.col("event_type") == "purchase").cast("int")).cast("long").alias("y"),
    )
    pts = cen.groupBy("x_fp", "y").agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    n = pts.agg(F.sum("c")).collect()[0][0]

    def rnd(v):
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    a = b = 0
    for _ in range(_POIS_ITERS):
        mu = F.round(
            F.lit(1e6)
            * F.exp((F.lit(a) + F.lit(b) * (F.col("x_fp") / F.lit(1e6))) / F.lit(1e6)),
            0,
        ).cast("long")
        xd = F.col("x_fp") / F.lit(1e6)
        s = pts.select("x_fp", "y", "c", mu.alias("mu_fp")).agg(
            F.sum(F.col("c") * (F.lit(1_000_000) * F.col("y") - F.col("mu_fp"))).cast("long").alias("sr"),
            F.sum(
                F.round(F.col("c") * (F.lit(1_000_000) * F.col("y") - F.col("mu_fp")) * xd, 0).cast("long")
            ).cast("long").alias("srx"),
            F.sum(F.col("c") * F.col("mu_fp")).cast("long").alias("sw"),
            F.sum(F.round(F.col("c") * F.col("mu_fp") * xd, 0).cast("long")).cast("long").alias("swx"),
            F.sum(F.round(F.col("c") * F.col("mu_fp") * xd * xd, 0).cast("long")).cast("long").alias("swxx"),
        ).collect()[0]
        det = float(s.sw) * float(s.swxx) - float(s.swx) * float(s.swx)
        a += rnd(1e6 * (float(s.sr) * float(s.swxx) - float(s.srx) * float(s.swx)) / det)
        b += rnd(1e6 * (float(s.srx) * float(s.sw) - float(s.sr) * float(s.swx)) / det)
    return spark.createDataFrame(
        [(n, round(a / 1e6, 6), round(b / 1e6, 6), round(_m.exp(b / 1e6), 6))],
        "n long, intercept double, coef_clickshare double, rate_ratio double",
    )
