"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: wl_colors, hill_numbers, zorder_locality, gini_stump,
    histogram_quantile_audit, regression_influence, risk_coverage,
    rolling_distinct_users, hill_tail_index, energy_distance,
    bradley_terry, mcnemar_test, chao_shen_entropy, fisher_lda,
    jarque_bera, attribute_assortativity, word_burstiness,
    word_dispersion_dp
"""
from __future__ import annotations

from ._registry import F, T, Window, _docs, _events, load_table, md5_int_sql, query



# --------------------------------------------------------------------------
# batch 62: WL graph colors, Hill diversity numbers

_WL_ROUNDS = 3



def _wl_sql(rounds: int = _WL_ROUNDS) -> str:
    parts = [
        """op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS MATERIALIZED (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       bb AS MATERIALIZED (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS MATERIALIZED (
         SELECT DISTINCT a.l_partkey AS u, b2.l_partkey AS v
         FROM bb a JOIN bb b2 ON a.l_orderkey = b2.l_orderkey
                            AND a.l_partkey < b2.l_partkey),
       sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       c0 AS MATERIALIZED (
         SELECT u AS node, count(*)::BIGINT AS color FROM sym GROUP BY u)"""
    ]
    prev = "c0"
    for r in range(1, rounds + 1):
        sig = (
            f"concat(c.color::VARCHAR, '|', "
            f"string_agg(cn.color::VARCHAR, ',' ORDER BY cn.color::VARCHAR))"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (\n"
            f"         SELECT s.u AS node, "
            f"{md5_int_sql(sig)}::BIGINT AS color\n"
            f"         FROM sym s JOIN {prev} c ON c.node = s.u\n"
            f"                    JOIN {prev} cn ON cn.node = s.v\n"
            f"         GROUP BY s.u, c.color)"
        )
        prev = f"c{r}"
    return (
        "WITH " + ",\n       ".join(parts)
        + f"\n       SELECT color, count(*)::BIGINT AS n_nodes "
        f"FROM {prev} GROUP BY color"
    )



@query("wl_colors", _wl_sql())
def q_wl_colors(spark, sf_dir):
    """1-dimensional Weisfeiler-Lehman color refinement (Weisfeiler &
    Lehman 1968; Shervashidze et al., JMLR 2011's WL graph kernel) on
    the part co-purchase graph: start from degree colors, then each
    round re-colors every node with a hash of (own color | sorted
    multiset of neighbor colors), 3 rounds. The final color histogram
    is the WL fingerprint — the structural-role census used for graph
    kernels, isomorphism screening, and role-equivalent node dedup
    (two parts with identical 3-hop neighborhood structure share a
    color). Per round: ONE join of the edge list with the color frame
    + one sorted string_agg groupBy — the same shuffle shape as a CC
    round; colors are md5-hashed to 60-bit ints (pinned cross-engine
    hash), and the neighbor-multiset string sorts LEXICOGRAPHICALLY on
    both engines (multiset-preserving; numeric vs string sort was the
    one cross-engine trap here). Oracle = the identical 3-round unroll (MATERIALIZED,
    same discipline as `kcore_members`)."""
    from pliers_spark.functions.hashing import md5_int as _mi

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
    colors = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("color")).withColumnRenamed("u", "node")
    for _ in range(_WL_ROUNDS):
        nb = sym.join(colors.withColumnRenamed("node", "u").withColumnRenamed("color", "c_own"), "u").join(
            colors.withColumnRenamed("node", "v").withColumnRenamed("color", "c_nb"), "v"
        )
        sig = F.concat(
            F.col("c_own").cast("string"), F.lit("|"),
            F.concat_ws(",", F.sort_array(F.collect_list(F.col("c_nb").cast("string")))),
        )
        colors = (
            nb.groupBy(F.col("u").alias("node"), "c_own")
            .agg(_mi(sig).alias("color"))
            .select("node", "color")
            .stableCheckpoint(eager=True)
        )
    return colors.groupBy("color").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))



@query(
    "hill_numbers",
    """WITH cnt AS (
         SELECT source, w, count(*)::BIGINT AS c FROM (
           SELECT source, unnest(string_split(trim(text), ' ')) AS w
           FROM documents)
         GROUP BY 1, 2),
       st AS (
         SELECT source, count(*)::BIGINT AS q0, sum(c)::BIGINT AS n,
                sum(c::HUGEINT * (c - 1)::HUGEINT) AS c2
         FROM cnt GROUP BY source),
       ent AS (
         SELECT cnt.source,
                sum(round(-1e6 * (cnt.c::DOUBLE / st.n)
                          * ln(cnt.c::DOUBLE / st.n))::BIGINT) AS h_micro
         FROM cnt JOIN st USING (source) GROUP BY cnt.source)
       SELECT st.source, st.q0 AS hill_q0,
              round(ent.h_micro / 1e6, 6) AS shannon_h,
              round(exp(ent.h_micro / 1e6), 6) AS hill_q1,
              round((st.n::DOUBLE * (st.n - 1)) / c2::DOUBLE, 6) AS hill_q2
       FROM st JOIN ent USING (source)""",
)
def q_hill_numbers(spark, sf_dir):
    """Hill diversity numbers per source (Hill, Ecology 1973 — the
    unified diversity family): q=0 species richness (distinct tokens,
    exact), q=1 exp(Shannon H) with H from micro-unit −p·ln p terms
    (exact integer sum; ln/exp parity pinned by `pmi_collocations` and
    the existing exp users), q=2 inverse Simpson from the EXACT
    unbiased concentration Σc(c−1)/(N(N−1)) — all integer sufficient
    statistics, one float expression per output. The vocabulary-
    diversity profile a mixture designer reads next to `missing_mass`
    and `mattr_diversity`: q0 counts the tail, q2 weighs the head, q1
    balances — sources whose q2 ≪ q1 are head-heavy boilerplate."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    cnt = (
        d.select("source", F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
        .stableCheckpoint(eager=True)
    )
    st = cnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("q0"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c").cast(dec) * (F.col("c") - 1).cast(dec)).cast(dec).alias("c2"),
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        cnt.join(F.broadcast(st.select("source", "n")), "source")
        .select("source", F.round(F.lit(-1e6) * p * F.log(p), 0).cast("long").alias("t"))
        .groupBy("source").agg(F.sum("t").cast("long").alias("h_micro"))
    )
    return st.join(ent, "source").select(
        "source", F.col("q0").alias("hill_q0"),
        F.round(F.col("h_micro") / 1e6, 6).alias("shannon_h"),
        F.round(F.exp(F.col("h_micro") / 1e6), 6).alias("hill_q1"),
        F.round(
            (F.col("n").cast("double") * (F.col("n") - 1)) / F.col("c2").cast("double"), 6
        ).alias("hill_q2"),
    )



# --------------------------------------------------------------------------
# batch 63: Z-order locality audit, Gini decision stump, CMH pooled odds


def _morton_sql(xe: str, ye: str, bits: int = 8) -> str:
    terms = []
    for j in range(bits):
        terms.append(f"((({xe} >> {j}) & 1) << {2 * j + 1})")
        terms.append(f"((({ye} >> {j}) & 1) << {2 * j})")
    return "(" + " | ".join(terms) + ")"



@query(
    "zorder_locality",
    f"""WITH cell AS (
         SELECT DISTINCT (user_id % 256)::BIGINT AS x,
                date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS y
         FROM events),
       keyed AS (
         SELECT x, y, {_morton_sql('x', 'y')}::BIGINT AS zkey,
                (x * 64 + y)::BIGINT AS rowmajor
         FROM cell),
       z AS (
         SELECT abs(x - lag(x) OVER (ORDER BY zkey, x, y))
              + abs(y - lag(y) OVER (ORDER BY zkey, x, y)) AS d
         FROM keyed),
       r AS (
         SELECT abs(x - lag(x) OVER (ORDER BY rowmajor))
              + abs(y - lag(y) OVER (ORDER BY rowmajor)) AS d
         FROM keyed)
       SELECT 'zorder' AS ordering, count(d)::BIGINT AS n_steps,
              sum(d)::BIGINT AS total_dist,
              round(sum(d)::DOUBLE / count(d), 6) AS avg_manhattan
       FROM z WHERE d IS NOT NULL
       UNION ALL
       SELECT 'rowmajor', count(d)::BIGINT, sum(d)::BIGINT,
              round(sum(d)::DOUBLE / count(d), 6)
       FROM r WHERE d IS NOT NULL""",
)
def q_zorder_locality(spark, sf_dir):
    """Z-order (Morton) clustering locality audit (Morton 1966; the
    multi-dimensional sort key behind Delta/Iceberg Z-ORDER table
    clustering): interleave the bits of the (user-bucket, day) cell
    coordinates into one key, then measure the average Manhattan step
    between CONSECUTIVE cells under z-order vs row-major order. Low
    z-order step distance is exactly why multi-dimensional min/max
    file pruning works when queries filter on EITHER dimension — the
    layout-design evidence behind `sources/layout.py`'s bucketing at
    10^12-row scale. Interleave is pure bit arithmetic (16 shift/mask
    terms, codegen, no UDF); step distances are exact integers, one
    division per ordering."""
    ev = _events(spark, sf_dir)
    cell = ev.select(
        (F.col("user_id") % 256).cast("long").alias("x"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long").alias("y"),
    ).distinct()
    zkey = None
    for j in range(8):
        tx = F.shiftleft(F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)), 2 * j + 1)
        ty = F.shiftleft(F.shiftright(F.col("y"), j).bitwiseAND(F.lit(1)), 2 * j)
        zkey = tx.bitwiseOR(ty) if zkey is None else zkey.bitwiseOR(tx).bitwiseOR(ty)
    keyed = cell.select(
        "x", "y", zkey.cast("long").alias("zkey"),
        (F.col("x") * 64 + F.col("y")).cast("long").alias("rowmajor"),
    ).stableCheckpoint(eager=True)

    def steps(order_cols, name):
        w = Window.orderBy(*order_cols)
        d = (
            F.abs(F.col("x") - F.lag("x").over(w))
            + F.abs(F.col("y") - F.lag("y").over(w))
        )
        return (
            keyed.select(d.alias("d")).where(F.col("d").isNotNull())
            .agg(
                F.lit(name).alias("ordering"),
                F.count("d").cast("long").alias("n_steps"),
                F.sum("d").cast("long").alias("total_dist"),
                F.round(F.sum("d").cast("double") / F.count("d"), 6).alias("avg_manhattan"),
            )
            .select("ordering", "n_steps", "total_dist", "avg_manhattan")
        )

    return steps(["zkey", "x", "y"], "zorder").unionByName(steps(["rowmajor"], "rowmajor"))



@query(
    "gini_stump",
    """WITH base AS (
         SELECT n_chars::BIGINT AS x,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y
         FROM documents),
       vals AS (
         SELECT x, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
         FROM base GROUP BY x),
       run AS (
         SELECT x,
                sum(n) OVER (ORDER BY x) AS nl,
                sum(pos) OVER (ORDER BY x) AS pl,
                sum(n) OVER () AS nt, sum(pos) OVER () AS pt
         FROM vals),
       gain AS (
         SELECT x AS threshold, nl, pl, nt, pt,
                round(1e9 * (
                  (2.0 * pt / nt) * (1.0 - pt::DOUBLE / nt)
                  - (nl::DOUBLE / nt) * (2.0 * pl / nl) * (1.0 - pl::DOUBLE / nl)
                  - ((nt - nl)::DOUBLE / nt) * (2.0 * (pt - pl) / (nt - nl))
                      * (1.0 - (pt - pl)::DOUBLE / (nt - nl))
                ))::BIGINT AS gain_nano
         FROM run WHERE nl < nt)
       SELECT threshold, nl::BIGINT AS n_left, pl::BIGINT AS pos_left,
              (nt - nl)::BIGINT AS n_right, (pt - pl)::BIGINT AS pos_right,
              round(gain_nano / 1e9, 6) AS gini_gain
       FROM gain
       ORDER BY gain_nano DESC, threshold LIMIT 1""",
)
def q_gini_stump(spark, sf_dir):
    """Optimal decision stump by Gini impurity gain (Breiman et al.,
    CART 1984): the single best threshold on document length for
    predicting lang='en' — parent Gini minus the size-weighted child
    Ginis, maximized over every distinct split point. The CART split
    search is THE inner loop of tree/GBM training; this is its
    distributed shape: one value census, running class counts from ONE
    sort window (every candidate's left/right 2×2 comes from the same
    pass — no per-candidate scan), gain rounded to nano-units for a
    deterministic argmax (ties → smallest threshold,
    TakeOrderedAndProject). All counts exact integers."""
    d = _docs(spark, sf_dir)
    base = d.select(
        F.col("n_chars").cast("long").alias("x"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    vals = base.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").cast("long").alias("pos")
    )
    wrun = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    run = vals.select(
        "x",
        F.sum("n").over(wrun).alias("nl"), F.sum("pos").over(wrun).alias("pl"),
        F.sum("n").over(wall).alias("nt"), F.sum("pos").over(wall).alias("pt"),
    ).where(F.col("nl") < F.col("nt"))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    gain = (
        (F.lit(2.0) * d_("pt") / d_("nt")) * (F.lit(1.0) - d_("pt") / d_("nt"))
        - (d_("nl") / d_("nt")) * (F.lit(2.0) * d_("pl") / d_("nl"))
          * (F.lit(1.0) - d_("pl") / d_("nl"))
        - ((d_("nt") - d_("nl")) / d_("nt"))
          * (F.lit(2.0) * (d_("pt") - d_("pl")) / (d_("nt") - d_("nl")))
          * (F.lit(1.0) - (d_("pt") - d_("pl")) / (d_("nt") - d_("nl")))
    )
    g = run.select(
        F.col("x").alias("threshold"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("pl").cast("long").alias("pos_left"),
        (F.col("nt") - F.col("nl")).cast("long").alias("n_right"),
        (F.col("pt") - F.col("pl")).cast("long").alias("pos_right"),
        F.round(F.lit(1e9) * gain, 0).cast("long").alias("gain_nano"),
    )
    return (
        g.orderBy(F.desc("gain_nano"), "threshold").limit(1)
        .select(
            "threshold", "n_left", "pos_left", "n_right", "pos_right",
            F.round(F.col("gain_nano") / 1e9, 6).alias("gini_gain"),
        )
    )



# --------------------------------------------------------------------------
# batch 64: histogram quantile audit, regression influence, risk-coverage


@query(
    "histogram_quantile_audit",
    """WITH x AS (SELECT doc_id, n_chars::BIGINT AS x FROM documents),
       rng AS (SELECT min(x)::BIGINT AS mn, max(x)::BIGINT AS mx,
                      count(*)::BIGINT AS n FROM x),
       hist AS (
         SELECT least(9, ((x.x - r.mn) * 10) // (r.mx - r.mn + 1))::BIGINT AS b,
                count(*)::BIGINT AS c
         FROM x CROSS JOIN rng r GROUP BY 1),
       cum AS (
         SELECT b, c, sum(c) OVER (ORDER BY b) AS cum,
                coalesce(sum(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cum_prev
         FROM hist),
       qs AS (SELECT unnest([50, 90])::BIGINT AS q),
       tgt AS (
         SELECT qs.q, ((r.n * qs.q + 99) // 100)::BIGINT AS k, r.mn, r.mx, r.n
         FROM qs CROSS JOIN rng r),
       est AS (
         SELECT t.q, t.k,
                round(t.mn + (c.b + (t.k - c.cum_prev)::DOUBLE / c.c)
                             * (t.mx - t.mn + 1) / 10.0, 6) AS hist_estimate
         FROM tgt t JOIN cum c ON c.cum >= t.k AND c.cum_prev < t.k),
       exact AS (
         SELECT t.q, min(rx.x)::BIGINT AS exact_value
         FROM tgt t JOIN (
           SELECT x, row_number() OVER (ORDER BY x, doc_id) AS rn FROM x) rx
           ON rx.rn = t.k
         GROUP BY t.q)
       SELECT e.q AS percentile, ex.exact_value, e.hist_estimate,
              round(abs(e.hist_estimate - ex.exact_value), 6) AS abs_error
       FROM est e JOIN exact ex USING (q)""",
)
def q_histogram_quantile_audit(spark, sf_dir):
    """Mergeable equi-width-histogram quantile estimation audited
    against exact order statistics (the `kmv_rollup`/`ams_f2` audit
    discipline applied to the quantile sketch every engine ships as
    column stats): 10 integer-edged buckets over doc length, p50/p90
    read off the cumulative histogram with within-bucket linear
    interpolation, vs the exact nearest-rank values. Equi-width
    histograms with shared edges merge LOSSLESSLY across partitions
    (counts add — unlike quantiles themselves), which is why they are
    the distributed-stats primitive; the audit quantifies the only
    loss (within-bucket interpolation). Bucket assignment is exact
    integer arithmetic; the interpolation is one identical float
    expression per percentile."""
    d = _docs(spark, sf_dir)
    x = d.select("doc_id", F.col("n_chars").cast("long").alias("x"))
    rng = x.agg(
        F.min("x").cast("long").alias("mn"), F.max("x").cast("long").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    xr = x.crossJoin(F.broadcast(rng))
    hist = xr.groupBy(
        F.least(F.lit(9), F.floor((F.col("x") - F.col("mn")) * 10 / (F.col("mx") - F.col("mn") + 1))).cast("long").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wb = Window.orderBy("b")
    cum = hist.select(
        "b", "c",
        F.sum("c").over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
        F.coalesce(
            F.sum("c").over(wb.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("cum_prev"),
    )
    qs = spark.createDataFrame([(50,), (90,)], "q long")
    tgt = qs.crossJoin(F.broadcast(rng)).select(
        "q", F.floor((F.col("n") * F.col("q") + 99) / 100).cast("long").alias("k"), "mn", "mx", "n"
    )
    est = (
        tgt.join(F.broadcast(cum), (F.col("cum") >= F.col("k")) & (F.col("cum_prev") < F.col("k")))
        .select(
            "q", "k",
            F.round(
                F.col("mn")
                + (F.col("b") + (F.col("k") - F.col("cum_prev")).cast("double") / F.col("c"))
                * (F.col("mx") - F.col("mn") + 1) / 10.0,
                6,
            ).alias("hist_estimate"),
        )
    )
    # CENSUS GRAIN (r4): exact order statistic via range-bucketed
    # global row_number (operators/census.py), not a single-task sort
    from pliers_spark.operators.census import scalable_row_number

    rx = scalable_row_number(x, "x", out="rn", tiebreak=("doc_id",)).select("x", "rn")
    exact = (
        tgt.join(rx, F.col("rn") == F.col("k"))
        .groupBy("q").agg(F.min("x").cast("long").alias("exact_value"))
    )
    return est.join(exact, "q").select(
        F.col("q").alias("percentile"), "exact_value", "hist_estimate",
        F.round(F.abs(F.col("hist_estimate") - F.col("exact_value")), 6).alias("abs_error"),
    )



@query(
    "regression_influence",
    """WITH base AS (
         SELECT doc_id, len(string_split(trim(text), ' '))::BIGINT AS x,
                n_chars::BIGINT AS y
         FROM documents),
       st AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(x::HUGEINT * x::HUGEINT) AS sxx,
                sum(x::HUGEINT * y::HUGEINT) AS sxy,
                sum(y::HUGEINT * y::HUGEINT) AS syy
         FROM base),
       fit AS (
         SELECT n, sx, sy,
                (n * sxy - sx::HUGEINT * sy)::DOUBLE
                  / (n * sxx - sx::HUGEINT * sx)::DOUBLE AS b,
                (n * sxx - sx::HUGEINT * sx)::DOUBLE / n AS sxx_c,
                ((n * syy - sy::HUGEINT * sy)::DOUBLE
                 - ((n * sxy - sx::HUGEINT * sy)::DOUBLE
                    * (n * sxy - sx::HUGEINT * sy)::DOUBLE)
                   / (n * sxx - sx::HUGEINT * sx)::DOUBLE) / n / (n - 2) AS s2
         FROM st),
       infl AS (
         SELECT b2.doc_id,
                round(1e9 * (1.0 / f.n
                     + (b2.x - f.sx::DOUBLE / f.n) * (b2.x - f.sx::DOUBLE / f.n)
                       / f.sxx_c))::BIGINT AS lev_nano,
                round(1e9 * (
                  (b2.y - (f.sy::DOUBLE / f.n - f.b * f.sx / f.n) - f.b * b2.x)
                * (b2.y - (f.sy::DOUBLE / f.n - f.b * f.sx / f.n) - f.b * b2.x)
                * (1.0 / f.n + (b2.x - f.sx::DOUBLE / f.n) * (b2.x - f.sx::DOUBLE / f.n) / f.sxx_c)
                / (2.0 * f.s2
                   * (1.0 - (1.0 / f.n + (b2.x - f.sx::DOUBLE / f.n)
                             * (b2.x - f.sx::DOUBLE / f.n) / f.sxx_c))
                   * (1.0 - (1.0 / f.n + (b2.x - f.sx::DOUBLE / f.n)
                             * (b2.x - f.sx::DOUBLE / f.n) / f.sxx_c)))
                ))::BIGINT AS cook_nano
         FROM base b2 CROSS JOIN fit f)
       SELECT doc_id, round(lev_nano / 1e9, 6) AS leverage,
              round(cook_nano / 1e9, 6) AS cooks_d
       FROM infl
       ORDER BY cook_nano DESC, doc_id LIMIT 20""",
)
def q_regression_influence(spark, sf_dir):
    """OLS influence diagnostics for the chars~tokens fit: leverage
    h_i = 1/n + (x_i−x̄)²/Sxx and Cook's distance D_i = r_i²·h_i /
    (p·s²·(1−h_i)²) (Cook, Technometrics 1977), top-20 most influential
    documents — the single-pass influence screen that says WHICH rows
    `heteroscedasticity_bp` anomalies come from
    (a handful of giant boilerplate docs can steer the whole corpus
    fit). Everything derives from ONE census of exact HUGEINT
    sufficient statistics broadcast to a second narrow pass; per-row
    leverage/Cook values are single identical float expressions
    rounded to nano-units for a deterministic top-k
    (TakeOrderedAndProject, ties → doc_id)."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    base = d.select(
        "doc_id",
        F.size(T.tokenize(F.col("text"))).cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    )
    st = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"), F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).cast(dec).alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).cast(dec).alias("syy"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    num_b = (F.col("n") * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")).cast("double")
    den_b = (F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")).cast("double")
    num_y = (F.col("n") * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")).cast("double")
    fit = st.select(
        "n", "sx", "sy",
        (num_b / den_b).alias("b"),
        (den_b / F.col("n")).alias("sxx_c"),
        ((num_y - num_b * num_b / den_b) / F.col("n") / (F.col("n") - 2)).alias("s2"),
    )
    j = base.crossJoin(F.broadcast(fit))
    xbar = d_("sx") / d_("n")
    lev = F.lit(1.0) / F.col("n") + (F.col("x") - xbar) * (F.col("x") - xbar) / F.col("sxx_c")
    resid = (
        F.col("y")
        - (d_("sy") / d_("n") - F.col("b") * F.col("sx") / F.col("n"))
        - F.col("b") * F.col("x")
    )
    cook = resid * resid * lev / (
        F.lit(2.0) * F.col("s2") * (F.lit(1.0) - lev) * (F.lit(1.0) - lev)
    )
    infl = j.select(
        "doc_id",
        F.round(F.lit(1e9) * lev, 0).cast("long").alias("lev_nano"),
        F.round(F.lit(1e9) * cook, 0).cast("long").alias("cook_nano"),
    )
    return (
        infl.orderBy(F.desc("cook_nano"), "doc_id").limit(20)
        .select(
            "doc_id",
            F.round(F.col("lev_nano") / 1e9, 6).alias("leverage"),
            F.round(F.col("cook_nano") / 1e9, 6).alias("cooks_d"),
        )
    )



@query(
    "risk_coverage",
    """WITH scored AS (
         SELECT doc_id,
                round(n_chars * 1e6 / (n_chars + 500))::BIGINT AS p_micro,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y
         FROM documents),
       pred AS (
         SELECT doc_id,
                abs(p_micro - 500000)::BIGINT AS conf,
                CASE WHEN (CASE WHEN p_micro > 500000 THEN 1 ELSE 0 END) <> y
                     THEN 1 ELSE 0 END::BIGINT AS err
         FROM scored),
       ranked AS (
         SELECT err, row_number() OVER (ORDER BY conf DESC, doc_id) AS rn,
                count(*) OVER () AS n
         FROM pred),
       pfx AS (
         SELECT rn, n, sum(err) OVER (ORDER BY rn) AS e
         FROM ranked),
       aurc AS (
         SELECT sum(round(1e9 * e::DOUBLE / rn)::BIGINT) AS aurc_nano,
                max(n) AS n
         FROM pfx),
       decile AS (
         SELECT (rn * 10) // n AS dd, max(rn) AS k, max(e) AS errors
         FROM pfx WHERE (rn * 10) % n = 0 OR rn = n
         GROUP BY (rn * 10) // n)
       SELECT round(d.k::DOUBLE / a.n, 6) AS coverage, d.k::BIGINT AS n_kept,
              d.errors::BIGINT AS errors,
              round(d.errors::DOUBLE / d.k, 6) AS risk,
              round(a.aurc_nano::DOUBLE / a.n / 1e9, 6) AS aurc
       FROM decile d CROSS JOIN aurc a""",
)
def q_risk_coverage(spark, sf_dir):
    """Selective-prediction risk-coverage curve + AURC (Geifman &
    El-Yaniv, NeurIPS 2017): rank documents by the length-based
    English-classifier's confidence |p−½|, then report the error rate
    among the top-k at each coverage decile and the area under the
    full risk-coverage curve (mean prefix risk). THE abstention audit
    for any classifier whose scores gate `quality_filter`-style keep
    decisions: if risk does not drop as coverage shrinks, the
    confidence is uninformative and thresholding it is theater. All
    counts are exact prefix sums over one sorted window (conf ties →
    doc_id); per-prefix risks round to nano before the AURC sum."""
    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id",
        F.round(F.col("n_chars") * 1e6 / (F.col("n_chars") + 500), 0).cast("long").alias("p_micro"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    pred = scored.select(
        "doc_id",
        F.abs(F.col("p_micro") - 500000).cast("long").alias("conf"),
        ((F.col("p_micro") > 500000).cast("long") != F.col("y")).cast("long").alias("err"),
    )
    wr = Window.orderBy(F.desc("conf"), "doc_id")
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = pred.select(
        "err", F.row_number().over(wr).alias("rn"), F.count(F.lit(1)).over(wall).alias("n")
    )
    pfx = ranked.select(
        "rn", "n",
        F.sum("err").over(Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("e"),
    ).stableCheckpoint(eager=True)
    aurc = pfx.agg(
        F.sum(F.round(F.lit(1e9) * F.col("e").cast("double") / F.col("rn"), 0).cast("long")).alias("aurc_nano"),
        F.max("n").alias("n"),
    )
    decile = (
        pfx.where(((F.col("rn") * 10) % F.col("n") == 0) | (F.col("rn") == F.col("n")))
        .groupBy(F.floor(F.col("rn") * 10 / F.col("n")).alias("dd"))
        .agg(F.max("rn").alias("k"), F.max("e").alias("errors"))
    )
    return decile.crossJoin(F.broadcast(aurc)).select(
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("coverage"),
        F.col("k").cast("long").alias("n_kept"),
        F.col("errors").cast("long").alias("errors"),
        F.round(F.col("errors").cast("double") / F.col("k"), 6).alias("risk"),
        F.round(F.col("aurc_nano").cast("double") / F.col("n") / 1e9, 6).alias("aurc"),
    )



# --------------------------------------------------------------------------
# batch 65: rolling distinct users, Hill tail index, energy distance

_RDU_W = 7



@query(
    "rolling_distinct_users",
    f"""WITH act AS (
         SELECT DISTINCT user_id,
                date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS d
         FROM events),
       days AS (SELECT min(d)::BIGINT AS d0, max(d)::BIGINT AS d1 FROM act),
       seg AS (
         SELECT user_id, d AS lo,
                least(d + {_RDU_W - 1},
                      coalesce(lead(d) OVER (PARTITION BY user_id ORDER BY d) - 1,
                               d + {_RDU_W - 1})) AS hi
         FROM act),
       delta AS (
         SELECT lo AS d, 1::BIGINT AS v FROM seg
         UNION ALL
         SELECT hi + 1, -1::BIGINT FROM seg),
       grid AS (
         SELECT unnest(range(d0, d1 + 1))::BIGINT AS day FROM days),
       summed AS (SELECT d, sum(v)::BIGINT AS v FROM delta GROUP BY d)
       SELECT g.day,
              sum(coalesce(s.v, 0)) OVER (ORDER BY g.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                AS distinct_users_{_RDU_W}d
       FROM grid g LEFT JOIN summed s ON s.d = g.day""",
)
def q_rolling_distinct_users(spark, sf_dir):
    """Rolling 7-day distinct active users per day — the DAU/WAU-style
    window-distinct that is NON-algebraic (distinct can't be merged
    across window slides), recast EXACTLY as an interval sum: each
    (user, active-day) covers the window-end days [d, min(d+6,
    next_active−1)] during which it is that user's MOST RECENT
    activity; a user is in the 7-day window of day D iff exactly one
    of its activity days covers D. Emit +1/−1 at the interval bounds
    (the diff-array trick) and one running sum over the day grid
    reconstructs every window's exact distinct count — per-user lead()
    plus one prefix sum, NO per-window distinct, no 7× data blowup.
    This is the standard scale rewrite of sliding COUNT(DISTINCT) that
    exact-dedup engines use for retention dashboards."""
    ev = _events(spark, sf_dir)
    act = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long").alias("d"),
    ).distinct()
    days = act.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    wlead = Window.partitionBy("user_id").orderBy("d")
    seg = act.select(
        F.col("d").alias("lo"),
        F.least(
            F.col("d") + (_RDU_W - 1),
            F.coalesce(F.lead("d").over(wlead) - 1, F.col("d") + (_RDU_W - 1)),
        ).alias("hi"),
    )
    delta = seg.select(F.col("lo").alias("d"), F.lit(1).cast("long").alias("v")).unionByName(
        seg.select((F.col("hi") + 1).alias("d"), F.lit(-1).cast("long").alias("v"))
    )
    summed = delta.groupBy("d").agg(F.sum("v").cast("long").alias("v"))
    grid = (
        days.select(F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"))
    )
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        grid.join(summed.withColumnRenamed("d", "day"), "day", "left")
        .select(
            "day",
            F.sum(F.coalesce("v", F.lit(0))).over(wrun).cast("long").alias(f"distinct_users_{_RDU_W}d"),
        )
    )



_HILL_TAIL_K = 100



@query(
    "hill_tail_index",
    f"""WITH ranked AS (
         SELECT n_chars::BIGINT AS x,
                row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
         FROM documents),
       xk AS (SELECT x AS x_k FROM ranked WHERE rn = {_HILL_TAIL_K + 1}),
       terms AS (
         SELECT round(1e6 * ln(r.x::DOUBLE / k.x_k))::BIGINT AS t
         FROM ranked r CROSS JOIN xk k WHERE r.rn <= {_HILL_TAIL_K})
       SELECT {_HILL_TAIL_K}::BIGINT AS k,
              (SELECT x_k FROM xk) AS threshold,
              sum(t)::BIGINT AS sum_log_micro,
              round({_HILL_TAIL_K} * 1e6 / sum(t), 6) AS hill_alpha
       FROM terms""",
)
def q_hill_tail_index(spark, sf_dir):
    """Hill tail-index estimator (Hill, Ann. Stat. 1975) for the
    document-length distribution: α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the
    top-k order statistics — the peaks-over-threshold answer to "how
    heavy is the long-document tail", which decides whether length
    caps (`domain_cap`-style) are cosmetic or load-bearing at 10^12
    docs (α ≤ 2 means the VARIANCE of shard sizes is infinite and
    length-stratified packing is mandatory). `zipf_alpha` fits token
    frequencies; this fits the doc-size tail. Top-k+1 selection is one
    TakeOrderedAndProject-shaped window (ties → doc_id); log ratios
    round once to micro-units so the sum is exact; one division."""
    d = _docs(spark, sf_dir)
    ranked = d.select(
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(Window.orderBy(F.desc("n_chars"), "doc_id")).alias("rn"),
    ).where(F.col("rn") <= _HILL_TAIL_K + 1).stableCheckpoint(eager=True)
    xk = ranked.where(F.col("rn") == _HILL_TAIL_K + 1).select(F.col("x").alias("x_k"))
    terms = (
        ranked.where(F.col("rn") <= _HILL_TAIL_K)
        .crossJoin(F.broadcast(xk))
        .select(
            F.round(F.lit(1e6) * F.log(F.col("x").cast("double") / F.col("x_k")), 0)
            .cast("long").alias("t"),
            "x_k",
        )
    )
    return terms.groupBy("x_k").agg(
        F.lit(_HILL_TAIL_K).cast("long").alias("k"),
        F.col("x_k").alias("threshold"),
        F.sum("t").cast("long").alias("sum_log_micro"),
        F.round(F.lit(_HILL_TAIL_K * 1e6) / F.sum("t"), 6).alias("hill_alpha"),
    ).select("k", "threshold", "sum_log_micro", "hill_alpha")



@query(
    "energy_distance",
    """WITH x AS (
         SELECT CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS g, n_chars::BIGINT AS v,
                doc_id
         FROM documents),
       cnt AS (SELECT sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS nx,
                      sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS ny
               FROM x),
       pooled AS (
         SELECT g, v,
                row_number() OVER (ORDER BY v, doc_id) AS r_all,
                row_number() OVER (PARTITION BY g ORDER BY v, doc_id) AS r_g,
                count(*) OVER () AS n
         FROM x),
       pair AS (
         -- sum of |z_i - z_j| over i<j within a sorted multiset:
         -- sum z_i * (2*rank_i - n - 1); cross-group sum = pooled - within
         SELECT
           sum(v::HUGEINT * (2 * r_all - n - 1)) AS s_all,
           sum(CASE WHEN g = 0 THEN v::HUGEINT
                      * (2 * r_g - (SELECT nx FROM cnt) - 1) END) AS s_xx,
           sum(CASE WHEN g = 1 THEN v::HUGEINT
                      * (2 * r_g - (SELECT ny FROM cnt) - 1) END) AS s_yy
         FROM pooled)
       SELECT c.nx, c.ny,
              round((p.s_all - p.s_xx - p.s_yy)::DOUBLE / (c.nx::HUGEINT * c.ny)::DOUBLE, 6)
                AS mean_cross_dist,
              round(p.s_xx::DOUBLE * 2 / (c.nx::HUGEINT * c.nx)::DOUBLE, 6)
                AS mean_within_x,
              round(p.s_yy::DOUBLE * 2 / (c.ny::HUGEINT * c.ny)::DOUBLE, 6)
                AS mean_within_y,
              round(2.0 * (p.s_all - p.s_xx - p.s_yy)::DOUBLE
                        / (c.nx::HUGEINT * c.ny)::DOUBLE
                    - p.s_xx::DOUBLE * 2 / (c.nx::HUGEINT * c.nx)::DOUBLE
                    - p.s_yy::DOUBLE * 2 / (c.ny::HUGEINT * c.ny)::DOUBLE, 6)
                AS energy_distance
       FROM pair p CROSS JOIN cnt c""",
)
def q_energy_distance(spark, sf_dir):
    """Energy distance between the English and non-English document-
    length distributions (Székely & Rizzo 2004): E = 2·E|X−Y| −
    E|X−X'| − E|Y−Y'| — zero iff the distributions are equal, the
    metric two-sample test KS can't match in power against scale
    alternatives. The O(n²) pairwise |·| sums collapse via the sorted
    identity Σ_{i<j}|z_i−z_j| = Σ z_i(2·rank_i − n − 1) — within-group
    sums from per-group ranks, the cross sum as pooled − within — so
    the whole statistic is THREE exact HUGEINT sums over one sorted
    scan (the identity is tie-safe since equal values contribute zero
    either way — which is also why the CENSUS GRAIN form below is
    exact). Population V-statistic normalization (/n², /nx·ny).
    CENSUS GRAIN (r4): Σ_i v_i(2·rank_i − n − 1) collapses per distinct
    value to v·cnt·(2·cum_lt + cnt − n) — all rank machinery runs on
    value censuses (operators/census.py), never raw rows."""
    from pliers_spark.operators.census import with_census_ranks

    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    x = d.select(
        F.when(F.col("lang") == "en", 0).otherwise(1).alias("g"),
        F.col("n_chars").cast("long").alias("v"),
        "doc_id",
    )
    cnt = x.agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("nx"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("ny"),
    )
    # pooled value census with cumulative-below counts
    ca = with_census_ranks(
        x.groupBy("v").agg(F.count(F.lit(1)).alias("cnt")), "v", lt="cum_lt"
    ).crossJoin(F.broadcast(cnt))
    s_all_term = (
        F.col("v").cast(dec)
        * F.col("cnt").cast(dec)
        * (2 * F.col("cum_lt") + F.col("cnt") - (F.col("nx") + F.col("ny"))).cast(dec)
    )
    s_all = ca.agg(F.sum(s_all_term).cast(dec).alias("s_all"))
    # per-group value censuses (the census window partitions by g —
    # two bounded census partitions, not raw rows)
    cg = x.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cntg"))
    wgc = (
        Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    )
    cg = cg.withColumn(
        "cum_lt_g", F.coalesce(F.sum("cntg").over(wgc), F.lit(0))
    ).crossJoin(F.broadcast(cnt))
    term_g = lambda n_col: (
        F.col("v").cast(dec)
        * F.col("cntg").cast(dec)
        * (2 * F.col("cum_lt_g") + F.col("cntg") - F.col(n_col)).cast(dec)
    )
    s_g = cg.agg(
        F.sum(F.when(F.col("g") == 0, term_g("nx"))).cast(dec).alias("s_xx"),
        F.sum(F.when(F.col("g") == 1, term_g("ny"))).cast(dec).alias("s_yy"),
    )
    pair = s_all.crossJoin(F.broadcast(s_g))
    j = pair.crossJoin(F.broadcast(cnt))
    cross = (F.col("s_all") - F.col("s_xx") - F.col("s_yy")).cast("double") / (
        F.col("nx").cast(dec) * F.col("ny").cast(dec)
    ).cast("double")
    wx = F.col("s_xx").cast("double") * 2 / (F.col("nx").cast(dec) * F.col("nx").cast(dec)).cast("double")
    wy = F.col("s_yy").cast("double") * 2 / (F.col("ny").cast(dec) * F.col("ny").cast(dec)).cast("double")
    return j.select(
        "nx", "ny",
        F.round(cross, 6).alias("mean_cross_dist"),
        F.round(wx, 6).alias("mean_within_x"),
        F.round(wy, 6).alias("mean_within_y"),
        F.round(F.lit(2.0) * cross - wx - wy, 6).alias("energy_distance"),
    )



# --------------------------------------------------------------------------
# batch 66: Bradley-Terry ranking, McNemar test, Chao-Shen entropy

_BT_ROUNDS = 3



def _bt_base_sql() -> str:
    return """cnt AS MATERIALIZED (
         SELECT n_chars::BIGINT AS v, source AS s, count(*)::BIGINT AS c
         FROM documents GROUP BY 1, 2),
       vals AS MATERIALIZED (SELECT DISTINCT v FROM cnt),
       srcs AS MATERIALIZED (SELECT DISTINCT s FROM cnt),
       grid AS MATERIALIZED (
         SELECT va.v, sr.s, coalesce(c.c, 0)::BIGINT AS c
         FROM vals va CROSS JOIN srcs sr
         LEFT JOIN cnt c ON c.v = va.v AND c.s = sr.s),
       cum AS MATERIALIZED (
         SELECT v, s,
                coalesce(sum(c) OVER (PARTITION BY s ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                  AS cumprev
         FROM grid),
       wins AS MATERIALIZED (
         SELECT a.s AS sa, b.s AS sb, sum(a.c * b.cumprev)::BIGINT AS w
         FROM cnt a JOIN cum b ON a.v = b.v AND a.s <> b.s
         GROUP BY 1, 2),
       pairs AS MATERIALIZED (
         SELECT w1.sa, w1.sb, w1.w AS w_ab,
                (w1.w + coalesce(w2.w, 0))::BIGINT AS n_ab
         FROM wins w1 LEFT JOIN wins w2 ON w2.sa = w1.sb AND w2.sb = w1.sa),
       wtot AS MATERIALIZED (
         SELECT sa AS s, sum(w_ab)::BIGINT AS w FROM pairs GROUP BY sa),
       pi0 AS MATERIALIZED (SELECT s, 1000000::BIGINT AS pi FROM srcs)"""



def _bt_round_sql(r: int) -> str:
    prev = f"pi{r - 1}"
    return f"""den{r} AS MATERIALIZED (
         SELECT p.sa AS s,
                sum(round(1e9 * p.n_ab * 1e6 / (pa.pi + pb.pi))::BIGINT) AS d_nano
         FROM pairs p JOIN {prev} pa ON pa.s = p.sa JOIN {prev} pb ON pb.s = p.sb
         GROUP BY p.sa),
       raw{r} AS MATERIALIZED (
         SELECT w.s, round(w.w::DOUBLE * 1e15 / d.d_nano)::BIGINT AS pi_raw
         FROM wtot w JOIN den{r} d ON d.s = w.s),
       pi{r} AS MATERIALIZED (
         SELECT s, round(pi_raw::DOUBLE * (SELECT count(*) FROM srcs) * 1e6
                         / (SELECT sum(pi_raw) FROM raw{r}))::BIGINT AS pi
         FROM raw{r})"""



def _bt_sql() -> str:
    rounds = ",\n       ".join(_bt_round_sql(r) for r in range(1, _BT_ROUNDS + 1))
    return (
        "WITH " + _bt_base_sql() + ",\n       " + rounds
        + f"""
       SELECT p.s AS source, round(p.pi / 1e6, 6) AS bt_strength, w.w AS wins
       FROM pi{_BT_ROUNDS} p JOIN wtot w ON w.s = p.s"""
    )



@query("bradley_terry", _bt_sql())
def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry strength ranking of sources from pairwise "which
    doc is longer" contests (Bradley & Terry 1952; Hunter's MM updates,
    Ann. Stat. 2004 — the model behind LLM-arena Elo-style
    leaderboards): wins_ab = #{(x∈a, y∈b) : x > y} for every source
    pair, then 3 MM rounds π_a ← w_a / Σ_b n_ab/(π_a+π_b), normalized
    to Σπ = S each round. The O(n²) pairwise contest census collapses
    to one value-grid join: per-value source counts × per-source
    strictly-below cumulatives (ties excluded on both sides by
    construction — cumprev is strictly-less), so cost is V·S² grid
    rows, never doc×doc. Every MM round rounds its per-pair terms to
    NANO-units and renormalizes in integer micro-units, making the
    fixed-round iterate bit-identical cross-engine (oracle = the same
    3-round MATERIALIZED unroll)."""
    d = _docs(spark, sf_dir)
    cnt = d.groupBy(
        F.col("n_chars").cast("long").alias("v"), F.col("source").alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    vals = cnt.select("v").distinct()
    srcs = cnt.select("s").distinct()
    n_src = srcs.count()
    grid = (
        vals.crossJoin(srcs)
        .join(cnt, ["v", "s"], "left")
        .select("v", "s", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    wcum = Window.partitionBy("s").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "v", "s", F.coalesce(F.sum("c").over(wcum), F.lit(0)).cast("long").alias("cumprev")
    )
    wins = (
        cnt.alias("a").join(cum.alias("b"), (F.col("a.v") == F.col("b.v")) & (F.col("a.s") != F.col("b.s")))
        .groupBy(F.col("a.s").alias("sa"), F.col("b.s").alias("sb"))
        .agg(F.sum(F.col("a.c") * F.col("b.cumprev")).cast("long").alias("w"))
        .stableCheckpoint(eager=True)
    )
    pairs = (
        wins.alias("w1")
        .join(
            wins.alias("w2"),
            (F.col("w2.sa") == F.col("w1.sb")) & (F.col("w2.sb") == F.col("w1.sa")),
            "left",
        )
        .select(
            F.col("w1.sa").alias("sa"), F.col("w1.sb").alias("sb"),
            F.col("w1.w").alias("w_ab"),
            (F.col("w1.w") + F.coalesce(F.col("w2.w"), F.lit(0))).cast("long").alias("n_ab"),
        )
        .stableCheckpoint(eager=True)
    )
    wtot = pairs.groupBy(F.col("sa").alias("s")).agg(F.sum("w_ab").cast("long").alias("w"))
    pi = srcs.select("s", F.lit(1000000).cast("long").alias("pi"))
    for _ in range(_BT_ROUNDS):
        den = (
            pairs.join(pi.selectExpr("s AS sa", "pi AS pa"), "sa")
            .join(pi.selectExpr("s AS sb", "pi AS pb"), "sb")
            .groupBy(F.col("sa").alias("s"))
            .agg(
                F.sum(
                    F.round(F.lit(1e9) * F.col("n_ab") * 1e6 / (F.col("pa") + F.col("pb")), 0)
                    .cast("long")
                ).alias("d_nano")
            )
        )
        raw = wtot.join(den, "s").select(
            "s",
            F.round(F.col("w").cast("double") * 1e15 / F.col("d_nano"), 0).cast("long").alias("pi_raw"),
        )
        tot_raw = raw.agg(F.sum("pi_raw").cast("long").alias("t"))
        pi = (
            raw.crossJoin(F.broadcast(tot_raw))
            .select(
                "s",
                F.round(F.col("pi_raw").cast("double") * n_src * 1e6 / F.col("t"), 0)
                .cast("long").alias("pi"),
            )
            .stableCheckpoint(eager=True)
        )
    return pi.join(wtot, "s").select(
        F.col("s").alias("source"),
        F.round(F.col("pi") / 1e6, 6).alias("bt_strength"),
        F.col("w").alias("wins"),
    )



@query(
    "mcnemar_test",
    """WITH preds AS (
         SELECT CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS pa,
                CASE WHEN contains(concat(' ', lower(text), ' '), ' the ')
                     THEN 1 ELSE 0 END AS pb,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents),
       cells AS (
         SELECT sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)::BIGINT AS b,
                sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)::BIGINT AS c,
                sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)::BIGINT AS both_right,
                sum(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)::BIGINT AS both_wrong
         FROM preds)
       SELECT b AS a_only_correct, c AS b_only_correct, both_right, both_wrong,
              CASE WHEN b + c > 0
                   THEN round((abs(b - c) - 1) * (abs(b - c) - 1)::DOUBLE / (b + c), 6)
              END AS mcnemar_chi2
       FROM cells""",
)
def q_mcnemar_test(spark, sf_dir):
    """McNemar's test with continuity correction (McNemar,
    Psychometrika 1947) comparing two English classifiers on the SAME
    documents — a length rule (n_chars > 500) vs a stopword rule
    (contains ' the ') — via the discordant cells only: χ² =
    (|b−c|−1)²/(b+c). THE paired-model comparison (accuracy deltas on
    shared eval sets are paired, so the unpaired `chi2_independence`
    over-counts shared variance); this is how quality-filter A/Bs
    should be scored before swapping `quality_filter` rules. All four
    cells are exact integers from one pass; one final expression."""
    d = _docs(spark, sf_dir)
    preds = d.select(
        (F.col("n_chars") > 500).cast("long").alias("pa"),
        F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" ")).contains(" the ").cast("long").alias("pb"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    cells = preds.agg(
        F.sum(((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y"))).cast("long")).cast("long").alias("b"),
        F.sum(((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y"))).cast("long")).cast("long").alias("c"),
        F.sum(((F.col("pa") == F.col("y")) & (F.col("pb") == F.col("y"))).cast("long")).cast("long").alias("both_right"),
        F.sum(((F.col("pa") != F.col("y")) & (F.col("pb") != F.col("y"))).cast("long")).cast("long").alias("both_wrong"),
    )
    return cells.select(
        F.col("b").alias("a_only_correct"), F.col("c").alias("b_only_correct"),
        "both_right", "both_wrong",
        F.when(
            F.col("b") + F.col("c") > 0,
            F.round(
                (F.abs(F.col("b") - F.col("c")) - 1)
                * (F.abs(F.col("b") - F.col("c")) - 1).cast("double")
                / (F.col("b") + F.col("c")),
                6,
            ),
        ).alias("mcnemar_chi2"),
    )



@query(
    "chao_shen_entropy",
    """WITH cnt AS (
         SELECT w, count(*)::BIGINT AS c FROM (
           SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
         GROUP BY w),
       st AS (SELECT sum(c)::BIGINT AS n,
                     sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
                     count(*)::BIGINT AS v
              FROM cnt),
       naive AS (
         SELECT sum(round(-1e6 * (c::DOUBLE / n) * ln(c::DOUBLE / n))::BIGINT)
                  AS h_naive_micro
         FROM cnt CROSS JOIN st),
       cs AS (
         SELECT sum(round(-1e6
                  * ((1.0 - f1::DOUBLE / n) * c / n)
                  * ln((1.0 - f1::DOUBLE / n) * c / n)
                  / (1.0 - pow(1.0 - (1.0 - f1::DOUBLE / n) * c / n, n::DOUBLE))
                )::BIGINT) AS h_cs_micro
         FROM cnt CROSS JOIN st)
       SELECT st.v AS vocab, st.n AS tokens, st.f1 AS singletons,
              round(1.0 - st.f1::DOUBLE / st.n, 6) AS coverage,
              round(naive.h_naive_micro / 1e6, 6) AS h_naive,
              round(cs.h_cs_micro / 1e6, 6) AS h_chao_shen
       FROM st CROSS JOIN naive CROSS JOIN cs""",
)
def q_chao_shen_entropy(spark, sf_dir):
    """Chao-Shen coverage-adjusted Shannon entropy (Chao & Shen, EEST
    2003): shrink each plug-in probability by the Good-Turing coverage
    Ĉ = 1 − f₁/N, then Horvitz-Thompson-weight every term by its
    detection probability 1 − (1−Ĉp̂)^N — the bias correction that
    makes corpus-entropy comparisons honest when vocabularies are
    undersampled (the plug-in estimator is biased LOW by ~(V−1)/2N,
    so bigger crawls look spuriously more diverse). Pairs with
    `missing_mass` (same f₁ statistic) and `hill_numbers` (whose q=1
    uses the naive H). Per-token terms round once to micro-units;
    ln/pow parity is already pinned by existing queries."""
    d = _docs(spark, sf_dir)
    cnt = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
        .stableCheckpoint(eager=True)
    )
    st = cnt.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("f1"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    j = cnt.crossJoin(F.broadcast(st))
    p = F.col("c").cast("double") / F.col("n")
    naive = j.agg(
        F.sum(F.round(F.lit(-1e6) * p * F.log(p), 0).cast("long")).alias("h_naive_micro")
    )
    cov = F.lit(1.0) - F.col("f1").cast("double") / F.col("n")
    cp = cov * F.col("c") / F.col("n")
    cs = j.agg(
        F.sum(
            F.round(
                F.lit(-1e6) * cp * F.log(cp)
                / (F.lit(1.0) - F.pow(F.lit(1.0) - cp, F.col("n").cast("double"))),
                0,
            ).cast("long")
        ).alias("h_cs_micro")
    )
    return (
        st.crossJoin(F.broadcast(naive)).crossJoin(F.broadcast(cs))
        .select(
            F.col("v").alias("vocab"), F.col("n").alias("tokens"),
            F.col("f1").alias("singletons"),
            F.round(F.lit(1.0) - F.col("f1").cast("double") / F.col("n"), 6).alias("coverage"),
            F.round(F.col("h_naive_micro") / 1e6, 6).alias("h_naive"),
            F.round(F.col("h_cs_micro") / 1e6, 6).alias("h_chao_shen"),
        )
    )



# --------------------------------------------------------------------------
# batch 67: Fisher LDA, Jarque-Bera


@query(
    "fisher_lda",
    """WITH base AS (
         SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                len(string_split(trim(text), ' '))::BIGINT AS x1,
                n_chars::BIGINT AS x2
         FROM documents),
       st AS (
         SELECT y, count(*)::BIGINT AS n,
                sum(x1)::BIGINT AS s1, sum(x2)::BIGINT AS s2,
                sum(x1::HUGEINT * x1::HUGEINT) AS s11,
                sum(x1::HUGEINT * x2::HUGEINT) AS s12,
                sum(x2::HUGEINT * x2::HUGEINT) AS s22
         FROM base GROUP BY y),
       pool AS (
         SELECT
           (SELECT (s11 - s1::HUGEINT * s1 / n)::DOUBLE FROM st WHERE y = 0)
         + (SELECT (s11 - s1::HUGEINT * s1 / n)::DOUBLE FROM st WHERE y = 1) AS w11,
           (SELECT (s12 - s1::HUGEINT * s2 / n)::DOUBLE FROM st WHERE y = 0)
         + (SELECT (s12 - s1::HUGEINT * s2 / n)::DOUBLE FROM st WHERE y = 1) AS w12,
           (SELECT (s22 - s2::HUGEINT * s2 / n)::DOUBLE FROM st WHERE y = 0)
         + (SELECT (s22 - s2::HUGEINT * s2 / n)::DOUBLE FROM st WHERE y = 1) AS w22,
           (SELECT s1::DOUBLE / n FROM st WHERE y = 1)
         - (SELECT s1::DOUBLE / n FROM st WHERE y = 0) AS d1,
           (SELECT s2::DOUBLE / n FROM st WHERE y = 1)
         - (SELECT s2::DOUBLE / n FROM st WHERE y = 0) AS d2)
       SELECT CASE WHEN w11 * w22 - w12 * w12 <> 0
                   THEN round((w22 * d1 - w12 * d2) / (w11 * w22 - w12 * w12), 6)
              END AS w_tokens,
              CASE WHEN w11 * w22 - w12 * w12 <> 0
                   THEN round((w11 * d2 - w12 * d1) / (w11 * w22 - w12 * w12), 6)
              END AS w_chars,
              CASE WHEN w11 * w22 - w12 * w12 <> 0
                   THEN round(((w22 * d1 - w12 * d2) * d1 + (w11 * d2 - w12 * d1) * d2)
                              / (w11 * w22 - w12 * w12), 6)
              END AS fisher_criterion
       FROM pool""",
)
def q_fisher_lda(spark, sf_dir):
    """Fisher linear discriminant (Fisher, Ann. Eugenics 1936) for
    en/non-en on the 2-feature vector (token count, char count):
    w = S_W⁻¹(μ₁−μ₀) with the within-class scatter inverted in CLOSED
    FORM (2×2 adjugate — no iterative solver), plus the Fisher
    criterion wᵀ(μ₁−μ₀), the separation the projection achieves. All
    scatter entries come from ONE grouped census of exact HUGEINT
    sufficient statistics; weights are single identical float
    expressions. The supervised complement to `jl_projection`
    (random) and `eigen_diagnostics` (unsupervised): which LINEAR view
    of the features separates the label."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    base = d.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        F.size(T.tokenize(F.col("text"))).cast("long").alias("x1"),
        F.col("n_chars").cast("long").alias("x2"),
    )
    st = base.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"), F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1").cast(dec) * F.col("x1").cast(dec)).cast(dec).alias("s11"),
        F.sum(F.col("x1").cast(dec) * F.col("x2").cast(dec)).cast(dec).alias("s12"),
        F.sum(F.col("x2").cast(dec) * F.col("x2").cast(dec)).cast(dec).alias("s22"),
    ).stableCheckpoint(eager=True)
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    g0 = st.where(F.col("y") == 0).select(
        (F.col("s11") - F.col("s1").cast(dec) * F.col("s1") / F.col("n")).cast("double").alias("a11"),
        (F.col("s12") - F.col("s1").cast(dec) * F.col("s2") / F.col("n")).cast("double").alias("a12"),
        (F.col("s22") - F.col("s2").cast(dec) * F.col("s2") / F.col("n")).cast("double").alias("a22"),
        (d_("s1") / d_("n")).alias("m1_0"), (d_("s2") / d_("n")).alias("m2_0"),
    )
    g1 = st.where(F.col("y") == 1).select(
        (F.col("s11") - F.col("s1").cast(dec) * F.col("s1") / F.col("n")).cast("double").alias("b11"),
        (F.col("s12") - F.col("s1").cast(dec) * F.col("s2") / F.col("n")).cast("double").alias("b12"),
        (F.col("s22") - F.col("s2").cast(dec) * F.col("s2") / F.col("n")).cast("double").alias("b22"),
        (d_("s1") / d_("n")).alias("m1_1"), (d_("s2") / d_("n")).alias("m2_1"),
    )
    p = g0.crossJoin(g1).select(
        (F.col("a11") + F.col("b11")).alias("w11"),
        (F.col("a12") + F.col("b12")).alias("w12"),
        (F.col("a22") + F.col("b22")).alias("w22"),
        (F.col("m1_1") - F.col("m1_0")).alias("d1"),
        (F.col("m2_1") - F.col("m2_0")).alias("d2"),
    )
    det = F.col("w11") * F.col("w22") - F.col("w12") * F.col("w12")
    ok = det != 0  # singular within-class scatter (a constant feature) -> NULL
    wt = (F.col("w22") * F.col("d1") - F.col("w12") * F.col("d2")) / det
    wc = (F.col("w11") * F.col("d2") - F.col("w12") * F.col("d1")) / det
    return p.select(
        F.when(ok, F.round(wt, 6)).alias("w_tokens"),
        F.when(ok, F.round(wc, 6)).alias("w_chars"),
        F.when(
            ok,
            F.round(
                (
                    (F.col("w22") * F.col("d1") - F.col("w12") * F.col("d2")) * F.col("d1")
                    + (F.col("w11") * F.col("d2") - F.col("w12") * F.col("d1")) * F.col("d2")
                )
                / det,
                6,
            ),
        ).alias("fisher_criterion"),
    )



@query(
    "jarque_bera",
    """WITH st AS (
         SELECT count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s1,
                sum(n_chars::HUGEINT * n_chars) AS s2,
                sum(n_chars::HUGEINT * n_chars * n_chars) AS s3,
                sum(n_chars::HUGEINT * n_chars * n_chars * n_chars) AS s4
         FROM documents),
       mo AS (
         SELECT n,
                s1::DOUBLE / n AS m,
                s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n) AS m2,
                s3::DOUBLE / n - 3 * (s1::DOUBLE / n) * (s2::DOUBLE / n)
                  + 2 * (s1::DOUBLE / n) * (s1::DOUBLE / n) * (s1::DOUBLE / n) AS m3,
                s4::DOUBLE / n - 4 * (s1::DOUBLE / n) * (s3::DOUBLE / n)
                  + 6 * (s1::DOUBLE / n) * (s1::DOUBLE / n) * (s2::DOUBLE / n)
                  - 3 * (s1::DOUBLE / n) * (s1::DOUBLE / n)
                      * (s1::DOUBLE / n) * (s1::DOUBLE / n) AS m4
         FROM st)
       SELECT n,
              round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
              round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
              round(n / 6.0 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                    + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 6) AS jb_stat
       FROM mo""",
)
def q_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test (Jarque & Bera, Econ. Lett. 1980):
    JB = n/6·(S² + K²/4) from the skewness and excess kurtosis of the
    doc-length distribution — the moment-based gate before any
    analysis that assumes Gaussian lengths (z-score outlier fences,
    `mde_power`'s variance plug-ins). Raw power sums up to x⁴ are
    exact HUGEINT from one pass; central moments and the statistic are
    one identical float expression (the same expand-the-binomial
    discipline as `heteroscedasticity_bp`). Complements `ks_drift`
    (distribution-free shape) with the parametric moments view."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    x = F.col("n_chars").cast(dec)
    st = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(x * x).cast(dec).alias("s2"),
        F.sum(x * x * x).cast(dec).alias("s3"),
        F.sum(x * x * x * x).cast(dec).alias("s4"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    m = d_("s1") / d_("n")
    m2 = d_("s2") / d_("n") - m * m
    m3 = d_("s3") / d_("n") - 3 * m * (d_("s2") / d_("n")) + 2 * m * m * m
    m4 = (
        d_("s4") / d_("n") - 4 * m * (d_("s3") / d_("n"))
        + 6 * m * m * (d_("s2") / d_("n")) - 3 * m * m * m * m
    )
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - 3
    return st.select(
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(F.col("n") / 6.0 * (skew * skew + kurt * kurt / 4), 6).alias("jb_stat"),
    )



# --------------------------------------------------------------------------
# batch 68: attribute assortativity, word burstiness, dispersion DP


@query(
    "attribute_assortativity",
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS (
         SELECT DISTINCT a.l_partkey AS u, bb.l_partkey AS v
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey),
       lab AS (SELECT p_partkey, p_brand FROM part),
       de AS (
         SELECT la.p_brand AS ba, lb.p_brand AS bb2
         FROM e JOIN lab la ON la.p_partkey = e.u
                JOIN lab lb ON lb.p_partkey = e.v
         UNION ALL
         SELECT lb.p_brand, la.p_brand
         FROM e JOIN lab la ON la.p_partkey = e.u
                JOIN lab lb ON lb.p_partkey = e.v),
       m AS (SELECT count(*)::BIGINT AS m2 FROM de),
       eii AS (SELECT sum(CASE WHEN ba = bb2 THEN 1 ELSE 0 END)::BIGINT AS same
               FROM de),
       marg AS (
         SELECT ba AS brand, count(*)::BIGINT AS d FROM de GROUP BY ba),
       ab AS (SELECT sum(d::HUGEINT * d) AS sum_d2 FROM marg)
       SELECT (SELECT same FROM eii) AS same_brand_ends,
              (SELECT m2 FROM m) AS directed_edges,
              round((SELECT same FROM eii)::DOUBLE / (SELECT m2 FROM m), 6) AS trace,
              round((SELECT sum_d2 FROM ab)::DOUBLE
                    / ((SELECT m2 FROM m)::HUGEINT * (SELECT m2 FROM m))::DOUBLE, 6)
                AS expected_trace,
              round(((SELECT same FROM eii)::DOUBLE / (SELECT m2 FROM m)
                     - (SELECT sum_d2 FROM ab)::DOUBLE
                       / ((SELECT m2 FROM m)::HUGEINT * (SELECT m2 FROM m))::DOUBLE)
                    / (1.0 - (SELECT sum_d2 FROM ab)::DOUBLE
                       / ((SELECT m2 FROM m)::HUGEINT * (SELECT m2 FROM m))::DOUBLE), 6)
                AS assortativity_r""",
)
def q_attribute_assortativity(spark, sf_dir):
    """Categorical (attribute) assortativity coefficient r (Newman,
    PRE 2003 eq. 2) of the co-purchase graph by part BRAND: r =
    (tr e − Σ aᵢbᵢ)/(1 − Σ aᵢbᵢ) over the brand mixing matrix — do
    same-brand parts co-occur more than their degrees force? The
    categorical complement to `degree_assortativity` (numeric) and the
    modularity numerator `modularity_q` maximizes; r ≈ 0 says brand
    is structurally irrelevant and brand-stratified negative sampling
    is safe. The mixing matrix is one groupBy over directed edge ends
    joined to the broadcast part-brand dim; trace and margins are
    exact integers, three identical float expressions."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
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
    lab = F.broadcast(pt)
    labeled = (
        e.join(lab.selectExpr("p_partkey AS u", "p_brand AS ba"), "u")
        .join(lab.selectExpr("p_partkey AS v", "p_brand AS bb2"), "v")
        .select("ba", "bb2")
    )
    de = labeled.unionAll(labeled.select(F.col("bb2").alias("ba"), F.col("ba").alias("bb2"))).stableCheckpoint(eager=True)
    dec = "decimal(38,0)"
    m = de.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    eii = de.agg(F.sum((F.col("ba") == F.col("bb2")).cast("long")).cast("long").alias("same"))
    ab = (
        de.groupBy("ba").agg(F.count(F.lit(1)).cast("long").alias("d"))
        .agg(F.sum(F.col("d").cast(dec) * F.col("d").cast(dec)).cast(dec).alias("sum_d2"))
    )
    j = eii.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(ab))
    tr = F.col("same").cast("double") / F.col("m2")
    exp_tr = F.col("sum_d2").cast("double") / (
        F.col("m2").cast(dec) * F.col("m2").cast(dec)
    ).cast("double")
    return j.select(
        F.col("same").alias("same_brand_ends"),
        F.col("m2").alias("directed_edges"),
        F.round(tr, 6).alias("trace"),
        F.round(exp_tr, 6).alias("expected_trace"),
        F.round((tr - exp_tr) / (F.lit(1.0) - exp_tr), 6).alias("assortativity_r"),
    )



_BURST_TOP = 50



@query(
    "word_burstiness",
    f"""WITH dc AS (
         SELECT doc_id, w, count(*)::BIGINT AS k FROM (
           SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
           FROM documents)
         GROUP BY 1, 2),
       nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS nd FROM documents),
       ws AS (
         SELECT w, sum(k)::BIGINT AS cf,
                count(*)::BIGINT AS df,
                sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END)::BIGINT AS df2
         FROM dc GROUP BY w
         ORDER BY sum(k) DESC, w LIMIT {_BURST_TOP})
       SELECT ws.w AS word, ws.cf, ws.df, ws.df2,
              round(ws.df2::DOUBLE / ws.df, 6) AS p_repeat,
              round(1.0 - (1.0 + ws.cf::DOUBLE / nd.nd)
                          * exp(-(ws.cf::DOUBLE / nd.nd))
                    / (1.0 - exp(-(ws.cf::DOUBLE / nd.nd))), 6) AS poisson_p_repeat,
              round(ws.df2::DOUBLE / ws.df
                    - (1.0 - (1.0 + ws.cf::DOUBLE / nd.nd)
                             * exp(-(ws.cf::DOUBLE / nd.nd))
                       / (1.0 - exp(-(ws.cf::DOUBLE / nd.nd)))), 6) AS adaptation
       FROM ws CROSS JOIN nd""",
)
def q_word_burstiness(spark, sf_dir):
    """Word burstiness / adaptation (Church, EMNLP 2000 "Empirical
    estimates of adaptation"): for the top-50 corpus words, the
    probability a word REPEATS in a document that already contains it
    — P(k≥2 | k≥1) = df₂/df — against the Poisson prediction
    1 − (1+λ)e^{−λ}/(1−e^{−λ}) at λ = cf/N_docs. Content words adapt
    (repeat far above Poisson); function words don't — the signal
    separating topical terms from glue BEFORE any stopword list
    exists, and the formal basis for `stopword_discovery`. All counts
    exact from one (doc, word) census; the Poisson benchmark is one
    identical float expression (exp parity pinned)."""
    d = _docs(spark, sf_dir)
    dc = (
        d.select("doc_id", F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    nd = d.agg(F.count_distinct("doc_id").cast("long").alias("nd"))
    ws = (
        dc.groupBy("w").agg(
            F.sum("k").cast("long").alias("cf"),
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum((F.col("k") >= 2).cast("long")).cast("long").alias("df2"),
        )
        .orderBy(F.desc("cf"), "w").limit(_BURST_TOP)
    )
    j = ws.crossJoin(F.broadcast(nd))
    lam = F.col("cf").cast("double") / F.col("nd")
    pois = F.lit(1.0) - (F.lit(1.0) + lam) * F.exp(-lam) / (F.lit(1.0) - F.exp(-lam))
    prep = F.col("df2").cast("double") / F.col("df")
    return j.select(
        F.col("w").alias("word"), "cf", "df", "df2",
        F.round(prep, 6).alias("p_repeat"),
        F.round(pois, 6).alias("poisson_p_repeat"),
        F.round(prep - pois, 6).alias("adaptation"),
    )



_DP_TOP = 50



@query(
    "word_dispersion_dp",
    f"""WITH toks AS (
         SELECT source, w, count(*)::BIGINT AS c FROM (
           SELECT source, unnest(string_split(trim(text), ' ')) AS w
           FROM documents)
         GROUP BY 1, 2),
       part_sz AS (SELECT source, sum(c)::BIGINT AS sz FROM toks GROUP BY source),
       tot AS (SELECT sum(sz)::BIGINT AS n FROM part_sz),
       topw AS (
         SELECT w, sum(c)::BIGINT AS cf FROM toks GROUP BY w
         ORDER BY sum(c) DESC, w LIMIT {_DP_TOP}),
       dense AS (
         SELECT tw.w, tw.cf, ps.source, ps.sz, t.n,
                coalesce(tk.c, 0)::BIGINT AS c
         FROM topw tw CROSS JOIN part_sz ps CROSS JOIN tot t
         LEFT JOIN toks tk ON tk.w = tw.w AND tk.source = ps.source)
       SELECT w AS word, max(cf) AS cf,
              round(sum(round(1e6 * abs(c::DOUBLE / cf - sz::DOUBLE / n))::BIGINT)
                    / 2e6, 6) AS dp
       FROM dense GROUP BY w""",
)
def q_word_dispersion_dp(spark, sf_dir):
    """Gries' DP dispersion measure (Gries, IJCL 2008) for the top-50
    words: DP = ½·Σ_parts |observed share in part − expected share| —
    0 means the word spreads across sources exactly proportionally to
    their sizes, →1 means it clumps in one source. The corpus-
    linguistics complement to `word_burstiness` (WITHIN-doc clumping)
    and `dispersion_index` (event-time clumping): DP is the
    ACROSS-source clumping that flags source-specific boilerplate
    masquerading as common vocabulary. One token census densified over
    the S-source grid; per-part terms round to micro-units before the
    exact sum, one halving division."""
    d = _docs(spark, sf_dir)
    toks = (
        d.select("source", F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
        .stableCheckpoint(eager=True)
    )
    part_sz = toks.groupBy("source").agg(F.sum("c").cast("long").alias("sz"))
    tot = part_sz.agg(F.sum("sz").cast("long").alias("n"))
    topw = (
        toks.groupBy("w").agg(F.sum("c").cast("long").alias("cf"))
        .orderBy(F.desc("cf"), "w").limit(_DP_TOP)
    )
    dense = (
        topw.crossJoin(F.broadcast(part_sz)).crossJoin(F.broadcast(tot))
        .join(toks, ["w", "source"], "left")
        .select(
            "w", "cf", "sz", "n", F.coalesce("c", F.lit(0)).cast("long").alias("c")
        )
    )
    term = F.round(
        F.lit(1e6)
        * F.abs(F.col("c").cast("double") / F.col("cf") - F.col("sz").cast("double") / F.col("n")),
        0,
    ).cast("long")
    return dense.groupBy("w").agg(
        F.max("cf").alias("cf"),
        F.round(F.sum(term) / 2e6, 6).alias("dp"),
    ).select(F.col("w").alias("word"), "cf", "dp")
