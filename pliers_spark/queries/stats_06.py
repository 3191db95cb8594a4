"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: mase_backtest, fk_orphans, novelty_decay, max_coverage,
    rich_club, srm_check, skyline_2d, youden_threshold, debounce_events,
    peak_concurrency, interarrival_burstiness, pareto_8020, modularity_q,
    demand_classes, rbo_rankings, hurst_exponent, shapley_attribution,
    hub_resilience, split_leakage_audit, heteroscedasticity_bp,
    loo_source_value, embedding_isotropy, mattr_diversity
"""
from __future__ import annotations

from ._registry import D, F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from .core_parity import _QUALITY_ORACLE
from .dedup_sim import _DOT_SQL, _NORM_A, _NORM_Q, _SIMHASH_BITS
from .features_a import _simhash_pairs_cte



# --------------------------------------------------------------------------
# batch 46: MASE forecast backtest, FK orphan audit, novelty decay curve

@query(
    "mase_backtest",
    """WITH daily AS (
         SELECT event_type, date_trunc('day', ts)::TIMESTAMP AS day,
                count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       lagged AS (
         SELECT event_type, day, c,
                lag(c, 1) OVER w AS l1,
                lag(c, 7) OVER w AS l7
         FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       scored AS (SELECT * FROM lagged WHERE l1 IS NOT NULL AND l7 IS NOT NULL)
       SELECT event_type,
              count(*)::BIGINT AS n_days,
              sum(abs(c - l7))::BIGINT AS abs_err_seasonal,
              sum(abs(c - l1))::BIGINT AS abs_err_naive,
              CASE WHEN sum(abs(c - l1)) > 0
                   THEN round(sum(abs(c - l7))::DOUBLE / sum(abs(c - l1)), 6)
              END AS mase
       FROM scored GROUP BY event_type""",
)
def q_mase_backtest(spark, sf_dir):
    """MASE forecast backtest (Hyndman & Koehler 2006 — the scale-free
    forecast-accuracy standard): per event type's daily count series,
    the seasonal-naive forecast (value 7 days ago) scored against the
    one-step naive (yesterday) on the SAME days — MASE < 1 means weekly
    seasonality genuinely helps, the go/no-go before any fancier
    forecaster ships. Lag positions come from calendar-ordered rows per
    type; absolute errors are exact int64 sums; one ratio (the shared
    day count cancels). Plan: one daily census, one type-key window."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", 7).over(w).alias("l7"),
    ).where(F.col("l1").isNotNull() & F.col("l7").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("c") - F.col("l7"))).cast("long").alias("abs_err_seasonal"),
        F.sum(F.abs(F.col("c") - F.col("l1"))).cast("long").alias("abs_err_naive"),
        F.when(
            F.sum(F.abs(F.col("c") - F.col("l1"))) > 0,
            F.round(
                F.sum(F.abs(F.col("c") - F.col("l7"))).cast("double")
                / F.sum(F.abs(F.col("c") - F.col("l1"))),
                6,
            ),
        ).alias("mase"),
    )



def _fk_sql() -> str:
    edges = [
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    parts = []
    for name, child, fk, parent, pk in edges:
        parts.append(f"""(
          SELECT '{name}' AS relation,
                 (SELECT count(*) FROM {child})::BIGINT AS child_rows,
                 (SELECT count(*) FROM {child} c
                  WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                    WHERE p.{pk} = c.{fk}))::BIGINT AS orphans)""")
    return " UNION ALL ".join(parts)



@query("fk_orphans", _fk_sql())
def q_fk_orphans(spark, sf_dir):
    """Referential-integrity audit across the star schema's five FK
    edges: orphan child rows (FK value with no parent) per relation —
    the first data-quality gate any warehouse load runs (the FK cousin
    of `dq_checks`' column rules). Each edge is one LEFT ANTI join
    (never a full outer) against the parent's key projection; counts
    are exact. At scale each parent side is a broadcast of just the
    key column."""
    edges = [
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    rows = []
    for name, child, fk, parent, pk in edges:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias(fk)).distinct()
        rows.append((name, c.count(), c.join(p, fk, "left_anti").count()))
    return spark.createDataFrame(rows, "relation string, child_rows long, orphans long")



@query(
    "novelty_decay",
    """WITH d AS (
         SELECT doc_id, string_split(trim(text), ' ') AS t,
                row_number() OVER (ORDER BY doc_id) AS rn,
                count(*) OVER () AS nn
         FROM documents),
       sh AS (
         SELECT doc_id, rn, nn,
                t[i] || ' ' || t[i + 1] AS shingle
         FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
         WHERE len(t) >= 2),
       firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
       per_doc AS (
         SELECT sh.doc_id, sh.rn, sh.nn,
                count(*)::BIGINT AS n_shingles,
                sum((f.first_doc = sh.doc_id)::INT)::BIGINT AS n_first
         FROM sh JOIN firsts f USING (shingle)
         GROUP BY sh.doc_id, sh.rn, sh.nn)
       SELECT ((rn - 1) * 10 // nn)::BIGINT AS decile,
              count(*)::BIGINT AS docs,
              sum(n_shingles)::BIGINT AS shingles,
              sum(n_first)::BIGINT AS first_seen,
              round(sum(n_first)::DOUBLE / sum(n_shingles), 6) AS novelty_rate
       FROM per_doc GROUP BY 1""",
)
def q_novelty_decay(spark, sf_dir):
    """Novelty-decay curve (the diminishing-returns-of-more-data
    readout; Lee et al. 2022's dedup rationale at corpus grain): docs
    ordered by ingestion id, split into deciles, and each decile's
    share of word-bigram shingle OCCURRENCES whose shingle first
    appears there — early deciles are nearly all novel, late deciles
    show how much the marginal crawl batch still contributes. One
    shingle census with a min-doc aggregate (the `ngram_novelty`
    machinery at curve grain); exact counts, one division per
    decile."""
    d = _docs(spark, sf_dir)
    from pliers_spark.functions.hashing import shingles

    from pliers_spark.operators.census import scalable_row_number

    n = d.count()
    dd = d.select(
        "doc_id",
        F.explode(shingles(T.tokenize(F.col("text")), 2)).alias("shingle"),
    )
    # CENSUS GRAIN (r4): global doc rank via range-bucketed prefix +
    # partitioned within-bucket row_number (operators/census.py) — no
    # unpartitioned window over the raw doc table
    ranked_docs = scalable_row_number(d.select("doc_id"), "doc_id", out="rn")
    firsts = dd.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        dd.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int")).cast("long").alias("n_first"),
        )
        .join(ranked_docs, "doc_id")
    )
    return per_doc.groupBy(
        F.floor((F.col("rn") - 1) * 10 / F.lit(n)).cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_shingles").cast("long").alias("shingles"),
        F.sum("n_first").cast("long").alias("first_seen"),
        F.round(F.sum("n_first").cast("double") / F.sum("n_shingles"), 6).alias("novelty_rate"),
    )



# --------------------------------------------------------------------------
# batch 47: greedy max-coverage selection, rich-club coefficient, SRM check

_MAXCOV_K = 5



def _maxcov_sql(k: int = _MAXCOV_K) -> str:
    parts = ["""sh AS (
         SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS s
         FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents) d,
              LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
         WHERE len(t) >= 2)"""]
    prev_cov = None
    rows = []
    for i in range(1, k + 1):
        uncov = "sh" if prev_cov is None else (
            f"(SELECT sh.* FROM sh WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev_cov} c WHERE c.s = sh.s))"
        )
        parts.append(f"""r{i} AS (
         SELECT doc_id, count(*)::BIGINT AS gain
         FROM {uncov} u GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1)""")
        cov_body = f"SELECT s FROM sh WHERE doc_id = (SELECT doc_id FROM r{i})"
        if prev_cov is not None:
            cov_body = f"SELECT s FROM {prev_cov} UNION {cov_body}"
        parts.append(f"c{i} AS ({cov_body})")
        rows.append(
            f"SELECT {i}::BIGINT AS round, doc_id, gain, "
            f"(SELECT count(*) FROM c{i})::BIGINT AS covered_total FROM r{i}"
        )
        prev_cov = f"c{i}"
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)



@query("max_coverage", _maxcov_sql())
def q_max_coverage(spark, sf_dir):
    """Greedy maximum-coverage document selection (the (1−1/e)-optimal
    submodular greedy; Nemhauser 1978): pick {_MAXCOV_K} documents that
    together cover the most distinct word-bigram shingles — the
    'diverse exemplar subset' move behind seed-set curation, eval-set
    construction, and coverage-driven dedup retention. Each round is
    one anti-join of the shingle census against the covered set plus a
    distributed argmax (count desc, doc_id tie); the covered set is
    checkpointed per round so the census never recomputes. The driver
    loop is K iterations — the idiomatic Spark shape for greedy
    submodular selection (same structure as the CC operator)."""
    from pliers_spark.functions.hashing import shingles

    d = _docs(spark, sf_dir)
    sh = d.select(
        "doc_id", F.explode(shingles(T.tokenize(F.col("text")), 2)).alias("s")
    ).distinct().stableCheckpoint(eager=True)
    covered = None
    out = []
    for rnd in range(1, _MAXCOV_K + 1):
        uncov = sh if covered is None else sh.join(covered, "s", "left_anti")
        picks = (
            uncov.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("gain"))
            .orderBy(F.desc("gain"), "doc_id").limit(1).collect()
        )
        if not picks:  # coverage exhausted — later rounds have no argmax row
            break
        pick = picks[0]
        new_cov = sh.where(F.col("doc_id") == pick.doc_id).select("s")
        covered = (
            new_cov if covered is None else covered.unionAll(new_cov).distinct()
        ).distinct().stableCheckpoint(eager=True)
        out.append((rnd, pick.doc_id, pick.gain, covered.count()))
    return spark.createDataFrame(
        out, "round long, doc_id long, gain long, covered_total long"
    )



def _rich_club_sql() -> str:
    parts = []
    for k in (2, 4, 8):
        parts.append(f"""(
          SELECT {k}::BIGINT AS k,
                 (SELECT count(*) FROM deg WHERE d > {k})::BIGINT AS n_rich,
                 (SELECT count(*) FROM e
                  JOIN deg da ON da.node = e.u AND da.d > {k}
                  JOIN deg db ON db.node = e.v AND db.d > {k})::BIGINT AS rich_edges,
                 CASE WHEN (SELECT count(*) FROM deg WHERE d > {k}) >= 2
                      THEN round(2.0 * (SELECT count(*) FROM e
                                        JOIN deg da ON da.node = e.u AND da.d > {k}
                                        JOIN deg db ON db.node = e.v AND db.d > {k})::DOUBLE
                                 / ((SELECT count(*) FROM deg WHERE d > {k})::DOUBLE
                                    * ((SELECT count(*) FROM deg WHERE d > {k}) - 1)::DOUBLE), 6)
                 END AS phi)""")
    return (
        """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS (
         SELECT DISTINCT a.l_partkey AS u, bb.l_partkey AS v
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey),
       sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
       deg AS (SELECT a AS node, count(*)::BIGINT AS d FROM sym GROUP BY a)
       """
        + " UNION ALL ".join(parts)
    )



@query("rich_club", _rich_club_sql())
def q_rich_club(spark, sf_dir):
    """Rich-club coefficient φ(k) (Zhou & Mondragón 2004): the edge
    density among nodes of degree > k, for k ∈ {2,4,8} — rising φ(k)
    means hubs preferentially interconnect (an elite core that
    dominates mixing and makes hub-failure catastrophic); flat/falling
    φ means hubs spread out. Companion to `degree_assortativity` (one
    number) with the k-resolved view. Degree census once; per-k the
    rich subgraph is two broadcast-size degree joins; exact counts,
    one density ratio per k."""
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
    rows = []
    for k in (2, 4, 8):
        rich = deg.where(F.col("d") > k).select("node")
        n_rich = rich.count()
        rich_edges = (
            e.join(rich.withColumnRenamed("node", "u"), "u")
            .join(rich.withColumnRenamed("node", "v"), "v")
            .count()
        )
        phi = (
            round(2.0 * rich_edges / (n_rich * (n_rich - 1)), 6) if n_rich >= 2 else None
        )
        rows.append((k, n_rich, rich_edges, phi))
    return spark.createDataFrame(
        rows, "k long, n_rich long, rich_edges long, phi double"
    )



@query(
    "srm_check",
    """WITH v AS (
         SELECT (user_id % 2 = 0) AS arm_a FROM events),
       s AS (
         SELECT sum(arm_a::INT)::BIGINT AS n_a,
                sum((NOT arm_a)::INT)::BIGINT AS n_b
         FROM v)
       SELECT n_a, n_b,
              round((n_a - n_b)::DOUBLE * (n_a - n_b)::DOUBLE
                    / (n_a + n_b)::DOUBLE, 6) AS chi2,
              (n_a - n_b)::DOUBLE * (n_a - n_b)::DOUBLE / (n_a + n_b)::DOUBLE
                > 3.841459 AS srm_flag
       FROM s""",
)
def q_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch check (Kohavi's #1 A/B validity gate): the
    even/odd user split should route ~50% of EVENTS to each arm; the
    1-df chi-square (n_a−n_b)²/(n_a+n_b) against the 0.05 critical
    value 3.841459 flags exposure imbalance (activity skew, logging
    loss, assignment bugs) before anyone reads the metric movement.
    Users are assigned deterministically but their ACTIVITY is not, so
    this genuinely tests traffic balance. One census row; one ratio."""
    ev = _events(spark, sf_dir)
    s = ev.select((F.col("user_id") % 2 == 0).cast("int").alias("a")).agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum(1 - F.col("a")).cast("long").alias("n_b"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    chi2 = (d_("n_a") - d_("n_b")) * (d_("n_a") - d_("n_b")) / (d_("n_a") + d_("n_b"))
    return s.select(
        "n_a", "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("srm_flag"),
    )



# --------------------------------------------------------------------------
# batch 48: 2-D skyline, Youden threshold, event debouncing

@query(
    "skyline_2d",
    """WITH p AS (
         SELECT p_partkey,
                CAST(round(p_retailprice * 100.0) AS BIGINT) AS price_fp,
                p_size::BIGINT AS size
         FROM part),
       w AS (
         SELECT *,
                max(size) OVER (ORDER BY price_fp
                                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS max_size_cheaper,
                max(size) OVER (PARTITION BY price_fp) AS max_size_same
         FROM p)
       SELECT p_partkey, price_fp, size
       FROM w
       WHERE (max_size_cheaper IS NULL OR max_size_cheaper < size)
         AND max_size_same <= size""",
)
def q_skyline_2d(spark, sf_dir):
    """2-D skyline / Pareto-front extraction (Börzsönyi, Kossmann &
    Stocker, ICDE 2001): parts not dominated on (cheaper price, larger
    size) — the classic multi-criteria shortlist operator ('show me
    options where nothing is both cheaper AND bigger'). In 2-D the
    skyline needs NO pairwise dominance join: one sort by price with a
    running-max-of-size RANGE window (strictly-cheaper frame) plus a
    same-price max handles ties exactly — the O(n log n) sweep-line as
    a window plan. Points tied on both dims don't dominate each other
    and all stay. Integer cents/sizes; no floats at all."""
    pt = load_table(spark, sf_dir, "part")
    p = pt.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100.0, 0).cast("long").alias("price_fp"),
        F.col("p_size").cast("long").alias("size"),
    )
    # CENSUS GRAIN (r4): per-price max first (map-side combine, bounded
    # by distinct prices), running max over the price census, broadcast
    # back — the sweep-line semantics unchanged, but the unpartitioned
    # window sees census cells, never raw parts.
    cells = p.groupBy("price_fp").agg(F.max("size").alias("max_size_same"))
    w_lt = Window.orderBy("price_fp").rowsBetween(Window.unboundedPreceding, -1)
    cells = cells.withColumn(
        "max_size_cheaper", F.max("max_size_same").over(w_lt)
    )
    w = p.join(F.broadcast(cells), "price_fp")
    return w.where(
        (F.col("max_size_cheaper").isNull() | (F.col("max_size_cheaper") < F.col("size")))
        & (F.col("max_size_same") <= F.col("size"))
    ).select("p_partkey", "price_fp", "size")



@query(
    "youden_threshold",
    """WITH base AS (
         SELECT CAST(round(value * 1000000.0) AS BIGINT) AS score,
                CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label
         FROM events),
       tot AS (SELECT sum(label)::BIGINT AS pos,
                      sum(1 - label)::BIGINT AS neg FROM base),
       per_s AS (
         SELECT score, sum(label)::BIGINT AS p, sum(1 - label)::BIGINT AS n
         FROM base GROUP BY score),
       cum AS (
         SELECT score,
                sum(p) OVER (ORDER BY score DESC) AS ctp,
                sum(n) OVER (ORDER BY score DESC) AS cfp
         FROM per_s),
       j AS (
         SELECT score, ctp, cfp,
                ctp::HUGEINT * tot.neg::HUGEINT - cfp::HUGEINT * tot.pos::HUGEINT
                  AS j_num,
                tot.pos, tot.neg
         FROM cum CROSS JOIN tot),
       best AS (
         SELECT * FROM j ORDER BY j_num DESC, score DESC LIMIT 1)
       SELECT score AS threshold_fp, ctp::BIGINT AS tp, cfp::BIGINT AS fp,
              round(ctp::DOUBLE / pos, 6) AS tpr,
              round(cfp::DOUBLE / neg, 6) AS fpr,
              round(ctp::DOUBLE / pos - cfp::DOUBLE / neg, 6) AS youden_j
       FROM best""",
)
def q_youden_threshold(spark, sf_dir):
    """Optimal classification threshold by Youden's J = TPR − FPR
    (Youden 1950): sweep every distinct score as 'predict positive if
    value ≥ t' and return the maximizer — how `quality_filter`-style
    gates get their cutoff from labeled data (the argmax point of the
    `roc_auc` curve; `filter_tradeoff` shows fixed points, this finds
    the best one). The sweep is a cumulative window on the DISTINCT-
    score grain, and the argmax compares the EXACT integer
    ctp·N − cfp·P (no ratio rounding can reorder candidates); ties
    break to the higher threshold (fewer kept). Two divisions at the
    end for the report."""
    dec = "decimal(38,0)"
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("score"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("label"),
    )
    tot = base.agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    per_s = base.groupBy("score").agg(
        F.sum("label").cast("long").alias("p"),
        F.sum(1 - F.col("label")).cast("long").alias("n"),
    )
    wc = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, 0)
    cum = per_s.select(
        "score", F.sum("p").over(wc).alias("ctp"), F.sum("n").over(wc).alias("cfp")
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        "*",
        (F.col("ctp").cast(dec) * F.col("neg").cast(dec)
         - F.col("cfp").cast(dec) * F.col("pos").cast(dec)).alias("j_num"),
    )
    best = j.orderBy(F.desc("j_num"), F.desc("score")).limit(1)
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return best.select(
        F.col("score").alias("threshold_fp"),
        F.col("ctp").cast("long").alias("tp"),
        F.col("cfp").cast("long").alias("fp"),
        F.round(d_("ctp") / d_("pos"), 6).alias("tpr"),
        F.round(d_("cfp") / d_("neg"), 6).alias("fpr"),
        F.round(d_("ctp") / d_("pos") - d_("cfp") / d_("neg"), 6).alias("youden_j"),
    )



_DEBOUNCE_US = 5_000_000  # 5 s



@query(
    "debounce_events",
    f"""WITH r AS (
         SELECT user_id, event_type, event_id, epoch_us(ts)::BIGINT AS t_us,
                lag(epoch_us(ts)::BIGINT) OVER w AS prev_us
         FROM events
         WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
       flagged AS (
         SELECT *, (prev_us IS NULL OR t_us - prev_us > {_DEBOUNCE_US})::INT AS new_burst
         FROM r),
       bursts AS (
         SELECT *, sum(new_burst) OVER (PARTITION BY user_id, event_type
                                        ORDER BY t_us, event_id) AS burst_id
         FROM flagged)
       SELECT user_id, event_type, burst_id::BIGINT AS burst_id,
              min(t_us)::BIGINT AS burst_start_us,
              count(*)::BIGINT AS n_events,
              (max(t_us) - min(t_us))::BIGINT AS span_us
       FROM bursts GROUP BY user_id, event_type, burst_id""",
)
def q_debounce_events(spark, sf_dir):
    """Event debouncing: collapse rapid-fire repeats of the same
    (user, event_type) within 5 s into one burst row (first timestamp,
    size, span) — the telemetry-hygiene step that kills double-clicks,
    retry storms and scraper bursts before counting anything (the
    sessionize gaps-and-islands machinery at the action grain, feeding
    `self_excitation`'s diagnosis with the actual fix). One composite-
    key window; burst ids are exact integer cumsums; grouping stays on
    the SAME key — no extra exchange."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    wk = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    t_us = epoch_micros(ev, "ts").cast("long")
    r = ev.select(
        "user_id", "event_type", "event_id", t_us.alias("t_us"),
        F.lag(t_us).over(wk).alias("prev_us"),
    )
    flagged = r.select(
        "*",
        (
            F.col("prev_us").isNull()
            | (F.col("t_us") - F.col("prev_us") > _DEBOUNCE_US)
        ).cast("int").alias("new_burst"),
    )
    wb = Window.partitionBy("user_id", "event_type").orderBy("t_us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bursts = flagged.select("*", F.sum("new_burst").over(wb).alias("burst_id"))
    return bursts.groupBy("user_id", "event_type", F.col("burst_id").cast("long").alias("burst_id")).agg(
        F.min("t_us").cast("long").alias("burst_start_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("t_us") - F.min("t_us")).cast("long").alias("span_us"),
    )



# --------------------------------------------------------------------------
# batch 49: peak concurrency, interarrival burstiness, Pareto 80/20

_CONC_SPAN_US = 300_000_000  # each event holds a 5-minute slot



@query(
    "peak_concurrency",
    f"""WITH iv AS (
         SELECT epoch_us(ts)::BIGINT AS s,
                epoch_us(ts)::BIGINT + {_CONC_SPAN_US} AS e,
                event_id
         FROM events),
       pts AS (
         SELECT s AS t, 1 AS delta, event_id FROM iv
         UNION ALL
         SELECT e, -1, event_id FROM iv),
       sweep AS (
         SELECT t, delta,
                sum(delta) OVER (ORDER BY t, delta, event_id) AS conc
         FROM pts),
       best AS (SELECT t, conc FROM sweep ORDER BY conc DESC, t LIMIT 1)
       SELECT (SELECT count(*) FROM iv)::BIGINT AS n_intervals,
              best.conc::BIGINT AS peak_concurrency,
              best.t::BIGINT AS peak_at_us
       FROM best""",
)
def q_peak_concurrency(spark, sf_dir):
    """Peak concurrency via the sweep-line (+1/−1) scan: each event
    holds a 5-minute slot; the maximum of the running delta sum is the
    highest number of simultaneously open slots — the capacity-planning
    number (max concurrent sessions/connections) every ops dashboard
    needs and naive per-minute bucketing under-counts. Half-open
    interval semantics: an end at instant t sorts BEFORE a start at t
    (delta asc in the order), so touching intervals don't overlap.
    CENSUS GRAIN (r4): the prefix scan is the two-pass range-partition
    form for real (operators/census.py scalable_running_sum) — bucket
    delta sums + a census prefix window + partitioned within-bucket
    running sums; all integers."""
    from pliers_spark.operators._util import epoch_micros
    from pliers_spark.operators.census import scalable_running_sum

    ev = _events(spark, sf_dir)
    t_us = epoch_micros(ev, "ts").cast("long")
    iv = ev.select(t_us.alias("s"), (t_us + _CONC_SPAN_US).alias("e"), "event_id")
    n_iv = iv.count()
    pts = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id").unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "event_id")
    )
    sweep = scalable_running_sum(
        pts, "delta", "t", out="conc", tiebreak=("delta", "event_id")
    ).select("t", "conc")
    best = sweep.orderBy(F.desc("conc"), "t").limit(1)
    return best.select(
        F.lit(n_iv).cast("long").alias("n_intervals"),
        F.col("conc").cast("long").alias("peak_concurrency"),
        F.col("t").cast("long").alias("peak_at_us"),
    )



@query(
    "interarrival_burstiness",
    """WITH r AS (
         SELECT user_id, epoch_us(ts)::BIGINT AS t_us,
                lag(epoch_us(ts)::BIGINT) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS prev
         FROM events),
       g AS (SELECT user_id, (t_us - prev)::BIGINT AS gap
             FROM r WHERE prev IS NOT NULL),
       st AS (
         SELECT user_id, count(*)::BIGINT AS n, sum(gap)::BIGINT AS s,
                sum(gap::HUGEINT * gap::HUGEINT) AS q
         FROM g GROUP BY user_id HAVING count(*) >= 5)
       SELECT user_id, n AS n_gaps,
              CAST(round(s::DOUBLE / n) AS BIGINT) AS mean_gap_us,
              round((sqrt(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
                     - s::DOUBLE / n)
                    / (sqrt(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
                       + s::DOUBLE / n), 6) AS burstiness_b
       FROM st""",
)
def q_interarrival_burstiness(spark, sf_dir):
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of per-user interarrival
    gaps (EPL 2008): −1 = metronome, 0 = Poisson, →1 = heavy bursts —
    the one-number temporal twin of `dispersion_index` (which measures
    WHO concentrates activity; this measures WHEN), feeding the same
    bot/scraper triage as `self_excitation`. Gaps from one user-key
    window; σ and μ from exact int64/HUGEINT sufficient stats in ONE
    identical double expression; users need ≥5 gaps."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = epoch_micros(ev, "ts").cast("long")
    g = ev.select(
        "user_id", (t_us - F.lag(t_us).over(wu)).alias("gap")
    ).where(F.col("gap").isNotNull())
    dec = "decimal(38,0)"
    st = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap").cast("long").alias("s"),
        F.sum(F.col("gap").cast(dec) * F.col("gap").cast(dec)).cast(dec).alias("q"),
    ).where(F.col("n") >= 5)
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = d_("s") / d_("n")
    sig = F.sqrt(d_("q") / d_("n") - mu * mu)
    return st.select(
        "user_id", F.col("n").alias("n_gaps"),
        F.round(mu, 0).cast("long").alias("mean_gap_us"),
        F.round((sig - mu) / (sig + mu), 6).alias("burstiness_b"),
    )



@query(
    "pareto_8020",
    """WITH c AS (
         SELECT o_custkey,
                CAST(round(sum(o_totalprice) * 100.0) AS BIGINT) AS rev_fp
         FROM orders GROUP BY o_custkey),
       r AS (
         SELECT *, row_number() OVER (ORDER BY rev_fp DESC, o_custkey) AS rn,
                count(*) OVER () AS nn, sum(rev_fp) OVER () AS tot,
                sum(rev_fp) OVER (ORDER BY rev_fp DESC, o_custkey) AS cum
         FROM c)
       SELECT max(nn)::BIGINT AS n_customers,
              round(sum(CASE WHEN rn <= CAST(ceil(nn / 5.0) AS BIGINT)
                             THEN rev_fp ELSE 0 END)::DOUBLE / max(tot), 6)
                AS top20_revenue_share,
              min(CASE WHEN 5 * cum >= 4 * tot THEN rn END)::BIGINT
                AS customers_for_80pct
       FROM r""",
)
def q_pareto_8020(spark, sf_dir):
    """Pareto concentration audit: the revenue share of the top-20% of
    customers AND the exact head count needed to reach 80% of revenue
    — the 80/20 readout behind account tiering and (for corpora) 'how
    few domains produce most tokens' (the heavy-hitter census's
    business twin). One customer census, one rank/cumsum window on the
    customer grain; the 80% crossing uses the exact integer inequality
    5·cum ≥ 4·total (no ratio rounding); one division for the share."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100.0, 0).cast("long").alias("rev_fp")
    )
    n = c.count()
    wr = Window.orderBy(F.desc("rev_fp"), "o_custkey")
    r = c.select(
        "rev_fp",
        F.row_number().over(wr).alias("rn"),
        F.sum("rev_fp").over(wr.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("rev_fp").over(Window.partitionBy()).alias("tot"),
    )
    top_k = -(-n // 5)  # ceil(n/5)
    return r.agg(
        F.lit(n).cast("long").alias("n_customers"),
        F.round(
            F.sum(F.when(F.col("rn") <= top_k, F.col("rev_fp")).otherwise(0)).cast("double")
            / F.max("tot"),
            6,
        ).alias("top20_revenue_share"),
        F.min(F.when(5 * F.col("cum") >= 4 * F.col("tot"), F.col("rn"))).cast("long").alias("customers_for_80pct"),
    )



# --------------------------------------------------------------------------
# batch 50: graph modularity, demand-pattern classes, RBO rank agreement

@query(
    "modularity_q",
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS (
         SELECT DISTINCT a.l_partkey AS u, bb.l_partkey AS v
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey),
       pe AS (
         SELECT pu.p_brand AS bu, pv.p_brand AS bv
         FROM e JOIN part pu ON pu.p_partkey = e.u
                JOIN part pv ON pv.p_partkey = e.v),
       m AS (SELECT count(*)::BIGINT AS m,
                    sum((bu = bv)::INT)::BIGINT AS intra FROM pe),
       dc AS (
         SELECT brand, sum(d)::HUGEINT AS d_c FROM (
           SELECT bu AS brand, 1 AS d FROM pe
           UNION ALL SELECT bv, 1 FROM pe) GROUP BY brand),
       expct AS (
         SELECT sum(d_c * d_c)::HUGEINT AS sum_dc2,
                count(*)::BIGINT AS n_comm FROM dc)
       SELECT m.m AS n_edges, expct.n_comm AS n_communities, m.intra AS intra_edges,
              round(m.intra::DOUBLE / m.m
                    - expct.sum_dc2::DOUBLE / (4.0 * m.m::DOUBLE * m.m::DOUBLE), 6)
                AS modularity
       FROM m CROSS JOIN expct""",
)
def q_modularity_q(spark, sf_dir):
    """Newman-Girvan modularity Q of the brand partition over the
    co-purchase graph (Newman & Girvan 2004): Q = Σ_c (e_c/m −
    (d_c/2m)²) — does 'brand' behave as real community structure
    (Q ≫ 0) or do purchases ignore it (Q ≈ 0)? The evaluation every
    community-detection run needs, here scoring a GIVEN labeling, so
    no iteration at all: one edge census joined to the part dimension,
    per-community degree sums, exact int64/HUGEINT stats, one double
    expression."""
    dec = "decimal(38,0)"
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
    pe = (
        e.join(F.broadcast(pt.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("bu"))), "u")
        .join(F.broadcast(pt.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("bv"))), "v")
        .select("bu", "bv")
        .stableCheckpoint(eager=True)  # feeds edge census + degree sums
    )
    m = pe.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum((F.col("bu") == F.col("bv")).cast("int")).cast("long").alias("intra"),
    )
    dc = (
        pe.select(F.col("bu").alias("brand"))
        .unionAll(pe.select(F.col("bv").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast(dec).alias("d_c"))
    )
    ex = dc.agg(
        F.sum(F.col("d_c") * F.col("d_c")).cast(dec).alias("sum_dc2"),
        F.count(F.lit(1)).cast("long").alias("n_comm"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return m.crossJoin(ex).select(
        F.col("m").alias("n_edges"),
        F.col("n_comm").alias("n_communities"),
        F.col("intra").alias("intra_edges"),
        F.round(
            d_("intra") / d_("m") - d_("sum_dc2") / (F.lit(4.0) * d_("m") * d_("m")), 6
        ).alias("modularity"),
    )



@query(
    "demand_classes",
    """WITH months AS (
         SELECT (SELECT count(DISTINCT date_trunc('month', l_shipdate))
                 FROM lineitem)::BIGINT AS t),
       md AS (
         SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
                CAST(sum(l_quantity) AS BIGINT) AS q
         FROM lineitem GROUP BY 1, 2),
       st AS (
         SELECT l_partkey, count(*)::BIGINT AS n_d, sum(q)::BIGINT AS s,
                sum(q::HUGEINT * q::HUGEINT) AS qq
         FROM md GROUP BY l_partkey),
       cls AS (
         SELECT l_partkey,
                CASE
                  WHEN 100 * months.t < 132 * n_d
                       AND 100 * (n_d::HUGEINT * qq - s::HUGEINT * s::HUGEINT)
                           < 49 * s::HUGEINT * s::HUGEINT THEN 'smooth'
                  WHEN 100 * months.t >= 132 * n_d
                       AND 100 * (n_d::HUGEINT * qq - s::HUGEINT * s::HUGEINT)
                           < 49 * s::HUGEINT * s::HUGEINT THEN 'intermittent'
                  WHEN 100 * months.t < 132 * n_d THEN 'erratic'
                  ELSE 'lumpy'
                END AS demand_class
         FROM st CROSS JOIN months)
       SELECT demand_class, count(*)::BIGINT AS n_parts
       FROM cls GROUP BY demand_class""",
)
def q_demand_classes(spark, sf_dir):
    """Syntetos-Boylan demand-pattern classification (IJF 2005): each
    part's monthly demand lands in the smooth / intermittent / erratic
    / lumpy quadrant by ADI (average inter-demand interval, months per
    demand-month) vs CV² of nonzero demand, with the canonical 1.32 /
    0.49 cutoffs — the router that decides Croston-style vs standard
    forecasting per SKU. BOTH boundary tests are exact integer
    cross-multiplications (100·T ≷ 132·n and 100(nQ−S²) ≷ 49·S²), so
    the quadrant assignment is bit-deterministic. One fact census, one
    part-grain pass, a 4-row class census."""
    dec = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(F.date_trunc("month", "l_shipdate")).distinct().count()
    md = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
    ).agg(F.sum("l_quantity").cast("long").alias("q"))
    st = md.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q").cast(dec) * F.col("q").cast(dec)).cast(dec).alias("qq"),
    )
    var_num = F.lit(100).cast(dec) * (
        F.col("n_d").cast(dec) * F.col("qq") - F.col("s").cast(dec) * F.col("s").cast(dec)
    )
    cv2_small = var_num < F.lit(49).cast(dec) * F.col("s").cast(dec) * F.col("s").cast(dec)
    adi_small = F.lit(100 * t) < 132 * F.col("n_d")
    cls = st.select(
        F.when(adi_small & cv2_small, "smooth")
        .when(~adi_small & cv2_small, "intermittent")
        .when(adi_small, "erratic")
        .otherwise("lumpy")
        .alias("demand_class")
    )
    return cls.groupBy("demand_class").agg(F.count(F.lit(1)).cast("long").alias("n_parts"))



_RBO_W = (0.1, 0.045, 0.027, 0.018225, 0.013122)  # (1-p)·p^(d-1)/d, p=0.9



def _rbo_sql() -> str:
    from pliers_spark.operators.ir import bm25_rerank_sql, bm25_topk_sql

    seeds = """seeds AS (
         SELECT doc_id, string_split(trim(text), ' ') AS t
         FROM documents ORDER BY doc_id LIMIT 8),
       queries AS (
         SELECT doc_id AS q_id, unnest(t[1:6]) AS term FROM seeds)"""
    xs = ", ".join(
        f"sum((ra <= {d} AND rb <= {d})::INT)::BIGINT AS x{d}" for d in range(1, 6)
    )
    ao = "(60 * x1 + 30 * x2 + 20 * x3 + 15 * x4 + 12 * x5)"
    rbo = " + ".join(f"{w} * x{d}" for d, w in enumerate(_RBO_W, 1))
    return f"""WITH la AS (
         SELECT q_id, doc_id, rank AS ra FROM (
           WITH {seeds}, {bm25_topk_sql(k=5)})),
       lb AS (
         SELECT q_id, doc_id, rank AS rb FROM (
           WITH {seeds}, {bm25_rerank_sql(k1=20, k=5)})),
       j AS (
         SELECT coalesce(la.q_id, lb.q_id) AS q_id,
                coalesce(la.ra, 99) AS ra, coalesce(lb.rb, 99) AS rb
         FROM la FULL JOIN lb ON la.q_id = lb.q_id AND la.doc_id = lb.doc_id),
       x AS (SELECT q_id, {xs} FROM j GROUP BY q_id)
       SELECT q_id, x5 AS overlap_at_5,
              round({ao}::DOUBLE / 300.0, 6) AS avg_overlap,
              round(({rbo})::DOUBLE, 6) AS rbo_min5
       FROM x"""



@query("rbo_rankings", _rbo_sql())
def q_rbo_rankings(spark, sf_dir):
    """Rank-biased overlap (depth-5 partial sum, p=0.9; Webber, Moffat
    & Zobel, TOIS 2010) plus Fagin average overlap between the LEXICAL
    BM25 top-5 and the SEMANTIC rerank top-5 for the same queries —
    the rank-agreement audit that says how much the dense stage
    actually changes the lexical ordering (RBO ≈ 1 means the reranker
    is a no-op; low RBO + good `mrr_recall` means it genuinely adds
    signal). Overlap counts X_d are exact ints per query; average
    overlap uses the exact common-denominator-60 integer sum; the RBO
    weights are shared Python literals applied in fixed expression
    order."""
    from pliers_spark.operators.ir import bm25_rerank, bm25_topk

    docs = _docs(spark, sf_dir)
    seeds = (
        docs.orderBy("doc_id").limit(8)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.slice(T.tokenize(F.col("text")), 1, 6)).alias("term"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    la = bm25_topk(docs, seeds, k=5).select("q_id", "doc_id", F.col("rank").alias("ra"))
    lb = bm25_rerank(docs, seeds, emb, k1=20, k=5).select(
        "q_id", "doc_id", F.col("rank").alias("rb")
    )
    j = la.join(lb, ["q_id", "doc_id"], "full").select(
        "q_id",
        F.coalesce("ra", F.lit(99)).alias("ra"),
        F.coalesce("rb", F.lit(99)).alias("rb"),
    )
    xs = [
        F.sum(((F.col("ra") <= d) & (F.col("rb") <= d)).cast("int")).cast("long").alias(f"x{d}")
        for d in range(1, 6)
    ]
    x = j.groupBy("q_id").agg(*xs)
    ao = (
        60 * F.col("x1") + 30 * F.col("x2") + 20 * F.col("x3")
        + 15 * F.col("x4") + 12 * F.col("x5")
    )
    rbo = sum(
        (F.lit(w) * F.col(f"x{d}") for d, w in enumerate(_RBO_W, 1)), F.lit(0.0)
    )
    return x.select(
        "q_id", F.col("x5").alias("overlap_at_5"),
        F.round(ao.cast("double") / F.lit(300.0), 6).alias("avg_overlap"),
        F.round(rbo, 6).alias("rbo_min5"),
    )



# --------------------------------------------------------------------------
# batch 51: Hurst exponent (R/S), Shapley channel attribution

_HURST_SCALES = (4, 8, 16)

import math as _math  # noqa: E402


_LN_SCALES = {s: round(_math.log(s), 9) for s in _HURST_SCALES}



def _hurst_sql() -> str:
    scale_rows = []
    blocks = []
    daily_bs = []
    for sc in _HURST_SCALES:
        daily_bs.append(
            f"daily_b_{sc} AS (SELECT ((rn - 1) // {sc})::BIGINT AS blk, rn, c FROM daily)"
        )
        blocks.append(f"""blk_{sc} AS (
         SELECT blk, c,
                sum(c) OVER (PARTITION BY blk ORDER BY rn) AS cum,
                row_number() OVER (PARTITION BY blk ORDER BY rn) AS t
         FROM daily_b_{sc}),
       st_{sc} AS (
         SELECT blk, count(*)::BIGINT AS n, sum(c)::BIGINT AS sm,
                sum(c::HUGEINT * c::HUGEINT) AS q
         FROM daily_b_{sc} GROUP BY blk),
       y_{sc} AS (
         SELECT b.blk, st.n, st.sm, st.q,
                st.n::HUGEINT * b.cum::HUGEINT - b.t::HUGEINT * st.sm::HUGEINT AS yn
         FROM blk_{sc} b JOIN st_{sc} st USING (blk) WHERE st.n = {sc}),
       rs_{sc} AS (
         SELECT blk,
                CAST(round(1000000.0 * (max(yn) - min(yn))::DOUBLE
                           / sqrt((max(n)::HUGEINT * max(q)
                                   - max(sm)::HUGEINT * max(sm)::HUGEINT)::DOUBLE))
                     AS BIGINT) AS rs_fp
         FROM y_{sc}
         GROUP BY blk
         HAVING max(n)::HUGEINT * max(q) - max(sm)::HUGEINT * max(sm)::HUGEINT > 0)""")
        scale_rows.append(f"""(
          SELECT {sc}::BIGINT AS scale, {_LN_SCALES[sc]}::DOUBLE AS ln_s,
                 count(*)::BIGINT AS n_blocks,
                 avg(rs_fp)::DOUBLE AS rs_mean_fp
          FROM rs_{sc})""")
    return (
        """WITH daily AS (
         SELECT date_trunc('day', ts)::TIMESTAMP AS day, count(*)::BIGINT AS c,
                row_number() OVER (ORDER BY date_trunc('day', ts)) AS rn
         FROM events GROUP BY date_trunc('day', ts)),
       """
        + ",\n       ".join(daily_bs)
        + ",\n       "
        + ",\n       ".join(blocks)
        + ",\n       pts AS ("
        + " UNION ALL ".join(scale_rows)
        + """),
       valid AS (SELECT * FROM pts WHERE n_blocks > 0 AND rs_mean_fp > 0),
       reg AS (
         SELECT count(*)::BIGINT AS k,
                sum(ln_s) AS sx, sum(ln(rs_mean_fp / 1000000.0)) AS sy,
                sum(ln_s * ln_s) AS sxx,
                sum(ln_s * ln(rs_mean_fp / 1000000.0)) AS sxy
         FROM valid)
       SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days, reg.k AS n_scales,
              CASE WHEN reg.k >= 2 AND reg.k * sxx - sx * sx > 0
                   THEN round((reg.k * sxy - sx * sy) / (reg.k * sxx - sx * sx), 4)
              END AS hurst_h
       FROM reg"""
    )



@query("hurst_exponent", _hurst_sql())
def q_hurst_exponent(spark, sf_dir):
    """Hurst exponent via rescaled-range analysis (Hurst 1951;
    Mandelbrot & Wallis 1969): the global daily event-count series is
    cut into complete blocks at scales {4, 8, 16} days; per block,
    R/S = (max−min of cumulative deviations) / std — computed as the
    EXACT integer numerator n·cum − t·S over √(nQ−S²) so both engines
    produce identical micro-unit values — and H is the log-log OLS
    slope of mean R/S vs scale (literal ln-scale x values; 4dp — a
    3-point regression slope amplifies ulps). H ≈ 0.5 = memoryless,
    H > 0.5 = persistent trends (capacity forecasts must widen), the
    classic long-memory diagnostic. One daily census; per-scale block
    windows on the (tiny) day grain."""
    from pliers_spark.operators._util import epoch_micros  # noqa: F401

    ev = _events(spark, sf_dir)
    dec = "decimal(38,0)"
    daily = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select("*", F.row_number().over(Window.orderBy("day")).alias("rn"))
        .stableCheckpoint(eager=True)
    )
    n_days = daily.count()
    pts = []
    for s in _HURST_SCALES:
        blk = F.floor((F.col("rn") - 1) / s).cast("long").alias("blk")
        b = daily.select(blk, "rn", "c")
        wb = Window.partitionBy("blk").orderBy("rn")
        bb = b.select(
            "blk", "c",
            F.sum("c").over(wb.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
            F.row_number().over(wb).alias("t"),
        )
        st = b.groupBy("blk").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sm"),
            F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).cast(dec).alias("q"),
        )
        y = bb.join(st, "blk").where(F.col("n") == s).select(
            "blk", "n", "sm", "q",
            (
                F.col("n").cast(dec) * F.col("cum").cast(dec)
                - F.col("t").cast(dec) * F.col("sm").cast(dec)
            ).alias("yn"),
        )
        var = F.max(F.col("n").cast(dec) * F.col("q") - F.col("sm").cast(dec) * F.col("sm").cast(dec))
        rs = (
            y.groupBy("blk")
            .agg(
                F.round(
                    F.lit(1e6)
                    * (F.max("yn") - F.min("yn")).cast("double")
                    / F.sqrt(var.cast("double")),
                    0,
                ).cast("long").alias("rs_fp"),
                var.alias("v"),
            )
            .where(F.col("v") > 0)
        )
        agg = rs.agg(
            F.lit(s).cast("long").alias("scale"),
            F.lit(_LN_SCALES[s]).alias("ln_s"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.avg("rs_fp").alias("rs_mean_fp"),
        )
        pts.append(agg)
    all_pts = pts[0]
    for p in pts[1:]:
        all_pts = all_pts.unionAll(p)
    valid = all_pts.where((F.col("n_blocks") > 0) & (F.col("rs_mean_fp") > 0))
    reg = valid.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ln_s").alias("sx"),
        F.sum(F.log(F.col("rs_mean_fp") / F.lit(1e6))).alias("sy"),
        F.sum(F.col("ln_s") * F.col("ln_s")).alias("sxx"),
        F.sum(F.col("ln_s") * F.log(F.col("rs_mean_fp") / F.lit(1e6))).alias("sxy"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    den = d_("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    return reg.select(
        F.lit(n_days).cast("long").alias("n_days"),
        F.col("k").alias("n_scales"),
        F.when(
            (F.col("k") >= 2) & (den > 0),
            F.round((d_("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / den, 4),
        ).alias("hurst_h"),
    )



_FACT_SQL = "CASE {v} WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040 ELSE 40320 END"



@query(
    "shapley_attribution",
    f"""WITH fp AS (
         SELECT user_id, min(CASE WHEN event_type = 'purchase'
                                  THEN epoch_us(ts) END) AS p_u
         FROM events GROUP BY user_id),
       path AS (
         SELECT e.user_id,
                list_sort(list_distinct(list(e.event_type))) AS chans,
                max((fp.p_u IS NOT NULL)::INT)::INT AS converted
         FROM events e JOIN fp ON fp.user_id = e.user_id
         WHERE e.event_type <> 'purchase'
           AND (fp.p_u IS NULL OR epoch_us(e.ts) < fp.p_u)
         GROUP BY e.user_id),
       subsets AS (
         SELECT array_to_string(chans, ',') AS skey, len(chans)::BIGINT AS sz,
                chans,
                count(*)::BIGINT AS n_paths, sum(converted)::BIGINT AS n_conv
         FROM path GROUP BY chans),
       v AS (SELECT skey, sz, chans,
                    CAST(round(1000000.0 * n_conv / n_paths) AS BIGINT) AS v_fp
             FROM subsets),
       kk AS (SELECT count(DISTINCT event_type)::BIGINT AS k
              FROM events WHERE event_type <> 'purchase'),
       exploded AS (
         SELECT skey, sz, v_fp, unnest(chans) AS chan, chans FROM v),
       keyed AS (
         SELECT chan, sz, v_fp,
                array_to_string(list_sort(list_filter(chans, c -> c <> chan)), ',')
                  AS skey_minus
         FROM exploded),
       contrib AS (
         SELECT k2.chan, k2.sz,
                CAST(round(1000000.0
                     * (CASE (k2.sz - 1)::INT WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040 ELSE 40320 END)::DOUBLE
                     * (CASE (kk.k - k2.sz)::INT WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040 ELSE 40320 END)::DOUBLE
                     / (CASE kk.k::INT WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040 ELSE 40320 END)::DOUBLE) AS BIGINT) AS w_ppm,
                k2.v_fp - coalesce(vm.v_fp, 0) AS dv_fp
         FROM keyed k2
         LEFT JOIN v vm ON vm.skey = k2.skey_minus
         CROSS JOIN kk)
       SELECT chan AS channel,
              round(sum(w_ppm::HUGEINT * dv_fp::HUGEINT)::DOUBLE
                    / 1000000000000.0, 6) AS shapley_value
       FROM contrib GROUP BY chan""",
)
def q_shapley_attribution(spark, sf_dir):
    """Shapley-value channel attribution (Dalessandro et al. 2012 /
    Zhao, Mahboobi & Bagheri 2018): each user's pre-purchase channel
    SET is a coalition; v(S) = observed conversion rate of paths with
    exactly that set (0 for unobserved coalitions — the standard
    data-driven convention); each channel's credit is the exact
    Shapley sum Σ w(|S|)·(v(S) − v(S∖{{i}})) with w = (s−1)!(k−s)!/k!
    from a literal factorial table. Coalition values round once to ppm
    ints, weights round once to ppm ints, and the per-channel sum is
    exact integer arithmetic — the fair-division answer to 'which
    touchpoint deserves the conversion', replacing first/last-touch
    heuristics. The subset census is tiny (≤ 2^k rows
    for k event types) after one user-grain pass."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    u = epoch_micros(ev, "ts")
    fp = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", u)).alias("p_u")
    )
    path = (
        ev.select("user_id", "event_type", u.alias("t_us"))
        .join(fp, "user_id")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("p_u").isNull() | (F.col("t_us") < F.col("p_u")))
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(F.array_distinct(F.collect_list("event_type"))).alias("chans"),
            F.max(F.col("p_u").isNotNull().cast("int")).alias("converted"),
        )
    )
    subsets = path.groupBy("chans").agg(
        F.count(F.lit(1)).cast("long").alias("n_paths"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    v = subsets.select(
        F.concat_ws(",", "chans").alias("skey"),
        F.size("chans").cast("long").alias("sz"),
        "chans",
        F.round(F.lit(1e6) * F.col("n_conv") / F.col("n_paths"), 0).cast("long").alias("v_fp"),
    ).stableCheckpoint(eager=True)  # both sides of the coalition lookup
    k = (
        ev.where(F.col("event_type") != "purchase")
        .select("event_type").distinct().count()
    )
    fact = [1, 1, 2, 6, 24, 120, 720, 5040, 40320]

    def w_ppm(sz: int) -> int:
        return round(1e6 * fact[sz - 1] * fact[k - sz] / fact[k])

    wmap = F.create_map(*[F.lit(x) for s in range(1, k + 1) for x in (s, w_ppm(s))])
    exploded = v.select(
        "skey", "sz", "v_fp", F.explode("chans").alias("chan"), "chans"
    ).select(
        "chan", "sz", "v_fp",
        F.concat_ws(
            ",", F.filter("chans", lambda c: c != F.col("chan"))
        ).alias("skey_minus"),
    )
    vm = v.select(F.col("skey").alias("skey_minus"), F.col("v_fp").alias("vm_fp"))
    dec = "decimal(38,0)"
    contrib = exploded.join(vm, "skey_minus", "left").select(
        "chan",
        wmap[F.col("sz")].cast("long").alias("w_ppm"),
        (F.col("v_fp") - F.coalesce("vm_fp", F.lit(0))).alias("dv_fp"),
    )
    return contrib.groupBy(F.col("chan").alias("channel")).agg(
        F.round(
            F.sum(F.col("w_ppm").cast(dec) * F.col("dv_fp").cast(dec)).cast("double")
            / F.lit(1e12),
            6,
        ).alias("shapley_value")
    )



# --------------------------------------------------------------------------
# batch 52: hub-removal resilience, split leakage audit, Breusch-Pagan

@query(
    "hub_resilience",
    """WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e AS (
         SELECT DISTINCT a.l_partkey AS u, bb.l_partkey AS v
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey),
       sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
       deg AS (SELECT a AS node, count(*)::BIGINT AS d FROM sym GROUP BY a),
       hubs AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 10),
       e2 AS (
         SELECT e.u, e.v FROM e
         WHERE NOT EXISTS (SELECT 1 FROM hubs h WHERE h.node = e.u)
           AND NOT EXISTS (SELECT 1 FROM hubs h WHERE h.node = e.v)),
       edges1 AS (SELECT u AS src, v AS dst FROM e
                  UNION SELECT v, u FROM e),
       r1(node, peer) AS (
         SELECT src, src FROM edges1
         UNION SELECT r.node, g.dst FROM r1 r JOIN edges1 g ON r.peer = g.src),
       cc1 AS (SELECT node, min(peer) AS cid FROM r1 GROUP BY node),
       g1 AS (SELECT max(cnt)::BIGINT AS giant FROM
              (SELECT cid, count(*) AS cnt FROM cc1 GROUP BY cid)),
       edges2 AS (SELECT u AS src, v AS dst FROM e2
                  UNION SELECT v, u FROM e2),
       r2(node, peer) AS (
         SELECT src, src FROM edges2
         UNION SELECT r.node, g.dst FROM r2 r JOIN edges2 g ON r.peer = g.src),
       cc2 AS (SELECT node, min(peer) AS cid FROM r2 GROUP BY node),
       g2 AS (SELECT coalesce(max(cnt), 0)::BIGINT AS giant FROM
              (SELECT cid, count(*) AS cnt FROM cc2 GROUP BY cid))
       SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
              (SELECT count(*) FROM e)::BIGINT AS n_edges,
              g1.giant AS giant_before,
              (SELECT count(*) FROM e2)::BIGINT AS edges_after,
              g2.giant AS giant_after,
              round(g2.giant::DOUBLE / g1.giant::DOUBLE, 6) AS giant_retention
       FROM g1 CROSS JOIN g2""",
)
def q_hub_resilience(spark, sf_dir):
    """Attack-tolerance audit (Albert, Jeong & Barabási, Nature 2000):
    delete the 10 highest-degree hubs from the co-purchase graph and
    measure how much of the giant connected component survives —
    scale-free graphs shatter under targeted hub removal while staying
    robust to random failure, and giant_retention is the one number
    that says which regime this graph is in (and how exposed any
    hub-dependent pipeline is). Two CC runs (pointer-jumping operator)
    on the full and hub-removed edge lists; hub selection is a
    distributed top-k; all counts exact."""
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
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).withColumnRenamed("u", "node")
    hubs = deg.orderBy(F.desc("d"), "node").limit(10).select("node").stableCheckpoint(eager=True)
    e2 = (
        e.join(hubs.withColumnRenamed("node", "u"), "u", "left_anti")
        .join(hubs.withColumnRenamed("node", "v"), "v", "left_anti")
        .select("u", "v")
        .stableCheckpoint(eager=True)
    )
    def giant(edges_df):
        if edges_df.limit(1).count() == 0:
            return 0
        cc = D.connected_components(edges_df.select(F.col("u").alias("id_a"), F.col("v").alias("id_b")))
        return (
            cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c")).collect()[0][0]
        )
    g1 = giant(e)
    g2 = giant(e2)
    n_nodes = deg.count()
    n_edges = e.count()
    edges_after = e2.count()
    return spark.createDataFrame(
        [(n_nodes, n_edges, g1, edges_after, g2, round(g2 / g1, 6) if g1 else None)],
        "n_nodes long, n_edges long, giant_before long, edges_after long, "
        "giant_after long, giant_retention double",
    )



def _split_leak_sql() -> str:
    return f"""WITH {_simhash_pairs_cte()},
       assign AS (
         SELECT doc_id,
                CASE WHEN ({md5_int_sql('text', seed=13)}) % 100 < 80 THEN 'train'
                     WHEN ({md5_int_sql('text', seed=13)}) % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split_content,
                CASE WHEN ({md5_int_sql('CAST(doc_id AS VARCHAR)', seed=13)}) % 100 < 80
                          THEN 'train'
                     WHEN ({md5_int_sql('CAST(doc_id AS VARCHAR)', seed=13)}) % 100 < 90
                          THEN 'val'
                     ELSE 'test' END AS split_id
         FROM documents),
       j AS (
         SELECT p.id_a, p.id_b,
                a.split_content AS ca, b.split_content AS cb,
                a.split_id AS ia, b.split_id AS ib
         FROM nd_pairs p
         JOIN assign a ON a.doc_id = p.id_a
         JOIN assign b ON b.doc_id = p.id_b)
       SELECT 'content_hash' AS scheme, count(*)::BIGINT AS n_pairs,
              sum((ca <> cb)::INT)::BIGINT AS n_straddle,
              round(sum((ca <> cb)::INT)::DOUBLE / count(*), 6) AS straddle_rate
       FROM j
       UNION ALL
       SELECT 'id_hash', count(*)::BIGINT,
              sum((ia <> ib)::INT)::BIGINT,
              round(sum((ia <> ib)::INT)::DOUBLE / count(*), 6)
       FROM j"""



@query("split_leakage_audit", _split_leak_sql())
def q_split_leakage_audit(spark, sf_dir):
    """Train/test leakage audit over NEAR-duplicate pairs: for every
    SimHash near-dup pair, does the pair straddle splits under (a) the
    engine's content-hash assignment (`split_assign` — exact dups
    provably co-located, near-dups mostly so since identical text
    hashes identically) vs (b) a naive id-hash split (near-dups land
    independently ⇒ ≈2·p(1−p) straddle). The side-by-side rate is the
    evidence that the leak-proof split discipline actually buys leak
    reduction — the audit Lee et al. 2022 argue every dedup-aware
    eval needs. One pair list (banded, never all-pairs) joined twice
    to the doc-grain assignment."""
    docs = _docs(spark, sf_dir)
    pairs = D.simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=_SIMHASH_BITS, bands=4, max_hamming=3
    ).select("id_a", "id_b")
    bc = F.pmod(md5_int(F.col("text"), seed=13), F.lit(100))
    bi = F.pmod(md5_int(F.col("doc_id").cast("string"), seed=13), F.lit(100))
    def split(b):
        return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    assign = docs.select(
        "doc_id", split(bc).alias("sc"), split(bi).alias("si")
    ).stableCheckpoint(eager=True)
    j = (
        pairs.join(assign.select(F.col("doc_id").alias("id_a"),
                                 F.col("sc").alias("ca"), F.col("si").alias("ia")), "id_a")
        .join(assign.select(F.col("doc_id").alias("id_b"),
                            F.col("sc").alias("cb"), F.col("si").alias("ib")), "id_b")
        .stableCheckpoint(eager=True)
    )
    def row(scheme, a, bcol):
        return j.agg(
            F.lit(scheme).alias("scheme"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col(a) != F.col(bcol)).cast("int")).cast("long").alias("n_straddle"),
            F.round(
                F.sum((F.col(a) != F.col(bcol)).cast("int")).cast("double") / F.count(F.lit(1)), 6
            ).alias("straddle_rate"),
        ).select("scheme", "n_pairs", "n_straddle", "straddle_rate")
    return row("content_hash", "ca", "cb").unionAll(row("id_hash", "ia", "ib"))



@query(
    "heteroscedasticity_bp",
    """WITH f AS (
         SELECT len(string_split(trim(text), ' '))::BIGINT AS x,
                n_chars::BIGINT AS y
         FROM documents),
       s1 AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(x::HUGEINT * x::HUGEINT) AS sxx,
                sum(x::HUGEINT * y::HUGEINT) AS sxy
         FROM f),
       coef AS (
         SELECT n, sx, sxx,
                (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS b,
                (sy::DOUBLE - (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                              / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                              * sx::DOUBLE) / n::DOUBLE AS a
         FROM s1),
       e2 AS (
         SELECT f.x,
                CAST(round((f.y::DOUBLE - coef.a - coef.b * f.x::DOUBLE)
                           * (f.y::DOUBLE - coef.a - coef.b * f.x::DOUBLE)) AS BIGINT)
                  AS e2_fp
         FROM f CROSS JOIN coef),
       s2 AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                sum(e2_fp)::HUGEINT AS sy,
                sum(x::HUGEINT * x::HUGEINT) AS sxx,
                sum(x::HUGEINT * e2_fp::HUGEINT) AS sxy,
                sum(e2_fp::HUGEINT * e2_fp::HUGEINT) AS syy
         FROM e2)
       SELECT n,
              round((SELECT b FROM coef), 6) AS slope,
              CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                    AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                   THEN round(n::DOUBLE
                        * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                        * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                        / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                           * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 4)
              END AS lm_stat
       FROM s2""",
)
def q_heteroscedasticity_bp(spark, sf_dir):
    """Breusch-Pagan heteroscedasticity test (Econometrica 1979) on the
    chars ~ tokens regression: squared OLS residuals regressed on the
    predictor; LM = n·R² ~ χ²(1) under homoscedasticity — the audit
    that says whether per-group variance modeling (or robust SEs) is
    needed before trusting the fit's intervals. First-pass sufficient
    stats are exact ints; residual squares round ONCE per row to
    integer units (the doubles a, b are the identical expression on
    both engines) so second-pass sums are exact; LM rounds at 4dp
    (quotient of near-collinear moments)."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    f = d.select(
        F.size(T.tokenize(F.col("text"))).cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    ).stableCheckpoint(eager=True)  # two passes
    s1 = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).cast(dec).alias("sxy"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    bnum = d_("n") * d_("sxy") - d_("sx") * d_("sy")
    bden = d_("n") * d_("sxx") - d_("sx") * d_("sx")
    coef = s1.select(
        "n", (bnum / bden).alias("b"),
        ((d_("sy") - bnum / bden * d_("sx")) / d_("n")).alias("a"),
    )
    e2 = f.crossJoin(F.broadcast(coef)).select(
        "x",
        F.round(
            (d_("y") - F.col("a") - F.col("b") * d_("x"))
            * (d_("y") - F.col("a") - F.col("b") * d_("x")),
            0,
        ).cast("long").alias("e2_fp"),
        "b",
    )
    s2 = e2.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("e2_fp").cast(dec).alias("sy2"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("e2_fp").cast(dec)).cast(dec).alias("sxy2"),
        F.sum(F.col("e2_fp").cast(dec) * F.col("e2_fp").cast(dec)).cast(dec).alias("syy"),
        F.first("b").alias("b"),
    )
    vx = d_("n") * d_("sxx") - d_("sx") * d_("sx")
    vy = d_("n") * d_("syy") - d_("sy2") * d_("sy2")
    cv = d_("n") * d_("sxy2") - d_("sx") * d_("sy2")
    return s2.select(
        "n",
        F.round(F.col("b"), 6).alias("slope"),
        F.when((vx > 0) & (vy > 0), F.round(d_("n") * cv * cv / (vx * vy), 4)).alias("lm_stat"),
    )



# --------------------------------------------------------------------------
# batch 53: leave-one-out source value, embedding isotropy, MATTR diversity

def _loo_sql() -> str:
    return f"""WITH q AS (SELECT * FROM ({_QUALITY_ORACLE}) t),
       qs AS (
         SELECT d.source, CAST(round(q.quality * 1000000.0) AS BIGINT) AS q_fp
         FROM documents d JOIN q ON q.doc_id = d.doc_id),
       per AS (SELECT source, count(*)::BIGINT AS n, sum(q_fp)::BIGINT AS s
               FROM qs GROUP BY source),
       tot AS (SELECT sum(n)::BIGINT AS nn, sum(s)::BIGINT AS ss FROM per)
       SELECT source, n AS n_docs,
              round(ss::DOUBLE / nn / 1000000.0, 6) AS mean_with,
              round((ss - s)::DOUBLE / (nn - n) / 1000000.0, 6) AS mean_without,
              round((ss::DOUBLE / nn - (ss - s)::DOUBLE / (nn - n)) / 1000000.0, 6)
                AS contribution
       FROM per CROSS JOIN tot WHERE nn > n"""



@query("loo_source_value", _loo_sql())
def q_loo_source_value(spark, sf_dir):
    """Leave-one-out source valuation (the cheapest member of the data-
    valuation family; the LOO baseline data-Shapley papers compare
    against): each source's contribution = corpus mean quality WITH it
    minus WITHOUT it — computed purely from per-source sufficient
    stats, so valuing S sources costs ONE census, not S recomputations
    (the algebraic trick that makes this viable at 100 TB). Positive
    contribution = the source pulls the corpus up; feeds the same
    decisions as `doremi_step` with an ablation framing. Quality is
    6dp-rounded per doc so the micro-unit sums are exact; two
    divisions per source row."""
    d = _docs(spark, sf_dir)
    qs = d.select(
        "source", F.round(T.quality_score("text") * F.lit(1e6), 0).cast("long").alias("q_fp")
    )
    per = qs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("q_fp").cast("long").alias("s")
    )
    tot = per.agg(F.sum("n").cast("long").alias("nn"), F.sum("s").cast("long").alias("ss"))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    with_ = d_("ss") / d_("nn")
    without = (d_("ss") - d_("s")) / (d_("nn") - d_("n"))
    return (
        per.crossJoin(F.broadcast(tot))
        .where(F.col("nn") > F.col("n"))
        .select(
            "source", F.col("n").alias("n_docs"),
            F.round(with_ / F.lit(1e6), 6).alias("mean_with"),
            F.round(without / F.lit(1e6), 6).alias("mean_without"),
            F.round((with_ - without) / F.lit(1e6), 6).alias("contribution"),
        )
    )



@query(
    "embedding_isotropy",
    f"""WITH pairs AS (
         SELECT CAST(round(round({_DOT_SQL} / ({_NORM_A} * {_NORM_Q}), 6)
                     * 1000000.0) AS BIGINT) AS cos_fp
         FROM embeddings a JOIN embeddings q
           ON a.label = q.label AND a.vec_id < q.vec_id),
       norms AS (
         SELECT CAST(round(1000000.0 *
                sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))))
                AS BIGINT) AS nrm_fp
         FROM embeddings),
       ns AS (
         SELECT count(*)::BIGINT AS n, sum(nrm_fp)::BIGINT AS s,
                sum(nrm_fp::HUGEINT * nrm_fp::HUGEINT) AS q2
         FROM norms),
       ps AS (
         SELECT count(*)::BIGINT AS n_pairs,
                sum(cos_fp)::BIGINT AS sc, sum(abs(cos_fp))::BIGINT AS sa
         FROM pairs)
       SELECT ns.n AS n_vecs, ps.n_pairs,
              round(ps.sc::DOUBLE / ps.n_pairs / 1000000.0, 6) AS mean_cosine,
              round(ps.sa::DOUBLE / ps.n_pairs / 1000000.0, 6) AS mean_abs_cosine,
              round(sqrt(ns.q2::DOUBLE / ns.n - (ns.s::DOUBLE / ns.n) * (ns.s::DOUBLE / ns.n))
                    / (ns.s::DOUBLE / ns.n), 6) AS norm_cv
       FROM ns CROSS JOIN ps""",
)
def q_embedding_isotropy(spark, sf_dir):
    """Embedding-space isotropy audit (Ethayarajh, EMNLP 2019; Mu &
    Viswanath's common-direction observation): the mean pairwise cosine
    within buckets (≫ 0 means a dominant common direction is eating the
    representation — cosine similarities stop being informative) and
    the coefficient of variation of vector norms (hub-norm pathology).
    These two numbers decide whether to mean-center / whiten before
    `semantic_dedup`/`mutual_knn` trust cosine at all. Pair scoring is
    the bucket-gated join (never all-pairs across buckets); cosines and
    norms round once to micro-units so all sums are exact."""
    from pliers_spark.operators.similarity import _dot, _norm  # reuse exact exprs

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"), "label")
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"), "label")
    pairs = (
        a.join(b, "label")
        .where(F.col("ia") < F.col("ib"))
        .select(
            F.round(
                F.round(_dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))), 6)
                * F.lit(1e6),
                0,
            ).cast("long").alias("cos_fp")
        )
    )
    norms = emb.select(
        F.round(F.lit(1e6) * _norm(F.col("embedding")), 0).cast("long").alias("nrm_fp")
    )
    dec = "decimal(38,0)"
    ns = norms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nrm_fp").cast("long").alias("s"),
        F.sum(F.col("nrm_fp").cast(dec) * F.col("nrm_fp").cast(dec)).cast(dec).alias("q2"),
    )
    ps = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("cos_fp").cast("long").alias("sc"),
        F.sum(F.abs("cos_fp")).cast("long").alias("sa"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = d_("s") / d_("n")
    return ns.crossJoin(ps).select(
        F.col("n").alias("n_vecs"), "n_pairs",
        F.round(d_("sc") / d_("n_pairs") / F.lit(1e6), 6).alias("mean_cosine"),
        F.round(d_("sa") / d_("n_pairs") / F.lit(1e6), 6).alias("mean_abs_cosine"),
        F.round(F.sqrt(d_("q2") / d_("n") - mu * mu) / mu, 6).alias("norm_cv"),
    )



_MATTR_W = 25



@query(
    "mattr_diversity",
    f"""WITH toks AS (
         SELECT doc_id, t.token, t.pos::BIGINT AS pos,
                count(*) OVER (PARTITION BY doc_id) AS n
         FROM (SELECT doc_id,
                      unnest(string_split(trim(text), ' ')) AS token,
                      generate_subscripts(string_split(trim(text), ' '), 1) - 1 AS pos
               FROM documents) t(doc_id, token, pos)),
       eligible AS (SELECT * FROM toks WHERE n >= {_MATTR_W}),
       starts AS (
         SELECT DISTINCT doc_id, s.st::BIGINT AS st
         FROM (SELECT doc_id, max(n)::BIGINT AS n FROM eligible GROUP BY doc_id) d,
              LATERAL (SELECT unnest(range(d.n - {_MATTR_W} + 1)) AS st) s),
       win AS (
         SELECT st.doc_id, st.st, count(DISTINCT e.token)::BIGINT AS types
         FROM starts st
         JOIN eligible e ON e.doc_id = st.doc_id
                        AND e.pos >= st.st AND e.pos < st.st + {_MATTR_W}
         GROUP BY st.doc_id, st.st)
       SELECT doc_id, count(*)::BIGINT AS n_windows,
              round(sum(types)::DOUBLE / (count(*) * {_MATTR_W}.0), 6) AS mattr
       FROM win GROUP BY doc_id""",
)
def q_mattr_diversity(spark, sf_dir):
    """MATTR moving-average type-token ratio (Covington & McFall, JQL
    2010): lexical diversity per document as the mean TTR over every
    {_MATTR_W}-token sliding window — unlike raw TTR it doesn't shrink
    with document length, so it is the comparable diversity feature
    quality classifiers actually use (degenerate/repetitive text scores
    low regardless of length). Window membership is a positional
    band join per doc (bounded: ≤ n windows × w rows per doc — cap
    window count per doc at scale exactly like the mann_kendall pair
    gate); type counts and the final mean are exact, one division."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token")
    ).select(
        "doc_id", "token", F.col("pos").cast("long").alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n"),
    )
    eligible = toks.where(F.col("n") >= _MATTR_W).stableCheckpoint(eager=True)
    doc_n = eligible.groupBy("doc_id").agg(F.max("n").cast("long").alias("n"))
    starts = doc_n.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n") - _MATTR_W)).alias("st"),
    )
    win = (
        starts.join(eligible, "doc_id")
        .where((F.col("pos") >= F.col("st")) & (F.col("pos") < F.col("st") + _MATTR_W))
        .groupBy("doc_id", "st")
        .agg(F.count_distinct("token").cast("long").alias("types"))
    )
    return win.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.round(F.sum("types").cast("double") / (F.count(F.lit(1)) * F.lit(float(_MATTR_W))), 6).alias("mattr"),
    )
