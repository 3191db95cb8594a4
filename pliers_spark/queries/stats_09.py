"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: densest_subgraph, label_propagation, huber_location,
    luhn_summary, soundex_blocking, gini_over_time, log_loss,
    eigenvector_centrality, kish_weights
"""
from __future__ import annotations

from ._registry import F, T, Window, _docs, _events, load_table, query



# --------------------------------------------------------------------------
# batch 69: densest subgraph, label propagation, Huber location

_DSG_ROUNDS = 30

_DSG_NUM, _DSG_DEN = 3, 2  # (1+eps) = 3/2 -> O(log_{1.5} V) rounds, 3-approx



def _dsg_graph_sql() -> str:
    return """op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS MATERIALIZED (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       bb AS MATERIALIZED (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       e0 AS MATERIALIZED (
         SELECT DISTINCT a.l_partkey AS u, b2.l_partkey AS v
         FROM bb a JOIN bb b2 ON a.l_orderkey = b2.l_orderkey
                            AND a.l_partkey < b2.l_partkey)"""



def _dsg_sql(rounds: int = _DSG_ROUNDS) -> str:
    parts = [_dsg_graph_sql()]
    stats = ["SELECT 0 AS r, (SELECT count(DISTINCT u) FROM (SELECT u FROM e0 UNION ALL SELECT v FROM e0)) AS nv, (SELECT count(*) FROM e0) AS ne"]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
         SELECT u AS node, count(*)::BIGINT AS d FROM
           (SELECT u, v FROM {prev} UNION ALL SELECT v, u FROM {prev})
         GROUP BY u),
       st{r} AS MATERIALIZED (
         SELECT count(*)::BIGINT AS nv, (SELECT count(*) FROM {prev})::BIGINT AS ne
         FROM d{r}),
       keep{r} AS MATERIALIZED (
         SELECT d.node FROM d{r} d CROSS JOIN st{r} s
         WHERE {_DSG_DEN} * d.d * s.nv > 2 * {_DSG_NUM} * s.ne),
       e{r} AS MATERIALIZED (
         SELECT e.u, e.v FROM {prev} e
         JOIN keep{r} ka ON ka.node = e.u JOIN keep{r} kb ON kb.node = e.v)"""
        )
        stats.append(
            f"SELECT {r} AS r, (SELECT count(*) FROM keep{r}) AS nv, (SELECT count(*) FROM e{r}) AS ne"
        )
        prev = f"e{r}"
    allst = " UNION ALL ".join(stats)
    return (
        "WITH " + ",\n       ".join(parts)
        + f""",
       allst AS ({allst})
       SELECT r AS best_round, nv::BIGINT AS n_nodes, ne::BIGINT AS n_edges,
              round(ne::DOUBLE / nv, 6) AS density
       FROM allst WHERE nv > 0
       ORDER BY round(1e9 * ne / nv) DESC, r LIMIT 1"""
    )



@query("densest_subgraph", _dsg_sql())
def q_densest_subgraph(spark, sf_dir):
    """Densest-subgraph 3-approximation by round-synchronous peeling
    (Charikar 2000 greedy; Bahmani, Kumar & Vassilvitskii, VLDB 2012
    MapReduce form): each round removes EVERY node whose degree ≤
    2(1+ε)·E/V (ε=½ here), which provably terminates in O(log₁₊ε V)
    rounds and leaves some round whose subgraph density is within
    2(1+ε) of optimal — the distributed answer to "find the spam-farm
    / boilerplate nucleus" that sequential min-degree peeling (one
    node per step) cannot give at 10^12 edges. The removal test
    den·d·V > 2·num·E is exact integer cross-multiplication; the best
    round is a deterministic nano-unit argmax over the per-round
    (V, E) log. Oracle = the same MATERIALIZED unroll; the Spark loop
    stops at the empty graph with a loud 30-round guard."""
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
    log = []
    nv = e.select(F.col("u").alias("n")).unionAll(e.select("v")).distinct().count()
    ne = e.count()
    log.append((0, nv, ne))
    for r in range(1, _DSG_ROUNDS + 1):
        if ne == 0 or nv == 0:
            break
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
        keep = deg.where(
            F.lit(_DSG_DEN) * F.col("d") * F.lit(nv) > F.lit(2 * _DSG_NUM) * F.lit(ne)
        ).select(F.col("u").alias("node"))
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.selectExpr("node AS v"), "v")
            .select("u", "v")
            .stableCheckpoint(eager=True)
        )
        nv = keep.count()
        ne = e.count()
        log.append((r, nv, ne))
    else:
        if ne > 0:
            raise RuntimeError(f"densest-subgraph peel exceeded {_DSG_ROUNDS} rounds")
    rows = [(r, v, ed) for r, v, ed in log if v > 0]
    best = max(rows, key=lambda t: (round(1e9 * t[2] / t[1]), -t[0]))
    return spark.createDataFrame(
        [(best[0], best[1], best[2], round(best[2] / best[1], 6))],
        "best_round long, n_nodes long, n_edges long, density double",
    )



_LPA_ROUNDS = 3



def _lpa_sql(rounds: int = _LPA_ROUNDS) -> str:
    parts = [
        _dsg_graph_sql(),
        """sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM sym)""",
    ]
    prev = "l0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""v{r} AS MATERIALIZED (
         SELECT s.u AS node, ln.lab, count(*)::BIGINT AS c
         FROM sym s JOIN {prev} ln ON ln.node = s.v
         GROUP BY 1, 2),
       l{r} AS MATERIALIZED (
         SELECT node, lab FROM (
           SELECT node, lab,
                  row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
           FROM v{r})
         WHERE rn = 1)"""
        )
        prev = f"l{r}"
    return (
        "WITH " + ",\n       ".join(parts)
        + f"""
       SELECT lab AS community, count(*)::BIGINT AS n_members
       FROM {prev} GROUP BY lab"""
    )



@query("label_propagation", _lpa_sql())
def q_label_propagation(spark, sf_dir):
    """Label-propagation community detection (Raghavan, Albert & Kumara,
    PRE 2007), made DETERMINISTIC: 3 synchronous rounds where every
    node adopts its neighbors' most frequent label, ties broken by the
    smallest label — the classic near-linear community heuristic whose
    usual run-to-run nondeterminism (random order, random ties) is
    exactly what a reproducible pipeline cannot ship. Per round: one
    edge-label join + count + a row_number argmax — the same shuffle
    shape as a CC round, fixed round count (no oscillation risk to
    converge through since the output is the round-3 label census).
    Complements `modularity_q` (scores a GIVEN partition) and
    `dup_clusters` (exact connectivity) with the density-based
    middle ground."""
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
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn("lab", F.col("node"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        wv = Window.partitionBy("node").orderBy(F.desc("c"), "lab")
        labels = (
            votes.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") == 1)
            .select("node", "lab")
            .stableCheckpoint(eager=True)
        )
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )



_HUBER_ROUNDS = 3

_HUBER_KN, _HUBER_KD = 1345, 1000  # k = 1.345 (95% Gaussian efficiency)



def _huber_sql(rounds: int = _HUBER_ROUNDS) -> str:
    parts = [
        """x AS MATERIALIZED (SELECT doc_id, n_chars::BIGINT AS x FROM documents),
       med AS MATERIALIZED (
         SELECT x AS m FROM (
           SELECT x, row_number() OVER (ORDER BY x, doc_id) AS rn,
                  count(*) OVER () AS n FROM x)
         WHERE rn = (n + 1) // 2),
       mad AS MATERIALIZED (
         SELECT d AS s FROM (
           SELECT abs(x.x - med.m) AS d,
                  row_number() OVER (ORDER BY abs(x.x - med.m), x.doc_id) AS rn,
                  count(*) OVER () AS n
           FROM x CROSS JOIN med)
         WHERE rn = (n + 1) // 2),
       mu0 AS MATERIALIZED (SELECT m * 1000000::BIGINT AS mu FROM med)"""
    ]
    prev = "mu0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""w{r} AS MATERIALIZED (
         SELECT x.x,
                CASE WHEN abs(x.x * 1000000 - p.mu) = 0 THEN 1000000000::BIGINT
                     ELSE least(1000000000::BIGINT,
                          round(1e9 * {_HUBER_KN} * mad.s * 1000000.0
                                / ({_HUBER_KD} * abs(x.x * 1000000 - p.mu)))::BIGINT)
                END AS w_nano
         FROM x CROSS JOIN {prev} p CROSS JOIN mad),
       mu{r} AS MATERIALIZED (
         SELECT round(sum(w_nano::HUGEINT * x)::DOUBLE * 1e6
                      / sum(w_nano)::DOUBLE)::BIGINT AS mu
         FROM w{r})"""
        )
        prev = f"mu{r}"
    return (
        "WITH " + ",\n       ".join(parts)
        + f"""
       SELECT round((SELECT mu FROM {prev}) / 1e6, 6) AS huber_mu,
              (SELECT m FROM med)::BIGINT AS median,
              (SELECT s FROM mad)::BIGINT AS mad,
              (SELECT round(avg(x), 6) FROM x) AS mean,
              (SELECT sum(CASE WHEN w_nano < 1000000000 THEN 1 ELSE 0 END)::BIGINT
               FROM w{_HUBER_ROUNDS}) AS n_downweighted"""
    )



@query("huber_location", _huber_sql())
def q_huber_location(spark, sf_dir):
    """Huber M-estimate of location (Huber, Ann. Math. Stat. 1964) for
    document length via 3 IRLS rounds at k=1.345·MAD (95% Gaussian
    efficiency): weights w = min(1, k·s/|x−μ|) re-estimated from the
    exact nearest-rank median and MAD — the robust mean that a few
    giant boilerplate pages cannot drag, where the plain mean (also
    reported) visibly moves. Pairs with `regression_influence` (which
    rows did the dragging). Every round
    rounds its weights once to NANO-units and the iterate to integer
    micro-units, so the fixed-round result is bit-identical
    cross-engine (unrolled MATERIALIZED oracle, the `bradley_terry`
    discipline)."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    x = d.select("doc_id", F.col("n_chars").cast("long").alias("x")).stableCheckpoint(eager=True)
    wn = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    med = (
        x.select("x", F.row_number().over(Window.orderBy("x", "doc_id")).alias("rn"),
                 F.count(F.lit(1)).over(wn).alias("n"))
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("x").alias("m"))
    )
    mad = (
        x.crossJoin(F.broadcast(med))
        .select(
            F.abs(F.col("x") - F.col("m")).alias("d"), "doc_id",
        )
        .select("d", F.row_number().over(Window.orderBy("d", "doc_id")).alias("rn"),
                F.count(F.lit(1)).over(wn).alias("n"))
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("d").alias("s"))
    )
    consts = med.crossJoin(mad).stableCheckpoint(eager=True)  # (m, s)
    mu = consts.select((F.col("m") * 1000000).cast("long").alias("mu"))
    w = None
    for _ in range(_HUBER_ROUNDS):
        j = x.crossJoin(F.broadcast(mu)).crossJoin(F.broadcast(consts.select("s")))
        dev = F.abs(F.col("x") * 1000000 - F.col("mu"))
        w_nano = F.when(dev == 0, F.lit(1000000000).cast("long")).otherwise(
            F.least(
                F.lit(1000000000).cast("long"),
                F.round(
                    F.lit(1e9) * _HUBER_KN * F.col("s") * 1000000.0
                    / (_HUBER_KD * dev),
                    0,
                ).cast("long"),
            )
        )
        w = j.select("x", w_nano.alias("w_nano"))
        mu = w.agg(
            F.round(
                F.sum(F.col("w_nano").cast(dec) * F.col("x")).cast("double") * 1e6
                / F.sum("w_nano").cast("double"),
                0,
            ).cast("long").alias("mu")
        )
    stats = x.agg(F.round(F.avg("x"), 6).alias("mean"))
    ndw = w.agg(
        F.sum((F.col("w_nano") < 1000000000).cast("long")).cast("long").alias("n_downweighted")
    )
    return (
        mu.crossJoin(F.broadcast(consts)).crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(ndw))
        .select(
            F.round(F.col("mu") / 1e6, 6).alias("huber_mu"),
            F.col("m").cast("long").alias("median"),
            F.col("s").cast("long").alias("mad"),
            "mean", "n_downweighted",
        )
    )



# --------------------------------------------------------------------------
# batch 70: Luhn significance scoring, Soundex blocking, Gini over time

_LUHN_W = 10  # passage width in tokens (the passage_bm25 convention)



@query(
    "luhn_summary",
    f"""WITH toks AS (
         SELECT doc_id,
                unnest(range(len(string_split(trim(text), ' '))))::BIGINT AS pos,
                unnest(string_split(trim(text), ' ')) AS token
         FROM documents),
       wc AS (
         SELECT doc_id, token, count(*)::BIGINT AS k
         FROM toks GROUP BY 1, 2),
       sig AS (
         SELECT t.doc_id, t.pos // {_LUHN_W} AS blk,
                CASE WHEN wc.k >= 2 AND length(t.token) >= 4 THEN 1 ELSE 0 END AS s
         FROM toks t JOIN wc ON wc.doc_id = t.doc_id AND wc.token = t.token),
       blocks AS (
         SELECT doc_id, blk::BIGINT AS blk, sum(s)::BIGINT AS n_sig,
                count(*)::BIGINT AS blk_len
         FROM sig GROUP BY 1, 2),
       best AS (
         SELECT doc_id, blk, n_sig, blk_len,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n_sig * n_sig * 1000000 // blk_len DESC,
                                            blk) AS rn
         FROM blocks)
       SELECT doc_id, blk AS best_block, n_sig, blk_len,
              (n_sig * n_sig * 1000000 // blk_len)::BIGINT AS luhn_score_micro
       FROM best WHERE rn = 1""",
)
def q_luhn_summary(spark, sf_dir):
    """Luhn extractive-summarization significance scoring (Luhn, IBM
    J. 1958 — the first automatic abstract algorithm): a token is
    significant if it repeats within its document (k ≥ 2, len ≥ 4 —
    exactly the within-doc adaptation signal `word_burstiness`
    measures corpus-wide); each {_LUHN_W}-token passage scores
    significant² / length, and the best passage per document is the
    extract. Scores are exact integer micro-units (s²·10⁶ ÷ len by
    integer division), the per-doc argmax is a deterministic
    row_number (ties → earliest block). One token census joined back
    to positions — the same two-pass shape as `tfidf`; no floats
    anywhere."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token"))
    wc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("long").alias("k"))
    sig = toks.join(wc, ["doc_id", "token"]).select(
        "doc_id",
        F.floor(F.col("pos") / _LUHN_W).cast("long").alias("blk"),
        ((F.col("k") >= 2) & (F.length("token") >= 4)).cast("long").alias("s"),
    )
    blocks = sig.groupBy("doc_id", "blk").agg(
        F.sum("s").cast("long").alias("n_sig"), F.count(F.lit(1)).cast("long").alias("blk_len")
    )
    score = F.floor(F.col("n_sig") * F.col("n_sig") * 1000000 / F.col("blk_len")).cast("long")
    wb = Window.partitionBy("doc_id").orderBy(F.desc(score), "blk")
    return (
        blocks.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            "doc_id", F.col("blk").alias("best_block"), "n_sig", "blk_len",
            score.alias("luhn_score_micro"),
        )
    )



def _soundex_sql(col: str) -> str:
    # RE2-safe (no backreferences): digit runs collapse via fixed per-digit
    # patterns; h/w removed BEFORE run-collapse per the standard algorithm.
    e = f"lower({col})"
    first = f"upper(substr({e}, 1, 1))"
    mapped = (
        f"translate(substr({e}, 2), 'bfpvcgjkqsxzdtlmnraeiouyhw', "
        f"'111122222222334556000000..')"
    )
    first_digit = (
        f"translate(substr({e}, 1, 1), 'bfpvcgjkqsxzdtlmnraeiouyhw', "
        f"'111122222222334556000000..')"
    )
    run = mapped
    for dd in "123456":
        run = f"regexp_replace({run}, '{dd}+', '{dd}', 'g')"
    # drop separators ('.') AFTER collapsing so h/w do not split runs;
    # then drop vowels ('0'), then drop a leading digit equal to the
    # first letter's code
    body = f"replace({run}, '.', '')"
    for dd in "123456":
        body = f"regexp_replace({body}, '{dd}+', '{dd}', 'g')"
    body = f"replace({body}, '0', '')"
    body = (
        f"CASE WHEN substr({body}, 1, 1) = {first_digit} "
        f"THEN substr({body}, 2) ELSE {body} END"
    )
    return f"substr(concat({first}, {body}, '000'), 1, 4)"



@query(
    "soundex_blocking",
    f"""WITH toks AS (
         SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS tok
         FROM documents),
       sel AS (SELECT tok FROM toks
               WHERE length(tok) >= 4 AND regexp_full_match(tok, '[a-z]+')),
       coded AS (SELECT tok, {_soundex_sql('tok')} AS sdx FROM sel),
       grp AS (
         SELECT sdx, count(*)::BIGINT AS n_tokens,
                min(tok) AS representative
         FROM coded GROUP BY sdx)
       SELECT sdx AS soundex, n_tokens, representative
       FROM grp WHERE n_tokens >= 2""",
)
def q_soundex_blocking(spark, sf_dir):
    """Soundex phonetic blocking (Russell 1918; the Census/record-
    linkage standard): every alphabetic token ≥4 chars maps to its
    4-char phonetic code (first letter + collapsed consonant-class
    digits, h/w transparent to run-collapse, vowels as separators,
    leading digit deduped against the first letter's class), and codes
    shared by ≥2 distinct tokens become candidate blocks — the
    CHEAPEST blocking key in the linkage stack, upstream of
    `jaro_winkler_dups`' scorer (block by Soundex, verify by JW is the
    textbook pipeline). Implemented in pure string expressions —
    translate + 6 fixed run-collapse regexes, RE2-safe (NO
    backreferences, which DuckDB's regex engine lacks) — identical
    text on both engines, zero UDF."""
    d = _docs(spark, sf_dir)
    toks = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("tok"))
        .distinct()
        .where((F.length("tok") >= 4) & F.col("tok").rlike("^[a-z]+$"))
    )
    e = F.lower(F.col("tok"))
    first = F.upper(F.substring(e, 1, 1))
    src = "bfpvcgjkqsxzdtlmnraeiouyhw"
    dst = "111122222222334556000000.."
    mapped = F.translate(F.expr("substr(lower(tok), 2)"), src, dst)
    first_digit = F.translate(F.substring(e, 1, 1), src, dst)
    run = mapped
    for dd in "123456":
        run = F.regexp_replace(run, f"{dd}+", dd)
    body = F.regexp_replace(run, r"\.", "")
    for dd in "123456":
        body = F.regexp_replace(body, f"{dd}+", dd)
    coded = (
        toks.withColumn("_first", first)
        .withColumn("_fd", first_digit)
        .withColumn("_body0", F.regexp_replace(run, r"\.", ""))
    )
    b = F.col("_body0")
    for dd in "123456":
        b = F.regexp_replace(b, f"{dd}+", dd)
    b = F.regexp_replace(b, "0", "")
    coded = coded.withColumn("_body1", b).withColumn(
        "_body",
        F.when(
            F.substring(F.col("_body1"), 1, 1) == F.col("_fd"),
            F.expr("substring(_body1, 2)"),
        ).otherwise(F.col("_body1")),
    )
    coded = coded.select(
        "tok",
        F.substring(F.concat(F.col("_first"), F.col("_body"), F.lit("000")), 1, 4).alias("sdx"),
    )
    return (
        coded.groupBy("sdx").agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.min("tok").alias("representative"),
        )
        .where(F.col("n_tokens") >= 2)
        .select(F.col("sdx").alias("soundex"), "n_tokens", "representative")
    )



@query(
    "gini_over_time",
    """WITH daily AS (
         SELECT date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
                user_id, count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       ranked AS (
         SELECT day, c,
                row_number() OVER (PARTITION BY day ORDER BY c, user_id) AS rk,
                count(*) OVER (PARTITION BY day) AS n,
                sum(c) OVER (PARTITION BY day) AS s
         FROM daily)
       SELECT day, max(n)::BIGINT AS n_users, max(s)::BIGINT AS n_events,
              round(sum((2 * rk - n - 1) * c::HUGEINT)::DOUBLE
                    / (max(n)::HUGEINT * max(s))::DOUBLE, 6) AS gini
       FROM ranked GROUP BY day""",
)
def q_gini_over_time(spark, sf_dir):
    """Daily Gini coefficient of per-user activity concentration —
    inequality as a TIME SERIES (the drift monitor on top of the
    static `pareto_8020`/`gini_tokens` snapshots: a rising activity
    Gini means a shrinking heavy-hitter set is taking over the
    stream, the early warning for the skew defenses in
    operators/skew.py). Per day, Gini = Σ(2·rank−n−1)·cᵢ / (n·Σc) via
    the sorted rank identity — the same O(n log n) collapse
    `energy_distance` uses, exact HUGEINT numerator, one division per
    day; ranks tie-break by user_id identically on both engines."""
    ev = _events(spark, sf_dir)
    dec = "decimal(38,0)"
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long").alias("day"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wday = Window.partitionBy("day")
    ranked = daily.select(
        "day", "c",
        F.row_number().over(wday.orderBy("c", "user_id")).alias("rk"),
        F.count(F.lit(1)).over(wday).alias("n"),
        F.sum("c").over(wday).alias("s"),
    )
    return ranked.groupBy("day").agg(
        F.max("n").cast("long").alias("n_users"),
        F.max("s").cast("long").alias("n_events"),
        F.round(
            F.sum((2 * F.col("rk") - F.col("n") - 1) * F.col("c").cast(dec)).cast("double")
            / (F.max("n").cast(dec) * F.max("s").cast(dec)).cast("double"),
            6,
        ).alias("gini"),
    )



# --------------------------------------------------------------------------
# batch 71: log loss, eigenvector centrality, post-stratification / Kish


@query(
    "log_loss",
    """WITH scored AS (
         SELECT source,
                round(n_chars * 1e6 / (n_chars + 500))::BIGINT AS p_micro,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents),
       terms AS (
         SELECT source,
                round(-1e6 * CASE WHEN y = 1 THEN ln(p_micro / 1e6)
                                  ELSE ln(1.0 - p_micro / 1e6) END)::BIGINT AS t
         FROM scored)
       SELECT source, count(*)::BIGINT AS n,
              round(sum(t) / 1e6 / count(*), 6) AS log_loss
       FROM terms GROUP BY source""",
)
def q_log_loss(spark, sf_dir):
    """Per-source cross-entropy (log loss) of the length-based English
    probability — the PROPER scoring rule companion to
    `brier_calibration` (Brier is quadratic, log loss is the one a
    max-likelihood classifier optimizes) and the per-source breakdown
    `risk_coverage` aggregates away: a source whose log loss spikes is
    where the probability model is confidently wrong, the first place
    a langid/quality scorer needs per-domain recalibration. Per-row
    −ln-likelihood terms round once to micro-units (ln parity pinned);
    exact sums, one division per source. The integer-ratio forecast
    p = n/(n+500) never reaches 0/1, so terms are finite by
    construction."""
    d = _docs(spark, sf_dir)
    scored = d.select(
        "source",
        F.round(F.col("n_chars") * 1e6 / (F.col("n_chars") + 500), 0).cast("long").alias("p_micro"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    t = F.round(
        F.lit(-1e6)
        * F.when(F.col("y") == 1, F.log(F.col("p_micro") / 1e6)).otherwise(
            F.log(F.lit(1.0) - F.col("p_micro") / 1e6)
        ),
        0,
    ).cast("long")
    return (
        scored.select("source", t.alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("t") / 1e6 / F.count(F.lit(1)), 6).alias("log_loss"),
        )
    )



_EVC_ROUNDS = 5



def _evc_sql(rounds: int = _EVC_ROUNDS) -> str:
    parts = [
        _dsg_graph_sql(),
        """sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       x0 AS MATERIALIZED (SELECT DISTINCT u AS node, 1000000::BIGINT AS x FROM sym)""",
    ]
    prev = "x0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""y{r} AS MATERIALIZED (
         SELECT s.u AS node, sum(xp.x)::BIGINT AS y
         FROM sym s JOIN {prev} xp ON xp.node = s.v
         GROUP BY s.u),
       x{r} AS MATERIALIZED (
         SELECT node, round(y::DOUBLE * 1e6 / (SELECT max(y) FROM y{r}))::BIGINT AS x
         FROM y{r})"""
        )
        prev = f"x{r}"
    return (
        "WITH " + ",\n       ".join(parts)
        + f"""
       SELECT node, round(x / 1e6, 6) AS centrality
       FROM {prev}
       ORDER BY x DESC, node LIMIT 25"""
    )



@query("eigenvector_centrality", _evc_sql())
def q_eigenvector_centrality(spark, sf_dir):
    """Eigenvector centrality by fixed-round power iteration (Bonacich
    1972): x ← A·x normalized by the max entry each round, 5 rounds
    from the uniform vector, top-25 parts — prestige that counts
    WELL-CONNECTED neighbors, where PageRank (`host_pagerank`)
    dilutes by out-degree and degree counts all neighbors equally;
    the three disagree exactly on hub-adjacent nodes, which is the
    point of shipping all three. Each round is one edge-join +
    groupBy-sum (the CC/WL shuffle shape) with the iterate re-rounded
    to integer MICRO-units after L∞ normalization, so the fixed-round
    vector is bit-identical cross-engine (unrolled MATERIALIZED
    oracle). Deterministic top-k (ties → node id)."""
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
    x = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "x", F.lit(1000000).cast("long")
    )
    for _ in range(_EVC_ROUNDS):
        y = (
            sym.join(x.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("x").cast("long").alias("y"))
        )
        mx = y.agg(F.max("y").alias("mx"))
        x = (
            y.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.round(F.col("y").cast("double") * 1e6 / F.col("mx"), 0).cast("long").alias("x"),
            )
            .stableCheckpoint(eager=True)
        )
    return (
        x.orderBy(F.desc("x"), "node").limit(25)
        .select("node", F.round(F.col("x") / 1e6, 6).alias("centrality"))
    )



@query(
    "kish_weights",
    """WITH obs AS (
         SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
       tot AS (SELECT sum(n)::BIGINT AS nt, count(*)::BIGINT AS k FROM obs),
       w AS (
         SELECT o.lang, o.n,
                -- target: uniform share 1/k per language
                round(1e6 * t.nt::DOUBLE / (t.k * o.n))::BIGINT AS w_micro
         FROM obs o CROSS JOIN tot t),
       agg AS (
         SELECT sum(n * w_micro)::BIGINT AS sw,
                sum(n::HUGEINT * w_micro::HUGEINT * w_micro) AS sw2
         FROM w)
       SELECT w.lang, w.n AS n_docs, round(w.w_micro / 1e6, 6) AS weight,
              round((a.sw::DOUBLE * a.sw) / a.sw2::DOUBLE, 6) AS kish_ess,
              round((a.sw::DOUBLE * a.sw) / a.sw2::DOUBLE
                    / (SELECT nt FROM tot), 6) AS ess_ratio
       FROM w CROSS JOIN agg a""",
)
def q_kish_weights(spark, sf_dir):
    """Post-stratification weights to a uniform language mix with
    Kish's effective sample size (Kish 1965: ESS = (Σw)²/Σw²) — the
    reweighting every mixture designer applies when the crawl's
    language shares miss the target, and the diagnostic that says what
    the reweighting COSTS: ess_ratio ≪ 1 means the weights are so
    spread that the reweighted corpus behaves like a tiny one, and
    actual resampling (`mixture_sample`) beats weighting. Weights are
    integer micro-units from exact counts; the ESS quadratic sums are
    exact HUGEINT; two divisions total. Complements `doremi_step`
    (learned mixture) with the classical design-based fix."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    obs = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("nt"), F.count(F.lit(1)).cast("long").alias("k"))
    w = obs.crossJoin(F.broadcast(tot)).select(
        "lang", "n", "nt",
        F.round(
            F.lit(1e6) * F.col("nt").cast("double") / (F.col("k") * F.col("n")), 0
        ).cast("long").alias("w_micro"),
    )
    agg = w.agg(
        F.sum(F.col("n") * F.col("w_micro")).cast("long").alias("sw"),
        F.sum(F.col("n").cast(dec) * F.col("w_micro").cast(dec) * F.col("w_micro").cast(dec)).cast(dec).alias("sw2"),
    )
    ess = (F.col("sw").cast("double") * F.col("sw")) / F.col("sw2").cast("double")
    return w.crossJoin(F.broadcast(agg)).select(
        "lang", F.col("n").alias("n_docs"),
        F.round(F.col("w_micro") / 1e6, 6).alias("weight"),
        F.round(ess, 6).alias("kish_ess"),
        F.round(ess / F.col("nt"), 6).alias("ess_ratio"),
    )
