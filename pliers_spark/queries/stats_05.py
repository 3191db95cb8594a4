"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: k_anonymity, mutual_knn, stopword_discovery, rfm_scores,
    passage_bm25, linkage_profile, deleted_interpolation, rmst, pr_auc,
    qini_curve, filter_tradeoff, mrr_recall, capture_recapture,
    jsd_contributors, dispersion_index, price_index, self_excitation,
    triangle_nullmodel, butterfly_count, weighted_jaccard, logrank_test
"""
from __future__ import annotations

from ._registry import D, F, T, Window, _docs, _events, load_table, query
from .core_parity import _QUALITY_ORACLE
from .dedup_sim import _DOT_SQL, _NORM_A, _NORM_Q, _SIMHASH_BITS
from .features_a import _simhash_pairs_cte
from .stats_04 import _JSD_V



# --------------------------------------------------------------------------
# batch 39: k-anonymity audit, mutual kNN mining, stopword induction

@query(
    "k_anonymity",
    """WITH g AS (
         SELECT source, (n_chars // 100)::BIGINT AS len_bucket,
                count(*)::BIGINT AS grp,
                count(DISTINCT lang)::BIGINT AS l_div
         FROM documents GROUP BY 1, 2)
       SELECT count(*)::BIGINT AS n_groups,
              sum(grp)::BIGINT AS n_rows,
              sum(CASE WHEN grp < 5 THEN grp ELSE 0 END)::BIGINT AS rows_at_risk,
              round(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END)::DOUBLE / sum(grp), 6)
                AS risk_share,
              min(grp)::BIGINT AS min_group_size,
              min(l_div)::BIGINT AS min_l_diversity
       FROM g""",
)
def q_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) over the quasi-identifier (source, 100-char length bucket):
    how many rows sit in groups smaller than k=5 (re-identifiable), the
    smallest group, and the minimum l-diversity of the sensitive
    attribute (lang) within any group — the privacy readout a data-
    release pipeline runs before publishing web-derived corpora with
    metadata columns. One census shuffle; group-grain math; all exact
    integers plus one share division."""
    d = _docs(spark, sf_dir)
    g = d.groupBy(
        "source", F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("grp"),
        F.count_distinct("lang").cast("long").alias("l_div"),
    )
    risk = F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("grp").cast("long").alias("n_rows"),
        risk.cast("long").alias("rows_at_risk"),
        F.round(risk.cast("double") / F.sum("grp"), 6).alias("risk_share"),
        F.min("grp").cast("long").alias("min_group_size"),
        F.min("l_div").cast("long").alias("min_l_diversity"),
    )



def _mutual_sql(k: int = 4) -> str:
    # two-step rounding (6dp double, then micro-int) mirrors the Spark
    # path exactly — ivf_topk emits the 6dp-rounded cosine first
    return f"""WITH scored AS (
         SELECT q.vec_id AS q_id, a.vec_id AS c_id,
                CAST(round(round({_DOT_SQL} / ({_NORM_A} * {_NORM_Q}), 6) * 1000000.0)
                     AS BIGINT) AS cos_fp
         FROM embeddings a JOIN embeddings q
           ON a.label = q.label AND a.vec_id <> q.vec_id),
       topk AS (
         SELECT q_id, c_id, cos_fp,
                row_number() OVER (PARTITION BY q_id ORDER BY cos_fp DESC, c_id) AS rank
         FROM scored QUALIFY rank <= {k}),
       agg AS (
         SELECT q_id,
                max(CASE WHEN rank = 1 THEN c_id END)::BIGINT AS top1,
                max(CASE WHEN rank = 1 THEN cos_fp END)::BIGINT AS cos1_fp,
                sum(cos_fp)::BIGINT AS sum_fp, count(*)::BIGINT AS kk
         FROM topk GROUP BY q_id)
       SELECT a.q_id AS id_a, a.top1 AS id_b,
              round(a.cos1_fp / 1000000.0, 6) AS cosine,
              round(a.kk::DOUBLE * a.cos1_fp::DOUBLE / a.sum_fp::DOUBLE, 4) AS margin_a,
              round(b.kk::DOUBLE * b.cos1_fp::DOUBLE / b.sum_fp::DOUBLE, 4) AS margin_b
       FROM agg a JOIN agg b ON b.q_id = a.top1 AND b.top1 = a.q_id
       WHERE a.q_id < b.q_id"""



@query("mutual_knn", _mutual_sql())
def q_mutual_knn(spark, sf_dir):
    """Margin-based mutual-nearest-neighbor pair mining (Artetxe &
    Schwenk, ACL 2019 — the method behind CCMatrix/LASER bitext
    mining): keep (a, b) only when each is the other's top-1 IVF-gated
    neighbor, scored by the margin cos(a,b) / mean(top-k cosines) —
    the ratio criterion that suppresses hub matches a raw threshold
    lets through. Cosines round once to integer micro-units so the
    per-query top-k sums are exact; margins are one division each.
    Plan: the bucket-gated scoring join, one per-query top-k window, a
    self-join of the QUERY-GRAIN aggregate with itself (tiny)."""
    from pliers_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    topk = ivf_topk(emb, emb, "vec_id", "embedding", "vec_id", "embedding", "label", k=4)
    t = topk.select(
        "q_id", "c_id", "rank",
        F.round(F.col("cosine") * F.lit(1e6), 0).cast("long").alias("cos_fp"),
    )
    agg = t.groupBy("q_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("c_id"))).cast("long").alias("top1"),
        F.max(F.when(F.col("rank") == 1, F.col("cos_fp"))).cast("long").alias("cos1_fp"),
        F.sum("cos_fp").cast("long").alias("sum_fp"),
        F.count(F.lit(1)).cast("long").alias("kk"),
    ).stableCheckpoint(eager=True)  # both sides of the mutual self-join
    a = agg
    b = agg.select(
        F.col("q_id").alias("b_q"), F.col("top1").alias("b_top1"),
        F.col("cos1_fp").alias("b_cos1"), F.col("sum_fp").alias("b_sum"),
        F.col("kk").alias("b_kk"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        a.join(b, (F.col("b_q") == F.col("top1")) & (F.col("b_top1") == F.col("q_id")))
        .where(F.col("q_id") < F.col("b_q"))
        .select(
            F.col("q_id").alias("id_a"), F.col("top1").alias("id_b"),
            F.round(F.col("cos1_fp") / F.lit(1e6), 6).alias("cosine"),
            # 4dp, not 6: a last-ulp dot-product difference can flip one
            # constituent cosine's 6dp rounding and shift sum_fp by 1 —
            # the margin quotient amplifies that past 1e-6 (see verify
            # skill note on near-collinear quotients)
            F.round(d_("kk") * d_("cos1_fp") / d_("sum_fp"), 4).alias("margin_a"),
            F.round(d_("b_kk") * d_("b_cos1") / d_("b_sum"), 4).alias("margin_b"),
        )
    )



_SW_MIN_SHARE_PPM = 100_000  # token must appear in >=10% of EVERY source's docs



@query(
    "stopword_discovery",
    f"""WITH dt AS (
         SELECT DISTINCT source, doc_id,
                unnest(string_split(trim(text), ' ')) AS token
         FROM documents),
       nd AS (SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs
              FROM documents GROUP BY source),
       df AS (SELECT source, token, count(*)::BIGINT AS df FROM dt GROUP BY 1, 2),
       shares AS (
         SELECT df.token,
                min(CAST(round(1000000.0 * df.df / nd.n_docs) AS BIGINT)) AS min_share_ppm,
                count(*)::BIGINT AS n_sources
         FROM df JOIN nd USING (source)
         GROUP BY df.token),
       ns AS (SELECT count(DISTINCT source)::BIGINT AS s FROM documents)
       SELECT token, min_share_ppm,
              row_number() OVER (ORDER BY min_share_ppm DESC, token)::BIGINT AS rank
       FROM shares CROSS JOIN ns
       WHERE n_sources = ns.s AND min_share_ppm >= {_SW_MIN_SHARE_PPM}
       QUALIFY rank <= 20""",
)
def q_stopword_discovery(spark, sf_dir):
    """Corpus-driven stopword induction: tokens whose document-frequency
    share clears 10% in EVERY source, ranked by the MINIMUM share —
    the min-across-slices criterion keeps domain jargon (frequent in
    one source only) out, which is how stopword lists are bootstrapped
    for new languages/domains before any curated list exists (feeds
    `remove_stopwords` / the max_df gates in the dedup family). One
    distinct (source, doc, token) census, a token-grain min-aggregate,
    a broadcast source count; shares round once to ppm integers."""
    d = _docs(spark, sf_dir)
    dt = d.select(
        "source", "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
    ).distinct()
    nd = d.groupBy("source").agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
    df = dt.groupBy("source", "token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    shares = (
        df.join(F.broadcast(nd), "source")
        .groupBy("token")
        .agg(
            F.min(
                F.round(F.lit(1e6) * F.col("df") / F.col("n_docs"), 0).cast("long")
            ).alias("min_share_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
        )
    )
    ns = d.select("source").distinct().count()
    w = Window.orderBy(F.desc("min_share_ppm"), "token")
    return (
        shares.where((F.col("n_sources") == ns) & (F.col("min_share_ppm") >= _SW_MIN_SHARE_PPM))
        .select("token", "min_share_ppm", F.row_number().over(w).cast("long").alias("rank"))
        .where(F.col("rank") <= 20)
    )



# --------------------------------------------------------------------------
# batch 40: RFM segmentation, passage-level BM25, linkage threshold profile

@query(
    "rfm_scores",
    """WITH per_c AS (
         SELECT o_custkey,
                max(epoch_us(o_orderdate))::BIGINT AS last_us,
                count(*)::BIGINT AS freq,
                CAST(round(sum(o_totalprice) * 100.0) AS BIGINT) AS mon_fp
         FROM orders GROUP BY o_custkey),
       ranked AS (
         SELECT *, count(*) OVER () AS n,
                row_number() OVER (ORDER BY last_us, o_custkey) AS rr,
                row_number() OVER (ORDER BY freq, o_custkey) AS rf,
                row_number() OVER (ORDER BY mon_fp, o_custkey) AS rm
         FROM per_c)
       SELECT o_custkey,
              ((rr - 1) * 5 // n + 1)::BIGINT AS r_score,
              ((rf - 1) * 5 // n + 1)::BIGINT AS f_score,
              ((rm - 1) * 5 // n + 1)::BIGINT AS m_score,
              (((rr - 1) * 5 // n + 1) * 100
               + ((rf - 1) * 5 // n + 1) * 10
               + ((rm - 1) * 5 // n + 1))::BIGINT AS rfm_code
       FROM ranked""",
)
def q_rfm_scores(spark, sf_dir):
    """RFM customer segmentation (Hughes 1994 — the classic marketing
    feature triple): recency (latest order date), frequency (order
    count), monetary (total spend), each exact-rank-quintiled
    (integer rank arithmetic, custkey tiebreak — no ntile remainder
    ambiguity) into 1..5 and packed as the familiar 3-digit segment
    code (555 = best). Per-customer grain after one census; the three
    rank windows run on the customer-grain table, not the fact table.
    This is the feature every churn/LTV model starts from."""
    o = load_table(spark, sf_dir, "orders")
    from pliers_spark.operators._util import epoch_micros

    per_c = o.groupBy("o_custkey").agg(
        F.max(epoch_micros(o, "o_orderdate")).cast("long").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.round(F.sum("o_totalprice") * 100.0, 0).cast("long").alias("mon_fp"),
    ).stableCheckpoint(eager=True)  # three rank passes + final projection
    # CENSUS GRAIN (r4): customer grain is NOT bounded at web scale, so
    # each quintile rank uses the range-bucketed row_number
    # (operators/census.py) instead of a global window over customers.
    from pliers_spark.operators.census import scalable_row_number

    n = per_c.count()
    rr = scalable_row_number(
        per_c.select("o_custkey", "last_us"), "last_us", out="rr",
        tiebreak=("o_custkey",),
    ).select("o_custkey", "rr")
    rf = scalable_row_number(
        per_c.select("o_custkey", "freq"), "freq", out="rf",
        tiebreak=("o_custkey",),
    ).select("o_custkey", "rf")
    rm = scalable_row_number(
        per_c.select("o_custkey", "mon_fp"), "mon_fp", out="rm",
        tiebreak=("o_custkey",),
    ).select("o_custkey", "rm")
    ranked = rr.join(rf, "o_custkey").join(rm, "o_custkey")
    sc = lambda c: (F.floor((F.col(c) - 1) * 5 / F.lit(n)) + 1).cast("long")  # noqa: E731
    return ranked.select(
        "o_custkey",
        sc("rr").alias("r_score"),
        sc("rf").alias("f_score"),
        sc("rm").alias("m_score"),
        (sc("rr") * 100 + sc("rf") * 10 + sc("rm")).cast("long").alias("rfm_code"),
    )



_PASSAGE_W = 32



def _passage_bm25_sql(w: int = _PASSAGE_W, k: int = 3) -> str:
    from pliers_spark.operators.ir import bm25_topk_sql

    return f"""WITH seeds AS (
         SELECT doc_id, string_split(trim(text), ' ') AS t
         FROM documents ORDER BY doc_id LIMIT 8),
       queries AS (
         SELECT doc_id AS q_id, unnest(t[1:6]) AS term FROM seeds),
       ptoks AS (
         SELECT doc_id, t.token, t.pos::BIGINT AS pos
         FROM (SELECT doc_id,
                      unnest(string_split(trim(text), ' ')) AS token,
                      generate_subscripts(string_split(trim(text), ' '), 1) - 1 AS pos
               FROM documents) t(doc_id, token, pos)),
       passages AS (
         SELECT (doc_id * 10000 + pos // {w})::BIGINT AS pid,
                string_agg(token, ' ' ORDER BY pos) AS ptext
         FROM ptoks GROUP BY doc_id, pos // {w}),
       {bm25_topk_sql(table="passages", text_col="ptext", id_col="pid", k=k,
                      tail=f"SELECT q_id, pid // 10000 AS doc_id, pid % 10000 AS passage_idx, score_fp, rank FROM bm25")}"""



@query("passage_bm25", _passage_bm25_sql())
def q_passage_bm25(spark, sf_dir):
    """Passage-level BM25 retrieval: documents split into {_PASSAGE_W}-
    token passages (the retrieve-then-read granularity RAG stacks
    index), each passage scored as its own BM25 unit against the seed
    queries, top-3 passages returned with (doc, passage index) — finer
    than `bm25_topk`'s whole-doc ranking and the direct feeder for
    `chunk_windows`-style context assembly. The passage table reuses
    the content-defined ordering census (posexplode → per-passage
    concat); the scoring plan is exactly operators/ir.bm25_topk with
    passages as the corpus — no new shuffle shapes."""
    from pliers_spark.operators.ir import bm25_topk

    d = _docs(spark, sf_dir)
    seeds = (
        d.orderBy("doc_id").limit(8)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.slice(T.tokenize(F.col("text")), 1, 6)).alias("term"),
        )
    )
    toks = d.select("doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token"))
    passages = (
        toks.groupBy("doc_id", F.floor(F.col("pos") / _PASSAGE_W).cast("long").alias("blk"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
            ).alias("ptext")
        )
        .select((F.col("doc_id") * 10000 + F.col("blk")).alias("pid"), "ptext")
    )
    out = bm25_topk(passages, seeds, text_col="ptext", id_col="pid", k=3)
    return out.select(
        "q_id",
        (F.col("pid") / 10000).cast("long").alias("doc_id"),
        (F.col("pid") % 10000).cast("long").alias("passage_idx"),
        "score_fp",
        F.col("rank").cast("long").alias("rank"),
    )



def _linkage_sql() -> str:
    reaches = []
    for t in (1, 2, 3):
        reaches.append(f"""
       e{t} AS (SELECT id_a AS src, id_b AS dst FROM nd_pairs WHERE hamming <= {t}
                UNION SELECT id_b, id_a FROM nd_pairs WHERE hamming <= {t}),
       reach{t}(node, peer) AS (
         SELECT src, src FROM e{t}
         UNION
         SELECT r.node, e.dst FROM reach{t} r JOIN e{t} e ON r.peer = e.src),
       cc{t} AS (SELECT node, min(peer) AS cid FROM reach{t} GROUP BY node),
       row{t} AS (
         SELECT {t}::BIGINT AS max_hamming,
                (SELECT count(*) FROM nd_pairs WHERE hamming <= {t})::BIGINT AS n_pairs,
                (SELECT count(*) FROM cc{t})::BIGINT AS n_nodes,
                (SELECT count(DISTINCT cid) FROM cc{t})::BIGINT AS n_clusters)""")
    return (
        f"WITH RECURSIVE {_simhash_pairs_cte()}," + ",".join(reaches)
        + " SELECT * FROM row1 UNION ALL SELECT * FROM row2 UNION ALL SELECT * FROM row3"
    )



@query("linkage_profile", _linkage_sql())
def q_linkage_profile(spark, sf_dir):
    """Dedup-threshold sensitivity profile: the SimHash near-dup graph
    is banded ONCE at the loosest threshold (Hamming ≤ 3 carries the
    distance), then single-linkage components are computed at Hamming
    ≤ 1, ≤ 2, ≤ 3 by filtering the SAME pair list — pairs, touched
    nodes, and cluster counts per threshold. This is the dial-setting
    report (how much mass each notch of fuzziness merges) a dedup
    owner reads before fixing the production threshold; the expensive
    corpus banding never re-runs per threshold.

    Plan: the three per-threshold single-linkage problems are FUSED
    into one connected-components run by lifting each node into a
    threshold-tagged id (t·2⁴² + doc_id) and unioning the ≤t edge
    slices — components never span thresholds because every edge stays
    inside its slice. One iterative CC loop (the expensive part: a
    driver-round loop of join+agg jobs) instead of three, and all
    per-threshold pair counts come from a single conditional agg over
    the checkpointed pair list."""
    docs = _docs(spark, sf_dir)
    pairs = D.simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=_SIMHASH_BITS, bands=4, max_hamming=3
    ).stableCheckpoint(eager=True)
    big = F.lit(1 << 42)
    aug = None
    for t in (1, 2, 3):
        sl = pairs.where(F.col("hamming") <= t).select(
            (F.col("id_a") + big * t).alias("id_a"),
            (F.col("id_b") + big * t).alias("id_b"),
        )
        aug = sl if aug is None else aug.unionByName(sl)
    cc = D.connected_components(aug)
    per_t = cc.groupBy(
        F.floor(F.col("doc_id") / big).cast("long").alias("max_hamming")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
    )
    n_pairs = pairs.groupBy(
        F.col("hamming").cast("long").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    thresholds = spark.range(1, 4).select(F.col("id").alias("max_hamming"))
    counts = (
        thresholds.join(F.broadcast(n_pairs), F.col("h") <= F.col("max_hamming"), "left")
        .groupBy("max_hamming")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_pairs"))
    )
    return (
        counts.join(F.broadcast(per_t), "max_hamming", "left")
        .select(
            "max_hamming",
            "n_pairs",
            F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
            F.coalesce("n_clusters", F.lit(0)).cast("long").alias("n_clusters"),
        )
        .orderBy("max_hamming")
    )



# --------------------------------------------------------------------------
# batch 41: deleted-interpolation lambdas, RMST, PR-AUC

@query(
    "deleted_interpolation",
    """WITH base AS (
         SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       bi AS (
         SELECT unnest(toks[1:len(toks)-1]) AS w1,
                unnest(toks[2:len(toks)]) AS w2
         FROM base),
       c2 AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bi GROUP BY 1, 2),
       c1 AS (SELECT w1, sum(c)::BIGINT AS cw1 FROM c2 GROUP BY w1),
       u AS (SELECT w2, sum(c)::BIGINT AS cw2 FROM c2 GROUP BY w2),
       nn AS (SELECT sum(c)::BIGINT AS n FROM c2),
       votes AS (
         SELECT
           sum(CASE WHEN (c2.c - 1) * (nn.n - 1) > (u.cw2 - 1) * (c1.cw1 - 1)
                    THEN c2.c ELSE 0 END)::BIGINT AS v_bi,
           sum(CASE WHEN (c2.c - 1) * (nn.n - 1) <= (u.cw2 - 1) * (c1.cw1 - 1)
                    THEN c2.c ELSE 0 END)::BIGINT AS v_uni
         FROM c2 JOIN c1 USING (w1) JOIN u USING (w2) CROSS JOIN nn)
       SELECT v_uni, v_bi,
              round(v_uni::DOUBLE / (v_uni + v_bi), 6) AS lambda_uni,
              round(v_bi::DOUBLE / (v_uni + v_bi), 6) AS lambda_bi
       FROM votes""",
)
def q_deleted_interpolation(spark, sf_dir):
    """Deleted-interpolation smoothing weights (Brants, ANLP 2000 — the
    TnT tagger's λ estimation): every bigram token votes its count for
    the bigram or unigram model depending on which deleted estimate is
    larger, (c₂−1)/(c(w₁)−1) vs (c(w₂)−1)/(N−1) — compared EXACTLY by
    integer cross-multiplication (ties, including the c=1 singleton
    mass, fall to the unigram back-off as TnT's safer default). The
    normalized λs are the interpolation weights `lm_score`-family
    models would use. Plan: one bigram census, two marginal aggs on
    its grain, a single vote row."""
    d = _docs(spark, sf_dir)
    toks = d.select(T.tokenize(F.col("text")).alias("toks"))
    bi = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))).alias("a"),
                F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))).alias("b"),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    c1 = c2.groupBy("w1").agg(F.sum("c").cast("long").alias("cw1"))
    u = c2.groupBy("w2").agg(F.sum("c").cast("long").alias("cw2"))
    nn = c2.agg(F.sum("c").cast("long").alias("n"))
    j = c2.join(c1, "w1").join(u, "w2").crossJoin(F.broadcast(nn))
    bi_wins = (F.col("c") - 1) * (F.col("n") - 1) > (F.col("cw2") - 1) * (F.col("cw1") - 1)
    votes = j.agg(
        F.sum(F.when(bi_wins, F.col("c")).otherwise(0)).cast("long").alias("v_bi"),
        F.sum(F.when(~bi_wins, F.col("c")).otherwise(0)).cast("long").alias("v_uni"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return votes.select(
        "v_uni", "v_bi",
        F.round(d_("v_uni") / (F.col("v_uni") + F.col("v_bi")), 6).alias("lambda_uni"),
        F.round(d_("v_bi") / (F.col("v_uni") + F.col("v_bi")), 6).alias("lambda_bi"),
    )



@query(
    "rmst",
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
                         THEN 1 ELSE 0 END)::BIGINT AS n,
                coalesce(sum(CASE WHEN s.conv_day = d.day THEN 1 ELSE 0 END), 0)::BIGINT AS dd
         FROM days d CROSS JOIN spans s GROUP BY d.day),
       lg AS (
         SELECT day, n, dd,
                CASE WHEN n = 0 THEN 0
                     WHEN n > dd
                     THEN CAST(round(1000000.0 * ln(1.0 - dd::DOUBLE / n::DOUBLE))
                               AS BIGINT) END AS l_fp
         FROM tbl),
       surv AS (
         SELECT day,
                coalesce(sum(l_fp) OVER (ORDER BY day
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND 1 PRECEDING), 0) AS cum_l,
                min(CASE WHEN l_fp IS NULL THEN day END)
                  OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS dead_at
         FROM lg),
       s_fp AS (
         SELECT day,
                CASE WHEN dead_at IS NOT NULL THEN 0
                     ELSE CAST(round(1000000.0 * exp(cum_l / 1000000.0)) AS BIGINT)
                END AS s
         FROM surv)
       SELECT count(*)::BIGINT AS horizon_days,
              (SELECT count(*) FROM spans)::BIGINT AS n_entities,
              round(sum(s)::DOUBLE / 1000000.0, 6) AS rmst_days,
              round(min(s)::DOUBLE / 1000000.0, 6) AS survival_end
       FROM s_fp""",
)
def q_rmst(spark, sf_dir):
    """Restricted mean survival time over a 30-day window (Royston &
    Parmar 2013 — the clinically preferred KM summary, here 'expected
    days until first purchase'): survival is the KM product computed in
    LOG space — per-day ln(1−hazard) rounds once to integer micro-nats,
    the cumulative sum is exact int64 (order-proof, unlike a float
    product), each day's survival exp()s the rounded cumsum once, and
    RMST sums the per-day micro-unit survivals exactly. A day with
    hazard 1 zeroes survival from then on. The risk sets collapse
    entities to one row before the 30-row spine fans out."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    uu = epoch_micros(ev, "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", uu)).alias("v_u"),
        F.min(F.when(F.col("event_type") == "purchase", uu)).alias("p_u"),
        F.max(uu).alias("last_u"),
    )
    spans = firsts.where(F.col("v_u").isNotNull()).select(
        F.when(
            F.col("p_u").isNotNull() & (F.col("p_u") > F.col("v_u")),
            F.floor((F.col("p_u") - F.col("v_u")) / 86_400_000_000),
        ).alias("conv_day"),
        F.floor((F.col("last_u") - F.col("v_u")) / 86_400_000_000).alias("censor_day"),
    ).stableCheckpoint(eager=True)
    n_entities = spans.count()
    days = spark.range(30).select(F.col("id").alias("day"))
    tbl = (
        days.crossJoin(spans)
        .groupBy("day")
        .agg(
            F.sum(
                (F.coalesce("conv_day", "censor_day") >= F.col("day")).cast("int")
            ).cast("long").alias("n"),
            F.coalesce(
                F.sum((F.col("conv_day") == F.col("day")).cast("int")), F.lit(0)
            ).cast("long").alias("dd"),
        )
    )
    # n = 0 (risk set exhausted by censoring): KM is flat — carry survival
    # with a zero log-step; n = dd (> 0) is a real death day -> NULL marks it
    l_fp = F.when(F.col("n") == 0, F.lit(0)).when(
        F.col("n") > F.col("dd"),
        F.round(F.lit(1e6) * F.log(F.lit(1.0) - F.col("dd").cast("double") / F.col("n").cast("double")), 0).cast("long"),
    )
    lg = tbl.select("day", "n", "dd", l_fp.alias("l_fp"))
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    surv = lg.select(
        "day",
        F.coalesce(F.sum("l_fp").over(wprev), F.lit(0)).alias("cum_l"),
        F.min(F.when(F.col("l_fp").isNull(), F.col("day"))).over(wprev).alias("dead_at"),
    )
    s = F.when(F.col("dead_at").isNotNull(), F.lit(0)).otherwise(
        F.round(F.lit(1e6) * F.exp(F.col("cum_l") / F.lit(1e6)), 0).cast("long")
    )
    return surv.select(s.alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("horizon_days"),
        F.lit(n_entities).cast("long").alias("n_entities"),
        F.round(F.sum("s").cast("double") / F.lit(1e6), 6).alias("rmst_days"),
        F.round(F.min("s").cast("double") / F.lit(1e6), 6).alias("survival_end"),
    )



@query(
    "pr_auc",
    """WITH base AS (
         SELECT event_id,
                CAST(round(value * 1000000.0) AS BIGINT) AS score,
                CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label
         FROM events),
       ranked AS (
         SELECT label,
                row_number() OVER (ORDER BY score DESC, event_id) AS i,
                sum(label) OVER (ORDER BY score DESC, event_id) AS cum_pos
         FROM base),
       terms AS (
         SELECT label,
                CASE WHEN label = 1
                     THEN CAST(round(1000000000.0 * cum_pos / i) AS BIGINT)
                     ELSE 0 END AS t_fp
         FROM ranked)
       SELECT sum(label)::BIGINT AS n_pos,
              count(*)::BIGINT AS n,
              round(sum(t_fp)::DOUBLE / (sum(label)::DOUBLE * 1000000000.0), 6)
                AS average_precision
       FROM terms""",
)
def q_pr_auc(spark, sf_dir):
    """Average precision / PR-AUC (the imbalanced-class companion to
    `roc_auc`): AP = mean over positives of precision-at-their-rank,
    under the deterministic total order (score desc, event_id) — each
    positive's precision rounds once to integer nano-units so the sum
    is exact and tie handling is reproducible, not library-dependent.
    Same score/label framing as roc_auc (does `value` predict an
    error event). CENSUS GRAIN (r4): the only global windows run on
    the per-score census (aggregate output, bounded by score
    resolution); per-row rank i and cumulative positives are the
    census prefix + a PARTITIONED window inside each score cell —
    identical total order (score desc, event_id), no unpartitioned
    window over raw rows."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("score"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("label"),
    )
    cells = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos_cnt")
    )
    wc = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, -1)
    cells = cells.select(
        "score",
        F.coalesce(F.sum("cnt").over(wc), F.lit(0)).alias("n_before"),
        F.coalesce(F.sum("pos_cnt").over(wc), F.lit(0)).alias("pos_before"),
    )
    w_cell = Window.partitionBy("score").orderBy("event_id")
    ranked = base.join(F.broadcast(cells), "score").select(
        "label",
        (F.col("n_before") + F.row_number().over(w_cell)).alias("i"),
        (
            F.col("pos_before")
            + F.sum("label").over(w_cell.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cum_pos"),
    )
    t_fp = F.when(
        F.col("label") == 1,
        F.round(F.lit(1e9) * F.col("cum_pos") / F.col("i"), 0).cast("long"),
    ).otherwise(F.lit(0))
    return ranked.select("label", t_fp.alias("t_fp")).agg(
        F.sum("label").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum("t_fp").cast("double") / (F.sum("label").cast("double") * F.lit(1e9)), 6
        ).alias("average_precision"),
    )



# --------------------------------------------------------------------------
# batch 42: Qini uplift curve, filter operating points, MRR + recall@k

@query(
    "qini_curve",
    """WITH u AS (
         SELECT user_id, (user_id % 2 = 0)::INT AS treat,
                max((event_type = 'error')::INT)::BIGINT AS y,
                CAST(round(avg(value) * 1000000.0) AS BIGINT) AS score
         FROM events GROUP BY user_id),
       r AS (
         SELECT *, row_number() OVER (ORDER BY score DESC, user_id) AS rn,
                count(*) OVER () AS nn
         FROM u),
       d AS (
         SELECT ((rn - 1) * 10 // nn)::BIGINT AS decile,
                sum(treat)::BIGINT AS nt, sum(1 - treat)::BIGINT AS nc,
                sum(CASE WHEN treat = 1 THEN y ELSE 0 END)::BIGINT AS rt,
                sum(CASE WHEN treat = 0 THEN y ELSE 0 END)::BIGINT AS rc
         FROM r GROUP BY 1),
       c AS (
         SELECT decile,
                sum(nt) OVER w AS cnt, sum(nc) OVER w AS cnc,
                sum(rt) OVER w AS crt, sum(rc) OVER w AS crc
         FROM d WINDOW w AS (ORDER BY decile))
       SELECT decile, cnt::BIGINT AS n_treat, cnc::BIGINT AS n_ctrl,
              crt::BIGINT AS resp_treat, crc::BIGINT AS resp_ctrl,
              round(crt::DOUBLE - crc::DOUBLE * cnt::DOUBLE / cnc::DOUBLE, 6) AS qini
       FROM c""",
)
def q_qini_curve(spark, sf_dir):
    """Qini curve for uplift evaluation (Radcliffe 2007 — the standard
    'did targeting by this score find the persuadables' readout): users
    ranked by predicted responsiveness (mean event value), cumulative
    incremental responses qini(d) = Rt − Rc·Nt/Nc per score decile,
    treatment = even user ids. Deciles come from exact integer rank
    arithmetic; the cumulative window runs on the 10-row decile grain;
    the single ratio per decile rounds once. Pairs with `diff_in_diff`
    (effect) and `cuped_adjustment` (variance) as the experimentation
    triptych."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "error").cast("int")).cast("long").alias("y"),
        F.round(F.avg("value") * F.lit(1e6), 0).cast("long").alias("score"),
    ).select(
        "user_id", (F.col("user_id") % 2 == 0).cast("int").alias("treat"), "y", "score"
    )
    n = u.count()
    rn = F.row_number().over(Window.orderBy(F.desc("score"), "user_id"))
    r = u.select("*", rn.alias("rn"))
    d = r.groupBy(F.floor((F.col("rn") - 1) * 10 / F.lit(n)).cast("long").alias("decile")).agg(
        F.sum("treat").cast("long").alias("nt"),
        F.sum(1 - F.col("treat")).cast("long").alias("nc"),
        F.sum(F.when(F.col("treat") == 1, F.col("y")).otherwise(0)).cast("long").alias("rt"),
        F.sum(F.when(F.col("treat") == 0, F.col("y")).otherwise(0)).cast("long").alias("rc"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "decile",
        F.sum("nt").over(wc).alias("cnt"), F.sum("nc").over(wc).alias("cnc"),
        F.sum("rt").over(wc).alias("crt"), F.sum("rc").over(wc).alias("crc"),
    )
    d_ = lambda col: F.col(col).cast("double")  # noqa: E731
    return c.select(
        "decile",
        F.col("cnt").cast("long").alias("n_treat"),
        F.col("cnc").cast("long").alias("n_ctrl"),
        F.col("crt").cast("long").alias("resp_treat"),
        F.col("crc").cast("long").alias("resp_ctrl"),
        F.round(d_("crt") - d_("crc") * d_("cnt") / d_("cnc"), 6).alias("qini"),
    )



def _tradeoff_sql() -> str:
    rows = []
    for t in (0.4, 0.5, 0.6):
        rows.append(f"""(
          SELECT {t}::DOUBLE AS threshold,
                 sum((quality >= {t})::INT)::BIGINT AS n_kept,
                 round(sum((quality >= {t})::INT)::DOUBLE / count(*), 6) AS keep_rate,
                 round(sum((quality >= {t} AND lang = 'en')::INT)::DOUBLE
                       / sum((lang = 'en')::INT), 6) AS good_recall,
                 CASE WHEN sum((quality >= {t})::INT) > 0
                      THEN round(sum((quality >= {t} AND lang = 'en')::INT)::DOUBLE
                                 / sum((quality >= {t})::INT), 6) END AS good_precision
          FROM j)""")
    return (
        f"""WITH q AS (SELECT * FROM ({_QUALITY_ORACLE}) t),
       j AS (SELECT q.quality, d.lang FROM documents d JOIN q ON q.doc_id = d.doc_id)
       """
        + " UNION ALL ".join(rows)
    )



@query("filter_tradeoff", _tradeoff_sql())
def q_filter_tradeoff(spark, sf_dir):
    """Quality-filter operating-point table: for thresholds 0.4/0.5/0.6
    of the composite quality score, the kept volume, the recall of the
    proxy-good class (lang='en' stands in for the labeled slice a team
    actually audits), and the precision of the kept set — the three
    numbers that pick a production filter threshold (`quality_filter`
    applies one; this query is how it gets chosen). One doc-grain
    quality map feeds all thresholds; each operating point is a single
    census row."""
    d = _docs(spark, sf_dir)
    j = d.select(
        T.quality_score("text").alias("quality"), "lang"
    ).stableCheckpoint(eager=True)  # one quality pass, three thresholds
    outs = []
    for t in (0.4, 0.5, 0.6):
        kept = (F.col("quality") >= t).cast("int")
        good = (F.col("lang") == "en").cast("int")
        outs.append(
            j.agg(
                F.lit(float(t)).alias("threshold"),
                F.sum(kept).cast("long").alias("n_kept"),
                F.round(F.sum(kept).cast("double") / F.count(F.lit(1)), 6).alias("keep_rate"),
                F.round(
                    F.sum(kept * good).cast("double") / F.sum(good), 6
                ).alias("good_recall"),
                F.when(
                    F.sum(kept) > 0,
                    F.round(F.sum(kept * good).cast("double") / F.sum(kept), 6),
                ).alias("good_precision"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out



def _mrr_sql(k: int = 5, rel_min: int = 3) -> str:
    from pliers_spark.operators.ir import bm25_topk_sql

    tail = f""", rel AS (
  SELECT qt.q_id, tf.doc_id, count(tf.term)::BIGINT AS rel
  FROM qt JOIN tf ON tf.term = qt.term
  GROUP BY 1, 2),
relevant AS (SELECT q_id, doc_id FROM rel WHERE rel >= {rel_min}),
hits AS (
  SELECT b.q_id, b.rank,
         (r.doc_id IS NOT NULL)::INT AS is_rel
  FROM bm25 b LEFT JOIN relevant r ON r.q_id = b.q_id AND r.doc_id = b.doc_id),
mq AS (
  SELECT q_id,
         min(CASE WHEN is_rel = 1 THEN rank END)::BIGINT AS first_rel_rank,
         sum(is_rel)::BIGINT AS n_rel_at_k
  FROM hits GROUP BY q_id),
tot AS (SELECT q_id, count(*)::BIGINT AS n_rel_total FROM relevant GROUP BY q_id)
SELECT t.q_id,
       p.first_rel_rank,
       coalesce(CAST(round(1000000.0 / p.first_rel_rank) AS BIGINT), 0)::BIGINT AS rr_fp,
       t.n_rel_total,
       coalesce(p.n_rel_at_k, 0)::BIGINT AS n_rel_at_k,
       round(coalesce(p.n_rel_at_k, 0)::DOUBLE / t.n_rel_total, 6) AS recall_at_k
FROM tot t LEFT JOIN mq p USING (q_id)"""
    return f"""WITH seeds AS (
         SELECT doc_id, string_split(trim(text), ' ') AS t
         FROM documents ORDER BY doc_id LIMIT 8),
       queries AS (
         SELECT doc_id AS q_id, unnest(t[1:6]) AS term FROM seeds),
       {bm25_topk_sql(k=k, tail=tail)}"""



@query("mrr_recall", _mrr_sql())
def q_mrr_recall(spark, sf_dir):
    """MRR and recall@5 of the BM25 retriever against term-containment
    relevance (a doc is relevant to a query iff it contains ≥3 of the
    query's 6 terms — the same grading basis as `ndcg_at_k`): per
    query, the reciprocal rank of the first relevant hit (integer
    micro-units; 0 when none in the top-5) and the share of ALL
    relevant corpus docs captured in the top-5. Completes the ranking-
    eval suite (NDCG = graded order, MRR = first-hit latency, recall =
    capture). The corpus-wide relevance census is one broadcast
    term-join over the SAME tf table the scorer builds."""
    from pliers_spark.operators.ir import bm25_topk

    docs = _docs(spark, sf_dir)
    seeds = (
        docs.orderBy("doc_id").limit(8)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.slice(T.tokenize(F.col("text")), 1, 6)).alias("term"),
        )
    )
    cand = bm25_topk(docs, seeds, k=5).stableCheckpoint(eager=True)
    qt = seeds.distinct().stableCheckpoint(eager=True)
    tf = (
        docs.select("doc_id", F.explode(T.tokenize(F.col("text"))).alias("term"))
        .distinct()
    )
    rel = (
        tf.join(F.broadcast(qt), "term")
        .groupBy("q_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("rel"))
        .where(F.col("rel") >= 3)
        .select("q_id", "doc_id")
        .stableCheckpoint(eager=True)  # feeds totals AND the top-k join
    )
    hits = cand.join(
        rel.withColumn("is_rel", F.lit(1)), ["q_id", "doc_id"], "left"
    ).select("q_id", "rank", F.coalesce("is_rel", F.lit(0)).alias("is_rel"))
    per_q = hits.groupBy("q_id").agg(
        F.min(F.when(F.col("is_rel") == 1, F.col("rank"))).cast("long").alias("first_rel_rank"),
        F.sum("is_rel").cast("long").alias("n_rel_at_k"),
    )
    tot = rel.groupBy("q_id").agg(F.count(F.lit(1)).cast("long").alias("n_rel_total"))
    return tot.join(per_q, "q_id", "left").select(
        "q_id", "first_rel_rank",
        F.coalesce(
            F.round(F.lit(1e6) / F.col("first_rel_rank"), 0).cast("long"), F.lit(0)
        ).alias("rr_fp"),
        "n_rel_total",
        F.coalesce("n_rel_at_k", F.lit(0)).cast("long").alias("n_rel_at_k"),
        F.round(
            F.coalesce("n_rel_at_k", F.lit(0)).cast("double") / F.col("n_rel_total"), 6
        ).alias("recall_at_k"),
    )



# --------------------------------------------------------------------------
# batch 43: capture-recapture sizing, JSD contributors, dispersion index

@query(
    "capture_recapture",
    """WITH a AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
       b AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 1),
       s AS (
         SELECT (SELECT count(*) FROM a)::BIGINT AS n1,
                (SELECT count(*) FROM b)::BIGINT AS n2,
                (SELECT count(*) FROM a JOIN b USING (h))::BIGINT AS m,
                (SELECT count(DISTINCT md5(text)) FROM documents)::BIGINT AS true_distinct)
       SELECT n1, n2, m, true_distinct,
              round((n1 + 1)::DOUBLE * (n2 + 1)::DOUBLE / (m + 1)::DOUBLE - 1.0, 6)
                AS chapman_estimate,
              CASE WHEN m > 0
                   THEN round(((n1 + 1)::DOUBLE * (n2 + 1)::DOUBLE / (m + 1)::DOUBLE
                               - 1.0 - true_distinct::DOUBLE)
                              / true_distinct::DOUBLE, 6) END AS rel_err
       FROM s""",
)
def q_capture_recapture(spark, sf_dir):
    """Capture-recapture corpus-size estimation (Lincoln-Petersen with
    the Chapman bias correction, Chapman 1951): treat the even- and
    odd-id halves as two independent crawls, mark-recapture on exact
    content hash, and estimate the TRUE distinct-document population
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — how crawl teams estimate 'how much of
    the web (or of a dark corpus) are we seeing' from two overlapping
    passes, audited here against the known distinct count. All counts
    are exact censuses on the content-hash key; one rounded estimate."""
    d = _docs(spark, sf_dir)
    a = d.where(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("h")).distinct().stableCheckpoint(eager=True)
    b = d.where(F.col("doc_id") % 2 == 1).select(F.md5("text").alias("h")).distinct().stableCheckpoint(eager=True)
    n1 = a.count()
    n2 = b.count()
    m = a.join(b, "h").count()
    true_distinct = d.select(F.md5("text")).distinct().count()
    chapman = round((n1 + 1) * (n2 + 1) / (m + 1) - 1.0, 6)
    rel = round((chapman - true_distinct) / true_distinct, 6) if m > 0 else None
    return spark.createDataFrame(
        [(n1, n2, m, true_distinct, chapman, rel)],
        "n1 long, n2 long, m long, true_distinct long, "
        "chapman_estimate double, rel_err double",
    )



@query(
    "jsd_contributors",
    f"""WITH toks AS (
         SELECT source, unnest(string_split(trim(text), ' ')) AS token FROM documents),
       cnt AS (SELECT source, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       topv AS (
         SELECT token FROM (SELECT token, sum(c) AS tc FROM cnt GROUP BY token)
         ORDER BY tc DESC, token LIMIT {_JSD_V}),
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
         SELECT src_a, src_b, tok,
                (CASE WHEN a > 0
                      THEN a * CAST(round(1000000.0 * ln(2.0 * a::DOUBLE * nb::DOUBLE
                                    / (a::DOUBLE * nb::DOUBLE + b::DOUBLE * na::DOUBLE)))
                               AS BIGINT) ELSE 0 END)::DOUBLE / na
                + (CASE WHEN b > 0
                        THEN b * CAST(round(1000000.0 * ln(2.0 * b::DOUBLE * na::DOUBLE
                                      / (a::DOUBLE * nb::DOUBLE + b::DOUBLE * na::DOUBLE)))
                                 AS BIGINT) ELSE 0 END)::DOUBLE / nb AS raw
         FROM cells WHERE a > 0 OR b > 0)
       SELECT src_a, src_b, tok,
              round(raw / 2000000.0, 6) AS contribution,
              row_number() OVER (PARTITION BY src_a, src_b
                                 ORDER BY round(raw / 2000000.0, 6) DESC, tok)::BIGINT
                AS rank
       FROM terms QUALIFY rank <= 10""",
)
def q_jsd_contributors(spark, sf_dir):
    """Per-token decomposition of the Jensen-Shannon divergence (the
    shifterator/word-shift-graph readout, Gallagher et al. 2021): for
    every source pair, the 10 tokens contributing most to `source_jsd`
    — pointwise JSD terms are nonnegative, so the head of this list IS
    the explanation of the drift ('why do these sources differ').
    Identical cell construction and micro-nat rounding as source_jsd
    (the decomposition provably sums to it); ranking on the
    once-rounded contribution with token tiebreak."""
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
        .stableCheckpoint(eager=True)
    )
    ns = mapped.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    pr = (
        ns.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
        .join(ns.select(F.col("source").alias("src_b"), F.col("n").alias("nb")),
              F.col("src_a") < F.col("src_b"))
    )
    vocab = mapped.select("tok").distinct()
    cells = (
        pr.crossJoin(vocab)
        .join(mapped.select(F.col("source").alias("src_a"), "tok", F.col("c").alias("a")),
              ["src_a", "tok"], "left")
        .join(mapped.select(F.col("source").alias("src_b"), "tok", F.col("c").alias("b")),
              ["src_b", "tok"], "left")
        .select(
            "src_a", "src_b", "na", "nb", "tok",
            F.coalesce("a", F.lit(0)).alias("a"), F.coalesce("b", F.lit(0)).alias("b"),
        )
        .where((F.col("a") > 0) | (F.col("b") > 0))
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
    terms = cells.select(
        "src_a", "src_b", "tok",
        (ta.cast("double") / F.col("na") + tb.cast("double") / F.col("nb")).alias("raw"),
    )
    contrib = F.round(F.col("raw") / F.lit(2e6), 6)
    w = Window.partitionBy("src_a", "src_b").orderBy(F.desc(contrib), "tok")
    return terms.select(
        "src_a", "src_b", "tok", contrib.alias("contribution"),
        F.row_number().over(w).cast("long").alias("rank"),
    ).where(F.col("rank") <= 10)



@query(
    "dispersion_index",
    """WITH users AS (SELECT DISTINCT user_id FROM events),
       types AS (SELECT DISTINCT event_type FROM events),
       cnt AS (
         SELECT user_id, event_type, count(*)::BIGINT AS c
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
              round(s::DOUBLE / n, 6) AS mean_count,
              CASE WHEN s > 0
                   THEN round((q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
                              / (s::DOUBLE / n), 6) END AS dispersion,
              CASE WHEN s > 0
                   THEN (q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
                        / (s::DOUBLE / n) > 1.0 END AS overdispersed
       FROM st""",
)
def q_dispersion_index(spark, sf_dir):
    """Index of dispersion (variance-to-mean ratio) of per-user event
    counts, per event type — the count-data diagnostic that decides
    Poisson vs negative-binomial modeling and flags bursty/bot-like
    behavior (D ≫ 1 = a few users generate most events; the
    `token_burstiness` idea at the behavioral grain). The user×type
    grid is densified with explicit zeros (a dense user×type spine)
    so absent combinations count; sufficient stats are exact
    int64/HUGEINT; one ratio per type."""
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
    mean = d_("s") / d_("n")
    disp = (d_("q") / d_("n") - mean * mean) / mean
    return st.select(
        "event_type", F.col("n").alias("n_users"),
        F.round(mean, 6).alias("mean_count"),
        F.when(F.col("s") > 0, F.round(disp, 6)).alias("dispersion"),
        F.when(F.col("s") > 0, disp > 1.0).alias("overdispersed"),
    )



# --------------------------------------------------------------------------
# batch 44: price indices, self-excitation lift, triangle null model

@query(
    "price_index",
    """WITH m AS (
         SELECT date_trunc('month', l_shipdate)::TIMESTAMP AS month, l_partkey,
                CAST(round(sum(l_extendedprice) * 100.0) AS BIGINT) AS v_fp,
                CAST(sum(l_quantity) AS BIGINT) AS q
         FROM lineitem GROUP BY 1, 2),
       p AS (
         SELECT month, l_partkey, q,
                CAST(round(10000.0 * v_fp / q) AS BIGINT) AS p_fp
         FROM m),
       base AS (
         SELECT l_partkey, q AS q0, p_fp AS p0
         FROM p WHERE month = (SELECT min(month) FROM p)),
       j AS (
         SELECT p.month, p.l_partkey, p.p_fp, p.q, base.q0, base.p0
         FROM p JOIN base USING (l_partkey)
         WHERE p.month > (SELECT min(month) FROM p)),
       agg AS (
         SELECT month, count(*)::BIGINT AS n_parts,
                sum(p_fp::HUGEINT * q0::HUGEINT) AS l_num,
                sum(p0::HUGEINT * q0::HUGEINT) AS l_den,
                sum(p_fp::HUGEINT * q::HUGEINT) AS pa_num,
                sum(p0::HUGEINT * q::HUGEINT) AS pa_den
         FROM j GROUP BY month)
       SELECT month, n_parts,
              round(l_num::DOUBLE / l_den::DOUBLE, 6) AS laspeyres,
              round(pa_num::DOUBLE / pa_den::DOUBLE, 6) AS paasche,
              round(sqrt((l_num::DOUBLE / l_den::DOUBLE)
                         * (pa_num::DOUBLE / pa_den::DOUBLE)), 6) AS fisher
       FROM agg""",
)
def q_price_index(spark, sf_dir):
    """Laspeyres / Paasche / Fisher price indices per ship month against
    the first month as base (the national-accounts formulas; Fisher =
    the 'ideal' geometric mean) over parts transacted in BOTH periods —
    the longitudinal price-level readout an OLAP commerce stack
    publishes. Unit prices are once-rounded integer micro-cent rates
    per (month, part); index numerators/denominators are exact
    DECIMAL(38,0) sums of int products; the two divisions and one sqrt
    happen on the month grain. Plan: one fact census, a broadcast base-
    month dimension join, month-grain math."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    m = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).alias("month"), "l_partkey"
    ).agg(
        F.round(F.sum("l_extendedprice") * 100.0, 0).cast("long").alias("v_fp"),
        F.sum("l_quantity").cast("long").alias("q"),
    )
    p = m.select(
        "month", "l_partkey", "q",
        F.round(F.lit(1e4) * F.col("v_fp") / F.col("q"), 0).cast("long").alias("p_fp"),
    ).stableCheckpoint(eager=True)  # feeds base dim + fact side
    min_month = p.agg(F.min("month").alias("mm"))
    base = p.join(F.broadcast(min_month), p.month == F.col("mm")).select(
        "l_partkey", F.col("q").alias("q0"), F.col("p_fp").alias("p0")
    )
    j = (
        p.crossJoin(F.broadcast(min_month))
        .where(F.col("month") > F.col("mm"))
        .join(F.broadcast(base), "l_partkey")
    )
    agg = j.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("p_fp").cast(dec) * F.col("q0").cast(dec)).cast(dec).alias("l_num"),
        F.sum(F.col("p0").cast(dec) * F.col("q0").cast(dec)).cast(dec).alias("l_den"),
        F.sum(F.col("p_fp").cast(dec) * F.col("q").cast(dec)).cast(dec).alias("pa_num"),
        F.sum(F.col("p0").cast(dec) * F.col("q").cast(dec)).cast(dec).alias("pa_den"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    las = d_("l_num") / d_("l_den")
    paa = d_("pa_num") / d_("pa_den")
    return agg.select(
        "month", "n_parts",
        F.round(las, 6).alias("laspeyres"),
        F.round(paa, 6).alias("paasche"),
        F.round(F.sqrt(las * paa), 6).alias("fisher"),
    )



@query(
    "self_excitation",
    """WITH r AS (
         SELECT user_id, event_type, epoch_us(ts)::BIGINT AS t_us,
                lead(event_type) OVER w AS nxt,
                lead(epoch_us(ts)::BIGINT) OVER w AS nxt_us
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       v AS (SELECT * FROM r WHERE nxt IS NOT NULL),
       marg AS (
         SELECT nxt AS event_type, count(*)::BIGINT AS as_next
         FROM v GROUP BY nxt),
       tot AS (SELECT count(*)::BIGINT AS n_trans FROM v),
       per AS (
         SELECT event_type,
                count(*)::BIGINT AS n_from,
                sum((nxt = event_type AND nxt_us - t_us <= 300000000)::INT)::BIGINT
                  AS same_soon
         FROM v GROUP BY event_type)
       SELECT per.event_type, per.n_from, per.same_soon, marg.as_next, tot.n_trans,
              round(per.same_soon::DOUBLE / per.n_from, 6) AS p_observed,
              round(marg.as_next::DOUBLE / tot.n_trans, 6) AS p_marginal,
              CASE WHEN per.same_soon > 0
                   THEN round((per.same_soon::DOUBLE / per.n_from)
                              / (marg.as_next::DOUBLE / tot.n_trans), 6) END AS lift
       FROM per JOIN marg USING (event_type) CROSS JOIN tot""",
)
def q_self_excitation(spark, sf_dir):
    """Self-excitation lift per event type (the Hawkes-process
    diagnostic in census form): P(the NEXT event is the same type AND
    arrives within 5 minutes | current type) against the marginal
    next-event share of that type — lift ≫ 1 means the type clusters
    in time (retry storms, scraping bursts, doomscrolling), which is
    what decides whether a Poisson rate model is honest. One user-key
    window pass for transitions; type-grain censuses; two divisions
    and a ratio rounded once. NULL lift when the type never
    self-follows."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = epoch_micros(ev, "ts").cast("long")
    r = ev.select(
        "event_type", t_us.alias("t_us"),
        F.lead("event_type").over(wu).alias("nxt"),
        F.lead(t_us).over(wu).alias("nxt_us"),
    ).where(F.col("nxt").isNotNull()).stableCheckpoint(eager=True)
    marg = r.groupBy(F.col("nxt").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("as_next")
    )
    n_trans = r.count()
    per = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_from"),
        F.sum(
            ((F.col("nxt") == F.col("event_type")) & (F.col("nxt_us") - F.col("t_us") <= 300_000_000)).cast("int")
        ).cast("long").alias("same_soon"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    p_obs = d_("same_soon") / d_("n_from")
    p_marg = d_("as_next") / F.lit(float(n_trans))
    return per.join(marg, "event_type").select(
        "event_type", "n_from", "same_soon", "as_next",
        F.lit(n_trans).cast("long").alias("n_trans"),
        F.round(p_obs, 6).alias("p_observed"),
        F.round(p_marg, 6).alias("p_marginal"),
        F.when(F.col("same_soon") > 0, F.round(p_obs / p_marg, 6)).alias("lift"),
    )



@query(
    "triangle_nullmodel",
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
         SELECT s.a AS src, s.b AS dst
         FROM sym s JOIN deg da ON da.node = s.a JOIN deg db ON db.node = s.b
         WHERE (da.d, s.a) < (db.d, s.b)),
       tri AS (
         SELECT count(*)::BIGINT AS t FROM (
           SELECT e1.src, e1.dst AS v, e2.dst AS w
           FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst <> e2.dst
           JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst)),
       st AS (
         SELECT count(*)::BIGINT AS n, sum(d)::HUGEINT AS sd,
                sum(d::HUGEINT * (d - 1)::HUGEINT) AS sd2
         FROM deg)
       SELECT st.n AS n_nodes, (st.sd / 2)::BIGINT AS n_edges, tri.t AS triangles,
              round(pow(st.sd2::DOUBLE / st.sd::DOUBLE, 3.0) / 6.0, 6)
                AS expected_null,
              CASE WHEN st.sd2 > 0
                   THEN round(tri.t::DOUBLE
                              / (pow(st.sd2::DOUBLE / st.sd::DOUBLE, 3.0) / 6.0), 4)
              END AS clustering_ratio
       FROM st CROSS JOIN tri""",
)
def q_triangle_nullmodel(spark, sf_dir):
    """Triangle count vs the configuration-model null (Newman 2003,
    eq. for E[T] ≈ (Σd(d−1)/Σd)³/6): is the co-purchase graph's
    clustering REAL structure or just what its degree sequence forces?
    clustering_ratio ≫ 1 = genuine community structure (worth running
    community detection); ≈ 1 = degree artifact. Reuses the degree-
    ordered triangle enumeration of `triangle_coeffs` for the exact
    count; the null expectation needs only the degree census's
    DECIMAL sufficient stats. Ratio rounds at 4dp (cube of a ratio of
    near-collinear sums amplifies cross-engine ulps)."""
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
    # orientation-ordered wedges only (see triangle_coeffs note)
    e1 = o.select("src", F.col("dst").alias("v"), F.col("dd").alias("dv_"))
    e2 = o.select("src", F.col("dst").alias("w"), F.col("dd").alias("dw_"))
    wedges = e1.join(e2, "src").where(
        (F.col("dv_") < F.col("dw_"))
        | ((F.col("dv_") == F.col("dw_")) & (F.col("v") < F.col("w")))
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    t = wedges.join(closing, ["v", "w"]).count()
    st = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast(dec).alias("sd"),
        F.sum(F.col("d").cast(dec) * (F.col("d") - 1).cast(dec)).cast(dec).alias("sd2"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    exp_null = F.pow(d_("sd2") / d_("sd"), F.lit(3.0)) / F.lit(6.0)
    return st.select(
        F.col("n").alias("n_nodes"),
        (F.col("sd") / 2).cast("long").alias("n_edges"),
        F.lit(t).cast("long").alias("triangles"),
        F.round(exp_null, 6).alias("expected_null"),
        F.when(F.col("sd2") > 0, F.round(F.lit(float(t)) / exp_null, 4)).alias("clustering_ratio"),
    )



# --------------------------------------------------------------------------
# batch 45: butterfly counting, weighted Jaccard, log-rank test

@query(
    "butterfly_count",
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       do_ AS (SELECT l_orderkey, count(*)::BIGINT AS d FROM b GROUP BY 1),
       dp AS (SELECT l_partkey, count(*)::BIGINT AS d FROM b GROUP BY 1),
       co AS (
         SELECT a.l_partkey AS p1, bb.l_partkey AS p2, count(*)::BIGINT AS c_co
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey
         GROUP BY 1, 2),
       bf AS (SELECT sum(c_co * (c_co - 1) / 2)::HUGEINT AS butterflies FROM co),
       l3 AS (
         SELECT sum((do_.d - 1)::HUGEINT * (dp.d - 1)::HUGEINT) AS paths3
         FROM b JOIN do_ USING (l_orderkey) JOIN dp USING (l_partkey))
       SELECT (SELECT count(*) FROM b)::BIGINT AS n_edges,
              bf.butterflies::BIGINT AS butterflies,
              l3.paths3::BIGINT AS paths3,
              CASE WHEN l3.paths3 > 0
                   THEN round(4.0 * bf.butterflies::DOUBLE / l3.paths3::DOUBLE, 6)
              END AS bipartite_cc
       FROM bf CROSS JOIN l3""",
)
def q_butterfly_count(spark, sf_dir):
    """Butterfly (2×2 biclique) counting and the Robins-Alexander
    bipartite clustering coefficient 4·B/L₃ (Robins & Alexander 2004;
    Wang et al., VLDB 2019 for the counting shape) over the order-part
    bipartite graph — bipartite graphs have NO triangles, so this is
    the correct cohesion measure for user-item / crawl-link data, and
    the butterfly census is the workhorse behind bipartite community
    detection. B = Σ C(co_{p1,p2}, 2) from the SAME co-occurrence
    census item_cosine builds; L₃ (3-paths) = Σ_edges (d_o−1)(d_p−1)
    from two degree joins. All exact int64/HUGEINT; one ratio."""
    dec = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("bs"))
        .where((F.col("bs") >= 2) & (F.col("bs") <= 20)).select("l_orderkey")
    )
    b = op.join(sized, "l_orderkey").stableCheckpoint(eager=True)
    do_ = b.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("d_o"))
    dp = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("d_p"))
    a1 = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
    a2 = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
    co = (
        a1.join(a2, "l_orderkey").where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2").agg(F.count(F.lit(1)).cast("long").alias("c_co"))
    )
    bf = co.agg(
        F.sum((F.col("c_co").cast(dec) * (F.col("c_co") - 1).cast(dec) / 2).cast(dec))
        .cast(dec).alias("butterflies")
    )
    l3 = (
        b.join(do_, "l_orderkey").join(dp, "l_partkey")
        .agg(
            F.sum((F.col("d_o") - 1).cast(dec) * (F.col("d_p") - 1).cast(dec))
            .cast(dec).alias("paths3")
        )
    )
    n_edges = b.count()
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return bf.crossJoin(l3).select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.col("butterflies").cast("long").alias("butterflies"),
        F.col("paths3").cast("long").alias("paths3"),
        F.when(
            F.col("paths3") > 0,
            F.round(F.lit(4.0) * d_("butterflies") / d_("paths3"), 6),
        ).alias("bipartite_cc"),
    )



@query(
    "weighted_jaccard",
    f"""WITH toks AS (
         SELECT source, unnest(string_split(trim(text), ' ')) AS token FROM documents),
       cnt AS (SELECT source, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       srcs AS (SELECT DISTINCT source FROM cnt),
       pairs AS (SELECT a.source AS src_a, b.source AS src_b
                 FROM srcs a JOIN srcs b ON a.source < b.source),
       cells AS (
         SELECT p.src_a, p.src_b, t.token,
                coalesce(ca.c, 0) AS a, coalesce(cb.c, 0) AS b
         FROM pairs p CROSS JOIN (SELECT DISTINCT token FROM cnt) t
         LEFT JOIN cnt ca ON ca.source = p.src_a AND ca.token = t.token
         LEFT JOIN cnt cb ON cb.source = p.src_b AND cb.token = t.token
         WHERE coalesce(ca.c, 0) > 0 OR coalesce(cb.c, 0) > 0)
       SELECT src_a, src_b,
              round(sum(least(a, b))::DOUBLE / sum(greatest(a, b)), 6)
                AS weighted_jaccard
       FROM cells GROUP BY src_a, src_b""",
)
def q_weighted_jaccard(spark, sf_dir):
    """Weighted (multiset) Jaccard similarity between source token
    frequency vectors: Σ min(fₐ, f_b) / Σ max(fₐ, f_b) — the quantity
    weighted-MinHash sketches (Ioffe 2010) estimate, computed exactly
    here as the ground truth those sketches would be audited against;
    unlike set Jaccard it is sensitive to HOW OFTEN shared vocabulary
    is used. Everything is exact integer min/max sums from one census;
    one division per pair. At web scale the cell grid caps to a top-V
    vocabulary exactly as source_jsd documents."""
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("source", F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .stableCheckpoint(eager=True)
    )
    srcs = cnt.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .join(srcs.select(F.col("source").alias("src_b")), F.col("src_a") < F.col("src_b"))
    )
    vocab = cnt.select("token").distinct()
    cells = (
        pairs.crossJoin(vocab)
        .join(cnt.select(F.col("source").alias("src_a"), "token", F.col("c").alias("a")),
              ["src_a", "token"], "left")
        .join(cnt.select(F.col("source").alias("src_b"), "token", F.col("c").alias("b")),
              ["src_b", "token"], "left")
        .select(
            "src_a", "src_b",
            F.coalesce("a", F.lit(0)).alias("a"), F.coalesce("b", F.lit(0)).alias("b"),
        )
        .where((F.col("a") > 0) | (F.col("b") > 0))
    )
    return cells.groupBy("src_a", "src_b").agg(
        F.round(
            F.sum(F.least("a", "b")).cast("double") / F.sum(F.greatest("a", "b")), 6
        ).alias("weighted_jaccard")
    )



@query(
    "logrank_test",
    """WITH firsts AS (
         SELECT user_id, (user_id % 2 = 0) AS treat,
                min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_u,
                min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_u,
                max(epoch_us(ts)) AS last_u
         FROM events GROUP BY user_id, (user_id % 2 = 0)),
       spans AS (
         SELECT treat,
                CASE WHEN p_u IS NOT NULL AND p_u > v_u
                     THEN (p_u - v_u) // 86400000000 END AS conv_day,
                (last_u - v_u) // 86400000000 AS censor_day
         FROM firsts WHERE v_u IS NOT NULL),
       days AS (SELECT unnest(range(30))::BIGINT AS day),
       tbl AS (
         SELECT d.day,
                sum(CASE WHEN s.treat AND coalesce(s.conv_day, s.censor_day) >= d.day
                         THEN 1 ELSE 0 END)::BIGINT AS n1,
                sum(CASE WHEN NOT s.treat AND coalesce(s.conv_day, s.censor_day) >= d.day
                         THEN 1 ELSE 0 END)::BIGINT AS n2,
                sum(CASE WHEN s.treat AND s.conv_day = d.day THEN 1 ELSE 0 END)::BIGINT AS d1,
                sum(CASE WHEN NOT s.treat AND s.conv_day = d.day THEN 1 ELSE 0 END)::BIGINT AS d2
         FROM days d CROSS JOIN spans s GROUP BY d.day),
       terms AS (
         SELECT day, n1, n2, d1, d2,
                CAST(round(1000000.0 * (d1::DOUBLE - (d1 + d2)::DOUBLE * n1::DOUBLE
                                        / (n1 + n2)::DOUBLE)) AS BIGINT) AS ome_fp,
                CASE WHEN n1 + n2 > 1
                     THEN CAST(round(1000000.0 * (d1 + d2)::DOUBLE
                          * (n1::DOUBLE / (n1 + n2)::DOUBLE)
                          * (n2::DOUBLE / (n1 + n2)::DOUBLE)
                          * ((n1 + n2 - d1 - d2)::DOUBLE / (n1 + n2 - 1)::DOUBLE))
                          AS BIGINT)
                     ELSE 0 END AS v_fp
         FROM tbl WHERE n1 + n2 > 0 AND d1 + d2 > 0)
       SELECT count(*)::BIGINT AS event_days,
              sum(d1)::BIGINT AS events_treat, sum(d2)::BIGINT AS events_ctrl,
              round(sum(ome_fp)::DOUBLE / 1000000.0, 6) AS o_minus_e,
              CASE WHEN sum(v_fp) > 0
                   THEN round((sum(ome_fp)::DOUBLE / 1000000.0)
                              * (sum(ome_fp)::DOUBLE / 1000000.0)
                              / (sum(v_fp)::DOUBLE / 1000000.0), 4) END AS chi2_logrank
       FROM terms""",
)
def q_logrank_test(spark, sf_dir):
    """Log-rank (Mantel-Cox) test comparing time-to-purchase between
    even- and odd-id users: per event day the hypergeometric O−E and
    variance terms round ONCE to integer micro-units (exact sums across
    days — the same order-proofing as every *_fp column), and
    χ² = (Σ(O−E))²/ΣV rounds at 4dp (a squared quotient amplifies
    ulps). This is THE standard two-group survival comparison —
    completing the family: `kaplan_meier` (shape), `rmst` (magnitude),
    log-rank (significance). Plan: `rmst`'s per-day risk sets with a
    group column."""
    from pliers_spark.operators._util import epoch_micros

    ev = _events(spark, sf_dir)
    uu = epoch_micros(ev, "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", uu)).alias("v_u"),
        F.min(F.when(F.col("event_type") == "purchase", uu)).alias("p_u"),
        F.max(uu).alias("last_u"),
    ).select("*", (F.col("user_id") % 2 == 0).alias("treat"))
    spans = firsts.where(F.col("v_u").isNotNull()).select(
        "treat",
        F.when(
            F.col("p_u").isNotNull() & (F.col("p_u") > F.col("v_u")),
            F.floor((F.col("p_u") - F.col("v_u")) / 86_400_000_000),
        ).alias("conv_day"),
        F.floor((F.col("last_u") - F.col("v_u")) / 86_400_000_000).alias("censor_day"),
    )
    days = spark.range(30).select(F.col("id").alias("day"))
    at_risk = F.coalesce("conv_day", "censor_day") >= F.col("day")
    conv = F.col("conv_day") == F.col("day")
    tbl = (
        F.broadcast(days).crossJoin(spans)
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("treat") & at_risk, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(~F.col("treat") & at_risk, 1).otherwise(0)).cast("long").alias("n2"),
            F.sum(F.when(F.col("treat") & conv, 1).otherwise(0)).cast("long").alias("d1"),
            F.sum(F.when(~F.col("treat") & conv, 1).otherwise(0)).cast("long").alias("d2"),
        )
        .where((F.col("n1") + F.col("n2") > 0) & (F.col("d1") + F.col("d2") > 0))
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    nn = (F.col("n1") + F.col("n2")).cast("double")
    dd = (F.col("d1") + F.col("d2")).cast("double")
    ome = F.round(F.lit(1e6) * (d_("d1") - dd * d_("n1") / nn), 0).cast("long")
    v = F.when(
        F.col("n1") + F.col("n2") > 1,
        F.round(
            F.lit(1e6) * dd * (d_("n1") / nn) * (d_("n2") / nn) * ((nn - dd) / (nn - 1)), 0
        ).cast("long"),
    ).otherwise(F.lit(0))
    terms = tbl.select("d1", "d2", ome.alias("ome_fp"), v.alias("v_fp"))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("event_days"),
        F.sum("d1").cast("long").alias("events_treat"),
        F.sum("d2").cast("long").alias("events_ctrl"),
        F.round(F.sum("ome_fp").cast("double") / F.lit(1e6), 6).alias("o_minus_e"),
        F.when(
            F.sum("v_fp") > 0,
            F.round(
                (F.sum("ome_fp").cast("double") / F.lit(1e6))
                * (F.sum("ome_fp").cast("double") / F.lit(1e6))
                / (F.sum("v_fp").cast("double") / F.lit(1e6)),
                4,
            ),
        ).alias("chi2_logrank"),
    )
