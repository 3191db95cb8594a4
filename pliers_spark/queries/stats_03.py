"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: burrows_delta, item_cosine, cdc_chunks, ucb_arms,
    dbscan_clusters, ari_nmi, triangle_coeffs, covariate_balance,
    wasserstein_1d, texttiling_gaps, degree_assortativity,
    mann_kendall_sen, kruskal_wallis, cmh_odds, doremi_step, ann_hubness,
    padding_waste, kwic_concordance, zipf_alpha, dup_size_histogram
"""
from __future__ import annotations

from ._registry import D, F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from .core_parity import _QUALITY_ORACLE
from .dedup_sim import _DOT_SQL, _NORM_A, _NORM_Q, _SIMHASH_BITS
from .features_a import _simhash_pairs_cte



# --------------------------------------------------------------------------
# batch 25: Burrows' Delta stylometry, item-item cosine

_DELTA_TOPM = 50



def _burrows_sql(top_m: int = _DELTA_TOPM) -> str:
    return f"""WITH toks AS (
         SELECT source, unnest(string_split(trim(text), ' ')) AS token FROM documents),
       st AS (SELECT source, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       topm AS (
         SELECT token FROM (SELECT token, sum(c) AS tc FROM st GROUP BY token)
         ORDER BY tc DESC, token LIMIT {top_m}),
       ns AS (SELECT source, sum(c)::BIGINT AS n FROM st GROUP BY source),
       cells AS (
         SELECT ns.source, topm.token,
                CAST(round(1000000000.0 * coalesce(st.c, 0) / ns.n) AS BIGINT) AS f_ppb
         FROM ns CROSS JOIN topm
         LEFT JOIN st ON st.source = ns.source AND st.token = topm.token),
       stats AS (
         SELECT token, count(*)::BIGINT AS s,
                sum(f_ppb)::BIGINT AS t,
                sum(f_ppb::HUGEINT * f_ppb::HUGEINT) AS q
         FROM cells GROUP BY token),
       pairs AS (
         SELECT a.source AS source_a, b.source AS source_b, a.token,
                CAST(round(1000000.0
                           * (st.s * abs(a.f_ppb - b.f_ppb))::DOUBLE
                           / sqrt((st.s::HUGEINT * st.q
                                   - st.t::HUGEINT * st.t::HUGEINT)::DOUBLE))
                     AS BIGINT) AS zdiff_fp
         FROM cells a
         JOIN cells b ON a.token = b.token AND a.source < b.source
         JOIN stats st ON st.token = a.token
         WHERE st.s::HUGEINT * st.q - st.t::HUGEINT * st.t::HUGEINT > 0)
       SELECT source_a, source_b, count(*)::BIGINT AS n_terms,
              round(sum(zdiff_fp)::DOUBLE / (count(*) * 1000000.0), 6) AS delta
       FROM pairs GROUP BY 1, 2"""



@query("burrows_delta", _burrows_sql())
def q_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylometric distance between sources (Burrows,
    LLC 2002; the standard authorship-attribution measure): mean |Δz|
    over the top-50 corpus function words, where z is each source's
    token rate standardized across the source population. The z
    difference is computed EXACTLY as S·|f_A − f_B|/√(S·Q − T²) on
    integer-ppb rates (the (f−μ)/σ cancellation), with S·Q − T² in
    DECIMAL(38,0) — one correctly-rounded sqrt and one once-rounded
    micro-unit per (pair, term), so the per-pair integer sums are
    cross-engine identical. Plan: ONE corpus census shuffle on
    (source, token); everything after lives at the S×50 dimension
    grain. This is the source-style drift monitor for corpus mixing."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    toks = d.select("source", F.explode(T.tokenize(F.col("text"))).alias("token"))
    st = toks.groupBy("source", "token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    topm = (
        st.groupBy("token").agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), "token").limit(_DELTA_TOPM).select("token")
    )
    ns = st.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    cells = (
        ns.crossJoin(F.broadcast(topm))
        .join(st, ["source", "token"], "left")
        .select(
            "source", "token",
            F.round(F.lit(1e9) * F.coalesce(F.col("c"), F.lit(0)) / F.col("n"), 0)
            .cast("long")
            .alias("f_ppb"),
        )
        .stableCheckpoint(eager=True)  # feeds stats AND both pair sides
    )
    stats = cells.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("f_ppb").cast("long").alias("t"),
        F.sum(F.col("f_ppb").cast(dec) * F.col("f_ppb").cast(dec)).cast(dec).alias("q"),
    )
    a = cells.select(F.col("source").alias("source_a"), "token", F.col("f_ppb").alias("fa"))
    b = cells.select(F.col("source").alias("source_b"), "token", F.col("f_ppb").alias("fb"))
    var = F.col("s").cast(dec) * F.col("q") - F.col("t").cast(dec) * F.col("t").cast(dec)
    pairs = (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(stats), "token")
        .where(var > 0)
        .select(
            "source_a", "source_b",
            F.round(
                F.lit(1e6)
                * (F.col("s") * F.abs(F.col("fa") - F.col("fb"))).cast("double")
                / F.sqrt(var.cast("double")),
                0,
            ).cast("long").alias("zdiff_fp"),
        )
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(
            F.sum("zdiff_fp").cast("double") / (F.count(F.lit(1)) * F.lit(1e6)), 6
        ).alias("delta"),
    )



def _item_cosine_sql(topk: int = 5, basket_cap: int = 20) -> str:
    return f"""WITH op AS (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (
         SELECT l_orderkey FROM op GROUP BY l_orderkey
         HAVING count(*) BETWEEN 2 AND {basket_cap}),
       b AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
       ci AS (SELECT l_partkey, count(*)::BIGINT AS c FROM b GROUP BY l_partkey),
       co AS (
         SELECT a.l_partkey AS p1, bb.l_partkey AS p2, count(*)::BIGINT AS c_co
         FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                           AND a.l_partkey < bb.l_partkey
         GROUP BY 1, 2),
       sym AS (
         SELECT p1 AS part_id, p2 AS neighbor_id, c_co FROM co
         UNION ALL
         SELECT p2, p1, c_co FROM co),
       scored AS (
         SELECT s.part_id, s.neighbor_id, s.c_co,
                round(s.c_co::DOUBLE / sqrt(c1.c::DOUBLE * c2.c::DOUBLE), 6) AS cosine
         FROM sym s JOIN ci c1 ON c1.l_partkey = s.part_id
                    JOIN ci c2 ON c2.l_partkey = s.neighbor_id)
       SELECT part_id, neighbor_id, c_co, cosine,
              row_number() OVER (PARTITION BY part_id
                                 ORDER BY cosine DESC, neighbor_id)::BIGINT AS rank
       FROM scored QUALIFY rank <= {topk}"""



@query("item_cosine", _item_cosine_sql())
def q_item_cosine(spark, sf_dir):
    """Item-item co-occurrence cosine (Sarwar et al., WWW 2001 — the
    classic collaborative-filtering neighborhood model): top-5 nearest
    parts per part by co-purchase cosine c_ij/√(c_i·c_j) over order
    baskets. The within-basket pair expansion is quadratic in basket
    size, so baskets above a cap (20; TPC-H max is 7) are EXCLUDED
    up front — the standard defense that keeps the self-join bounded at
    web scale (a mega-basket bot order would otherwise dominate one
    task). Plan: distinct (order, part) census → size-gated self-join
    co-census on the order key (ONE shuffle each) → item-count joins on
    the part key → per-item top-k window. Cosine rounds once from
    exact int64 counts."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        op.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("bs"))
        .where((F.col("bs") >= 2) & (F.col("bs") <= 20))
        .select("l_orderkey")
    )
    b = op.join(sized, "l_orderkey").stableCheckpoint(eager=True)
    ci = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a1 = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
    a2 = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
    co = (
        a1.join(a2, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_co"))
    )
    sym = co.select(
        F.col("p1").alias("part_id"), F.col("p2").alias("neighbor_id"), "c_co"
    ).unionAll(
        co.select(
            F.col("p2").alias("part_id"), F.col("p1").alias("neighbor_id"), "c_co"
        )
    )
    scored = (
        sym.join(ci.withColumnRenamed("l_partkey", "part_id").withColumnRenamed("c", "c1"), "part_id")
        .join(ci.withColumnRenamed("l_partkey", "neighbor_id").withColumnRenamed("c", "c2"), "neighbor_id")
        .select(
            "part_id", "neighbor_id", "c_co",
            F.round(
                F.col("c_co").cast("double")
                / F.sqrt(F.col("c1").cast("double") * F.col("c2").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("part_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.select(
        "*", F.row_number().over(w).cast("long").alias("rank")
    ).where(F.col("rank") <= 5)



# --------------------------------------------------------------------------
# batch 26: content-defined chunking, UCB1 bandit replay, grid DBSCAN

def _cdc_sql(mod: int = 16) -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    return f"""WITH toks AS (
         SELECT doc_id, t.token, t.pos::BIGINT AS pos
         FROM (SELECT doc_id,
                      unnest(string_split(trim(text), ' ')) AS token,
                      generate_subscripts(string_split(trim(text), ' '), 1) - 1 AS pos
               FROM documents) t(doc_id, token, pos)),
       flagged AS (
         SELECT doc_id, token, pos,
                ({md5_int_sql('token')} % {mod} = 0)::INT AS boundary
         FROM toks),
       chunks AS (
         SELECT doc_id, token, pos,
                coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                                      AND 1 PRECEDING), 0) AS chunk_id
         FROM flagged),
       ch AS (
         SELECT doc_id, chunk_id,
                md5(string_agg(token, ' ' ORDER BY pos)) AS chash,
                count(*)::BIGINT AS c_toks
         FROM chunks GROUP BY doc_id, chunk_id),
       census AS (
         SELECT chash, count(DISTINCT doc_id)::BIGINT AS n_docs FROM ch GROUP BY chash)
       SELECT ch.doc_id,
              count(*)::BIGINT AS n_chunks,
              sum(c_toks)::BIGINT AS n_tokens,
              sum((census.n_docs >= 2)::INT)::BIGINT AS dup_chunks,
              sum(CASE WHEN census.n_docs >= 2 THEN c_toks ELSE 0 END)::BIGINT AS dup_tokens,
              round(sum(CASE WHEN census.n_docs >= 2 THEN c_toks ELSE 0 END)::DOUBLE
                    / sum(c_toks), 6) AS dup_token_share
       FROM ch JOIN census USING (chash)
       GROUP BY ch.doc_id"""



@query("cdc_chunks", _cdc_sql())
def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup census (LBFS, Muthitacharoen et
    al. SOSP 2001 — the rsync/storage-dedup primitive, here at token
    grain): a chunk boundary falls AFTER any token whose 60-bit md5
    hash ≡ 0 (mod 16) — boundaries depend only on LOCAL content, so an
    insertion early in a page reshuffles ONE chunk instead of every
    fixed-width window (the failure mode of `chunk_dedup`'s K-token
    spans). Per doc: chunk count and the share of tokens living in
    chunks seen in ≥2 documents. Plan: posexplode → one per-doc window
    cumsum (doc-key shuffle) → chunk grouping on the SAME key (no extra
    exchange) → chunk-hash census shuffle → hash-key join back +
    doc-grain agg. All hashing is md5 inside codegen; no Python."""
    from pliers_spark.functions.hashing import md5_int

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token")
    )
    flagged = toks.select(
        "doc_id", "token", F.col("pos").cast("long").alias("pos"),
        (md5_int(F.col("token")) % 16 == 0).cast("int").alias("boundary"),
    )
    wc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = flagged.select(
        "doc_id", "token", "pos",
        F.coalesce(F.sum("boundary").over(wc), F.lit(0)).alias("chunk_id"),
    )
    ch = chunks.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
            )
        ).alias("chash"),
        F.count(F.lit(1)).cast("long").alias("c_toks"),
    )
    census = ch.groupBy("chash").agg(
        F.count_distinct(F.col("doc_id")).cast("long").alias("n_docs")
    )
    j = ch.join(census, "chash")
    dup_t = F.when(F.col("n_docs") >= 2, F.col("c_toks")).otherwise(F.lit(0))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("c_toks").cast("long").alias("n_tokens"),
        F.sum((F.col("n_docs") >= 2).cast("int")).cast("long").alias("dup_chunks"),
        F.sum(dup_t).cast("long").alias("dup_tokens"),
        F.round(F.sum(dup_t).cast("double") / F.sum("c_toks"), 6).alias("dup_token_share"),
    )



@query(
    "ucb_arms",
    """WITH v AS (
         SELECT event_id, event_type,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       r AS (SELECT *, row_number() OVER (ORDER BY v_fp, event_id) AS rn,
                    count(*) OVER () AS nn FROM v),
       med AS (SELECT max(v_fp) AS m FROM r WHERE rn <= (nn + 1) // 2),
       arms AS (
         SELECT event_type, count(*)::BIGINT AS n,
                sum((v_fp >= med.m)::INT)::BIGINT AS s
         FROM v CROSS JOIN med GROUP BY event_type),
       tot AS (SELECT sum(n)::BIGINT AS nn FROM arms),
       scored AS (
         SELECT event_type AS arm, n, s,
                round(s::DOUBLE / n, 6) AS mean_reward,
                round(s::DOUBLE / n + sqrt(2.0 * ln(tot.nn::DOUBLE) / n::DOUBLE), 6) AS ucb
         FROM arms CROSS JOIN tot)
       SELECT arm, n, s, mean_reward, ucb,
              row_number() OVER (ORDER BY ucb DESC, arm)::BIGINT AS rank
       FROM scored""",
)
def q_ucb_arms(spark, sf_dir):
    """UCB1 bandit replay scoring (Auer, Cesa-Bianchi & Fischer, MLJ
    2002): treat each event_type as an arm, reward = value above the
    EXACT global lower median (integer-rank median — no interpolation
    ambiguity), and rank arms by mean + √(2·ln N / n). This is the
    offline-replay readout behind every explore/exploit rollout
    analysis. Plan: one global rank pass for the median (at corpus
    scale swap in the two-pass rank histogram), one arm census with map-side partial agg, then
    arm-grain math (a handful of rows); the transcendentals touch only
    the final once-rounded arm-grain expression."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_id", "event_type",
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    n_all = v.count()
    wr = Window.orderBy("v_fp", "event_id")
    med = (
        v.select("v_fp", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") <= (n_all + 1) // 2)
        .agg(F.max("v_fp").alias("m"))
    )
    arms = (
        v.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("v_fp") >= F.col("m")).cast("int")).cast("long").alias("s"),
        )
    )
    scored = arms.select(
        F.col("event_type").alias("arm"), "n", "s",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mean_reward"),
        F.round(
            F.col("s").cast("double") / F.col("n")
            + F.sqrt(F.lit(2.0) * F.log(F.lit(float(n_all))) / F.col("n").cast("double")),
            6,
        ).alias("ucb"),
    )
    w = Window.orderBy(F.desc("ucb"), "arm")
    return scored.select("*", F.row_number().over(w).cast("long").alias("rank"))



_DBSCAN_EPS = 3       # Euclidean radius in (token-count, avg-wordlen·100) space

_DBSCAN_MINNB = 4     # neighbors excluding self, i.e. classic minPts = 5



def _dbscan_sql(eps: int = _DBSCAN_EPS, min_nb: int = _DBSCAN_MINNB) -> str:
    return f"""WITH RECURSIVE f AS (
         SELECT doc_id,
                len(string_split(trim(text), ' '))::BIGINT AS x,
                round(100.0 * (length(trim(text)) - len(string_split(trim(text), ' ')) + 1)
                      / len(string_split(trim(text), ' ')))::BIGINT AS y
         FROM documents
         WHERE len(string_split(trim(text), ' ')) > 0),
       pairs AS (
         SELECT a.doc_id AS ia, b.doc_id AS ib
         FROM f a JOIN f b
           ON a.doc_id < b.doc_id
          AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {eps * eps}),
       sym AS (SELECT ia AS a, ib AS b FROM pairs
               UNION ALL SELECT ib, ia FROM pairs),
       deg AS (SELECT a AS doc_id, count(*)::BIGINT AS nb FROM sym GROUP BY a),
       core AS (SELECT doc_id FROM deg WHERE nb >= {min_nb}),
       cedges AS (
         SELECT s.a, s.b FROM sym s
         JOIN core ca ON ca.doc_id = s.a
         JOIN core cb ON cb.doc_id = s.b),
       reach(node, peer) AS (
         SELECT a, a FROM cedges
         UNION
         SELECT r.node, e.b FROM reach r JOIN cedges e ON r.peer = e.a),
       cc AS (SELECT node, min(peer)::BIGINT AS cluster_id FROM reach GROUP BY node),
       corec AS (
         SELECT core.doc_id, coalesce(cc.cluster_id, core.doc_id) AS cluster_id
         FROM core LEFT JOIN cc ON cc.node = core.doc_id),
       border AS (
         SELECT s.a AS doc_id, min(k.cluster_id)::BIGINT AS cluster_id
         FROM sym s
         JOIN corec k ON k.doc_id = s.b
         LEFT JOIN core c ON c.doc_id = s.a
         WHERE c.doc_id IS NULL
         GROUP BY s.a)
       SELECT f.doc_id, f.x, f.y,
              CASE WHEN corec.doc_id IS NOT NULL THEN 'core'
                   WHEN border.doc_id IS NOT NULL THEN 'border'
                   ELSE 'noise' END AS role,
              coalesce(corec.cluster_id, border.cluster_id) AS cluster_id
       FROM f
       LEFT JOIN corec ON corec.doc_id = f.doc_id
       LEFT JOIN border ON border.doc_id = f.doc_id"""



@query("dbscan_clusters", _dbscan_sql())
def q_dbscan_clusters(spark, sf_dir):
    """Grid-accelerated DBSCAN (Ester et al., KDD 1996) over the
    document (token-count, avg-word-length) plane: core = ≥4 neighbors
    within Euclidean eps=3 (minPts 5 counting self), clusters =
    connected components over core-core adjacency (reusing the dedup
    CC operator's min-label propagation), border points adopt the min
    cluster id of an adjacent core, the rest is noise. The neighbor
    search is the textbook scale shape: cell = eps-sized grid square,
    each point probes its 9 adjacent cells (equi-join on the cell key
    — NEVER an all-pairs distance join; with cell size = eps the grid
    candidates provably cover every true neighbor pair), then the
    exact integer distance filter. Density clustering like this is how
    curation pipelines find coherent document populations / outlier
    bands without a k guess. All coordinates and distances are exact
    int64; roles and labels are bit-deterministic."""
    eps, min_nb = _DBSCAN_EPS, _DBSCAN_MINNB
    d = _docs(spark, sf_dir)
    n_t = F.size(T.tokenize(F.col("text")))
    f = (
        d.where(n_t > 0)
        .select(
            "doc_id",
            n_t.cast("long").alias("x"),
            F.round(
                F.lit(100.0) * (F.length(F.trim(F.col("text"))) - n_t + 1) / n_t, 0
            ).cast("long").alias("y"),
        )
        .withColumn("cx", F.floor(F.col("x") / eps))
        .withColumn("cy", F.floor(F.col("y") / eps))
        .stableCheckpoint(eager=True)  # feeds probe side, build side, final join
    )
    offs = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    probe = f.select(
        F.col("doc_id").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya"),
        "cx", "cy", offs.alias("o"),
    ).select(
        "ia", "xa", "ya",
        (F.col("cx") + F.col("o.dx")).alias("pcx"),
        (F.col("cy") + F.col("o.dy")).alias("pcy"),
    )
    build = f.select(
        F.col("doc_id").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("cx").alias("pcx"), F.col("cy").alias("pcy"),
    )
    dist2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    pairs = (
        probe.join(build, ["pcx", "pcy"])
        .where((F.col("ia") < F.col("ib")) & (dist2 <= eps * eps))
        .select("ia", "ib")
        .stableCheckpoint(eager=True)  # feeds degree census, CC edges, border join
    )
    sym = pairs.unionAll(pairs.select(F.col("ib").alias("ia"), F.col("ia").alias("ib")))
    deg = sym.groupBy("ia").agg(F.count(F.lit(1)).alias("nb"))
    core = deg.where(F.col("nb") >= min_nb).select(F.col("ia").alias("doc_id"))
    cedges = (
        sym.join(core.select(F.col("doc_id").alias("ia")), "ia")
        .join(core.select(F.col("doc_id").alias("ib")), "ib")
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    cc = D.connected_components(cedges).select(
        F.col("doc_id"), F.col("cluster_id").cast("long").alias("cluster_id")
    )
    corec = core.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    border = (
        sym.join(corec.select(F.col("doc_id").alias("ib"), "cluster_id"), "ib")
        .join(core.select(F.col("doc_id").alias("ia"), F.lit(1).alias("is_core")), "ia", "left")
        .where(F.col("is_core").isNull())
        .groupBy(F.col("ia").alias("doc_id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return (
        f.select("doc_id", "x", "y")
        .join(corec.withColumnRenamed("cluster_id", "c_core"), "doc_id", "left")
        .join(border.withColumnRenamed("cluster_id", "c_border"), "doc_id", "left")
        .select(
            "doc_id", "x", "y",
            F.when(F.col("c_core").isNotNull(), F.lit("core"))
            .when(F.col("c_border").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("c_core", "c_border").alias("cluster_id"),
        )
    )



# --------------------------------------------------------------------------
# batch 27: clustering agreement (ARI/NMI), triangle counting, SMD balance

def _ari_sql(k: int = 8) -> str:
    from pliers_spark.operators.similarity import kmeans_assign_sql

    return f"""WITH assign AS ({kmeans_assign_sql(k=k)}),
       pairs AS (
         SELECT a.cluster_id AS ci, e.label::BIGINT AS lj
         FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
       ct AS (SELECT ci, lj, count(*)::BIGINT AS nij FROM pairs GROUP BY 1, 2),
       ra AS (SELECT ci, sum(nij)::BIGINT AS ai FROM ct GROUP BY ci),
       rb AS (SELECT lj, sum(nij)::BIGINT AS bj FROM ct GROUP BY lj),
       sums AS (
         SELECT (SELECT sum(nij * (nij - 1) / 2) FROM ct)::HUGEINT AS sij,
                (SELECT sum(ai * (ai - 1) / 2) FROM ra)::HUGEINT AS sa,
                (SELECT sum(bj * (bj - 1) / 2) FROM rb)::HUGEINT AS sb,
                (SELECT sum(nij) FROM ct)::HUGEINT AS n),
       mi AS (
         SELECT sum(ct.nij * CAST(round(1000000.0
                     * ln((ct.nij::DOUBLE * s.n::DOUBLE)
                          / (ra.ai::DOUBLE * rb.bj::DOUBLE))) AS BIGINT))::BIGINT AS mi_fp
         FROM ct JOIN ra USING (ci) JOIN rb USING (lj) CROSS JOIN sums s),
       ha AS (
         SELECT -sum(ai * CAST(round(1000000.0 * ln(ai::DOUBLE / s.n::DOUBLE)) AS BIGINT))::BIGINT AS ha_fp
         FROM ra CROSS JOIN sums s),
       hb AS (
         SELECT -sum(bj * CAST(round(1000000.0 * ln(bj::DOUBLE / s.n::DOUBLE)) AS BIGINT))::BIGINT AS hb_fp
         FROM rb CROSS JOIN sums s)
       SELECT
         round((s.n * (s.n - 1) / 2 * s.sij - s.sa * s.sb)::DOUBLE
               / ((s.n * (s.n - 1) / 2)::DOUBLE * ((s.sa + s.sb)::DOUBLE / 2.0)
                  - (s.sa * s.sb)::DOUBLE), 6) AS ari,
         round(mi.mi_fp::DOUBLE / sqrt(ha.ha_fp::DOUBLE * hb.hb_fp::DOUBLE), 6) AS nmi,
         s.sij::BIGINT AS pair_agree, s.sa::BIGINT AS pairs_pred,
         s.sb::BIGINT AS pairs_true, s.n::BIGINT AS n
       FROM sums s CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb"""



@query("ari_nmi", _ari_sql())
def q_ari_nmi(spark, sf_dir):
    """Clustering-agreement evaluation: Adjusted Rand Index (Hubert &
    Arabie 1985) and Normalized Mutual Information between the exact
    int64 k-means assignment and the embeddings' ground-truth labels —
    the standard pair of external clustering metrics. ARI is pure pair
    combinatorics: ΣC(nᵢⱼ,2), ΣC(aᵢ,2), ΣC(bⱼ,2) as exact integers
    (DECIMAL(38,0)/HUGEINT headroom), ONE final double division. NMI's
    per-cell logs round once to integer micro-nats so MI and the two
    entropies are exact int sums; the 1e6·n scale cancels in the ratio.
    Plan: one contingency census (the only corpus shuffle), everything
    after is k×L-grain."""
    from pliers_spark.operators.similarity import kmeans_assign

    dec = "decimal(38,0)"
    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign(emb, k=8).select("vec_id", "cluster_id")
    ct = (
        assign.join(emb.select("vec_id", F.col("label").cast("long").alias("lj")), "vec_id")
        .groupBy(F.col("cluster_id").alias("ci"), "lj")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .stableCheckpoint(eager=True)  # feeds row sums, col sums, MI
    )
    ra = ct.groupBy("ci").agg(F.sum("nij").cast("long").alias("ai"))
    rb = ct.groupBy("lj").agg(F.sum("nij").cast("long").alias("bj"))
    c2 = lambda c: (F.col(c).cast(dec) * (F.col(c) - 1).cast(dec) / 2).cast(dec)  # noqa: E731
    sums = (
        ct.agg(F.sum(c2("nij")).cast(dec).alias("sij"), F.sum("nij").cast(dec).alias("n"))
        .crossJoin(ra.agg(F.sum(c2("ai")).cast(dec).alias("sa")))
        .crossJoin(rb.agg(F.sum(c2("bj")).cast(dec).alias("sb")))
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    mi = (
        ct.join(ra, "ci").join(rb, "lj").crossJoin(F.broadcast(sums))
        .select(
            (
                F.col("nij")
                * F.round(
                    F.lit(1e6) * F.log((d_("nij") * d_("n")) / (d_("ai") * d_("bj"))), 0
                ).cast("long")
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("mi_fp"))
    )
    ha = (
        ra.crossJoin(F.broadcast(sums))
        .select((F.col("ai") * F.round(F.lit(1e6) * F.log(d_("ai") / d_("n")), 0).cast("long")).alias("t"))
        .agg((-F.sum("t")).cast("long").alias("ha_fp"))
    )
    hb = (
        rb.crossJoin(F.broadcast(sums))
        .select((F.col("bj") * F.round(F.lit(1e6) * F.log(d_("bj") / d_("n")), 0).cast("long")).alias("t"))
        .agg((-F.sum("t")).cast("long").alias("hb_fp"))
    )
    cn2 = (F.col("n") * (F.col("n") - F.lit(1).cast(dec)) / 2).cast(dec)
    return (
        sums.crossJoin(mi).crossJoin(ha).crossJoin(hb)
        .select(
            F.round(
                (cn2 * F.col("sij") - F.col("sa") * F.col("sb")).cast("double")
                / (
                    cn2.cast("double") * ((F.col("sa") + F.col("sb")).cast("double") / F.lit(2.0))
                    - (F.col("sa") * F.col("sb")).cast("double")
                ),
                6,
            ).alias("ari"),
            F.round(
                F.col("mi_fp").cast("double")
                / F.sqrt(F.col("ha_fp").cast("double") * F.col("hb_fp").cast("double")),
                6,
            ).alias("nmi"),
            F.col("sij").cast("long").alias("pair_agree"),
            F.col("sa").cast("long").alias("pairs_pred"),
            F.col("sb").cast("long").alias("pairs_true"),
            F.col("n").cast("long").alias("n"),
        )
    )



def _tri_sql(basket_cap: int = 20) -> str:
    return f"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       sized AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
                 HAVING count(*) BETWEEN 2 AND {basket_cap}),
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
         SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst <> e2.dst
         JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       pert AS (
         SELECT node, count(*)::BIGINT AS t FROM (
           SELECT u AS node FROM tri
           UNION ALL SELECT v FROM tri
           UNION ALL SELECT w FROM tri) GROUP BY node)
       SELECT deg.node AS part_id, deg.d AS degree,
              coalesce(pert.t, 0)::BIGINT AS triangles,
              CASE WHEN deg.d >= 2
                   THEN round(2.0 * coalesce(pert.t, 0) / (deg.d * (deg.d - 1)), 6)
                   ELSE 0.0 END AS clustering_coeff
       FROM deg LEFT JOIN pert ON pert.node = deg.node"""



@query("triangle_coeffs", _tri_sql())
def q_triangle_coeffs(spark, sf_dir):
    """Per-node triangle counts and local clustering coefficient over
    the co-purchase graph, via DEGREE-ORDERED edge orientation (the
    Schank-Wagner/Cohen MapReduce trick): each undirected edge points
    from its lower-(degree, id) endpoint to the higher one, so every
    triangle is enumerated exactly once from its lowest vertex and the
    wedge-join fan-out is bounded by out-degree ≤ O(√m) (graph
    arboricity) instead of max raw degree — THE difference between a
    plan that survives a power-law graph at 100× and one hot task
    materializing a celebrity node's d² wedges. Plan: basket-capped
    distinct edge census, degree census, two self-joins on the
    oriented edge key. Everything integer; coefficient rounds once."""
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
        .stableCheckpoint(eager=True)  # feeds degree census + orientation
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).withColumnRenamed("u", "node")
    o = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select(F.col("u").alias("src"), F.col("v").alias("dst"), F.col("dv").alias("dd"))
        .stableCheckpoint(eager=True)  # feeds wedge join twice + closing probe
    )
    # enumerate each wedge ONCE in orientation order: the closing edge
    # v->w exists only with (deg_v, v) < (deg_w, w), so generating the
    # (w, v) ordering doubles the shuffle for rows that can never match
    # (this halved the sf0.1 wall time of the wedge join)
    e1 = o.select(F.col("src"), F.col("dst").alias("v"), F.col("dd").alias("dv_"))
    e2 = o.select(F.col("src"), F.col("dst").alias("w"), F.col("dd").alias("dw_"))
    wedges = e1.join(e2, "src").where(
        (F.col("dv_") < F.col("dw_"))
        | ((F.col("dv_") == F.col("dw_")) & (F.col("v") < F.col("w")))
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).select(
        F.col("src").alias("u"), "v", "w"
    )
    pert = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return deg.join(pert, "node", "left").select(
        F.col("node").alias("part_id"),
        F.col("d").alias("degree"),
        F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("d") >= 2,
            F.round(
                F.lit(2.0) * F.coalesce("t", F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("clustering_coeff"),
    )



@query(
    "covariate_balance",
    """WITH base AS (
         SELECT (o_orderpriority = '1-URGENT')::INT AS treat,
                CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_fp,
                dayofweek(o_orderdate)::BIGINT AS dow,
                month(o_orderdate)::BIGINT AS mon
         FROM orders),
       stacked AS (
         SELECT treat, 'price_fp' AS covariate, price_fp AS v FROM base
         UNION ALL SELECT treat, 'dow', dow FROM base
         UNION ALL SELECT treat, 'mon', mon FROM base),
       g AS (
         SELECT covariate, treat, count(*)::BIGINT AS n,
                sum(v)::BIGINT AS s, sum(v::HUGEINT * v::HUGEINT) AS q
         FROM stacked GROUP BY 1, 2),
       wide AS (
         SELECT covariate,
                max(CASE WHEN treat = 1 THEN n END) AS n1,
                max(CASE WHEN treat = 1 THEN s END) AS s1,
                max(CASE WHEN treat = 1 THEN q END) AS q1,
                max(CASE WHEN treat = 0 THEN n END) AS n0,
                max(CASE WHEN treat = 0 THEN s END) AS s0,
                max(CASE WHEN treat = 0 THEN q END) AS q0
         FROM g GROUP BY covariate)
       SELECT covariate, n1::BIGINT AS n1, n0::BIGINT AS n0,
              CASE WHEN (q1::DOUBLE / n1 - (s1::DOUBLE / n1) * (s1::DOUBLE / n1))
                        + (q0::DOUBLE / n0 - (s0::DOUBLE / n0) * (s0::DOUBLE / n0)) > 0
                   THEN round((s1::DOUBLE / n1 - s0::DOUBLE / n0)
                    / sqrt(((q1::DOUBLE / n1 - (s1::DOUBLE / n1) * (s1::DOUBLE / n1))
                            + (q0::DOUBLE / n0 - (s0::DOUBLE / n0) * (s0::DOUBLE / n0))) / 2.0),
                    6) END AS smd
       FROM wide""",
)
def q_covariate_balance(spark, sf_dir):
    """Covariate-balance table (standardized mean difference — the
    causal-inference / A-B-assignment health check; |SMD| ≤ 0.1 is the
    conventional balance bar): treatment = urgent order priority,
    covariates stacked long so ONE census shuffle covers all of them.
    Sufficient stats (n, Σv, Σv²) are exact int64/HUGEINT; the SMD
    expression is the identical double shape on both engines with one
    final rounding. The stack-then-census shape is how a real pipeline
    checks dozens of covariates without dozens of passes."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    base = o.select(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("treat"),
        F.round(F.col("o_totalprice") * 100.0, 0).cast("long").alias("price_fp"),
        F.dayofweek(F.col("o_orderdate")).cast("long").alias("dow"),
        F.month(F.col("o_orderdate")).cast("long").alias("mon"),
    )
    stacked = base.select(
        "treat",
        F.explode(
            F.array(
                F.struct(F.lit("price_fp").alias("covariate"), F.col("price_fp").alias("v")),
                F.struct(F.lit("dow").alias("covariate"), F.col("dow").alias("v")),
                F.struct(F.lit("mon").alias("covariate"), F.col("mon").alias("v")),
            )
        ).alias("cv"),
    ).select("treat", "cv.covariate", "cv.v")
    g = stacked.groupBy("covariate", "treat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v").cast(dec) * F.col("v").cast(dec)).cast(dec).alias("q"),
    )
    wide = g.groupBy("covariate").agg(
        F.max(F.when(F.col("treat") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("treat") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("treat") == 1, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("treat") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("treat") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("treat") == 0, F.col("q"))).alias("q0"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    m1, m0 = d_("s1") / d_("n1"), d_("s0") / d_("n0")
    v1 = d_("q1") / d_("n1") - m1 * m1
    v0 = d_("q0") / d_("n0") - m0 * m0
    return wide.select(
        "covariate",
        F.col("n1").cast("long").alias("n1"),
        F.col("n0").cast("long").alias("n0"),
        # zero pooled variance (constant covariate) -> NULL, not a 0/0:
        # Spark ANSI mode rightly refuses the division
        F.when(
            v1 + v0 > 0, F.round((m1 - m0) / F.sqrt((v1 + v0) / F.lit(2.0)), 6)
        ).alias("smd"),
    )



# --------------------------------------------------------------------------
# batch 28: 1-D Wasserstein drift, TextTiling gaps, degree assortativity

@query(
    "wasserstein_1d",
    """WITH c AS (
         SELECT source, n_chars::BIGINT AS v, count(*)::BIGINT AS cnt
         FROM documents GROUP BY 1, 2),
       ns AS (SELECT source, sum(cnt)::BIGINT AS n FROM c GROUP BY source),
       pr AS (
         SELECT a.source AS src_a, a.n AS na, b.source AS src_b, b.n AS nb
         FROM ns a JOIN ns b ON a.source < b.source),
       vals AS (SELECT DISTINCT v FROM c),
       grid AS (
         SELECT pr.src_a, pr.src_b, pr.na, pr.nb, vals.v,
                coalesce(ca.cnt, 0) AS ca, coalesce(cb.cnt, 0) AS cb
         FROM pr CROSS JOIN vals
         LEFT JOIN c ca ON ca.source = pr.src_a AND ca.v = vals.v
         LEFT JOIN c cb ON cb.source = pr.src_b AND cb.v = vals.v),
       cum AS (
         SELECT src_a, src_b, na, nb, v,
                sum(ca) OVER (PARTITION BY src_a, src_b ORDER BY v) AS cua,
                sum(cb) OVER (PARTITION BY src_a, src_b ORDER BY v) AS cub,
                lead(v) OVER (PARTITION BY src_a, src_b ORDER BY v) AS nxt
         FROM grid)
       SELECT src_a, src_b,
              round(sum(abs(cua * nb - cub * na) * (nxt - v))::DOUBLE
                    / (na::DOUBLE * nb::DOUBLE), 6) AS w1
       FROM cum WHERE nxt IS NOT NULL
       GROUP BY src_a, src_b, na, nb""",
)
def q_wasserstein_1d(spark, sf_dir):
    """Exact 1-D Wasserstein-1 (earth-mover) distance between every
    source pair's document-length distribution — the drift metric that,
    unlike KS (`ks_drift`), measures HOW FAR mass moved, not just the
    max ECDF gap: W1 = ∫|F_A − F_B| = Σ_segments |cumA·nB − cumB·nA|·gap
    / (nA·nB), all integer until ONE final division. Plan: one
    (source, value) census, the segment grid lives at (pairs × distinct
    values) grain with a single window cumsum per pair — the corpus is
    never re-scanned per pair. The shared global value grid adds only
    zero-count segments, which contribute the same |diff|·gap as the
    merged-support formulation."""
    d = _docs(spark, sf_dir)
    c = d.groupBy("source", F.col("n_chars").cast("long").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).stableCheckpoint(eager=True)  # feeds per-source totals + both grid sides
    ns = c.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    a = ns.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    b = ns.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    pr = a.join(b, F.col("src_a") < F.col("src_b"))
    vals = c.select("v").distinct()
    grid = (
        pr.crossJoin(vals)
        .join(
            c.select(F.col("source").alias("src_a"), "v", F.col("cnt").alias("ca")),
            ["src_a", "v"], "left",
        )
        .join(
            c.select(F.col("source").alias("src_b"), "v", F.col("cnt").alias("cb")),
            ["src_b", "v"], "left",
        )
        .select(
            "src_a", "src_b", "na", "nb", "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = Window.partitionBy("src_a", "src_b").orderBy("v")
    cum = grid.select(
        "src_a", "src_b", "na", "nb", "v",
        F.sum("ca").over(w).alias("cua"),
        F.sum("cb").over(w).alias("cub"),
        F.lead("v").over(w).alias("nxt"),
    )
    return (
        cum.where(F.col("nxt").isNotNull())
        .groupBy("src_a", "src_b", "na", "nb")
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("cua") * F.col("nb") - F.col("cub") * F.col("na"))
                    * (F.col("nxt") - F.col("v"))
                ).cast("double")
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("w1")
        )
        .select("src_a", "src_b", "w1")
    )



_TILE_W = 10  # tokens per TextTiling block



def _texttiling_sql(w: int = _TILE_W) -> str:
    return f"""WITH toks AS (
         SELECT doc_id, t.token, t.pos::BIGINT AS pos
         FROM (SELECT doc_id,
                      unnest(string_split(trim(text), ' ')) AS token,
                      generate_subscripts(string_split(trim(text), ' '), 1) - 1 AS pos
               FROM documents) t(doc_id, token, pos)),
       tf AS (
         SELECT doc_id, (pos // {w})::BIGINT AS blk, token, count(*)::BIGINT AS c
         FROM toks GROUP BY 1, 2, 3),
       nrm AS (SELECT doc_id, blk, sum(c * c)::BIGINT AS n2 FROM tf GROUP BY 1, 2),
       dots AS (
         SELECT a.doc_id, a.blk AS gap_idx, sum(a.c * b.c)::BIGINT AS dot
         FROM tf a JOIN tf b ON a.doc_id = b.doc_id AND b.blk = a.blk + 1
                            AND a.token = b.token
         GROUP BY 1, 2),
       gaps AS (
         SELECT n1.doc_id, n1.blk AS gap_idx,
                round(coalesce(d.dot, 0)::DOUBLE
                      / sqrt(n1.n2::DOUBLE * n2.n2::DOUBLE), 6) AS cosine
         FROM nrm n1 JOIN nrm n2 ON n1.doc_id = n2.doc_id AND n2.blk = n1.blk + 1
         LEFT JOIN dots d ON d.doc_id = n1.doc_id AND d.gap_idx = n1.blk)
       SELECT doc_id, gap_idx, cosine,
              (cosine < coalesce(lag(cosine) OVER dw, 1e9)
               AND cosine < coalesce(lead(cosine) OVER dw, 1e9)) AS is_valley
       FROM gaps
       WINDOW dw AS (PARTITION BY doc_id ORDER BY gap_idx)"""



@query("texttiling_gaps", _texttiling_sql())
def q_texttiling_gaps(spark, sf_dir):
    """TextTiling topic-segmentation signal (Hearst, CL 1997): cosine
    lexical cohesion between adjacent {_TILE_W}-token blocks of each
    document; a strict local minimum (valley) marks a candidate topic
    boundary — the pre-chunking step for retrieval indexing that
    respects topic structure instead of fixed windows. Dot products
    and norms are exact int64 token-count sums (ONE rounding at the
    cosine); blocks with no shared vocabulary coalesce to dot 0. Plan:
    posexplode → (doc, block, token) census → adjacent-block self-join
    on the SAME (doc, token) key + one per-doc window for the valley
    flag — every shuffle is doc-keyed, so partitions stay aligned."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token")
    )
    tf = toks.groupBy(
        "doc_id",
        F.floor(F.col("pos") / _TILE_W).cast("long").alias("blk"),
        "token",
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).stableCheckpoint(eager=True)
    nrm = tf.groupBy("doc_id", "blk").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    a = tf.select("doc_id", F.col("blk").alias("gap_idx"), "token", F.col("c").alias("ca"))
    bb = tf.select("doc_id", (F.col("blk") - 1).alias("gap_idx"), "token", F.col("c").alias("cb"))
    dots = (
        a.join(bb, ["doc_id", "gap_idx", "token"])
        .groupBy("doc_id", "gap_idx")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    n1 = nrm.select("doc_id", F.col("blk").alias("gap_idx"), F.col("n2").alias("n2a"))
    n2 = nrm.select("doc_id", (F.col("blk") - 1).alias("gap_idx"), F.col("n2").alias("n2b"))
    gaps = (
        n1.join(n2, ["doc_id", "gap_idx"])
        .join(dots, ["doc_id", "gap_idx"], "left")
        .select(
            "doc_id", "gap_idx",
            F.round(
                F.coalesce("dot", F.lit(0)).cast("double")
                / F.sqrt(F.col("n2a").cast("double") * F.col("n2b").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    dw = Window.partitionBy("doc_id").orderBy("gap_idx")
    big = F.lit(1e9)
    return gaps.select(
        "doc_id", "gap_idx", "cosine",
        (
            (F.col("cosine") < F.coalesce(F.lag("cosine").over(dw), big))
            & (F.col("cosine") < F.coalesce(F.lead("cosine").over(dw), big))
        ).alias("is_valley"),
    )



@query(
    "degree_assortativity",
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
       ed AS (
         SELECT da.d AS du, db.d AS dv
         FROM sym s JOIN deg da ON da.node = s.a JOIN deg db ON db.node = s.b),
       st AS (
         SELECT count(*)::HUGEINT AS m, sum(du)::HUGEINT AS sx,
                sum(du::HUGEINT * du::HUGEINT) AS sxx,
                sum(du::HUGEINT * dv::HUGEINT) AS sxy
         FROM ed)
       SELECT (m / 2)::BIGINT AS n_edges,
              CASE WHEN m * sxx - sx * sx > 0
                   THEN round((m * sxy - sx * sx)::DOUBLE
                              / (m * sxx - sx * sx)::DOUBLE, 6) END AS assortativity
       FROM st""",
)
def q_degree_assortativity(spark, sf_dir):
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of endpoint degrees over the symmetrized co-purchase
    edge list — positive means hubs link hubs (social-style), negative
    means hub-spoke (web/retail-style); the one-number summary that
    predicts whether skew defenses will be needed downstream. The
    symmetric edge orientation makes Sx = Sy and Sxx = Syy, so
    r = (m·Sxy − Sx²)/(m·Sxx − Sx²) with every sufficient statistic an
    exact DECIMAL(38,0) sum and ONE final rounded division (NULL on a
    degree-regular graph). Plan: edge census, degree census, two
    degree joins, one global agg — no window, no driver math."""
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
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).withColumnRenamed("u", "node")
    ed = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select("du", "dv")
    )
    st = ed.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum("du").cast(dec).alias("sx"),
        F.sum(F.col("du").cast(dec) * F.col("du").cast(dec)).cast(dec).alias("sxx"),
        F.sum(F.col("du").cast(dec) * F.col("dv").cast(dec)).cast(dec).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return st.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.when(den > 0, F.round(num.cast("double") / den.cast("double"), 6)).alias(
            "assortativity"
        ),
    )



# --------------------------------------------------------------------------
# batch 29: Mann-Kendall + Sen slope, Kruskal-Wallis, CMH stratified odds

_MK_MIN_N = 5

_MK_CAP = 500  # series longer than this are excluded (quadratic pair guard)



def _mk_sql(min_n: int = _MK_MIN_N, cap: int = _MK_CAP) -> str:
    return f"""WITH v AS (
         SELECT user_id, epoch_us(ts)::BIGINT AS t_us,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n
         FROM events),
       g AS (SELECT * FROM v WHERE n BETWEEN {min_n} AND {cap}),
       p AS (
         SELECT a.user_id, a.n,
                CASE WHEN b.v_fp > a.v_fp THEN 1
                     WHEN b.v_fp < a.v_fp THEN -1 ELSE 0 END AS sgn,
                CASE WHEN b.t_us <> a.t_us
                     THEN CAST(round(1000000.0 * (b.v_fp - a.v_fp)::DOUBLE
                                     / (b.t_us - a.t_us)::DOUBLE) AS BIGINT)
                END AS slope_fp
         FROM g a JOIN g b ON a.user_id = b.user_id AND a.rn < b.rn),
       s AS (
         SELECT user_id, any_value(n)::BIGINT AS n, sum(sgn)::BIGINT AS mk_s
         FROM p GROUP BY user_id),
       sl AS (
         SELECT user_id, slope_fp,
                row_number() OVER (PARTITION BY user_id ORDER BY slope_fp) AS srn,
                count(*) OVER (PARTITION BY user_id) AS m
         FROM p WHERE slope_fp IS NOT NULL),
       sen AS (
         SELECT user_id, max(slope_fp)::BIGINT AS sen_slope_fp
         FROM sl WHERE srn <= (m + 1) // 2 GROUP BY user_id)
       SELECT s.user_id, s.n, s.mk_s,
              round(2.0 * s.mk_s / (s.n * (s.n - 1)), 6) AS tau,
              sen.sen_slope_fp
       FROM s LEFT JOIN sen USING (user_id)"""



@query("mann_kendall_sen", _mk_sql())
def q_mann_kendall_sen(spark, sf_dir):
    """Mann-Kendall trend test + Sen's slope per user series (Mann 1945,
    Kendall 1975; Sen, JASA 1968) — the standard nonparametric
    monotone-trend pair for noisy series: S = Σ sign(vⱼ−vᵢ) over
    time-ordered pairs (exact int), τ-a = 2S/n(n−1) (one rounded
    division), Sen slope = EXACT lower median of the pairwise
    micro-unit slopes (integer rank, no interpolation; same-timestamp
    pairs excluded). The O(n²) per-series pair join is gated to
    {_MK_MIN_N} ≤ n ≤ {_MK_CAP} — at crawl scale a bot user with 10⁶
    events would otherwise put 10¹² pairs on one task (the item_cosine
    basket-cap discipline). Plan: one user-key window pass, one
    user-key self-join (co-partitioned — no second shuffle), two
    user-grain aggs."""
    ev = _events(spark, sf_dir)
    from pliers_spark.operators._util import epoch_micros

    wu = Window.partitionBy("user_id")
    v = ev.select(
        "user_id",
        epoch_micros(ev, "ts").cast("long").alias("t_us"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
        F.row_number().over(wu.orderBy("ts", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"),
    )
    g = v.where((F.col("n") >= _MK_MIN_N) & (F.col("n") <= _MK_CAP)).stableCheckpoint(
        eager=True
    )
    a = g.select("user_id", "n", F.col("rn").alias("ra"), F.col("t_us").alias("ta"), F.col("v_fp").alias("va"))
    b = g.select("user_id", F.col("rn").alias("rb"), F.col("t_us").alias("tb"), F.col("v_fp").alias("vb"))
    p = (
        a.join(b, "user_id")
        .where(F.col("ra") < F.col("rb"))
        .select(
            "user_id", "n",
            F.when(F.col("vb") > F.col("va"), 1)
            .when(F.col("vb") < F.col("va"), -1)
            .otherwise(0)
            .alias("sgn"),
            F.when(
                F.col("tb") != F.col("ta"),
                F.round(
                    F.lit(1e6) * (F.col("vb") - F.col("va")).cast("double")
                    / (F.col("tb") - F.col("ta")).cast("double"),
                    0,
                ).cast("long"),
            ).alias("slope_fp"),
        )
        .stableCheckpoint(eager=True)  # feeds S agg and the slope median
    )
    s = p.groupBy("user_id").agg(
        F.first("n").cast("long").alias("n"), F.sum("sgn").cast("long").alias("mk_s")
    )
    ws = Window.partitionBy("user_id").orderBy("slope_fp")
    sl = p.where(F.col("slope_fp").isNotNull()).select(
        "user_id", "slope_fp",
        F.row_number().over(ws).alias("srn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("m"),
    )
    sen = (
        sl.where(F.col("srn") <= (F.col("m") + 1) / 2)
        .groupBy("user_id")
        .agg(F.max("slope_fp").cast("long").alias("sen_slope_fp"))
    )
    return s.join(sen, "user_id", "left").select(
        "user_id", "n", "mk_s",
        F.round(F.lit(2.0) * F.col("mk_s") / (F.col("n") * (F.col("n") - 1)), 6).alias("tau"),
        "sen_slope_fp",
    )



@query(
    "kruskal_wallis",
    """WITH v AS (
         SELECT event_type, CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       dist AS (SELECT v_fp, count(*)::BIGINT AS eq FROM v GROUP BY v_fp),
       rk AS (
         SELECT v_fp, eq,
                2 * (sum(eq) OVER (ORDER BY v_fp) - eq) + eq + 1 AS r2
         FROM dist),
       per_g AS (
         SELECT v.event_type, count(*)::BIGINT AS ni, sum(rk.r2)::BIGINT AS r2i
         FROM v JOIN rk USING (v_fp) GROUP BY v.event_type),
       tot AS (
         SELECT sum(ni)::BIGINT AS n,
                (SELECT sum(eq * eq * eq - eq) FROM dist)::BIGINT AS tie3
         FROM per_g),
       h AS (
         SELECT (SELECT count(*) FROM per_g)::BIGINT AS k, tot.n, tot.tie3,
                12.0 / (tot.n::DOUBLE * (tot.n + 1)::DOUBLE)
                  * (SELECT sum((r2i::DOUBLE / 2.0) * (r2i::DOUBLE / 2.0) / ni::DOUBLE)
                     FROM per_g)
                  - 3.0 * (tot.n + 1)::DOUBLE AS h_raw
         FROM tot)
       SELECT k, n, round(h_raw, 6) AS h,
              CASE WHEN tie3 < n * n * n - n
                   THEN round(h_raw / (1.0 - tie3::DOUBLE / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 6)
              END AS h_tie_corrected
       FROM h""",
)
def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis rank one-way ANOVA across event types (Kruskal &
    Wallis, JASA 1952) — the nonparametric twin of a one-way ANOVA's
    parametric R²: H = 12/(N(N+1))·ΣRᵢ²/nᵢ −
    3(N+1) with average-rank ties and the Σ(t³−t) tie correction.
    Ranks never touch a float: the DOUBLED average rank of a value is
    2·|{<v}| + |{=v}| + 1 — an exact integer from the value census —
    so per-group rank sums are exact int64 and H is one identical
    double expression on both engines. Plan: value census (one
    shuffle), a value-grain running-sum window, one join back on the
    value key, group-grain math."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_type", F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp")
    )
    dist = v.groupBy("v_fp").agg(F.count(F.lit(1)).cast("long").alias("eq"))
    wv = Window.orderBy("v_fp").rowsBetween(Window.unboundedPreceding, 0)
    rk = dist.select(
        "v_fp", "eq",
        (2 * (F.sum("eq").over(wv) - F.col("eq")) + F.col("eq") + 1).alias("r2"),
    )
    per_g = (
        v.join(rk, "v_fp")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("ni"), F.sum("r2").cast("long").alias("r2i"))
    )
    tot = per_g.agg(
        F.count(F.lit(1)).cast("long").alias("k"), F.sum("ni").cast("long").alias("n")
    ).crossJoin(
        dist.agg(
            F.sum(F.col("eq") * F.col("eq") * F.col("eq") - F.col("eq"))
            .cast("long")
            .alias("tie3")
        )
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    ssum = per_g.agg(
        F.sum(
            (d_("r2i") / F.lit(2.0)) * (d_("r2i") / F.lit(2.0)) / d_("ni")
        ).alias("ss")
    )
    j = tot.crossJoin(ssum)
    h_raw = (
        F.lit(12.0) / (d_("n") * (F.col("n") + 1).cast("double")) * F.col("ss")
        - F.lit(3.0) * (F.col("n") + 1).cast("double")
    )
    nnn = d_("n") * d_("n") * d_("n") - d_("n")
    return j.select(
        "k", "n",
        F.round(h_raw, 6).alias("h"),
        F.when(
            F.col("tie3") < F.col("n") * F.col("n") * F.col("n") - F.col("n"),
            F.round(h_raw / (F.lit(1.0) - d_("tie3") / nnn), 6),
        ).alias("h_tie_corrected"),
    )



@query(
    "cmh_odds",
    """WITH b AS (
         SELECT month(o_orderdate)::BIGINT AS stratum,
                (o_orderpriority = '1-URGENT')::INT AS t,
                (o_orderstatus = 'F')::INT AS y
         FROM orders),
       s AS (
         SELECT stratum,
                sum((t = 1 AND y = 1)::INT)::BIGINT AS a,
                sum((t = 1 AND y = 0)::INT)::BIGINT AS bb,
                sum((t = 0 AND y = 1)::INT)::BIGINT AS c,
                sum((t = 0 AND y = 0)::INT)::BIGINT AS d,
                count(*)::BIGINT AS n
         FROM b GROUP BY stratum),
       fp AS (
         SELECT sum(CAST(round(1000000.0 * a * d / n) AS BIGINT))::BIGINT AS num_fp,
                sum(CAST(round(1000000.0 * bb * c / n) AS BIGINT))::BIGINT AS den_fp,
                count(*)::BIGINT AS n_strata,
                sum(a)::BIGINT AS a_tot, sum(bb)::BIGINT AS b_tot,
                sum(c)::BIGINT AS c_tot, sum(d)::BIGINT AS d_tot
         FROM s)
       SELECT n_strata,
              round(num_fp::DOUBLE / den_fp::DOUBLE, 6) AS or_cmh,
              round((a_tot * d_tot)::DOUBLE / (b_tot * c_tot)::DOUBLE, 6) AS or_pooled,
              round(ln(num_fp::DOUBLE / den_fp::DOUBLE), 6) AS log_or_cmh
       FROM fp""",
)
def q_cmh_odds(spark, sf_dir):
    """Cochran-Mantel-Haenszel stratified odds ratio (Mantel & Haenszel,
    JNCI 1959): the Simpson's-paradox-safe pooled effect of urgent
    priority on order-failure odds, stratified by order month —
    OR_CMH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ), reported next to the crude
    pooled OR so confounding is visible as their gap. Each stratum's
    ratio rounds ONCE to integer micro-units before the cross-strata
    sum (float-accumulation-order-proof, the same discipline as every
    *_fp sum in this file). Plan: one stratum census with map-side
    partial agg; stratum grain (12 rows) afterwards."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.month("o_orderdate").cast("long").alias("stratum"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("t"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    s = b.groupBy("stratum").agg(
        F.sum(((F.col("t") == 1) & (F.col("y") == 1)).cast("int")).cast("long").alias("a"),
        F.sum(((F.col("t") == 1) & (F.col("y") == 0)).cast("int")).cast("long").alias("bb"),
        F.sum(((F.col("t") == 0) & (F.col("y") == 1)).cast("int")).cast("long").alias("c"),
        F.sum(((F.col("t") == 0) & (F.col("y") == 0)).cast("int")).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    fp = s.agg(
        F.sum(
            F.round(F.lit(1e6) * F.col("a") * F.col("d") / F.col("n"), 0).cast("long")
        ).cast("long").alias("num_fp"),
        F.sum(
            F.round(F.lit(1e6) * F.col("bb") * F.col("c") / F.col("n"), 0).cast("long")
        ).cast("long").alias("den_fp"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("a_tot"),
        F.sum("bb").cast("long").alias("b_tot"),
        F.sum("c").cast("long").alias("c_tot"),
        F.sum("d").cast("long").alias("d_tot"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return fp.select(
        "n_strata",
        F.round(d_("num_fp") / d_("den_fp"), 6).alias("or_cmh"),
        F.round((F.col("a_tot") * F.col("d_tot")).cast("double")
                / (F.col("b_tot") * F.col("c_tot")).cast("double"), 6).alias("or_pooled"),
        F.round(F.log(d_("num_fp") / d_("den_fp")), 6).alias("log_or_cmh"),
    )



# --------------------------------------------------------------------------
# batch 30: DoReMi reweighting step, ANN hubness diagnostic, padding waste

_DOREMI_ETA = 4.0



def _doremi_sql(eta: float = _DOREMI_ETA) -> str:
    return f"""WITH q AS (SELECT * FROM ({_QUALITY_ORACLE}) t),
       qs AS (
         SELECT d.source, CAST(round(q.quality * 1000000.0) AS BIGINT) AS q_fp
         FROM documents d JOIN q ON q.doc_id = d.doc_id),
       per AS (
         SELECT source, count(*)::BIGINT AS n, sum(q_fp)::BIGINT AS sq
         FROM qs GROUP BY source),
       tot AS (SELECT sum(n)::BIGINT AS nn, sum(sq)::BIGINT AS sqq FROM per),
       f AS (
         SELECT source, n,
                CAST(round(1000000.0 * n / tot.nn) AS BIGINT) AS share_ppm,
                round((sq::DOUBLE / n - tot.sqq::DOUBLE / tot.nn) / 1000000.0, 6)
                  AS excess,
                CAST(round(1000000.0
                     * exp({eta} * ((sq::DOUBLE / n - tot.sqq::DOUBLE / tot.nn)
                                    / 1000000.0))) AS BIGINT) AS factor_ppm
         FROM per CROSS JOIN tot),
       raw AS (SELECT *, share_ppm * factor_ppm AS raw_w FROM f),
       z AS (SELECT sum(raw_w)::BIGINT AS zz FROM raw)
       SELECT source, n AS n_docs, share_ppm, excess,
              round(raw_w::DOUBLE / z.zz::DOUBLE, 6) AS weight_new
       FROM raw CROSS JOIN z"""



@query("doremi_step", _doremi_sql())
def q_doremi_step(spark, sf_dir):
    """One DoReMi-style exponentiated-gradient domain-reweighting step
    (Xie et al., NeurIPS 2023): each source's mixture weight is its
    corpus share multiplied by exp(η · excess), where excess is the
    source's mean quality above the corpus mean (the proxy for the
    reference-vs-proxy loss gap), then renormalized — the update every
    mixture-tuning loop runs between training epochs. The per-doc
    quality is already a 6dp-rounded value, so its micro-unit int is
    exact; the single exp() per SOURCE rounds once to ppm; the raw
    weights are int64 products; normalization is one division. Plan:
    doc-grain quality map (narrow) → source census → source-grain
    math. Composes with `mixture_sample`/`mixture_epochs` for the
    actual resample."""
    d = _docs(spark, sf_dir)
    qs = d.select(
        "source", F.round(T.quality_score("text") * F.lit(1e6), 0).cast("long").alias("q_fp")
    )
    per = qs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("q_fp").cast("long").alias("sq")
    )
    tot = per.agg(F.sum("n").cast("long").alias("nn"), F.sum("sq").cast("long").alias("sqq"))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    excess = (d_("sq") / d_("n") - d_("sqq") / d_("nn")) / F.lit(1e6)
    f = per.crossJoin(F.broadcast(tot)).select(
        "source", "n",
        F.round(F.lit(1e6) * F.col("n") / F.col("nn"), 0).cast("long").alias("share_ppm"),
        F.round(excess, 6).alias("excess"),
        F.round(F.lit(1e6) * F.exp(F.lit(_DOREMI_ETA) * excess), 0).cast("long").alias("factor_ppm"),
    )
    raw = f.select("*", (F.col("share_ppm") * F.col("factor_ppm")).alias("raw_w"))
    z = raw.agg(F.sum("raw_w").cast("long").alias("zz"))
    return raw.crossJoin(F.broadcast(z)).select(
        "source", F.col("n").alias("n_docs"), "share_ppm", "excess",
        F.round(d_("raw_w") / d_("zz"), 6).alias("weight_new"),
    )



def _hubness_sql(k: int = 5) -> str:
    return f"""WITH scored AS (
         SELECT q.vec_id AS q_id, a.vec_id AS c_id,
                round({_DOT_SQL} / ({_NORM_A} * {_NORM_Q}), 6) AS cosine
         FROM embeddings a JOIN embeddings q
           ON a.label = q.label AND a.vec_id <> q.vec_id),
       topk AS (
         SELECT c_id FROM (
           SELECT q_id, c_id,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, c_id) AS rank
           FROM scored) WHERE rank <= {k}),
       occ AS (SELECT c_id, count(*)::BIGINT AS nk FROM topk GROUP BY c_id),
       alln AS (
         SELECT e.vec_id, coalesce(occ.nk, 0)::BIGINT AS nk
         FROM embeddings e LEFT JOIN occ ON occ.c_id = e.vec_id),
       st AS (
         SELECT count(*)::BIGINT AS n, sum(nk)::BIGINT AS s1,
                sum(nk::HUGEINT * nk::HUGEINT) AS s2,
                sum(nk::HUGEINT * nk::HUGEINT * nk::HUGEINT) AS s3,
                max(nk)::BIGINT AS max_occ,
                sum((nk = 0)::INT)::BIGINT AS never
         FROM alln)
       SELECT n, {k}::BIGINT AS k, max_occ,
              round(never::DOUBLE / n, 6) AS pct_never,
              CASE WHEN s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n) > 0
                   THEN round((s3::DOUBLE / n
                               - 3.0 * (s1::DOUBLE / n) * (s2::DOUBLE / n)
                               + 2.0 * (s1::DOUBLE / n) * (s1::DOUBLE / n) * (s1::DOUBLE / n))
                              / pow(s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n), 1.5), 6)
              END AS skewness
       FROM st"""



@query("ann_hubness", _hubness_sql())
def q_ann_hubness(spark, sf_dir):
    """Hubness diagnostic of the ANN neighborhood graph (Radovanović,
    Nanopoulos & Ivanović, JMLR 2010): the k-occurrence distribution —
    how often each vector appears in others' IVF-gated top-k — and its
    skewness. High positive skew (a few hub vectors in everyone's
    neighbor list, many never retrieved) is THE symptom of
    concentrated / low-quality embedding spaces and silently poisons
    kNN dedup and retrieval; pct_never is the orphan share. Plan: the
    bucket-gated scoring join of `ann_ivf_topk` with every vector as a
    query (never all-pairs across buckets), one per-query top-k
    window, one occurrence census, moment math on exact int64/HUGEINT
    sufficient stats with ONE rounded division chain."""
    from pliers_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    topk = ivf_topk(emb, emb, "vec_id", "embedding", "vec_id", "embedding", "label", k=5)
    occ = topk.groupBy("c_id").agg(F.count(F.lit(1)).cast("long").alias("nk"))
    alln = emb.select("vec_id").join(
        occ.withColumnRenamed("c_id", "vec_id"), "vec_id", "left"
    ).select("vec_id", F.coalesce("nk", F.lit(0)).cast("long").alias("nk"))
    dec = "decimal(38,0)"
    st = alln.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nk").cast("long").alias("s1"),
        F.sum(F.col("nk").cast(dec) * F.col("nk").cast(dec)).cast(dec).alias("s2"),
        F.sum(F.col("nk").cast(dec) * F.col("nk").cast(dec) * F.col("nk").cast(dec)).cast(dec).alias("s3"),
        F.max("nk").cast("long").alias("max_occ"),
        F.sum((F.col("nk") == 0).cast("int")).cast("long").alias("never"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    m1 = d_("s1") / d_("n")
    var = d_("s2") / d_("n") - m1 * m1
    skew = (
        d_("s3") / d_("n") - F.lit(3.0) * m1 * (d_("s2") / d_("n")) + F.lit(2.0) * m1 * m1 * m1
    ) / F.pow(var, 1.5)
    return st.select(
        "n", F.lit(5).cast("long").alias("k"), "max_occ",
        F.round(d_("never") / d_("n"), 6).alias("pct_never"),
        F.when(var > 0, F.round(skew, 6)).alias("skewness"),
    )



@query(
    "padding_waste",
    """WITH t AS (
         SELECT doc_id, len(string_split(trim(text), ' '))::BIGINT AS n
         FROM documents),
       b AS (
         SELECT doc_id, n,
                greatest(16, CAST(power(2, ceil(log2(n::DOUBLE))) AS BIGINT)) AS bucket
         FROM t WHERE n > 0)
       SELECT bucket, count(*)::BIGINT AS n_docs,
              sum(n)::BIGINT AS tokens,
              sum(bucket - n)::BIGINT AS padding,
              round(sum(bucket - n)::DOUBLE / (bucket::DOUBLE * count(*)), 6)
                AS waste_share
       FROM b GROUP BY bucket""",
)
def q_padding_waste(spark, sf_dir):
    """Padding-waste accounting for power-of-2 length-bucketed batching
    (the alternative to `sequence_pack`'s concat-and-chunk): each doc
    rounds up to the nearest 2^⌈log2 n⌉ bucket (floor 16) and the per-
    bucket waste share says what fraction of batch FLOPs would burn on
    pad tokens — the number that decides bucketed-batching vs packing
    for a fine-tuning corpus. log2 of an exact power of two is exact in
    IEEE, so the ceil never mis-rounds at bucket boundaries; everything
    else is integer. Plan: one narrow map + one bucket census."""
    d = _docs(spark, sf_dir)
    n = F.size(T.tokenize(F.col("text"))).cast("long")
    b = d.select("doc_id", n.alias("n")).where(F.col("n") > 0).select(
        "doc_id", "n",
        F.greatest(
            F.lit(16).cast("long"),
            F.pow(F.lit(2.0), F.ceil(F.log2(F.col("n").cast("double")))).cast("long"),
        ).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("tokens"),
        F.sum(F.col("bucket") - F.col("n")).cast("long").alias("padding"),
        F.round(
            F.sum(F.col("bucket") - F.col("n")).cast("double")
            / (F.col("bucket").cast("double") * F.count(F.lit(1))),
            6,
        ).alias("waste_share"),
    )



# --------------------------------------------------------------------------
# batch 31: KWIC concordance, Zipf tail exponent, dup cluster-size histogram

_KWIC_CTX = 3

_KWIC_MIN_LEN = 4



def _kwic_sql(ctx: int = _KWIC_CTX) -> str:
    return f"""WITH toks AS (
         SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       census AS (
         SELECT u AS token, count(*)::BIGINT AS c
         FROM (SELECT unnest(t) AS u FROM toks)
         WHERE length(u) >= {_KWIC_MIN_LEN} GROUP BY u),
       term AS (SELECT token FROM census ORDER BY c DESC, token LIMIT 1),
       hits AS (
         SELECT toks.doc_id, gs.p::BIGINT AS pos, toks.t
         FROM toks CROSS JOIN term,
              LATERAL (SELECT unnest(generate_series(1, len(toks.t))) AS p) gs
         WHERE toks.t[gs.p] = term.token)
       SELECT doc_id, pos,
              coalesce(array_to_string(t[greatest(pos - {ctx}, 1):pos - 1], ' '), '') AS left_ctx,
              t[pos] AS term,
              coalesce(array_to_string(t[pos + 1:least(pos + {ctx}, len(t))], ' '), '') AS right_ctx
       FROM hits"""



@query("kwic_concordance", _kwic_sql())
def q_kwic_concordance(spark, sf_dir):
    """KWIC (keyword-in-context) concordance — the corpus-linguistics
    workhorse readout (and the human-audit view every curation pipeline
    ships next to its filters): every occurrence of the corpus's most
    frequent ≥4-char token with {_KWIC_CTX} tokens of context either
    side. The term is picked by a global census (deterministic
    count-then-token order); occurrences come from one posexplode
    filter; contexts are per-row array slices — the corpus never
    shuffles except the census. At scale the term is a broadcast
    1-row dimension."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", T.tokenize(F.col("text")).alias("t"))
    census = (
        toks.select(F.explode("t").alias("token"))
        .where(F.length("token") >= _KWIC_MIN_LEN)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = census.orderBy(F.desc("c"), "token").limit(1).select("token")
    hits = (
        toks.crossJoin(F.broadcast(term))
        .select("doc_id", "t", F.posexplode("t").alias("p0", "tok"), F.col("token"))
        .where(F.col("tok") == F.col("token"))
        .select("doc_id", "t", (F.col("p0") + 1).alias("pos"))
    )
    left_start = F.greatest(F.col("pos") - _KWIC_CTX, F.lit(1))
    left_len = F.col("pos") - left_start
    right_len = F.least(F.col("pos") + _KWIC_CTX, F.size("t")) - F.col("pos")
    return hits.select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        F.concat_ws(" ", F.slice(F.col("t"), left_start, F.greatest(left_len, F.lit(0)))).alias("left_ctx"),
        F.element_at(F.col("t"), F.col("pos").cast("int")).alias("term"),
        F.concat_ws(" ", F.slice(F.col("t"), F.col("pos") + 1, F.greatest(right_len, F.lit(0)))).alias("right_ctx"),
    )



_HILL_K = 100



@query(
    "zipf_alpha",
    f"""WITH census AS (
         SELECT u AS token, count(*)::BIGINT AS c
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS u FROM documents)
         GROUP BY u),
       topk AS (
         SELECT token, c, row_number() OVER (ORDER BY c DESC, token) AS rnk
         FROM census QUALIFY rnk <= {_HILL_K}),
       fk AS (SELECT c AS f_k FROM topk WHERE rnk = (SELECT max(rnk) FROM topk)),
       s AS (
         SELECT count(*)::BIGINT AS k, min(f_k)::BIGINT AS f_k,
                sum(CAST(round(1000000.0 * ln(topk.c::DOUBLE / fk.f_k::DOUBLE))
                         AS BIGINT))::BIGINT AS lsum_fp
         FROM topk CROSS JOIN fk)
       SELECT k, f_k,
              CASE WHEN lsum_fp > 0
                   THEN round(1.0 + k::DOUBLE * 1000000.0 / lsum_fp::DOUBLE, 6)
              END AS alpha_hill
       FROM s""",
)
def q_zipf_alpha(spark, sf_dir):
    """Zipf tail-exponent estimate via the Hill estimator (Hill, Annals
    of Statistics 1975) over the top-{_HILL_K} token frequencies:
    α̂ = 1 + k / Σ ln(fᵢ/f_k) — the one-number heavy-tail summary that
    (with `heaps_law`) characterizes a corpus's vocabulary shape and
    flags template/bot corpora (α drifts far from ~2). Per-rank logs
    round once to micro-nats so the sum is exact int64; one final
    division. Plan: token census (one shuffle) → distributed top-k →
    k-grain math; NULL if the top-k plateau is flat (all counts equal
    f_k)."""
    d = _docs(spark, sf_dir)
    census = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    topk = census.orderBy(F.desc("c"), "token").limit(_HILL_K).stableCheckpoint(eager=True)
    fk = topk.agg(F.min("c").alias("f_k"))
    s = topk.crossJoin(F.broadcast(fk)).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.min("f_k").cast("long").alias("f_k"),
        F.sum(
            F.round(
                F.lit(1e6) * F.log(F.col("c").cast("double") / F.col("f_k").cast("double")), 0
            ).cast("long")
        ).cast("long").alias("lsum_fp"),
    )
    return s.select(
        "k", "f_k",
        F.when(
            F.col("lsum_fp") > 0,
            F.round(F.lit(1.0) + F.col("k").cast("double") * F.lit(1e6) / F.col("lsum_fp").cast("double"), 6),
        ).alias("alpha_hill"),
    )



def _dup_hist_sql() -> str:
    return f"""WITH RECURSIVE {_simhash_pairs_cte()},
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM nd_pairs
         UNION
         SELECT id_b AS src, id_a AS dst FROM nd_pairs),
       reach(node, peer) AS (
         SELECT src, src FROM edges
         UNION
         SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
       cc AS (SELECT node, min(peer)::BIGINT AS cluster_id FROM reach GROUP BY node),
       sizes AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cc GROUP BY cluster_id),
       hist AS (
         SELECT cluster_size, count(*)::BIGINT AS n_clusters
         FROM sizes GROUP BY cluster_size),
       singles AS (
         SELECT 1::BIGINT AS cluster_size,
                ((SELECT count(*) FROM documents) - (SELECT count(*) FROM cc))::BIGINT AS n_clusters)
       SELECT cluster_size, n_clusters FROM hist
       UNION ALL
       SELECT cluster_size, n_clusters FROM singles WHERE n_clusters > 0"""



@query("dup_size_histogram", _dup_hist_sql())
def q_dup_size_histogram(spark, sf_dir):
    """Duplicate-cluster size distribution — the report every dedup run
    publishes (how much is pairwise noise vs boilerplate mega-clusters,
    and what the keep-one-per-cluster reduction will be): connected
    components over the SimHash near-dup graph (reusing the banded pair
    generation + iterative CC of `dup_clusters`), cluster-size census,
    plus the singleton mass (docs in no pair) as size 1. The histogram
    grain is tiny; the only corpus work is the banding pass and the CC
    rounds, both already bounded."""
    docs = _docs(spark, sf_dir)
    pairs = D.simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=_SIMHASH_BITS, bands=4, max_hamming=3
    ).select("id_a", "id_b")
    cc = D.connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    n_docs = docs.count()
    n_clustered = cc.count()
    singles = spark.createDataFrame(
        [(1, n_docs - n_clustered)], "cluster_size long, n_clusters long"
    ).where(F.col("n_clusters") > 0)
    return hist.unionAll(singles)
