"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: fellegi_sunter, dp_token_hist, kcenter_coreset, cvm_drift,
    wilcoxon_signed, compaction_bins, knn_probe, permutation_test,
    offpolicy_eval, silhouette_simplified, anchor_text_index,
    mann_whitney_u, levene_bf, fleiss_kappa, lin_ccc, ljung_box,
    l_diversity, personalized_pagerank, qld_topk, good_turing,
    page_hinkley, periodogram_peak, grubbs_outlier, minmax_skipping,
    rocchio_expand, holm_bonferroni, t_closeness, krippendorff_alpha,
    effect_sizes, yuen_trimmed
"""
from __future__ import annotations

from ._registry import F, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from .stats_07 import _BH_ALPHA_MICRO



# --------------------------------------------------------------------------
# batch 76: Fellegi-Sunter linkage, DP histogram release, k-center coreset,
# Cramér-von Mises drift, Wilcoxon signed-rank

_FS_M = 0.9  # P(field agrees | true match) prior — no labels available



def _fs_sql() -> str:
    fields = ["g_lang", "g_source", "g_t1", "g_t2"]
    u_cols = ", ".join(f"avg({g}) AS u_{g}" for g in fields)
    clamp = ", ".join(
        f"least(greatest(u_{g}, 0.5 / n_pairs), 1 - 0.5 / n_pairs) AS u_{g}"
        for g in fields
    )
    score = " + ".join(
        f"(CASE WHEN p.{g} = 1 THEN log2({_FS_M} / u.u_{g}) "
        f"ELSE log2({1 - _FS_M} / (1 - u.u_{g})) END)"
        for g in fields
    )
    n_agree = " + ".join(f"p.{g}" for g in fields)
    return f"""WITH recs AS (
         SELECT doc_id, lang, source, n_chars // 50 AS blk,
                string_split(trim(text), ' ')[1] AS t1,
                string_split(trim(text), ' ')[-1] AS t2
         FROM documents),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                (a.lang = b.lang)::BIGINT AS g_lang,
                (a.source = b.source)::BIGINT AS g_source,
                (a.t1 = b.t1)::BIGINT AS g_t1,
                (a.t2 = b.t2)::BIGINT AS g_t2
         FROM recs a JOIN recs b ON a.blk = b.blk AND a.doc_id < b.doc_id),
       u_raw AS (SELECT count(*)::DOUBLE AS n_pairs, {u_cols} FROM pairs),
       u AS (SELECT {clamp} FROM u_raw)
       SELECT p.id_a, p.id_b, ({n_agree})::BIGINT AS n_agree,
              round({score}, 6) AS fs_score
       FROM pairs p CROSS JOIN u
       WHERE {score} > 0"""



@query("fellegi_sunter", _fs_sql())
def q_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage (JASA 1969 — the
    canonical entity-resolution scoring rule; reference analogue: the
    dedup/merge semantics of `merge_results`' key alignment, pliers
    extractors/base.py:283+, generalized to fuzzy identity). Records are
    blocked on a length bucket (the standard O(n·B) candidate-generation
    join — never all-pairs), compared on 4 fields (lang, source,
    first/last token); u-probabilities (P(agree | non-match)) are
    ESTIMATED from the candidate pairs themselves (clamped away from
    0/1), m fixed at 0.9, and each pair scores Σ log2(m/u) over agreeing
    fields + Σ log2((1−m)/(1−u)) over disagreeing ones. Pairs with
    positive total weight are emitted as match candidates. Scale shape:
    the blocked self-join shuffles on blk; the u-estimate is one
    map-side-partial aggregate broadcast back — no second shuffle."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), " ")
    recs = docs.select(
        "doc_id", "lang", "source",
        F.floor(F.col("n_chars") / 50).cast("long").alias("blk"),
        F.element_at(toks, 1).alias("t1"),
        F.element_at(toks, -1).alias("t2"),
    )
    a, b = recs.alias("a"), recs.alias("b")
    g = lambda f: (F.col(f"a.{f}") == F.col(f"b.{f}")).cast("long").alias(f"g_{f}")  # noqa: E731
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
        g("lang"), g("source"), g("t1"), g("t2"),
    )
    fields = ["g_lang", "g_source", "g_t1", "g_t2"]
    u_raw = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n_pairs"),
        *[F.avg(f).alias(f"u_{f}") for f in fields],
    )
    u = u_raw.select(
        *[
            F.least(
                F.greatest(F.col(f"u_{f}"), 0.5 / F.col("n_pairs")),
                1 - 0.5 / F.col("n_pairs"),
            ).alias(f"u_{f}")
            for f in fields
        ]
    )
    scored = pairs.crossJoin(F.broadcast(u))
    score = None
    for f in fields:
        term = F.when(
            F.col(f) == 1, F.log2(F.lit(_FS_M) / F.col(f"u_{f}"))
        ).otherwise(F.log2(F.lit(1 - _FS_M) / (1 - F.col(f"u_{f}"))))
        score = term if score is None else score + term
    n_agree = sum(F.col(f) for f in fields).cast("long")
    return scored.where(score > 0).select(
        "id_a", "id_b", n_agree.alias("n_agree"), F.round(score, 6).alias("fs_score")
    )



_DP_EPS = 1.0

_DP_TAU = 10

_DP_SEED = 77



def _dp_hist_sql() -> str:
    h = md5_int_sql("tok", seed=_DP_SEED)
    u = f"(({h} % 1000000) + 0.5) / 1e6"
    lap = f"(-1.0 / {_DP_EPS}) * sign({u} - 0.5) * ln(1 - 2 * abs({u} - 0.5))"
    return f"""WITH toks AS (
         SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents),
       cnt AS (SELECT tok, count(*)::BIGINT AS c FROM toks WHERE tok <> '' GROUP BY tok)
       SELECT tok, (c + round({lap})::BIGINT) AS noisy_count
       FROM cnt
       WHERE c + round({lap})::BIGINT >= {_DP_TAU}"""



@query("dp_token_hist", _dp_hist_sql())
def q_dp_token_hist(spark, sf_dir):
    """ε-differentially-private vocabulary release (Laplace mechanism +
    thresholding — Dwork et al. 2006; the Google/Apple "private
    histogram" pattern for releasing token statistics from a private
    corpus). Exact token counts get integer Laplace(1/ε) noise (ε=1)
    and only tokens whose NOISY count clears τ=10 are released — the
    thresholding is what protects the long tail of rare (potentially
    identifying) tokens. Sandbox determinism: the noise draw's uniform
    comes from a seeded md5 of the token (identical in both engines) —
    a production run swaps in a secret per-release seed; everything
    else is unchanged. Scale shape: one map-side-partial token count;
    the noise is a scalar expression on the grouped result (no second
    pass, no driver state)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    ).where(F.col("tok") != "")
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    u = ((md5_int(F.col("tok"), seed=_DP_SEED) % 1000000) + 0.5) / 1e6
    lap = (-1.0 / _DP_EPS) * F.signum(u - 0.5) * F.log(1 - 2 * F.abs(u - 0.5))
    noisy = (F.col("c") + F.round(lap, 0).cast("long")).alias("noisy_count")
    return cnt.select("tok", noisy).where(F.col("noisy_count") >= _DP_TAU)



_KC_K = 5

_KC_SEED_ID = 0



def _kcenter_d2_sql(emb_a: str, emb_q: str) -> str:
    return (
        f"round(1e6 * list_sum(list_transform(range(1, len({emb_a}) + 1), "
        f"i -> ({emb_a}[i]::DOUBLE - {emb_q}[i]::DOUBLE) "
        f"* ({emb_a}[i]::DOUBLE - {emb_q}[i]::DOUBLE))))::BIGINT"
    )



def _kcenter_sql() -> str:
    d2 = _kcenter_d2_sql("a.embedding", "q.embedding")
    ctes = [
        f"""sel1 AS MATERIALIZED (
         SELECT vec_id, 1::BIGINT AS pick_order, 0::BIGINT AS dist_micro
         FROM embeddings WHERE vec_id = {_KC_SEED_ID})""",
        f"""m1 AS MATERIALIZED (
         SELECT a.vec_id, {d2} AS md
         FROM embeddings a
         CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {_KC_SEED_ID}) q)""",
    ]
    for r in range(2, _KC_K + 1):
        ctes.append(
            f"""pick{r} AS MATERIALIZED (
         SELECT m.vec_id, {r}::BIGINT AS pick_order, m.md AS dist_micro
         FROM m{r - 1} m ANTI JOIN sel{r - 1} s ON s.vec_id = m.vec_id
         ORDER BY m.md DESC, m.vec_id LIMIT 1),
       sel{r} AS MATERIALIZED (
         SELECT * FROM sel{r - 1}
         UNION ALL SELECT vec_id, pick_order, dist_micro FROM pick{r})"""
        )
        if r < _KC_K:
            ctes.append(
                f"""m{r} AS MATERIALIZED (
         SELECT m.vec_id, least(m.md, {d2}) AS md
         FROM m{r - 1} m JOIN embeddings a ON a.vec_id = m.vec_id
         CROSS JOIN (SELECT e.embedding FROM embeddings e
                     JOIN pick{r} p ON p.vec_id = e.vec_id) q)"""
            )
    return (
        "WITH "
        + ",\n       ".join(ctes)
        + f"""
       SELECT vec_id, pick_order, dist_micro FROM sel{_KC_K}"""
    )



@query("kcenter_coreset", _kcenter_sql())
def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center / farthest-point coreset selection (Gonzalez,
    TCS 1985 — the 2-approximation behind diversity-maximizing training
    -data selection and SemDeDup-style pruning seeds): starting from
    vec 0, each of K=5 rounds picks the point FARTHEST from its nearest
    already-chosen center (squared-L2 in integer micro-units, ties by
    vec_id). Each round is one full scan computing min-distance against
    ≤K broadcast literal centers + a TakeOrderedAndProject(1) — K scans
    total, never a K×N×N matrix; the only driver state is the K picked
    vectors (the same K-bounded collect `kmeans_fit` uses per Lloyd
    round). `dist_micro` is the selection-time distance = the coverage
    radius guarantee r_K of the chosen coreset."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def d2_lit(center: list[float]):
        carr = F.array(*[F.lit(float(v)) for v in center])
        diff = F.zip_with(F.col("embedding"), carr, lambda x, y: (x - y) * (x - y))
        s = F.aggregate(diff, F.lit(0.0), lambda acc, z: acc + z)
        return F.round(s * 1e6, 0).cast("long")

    seed = emb.where(F.col("vec_id") == _KC_SEED_ID).collect()[0]
    centers = [(int(seed["vec_id"]), list(seed["embedding"]))]
    rows = [(int(seed["vec_id"]), 1, 0)]
    for r in range(2, _KC_K + 1):
        picked_ids = [c[0] for c in centers]
        mind = F.least(*[d2_lit(c[1]) for c in centers]) if len(centers) > 1 else d2_lit(centers[0][1])
        top = (
            emb.where(~F.col("vec_id").isin(picked_ids))
            .select("vec_id", mind.alias("md"), "embedding")
            .orderBy(F.desc("md"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        centers.append((int(top["vec_id"]), list(top["embedding"])))
        rows.append((int(top["vec_id"]), r, int(top["md"])))
    return spark.createDataFrame(
        rows, "vec_id long, pick_order long, dist_micro long"
    )



@query(
    "cvm_drift",
    """WITH s AS (
         SELECT value, event_id,
                (event_type = 'click')::BIGINT AS is_x
         FROM events WHERE event_type IN ('click', 'view')),
       ranked AS (
         SELECT is_x,
                row_number() OVER (ORDER BY value, event_id) AS r,
                row_number() OVER (PARTITION BY is_x ORDER BY value, event_id) AS i
         FROM s),
       nn AS (
         SELECT sum(is_x)::BIGINT AS n, (count(*) - sum(is_x))::BIGINT AS m
         FROM ranked),
       u AS (
         SELECT sum(CASE WHEN is_x = 1
                         THEN nn.n::HUGEINT * (r - i) * (r - i) END) AS ux,
                sum(CASE WHEN is_x = 0
                         THEN nn.m::HUGEINT * (r - i) * (r - i) END) AS uy
         FROM ranked CROSS JOIN nn)
       SELECT nn.n AS n_x, nn.m AS n_y,
              round((u.ux + u.uy)::DOUBLE / (nn.n::DOUBLE * nn.m * (nn.n + nn.m))
                    - (4.0 * nn.n * nn.m - 1) / (6.0 * (nn.n + nn.m)), 6) AS cvm_t
       FROM u CROSS JOIN nn""",
)
def q_cvm_drift(spark, sf_dir):
    """Two-sample Cramér-von Mises drift statistic (Anderson, AMS 1962
    rank formula) between the 'click' and 'view' value distributions —
    the integrated-squared-ECDF-gap complement to `ks_drift`'s
    supremum: CvM sees diffuse distribution shifts a single-point KS
    gap misses. U = N·Σ(r_i−i)² + M·Σ(s_j−j)² over combined ranks
    (deterministic total order: value then event_id — ties get a fixed
    arbitration identically in both engines), T = U/(NM(N+M)) −
    (4NM−1)/(6(N+M)). Rank sums stay in exact integers (decimal/HUGEINT)
    — the only float op is the final normalization. CENSUS GRAIN (r4):
    both rank streams come from ONE range-bucketing of value — global
    prefix counts (total and per-group) live on the bucket census, the
    per-row remainders are PARTITIONED within-bucket row_numbers — so
    no unpartitioned (or 2-partition) window ever sees raw rows."""
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("click", "view"))
    dec = "decimal(38,0)"
    s = ev.select(
        "value", "event_id", (F.col("event_type") == "click").cast("long").alias("is_x")
    )
    NB = 4096
    stats = s.agg(F.min("value").alias("_mn"), F.max("value").alias("_mx"))
    pos = (F.col("value") - F.col("_mn")) * NB / (F.col("_mx") - F.col("_mn") + F.lit(1.0))
    b = (
        s.crossJoin(F.broadcast(stats))
        .withColumn("_bkt", F.least(F.floor(pos).cast("long"), F.lit(NB - 1)))
        .drop("_mn", "_mx")
    )
    tc = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_c"))
    w_all = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    tc = tc.select("_bkt", F.coalesce(F.sum("_c").over(w_all), F.lit(0)).alias("_pfx"))
    gc = b.groupBy("_bkt", "is_x").agg(F.count(F.lit(1)).alias("_cg"))
    w_grp = (
        Window.partitionBy("is_x").orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    gc = gc.select(
        "_bkt", "is_x", F.coalesce(F.sum("_cg").over(w_grp), F.lit(0)).alias("_gpfx")
    )
    w_cell = Window.partitionBy("_bkt").orderBy("value", "event_id")
    w_cell_g = Window.partitionBy("_bkt", "is_x").orderBy("value", "event_id")
    ranked = (
        b.join(F.broadcast(tc), "_bkt")
        .join(F.broadcast(gc), ["_bkt", "is_x"])
        .select(
            "is_x",
            (F.col("_pfx") + F.row_number().over(w_cell)).alias("r"),
            (F.col("_gpfx") + F.row_number().over(w_cell_g)).alias("i"),
        )
    )
    nn = ranked.agg(
        F.sum("is_x").cast("long").alias("n"),
        (F.count(F.lit(1)) - F.sum("is_x")).cast("long").alias("m"),
    )
    d = (F.col("r") - F.col("i")).cast(dec)
    u = ranked.crossJoin(F.broadcast(nn)).agg(
        F.sum(F.when(F.col("is_x") == 1, F.col("n").cast(dec) * d * d)).cast(dec).alias("ux"),
        F.sum(F.when(F.col("is_x") == 0, F.col("m").cast(dec) * d * d)).cast(dec).alias("uy"),
        F.first("n").alias("n"),
        F.first("m").alias("m"),
    )
    return u.select(
        F.col("n").alias("n_x"),
        F.col("m").alias("n_y"),
        F.round(
            (F.col("ux") + F.col("uy")).cast("double")
            / (F.col("n").cast("double") * F.col("m") * (F.col("n") + F.col("m")))
            - (4.0 * F.col("n") * F.col("m") - 1) / (6.0 * (F.col("n") + F.col("m"))),
            6,
        ).alias("cvm_t"),
    )



@query(
    "wilcoxon_signed",
    """WITH ordered AS (
         SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n
         FROM events),
       halves AS (
         SELECT user_id,
                sum(CASE WHEN rn <= n // 2 THEN round(1e6 * value)::BIGINT END) AS s1,
                count(CASE WHEN rn <= n // 2 THEN 1 END)::BIGINT AS c1,
                sum(CASE WHEN rn > n // 2 THEN round(1e6 * value)::BIGINT END) AS s2,
                count(CASE WHEN rn > n // 2 THEN 1 END)::BIGINT AS c2
         FROM ordered GROUP BY user_id),
       diffs AS (
         SELECT user_id,
                round(s2::DOUBLE / c2 - s1::DOUBLE / c1)::BIGINT AS d
         FROM halves WHERE c1 >= 1),
       nz AS (SELECT user_id, d FROM diffs WHERE d <> 0),
       ranked AS (
         -- mid-ranks of |d| in HALF-units: 2*rank_lo + (ties - 1)
         SELECT d,
                2 * rank() OVER (ORDER BY abs(d))
                  + count(*) OVER (PARTITION BY abs(d)) - 1 AS r2
         FROM nz),
       st AS (
         SELECT count(*)::BIGINT AS n,
                sum(CASE WHEN d > 0 THEN r2 ELSE 0 END)::BIGINT AS w2
         FROM ranked)
       SELECT n AS n_pairs,
              round(w2 / 2.0, 6) AS w_plus,
              round((w2 / 2.0 - n * (n + 1) / 4.0)
                    / sqrt(n * (n + 1) * (2.0 * n + 1) / 24.0), 6) AS z
       FROM st""",
)
def q_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon signed-rank test (Biometrics 1945) for "did per-user
    engagement shift within the window?": each user's event stream is
    split at its midpoint (by ts), the paired difference is
    second-half-mean − first-half-mean in integer micro-units (sums of
    micro-ints, so both engines derive bit-identical diffs), zero
    diffs drop per the classical procedure, |d| gets exact HALF-UNIT
    mid-ranks (2·rank + ties − 1, exact integers), and z normalizes W⁺ by its null mean/variance.
    The PAIRED complement to `cvm_drift`/`ks_drift`: user identity is
    blocked out, so population-mix shifts don't masquerade as drift.
    Scale shape: one shuffle on user_id for the halves, one global
    rank over the (users-sized, not events-sized) diff set."""
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    ordered = ev.select(
        "user_id",
        F.round(F.col("value") * 1e6, 0).cast("long").alias("vm"),
        F.row_number().over(wu).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    halves = (
        ordered.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("rn") <= F.floor(F.col("n") / 2), F.col("vm"))).alias("s1"),
            F.count(F.when(F.col("rn") <= F.floor(F.col("n") / 2), F.lit(1))).cast("long").alias("c1"),
            F.sum(F.when(F.col("rn") > F.floor(F.col("n") / 2), F.col("vm"))).alias("s2"),
            F.count(F.when(F.col("rn") > F.floor(F.col("n") / 2), F.lit(1))).cast("long").alias("c2"),
        )
        .where(F.col("c1") >= 1)
    )
    diffs = halves.select(
        F.round(F.col("s2").cast("double") / F.col("c2") - F.col("s1").cast("double") / F.col("c1"), 0)
        .cast("long")
        .alias("d")
    ).where(F.col("d") != 0)
    wr = Window.orderBy(F.abs(F.col("d")))
    wt = Window.partitionBy(F.abs(F.col("d")))
    ranked = diffs.select(
        "d", (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).cast("long").alias("r2")
    )
    st = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r2")).otherwise(F.lit(0))).cast("long").alias("w2"),
    )
    return st.select(
        F.col("n").alias("n_pairs"),
        F.round(F.col("w2") / 2.0, 6).alias("w_plus"),
        F.round(
            (F.col("w2") / 2.0 - F.col("n") * (F.col("n") + 1) / 4.0)
            / F.sqrt(F.col("n") * (F.col("n") + 1) * (2.0 * F.col("n") + 1) / 24.0),
            6,
        ).alias("z"),
    )



# --------------------------------------------------------------------------
# batch 77: Harmonic-k compaction planning, LOO kNN label probe,
# hash-randomization permutation test

_CB_CAP = 1024

_CB_K = 8



@query(
    "compaction_bins",
    f"""WITH items AS (
         SELECT doc_id, n_chars,
                least(greatest({_CB_CAP} // n_chars, 1), {_CB_K}) AS cls
         FROM documents WHERE n_chars >= 1),
       placed AS (
         SELECT cls, n_chars,
                (row_number() OVER (PARTITION BY cls
                                    ORDER BY n_chars DESC, doc_id) - 1) // cls AS bin_seq
         FROM items)
       SELECT cls AS size_class, bin_seq,
              count(*)::BIGINT AS n_items,
              sum(n_chars)::BIGINT AS fill_chars,
              round(sum(n_chars) / {_CB_CAP}.0, 6) AS fill_ratio
       FROM placed GROUP BY cls, bin_seq""",
)
def q_compaction_bins(spark, sf_dir):
    """Small-file compaction planning via HARMONIC-k bin packing (Lee &
    Lee, JACM 1985 — competitive ratio 1.691): each item (doc, size
    n_chars, bin capacity {_CB_CAP}) goes to size class k =
    clamp(floor(cap/size), 1, {_CB_K}); class k bins take EXACTLY k
    items, so items of class k (size ≤ cap/k) always fit and every
    closed bin of an unclamped class (k < {_CB_K}) is > k/(k+1) full
    (the clamped last class pools everything ≤ cap/{_CB_K}, so only
    the fits-in-cap invariant holds there). Unlike first-fit-decreasing — whose
    sequential bin state serializes the planner — class assignment and
    within-class placement are pure window arithmetic: one hash
    partition by class, one rank, zero iterative state, so planning a
    100 TB table's compaction is a single shuffle. The per-bin manifest
    (class, seq, items, fill) is what a rewrite job consumes."""
    d = _docs(spark, sf_dir).where(F.col("n_chars") >= 1)
    items = d.select(
        "doc_id", "n_chars",
        F.least(
            F.greatest(F.floor(_CB_CAP / F.col("n_chars")).cast("long"), F.lit(1)),
            F.lit(_CB_K),
        ).alias("cls"),
    )
    w = Window.partitionBy("cls").orderBy(F.desc("n_chars"), "doc_id")
    placed = items.select(
        "cls", "n_chars",
        F.floor((F.row_number().over(w) - 1) / F.col("cls")).cast("long").alias("bin_seq"),
    )
    return placed.groupBy(
        F.col("cls").alias("size_class"), "bin_seq"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("n_chars").cast("long").alias("fill_chars"),
        F.round(F.sum("n_chars") / float(_CB_CAP), 6).alias("fill_ratio"),
    )



_KNN_K = 5



def _knn_probe_sql() -> str:
    dot = "list_sum(list_transform(range(1, len(a.embedding)+1), i -> a.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))"
    na = "sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    nq = "sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""WITH scored AS (
         SELECT q.vec_id AS qid, q.label AS true_label, a.label AS nb_label,
                round(1e6 * {dot} / ({na} * {nq}))::BIGINT AS cm,
                a.vec_id AS nid
         FROM embeddings q JOIN embeddings a ON a.vec_id <> q.vec_id),
       topk AS (
         SELECT qid, true_label, nb_label,
                row_number() OVER (PARTITION BY qid ORDER BY cm DESC, nid) AS rk
         FROM scored),
       votes AS (
         SELECT qid, true_label, nb_label, count(*)::BIGINT AS v
         FROM topk WHERE rk <= {_KNN_K} GROUP BY 1, 2, 3),
       pred AS (
         SELECT qid, true_label, nb_label AS pred_label,
                row_number() OVER (PARTITION BY qid ORDER BY v DESC, nb_label) AS pr
         FROM votes)
       SELECT true_label AS label, count(*)::BIGINT AS n,
              sum((pred_label = true_label)::BIGINT)::BIGINT AS correct,
              round(sum((pred_label = true_label)::BIGINT)::DOUBLE / count(*), 6) AS acc
       FROM pred WHERE pr = 1 GROUP BY true_label"""



@query("knn_probe", _knn_probe_sql())
def q_knn_probe(spark, sf_dir):
    """Leave-one-out kNN label probe (the standard zero-training
    embedding-quality eval — e.g. the kNN accuracy protocol of Wu et
    al., CVPR 2018): every vector is classified by the majority label
    of its {_KNN_K} nearest neighbors (cosine, self excluded; vote
    ties break to the smaller label, distance ties to the smaller id)
    and per-class accuracy is reported. Cosines round once to integer
    micro-units so both engines rank identically. This eval runs
    brute-force exact on an EVAL SAMPLE by design (the probe is a
    diagnostic, not a serving path); the production-scale ANN variants
    are `ann_ivf_topk`/`ivf_multiprobe` with `pq_recall` auditing the
    approximation."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    from pliers_spark.operators.similarity import _dot, _norm

    q, a = emb.alias("q"), emb.alias("a")
    scored = q.join(a, F.col("a.vec_id") != F.col("q.vec_id")).select(
        F.col("q.vec_id").alias("qid"),
        F.col("q.label").alias("true_label"),
        F.col("a.label").alias("nb_label"),
        F.round(
            1e6 * _dot(F.col("a.embedding"), F.col("q.embedding"))
            / (_norm(F.col("a.embedding")) * _norm(F.col("q.embedding"))),
            0,
        ).cast("long").alias("cm"),
        F.col("a.vec_id").alias("nid"),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cm"), "nid")
    topk = scored.withColumn("rk", F.row_number().over(wk)).where(F.col("rk") <= _KNN_K)
    votes = topk.groupBy("qid", "true_label", "nb_label").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("v"), "nb_label")
    pred = votes.withColumn("pr", F.row_number().over(wp)).where(F.col("pr") == 1)
    hit = (F.col("nb_label") == F.col("true_label")).cast("long")
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(hit).cast("long").alias("correct"),
        F.round(F.sum(hit).cast("double") / F.count(F.lit(1)), 6).alias("acc"),
    )



_PERM_N = 20

_PERM_SRC = ("src0", "src1")



def _perm_test_sql() -> str:
    h = md5_int_sql("concat(p::VARCHAR, ':', doc_id::VARCHAR)")
    return f"""WITH base AS (
         SELECT doc_id, n_chars, source FROM documents
         WHERE source IN ('{_PERM_SRC[0]}', '{_PERM_SRC[1]}')),
       sizes AS (
         SELECT sum((source = '{_PERM_SRC[0]}')::BIGINT)::BIGINT AS n_a,
                sum((source = '{_PERM_SRC[1]}')::BIGINT)::BIGINT AS n_b,
                sum(CASE WHEN source = '{_PERM_SRC[0]}' THEN n_chars END)::BIGINT AS s_a,
                sum(CASE WHEN source = '{_PERM_SRC[1]}' THEN n_chars END)::BIGINT AS s_b
         FROM base),
       obs AS (
         SELECT n_a, n_b, s_a::DOUBLE / n_a - s_b::DOUBLE / n_b AS d_obs FROM sizes),
       perms AS (
         SELECT t.p, b.n_chars,
                row_number() OVER (PARTITION BY t.p ORDER BY {h}, doc_id) AS rn
         FROM base b CROSS JOIN (SELECT unnest(range({_PERM_N})) AS p) t),
       pd AS (
         SELECT p,
                sum(CASE WHEN rn <= o.n_a THEN n_chars END)::DOUBLE / o.n_a
              - sum(CASE WHEN rn > o.n_a THEN n_chars END)::DOUBLE / o.n_b AS d
         FROM perms CROSS JOIN obs o GROUP BY p, o.n_a, o.n_b)
       SELECT o.n_a, o.n_b, round(o.d_obs, 6) AS obs_diff,
              {_PERM_N}::BIGINT AS n_perms,
              round((1 + sum((abs(pd.d) >= abs(o.d_obs))::BIGINT)) / ({_PERM_N} + 1.0), 6)
                AS p_value
       FROM pd CROSS JOIN obs o GROUP BY o.n_a, o.n_b, o.d_obs"""



@query("permutation_test", _perm_test_sql())
def q_permutation_test(spark, sf_dir):
    """Randomization/permutation test (Fisher 1935) for the mean-length
    gap between two sources, with DETERMINISTIC permutations: draw p ∈
    [0, {_PERM_N}), re-rank the pooled rows by md5(p:doc_id), and give
    the first n_a ranks to group A — an exact size-preserving relabel
    both engines reproduce bit-for-bit (the same seeded-hash trick as
    `hash_bootstrap_ci`, which resamples WITH replacement; this one
    permutes). p = (1 + #{{|d_perm| ≥ |d_obs|}}) / (K+1), the
    add-one-smoothed Monte-Carlo estimate. Distribution-free where the
    t-test assumes normality. Scale shape: the K-fold row expansion is
    a flat map (no joins); each permutation's diff is one partial agg
    over integer char sums."""
    d = _docs(spark, sf_dir).where(F.col("source").isin(*_PERM_SRC))
    base = d.select("doc_id", "n_chars", "source")
    sizes = base.agg(
        F.sum((F.col("source") == _PERM_SRC[0]).cast("long")).cast("long").alias("n_a"),
        F.sum((F.col("source") == _PERM_SRC[1]).cast("long")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("source") == _PERM_SRC[0], F.col("n_chars"))).cast("long").alias("s_a"),
        F.sum(F.when(F.col("source") == _PERM_SRC[1], F.col("n_chars"))).cast("long").alias("s_b"),
    )
    obs = sizes.select(
        "n_a", "n_b",
        (F.col("s_a").cast("double") / F.col("n_a")
         - F.col("s_b").cast("double") / F.col("n_b")).alias("d_obs"),
    )
    h = md5_int(F.concat(F.col("p").cast("string"), F.lit(":"), F.col("doc_id").cast("string")))
    perms = base.select(
        "doc_id", "n_chars", F.explode(F.sequence(F.lit(0), F.lit(_PERM_N - 1))).alias("p")
    ).select("p", "n_chars", h.alias("h"), "doc_id")
    wp = Window.partitionBy("p").orderBy("h", "doc_id")
    ranked = perms.select("p", "n_chars", F.row_number().over(wp).alias("rn"))
    pd_ = (
        ranked.crossJoin(F.broadcast(obs))
        .groupBy("p", "n_a", "n_b")
        .agg(
            (
                F.sum(F.when(F.col("rn") <= F.col("n_a"), F.col("n_chars"))).cast("double")
                / F.first("n_a")
                - F.sum(F.when(F.col("rn") > F.col("n_a"), F.col("n_chars"))).cast("double")
                / F.first("n_b")
            ).alias("d")
        )
    )
    return (
        pd_.crossJoin(F.broadcast(obs.select("d_obs")))
        .groupBy("n_a", "n_b", "d_obs")
        .agg(
            F.sum((F.abs(F.col("d")) >= F.abs(F.col("d_obs"))).cast("long")).alias("ge")
        )
        .select(
            "n_a", "n_b", F.round("d_obs", 6).alias("obs_diff"),
            F.lit(_PERM_N).cast("long").alias("n_perms"),
            F.round((1 + F.col("ge")) / (_PERM_N + 1.0), 6).alias("p_value"),
        )
    )



# --------------------------------------------------------------------------
# batch 78: off-policy evaluation, simplified silhouette, anchor-text index

_OPE_TARGET = ("click", "purchase")  # target policy: uniform over these



def _ope_sql() -> str:
    tset = ", ".join(f"'{a}'" for a in _OPE_TARGET)
    return f"""WITH base AS (
         SELECT event_type AS a, round(1e6 * value)::BIGINT AS rm FROM events),
       prop AS (
         SELECT a, count(*)::BIGINT AS na, sum(rm)::BIGINT AS sa,
                (SELECT count(*) FROM base)::BIGINT AS n
         FROM base GROUP BY a),
       qpi AS (
         SELECT sum(CASE WHEN a IN ({tset})
                         THEN 0.5 * (sa::DOUBLE / na) END) AS q_pi
         FROM prop),
       w AS (
         SELECT b.rm::DOUBLE / 1e6 AS r,
                CASE WHEN b.a IN ({tset})
                     THEN 0.5 * p.n / p.na ELSE 0.0 END AS w,
                p.sa::DOUBLE / p.na / 1e6 AS q_a
         FROM base b JOIN prop p USING (a)),
       agg AS (
         SELECT count(*)::BIGINT AS n, sum(w) AS sw, sum(w * w) AS sww,
                sum(w * r) AS swr, sum(w * (r - q_a)) AS sdr
         FROM w)
       SELECT n,
              round(swr / n, 6) AS ips,
              round(swr / sw, 6) AS snips,
              round((SELECT q_pi FROM qpi) / 1e6 + sdr / n, 6) AS dr,
              round(sw * sw / sww / n, 6) AS ess_frac
       FROM agg"""



@query("offpolicy_eval", _ope_sql())
def q_offpolicy_eval(spark, sf_dir):
    """Off-policy evaluation of a target policy (uniform over
    {{click, purchase}}) from logged interactions: IPS (Horvitz-Thompson
    1952), self-normalized SNIPS (Swaminathan & Joachims, NeurIPS 2015),
    and doubly-robust DR (Dudík et al., ICML 2011) with the per-action
    mean-reward model q̂ — the standard counterfactual-eval triple for
    recsys/routing policies, plus the weight ESS fraction ((Σw)²/(nΣw²),
    the diagnostic that says whether the estimate is usable at all).
    Logging propensities are ESTIMATED as empirical action frequencies
    (the common logs-without-propensities practice). Rewards enter as
    integer micro-units so every sum is order-exact cross-engine; the
    importance weight is a ratio of exact counts. Scale shape: one
    action-frequency census (broadcast back), one flat scan — no joins
    beyond the K-row propensity table."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.col("event_type").alias("a"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("rm"),
    )
    prop = base.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("na"),
        F.sum("rm").cast("long").alias("sa"),
    )
    n_tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    prop = prop.crossJoin(F.broadcast(n_tot))
    in_t = F.col("a").isin(*_OPE_TARGET)
    qpi = prop.agg(
        F.sum(F.when(in_t, 0.5 * (F.col("sa").cast("double") / F.col("na")))).alias("q_pi")
    )
    w = base.join(F.broadcast(prop), "a").select(
        (F.col("rm").cast("double") / 1e6).alias("r"),
        F.when(in_t, 0.5 * F.col("n") / F.col("na")).otherwise(F.lit(0.0)).alias("w"),
        (F.col("sa").cast("double") / F.col("na") / 1e6).alias("q_a"),
    )
    agg = w.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum(F.col("w") * F.col("r")).alias("swr"),
        F.sum(F.col("w") * (F.col("r") - F.col("q_a"))).alias("sdr"),
    )
    return agg.crossJoin(F.broadcast(qpi)).select(
        "n",
        F.round(F.col("swr") / F.col("n"), 6).alias("ips"),
        F.round(F.col("swr") / F.col("sw"), 6).alias("snips"),
        F.round(F.col("q_pi") / 1e6 + F.col("sdr") / F.col("n"), 6).alias("dr"),
        F.round(F.col("sw") * F.col("sw") / F.col("sww") / F.col("n"), 6).alias("ess_frac"),
    )



def _silhouette_sql() -> str:
    comp = "round(1e6 * x)::BIGINT"
    return f"""WITH comps AS (
         SELECT vec_id, label,
                unnest(list_transform(embedding, x -> {comp})) AS cm,
                unnest(range(len(embedding))) AS i
         FROM embeddings),
       cent AS (
         SELECT label, i, sum(cm)::BIGINT AS s, count(*)::BIGINT AS n
         FROM comps GROUP BY label, i),
       dists AS (
         SELECT c.vec_id, c.label AS own, ct.label AS other,
                sqrt(sum((c.cm / 1e6 - ct.s::DOUBLE / ct.n / 1e6)
                       * (c.cm / 1e6 - ct.s::DOUBLE / ct.n / 1e6))) AS d
         FROM comps c JOIN cent ct ON ct.i = c.i
         GROUP BY c.vec_id, c.label, ct.label),
       ab AS (
         SELECT vec_id, own,
                max(CASE WHEN other = own THEN d END) AS a,
                min(CASE WHEN other <> own THEN d END) AS b
         FROM dists GROUP BY vec_id, own),
       s AS (
         SELECT own, round(1e6 * (b - a) / greatest(a, b))::BIGINT AS sm
         FROM ab)
       SELECT own AS label, count(*)::BIGINT AS n,
              round(sum(sm) / count(*) / 1e6, 6) AS silhouette
       FROM s GROUP BY own"""



@query("silhouette_simplified", _silhouette_sql())
def q_silhouette_simplified(spark, sf_dir):
    """Simplified silhouette coefficient (Hruschka et al. 2004 — the
    O(n·k) centroid form of Rousseeuw 1987) per label cluster:
    a(i) = distance to OWN centroid, b(i) = distance to the nearest
    OTHER centroid, s(i) = (b−a)/max(a,b), averaged per cluster. The
    full silhouette's O(n²) pairwise pass is replaced by n·k
    point-to-centroid distances — the form that survives a 10^9-vector
    table. Centroids come from exact integer micro-component sums (one
    map-side partial agg), every distance is derived bit-identically
    in both engines, and per-point scores round to micro-ints before
    the cluster mean so the final average is order-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id", "label",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * 1e6, 0).cast("long"),
            )
        ).alias("i", "cm"),
    )
    cent = comps.groupBy("label", "i").agg(
        F.sum("cm").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    d2 = (F.col("cm") / 1e6 - F.col("s").cast("double") / F.col("n") / 1e6)
    dists = (
        comps.alias("c")
        .join(F.broadcast(cent.alias("ct")), F.col("ct.i") == F.col("c.i"))
        .groupBy(
            F.col("c.vec_id").alias("vec_id"),
            F.col("c.label").alias("own"),
            F.col("ct.label").alias("other"),
        )
        .agg(F.sqrt(F.sum(d2 * d2)).alias("d"))
    )
    ab = dists.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("other") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("other") != F.col("own"), F.col("d"))).alias("b"),
    )
    s = ab.select(
        "own",
        F.round(1e6 * (F.col("b") - F.col("a")) / F.greatest("a", "b"), 0)
        .cast("long")
        .alias("sm"),
    )
    return s.groupBy(F.col("own").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("sm") / F.count(F.lit(1)) / 1e6, 6).alias("silhouette"),
    )



_ANCHOR_HOSTS = 50

_ANCHOR_LINKS = 3



def _anchor_sql() -> str:
    def dst(j: int) -> str:
        h = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({h} % {_ANCHOR_HOSTS})::BIGINT"

    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % {_ANCHOR_HOSTS})::BIGINT AS src, {dst(j)} AS dst, "
        f"string_split(trim(text), ' ')[1] AS anchor FROM documents"
        for j in range(_ANCHOR_LINKS)
    )
    return f"""WITH links AS ({link_union}),
       ext AS (SELECT * FROM links WHERE src <> dst),
       per AS (
         SELECT dst, anchor, count(*)::BIGINT AS c
         FROM ext GROUP BY dst, anchor),
       top AS (
         SELECT dst, anchor AS top_anchor,
                row_number() OVER (PARTITION BY dst ORDER BY c DESC, anchor) AS rn
         FROM per)
       SELECT p.dst AS host, sum(p.c)::BIGINT AS in_degree,
              count(*)::BIGINT AS n_unique_anchors,
              max(t.top_anchor) AS top_anchor
       FROM per p JOIN top t ON t.dst = p.dst AND t.rn = 1
       GROUP BY p.dst"""



@query("anchor_text_index", _anchor_sql())
def q_anchor_text_index(spark, sf_dir):
    """Anchor-text index over the host link graph (the signal web search
    ranks with since Brin & Page 1998 §2.2: a page is described by the
    text of links POINTING AT it): for every destination host of the
    deterministic doc→host link graph (same graph as `host_pagerank`),
    aggregate external in-links carrying the linking doc's lead token
    as anchor — in-degree, distinct anchor vocabulary, and the modal
    anchor (ties lexicographic). Scale shape: the (dst, anchor) census
    is one map-side-partial agg over the exploded link list; the modal
    pick is a per-host window over the census (host-grain, not
    link-grain)."""
    docs = _docs(spark, sf_dir)
    anchor = F.element_at(F.split(F.trim(F.col("text")), " "), 1)
    links = None
    for j in range(_ANCHOR_LINKS):
        part = docs.select(
            (F.col("doc_id") % _ANCHOR_HOSTS).cast("long").alias("src"),
            (md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(f":{j}")))
             % _ANCHOR_HOSTS).cast("long").alias("dst"),
            anchor.alias("anchor"),
        )
        links = part if links is None else links.unionAll(part)
    ext = links.where(F.col("src") != F.col("dst"))
    per = ext.groupBy("dst", "anchor").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wt = Window.partitionBy("dst").orderBy(F.desc("c"), "anchor")
    top = per.select("dst", "anchor", F.row_number().over(wt).alias("rn")).where(
        F.col("rn") == 1
    )
    return (
        per.join(top.select("dst", F.col("anchor").alias("top_anchor")), "dst")
        .groupBy(F.col("dst").alias("host"))
        .agg(
            F.sum("c").cast("long").alias("in_degree"),
            F.count(F.lit(1)).cast("long").alias("n_unique_anchors"),
            F.max("top_anchor").alias("top_anchor"),
        )
    )



@query(
    "mann_whitney_u",
    """WITH v AS (
         SELECT (event_type = 'click') AS g1,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events WHERE event_type IN ('click', 'view')),
       dist AS (SELECT v_fp, count(*)::BIGINT AS eq FROM v GROUP BY v_fp),
       rk AS (
         SELECT v_fp, eq,
                2 * (sum(eq) OVER (ORDER BY v_fp) - eq) + eq + 1 AS r2
         FROM dist),
       agg AS (
         SELECT sum(CASE WHEN v.g1 THEN 1 ELSE 0 END)::BIGINT AS n1,
                sum(CASE WHEN v.g1 THEN 0 ELSE 1 END)::BIGINT AS n2,
                sum(CASE WHEN v.g1 THEN rk.r2 ELSE 0 END)::BIGINT AS r1_2,
                (SELECT sum(eq * eq * eq - eq) FROM dist)::BIGINT AS tie3
         FROM v JOIN rk USING (v_fp)),
       u AS (
         SELECT n1, n2, n1 + n2 AS n, tie3,
                r1_2 - n1 * (n1 + 1) AS u1_2
         FROM agg)
       SELECT n1, n2, round(u1_2 / 2.0, 6) AS u1,
              round((u1_2 / 2.0 - n1::DOUBLE * n2::DOUBLE / 2.0)
                    / sqrt(n1::DOUBLE * n2::DOUBLE / 12.0
                           * ((n + 1)::DOUBLE
                              - tie3::DOUBLE / (n::DOUBLE * (n - 1)::DOUBLE))), 6) AS z
       FROM u""",
)
def q_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) comparing
    `value` between click and view events — the two-sample special
    case of `kruskal_wallis`, sharing its exact-integer rank machinery:
    the DOUBLED average rank of a value is 2·|{<v}| + |{=v}| + 1 from
    the value census, so the group-1 rank sum R₁ and U₁ = R₁ −
    n₁(n₁+1)/2 are exact int64 (carried doubled until the final emit).
    z uses the tie-corrected variance n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1)))
    with no continuity correction — one identical double expression on
    both engines. Plan: value census (one shuffle), value-grain running
    window, join back, single global agg."""
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("click", "view"))
    v = ev.select(
        (F.col("event_type") == "click").alias("g1"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    dist = v.groupBy("v_fp").agg(F.count(F.lit(1)).cast("long").alias("eq"))
    wv = Window.orderBy("v_fp").rowsBetween(Window.unboundedPreceding, 0)
    rk = dist.select(
        "v_fp",
        (2 * (F.sum("eq").over(wv) - F.col("eq")) + F.col("eq") + 1).alias("r2"),
    )
    agg = (
        v.join(rk, "v_fp")
        .agg(
            F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(F.col("g1"), 0).otherwise(1)).cast("long").alias("n2"),
            F.sum(F.when(F.col("g1"), F.col("r2")).otherwise(0)).cast("long").alias("r1_2"),
        )
        .crossJoin(
            dist.agg(
                F.sum(F.col("eq") * F.col("eq") * F.col("eq") - F.col("eq"))
                .cast("long")
                .alias("tie3")
            )
        )
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    u = agg.select(
        "n1", "n2", "tie3",
        (F.col("n1") + F.col("n2")).alias("n"),
        (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_2"),
    )
    sigma = F.sqrt(
        d_("n1") * d_("n2") / F.lit(12.0)
        * ((F.col("n") + 1).cast("double") - d_("tie3") / (d_("n") * (F.col("n") - 1).cast("double")))
    )
    return u.select(
        "n1", "n2",
        F.round(F.col("u1_2") / F.lit(2.0), 6).alias("u1"),
        F.round(
            (F.col("u1_2") / F.lit(2.0) - d_("n1") * d_("n2") / F.lit(2.0)) / sigma, 6
        ).alias("z"),
    )



@query(
    "levene_bf",
    """WITH v AS (
         SELECT event_type, CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       cen AS (
         SELECT event_type, v_fp, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
       cum AS (
         SELECT event_type, v_fp, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY v_fp) AS cc,
                sum(c) OVER (PARTITION BY event_type) AS ni
         FROM cen),
       med AS (
         SELECT event_type, min(v_fp) AS med_fp
         FROM cum WHERE cc >= (ni + 1) // 2 GROUP BY event_type),
       z AS (
         SELECT v.event_type, abs(v.v_fp - med.med_fp)::BIGINT AS z_fp
         FROM v JOIN med USING (event_type)),
       g AS (
         SELECT event_type, count(*)::BIGINT AS ni,
                sum(z_fp)::BIGINT AS s,
                sum((z_fp / 1000000.0) * (z_fp / 1000000.0)) AS q
         FROM z GROUP BY event_type),
       terms AS (
         SELECT event_type, ni, s,
                CAST(round(1000000.0 * (s / 1000000.0) * (s / 1000000.0) / ni) AS BIGINT) AS num_fp,
                CAST(round(1000000.0 * (q - (s / 1000000.0) * (s / 1000000.0) / ni)) AS BIGINT) AS den_fp
         FROM g),
       tot AS (
         SELECT count(*)::BIGINT AS k, sum(ni)::BIGINT AS n, sum(s)::BIGINT AS st,
                sum(num_fp)::BIGINT AS numf, sum(den_fp)::BIGINT AS denf
         FROM terms)
       SELECT k, n,
              round((n - k)::DOUBLE / (k - 1)::DOUBLE
                    * (numf / 1000000.0
                       - (st / 1000000.0) * (st / 1000000.0) / n::DOUBLE)
                    / (denf / 1000000.0), 6) AS w_bf
       FROM tot""",
)
def q_levene_bf(spark, sf_dir):
    """Brown-Forsythe test for homogeneity of variance across event
    types (Brown & Forsythe, JASA 1974 — Levene's test with the
    median center, the robust form): W = ((N−k)/(k−1)) · Σnᵢ(z̄ᵢ−z̄)² /
    ΣΣ(zᵢⱼ−z̄ᵢ)² where zᵢⱼ = |xᵢⱼ − medᵢ|. The group median is the
    LOWER median (k-th smallest, k=(nᵢ+1)//2) read off an exact integer
    census + running-count window — no percentile_approx — so every zᵢⱼ
    is an exact int64; per-group cross terms are micro-int-rounded
    BEFORE the cross-group sum so the group-order-dependent float adds
    never happen. Plan: per-group value census (one shuffle), windowed
    median pick, join back, group-grain math."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_type", F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp")
    )
    cen = v.groupBy("event_type", "v_fp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.partitionBy("event_type").orderBy("v_fp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("event_type")
    cum = cen.select(
        "event_type", "v_fp",
        F.sum("c").over(wcum).alias("cc"), F.sum("c").over(wall).alias("ni"),
    )
    med = (
        cum.where(F.col("cc") >= F.floor((F.col("ni") + 1) / 2))
        .groupBy("event_type")
        .agg(F.min("v_fp").alias("med_fp"))
    )
    z = v.join(med, "event_type").select(
        "event_type", F.abs(F.col("v_fp") - F.col("med_fp")).cast("long").alias("z_fp")
    )
    zd = F.col("z_fp") / F.lit(1e6)
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ni"),
        F.sum("z_fp").cast("long").alias("s"),
        F.sum(zd * zd).alias("q"),
    )
    sd = F.col("s") / F.lit(1e6)
    terms = g.select(
        "ni", "s",
        F.round(F.lit(1e6) * sd * sd / F.col("ni"), 0).cast("long").alias("num_fp"),
        F.round(F.lit(1e6) * (F.col("q") - sd * sd / F.col("ni")), 0).cast("long").alias("den_fp"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ni").cast("long").alias("n"),
        F.sum("s").cast("long").alias("st"),
        F.sum("num_fp").cast("long").alias("numf"),
        F.sum("den_fp").cast("long").alias("denf"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    std = F.col("st") / F.lit(1e6)
    return tot.select(
        "k", "n",
        F.round(
            (F.col("n") - F.col("k")).cast("double") / (F.col("k") - 1).cast("double")
            * (F.col("numf") / F.lit(1e6) - std * std / d_("n"))
            / (F.col("denf") / F.lit(1e6)),
            6,
        ).alias("w_bf"),
    )



@query(
    "fleiss_kappa",
    """WITH r AS (
         SELECT doc_id,
                CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1 ELSE 2 END AS cat
         FROM documents
         UNION ALL
         SELECT doc_id,
                CASE WHEN len(string_split(trim(text), ' ')) < 40 THEN 0
                     WHEN len(string_split(trim(text), ' ')) < 80 THEN 1 ELSE 2 END
         FROM documents
         UNION ALL
         SELECT doc_id,
                CASE WHEN n_chars < 180 THEN 0 WHEN n_chars < 420 THEN 1 ELSE 2 END
         FROM documents),
       nij AS (SELECT doc_id, cat, count(*)::BIGINT AS nij FROM r GROUP BY 1, 2),
       per_item AS (
         SELECT doc_id, sum(nij * nij)::BIGINT AS ss FROM nij GROUP BY doc_id),
       items AS (
         SELECT count(*)::BIGINT AS n_items, sum(ss)::BIGINT AS ss_tot
         FROM per_item),
       cats AS (SELECT cat, sum(nij)::BIGINT AS cj FROM nij GROUP BY cat),
       pe AS (
         SELECT sum(CAST(round(1000000000000.0 * cj * cj
                          / ((SELECT n_items FROM items) * 3.0)
                          / ((SELECT n_items FROM items) * 3.0)) AS BIGINT))::BIGINT AS pe_fp
         FROM cats)
       SELECT items.n_items, 3::BIGINT AS m,
              round((ss_tot - items.n_items * 3)::DOUBLE
                    / (items.n_items * 3 * 2)::DOUBLE, 6) AS p_bar,
              round(pe_fp / 1000000000000.0, 6) AS p_e,
              round(((ss_tot - items.n_items * 3)::DOUBLE
                     / (items.n_items * 3 * 2)::DOUBLE
                     - pe_fp / 1000000000000.0)
                    / (1.0 - pe_fp / 1000000000000.0), 6) AS kappa
       FROM items, pe""",
)
def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa (Fleiss, Psych. Bulletin 1971) — chance-corrected
    agreement among m=3 deterministic 'raters' each assigning every
    document one of 3 size categories (char-count terciles at two
    threshold settings + a token-count rater, so agreement is high but
    imperfect — exactly the multi-annotator QA shape used to audit
    labeling pipelines). P̄ = Σᵢ(Σⱼnᵢⱼ² − m)/(Nm(m−1)) and Pₑ = Σⱼpⱼ²
    come from exact int64 census counts; the per-category pⱼ² terms are
    pico-int-rounded before the cross-category sum so float add order
    never matters. Plan: 3 projections unioned (no shuffle), one
    (doc,cat) census, item-grain and category-grain aggs."""
    docs = _docs(spark, sf_dir)
    ntok = F.size(F.split(F.trim(F.col("text")), " "))
    raters = [
        F.when(F.col("n_chars") < 200, 0).when(F.col("n_chars") < 400, 1).otherwise(2),
        F.when(ntok < 40, 0).when(ntok < 80, 1).otherwise(2),
        F.when(F.col("n_chars") < 180, 0).when(F.col("n_chars") < 420, 1).otherwise(2),
    ]
    r = None
    for expr in raters:
        part = docs.select("doc_id", expr.alias("cat"))
        r = part if r is None else r.unionAll(part)
    nij = r.groupBy("doc_id", "cat").agg(F.count(F.lit(1)).cast("long").alias("nij"))
    per_item = nij.groupBy("doc_id").agg(
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("ss")
    )
    items = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("ss").cast("long").alias("ss_tot"),
    )
    cats = nij.groupBy("cat").agg(F.sum("nij").cast("long").alias("cj"))
    pe = (
        cats.crossJoin(items.select("n_items"))
        .select(
            F.round(
                F.lit(1e12) * F.col("cj") * F.col("cj")
                / (F.col("n_items") * F.lit(3.0))
                / (F.col("n_items") * F.lit(3.0)),
                0,
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("pe_fp"))
    )
    j = items.crossJoin(pe)
    p_bar = (F.col("ss_tot") - F.col("n_items") * 3).cast("double") / (
        F.col("n_items") * 3 * 2
    ).cast("double")
    p_e = F.col("pe_fp") / F.lit(1e12)
    return j.select(
        "n_items",
        F.lit(3).cast("long").alias("m"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6).alias("kappa"),
    )



@query(
    "lin_ccc",
    """WITH p AS (
         SELECT n_chars::BIGINT AS x,
                len(string_split(trim(text), ' '))::BIGINT AS y
         FROM documents),
       m AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
                sum(x * y)::BIGINT AS sxy
         FROM p)
       SELECT n,
              round(2.0 * (n * sxy - sx * sy)::DOUBLE
                    / ((n * sxx - sx * sx) + (n * syy - sy * sy)
                       + (sx - sy) * (sx - sy))::DOUBLE, 6) AS ccc,
              round((n * sxy - sx * sy)::DOUBLE
                    / sqrt((n * sxx - sx * sx)::DOUBLE)
                    / sqrt((n * syy - sy * sy)::DOUBLE), 6) AS pearson_r
       FROM m""",
)
def q_lin_ccc(spark, sf_dir):
    """Lin's concordance correlation coefficient (Lin, Biometrics 1989)
    between character count and token count per document — the
    agreement statistic that penalizes scale/location bias, unlike
    Pearson r (its C_b factor): CCC = 2s_xy/(s_x²+s_y²+(x̄−ȳ)²).
    Multiplying numerator and denominator by n² turns every moment
    into an exact int64 (n·Σxy−ΣxΣy etc.), so the only float op is the
    final division — bit-identical on both engines. One map-side
    partial agg over the corpus; no shuffle beyond the single global
    reduce. int64 overflow bound documented: safe to ~10^7 docs at
    n_chars ≤ 10^3; beyond that promote the sums to DECIMAL(38,0)."""
    p = _docs(spark, sf_dir).select(
        F.col("n_chars").cast("long").alias("x"),
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("y"),
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    bias2 = (F.col("sx") - F.col("sy")) * (F.col("sx") - F.col("sy"))
    return m.select(
        "n",
        F.round(F.lit(2.0) * num / (vx + vy + bias2).cast("double"), 6).alias("ccc"),
        F.round(
            num / F.sqrt(vx.cast("double")) / F.sqrt(vy.cast("double")), 6
        ).alias("pearson_r"),
    )



@query(
    "ljung_box",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s FROM d),
       c AS (
         SELECT (SELECT n FROM m) * x - (SELECT s FROM m) AS cdev,
                row_number() OVER (ORDER BY day) AS t
         FROM d),
       led AS (
         SELECT cdev,
                lead(cdev, 1) OVER (ORDER BY t) AS l1,
                lead(cdev, 2) OVER (ORDER BY t) AS l2,
                lead(cdev, 3) OVER (ORDER BY t) AS l3,
                lead(cdev, 4) OVER (ORDER BY t) AS l4,
                lead(cdev, 5) OVER (ORDER BY t) AS l5
         FROM c),
       nums AS (
         SELECT sum(cdev * cdev)::BIGINT AS den,
                sum(cdev * l1)::BIGINT AS m1, sum(cdev * l2)::BIGINT AS m2,
                sum(cdev * l3)::BIGINT AS m3, sum(cdev * l4)::BIGINT AS m4,
                sum(cdev * l5)::BIGINT AS m5
         FROM led),
       lags AS (
         SELECT 1::BIGINT AS lag, m1 AS num, den FROM nums
         UNION ALL SELECT 2, m2, den FROM nums
         UNION ALL SELECT 3, m3, den FROM nums
         UNION ALL SELECT 4, m4, den FROM nums
         UNION ALL SELECT 5, m5, den FROM nums),
       r AS (
         SELECT lag, num::DOUBLE / den::DOUBLE AS rk, (SELECT n FROM m) AS n
         FROM lags)
       SELECT lag, round(rk, 6) AS r,
              round(n::DOUBLE * (n + 2)::DOUBLE
                    * sum(rk * rk / (n - lag)::DOUBLE)
                      OVER (ORDER BY lag), 6) AS q_cum
       FROM r""",
)
def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau test (Ljung & Box, Biometrika 1978) on the
    daily event-count series, lags 1..5: Q_m = n(n+2)Σr_k²/(n−k). The
    lag-k autocorrelation is computed on SCALED deviations c_t = n·x_t
    − Σx — exact int64 because daily counts are integers — so every
    r_k is one exact-int ratio and Q is a running sum over ≤5 ordered
    lag terms (same add order both engines). Plan: day census (one
    shuffle), one 5-lead window pass, one global reduce; the lag table
    is constant-size regardless of corpus scale."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    c = d.crossJoin(F.broadcast(m)).select(
        (F.col("n") * F.col("x") - F.col("s")).alias("cdev"), "day", "n"
    )
    wt = Window.orderBy("day")
    led = c.select(
        "cdev", "n", *[F.lead("cdev", k).over(wt).alias(f"l{k}") for k in range(1, 6)]
    )
    nums = led.groupBy("n").agg(
        F.sum(F.col("cdev") * F.col("cdev")).cast("long").alias("den"),
        *[
            F.sum(F.col("cdev") * F.col(f"l{k}")).cast("long").alias(f"m{k}")
            for k in range(1, 6)
        ],
    )
    lags = None
    for k in range(1, 6):
        part = nums.select(
            F.lit(k).cast("long").alias("lag"), F.col(f"m{k}").alias("num"), "den", "n"
        )
        lags = part if lags is None else lags.unionAll(part)
    r = lags.select(
        "lag", "n", (F.col("num").cast("double") / F.col("den").cast("double")).alias("rk")
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return r.select(
        "lag",
        F.round("rk", 6).alias("r"),
        F.round(
            F.col("n").cast("double") * (F.col("n") + 2).cast("double")
            * F.sum(
                F.col("rk") * F.col("rk") / (F.col("n") - F.col("lag")).cast("double")
            ).over(wq),
            6,
        ).alias("q_cum"),
    )



@query(
    "l_diversity",
    """WITH s AS (
         SELECT lang, source, (n_chars // 100)::BIGINT AS sens
         FROM documents),
       cnt AS (
         SELECT lang, source, sens, count(*)::BIGINT AS c
         FROM s GROUP BY 1, 2, 3),
       wp AS (
         SELECT lang, source, c,
                c::DOUBLE / sum(c) OVER (PARTITION BY lang, source) AS p
         FROM cnt),
       g AS (
         SELECT lang, source, sum(c)::BIGINT AS k,
                count(*)::BIGINT AS l_distinct,
                sum(CAST(round(-1000000.0 * p * ln(p)) AS BIGINT))::BIGINT AS ent_fp
         FROM wp GROUP BY lang, source)
       SELECT lang, source, k, l_distinct,
              round(exp(ent_fp / 1000000.0), 6) AS entropy_l
       FROM g""",
)
def q_l_diversity(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) of the
    (lang, source) quasi-identifier grouping with the n_chars
    century-bucket as the sensitive attribute — the release-safety
    check that k-anonymity (see `k_anonymity`) misses: a group can be
    large yet reveal its sensitive value if all members share it.
    Emits per-QI-group size k, distinct-l, and entropy-l =
    exp(H(sens|group)); each −p·ln p term is micro-int-rounded BEFORE
    the cross-category sum so float add order never matters. Plan: one
    (QI, sens) census, then a group-grain agg — both map-side
    partial."""
    s = _docs(spark, sf_dir).select(
        "lang", "source", F.floor(F.col("n_chars") / 100).cast("long").alias("sens")
    )
    cnt = s.groupBy("lang", "source", "sens").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wg = Window.partitionBy("lang", "source")
    p = F.col("c").cast("double") / F.sum("c").over(wg).cast("double")
    term = F.round(F.lit(-1e6) * p * F.log(p), 0).cast("long")
    g = cnt.select("lang", "source", "c", term.alias("t")).groupBy(
        "lang", "source"
    ).agg(
        F.sum("c").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.sum("t").cast("long").alias("ent_fp"),
    )
    return g.select(
        "lang", "source", "k", "l_distinct",
        F.round(F.exp(F.col("ent_fp") / F.lit(1e6)), 6).alias("entropy_l"),
    )



def _ppr_sql(iterations: int = 10, n_hosts: int = 50, links: int = 3,
             seeds: tuple = (0, 1, 2, 3, 4)) -> str:
    """K-unrolled personalized-PageRank oracle: same chained-CTE shape
    as ``_pagerank_sql`` with teleport mass restricted to the seeds."""
    def dst(j: int) -> str:
        h = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({h} % {n_hosts})::BIGINT"

    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % {n_hosts})::BIGINT AS src, {dst(j)} AS dst FROM documents"
        for j in range(links)
    )
    seed_list = ", ".join(str(s) for s in seeds)
    ns = len(seeds)
    ctes = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({link_union}) WHERE src != dst)",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)",
        f"r0 AS (SELECT node, CASE WHEN node IN ({seed_list}) THEN 1000000000 // {ns} ELSE 0 END AS rank_fp FROM nodes)",
    ]
    for k in range(iterations):
        ctes.append(
            f"""r{k + 1} AS (
              SELECT n.node,
                     CASE WHEN n.node IN ({seed_list}) THEN 3000000000 // (20 * {ns}) ELSE 0 END
                     + (17 * coalesce(s.i, 0)) // 20 AS rank_fp
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank_fp // o.outdeg) AS i
                FROM edges e JOIN r{k} r ON r.node = e.src
                JOIN outdeg o ON o.src = e.src
                GROUP BY 1) s USING (node))"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT node, rank_fp::BIGINT AS rank_fp,
               round(rank_fp / 1000000000, 6) AS rank
        FROM r{iterations}"""
    )



@query("personalized_pagerank", _ppr_sql())
def q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from seed hosts {0..4} over the same
    deterministic host link graph as `host_pagerank` (Page et al. 1999
    §6 — restart lands only on the seeds, so rank = proximity/trust
    relative to the seed set, the TrustRank-style propagation signal).
    10 rounds of the exact fixed-point integer recurrence; unreached
    hosts stay at exact 0 (a reachability signal). Bit-identical to the
    oracle's unrolled CTE chain."""
    from ..operators.graph import host_link_edges, personalized_pagerank

    return personalized_pagerank(
        host_link_edges(_docs(spark, sf_dir)), seeds=[0, 1, 2, 3, 4], iterations=10
    )



_QLD_TOKENS = ("spark", "join", "data")

_QLD_MU = 100



def _qld_sql() -> str:
    toks = ", ".join(f"'{t}'" for t in _QLD_TOKENS)
    return f"""WITH tok AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents),
       dl AS (SELECT doc_id, count(*)::BIGINT AS dlen FROM tok GROUP BY doc_id),
       ctot AS (SELECT count(*)::BIGINT AS cn FROM tok),
       qs AS (
         SELECT t, count(*)::BIGINT AS cf FROM tok WHERE t IN ({toks}) GROUP BY t),
       tf AS (
         SELECT doc_id, t, count(*)::BIGINT AS tf FROM tok
         WHERE t IN ({toks}) GROUP BY doc_id, t),
       scored AS (
         SELECT dl.doc_id,
                sum(CAST(round(1000000.0 * ln(
                      (coalesce(tf.tf, 0) + {_QLD_MU}.0 * qs.cf / (SELECT cn FROM ctot))
                      / (dl.dlen + {_QLD_MU})::DOUBLE)) AS BIGINT))::BIGINT AS score_fp
         FROM dl CROSS JOIN qs
         LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.t = qs.t
         GROUP BY dl.doc_id)
       SELECT doc_id, score_fp, round(score_fp / 1000000.0, 6) AS score
       FROM scored
       ORDER BY score_fp DESC, doc_id
       LIMIT 20"""



@query("qld_topk", _qld_sql())
def q_qld_topk(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    SIGIR 2001) for the fixed query {spark, join, data}, µ=100:
    score(d) = Σ_t ln((tf_{t,d} + µ·p(t|C)) / (|d|+µ)) — the language-
    modeling twin of the `bm25_topk` ranker. Each per-token log term is
    micro-int-rounded before the per-doc sum (3 ordered adds → exact
    int64), top-20 with a doc_id tie-break. Plan: one token pass gives
    doc lengths + the 3-row query-term stats (broadcast); scoring is a
    broadcast nested-loop over 3 terms + a left join on the filtered tf
    census; top-k is TakeOrderedAndProject (no global sort
    materialization)."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("t")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dlen"))
    ctot = tok.agg(F.count(F.lit(1)).cast("long").alias("cn"))
    qs = (
        tok.where(F.col("t").isin(*_QLD_TOKENS))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
        .crossJoin(F.broadcast(ctot))
    )
    tf = (
        tok.where(F.col("t").isin(*_QLD_TOKENS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    term = F.round(
        F.lit(1e6)
        * F.log(
            (F.coalesce(F.col("tf"), F.lit(0)) + F.lit(float(_QLD_MU)) * F.col("cf") / F.col("cn"))
            / (F.col("dlen") + F.lit(_QLD_MU)).cast("double")
        ),
        0,
    ).cast("long")
    scored = (
        dl.crossJoin(F.broadcast(qs))
        .join(tf, ["doc_id", "t"], "left")
        .select("doc_id", term.alias("term_fp"))
        .groupBy("doc_id")
        .agg(F.sum("term_fp").cast("long").alias("score_fp"))
    )
    return (
        scored.select(
            "doc_id", "score_fp", F.round(F.col("score_fp") / F.lit(1e6), 6).alias("score")
        )
        .orderBy(F.desc("score_fp"), "doc_id")
        .limit(20)
    )



@query(
    "good_turing",
    """WITH cnt AS (
         SELECT token, count(*)::BIGINT AS c
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
         GROUP BY token),
       coc AS (SELECT c AS r, count(*)::BIGINT AS n_r FROM cnt GROUP BY c)
       SELECT a.r, a.n_r,
              round((a.r + 1)::DOUBLE * coalesce(b.n_r, 0)::DOUBLE / a.n_r::DOUBLE, 6)
                AS r_star
       FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
       WHERE a.r <= 10""",
)
def q_good_turing(spark, sf_dir):
    """Good-Turing count-of-counts re-estimation (Good, Biometrika
    1953) for low frequencies r ≤ 10: N_r = |{tokens seen exactly r
    times}| and the adjusted count r* = (r+1)·N_{r+1}/N_r — the
    smoothing table Katz backoff consumes, complementing
    `missing_mass`'s p₀ with the full discount curve. All counts exact
    from the token census; r* is one division. Plan: token census (one
    shuffle) → count-of-counts census (tiny) → self-join on r+1 over a
    ≤max-count-row table — output size is O(distinct counts), corpus-
    scale-free."""
    cnt = (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    coc = cnt.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    b = coc.select(F.col("r").alias("r1"), F.col("n_r").alias("n_r1"))
    return (
        coc.where(F.col("r") <= 10)
        .join(b, F.col("r1") == F.col("r") + 1, "left")
        .select(
            "r", "n_r",
            F.round(
                (F.col("r") + 1).cast("double")
                * F.coalesce(F.col("n_r1"), F.lit(0)).cast("double")
                / F.col("n_r").cast("double"),
                6,
            ).alias("r_star"),
        )
    )



@query(
    "page_hinkley",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                sum(CAST(round(value * 1000000.0) AS BIGINT))::BIGINT AS s_fp,
                count(*)::BIGINT AS c
         FROM events GROUP BY 1),
       seq AS (
         SELECT day,
                row_number() OVER (ORDER BY day) AS t,
                (s_fp::DOUBLE / c / 1000000.0) AS xbar_day,
                sum(s_fp) OVER (ORDER BY day) AS cs_fp,
                sum(c) OVER (ORDER BY day) AS cc
         FROM d),
       terms AS (
         SELECT day, t,
                CAST(round(1000000.0 * (xbar_day - cs_fp::DOUBLE / cc / 1000000.0)
                           - 1000000.0 * 0.01) AS BIGINT) AS dev_fp
         FROM seq),
       msum AS (
         SELECT day, t, sum(dev_fp) OVER (ORDER BY t) AS m_fp FROM terms),
       m AS (
         SELECT day, t, m_fp,
                min(m_fp) OVER (ORDER BY t) AS min_fp
         FROM msum)
       SELECT day::TIMESTAMP AS day, m_fp::BIGINT AS m_fp,
              (m_fp - min_fp)::BIGINT AS ph_fp,
              (m_fp - min_fp > 500000)::INT AS alarm
       FROM m""",
)
def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley upward-drift detector (Page, Biometrika 1954; the
    sequential form used for concept-drift monitoring) over the daily
    mean event value: m_t = Σ_{i≤t}(x̄_i − μ̂_i − δ) with δ=0.01, where
    μ̂_i is the running mean through day i; PH_t = m_t − min_{s≤t} m_s,
    alarm when PH > λ=0.5. Every deviation term is micro-int-rounded
    before the ordered running sum (exact int64 thereafter), and the
    running min-of-running-sum is a nested ordered window — identical
    sequential semantics on both engines. Plan: day census (one
    shuffle), then day-grain windows over a ~O(days) frame."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("long").alias("s_fp"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    seq = d.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        (F.col("s_fp").cast("double") / F.col("c") / F.lit(1e6)).alias("xbar_day"),
        F.sum("s_fp").over(wd).alias("cs_fp"),
        F.sum("c").over(wd).alias("cc"),
    )
    terms = seq.select(
        "day", "t",
        F.round(
            F.lit(1e6) * (F.col("xbar_day") - F.col("cs_fp").cast("double") / F.col("cc") / F.lit(1e6))
            - F.lit(1e6) * F.lit(0.01),
            0,
        ).cast("long").alias("dev_fp"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    m = terms.select("day", "t", F.sum("dev_fp").over(wt).alias("m_fp"))
    mm = m.select(
        "day", "m_fp", F.min("m_fp").over(wt.orderBy("t")).alias("min_fp")
    )
    return mm.select(
        "day",
        F.col("m_fp").cast("long").alias("m_fp"),
        (F.col("m_fp") - F.col("min_fp")).cast("long").alias("ph_fp"),
        (F.col("m_fp") - F.col("min_fp") > 500000).cast("int").alias("alarm"),
    )



@query(
    "periodogram_peak",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS x
         FROM events GROUP BY 1),
       m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s FROM d),
       c AS (
         SELECT (SELECT n FROM m) * x - (SELECT s FROM m) AS cdev,
                row_number() OVER (ORDER BY day) - 1 AS t
         FROM d),
       proj AS (
         SELECT p.p,
                sum(CAST(round(1000000.0 * cdev / (SELECT s FROM m)
                          * cos(2 * pi() * t / p.p)) AS BIGINT))::BIGINT AS cr,
                sum(CAST(round(1000000.0 * cdev / (SELECT s FROM m)
                          * sin(2 * pi() * t / p.p)) AS BIGINT))::BIGINT AS ci
         FROM c, (SELECT unnest(range(2, 15)) AS p) p
         GROUP BY p.p),
       pw AS (
         SELECT p::BIGINT AS period, (cr * cr + ci * ci)::BIGINT AS power_fp
         FROM proj)
       SELECT period, power_fp,
              (power_fp = (SELECT max(power_fp) FROM pw))::INT AS is_peak
       FROM pw""",
)
def q_periodogram_peak(spark, sf_dir):
    """Schuster periodogram over candidate periods 2..14 days on the
    daily event-count series (Schuster 1898; the direct-DFT period
    scan behind seasonality detection): power(p) = (Σc_t·cos 2πt/p)² +
    (Σc_t·sin 2πt/p)² on RELATIVE deviations c_t = (n·x_t − Σx)/Σx —
    scale-free, so the int64 projections never overflow however large
    the daily counts grow. Each trig product is micro-int-rounded
    BEFORE the cross-row sum — absorbing last-ulp libm cos/sin
    divergence between engines —
    so the projections are exact int64 and the peak flag is an exact
    integer comparison. Plan: day census, a 13-period constant
    broadcast expansion, one map-side partial agg; output is
    13 rows regardless of corpus scale."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    c = d.crossJoin(F.broadcast(m)).select(
        (F.col("n") * F.col("x") - F.col("s")).alias("cdev"),
        "s",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    )
    periods = spark.range(2, 15).select(F.col("id").alias("p"))
    theta = F.lit(2.0) * F.lit(float(__import__("math").pi)) * F.col("t") / F.col("p")
    rel = F.lit(1e6) * F.col("cdev") / F.col("s")
    proj = (
        c.crossJoin(F.broadcast(periods))
        .select(
            "p",
            F.round(rel * F.cos(theta), 0).cast("long").alias("cr_t"),
            F.round(rel * F.sin(theta), 0).cast("long").alias("ci_t"),
        )
        .groupBy("p")
        .agg(
            F.sum("cr_t").cast("long").alias("cr"),
            F.sum("ci_t").cast("long").alias("ci"),
        )
    )
    pw = proj.select(
        F.col("p").cast("long").alias("period"),
        (F.col("cr") * F.col("cr") + F.col("ci") * F.col("ci")).cast("long").alias("power_fp"),
    )
    mx = pw.agg(F.max("power_fp").alias("mx"))
    return pw.crossJoin(F.broadcast(mx)).select(
        "period", "power_fp", (F.col("power_fp") == F.col("mx")).cast("int").alias("is_peak")
    )



@query(
    "grubbs_outlier",
    """WITH d AS (
         SELECT date_trunc('day', ts) AS day,
                sum(CAST(round(value * 1000000.0) AS BIGINT))::BIGINT AS s_fp,
                count(*)::BIGINT AS c
         FROM events GROUP BY 1),
       x AS (
         SELECT day, CAST(round(s_fp::DOUBLE / c) AS BIGINT) AS xbar_fp FROM d),
       m AS (
         SELECT count(*)::BIGINT AS n, sum(xbar_fp)::BIGINT AS sx,
                sum(xbar_fp * xbar_fp)::BIGINT AS sxx
         FROM x),
       dev AS (
         SELECT x.day, abs(m.n * x.xbar_fp - m.sx)::BIGINT AS adev, m.n, m.sx, m.sxx
         FROM x, m),
       pick AS (
         SELECT day, adev, n, sx, sxx,
                row_number() OVER (ORDER BY adev DESC, day) AS rn
         FROM dev)
       SELECT day::TIMESTAMP AS suspect_day, n,
              round(adev::DOUBLE / n::DOUBLE
                    / sqrt((n * sxx - sx * sx)::DOUBLE / (n::DOUBLE * (n - 1)::DOUBLE)), 6) AS g
       FROM pick WHERE rn = 1""",
)
def q_grubbs_outlier(spark, sf_dir):
    """Grubbs' maximum-normed-residual test (Grubbs, Technometrics
    1969) on the daily mean event value: G = max|x̄_d − x̄|/s over days,
    emitting the suspect day and its G. The daily mean is micro-int-
    rounded once, then every moment (n, Σx, Σx²) is exact int64; the
    deviation ranking is on the exact integer |n·x − Σx| with a
    deterministic day tie-break, and G is a single double expression.
    Plan: day census, global moment reduce, top-1 pick — day-grain
    only."""
    ev = _events(spark, sf_dir)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("long").alias("s_fp"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    x = d.select(
        "day", F.round(F.col("s_fp").cast("double") / F.col("c"), 0).cast("long").alias("xbar_fp")
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xbar_fp").cast("long").alias("sx"),
        F.sum(F.col("xbar_fp") * F.col("xbar_fp")).cast("long").alias("sxx"),
    )
    dev = x.crossJoin(F.broadcast(m)).select(
        "day",
        F.abs(F.col("n") * F.col("xbar_fp") - F.col("sx")).cast("long").alias("adev"),
        "n", "sx", "sxx",
    )
    pick = dev.select(
        "*", F.row_number().over(Window.orderBy(F.desc("adev"), "day")).alias("rn")
    ).where(F.col("rn") == 1)
    s_pooled = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    )
    return pick.select(
        F.col("day").alias("suspect_day"),
        "n",
        F.round(
            F.col("adev").cast("double") / F.col("n").cast("double") / s_pooled, 6
        ).alias("g"),
    )



_ZONE_ROWS = 500

_ZONE_LO_FP = 50_000_000  # value in [50, 60] — micro-units

_ZONE_HI_FP = 60_000_000



@query(
    "minmax_skipping",
    f"""WITH b AS (
         SELECT (event_id // {_ZONE_ROWS})::BIGINT AS bucket,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events),
       zone AS (
         SELECT bucket, count(*)::BIGINT AS n_rows,
                min(v_fp)::BIGINT AS vmin_fp, max(v_fp)::BIGINT AS vmax_fp,
                sum((v_fp BETWEEN {_ZONE_LO_FP} AND {_ZONE_HI_FP})::INT)::BIGINT AS n_match
         FROM b GROUP BY bucket)
       SELECT bucket, n_rows, vmin_fp, vmax_fp, n_match,
              (vmax_fp < {_ZONE_LO_FP} OR vmin_fp > {_ZONE_HI_FP})::INT AS skippable,
              (NOT (vmax_fp < {_ZONE_LO_FP} OR vmin_fp > {_ZONE_HI_FP})
               AND n_match = 0)::INT AS false_positive
       FROM zone""",
)
def q_minmax_skipping(spark, sf_dir):
    """Zone-map (min/max statistics) skipping audit — the mechanism
    behind parquet row-group pruning and Iceberg/Delta file skipping:
    partition the event stream into {rows}-row synthetic row-groups,
    compute each group's min/max of `value`, and evaluate the fixed
    predicate value∈[50,60] against the zone map. Emits per group:
    skippable (predicate provably empty from stats alone), the TRUE
    match count, and the false-positive flag (stats couldn't skip but
    zero rows match — the clustering-quality signal: high FP rate
    means the column needs sort/Z-order before min/max stats pay
    off). Pure map-side census; one shuffle on the
    group key.""".format(rows=_ZONE_ROWS)
    ev = _events(spark, sf_dir)
    b = ev.select(
        F.floor(F.col("event_id") / _ZONE_ROWS).cast("long").alias("bucket"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    zone = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("v_fp").cast("long").alias("vmin_fp"),
        F.max("v_fp").cast("long").alias("vmax_fp"),
        F.sum(
            F.col("v_fp").between(_ZONE_LO_FP, _ZONE_HI_FP).cast("int")
        ).cast("long").alias("n_match"),
    )
    skippable = (F.col("vmax_fp") < _ZONE_LO_FP) | (F.col("vmin_fp") > _ZONE_HI_FP)
    return zone.select(
        "bucket", "n_rows", "vmin_fp", "vmax_fp", "n_match",
        skippable.cast("int").alias("skippable"),
        (~skippable & (F.col("n_match") == 0)).cast("int").alias("false_positive"),
    )



_ROCCHIO_TOPD = 10

_ROCCHIO_TOPT = 15



def _rocchio_sql() -> str:
    toks = ", ".join(f"'{t}'" for t in _QLD_TOKENS)
    return f"""WITH tok AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents),
       dl AS (SELECT doc_id, count(*)::BIGINT AS dlen FROM tok GROUP BY doc_id),
       qtf AS (
         SELECT doc_id, count(*)::BIGINT AS score
         FROM tok WHERE t IN ({toks}) GROUP BY doc_id),
       top AS (
         SELECT doc_id, dlen FROM qtf JOIN dl USING (doc_id)
         ORDER BY score DESC, doc_id LIMIT {_ROCCHIO_TOPD}),
       tf AS (
         SELECT tok.t, tok.doc_id, count(*)::BIGINT AS tf, any_value(top.dlen) AS dlen
         FROM tok JOIN top USING (doc_id) GROUP BY tok.t, tok.doc_id),
       w AS (
         SELECT t,
                sum(CAST(round(1000000.0 * 0.75 * tf / dlen / {_ROCCHIO_TOPD}) AS BIGINT))::BIGINT
                  + CASE WHEN t IN ({toks}) THEN 1000000 ELSE 0 END AS w_fp
         FROM tf GROUP BY t)
       SELECT t AS term, w_fp, (t IN ({toks}))::INT AS in_original
       FROM w
       ORDER BY w_fp DESC, t LIMIT {_ROCCHIO_TOPT}"""



@query("rocchio_expand", _rocchio_sql())
def q_rocchio_expand(spark, sf_dir):
    """Rocchio pseudo-relevance feedback (Rocchio 1971; the classic
    query-expansion step): retrieve the top-10 docs for the fixed query
    {spark, join, data} by query-term frequency, then re-weight the
    vocabulary as w(t) = α·[t∈q] + β·mean_d(tf_{t,d}/|d|) with α=1,
    β=0.75, emitting the top-15 expansion terms. Each per-doc
    normalized-tf contribution is micro-int-rounded before the
    cross-doc sum (exact int64, add-order-free); ranking tie-breaks
    lexicographically. Plan: one token pass → filtered census for
    retrieval, TakeOrderedAndProject top-10 (broadcast), one census
    over the 10-doc slice — the expansion stage touches only the
    feedback set, never the corpus."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("t")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dlen"))
    qtf = (
        tok.where(F.col("t").isin(*_QLD_TOKENS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("score"))
    )
    top = (
        qtf.join(dl, "doc_id")
        .orderBy(F.desc("score"), "doc_id")
        .limit(_ROCCHIO_TOPD)
        .select("doc_id", "dlen")
    )
    tf = (
        tok.join(F.broadcast(top), "doc_id")
        .groupBy("t", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.first("dlen").alias("dlen"))
    )
    contrib = F.round(
        F.lit(1e6) * F.lit(0.75) * F.col("tf") / F.col("dlen") / F.lit(_ROCCHIO_TOPD), 0
    ).cast("long")
    w = tf.groupBy("t").agg(
        (
            F.sum(contrib)
            + F.when(F.col("t").isin(*_QLD_TOKENS), F.lit(1_000_000)).otherwise(F.lit(0))
        ).cast("long").alias("w_fp")
    )
    return (
        w.select(
            F.col("t").alias("term"), "w_fp",
            F.col("t").isin(*_QLD_TOKENS).cast("int").alias("in_original"),
        )
        .orderBy(F.desc("w_fp"), "term")
        .limit(_ROCCHIO_TOPT)
    )



@query(
    "holm_bonferroni",
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
       viol AS (
         SELECT coalesce(min(rk), 9223372036854775807) AS first_fail
         FROM ranked WHERE p_micro * (m - rk + 1) > {_BH_ALPHA_MICRO}::BIGINT)
       SELECT r.source, round(r.p_micro / 1e6, 6) AS p_value, r.rk AS rank,
              round({_BH_ALPHA_MICRO} / 1e6 / (r.m - r.rk + 1), 6) AS holm_threshold,
              (r.rk < v.first_fail) AS rejected
       FROM ranked r CROSS JOIN viol v""",
)
def q_holm_bonferroni(spark, sf_dir):
    """Holm step-down FWER control (Holm, Scand. J. Statist. 1979) over
    the SAME per-source mean-shift test family as `bh_fdr` — the
    family-wise twin of that query's false-discovery control, so the
    pair shows the FWER-vs-FDR rejection gap on identical p-values:
    sorted ascending, reject while p_(k) ≤ α/(m−k+1), stop at the
    FIRST failure (step-down — everything after the first non-rejection
    is kept regardless of its own p). The stop rule is an exact integer
    comparison p_micro·(m−k+1) ≤ α_micro; p-values are the same
    Cantelli-bound 1/(1+z²) construction (conservative, erf-free).
    One census + rank window over m source rows."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    st = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars").cast(dec) * F.col("n_chars").cast(dec)).cast(dec).alias("q"),
    )
    tot = st.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("s").cast("long").alias("ts"),
        F.sum("q").cast(dec).alias("tq"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    j = st.crossJoin(F.broadcast(tot))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    mean_in = d_("s") / d_("n")
    mean_out = (d_("ts") - d_("s")) / (d_("tn") - d_("n"))
    var_in = d_("q") / d_("n") - mean_in * mean_in
    var_out = (d_("tq") - d_("q")) / (d_("tn") - d_("n")) - mean_out * mean_out
    z = j.select(
        "source", "m",
        (mean_in - mean_out).alias("diff"),
        (var_in / d_("n") + var_out / (d_("tn") - d_("n"))).alias("se2"),
    )
    pv = z.select(
        "source", "m",
        F.round(F.lit(1e6) / (F.lit(1.0) + F.col("diff") * F.col("diff") / F.col("se2")), 0)
        .cast("long").alias("p_micro"),
    )
    ranked = pv.select(
        "*", F.row_number().over(Window.orderBy("p_micro", "source")).alias("rk")
    )
    viol = ranked.where(
        F.col("p_micro") * (F.col("m") - F.col("rk") + 1) > F.lit(_BH_ALPHA_MICRO)
    ).agg(F.coalesce(F.min("rk"), F.lit(9223372036854775807)).alias("first_fail"))
    return ranked.crossJoin(F.broadcast(viol)).select(
        "source",
        F.round(F.col("p_micro") / 1e6, 6).alias("p_value"),
        F.col("rk").cast("long").alias("rank"),
        F.round(F.lit(_BH_ALPHA_MICRO) / 1e6 / (F.col("m") - F.col("rk") + 1), 6).alias("holm_threshold"),
        (F.col("rk") < F.col("first_fail")).alias("rejected"),
    )



@query(
    "t_closeness",
    """WITH s AS (
         SELECT lang, source, (n_chars // 100)::BIGINT AS sens
         FROM documents),
       gsens AS (SELECT sens, count(*)::BIGINT AS gc FROM s GROUP BY sens),
       gtot AS (SELECT sum(gc)::BIGINT AS gn FROM gsens),
       grp AS (SELECT lang, source, count(*)::BIGINT AS k FROM s GROUP BY 1, 2),
       cnt AS (
         SELECT lang, source, sens, count(*)::BIGINT AS c FROM s GROUP BY 1, 2, 3),
       expanded AS (
         SELECT g.lang, g.source, g.k, gs.sens, gs.gc, coalesce(c.c, 0) AS c
         FROM grp g CROSS JOIN gsens gs
         LEFT JOIN cnt c ON c.lang = g.lang AND c.source = g.source AND c.sens = gs.sens),
       tv AS (
         SELECT lang, source, k,
                sum(CAST(round(500000.0 * abs(c::DOUBLE / k - gc::DOUBLE / (SELECT gn FROM gtot)))
                    AS BIGINT))::BIGINT AS tv_fp
         FROM expanded GROUP BY lang, source, k)
       SELECT lang, source, k, round(tv_fp / 1000000.0, 6) AS t_dist,
              (tv_fp > 200000)::INT AS violates_t02
       FROM tv""",
)
def q_t_closeness(spark, sf_dir):
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) of
    the same (lang, source) QI grouping as `l_diversity`, with the
    variational-distance instantiation: t(group) = ½Σ_s|p_g(s) − p(s)|
    between the group's sensitive-value distribution and the corpus
    baseline — the check that catches skewed-but-diverse groups
    l-diversity misses. Every |Δp| term is half-micro-rounded BEFORE
    the cross-category sum (exact int64, add-order-free); categories
    absent from a group contribute their full baseline mass via the
    group×category expansion (a broadcast cross join — the sensitive
    domain is small by definition, or t-closeness itself is
    meaningless). Flags t > 0.2. Two censuses + one group-grain agg."""
    s = _docs(spark, sf_dir).select(
        "lang", "source", F.floor(F.col("n_chars") / 100).cast("long").alias("sens")
    )
    gsens = s.groupBy("sens").agg(F.count(F.lit(1)).cast("long").alias("gc"))
    gtot = gsens.agg(F.sum("gc").cast("long").alias("gn"))
    grp = s.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("long").alias("k"))
    cnt = s.groupBy("lang", "source", "sens").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    expanded = (
        grp.crossJoin(F.broadcast(gsens))
        .join(cnt, ["lang", "source", "sens"], "left")
        .crossJoin(F.broadcast(gtot))
        .select(
            "lang", "source", "k", "gc", "gn",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    term = F.round(
        F.lit(5e5)
        * F.abs(
            F.col("c").cast("double") / F.col("k")
            - F.col("gc").cast("double") / F.col("gn")
        ),
        0,
    ).cast("long")
    tv = expanded.groupBy("lang", "source", "k").agg(
        F.sum(term).cast("long").alias("tv_fp")
    )
    return tv.select(
        "lang", "source", "k",
        F.round(F.col("tv_fp") / F.lit(1e6), 6).alias("t_dist"),
        (F.col("tv_fp") > 200000).cast("int").alias("violates_t02"),
    )



@query(
    "krippendorff_alpha",
    """WITH r AS (
         SELECT doc_id,
                CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1 ELSE 2 END AS cat
         FROM documents
         UNION ALL
         SELECT doc_id,
                CASE WHEN len(string_split(trim(text), ' ')) < 40 THEN 0
                     WHEN len(string_split(trim(text), ' ')) < 80 THEN 1 ELSE 2 END
         FROM documents
         UNION ALL
         SELECT doc_id,
                CASE WHEN n_chars < 180 THEN 0 WHEN n_chars < 420 THEN 1 ELSE 2 END
         FROM documents),
       nij AS (SELECT doc_id, cat, count(*)::BIGINT AS nij FROM r GROUP BY 1, 2),
       items AS (
         SELECT count(DISTINCT doc_id)::BIGINT AS n_items,
                sum(nij * (3 - nij))::BIGINT AS dis_o
         FROM nij),
       cats AS (SELECT cat, sum(nij)::BIGINT AS nc FROM nij GROUP BY cat),
       de AS (
         SELECT sum(nc * ((SELECT n_items FROM items) * 3 - nc))::BIGINT AS dis_e
         FROM cats)
       SELECT i.n_items, 3::BIGINT AS m,
              round(1.0 - (i.dis_o::DOUBLE / (i.n_items * 3 * 2)::DOUBLE)
                    / (d.dis_e::DOUBLE
                       / ((i.n_items * 3)::DOUBLE * (i.n_items * 3 - 1)::DOUBLE)), 6)
                AS alpha
       FROM items i, de d""",
)
def q_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha, nominal metric, complete m=3 ratings
    (Krippendorff, Content Analysis 1980) over the SAME deterministic
    3-rater setup as `fleiss_kappa` — the agreement coefficient that
    (unlike kappa) generalizes to missing data and corrects expected
    disagreement with the small-sample (Nm−1) denominator, so the pair
    exposes the kappa-vs-alpha gap on identical ratings: α = 1 −
    D_o/D_e with D_o = Σ_i Σ_c n_ic(m−n_ic)/(Nm(m−1)) and D_e =
    Σ_c n_c(Nm−n_c)/(Nm(Nm−1)). Both disagreement sums are exact int64
    census arithmetic; α is one final double expression. Plan: 3
    projections unioned, one (doc,cat) census, item- and
    category-grain aggs."""
    docs = _docs(spark, sf_dir)
    ntok = F.size(F.split(F.trim(F.col("text")), " "))
    raters = [
        F.when(F.col("n_chars") < 200, 0).when(F.col("n_chars") < 400, 1).otherwise(2),
        F.when(ntok < 40, 0).when(ntok < 80, 1).otherwise(2),
        F.when(F.col("n_chars") < 180, 0).when(F.col("n_chars") < 420, 1).otherwise(2),
    ]
    r = None
    for expr in raters:
        part = docs.select("doc_id", expr.alias("cat"))
        r = part if r is None else r.unionAll(part)
    nij = r.groupBy("doc_id", "cat").agg(F.count(F.lit(1)).cast("long").alias("nij"))
    items = nij.agg(
        F.countDistinct("doc_id").cast("long").alias("n_items"),
        F.sum(F.col("nij") * (F.lit(3) - F.col("nij"))).cast("long").alias("dis_o"),
    )
    cats = nij.groupBy("cat").agg(F.sum("nij").cast("long").alias("nc"))
    de = cats.crossJoin(F.broadcast(items.select("n_items"))).agg(
        F.sum(F.col("nc") * (F.col("n_items") * 3 - F.col("nc"))).cast("long").alias("dis_e")
    )
    j = items.crossJoin(de)
    d_o = F.col("dis_o").cast("double") / (F.col("n_items") * 3 * 2).cast("double")
    d_e = F.col("dis_e").cast("double") / (
        (F.col("n_items") * 3).cast("double") * (F.col("n_items") * 3 - 1).cast("double")
    )
    return j.select(
        "n_items", F.lit(3).cast("long").alias("m"),
        F.round(F.lit(1.0) - d_o / d_e, 6).alias("alpha"),
    )



@query(
    "effect_sizes",
    """WITH v AS (
         SELECT (event_type = 'click') AS g1,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events WHERE event_type IN ('click', 'view')),
       g AS (
         SELECT g1, count(*)::BIGINT AS n, sum(v_fp)::BIGINT AS s,
                sum(v_fp::HUGEINT * v_fp::HUGEINT) AS q
         FROM v GROUP BY g1),
       w AS (
         SELECT max(CASE WHEN g1 THEN n END) AS n1, max(CASE WHEN g1 THEN s END) AS s1,
                max(CASE WHEN g1 THEN q END) AS q1,
                max(CASE WHEN NOT g1 THEN n END) AS n2, max(CASE WHEN NOT g1 THEN s END) AS s2,
                max(CASE WHEN NOT g1 THEN q END) AS q2
         FROM g),
       stats AS (
         SELECT n1, n2,
                s1::DOUBLE / n1 / 1000000.0 - s2::DOUBLE / n2 / 1000000.0 AS diff,
                ((q1::DOUBLE - s1::DOUBLE * s1 / n1)
                 + (q2::DOUBLE - s2::DOUBLE * s2 / n2))
                  / (n1 + n2 - 2)::DOUBLE / 1e12 AS sp2,
                (q2::DOUBLE - s2::DOUBLE * s2 / n2) / (n2 - 1)::DOUBLE / 1e12 AS s22
         FROM w)
       SELECT n1, n2,
              round(diff / sqrt(sp2), 6) AS cohens_d,
              round(diff / sqrt(sp2)
                    * (1.0 - 3.0 / (4.0 * (n1 + n2 - 2)::DOUBLE - 1.0)), 6) AS hedges_g,
              round(diff / sqrt(s22), 6) AS glass_delta
       FROM stats""",
)
def q_effect_sizes(spark, sf_dir):
    """Standardized effect-size family for the click-vs-view value
    contrast: Cohen's d on the pooled SD (Cohen 1969), Hedges' g with
    the small-sample bias factor J = 1 − 3/(4df−1) (Hedges 1981), and
    Glass's Δ on the control-group SD (Glass 1976) — the companion to
    `mann_whitney_u`'s significance answer: is the shift LARGE? All
    moments are exact int64/int128 (micro-unit values, HUGEINT/decimal
    squares), each estimate one identical double expression. Single
    map-side-partial census; no shuffle beyond the 2-row reduce."""
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("click", "view"))
    dec = "decimal(38,0)"
    v = ev.select(
        (F.col("event_type") == "click").alias("g1"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    g = v.groupBy("g1").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_fp").cast("long").alias("s"),
        F.sum(F.col("v_fp").cast(dec) * F.col("v_fp").cast(dec)).cast(dec).alias("q"),
    )
    w = g.agg(
        F.max(F.when(F.col("g1"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g1"), F.col("s"))).alias("s1"),
        F.max(F.when(F.col("g1"), F.col("q"))).alias("q1"),
        F.max(F.when(~F.col("g1"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("g1"), F.col("s"))).alias("s2"),
        F.max(F.when(~F.col("g1"), F.col("q"))).alias("q2"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = d_("s1") / F.col("n1") / F.lit(1e6) - d_("s2") / F.col("n2") / F.lit(1e6)
    ss1 = d_("q1") - d_("s1") * F.col("s1") / F.col("n1")
    ss2 = d_("q2") - d_("s2") * F.col("s2") / F.col("n2")
    sp2 = (ss1 + ss2) / (F.col("n1") + F.col("n2") - 2).cast("double") / F.lit(1e12)
    s22 = ss2 / (F.col("n2") - 1).cast("double") / F.lit(1e12)
    dd = diff / F.sqrt(sp2)
    return w.select(
        "n1", "n2",
        F.round(dd, 6).alias("cohens_d"),
        F.round(
            dd * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (F.col("n1") + F.col("n2") - 2).cast("double") - F.lit(1.0))),
            6,
        ).alias("hedges_g"),
        F.round(diff / F.sqrt(s22), 6).alias("glass_delta"),
    )



_YUEN_TRIM_PCT = 20  # trim proportion in percent — g = n*20//100 exactly



@query(
    "yuen_trimmed",
    f"""WITH v AS (
         SELECT (event_type = 'click') AS g1,
                CAST(round(value * 1000000.0) AS BIGINT) AS v_fp
         FROM events WHERE event_type IN ('click', 'view')),
       cen AS (SELECT g1, v_fp, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
       cum AS (
         SELECT g1, v_fp, c,
                sum(c) OVER (PARTITION BY g1 ORDER BY v_fp) AS cc,
                sum(c) OVER (PARTITION BY g1) AS n
         FROM cen),
       lim AS (
         SELECT g1, n, (n * {_YUEN_TRIM_PCT}) // 100 AS g FROM cum GROUP BY g1, n),
       lo AS (
         SELECT c.g1, min(c.v_fp) AS lo_fp
         FROM cum c JOIN lim l USING (g1) WHERE c.cc >= l.g + 1 GROUP BY c.g1),
       hi AS (
         SELECT c.g1, min(c.v_fp) AS hi_fp
         FROM cum c JOIN lim l USING (g1) WHERE c.cc >= l.n - l.g GROUP BY c.g1),
       mid AS (
         SELECT c.g1, l.n, l.g,
                sum(greatest(0, least(c.cc, l.n - l.g) - greatest(c.cc - c.c, l.g))
                    * c.v_fp)::BIGINT AS tsum,
                sum(greatest(0, least(c.cc, l.n - l.g) - greatest(c.cc - c.c, l.g))
                    * (c.v_fp::HUGEINT * c.v_fp::HUGEINT)) AS tsq
         FROM cum c JOIN lim l USING (g1) GROUP BY c.g1, l.n, l.g),
       wstat AS (
         SELECT m.g1, m.n, m.g, m.n - 2 * m.g AS h,
                (m.tsum + m.g * (lo.lo_fp + hi.hi_fp))::BIGINT AS wsum,
                (m.tsq + m.g * (lo.lo_fp::HUGEINT * lo.lo_fp::HUGEINT
                                + hi.hi_fp::HUGEINT * hi.hi_fp::HUGEINT)) AS wsq,
                m.tsum
         FROM mid m JOIN lo USING (g1) JOIN hi USING (g1)),
       d AS (
         SELECT g1, n, h,
                tsum::DOUBLE / h / 1000000.0 AS tmean,
                (wsq::DOUBLE - wsum::DOUBLE * wsum / n) / (n - 1)::DOUBLE / 1e12
                  * (n - 1)::DOUBLE / (h::DOUBLE * (h - 1)::DOUBLE) AS dvar
         FROM wstat),
       w AS (
         SELECT max(CASE WHEN g1 THEN h END) AS h1,
                max(CASE WHEN NOT g1 THEN h END) AS h2,
                max(CASE WHEN g1 THEN tmean END) AS tm1,
                max(CASE WHEN NOT g1 THEN tmean END) AS tm2,
                max(CASE WHEN g1 THEN dvar END) AS d1,
                max(CASE WHEN NOT g1 THEN dvar END) AS d2
         FROM d)
       SELECT h1, h2, round(tm1 - tm2, 6) AS trimmed_diff,
              round((tm1 - tm2) / sqrt(d1 + d2), 6) AS t_yuen
       FROM w""",
)
def q_yuen_trimmed(spark, sf_dir):
    """Yuen's trimmed-means test (Yuen, Biometrika 1974) for the
    click-vs-view value contrast at 20% trim — the robust companion to
    `effect_sizes`/`mann_whitney_u` that survives heavy tails: compare
    trimmed means with winsorized variances, t = (x̄t1−x̄t2)/√(d1+d2),
    d_i = s²w_i(n_i−1)/(h_i(h_i−1)). The order statistics come from the
    exact integer value census + running-count window (no
    percentile_approx): each census row contributes
    max(0, min(cc, n−g) − max(cc−c, g)) copies to the trimmed middle —
    pure int arithmetic — and the winsorized tails add g copies of the
    exact g+1-th / (n−g)-th order stats. Plan: per-group census (one
    shuffle), two windowed passes, constant-size finishing math."""
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("click", "view"))
    dec = "decimal(38,0)"
    v = ev.select(
        (F.col("event_type") == "click").alias("g1"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("v_fp"),
    )
    cen = v.groupBy("g1", "v_fp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.partitionBy("g1").orderBy("v_fp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cen.select(
        "g1", "v_fp", "c",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(Window.partitionBy("g1")).alias("n"),
    )
    lim = cum.groupBy("g1", "n").agg(
        F.floor(F.col("n") * _YUEN_TRIM_PCT / 100).cast("long").alias("g")
    ).select("g1", "n", "g")
    cl = cum.join(lim.select("g1", "g", F.col("n").alias("n_")), "g1").drop("n_")
    lo = cl.where(F.col("cc") >= F.col("g") + 1).groupBy("g1").agg(
        F.min("v_fp").alias("lo_fp")
    )
    hi = cl.join(lim.select("g1", F.col("n").alias("nn"), F.col("g").alias("gg")), "g1") \
        .where(F.col("cc") >= F.col("nn") - F.col("gg")).groupBy("g1").agg(
        F.min("v_fp").alias("hi_fp")
    )
    cnt_in = F.greatest(
        F.lit(0),
        F.least(F.col("cc"), F.col("n") - F.col("g"))
        - F.greatest(F.col("cc") - F.col("c"), F.col("g")),
    )
    mid = (
        cum.join(lim.select("g1", F.col("n").alias("nl"), "g"), "g1")
        .withColumn("n", F.col("nl"))
        .groupBy("g1", "n", "g")
        .agg(
            F.sum(cnt_in * F.col("v_fp")).cast("long").alias("tsum"),
            F.sum(cnt_in * F.col("v_fp").cast(dec) * F.col("v_fp").cast(dec)).cast(dec).alias("tsq"),
        )
    )
    wstat = (
        mid.join(lo, "g1").join(hi, "g1")
        .select(
            "g1", "n", "g",
            (F.col("n") - 2 * F.col("g")).alias("h"),
            (F.col("tsum") + F.col("g") * (F.col("lo_fp") + F.col("hi_fp"))).cast("long").alias("wsum"),
            (
                F.col("tsq")
                + F.col("g").cast(dec)
                * (F.col("lo_fp").cast(dec) * F.col("lo_fp").cast(dec)
                   + F.col("hi_fp").cast(dec) * F.col("hi_fp").cast(dec))
            ).cast(dec).alias("wsq"),
            "tsum",
        )
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    dd = wstat.select(
        "g1", "n", "h",
        (d_("tsum") / F.col("h") / F.lit(1e6)).alias("tmean"),
        (
            (d_("wsq") - d_("wsum") * F.col("wsum") / F.col("n"))
            / (F.col("n") - 1).cast("double") / F.lit(1e12)
            * (F.col("n") - 1).cast("double")
            / (d_("h") * (F.col("h") - 1).cast("double"))
        ).alias("dvar"),
    )
    w = dd.agg(
        F.max(F.when(F.col("g1"), F.col("h"))).alias("h1"),
        F.max(F.when(~F.col("g1"), F.col("h"))).alias("h2"),
        F.max(F.when(F.col("g1"), F.col("tmean"))).alias("tm1"),
        F.max(F.when(~F.col("g1"), F.col("tmean"))).alias("tm2"),
        F.max(F.when(F.col("g1"), F.col("dvar"))).alias("d1"),
        F.max(F.when(~F.col("g1"), F.col("dvar"))).alias("d2"),
    )
    return w.select(
        "h1", "h2",
        F.round(F.col("tm1") - F.col("tm2"), 6).alias("trimmed_diff"),
        F.round(
            (F.col("tm1") - F.col("tm2")) / F.sqrt(F.col("d1") + F.col("d2")), 6
        ).alias("t_yuen"),
    )
