"""Dedup & similarity operators on crafted near-duplicates."""

import pyspark.sql.functions as F
import pytest

from pliers_spark.functions.hashing import hamming64, md5_int, shingles
from pliers_spark.operators import dedup as D
from pliers_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = base.replace("lazy", "sleepy")  # one-token change → high overlap
    other = "completely different content about spark query engines and shuffles"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )


def test_exact_dedup(docs):
    out = D.exact_dedup(docs, "text", "doc_id").collect()
    groups = {r.keep_id: r.n_dups for r in out}
    assert groups[1] == 2  # docs 1,2 identical, keep min id
    assert groups[3] == 1 and groups[4] == 1


def test_shingles_expression(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    from pliers_spark.functions import text as T

    sh = df.select(shingles(T.tokenize(F.col("text")), 2).alias("s")).first()["s"]
    assert sh == ["a b", "b c", "c d"]
    empty = spark.createDataFrame([("a",)], "text string").select(
        shingles(T.tokenize(F.col("text")), 2).alias("s")
    ).first()["s"]
    assert empty == []


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(docs, "text", "doc_id", 16, 4, 2).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard_exact(docs):
    out = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=1, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.5 < got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_prefix_filter_jaccard_matches_brute_force(docs):
    out = D.prefix_filter_jaccard_pairs(docs, "text", "doc_id", 1, 2)  # t = 0.5
    got = {(r.id_a, r.id_b): (r.inter_size, r.union_size, r.jaccard) for r in out.collect()}
    brute = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", n=1, threshold=0.5).collect()
    }
    # prefix-filter theorem: exact result set equality with brute force
    assert set(got) == set(brute)
    for k, (inter, union, jac) in got.items():
        assert jac == brute[k]
        assert round(inter / union, 6) == jac
    assert got[(1, 2)][2] == 1.0  # identical docs
    # integer cross-multiplied gate: den*inter >= num*union holds for all rows
    assert all(2 * i >= 1 * u for i, u, _ in got.values())


def test_prefix_filter_explodes_only_prefix_tokens(spark):
    # 10-token docs at t=0.8 → prefix length 10 - 8 + 1 = 3: the index must
    # hold 3 rows per doc, not 10.
    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(10))) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.prefix_filter_jaccard_pairs(df, "text", "doc_id", 4, 5)
    assert out.count() == 0  # disjoint docs: no candidates at all
    # shared-prefix pair: 8/10 token overlap → J = 8/12 < 0.8 (pruned),
    # 9/10 overlap → J = 9/11 > 0.8 (kept)
    base = [f"w{j}" for j in range(10)]
    near = base[:9] + ["zz"]
    df2 = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(near))], "doc_id long, text string"
    )
    kept = D.prefix_filter_jaccard_pairs(df2, "text", "doc_id", 4, 5).collect()
    assert [(r.id_a, r.id_b, r.inter_size, r.union_size) for r in kept] == [(1, 2, 9, 11)]


def test_exact_substr_spans_merges_overlapping_windows(spark):
    # docs 1 and 2 share a 6-token run inside otherwise-unique text at
    # L=4: windows at positions 2,3,4 (doc1) flag and must merge into
    # ONE maximal span [2, 7]; doc3 is unique and must emit nothing.
    shared = "a b c d e f"
    rows = [
        (1, f"u1 u2 {shared} u3 u4"),
        (2, f"v1 v2 {shared} v3 v4"),
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.exact_substr_spans(df, "text", "doc_id", span_tokens=4, min_count=2)
    got = {(r.doc_id, r.span_start, r.span_end, r.span_len) for r in out.collect()}
    assert got == {(1, 2, 7, 6), (2, 2, 7, 6)}


def test_exact_substr_spans_within_doc_repetition_and_short_docs(spark):
    # the same 4-token window twice WITHIN one doc counts (corpus
    # count >= 2), producing two disjoint spans; a doc shorter than L
    # emits nothing.
    rows = [(1, "p q r s x1 x2 p q r s"), (2, "t u")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.exact_substr_spans(df, "text", "doc_id", span_tokens=4, min_count=2)
    got = sorted((r.span_start, r.span_end) for r in out.collect())
    assert got == [(0, 3), (6, 9)]


def test_exact_substr_cut_rewrites_only_covered_tokens(spark):
    shared = "a b c d e f"
    rows = [
        (1, f"u1 u2 {shared} u3 u4"),
        (2, f"v1 v2 {shared} v3 v4"),
        (3, "w1 w2 w3"),  # shorter than L: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in D.exact_substr_cut(df, "text", "doc_id", 4, 2).collect()
    }
    assert out[1] == ("u1 u2 u3 u4", 10, 6)
    assert out[2] == ("v1 v2 v3 v4", 10, 6)
    assert out[3] == ("w1 w2 w3", 3, 0)


def test_exact_substr_cut_fully_duplicated_doc_becomes_empty(spark):
    rows = [(1, "x y z w"), (2, "x y z w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_removed) for r in
           D.exact_substr_cut(df, "text", "doc_id", 4, 2).collect()}
    assert out == {1: ("", 4), 2: ("", 4)}


def test_lsh_recall_is_one_on_exact_dups(spark, tmp_path):
    # identical docs agree on every signature row, hence on every band:
    # LSH can never miss an exact duplicate, so recall must be 1.0.
    import pliers_spark.queries as Q

    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)]
    rows += [(10 + i, f"unique{i} filler{i} words{i} here{i} now{i}") for i in range(4)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = Q.QUERIES["lsh_recall"](spark, str(tmp_path)).collect()[0]
    assert out.n_truth == 6 and out.n_hits == 6 and out.recall == 1.0


def test_simhash_hamming(docs):
    fp = D.simhash_fingerprints(docs, "text", "doc_id", bits=32)
    j = fp.alias("a").join(fp.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("ia"),
        F.col("b.doc_id").alias("ib"),
        hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("d"),
    )
    d = {(r.ia, r.ib): r.d for r in j.collect()}
    assert d[(1, 2)] == 0  # identical
    assert d[(1, 3)] <= d[(1, 4)]  # near-dup closer than unrelated


def test_cosine_topk_self_best(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    out = S.cosine_topk(emb, emb.where("vec_id = 1"), "vec_id", "v", "vec_id", "v", k=1)
    r = out.collect()
    assert len(r) == 1 and r[0].c_id == 2  # nearest non-self


def test_lsh_buckets_deterministic(spark):
    vecs = [(i, [float(i % 3), float(i % 5), 1.0, 0.5]) for i in range(20)]
    emb = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    b1 = {r.vec_id: r.bucket for r in S.random_hyperplane_buckets(emb, "v", 4).collect()}
    b2 = {r.vec_id: r.bucket for r in S.random_hyperplane_buckets(emb, "v", 4).collect()}
    assert b1 == b2
    assert all(0 <= b < 16 for b in b1.values())


def test_connected_components_chain_and_clique(spark):
    # component {1,2,3} is a chain (1-2, 2-3; no 1-3 edge), {10,11,12} a
    # clique, {20,21} an isolated pair — labels must be transitive.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    out = {r.doc_id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # a 9-node path needs several propagation rounds (diameter 8)
    edges = [(i, i + 1) for i in range(1, 9)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.doc_id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert set(out) == set(range(1, 10))
    assert set(out.values()) == {1}


def test_novelty_vs_previous(spark):
    df = spark.createDataFrame(
        [
            ("s", 1, "a b c d"),
            ("s", 2, "a b c d"),      # identical → novelty 0
            ("s", 3, "a b x y"),      # |∩|=2, |∪|=6 → 1 - 2/6
            ("t", 1, "p q"),          # first of its stream → NULL
        ],
        "source string, doc_id long, text string",
    )
    rows = {(r.source, r.doc_id): r.novelty for r in
            D.novelty_vs_previous(df, "text", ["source"], "doc_id").collect()}
    assert rows[("s", 1)] is None and rows[("t", 1)] is None
    assert rows[("s", 2)] == 0.0
    assert abs(rows[("s", 3)] - (1 - 2 / 6)) < 1e-6


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_random_vs_union_find(spark, seed):
    import random

    rng = random.Random(seed)
    n, m = 24, 40
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)})

    # reference: classic union-find with path compression
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes_in_pairs = {x for e in edges for x in e}
    want = {}
    for x in nodes_in_pairs:
        root = find(x)
        members = [y for y in nodes_in_pairs if find(y) == root]
        want[x] = min(members)

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == want


def test_connected_components_nonconvergence_raises(spark):
    # with pointer jumping one round resolves only a few hops — a
    # 40-long path cannot converge in max_iter=1 → must fail loudly,
    # never return split clusters
    edges = [(i, i + 1) for i in range(1, 41)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=1)


def test_connected_components_long_path_converges_log_rounds(spark):
    # a 60-node path (diameter 60) must converge well inside 25 rounds
    # thanks to the shortcut phase — this is the case that capped out
    # under one-hop propagation
    edges = [(i, i + 1) for i in range(1, 61)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = D.connected_components(pairs, max_iter=10)
    labels = {r.cluster_id for r in out.collect()}
    assert labels == {1}


def test_minhash_lsh_bucket_cap_bounds_degenerate_bands(spark):
    """A boilerplate corpus (every doc identical) makes one band bucket
    hold ALL docs — the cap must drop that bucket (bounded task memory)
    while real near-dup pairs in small buckets survive."""
    boiler = [(i, "copyright notice all rights reserved footer text") for i in range(50)]
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        boiler + [(100, base), (101, base)], "doc_id long, text string"
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(
            docs, "text", "doc_id", 16, 4, 2, max_bucket=10
        ).collect()
    }
    assert (100, 101) in pairs                      # small bucket survives
    assert not any(a < 100 and b < 100 for a, b in pairs)  # degenerate bucket dropped
    # cap disabled → the quadratic expansion comes back
    uncapped = D.minhash_lsh_candidates(
        docs, "text", "doc_id", 16, 4, 2, max_bucket=None
    ).count()
    assert uncapped >= 50 * 49 / 2


def test_repetition_signals_golden(spark):
    from pliers_spark.operators.quality import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # 4 tokens, 2 unique, top 'a'=3; bigrams: 'a a'x2,'a b' -> top 2/3
            (2, "x"),                # single token: no bigrams -> NULL
            (3, "p q p q p"),        # 5 tokens 2 unique top 3; bigrams 'p q'x2,'q p'x2 -> 2/4
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_signals(df, "text", "doc_id").collect()}
    assert got[1]["n_tokens"] == 4
    assert got[1]["dup_token_ppm"] == 500000      # (4-2)/4
    assert got[1]["top_token_ppm"] == 750000      # 3/4
    assert got[1]["top_bigram_ppm"] == 666666     # floor(2e6/3)
    assert got[2]["top_bigram_ppm"] is None
    assert got[2]["dup_token_ppm"] == 0
    assert got[3]["top_token_ppm"] == 600000
    assert got[3]["top_bigram_ppm"] == 500000


# ---------------------------------------------------------------------------
# SemDeDup (semantic dedup: k-means + intra-cluster cosine pruning)


class TestSemanticDedup:
    def test_drops_centroid_farther_near_duplicate(self, spark):
        from pliers_spark.operators.dedup import semantic_dedup

        # ids 0,1 are the k=2 seeds. 2 is nearly parallel to 0 (cos≈1)
        # but farther from the centroid (longer), 3 is orthogonal.
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [2.0, 0.01, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["vec_id"]: r.asDict()
            for r in semantic_dedup(df, k=2, tau_num=19, tau_den=20).collect()
        }
        assert len(out) == 4
        assert out[2]["dropped"]  # near-dup of 0, farther from centroid 0
        assert not out[0]["dropped"]  # kept representative
        assert not out[3]["dropped"]  # orthogonal: cos 0 < tau
        assert out[2]["cluster_id"] == out[0]["cluster_id"] == 0

    def test_exact_duplicate_tie_breaks_to_larger_id(self, spark):
        from pliers_spark.operators.dedup import semantic_dedup

        rows = [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (5, [1.0, 0.0]),  # exact duplicate of 0: same d_u → larger id drops
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["vec_id"]: r["dropped"]
            for r in semantic_dedup(df, k=2, tau_num=19, tau_den=20).collect()
        }
        assert out[5] and not out[0] and not out[1]


# ---------------------------------------------------------------------------
# Bloom-filter ingestion dedup gate


class TestBloomDedup:
    def test_flags_reingested_copies_and_tracks_fp(self, spark):
        from pliers_spark.operators.dedup import bloom_dedup

        rows = [
            (1, "alpha beta gamma", True),
            (2, "delta epsilon zeta", True),
            (10, "alpha beta gamma", False),  # exact copy of history doc 1
            (11, "brand new content here", False),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, hist boolean")
        out = {
            r["doc_id"]: r.asDict()
            for r in bloom_dedup(df, F.col("hist")).collect()
        }
        assert set(out) == {10, 11}  # only delta rows emitted
        assert out[10]["maybe_dup"] and out[10]["is_dup_exact"]
        assert not out[10]["false_positive"]
        assert not out[11]["is_dup_exact"]
        # Bloom has no false negatives by construction; FP flag is
        # consistent with the two verdict columns
        assert out[11]["false_positive"] == (out[11]["maybe_dup"] and True)

    def test_tiny_filter_forces_false_positive(self, spark):
        from pliers_spark.operators.dedup import bloom_dedup

        # m_bits=1 → every position is 0 → every delta doc collides
        rows = [(1, "history text", True), (2, "unrelated text", False)]
        df = spark.createDataFrame(rows, "doc_id long, text string, hist boolean")
        out = bloom_dedup(df, F.col("hist"), m_bits=1).collect()[0]
        assert out["maybe_dup"] and not out["is_dup_exact"] and out["false_positive"]


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003)


class TestWinnowing:
    def test_shared_substring_guarantees_shared_fingerprint(self, spark):
        from pliers_spark.operators.dedup import winnowing_fingerprints

        shared = "the quick brown fox jumps over the lazy dog again today"
        rows = [
            (1, "intro words here " + shared + " closing remark"),
            (2, shared + " entirely different ending material follows now"),
            (3, "no overlap with anything else at all whatsoever here friend"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fps = {}
        for r in winnowing_fingerprints(df).collect():
            fps.setdefault(r["doc_id"], set()).add(r["fp"])
        # winnowing guarantee: a match of >= window + shingle_n - 1 grams
        # shares at least one selected fingerprint
        assert fps[1] & fps[2]
        assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])

    def test_short_docs_emit_nothing_and_density_bounded(self, spark):
        from pliers_spark.operators.dedup import winnowing_fingerprints

        long_text = " ".join(f"w{i}" for i in range(100))
        rows = [(1, "too short"), (2, long_text)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = winnowing_fingerprints(df).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r["fp"])
        assert 1 not in by_doc  # fewer grams than the window
        n_grams = 100 - 2  # 3-gram count
        assert 0 < len(by_doc[2]) <= n_grams  # strictly thinned
        assert len(by_doc[2]) < n_grams / 2  # ~2/(w+1) density, w=4


# ---------------------------------------------------------------------------
# Edit-distance fuzzy dedup (winnowing-gated Levenshtein)


def test_edit_distance_dups_catches_small_edits(spark):
    from pliers_spark.operators.dedup import edit_distance_dups

    base = " ".join(f"word{i} filler{i} token{i}" for i in range(20))
    edited = base.replace("word7", "w0rd7").replace("token3", "tokenX")
    unrelated = " ".join(f"zz{i} qq{i} kk{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, unrelated)], "doc_id long, text string"
    )
    out = {(r["id_a"], r["id_b"]): r.asDict() for r in edit_distance_dups(df).collect()}
    assert (1, 2) in out
    assert out[(1, 2)]["near_dup"]  # two tiny edits, lev well under 40
    assert out[(1, 2)]["lev_prefix"] <= 4
    assert not any(3 in k for k in out)  # no shared fingerprints with 3


# ---------------------------------------------------------------------------
# Cluster representative selection (quality-ranked keep rule)


def test_cluster_representatives_keep_best_quality(spark):
    from pliers_spark.queries import QUERIES

    rows = {r["doc_id"]: r.asDict()
            for r in QUERIES["cluster_representatives"](spark, "/root/testdata/sf0.001").collect()}
    assert len(rows) == 500  # every doc gets a verdict
    by_cluster = {}
    for r in rows.values():
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["keep"]]
        assert len(kept) == 1  # exactly one representative per cluster
        best = max(members, key=lambda m: (m["quality"], -m["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]
    assert len(by_cluster) > 1  # the hamming<=1 gate yields real structure


def test_semantic_dedup_envelope_raises_not_wraps(spark):
    """Norms past the int64 product envelope must raise, never wrap:
    two parallel big vectors (cos=1, a certain dup inside the gate)
    would be MISSED under silent int64 wraparound."""
    import pytest as _pytest

    from pliers_spark.operators.dedup import semantic_dedup

    big = [2.0] * 64  # n2 = 64*(2000^2) = 2.56e8 > cap ~1.52e8
    rows = [(0, big), (1, [0.0] * 63 + [1.0]), (2, big)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="envelope"):
        semantic_dedup(df, k=2).collect()


def test_semantic_dedup_near_envelope_exact(spark):
    """Just inside the bound the verdicts are exact (no wrap)."""
    from pliers_spark.operators.dedup import semantic_dedup

    v = [1.2] * 64  # n2 = 64*1200^2 = 9.2e7 < cap
    rows = [(0, v), (1, [0.0] * 63 + [1.0]), (2, v)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["dropped"] for r in semantic_dedup(df, k=2).collect()}
    assert out[2] and not out[0] and not out[1]


# ---------------------------------------------------------------------------
# Count-Min sketch


def test_countmin_never_underestimates_and_is_tight_when_sparse(spark):
    from pliers_spark.operators.sketches import countmin_build, countmin_probe

    rows = [("a",)] * 50 + [("b",)] * 7 + [("c",)] * 1
    items = spark.createDataFrame(rows, "token string")
    sketch = countmin_build(items, "token", depth=3, width=1024)
    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("zzz",)], "token string")
    est = {r["token"]: r["cms_est"] for r in countmin_probe(sketch, probes, "token").collect()}
    assert est["a"] >= 50 and est["b"] >= 7 and est["c"] >= 1  # never under
    assert est["a"] == 50 and est["b"] == 7  # 3 tokens in 1024 cols: no collision
    assert est["zzz"] == 0  # absent item with empty counters -> 0


def test_countmin_collisions_overestimate_only(spark):
    from pliers_spark.operators.sketches import countmin_build, countmin_probe

    # width=1 forces every token into the same counter on every row
    rows = [("a",)] * 5 + [("b",)] * 3
    items = spark.createDataFrame(rows, "token string")
    sketch = countmin_build(items, "token", depth=2, width=1)
    probes = spark.createDataFrame([("a",), ("b",)], "token string")
    est = {r["token"]: r["cms_est"]
           for r in countmin_probe(sketch, probes, "token", depth=2, width=1).collect()}
    assert est["a"] == 8 and est["b"] == 8  # total mass, the CMS worst case
