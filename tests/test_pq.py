"""Product quantization (operators/similarity.pq_*): code semantics,
ADC reconstruction identity, tie rules, and the zero-shuffle encode plan."""

import numpy as np
from pyspark.sql import functions as F

from pliers_spark.operators.similarity import pq_adc_topk, pq_encode


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mk(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_codes_pick_nearest_subspace_centroid(spark):
    # codebook = vectors 0 and 1 (ksub=2), m=2 subspaces of 2 dims.
    # vector 2 sits near seed 0's block in subspace 0 and near seed 1's
    # block in subspace 1 — the code differs per subspace.
    vecs = [
        [0.0, 0.0, 1.0, 1.0],  # seed 0
        [1.0, 1.0, 0.0, 0.0],  # seed 1
        [0.1, 0.0, 0.1, 0.0],  # sub0 → seed0; sub1 ([0.1,0]) → seed1 ([0,0])
    ]
    df = _mk(spark, vecs)
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, m=2, ksub=2).collect()}
    assert got[2] == [0, 1]
    assert got[0] == [0, 0] and got[1] == [1, 1]  # seeds encode to themselves
    assert got == _reference_codes(vecs, m=2, ksub=2)


def _reference_codes(vecs, m, ksub):
    v = np.floor(np.asarray(vecs, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)
    sd = v.shape[1] // m
    out = {}
    for i, row in enumerate(v):
        codes = []
        for s in range(m):
            blk = row[s * sd : (s + 1) * sd]
            d = [int(((blk - v[j][s * sd : (s + 1) * sd]) ** 2).sum()) for j in range(ksub)]
            codes.append(int(np.argmin(d)))  # first min = smallest code
        out[i] = codes
    return out


def test_codes_match_python_reference_random(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).round(3).tolist()
    df = _mk(spark, vecs)
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, m=4, ksub=6).collect()}
    assert got == _reference_codes(vecs, m=4, ksub=6)


def test_adc_is_exact_on_codebook_members(spark):
    # a vector that IS a codebook entry reconstructs exactly: its ADC
    # distance to a query equals the query's true distance to that seed
    rng = np.random.RandomState(3)
    vecs = rng.randn(10, 8).round(3).tolist()
    df = _mk(spark, vecs)
    out = pq_adc_topk(df, df.where(F.col("vec_id") < 2), m=4, ksub=8, k=9)
    got = {(r.q_id, r.c_id): r.adist_u for r in out.collect()}
    v = np.floor(np.asarray(vecs, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)
    for q in range(2):
        for c in range(8):  # codebook members encode to themselves
            if c == q:
                continue
            true = int(((v[q] - v[c]) ** 2).sum())
            assert got[(q, c)] == true, (q, c)


def test_adc_ranking_and_self_exclusion(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(12, 8).round(3).tolist()
    df = _mk(spark, vecs)
    rows = pq_adc_topk(df, df.where(F.col("vec_id") < 3), m=4, ksub=4, k=11).collect()
    by_q = {}
    for r in rows:
        assert r.c_id != r.q_id
        by_q.setdefault(r.q_id, []).append((r.rank, r.adist_u, r.c_id))
    for q, lst in by_q.items():
        lst.sort()
        dists = [d for _, d, _ in lst]
        assert dists == sorted(dists), q  # ascending approximate distance


def test_encode_stage_is_shuffle_free(spark, tmp_path):
    rng = np.random.RandomState(5)
    p = str(tmp_path / "emb.parquet")
    _mk(spark, rng.randn(30, 8).round(3).tolist()).write.parquet(p)
    df = spark.read.parquet(p)
    plan = _plan(pq_encode(df, m=4, ksub=4))
    assert "Exchange" not in plan, plan


def test_ivfpq_equals_adc_restricted_to_query_cluster(spark):
    from pliers_spark.operators.similarity import ivfpq_topk, kmeans_assign

    rng = np.random.RandomState(23)
    vecs = rng.randn(24, 8).round(3).tolist()
    df = _mk(spark, vecs)
    q = df.where(F.col("vec_id") < 3)
    got = {
        (r.q_id, r.c_id): (r.adist_u, r.rank)
        for r in ivfpq_topk(df, q, kc=4, m=4, ksub=4, k=50).collect()
    }
    # reference: full ADC scores filtered to the query's coarse cluster
    clusters = {r.vec_id: r.cluster_id for r in kmeans_assign(df, k=4).collect()}
    full = {
        (r.q_id, r.c_id): r.adist_u
        for r in pq_adc_topk(df, q, m=4, ksub=4, k=50).collect()
    }
    want = {}
    for (qi, ci), d in full.items():
        if clusters[ci] == clusters[qi]:
            want[(qi, ci)] = d
    assert {k: v[0] for k, v in got.items()} == want
    # ranks are dense (1..n) and ordered by ascending distance per query
    for qi in range(3):
        pairs = sorted(v for k, v in got.items() if k[0] == qi)  # by adist
        assert [rank for _, rank in pairs] == list(range(1, len(pairs) + 1))


def test_exact_l2_topk_matches_numpy_and_recall_is_one_on_self_index(spark):
    from pliers_spark.operators.similarity import exact_l2_topk, pq_recall

    rng = np.random.RandomState(31)
    vecs = rng.randn(15, 8).round(3).tolist()
    df = _mk(spark, vecs)
    q = df.where(F.col("vec_id") < 2)
    got = {
        (r.q_id, r.rank): (r.c_id, r.d_u)
        for r in exact_l2_topk(df, q, k=3).collect()
    }
    v = np.floor(np.asarray(vecs, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)
    for qi in range(2):
        d = [(int(((v[qi] - v[c]) ** 2).sum()), c) for c in range(15) if c != qi]
        d.sort()
        for rank, (du, c) in enumerate(d[:3], start=1):
            assert got[(qi, rank)] == (c, du)

    # m=8 subspaces of dim 1 with ksub=15 codebook covering every value
    # in each subspace -> ADC is nearly exact; with ksub = corpus the
    # encode is lossless and recall must be 1.0
    rec = pq_recall(df, q, m=8, ksub=15, k=3).collect()
    assert all(r.recall == 1.0 for r in rec), rec


def test_query_batch_bound_raises_from_both_fetches(spark, monkeypatch):
    """The broadcast query fetch of _adc_scores and exact_l2_topk shares
    one audited bound, similarity.MAX_QUERY_ROWS: a query set above it
    raises CensusBoundExceeded from both, never a driver-side collect."""
    import pytest

    from pliers_spark.operators import similarity as S
    from pliers_spark.operators.census import CensusBoundExceeded

    df = _mk(spark, np.random.RandomState(5).randn(6, 4).round(3).tolist())
    q = df.where(F.col("vec_id") < 3)
    monkeypatch.setattr(S, "MAX_QUERY_ROWS", 2)
    codes = pq_encode(df, m=2, ksub=2)
    with pytest.raises(CensusBoundExceeded, match="query-set fetch"):
        S.exact_l2_topk(df, q, k=2)
    with pytest.raises(CensusBoundExceeded, match="query-set fetch"):
        S._adc_scores(codes, df, q, "vec_id", "embedding", "vec_id", 2, 2)
    # at the bound both run
    q2 = df.where(F.col("vec_id") < 2)
    assert S.exact_l2_topk(df, q2, k=2).count() == 4
    assert S._adc_scores(codes, df, q2, "vec_id", "embedding", "vec_id", 2, 2).count() > 0
