"""Batch 24: NDCG@k ranking eval, Dunning G² keyness, WOE/IV binning."""

import math
import os
from datetime import datetime


def _write(spark, tmp_path, name, rows, schema):
    d = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, f"{name}.parquet")
    )
    return d


DOCS = "doc_id long, text string, lang string, source string, n_chars long"


def test_ndcg_bounds_and_ideal(spark):
    """DCG never exceeds ideal DCG; ndcg in [0,1]; one row per seed query."""
    from pliers_spark.queries import QUERIES

    rows = QUERIES["ndcg_at_k"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r.dcg_fp <= r.idcg_fp
        assert 0.0 <= r.ndcg <= 1.0
    # seed docs retrieve themselves at rank 1 with max relevance, so the
    # corpus must produce at least one well-ordered (high-ndcg) query
    assert max(r.ndcg for r in rows) > 0.8


def test_ndcg_weights_are_exact_log2():
    from pliers_spark.queries.stats_02 import _NDCG_W

    for r, w in _NDCG_W.items():
        assert w == round(1e6 / math.log2(1 + r))


def test_keyness_flags_planted_token(spark, tmp_path):
    """A token appearing only (and often) in source A must be A's top
    overused term; it must also surface as UNDER-used context for B only
    via b-side counts (i.e. never ranked overused for B)."""
    from pliers_spark.queries import QUERIES

    filler = "common words shared by both sources every time"
    rows = [
        (i, f"zyzzyx {filler}", "en", "A", 10) for i in range(30)
    ] + [
        (100 + i, filler, "en", "B", 10) for i in range(30)
    ]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = QUERIES["dunning_keyness"](spark, sf).collect()
    a_top = [r for r in out if r.source == "A" and r.rank == 1][0]
    assert a_top.token == "zyzzyx" and a_top.overused
    assert a_top.cnt_focus == 30 and a_top.cnt_rest == 0
    for r in out:
        if r.source == "B" and r.token == "zyzzyx":
            assert not r.overused


def test_woe_iv_separating_feature(spark, tmp_path):
    """Price perfectly ordered against the label (low price → bad) gives
    positive total IV, negative WOE in bad-heavy bins, positive in
    good-heavy bins; counts partition the table."""
    from pliers_spark.queries import QUERIES

    # 100 orders: price i, bad for low i (with some mixing so no bin is pure)
    rows = []
    for i in range(100):
        bad = (i % 10 < 7) if i < 50 else (i % 10 < 2)
        rows.append(
            (i, i, "F" if bad else "O", float(i + 1), datetime(2024, 1, 1), "1-URGENT")
        )
    sf = _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = QUERIES["woe_iv"](spark, sf).collect()
    assert sum(r.n for r in out) == 100 and len(out) == 10
    lo = [r for r in out if r.bin < 5]
    hi = [r for r in out if r.bin >= 5]
    assert all(r.woe_fp < 0 for r in lo) and all(r.woe_fp > 0 for r in hi)
    assert sum(r.iv_part for r in out) > 0.5  # strongly separating
