"""Batch 50: modularity, demand classes, RBO rank agreement."""

import os
from datetime import datetime


def _write(spark, tmp_path, name, rows, schema):
    d = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, f"{name}.parquet")
    )
    return d


PART = (
    "p_partkey long, p_name string, p_brand string, p_type string, "
    "p_size long, p_retailprice double"
)
LINEITEM5 = (
    "l_orderkey long, l_partkey long, l_quantity double, "
    "l_extendedprice double, l_shipdate timestamp"
)


def test_modularity_perfect_communities(spark, tmp_path):
    """Two brand-pure cliques, no cross edges -> Q = 1/2 exactly
    (two equal communities: 1 - 2*(1/2)^2)."""
    from pliers_spark.queries import QUERIES

    li = [(1, p, 1.0, 1.0, datetime(2024, 1, 1)) for p in (1, 2, 3)] + [
        (2, p, 1.0, 1.0, datetime(2024, 1, 1)) for p in (4, 5, 6)
    ]
    _write(spark, tmp_path, "lineitem", li, LINEITEM5)
    parts = [(p, "n", "A", "t", 1, 1.0) for p in (1, 2, 3)] + [
        (p, "n", "B", "t", 1, 1.0) for p in (4, 5, 6)
    ]
    _write(spark, tmp_path, "part", parts, PART)
    r = QUERIES["modularity_q"](spark, str(tmp_path)).collect()[0]
    assert r.n_edges == 6 and r.intra_edges == 6 and r.n_communities == 2
    assert r.modularity == 0.5


def test_demand_classes_quadrants(spark, tmp_path):
    """Part 1 sells every month with constant quantity -> smooth;
    part 2 sells in 1 of 4 months -> intermittent (CV2 = 0, ADI = 4)."""
    from pliers_spark.queries import QUERIES

    rows = []
    k = 0
    for m in range(1, 5):
        rows.append((k, 1, 10.0, 1.0, datetime(2024, m, 5))); k += 1
    rows.append((k, 2, 10.0, 1.0, datetime(2024, 2, 5)))
    _write(spark, tmp_path, "lineitem", rows, LINEITEM5)
    out = {r.demand_class: r.n_parts for r in QUERIES["demand_classes"](spark, str(tmp_path)).collect()}
    assert out.get("smooth") == 1 and out.get("intermittent") == 1


def test_rbo_bounds_on_corpus(spark):
    """RBO partial sum and average overlap live in [0, ~0.2034] and
    [0, 1]; identical lists hit the maxima (x_d = d for all d)."""
    from pliers_spark.queries import QUERIES
    from pliers_spark.queries.stats_06 import _RBO_W

    max_rbo = round(sum(w * d for d, w in enumerate(_RBO_W, 1)), 6)
    out = QUERIES["rbo_rankings"](spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 8
    for r in out:
        assert 0.0 <= r.avg_overlap <= 1.0
        assert 0.0 <= r.rbo_min5 <= max_rbo + 1e-9
        assert 0 <= r.overlap_at_5 <= 5
    # the two rankings share candidates (rerank draws from the lexical
    # top-20), so SOME query shows agreement while the reranker visibly
    # reorders others
    assert any(r.rbo_min5 > 0 for r in out)
    assert any(r.avg_overlap < 1.0 for r in out)
