"""Batches 57-64: link prediction, rank/contingency stats, bootstrap,
k-core, Jaro-Winkler, pHash, EWMA/CUSUM, calibration/FDR/Theil,
association rules."""

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
EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
LI = "l_orderkey long, l_partkey long"


def test_adamic_adar_hand_wedge(spark, tmp_path):
    """Orders {A,B} and {A,C}: edges AB, AC; the only candidate pair is
    (B,C) through z=A with deg(A)=2 -> score = 1/ln 2."""
    from pliers_spark.queries import QUERIES

    rows = [(1, 10), (1, 20), (2, 10), (2, 30)]  # A=10, B=20, C=30
    sf = _write(spark, tmp_path, "lineitem", rows, LI)
    out = QUERIES["adamic_adar"](spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.a, r.b) == (20, 30) and r.common_neighbors == 1
    assert r.aa_micro == round(1e6 / math.log(2))


def test_kendall_tau_monotone_is_one(spark, tmp_path):
    """Perfectly monotone chars-vs-tokens -> tau_b = 1 (no discordant
    cell pairs, tie terms cancel)."""
    from pliers_spark.queries import QUERIES

    rows = [(i, " ".join(["w"] * (i + 1)), "en", "s", 10 + i) for i in range(50)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["kendall_tau_binned"](spark, sf).collect()[0]
    assert r.discordant == 0 and r.tau_b == 1.0


def test_chi2_independent_table_is_zero(spark, tmp_path):
    """Balanced lang x source grid: observed == expected -> chi2 = 0."""
    from pliers_spark.queries import QUERIES

    rows = []
    i = 0
    for lang in ("en", "fr"):
        for src in ("a", "b"):
            for _ in range(5):
                rows.append((i, "t", lang, src, 10))
                i += 1
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["chi2_independence"](spark, sf).collect()[0]
    assert r.chi2 == 0.0 and r.dof == 1 and r.cramers_v == 0.0


def test_bootstrap_constant_data_degenerate_ci(spark, tmp_path):
    """All lengths equal -> every resample mean equals the value, so
    ci_lo == ci_hi == mean_full."""
    from pliers_spark.queries import QUERIES

    rows = [(i, "t", "en", "s", 42) for i in range(50)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["hash_bootstrap_ci"](spark, sf).collect()[0]
    assert r.mean_full == 42.0 and r.ci_lo == 42.0 and r.ci_hi == 42.0
    assert r.n_resamples == 200


def test_kcore_k4_plus_pendant_edge(spark, tmp_path):
    """A 4-clique basket plus a disjoint 2-basket: the 3-core is exactly
    the clique, every member at induced degree 3."""
    from pliers_spark.queries import QUERIES

    rows = [(1, p) for p in (10, 20, 30, 40)] + [(2, 50), (2, 60)]
    sf = _write(spark, tmp_path, "lineitem", rows, LI)
    out = {r.node: r.core_degree for r in QUERIES["kcore_members"](spark, sf).collect()}
    assert out == {10: 3, 20: 3, 30: 3, 40: 3}


def test_jaro_winkler_matches_duckdb_value(spark, tmp_path):
    """The classic martha/marhta pair scores 0.961111 on both the
    pandas scorer and DuckDB's built-in."""
    import duckdb

    from pliers_spark.queries import QUERIES

    rows = [(1, "martha", "en", "s", 6), (2, "marhta", "en", "s", 6)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = QUERIES["jaro_winkler_dups"](spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    ref = duckdb.sql(
        "select round(jaro_winkler_similarity('marhta','martha'), 6)"
    ).fetchone()[0]
    assert (r.tok_a, r.tok_b) == ("marhta", "martha") and r.jw == ref == 0.961111


def test_phash_uniform_image_is_zero(spark):
    """A constant image has zero AC energy: median 0, no bit exceeds it."""
    import numpy as np

    from pliers_spark import codecs, multimodal

    payload = codecs.encode_ppm(np.full((8, 8, 3), 7, dtype=np.uint8))
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, payload binary")
    r = multimodal.image_phash(df).collect()[0]
    assert r.phash == 0 and r.n_above == 0


def test_ewma_two_events_closed_form(spark, tmp_path):
    """Two events: ewma = (w0*x2 + w1*x1) / (w0+w1) with alpha=0.3."""
    from pliers_spark.queries import QUERIES

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 7, "t", 10.0, ""),
        (2, datetime(2024, 1, 1, 0, 1), 7, "t", 20.0, ""),
    ]
    sf = _write(spark, tmp_path, "events", rows, EVENTS)
    out = {r.event_id: r.ewma for r in QUERIES["ewma_smooth"](spark, sf).collect()}
    assert out[1] == 10.0
    w0, w1 = round(0.3e9), round(0.3 * 0.7 * 1e9)
    expect = round((w0 * 2000 + w1 * 1000) / (w0 + w1) / 100.0, 6)
    assert out[2] == expect


def test_cusum_flat_series_never_alarms(spark, tmp_path):
    """Identical daily counts -> deviations 0 -> cusum 0, no alarm."""
    from pliers_spark.queries import QUERIES

    rows = []
    eid = 0
    for day in range(10):
        for k in range(5):
            rows.append((eid, datetime(2024, 1, 1 + day, k), 1, "t", 1.0, ""))
            eid += 1
    sf = _write(spark, tmp_path, "events", rows, EVENTS)
    out = QUERIES["cusum_changepoint"](spark, sf).collect()
    assert len(out) == 10
    assert all(r.cusum == 0.0 and not r.alarm for r in out)


def test_brier_murphy_identity_on_corpus(spark):
    """Brier = reliability - resolution + uncertainty up to the binned
    approximation's within-bin variance term (exact only when forecasts
    are constant within bins; rounding adds <=1e-3)."""
    from pliers_spark.queries import QUERIES

    r = QUERIES["brier_calibration"](spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= r.brier <= 1 and r.uncertainty >= 0
    # within-bin forecast variance makes LHS >= RHS; both stay close
    assert r.brier >= r.reliability - r.resolution + r.uncertainty - 0.05
    assert r.brier <= r.reliability - r.resolution + r.uncertainty + 0.05


def test_bh_fdr_identical_sources_reject_nothing(spark, tmp_path):
    """Identical length distributions across sources -> z ~ 0 -> p ~ 1
    -> nothing rejected at alpha = 0.1."""
    from pliers_spark.queries import QUERIES

    rows = []
    i = 0
    for src in ("a", "b", "c", "d"):
        for ln in (10, 20, 30, 40):
            rows.append((i, "t", "en", src, ln))
            i += 1
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = QUERIES["bh_fdr"](spark, sf).collect()
    assert len(out) == 4 and all(not r.rejected for r in out)


def test_theil_equal_lengths_zero(spark, tmp_path):
    from pliers_spark.queries import QUERIES

    rows = [(i, "t", "en", f"s{i % 3}", 50) for i in range(30)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["theil_index"](spark, sf).collect()[0]
    assert r.theil_total == 0.0 and r.theil_between == 0.0 and r.theil_within == 0.0


def test_assoc_rules_confidence_and_lift(spark, tmp_path):
    """30 baskets: 20x{A,B}, 10x{A,C}. Rule A->B: conf 20/30, lift
    (20*30)/(30*20) = 1; rule B->A: conf 1."""
    from pliers_spark.queries import QUERIES

    rows = []
    for o in range(20):
        rows += [(o, 1), (o, 2)]
    for o in range(20, 30):
        rows += [(o, 1), (o, 3)]
    sf = _write(spark, tmp_path, "lineitem", rows, LI)
    out = {(r.antecedent, r.consequent): r for r in QUERIES["assoc_rules"](spark, sf).collect()}
    ab = out[(1, 2)]
    assert ab.pair_count == 20 and ab.confidence == round(20 / 30, 6)
    assert ab.lift == 1.0
    assert out[(2, 1)].confidence == 1.0
