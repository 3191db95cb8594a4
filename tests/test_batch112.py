"""Batch 112: Poisson IRLS."""

import os
from datetime import datetime


def _write(spark, tmp_path, name, rows, schema):
    d = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, f"{name}.parquet")
    )
    return d


EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_poisson_irls_rate_ratio(spark, tmp_path):
    """Clickers purchase ~4x more often: b > 0, rate_ratio > 2."""
    from pliers_spark.queries import QUERIES

    rows = []
    eid = 0
    for u in range(20):  # clicker users: 4 purchases, click share 0.5
        for _ in range(4):
            rows.append((eid, datetime(2024, 1, 1, 0, 0, eid % 60), u, "click", 1.0, "{}")); eid += 1
            rows.append((eid, datetime(2024, 1, 1, 0, 1, eid % 60), u, "purchase", 1.0, "{}")); eid += 1
    for u in range(20, 40):  # non-clickers: 1 purchase, share 0
        rows.append((eid, datetime(2024, 1, 1, 0, 2, eid % 60), u, "view", 1.0, "{}")); eid += 1
        rows.append((eid, datetime(2024, 1, 1, 0, 3, eid % 60), u, "purchase", 1.0, "{}")); eid += 1
    sf = _write(spark, tmp_path, "events", rows, EVENTS)
    r = QUERIES["poisson_irls"](spark, sf).collect()[0]
    assert r.n == 40
    assert r.coef_clickshare > 0.5
    assert r.rate_ratio > 2
