"""Drift gate for the temporal core: the as-of joins, the time-split
windows and the queries built on them reproduce their recorded golden
hashes (``tests/golden_hashes.json``, written by
``tools/golden_hashes.py``) at sf0.001. A changed output then fails the
suite instead of waiting for someone to run the tool; refresh a hash
with ``tools/golden_hashes.py --update <name>`` only after an intended
semantic change."""

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "golden_hashes", os.path.join(REPO, "tools", "golden_hashes.py")
)
golden_hashes = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(golden_hashes)

GATED = [
    "asof_join", "asof_join_forward", "asof_join_nearest", "asof_join_cogroup",
    "asof_join_split", "resample_ffill", "resample_interpolate", "training_matrix",
    "lag_split", "sessionize_split", "ffill_split", "vader_sentiment",
]


@pytest.mark.skipif(not os.path.isdir(golden_hashes.SF_DIR),
                    reason=f"no sf0.001 test data at {golden_hashes.SF_DIR}")
@pytest.mark.parametrize("name", GATED)
def test_temporal_core_matches_golden_hash(spark, name):
    from pliers_spark.queries import QUERIES

    recorded = json.load(open(golden_hashes.GOLDEN_PATH))[name]
    got = golden_hashes.result_hash(QUERIES[name](spark, golden_hashes.SF_DIR))
    assert got == recorded, f"{name} drifted from tests/golden_hashes.json"
