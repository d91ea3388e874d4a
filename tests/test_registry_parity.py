"""Every registry query hash-matches its DuckDB oracle at sf0.001 —
the same comparison the driver runs at sf0.01 (tools/parity.py)."""

from __future__ import annotations

import hashlib
import json

import pytest

from stockpulse_spark.plans import REGISTRY, queries
from stockpulse_spark.plans.registry import WINDOW_PRIORITY
from tests.conftest import SF_DIR
from tools.parity import compare, duck_con


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_DIR)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(name, spark, con):
    status, _, nrows, _, _ = compare(name, spark, con, SF_DIR, verbose=False)
    if status == "NO_ORACLE":
        assert nrows >= 0  # weaker rows-only check, mirrors the driver
        return
    assert status == "OK", status


def test_registry_contents_pinned():
    """Moving queries between modules must not change what is
    registered: the name -> (oracle SQL, headline, tags) map, the key
    set, the driver window (the first 50 names) and the headline set
    are pinned to their values before the domain regroup."""
    spec_map = {n: [s.oracle, s.headline, list(s.tags)] for n, s in REGISTRY.items()}
    digest = hashlib.sha256(json.dumps(spec_map, sort_keys=True).encode()).hexdigest()
    assert digest == "45828f20bf2c597c6edac8094e7e4e51215a15724a388c1ac348470fc1bfa7c4"
    names = list(queries())
    assert len(names) == 329
    assert (
        hashlib.sha256(json.dumps(sorted(names)).encode()).hexdigest()
        == "f65e2a20bd970f34ebbda2eb4305b02eaca1c3f643b0a7f8ec5b1b8fee8b08ec"
    )
    assert names[:50] == list(WINDOW_PRIORITY)
    assert {n for n, s in REGISTRY.items() if s.headline} == {
        "asof_prev_close", "bollinger20", "doc_minhash_lsh", "doc_text_stats",
        "embedding_cosine_topk", "indicator_panel", "ma5_cma", "macd_12_26_9",
        "ohlcv_hourly", "pricing_summary", "revenue_by_nation", "rsi14",
    }
