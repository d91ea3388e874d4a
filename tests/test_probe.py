"""tools/probe.py's record must agree with what the query returns and
read its engine counters from the in-process status store, with the
Spark UI off; every tool must still import after the tool merge."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

from tests.conftest import SF_DIR, query_rows
from tools.probe import profile

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def test_profile_reports_rows_counters_and_exchanges(spark):
    assert spark.sparkContext.uiWebUrl is None  # UI off: status store only
    rec = profile(spark, "revenue_by_nation", SF_DIR, runs=1)
    assert rec["rows"] == len(query_rows(spark, "revenue_by_nation"))
    assert rec["jobs"] >= 1
    assert rec["stages"] >= 1
    assert rec["shuffle_write_bytes"] > 0
    assert rec["exchanges"] >= 1
    assert rec["codegen_compiles"] == 0  # the warm-up compiled it all
    assert rec["noop_min_s"] > 0 and rec["collect_min_s"] > 0


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    importlib.import_module(f"tools.{path.stem}")
