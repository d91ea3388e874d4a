"""get_spark's generated-code cache holds the headline set: a second
pass over the same query shapes compiles nothing."""

from __future__ import annotations

from tests.conftest import SF_DIR
from stockpulse_spark.plans import REGISTRY
from tools.probe import codegen_compiles

HEADLINE = [name for name, spec in REGISTRY.items() if spec.headline]


def test_codegen_cache_holds_the_headline_set(spark):
    assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") == "8192"
    assert len(HEADLINE) == 12
    for _ in range(2):
        before = codegen_compiles(spark)
        for name in HEADLINE:
            REGISTRY[name].builder(spark, SF_DIR).collect()
    # the default 100-entry LRU recompiles ~210 classes on this pass
    assert codegen_compiles(spark) - before == 0
