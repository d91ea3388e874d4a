"""Bloom-pre-filtered semi-join: exactness property (== plain semi
join, null-safe), bitset compactness, and the plan shape that makes it
worth doing (bitset broadcast + codegen bit-test filter, no extra
shuffle of the probe side before the residual join)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpulse_spark.operators.bloom import (
    bloom_build,
    bloom_literal,
    bloom_semi_join,
)
from stockpulse_spark.plans import REGISTRY
from tests.conftest import SF_DIR, executed_plan


def test_bloom_semi_join_equals_plain_semi_join(spark):
    probe = spark.createDataFrame(
        [(i % 700,) for i in range(2000)] + [(None,)], "k: int"
    )
    build = spark.createDataFrame(
        [(i * 3,) for i in range(300)] + [(None,)], "b: int"
    )
    got = sorted(
        r.k for r in bloom_semi_join(probe, build, "k", "b", m_bits=1 << 12).collect()
    )
    want = sorted(
        r.k
        for r in probe.join(
            build, probe.k == build.b, "left_semi"
        ).collect()
    )
    assert got == want
    assert None not in got  # null never matches, as in SQL semantics


def test_bloom_semi_join_empty_build(spark):
    probe = spark.createDataFrame([(1,), (2,)], "k: int")
    build = spark.createDataFrame([], "b: int")
    assert bloom_semi_join(probe, build, "k", "b", m_bits=1 << 10).count() == 0


def test_bloom_bitset_is_compact(spark):
    build = spark.createDataFrame([(i,) for i in range(5000)], "b: long")
    m_bits = 1 << 14
    words = bloom_build(build, "b", m_bits=m_bits, k=5)
    # sparse form never exceeds m/64 rows regardless of build size
    assert words.count() <= m_bits // 64
    # dense literal is exactly m/64 words with real bits set
    import json

    dense = json.loads(
        spark.range(1)
        .select(bloom_literal(words, m_bits).alias("a"))
        .select(F.to_json("a"))
        .collect()[0][0]
    )
    assert len(dense) == m_bits // 64
    assert any(w != 0 for w in dense)


def test_bloom_query_plan_shape(spark):
    df = REGISTRY["bloom_prefilter_semi_join"].builder(spark, SF_DIR)
    plan = executed_plan(spark, df)
    # the bit-test pre-filter stays in codegen: forall compiles to
    # xxhash64/bit_get expressions, never a Python UDF
    assert "xxhash64" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the bitset is an inlined literal, NOT a join-carried column — a
    # nested-loop join here would copy the array into every probe row
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the exact residual semi-join is a hash join, not a loop join
    assert "LeftSemi" in plan


def test_decontamination_funnel_equals_exact(spark):
    """The bloom funnel must be output-identical to the exact op: the
    approximate stage only prunes, never decides."""
    from stockpulse_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    exact = REGISTRY["decontamination_overlap"].builder(spark, SF_DIR).collect()
    funnel = REGISTRY["decontamination_bloom_funnel"].builder(spark, SF_DIR).collect()
    key = lambda r: tuple(r[c] for c in sorted(r.asDict()))  # noqa: E731
    assert sorted(map(key, exact)) == sorted(map(key, funnel))
