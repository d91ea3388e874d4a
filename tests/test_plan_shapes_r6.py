"""Plan-shape pins for the round-6 queries — the properties that
matter at 100 TB, asserted on the executed plan so a refactor that
silently loses one fails here rather than at scale."""

from __future__ import annotations

from tests.conftest import executed_plan


def test_gopher_rules_scan_local(spark):
    """The quality gate must cost one scan: no hash exchange before
    the display sort, no join, no Python."""
    plan = executed_plan(spark, "gopher_quality_rules")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan


def test_duplicate_gram_coverage_no_cartesian(spark):
    """Gram-key shuffle + re-join — never all-pairs."""
    plan = executed_plan(spark, "duplicate_gram_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unattributed_purchases_anti_join_on_equi_key(spark):
    """The NOT EXISTS must plan as a LEFT ANTI hash/merge join with
    the user_id equi-key carrying the shuffle — a nested-loop anti
    join would be the 100x scale bug."""
    plan = executed_plan(spark, "unattributed_purchases")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_pairs_equi_joins_only(spark):
    """Pigeonhole = 4 quarter equi-joins; an OR join would plan as a
    BroadcastNestedLoopJoin (n^2)."""
    plan = executed_plan(spark, "image_phash_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # round 9: the quarter joins moved onto capped_band_pairs, whose
    # localCheckpoint pins the hash frame (the PNG decode kernel would
    # otherwise re-run 12x — once per quarter x count/left/right), so
    # the MapInPandas decode sits BEHIND the checkpoint boundary here,
    # exactly like the audio twin below; the kernel itself is pinned
    # by test_llmdata's PNG round-trip tests.
    assert "Scan ExistingRDD" in plan
    assert "MapInPandas" not in plan  # all pair work reads the pin


def test_audio_fingerprint_equi_joins_only(spark):
    plan = executed_plan(spark, "audio_fingerprint_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # round 7: capped_band_pairs pins the fingerprint frame with a
    # localCheckpoint (the decode kernel would otherwise re-run 12x —
    # once per band x count/left/right), so the RIFF/PCM MapInPandas
    # kernel sits BEHIND the checkpoint boundary in this plan string;
    # the boundary scan is what must be present, and the kernel
    # itself is pinned by test_llmdata's audio tests.
    assert "Scan ExistingRDD" in plan
    assert "MapInPandas" not in plan  # all pair work reads the pin


def test_curriculum_order_never_single_task_window(spark):
    """with_global_rank's contract: the global rank must come from the
    range-partitioned prefix-sum, not one Window.orderBy task — the
    plan must contain a RangePartitioning exchange and every window
    must be partitioned (no 'Window [' over an unpartitioned frame
    sorting the full corpus)."""
    plan = executed_plan(spark, "curriculum_order")
    assert "rangepartitioning" in plan.lower()


def test_multimodal_pipeline_shape(spark):
    """Digest dedup shuffles on img_md5; decode kernel present; no
    cartesian anywhere in the composition."""
    plan = executed_plan(spark, "multimodal_curation_pipeline")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_epoch_plan_single_metadata_window(spark):
    """The unpartitioned windows run over source-level metadata (tens
    of rows) AFTER the partial-agg shuffle — the plan must aggregate
    before any unpartitioned window."""
    plan = executed_plan(spark, "source_epoch_plan")
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # executedPlan prints top-down: the Window node appears above
    # (before) the aggregate that feeds it
    assert win_pos < agg_pos
