"""Plan-shape pins for the round-6 fifth-wave (curation analytics)
queries — the 100 TB properties, asserted on the executed plan."""

from __future__ import annotations

from tests.conftest import SF_DIR, executed_plan


def test_dsir_model_is_broadcast(spark):
    """The 256-bucket DSIR model must broadcast back onto the token
    stream (BroadcastHashJoin on b), never shuffle the tokens to the
    model; no Python anywhere; top-20 is TakeOrdered, not a global
    sort."""
    plan = executed_plan(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cross_source_matrix_no_hash_self_join(spark):
    """Pairs expand in-row from each hash's collected source set —
    the plan must contain no sort-merge self-join of the fingerprint
    table and no cartesian; the per-source totals join broadcasts."""
    plan = executed_plan(spark, "cross_source_dup_matrix")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_label_centroid_pair_join_is_metadata_sized(spark):
    """The non-equi (label_a < label_b) pair join runs AFTER the
    centroid aggregation, so the broadcast nested-loop is LABELS x
    LABELS metadata — the aggregates must appear below the join and
    nothing may cartesian the raw vectors."""
    plan = executed_plan(spark, "label_centroid_similarity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # deliberate: 10x10 rows
    assert "HashAggregate" in plan


def test_hard_negative_mining_salted_two_stage(spark):
    """Anchors broadcast against one corpus scan; the per-anchor
    top-k must run the salted two-stage form — two partitioned
    Window nodes — and never a cartesian of the corpus with itself."""
    plan = executed_plan(spark, "hard_negative_mining")
    assert "CartesianProduct" not in plan
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2
    # the broadcast side is the <=10-row anchor set, not the corpus
    assert "BroadcastNestedLoopJoin" in plan  # non-equi label filter


def test_vocab_coverage_rank_is_range_partitioned(spark):
    """The vocabulary ranking must come from with_global_rank's
    range-partitioned prefix-sum, never one Window.orderBy task over
    a 100M-term vocabulary."""
    plan = executed_plan(spark, "vocab_coverage_curve")
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_packing_report_scan_shaped(spark):
    """One scan crossed with a 3-row literal: the only join allowed
    is the broadcast of the context-length literal; no Python, no
    sort-merge join."""
    plan = executed_plan(spark, "packing_efficiency_report")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_pq_assignment_broadcasts_codebook(spark):
    """The M x K codebook is KBs at any corpus size and must reach
    the vectors as a broadcast (the crossJoins with the 8-row
    subspace literal and 16-row codebook are deliberate BNLJ over
    metadata); no Python, no cartesian, one partial-agg shuffle."""
    plan = executed_plan(spark, "pq_codebook_assign")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "HashAggregate" in plan


def test_pq_adc_search_is_equi_join_on_codes(spark):
    """At search time the database side is CODES only: the lookup
    table must join on (m, code) as a BroadcastHashJoin — the full
    vectors are touched only for the 50-row-per-query re-rank and
    the ground-truth scan."""
    plan = executed_plan(spark, "pq_adc_recall_eval")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_matryoshka_probe_set_broadcasts(spark):
    """One corpus scan crossed with the broadcast 10-query x 4-d
    probe set: the corpus must never be on the broadcast side and
    nothing may cartesian without a broadcast. The r11 builder pins
    the top-k frame (read by the per-d rows AND the d=64 gold
    filter), which prints as an RDD scan — so the broadcast structure
    is asserted on the unpinned _truncation_top subtree."""
    plan = executed_plan(spark, "matryoshka_truncation_eval")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    from stockpulse_spark.plans.registry_vectoreval import _truncation_top

    inner = executed_plan(spark, _truncation_top(spark, SF_DIR))
    assert "CartesianProduct" not in inner
    assert "MapInPandas" not in inner
    assert "BroadcastNestedLoopJoin" in inner  # deliberate tiny probes


def test_quantile_normalize_rank_join_shape(spark):
    """The rank->value mapping must be an equi-join on the integer
    target rank, every window partitioned (source key), no cartesian
    and no Python. (The global-rank side runs through
    with_global_rank, whose range-partitioned prefix-sum shape is
    pinned by test_curriculum_order_never_single_task_window and
    tests/test_rank_property.py; under this query's composition the
    lazy localCheckpoint prints as an RDD scan, so the range exchange
    is asserted there, not here.)"""
    plan = executed_plan(spark, "quantile_normalize_doclen")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    # equi hash join on tr = gr (broadcast at test scale, shuffle at
    # 100 TB — either way an equi-join, never nested-loop on rank)
    assert "HashJoin [tr" in plan or "SortMergeJoin [tr" in plan
    # both corpus windows carry the source partition key
    assert "windowspecdefinition(source" in plan


def test_leakage_free_training_set_single_exchange(spark):
    """No join: labels and features share ONE user_id exchange; the
    RANGE frames and the lag window must all be partitioned on
    user_id; no Python, no cartesian."""
    plan = executed_plan(spark, "leakage_free_training_set")
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "windowspecdefinition(user_id" in plan


def test_join_ivm_terms_are_equi_joins(spark):
    """Every IVM term joins on the orderkey equi-key — a nested-loop
    term would silently turn the delta maintenance quadratic."""
    plan = executed_plan(spark, "join_ivm_delta_check")
    assert "CartesianProduct" not in plan
    # the 1-row certificate broadcast is the only nested-loop allowed
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "MapInPandas" not in plan


def test_salted_join_is_shuffled_hash_on_salted_key(spark):
    """The technique must actually run: ShuffledHashJoin (not a
    broadcast that would make the salt a no-op at test scale) with
    __salt in the join keys."""
    plan = executed_plan(spark, "salted_skew_join_stats")
    assert "ShuffledHashJoin" in plan
    assert "__salt" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cdc_chunk_dedup_one_scan_shape(spark):
    """One scan, per-doc windows, one chunk-hash shuffle: no join of
    the token table with anything data-sized (the mass total is a
    1-row broadcast), no Python. The chunk pipeline is pinned with a
    lazy localCheckpoint in the builder (r11: the total and the report
    branch share one computation), which prints as an RDD scan in the
    outer plan — so the window/shuffle structure is asserted on the
    unpinned _chunk_groups subtree the builder wraps."""
    plan = executed_plan(spark, "content_defined_chunk_dedup")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    from stockpulse_spark.plans.registry_cdc2 import _chunk_groups

    inner = executed_plan(spark, _chunk_groups(spark, SF_DIR))
    assert "windowspecdefinition(doc_id" in inner
    assert "CartesianProduct" not in inner
    assert "SortMergeJoin" not in inner
    assert "MapInPandas" not in inner


def test_audience_overlap_no_cartesian(spark):
    """The pair skeleton comes from the user equi-join; estimates
    attach via broadcasts — nothing may cross the distinct-user
    table with itself without the user key."""
    plan = executed_plan(spark, "audience_overlap_sketch")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_token_spectrum_two_aggregates_only(spark):
    """Term-count shuffle then a 6-group partial agg; the corpus
    total joins as a 1-row broadcast."""
    plan = executed_plan(spark, "token_frequency_spectrum")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
