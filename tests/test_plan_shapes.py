"""Physical-plan regression tests: the optimizations the engine relies
on at scale must actually appear in the executed plans — filter
pushdown into the parquet scan, column pruning, broadcast joins for
dims, TakeOrderedAndProject for top-k, and window-exchange sharing.
A refactor that silently loses one of these passes correctness tests
but regresses 100× at scale; these tests pin the plan shape."""

from __future__ import annotations

import pytest

from stockpulse_spark.plans import REGISTRY
from tests.conftest import SF_DIR, executed_plan


#: one plan-string build per registry query, shared by the three
#: whole-registry sweep tests below (each sweep re-planning all 292
#: queries would triple the suite's slowest fixture at no coverage
#: gain)
_PLAN_CACHE: dict[str, str] = {}


def _all_plans(spark) -> dict[str, str]:
    if not _PLAN_CACHE:
        for name in REGISTRY:
            _PLAN_CACHE[name] = executed_plan(spark, name)
    return _PLAN_CACHE


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = executed_plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7-column projection reaches the scan (no full-row read)
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_revenue_by_nation_broadcasts_dims(spark):
    plan = executed_plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_eod_join_broadcasts(spark):
    plan = executed_plan(spark, "eod_ma5_join")
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark):
    plan = executed_plan(spark, "global_sort_topk")
    assert "TakeOrderedAndProject" in plan
    # a global Sort of all rows would be the scale bug
    assert plan.count("Sort ") <= 1


def test_ma5_cma_shares_one_window_exchange(spark):
    """Both window columns share partitioning → exactly one hashpartitioning
    exchange over (user_id, date)."""
    plan = executed_plan(spark, "ma5_cma")
    assert plan.count("Exchange hashpartitioning") == 1


def test_indicator_panel_shares_exchanges(spark):
    """Ten indicator columns over four frame sizes: exactly 2 hash
    exchanges total (1 for the bars aggregation + 1 shared by every
    window — same partitioning). A per-indicator plan would shuffle
    per frame. Sorts: 3 — the window sort plus two SortAggregate-side
    sorts, the deliberate price of the tie-broken struct ordering key
    in min_by_nn/max_by_nn (a struct agg buffer is not hash-mutable);
    the sorts are scan-local CPU while the shuffle still moves only
    per-group partial states, which is the side that matters at
    100 TB. Pinned so an ACCIDENTAL extra exchange or sort still
    fails."""
    plan = executed_plan(spark, "indicator_panel")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Sort ") == 3


def test_anti_join_is_hash_not_loop(spark):
    plan = executed_plan(spark, "new_keys_anti_join")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_udfs_in_relational_queries(spark):
    """Python only in the explicitly-kernelized paths: the multimodal
    decode kernels (media_metadata / media_features) and the MACD
    unbounded-history path (the one genuine UDF need, U1 — linear
    Arrow applyInPandas EMA kernel); every other relational/indicator/
    llmdata query stays JVM-side. Note macd_12_26_9 itself is NOT
    exempted: its auto-dispatch must pick the JVM fold on this
    bounded-series data. heikin_ashi_daily and cusum_returns are
    genuinely recursive (y[t] = f(y[t-1], x[t])) — the same class as
    the unbounded EMA — so their linear Arrow kernels are exempt
    too."""
    for name in REGISTRY:
        if name in (
            "media_metadata",
            "media_features",
            "media_frame_sample",
            "media_resize",
            "audio_features",
            "audio_silence_segments",
            "macd_unbounded_kernel",
            "heikin_ashi_daily",
            "cusum_returns",
            # round-6 decode-kernel paths: the perceptual/audio
            # fingerprints and the cross-modal pipeline REALLY decode
            # PNG/PCM payloads in Arrow kernels by design
            "image_phash_near_dup",
            "audio_fingerprint_near_dup",
            "multimodal_curation_pipeline",
        ):
            continue
        plan = _all_plans(spark)[name]
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "MapInPandas" not in plan, name


def test_macd_auto_dispatch_bounded_picks_hof(spark):
    """On bounded series (max ≈ 700 points here) the probe must choose
    the JVM `aggregate` fold — no Python in the plan."""
    plan = executed_plan(spark, "macd_12_26_9")
    assert "FlatMapGroupsInPandas" not in plan
    assert "collect_list" in plan


def test_macd_auto_dispatch_long_series_picks_kernel(spark):
    """Past HOF_SERIES_BOUND the probe must route to the linear Arrow
    kernel: no collect_list of the full series (the O(n²) fold) may
    appear in the plan a long-history user gets."""
    from pyspark.sql import functions as F

    from stockpulse_spark.functions.ema import HOF_SERIES_BOUND, add_macd_auto

    n = HOF_SERIES_BOUND + 500
    df = (
        spark.range(n)
        .select(
            F.lit(1).alias("user_id"),
            F.col("id").alias("seq"),
            (F.col("id") % 97).cast("double").alias("close"),
        )
    )
    out = add_macd_auto(df, ["user_id"], ["seq"])
    plan = executed_plan(spark, out)
    # r11 kernel shape: one MapInPandas pass over JVM-collected series
    # arrays (linear ndarray loop); the O(n²) HOF fold's array_append
    # must NOT appear on a long-history plan
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "array_append" not in plan


def test_macd_forced_kernel_is_linear(spark):
    """The explicit unbounded path always uses the linear kernel."""
    plan = executed_plan(spark, "macd_unbounded_kernel")
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "array_append" not in plan


def test_doc_chunking_is_narrow(spark):
    """Chunking is explode+slice only — a shuffle here would be a
    regression that costs a full repartition of the corpus at scale."""
    plan = executed_plan(spark, "doc_chunking")
    assert "Exchange" not in plan


def test_pack_sequences_grouped_prefix_shape(spark):
    """Round 7: the packer's exclusive cumsum rides
    with_grouped_running_sum — the visible plan is the __pid-grouped
    window over the checkpoint-pinned range partitioning plus the
    broadcast offsets join; the old per-source window (parallelism
    capped at |sources|) must be gone."""
    plan = executed_plan(spark, "doc_pack_sequences")
    assert "__pid" in plan  # grouped prefix machinery engaged
    assert "BroadcastHashJoin" in plan  # offsets join back
    # 3 hash exchanges, all over the checkpoint-pinned frame: the
    # (pid, source) local window, the offsets partial-agg (map-side
    # combined — shuffle bytes ≈ |partitions| x |sources|), and the
    # offsets frame's per-source prefix window
    assert plan.count("Exchange hashpartitioning") == 3


def test_q5_join_tree_broadcasts_dims(spark):
    plan = executed_plan(spark, "local_supplier_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cube_is_one_expand_one_shuffle(spark):
    """CUBE must plan as Expand feeding ONE partial-agg shuffle, not
    four separate scans."""
    plan = executed_plan(spark, "cube_order_stats")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_min_cost_supplier_broadcasts_all_dims(spark):
    """Q2 shape: the only hash shuffle is the (part, supplier) cost
    pre-agg + its window top-1; part/supplier/nation/region all
    broadcast."""
    plan = executed_plan(spark, "min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_important_parts_single_fact_scan(spark):
    """Q11 shape: the fact table is scanned once; the global-scalar
    cut joins back as a broadcast, never a shuffle join."""
    plan = executed_plan(spark, "important_parts")
    assert plan.count("Scan parquet") <= 3  # lineitem + 2 broadcast dims
    assert "SortMergeJoin" not in plan


def test_top_supplier_revenue_pushes_date_filter(spark):
    """Q15 shape: the quarter filter reaches the parquet scan and the
    max-revenue scalar broadcasts back against the revenue view."""
    plan = executed_plan(spark, "top_supplier_revenue")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_grouping_sets_one_expand_one_shuffle(spark):
    """GROUPING SETS must plan like CUBE: Expand feeding ONE
    partial-agg shuffle, not one scan per grouping level."""
    plan = executed_plan(spark, "grouping_sets_revenue")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_unpivot_is_narrow_expand(spark):
    """UNPIVOT plans as Expand in the scan's own stage — a melt that
    shuffled or unioned four scans would be the scale bug."""
    plan = executed_plan(spark, "unpivot_ohlc")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_nation_market_share_no_cartesian_single_agg(spark):
    """Q8 shape: share computed in ONE aggregation pass (conditional
    sum), dims broadcast, never a cartesian."""
    plan = executed_plan(spark, "nation_market_share")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # 8 scans: fact + 6 dims with nation under two roles — the share
    # is a conditional sum in ONE agg pass, never a second fact scan
    assert plan.count("Scan parquet") <= 8


def test_copurchase_pairs_is_equi_join(spark):
    """Market-basket self-join must ride the order-key equi-join —
    an accidental cross join here is the classic quadratic bug."""
    plan = executed_plan(spark, "copurchase_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20, never global sort


def test_attribution_rides_user_equi_join(spark):
    """The interval predicate must be a post-condition on a user_id
    hash join, not a nested-loop range join."""
    plan = executed_plan(spark, "purchase_attribution_batch")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sliding_7d_bounded_fanout_shape(spark):
    """The WAU rewrite must explode AFTER the (user, day) dedup — the
    explode feeding from an aggregate, never from the raw scan."""
    plan = executed_plan(spark, "sliding_7d_active_users")
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_zorder_stats_stays_in_codegen(spark):
    """The Morton interleave must be plain integer expressions inside
    codegen — no UDF, no python."""
    plan = executed_plan(spark, "zorder_clustering_stats")
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_tpch5_joins_broadcast_no_cartesian(spark):
    """The TPC-H completion set: every dim side resolves to a
    broadcast at this SF (AQE or hint) and no join degenerates to a
    cartesian/loop product."""
    for name in (
        "shipping_priority",
        "returned_item_report",
        "profit_by_nation_year",
        "promo_revenue_monthly",
        "supplier_count_by_part",
    ):
        plan = executed_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_shipping_priority_topk_and_pushdown(spark):
    plan = executed_plan(spark, "shipping_priority")
    assert "TakeOrderedAndProject" in plan
    # per-side date filters reach both parquet scans
    assert plan.count("PushedFilters: [IsNotNull(") >= 2


def test_risk_windows_share_user_partitioning(spark):
    """rolling_skew_kurt20: the four raw-moment windows share ONE
    exchange + sort on top of the daily-bars agg (2 exchanges total:
    bars groupBy + window). 3 sorts: window + the two
    SortAggregate-side sorts from the tie-broken positional aggs
    (see test_indicator_panel_shares_exchanges)."""
    plan = executed_plan(spark, "rolling_skew_kurt20")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Sort ") == 3


def test_pii_operators_stay_jvm_side(spark):
    """Regex detection/redaction must be Column expressions, not
    Python UDFs — the 100 TB scrub runs at scan throughput."""
    for name in ("pii_source_report", "pii_redaction_audit"):
        plan = executed_plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_knn_broadcasts_query_side(spark):
    plan = executed_plan(spark, "embedding_knn_classify")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the corpus side must NOT shuffle before scoring
    assert "CartesianProduct" not in plan


def test_table_profile_is_single_scan(spark):
    """One wide aggregate + stack unpivot — the orders parquet appears
    exactly once in the plan."""
    plan = executed_plan(spark, "table_profile_orders")
    assert plan.count("orders.parquet") == 1


def test_interpolation_shares_one_series_sort(spark):
    """All four IGNORE-NULLS bound lookups (prev/next value and ts)
    ride ONE exchange + sort on user_id."""
    plan = executed_plan(spark, "interpolate_linear_gaps")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") == 1


def test_cdc_diff_is_single_pass_per_snapshot(spark):
    """The FULL OUTER join reads orders twice (once per snapshot
    derivation) and never degenerates to a loop join."""
    plan = executed_plan(spark, "snapshot_diff_cdc")
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_novelty_first_seen_single_gram_shuffle(spark):
    """first-seen is min(doc_id) per gram: the gram table shuffles on
    the gram key; no all-pairs comparison anywhere."""
    plan = executed_plan(spark, "doc_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_pairs_one_shuffle_topk(spark):
    """Pair counting is one hash shuffle; the top-20 rank rides
    with_global_rank's range-partitioned prefix sum (rebuilt round 8:
    the char-pair vocabulary is charset^2 — ~1e10 on Unicode web
    text — so a global single-task rank window over it was the same
    scale bug the BOUNDED_GLOBAL_WINDOWS sweep exists to catch).
    The only SinglePartition exchange left feeds the |partitions|-row
    __pid offsets frame, and the rank machinery's range exchange sits
    behind its checkpoint boundary."""
    plan = executed_plan(spark, "bpe_first_merge_stats")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "__pid" in plan  # prefix-sum rank machinery engaged
    assert plan.count("Exchange SinglePartition") <= 1


def test_theil_sen_single_exchange(spark):
    """Slope and intercept medians are in-row: ONE hashpartitioning
    exchange (daily rollup + collect share the user_id partitioning)
    and no second shuffle for a median aggregation — the shape that
    measured ~2x at 10x data (the exploded-median form measured 16x)."""
    plan = executed_plan(spark, "theil_sen_trend")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_dtw_broadcasts_reference(spark):
    """The reference series is a 1-row broadcast; per-user series
    collect is the only data shuffle. The DP fold must stay JVM-side
    (no Python evaluation nodes)."""
    plan = executed_plan(spark, "dtw_to_reference")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_auc_rank_has_no_single_partition_window(spark):
    """The global rank must NOT be a single-partition window: no
    'Exchange SinglePartition' feeding a Window node (the range
    repartition + prefix-sum offsets replace it)."""
    plan = executed_plan(spark, "score_auc_rank")
    assert "Exchange rangepartitioning" in plan
    import re

    # a Window directly downstream of a SinglePartition exchange is
    # the scale bug this query exists to avoid
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Window", plan
    ), plan


def test_mergeable_rollup_two_aggregations_one_scan(spark):
    """Daily partials then weekly merge: exactly the two-level
    aggregate with ONE scan of the fact table."""
    plan = executed_plan(spark, "mergeable_weekly_rollup")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_dq_suite_single_scan_for_row_rules(spark):
    """The five row-level rules fold into one Aggregate; only the FK
    rule adds a second scan of orders (anti-join probe). Total orders
    scans must be exactly 2, customer 1."""
    plan = executed_plan(spark, "dq_expectation_suite")
    assert plan.count("orders.parquet") <= 2
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_recall_eval_has_no_cartesian(spark):
    """The LSH recall evaluation joins on shingle / band-bucket /
    pair-id keys throughout — an accidental cross join on either the
    truth or candidate side would be the quadratic scale bug."""
    plan = executed_plan(spark, "minhash_lsh_recall_eval")
    assert "CartesianProduct" not in plan


def test_ann_recall_eval_broadcasts_query_side(spark):
    """The exact-baseline side broadcasts the 10 query vectors (a
    cross join against a broadcast scalar side is the deliberate
    brute-force pattern); the approx side must join on (table, bucket)
    — no unbroadcast cartesian anywhere."""
    plan = executed_plan(spark, "ann_recall_eval")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


#: Queries whose single-partition-fed Window is over a frame whose
#: cardinality is BOUNDED independent of corpus size — the only case
#: where funneling through one task is acceptable.  Every entry
#: documents the bound; anything NOT listed that plans a Window over
#: an `Exchange SinglePartition` fails the sweep below (the round-6
#: audit found three such plans over customer/term/user grains — this
#: gate keeps the class closed).
BOUNDED_GLOBAL_WINDOWS = {
    # Round-8 audit: every bound below is O(metadata) — a cardinality
    # fixed by the schema/config (digits, calendar, shards, sources,
    # embedding dims), NEVER by corpus-derived vocabulary.  The round-7
    # entries for doc_unigram_logprob / doc_fluency_filter codified a
    # false premise ("vocab is broadcast-sized") and are GONE: those
    # queries now compute their normalizer as a 1-row scalar aggregate
    # cross-joined back, so they plan no global window at all.
    "training_data_pipeline_v2": "per-source token totals (|sources|, "
    "a config-enumerated set — single digits here, dozens at 100 TB)",
    "benford_first_digit": "9-row first-digit frame",
    "source_sampling_weights": "per-source share frame (|sources|, "
    "config-enumerated)",
    "source_mixture_temperature": "per-source share frame (|sources|, "
    "config-enumerated)",
    "doc_token_budget_sample": "per-source quota frame (|sources|, "
    "config-enumerated)",
    "revenue_wow_growth": "weekly calendar frame (52 rows/year; "
    "grows with wall-clock time, not data volume)",
    "order_backlog_daily": "daily calendar frame (365 rows/year of "
    "history, time-bounded not volume-bounded)",
    "peak_concurrent_sessions_daily": "daily calendar frame (365 "
    "rows/year, time-bounded)",
    "embedding_power_iteration": "embedding-dim-sized frame (dim is "
    "a model constant, e.g. 16/768/4096)",
    "revenue_seasonal_decompose": "monthly calendar frame (12 "
    "rows/year, time-bounded)",
    "source_epoch_plan": "|sources| x |epochs| frame (both "
    "config-enumerated constants)",
    "shard_assignment_balance": "16-row shard-balance frame (shard "
    "count is a config constant)",
    "freshness_decay_weights": "per-priority share frame (|order "
    "priorities|, a schema-enumerated set — 5 rows; the window runs "
    "on the AGGREGATE output, never the orders table)",
    "score_decile_lift": "cumulative/total windows over the 10-row "
    "decile AGGREGATE frame (k is a config constant; the per-customer "
    "ranking itself rides with_global_rank's prefix sum)",
    # bpe_first_merge_stats left this list in round 8: charset^2 on
    # Unicode web text is ~1e10 pairs, not metadata — it was rebuilt
    # on with_global_rank's prefix-sum instead of being allowlisted.
}


def _single_partition_window_violations(plan: str) -> list[str]:
    """Window nodes fed by an Exchange SinglePartition, excluding
    with_global_rank's own __pid prefix-sum offsets window.  Extracted
    from the sweep so a negative-control test can prove the detector
    still fires on a planted violation (a Spark plan-format change
    must break the control, not silently blind the gate)."""
    import re

    window_re = re.compile(r"\bWindow(?:Exec)?\s*\[|\sWindow \[")
    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not window_re.search(line):
            continue
        if "__pid" in line:  # with_global_rank prefix-sum offsets
            continue
        if any(
            "Exchange SinglePartition" in lines[j]
            for j in range(i + 1, min(i + 4, len(lines)))
        ):
            out.append(line.strip()[:100])
    return out


def _duplicated_window_aggregate_violations(plan: str) -> list[str]:
    """(function, args, spec, frame) tuples a Window node evaluates
    more than once; lag/lead exempt (O(1) per row).  Extracted for the
    same negative-control reason as above.

    Round-8 fix, found BY the negative control: the round-7 key took
    a fixed 80-char slice after `specifiedwindowframe`, which dragged
    the OUTPUT ALIAS (`... AS a#1, ...` vs `... AS _we1#6], ...`) into
    the key — two byte-identical window expressions under different
    aliases therefore compared unequal and the sweep was blind to
    exactly the duplicate class it exists to catch.  The key now ends
    at the frame's closing parens, alias excluded."""
    import re
    from collections import Counter

    expr_re = re.compile(
        r"(\w+)\([^)]*\) windowspecdefinition\(.*?"
        r"specifiedwindowframe\(.*?\)\)"
    )
    out = []
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        keys = [
            m.group(0)
            for m in expr_re.finditer(line)
            if m.group(1) not in ("lag", "lead")
        ]
        out.extend(k[:120] for k, v in Counter(keys).items() if v > 1)
    return out


def test_no_unbounded_single_partition_windows(spark):
    """Sweep EVERY batch plan: a Window fed by an Exchange
    SinglePartition moves its whole input frame through one task —
    the pattern that dies first at 100x data.  Allowed only when the
    frame is provably metadata-sized (BOUNDED_GLOBAL_WINDOWS, each
    with the bound stated) or is with_global_rank's own prefix-sum
    over the |partitions|-row offsets frame (recognized by its __pid
    ordering key).  rfm_segmentation / corpus_top_terms /
    pairwise_return_corr / revenue_concentration / important_parts
    were rebuilt in round 7 to pass this; the gate turns the
    WindowExec warning into a hard regression failure."""
    violations = []
    for name in REGISTRY:
        if name in BOUNDED_GLOBAL_WINDOWS:
            continue
        for v in _single_partition_window_violations(_all_plans(spark)[name]):
            violations.append((name, v))
    assert not violations, violations


def test_no_duplicated_window_aggregates(spark):
    """Catalyst does NOT deduplicate identical window expressions: a
    formula that references `avg(x).over(w)` three times evaluates
    the frame aggregate three times per row (measured: bollinger20
    carried 10 window-function instances for 3 distinct aggregates,
    ~40% of its window-stage CPU).  The fix is the two-select shape —
    name each window aggregate once, derive in a second projection.
    This sweep fails any plan whose Window node evaluates the same
    (function, frame) pair more than once; lag/lead are exempt
    (O(1) per row, duplicates are noise not frame re-scans)."""
    offenders = []
    for name in REGISTRY:
        for v in _duplicated_window_aggregate_violations(
            _all_plans(spark)[name]
        ):
            offenders.append((name, v))
    assert not offenders, offenders


def test_single_partition_window_detector_negative_control(spark):
    """Plant the exact violation the sweep exists to catch — a window
    over an unpartitioned ORDER BY — and assert the detector FIRES.
    If a Spark upgrade changes the plan text so the regexes stop
    matching, this control fails loudly instead of the sweep going
    quietly blind."""
    from pyspark.sql import Window, functions as F

    df = spark.range(100).select(
        F.col("id"),
        F.avg("id").over(Window.orderBy("id")).alias("bad_global_avg"),
    )
    plan = executed_plan(spark, df)
    assert _single_partition_window_violations(plan), plan
    # and the clean shape stays clean
    ok = spark.range(100).select(
        F.col("id"),
        F.avg("id")
        .over(Window.partitionBy(F.col("id") % 10).orderBy("id"))
        .alias("grouped_avg"),
    )
    assert not _single_partition_window_violations(
        executed_plan(spark, ok)
    )


def test_duplicated_window_aggregate_detector_negative_control(spark):
    """Plant a Window that evaluates the same (avg, frame) aggregate
    twice under different output names and assert the detector FIRES;
    the deduplicated two-select shape must stay clean."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(F.col("id") % 10).orderBy("id").rowsBetween(-4, 0)
    bad = spark.range(100).select(
        (F.avg("id").over(w)).alias("a"),
        (F.avg("id").over(w) * 2).alias("b"),
    )
    plan = executed_plan(spark, bad)
    assert _duplicated_window_aggregate_violations(plan), plan
    good = spark.range(100).select(
        F.avg("id").over(w).alias("a")
    ).select("a", (F.col("a") * 2).alias("b"))
    assert not _duplicated_window_aggregate_violations(
        executed_plan(spark, good)
    )


#: Broadcast-hint sites over explode-derived-key frames that are
#: justified anyway.  Every entry must state a bound that is
#: O(metadata).  The round-7 verdict's four offenders
#: (doc_unigram_logprob, doc_fluency_filter, doc_bigram_logprob,
#: nb_lang_classifier) were fixed by REMOVING the hints, not by
#: allowlisting them — and this sweep's first run found a FIFTH of
#: the same class (word_pmi_collocations broadcast the word
#: document-frequency table), also fixed by removal.
BOUNDED_VOCAB_BROADCASTS: dict[str, str] = {
    "term_counts_cms": "the hinted frame groups by (r, bucket) where "
    "bucket = hash % width: cardinality <= depth x width, both config "
    "constants — the sketch's entire point is that its size is fixed "
    "regardless of corpus (the explode keys are hash buckets, not "
    "vocabulary)",
}


def _first_bracket_group(s: str) -> str:
    """The first balanced [...] group of a plan-node argument list."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                return s[: i + 1]
    return s


def _vocab_broadcast_violations(analyzed_plan: str) -> list[str]:
    """F.broadcast hints whose hinted subtree is keyed by an
    explode-GENERATED column with nothing bounding its cardinality.

    Heaps' law makes any frame keyed by exploded text (terms, bigrams,
    char pairs, shingles) corpus-sublinear but UNBOUNDED — 1e8-1e9
    distinct unigrams at 100 TB, past Spark's 8 GB broadcast-table
    limit.  A broadcast HINT on such a frame forces an OOM at scale
    where the unhinted plan would degrade to a shuffle hash join; AQE
    already broadcasts small frames at test scale, so the hint buys
    nothing.  Detection walks each `ResolvedHint (strategy=broadcast)`
    subtree in the ANALYZED logical plan top-down to the first
    cardinality-determining node:

    - GlobalLimit/LocalLimit  -> bounded (top-k vocab is fine)
    - ungrouped Aggregate     -> bounded (1-row scalar, e.g. |V|)
    - grouped Aggregate or Deduplicate whose keys reference an
      explode output id from the same subtree -> VIOLATION
    - grouped on non-explode keys -> out of scope for this gate
    """
    import re

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    lines = analyzed_plan.splitlines()
    violations = []
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast)" not in line:
            continue
        d = depth(line)
        sub = []
        for j in range(i + 1, len(lines)):
            if depth(lines[j]) <= d:
                break
            sub.append(lines[j])
        gen_ids: set[str] = set()
        for s in sub:
            m = re.search(r"\bGenerate .*, \[([^\]]+)\]\s*$", s)
            if m:
                gen_ids.update(x.strip() for x in m.group(1).split(","))
        if not gen_ids:
            continue
        for s in sub:
            t = s.lstrip(" :+-")
            if t.startswith(("GlobalLimit", "LocalLimit")):
                break  # top-k bounded
            if t.startswith("Deduplicate "):
                keys = t[len("Deduplicate "):]
                if any(g in keys for g in gen_ids):
                    violations.append(t[:100])
                break
            if t.startswith("Aggregate "):
                rest = t[len("Aggregate "):]
                grouping = _first_bracket_group(rest)
                if not rest[len(grouping):].lstrip().startswith(","):
                    break  # ungrouped scalar aggregate: 1 row
                if any(g in grouping for g in gen_ids):
                    violations.append(t[:100])
                break
    return violations


_ANALYZED_CACHE: dict[str, str] = {}


def _all_analyzed(spark) -> dict[str, str]:
    if not _ANALYZED_CACHE:
        for name in REGISTRY:
            df = REGISTRY[name].builder(spark, SF_DIR)
            _ANALYZED_CACHE[name] = (
                df._jdf.queryExecution().analyzed().toString()
            )
    return _ANALYZED_CACHE


def test_no_broadcast_hint_on_vocabulary_frames(spark):
    """Sweep EVERY batch plan's analyzed tree: no F.broadcast hint may
    pin a frame keyed by an unbounded (explode-derived) column.  The
    round-7 verdict found four such hints under docstrings wrongly
    asserting 'the vocabulary stays MBs'; this gate keeps the class
    closed the same way the single-partition-window sweep keeps its
    class closed."""
    violations = []
    for name in REGISTRY:
        if name in BOUNDED_VOCAB_BROADCASTS:
            continue
        for v in _vocab_broadcast_violations(_all_analyzed(spark)[name]):
            violations.append((name, v))
    assert not violations, violations


def test_vocab_broadcast_detector_negative_control(spark):
    """Plant the round-7 defect shape — F.broadcast over a grouped
    aggregate keyed by an exploded text column — and assert the
    detector FIRES; the three bounded shapes (1-row scalar agg,
    top-k limit, scalar over distinct) must stay clean."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id int, text string"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    bad = toks.join(F.broadcast(vocab), "term")
    assert _vocab_broadcast_violations(analyzed(bad)), analyzed(bad)

    bad_dedup = toks.join(
        F.broadcast(toks.select("term").distinct()), "term"
    )
    assert _vocab_broadcast_violations(analyzed(bad_dedup))

    scalar = toks.crossJoin(
        F.broadcast(vocab.agg(F.sum("cnt").alias("total")))
    )
    assert not _vocab_broadcast_violations(analyzed(scalar))

    topk = toks.join(
        F.broadcast(vocab.orderBy(F.desc("cnt"), "term").limit(5)),
        "term",
    )
    assert not _vocab_broadcast_violations(analyzed(topk))

    vsize = toks.crossJoin(
        F.broadcast(
            toks.select("term").distinct().agg(F.count(F.lit(1)).alias("v"))
        )
    )
    assert not _vocab_broadcast_violations(analyzed(vsize))


def test_revenue_concentration_rank_is_distributed(spark):
    """The customer-grain rank must ride the range-partitioned
    prefix-sum machinery, never a single-task sort."""
    plan = executed_plan(spark, "revenue_concentration")
    assert "Exchange rangepartitioning" in plan


def test_rfm_rank_is_distributed(spark):
    """Three quintiles = three with_global_rank passes (the inner two
    sit behind checkpoint boundaries, so the visible plan shows the
    outermost: a __pid-partitioned row_number, never an ntile over an
    unpartitioned window) + closed-form ntile arithmetic."""
    plan = executed_plan(spark, "rfm_segmentation")
    assert "ntile" not in plan  # closed-form arithmetic replaced it
    assert "__pid" in plan  # rank machinery engaged


def test_corpus_top_terms_take_ordered(spark):
    """Top-20 terms must plan as TakeOrderedAndProject (per-task
    heaps), not a global row_number sort of the term vocabulary."""
    plan = executed_plan(spark, "corpus_top_terms")
    assert "TakeOrderedAndProject" in plan


def test_liquid_prune_take_ordered(spark):
    """pairwise_return_corr's top-100 activity prune must be a
    TakeOrdered, not a global row_number over every user."""
    plan = executed_plan(spark, "pairwise_return_corr")
    assert "TakeOrderedAndProject" in plan


def test_shard_assignment_single_shuffle(spark):
    """One partial-agg exchange on the shard key; the 16-row balance
    window is post-aggregation (driver-scale, single partition is
    correct there)."""
    plan = executed_plan(spark, "shard_assignment_balance")
    assert plan.count("Exchange hashpartitioning") == 1


# The graph footer gates broadcast a side only when its estimate fits
# the session's autoBroadcastJoinThreshold. At sf0.001 the node side
# estimates 200 parts x 48 B = 9.6 kB, the edge side 6,000 lineitem
# rows x 2 x 24 B = 288 kB.


def _plan_at_threshold(spark, name: str, threshold: str) -> str:
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try:
        return executed_plan(spark, name)
    finally:
        spark.conf.set(key, prev)


def test_pagerank_node_gate_broadcasts_at_default(spark):
    assert "BroadcastHashJoin" in executed_plan(spark, "copurchase_pagerank")


@pytest.mark.parametrize("threshold", ["8k", "-1"])
def test_pagerank_node_gate_shuffles_below_threshold(spark, threshold):
    plan = _plan_at_threshold(spark, "copurchase_pagerank", threshold)
    assert "BroadcastHashJoin" not in plan


def test_triangles_edge_gate_broadcasts_at_default(spark):
    plan = executed_plan(spark, "copurchase_triangles")
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan


@pytest.mark.parametrize("threshold", ["100k", "-1"])
def test_triangles_edge_gate_shuffles_below_threshold(spark, threshold):
    plan = _plan_at_threshold(spark, "copurchase_triangles", threshold)
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


@pytest.mark.parametrize("name", ["copurchase_pagerank", "copurchase_triangles"])
def test_graph_gates_shuffle_without_footer_stats(spark, monkeypatch, name):
    """Unreadable footers (an object-store path, an empty dir) give no
    row count; the gate must then take the shuffled branch and pin it,
    since an unhinted join over a checkpoint can still auto-broadcast
    from the size stats the checkpoint keeps from its origin."""
    import stockpulse_spark.sources.tables as tables

    monkeypatch.setattr(tables, "footer_row_count", lambda sf_dir, name: None)
    plan = executed_plan(spark, name)
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
