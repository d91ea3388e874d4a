"""Profile registry queries: one record per query, one JSON line per run.

`profile()` runs a query once untimed, then `runs` rounds of a
noop-sink write followed by `collect()`. Its record holds the min and
median seconds of both actions (collect cost is collect minus noop),
the row count, the engine counters of the last noop round's job group
(jobs, stages, tasks, shuffle read/write, input and spill bytes, read
from the in-process status store once the listener bus drains, so the
Spark UI stays off), the shuffle-exchange count of the final plan and
the Janino compilations that noop round made.

Usage:
    python tools/probe.py [--sf DIR] [--scale N [--catalog]] [--runs K]
        [--plans DIR] NAME|SET ...

A SET is `headline` (the bench set), `all` (every batch query) or one
of the named lists below: `scale`, `shuffle`, `decade`, `scaling`.
`--scale N` also runs the queries on an N-times replica of DIR
(tools/scale_smoke.build_big_dir; `--catalog` grows the part/supplier
catalog with the facts) and adds `scaled` records and per-metric
`ratio`s (scaled / base). `--plans DIR` writes each final plan
(`explain("formatted")`) to DIR/<name>.txt, or <name>_x<N>.txt for the
replica. Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stockpulse_spark.plans import REGISTRY  # noqa: E402
from stockpulse_spark.session import get_spark  # noqa: E402
from tools.parity import parse_args as parity_args  # noqa: E402
from tools.scale_smoke import build_big_dir  # noqa: E402

COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "input_bytes", "spill_bytes")


@dataclass(frozen=True)
class QuerySet:
    names: tuple[str, ...]
    #: tables `--scale` replicates (None: all of them)
    tables: frozenset[str] | None = None
    #: session conf set before the scaled phase
    scaled_conf: dict[str, str] = field(default_factory=dict)


#: the scale-smoke set: headliners plus the shuffle-heavy shapes each
#: round added, timed at sf0.1 and on the Nx replica
SCALE = (
    "pricing_summary", "revenue_by_nation", "ohlcv_hourly", "ma5_cma",
    "rsi14", "macd_12_26_9", "doc_text_stats", "doc_minhash_lsh",
    "embedding_cosine_topk", "indicator_panel", "asof_prev_close",
    # second round-2 wave: the new shuffle-heavy shapes
    "bloom_prefilter_semi_join", "orders_merge_upsert",
    "doc_unigram_logprob", "rolling_corr20", "kmeans_lloyd_2iter",
    "min_cost_supplier",
    # third round-2 wave: join-breadth, decontamination, attribution
    "nation_market_share", "decontamination_overlap",
    "purchase_attribution_batch", "zipf_slope",
    "embedding_label_outliers",
    # capstone composition + session-path shuffle shapes
    "training_data_pipeline_v2", "session_paths_topk",
    # round 3: star-join breadth, pair screens, LM join, regex scan,
    # recursive kernel
    "profit_by_nation_year", "supplier_count_by_part",
    "pairwise_return_corr", "doc_bigram_logprob",
    "pii_source_report", "heikin_ashi_daily",
    # round 3 second wave: self-join-free pair expansion, iterative
    # graph rank, shingle dedup, weighted sampling
    "word_pmi_collocations", "basket_affinity_lift",
    "copurchase_pagerank", "doc_substring_dup_pairs",
    "doc_weighted_sample", "doc_weighted_sample_by_source",
    # round 4: LSH family under a planted hot boilerplate bucket (the
    # big dir gives ~2% of docs one shared crawl banner, so the hot
    # band bucket only exists at scale — the bucket cap in
    # minhash_lsh_pairs is what keeps the ratio near-linear), SRP ANN,
    # and the adaptive connected-components keeper
    "embedding_srp_ann", "dedup_keeper_transitive",
    # round-4 second wave: the composed end-to-end pipelines
    "doc_dedup_pipeline_full", "incremental_dedup_gate",
    "decontamination_bloom_funnel", "semantic_dedup_keepers",
    "holt_linear_trend", "holt_winters_additive",
    # round-4 third wave: state-space folds, robust stats, survival,
    # bitmap rollup, rank-statistic AUC (one global sort), and the
    # 3-way triangle join — the shapes most worth watching at 10x
    "kalman_local_level", "changepoint_binseg", "theil_sen_trend",
    "acf_multilag", "copurchase_triangles", "activity_bitmap_rollup",
    "kaplan_meier_churn", "score_auc_rank",
    # round-4 fourth wave: DTW/SAX mining, trained NB, bootstrap
    # (x100 replicate explode — the documented compute cost), feature
    # encoders, IVM rollup, DQ gate, inference stats
    "dtw_to_reference", "sax_motifs", "nb_lang_classifier",
    "poisson_bootstrap_ci", "loo_target_encoding", "woe_binning",
    "psi_value_drift", "mergeable_weekly_rollup",
    "dq_expectation_suite", "kalman_events_batch",
    "gini_revenue_yearly", "segment_type_chisq",
    "trimmed_stats_by_type", "anova_hour_effect",
    "isotonic_trend", "conformal_interval_coverage",
    "burst_detection_viterbi",
    # round 5: the evaluation harnesses — the inverted-index ground
    # truth (sum df^2 cost) and the bucketed ANN recall join are the
    # two shapes whose scaling needs measuring, not asserting
    "minhash_lsh_recall_eval", "ann_recall_eval",
    "shard_assignment_balance", "decontamination_recall_eval",
    # round 6: cross-doc gram coverage (gram-key shuffle), the two
    # decoded-payload fingerprint joins (pigeonhole candidate growth
    # is the thing to measure — synthetic clips cluster, so expect
    # super-linear pair counts with near-linear per-pair cost), the
    # cross-modal composition, the distributed global rank, and the
    # interval anti-join
    "duplicate_gram_coverage", "image_phash_near_dup",
    "audio_fingerprint_near_dup", "multimodal_curation_pipeline",
    "curriculum_order", "unattributed_purchases",
    "gopher_quality_rules", "source_epoch_plan",
    # round-6 fifth wave: the hashed-unigram model build+apply, the
    # in-row source-pair expansion, the distributed vocab rank, the
    # PQ assignment (corpus x MxK broadcast) and its ADC search, and
    # the prefix-cosine probe sweep — each one scan-shaped by
    # construction; the smoke verifies none hides a super-linear term
    "dsir_importance_weights", "cross_source_dup_matrix",
    "vocab_coverage_curve", "hard_negative_mining",
    "pq_codebook_assign", "pq_adc_recall_eval",
    "matryoshka_truncation_eval", "token_frequency_spectrum",
    # exact quantile normalization: per-source windows + the
    # rank->value equi-join against the range-partitioned global
    # rank — the window-vs-join balance is what to watch at 10x
    "quantile_normalize_doclen", "packing_efficiency_report",
    # round-6 sixth wave: the single-exchange point-in-time feature
    # assembly and the five-term join-IVM certificate (five scans +
    # five equi-joins — the term that grows is the full join itself)
    "leakage_free_training_set", "join_ivm_delta_check",
    "audience_overlap_sketch", "content_defined_chunk_dedup",
    # round 7: the de-single-tasked global order statistics (three
    # distributed rank passes + closed-form ntile; TakeOrdered top-k;
    # broadcast scalar cuts) and the window-dedup'd indicators — the
    # shapes whose 10x ratio proves the rewrite removed the
    # single-task term rather than hiding it
    "rfm_segmentation", "revenue_concentration", "corpus_top_terms",
    "important_parts", "bollinger20", "williams_r",
    "stochastic_14_3", "rolling_beta20",
    # round-7 second wave: the group-capped windows migrated to the
    # grouped prefix decomposition — ratios prove the |groups|-task
    # ceiling is gone, not moved
    "doc_pack_sequences", "value_rank_family", "value_ntile_features",
    "doc_token_budget_sample",
    # round 8: the df-capped containment index (the cap is what keeps
    # the shingle self-join sub-quadratic — the ratio to watch), the
    # KS grid (value-domain x |sources|, should be scan-dominated),
    # and the new scan-shaped corpus statistics
    "snippet_containment_pairs", "containment_recall_eval",
    "ks_drift_by_source", "kfold_assignment_report",
    "bm25_topk_docs", "source_log_odds_terms",
    "tokenizer_fertility_by_lang",
    # rebuilt round 8 on the inverted index (was quadratic in group
    # size — the sf1 sweep measured hours at 2.5k-doc source groups);
    # the ratio proves the fix removed the quadratic term
    "doc_ngram_jaccard",
    # round 8b: governance/planner/recommender wave — the estimator
    # and skew report are scan-shaped by design (|keys| / |buckets|
    # exchanges), the CF join is df-capped, the leakage audit rides
    # the containment index, Hill is a TakeOrdered
    "k_anonymity_report", "split_leakage_audit",
    "join_cardinality_estimate", "code_detect_eval",
    "hill_tail_index", "customer_cf_neighbors",
    "popularity_rec_hitrate", "hash_partition_skew_report",
    # round 9: the wave-10 curation-economics queries (scan-shaped or
    # candidate-bounded by construction — the smoke verifies it), the
    # newly bucket-capped keeper-chain cluster stats, and the LSH
    # precision harness (exact verify over LSH-bounded candidates)
    "lsh_precision_sample", "domain_cap_enforcement",
    "chunk_stride_plan", "freshness_decay_weights",
    "lsh_band_churn", "dedup_token_savings",
    "dup_cluster_size_stats",
    "file_compaction_plan", "quality_keeper_selection",
    "score_decile_lift",
)

#: the shuffle-audit set: every bench headliner plus the shapes whose
#: docstrings make the strongest shuffle claims (bounded pair
#: expansion, df caps, bucketed ANN, grouped global ranks, the new
#: wave-9 planner/governance queries)
SHUFFLE = (
    "pricing_summary",
    "revenue_by_nation",
    "ohlcv_hourly",
    "ma5_cma",
    "bollinger20",
    "rsi14",
    "macd_12_26_9",
    "doc_text_stats",
    "doc_minhash_lsh",
    "embedding_cosine_topk",
    "indicator_panel",
    "asof_prev_close",
    # dedup / index shapes with explicit boundedness claims
    "snippet_containment_pairs",
    "doc_ngram_jaccard",
    "doc_dedup_funnel",
    "embedding_srp_ann",
    "source_log_odds_terms",
    "session_paths_topk",
    # wave 9 + recommender wave
    "k_anonymity_report",
    "split_leakage_audit",
    "join_cardinality_estimate",
    "code_detect_eval",
    "hill_tail_index",
    "customer_cf_neighbors",
    "popularity_rec_hitrate",
    "hash_partition_skew_report",
    # round 9 (verdict item 6): EVERY remaining query whose executed
    # plan carries >= 6 shuffles or any SortMergeJoin (PLANS.md) — the
    # audit now covers the full heavy-plan inventory, not a sample
    "ks_drift_by_source",
    "audience_overlap_sketch",
    "minhash_lsh_recall_eval",
    "ann_recall_eval",
    "containment_recall_eval",
    "nb_lang_classifier",
    "srp_ann_recall_certificate",
    "audio_fingerprint_near_dup",
    "image_phash_near_dup",
    "segment_type_chisq",
    "value_rank_family",
    "copurchase_pagerank",
    "leadlag_return_corr",
    "pairwise_return_corr",
    "textrank_keywords",
    "woe_binning",
    "basket_affinity_lift",
    "pq_adc_recall_eval",
    "sax_motifs",
    "word_pmi_collocations",
    "bm25_topk_docs",
    "cross_source_dup_matrix",
    "doc_fluency_filter",
    "doc_substring_dup_pairs",
    "embedding_label_outliers",
    "incremental_dedup_gate",
    "matryoshka_truncation_eval",
    "peak_concurrent_sessions_daily",
    "psi_value_drift",
    "quantile_normalize_doclen",
    "seasonal_profile",
    "sliding_7d_active_users",
    "user_cohort_set_ops",
    "embedding_ivf_topk",
    "dup_cluster_size_stats",
    "waiting_suppliers",
    "snapshot_diff_cdc",
    "copurchase_triangles",
    "daily_order_ship_reconciliation",
    "dedup_keeper_transitive",
    "orders_merge_upsert",
    # round-9 wave-10b
    "file_compaction_plan",
    "quality_keeper_selection",
    "score_decile_lift",
    # round-11 optimization: queries whose shuffle shape changed
    "missing_slots",
    "doc_simhash",
    "poisson_bootstrap_ci",
    "dtw_to_reference",
    "macd_unbounded_kernel",
    "heikin_ashi_daily",
    "cusum_returns",
    "dsir_importance_weights",
    "hard_negative_mining",
    "embedding_power_iteration",
    # round-12 optimization: the CC-loop fuse + pinned/broadcast graph
    # frames changed these queries' executed shapes
    "semantic_dedup_keepers",
    "doc_dedup_pipeline_full",
)

#: the 1000x decade set
DECADE = (
    "pricing_summary",
    "revenue_by_nation",
    "top_customers",
    "popularity_rec_hitrate",
    "score_decile_lift",
    "k_anonymity_report",
    "chunk_stride_plan",
    "domain_cap_enforcement",
    "dedup_token_savings",
    "doc_minhash_lsh",
    "embedding_cosine_topk",
)

# compute-heavy at 10x: the LSH signature+banding pass, the triangle
# wedge expansion, the CF inverted-index join, and one scan+agg
# calibration query for the floor comparison
SCALING = (
    "pricing_summary",
    "doc_minhash_lsh",
    "copurchase_triangles",
    "customer_cf_neighbors",
)

SETS = {
    "scale": QuerySet(SCALE),
    "shuffle": QuerySet(SHUFFLE),
    # events is skipped: its queries' 100x trend is already measured
    # and a 1B-row single-node parquet write buys no new information.
    # Partition sizing is data-proportional (SCALE.md doctrine: a
    # partition must fit in executor memory at the target SF): 32
    # partitions at 600M-row shuffles put ~19M rows in one hash-agg
    # task and the first 1000x run died UNABLE_TO_ACQUIRE_MEMORY.  256
    # here ~ what cluster_conf prescribes; AQE coalesces the small
    # stages back down, so only the big shuffles actually fan out.
    "decade": QuerySet(
        DECADE,
        tables=frozenset({"lineitem", "orders", "customer", "documents", "embeddings"}),
        scaled_conf={"spark.sql.shuffle.partitions": "256"},
    ),
    "scaling": QuerySet(
        SCALING,
        tables=frozenset({"lineitem", "orders", "customer", "documents"}),
    ),
}


def query_set(arg: str) -> QuerySet:
    """The QuerySet a CLI argument names: a SET, or one registry query."""
    if arg == "headline":
        return QuerySet(tuple(n for n, s in REGISTRY.items() if s.headline))
    if arg == "all":
        # streaming queries time microbatch scheduling, not plan cost,
        # and hold the session's streaming state
        return QuerySet(tuple(n for n in REGISTRY if not n.startswith("stream_")))
    if arg in SETS:
        return SETS[arg]
    if arg in REGISTRY:
        return QuerySet((arg,))
    raise KeyError(arg)


def engine_counters(sc, group: str) -> dict[str, int]:
    """COUNTERS summed over the stages that ran in job group `group`."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = dict.fromkeys(COUNTERS, 0)
    seen: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else ()):
            if stage in seen:
                continue
            seen.add(stage)
            try:
                data = store.lastStageAttempt(stage)
            except Py4JJavaError:
                # past spark.ui.retainedStages the store trims stages in
                # completion-time order, and a skipped stage never
                # completed, so it is trimmed first, even in a long sweep
                continue
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numCompleteTasks() + data.numFailedTasks()
            out["shuffle_read_bytes"] += data.shuffleReadBytes()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["input_bytes"] += data.inputBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


def exchange_count(plan) -> int:
    """Shuffle exchanges in an executed physical plan, descending into
    AQE query stages; a reused exchange counts once."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return exchange_count(plan.executedPlan())
    if cls.endswith("QueryStageExec"):
        return exchange_count(plan.plan())
    if cls == "ReusedExchangeExec":
        return 0
    children = plan.children()
    return (cls == "ShuffleExchangeExec") + sum(
        exchange_count(children.apply(i)) for i in range(children.size())
    )


def codegen_compiles(spark) -> int:
    """Janino compilations this JVM has made so far (a timed round that
    compiled is measuring codegen, not the query)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def profile(spark, name: str, sf_dir: str, runs: int = 3,
            plan_path: str | None = None) -> dict:
    """One record for registry query `name` at `sf_dir` (see module doc).
    `plan_path`, if given, receives the final formatted plan."""
    sc = spark.sparkContext
    build = REGISTRY[name].builder
    build(spark, sf_dir).collect()  # warm-up: codegen, footer caches
    noop, collect = [], []
    try:
        for i in range(runs):
            group = f"probe:{name}:{i}"
            sc.setJobGroup(group, f"{name} noop")
            compiled = codegen_compiles(spark)
            t0 = time.perf_counter()
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop.append(time.perf_counter() - t0)
            compiled = codegen_compiles(spark) - compiled
            sc.setJobGroup(f"{group}:collect", f"{name} collect")
            t0 = time.perf_counter()
            df = build(spark, sf_dir)
            rows = len(df.collect())
            collect.append(time.perf_counter() - t0)
    finally:
        sc._jsc.clearJobGroup()
    qe = df._jdf.queryExecution()
    if plan_path:
        Path(plan_path).write_text(
            spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        )
    return {
        "noop_min_s": round(min(noop), 3),
        "noop_med_s": round(statistics.median(noop), 3),
        "collect_min_s": round(min(collect), 3),
        "collect_med_s": round(statistics.median(collect), 3),
        "rows": rows,
        **engine_counters(sc, group),
        "exchanges": exchange_count(qe.executedPlan()),
        "codegen_compiles": compiled,
    }


def sweep(spark, names, sf_dir: str, runs: int, plans: str | None,
          suffix: str = "") -> dict[str, dict]:
    """profile() every query, recording a failure instead of stopping."""
    out: dict[str, dict] = {}
    for name in names:
        plan_path = plans and str(Path(plans) / f"{name}{suffix}.txt")
        try:
            out[name] = profile(spark, name, sf_dir, runs, plan_path)
        except Exception as exc:  # keep sweeping; record the failure
            out[name] = {"error": str(exc)[:200]}
        print(f"# {Path(sf_dir).name} {name}: {json.dumps(out[name])}",
              file=sys.stderr, flush=True)
    return out


def ratios(base: dict, scaled: dict) -> dict[str, float | None]:
    """scaled / base for every metric both records carry."""
    return {
        k: round(scaled[k] / v, 2) if v else None
        for k, v in base.items()
        if k in scaled and k != "error"
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description="Profile registry queries")
    ap.add_argument("--sf", default=parity_args([]).sf_dir, metavar="DIR")
    ap.add_argument("--scale", type=int, metavar="N")
    ap.add_argument("--catalog", action="store_true")
    ap.add_argument("--runs", type=int, default=3, metavar="K")
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("targets", nargs="+", metavar="NAME|SET")
    ns = ap.parse_args(argv)
    if ns.catalog and not ns.scale:
        ap.error("--catalog needs --scale")
    if ns.runs < 1:
        ap.error("--runs must be at least 1")
    try:
        ns.sets = [query_set(t) for t in ns.targets]
    except KeyError as exc:
        ap.error(f"unknown query or set: {exc}")
    return ns


def main() -> None:
    ns = parse_args(sys.argv[1:])
    names = list(dict.fromkeys(n for s in ns.sets for n in s.names))
    if ns.plans:
        Path(ns.plans).mkdir(parents=True, exist_ok=True)
    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = sweep(spark, names, ns.sf, ns.runs, ns.plans)
    out = {"sf_dir": ns.sf, "runs": ns.runs, "queries": base}
    if ns.scale:
        tables = None
        if all(s.tables is not None for s in ns.sets):
            tables = set().union(*(s.tables for s in ns.sets))
        big = build_big_dir(spark, ns.sf, ns.scale,
                            catalog_growth=ns.catalog, tables=tables)
        for s in ns.sets:
            for key, value in s.scaled_conf.items():
                spark.conf.set(key, value)
        scaled = sweep(spark, names, big, ns.runs, ns.plans, f"_x{ns.scale}")
        out.update(
            scale=ns.scale,
            axis="catalog_growing" if ns.catalog else "catalog_fixed",
            scaled_dir=big,
            scaled=scaled,
            ratio={q: ratios(base[q], scaled[q]) for q in names},
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
