"""Planted-data semantic tests for the round-8 curation wave:
snippet containment, KS drift, k-fold assembly, BM25, log-odds
profiling, and tokenizer fertility.  Each test plants data whose
correct answer is known in closed form, so a parity-green-but-wrong
formula (both engines computing the same wrong thing) still fails."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR, executed_plan, query_rows, write_documents


# ------------------------------------------------------------------ #
# containment tier
# ------------------------------------------------------------------ #


def test_containment_tier_catches_both_snippet_cohorts(spark):
    """The whole point of the containment tier: BOTH planted snippet
    cohorts — including the 4-word span that the 5-gram exact tier
    misses by construction (flag_rate 0.0 asserted) and the MinHash
    tier misses measurably (catch 0.0 asserted) — are caught at 1.0
    on the test corpus, because every shingle of an extracted snippet
    comes from its source document."""
    rows = {r["cohort"]: r for r in query_rows(spark, "containment_recall_eval")}
    assert rows["copy_span10"]["catch_rate"] == 1.0, rows["copy_span10"]
    assert rows["copy_span4"]["catch_rate"] == 1.0, rows["copy_span4"]
    assert rows["copy_span4"]["n_planted"] > 0


def test_containment_pairs_asymmetric_semantics(spark):
    """Every planted (source, snippet) pair appears with containment
    1.0 — the asymmetric measure is |∩| / min, so the snippet's side
    dominates regardless of how large the source doc is."""
    pairs = {
        (r["doc_id_1"], r["doc_id_2"]): r
        for r in query_rows(spark, "snippet_containment_pairs")
    }
    assert pairs, "planted snippets must produce pairs"
    # source-span4 pairs under residue ids: (4o, 4o+2)
    span4 = [
        r for (a, b), r in pairs.items() if b - a == 2 and a % 4 == 0
    ]
    assert span4, "span4 plants must pair with their sources"
    assert all(r["containment"] == 1.0 for r in span4)
    for r in pairs.values():
        assert 0.8 <= r["containment"] <= 1.0
        assert r["n_common"] >= 1


def test_containment_pairs_plan_has_no_cartesian(spark):
    plan = executed_plan(spark, "snippet_containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------------------ #
# KS drift
# ------------------------------------------------------------------ #


def test_ks_zero_on_identical_sources(spark, tmp_path):
    """Two sources with IDENTICAL length distributions → D = 0 for
    both, neither drifted."""
    rows = []
    for i in range(60):
        text = "w " * (10 + i % 5)
        rows.append((i, text.strip(), "en", "a"))
        rows.append((1000 + i, text.strip(), "en", "b"))
    write_documents(str(tmp_path), rows)
    out = {r["source"]: r for r in query_rows(spark, "ks_drift_by_source", str(tmp_path))}
    assert out["a"]["ks_stat"] == 0.0
    assert out["b"]["ks_stat"] == 0.0
    assert not out["a"]["drifted"] and not out["b"]["drifted"]


def test_ks_detects_planted_length_shift(spark, tmp_path):
    """Source 'big' gets strictly longer docs than 'small' with no
    overlap: the exact two-sample KS statistic is 1.0 and both flags
    fire at the 5% level."""
    rows = []
    for i in range(50):
        rows.append((i, "w " * 5, "en", "small"))
        rows.append((1000 + i, "w " * 500, "en", "big"))
    write_documents(str(tmp_path), rows)
    out = {r["source"]: r for r in query_rows(spark, "ks_drift_by_source", str(tmp_path))}
    assert out["small"]["ks_stat"] == 1.0
    assert out["big"]["ks_stat"] == 1.0
    assert out["small"]["drifted"] and out["big"]["drifted"]


# ------------------------------------------------------------------ #
# k-fold assembly
# ------------------------------------------------------------------ #


def test_kfold_partitions_every_doc_exactly_once(spark):
    from stockpulse_spark.sources.tables import load_table

    rows = query_rows(spark, "kfold_assignment_report")
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert {r["fold"] for r in rows} <= set(range(10))
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-6


def test_kfold_assignment_is_content_independent(spark, tmp_path):
    """Same doc_ids, different texts → identical fold sizes: the fold
    key is id-derived, so corpus edits never move a doc between
    folds (the reproducibility property the operator exists for)."""
    a = [(i, "alpha " * 3, "en", "s") for i in range(200)]
    b = [(i, "totally different words here", "en", "s") for i in range(200)]
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(da), os.makedirs(db)
    write_documents(da, a)
    write_documents(db, b)
    fa = {r["fold"]: r["n_docs"] for r in query_rows(spark, "kfold_assignment_report", da)}
    fb = {r["fold"]: r["n_docs"] for r in query_rows(spark, "kfold_assignment_report", db)}
    assert fa == fb


# ------------------------------------------------------------------ #
# BM25
# ------------------------------------------------------------------ #


def test_bm25_ranks_matching_docs_and_orders_by_score(spark):
    rows = query_rows(spark, "bm25_topk_docs")
    assert 0 < len(rows) <= 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_terms_hit"] <= 3 for r in rows)


def test_bm25_rewards_coverage_and_rarity(spark, tmp_path):
    """Planted corpus: a doc holding all three query terms outranks a
    doc repeating one common term (BM25's saturating tf + idf), and a
    doc with no query terms never appears."""
    filler = [(100 + i, "filler words only here", "en", "s") for i in range(20)]
    rows = [
        (1, "merge window stream", "en", "s"),
        (2, "merge merge merge merge merge merge", "en", "s"),
        (3, "window alone", "en", "s"),
    ] + filler
    write_documents(str(tmp_path), rows)
    out = query_rows(spark, "bm25_topk_docs", str(tmp_path))
    ids = [r["doc_id"] for r in out]
    assert ids[0] == 1  # full coverage wins
    assert set(ids) <= {1, 2, 3}  # filler docs never score


# ------------------------------------------------------------------ #
# log-odds distinctive terms
# ------------------------------------------------------------------ #


def test_log_odds_surfaces_planted_distinctive_term(spark, tmp_path):
    """A term appearing ONLY in source 'x' (against a shared common
    background) must rank #1 for 'x' and never chart for 'y'."""
    rows = []
    for i in range(30):
        rows.append((i, "common words shared by all", "en", "x"))
        rows.append((100 + i, "common words shared by all", "en", "y"))
    for i in range(20):
        rows.append((200 + i, "zebra common words", "en", "x"))
    write_documents(str(tmp_path), rows)
    out = query_rows(spark, "source_log_odds_terms", str(tmp_path))
    x1 = [r for r in out if r["source"] == "x" and r["rank"] == 1][0]
    assert x1["term"] == "zebra"
    assert all(
        r["term"] != "zebra" for r in out if r["source"] == "y"
    )


def test_log_odds_rank_is_distributed(spark):
    """The per-source top-5 rides the grouped prefix-sum machinery —
    never a |sources|-task window over the (source x vocab) frame."""
    plan = executed_plan(spark, "source_log_odds_terms")
    assert "__pid" in plan


# ------------------------------------------------------------------ #
# tokenizer fertility
# ------------------------------------------------------------------ #


def test_fertility_closed_form(spark, tmp_path):
    """'ab cd' → 2 words, 2 sub-tokens, fertility 1.0;
    'ab, cd!' → 2 words, 4 sub-tokens (letters + punct), 2.0."""
    write_documents(
        str(tmp_path),
        [(1, "ab cd", "plain", "s"), (2, "ab, cd!", "punct", "s")],
    )
    out = {r["lang"]: r for r in query_rows(spark, "tokenizer_fertility_by_lang", str(tmp_path))}
    assert out["plain"]["n_words"] == 2
    assert out["plain"]["n_tokens"] == 2
    assert out["plain"]["fertility"] == 1.0
    assert out["punct"]["n_words"] == 2
    assert out["punct"]["n_tokens"] == 4
    assert out["punct"]["fertility"] == 2.0
