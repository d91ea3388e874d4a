"""Planted-data semantic tests for the round-8b governance/planner
wave: k-anonymity, split leakage, join-cardinality estimation, the
code-vs-prose screen, the LSH tuning curve, and the Hill tail index.
Each test plants data whose correct answer is known in closed form,
so a parity-green-but-wrong formula (both engines computing the same
wrong thing) still fails."""

from __future__ import annotations

import hashlib
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR, query_rows, write_documents


def _bucket(text: str) -> int:
    """The repo-wide md5 bucket (llmdata/hashing.hex_to_int_sql)."""
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16) % 100


def _split(text: str) -> str:
    b = _bucket(text)
    return "train" if b < 80 else ("val" if b < 90 else "test")


def _write_orders(sf_dir: str, prices) -> None:
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(prices)), pa.int64()),
            "o_totalprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(tbl, os.path.join(sf_dir, "orders.parquet"))


# ------------------------------------------------------------------ #
# k-anonymity
# ------------------------------------------------------------------ #


def test_k_anonymity_closed_form(spark, tmp_path):
    """A singleton quasi-group is k=1 / fully at risk; five identical
    quasi-identifier tuples are k=5 / releasable."""
    rows = [(0, "lonely words here", "en", "solo")]
    rows += [(10 + i, "same length txt!!", "en", "five") for i in range(5)]
    write_documents(str(tmp_path), rows)
    out = {r["source"]: r for r in query_rows(spark, "k_anonymity_report", str(tmp_path))}
    assert out["solo"]["k_anonymity"] == 1
    assert out["solo"]["rows_at_risk"] == 1
    assert out["solo"]["risk_share"] == 1.0
    assert not out["solo"]["k5_anonymous"]
    assert out["five"]["k_anonymity"] == 5
    assert out["five"]["rows_at_risk"] == 0
    assert out["five"]["risk_share"] == 0.0
    assert out["five"]["k5_anonymous"]


def test_k_anonymity_counts_every_row_once(spark):
    from stockpulse_spark.sources.tables import load_table

    rows = query_rows(spark, "k_anonymity_report")
    n = (
        load_table(spark, SF_DIR, "documents")
        .where("source IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL")
        .count()
    )
    assert sum(r["n_rows"] for r in rows) == n
    for r in rows:
        assert 1 <= r["k_anonymity"]
        assert 0 <= r["rows_at_risk"] <= r["n_rows"]


# ------------------------------------------------------------------ #
# split leakage
# ------------------------------------------------------------------ #


def _eval_base_text() -> str:
    """A >=25-word text in the eval bucket (>=90) whose 10-word span
    lands in a DIFFERENT split than the base — found by salt search,
    deterministic thereafter."""
    for salt in range(10000):
        words = [f"w{i}x{salt}" for i in range(31)]
        text = " ".join(words)
        if _bucket(text) < 90:
            continue
        span10 = " ".join(words[8:18])
        if _split(span10) != _split(text):
            return text
    raise AssertionError("salt search failed")


def test_split_leakage_cells_closed_form(spark, tmp_path):
    """One eval-bucket doc → the query plants its 10-word and 4-word
    spans; all three pairs (base-span10, base-span4, span10-span4)
    have containment 1.0, and their split cells — including at least
    one CROSS-split cell — are exactly the md5-derived ones."""
    text = _eval_base_text()
    words = text.split(" ")
    span10, span4 = " ".join(words[8:18]), " ".join(words[8:12])
    write_documents(str(tmp_path), [(1, text, "en", "s")])

    trio = [(text, span10), (text, span4), (span10, span4)]
    expected = {}
    for a, b in trio:
        cell = tuple(sorted((_split(a), _split(b))))
        expected[cell] = expected.get(cell, 0) + 1
    n_cross = sum(v for (a, b), v in expected.items() if a != b)
    leak = round(n_cross / 3.0, 6)

    out = query_rows(spark, "split_leakage_audit", str(tmp_path))
    got = {(r["split_a"], r["split_b"]): r for r in out}
    assert {k: r["n_pairs"] for k, r in got.items()} == expected
    assert n_cross > 0, "salt search guarantees a crossing pair"
    for r in out:
        assert r["crosses_split"] == (r["split_a"] != r["split_b"])
        assert r["corpus_leak_rate"] == leak


def test_split_leakage_exact_dups_never_cross(spark, tmp_path):
    """Identical texts hash to the same bucket, so an exact-dup pair
    can never cross the content-keyed split — the guarantee
    doc_train_test_split claims, here observed through the audit."""
    text = _eval_base_text()
    # two ids, same text: the exact-dup pair must be within-split
    write_documents(str(tmp_path), [(1, text, "en", "s"), (2, text, "en", "s")])
    out = query_rows(spark, "split_leakage_audit", str(tmp_path))
    got = {(r["split_a"], r["split_b"]): r["n_pairs"] for r in out}
    s = _split(text)
    # the (base1, base2) exact-dup pair lands in the diagonal cell
    assert got.get((s, s), 0) >= 1


# ------------------------------------------------------------------ #
# join cardinality estimation
# ------------------------------------------------------------------ #


def test_join_estimate_exact_when_all_keys_heavy(spark, tmp_path):
    """Two keys, each holding 50% of the fact side: every key is a
    heavy hitter, the sampled tail is empty, est == exact exactly."""
    ok = [1] * 10 + [2] * 10
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(ok, pa.int64()),
                "l_partkey": pa.array([7] * 20, pa.int64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}),
        str(tmp_path / "orders.parquet"),
    )
    pq.write_table(
        pa.table({"p_partkey": pa.array([7], pa.int64())}),
        str(tmp_path / "part.parquet"),
    )
    out = {r["join_name"]: r for r in query_rows(spark, "join_cardinality_estimate", str(tmp_path))}
    lo = out["lineitem_orders"]
    assert (lo["exact_rows"], lo["est_rows"]) == (20, 20)
    assert lo["rel_error"] == 0.0 and lo["within_25pct"]
    lp = out["lineitem_part"]
    assert (lp["exact_rows"], lp["est_rows"]) == (20, 20)
    assert lp["rel_error"] == 0.0 and lp["within_25pct"]


def test_join_estimate_within_bound_on_uniform_data(spark):
    """On the real (uniform) testdata both estimates certify within
    25% — deterministic (md5 sample), so this is a stable fact, not
    a flaky statistical assertion."""
    out = {r["join_name"]: r for r in query_rows(spark, "join_cardinality_estimate")}
    for name in ("lineitem_orders", "lineitem_part"):
        r = out[name]
        assert r["exact_rows"] > 0
        assert r["within_25pct"], r


# ------------------------------------------------------------------ #
# code-vs-prose screen
# ------------------------------------------------------------------ #


def test_code_detect_separates_cohorts_on_testdata(spark):
    """The generated corpus is symbol-free word salad → natural flag
    rate exactly 0.0; every codeified plant is flagged → 1.0."""
    out = {r["cohort"]: r for r in query_rows(spark, "code_detect_eval")}
    assert out["natural"]["flag_rate"] == 0.0
    assert out["planted_code"]["flag_rate"] == 1.0
    assert out["planted_code"]["n_docs"] > 0


def test_code_detect_flags_real_code_in_natural_cohort(spark, tmp_path):
    """A code-like document (high symbol + paren density) is flagged
    even in the natural cohort — the screen reads features, not
    cohort labels."""
    prose = None
    code = None
    for salt in range(1000):
        cand = f"plain prose words only nothing else s{salt}"
        if prose is None and _bucket(cand) < 90:
            prose = cand
        cand2 = f"x = f(a); y = g(b); z(c_{salt});"
        if code is None and _bucket(cand2) < 90:
            code = cand2
        if prose and code:
            break
    write_documents(str(tmp_path), [(1, prose, "en", "s"), (2, code, "en", "s")])
    out = {r["cohort"]: r for r in query_rows(spark, "code_detect_eval", str(tmp_path))}
    nat = out["natural"]
    assert nat["n_docs"] == 2
    assert nat["n_flagged"] == 1
    assert nat["flag_rate"] == 0.5


# ------------------------------------------------------------------ #
# LSH tuning curve
# ------------------------------------------------------------------ #


def test_lsh_curve_closed_form_and_monotone(spark):
    rows = query_rows(spark, "lsh_tuning_curve")
    assert len(rows) == 36
    by_cfg = {}
    for r in rows:
        by_cfg.setdefault((r["bands"], r["rows_per_band"]), []).append(r)
    r164 = {r["jaccard"]: r for r in by_cfg[(16, 4)]}
    expected = round(1.0 - (1.0 - 0.8**4) ** 16, 6)
    assert abs(r164[0.8]["p_detect"] - expected) < 1e-6
    # the repo's operating point: j=0.8 nearly certain, j=0.5 porous
    assert r164[0.8]["p_detect"] > 0.99
    assert r164[0.5]["p_detect"] < 0.65
    # (1/64)^(1/2) is exactly 0.125
    assert by_cfg[(64, 2)][0]["s_curve_threshold"] == 0.125
    for cfg, rs in by_cfg.items():
        ps = [r["p_detect"] for r in sorted(rs, key=lambda r: r["jaccard"])]
        assert ps == sorted(ps), f"p_detect not monotone for {cfg}"


# ------------------------------------------------------------------ #
# Hill tail index
# ------------------------------------------------------------------ #


def test_hill_closed_form_on_planted_values(spark, tmp_path):
    """Order totals 1..200: threshold is the 101st largest (=100),
    the 100 exceedances are 101..200, and the Hill estimator is the
    mean log-excess over them."""
    _write_orders(str(tmp_path), [float(i) for i in range(1, 201)])
    (r,) = query_rows(spark, "hill_tail_index", str(tmp_path))
    assert r["n_values"] == 200
    assert r["n_top"] == 101
    assert r["n_exceed"] == 100
    assert r["threshold"] == 100.0
    expected = sum(math.log(i / 100.0) for i in range(101, 201)) / 100.0
    assert abs(r["hill_inv"] - expected) < 1e-6
    assert abs(r["tail_alpha"] - 1.0 / expected) < 1e-4


def test_hill_degenerate_all_equal(spark, tmp_path):
    """All values equal: no exceedances above the threshold, the
    estimator is undefined and stays NULL (never a divide error)."""
    _write_orders(str(tmp_path), [50.0] * 150)
    (r,) = query_rows(spark, "hill_tail_index", str(tmp_path))
    assert r["n_exceed"] == 0
    assert r["hill_inv"] is None
    assert r["tail_alpha"] is None
    assert r["threshold"] == 50.0
