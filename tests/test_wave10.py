"""Planted-data semantic tests for the round-9 wave: LSH precision,
per-domain caps, chunking economics, freshness-decay weights, LSH band
churn, dedup token savings — plus the round-9 bucket-cap regression
for the keeper chain.  Each test plants data whose correct answer is
known in closed form, so a parity-green-but-wrong formula (both
engines computing the same wrong thing) still fails."""

from __future__ import annotations

from stockpulse_spark.plans.text_curation import (
    _CHUNK_SIZE,
    _CHUNK_STRIDE,
    _DOMAIN_CAP,
)
from tests.conftest import SF_DIR_MID, query_rows, write_documents


# ------------------------------------------------------------------ #
# domain cap
# ------------------------------------------------------------------ #


def test_domain_cap_exact_enforcement(spark, tmp_path):
    """A source under the cap keeps everything; one over it keeps
    exactly _DOMAIN_CAP docs; keep_rate is exact."""
    rows = [(i, f"doc {i} words", "en", "small") for i in range(10)]
    rows += [
        (100 + i, f"big doc {i} here", "en", "big")
        for i in range(_DOMAIN_CAP + 17)
    ]
    write_documents(str(tmp_path), rows)
    out = {
        r["source"]: r
        for r in query_rows(spark, "domain_cap_enforcement", str(tmp_path))
    }
    assert out["small"]["n_kept"] == 10
    assert out["small"]["keep_rate"] == 1.0
    assert out["big"]["n_docs"] == _DOMAIN_CAP + 17
    assert out["big"]["n_kept"] == _DOMAIN_CAP
    assert out["big"]["tokens_kept"] < out["big"]["tokens_total"]


def test_domain_cap_rank_is_content_deterministic(spark, tmp_path):
    """The keep set is a function of (md5(text), doc_id), not of row
    order: reversing the ids of identical texts keeps the same texts."""
    rows = [(i, f"text number {i}", "en", "s") for i in range(5)]
    write_documents(str(tmp_path), rows)
    a = query_rows(spark, "domain_cap_enforcement", str(tmp_path))
    write_documents(str(tmp_path), list(reversed(rows)))
    b = query_rows(spark, "domain_cap_enforcement", str(tmp_path))
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


# ------------------------------------------------------------------ #
# chunking closed form
# ------------------------------------------------------------------ #


def _brute_chunks(n: int) -> tuple[int, int]:
    """Reference chunker: emit from start=0 stepping by stride until a
    chunk's end reaches n; returns (n_chunks, tokens_emitted)."""
    if n <= 0:
        return 0, 0
    chunks = []
    start = 0
    while True:
        end = min(start + _CHUNK_SIZE, n)
        chunks.append(end - start)
        if end >= n:
            break
        start += _CHUNK_STRIDE
    return len(chunks), sum(chunks)


def test_chunk_closed_form_matches_brute_force(spark, tmp_path):
    """The closed form (m = 1 + ceil((n-size)/stride), emitted =
    n + (size-stride)(m-1)) must agree with actually materializing the
    chunks, across the boundary cases."""
    lengths = [1, 2, 63, 64, 65, 111, 112, 113, 160, 161, 500]
    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), "en", f"s{n}")
        for i, n in enumerate(lengths)
    ]
    write_documents(str(tmp_path), rows)
    out = {r["source"]: r for r in query_rows(spark, "chunk_stride_plan", str(tmp_path))}
    for n in lengths:
        m, emitted = _brute_chunks(n)
        r = out[f"s{n}"]
        assert r["n_chunks"] == m, (n, r)
        assert r["tokens_emitted"] == emitted, (n, r)
        assert r["tokens_in"] == n


def test_chunk_null_text_zero(spark, tmp_path):
    write_documents(str(tmp_path), [(0, None, "en", "nul")])
    (r,) = query_rows(spark, "chunk_stride_plan", str(tmp_path))
    assert r["n_chunks"] == 0 and r["tokens_emitted"] == 0
    assert r["expansion_factor"] is None


# ------------------------------------------------------------------ #
# freshness decay
# ------------------------------------------------------------------ #


def test_freshness_weights_are_exact_dyadics(spark):
    """sum_weight must be bit-identical across different shuffle
    widths — the exact-dyadic construction makes the float sums
    summation-order-independent."""
    a = {
        r["o_orderpriority"]: r["sum_weight"]
        for r in query_rows(spark, "freshness_decay_weights", SF_DIR_MID)
    }
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = {
            r["o_orderpriority"]: r["sum_weight"]
            for r in query_rows(
                spark, "freshness_decay_weights", SF_DIR_MID
            )
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b
    shares = [
        r["weight_share"]
        for r in query_rows(spark, "freshness_decay_weights", SF_DIR_MID)
    ]
    assert abs(sum(shares) - 1.0) < 1e-5


# ------------------------------------------------------------------ #
# LSH band churn + precision
# ------------------------------------------------------------------ #


def test_lsh_band_churn_bounds(spark):
    rows = query_rows(spark, "lsh_band_churn", SF_DIR_MID)
    assert [r["band_idx"] for r in rows] == list(range(8))
    n0 = rows[0]["n_docs"]
    for r in rows:
        assert r["n_docs"] == n0  # every doc contributes to every band
        assert 0 <= r["n_changed"] <= r["n_docs"]
        assert 0.0 <= r["churn_rate"] <= 1.0
    # the suffix-drop edit must change SOMETHING somewhere
    assert sum(r["n_changed"] for r in rows) > 0


def test_lsh_precision_levels_and_bounds(spark):
    rows = query_rows(spark, "lsh_precision_sample", SF_DIR_MID)
    assert rows, "deployed tier emitted no candidates on testdata"
    levels = {round(m / 16.0, 6) for m in range(8, 17)}
    for r in rows:
        assert round(r["est_jaccard"], 6) in levels
        assert 0 <= r["n_true"] <= r["n_pairs"]
        assert r["precision"] is None or 0.0 <= r["precision"] <= 1.0
    # the est = 1.0 level is signature-identical pairs — on the
    # mutated corpus these are overwhelmingly true near-dups
    full = [r for r in rows if r["est_jaccard"] == 1.0]
    if full:
        assert full[0]["precision"] >= 0.9


# ------------------------------------------------------------------ #
# dedup token savings
# ------------------------------------------------------------------ #


def test_dedup_savings_on_doubled_corpus(spark, tmp_path):
    """Every doc is planted twice, so at least half of every source's
    docs drop; NULL-text docs are never dropped."""
    rows = [(i, f"unique text {i} body", "en", "a") for i in range(4)]
    rows += [(100, None, "en", "nul"), (101, None, "en", "nul")]
    write_documents(str(tmp_path), rows)
    out = {
        r["source"]: r for r in query_rows(spark, "dedup_token_savings", str(tmp_path))
    }
    # doubled: source a has 8 rows, 4 clusters of 2 -> 4 dropped
    assert out["a"]["n_docs"] == 8
    assert out["a"]["n_dropped"] == 4
    assert out["a"]["savings_rate"] == 0.5
    # NULL text: 4 doubled rows, none dropped, no token base
    assert out["nul"]["n_docs"] == 4
    assert out["nul"]["n_dropped"] == 0
    assert out["nul"]["savings_rate"] is None


# ------------------------------------------------------------------ #
# keeper-chain bucket cap (round-9 regression)
# ------------------------------------------------------------------ #


def test_keeper_chain_banner_bucket_capped(spark, tmp_path):
    """100 identical banner docs (>21 words) saturate every prefix/
    suffix key bucket past the 64 cap, so the capped edge build links
    NONE of them: each banner trio keeps its own A-variant keeper and
    nothing is marked duplicate ACROSS banner docs.  Before the cap
    this corpus built ~45k edges from one bucket (the 23x shuffle
    blow-up the 10x audit measured)."""
    banner = " ".join(f"banner word {j} filler" for j in range(30))
    rows = [(i, banner, "en", "crawl") for i in range(100)]
    write_documents(str(tmp_path), rows)
    out = query_rows(spark, "dedup_keeper_transitive", str(tmp_path))
    assert len(out) == 300  # A/B/C variants of 100 docs
    # within-trio A<-B<-C linkage may also be cut (those edges ride
    # the same saturated buckets), so every doc must simply keep
    # itself: no CROSS-doc cluster survives the cap
    for r in out:
        assert r["keeper_id"] == r["doc_id"], r
        assert not r["is_duplicate"]


# ------------------------------------------------------------------ #
# wave 10b: compaction plan, quality keeper, decile lift
# ------------------------------------------------------------------ #


def test_compaction_plan_closed_form(spark, tmp_path):
    """Six 10-char docs against a 16384-byte target pack into one
    file; a single doc bigger than the target gets its own overflowing
    file (parquet row-group contract)."""
    rows = [(i, "abcdefghij", "en", "tiny") for i in range(6)]
    rows += [(50, "x" * 20000, "en", "jumbo"), (51, "y" * 100, "en", "jumbo")]
    write_documents(str(tmp_path), rows)
    out = {r["source"]: r for r in query_rows(spark, "file_compaction_plan", str(tmp_path))}
    assert out["tiny"]["n_files"] == 1
    assert out["tiny"]["total_bytes"] == 60
    # jumbo: doc 50 starts file 0 and overflows it (20000 > target);
    # doc 51's prefix (20000) lands in file 20000//16384 = 1
    assert out["jumbo"]["n_files"] == 2
    assert out["jumbo"]["max_file_bytes"] == 20000
    assert out["jumbo"]["ideal_files"] == 2  # ceil(20100/16384)


def test_quality_keeper_prefers_more_unique_words(spark, tmp_path):
    """Two docs sharing a prefix-10: the min-id rule keeps doc 0, the
    quality rule keeps doc 1 (more distinct words) — one changed
    keeper, token delta = len(doc1) - len(doc0)."""
    pfx = "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9"
    low = pfx + " rep rep rep rep"  # 14 tokens, 11 unique
    high = pfx + " uniq1 uniq2 uniq3 uniq4"  # 14 tokens, 14 unique
    write_documents(str(tmp_path), [(0, low, "en", "s"), (1, high, "en", "s")])
    (r,) = query_rows(spark, "quality_keeper_selection", str(tmp_path))
    assert r["n_clusters"] == 1 and r["n_multi"] == 1
    assert r["n_keeper_changed"] == 1
    assert r["tokens_kept_delta"] == 0  # same length, different content


def test_decile_lift_monotone_bookkeeping(spark):
    rows = query_rows(spark, "score_decile_lift", SF_DIR_MID)
    assert [r["decile"] for r in rows] == list(range(1, 11))
    total = sum(r["n_customers"] for r in rows)
    # ntile balance: deciles differ by at most one customer
    sizes = [r["n_customers"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # decile 10 cumulative lift is exactly 1.0 (everything / base)
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-9
    for r in rows:
        assert 0 <= r["n_responders"] <= r["n_customers"]
