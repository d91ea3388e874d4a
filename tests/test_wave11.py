"""Round-10 planted-data tests: the corpus-sized audio fingerprint
width (the round-9 `weak` item), the Python<->SQL width-ladder parity,
and planted-twin recall for both multimodal near-dup cells on the
full-entropy generators.  Each pins a property the driver's hash-match
gate can't see (parity-green-but-wrong: both engines computing the
same wrong width would still hash-match)."""

from __future__ import annotations

import duckdb

from stockpulse_spark.plans import REGISTRY
from stockpulse_spark.llmdata.widths import (
    _W_MAX,
    _W_MIN,
    _width_case_sql,
    fp_width_bits,
)
from tests.conftest import query_rows, write_documents


# ------------------------------------------------------------------ #
# width ladder
# ------------------------------------------------------------------ #


def test_fp_width_ladder_python_sql_parity():
    """The oracle's CASE ladder and fp_width_bits must agree at every
    boundary — a one-off at a power of two would silently shear the
    two engines at exactly one corpus size."""
    con = duckdb.connect()
    probes = [0, 1, 2, 255, 256, 257]
    for w in range(_W_MIN, _W_MAX + 2):
        probes += [(1 << w) - 1, 1 << w, (1 << w) + 1]
    for n in probes:
        (sql_w,) = con.execute(
            f"SELECT {_width_case_sql()} FROM (SELECT {n}::BIGINT AS n)"
        ).fetchone()
        assert sql_w == fp_width_bits(n), f"n={n}: {sql_w} != ladder"


def test_band_bucket_cap_python_sql_parity():
    """The oracle's cap expression (ws CTE) and band_bucket_cap must
    agree — same integer-ceil, same headroom, same clamp behavior."""
    from stockpulse_spark.llmdata.widths import (
        _CAP_HEADROOM,
        band_bucket_cap,
    )

    con = duckdb.connect()
    for n in [0, 1, 255, 256, 257, 10_000, 100_000, 10_000_000]:
        w = fp_width_bits(n)
        (sql_cap,) = con.execute(
            f"SELECT {_CAP_HEADROOM} * GREATEST(1, "
            f"({n} + (1 << {w}) - 1) // (1 << {w}))"
        ).fetchone()
        assert sql_cap == band_bucket_cap(n, w), (n, w)
    # below the w=20 clamp the auto cap is the constant headroom
    assert band_bucket_cap(100_000, fp_width_bits(100_000)) == _CAP_HEADROOM
    # past the clamp it grows with n/2^20 (keeps candidates linear)
    assert band_bucket_cap(10_000_000, 20) == _CAP_HEADROOM * 10


def test_oracles_interpolate_width_ladder_and_cap():
    """Both multimodal near-dup oracles must embed the GENERATED width
    ladder and cap formula (llmdata/widths.py f-string interpolation),
    never a hardcoded width or cap literal — a constant edit that
    reaches only one engine is the exact drift class the audio query's
    CASE ladder was built to prevent (round-10 ADVICE item a asked for
    the same pin on the image side)."""
    from stockpulse_spark.llmdata.widths import _CAP_HEADROOM, _width_case_sql

    ladder = _width_case_sql()
    cap_formula = f"{_CAP_HEADROOM} * GREATEST(1,"
    for q in ("image_phash_near_dup", "audio_fingerprint_near_dup"):
        sql = REGISTRY[q].oracle
        assert ladder in sql, f"{q}: width ladder not interpolated"
        assert cap_formula in sql, f"{q}: cap formula not interpolated"


def test_fp_width_scales_with_corpus():
    """The property the round-9 weak mark was about: per-band key
    space 2^w must track the corpus, clamped to [8, 20]."""
    assert fp_width_bits(0) == 8
    assert fp_width_bits(256) == 8
    assert fp_width_bits(257) == 9
    assert fp_width_bits(120_000) == 17
    assert fp_width_bits(1 << 40) == 20  # clamp; formula documented
    # monotone non-decreasing
    last = 0
    for n in range(0, 1 << 12, 37):
        w = fp_width_bits(n)
        assert w >= last
        last = w


# ------------------------------------------------------------------ #
# planted-twin recall on the full-entropy generators
# ------------------------------------------------------------------ #


def test_audio_twin_recall_and_tau(spark, tmp_path):
    """Every doc plants a +8-amplitude twin (vids 2d, 2d+1).  The
    fingerprint must recover most of them at tau=3, and every returned
    pair must satisfy the verify threshold.  Uses big spread-out
    doc_ids so the full-entropy seed (d ^ d>>11 ^ d>>22) is exercised
    beyond the old period-2048 regime."""
    rows = [
        (d * 7919 + 4_100_000, f"clip {d}", "en", "s") for d in range(120)
    ]
    write_documents(str(tmp_path), rows)
    out = query_rows(spark, "audio_fingerprint_near_dup", str(tmp_path))
    assert all(r["hamming"] <= 3 for r in out)
    pairs = {(r["vid_1"], r["vid_2"]) for r in out}
    twins = sum(
        1 for (d, *_rest) in rows if (2 * d, 2 * d + 1) in pairs
    )
    assert twins >= 0.7 * len(rows), f"twin recall {twins}/{len(rows)}"


def test_image_twin_recall_and_tau(spark, tmp_path):
    """Image analog: a posterized (//8*8) re-export twin per doc —
    measured twin hamming mean 0.52, so tau=3 recall is ~0.99.
    Full-entropy pixel seed => essentially no cross-doc dups, so the
    output is dominated by the planted pairs."""
    rows = [
        (d * 104729 + 9_000_000, f"img {d}", "en", "s") for d in range(100)
    ]
    write_documents(str(tmp_path), rows)
    out = query_rows(spark, "image_phash_near_dup", str(tmp_path))
    assert all(r["hamming"] <= 3 for r in out)
    pairs = {(r["vid_1"], r["vid_2"]) for r in out}
    twins = sum(
        1 for (d, *_rest) in rows if (2 * d, 2 * d + 1) in pairs
    )
    assert twins >= 0.9 * len(rows), f"twin recall {twins}/{len(rows)}"


def test_audio_width_override_controls_band_width(spark, tmp_path):
    """SPARK_AUDIO_FP_WIDTH pins the Spark-side width (measurement
    harness only): wider bands => band values exceed the 8-bit range
    at least somewhere on a 64-doc corpus."""
    rows = [(d + 123_456, f"clip {d}", "en", "s") for d in range(64)]
    write_documents(str(tmp_path), rows)
    from stockpulse_spark.plans.multimodal import (
        _attach_wav_variants,
        wav_fingerprint_bands,
    )
    from stockpulse_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ids = (
        load_table(spark, str(tmp_path), "documents")
        .select("doc_id")
        .distinct()
    )
    wide = wav_fingerprint_bands(_attach_wav_variants(ids), w_bits=16)
    mx = wide.agg(
        F.max("b0").alias("m0"), F.max("b3").alias("m3")
    ).collect()[0]
    assert mx["m0"] > 255 or mx["m3"] > 255
    narrow = wav_fingerprint_bands(_attach_wav_variants(ids), w_bits=8)
    nmx = narrow.agg(F.max(F.greatest("b0", "b1", "b2", "b3"))).collect()[0][0]
    assert nmx <= 255
