"""Multimodal fingerprint width curve (round 10 audio, round 11 image).

Measures, at a replicated documents corpus, how the pigeonhole
candidate volume, verified-pair volume, planted-twin recall, and wall
time move as the per-band fingerprint width w sweeps the supported
range — the evidence behind fp_width_bits' corpus-sized choice
(llmdata/widths.py).  The round-9 audio design pinned w=8 (256
keys/band) forever: candidates are Theta(n^2/2^w) per band, so the
fixed width is the measured 22.57x shuffle growth in SHUFFLE_r09.md.
This curve shows the volume collapsing toward Theta(n) as 2^w passes
n, and what the fixed tau=3 verify budget does to planted-twin recall
as the bit budget (4w) grows.

Round 11 adds `--modality image`: the image cell shares the exact
machinery (4 x w aHash grid, composite (quarter, dims) keys,
band_bucket_cap), so the same curve certifies its scale shape.

Usage:
    python tools/fp_width_curve.py [--modality audio|image]
        [sf_dir_replica] [widths...]
    (default widths: 8 10 12 14 16 17 18 20 — 17 is
     fp_width_bits(100k), the auto choice at a 10x corpus)

One JSON line to stdout; progress to stderr.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from stockpulse_spark.llmdata.dedup import capped_band_pairs  # noqa: E402
from stockpulse_spark.llmdata.widths import (  # noqa: E402
    band_bucket_cap,
    fp_width_bits,
)
from stockpulse_spark.session import get_spark  # noqa: E402
from stockpulse_spark.sources.tables import load_table  # noqa: E402


def _audio_keyed(ids, w: int):
    from stockpulse_spark.plans.multimodal import (
        _NS_MOD,
        _attach_wav_variants,
        wav_fingerprint_bands,
    )

    fp = wav_fingerprint_bands(_attach_wav_variants(ids), w_bits=w).filter(
        F.col("b0").isNotNull()
    )
    return fp.select(
        "vid",
        *[
            (F.col(f"b{i}") * _NS_MOD + F.col("ns")).alias(f"k{i}")
            for i in range(4)
        ],
    )


def _image_keyed(ids, w: int):
    from stockpulse_spark.plans.multimodal import (
        _DIMS_MOD,
        _attach_png_variants,
        png_ahash_quarters,
    )

    q = png_ahash_quarters(_attach_png_variants(ids), w_bits=w).filter(
        F.col("q0").isNotNull()
    )
    return q.select(
        "vid",
        *[
            (F.col(f"q{i}") * _DIMS_MOD + F.col("dims")).alias(f"k{i}")
            for i in range(4)
        ],
    )


def main() -> None:
    args = sys.argv[1:]
    modality = "audio"
    if "--modality" in args:
        i = args.index("--modality")
        modality = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/tmp/sp_scale10x_a0pjeaht"
    widths = (
        [int(a) for a in args[1:]]
        if len(args) > 1
        else [8, 10, 12, 14, 16, 17, 18, 20]
    )
    keyed_fn = {"audio": _audio_keyed, "image": _image_keyed}[modality]
    spark = get_spark("fp_width_curve")
    spark.sparkContext.setLogLevel("ERROR")
    # data-proportional sizing at the 10x+ tiers (SCALE.md doctrine):
    # the w=8 floor point is Theta(n^2/256) candidate rows through the
    # distinct — 32 partitions would put GBs in one hash-agg task
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )
    n_docs = ids.count()
    auto_w = fp_width_bits(2 * n_docs)
    print(
        f"# corpus: {n_docs} docs, modality {modality}, auto width {auto_w}",
        file=sys.stderr,
    )
    out = {}
    for w in widths:
        t0 = time.time()
        cap = band_bucket_cap(2 * n_docs, w)
        keyed = keyed_fn(ids, w)
        pairs = capped_band_pairs(keyed, ("k0", "k1", "k2", "k3"), cap)
        hamming = (
            F.bit_count(F.expr("x0 ^ y0"))
            + F.bit_count(F.expr("x1 ^ y1"))
            + F.bit_count(F.expr("x2 ^ y2"))
            + F.bit_count(F.expr("x3 ^ y3"))
        ).cast("int")
        is_ver = hamming <= 3
        is_twin = is_ver & (F.col("vid_2") == F.col("vid_1") + 1) & (
            F.col("vid_1") % 2 == 0
        )
        # ONE aggregation pass — materializing the candidate frame at
        # w=8 (Theta(n^2/256) rows at 100k vids) OOMs a 16g heap
        row = pairs.agg(
            F.count(F.lit(1)).alias("cand"),
            F.sum(is_ver.cast("long")).alias("ver"),
            F.sum(is_twin.cast("long")).alias("twin"),
        ).collect()[0]
        n_cand, n_ver = row["cand"], row["ver"] or 0
        n_twin = row["twin"] or 0
        el = round(time.time() - t0, 2)
        out[str(w)] = {
            "cap": cap,
            "candidates": n_cand,
            "verified": n_ver,
            "twin_recall": round(n_twin / n_docs, 4),
            "sec": el,
            "auto": w == auto_w,
        }
        print(
            f"# w={w} cap={cap}: cand={n_cand} verified={n_ver} "
            f"recall={n_twin}/{n_docs} {el}s",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": f"{modality}_fp_width_curve",
                "sf_dir": sf_dir,
                "n_docs": n_docs,
                "auto_width": auto_w,
                "widths": out,
            }
        )
    )


if __name__ == "__main__":
    main()
