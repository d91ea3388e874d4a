"""Source-level sweep for the synthetic-id collision class the 100x
decade smoke caught (round 8b): additive id offsets (doc_id + 1M
etc.) silently assume the input id range never reaches the offset —
false at scale.  Synthetic ids in any id-space that joins or groups
must be residue-class encoded (original = k*i, plant_j = k*i + j).

The sweep greps the non-test source for additive big-constant offsets
on id columns; every hit must be in the allowlist below with a
justification (a namespace that never joins against real ids)."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

SRC = Path(__file__).resolve().parent.parent / "stockpulse_spark"

#: additive offset of >= 6 digits applied to an id-class column.
#: Round 9 (advisor finding): quote-agnostic, keyed on the whole
#: *_id / *key column class rather than six hardcoded names, and
#: catches offsets routed through F.lit() — so renamed intermediates
#: (planted_id, __key) and single-quoted spellings can't slip the gate.
#: Round 10 (advisor): the bare `key` suffix is anchored to the known
#: id stems — `_key`/`_id` plus the TPC-H `*key` family (orderkey,
#: partkey, ... carry no underscore) — so an identifier merely ending
#: in the letters 'key' (`monkey + 1000000`) no longer false-positives
#: while `band_hash_key` and `l_orderkey` still trip the gate.
_PATTERN = re.compile(
    r"[A-Za-z_]\w*(?:_id|_key"
    r"|(?:order|part|supp|cust|nation|region|vec|event|doc|user)_?key)"
    r"['\"]?\s*\)*\s*\+\s*(?:F\.lit\(\s*)?[1-9][0-9]{5,}"
)

#: (file, top-level definition) -> how many additive offsets it may
#: hold, and why they are collision-tolerant. Keyed per definition, not
#: per file: a whole-file exemption on a domain module would also cover
#: every other query in it.
ALLOWED = {
    # batch_id is a LABEL namespace: the incremental gate joins on
    # content hashes and band hashes, never on batch_id == doc_id,
    # so a collision cannot alias rows (verdicts key on batch_id
    # alone). The offset only keeps the label readable in tests.
    # Oracle side (3 SELECT branches) and Spark side (3 selects).
    ("plans/text_dedup.py", "_BATCH_CTE"): 3,
    ("plans/text_dedup.py", "q_incremental_dedup_gate"): 3,
    # the decontamination plants (now in plans/text_dedup.py) left
    # this list in round 9: they migrated to residue-class ids (k=4,
    # cohort offsets 0-3) for uniformity with the engine-wide scheme.
}


def _owners(src: str) -> dict[int, str]:
    """line number -> name of the top-level definition spanning it."""
    out = {}
    for node in ast.parse(src).body:
        names = [node.name] if hasattr(node, "name") else [
            t.id for t in getattr(node, "targets", []) if isinstance(t, ast.Name)
        ]
        for line in range(node.lineno, node.end_lineno + 1):
            out[line] = names[0] if names else ""
    return out


def _hits():
    out = []
    for p in SRC.rglob("*.py"):
        rel = str(p.relative_to(SRC))
        src = p.read_text()
        owners = _owners(src)
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if _PATTERN.search(code):
                out.append((rel, owners.get(i, ""), i, line.strip()))
    return out


def test_no_additive_id_offsets_outside_allowlist():
    bad = [h for h in _hits() if (h[0], h[1]) not in ALLOWED]
    assert not bad, (
        "additive synthetic-id offsets found outside the allowlist — "
        "use residue-class ids (k*i + j) instead; collisions at scale "
        f"alias planted rows silently: {bad}"
    )


def test_allowlist_entries_still_exist():
    """Each allowlisted definition must hold exactly its allowed number
    of offsets: fewer means the entry is stale (tighten it), more means
    a new offset slipped in under an old justification."""
    counts = Counter((f, owner) for f, owner, _, _ in _hits())
    wrong = {k: counts[k] for k, n in ALLOWED.items() if counts[k] != n}
    assert not wrong, f"allowlist counts no longer match: {wrong}"


def test_sweep_fires_on_planted_violation():
    """Negative control: the regex must match the exact shape the
    100x smoke caught, in both Spark and SQL spellings."""
    assert _PATTERN.search('(F.col("doc_id") + 1000000).alias("doc_id")')
    assert _PATTERN.search("SELECT doc_id + 4000000 AS planted_id")
    # round-9 widenings: single quotes, renamed intermediates,
    # arbitrary *key columns, and offsets routed through F.lit()
    assert _PATTERN.search("(F.col('doc_id') + 1000000)")
    assert _PATTERN.search("planted_id + 3000000")
    assert _PATTERN.search('F.col("p_partkey") + 5000000')
    assert _PATTERN.search('F.col("vec_id") + F.lit(1000000)')
    # and must NOT match residue-class ids or small literals
    assert not _PATTERN.search('(F.col("doc_id") * 4 + 1).alias("doc_id")')
    assert not _PATTERN.search("SELECT doc_id + 1 AS next_id")
