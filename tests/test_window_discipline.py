"""Source-level tripwire for unpartitioned windows — r9 verdict item #2.

An unpartitioned window (``W.orderBy(...)`` with no ``partitionBy``)
moves its whole input to ONE task. That is fine exactly when the input
relation has a documented O(domain) bound (calendar days, a post-limit
top-k head, a quantization-grid distinct-value table, a constant
offsets frame) and a scale-killer otherwise (anything entity- or
fact-sized — the r9 Gini/Pareto finding, fixed by the sharded running
sum in operators/prefix.py).

Discipline enforced here: every syntactically-unpartitioned window
construction in the engine must carry a literal ``# bounded-window:
<reason>`` marker within the 3 preceding lines, stating the bound. A
new unpartitioned window without the marker fails this suite until its
author either documents the bound or re-routes through the sharded
scan. This is the same tripwire posture as the broadcast-hint sweep
(test_no_broadcast_hint_on_sf_scaling_tables_full_registry).
"""

from __future__ import annotations

import pathlib
import re

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "rpa_etl_investing_spark"

# matches `W.orderBy(` / `Window.orderBy(` as a direct receiver (a
# chained `.partitionBy(...).orderBy(` never matches: the receiver
# there is the partitioned spec, not the Window class)
_UNPARTITIONED = re.compile(r"(?<![\w.])(?:W|Window)\s*\.orderBy\(")
# an explicit empty partitionBy() is the same single-partition plan
_EMPTY_PARTITION = re.compile(r"(?<![\w.])(?:W|Window)\s*\.partitionBy\(\s*\)")


def _sites(pattern: re.Pattern) -> list[tuple[str, int, str, list[str]]]:
    out = []
    for p in sorted(ENGINE.rglob("*.py")):
        lines = p.read_text().splitlines()
        for i, line in enumerate(lines):
            if pattern.search(line) and ".partitionBy" not in line:
                out.append((str(p), i + 1, line.strip(), lines[max(0, i - 3) : i]))
    return out


def test_every_unpartitioned_window_documents_its_bound():
    unmarked = [
        (path, ln, line)
        for path, ln, line, ctx in _sites(_UNPARTITIONED)
        if not any("bounded-window:" in c for c in ctx)
    ]
    assert not unmarked, (
        "unpartitioned window(s) without a '# bounded-window: <reason>' "
        f"marker — document the input bound or use operators/prefix.py: {unmarked}"
    )


def test_no_empty_partition_by():
    hits = _sites(_EMPTY_PARTITION)
    assert not hits, (
        "W.partitionBy() with no keys is an unpartitioned window in "
        f"disguise — use a 1-row broadcast aggregate instead: {hits}"
    )


def test_marker_inventory_is_nonempty():
    # the tripwire only means something while the marked sites exist;
    # if a refactor removes them all, revisit the regexes above
    marked = _sites(_UNPARTITIONED)
    assert len(marked) >= 15, [s[:3] for s in marked]
