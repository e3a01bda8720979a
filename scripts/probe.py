#!/usr/bin/env python
"""Probe registered queries through the benchmark's own traced run.

    python scripts/probe.py SF_DIR [QUERY ...]

Each query (default: the ``bench.HEADLINE`` set) runs once, cold, through
``perfbench.workloads.run_query`` with tracing on, after one warm-up pass
over ``perfbench.workloads.WARM_DIR``. One JSON line per query goes to
stdout: wall time, row count and checksum of the checksum sink, the plan
features and job counters of ``perfbench.trace``, and each layer's self
time. A query that raises prints an ``error`` line and the probe goes on.

Nothing is written: a scale comparison runs the probe on two fixtures
and diffs the lines, and a SCALE.md addendum quotes them by hand.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import workloads as w  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def probe(run: w.Run, name: str, sf_dir: str) -> dict:
    """One cold traced run of registry query ``name``, as a JSON-ready dict."""
    sample, (rows, checksum) = w.run_query(run, name, sf_dir, f"probe:{name}", traced=True)
    return {
        "query": name,
        "sf_dir": sf_dir,
        "wall_s": sample.wall,
        "rows": rows,
        "checksum": checksum,
        # the plan-shape counters are always present, zero included
        "counters": {"exchanges": 0, "broadcasts": 0, "sort_merge_joins": 0, **sample.counters},
        "layers": sample.layers,
    }


def main(argv: list[str]) -> int:
    if not argv:
        raise SystemExit(__doc__)
    from bench import HEADLINE

    sf_dir, names = argv[0], argv[1:] or list(HEADLINE.values())
    run_dir = tempfile.mkdtemp(prefix="probe-")
    os.makedirs(os.path.join(run_dir, "tmp"))
    run = w.Run("probe", 0, 0.0, True, run_dir, tracer=Tracer())

    def warm_up(r: w.Run) -> None:
        for name in names:
            try:
                w.run_query(r, name, w.WARM_DIR, "warm", traced=False)
            except Exception:  # noqa: BLE001 - the probed run reports it
                pass

    try:
        w.set_up(run, warm_up)
        for name in names:
            try:
                line = probe(run, name, sf_dir)
            except Exception as e:  # noqa: BLE001 - report the query and go on
                line = {"query": name, "sf_dir": sf_dir, "error": repr(e)[:500]}
            print(json.dumps(line), flush=True)
    finally:
        if run.spark is not None:
            run.spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
