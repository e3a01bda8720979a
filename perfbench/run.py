#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics and writes the spans
to ``perfbench/out/<workload>-seed<seed>.trace.json``. Workloads and
metrics are described in ``perfbench/README.md``.

``--record-goldens`` runs the selected workload's queries twice cold and
stores their row counts and checksums in ``perfbench/goldens.json``
instead of benchmarking.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("olap_star", "llm_curation_10x", "etl_load")


def _sweep_dead_runs(runs: str) -> None:
    """Remove run directories left by killed runs (their pid is gone)."""
    for name in os.listdir(runs) if os.path.isdir(runs) else ():
        try:
            os.kill(int(name), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass  # not a run directory, or a live process of another user


def run(workload: str, seed: int, seconds: float, trace: bool, record: bool = False) -> dict:
    """Run one workload and return the result object that is printed."""
    from perfbench import workloads as w
    from perfbench.trace import Tracer

    runs = os.path.join(w.HERE, ".run")
    _sweep_dead_runs(runs)
    run_dir = os.path.join(runs, str(os.getpid()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python, the JVM and the Python workers all keep their temp files
    # inside the run directory, which is removed at exit
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    r = w.Run(workload, seed, seconds, trace, run_dir, tracer=Tracer() if trace else None)
    try:
        if workload == "etl_load":
            measured = w.etl_workload(r)
        else:
            names = w.OLAP_QUERIES if workload == "olap_star" else w.LLM_QUERIES
            measured = w.query_workload(r, names, record=record)
    finally:
        if r.spark is not None:
            r.spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is still using it
    if record:
        return {}

    if trace:
        measured["session.get_spark_s"], measured["session.warmup_s"] = r.setup
        metrics = {k: (measured.get(k, 0.0), u) for k, u in w.LAYER_UNITS.items()}
        os.makedirs(w.OUT, exist_ok=True)
        r.tracer.dump(
            os.path.join(w.OUT, f"{workload}-seed{seed}.trace.json"),
            {"workload": workload, "seed": seed, "per_layer": measured},
        )
    else:
        measured["setup_s"] = sum(r.setup)
        metrics = {k: (measured[k], u) for k, u in w.E2E_UNITS.items()}
    correct = r.failed == 0 and all(math.isfinite(v) for v, _ in metrics.values())
    return {
        "correct": correct,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fail before generating anything when the engine is not beside us
    import rpa_etl_investing_spark.plans  # noqa: F401

    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.record_goldens)
    finally:
        _stop_jvm()
    if args.record_goldens:
        return 0
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
