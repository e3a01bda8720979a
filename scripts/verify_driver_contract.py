#!/usr/bin/env python
"""Drive the driver contract end-to-end, exactly as the round driver does.

Imports ``__spark_entry__`` (the public surface), runs ``entry(spark)``
as the smoke check, then every ``queries()`` entry at the given sf_dir
with its ``oracle_sql()`` counterpart on DuckDB, comparing row count,
column names and order-insensitive values. Prints one line per query
and a JSON summary. The summary also reports what the sweep leaves
behind: ``cache_manager_empty`` (no cached plan in the session) and
``rdd_blocks_after_gc`` (RDDs still holding blocks after a Python and a
JVM garbage collection, polled for up to 30 s).

The SparkSession is deliberately BARE — ``SparkSession.builder`` with no
repo confs — because that is what the round driver hands to ``queries()``.
Round 1's only hard failure (events TIMESTAMP(NANOS)) escaped precisely
because this script used the repo's tuned ``get_spark()``; every query
must now be self-sufficient on a vanilla session (verdict item #4).
Pass ``--factory`` to use the tuned session instead (for perf triage).

Usage: python scripts/verify_driver_contract.py [sf_dir] [name_filter]
           [--factory] [--threads N]

``--threads N`` issues the queries from an N-thread pool against the one
shared SparkSession (r6 verdict item #3: concurrent-session safety) —
same comparisons, per-thread DuckDB connections.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    raw = sys.argv[1:]
    use_factory = "--factory" in raw
    n_threads = 1
    args = []
    skip_next = False
    for i, a in enumerate(raw):
        if skip_next:
            skip_next = False
            continue
        if a == "--factory":
            continue
        if a == "--threads":
            n_threads = int(raw[i + 1])
            skip_next = True
        elif a.startswith("--threads="):
            n_threads = int(a.split("=", 1)[1])
        else:
            args.append(a)
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    name_filter = args[1] if len(args) > 1 else None

    import __spark_entry__ as contract
    from tests.parity import (
        cache_manager_empty,
        compare_frames,
        duck_connection,
        hashed_compare,
        rdd_blocks_after_gc,
    )

    # r10: the declared-wall skip hook (SPARK_GRAFT_SKIP, r8) is
    # RETIRED — the two former quadratic-output walls now evaluate on
    # the pinned doc_id < EXACT_GATE_DOCS gate corpus (identical to the
    # full fixture at sf <= 0.1) and execute at sf1, so every registry
    # name gets an executed verdict at every scale. n_skipped stays in
    # the summary for artifact compatibility; it is always 0.
    skip_names: set[str] = set()

    if use_factory:
        from rpa_etl_investing_spark import get_spark

        spark = get_spark(app_name="verify-driver-contract")
    else:
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = SparkSession.builder.master(f"local[{cpus}]").appName(
            "verify-driver-contract-bare"
        )
        # The default heap stays Spark's default (driver-identical). The
        # sf0.1 stress run (10× the driver's correctness scale) needs more
        # than the 1g default under local[32] — opt in explicitly:
        #   SPARK_GRAFT_DRIVER_MEM=8g python scripts/verify_driver_contract.py /root/testdata/sf0.1
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if mem:
            builder = builder.config("spark.driver.memory", mem)
        spark = builder.getOrCreate()

    t0 = time.time()
    smoke = contract.entry(spark)
    n_smoke = len(smoke.collect())
    print(f"entry(): {n_smoke} rows [{time.time() - t0:.1f}s] "
          f"{'OK' if n_smoke > 0 else 'FAIL (0 rows)'}")

    queries = contract.queries()
    oracles = contract.oracle_sql()
    names = [n for n in sorted(queries) if not name_filter or name_filter in n]

    def check_one(name: str, con) -> str:
        if name in skip_names:
            return "SKIPPED (declared wall: SPARK_GRAFT_SKIP)"
        try:
            sdf = queries[name](spark, sf_dir)
            if name in oracles:
                # Size gate (r9, verdict item #6): above
                # SPARK_GRAFT_HASH_GATE_ROWS (default 1M) both engines
                # reduce to an order-insensitive checksum instead of
                # materializing to pandas twice — the r8 sf1 pass spent
                # 874 s on ONE 24M-row pandas round-trip. Ineligible
                # pairs (small, exotic types) fall through to the exact
                # path; None means "not taken".
                hashed = hashed_compare(sdf, con, oracles[name])
                if hashed is not None:
                    return "MATCH (hashed)" if not hashed else (
                        "MISMATCH: " + "; ".join(hashed)
                    )
                spark_pdf = sdf.toPandas()
                duck_pdf = con.execute(oracles[name]).df()
                problems = compare_frames(spark_pdf, duck_pdf)
                return "MATCH" if not problems else (
                    "MISMATCH: " + "; ".join(problems)
                )
            return f"ROWS_ONLY ({len(sdf.toPandas())} rows)"
        except Exception as e:  # noqa: BLE001 — report, don't crash the sweep
            return f"ERROR: {type(e).__name__}: {e}"

    results: dict[str, str] = {}
    if n_threads <= 1:
        con = duck_connection(sf_dir)
        for name in names:
            t0 = time.time()
            results[name] = check_one(name, con)
            print(f"  {name}: {results[name]} [{time.time() - t0:.1f}s]")
    else:
        # Concurrent-issue mode (r6 verdict item #3): a real engine
        # serves parallel queries. One SparkSession shared across a
        # thread pool (supported: each action is an independent job);
        # DuckDB connections are NOT shared — one per worker thread.
        import threading
        from concurrent.futures import ThreadPoolExecutor

        tls = threading.local()
        plock = threading.Lock()

        def worker(name: str) -> None:
            if not hasattr(tls, "con"):
                tls.con = duck_connection(sf_dir)
            t0 = time.time()
            status = check_one(name, tls.con)
            with plock:
                results[name] = status
                print(f"  {name}: {status} [{time.time() - t0:.1f}s]")

        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            list(pool.map(worker, names))

    bad = {k: v for k, v in results.items() if v.startswith(("MISMATCH", "ERROR"))}
    summary = {
        "sf_dir": sf_dir,
        "threads": n_threads,
        "entry_rows": n_smoke,
        "n_queries": len(results),
        "n_oracle_matched": sum(
            1 for v in results.values() if v.startswith("MATCH")
        ),
        "n_hashed": sum(
            1 for v in results.values() if v == "MATCH (hashed)"
        ),
        "n_rows_only": sum(1 for v in results.values() if v.startswith("ROWS_ONLY")),
        "n_skipped": sum(1 for v in results.values() if v.startswith("SKIPPED")),
        "skipped": sorted(
            k for k, v in results.items() if v.startswith("SKIPPED")
        ),
        "n_bad": len(bad),
        "bad": bad,
        # what the sweep leaves behind: no cached plan, and no RDD blocks
        # once the finished queries' plans are garbage-collected
        "cache_manager_empty": cache_manager_empty(spark),
        "rdd_blocks_after_gc": rdd_blocks_after_gc(spark),
    }
    print(json.dumps(summary))
    return 1 if (bad or n_smoke == 0) else 0


if __name__ == "__main__":
    sys.exit(main())
