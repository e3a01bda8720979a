#!/usr/bin/env python
"""Benchmark harness — the driver runs this per-round at sf0.1.

Runs the headline queries from the registry against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Beside the timings, ``codegen`` gives per query the generated classes
compiled during its timed reps and the milliseconds spent compiling
them: after the warm-up every shape should be in the session's codegen
cache, so a non-zero count names a query that recompiles.

Execution is a ``noop``-format write so every query runs end-to-end on
executors (full scan → shuffle → sink) without driver-side collect —
the same way you'd measure on a cluster. One warm-up pass on the
smallest fixture primes the JVM/codegen so timings reflect steady
state, not first-query JIT.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from rpa_etl_investing_spark.session import codegen_stats, get_spark

# Headline set: one representative per heavy operator family (scan-agg,
# broadcast star join, top-k, window, as-of merge, event-time bucketing,
# exact + MinHash dedup, vector similarity, text stats).
HEADLINE = {
    "q1_pricing_summary": "agg_pricing_summary",
    "q2_flagship_topk": "flagship_topk",
    "q3_star_broadcast_join": "join_star_broadcast",
    "q4_window_topk_per_group": "window_topk_per_group",
    "q5_asof_join": "asof_join_last_purchase",
    "q6_event_time_buckets": "datetime_bucket_agg",
    "q7_exact_dedup": "llm_exact_dedup",
    "q8_minhash_pairs": "llm_minhash_pairs",
    "q9_similarity_bruteforce": "llm_similarity_bruteforce",
    "q10_token_stats": "llm_token_stats",
    "q11_shipping_priority": "analytics_shipping_priority",
    "q12_similarity_ivf": "llm_similarity_ivf",
    # r5 rotation: track newer operator-family cost round-over-round.
    # The original 12-query subtotal is still reported (subtotal_12) so
    # totals stay comparable with BENCH_r01-r04 / BASELINE.md.
    #
    # NOT benched: llm_prefix_filter_pairs. Exact τ=0.6 set-similarity
    # output is QUADRATIC on this fixture (template near-dup clusters
    # grow linearly with SF ⇒ 71k pairs at sf0.01 → 7.1M at sf0.1,
    # ~2 min even with PPJoin's length+positional filters); the scale
    # path for that question is the capped MinHash banding already
    # benched as q8. The exact join stays correctness-gated at sf0.01.
    "q13_zorder_layout": "source_zorder_layout",
    "q14_simhash64_pairs": "llm_simhash64_hamming_pairs",
    "q15_heavy_hitters": "llm_heavy_hitters",
    # r6: skew/AQE stress (VERDICT r5 next-round #7) — the same-key
    # self-join whose whale keys AQE's skew split would carve up at
    # scale; tracked so the skew machinery has a number like the dedup
    # family does.
    "q16_skew_dup_payments": "etl_duplicate_payment_scan",
    # r6: the composed ANN production layout (coarse quantizer + PQ
    # codes + ADC ranking) — tracks the encode-plus-probe cost the way
    # q12 tracks IVF-flat.
    "q17_ivfpq_adc": "llm_ivfpq_adc_search",
}

# Queries whose final adaptive plan is inspected for AQE skew handling
# after the timed reps; at sf0.1 the post-shuffle partitions sit below
# spark.sql.adaptive.skewJoin thresholds so `skew=true` is expected
# False here — the field exists so a scale-up run shows the flip.
_AQE_PROBE = ["q16_skew_dup_payments"]

# the set whose sum is comparable with the r1 baseline recording
_ORIGINAL_12 = [f"q{i}_" for i in range(1, 13)]


def _run(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from rpa_etl_investing_spark.plans import QUERIES

    # pre-touch a fixed-size heap: lazily-grown JVM memory first-faults
    # inside the VM at ~GB/s of pure kernel time, which otherwise lands
    # in whichever query grows the heap and dominates its timing
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch"
        },
    )
    warm_dir = "/root/testdata/sf0.001"
    for bench_name, reg_name in HEADLINE.items():
        try:
            _run(spark, QUERIES[reg_name].fn, warm_dir)
        except Exception:
            pass  # warm-up failures surface in the timed pass

    # 5 reps per query: first executions still pay JIT (the warm-up
    # compiled their generated classes; ``codegen`` shows any that were
    # not), and the host steals CPU in multi-second bursts (measured:
    # identical code varies ±30% run-to-run, and median-of-3 still
    # wandered ~15% between same-code runs). The HEADLINE metric is the
    # median — min systematically reports the optimistic tail and can
    # hide a real regression behind one lucky run (r3 verdict item #3);
    # min is kept as a secondary column so the noise floor stays visible.
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    codegen: dict[str, dict[str, float]] = {}
    for bench_name, reg_name in HEADLINE.items():
        compiles0, ms0 = codegen_stats(spark)
        reps = sorted(_run(spark, QUERIES[reg_name].fn, sf_dir) for _ in range(5))
        compiles1, ms1 = codegen_stats(spark)
        timings[bench_name] = round(reps[2], 3)
        timings_min[bench_name] = round(reps[0], 3)
        codegen[bench_name] = {"compiles": compiles1 - compiles0, "compile_ms": round(ms1 - ms0, 1)}

    aqe_skew: dict[str, bool] = {}
    for bench_name in _AQE_PROBE:
        # checksum-wrapper: execute the SAME QueryExecution we inspect
        # (a noop write plans a fresh one, and an unexecuted adaptive
        # plan never shows AQE's runtime skew decision) while forcing
        # every output column through the join — a bare count() lets
        # Catalyst prune the payload and understates the shuffle
        from pyspark.sql import functions as F

        df = QUERIES[HEADLINE[bench_name]].fn(spark, sf_dir)
        probe = df.select(F.xxhash64(F.struct(*df.columns)).alias("_h")).agg(F.sum(F.col("_h").cast("decimal(38,0)")))
        probe.collect()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        aqe_skew[bench_name] = "skew=true" in plan.split("== Initial Plan ==")[0]

    sub12 = sum(
        t
        for name, t in timings.items()
        if any(name.startswith(p) for p in _ORIGINAL_12)
    )
    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "min_total": round(sum(timings_min.values()), 3),
        "subtotal_12": round(sub12, 3),
        "aqe_skew_join_applied": aqe_skew,
        "codegen": codegen,
        "sf": sf,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
