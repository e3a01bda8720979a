"""The benchmark's three workloads and the code that times them.

One client, closed loop: each operation starts when the previous one has
returned. Every timed query is cold (``spark.catalog.clearCache()`` runs
before it) and is sunk through one order-insensitive checksum aggregate,
so one ``collect`` gives one execution, one ``QueryExecution`` to inspect
and the value the correctness check compares.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import Tracer, catalyst_phases, gc_ms, job_counts, plan_features, storage

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
GOLDENS = os.path.join(HERE, "goldens.json")
OUT = os.path.join(HERE, "out")

OLAP_QUERIES = [
    "flagship_topk",
    "agg_pricing_summary",
    "join_star_broadcast",
    "window_topk_per_group",
    "asof_join_last_purchase",
    "datetime_bucket_agg",
    "analytics_shipping_priority",
    "source_zorder_layout",
    "etl_duplicate_payment_scan",
    "join_lateral_topk_per_key",
    "subquery_in_bulk_parts",
]
LLM_QUERIES = [
    "llm_exact_dedup",
    "llm_minhash_pairs",
    "llm_similarity_bruteforce",
    "llm_token_stats",
    "llm_similarity_ivf",
    "llm_simhash64_hamming_pairs",
    "llm_heavy_hitters",
    "llm_ivfpq_adc_search",
]

# Inputs. The two query workloads read fixed inputs, so one golden set
# per workload checks them; a seed picks only the query order (and the
# ETL batches, which the oracle checks).
DATA = os.path.join(HERE, "data")
WARM_DIR = os.path.join(DATA, "sf0.001")
OLAP_DIR = os.path.join(DATA, "sf0.1")
LLM_SRC = os.path.join(DATA, "sf0.1")
LLM_COPIES = 10
ETL_ROWS = 50_000
ETL_BATCHES = 3  # per round; every round loads into a fresh warehouse
ETL_WARM_BATCHES = 2
ETL_BAD_CELL_SHARE = 0.005
FLAGSHIP_READS = 3  # cold flagship reads after each load
# A run measures for at least --seconds and at least this much work.
MIN_PASSES = 1
MIN_ROUNDS = 1

DRIVER_MEM = "3g"

E2E_UNITS = {"setup_s": "s", "mix_s": "s", "query_p50_s": "s"}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "plans.construct_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.exchanges": "count",
    "exec.broadcasts": "count",
    "exec.sort_merge_joins": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.shuffle_records": "count",
    "exec.spill_bytes": "bytes",
    "exec.peak_memory_bytes": "bytes",
    "exec.gc_ms": "ms",
    "catalog.scan_files": "count",
    "catalog.scan_bytes": "bytes",
    "operators.python_ms": "ms",
    "operators.python_init_ms": "ms",
    "operators.python_bytes_sent": "bytes",
    "caching.persisted_relations": "count",
    "caching.cache_scans": "count",
    "caching.retained_mb": "MB",
    "caching.warm_mix_s": "s",
    "etl.load_s": "s",
    "etl.transform_s": "s",
    "etl.flagship_s": "s",
    "etl.jobs_per_batch": "count",
    "etl.files_written": "count",
    "etl.bytes_written": "bytes",
    "etl.rows_per_s": "1/s",
    "etl.stored_bytes_per_raw_byte": "ratio",
    "etl.rejected_ratio": "ratio",
    "trace.overhead_s": "s",
}

# per-query counter -> per-layer metric (summed over a pass)
_COUNTERS = {
    "jobs": "exec.jobs",
    "stages": "exec.stages",
    "tasks": "exec.tasks",
    "exchanges": "exec.exchanges",
    "broadcasts": "exec.broadcasts",
    "sort_merge_joins": "exec.sort_merge_joins",
    "shuffle_bytes": "exec.shuffle_bytes",
    "shuffle_records": "exec.shuffle_records",
    "spill_bytes": "exec.spill_bytes",
    "gc_ms": "exec.gc_ms",
    "scan_files": "catalog.scan_files",
    "scan_bytes": "catalog.scan_bytes",
    "python_ms": "operators.python_ms",
    "python_init_ms": "operators.python_init_ms",
    "python_bytes_sent": "operators.python_bytes_sent",
    "cached_rdds": "caching.persisted_relations",
    "cache_scans": "caching.cache_scans",
}
# span name -> per-layer metric and the factor from seconds to its unit
_SPANS = {
    "plans.construct": ("plans.construct_s", 1.0),
    "catalyst.analysis": ("catalyst.analysis_ms", 1e3),
    "catalyst.optimization": ("catalyst.optimization_ms", 1e3),
    "catalyst.planning": ("catalyst.planning_ms", 1e3),
    "exec": ("exec.s", 1.0),
}


@dataclass
class Run:
    """State of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    spark: object = None
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    setup: tuple = (0.0, 0.0)  # (get_spark_s, warmup_s)

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        self.log(f"FAILED {what}: {detail}")

    def log(self, msg: str) -> None:
        print(f"[{self.workload}] {msg}", file=sys.stderr, flush=True)


@dataclass
class Sample:
    name: str
    wall: float
    counters: Counter = field(default_factory=Counter)
    layers: dict = field(default_factory=dict)


# ---- inputs ----------------------------------------------------------------


def _cached(name: str, build) -> str:
    """Directory ``.cache/<name>``, built once by ``build(dir)``; later
    runs in the same checkout reuse it."""
    path = os.path.join(CACHE, name)
    if not os.path.exists(os.path.join(path, "_SIZES.json")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        sizes = build(tmp)
        with open(os.path.join(tmp, "_SIZES.json"), "w") as f:
            json.dump(sizes, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def data_dir(workload: str) -> str:
    if workload == "olap_star":
        return OLAP_DIR
    return _cached(
        f"llm-{LLM_COPIES}x-{os.path.basename(LLM_SRC)}",
        lambda d: gen.replicate_corpus(d, LLM_SRC, LLM_COPIES),
    )


def load_goldens() -> dict:
    try:
        with open(GOLDENS, encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


# ---- session ---------------------------------------------------------------


def start_spark(run: Run):
    """``get_spark`` with every scratch path inside the run directory."""
    from rpa_etl_investing_spark.session import get_spark

    tmp = os.path.join(run.run_dir, "tmp")
    return get_spark(
        app_name=f"perfbench-{run.workload}",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            # pre-touched fixed heap: lazily grown heap pages fault in at
            # GB/s of kernel time inside whichever query grows it
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(run.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run.run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def set_up(run: Run, warm) -> None:
    """Cold set-up: start the session (a fresh JVM) and warm it."""
    t0 = time.perf_counter()
    run.spark = start_spark(run)
    t1 = time.perf_counter()
    warm(run)
    run.setup = (t1 - t0, time.perf_counter() - t1)
    run.log(f"set-up: get_spark {t1 - t0:.2f} s, warm-up {run.setup[1]:.2f} s")


# ---- query workloads -------------------------------------------------------


def checksum(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.struct(*df.columns)).cast("decimal(38,0)")).alias("h"),
    )


def run_query(run: Run, name: str, sf_dir: str, qid: str, traced: bool, clear: bool = True):
    """One cold query. Returns (Sample, [rows, checksum])."""
    from rpa_etl_investing_spark.plans import QUERIES

    spark = run.spark
    fn = QUERIES[name].fn
    if clear:
        spark.catalog.clearCache()
    if not traced:
        t0 = time.perf_counter()
        row = checksum(fn(spark, sf_dir)).collect()[0]
        return Sample(name, time.perf_counter() - t0), [row["n"], str(row["h"])]

    sc, tr = spark.sparkContext, run.tracer
    jvm = sc._jvm
    gc0 = gc_ms(jvm)
    sc.setJobGroup(qid, name)
    with tr.span("query", qid) as root:
        with tr.span("plans.construct", qid, root) as construct:
            sink = checksum(fn(spark, sf_dir))
        with tr.span("exec", qid, root) as execute:
            row = sink.collect()[0]
    # counters are read after the query's spans close
    qe = sink._jdf.queryExecution()
    to_perf = time.perf_counter() - time.time()
    for phase, (start, dur) in catalyst_phases(jvm, qe).items():
        parent = construct if phase == "analysis" else execute
        tr.add(f"catalyst.{phase}", qid, parent, start + to_perf, dur)
    counters = plan_features(jvm, qe.executedPlan())
    counters.update(job_counts(sc, qid))
    counters["gc_ms"] = gc_ms(jvm) - gc0
    counters["cached_rdds"], counters["cached_bytes"] = storage(sc)
    sample = Sample(name, root.dur, counters, tr.self_times(qid))
    return sample, [row["n"], str(row["h"])]


def query_pass(run: Run, names, sf_dir, golden: dict | None, traced: bool, tag: str, clear=True):
    samples = []
    for name in names:
        run.attempted += 1
        try:
            s, got = run_query(run, name, sf_dir, f"{tag}:{name}", traced, clear)
        except Exception:  # noqa: BLE001 - a failed query is counted, the run goes on
            run.fail(name, traceback.format_exc())
            continue
        samples.append(s)
        if golden is not None and golden.get(name) != got:
            run.fail(name, f"got {got}, golden {golden.get(name)}")
    return samples


def query_workload(run: Run, names: list[str], record: bool = False) -> dict:
    sf_dir = data_dir(run.workload)
    goldens = None if record else load_goldens().get(run.workload, {})

    def warm_up(r: Run) -> None:
        for name in names:
            run_query(r, name, WARM_DIR, "warm", traced=False)

    set_up(run, warm_up)
    if record:
        return record_goldens(run, names, sf_dir)

    rng = random.Random(run.seed)
    passes = []
    deadline = time.perf_counter() + run.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        order = rng.sample(names, len(names))
        t0 = time.perf_counter()
        samples = query_pass(run, order, sf_dir, goldens, run.trace, f"p{len(passes)}")
        passes.append((time.perf_counter() - t0, samples))
        run.log(
            f"pass {len(passes) - 1}: {passes[-1][0]:.2f} s ("
            + ", ".join(f"{s.name} {s.wall:.2f}" for s in samples)
            + ")"
        )
    if not run.trace:
        walls = [s.wall for _, p in passes for s in p]
        return {
            "mix_s": statistics.median(m for m, _ in passes),
            "query_p50_s": statistics.median(walls) if walls else float("nan"),
        }
    # warm: one pass without clearCache after the cold ones, as a
    # long-lived session re-querying one corpus
    t0 = time.perf_counter()
    query_pass(run, names, sf_dir, goldens, False, "warm", clear=False)
    layers = per_pass_layers([p for _, p in passes])
    layers["caching.warm_mix_s"] = time.perf_counter() - t0
    # what tracing adds to a pass: its wall time outside every query span
    layers["trace.overhead_s"] = statistics.median(m - sum(s.wall for s in p) for m, p in passes)
    return layers


def per_pass_layers(passes: list[list[Sample]]) -> dict:
    """Per-layer metrics: each summed over one pass, median over passes."""
    rows = []
    for samples in passes:
        row: Counter = Counter()
        for s in samples:
            for span, (metric, scale) in _SPANS.items():
                row[metric] += s.layers.get(span, 0.0) * scale
            for key, metric in _COUNTERS.items():
                row[metric] += s.counters.get(key, 0)
            row["exec.peak_memory_bytes"] = max(
                row["exec.peak_memory_bytes"], s.counters.get("peak_memory_bytes", 0)
            )
            row["caching.retained_mb"] += s.counters.get("cached_bytes", 0) / 2**20
        rows.append(row)
    return {k: statistics.median(r[k] for r in rows) for k in set().union(*rows)}


def record_goldens(run: Run, names, sf_dir) -> dict:
    """Record [rows, checksum] per query, after checking that two cold
    executions agree."""
    got = {}
    for name in names:
        a = run_query(run, name, sf_dir, "rec", traced=False)[1]
        b = run_query(run, name, sf_dir, "rec", traced=False)[1]
        if a != b:
            raise RuntimeError(f"{name}: checksum differs between cold runs: {a} vs {b}")
        got[name] = a
    goldens = load_goldens()
    goldens[run.workload] = got
    with open(GOLDENS, "w", encoding="utf-8") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    return {}


# ---- ETL load --------------------------------------------------------------


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def etl_workload(run: Run) -> dict:
    """Rounds of ``ETL_BATCHES`` loads, each round into a fresh warehouse,
    so every round sees the same warehouse states whatever the run's
    length: the first load creates the dimensions, later ones upsert."""
    from rpa_etl_investing_spark.etl.pipeline import (
        RAW_SCRAPE_SCHEMA,
        flagship_top10,
        load_star_schema,
        transform_raw,
    )

    inputs = os.path.join(run.run_dir, "inputs")
    os.makedirs(inputs)
    batches = []
    for b in range(ETL_BATCHES):
        path = os.path.join(inputs, f"batch{b}.ndjson")
        rows = gen.scrape_batch(path, run.seed, b, ETL_ROWS, ETL_BAD_CELL_SHARE)
        batches.append((path, rows))
    # full-size warm-up batches of their own: 5,000-row ones left the
    # first timed round still warming up (its loads ran 10-40% slower
    # than a second round's)
    warm_paths = []
    for k in range(ETL_WARM_BATCHES):
        warm_paths.append(os.path.join(inputs, f"warm{k}.ndjson"))
        gen.scrape_batch(warm_paths[-1], run.seed, k, ETL_ROWS, ETL_BAD_CELL_SHARE, stream=1)
    day0 = dt.datetime(2024, 1, 1)

    def read(path):
        return run.spark.read.schema(RAW_SCRAPE_SCHEMA).json(path)

    def warm_up(r: Run) -> None:
        wh = os.path.join(r.run_dir, "warm-warehouse")
        for k, path in enumerate(warm_paths):  # the first load creates the dims
            load_star_schema(r.spark, read(path), wh, day0 + dt.timedelta(days=k))
            flagship_top10(r.spark, wh).collect()
        shutil.rmtree(wh, ignore_errors=True)

    set_up(run, warm_up)
    spark = run.spark
    sc = spark.sparkContext
    loads, flagships, rejected, stored, overheads, layer_rows = [], [], [], [], [], []
    deadline = time.perf_counter() + run.seconds
    n = 0
    while n < MIN_ROUNDS or time.perf_counter() < deadline:
        warehouse = os.path.join(run.run_dir, f"warehouse{n}")
        oracle = gen.EtlOracle()
        raw_bytes = 0
        round_t0 = time.perf_counter()
        in_spans = 0.0
        for b, (path, rows) in enumerate(batches):
            qid = f"etl{n}.{b}"
            run.attempted += 1
            files0 = _dir_bytes(warehouse)
            if run.trace:
                sc.setJobGroup(qid, "load")
                gc0 = gc_ms(sc._jvm)
            try:
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                got = load_star_schema(spark, read(path), warehouse, day0 + dt.timedelta(days=b))
                t1 = time.perf_counter()
                if run.trace:
                    sc.setJobGroup(f"{qid}.read", "flagship")
                reads = []  # (start, seconds, rows) of each cold flagship read
                for _ in range(FLAGSHIP_READS):
                    spark.catalog.clearCache()
                    t = time.perf_counter()
                    top_df = flagship_top10(spark, warehouse)
                    top = [tuple(r) for r in top_df.collect()]
                    reads.append((t, time.perf_counter() - t, top))
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 - a failed load is counted, the run goes on
                run.fail(f"round {n} batch {b}", traceback.format_exc())
                continue
            want = oracle.load(rows)
            if got != want:
                run.fail(f"round {n} batch {b} load", f"got {got}, expected {want}")
            elif any(top != oracle.flagship() for _, _, top in reads):
                wrong = next(top for _, _, top in reads if top != oracle.flagship())
                run.fail(f"round {n} batch {b} flagship", f"got {wrong}, expected {oracle.flagship()}")
            raw_bytes += os.path.getsize(path)
            run.log(
                f"round {n} batch {b}: load {t1 - t0:.2f} s, flagship "
                + ", ".join(f"{d:.2f}" for _, d, _ in reads)
                + " s"
            )
            loads.append((t1 - t0, len(rows)))
            flagships.extend(d for _, d, _ in reads)
            rejected.append(got["rejected_rows"] / len(rows))
            if not run.trace:
                continue
            root = run.tracer.add("batch", qid, None, t0, t2 - t0)
            run.tracer.add("etl.load", qid, root, t0, t1 - t0)
            for start, d, _ in reads:
                run.tracer.add("etl.flagship", qid, root, start, d)
            in_spans += t2 - t0
            files1 = _dir_bytes(warehouse)
            c = job_counts(sc, qid)
            all_jobs = c + job_counts(sc, f"{qid}.read")
            feat = plan_features(sc._jvm, top_df._jdf.queryExecution().executedPlan())
            t = time.perf_counter()
            spark.catalog.clearCache()
            checksum(transform_raw(read(path)).clean).collect()
            transform_s = time.perf_counter() - t
            layer_rows.append(
                {
                    "etl.load_s": t1 - t0,
                    "etl.flagship_s": statistics.median(d for _, d, _ in reads),
                    "etl.transform_s": transform_s,
                    "etl.jobs_per_batch": c["jobs"],
                    "exec.jobs": all_jobs["jobs"],
                    "exec.stages": all_jobs["stages"],
                    "exec.tasks": all_jobs["tasks"],
                    "exec.gc_ms": gc_ms(sc._jvm) - gc0,
                    "catalog.scan_files": feat["scan_files"],
                    "catalog.scan_bytes": feat["scan_bytes"],
                    "exec.broadcasts": feat["broadcasts"],
                    "etl.files_written": files1[0] - files0[0],
                    "etl.bytes_written": files1[1] - files0[1],
                }
            )
        # what tracing adds to a round: its wall time outside every batch
        # span (counter reads and the separate transform run)
        overheads.append(time.perf_counter() - round_t0 - in_spans)
        if raw_bytes:
            stored.append(_dir_bytes(warehouse)[1] / raw_bytes)
        shutil.rmtree(warehouse, ignore_errors=True)
        n += 1
    if not loads:
        return {"mix_s": float("nan"), "query_p50_s": float("nan")}
    if not run.trace:
        return {
            "mix_s": statistics.median(t for t, _ in loads),
            "query_p50_s": statistics.median(flagships),
        }
    layers = {k: statistics.median(r[k] for r in layer_rows) for k in layer_rows[0]}
    layers["etl.rows_per_s"] = sum(n for _, n in loads) / sum(t for t, _ in loads)
    layers["etl.stored_bytes_per_raw_byte"] = statistics.median(stored)
    layers["etl.rejected_ratio"] = sum(rejected) / len(rejected)
    layers["trace.overhead_s"] = statistics.median(overheads)
    return layers
