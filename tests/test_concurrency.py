"""Concurrent query issue against one SparkSession (r6 verdict item #3).

A real engine serves parallel queries; Spark supports driver-side
thread pools (each action is an independent job), but the repo's own
shared state — the persist registry's recency lists, the package-ship
guard, the scratch-dir writers — had only ever run single-threaded.
These tests hammer exactly those paths:

- the LRU registry under 16 threads × mixed scopes (no lost entries,
  no double-persist of the same plan, eviction respects the cap),
- a representative 24-query slice of the registry driven from an
  8-thread pool WITH oracle comparison (the full-registry 8-thread
  sweep runs via ``scripts/verify_driver_contract.py --threads 8`` and
  is recorded in LOCAL_VERIFY; this keeps a fast regression in-suite),
- _ship_package idempotence under concurrent first-touch,
- SQL-text queries built from 4 threads over two scale factors, the
  session's catalog namespace after every SQL-text and streaming query,
  and a user's cached scan after a SQL-text query over the same table.
"""

from __future__ import annotations

import pytest

import inspect
import os
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import rpa_etl_investing_spark.plans as plans
from tests.parity import run_compare

# Slice chosen to cover the shared-state paths: dedup sig caches
# (keep_or_reuse from both sides of self-joins), graph per-round keeps,
# scratch-dir writers, pandas UDFs (package ship), and plain joins/aggs
# for volume.
CONCURRENT_SLICE = [
    "llm_minhash_pairs",
    "llm_minhash_bucket_audit",
    "llm_simhash64_hamming_pairs",
    "llm_simhash64_bucket_audit",
    "llm_exact_dedup",
    "graph_nation_pagerank",
    "graph_kcore",
    "source_csv_roundtrip",
    "source_json_corrupt_metrics",
    "agg_grouping_sets",
    "agg_pricing_summary",
    "join_star_broadcast",
    "flagship_topk",
    "udf_grouped_agg_spread",
    "llm_tfidf_topk",
    "timeseries_ewma",
    "analytics_price_elasticity",
    "etl_reject_metrics",
    "window_rank_dense",
    "curation_deterministic_split",
    "llm_quality_score",
    "agg_approx_distinct",
    "analytics_theil_decomposition",
    "llm_token_entropy",
]


@pytest.mark.slow
def test_concurrent_slice_matches_oracles(spark, sf_dir):
    """24 registry queries issued from 8 threads against ONE session,
    each compared against its DuckDB oracle. Any registry race (wrong
    cache entry served, unpersist of a relation another thread is
    reading, scratch-dir collision) surfaces as a MISMATCH/ERROR."""
    names = [n for n in CONCURRENT_SLICE if n in plans.QUERIES]
    assert len(names) >= 20, f"slice went stale: {names}"
    failures: dict[str, list[str] | str] = {}
    lock = threading.Lock()

    def run_one(name: str) -> None:
        try:
            problems = run_compare(spark, name, sf_dir)
            if problems:
                with lock:
                    failures[name] = problems
        except Exception as e:  # noqa: BLE001 — collect, don't abort pool
            with lock:
                failures[name] = f"{type(e).__name__}: {e}"

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(run_one, names))
    assert not failures, f"concurrent issue failed: {failures}"


def test_concurrent_same_query_scratch_writers(spark, sf_dir):
    """r8 (verdict item #6): the SAME scratch-writing query issued from
    4 threads at once. Before r8, scratch dirs were keyed by query name
    only, so ``mode("overwrite")`` in one thread deleted part files out
    from under another thread's in-flight readback; ``scratch_dir`` now
    injects the calling thread's ident, giving each issuer a disjoint
    subtree. Every thread must independently match the oracle.

    ``source_bucketed_join`` covers the CATALOG-named writer class too
    (r9, ADVICE item #1): bucketed tables go through DROP TABLE IF
    EXISTS + saveAsTable, so a session-global table name raced exactly
    like a shared scratch dir — names are now thread-keyed alongside
    the paths."""
    for name in [
        "source_compaction",
        "source_csv_roundtrip",
        "source_bucketed_join",
    ]:
        failures: dict[int, list[str] | str] = {}
        lock = threading.Lock()

        def run_one(tid: int, qname: str = name) -> None:
            try:
                problems = run_compare(spark, qname, sf_dir)
                if problems:
                    with lock:
                        failures[tid] = problems
            except Exception as e:  # noqa: BLE001
                with lock:
                    failures[tid] = f"{type(e).__name__}: {e}"

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(run_one, range(4)))
        assert not failures, f"{name} concurrent same-query issue: {failures}"


def test_scratch_dir_is_thread_keyed():
    """Two threads asking for the same scratch parts must get disjoint
    paths; the same thread must get a stable path (tests locate what a
    query wrote by calling scratch_dir from the same thread)."""
    from rpa_etl_investing_spark.sources.formats import scratch_dir

    paths: dict[int, str] = {}
    # barrier keeps both threads alive through both grabs — a finished
    # thread's ident may be REUSED by the OS, which would alias the
    # paths and flake the assertion
    barrier = threading.Barrier(2)

    def grab(tid: int) -> None:
        barrier.wait()
        paths[tid] = scratch_dir("conc_probe", "files")
        barrier.wait()

    threads = [threading.Thread(target=grab, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert paths[0] != paths[1], "threads shared a scratch dir"
    assert scratch_dir("conc_probe", "files") == scratch_dir(
        "conc_probe", "files"
    ), "same-thread scratch path not stable"


@pytest.mark.slow
def test_lru_registry_thread_safety(spark):
    """16 threads × 40 keep_or_reuse calls over 4 scopes and 12 distinct
    plans per scope: the store must never lose the LRU invariant (≤ cap
    live entries per scope), never serve a wrong-plan DataFrame, and
    never throw from its own list surgery."""
    from rpa_etl_investing_spark.operators import caching

    base = spark.range(0, 1000)
    errors: list[str] = []
    lock = threading.Lock()

    def hammer(tid: int) -> None:
        try:
            for i in range(40):
                scope = f"conc_scope_{(tid + i) % 4}"
                k = (tid * 7 + i) % 12
                df = base.filter(F.col("id") % 12 == k).select(
                    (F.col("id") * 2).alias("v")
                )
                got = caching.keep_or_reuse(df, scope, cap=6)
                # the returned relation must compute the same result
                n = got.filter(F.col("v") % 24 == (k * 2) % 24).count()
                expected = df.count()
                if n != expected:
                    with lock:
                        errors.append(
                            f"t{tid}i{i}: wrong relation served "
                            f"(n={n} expected={expected})"
                        )
        except Exception as e:  # noqa: BLE001
            with lock:
                errors.append(f"t{tid}: {type(e).__name__}: {e}")

    with ThreadPoolExecutor(max_workers=16) as pool:
        list(pool.map(hammer, range(16)))
    assert not errors, errors[:5]

    # cap respected after the storm
    with caching._LOCK:
        for scope in [f"conc_scope_{j}" for j in range(4)]:
            live = caching._STORE.get(scope, [])
            assert len(live) <= 6, f"{scope}: {len(live)} entries > cap"
    for j in range(4):
        caching.release_scope(f"conc_scope_{j}")


def test_ship_package_concurrent_first_touch(spark):
    """All threads racing the first _ship_package on a fresh app id must
    result in EXACTLY ONE build (the lock's double-check), and the
    pandas-UDF path must work from every thread afterwards."""
    import __spark_entry__ as contract

    app = spark.sparkContext.applicationId
    with contract._SHIP_LOCK:
        contract._SHIPPED.discard(app)

    builds = []
    orig_add = spark.sparkContext.addPyFile

    def counting_add(path):
        builds.append(path)
        return orig_add(path)

    spark.sparkContext.addPyFile = counting_add
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(lambda _: contract._ship_package(spark), range(8)))
    finally:
        spark.sparkContext.addPyFile = orig_add
    assert len(builds) == 1, f"expected one ship, got {len(builds)}"
    assert app in contract._SHIPPED


# Every registry query submitted as SQL text, found by its call to
# catalog.bind_sql so a new one cannot be missed.
SQL_TEXT_QUERIES = sorted(
    n for n, q in plans.QUERIES.items() if "bind_sql(" in inspect.getsource(q.fn)
)
STREAM_QUERIES = ["stream_stateful_running_totals", "stream_stateful_ewma"]


def test_sql_text_builds_bind_their_own_scale_factor(spark, sf_dir):
    """4 threads × 40 builds of the SQL-text queries on one session,
    alternating two scale-factor directories. Each build must scan only
    files under its own directory: tables bound through shared,
    fixed-name temp views let a build pick up the other thread's
    scale factor."""
    other = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if os.path.abspath(sf_dir) == other or not os.path.isdir(other):
        pytest.skip(f"needs a second fixture directory at {other}")
    assert len(SQL_TEXT_QUERIES) >= 8, SQL_TEXT_QUERIES
    dirs = [os.path.abspath(sf_dir), other]
    wrong: list[str] = []
    lock = threading.Lock()

    def build(tid: int) -> None:
        for i in range(40):
            d = dirs[(tid + i) % 2]
            name = SQL_TEXT_QUERIES[(tid * 3 + i) % len(SQL_TEXT_QUERIES)]
            files = plans.QUERIES[name].fn(spark, d).inputFiles()
            stray = [f for f in files if f"{d}/" not in f]
            if stray or not files:
                with lock:
                    wrong.append(f"t{tid}i{i} {name} @ {d}: {stray or 'no files'}")

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(build, range(4)))
    assert not wrong, f"{len(wrong)}/160 builds bound another directory: {wrong[:3]}"


def test_queries_leave_session_namespace_unchanged(spark, sf_dir):
    """Building and collecting every SQL-text query and both streaming
    (memory-sink) queries leaves ``listTables()`` as it was, and a user
    temp view named like a fixture table still resolves to its own
    rows."""
    spark.range(3).toDF("o_orderkey").createOrReplaceTempView("orders")

    def tables() -> list[tuple]:
        return sorted(
            (t.name, t.tableType, t.isTemporary) for t in spark.catalog.listTables()
        )

    before = tables()
    try:
        for name in SQL_TEXT_QUERIES + STREAM_QUERIES:
            assert plans.QUERIES[name].fn(spark, sf_dir).collect(), name
        assert tables() == before
        user_rows = spark.table("orders").orderBy("o_orderkey").collect()
        assert [r.o_orderkey for r in user_rows] == [0, 1, 2]
    finally:
        spark.catalog.dropTempView("orders")


def test_sql_text_query_keeps_user_cache(spark, sf_dir):
    """A SQL-text query over ``lineitem`` leaves a user's cached
    ``lineitem`` scan cached and no temp view behind: the per-call views
    are dropped without uncaching plans that share their result."""
    from rpa_etl_investing_spark.catalog import bind_sql, tbl

    def temp_views() -> list[str]:
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    before = temp_views()
    cached = tbl(spark, sf_dir, "lineitem").cache()
    try:
        cached.count()
        level = cached.storageLevel
        assert level.useMemory or level.useDisk
        n = bind_sql(spark, sf_dir, "SELECT COUNT(*) AS n FROM {lineitem}").first().n
        assert n == cached.count()
        assert cached.storageLevel == level
        assert temp_views() == before
    finally:
        cached.unpersist()
