"""Concurrent query issue against one SparkSession (r6 verdict item #3).

A real engine serves parallel queries; Spark supports driver-side
thread pools (each action is an independent job), but the repo's own
shared state — the package-ship guard, the scratch-dir writers — had
only ever run single-threaded. These tests hammer exactly those paths:

- the queries that checkpoint reused intermediates, from 4 threads over
  two scale factors with a concurrent ``clearCache`` (every result equals
  the serial run), and what they leave behind once collected (an empty
  CacheManager, no RDD blocks after a GC),
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

import rpa_etl_investing_spark.plans as plans
from tests.parity import run_compare

# Slice chosen to cover the shared-state paths: dedup signature
# checkpoints (read from both sides of the pair generation), graph
# per-round checkpoints, scratch-dir writers, pandas UDFs (package
# ship), and plain joins/aggs for volume.
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
    each compared against its DuckDB oracle. Any race (a relation
    another thread is reading dropped, scratch-dir collision) surfaces
    as a MISMATCH/ERROR."""
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


# Queries whose plans read checkpointed intermediates: minhash and
# simhash64 signatures, the IVF posting list, the winnowing barrier, the
# pagerank edge list and the k-core rounds.
CHECKPOINT_QUERIES = [
    "llm_minhash_pairs",
    "llm_simhash64_hamming_pairs",
    "llm_similarity_ivf",
    "llm_winnowing_fingerprints",
    "graph_nation_pagerank",
    "graph_kcore",
]


def _rows(spark, name: str, sf: str) -> list[tuple]:
    return sorted(tuple(r) for r in plans.QUERIES[name].fn(spark, sf).collect())


def test_checkpointing_queries_under_mixed_traffic(spark, sf_dir):
    """4 threads on one session run the checkpointing queries,
    alternating two scale factors; one thread clears the session's
    cache before each of its queries. Every result must equal the
    serial run: a relation one query reads can be neither dropped nor
    served to another by a different thread."""
    other = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if os.path.abspath(sf_dir) == other or not os.path.isdir(other):
        pytest.skip(f"needs a second fixture directory at {other}")
    dirs = [os.path.abspath(sf_dir), other]
    serial = {(n, d): _rows(spark, n, d) for n in CHECKPOINT_QUERIES for d in dirs}
    wrong: list[str] = []
    lock = threading.Lock()

    def run(tid: int) -> None:
        for i, name in enumerate(CHECKPOINT_QUERIES):
            d = dirs[(tid + i) % 2]
            try:
                if tid == 0:
                    spark.catalog.clearCache()
                if _rows(spark, name, d) != serial[(name, d)]:
                    with lock:
                        wrong.append(f"t{tid} {name} @ {d}: rows differ")
            except Exception as e:  # noqa: BLE001 — collect, don't abort pool
                with lock:
                    wrong.append(f"t{tid} {name} @ {d}: {type(e).__name__}: {e}")

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(run, range(4)))
    assert not wrong, wrong


def test_checkpointing_queries_leave_no_storage(spark, sf_dir):
    """Once the checkpointing queries are collected and dropped, the
    session's CacheManager is empty and RDD storage returns to its
    starting count within 30 s of a garbage collection: every
    checkpoint lives only as long as its query's plan."""
    from tests.parity import cache_manager_empty, rdd_blocks_after_gc

    spark.catalog.clearCache()
    start = rdd_blocks_after_gc(spark)
    for name in CHECKPOINT_QUERIES:
        assert plans.QUERIES[name].fn(spark, sf_dir).collect(), name
    assert cache_manager_empty(spark)
    left = rdd_blocks_after_gc(spark, baseline=start)
    assert left <= start, f"{left} RDDs still hold blocks (started with {start})"


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
