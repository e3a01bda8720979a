"""Bounded k-core peeling (operators/graph.py kcore_peel)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from rpa_etl_investing_spark.operators.graph import kcore_peel


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _py_kcore(pairs, k, rounds):
    """Sequential reference peel on the symmetrized simple graph."""
    edges = set()
    for s, d in pairs:
        edges.add((s, d))
        edges.add((d, s))
    for _ in range(rounds):
        deg = {}
        for s, _d in edges:
            deg[s] = deg.get(s, 0) + 1
        alive = {n for n, c in deg.items() if c >= k}
        edges = {(s, d) for s, d in edges if s in alive and d in alive}
    deg = {}
    for s, _d in edges:
        deg[s] = deg.get(s, 0) + 1
    return deg


# a 4-clique (the 3-core) with a pendant path hanging off it: the path
# peels away over multiple rounds, the clique survives
PAIRS = [
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),  # clique
    (3, 4), (4, 5), (5, 6),                          # path
    (4, 6),                                          # triangle-ish tail
]


def test_matches_sequential_reference(spark):
    got = {
        r.node: r.deg for r in kcore_peel(_edges(spark, PAIRS), 3, 4).collect()
    }
    assert got == _py_kcore(PAIRS, 3, 4)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


@pytest.mark.slow
def test_fixture_graph_converges_at_registered_rounds(spark, sf_dir):
    """The registered graph_kcore runs 4 rounds; a 5th round must not
    change the result on the fixture's trade graph — the bounded unroll
    is the fixpoint there (the docstring's claim, executed)."""
    from rpa_etl_investing_spark.plans.registry import QUERIES

    q4 = {
        (r.node, r.deg)
        for r in QUERIES["graph_kcore"].fn(spark, sf_dir).collect()
    }
    # rebuild the same edge list and run one extra round
    import rpa_etl_investing_spark.plans.analytics as A

    li = A.tbl(spark, sf_dir, "lineitem")
    o = A.tbl(spark, sf_dir, "orders")
    c = A.tbl(spark, sf_dir, "customer")
    s = A.tbl(spark, sf_dir, "supplier")
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .alias("flow")
        )
    )
    tot = flow.agg(F.sum("flow").cast("decimal(27,2)").alias("t"))
    edges = (
        flow.crossJoin(F.broadcast(tot))
        .filter((F.col("src") != F.col("dst")) & (F.col("flow") * 625 > F.col("t")))
        .select("src", "dst")
    )
    q5 = {(r.node, r.deg) for r in kcore_peel(edges, 3, 5).collect()}
    assert q4 == q5


def test_graph_that_fully_peels_is_empty(spark):
    """A path graph has no 3-core: after enough rounds nothing remains,
    and the operator returns an empty frame rather than erroring."""
    edges = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    assert kcore_peel(edges, 3, 4).count() == 0


def test_graph_operators_checkpoint_instead_of_caching(spark):
    """pagerank and kcore_peel read their reused relations from
    checkpoints in the returned plan; nothing lands in the session's
    CacheManager."""
    from rpa_etl_investing_spark.operators.graph import pagerank
    from tests.parity import cache_manager_empty

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    ranks = pagerank(nodes, edges, iters=2)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert len(ranks.collect()) == 3
    core = kcore_peel(edges, k=2, rounds=2)
    assert sorted(tuple(r) for r in core.collect()) == [(1, 2), (2, 2), (3, 2)]
    assert cache_manager_empty(spark)
