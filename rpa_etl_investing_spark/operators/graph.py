"""PageRank on a weighted digraph — iterative graph analytics.

The reference's fact timeline induces natural graphs (who supplies
whom, who trades with whom); ranking nodes by stationary importance is
the classic iterative-join workload that a batch engine must express
without driver-side state (Page et al., "The PageRank Citation
Ranking", 1998; Malewicz et al., Pregel, SIGMOD'10 for the
distributed formulation).

Determinism contract: every quantity is a BIGINT on the 1e-9 rank
grid and every step is integer arithmetic —

    R0(v)      = G // N                       (G = 1e9 grid)
    contrib(e) = (R(src) * w(e)) // W(src)    (W = out-weight)
    R'(v)      = (3*G) // (20*N)  +  (17 * sum(contrib)) // 20

with damping 0.85 = 17/20 and teleport 0.15 = 3/20 kept as exact
rationals. Integer sums are order-independent, so Spark's shuffle
order and the oracle's single-threaded order cannot disagree — the
same trick as the quantized rolling-volatility grid
(plans/timeseries.py). Dangling mass (nodes with no out-edges) is
dropped rather than redistributed, matching the unrolled oracle.

Scale shape: the expensive part is building the edge list (one
aggregation over the fact); each iteration is then
rank ⋈ edges → groupBy(dst) — a hash join + hash aggregate on the
*aggregated* graph, shuffled by node key. The loop is unrolled into
the logical plan (fixed iteration count, no collect, no driver
state); for graphs where the plan tree would get deep, checkpoint
per K iterations like operators/components.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRID = 1_000_000_000

# The returned DataFrames are LAZY and read their aggregated edge list
# once per unrolled iteration; left uncheckpointed, Catalyst re-expands
# the caller's fact-aggregation subtree into every iteration. An
# intermediate that is read more than once is checkpointed and lives
# as long as its plan: Spark's ContextCleaner frees the checkpoint's
# blocks once nothing references the returned DataFrame.


def bfs_hops(edges: DataFrame, source, max_hops: int = 4) -> DataFrame:
    """Single-source shortest hop counts by unrolled frontier BFS.

    ``edges``: ``src, dst`` (directed). Returns ``node, hops`` for
    every node reachable from ``source`` within ``max_hops`` (the
    source itself at 0). Pure integer arithmetic — bit-identical to a
    recursive-CTE evaluation of the same bounded expansion.

    Scale shape: same contract as :func:`pagerank` — the caller builds
    ``edges`` by aggregating the fact table down to the entity graph,
    this operator checkpoints that aggregated relation once and each of the
    ``max_hops`` unrolled steps is a keyed hash join + min-aggregate on
    the small graph. No driver-side state; the frontier never leaves
    the cluster."""
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    ).localCheckpoint(eager=False)
    spark = edges.sparkSession
    dist = spark.range(1).select(
        F.lit(source).cast("bigint").alias("node"), F.lit(0).alias("hops")
    )
    for _ in range(max_hops):
        nxt = dist.join(e, dist["node"] == e["src"]).select(
            F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("hops").cast("int").alias("hops"))
        )
    return dist


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Integer-grid PageRank.

    ``nodes``: one column ``node``. ``edges``: ``src, dst, w`` (w > 0).
    Returns ``node, rank_q`` (BIGINT on the 1e-9 grid) after ``iters``
    damped power iterations. All arithmetic is BIGINT (see module doc),
    so results are bit-identical to any engine running the same
    recurrence.
    """
    n_nodes = nodes.agg(F.count("*").cast("bigint").alias("_n"))
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wout"))
    # Pre-join the out-weight once and CHECKPOINT: the unrolled loop
    # references this relation once per iteration, and without the
    # checkpoint Catalyst re-expands the whole edge-building subtree (the
    # fact aggregation!) into every iteration — k rescans of the fact
    # table. With it, the fact is scanned once and iterations join the
    # checkpointed aggregated graph (asserted in tests/test_plans.py).
    ew = (
        edges.join(outw, "src")
        .select("src", "dst", F.col("w").cast("bigint").alias("w"), "wout")
        .localCheckpoint(eager=False)
    )

    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.expr(f"CAST({GRID} AS BIGINT) div _n").alias("rank_q")
    )
    for _ in range(iters):
        contrib = (
            ranks.join(ew, ranks["node"] == ew["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank_q * w) div wout").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    F.expr(f"CAST({3 * GRID} AS BIGINT) div (20 * _n)")
                    + F.expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20")
                ).alias("rank_q"),
            )
        )
    return ranks


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded k-core peeling (Seidman '83; the distributed peel is
    Montresor et al.'s iterative formulation): symmetrize ``edges``
    (``src, dst``, no self-loops), then ``rounds`` times drop every
    node whose current degree is < ``k`` and restrict edges to the
    survivors. Returns ``(node, deg)`` — each survivor with its degree
    in the round-``rounds`` induced subgraph. With enough rounds this
    is the k-core; a bounded unroll is the deterministic,
    oracle-replayable form (convergence at the fixture's round count is
    asserted in tests, the same discipline as the unrolled PageRank
    grid).

    Scale shape: every round is one hash aggregate (degrees) + two
    semi joins (endpoint survival), all keyed on node id — no driver
    state, no collect, plan unrolled. Callers pass the AGGREGATED
    entity graph (same contract as :func:`pagerank`/:func:`bfs_hops`)."""
    # Each round's edge set is referenced THREE times by the next round
    # (degree aggregate + both endpoint semi joins): left fully lazy,
    # the unrolled tree holds 3^rounds copies of the caller's
    # fact-sized edge aggregation. A lazy checkpoint per round keeps the
    # plan linear — every reference compiles to a scan of the round's
    # checkpointed relation (measured 63 s → 19 s at sf0.001 with the
    # equivalent persist, on par with the other unrolled graph queries).
    e = (
        edges.select("src", "dst")
        .union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        alive = deg.filter(F.col("_deg") >= k).select("src")
        e = (
            e.join(alive, "src", "left_semi")
            .join(alive.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    return e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).select(F.col("src").alias("node"), "deg")
