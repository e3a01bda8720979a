"""sharded_running_max (operators/prefix.py): window-equivalence,
strict-prefix NULL semantics, and the Pareto/BFS consumers' shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import tbl
from rpa_etl_investing_spark.operators.prefix import (
    SHARD,
    sharded_running_max,
    with_value_range_shard,
)
from rpa_etl_investing_spark.plans.registry import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("strict", [False, True])
def test_matches_plain_window_form(spark, sf_dir, strict):
    """Sharded two-level prefix max == the single-window form, row for
    row, for both inclusive and strict (1 PRECEDING) frames."""
    pp = (
        tbl(spark, sf_dir, "part")
        .groupBy("p_brand", "p_retailprice")
        .agg(F.max("p_size").alias("v"))
    )
    upper = -1 if strict else Window.currentRow
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    expect = {
        (r["p_brand"], r["p_retailprice"]): r["m"]
        for r in pp.withColumn("m", F.max("v").over(w)).collect()
    }
    got = sharded_running_max(
        with_value_range_shard(pp, "p_retailprice", n_shards=16),
        ["p_brand"],
        ["p_retailprice"],
        "v",
        "m",
        strict=strict,
    ).collect()
    assert len(got) == len(expect)
    for r in got:
        assert r["m"] == expect[(r["p_brand"], r["p_retailprice"])], r


def test_strict_first_row_is_null(spark):
    df = spark.range(10).select(
        F.lit("k").alias("k"), F.col("id").alias("o"), F.col("id").alias("v")
    )
    out = sharded_running_max(
        with_value_range_shard(df, "o", n_shards=4),
        ["k"],
        ["o"],
        "v",
        "m",
        strict=True,
    )
    rows = {r["o"]: r["m"] for r in out.collect()}
    assert rows[0] is None
    assert all(rows[i] == i - 1 for i in range(1, 10))


def test_pareto_plan_is_linear_not_quadratic(spark, sf_dir):
    """The skyline query must not contain the oracle's quadratic shape:
    no non-equi self-join of part against itself (no BroadcastNestedLoop
    / CartesianProduct), and every row-level ordered window partitions
    by the shard column."""
    import re

    plan = _plan(QUERIES["analytics_pareto_frontier"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the 1-row shard-bounds
    # scalar broadcasts (with_value_range_shard's subtree appears in
    # both the local-window and totals branches); a quadratic skyline
    # would add a data-sized one
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert all("Cross" in ln for ln in plan.splitlines()
               if "BroadcastNestedLoopJoin" in ln), plan
    for spec in re.findall(
        r"Window \[max\(\w+#\d+\) windowspecdefinition\(([^)]*)\)", plan
    ):
        if "_ps_tot" not in spec and "_pm_tot" not in spec:
            assert SHARD in spec, (spec, plan)


def test_bfs_reach_iterates_on_cached_graph(spark, sf_dir):
    """graph_nation_reach: the fact-table scan must appear in the plan
    at most once (the checkpointed edge relation feeds every unrolled
    hop) — mirrors the pagerank re-expansion guard."""
    df = QUERIES["graph_nation_reach"].fn(spark, sf_dir)
    plan = _plan(df)
    # every unrolled hop must read the checkpointed aggregated edge list
    # (one Scan ExistingRDD per hop join), never re-expand the fact
    # aggregation into live scans — same guard as the pagerank test
    assert plan.count("Scan ExistingRDD") >= 4, plan


def test_running_sum_rejects_float_values(spark):
    """Float running sums are not order-stable across the shard
    composition — the operator must raise, not silently truncate."""
    import pytest

    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_id_range_shard,
    )

    df = with_id_range_shard(
        spark.createDataFrame(
            [(1, 0.5), (2, 0.5), (3, 0.5)], "id bigint, v double"
        ),
        "id",
    )
    with pytest.raises(TypeError):
        sharded_running_sum(df, [], ["id"], "v", "rs")


def test_exact_quantiles_ignore_nulls_like_percentile(spark):
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (None,)], "v double"
    )
    got = exact_quantiles(df, "v", {"p50": 0.5}).collect()[0]
    want = df.selectExpr("percentile(v, 0.5) AS p").collect()[0].p
    assert got.p50 == 2.0
    assert abs(want - 2.0) < 1e-12  # percentile() also ignores the null
