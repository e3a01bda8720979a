"""Plan-shape regression gate over the bench headline set.

SCALE.md records how the headline plans behave at 10× and 100×; this
test pins the sf0.1 executed plans (join strategies and exchange
counts) so a change that pins a broadcast, drops a size gate or adds a
shuffle fails here. Each query is sunk through
``perfbench.workloads.checksum``, which forces every output column
through the plan, and its features come from
``perfbench.trace.plan_features``: the benchmark's walk of the FINAL
adaptive plan and its query stages, the same readings
``scripts/probe.py`` prints.

- ``broadcasts`` counts ``BroadcastExchange`` nodes, so a broadcast
  nested-loop join counts too, and an exchange that several broadcast
  hash joins reuse counts once;
- ``exchanges`` counts shuffle ``Exchange`` nodes, the sink's own
  single-partition exchange included wherever the plan needs one;
- ``sort_merge_joins`` counts ``SortMergeJoin`` nodes.

The walk has no ShuffledHashJoin counter and no final-plan flag, so
those two checks read the plan tree here.

Optional 10× leg: with SPARK_GRAFT_SCALE_GATE=1 and /tmp/sf1 present
(scripts/make_scale_fixture.py), the scale-sensitive queries re-run at
sf1: no sort-merge join may appear, and q17's broadcasts, bounded by
construction, must survive.
"""

from __future__ import annotations

import os

import pytest

from perfbench.trace import plan_features
from perfbench.workloads import checksum
from rpa_etl_investing_spark.plans import QUERIES

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1"

# bench name -> (registry name, broadcasts, sort_merge_joins, exchanges)
# in the FINAL adaptive sf0.1 plan of the checksum sink
EXPECTED_SF01 = {
    # one hashpartitioning exchange in the query (pinned in
    # test_plans.py) plus the sink's single-partition exchange
    "q1_pricing_summary": ("agg_pricing_summary", 0, 0, 2),
    # the two dimension joins broadcast; the top-10 is already one
    # partition, so not even the sink shuffles
    "q2_flagship_topk": ("flagship_topk", 2, 0, 0),
    "q3_star_broadcast_join": ("join_star_broadcast", 2, 0, 1),
    "q4_window_topk_per_group": ("window_topk_per_group", 1, 0, 2),
    "q5_asof_join": ("asof_join_last_purchase", 0, 0, 3),
    "q6_event_time_buckets": ("datetime_bucket_agg", 0, 0, 2),
    "q7_exact_dedup": ("llm_exact_dedup", 0, 0, 2),
    # bucket-aggregated pair generation: the only join, the hot-bucket
    # broadcast anti join, is pruned by AQE while the hot set is empty,
    # as it is for minhash at sf0.1. Exchanges: the bucket groupBy, the
    # pair-distinct and the sink. The signature stage's exchange runs
    # inside the signature checkpoint's RDD, not in the final plan.
    "q8_minhash_pairs": ("llm_minhash_pairs", 0, 0, 3),
    # the broadcast query side is a nested-loop join's BroadcastExchange
    "q9_similarity_bruteforce": ("llm_similarity_bruteforce", 1, 0, 3),
    "q10_token_stats": ("llm_token_stats", 0, 0, 1),
    "q11_shipping_priority": ("analytics_shipping_priority", 2, 0, 1),
    # broadcasts: the coarse quantizer and the hinted probe side (the
    # hint's argument is in the query's docstring). Exchanges: the
    # corpus assignment, the final rank window over the narrow
    # candidate rows, and the sink.
    "q12_similarity_ivf": ("llm_similarity_ivf", 2, 0, 3),
    # one broadcast nested-loop join
    "q13_zorder_layout": ("source_zorder_layout", 1, 0, 3),
    # the broadcast is the hot-bucket list of the anti join
    "q14_simhash64_pairs": ("llm_simhash64_hamming_pairs", 1, 0, 4),
    # the broadcast candidate semi join and the 1-row total's
    # nested-loop join
    "q15_heavy_hitters": ("llm_heavy_hitters", 2, 0, 4),
    "q16_skew_dup_payments": ("etl_duplicate_payment_scan", 1, 0, 1),
    # three broadcast hash joins over two BroadcastExchanges: the
    # posexploded codebook is broadcast once and both encodes (corpus
    # and queries) join it; the probe rows onto the encoded corpus are
    # the other. Exchanges: the encode kernel's vec_id repartition on
    # the corpus and the query side (the argmin aggregate and the probe
    # windows reuse it), the final top-5 window, and the sink.
    "q17_ivfpq_adc": ("llm_ivfpq_adc_search", 2, 0, 4),
}


def _final_plan(spark, reg_name: str, sf_dir: str):
    """Execute the query's checksum sink; return its executed plan."""
    sink = checksum(QUERIES[reg_name].fn(spark, sf_dir))
    sink.collect()
    return sink._jdf.queryExecution().executedPlan()


def _node_names(jvm, plan) -> list[str]:
    """Node names of the final adaptive plan, through its query stages."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    names, stack = [], [plan]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.finalPhysicalPlan())
        elif name.endswith("QueryStage"):
            stack.append(p.plan())
        else:
            names.append(name)
            stack.extend(conv.asJava(p.children()))
    return names


@pytest.mark.parametrize("bench_name", sorted(EXPECTED_SF01))
def test_headline_plan_shape_sf01(spark, bench_name):
    reg, b, s, ex = EXPECTED_SF01[bench_name]
    if reg not in QUERIES:
        pytest.fail(f"{bench_name}: registry lost {reg}")
    jvm = spark.sparkContext._jvm
    plan = _final_plan(spark, reg, SF01)
    f = plan_features(jvm, plan)
    got = (f["broadcasts"], f["sort_merge_joins"], f["exchanges"])
    assert got == (b, s, ex), (
        f"{bench_name} ({reg}) executed-plan shape drifted at sf0.1: "
        f"expected broadcasts/SMJ/exchanges = {(b, s, ex)}, got {got}. If "
        f"the new plan is intentional (and still the one you'd want at "
        f"100 TB), update EXPECTED_SF01 and SCALE.md together."
    )
    assert "ShuffledHashJoin" not in _node_names(jvm, plan), bench_name
    assert plan.nodeName() == "AdaptiveSparkPlan" and plan.isFinalPlan(), (
        f"{bench_name}: not a final adaptive plan"
    )


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_GATE") != "1"
    or not os.path.isdir(SF1),
    reason="10× leg: set SPARK_GRAFT_SCALE_GATE=1 with /tmp/sf1 built",
)
@pytest.mark.parametrize(
    "bench_name,broadcasts",
    [
        # bounded-by-construction broadcasts that must SURVIVE 10×:
        # the codebook exchange (reused by both encodes) and the probe
        # rows, the same two BroadcastExchanges as at sf0.1
        ("q17_ivfpq_adc", 2),
        # the dedup pair paths have no corpus-sized join at any scale
        # (bucket-aggregated pair generation); the only join that may
        # appear is the tiny hot-bucket anti join (None = don't pin the
        # count — AQE prunes it when the hot set is empty). The
        # invariant asserted below is zero sort-merge joins.
        ("q8_minhash_pairs", None),
        ("q14_simhash64_pairs", None),
    ],
)
def test_headline_plan_shape_sf1(spark, bench_name, broadcasts):
    reg = EXPECTED_SF01[bench_name][0]
    f = plan_features(spark.sparkContext._jvm, _final_plan(spark, reg, SF1))
    assert f["sort_merge_joins"] == 0, (
        f"{bench_name} at 10×: {f['sort_merge_joins']} sort-merge joins "
        f"appeared — a corpus-sized join snuck back into the pipeline"
    )
    if broadcasts is not None:
        assert f["broadcasts"] == broadcasts, (
            f"{bench_name} at 10×: expected {broadcasts} broadcasts, got "
            f"{f['broadcasts']} — a pinned/lost broadcast at scale"
        )
