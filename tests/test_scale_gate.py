"""Plan-shape regression gate over the bench headline set (r6 stretch #8).

SCALE.md records how the headline plans behave at 10× and 100×; this
test pins the sf0.1 EXECUTED plans (join strategies + exchange counts)
so a future change that pins a broadcast, drops a size gate, or adds a
shuffle fails CI instead of a judge round. The features come from the
FINAL adaptive plan (AQE's runtime decisions), measured by executing a
checksum probe that forces every output column through the plan —
the same machinery as scripts/scale_probe.py.

The expectations are the plans the scale design WANTS, re-measured on
r7 HEAD (q14 gained a broadcast anti-join when the simhash64 occupancy
cap landed — the second broadcast below is the hot-bucket list):
size-gated dim broadcasts present at sf0.1, zero sort-merge joins
(everything is either broadcastable or pre-partitioned at this scale),
and the exchange counts the shuffle-minimization docstrings claim.

Optional 10× leg: with SPARK_GRAFT_SCALE_GATE=1 and /tmp/sf1 present
(scripts/make_scale_fixture.py), the scale-sensitive queries re-run at
sf1 and assert the documented behavior there — q17's two broadcasts
are bounded by construction and must survive; q8's band-bucket
broadcasts stay under the 64 MB threshold at 10× (they flip at 100×,
SCALE.md "Flips observed").
"""

from __future__ import annotations

import os

import pytest

from rpa_etl_investing_spark.plans import QUERIES

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1"
# this checkout's scripts/, wherever the checkout lives
SCRIPTS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")

# bench name -> (registry name, broadcasts, sortmerges, shuffledhash,
#                exchanges) in the FINAL adaptive sf0.1 plan
EXPECTED_SF01 = {
    # r10: the widen() round-robin exchange is gone (long-grid dsum made
    # the partial aggregate cheaper than the full-row shuffle); the
    # count stays 2 because the checksum probe's own global aggregate
    # contributes one exchange here (the query itself now has exactly 1
    # hashpartitioning exchange — pinned in test_plans.py)
    "q1_pricing_summary": ("agg_pricing_summary", 0, 0, 0, 2),
    "q2_flagship_topk": ("flagship_topk", 2, 0, 0, 0),
    "q3_star_broadcast_join": ("join_star_broadcast", 2, 0, 0, 1),
    "q4_window_topk_per_group": ("window_topk_per_group", 1, 0, 0, 2),
    "q5_asof_join": ("asof_join_last_purchase", 0, 0, 0, 3),
    "q6_event_time_buckets": ("datetime_bucket_agg", 0, 0, 0, 2),
    "q7_exact_dedup": ("llm_exact_dedup", 0, 0, 0, 2),
    # r11: q8/q14 pair generation is the bucket-aggregated form — the
    # band self-join and the signature re-attach joins are GONE (zero
    # corpus-sized joins at ANY scale; the only join left is the
    # hot-bucket broadcast anti join, which AQE prunes entirely when
    # the hot set is empty, as it is for minhash at sf0.1). The two
    # extra exchanges vs r10 are the bucket groupBy and the
    # pair-distinct — both carry compact rows and replace what at 100×
    # used to be 3 SortMergeJoins over 6 exchanges (SCALE.md r11).
    # The signatures are a checkpoint now: the signature stage's own
    # exchange runs inside the checkpoint's RDD, not in the final plan
    # (4 → 3); q12 and q14 keep their counts.
    "q8_minhash_pairs": ("llm_minhash_pairs", 0, 0, 0, 3),
    "q9_similarity_bruteforce": ("llm_similarity_bruteforce", 0, 0, 0, 3),
    "q10_token_stats": ("llm_token_stats", 0, 0, 0, 1),
    "q11_shipping_priority": ("analytics_shipping_priority", 2, 0, 0, 1),
    # r11: probe side explicitly broadcast (bounded by |qkeys|·nprobe;
    # the r6 100× probe saw the un-hinted join flip to an SMJ that
    # shuffled the whole corpus assignment). The hint streams the
    # corpus side, so the final rank window pays one NEW exchange of
    # the narrow candidate rows (the r10 shape window-reused the query
    # side's vec_id partitioning by luck) — candidates are 4 scalar
    # columns vs the corpus assignment's 64-dim vectors, the right
    # trade at every scale. Lloyd's (cell,pos) grid exchange is gone
    # (64-buffer single aggregate), net 2→3 here because the checksum
    # probe's aggregate rides on top.
    "q12_similarity_ivf": ("llm_similarity_ivf", 2, 0, 0, 3),
    "q13_zorder_layout": ("source_zorder_layout", 0, 0, 0, 3),
    "q14_simhash64_pairs": ("llm_simhash64_hamming_pairs", 1, 0, 0, 4),
    "q15_heavy_hitters": ("llm_heavy_hitters", 1, 0, 0, 4),
    "q16_skew_dup_payments": ("etl_duplicate_payment_scan", 1, 0, 0, 1),
    # r11: the ADC stage's ×4 candidate melt + LUT broadcast join +
    # (query, neighbor) re-aggregate are replaced by a per-query LUT
    # map carried in the 16 broadcast probe rows. (The map-side
    # array_min ENCODE variant was measured 2× slower at 100× and
    # rejected — OPTIMIZATION_r11.md §4.) The encode is the
    # subspace_sq_dists kernel: the exploded codebook joins on pos as a
    # broadcast hash join in the corpus encode and in the 8-query
    # encode, plus probes onto enc = 3 broadcasts. Exchanges: the
    # kernel's vec_id repartition (corpus and query side — the argmin
    # aggregate and the probe windows reuse it), the final top-5
    # window, + the checksum probe's own aggregate.
    "q17_ivfpq_adc": ("llm_ivfpq_adc_search", 3, 0, 0, 4),
}


def _features(spark, reg_name: str, sf_dir: str) -> dict:
    import sys

    sys.path.insert(0, SCRIPTS_DIR)
    from scale_probe import checksum_all_columns, plan_features

    df = QUERIES[reg_name].fn(spark, sf_dir)
    probe = checksum_all_columns(df)
    return plan_features(probe._jdf.queryExecution().executedPlan().toString())


@pytest.mark.parametrize("bench_name", sorted(EXPECTED_SF01))
def test_headline_plan_shape_sf01(spark, bench_name):
    reg, b, s, h, ex = EXPECTED_SF01[bench_name]
    if reg not in QUERIES:
        pytest.fail(f"{bench_name}: registry lost {reg}")
    f = _features(spark, reg, SF01)
    got = (
        f["broadcast_joins"],
        f["sortmerge_joins"],
        f["shuffled_hash_joins"],
        f["exchanges"],
    )
    assert got == (b, s, h, ex), (
        f"{bench_name} ({reg}) executed-plan shape drifted at sf0.1: "
        f"expected B/S/H/exch = {(b, s, h, ex)}, got {got}. If the new "
        f"plan is intentional (and still the one you'd want at 100 TB), "
        f"update EXPECTED_SF01 and SCALE.md together."
    )
    assert f["aqe_final"], f"{bench_name}: not a final adaptive plan"


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_GATE") != "1"
    or not os.path.isdir(SF1),
    reason="10× leg: set SPARK_GRAFT_SCALE_GATE=1 with /tmp/sf1 built",
)
@pytest.mark.parametrize(
    "bench_name,broadcasts",
    [
        # bounded-by-construction broadcasts that must SURVIVE 10×
        # (the LUT re-attach join is gone [per-query LUT map rides in
        # the probe rows]; probes→enc plus the codebook joins of the
        # corpus and query encodes)
        ("q17_ivfpq_adc", 3),
        # r11: the dedup pair paths have NO corpus-sized join at any
        # scale (bucket-aggregated pair generation); the only join that
        # may appear is the tiny hot-bucket anti join (None = don't pin
        # the count — AQE prunes it when the hot set is empty). The
        # invariant asserted below is zero sort-merge joins.
        ("q8_minhash_pairs", None),
        ("q14_simhash64_pairs", None),
    ],
)
def test_headline_plan_shape_sf1(spark, bench_name, broadcasts):
    reg = EXPECTED_SF01[bench_name][0]
    f = _features(spark, reg, SF1)
    assert f["sortmerge_joins"] == 0, (
        f"{bench_name} at 10×: {f['sortmerge_joins']} sort-merge joins "
        f"appeared — a corpus-sized join snuck back into the pipeline"
    )
    if broadcasts is not None:
        assert f["broadcast_joins"] == broadcasts, (
            f"{bench_name} at 10×: expected {broadcasts} broadcasts, got "
            f"{f['broadcast_joins']} — a pinned/lost broadcast at scale"
        )
