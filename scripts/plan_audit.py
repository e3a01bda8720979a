#!/usr/bin/env python
"""Dump the physical plans of the headline queries to PLANS.md.

Run after plan-affecting changes: ``python scripts/plan_audit.py``.
The properties worth reading for (and asserted in tests/test_plans.py):
BroadcastHashJoin on dimension joins, PushedFilters/ReadSchema at the
parquet scans, TakeOrderedAndProject for top-k, HashAggregate (not
SortAggregate) on hot aggregations, and exactly one
``Exchange hashpartitioning`` per key-change.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rpa_etl_investing_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

NOTES = {
    "q1_pricing_summary": "single group-key exchange; long-grid BIGINT accumulators (per-row DECIMAL(18,s) rounding), partial+final",
    "q2_flagship_topk": "2× BroadcastHashJoin + TakeOrderedAndProject, zero shuffles",
    "q3_star_broadcast_join": "dimension chain fully broadcast",
    "q4_window_topk_per_group": "single shuffle on the window partition key",
    "q5_asof_join": "union + merge-scan window: ONE shuffle on (key), no range cross-join",
    "q6_event_time_buckets": "epoch-aligned buckets computed map-side, long-grid BIGINT revenue, agg on bucket",
    "q7_exact_dedup": "hash-aggregate on sha256(text): shuffles hashes, never text",
    "q8_minhash_pairs": "pre-partitioned explode (no post-explode shuffle), numeric HashAggregate; bucket-aggregated pair generation (collect_list per packed band key, i<j pairs emitted map-side with signatures in-struct) — zero corpus-sized joins at any scale (r11)",
    "q9_similarity_bruteforce": "query side broadcast; corpus partitioned, never shuffled",
    "q10_token_stats": "explode → partial count → final count, top-k take-ordered",
    "q11_shipping_priority": "selective dim filter first, two fact shuffles, take-ordered top-k",
    "q12_similarity_ivf": "broadcast coarse quantizer, equi-join on cell id; Lloyd step is one 64-buffer hash aggregate (no posexplode fan-out), probe side broadcast-hinted (bounded by |qkeys|*nprobe) (r11)",
    "q13_zorder_layout": "Morton interleave computed map-side; one range exchange for the layout sort",
    "q14_simhash64_pairs": "checkpointed 64-bit signatures; bucket-aggregated pair generation with bit_count Hamming filtered BEFORE the pair-distinct (r11) — no band self-join",
    "q15_heavy_hitters": "per-partition Misra-Gries in Arrow batches, broadcast-semi-join thin, exact recount; total tokens via map-side sum(size(split)) — the corpus explodes once (r11)",
    "q16_skew_dup_payments": "same-key self-join, residual integer band predicates; AQE skew split carves whale keys at scale (r10 measured the banded variant 4× slower at 100× — rejected, see SCALE.md)",
    "q17_ivfpq_adc": "encode = corpus repartitioned by vec_id, posexploded, joined on position to the broadcast posexploded codebook, one grouped SUM per (vector, centroid) in generated code; cell + code argmins are min(struct) aggregates on the same partitioning (no extra shuffle); per-query LUT map carried in the 16 probe rows, ADC distance a 4-term projection add; final top-5 window",
}


# Non-headline representatives whose plan shape carries a scale argument.
EXTRAS = {
    "subquery_exists_late_returns": "correlated EXISTS as one LeftSemi hash join on the correlation key",
    "analytics_disjunctive_join": "OR-of-ANDs residual on a BroadcastHashJoin — never nested-loop",
    "curation_pack_offsets": "two-level prefix sum: (source, _ps_shard) local windows + broadcast cumulative offsets — parallelism not bounded by source count",
    "curation_quality_filter": "two-pass rank cut: sharded row_number + broadcast per-lang counts, no per-lang global sort, no percent_rank",
    "curation_global_pack_offsets": "GLOBAL prefix sum via empty-partition two-level shards; only single-partition window is the n_shards offsets frame",
    "llm_minhash_bucket_audit": "bucket occupancy histogram: one compact-key hash aggregate, map-side combined",
    "timeseries_gap_fill_locf": "executor-side spine explode, equi-join fill, running last() frame",
    "llm_tfidf_topk": "tf and df from one explode; term equi-join with no broadcast hint (vocab-scale side — AQE may still broadcast at fixture scale); per-doc top-k window",
    "curation_canonical_docs": "components + one cluster_id window for size+argmax; exactly one extra exchange",
    "dim_upsert_surrogate_keys": "bucketed row_number (hashpartitioning by md5 prefix) + broadcast offsets — no global window, no collect",
    "subquery_not_in_null_aware": "NOT IN as a null-aware anti join (LeftAnti BuildRight, isNullAwareAntiJoin=true)",
    "analytics_order_count_distribution": "LeftOuter join preserved; aggregate-of-aggregate, second key space tiny",
    "analytics_lone_blamed_supplier": "EXISTS + NOT EXISTS on one fact: LeftSemi then LeftAnti hash joins sharing the orderkey exchange",
    "etl_scd2_history": "per-user window (no global partition); SCD2 intervals via lead()",
    "etl_scd2_point_in_time_join": "temporal FK resolve: user_id equi-join with the validity interval as residual — one shuffle per side, ≤1 version match per fact",
    "llm_minhash_verified_pairs": "LSH candidates → candidate-bounded shingle join; exact Jaccard never goes all-pairs",
    "llm_chunk_overlap": "map-only: scan → sequence/explode → slice, zero exchanges",
    "analytics_market_share": "eight-way star join, dims broadcast; conditional-sum/total-sum ratio per group",
    "analytics_retention_cohorts": "two per-user hash aggregates + one co-partitioned join; no window",
    "llm_edit_distance_pairs": "candidate-bounded Levenshtein: text joins in AFTER the pair set is fixed",
    "analytics_late_order_priority": "Q4: correlated EXISTS as one LeftSemi hash join, date inequality as residual",
    "analytics_min_cost_supplier": "Q2: one (part,supplier) cost shuffle; per-part MIN via window, dims broadcast",
    "analytics_small_qty_revenue": "Q17: brand part-keys broadcast into BOTH sides; threshold join on partkey",
    "analytics_excess_supply_candidates": "Q20: nested INs as two semi joins around one compound-key HAVING aggregate",
    "llm_semantic_dedup": "SemDeDup: broadcast quantizer argmax + cell-id equi-join pairs + id-only anti join",
    "llm_segment_boilerplate": "segment df on md5 digests; text shuffles only in the final per-doc reassembly",
    "stream_interval_join": "equi-key hash join with bounded time-range residual — the stream-stream state-expiry shape",
    "llm_repeated_spans": "corpus-duplicated shingles NOT broadcast: key-partitioned probe join, islands window over hits only",
    "llm_decontaminated_corpus": "span drop-set explode sized by span mass; anti join + doc-keyed reassembly",
    "llm_gopher_gate": "co-partitioned doc_id join of map-only features with the repetition aggregate; rules fold map-side",
    "curation_temperature_mix": "in-engine fraction derivation: tiny source agg + broadcast min + hash filter, no driver collect",
    "curation_dsir_weights": "256-row log-ratio table broadcast onto per-(doc,bucket) counts; totals as 1-row broadcast; exact BIGINT reductions",
    "curation_dsir_sample": "integer Gumbel-top-k: weight + quantized perturbation, TakeOrderedAndProject (no global sort)",
    "curation_stratified_sample": "per-stratum rank via sharded row_number: 16-way monotone hex shard, no per-language global sort",
    "llm_text_normalize": "map-only regexp_replace chain, zero exchanges, whole-stage codegen",
    "llm_decile_lift": "group-intact deciles: corpus touched once map-side; the only ordered pass runs over the grid-bounded distinct-score relation, never a per-row global sort",
    "llm_hybrid_rrf_retrieval": "RRF fusion: lexical leg is TakeOrdered top-50 (re-rank of ≤k survivors, never the posting union); fusion is a full-outer join of two ≤50-row frames",
    "agg_gini_revenue": "exact Gini without a row sort: per-customer hash agg → distinct-cents hash agg → SHARDED two-level running sum (no single-partition pass); DECIMAL(38,0) rank-weighted sums",
    "agg_pareto_abc": "ABC cut on the distinct-revenue relation: partkey hash agg is the only corpus-scale work; descending cumulative via the negated-key SHARDED running sum, DECIMAL(38,0) boundaries, group-intact classes",
    "llm_stop_tokens": "explode → partial+final count; 1-row broadcast total; integer share threshold",
    "llm_cluster_profile": "broadcast centroids → argmax assignment; two (cell,label)-key hash aggregates",
    "source_bucketed_join": "both sides Bucketed: true — zero Exchange on the join inputs; only the final tiny groupBy shuffles",
    "asof_join_next_purchase": "forward as-of: same ONE key-shuffle merge-scan, time-reversed ordering",
    "llm_simhash_hamming_pairs": "pigeonhole band equi-join bounds candidates; exact bit filter after — no all-pairs",
    "timeseries_rolling_volatility": "daily-close aggregate first (window partition is days, not ticks), integer power sums over a 7-row frame",
    "json_variant_extract": "parse_json once per row; typed variant path lookups fold into one projection before the aggregate",
    "curation_corpus_report": "KPI composition: single aggregates joined as 1-row broadcasts; pair count reuses the capped band join",
    "graph_nation_pagerank": "fact scanned once into the checkpointed aggregated edge list; 3 unrolled iterations read Scan ExistingRDD + broadcast scalars",
    "timeseries_vwap_anomaly": "one (flag,day) partial+final decimal aggregate over the fact; window runs on the tiny daily series",
    "llm_embedding_gram": "NO join: per-row upper-triangle fan-out, map-side partial_sum collapses before the single cell shuffle",
    "etl_merge_apply": "broadcast LeftAnti on the change keys — base scan map-only; upsert images unioned",
    "agg_winsorized_stats": "sharded exact order statistics (no global sort) broadcast back; one clip-and-aggregate pass",
    "source_zorder_layout": "z-value is a codegen'd shift/mask projection; one hash aggregate on the z-range",
    "stream_static_enrich": "stateless broadcast dim probe, fact never shuffles before the final rollup",
    "analytics_event_pattern": "one user-key shuffle; per-key timeline folds to a code string in the aggregation buffer",
    "agg_reuse_daily_rollup": "two-level decimal rollup: fact folds once to daily, month re-aggregates the rollup",
    "profile_psi_drift": "exact quintile thresholds broadcast; one corpus aggregate; totals as 1-row broadcasts",
    "curation_epoch_plan": "per-source token aggregate; water-filling window over n_sources rows; pivot as 1-row broadcast",
    "etl_expectations_report": "five expectations in ONE stack-unpivoted aggregate pass + key-only anti-join count",
    "analytics_attribution_last_touch": "backward as-of merge-scan: ONE user-key shuffle, then tiny channel rollup",
    "analytics_chi_square": "cells from one fact join+aggregate; marginals re-aggregate cells and broadcast back",
    "multimodal_patch_grid": "patch arithmetic folded into the Arrow-batched header-parse projection, map-only",
    "agg_bitmap_distinct": "exact distinct via mergeable 32k-bit bitmap buckets; no expand rewrite, popcounts summed",
    "udf_map_in_arrow_lengths": "raw Arrow RecordBatches through Arrow compute kernels — no pandas materialization",
    "locale_date_parse": "explicit-pattern day-first parse: map-only codegen projection",
    "graph_triangle_count": "fact folds to distinct ordered edges once; triangle joins run on edges only",
    "source_nested_struct_prune": "ReadSchema collapses to the struct leaf; comparison pushed onto meta.k",
    "llm_bpe_first_merges": "char-pair explode -> hash agg; alphabet-squared cardinality collapses map-side",
    "curation_negative_pairs": "multiplicative-hash partner ids; key equi-joins only, no similarity scan",
    "pivot_multi_measures": "explicit pivot values -> ONE conditional-aggregate pass",
    "etl_snapshot_diff": "one key-partitioned full-outer join + 4-group aggregate",
    "agg_bootstrap_mean_ci": "B=16 Poisson weights as a map-side fan-out into one partial+final aggregate; no extra shuffle",
    "agg_spearman_rank_corr": "ranks from the distinct-value domain broadcast back; fact never sorted; exact decimal power sums",
    "profile_rank_sum_test": "same rank machinery; doubled-U exact BIGINT; one aggregate over the corpus",
    "llm_prefix_filter_pairs": "rarest-prefix inverted index bounds candidates; exact Jaccard only on surfaced pairs",
    "llm_collocations_pmi": "one positional explode feeds unigram+bigram aggregates; quantized ln per surviving pair; take-ordered top-20",
    "source_file_manifest": "path-derived partition accounting from _metadata; one aggregate over the manifest scan",
    "profile_ks_test": "per-value cohort counts; cumsum over the distinct domain; exact integer gap max",
    "agg_ols_regression": "ONE partial+final aggregate; closed-form normal equations from exact decimal power sums",
    "analytics_rfm_features": "per-user aggregate, then three SHARDED row_number ranks joined back on user_id — no global sort of the entity table; n as a 1-row broadcast",
    "analytics_target_encoding": "category aggregate broadcast back; per-row exclusion is arithmetic, no self-join",
    "llm_embedding_int8": "map-only higher-order-function projection; zero exchanges",
    "llm_langid_confusion": "one prediction pass + (truth, pred) aggregate; totals re-aggregate the cells",
    "analytics_markov_transitions": "one per-user lag window + one cell aggregate; row totals from the 25-cell matrix",
    "agg_sketch_rolling_window": "per-day HLL sketches once; rolling estimates union 7 kilobyte sketches in a window frame",
    "source_partition_checksums": "map-side 16-bit row hash, order-independent per-partition sum; one aggregate",
    "llm_prefix_filter_pairs_capped": "r9: kept-prefix-token candidates (posting cap bounds per-token fan-out at cap^2), length-filter residual, exact verify candidate-bounded — never all-pairs",
    "llm_heldout_nb_auc": "r9: 2^14-bounded weight relation broadcast onto the held-out explode; AUC's only ordered pass is the distinct-score table",
    "curation_minhash_clusters_jump": "r9: capped LSH band join feeds O(log d) hook+jump label rounds; per-round joins key-partitioned over n-row frames",
    "agg_lorenz_curve": "r10: group-intact decile curve — distinct-cents relation ×10 broadcast decile spine, b from the sharded running sum, no row ever ranked",
    "agg_theil_index": "r10: NO ordered pass — ln quantized once per distinct cents value, exact HUGEINT moment sums, 1-row IEEE finish",
    "analytics_min_cost_supplier_ps": "r10: true-partsupp Q2 — partsupp generated map-side in the part scan; min-per-group + equality-back-join sharing one ps_partkey partitioning; TakeOrdered top-100",
    "analytics_excess_supply_ps": "r10: true-partsupp Q20 — year-sliced lineitem aggregate is the only fact-sized work; DECIMAL-exact availqty-vs-volume test; DISTINCT collapse before the dim chain",
}


def main() -> int:
    from bench import HEADLINE
    from rpa_etl_investing_spark.plans import QUERIES

    spark = get_spark(app_name="plan-audit")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `scripts/plan_audit.py` at sf_dir={SF_DIR}. Do not edit by hand.",
        "",
    ]
    sections = [(b, r, NOTES.get(b, "")) for b, r in HEADLINE.items()] + [
        (r, r, note) for r, note in EXTRAS.items()
    ]
    for bench_name, reg_name, note in sections:
        if not note.strip():
            # an empty scale-shape annotation is a hole in the plan
            # evidence (r9 verdict item #4) — fail instead of emitting it
            raise SystemExit(f"empty Scale shape annotation for {bench_name}")
        df = QUERIES[reg_name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out += [
            f"## {bench_name} (`{reg_name}`)",
            "",
            f"**Scale shape:** {note}",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(sections)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
