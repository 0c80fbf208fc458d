#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical-plan summaries for the
flagship queries at sf0.1, each annotated with the scale property it
evidences. Run from the repo root: python tools/gen_plans.py"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as em
from awi_datapipelinepublic_spark import get_spark

TARGETS = {
    "view_retention": "Broadcast star join: 3 BroadcastHashJoin, pushed filters, pruned ReadSchema",
    "tpch_q3_topk": "Selective dim broadcast + partial agg + TakeOrderedAndProject",
    "grouped_agg": "Partial+final HashAggregate around one shuffle",
    "asof_join": "Union + single partitioned window - no join operator",
    "merge_time_window": "Filter below union - cutoff prunes base scan",
    "topk_per_group": "WindowGroupLimit: bounded per-key buffers before AND after the shuffle, no full per-group sort",
    "lateral_topk": "Correlated LATERAL decorrelated to WindowGroupLimit + hash join - no per-row nested loop",
    "range_join_binned": "Interval join as bin equi-join + residual filter - hash join, not BroadcastNestedLoopJoin",
    "cube_agg": "CUBE = one scan + Expand (4 grouping sets), partial+final agg around one shuffle",
    "date_spine_gapfill": "Gap-fill join broadcasts the calendar spine; observed side pre-aggregated",
    "tpch_q1_pricing": "Full-scan multi-agg: map-side partials collapse to 6 groups before one shuffle",
    "tpch_q6_forecast": "All predicates pushed to the parquet scan; scalar agg, no shuffle",
    "paragraph_dedup": "Skew-proof winner: groupBy-min(struct) partial agg, semi-join survivors, bounded reassembly",
    "merge_upsert": "Upsert as union + one groupBy-max(struct) - no join, no window",
    "heavy_hitters": "Zipf head collapses map-side; TakeOrderedAndProject for the top-k",
    "sequence_pack": "Two-pass packing on a SLIM (id, n_tok) projection: range-partition sort never carries text (r7); block map hash-joins text back; broadcast offsets - no single-partition window",
    "bm25_topk": "Only query-term hits shuffle; df + corpus scalars broadcast back",
    "knn_join": "Exact kNN join with ZERO join operator: broadcast matrix in a mapInPandas closure, one scan",
    "validate_expectations": "Whole rule suite = one scan + one partial/final HashAggregate pair, no joins",
    "tpch_q19_brackets": "Disjunctive brackets: common conjuncts extracted below the broadcast join, residual OR stays as join filter",
    "weighted_sample": "Weighted draw = one projection (md5+pow) + TakeOrderedAndProject, no shuffle of row data",
    "tpch_q17_small_qty": "Correlated per-part AVG decorrelated: brand-filtered part keys broadcast into BOTH fact branches - lineitem never shuffles at full width",
    "tpch_q18_large_orders": "HAVING survivors of the one heavy groupBy broadcast into both dim joins; TakeOrderedAndProject caps at 100",
    "tpch_q13_custdist": "LEFT join with join-side predicate feeding a groupBy-of-a-groupBy - two partial/final agg pairs",
    "dup_span_stats": "Cross-doc span profile: grouped aggs + per-gram doc-count join-back, NO gram window, NO corpus self-join",
    "mixture_resample": "Corpus is filter-only: category counts broadcast back, no corpus shuffle",
    "tpch_q9_profit": "5-way join, both selective dims broadcast; at most one fact-fact SortMergeJoin",
    "knn_join_lsh": "Cogrouped per-bucket matmul (FlatMapCoGroupsInPandas) - vectors cross the boundary once per row, no pair rows",
    "tpch_q11_important_stock": "Global-sum-fraction HAVING: persisted per-part agg feeds both branches (two InMemoryTableScans, one fact scan), one-row broadcast crossJoin",
    "tpch_q16_supplier_cnt": "Distinct pairs + broadcast LEFT ANTI (NOT IN) + broadcast part dim; only wide shuffle is the final count-distinct",
    "tpch_q20_promo_suppliers": "Nested correlated INs as agg + LEFT SEMI chain; part keys broadcast into both pre-restricted fact branches",
    "tpch_q21_waiting_suppliers": "EXISTS + NOT EXISTS via per-order profile: lineitem scanned at most twice, dims broadcast, LeftSemi against the profile",
    "remove_dup_spans": "Span removal: groupBy(gram)+join-back ownership (no gram window), persisted tokenized base read by both branches",
    "knn_join_ivf": "Per-cluster grouped matmul (FlatMapGroupsInPandas) - NO join operator; one shuffle on the cluster id",
    "dataset_diff": "Snapshot diff: both sides pre-hashed to (key, md5) before the full-outer join - exchange carries digests, never payloads",
    "kmeans_clusters": "Iterative k-means: final assignment is a pure closure-matrix projection - NO Exchange, no join in the returned plan",
    "embedding_outliers": "Centroid-distance bottom-k: TakeOrderedAndProject per-partition heaps, never a global sort",
    "bloom_prefilter_join": "Bloom probe is a literal-word-array Filter on the big scan - non-matching rows die before the join exchange",
    "entropy_quality": "doc_entropy: explode + map-side-combine char counts - shuffle is rows x alphabet, never corpus characters",
    "knn_ivfpq": "IVF-PQ: cluster filter + per-cluster ADC lookup-sum branches - no shuffle, no join after the coarse filter",
    "bigram_lm": "Adjacent pairs via codegen zip_with; pair groupBy + context-total join-back, no window over raw pairs",
    "gopher_filter": "Gopher rule set: ONE codegen projection over the scan - no Exchange anywhere in the plan",
    "overlap_join": "Interval-interval overlap: binned equi-join (hash join) + residual predicate + overlap-start-bin attribution - never a nested loop",
    "revenue_pareto": "Running share via two-pass global_running_sum: rangepartitioning + __pid-partitioned window; only SinglePartition exchanges are the bounded offset table and the scalar total",
    "vocab_build": "Ordered token ids via global_row_number: one range sort + AttachDistributedSequence over the surviving vocabulary - no single-partition window",
    "ks_drift": "Two-sample KS: distinct-value-sized exchanges, BOTH running CDFs in one range-partitioned two-pass window, exact-integer gap max",
    "basket_pair_lift": "Capped pair explode + pair groupBy; item counts broadcast back twice; no cartesian, no SMJ",
    "label_propagation": "Per-round neighbor-join + argmax-struct groupBy, edge-key shuffles only, checkpoint-cut lineage",
    "attribution_last_touch": "No-join attribution: one user-partitioned carried-forward window, then a type-cardinality aggregate",
    "mad_outliers": "Two grouped exact-percentile shuffles + broadcast join-backs; flag count map-side combined",
    "curation_pipeline": "lang+gopher filters fused into the scan stage; the md5-fingerprint dedup groupBy is the only shuffle",
    "time_rollup": "ONE raw scan: day/month branches read the persisted hourly/daily partials (InMemoryTableScan), never the fact again",
    "cohort_retention": "Activity dedups to (user, day) BEFORE the cohort join - join input bounded by users x active-days, never raw events",
    "asof_join_tolerance": "Forward as-of: one key-partitioned window over the union - no range join, no Exchange beyond the key shuffle",
    "bigram_logprob": "Pair + context count tables join back on their keys - SMJ/AQE decides, nothing broadcast by hand",
    "rolling_median": "ONE hash exchange on the key: the 7-row percentile frame, the last-row WindowGroupLimit and its window all ride the same partitioning",
    "poisson_weighted_sample": "Pure filter: exact 1-row sum-of-weights broadcast (IdentityBroadcastMode), keep-decision inside the scan stage - the corpus never shuffles",
    "fuzzy_join_edit1": "Edit-distance join as blocked equi-join: distinct + deletion-variant Generate on both sides, hash join on the block key with the exact levenshtein residual as join condition - no nested loop",
    "skyline_pareto": "Pareto frontier without a global sort: checkpointed distinct-pair table, bucket-partitioned running-max window, constant-64-row cross-bucket prefix broadcast back - no NOT-EXISTS join",
    "link_prediction": "Wedge explode at degree-capped centers (codegen slice-transform) + one pair groupBy + LEFT ANTI vs the edge list + TakeOrderedAndProject top-k - no global sort, no nested loop",
    "random_projection": "JL projection is a pure codegen projection - NO Exchange anywhere in the plan",
    "poisson_bootstrap": "explode(digest groups) -> one md5 per (row, group) -> explode(4 slices): replicate sums combine map-side; only exchanges are (key, replicate)- and key-sized",
    "spearman_corr": "Ranks from two distinct-value-sized count tables + two-pass running sums; DECIMAL(38,0) moment aggregate collapses to one scalar row",
    "packing_efficiency": "The seq-len axis is a 3-element literal explode: ONE scan, one grouped aggregate, exact BIGINT DIV ceils",
    "rolling_anomaly": "One hash exchange on the key; both bounded ROWS-frame sums ride the same Window operator",
    "changepoint_scan": "Prefix-sum + row-number in one key-partitioned Window, argmax via max(struct) groupBy - series length is calendar-bounded per key",
    "itemset_triples": "Apriori item-prune (broadcast semi-join) BEFORE the capped cubic explode; one triple-key groupBy with map-side combine",
    "trimmed_mean": "Per-group trim on a 3-value group key stays PARALLEL: grouped_row_number range-partitions (group, value) jointly, broadcast per-(pid, group) offsets lift local ranks - no one-task-per-group window",
    "cdc_apply": "CDC last-wins: ONE key-partitioned window over the changelog, filter rn=1 AND op<>D - single shuffle, no join",
    "scd2_lookup": "Point-in-time lookup = key equi-join (hash/SMJ, AQE picks) + residual interval filter - no range-join machinery, no nested loop",
    "rfm_segments": "Customer-cardinality aggregate, one broadcast anchor+count row, then three global ranks (range sort + AttachDistributedSequence each) and a <=bins^3 census - fact never re-shuffles",
    "vocab_growth": "First-occurrence attribution (term groupBy-min) + two global_running_sum passes - both cumulatives parallel, no single-partition window over documents",
    "hits_scores": "Unnormalized integer HITS: per-iteration edge-join + partial-agg shuffles on DECIMAL(38,0) scores - zero float accumulation in an iterative loop",
    "attribution_time_decay": "Staircase half-life credit: one keyed window + integer shift arithmetic, no self-join, no float pow",
    "fk_orphans": "Four left joins against distinct dim keys (AQE-sized builds), each feeding ONE count + count_if aggregate - referential audit without shuffling fact payloads",
    "auc_eval": "Exact Mann-Whitney AUC: score-cardinality aggregate + two-pass running rank (rangepartitioning, broadcast offsets) folding to ONE scalar row - no single-partition window over near-unique scores",
    "quartile_skew": "Per-group integer-rank quartiles via grouped_row_number: (group, value) range partitioning keeps a 3-value group key PARALLEL; three rank-equality picks in one max(when) aggregate",
    "harmonic_centrality": "Seed-carried level-synchronous BFS: per-hop node-key equi-join + (seed, node) anti-join, checkpoint-cut lineage; harmonic terms are scaled-integer DIV - no float accumulation in an iterative loop",
    "linear_interpolate": "Calendar spine (sequence+explode) left-joined to the pre-aggregated series; segment-count bracketing windows are key-partitioned over the bounded calendar axis",
    "km_hazard": "Life-table: duration-cardinality aggregate, the only ordered window runs over distinct durations (calendar-bounded), n_risk = total minus prefix - fact shuffles once",
    "kendall_tau": "Declared-quadratic pair concordance over the CALENDAR-bounded daily series: the self-join input is 'days', never fact rows, and one side is broadcast (BroadcastNestedLoopJoin, never CartesianProduct); all counts integer, one sqrt+div at the end",
}


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    out = [
        "# PLANS — physical-plan evidence at sf0.1 (generated by tools/gen_plans, do not hand-edit)",
        "",
        "Each section is the AQE-era physical plan summary for a flagship query,",
        "with the property it evidences. Full formatted plans regenerate via",
        "`python tools/gen_plans.py`.",
        "",
    ]
    for name, why in TARGETS.items():
        df = em.queries()[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        summary = buf.getvalue().split("\n\n")[0]
        out += [f"## {name}", "", f"**Property:** {why}", "", "```", summary.strip(), "```", ""]
    Path("PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
