"""Window-function operators.

The reference's window surface (settings.yaml:90-94): a *global*
ROW_NUMBER() ordered by entry time, a per-key MIN() window, and the
IsNew flag derived from their equality. SURVEY.md §2.E notes the
idiomatic single-window rewrite; both forms are provided. The global
row_number is the documented scale hazard (one partition): callers at
scale should use ``global_row_number`` (one range sort plus Spark's
distributed sequence, the zipWithIndex of the pandas-on-Spark default
index) instead of ``row_number_global``. The running sums and the
keyed rank keep a two-pass form: range-partition, a per-partition
window, then a broadcast table of per-partition offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.internal import InternalFunction


def row_number_global(df: DataFrame, order_by: list, out_col: str = "Id") -> DataFrame:
    """ROW_NUMBER() OVER (ORDER BY ...) — parity form
    (settings.yaml:94). Single-partition window: fine at report scale,
    wrong at 100 TB — use global_row_number there."""
    return df.withColumn(out_col, F.row_number().over(Window.orderBy(*order_by)))


def global_row_number(df: DataFrame, order_by: list, out_col: str = "Id") -> DataFrame:
    """Scalable global sequence: ROW_NUMBER() OVER (ORDER BY ...) as
    one range sort plus Spark's distributed sequence
    (``AttachDistributedSequence``, the pandas-on-Spark default
    index): a ``zipWithIndex`` over the sorted rows, cached for the
    one action and released after it. Equal to row_number_global for
    fully-ordered keys, with no single-partition window."""
    return df.sort(*order_by).withColumn(
        out_col, InternalFunction.distributed_sequence_id() + 1
    )


def global_running_sum(
    df: DataFrame, order_by: list, value_col: str, out_col: str = "running_sum"
) -> DataFrame:
    """Scalable global running SUM over a total order, in two passes:
    range-partition on the sort key, per-partition running sum (no
    cross-partition movement), then broadcast each partition's offset
    (the sum of all earlier partitions' totals).

    The only single-partition window runs over the per-partition
    totals table — one row per shuffle partition, bounded by
    configuration, never by data volume. A bare
    ``sum().over(Window.orderBy(...))`` drags every row through one
    task; this plan keeps the running sum fully parallel at any scale.

    Exactness: for integral/decimal ``value_col`` the result is
    bit-identical to the sequential window (integer addition is
    associative). For floating-point inputs the two-pass association
    differs from strict sequential accumulation by O(ulp); callers
    needing cross-engine hash-stable running sums should pre-scale to
    a long (see q_revenue_pareto) rather than sum doubles.
    """
    ordered = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = with_pid.withColumn("__ls", F.sum(value_col).over(w))
    partials = local.groupBy("__pid").agg(F.sum(value_col).alias("__psum"))
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = partials.withColumn(
        "__off", F.coalesce(F.sum("__psum").over(woff), F.lit(0))
    )
    return (
        local.join(F.broadcast(offsets.select("__pid", "__off")), "__pid")
        .withColumn(out_col, F.col("__ls") + F.col("__off"))
        .drop("__pid", "__ls", "__off")
    )


def min_over_partition(df: DataFrame, part_col: str, val_col: str, out_col: str) -> DataFrame:
    """MIN(val) OVER (PARTITION BY part) — per-group min broadcast to
    every row (settings.yaml:92)."""
    return df.withColumn(out_col, F.min(val_col).over(Window.partitionBy(part_col)))


def top_k_per_group(
    df: DataFrame, part_cols: list, order_cols: list, k: int, out_col: str = "rn"
) -> DataFrame:
    """Top-k rows per group via a partitioned ROW_NUMBER filter.

    Scale notes: the window shuffles once on the group key and sorts
    within partitions — no global sort, no driver collection. Catalyst
    plans the rank filter as a WindowGroupLimit (rank-limit pushdown,
    Spark 3.5+): each task keeps a bounded heap of k rows per key
    before the shuffle, so the exchanged data is O(k·groups), not the
    full table. Callers must include a unique tie-break column in
    ``order_cols`` for deterministic output.
    """
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return df.withColumn(out_col, F.row_number().over(w)).filter(F.col(out_col) <= k)


def keep_first(df: DataFrame, key_cols: list, order_cols: list) -> DataFrame:
    """Snapshot dedup: keep exactly one row per key — the first under
    ``order_cols`` (ascending business time for "earliest", descending
    for "latest wins", the canonical CDC-compaction shape).

    Same WindowGroupLimit bounded-buffer plan as top_k_per_group with
    k=1: partial limit before the shuffle, so a 100 TB table with few
    distinct keys exchanges only one candidate row per key per map
    task. A unique tie-break in ``order_cols`` makes it deterministic.
    """
    return top_k_per_group(df, key_cols, order_cols, 1, out_col="__rn").drop("__rn")


def is_new_flag(
    df: DataFrame, part_col: str, order_col: str, out_col: str = "IsNew"
) -> DataFrame:
    """First-ever row per key → 'N', later rows → 'E'.

    Idiomatic rewrite of the reference's three nested subqueries
    (settings.yaml:90-94): one partitioned window instead of a global
    row_number + per-key min + equality CASE. Equivalent up to ties on
    the order column (the reference tie-break is nondeterministic too).
    """
    w = Window.partitionBy(part_col).orderBy(F.col(order_col).asc())
    return df.withColumn(
        out_col, F.when(F.row_number().over(w) == 1, F.lit("N")).otherwise(F.lit("E"))
    )


def quantile_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    tiebreak_col: str | None = None,
    out_col: str = "bin",
) -> DataFrame:
    """Exact equal-frequency binning (feature discretization) with
    NTILE semantics — but built on the scalable global row number
    instead of a single-partition window.

    NTILE(n) is pure arithmetic on the global rank: with q = ⌊N/n⌋,
    r = N mod n, the first r bins hold q+1 rows. Computing rank via
    global_row_number (range sort + distributed sequence) and
    deriving the bin keeps the plan parallel where a bare
    ``ntile().over(Window.orderBy(...))`` would drag every row into
    one partition.
    """
    order = [F.col(value_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    ranked = global_row_number(df, order, out_col="__grn")
    total = ranked.groupBy().agg(F.count(F.lit(1)).alias("__N"))
    q = F.floor(F.col("__N") / n_bins)
    r = F.col("__N") % n_bins
    rn = F.col("__grn")
    big = (q + 1) * r  # rows living in the first r (larger) bins
    bin_expr = F.when(
        rn <= big, F.ceil(rn / (q + 1))
    ).otherwise(r + F.ceil((rn - big) / q))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(out_col, bin_expr.cast("int"))
        .drop("__grn", "__N")
    )


def global_running_sums(
    df: DataFrame, order_by: list, value_cols: list, suffix: str = "_run"
) -> DataFrame:
    """Multi-column :func:`global_running_sum`: N running sums over ONE
    total order in a single two-pass plan (one range-partition shuffle,
    one per-partition window computing every sum, one broadcast offset
    table with N offset columns) — for consumers like the two-sample
    KS statistic that need two synchronized cumulative counts. Same
    exactness contract: integral columns are bit-identical to the
    sequential window.

    CALLER WARNING (applies to the running-sum helpers and
    :func:`grouped_row_number`, the spark_partition_id two-pass
    helpers in this module; not to :func:`global_row_number`):
    do NOT persist/cache ``df``. The offsets
    subtree and the output subtree must observe the SAME physical
    range partitioning; with a raw input their byte-identical plans
    reuse one exchange, but an InMemoryRelation input let AQE coalesce
    the two executions to DIFFERENT partition counts (observed r12 on
    ks_drift at sf0.01) — offsets then join the wrong pids and the
    result silently corrupts.
    """
    ordered = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    local = ordered.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in value_cols:
        local = local.withColumn(c + suffix, F.sum(c).over(w))
    partials = local.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__ps_{c}") for c in value_cols]
    )
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = partials.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__ps_{c}").over(woff), F.lit(0)).alias(f"__off_{c}")
            for c in value_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "__pid")
    for c in value_cols:
        out = out.withColumn(c + suffix, F.col(c + suffix) + F.col(f"__off_{c}"))
    return out.drop("__pid", *[f"__off_{c}" for c in value_cols])


def grouped_row_number(
    df: DataFrame, group_cols: list, order_by: list, out_col: str = "rn"
) -> DataFrame:
    """Per-group row_number over a total order that stays PARALLEL for
    low-cardinality groups — the keyed twin of :func:`global_row_number`,
    on the two-pass offsets form of the running sums.

    A plain ``Window.partitionBy(group)`` hash-exchanges each group
    into ONE task: for a 3-value group column over 10⁹ rows, three
    tasks sort a third of the fact each while the rest of the cluster
    idles (measured on trimmed_mean: 6.8× at a 10× volume step — the
    fixed-parallelism sort, not the data, was the cost). Here the
    range partitioner splits on (group, order) jointly, so ONE group
    spans many partitions; each partition ranks locally per group, and
    the broadcast per-(partition, group) offset table (bounded by
    shuffle-partition count × group cardinality — both configuration,
    not data) lifts local ranks to exact per-group ranks. Identical
    values to the sequential keyed window for any total order.

    High-cardinality group columns don't need this (the plain keyed
    window already spreads; use it) — this is for the handful-of-
    groups regime where per-group rank selection must still scale.
    """
    parts = [F.col(c) for c in group_cols]
    ordered = df.repartitionByRange(*parts, *order_by).sortWithinPartitions(
        *parts, *order_by
    )
    with_pid = ordered.withColumn("__gpid", F.spark_partition_id())
    w = Window.partitionBy("__gpid", *group_cols).orderBy(*order_by)
    local = with_pid.withColumn("__glrn", F.row_number().over(w))
    counts = local.groupBy("__gpid", *group_cols).agg(
        F.max("__glrn").alias("__gcnt")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__gpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__goff", F.coalesce(F.sum("__gcnt").over(woff), F.lit(0))
    )
    return (
        local.join(
            F.broadcast(offsets.select("__gpid", *group_cols, "__goff")),
            ["__gpid", *group_cols],
        )
        .withColumn(out_col, (F.col("__glrn") + F.col("__goff")).cast("long"))
        .drop("__gpid", "__glrn", "__goff")
    )
