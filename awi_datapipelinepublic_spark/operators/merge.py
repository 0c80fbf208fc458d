"""Time-window incremental merge — the engine's one stateful operator.

Reference semantics (config.py:180-212): a new batch *owns* the time
range ``[min(new.date_col), ∞)``. The merged base table is

    SELECT * FROM base WHERE date_col < start_date
    UNION ALL SELECT * FROM new

with ``start_date = MIN(new.date_col)`` — base rows inside the new
batch's window are discarded (re-statement / late-correction
semantics), older history is preserved untouched.

Scale design: the base table is partitioned by month(date_col). The
filter ``date_col < cutoff`` is a pushed row-group filter on the read
(``PushedFilters``), not partition pruning: it names ``date_col``, not the
``_merge_month`` partition column. Nor is the publish scoped: every
merge republishes the whole base as a new versioned snapshot
(sources/writers.py), the pass-through months included — perfbench's
traced ingest reads ``writers.useful_write_ratio`` 0.44 — so publish
cost grows with the history, not the batch. A partition-scoped commit
is ROADMAP direction 1; on a Delta-enabled cluster the exact primitive
is ``replaceWhere(f"{date_col} >= '{cutoff}'")``.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, functions as F


def merge_cutoff(new_batch: DataFrame, date_col: str):
    """MIN(new.date_col) — the scalar merge boundary (reference
    config.py:180-187). One tiny ungrouped aggregate; Spark plans it
    as a partial+final agg, no full shuffle."""
    return new_batch.agg(F.min(date_col).alias("mindate")).first()["mindate"]


# ``cutoff`` default: the caller did not observe MIN(date_col), so it is
# computed here. None is an observed value: the batch has no dated row.
COMPUTE_CUTOFF = object()


def merge_time_window(
    base: DataFrame,
    new_batch: DataFrame,
    date_col: str,
    cutoff=COMPUTE_CUTOFF,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """Pure logical-plan form of the merge: callers that own storage
    pass the result to writers.overwrite_table.

    NULL date rows never survive in the new batch (the clean stage
    drops them — reference config.py:138) and NULL < cutoff is NULL →
    filtered, matching BigQuery's behavior for base rows.

    ``cutoff`` is MIN(new.date_col) when the caller already has it (e.g.
    observed on the write that produced the batch); left out, it is
    computed with :func:`merge_cutoff`. A None cutoff means an empty
    batch: the merge is the identity on base.

    ``allow_schema_evolution`` is the Delta ``mergeSchema`` analog: a
    batch may ADD columns (history reads NULL for them) or OMIT
    columns (the batch's rows read NULL) — name-based union padding,
    the same align_union semantics the clean stage applies across
    report files (reference config.py:98-118). Default OFF: the
    reference pipeline casts every batch to the declared schema before
    merging, so a mismatch there is a data bug and must stay loud.
    """
    if cutoff is COMPUTE_CUTOFF:
        cutoff = merge_cutoff(new_batch, date_col)
    if cutoff is None:
        return base
    return base.filter(F.col(date_col) < F.lit(cutoff)).unionByName(
        new_batch, allowMissingColumns=allow_schema_evolution
    )


def merge_into_path(
    spark,
    base_path: str,
    new_batch: DataFrame,
    date_col: str,
    partition_by_month: bool = True,
    allow_schema_evolution: bool = False,
    cutoff=COMPUTE_CUTOFF,
) -> None:
    """Storage-level merge: read base, merge, atomic-publish back
    (writers.overwrite_table — versioned snapshot + pointer flip).

    The ``< cutoff`` filter is a pushed row-group filter on the read,
    not partition pruning, and the publish rewrites the whole base —
    the batch's months and every older month passed through (ROADMAP
    direction 1 scopes it to the owned months). ``allow_schema_evolution``
    and ``cutoff`` pass through to :func:`merge_time_window`. An empty
    batch (None cutoff) over an existing base publishes nothing. The
    base is read and republished under one publish lock, as the
    reference's CREATE OR REPLACE … AS SELECT is one statement: an
    overlapping writer gets ConcurrentPublishError.
    """
    from awi_datapipelinepublic_spark.sources.readers import read_snapshot
    from awi_datapipelinepublic_spark.sources.writers import overwrite_table, publish_lock

    part_cols = ["_merge_month"] if partition_by_month else None
    if partition_by_month:
        new_batch = new_batch.withColumn("_merge_month", F.date_format(F.col(date_col), "yyyy-MM"))
    with publish_lock(base_path) as held:
        if held.path.exists():
            if cutoff is COMPUTE_CUTOFF:
                cutoff = merge_cutoff(new_batch, date_col)
            if cutoff is None:
                return
            base = read_snapshot(spark, held)
            if partition_by_month and "_merge_month" not in base.columns:
                base = base.withColumn("_merge_month", F.date_format(F.col(date_col), "yyyy-MM"))
            merged = merge_time_window(
                base, new_batch, date_col, cutoff, allow_schema_evolution=allow_schema_evolution
            )
        else:
            merged = new_batch
        overwrite_table(merged, held, partition_by=part_cols)


def merge_into_table(
    spark,
    table: str,
    new_batch: DataFrame,
    date_col: str,
    partition_by_month: bool = True,
) -> None:
    """Catalog-backed twin of :func:`merge_into_path` — the production
    shape. The reference loads into a *warehouse dataset*, not a path
    (config.py:161-172: ``WRITE_TRUNCATE`` load + ``CREATE OR REPLACE
    TABLE`` into a BigQuery dataset); here view builders and
    ``spark.sql`` address the merged base by *name*.

    The catalog is only a name over the path writer's files: the merge
    publishes with :func:`merge_into_path` at the table's warehouse
    location (snapshot + pointer flip under the publish lock), then
    registers an EXTERNAL table over the pointer and refreshes its
    files and partitions. A crash before that catalog sync is repaired
    by the next call. ``DROP TABLE`` removes the name and keeps the
    data, so the next merge into the name, in this session or a new
    one, keeps the history.
    """
    from awi_datapipelinepublic_spark.sources.layout import table_location

    loc = table_location(spark, table)
    merge_into_path(spark, str(loc), new_batch, date_col, partition_by_month=partition_by_month)
    spark.sql(f"CREATE TABLE IF NOT EXISTS {table} USING parquet LOCATION '{loc}'")
    spark.sql(f"REFRESH TABLE {table}")
    if partition_by_month:
        # The catalog tracks partitions of a LOCATION table: months the
        # merge added must be registered, months it emptied dropped.
        spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
) -> DataFrame:
    """Keyed latest-wins upsert (warehouse MERGE INTO ... WHEN MATCHED
    UPDATE / WHEN NOT MATCHED INSERT, collapsed to its relational
    form): union both sides, keep the single highest-``version_col``
    row per key, updates winning ties.

    Scale design: ONE shuffle on the key via groupBy + max_by-style
    min(struct) — no join, no window over a skewed key (a repeated key
    with 10⁹ update rows still partial-aggregates map-side). On a
    Delta/Iceberg cluster the same semantics are `MERGE INTO`; this is
    the engine-neutral plan.
    """
    tagged = base.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    payload = [c for c in tagged.columns if c not in keys]
    # max(struct(version, src, payload...)) picks the winner row per
    # key: highest version, then updates-side on version ties.
    win = F.max(F.struct(version_col, "__src", *[p for p in payload if p not in (version_col, "__src")])).alias("__w")
    out = tagged.groupBy(*keys).agg(win)
    cols = [F.col(k) for k in keys] + [
        F.col(f"__w.{c}").alias(c) for c in payload if c != "__src"
    ]
    return out.select(*cols)


def scd2_merge(
    history: DataFrame,
    keys: list[str],
    change_col: str,
    effective_col: str,
) -> DataFrame:
    """Slowly-Changing-Dimension type 2: collapse a change log into
    effective-dated rows. Consecutive rows per key where
    ``change_col`` is unchanged merge into one validity interval;
    each output row carries ``valid_from`` / ``valid_to`` (open
    interval = NULL) and ``is_current``.

    Scale design: one window partitioned by key ordered by
    ``effective_col`` (lag to detect change points), then a second
    cumulative-sum window over the same partitioning — Spark reuses
    the single hash-partition exchange for both (one shuffle), and the
    final groupBy on (key, island) re-uses it again.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(effective_col)
    changed = F.when(
        F.lag(change_col).over(w).eqNullSafe(F.col(change_col)), F.lit(0)
    ).otherwise(F.lit(1))
    islands = history.withColumn("__island", F.sum(changed).over(w))
    grp = islands.groupBy(*keys, "__island", change_col).agg(
        F.min(effective_col).alias("valid_from"),
        F.max(effective_col).alias("__last_seen"),
    )
    w2 = Window.partitionBy(*keys).orderBy("valid_from")
    return (
        grp.withColumn("valid_to", F.lead("valid_from").over(w2))
        # INT 0/1 flag, not BOOLEAN — canonicalization-proof across
        # harness render paths (the validate_expectations r4 lesson)
        .withColumn("is_current", F.col("valid_to").isNull().cast("int"))
        .drop("__island", "__last_seen")
    )


def row_hash(cols: list[str]) -> F.Column:
    """md5 over null-tagged, unit-separator-joined values of ``cols``:
    concat_ws drops NULLs silently, so each value is tagged first
    (distinct from any real string because of the \\x01 marker
    prefix), making (NULL) and ('') hash apart. Shared by
    :func:`dataset_diff` and the streaming CDC handler, whose stored
    snapshot hashes depend on this exact expression."""
    tagged = [
        F.coalesce(F.concat(F.lit("\x01v"), F.col(c).cast("string")), F.lit("\x01n"))
        for c in cols
    ]
    return F.md5(F.concat_ws("\x02", *tagged))


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff between two versions of a keyed dataset: one row
    per key present in either side, with ``diff_status`` in
    {added, removed, changed, unchanged} — the audit primitive behind
    dataset versioning (what did this rebuild of a 100 TB corpus
    actually change?) and incremental-publish decisions (ship only
    added+changed partitions).

    ``compare_cols`` defaults to every shared non-key column. Change
    detection hashes the compared columns per side BEFORE the join, so
    the exchange carries (key, 32-byte md5) rows — never the full row
    payload — and the full outer join is a plain key equi-join AQE can
    size (skew-split included). NULL-safe: column values are
    null-tagged before hashing so (NULL) vs ('') differ, and the
    status logic never relies on comparing payload columns post-join.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    o = old.select(*keys, row_hash(compare_cols).alias("__h_old"))
    n = new.select(*keys, row_hash(compare_cols).alias("__h_new"))
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*keys, status.alias("diff_status"))


def refresh_monthly_rollup(
    spark,
    base_path: str,
    rollup_path: str,
    group_cols: list[str],
    agg_exprs: list,
    since_month: str | None = None,
) -> None:
    """Incremental maintenance of a month-grained aggregate over a
    month-partitioned merged base (the materialized-view refresh the
    reference's BI layer re-derives by full CTAS on every load —
    config.py:190-199 — made incremental).

    The insight: a monthly rollup of a time-window-merged base obeys
    the SAME ownership contract as the base itself — a batch that owns
    ``[cutoff, ∞)`` at the row level owns ``[month(cutoff), ∞)`` at
    the aggregate level. So the refresh IS :func:`merge_time_window`
    applied at the aggregate grain: recompute only months ≥
    ``since_month`` (the base scan partition-prunes on
    ``_merge_month``; at 100 TB this reads one month's data, not the
    history) and merge the fresh month rows over the stored rollup,
    discarding the restated months. A full recompute and the
    incremental path provably agree because monthly groups never
    straddle a month boundary.

    ``since_month`` is ``date_format(cutoff, 'yyyy-MM')`` of the batch
    just merged; None forces a full rebuild (bootstrap or backfill).
    Atomic publish via the same versioned-snapshot writer; the rollup
    is itself month-partitioned so downstream month filters prune too.
    """
    from awi_datapipelinepublic_spark.sources.readers import read_snapshot
    from awi_datapipelinepublic_spark.sources.writers import overwrite_table, publish_lock

    # The publish lock is held across the READ of the old rollup as
    # well as the merge + publish (same structure as compact_table):
    # two concurrent refreshes that each read-then-publish unlocked
    # would interleave and one refresh's months would vanish from the
    # survivor's snapshot.
    with publish_lock(rollup_path) as held:
        if since_month is not None and not held.path.exists():
            # No stored rollup to merge the fresh months over: an
            # incremental refresh would publish ONLY months >=
            # since_month and silently truncate all history. Fall
            # back to a full rebuild from the unfiltered base.
            since_month = None
        base = read_snapshot(spark, base_path)
        if since_month is not None:
            base = base.filter(F.col("_merge_month") >= F.lit(since_month))
        fresh = base.groupBy("_merge_month", *group_cols).agg(*agg_exprs)
        if since_month is not None:
            old = read_snapshot(spark, held)
            merged = merge_time_window(old, fresh, "_merge_month", cutoff=since_month)
        else:
            merged = fresh
        overwrite_table(merged, held, partition_by=["_merge_month"])


def cdc_apply(
    changelog: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC changelog (insert/update/delete ops with a
    monotonic sequence) to produce the current-state table — the
    Debezium-feed materialization every lakehouse ingests: for each
    key, the HIGHEST-sequence operation wins; if it is a delete
    tombstone the key is absent from the result, otherwise the
    payload of that winning row survives.

    A strict generalization of :func:`merge_upsert` (which has no
    tombstones and assumes one batch): here the whole out-of-order
    changelog collapses in one pass. Plan: one keyed window
    (row_number per key over seq DESC — sequence values are unique
    per key by CDC contract, making the winner deterministic), one
    filter; single shuffle on the key, no join. At 100 TB the window
    state is one row per key per partition — the same shape Spark's
    own streaming dedup keeps.

    Output: all changelog columns except the helper rank; one row per
    surviving key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    ranked = changelog.withColumn("__cdc_rn", F.row_number().over(w))
    return (
        ranked.filter((F.col("__cdc_rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__cdc_rn")
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    keys: list[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time (as-of) lookup against an SCD type-2 dimension:
    each fact row joins the dimension VERSION whose validity interval
    covers the fact's timestamp — the other half of the SCD2 story
    (:func:`scd2_merge` builds the versions; this consumes them), and
    the join every "what did the dimension say at the time" audit
    needs.

    Version intervals are half-open ``[valid_from, valid_to)`` with
    NULL = still current (scd2_merge's contract), so intervals per key
    are disjoint and each fact matches AT MOST one version — the join
    is deterministic with no tie-break needed.

    Plan: a plain equi-join on the business key + a residual range
    filter — NOT a range join; versions-per-key is small by SCD
    construction (changes, not rows), so the per-key fan-out before
    the filter is bounded and Spark keeps the hash/SMJ strategy with
    AQE free to pick sides. Facts whose timestamp predates the key's
    first version (or whose key is absent) drop out (inner-join
    semantics).
    """
    j = facts.join(dim, keys)
    return j.filter(
        (F.col(ts_col) >= F.col(valid_from))
        & (F.col(valid_to).isNull() | (F.col(ts_col) < F.col(valid_to)))
    )
