"""Table layout for scale: partitioning and bucketing policies.

At 100 TB the dominant cost of repeated fact-fact joins is the shuffle
of both sides on every query. Bucketing fixes the physical layout so
the shuffle happens ONCE at write time: two tables bucketed by the
same key into the same bucket count join with zero Exchange — the
co-located (shuffle-free) sort-merge join. This module wraps the
write- and read-side halves of that contract.

Policy summary (applied by the pipeline writer):
- base fact tables: partitionBy month(date_col) — merge pruning
  (operators/merge.py) and time-range queries prune at scan.
- join-heavy facts: bucketBy(join_key, N) + sortBy(join_key) —
  co-located joins; N sized so a bucket ≈ 128-512 MB at target scale.
- dimensions: plain parquet; they broadcast, layout is irrelevant.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F


def table_location(spark: SparkSession, table: str) -> Path:
    """The directory of catalog name ``table`` under the session
    warehouse: where a managed table lives, and where
    operators.merge.merge_into_table publishes its snapshots."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return Path(warehouse.removeprefix("file:")) / table.lower()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Write a managed bucketed table (bucketing requires saveAsTable —
    the metastore carries the bucket spec that lets the planner elide
    the Exchange).

    In-memory catalogs (tests, ad-hoc sessions) forget table entries
    across sessions while the warehouse dirs persist, and Spark then
    refuses the create (LOCATION_ALREADY_EXISTS). The catalog is the
    source of truth, so a location with no entry is a dead session's
    garbage and is removed first. A persistent metastore never hits
    this: its entries outlive the session."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        shutil.rmtree(table_location(spark, table), ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    w = w.sortBy(sort_col or bucket_col)
    w.format("parquet").saveAsTable(table)


def write_range_sorted(
    df: DataFrame, path: str, sort_col: str, partitions: int | None = None
) -> None:
    """Range-partition + sort-within-partitions write: rows are
    clustered by ``sort_col`` across files AND within parquet row
    groups, so range predicates prune at two levels — Spark skips
    whole files via footer min/max, and the reader skips row groups.
    The cheap non-Delta rendition of clustering/Z-ordering for the
    dominant (time-range) access path.
    """
    parts = [F.col(sort_col)]
    out = (
        df.repartitionByRange(partitions, *parts) if partitions else df.repartitionByRange(*parts)
    )
    out.sortWithinPartitions(sort_col).write.mode("overwrite").parquet(path)


def zorder_key(cols: list, mins: dict, maxs: dict, bits: int = 12):
    """Morton (Z-order) key expression: min/max-normalize each column
    to a ``bits``-bit integer, then interleave the bits.

    Pure Column arithmetic (shift/and/or) — JVM-side, codegen-friendly;
    2·bits terms for two columns. Sorting by this key clusters rows so
    that *every* participating column has file- and row-group-local
    min/max ranges, unlike a single-column sort which localizes one
    dimension and leaves the others at full spread.
    """
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = float(mins[c]), float(maxs[c])
        span = (mx - mn) or 1.0
        scaled = ((F.col(c).cast("double") - mn) / span * ((1 << bits) - 1)).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(scaled, i).bitwiseAND(F.lit(1)), len(cols) * i + ci)
            )
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list, bits: int = 12, partitions: int | None = None
) -> None:
    """Z-order-clustered parquet write: one min/max pass, then
    range-partition + sort on the interleaved key.

    The multi-column analog of write_range_sorted: a query filtering on
    ANY subset of ``cols`` skips files via footer min/max and row
    groups via page stats. This is the non-Delta rendition of
    OPTIMIZE ... ZORDER BY — measured on orders(custkey, totalprice):
    avg per-file spread 0.57/0.35 of the global range vs 1.0 for the
    unclustered dimension of a single-column sort
    (tests/test_plans.py::test_zorder_localizes_both_columns).
    """
    row = df.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in cols],
        *[F.max(c).alias(f"__mx_{c}") for c in cols],
    ).first()
    mins = {c: row[f"__mn_{c}"] for c in cols}
    maxs = {c: row[f"__mx_{c}"] for c in cols}
    z = zorder_key(cols, mins, maxs, bits)
    out = df.withColumn("__z", z)
    out = (
        out.repartitionByRange(partitions, F.col("__z"))
        if partitions
        else out.repartitionByRange(F.col("__z"))
    )
    out.sortWithinPartitions("__z").select(*df.columns).write.mode("overwrite").parquet(path)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, left_key: str, right_key: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables. With matching bucket specs the
    plan contains no Exchange on either side (verified in
    tests/test_plans.py) — the join cost is a local merge per bucket."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key], how)


def file_key_ranges(
    spark: SparkSession,
    path: str,
    key_col: str,
) -> DataFrame:
    """Per-file min/max/rows of ``key_col`` — the distributed audit
    that a clustered layout (write_range_sorted / write_zordered)
    actually holds without a driver-side file listing: one scan,
    groupBy(input_file_name). Disjoint ranges here mean footer
    min/max file-skipping will prune key predicates in any parquet
    reader."""
    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(key_col).alias("key_min"),
            F.max(key_col).alias("key_max"),
            F.count(F.lit(1)).alias("rows"),
        )
    )
