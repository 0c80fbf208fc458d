"""Pipeline runner: the two Cloud Functions collapsed into one process.

Reference entry points (main.py:18-63): clean_csv (file drop → clean →
staging) and bq (staging → load → time-window merge → view refresh),
connected by Pub/Sub. Here a single ``run_file`` walks the whole
chain — the process boundary the reference needed (two serverless
functions + a message bus) is replaced by Spark's own driver/executor
split; the only external boundary left is the filesystem.

Failure semantics preserved: any clean/load failure quarantines the
raw input (failed_func, config.py:223-234); merge/view failures are
surfaced, not swallowed (improving on main.py:61-62's bare log).
"""

from __future__ import annotations

import threading
import weakref
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from awi_datapipelinepublic_spark.operators.merge import merge_into_path
from awi_datapipelinepublic_spark.plans.spec import PipelineSpec
from awi_datapipelinepublic_spark.sources.readers import read_csv, read_excel_sheets, read_snapshot
from awi_datapipelinepublic_spark.sources.schema import load_schema_json
from awi_datapipelinepublic_spark.sources.writers import quarantine, write_parquet


def run_clean(
    spark: SparkSession,
    spec: PipelineSpec,
    file_path: str,
    observation=None,
) -> DataFrame:
    """Clean stage (reference clean_csv, main.py:18-44): scan + convert
    + prune + parse dates + drop NULL-date rows; write Parquet staging
    (the reference stages CSV — columnar is strictly better between
    our own stages).

    Pass a ``pyspark.sql.Observation`` to collect data-quality
    counters (rows_in, null_date_rows) and the merge cutoff (min_date,
    MIN of the merge-date column) as a free rider on the staging write
    — ``observe`` accumulates during the existing action, no second
    scan, which is the only affordable way to count at 100 TB. Read
    ``observation.get`` after this returns.
    """
    fields = load_schema_json(spec.schema_file)
    if spec.is_excel:
        # SOURCE tags each sheet's rows (config.py:119-120 assigns
        # 'prime'/'plus' before concat).
        df = read_excel_sheets(
            spark, file_path, spec.excel_sheets, fields, source_col="SOURCE"
        )
    else:
        df = read_csv(spark, file_path, fields, spec.converters)
    if observation is not None:
        date = F.col(spec.date_col)
        df = df.observe(
            observation,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.when(date.isNull(), 1).otherwise(0)).alias("null_date_rows"),
            # MIN skips NULLs, so this is MIN over the rows kept below.
            F.min(date).alias("min_date"),
        )
    # Rows with NULL merge-date can never participate in the time-window
    # merge — dropped exactly like the reference (config.py:138).
    df = df.filter(F.col(spec.date_col).isNotNull())
    staging = str(Path(spec.staging_dir) / spec.name)
    write_parquet(df, staging)
    # The schema was just written, so declaring it is exact and skips
    # the footer-inference job a bare read would launch.
    return spark.read.schema(df.schema).parquet(staging)


def run_load(spark: SparkSession, spec: PipelineSpec) -> None:
    """Load + merge stage (reference bq, main.py:47-63): staging →
    time-window merge into the base table (config.py:180-212)."""
    staging = str(Path(spec.staging_dir) / spec.name)
    new_batch = spark.read.parquet(staging)
    merge_into_path(spark, spec.base_table_path, new_batch, spec.date_col)


def run_file(spark: SparkSession, spec: PipelineSpec, file_path: str) -> None:
    """Full chain for one dropped file, with quarantine-on-failure. The
    staged frame ``run_clean`` returns is merged as is, with the cutoff
    observed on the staging write: the load launches no job of its own
    before the merge's write."""
    clean = Observation()
    try:
        staged = run_clean(spark, spec, file_path, observation=clean)
    except Exception:
        if spec.error_dir:
            quarantine(file_path, spec.error_dir)
        raise
    merge_into_path(
        spark, spec.base_table_path, staged, spec.date_col, cutoff=clean.get["min_date"]
    )
    # Consumed input is removed post-commit (reference drop_source,
    # config.py:176) so re-runs are idempotent.
    Path(file_path).unlink(missing_ok=True)


def _build_retention(spark, base, dims):
    from awi_datapipelinepublic_spark.plans import views as V

    return V.retention_view(base, dims["geo"], dims["channels"], dims["agencies"], dims["ttypes"])


def _build_transactions(spark, base, dims):
    from awi_datapipelinepublic_spark.plans import views as V

    return V.transactions_view(base, dims["geo"], dims["channels"], dims["agencies"], dims["ttypes"])


def _build_auto_optiom(spark, base, dims):
    """View-on-view (settings.yaml:132-140): AUTO_OPTIOM joins the
    TRANSACTIONS *view* with the optiom base table — the reference
    reads TRANSACTIONS from the warehouse, so here it must already be
    registered (by the transactions spec's refresh_view); ``base`` is
    this spec's own merged optiom table."""
    from awi_datapipelinepublic_spark.plans import views as V

    try:
        transactions_v = spark.table("TRANSACTIONS")
    except Exception as e:
        raise RuntimeError(
            "AUTO_OPTIOM requires the TRANSACTIONS view to be registered first "
            "(run the transactions spec's refresh_view)"
        ) from e
    return V.auto_optiom_view(transactions_v, base)


VIEW_BUILDERS = {
    # view_name → builder(spark, merged_base_df, dims) → view DataFrame
    "RETENTION": _build_retention,
    "TRANSACTIONS": _build_transactions,
    "AUTO_OPTIOM": _build_auto_optiom,
}


# Caller's lookup frame → its LocalRelation copy, or None when the
# frame does not hold driver rows only. Weak keys: an entry lives as
# long as the caller's frame does. The lock makes the check-then-convert
# in _local_dim run once per frame when refreshes run on several threads.
_LOCAL_DIMS: "weakref.WeakKeyDictionary[DataFrame, DataFrame | None]" = (
    weakref.WeakKeyDictionary()
)
_LOCAL_DIMS_LOCK = threading.Lock()


def _holds_driver_rows(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s analyzed plan is a LocalRelation
    or a LogicalRDD whose lineage starts only at ParallelCollectionRDDs:
    rows parallelized from the driver, as ``createDataFrame(<python
    rows>)`` builds. Such rows never change, so a copy of them is never
    stale; a plan that reads files, tables or any other RDD fails."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    rdds = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRDD":
            rdds.append(leaf.rdd())
        elif kind != "LocalRelation":
            return False
    while rdds:
        rdd = rdds.pop()
        deps = rdd.dependencies()
        if deps.isEmpty() and rdd.getClass().getSimpleName() != "ParallelCollectionRDD":
            return False
        rdds.extend(deps.apply(j).rdd() for j in range(deps.size()))
    return True


def _local_dim(dim: DataFrame) -> DataFrame:
    """``dim`` as a JVM LocalRelation when it holds driver rows only,
    converted once per frame object; otherwise ``dim`` itself.

    A frame built from Python rows scans a PythonRDD, so every
    broadcast of it starts Python-worker tasks again. A LocalRelation
    needs no Python worker, but broadcasting it still runs one JVM job
    per dimension on each refresh, with one task per slice of its rows
    (min(rows, default parallelism): 4/2/4/2 tasks for perfbench's
    four dimensions on 4 cores)."""
    with _LOCAL_DIMS_LOCK:
        if dim not in _LOCAL_DIMS:
            _LOCAL_DIMS[dim] = (
                dim.sparkSession.createDataFrame(dim.toArrow(), schema=dim.schema)
                if _holds_driver_rows(dim)
                else None
            )
        local = _LOCAL_DIMS[dim]
    return dim if local is None else local


def refresh_view(
    spark: SparkSession, spec: PipelineSpec, dims: dict[str, DataFrame] | None = None
) -> DataFrame | None:
    """View refresh stage (reference make_view, config.py:215-221):
    rebuild the spec's analytical view over the merged base table and
    register it as a temp view under its reference name. Returns the
    view DataFrame (None when the spec declares no view).

    Lookup frames built from driver-side Python rows are joined as
    LocalRelation copies made on their first refresh (``_local_dim``).
    Any other lookup is joined as passed, never copied, so a file- or
    table-backed lookup is read fresh on every refresh."""
    if not spec.view_name:
        return None
    base = read_snapshot(spark, spec.base_table_path)
    if "_merge_month" in base.columns:
        base = base.drop("_merge_month")
    dims = {name: _local_dim(dim) for name, dim in (dims or {}).items()}
    view = VIEW_BUILDERS[spec.view_name](spark, base, dims)
    view.createOrReplaceTempView(spec.view_name)
    return view


def register_base_tables(spark: SparkSession, specs: dict[str, PipelineSpec]) -> None:
    """Expose merged base tables as temp views for the spark.sql surface
    (the reference's BigQuery dataset analog)."""
    for spec in specs.values():
        p = Path(spec.base_table_path)
        if p.exists():
            read_snapshot(spark, str(p)).createOrReplaceTempView(spec.name)
