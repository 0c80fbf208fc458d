"""The benchmark's workloads. Each is a closed loop with one client.

A workload is set up once per process (inputs, output check where it runs
before timing, warm-up), then times a fixed number of *passes*: ``run.py``
derives the count from ``--seconds`` and the workload's nominal ``pass_s``,
never from measured times, so every run with the same arguments times the
same work.

* ``ingest``: ``WARMUP_DROPS`` untimed CSV drops, then ``DROPS`` per pass,
  all merged into one base table, each through ``plans.runner.run_file``,
  then ``refresh_view`` (RETENTION) and a noop materialize of the view.
  History grows across the run.
* ``stream_ingest``: the same drops, each drained by
  ``streaming.file_pipeline.stream_pipeline(available_now=True)``, then the
  same view refresh.
* ``dashboard``: the 24 short BI queries, each built and materialized with
  the noop sink after the cache is cleared, in a seed-shuffled order. The
  oracle check comes first and is the warm-up.
"""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import gen
from check import check_ingest

# Ingest shape. A run merges four overlapping drops, more than the three
# batches of FIXTURES.md §A5; per-drop time levels off from the third drop
# (the run prints the warm-up drops' times), so the first two are untimed.
# A drop holds 10,000 rows, half the 20,000-row files of the streaming
# probe in perfbench/README.md. Larger drops, or more of them, do not fit
# 70 runs in the time the benchmark is given.
WARMUP_DROPS = 2   # untimed drops before the first pass
DROPS = 2          # drops per ingest pass
DROP_ROWS = 10_000 # data rows per drop
# sf0.001, not the sf0.1 of the dashboard probe, for the same reason.
STAR_SF = 0.001    # scale factor of the query workloads' tables
STREAM_TIMEOUT_S = 120
CHECK_THREADS = 8  # queries checked at once in the dashboard set-up

DASHBOARD = [
    "view_retention", "view_transactions", "view_auto_optiom", "merge_time_window",
    "grouped_agg", "tpch_q1_pricing", "tpch_q3_topk", "tpch_q5_revenue",
    "tpch_q6_forecast", "tpch_q13_custdist", "tpch_q18_large_orders", "time_rollup",
    "cohort_retention", "period_over_period", "share_of_parent", "topk_per_group",
    "events_tumbling", "funnel_timing", "activity_heatmap", "rfm_segments",
    "scd2_lookup", "cdc_apply", "fk_orphans", "group_percentiles",
]


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Ingest:
    """Shared set-up and checking of the two ingest workloads.

    All drops of a run go into one base table: the warm-up drops first,
    then ``DROPS`` per timed pass, so history grows across the run and
    every run with the same arguments does the same work."""

    pass_s = 8.0  # nominal pass length: ``--seconds`` // pass_s passes are timed

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.schema_file = gen.write_schema(work)
        self.replay_dir = work / "replay"
        self.replay_dir.mkdir(parents=True, exist_ok=True)
        self.dims = {
            name: spark.createDataFrame(rows, cols) for name, (cols, rows) in gen.DIMS.items()
        }
        self.pipeline = self.spec(work / "pipeline")
        self.next_drop = 0
        self.inputs = {"csv_bytes": 0, "csv_rows": 0, "clean_rows": 0}
        self.failures: list[str] = []

    def spec(self, root: Path):
        from awi_datapipelinepublic_spark.plans.spec import PipelineSpec

        for sub in ("landing", "staging", "base", "errors"):
            (root / sub).mkdir(parents=True, exist_ok=True)
        # The base table sits in a directory that already exists: the
        # publish lock file is created next to the table and its parent
        # directory is not created by the writer.
        return PipelineSpec(
            name="renewals", schema_file=str(self.schema_file), date_col=gen.DATE_COL,
            landing_dir=str(root / "landing"), staging_dir=str(root / "staging"),
            base_table_path=str(root / "base" / "renewals"), converters=gen.CONVERTERS,
            view_name="RETENTION", error_dir=str(root / "errors"),
        )

    @property
    def rows_per_pass(self) -> int:
        return DROPS * DROP_ROWS

    def setup(self) -> list[Op]:
        return self.run_pass(-1, WARMUP_DROPS)

    def run_pass(self, pass_no: int, n_drops: int = 0) -> list[Op]:
        """Ingest the next ``n_drops`` drops (``DROPS`` by default) and check
        the base table and view against a replay of every drop so far."""
        first = self.next_drop
        self.next_drop += n_drops or DROPS
        drops = [gen.renewal_drop(self.seed, i, DROP_ROWS) for i in range(first, self.next_drop)]
        for d in drops:
            (self.replay_dir / f"drop_{d.index:03d}.csv").write_text(d.text)
        self.inputs = {
            "csv_bytes": sum(len(d.text.encode()) for d in drops),
            "csv_rows": sum(d.data_rows for d in drops),
            "clean_rows": sum(d.clean_rows for d in drops),
        }
        spec = self.pipeline
        ops, view, ok = [], None, True
        for d in drops:
            self.before_op(spec, d)
            t0 = time.perf_counter()
            try:
                if self.tracer:
                    with self.tracer.op_span(drop=d.index):
                        self.tracer.job_group("op")
                        view = self.op(spec, d)
                else:
                    view = self.op(spec, d)
            except Exception as e:  # an operation failure is counted, not fatal
                ok = False
                self.failures.append(f"drop {d.index}: {type(e).__name__}: {e}")
            ops.append(Op(f"drop{d.index}", time.perf_counter() - t0, ok))
        if ok and pass_no >= 0:  # the warm-up is checked with the first pass
            paths = [self.replay_dir / f"drop_{i:03d}.csv" for i in range(self.next_drop)]
            msg = check_ingest(self.spark, spec.base_table_path, view, paths, self.work / "check")
            if msg:
                self.failures.append(f"pass {pass_no}: {msg}")
                ops = [Op(o.name, o.seconds, False) for o in ops]
        return ops

    def publish_view(self, spec):
        """refresh_view + noop materialize: the drop is visible once this
        returns."""
        from awi_datapipelinepublic_spark.plans import runner

        view = runner.refresh_view(self.spark, spec, self.dims)
        if self.tracer:
            with self.tracer.span("views.materialize"):
                noop(view)
        else:
            noop(view)
        return view


class Ingest(_Ingest):
    name = "ingest"

    def before_op(self, spec, drop) -> None:
        Path(spec.landing_dir, "renewals.csv").write_text(drop.text)

    def op(self, spec, drop):
        from awi_datapipelinepublic_spark.plans import runner

        runner.run_file(self.spark, spec, str(Path(spec.landing_dir, "renewals.csv")))
        return self.publish_view(spec)


class StreamIngest(_Ingest):
    name = "stream_ingest"

    def before_op(self, spec, drop) -> None:
        Path(spec.landing_dir, f"renewals_{drop.index:03d}.csv").write_text(drop.text)

    def op(self, spec, drop):
        from awi_datapipelinepublic_spark.streaming import file_pipeline

        checkpoint = str(Path(spec.staging_dir) / "checkpoint")

        def drain():
            q = file_pipeline.stream_pipeline(self.spark, spec, checkpoint, available_now=True)
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"micro-batch not drained in {STREAM_TIMEOUT_S} s")
            return q

        if self.tracer:
            with self.tracer.span("stream.drain") as s:
                q = drain()
            self.tracer.stream_progress(s, q)
        else:
            drain()
        return self.publish_view(spec)


class Dashboard:
    """Short BI queries over the generated star schema."""

    name = "dashboard"
    queries = DASHBOARD
    pass_s = 14.0  # nominal pass length: ``--seconds`` // pass_s passes are timed

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.sf_dir = str(work / "star")
        gen.write_star_schema(self.sf_dir, STAR_SF)
        self.inputs = {"csv_bytes": 0, "csv_rows": 0, "clean_rows": 0}
        self.failures: list[str] = []
        self.bad: set[str] = set()
        self.result_rows: dict[str, int] = {}

    @property
    def rows_per_pass(self) -> int:
        return sum(self.result_rows.values())

    def setup(self) -> list[Op]:
        """Check every query once against its DuckDB oracle, ``CHECK_THREADS``
        queries at a time. The check is also the warm-up: an extra untimed
        pass would cost about 14 s a run, which the run budget lacks."""
        import __spark_entry__ as entry
        from oracle_check import compare_one, duck_con

        self.builders = entry.queries()
        oracles = entry.oracle_sql()
        con = duck_con(self.sf_dir)

        def check(name: str) -> tuple[str, str | None, int]:
            cur = con.cursor()
            try:
                msg = compare_one(self.spark, cur, name, self.builders[name], oracles[name], self.sf_dir)
                rows = cur.execute(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
            except Exception as e:  # a failing query is counted, not fatal
                msg, rows = f"{type(e).__name__}: {e}", 0
            finally:
                cur.close()
            return name, msg, rows

        try:
            with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
                results = list(pool.map(check, self.queries))
        finally:
            con.close()
        for name, msg, rows in results:
            if msg:
                self.bad.add(name)
                self.failures.append(f"{name}: {msg}")
            else:
                self.result_rows[name] = rows
        return []

    def run_pass(self, pass_no: int) -> list[Op]:
        order = list(self.queries)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        return [self.op(name) for name in order]

    def op(self, name: str) -> Op:
        self.spark.catalog.clearCache()
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            if tr:
                with tr.op_span(query=name):
                    tr.job_group("build")
                    with tr.span("build"):
                        df = self.builders[name](self.spark, self.sf_dir)
                    tr.plan(df)
                    tr.job_group("exec")
                    with tr.span("action"):
                        noop(df)
            else:
                noop(self.builders[name](self.spark, self.sf_dir))
            ok = name not in self.bad
        except Exception as e:  # an operation failure is counted, not fatal
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            ok = False
        return Op(name, time.perf_counter() - t0, ok)


WORKLOADS = {w.name: w for w in (Ingest, StreamIngest, Dashboard)}
