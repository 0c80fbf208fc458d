"""Traced run: spans around the calls into each layer, plus Spark's own
job, stage and task counters.

Nothing inside the package is instrumented. The tracer replaces public
functions by name *where they are looked up*: ``plans.runner`` imports
``merge_into_path`` and ``write_parquet`` by name, ``streaming.file_pipeline``
imports ``merge_into_path`` by name, ``operators.merge.merge_into_path``
imports ``sources.writers.overwrite_table`` at call time, and
``merge_time_window`` calls ``merge_cutoff`` as a module global.

Spans stay in memory (name, start, end, parent, operation id, attributes)
and are written out at the end of the run. Spark counters come from one job
group per operation phase; after each pass the local UI REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``) supplies per-job and
per-stage task metrics. Jobs started on another thread (the streaming
micro-batch) carry Spark's own group, so they are attributed by submission
time to the operation that was running.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq

# Per-layer metrics: name → (unit, better). The order is the output order.
PER_LAYER = {
    "runner.run_clean_s": ("s", "lower"),
    "runner.run_load_s": ("s", "lower"),
    "runner.refresh_view_s": ("s", "lower"),
    "views.materialize_s": ("s", "lower"),
    "merge.merge_into_path_s": ("s", "lower"),
    "merge.merge_cutoff_s": ("s", "lower"),
    "writers.write_parquet_s": ("s", "lower"),
    "writers.overwrite_table_s": ("s", "lower"),
    "writers.bytes_written": ("bytes", "lower"),
    "writers.write_amp": ("ratio", "lower"),
    "writers.useful_write_ratio": ("ratio", "higher"),
    "stream.trigger_s": ("s", "lower"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.commit_s": ("s", "lower"),
    "stream.scan_amp": ("ratio", "lower"),
    "build.s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "plan.s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.busy_ratio": ("ratio", "higher"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.input_bytes": ("bytes", "lower"),
    "host.duckdb_ref_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

# Spans whose self time per pass is reported as ``<span>_s``.
_SELF_TIMED = [
    "runner.run_clean", "runner.run_load", "runner.refresh_view", "views.materialize",
    "merge.merge_into_path", "merge.merge_cutoff", "writers.write_parquet",
    "writers.overwrite_table",
]


def _parquet_stats(path: str) -> tuple[int, int]:
    """(bytes, rows) of the parquet files under ``path`` (a symlinked
    snapshot is resolved), rows read from the footers only."""
    nbytes = rows = 0
    for f in Path(path).resolve().rglob("*.parquet"):
        nbytes += f.stat().st_size
        rows += pq.ParquetFile(f).metadata.num_rows
    return nbytes, rows


def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps ('2026-01-02T03:04:05.678GMT') → epoch seconds."""
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder and Spark counter collector for one run."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self.passes: list[dict] = []
        self.overhead = 0.0
        self.op_id: int | None = None
        self.pass_ops: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._wall0, self._perf0 = time.time(), time.perf_counter()
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans), "name": name, "op": self.op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "end": None, "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.remove(s)

    @contextmanager
    def op_span(self, **attrs):
        """Root span of one operation; a new operation id for its children.
        The Spark job group set inside is cleared on exit."""
        self.op_id = 0 if self.op_id is None else self.op_id + 1
        try:
            with self.span("op", **attrs) as s:
                yield s
        finally:
            self.pass_ops.append(s)
            self.job_group(None)

    def discard(self) -> None:
        """Forget the operations and overhead recorded so far (the warm-up);
        their spans still go to the span file."""
        self.pass_ops.clear()
        self.overhead = 0.0

    def job_group(self, phase: str | None) -> None:
        """Tag the jobs this thread starts next with the current operation
        and ``phase``; ``None`` clears the tag."""
        t = time.perf_counter()
        if phase is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-{self.op_id}-{phase}", phase)
        self.overhead += time.perf_counter() - t

    def wrap(self, module, attr: str, span_name: str, after=None) -> None:
        """Replace ``module.attr`` by a wrapper that records a span named
        ``span_name``; ``after(span, args, kwargs)`` may add attributes
        (its time counts as tracing overhead)."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(span_name) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(s, args, kwargs)
                self.overhead += time.perf_counter() - t
            return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def instrument_pipeline(self) -> None:
        """Wrap the ingest path's layer functions at their lookup sites."""
        from awi_datapipelinepublic_spark.operators import merge
        from awi_datapipelinepublic_spark.plans import runner
        from awi_datapipelinepublic_spark.sources import writers
        from awi_datapipelinepublic_spark.streaming import file_pipeline

        def written(s, args, kwargs):
            s["attrs"]["bytes"], s["attrs"]["rows"] = _parquet_stats(args[1])

        self.wrap(runner, "run_clean", "runner.run_clean")
        self.wrap(runner, "run_load", "runner.run_load")
        self.wrap(runner, "refresh_view", "runner.refresh_view")
        self.wrap(runner, "write_parquet", "writers.write_parquet", written)
        self.wrap(runner, "merge_into_path", "merge.merge_into_path")
        self.wrap(file_pipeline, "merge_into_path", "merge.merge_into_path")
        self.wrap(merge, "merge_cutoff", "merge.merge_cutoff")
        self.wrap(writers, "overwrite_table", "writers.overwrite_table", written)

    def plan(self, df) -> None:
        """Force Catalyst's analysis, optimization and planning on ``df``
        and record the QueryPlanningTracker phase times. The phases run
        again inside the action, so this span counts as overhead."""
        with self.span("plan") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            ms = 0
            for p in ("analysis", "optimization", "planning"):
                opt = phases.get(p)
                if opt.isDefined():
                    ms += opt.get().durationMs()
            s["attrs"]["catalyst_s"] = ms / 1000.0
        self.overhead += s["end"] - s["start"]

    @staticmethod
    def stream_progress(span: dict, query) -> None:
        """Fold a drained StreamingQuery's non-empty micro-batches into
        ``span``'s attributes."""
        a = span["attrs"]
        for p in query.recentProgress:
            if not p.get("numInputRows"):
                continue
            d = p.get("durationMs", {})
            a["trigger_s"] = a.get("trigger_s", 0.0) + d.get("triggerExecution", 0) / 1000
            a["add_batch_s"] = a.get("add_batch_s", 0.0) + d.get("addBatch", 0) / 1000
            a["commit_s"] = a.get("commit_s", 0.0) + (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1000
            a["input_rows"] = a.get("input_rows", 0) + p["numInputRows"]

    # -- Spark counters ----------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.loads(r.read())

    def _wall(self, perf: float) -> float:
        return self._wall0 + perf - self._perf0

    def close_pass(self, inputs: dict) -> None:
        """Attribute the pass's Spark jobs to its operations and store the
        pass's per-layer totals. ``inputs`` holds csv_bytes, csv_rows and
        clean_rows of the drops the pass ingested (zeros for queries)."""
        t0 = time.perf_counter()
        ops, self.pass_ops = self.pass_ops, []
        lo, hi = self._wall(ops[0]["start"]) - 0.002, self._wall(ops[-1]["end"]) + 0.002
        op_ids = {o["op"] for o in ops}
        deadline = time.time() + 10
        while True:
            jobs = [j for j in self._get("/jobs") if _belongs(j, op_ids, lo, hi)]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.05)
        stages = {}
        for s in self._get("/stages?status=complete"):
            stages.setdefault(s["stageId"], []).append(s)

        tot = dict.fromkeys(
            ["jobs", "build_jobs", "stages", "tasks", "run_ms", "sr", "sw", "spill", "inb"], 0
        )
        intervals, seen_stages = [], set()
        for j in jobs:
            sub = _rest_time(j.get("submissionTime"))
            end = _rest_time(j.get("completionTime")) or sub
            tot["build_jobs" if (j.get("jobGroup") or "").endswith("-build") else "jobs"] += 1
            intervals.append((sub, end))
            tot["tasks"] += j.get("numCompletedTasks", 0)
            for sid in j.get("stageIds", []):
                if sid in seen_stages or sid not in stages:
                    continue
                seen_stages.add(sid)
                tot["stages"] += 1
                for st in stages[sid]:
                    tot["run_ms"] += st.get("executorRunTime", 0)
                    tot["sr"] += st.get("shuffleReadBytes", 0)
                    tot["sw"] += st.get("shuffleWriteBytes", 0)
                    tot["spill"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    tot["inb"] += st.get("inputBytes", 0)

        spans = [s for s in self.spans if s["op"] in op_ids]
        children: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        self_time = dict.fromkeys(_SELF_TIMED, 0.0)
        for s in spans:
            if s["name"] in self_time:
                self_time[s["name"]] += s["end"] - s["start"] - children.get(s["id"], 0.0)

        def attr_sum(name: str, key: str) -> float:
            return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name)

        written = attr_sum("writers.write_parquet", "bytes") + attr_sum("writers.overwrite_table", "bytes")
        published_rows = attr_sum("writers.overwrite_table", "rows")
        exec_s = _union_seconds(intervals)
        m = {f"{k}_s": v for k, v in self_time.items()}
        m.update({
            "writers.bytes_written": written,
            "writers.write_amp": written / inputs["csv_bytes"] if inputs["csv_bytes"] else 0.0,
            "writers.useful_write_ratio": inputs["clean_rows"] / published_rows if published_rows else 0.0,
            "stream.trigger_s": attr_sum("stream.drain", "trigger_s"),
            "stream.add_batch_s": attr_sum("stream.drain", "add_batch_s"),
            "stream.commit_s": attr_sum("stream.drain", "commit_s"),
            "stream.scan_amp": (
                attr_sum("stream.drain", "input_rows") / inputs["csv_rows"]
                if any(s["name"] == "stream.drain" for s in spans) else 0.0
            ),
            "build.s": sum(s["end"] - s["start"] for s in spans if s["name"] == "build"),
            "build.jobs": tot["build_jobs"],
            "plan.s": attr_sum("plan", "catalyst_s"),
            "exec.s": exec_s,
            "exec.jobs": tot["jobs"],
            "exec.stages": tot["stages"],
            "exec.tasks": tot["tasks"],
            "exec.executor_run_s": tot["run_ms"] / 1000,
            "exec.busy_ratio": tot["run_ms"] / 1000 / (exec_s * self.cores) if exec_s else 0.0,
            "exec.shuffle_read_bytes": tot["sr"],
            "exec.shuffle_write_bytes": tot["sw"],
            "exec.spill_bytes": tot["spill"],
            "exec.input_bytes": tot["inb"],
        })
        self.overhead += time.perf_counter() - t0
        m["trace.overhead_s"] = self.overhead
        self.overhead = 0.0
        self.passes.append(m)

    def per_layer(self, duckdb_ref_s: float) -> dict[str, float]:
        """Median over passes of every per-layer metric."""
        out = {}
        for name in PER_LAYER:
            if name == "host.duckdb_ref_s":
                out[name] = duckdb_ref_s
            else:
                out[name] = statistics.median(p[name] for p in self.passes)
        return out

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s, start=self._wall(s["start"]), end=self._wall(s["end"]))
                f.write(json.dumps(rec) + "\n")


def _belongs(job: dict, op_ids: set, lo: float, hi: float) -> bool:
    """A job belongs to the pass if its group names one of the pass's
    operations, or if it carries a foreign group (a streaming micro-batch)
    and was submitted while the pass ran."""
    group = job.get("jobGroup") or ""
    if group.startswith("pb-"):
        return group.split("-")[1] in {str(o) for o in op_ids}
    sub = _rest_time(job.get("submissionTime"))
    return sub is not None and lo <= sub <= hi
