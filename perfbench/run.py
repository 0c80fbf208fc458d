#!/usr/bin/env python3
"""Benchmark of the ingest path and the dashboard query path.

Run from the repository root::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. Run artifacts (generated inputs, tables, span files, results)
go under ``.perfbench/`` in the working directory, which git ignores.
See perfbench/README.md for the workloads and the metric map.
"""

import time

T0 = time.perf_counter()  # process start, as near as Python gets to it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ["ingest", "stream_ingest", "dashboard"]
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "1g"
SENTINELS = ["tpch_q1_pricing", "tpch_q5_revenue", "events_tumbling"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pass_count(seconds: float, pass_s: float) -> int:
    """Passes a run times: ``seconds`` over the workload's nominal pass
    length, at least one. It depends on the arguments only, never on
    measured times, so every run of a workload times the same work."""
    return max(1, int(seconds // pass_s))


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile that has at
    least ten samples above it. With twenty samples or fewer that
    percentile would not lie above the median, so the maximum is used."""
    xs = sorted(latencies)
    k = len(xs) - 10
    if 2 * k <= len(xs):
        return xs[-1], 100.0, len(xs)
    return xs[k - 1], 100.0 * k / len(xs), len(xs)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed over
    all CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def duckdb_reference_s(sf_dir: str) -> float:
    """Median of three timings of the sentinel oracles in DuckDB: a host
    speed reference that no change to the package should move."""
    import __spark_entry__ as entry
    from oracle_check import duck_con

    oracles = entry.oracle_sql()
    con = duck_con(sf_dir)
    try:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            for name in SENTINELS:
                con.execute(oracles[name]).fetchall()
            times.append(time.perf_counter() - t)
    finally:
        con.close()
    return statistics.median(times)


def isolate(work: Path, cores: int) -> None:
    """Keep every file Spark and the JVM write inside ``work``; set the
    session's size before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        # A fixed-size heap: the JVM's resident set then plateaus instead of
        # following each run's GC timing.
        f'--driver-java-options "-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # A later session in this process launches a fresh gateway.
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(args, root: Path) -> dict:
    cores = len(os.sched_getaffinity(0))
    run_dir = root / ".perfbench" / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = run_dir / "data"
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(work, cores)
    for p in (str(HERE), str(root / "tests"), str(root)):
        sys.path.insert(0, p)

    from awi_datapipelinepublic_spark import get_spark
    from tracing import PER_LAYER, Tracer
    import gen
    import workloads

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T0
    tracer = Tracer(spark, cores) if args.trace else None
    try:
        if tracer and args.workload != "dashboard":
            tracer.instrument_pipeline()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        warm = wl.setup()
        if tracer:
            tracer.discard()
        setup_s = time.perf_counter() - T0
        steal0 = cpu_steal_s()
        passes = []
        for pass_no in range(pass_count(args.seconds, wl.pass_s)):
            passes.append(wl.run_pass(pass_no))
            if tracer:
                tracer.close_pass(wl.inputs)
        steal_s = cpu_steal_s() - steal0
        ref_s = None
        if tracer:
            star = work / "star"
            if not star.exists():
                gen.write_star_schema(star, workloads.STAR_SF)
            ref_s = duckdb_reference_s(str(star))
        rss = peak_rss_mb(spark)
        t_stop = time.perf_counter()
    finally:
        if tracer:
            tracer.unpatch()
            tracer.dump(run_dir / "spans.jsonl")
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    stop_s = time.perf_counter() - t_stop
    ops = [o for p in passes for o in p]
    latencies = [o.seconds for o in ops]
    wall = statistics.median(sum(o.seconds for o in p) for p in passes)
    tail_s, tail_pct, n = tail(latencies)
    failed = sum(not o.ok for o in ops)
    for f in wl.failures:
        print(f"FAIL {f}", file=sys.stderr)
    print(f"# {args.workload}: {len(passes)} passes, {n} operations, {failed} failed "
          f"(fail_ratio {failed / n:.4f}), {cores} cores")
    print(f"# op_tail_s is p{tail_pct:.1f} of {n} samples")
    print("# warm-up operations (s): " + " ".join(f"{o.seconds:.2f}" for o in warm))
    print("# timed passes (s): " + " ".join(f"{sum(o.seconds for o in p):.2f}" for p in passes))
    print(f"# session start {session_s:.1f} s, warm-up {setup_s - session_s:.1f} s, "
          f"passes and checks {t_stop - T0 - setup_s:.1f} s, stop {stop_s:.1f} s; "
          f"CPU steal while measuring {steal_s:.2f} s")
    if tracer:
        metrics = {k: (v, PER_LAYER[k][0]) for k, v in tracer.per_layer(ref_s).items()}
        print(f"# tracing overhead: {metrics['trace.overhead_s'][0]:.3f} s per pass, "
              f"{metrics['trace.overhead_s'][0] / wall:.1%} of the traced wall_s {wall:.3f} s")
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "op_p50_s": statistics.median(latencies),
            "op_tail_s": tail_s,
            "rows_per_s": wl.rows_per_pass / wall,
            "peak_rss_mb": rss,
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    for k, (v, unit) in metrics.items():
        print(f"{k} {v} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    detail = dict(result, passes=[[[o.name, o.seconds, o.ok] for o in p] for p in passes])
    (run_dir / "result.json").write_text(json.dumps(detail) + "\n")
    return result


def package_present(root: Path) -> bool:
    return all(
        (root / p).is_file()
        for p in ("awi_datapipelinepublic_spark/__init__.py", "__spark_entry__.py", "tests/oracle_check.py")
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not package_present(root):
        print("perfbench: run from the repository root (package, __spark_entry__.py "
              "and tests/oracle_check.py not found)", file=sys.stderr)
        return 2
    if args.workload == "all":
        code = 0
        for w in WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            code = subprocess.run(cmd, check=False).returncode or code
        return code
    result = run_workload(args, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
