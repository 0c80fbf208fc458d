"""Tests of the benchmark itself (not of the package). Run from the
repository root::

    python3 -m pytest perfbench/tests -q

The smoke tests start a Spark session per run; they take a few minutes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

BENCH_DIR = Path(__file__).resolve().parents[1]
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(BENCH_DIR), str(ROOT / "tests"), str(ROOT)]

import gen  # noqa: E402
import oracle_check  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def test_drops_are_deterministic_per_seed():
    a = [gen.renewal_drop(7, i, 50) for i in range(3)]
    assert [d.text for d in a] == [gen.renewal_drop(7, i, 50).text for i in range(3)]
    assert [d.text for d in a] != [gen.renewal_drop(8, i, 50).text for i in range(3)]
    assert len({d.text for d in a}) == 3
    assert all(d.data_rows == 50 and 0 < d.clean_rows <= 50 for d in a)


def test_star_schema_is_deterministic(tmp_path):
    a = gen.write_star_schema(tmp_path / "a", 0.001)
    b = gen.write_star_schema(tmp_path / "b", 0.001)
    assert a == b
    for t in oracle_check.TABLES:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet")
        )


def test_declared_metrics_match_the_code():
    assert END_TO_END == run.END_TO_END
    assert PER_LAYER == {k: unit for k, (unit, _) in tracing.PER_LAYER.items()}
    assert [m["better"] for m in BENCH["per_layer"]] == [b for _, b in tracing.PER_LAYER.values()]
    assert [w["name"] for w in BENCH["workloads"]] == run.WORKLOADS == list(workloads.WORKLOADS)


def test_tail_percentile_keeps_ten_samples_above():
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = run.tail(xs)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in xs) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert run.tail([float(i) for i in range(20)]) == (19.0, 100.0, 20)


def test_pass_count_depends_on_arguments_only():
    assert run.pass_count(10, 10.0) == 1
    assert run.pass_count(10, 14.0) == 1
    assert run.pass_count(0, 14.0) == 1
    assert run.pass_count(30, 10.0) == 3


def test_refuses_to_run_without_the_package(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"]) == 2


@pytest.mark.parametrize(
    "workload,trace",
    [("ingest", 0), ("ingest", 1), ("stream_ingest", 1), ("dashboard", 1)],
)
def test_smoke_run(workload, trace, monkeypatch, capsys):
    """A tiny run (sf0.001 tables, one warm-up and two timed 200-row
    drops) checks its outputs, fails nothing and emits exactly the declared
    metrics."""
    monkeypatch.setattr(workloads, "WARMUP_DROPS", 1)
    monkeypatch.setattr(workloads, "DROPS", 2)
    monkeypatch.setattr(workloads, "DROP_ROWS", 200)
    monkeypatch.setattr(workloads, "STAR_SF", 0.001)
    monkeypatch.chdir(ROOT)
    args = ["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", str(trace)]
    assert run.main(args) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
