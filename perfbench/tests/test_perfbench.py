"""Tests of the benchmark itself (not of the program it measures).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark and take about two minutes.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(d: str) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(pathlib.Path(d).iterdir())}


def _inputs(out: str, seed: int) -> dict[str, bytes]:
    """Every input a seed produces: the warehouse, two days' deltas, the
    stock stream's shape and the dashboard's requests."""
    datagen.write_fixture(out, 0.001, seed)
    base = datagen.fixture_tables(0.001, seed)["orders"]
    for day in range(2):
        plan = datagen.day_plan(seed, day, pages=4, page_size=40, delta_rows=100)
        delta = datagen.orders_delta(base, plan, seed, n_cust=150, next_key=10_000 + 100 * day)
        datagen.write_table(delta, os.path.join(out, f"delta{day}.parquet"))
        pathlib.Path(out, f"plan{day}.txt").write_text(repr(plan))
    pathlib.Path(out, "stock.txt").write_text(repr(datagen.stock_shape(seed, 500)))
    dash = workloads.DashboardServe()
    pathlib.Path(out, "requests.txt").write_text(repr(dash.requests(dash.rng(seed))))
    return _files(out)


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 5)
    b = _inputs(str(tmp_path / "b"), 5)
    assert a.keys() == b.keys()
    assert all(a[n] == b[n] for n in a), [n for n in a if a[n] != b[n]]


def test_different_seeds_give_different_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 5)
    b = _inputs(str(tmp_path / "b"), 6)
    differing = {n for n in a if a[n] != b[n]}
    # region and nation are fixed dimension tables; everything else moves
    assert differing >= set(a) - {"region.parquet", "nation.parquet"}


def test_benchmark_json_matches_metric_table():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["bound"]) for m in bench["end_to_end"]] == [
        (n, u, b) for n, u, b, _ in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, _ in metrics.PER_LAYER
    ]


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [("pipeline_day", 0), ("dashboard_serve", 1)])
def test_smoke_run_passes_checks_and_prints_declared_metrics(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] > 0
    declared = _bench()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    assert all(result["metrics"][m["name"]]["unit"] == m["unit"] for m in declared)


def test_refuses_to_run_without_the_program(tmp_path):
    p = _run("pipeline_day", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
