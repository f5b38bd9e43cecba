"""Smoke tests of the benchmark itself (tiny inputs; a few minutes):

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "kgbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


def _units(metrics) -> dict:
    return {m["name"]: m["unit"] for m in metrics}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    res = _result(_run(workload, 0))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == _units(BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


def test_traced_run_prints_every_per_layer_metric():
    res = _result(_run("kg_build", 1))
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == _units(BENCH["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # build_graph's stage walls, laid end to end, cover the build's wall
    assert abs(m["trace.stage_cover_frac"] - 1) < 0.05
    assert m["extract.cpu_s"] > 0 and m["sparql.jobs"] > 0 and m["digraph.jobs"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_dropped_triple_fails_an_op(workload):
    res = _result(_run(workload, 0, "--corrupt"))
    assert res["failed"] > 0 and not res["correct"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_attribution_by_group_then_by_time():
    op = spans.Span(1, "build_graph", "pipeline", 10.0, 20.0)
    stage = spans.Span(2, "extract_link", "extract", 10.0, 14.0, parent=1)
    query = spans.Span(3, "bgp_join", "sparql", 21.0, 22.0)
    jobs = {0: ("op-1", 11.0),       # by group, inside the stage
            1: ("op-1", 15.0),       # by group, after the stage
            2: (None, 21.5),         # no group: by time
            3: ("check", 21.5),      # benchmark's own check work
            5: ("untraced-op", 12.0),  # a warm-up op
            4: ("stream-run", 30.0)}  # foreign group outside every span
    stages = {s: {"job": s, "tasks": 1, "cpu_ns": 1e9} for s in jobs}
    spans.attribute([op, stage, query], jobs, stages)
    assert (stage.jobs, op.jobs, query.jobs) == ({0}, {1}, {2})
    lay = spans.layer_metrics([op, stage, query], cycles=1, cores=4)
    assert lay["extract"]["cpu_s"] == 1 and lay["sparql"]["cpu_s"] == 1
    assert lay["spark"]["tasks"] == 3
