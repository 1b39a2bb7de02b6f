"""The benchmark's own checks. Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q

The scheduler test runs each workload twice with tracing on (about two
minutes per workload on four cores).
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
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def _run(cwd: str, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_inputs_repeat_per_seed():
    a, b, c = (gen.make_tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
    assert gen.gps_payloads(3, 2, 50) == gen.gps_payloads(3, 2, 50)
    assert gen.gps_payloads(3, 2, 50) != gen.gps_payloads(4, 2, 50)


def test_layer_metrics_match_benchmark_json():
    from perfbench.run import LAYER_UNITS, WORKLOADS as RUNNABLE

    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == LAYER_UNITS
    assert sorted(WORKLOADS) == sorted(RUNNABLE)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_scheduler_counts_repeat(workload):
    """Jobs, stages and tasks per warm pass are exact: two runs of the same
    commit and seed report the same counts, and every output check passes."""
    runs = []
    for _ in range(2):
        p = _run(ROOT, workload, seed=7, trace=1)
        assert p.returncode == 0, p.stderr[-3000:]
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert res["correct"] and res["failed"] == 0
        runs.append(res["metrics"])
    for key in ("scheduler.jobs", "scheduler.stages", "scheduler.tasks"):
        assert runs[0][key]["value"] > 0
        assert runs[0][key] == runs[1][key], key


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), WORKLOADS[0], seed=1, trace=0)
    assert p.returncode != 0
    assert not p.stdout.strip()
