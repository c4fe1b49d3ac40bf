"""Tests of the benchmark itself (not part of the package's tier-1 suite).

    python3 -m pytest perfbench/ -q

``test_benchmark_json_schema`` checks BENCHMARK.json against the
benchmark contract and against ``metrics.PER_LAYER``; the smoke tests
run every workload at sf0.001 and require every named metric with no
failed operation.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import PER_LAYER, WORKLOAD_NAMES  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_schema():
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}

    assert 1 <= len(spec["command"]) <= 32
    assert all(isinstance(a, str) and len(a) <= 200 for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    for arg in spec["command"][1:]:
        if "/" in arg:
            assert any(arg.startswith(p + "/") for p in spec["paths"]), arg
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60

    names: list[str] = []
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in WORKLOAD_NAMES
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])

    assert 1 <= len(spec["end_to_end"]) <= 16
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
        assert UNIT.match(m["unit"])
        names.append(m["name"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])

    assert 1 <= len(spec["per_layer"]) <= 128
    e2e = {m["name"] for m in spec["end_to_end"]}
    workloads = {w["name"] for w in spec["workloads"]}
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"])
        unit, better, moves, on = PER_LAYER[m["name"]]
        assert (m["unit"], m["better"]) == (unit, better), m["name"]
        # every layer metric names the end-to-end metric it should move
        # and a benchmarked workload where it should move it
        assert moves in e2e, m["name"]
        assert set(on.split()) & workloads, m["name"]
        names.append(m["name"])

    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_smoke_run_emits_every_metric(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
