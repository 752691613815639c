"""Smoke test of the benchmark at sf0.001 (a few minutes, one JVM per run).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload prints every metric BENCHMARK.json names, with its unit,
in both the untraced and the traced run, and a query forced to fail is
counted in ``failed`` instead of being dropped.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["stamp"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    stamp, res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] != 0, m["name"]
    for key in ("nproc", "SPARK_GRAFT_CPUS", "box_calib_ms", "seed", "data_bytes", "datagen_s"):
        assert key in stamp


@pytest.mark.parametrize("workload,victim", [
    ("headline_sf0.1", "join_inner"), ("stream_replay", "dedup_stream")])
def test_forced_failure_is_counted(workload, victim):
    stamp, res = _run(workload, 0, "--fail-query", victim)
    assert res["failed"] >= 2  # the cold pass and at least one warm pass
    assert stamp["failed_frac"] == res["failed"] / res["attempted"]
