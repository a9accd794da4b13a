"""Smoke test of the benchmark on the smallest tables, one short pass.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs untraced and traced at sf0.001 (oracles run live:
no digests are stored for that directory). Every metric named in
BENCHMARK.json must be printed with its unit, and nothing may fail.
It is not collected with ``tests/``: it starts a JVM per run and
writes under ``_artifacts/``, so do not run it alongside that suite.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import bench  # noqa: E402

TINY_DIR = os.path.join(os.path.dirname(os.path.normpath(bench.SF_DIR)), "sf0.001")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--sf-dir", TINY_DIR,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_metrics_printed_and_nothing_fails(workload: str, trace: int, section: str) -> None:
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert res["failed"] == 0 and res["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if trace:
        assert res["metrics"]["failed_frac"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())
