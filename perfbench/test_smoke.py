"""Smoke test of the benchmark itself: every workload at about 1% size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that each run prints every metric BENCHMARK.json names, with its
unit, and that every correctness check passes, for every workload
including ``backlog_drain``, which BENCHMARK.json leaves out. Each run starts its own
Spark session, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# every workload run.py knows, also those BENCHMARK.json leaves out
WORKLOADS = ["backlog_drain", "live_stateful", "catalog_slice"]


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _check(result: dict, specs: list[dict]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_metric(workload):
    result, lines = _run(workload, 1)
    _check(result, SPEC["per_layer"])
    report = [ln.split(" ", 2)[2] for ln in lines if ln.startswith("# report ")]
    with open(report[0]) as fh:
        traced_e2e = json.load(fh)["end_to_end_traced"]
    assert set(traced_e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in traced_e2e.values())


def test_untraced_run_reports_end_to_end_metrics():
    result, _ = _run("backlog_drain", 0)
    _check(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """Outside a checkout of the program the benchmark exits non-zero
    and prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backlog_drain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
