"""Smoke test of the benchmark: tiny inputs for every workload in one
process, every named metric printed with its unit, and no failed operation.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import END_TO_END, PER_LAYER, REPORT_UNITS, WORKLOADS

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _smoke(trace: int) -> tuple[list[str], list[dict]]:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "all", "--smoke", "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    results = [json.loads(line) for line in lines if line.startswith("{")]
    assert len(results) == len(WORKLOADS)
    return lines, results


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_has_its_unit_and_no_operation_fails(trace):
    lines, results = _smoke(trace)
    want = dict(END_TO_END if trace == 0 else PER_LAYER)
    for res in results:
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True
        assert res["failed"] == 0 and res["attempted"] > 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], float)
                   for v in res["metrics"].values())
    if trace == 0:
        # the human report names each end-to-end metric with its unit,
        # once per workload, and error_rate reads 0 on every workload
        for key, unit in REPORT_UNITS:
            rows = [ln.split() for ln in lines if ln.split()[:1] == [key]]
            assert len(rows) == len(WORKLOADS), key
            assert all(r[2] == unit for r in rows), (key, rows)
        rates = [ln.split()[1] for ln in lines
                 if ln.split()[:1] == ["error_rate"]]
        assert rates == ["0"] * len(WORKLOADS)
        assert all(res["metrics"][k]["value"] > 0
                   for res in results for k, _u in END_TO_END)
