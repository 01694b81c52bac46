#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at scale 0.001 with a 2 s run
length and a 2 s warm-up, untraced and traced. Each run must exit 0, report
correct outputs and no failures, and print every metric of BENCHMARK.json
with its unit.

    python3 perfbench/smoke_test.py        # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("governed_batch", "api_serving")


def run_once(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "0.001",
           "--warmup", "2"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_every_workload_emits_every_metric() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for workload in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            out = run_once(workload, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
            assert out["correct"] is True and out["failed"] == 0, out
            assert out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (workload, trace, set(want) ^ set(got))
            for name, v in out["metrics"].items():
                assert isinstance(v["value"], (int, float)), (workload, name, v)
            if trace == 0:
                assert all(v["value"] > 0 for v in out["metrics"].values()), out
            print(f"ok {workload} trace={trace}", flush=True)


if __name__ == "__main__":
    test_every_workload_emits_every_metric()
