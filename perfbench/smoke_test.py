#!/usr/bin/env python3
"""Smoke test of the benchmark at input scale 0.001.

Runs every workload once untraced and once traced, briefly, and checks
that each metric is printed by name with its unit and sample count `n`,
and that the last line is the result object with every metric of
BENCHMARK.json. Run it from the checkout root:

    python3 perfbench/smoke_test.py
"""
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

LINE = re.compile(r"^(\S+)\s+(-?[0-9.]+(?:e-?\d+)?)\s+(\S+)\s+n=(\d+)")


def check(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, f"{workload}/{trace}: exit {out.returncode}\n{out.stderr}"
    lines = out.stdout.strip().splitlines()
    printed = {m.group(1): (m.group(3), int(m.group(4)))
               for m in map(LINE.match, lines) if m}
    want = dict(run.E2E, error_rate="ratio")
    if workload == "maintain":
        want.update(rebuild_s="s", release_s="s")
    if trace:
        want.update({k: u for k, (u, _) in run.LAYER.items()})
    for name, unit in want.items():
        assert name in printed, f"{workload}/{trace}: {name} not printed"
        assert printed[name][0] == unit, f"{workload}/{trace}: {name} unit {printed[name]}"
        assert printed[name][1] >= 1, f"{workload}/{trace}: {name} has n=0"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names), result["metrics"].keys()
    assert result["correct"] and result["failed"] == 0, result
    print(f"ok {workload} trace={trace}: {len(printed)} metrics")


if __name__ == "__main__":
    for w in run.WORKLOADS:
        for t in (0, 1):
            check(w, t)
