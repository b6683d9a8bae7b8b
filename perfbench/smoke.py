"""Tiny-size smoke test of the benchmark.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at ``--size tiny``, once untraced and
once traced, and asserts that each run exits 0, passes every correctness
check, and emits every metric BENCHMARK.json names (end-to-end untraced,
per-layer traced) with its unit. It also asserts that the traced runs
together show at least one stage in every layer. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd: list, workload: str, trace: int) -> dict:
    argv = cmd + ["--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}"
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0, (workload, trace, detail["notes"])
    assert result["attempted"] >= 1
    return result["metrics"]


def check_metrics(got: dict, spec: list, where: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    assert set(got) == set(want), f"{where}: metrics {sorted(set(got) ^ set(want))} differ"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{where}: {name} unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{where}: {name} is not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    stages: dict = {}
    for w in bench["workloads"]:
        name = w["name"]
        e2e = run(bench["command"], name, 0)
        check_metrics(e2e, bench["end_to_end"], f"{name} untraced")
        assert all(v["value"] > 0 for v in e2e.values()), f"{name}: an end-to-end metric is 0"
        layers = run(bench["command"], name, 1)
        check_metrics(layers, bench["per_layer"], f"{name} traced")
        for key, v in layers.items():
            if key.endswith(".stages"):
                stages[key] = stages.get(key, 0) + v["value"]
        print(f"ok {name}", flush=True)
    empty = [k for k, n in stages.items() if n < 1]
    assert not empty, f"layers without a stage in any traced run: {empty}"
    print("ok: every workload, metric, unit and check; every layer has stages")
    return 0


if __name__ == "__main__":
    sys.exit(main())
