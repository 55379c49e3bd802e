#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny input scale.

Run from the root of a graft checkout:

    python3 perfbench/test_smoke.py [workload ...]

Checks that BENCHMARK.json gives a reason for every workload and names the
same metrics, with the same units, as metrics.py; then runs each workload
once untraced and once traced, and checks that every end-to-end and
per-layer metric is printed with its unit and that the outputs passed the
oracle check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

SMOKE_SCALE = "0.001"
SMOKE_SECONDS = "2"


def check_spec(spec):
    names = [w["name"] for w in spec["workloads"]]
    assert names == metrics.WORKLOADS, f"workloads {names} != {metrics.WORKLOADS}"
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and w["why"].strip(), f"workload {w['name']} has no reason"
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END, f"end_to_end {e2e} != metrics.END_TO_END"
    assert layer == metrics.PER_LAYER, f"per_layer {layer} != metrics.PER_LAYER"


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", SMOKE_SECONDS, "--trace", str(trace), "--scale", SMOKE_SCALE]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    check_spec(spec)
    print("ok   BENCHMARK.json matches metrics.py")
    failures = 0
    for workload in sys.argv[1:] or metrics.WORKLOADS:
        for trace in (0, 1):
            try:
                out = run(workload, trace)
                assert set(out) == {"correct", "attempted", "failed", "metrics"}, sorted(out)
                assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0, out
                want = metrics.units(trace)
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                assert got == want, f"metrics {sorted(got)} != {sorted(want)}"
                assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
                print(f"ok   {workload} trace={trace}: {out['attempted']} ops")
            except AssertionError as e:
                failures += 1
                print(f"FAIL {workload} trace={trace}: {e}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
