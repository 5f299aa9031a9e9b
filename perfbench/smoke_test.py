#!/usr/bin/env python3
"""The benchmark's own test: run every workload at smoke size, untraced and
traced, and check that each run passes its correctness checks and emits
every metric BENCHMARK.json names, with its unit.

    python3 perfbench/smoke_test.py [workload ...]

Takes a few minutes (each run starts its own JVM); exits non-zero on the
first mismatch.
"""
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
# batch_search is runnable but not among BENCHMARK.json's timed workloads
ALL_WORKLOADS = ("bulk_build", "batch_search", "ingest_mixed")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(lines[-1]), lines[:-1]


def check(workload, trace, spec):
    result, text = run(workload, trace)
    declared = spec["per_layer" if trace else "end_to_end"]
    where = f"{workload} trace={trace}"
    assert result["correct"] is True and result["failed"] == 0, \
        f"{where}: checks failed: " + "; ".join(l for l in text if l.startswith("FAILED"))
    assert result["attempted"] >= 1, where
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    assert set(got) == set(want), \
        f"{where}: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}"
    for name, m in got.items():
        assert set(m) == {"value", "unit"}, f"{where}: {name} has keys {sorted(m)}"
        assert m["unit"] == want[name], f"{where}: {name} unit {m['unit']} != {want[name]}"
        v = m["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v), f"{where}: {name} = {v}"
        if not trace:
            assert v > 0, f"{where}: end-to-end metric {name} is {v}"
    if not trace:
        recall = got["recall_at_10"]["value"]
        assert recall >= 0.9, f"{where}: recall_at_10 {recall} below the 0.9 floor"
    print(f"ok  {where}: {len(got)} metrics, {result['attempted']} operations", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or ALL_WORKLOADS
    for w in workloads:
        for trace in (0, 1):
            check(w, trace, spec)
    print("smoke test passed")


if __name__ == "__main__":
    main()
