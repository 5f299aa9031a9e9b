#!/usr/bin/env python3
"""Check that the benchmark is steady: run workloads over several seeds and
report, per end-to-end metric, the median and the spread (interquartile
range over median, Python's statistics.quantiles(n=4)) against the bound in
BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 10 [--workload bulk_build ...]
    python3 perfbench/steadiness.py --from-dir DIR   # re-read saved outputs

Each run's full standard output is kept in --out (default
.bench_build/steadiness) as <workload>.<seed>.out. A spread at or above a
third of the bound (setup_s excepted, whose median drift alone is bounded)
is flagged.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def last_json(path):
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def summarize(spec, results):
    ok = True
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w, runs in sorted(results.items()):
        print(f"\n{w}: {len(runs)} runs, failed runs: "
              f"{sum(1 for r in runs if not r or not r['correct'])}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs if r and name in r["metrics"]]
            if len(vals) < 2:
                print(f"  {name:20s} too few values")
                ok = False
                continue
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if name == "setup_s" or spread < bound / 3 else "  <-- above bound/3"
            ok = ok and (flag == "")
            print(f"  {name:20s} median {med:12.6g}  spread {spread:7.4f}  "
                  f"bound {bound:5.3f}{flag}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steadiness"))
    ap.add_argument("--from-dir", help="summarize saved outputs instead of running")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    results = {}
    if args.from_dir:
        for path in sorted(glob.glob(os.path.join(args.from_dir, "*.out"))):
            w = os.path.basename(path).split(".")[0]
            try:
                results.setdefault(w, []).append(last_json(path))
            except ValueError:
                results.setdefault(w, []).append(None)
    else:
        os.makedirs(args.out, exist_ok=True)
        workloads = args.workload or [w["name"] for w in spec["workloads"]]
        for w in workloads:
            for seed in range(args.first_seed, args.first_seed + args.seeds):
                path = os.path.join(args.out, f"{w}.{seed}.out")
                t0 = time.time()
                with open(path, "w") as out:
                    code = subprocess.run(
                        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                         "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                         "--trace", "0"], cwd=ROOT, stdout=out,
                        stderr=subprocess.DEVNULL).returncode
                print(f"{w} seed {seed}: exit {code}, {time.time() - t0:.1f}s", flush=True)
                try:
                    results.setdefault(w, []).append(last_json(path) if code == 0 else None)
                except ValueError:
                    results.setdefault(w, []).append(None)
    return 0 if summarize(spec, results) else 1


if __name__ == "__main__":
    sys.exit(main())
