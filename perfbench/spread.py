#!/usr/bin/env python3
"""Run one workload with several seeds and report each end-to-end metric's
median and spread (interquartile distance over the median, as
statistics.quantiles(values, n=4) gives the quartiles) against the metric's
bound in BENCHMARK.json. Run from the checkout root:

    python3 perfbench/spread.py --workload kg_refresh --runs 10 [--first-seed 1]

Raw results go to .bench_build/spread-<workload>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        res = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = res.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        runs.append({"seed": seed, "exit": res.returncode, "wall_s": wall, "result": result})
        metrics = {k: round(v["value"], 4) for k, v in result.get("metrics", {}).items()}
        print(f"seed {seed}: exit {res.returncode} wall {wall:.1f}s correct {result.get('correct')} {metrics}",
              flush=True)
    with open(f".bench_build/spread-{args.workload}.json", "w") as fh:
        json.dump(runs, fh, indent=1)
    ok = all(r["exit"] == 0 and r["result"].get("correct") for r in runs)
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs if r["result"].get("metrics")]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:>12}: median {med:.4f} {m['unit']} spread {spread:.3f} (bound {m['bound']}){flag}")
    print(f"runs ok: {ok}; wall median {statistics.median(r['wall_s'] for r in runs):.1f}s "
          f"max {max(r['wall_s'] for r in runs):.1f}s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
