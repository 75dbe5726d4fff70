#!/usr/bin/env python3
"""Smoke test of the benchmark: runs every workload of BENCHMARK.json once
untraced and once traced, at tiny sizes (--smoke), and asserts that each run
exits 0, passes all its output checks, and prints every declared metric with
its declared unit. Run from the checkout root:

    python3 perfbench/smoke.py
"""
import json
import os
import subprocess
import sys


def run(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = res.stdout.strip().splitlines()
    assert res.returncode == 0, f"{workload} trace={trace}: exit {res.returncode}\n{res.stdout[-2000:]}"
    return json.loads(lines[-1])


def main():
    bench = json.load(open("BENCHMARK.json"))
    for w in bench["workloads"]:
        for trace, specs in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            result = run(w["name"], trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] is True and result["failed"] == 0, result
            assert result["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in specs}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            for k, v in result["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
            if trace:
                path = os.path.join(".bench_build", f"trace-{w['name']}-7.json")
                spans = json.load(open(path))["spans"]
                assert spans, f"{path} holds no spans"
            print(f"ok {w['name']} trace={trace}: {len(want)} metrics, {result['attempted']} operations")
    return 0


if __name__ == "__main__":
    sys.exit(main())
