#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload sync_cycle --seeds 1-10

The spread is (Q3 - Q1) / median with the quartiles of
statistics.quantiles(values, n=4). Runs are sequential; the raw result
lines are appended to perfbench/.work/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    log = os.path.join(HERE, ".work", f"spread-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for s in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s} failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps(dict(res, seed=s)) + "\n")
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print(f"{m['name']}: median={med:.4g} spread={(q3 - q1) / med:.3f} "
              f"bound={m['bound']}")


if __name__ == "__main__":
    main()
