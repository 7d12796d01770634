#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's spread.

Usage (from the repository root):
  python3 perfbench/spread.py --workload index_churn --seeds 1-10 [--seconds 6] [--trace 0]

For every metric of the result line it prints the median and the
interquartile range as a share of the median (Python's
statistics.quantiles(values, n=4)), next to the metric's bound from
BENCHMARK.json. The raw result lines go to perfbench/out/spread-*.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def run_once(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed} rc={p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    results = []
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        r = run_once(args.workload, seed, seconds, args.trace)
        wall = time.time() - t0
        results.append({"seed": seed, "wall_s": wall, **r})
        vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {seed}: correct={r['correct']} wall={wall:.1f}s {vals}", flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    tag = f"{args.workload}-t{args.trace}-{args.seeds}"
    with open(os.path.join(HERE, "out", f"spread-{tag}.json"), "w") as f:
        json.dump(results, f, indent=1)
    summary = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med, iqr = spread(vals) if len(vals) >= 2 else (vals[0], 0.0)
        summary[name] = {"median": med, "iqr_share": iqr, "bound": bounds.get(name)}
        print(f"{args.workload} {name}: median {med:.5g} iqr/median {iqr:.4f} bound {bounds.get(name)}")
    walls = [r["wall_s"] for r in results]
    print(f"{args.workload} run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    print(json.dumps({"workload": args.workload, "all_correct": all(r["correct"] for r in results),
                      "summary": summary}))


if __name__ == "__main__":
    main()
