#!/usr/bin/env python3
"""Exact-count self-check: run one workload twice with the same seed and
name every op whose counts differ.

Usage (from the repository root):
  python3 perfbench/selfcheck.py --workload index_churn --seed 1 [--seconds 6]

Both runs are traced. Compared exactly, op by op over the first timed pass
(which every run completes): exec.jobs, exec.stages and write.bytes_written;
and per run: write_amp, space_amp and recall_at_10 where the workload
reports them. A count that varies between two runs of the same inputs is a
race; it is reported, never averaged. Exits 1 if anything differs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_COUNTS = ["exec.jobs", "exec.stages", "write.bytes_written"]
RUN_COUNTS = ["write_amp", "space_amp", "recall_at_10"]


def run(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed rc={p.returncode}")
    path = os.path.join(HERE, "out", f"{workload}-seed{seed}-trace1.json")
    return json.load(open(path))


def counts(res):
    ops = {}
    for o in res["ops"]:
        if o["pass"] != 0:
            continue
        layers = {**(o.get("layers") or {}), **o["counters"]}
        ops[f"{o['seq']}:{o['name']}"] = {k: layers.get(k) for k in OP_COUNTS if k in layers}
    run_level = {k: res["metrics"][k]["value"] for k in RUN_COUNTS if k in res["metrics"]}
    return ops, run_level


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    args.seconds = args.seconds or spec["run_seconds"]
    (ops_a, run_a), (ops_b, run_b) = (counts(run(args.workload, args.seed, args.seconds))
                                      for _ in range(2))
    varying = []
    for op in sorted(set(ops_a) | set(ops_b), key=lambda s: int(s.split(":")[0])):
        a, b = ops_a.get(op, {}), ops_b.get(op, {})
        for k in sorted(set(a) | set(b)):
            if a.get(k) != b.get(k):
                varying.append({"op": op, "count": k, "run1": a.get(k), "run2": b.get(k)})
    for k in sorted(set(run_a) | set(run_b)):
        if run_a.get(k) != run_b.get(k):
            varying.append({"op": "(run)", "count": k, "run1": run_a.get(k), "run2": run_b.get(k)})
    report = {"workload": args.workload, "seed": args.seed, "ops_compared": len(ops_a),
              "run_counts": run_a, "varying": varying, "pass": not varying}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"selfcheck-{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for v in varying:
        print(f"VARIES {v['op']} {v['count']}: {v['run1']} vs {v['run2']}")
    print(json.dumps(report))
    sys.exit(0 if not varying else 1)


if __name__ == "__main__":
    main()
