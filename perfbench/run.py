#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 6 --trace 0

Steps: build the engine plus the benchmark main (sbt, once per source
state), generate the seeded input tables, run the workload in one JVM,
compare the registry queries' answers with their DuckDB oracles, and print
one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list. The full artifact (per-op records, checks, spans,
environment) goes to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import oracle_check  # noqa: E402

# Scale factor of the generated inputs per workload (see README.md).
SF = {"sql_batch": 0.02, "index_churn": 0.1}
HEAP = "1g"
# C1 only (TieredStopAtLevel=1): pass times are flat after warm-up; with
# C2 they keep falling for the whole run. sql_batch also lowers the C1
# compile thresholds: it reruns the same nine plans every pass, so
# compiling their code early makes the passes after warm-up flat.
# index_churn plans new literals every step, and there the lower
# thresholds cost more compile time than they save (README.md).
WORKLOAD_JVM = {
    "sql_batch": ["-XX:TieredStopAtLevel=1",
                  "-XX:Tier3InvocationThreshold=20", "-XX:Tier3MinInvocationThreshold=10",
                  "-XX:Tier3CompileThreshold=200", "-XX:Tier3BackEdgeThreshold=2000"],
    "index_churn": ["-XX:TieredStopAtLevel=1"],
}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 needs these when started outside spark-submit (the root
# build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile once per source state; returns the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail("engine sources (src/main/scala/graft) not found beside perfbench/")
    out = os.path.join(HERE, ".build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and (os.pathsep in l or l.endswith(".jar"))), "")
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (rc={p.returncode})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def cpu_sample():
    """/proc/loadavg and the aggregate cpu line of /proc/stat (steal is the
    eighth field), so a noisy co-tenant window shows in the artifact."""
    try:
        load = open("/proc/loadavg").read().split()[:3]
        cpu = open("/proc/stat").readline().split()[1:]
        return {"loadavg": [float(x) for x in load], "cpu_jiffies": [int(x) for x in cpu]}
    except OSError:
        return {}


def steal_frac(a, b):
    try:
        da = [y - x for x, y in zip(a["cpu_jiffies"], b["cpu_jiffies"])]
        return da[7] / max(1, sum(da))
    except (KeyError, IndexError):
        return None


def filesystem_of(path):
    """(mount point, fs type) holding `path`, from /proc/mounts."""
    best = ("", "unknown")
    try:
        real = os.path.realpath(path)
        for line in open("/proc/mounts"):
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    except OSError:
        pass
    return {"mount": best[0], "type": best[1]}


def run_jvm(cp, args, work, data, artifact, env):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the checkout.
    # Serial GC and a fixed heap: no concurrent GC threads, no resizing.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseSerialGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"] + WORKLOAD_JVM[args.workload]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", artifact, "--work", work]
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    log.close()
    if rc != 0 or not os.path.exists(artifact):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"benchmark JVM failed (rc={rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    if args.workload not in SF:
        fail(f"unknown workload {args.workload}")

    env = dict(os.environ, SPARK_HOME=spark_home())
    # build offline from the local caches, as the repository's own build does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    cp = build(env)

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        gen_data.generate(data, args.seed, SF[args.workload])
        gen_s = time.time() - t0
        start = cpu_sample()
        artifact = os.path.join(work, "jvm.json")
        run_jvm(cp, args, work, data, artifact, env)
        end = cpu_sample()
        res = json.load(open(artifact))
        oracle = oracle_check.compare(data, os.path.join(work, "results"))
        fs = filesystem_of(work)
    finally:
        # the JVM's log (set-up, warm-up and per-pass timings) is kept
        # beside the artifact
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    # an op that threw or answered wrong fails in every one of its executions
    failures = dict(res["failures"])
    failures.update({n: r["why"] for n, r in oracle.items() if not r["ok"]})
    attempted = res["attempted"]
    failed = sum(1 for o in res["ops"] if o["name"] in failures)
    res["metrics"]["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    res["failed"] = failed
    res["failures"] = failures
    res["oracle"] = oracle
    res["env"].update({
        "nproc": os.cpu_count(), "warehouse_fs": fs, "input_gen_s": gen_s, "sf": SF[args.workload],
        "start": start, "end": end, "steal_frac": steal_frac(start, end)})

    names = [m["name"] for m in spec["end_to_end" if args.trace == 0 else "per_layer"]]
    source = res["metrics"] if args.trace == 0 else res["per_layer"]
    missing = [n for n in names if n not in source or source[n]["value"] is None]
    if missing:
        fail(f"metrics missing from the run: {missing}")

    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1)

    # human-readable detail first, the result line last
    shown = list(res["metrics"].items()) + (list(res["per_layer"].items()) if args.trace else [])
    for k, v in shown:
        print(f"{args.workload} {k} = {v['value']} {v['unit']}")
        if res.get("trace_overhead_s") is not None:
            print(f"{args.workload} trace overhead = {res['trace_overhead_s']:.4f} s per pass")
    for n, why in sorted(failures.items()):
        print(f"{args.workload} FAILED {n}: {why}")
    print(f"{args.workload} passes = {res['passes']}, artifact = {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: source[n] for n in names},
    }))


if __name__ == "__main__":
    main()
