#!/usr/bin/env python3
"""Serving-path benchmark for the graft engine.

One run:
    python3 perfbench/run.py --workload adhoc-olap --seed 1 --seconds 10 --trace 0

builds the engine and the harness from source and writes a class-data-sharing
archive (first run only), runs the workload in one JVM with Spark
local[nproc], prints every metric by name with its unit, and prints as its
last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.

Steadiness mode:
    python3 perfbench/run.py --workload adhoc-olap --steady 5 --seconds 10

runs the workload on seeds 1..k and prints, for each end-to-end metric, the
median, the quartiles and the spread (Q3 - Q1) / median against its bound.

Run it from the root of the repository. Everything it writes stays under
`.bench_build/perfbench` and the sbt `target` directories.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HARNESS, "target", "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
# Class-data-sharing archive of the classes a short training run loads: it
# cuts the JVM's class loading (most of Spark's start-up and of the first,
# cold setup) from every run.
ARCHIVE = os.path.join(OUT, "classes.jsa")
TRAIN_WORKLOAD = "dashboard-live"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A fixed, pre-touched heap: peak_rss_mb then measures the heap plus
# everything off-heap without the run-to-run noise of heap resizing; heap
# occupancy is the per-layer jvm.heap_after_gc_mb.
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to every runnable main).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fingerprint():
    """Names, sizes and mtimes of every build input: a rebuild trigger."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (build.sbt, src/main/scala) next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(OUT, exist_ok=True)
    fp = fingerprint()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == fp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") + " -XX:-UsePerfData"
    log = os.path.join(OUT, "build.log")
    print("[perfbench] building the engine and the harness (sbt)", file=sys.stderr)
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "writeClasspath"],
                cwd=HARNESS, env=env, stdout=lf, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isfile(CLASSPATH):
        with open(log) as lf:
            tail = lf.read().splitlines()[-30:]
        die("build failed:\n" + "\n".join(tail), 3)
    with open(CLASSPATH) as c:
        cp = c.read().strip()
    train(cp)
    with open(STAMP, "w") as f:
        f.write(fp)
    return cp


def train(cp):
    """Writes the class-data-sharing archive from one short run; without it
    the runs are correct but start slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print("[perfbench] writing the class-data-sharing archive", file=sys.stderr)
    work = os.path.join(OUT, f"train-{os.getpid()}")
    log = os.path.join(OUT, "train.log")
    try:
        with open(log, "w") as lf:
            rc = subprocess.run(
                java_cmd(cp, TRAIN_WORKLOAD, 1, 1, 0, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
                cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        rc = -1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(ARCHIVE):
        print(f"[perfbench] no class-data-sharing archive (exit {rc}; log: {log})", file=sys.stderr)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


def java_cmd(cp, workload, seed, seconds, trace, work, jvm_extra=()):
    """The harness JVM's command line; makes its working directory."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             "-XX:PerMethodRecompilationCutoff=10000", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
            + list(jvm_extra)
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--work", work,
               "--cpus", str(cpus())])


def run_once(workload, seed, seconds, trace, cp):
    """Runs the harness once; returns its parsed result object."""
    work = os.path.join(OUT, f"run-{workload}-{seed}-{os.getpid()}")
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    cmd = java_cmd(cp, workload, seed, seconds, trace, work, shared)
    log = os.path.join(OUT, f"{workload}-{seed}-trace{trace}.log")
    try:
        with open(log, "w") as lf:
            try:
                proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                                      stdin=subprocess.DEVNULL, text=True,
                                      timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                die(f"{workload} seed {seed} did not finish in {RUN_TIMEOUT_S}s (log: {log})", 5)
        with open(log) as lf:
            for line in lf:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            with open(log) as lf:
                tail = lf.read().splitlines()[-25:]
            die(f"{workload} seed {seed} exited {proc.returncode}:\n" + "\n".join(tail), 4)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.move(spans, os.path.join(OUT, f"spans-{workload}-{seed}.jsonl"))
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        res["cpus"] = cpus()
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(spec, res, workload, seed, seconds, trace):
    """Prints every metric with its unit; returns the result line."""
    key, group = ("layer", "per_layer") if trace else ("e2e", "end_to_end")
    metrics = {}
    for m in spec[group]:
        v = res[key].get(m["name"])
        if v is None and trace:
            v = 0.0  # a layer this workload never calls did no work
        if v is None:
            die(f"{workload} did not report metric {m['name']}", 4)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = res["attempted"], res["failed"]
    print(f"[perfbench] workload={workload} seed={seed} seconds={seconds} trace={trace} "
          f"cpus={res['cpus']}")
    for name, m in metrics.items():
        print(f"  {name:<36} {m['value']:>14.6g} {m['unit']}")
    frac = failed / attempted if attempted else 1.0
    print(f"  {'fail_frac':<36} {frac:>14.6g} failed-or-wrong/attempted "
          f"({failed}/{attempted})")
    for k, v in res["info"].items():
        print(f"  info.{k} = {v}")
    for k, v in res["failures"].items():
        print(f"  first failure [{k}]: {v}")
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def steady(spec, workload, k, base, seconds, cp):
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(base, base + k):
        res = run_once(workload, seed, seconds, 0, cp)
        line = report(spec, res, workload, seed, seconds, 0)
        print(json.dumps(line), flush=True)
        for m in values:
            values[m].append(line["metrics"][m]["value"])
    print(f"[perfbench] steadiness of {workload} over seeds {base}..{base + k - 1}")
    print(f"  {'metric':<24} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
          f"{'bound':>6} {'spread/bound':>12}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"  {m['name']:<24} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} {spread:>8.4f} "
              f"{m['bound']:>6} {spread / m['bound']:>12.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="run k seeds and print each end-to-end metric's spread")
    args = ap.parse_args()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        die(f"unknown workload {args.workload!r} (one of {', '.join(names)})")
    seconds = args.seconds or spec["run_seconds"]
    cp = build()
    if args.steady:
        steady(spec, args.workload, args.steady, args.seed, seconds, cp)
        return
    res = run_once(args.workload, args.seed, seconds, args.trace, cp)
    line = report(spec, res, args.workload, args.seed, seconds, args.trace)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
