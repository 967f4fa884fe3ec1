#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload serve|live|live-race|retrieve|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs start the
JVM directly on the recorded classpath. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones, and the spans go to perfbench/out/trace-<workload>-<seed>.json.
The line before it carries the run's detail (per-route counts, the metrics
under their per-workload names, contention readings).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ["serve", "live", "live-race", "retrieve", "curate"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
# The heap is fixed and pre-touched, so peak RSS does not follow the
# collector's sizing decisions from run to run: it is the heap plus all
# memory outside it. Heap pressure shows as GC time in the traced run.
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the engine's own build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark unless the recorded build matches the sources."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, work, trace_out, log_path):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log_path})", 1)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"run failed with exit code {p.returncode} (log: {log_path})", 1)
    return json.loads(lines[-1][len("PERFBENCH "):])


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    build()
    os.makedirs(OUT, exist_ok=True)

    work = os.path.join(BENCH, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{args.workload}-{args.seed}{'-trace' if args.trace else ''}"
    trace_out = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json") if args.trace else None
    try:
        res = run_jvm(args, work, trace_out, os.path.join(OUT, f"{tag}.log"))
        if args.workload == "curate":
            # entries with a DuckDB oracle are checked against it here
            sys.path.insert(0, BENCH)
            import oracle
            for msg in oracle.check(os.path.join(work, "curate-results")):
                res["problems"].append(msg)
                res["correct"] = False
                res["failed"] += 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    missing = [m for m in expected_metrics(args.trace) if m not in metrics]
    if missing:
        print(json.dumps(res), file=sys.stderr)
        fail(f"run did not produce metrics {missing}", 1)
    if res["problems"]:
        print("perfbench: problems: " + "; ".join(res["problems"][:10]), file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "routes": res["routes"],
                      "problems": res["problems"], "failures": res["failures"],
                      "detail": res["detail"]}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": {m: metrics[m] for m in expected_metrics(args.trace)}}))


if __name__ == "__main__":
    main()
