#!/usr/bin/env python3
"""Build the library and the benchmark harness from source, run one workload,
and print the benchmark's result line.

    python3 perfbench/run.py --workload rmat_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The library (src/main/scala) and the harness
(perfbench/src) are compiled together with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars, default /opt/spark/jars) into
.bench_build/perfbench/classes, once per source content. Inputs, Spark's
local directories and the span files of traced runs live under .bench_build/ too.
The last stdout line is one JSON object: correct, attempted, failed, and the
metrics BENCHMARK.json declares for the run's mode, each with its unit.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
# The JVM sizes itself for half the machine's processors: Spark's task
# threads (local[n]), JIT compiler threads and GC threads then leave room
# for the driver thread, so the run measures the program rather than the
# scheduler of a machine that also runs other work.
CPUS = max(1, (os.cpu_count() or 2) // 2)
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"no library sources at {lib}; run from the repository root")
    out = []
    for top in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile library + harness unless classes for this exact source exist."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(WORK, "classes")
    stamp_file = os.path.join(classes, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cp = os.path.join(JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"compile failed (exit {r.returncode})")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def main():
    # A terminated run.py stops the compiler or harness JVM too and waits for it.
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build()
    tmpdir = os.path.join(WORK, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CPUS}",
        f"-Djava.io.tmpdir={tmpdir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(JARS, "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK,
    ]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"harness exited {p.returncode} without a result")
    raw = json.loads(lines[-1])
    metrics = {}
    for m in declared:
        if m["name"] in raw["metrics"]:
            v = raw["metrics"][m["name"]]
        elif a.trace:
            v = 0.0  # a span this workload does not run
        else:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
