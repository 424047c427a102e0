#!/usr/bin/env python3
"""graft benchmark: builds graft and the benchmark from source, runs one
workload in one JVM, checks its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload crawl_snapshot --seed 1 --seconds 12 --trace 0

Run it from the repository root. The build goes to .bench_build/ and is
reused while the sources are unchanged; each run works in .bench_work/ and
deletes its data there when it ends. --trace 1 also writes the run's spans
to .bench_work/traces/<workload>-seed<seed>.json. The last stdout line is
{"correct", "attempted", "failed", "metrics"}; the exit code is 0 only when
every output check passed. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the root build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        die("set SPARK_HOME to a Spark 4.1 installation")
    return m.group(1)


def scala_sources():
    graft = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not graft:
        die("no graft sources under src/main/scala; run from a full checkout")
    if not bench:
        die("no benchmark sources under perfbench/src")
    return graft + bench


def build():
    """Compiles graft and the benchmark with scalac from the Spark jars;
    returns the classes directory. A build is keyed by its sources."""
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark/Scala jars at " + jars)
    files = scala_sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "graftbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", os.path.join(tmp, "classes")] + files
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        die("build timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed")
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return classes


def run_jvm(classes, a, run_dir, trace_out, log_path):
    cores = max(1, min(4, os.cpu_count() or 1))
    # a fixed set of JIT threads, so their CPU can be told apart (cpu_s);
    # two, not the three the JVM picks on 4 CPUs, so compiling does not
    # crowd out the tasks (README.md, noise hygiene)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:CICompilerCount=2",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", run_dir, "--cores", str(cores),
              "--trace-out", trace_out])
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=run_dir)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            p.kill()
            p.wait()
            raise
    for line in reversed(out.decode(errors="replace").splitlines()):
        if line.startswith("GRAFTBENCH_RESULT "):
            return json.loads(line[len("GRAFTBENCH_RESULT "):])
    with open(log_path, errors="replace") as fh:
        sys.stderr.write(fh.read()[-4000:])
    die("the run printed no result (exit code %d)" % p.returncode)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build()
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    run_dir = os.path.join(WORK, "run-%s-%d" % (tag, os.getpid()))
    trace_out = os.path.join(WORK, "traces", "%s-seed%d.json" % (a.workload, a.seed))
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        r = run_jvm(classes, a, run_dir, trace_out, os.path.join(WORK, "logs", tag + ".log"))
    except subprocess.TimeoutExpired:
        die("the run took longer than %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = list(r["checks"])
    with open(os.path.join(BENCH, "pins.json")) as fh:
        pin = json.load(fh).get(a.workload, {}).get(str(a.seed))
    if pin is not None:
        checks.append({"name": "digest matches the pin for this seed",
                       "ok": r["digest"] == pin, "detail": "got %s" % r["digest"]})

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    names = {m["name"] for m in wanted}
    extra = set(r["metrics"]) - names
    if extra:
        die("metrics missing from BENCHMARK.json: " + ", ".join(sorted(extra)))
    metrics = {}
    for m in wanted:
        v = r["metrics"].get(m["name"])
        if v is None:
            if not a.trace:
                die("end-to-end metric not measured: " + m["name"])
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for c in checks:
        print("check %-4s %s (%s)" % ("ok" if c["ok"] else "FAIL", c["name"], c["detail"]))
    print("digest %s (%s)" % (r["digest"], "pinned" if pin else "not pinned for this seed"))
    for k, v in r["samples"].items():
        if len(v) >= 2:
            q1, q2, q3 = statistics.quantiles(v, n=4)
            print("%-24s median %.4f  q1 %.4f  q3 %.4f  n %d  %s" % (k, q2, q1, q3, len(v), [round(x, 3) for x in v]))
    print("context " + json.dumps(r["context"], sort_keys=True))
    correct = r["failed"] == 0 and all(c["ok"] for c in checks)
    failed = r["failed"] if correct or r["failed"] else 1
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
