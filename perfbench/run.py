#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload forecast_eval --seed 1 --seconds 15 --trace 0

Run from the root of the repository. The first run compiles the program and
the benchmark into .bench_build/perfbench/classes (again whenever a source
changes). Each run generates its inputs from --seed, measures for --seconds
and checks every output. The last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the spans are written to
.bench_build/perfbench/traces/. The line before the result is a report with
every metric the run measured. --size tiny and --corrupt topk exist for
perfbench/selftest.py.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

WORKLOADS = ("forecast_eval", "corpus_prep")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 165
# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the program's build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    directory the program's build.sbt names as unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find the Spark jars (set SPARK_HOME)")


def source_files():
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out) + ["perfbench/build.sh"]


def build(jars):
    """Compile unless the class directory was built from these exact sources."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    if os.path.isdir(classes) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    r = subprocess.run(["bash", "perfbench/build.sh", jars, classes], timeout=600)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_jvm(cmd, log_path):
    """Run the benchmark JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True, env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"the benchmark did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", choices=("topk",))
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft"):
        fail("run from the root of the repository: src/main/scala/graft not found")
    jars = spark_jars()
    classes = build(jars)

    os.makedirs(os.path.join(BUILD_DIR, "runs"), exist_ok=True)
    work = os.path.abspath(tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-",
                                            dir=os.path.join(BUILD_DIR, "runs")))
    for sub in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{os.path.abspath(classes)}:{os.path.abspath(jars)}/*",
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--size", a.size]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    log_path = os.path.join(BUILD_DIR, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        code, out = run_jvm(cmd, log_path)
        if a.trace == 1 and os.path.isfile(os.path.join(work, "spans.json")):
            traces = os.path.join(BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.writelines(f.readlines()[-40:])
        fail(f"the benchmark exited with code {code} (log: {log_path})")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    if not result["correct"]:
        fail(f"{result['failed']} of {result['attempted']} operations failed their output checks", 1)


if __name__ == "__main__":
    main()
