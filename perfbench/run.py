#!/usr/bin/env python3
"""Product-path benchmark of the email ETL engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark's own code from source with sbt (once per
source state; later runs reuse the build), runs one workload in a fresh
JVM on local[<cores>], and prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. Lines
before it carry the environment (ENV), per-operation figures (DETAIL),
every timed latency (OPS) and failed checks (FAIL).

Everything the benchmark writes stays in the checkout: the build under
perfbench/target and perfbench/project, run data under .bench_work.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "search_session")
HEAP = "2g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles with sbt unless the last build saw the same sources;
    returns the runtime classpath."""
    out = os.path.join(HERE, "target")
    cp_file = os.path.join(out, "perfbench.classpath")
    stamp_file = os.path.join(out, "perfbench.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if "perfbench/target" in l and ":" in l]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (no build.sbt / src/main/scala/graft here)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("set SPARK_HOME to a Spark 4 installation")

    cp = build(root)
    work = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work, "%s-%d" % (a.workload, a.seed))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the memory a run uses is mapped before
    # anything is timed, instead of page by page during the timed part
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + tmp,
           "-Dperfbench.hashes=" + os.path.join(HERE, "expected_hashes.tsv")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    log_path = os.path.join(work, "%s-%d-%d.log" % (a.workload, a.seed, a.trace))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log_path))
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    for d in (run_dir, tmp, os.path.join(work, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        elif line.startswith(("ENV ", "DETAIL ", "OPS ", "FAIL ")):
            print(line)
    if p.returncode != 0 or result is None:
        fail("run failed with exit code %d (log: %s)" % (p.returncode, log_path))
    print(result)


if __name__ == "__main__":
    main()
