#!/usr/bin/env python3
"""Build the engine plus the benchmark harness from source, then run one
benchmark workload in a fresh JVM.

    python3 perfbench/run.py --workload search-single --seed 7 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is the
result object (`correct`, `attempted`, `failed`, `metrics`). Build outputs
and per-run working data live under `.bench_build/` in the root; each run
works in its own empty directory there and removes it when done.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("search-single", "fresh-writes", "analytics")
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these opened (the engine's
# build.sbt passes the same list to its forked JVMs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def source_stamp(root):
    """Hash of every input the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src/main", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt is required to build the benchmark")
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.io.implicit.relative.glob.conversion=allow",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=fh,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l
           and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cps[-1], True


def ensure_corpus(root, java, classpath):
    """Generate the fixed corpus once per source state, outside any timed
    run; the `_READY` marker commits it."""
    with open(os.path.join(root, ".bench_build", "perfbench", "stamp")) as fh:
        data = os.path.join(root, ".bench_build", "corpus-" + fh.read()[:16])
    if not os.path.exists(os.path.join(data, "_READY")):
        shutil.rmtree(data, ignore_errors=True)
        rc = subprocess.run(java + ["-cp", classpath, "perfbench.GenData", data],
                            cwd=root, stdout=subprocess.DEVNULL,
                            timeout=300).returncode
        if rc != 0:
            fail(f"corpus generation failed (exit {rc})")
    return data


def main():
    args = parse_args()
    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at a Spark 4 distribution")
    t_start = time.time()
    classpath, built = build(root, os.path.join(root, ".bench_build", "perfbench"))

    java = ["java", "-Xmx3g", "-XX:+UseParallelGC"] + [
        a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    data = ensure_corpus(root, java, classpath)

    runs = os.path.join(root, ".bench_build", "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "index"))
    cmd = java + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", data, "--cpus", str(cpus),
        "--trace-dir", os.path.join(root, ".bench_build", "traces"),
        "--jvm-launch-epoch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    # the watchdog fires even while the JVM is silent; a run that also
    # built gets the first-run allowance
    budget = (FIRST_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S) - (time.time() - t_start)
    watchdog = threading.Timer(max(1.0, budget), kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{\"correct\""):
                result = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    except KeyboardInterrupt:
        kill()
        proc.wait()
        rc = -1
    finally:
        watchdog.cancel()
    shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail("run timed out")
    if rc != 0 or result is None:
        fail(f"benchmark JVM exited {rc} without a result")
    print(result, flush=True)


if __name__ == "__main__":
    main()
