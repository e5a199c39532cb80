#!/usr/bin/env python3
"""Runs one benchmark workload against the program built from source.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark with sbt when their sources changed
(the build output lives in .bench_build/ and the sbt target directories),
then starts one JVM that generates the inputs from the seed, runs the
workload and prints one JSON result line as the last line of stdout.
Engine logs go to stderr.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("wiki_tfidf_files", "neardup_stream")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
YOUNG = "1g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 160


def source_files():
    """Every file the build reads, program and benchmark alike."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the JVM arguments (options and classpath) of the built benchmark."""
    want = stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    launch = os.path.join(BENCH_DIR, "target", "launch.txt")
    if (os.path.exists(stamp_file) and os.path.exists(launch)
            and open(stamp_file).read() == want):
        return open(launch).read().split("\n")[:-1]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.forcestart=false", "launchFile"],
                            cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
                            stdout=fh, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("perfbench: build failed (log in %s)" % log)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return open(launch).read().split("\n")[:-1]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: the program's sources are not next to perfbench/")
    jvm = build()

    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # A fixed heap and young generation: G1 otherwise sizes them from
    # pause times, which host load stretches, and the CPU time of a wiki
    # round then spread 0.11 between runs instead of 0.07. A fixed set of
    # JIT compiler threads, so the benchmark can read their CPU time apart
    # (perfbench/README.md).
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
           + jvm + ["perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--work", work, "--trace-dir", os.path.join(ROOT, ".bench_trace")])
    # the JVM runs inside the work directory, so anything Spark drops in
    # its working directory goes away with it
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)

    def stop(why):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: " + why)

    signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop("run exceeded %d s" % RUN_TIMEOUT_S)
    except KeyboardInterrupt:
        stop("interrupted")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit("perfbench: run failed with exit code %d" % proc.returncode)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
