#!/usr/bin/env python3
"""One benchmark run of the engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload lake_detect|corpus_fold \
      --seed N --seconds S --trace 0|1

Builds the engine and the harness if a source changed (perfbench/build.py),
runs one JVM (graft.perfbench.Main) that generates the seeded inputs, sets up,
measures for S seconds and checks every output, and prints the report followed
by one JSON result line as the last line of stdout. Exits non-zero, without a
result line, when the build or the run fails; exits 1 after the result line
when a correctness gate failed. Everything it writes stays under .bench_build/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("lake_detect", "corpus_fold")
# A run must end within this many seconds once the build is done.
RUN_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these opens.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    classes = build.build()
    started = time.time()
    runs = os.path.join(build.BUILD, "runs")
    work = os.path.join(runs, "%s-%d-%s-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + ":" + os.path.join(build.spark_home(), "jars", "*"),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out,
            "--spans", os.path.join(traces, "%s-seed%d.jsonl" % (a.workload, a.seed))])

    proc = None

    def stop(*_):
        raise SystemExit(143)
    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stdout, stderr=log)
            try:
                rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                rc = None
        if rc is None or not os.path.exists(out):
            sys.stdout.flush()
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write("perfbench: run %s\n" % ("timed out" if rc is None
                                                      else "failed, exit %d" % rc))
            return 1
        with open(out) as f:
            result = f.read().strip()
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
        sys.stdout.flush()
        print(result, flush=True)
        return 0 if rc == 0 else 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
