"""Benchmark command: runs one workload for one seed and prints the result.

    python3 perfbench/run.py --workload sgd_sketch --seed 1 --seconds 10 --trace 0

Run from the checkout root. Builds the program from source first (see
build.py), then runs the workload in one JVM on ``local[min(4, nproc)]``.
The JVM's own report goes to standard output; its log goes to
``.bench_build/perfbench/logs``. The last line printed is the result object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end metrics
for ``--trace 0`` and the per-layer metrics for ``--trace 1``. Spans of a
traced run are written to ``.bench_build/perfbench/traces``.
"""

import argparse
import os
import shutil
import subprocess
import sys
import time

# importing build.py must leave nothing behind in the benchmark's directory
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("sgd_sketch", "admit_stream")
# once the program is built, a run must end within 180 s
RUN_LIMIT_S = 175
# a fixed heap and young generation keep peak RSS a property of the
# program rather than of the collector's adaptive sizing; the heap is
# touched at start, so peak RSS does not grow with the number of units a
# run fits into its seconds, and no unit pays first-touch page faults
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+AlwaysPreTouch"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    root = os.getcwd()
    classpath = build.build(root)
    started = time.monotonic()

    out = os.path.join(root, build.OUT)
    tag = "%s-seed%d-trace%s" % (a.workload, a.seed, a.trace)
    work = os.path.join(out, "run-%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    log_path = os.path.join(out, "logs", tag + ".log")
    result_path = os.path.join(work, "result.json")
    cmd = ["java"] + HEAP + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", result_path,
            "--spans", os.path.join(out, "traces", tag + ".jsonl")]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=log)
            try:
                code = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("perfbench: run exceeded %d s, see %s" % (RUN_LIMIT_S, log_path))
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            sys.exit("perfbench: run failed with code %d, see %s" % (code, log_path))
        with open(result_path) as fh:
            result = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print("perfbench: run took %.1f s" % (time.monotonic() - started), file=sys.stderr)
    print(result)


if __name__ == "__main__":
    main()
