#!/usr/bin/env python3
"""Runs one benchmark measurement of the spatial-join engine.

    python3 perfbench/run.py --workload region_tile --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source (perfbench/build.py),
then starts one JVM that generates the workload's input table for the
seed (cached under .bench_build/perfbench/data), measures, and prints the
result object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading

import build

# Every JVM the benchmark starts gets the same fixed heap, so peak_rss_mb
# compares and no job runs while the heap is still growing.
HEAP = ["-Xms2g", "-Xmx2g"]
# A run (input generation plus measurement, after the build) is stopped
# after this many seconds, so that it always ends within three minutes.
RUN_BUDGET_S = 170.0
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(java, jars, classes, args, timeout_s):
    """Runs graft.perfbench.Main; echoes its output; returns (code, last line)."""
    tmp = os.path.join(build.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + HEAP + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties")]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(max(1.0, timeout_s), kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
    if timed_out:
        print("perfbench: JVM killed after %.0f s" % timeout_s, file=sys.stderr)
        return 124, None
    return code, last


def expected_metrics(trace):
    """Metric names and units BENCHMARK.json promises for this mode, if present."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check the job loop's failure accounting and exit")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    try:
        java, jars, classes = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    if a.self_test:
        return jvm(java, jars, classes, ["selftest"], 60)[0]

    code, result = jvm(java, jars, classes,
                       ["measure", "--workload", a.workload, "--seed", str(a.seed), "--work", build.WORK,
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--budget", "%.1f" % (RUN_BUDGET_S - 5)], RUN_BUDGET_S)
    if code != 0 or result is None:
        print("perfbench: measurement failed (exit %d)" % code, file=sys.stderr)
        return code or 1
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in json.loads(result)["metrics"].items()}
    if want is not None and got != want:
        print("perfbench: metrics differ from BENCHMARK.json: missing %s, unexpected %s" %
              (sorted(set(want) - set(got)), sorted(set(got) - set(want))), file=sys.stderr)
        return 4
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
