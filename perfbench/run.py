#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload llm-dedup --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The engine and the benchmark are built from
source first (see build.py). The JVM runs one closed loop with one client
and writes its result to a file; this script prints the JVM's report and
then, as the last line of standard output, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 1 the metrics are the
per-layer ones and the span trace is written under the build directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scan-plan", "llm-dedup", "ingest-commit")
HEAP = "2g"  # -Xms = -Xmx: a fixed heap
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    classpath = build.build(root)
    out = build.build_dir(root)
    work = os.path.join(out, "runs", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    log_path = os.path.join(out, "logs", name + ".log")
    result = os.path.join(work, "result.json")
    jvm_args = ["--work", work, "--result", result]
    if a.selftest:
        jvm_args += ["--selftest", "1"]
    else:
        jvm_args += ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--trace-out", os.path.join(out, "traces", name + ".json")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            # C1 only: C2 kept compiling through the measured phase at about
            # one CPU-second per op. Spark generates classes on every op, so
            # the code cache gets the tiered default size: at C1's 48 MB
            # default it filled within a minute and ops slowed down
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + jvm_args)

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                stdout, _ = proc.communicate()
                print(f"perfbench: JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        sys.stdout.write(stdout)
        if proc.returncode != 0 or (not a.selftest and not os.path.exists(result)):
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            print(f"perfbench: JVM exited with {proc.returncode}; log in {log_path}",
                  file=sys.stderr)
            return 1
        if a.selftest:
            return 0
        with open(result) as fh:
            res = json.load(fh)
        print(json.dumps(res, separators=(",", ":")))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
