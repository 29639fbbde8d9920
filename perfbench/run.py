"""Benchmark entry point.

    python3 perfbench/run.py --workload mv_refresh --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --test

Run from the root of a checkout. Builds the program and the benchmark
(build.py), then runs one workload in a single Spark JVM (local mode,
as many cores as `nproc` reports). The last line of standard output is
the result object; the exit code is 0 only when every output check
passed. `--test` runs the benchmark's own tests instead.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout clean of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mv_refresh", "point_ops", "bulk_build")
RUN_DEADLINE_S = 170
DATA_DIR = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_cores(text):
    """`nproc` output as a positive int; anything else is an error."""
    s = text.strip()
    if not s.isdigit() or int(s) < 1:
        raise ValueError(f"core count must be a positive integer, got {text!r}")
    return int(s)


def nproc():
    return parse_cores(subprocess.run(["nproc"], capture_output=True, text=True,
                                      check=True).stdout)


def java_cmd(classes, work, main, args, heap):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xms{heap}", f"-Xmx{heap}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, build.classpath()]), main] + args)


def run_jvm(cmd, deadline_s):
    proc = subprocess.Popen(cmd)
    try:
        return proc.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {deadline_s} s and was stopped", file=sys.stderr)
        return 124
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.test and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    cores = nproc()
    classes = build.build()
    if not a.test and not os.path.isdir(DATA_DIR):
        raise SystemExit(f"perfbench: testdata directory {DATA_DIR} not found")
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", str(os.getpid())))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.test:
            cmd = java_cmd(classes, work, "perfbench.SelfTest",
                           ["--cores", str(cores), "--work", work], "2g")
        else:
            cmd = java_cmd(classes, work, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores), "--data", DATA_DIR, "--work", work,
                "--traces", os.path.abspath(os.path.join(build.BUILD_DIR, "traces"))],
                "4g")
        started = time.monotonic()
        rc = run_jvm(cmd, RUN_DEADLINE_S)
        print(f"perfbench: jvm exit {rc} after {time.monotonic() - started:.1f} s",
              file=sys.stderr)
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
