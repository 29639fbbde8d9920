"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (`src/main/scala`) and the benchmark's own
(`perfbench/src`) are compiled in one `scalac` pass against the jars the
repository's sbt build compiles against (its `unmanagedBase`, which holds
Spark and the Scala compiler), into `.bench_build/perfbench/classes`
under the checkout. A stamp holding the sha-256 of every source file
skips the pass when nothing changed. Run directly (`python3 perfbench/build.py`) or through run.py.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
COMPILE_TIMEOUT_S = 840


def classpath():
    """The jar directory of `unmanagedBase := file("...")` in build.sbt."""
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m is None or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench build: build.sbt names no unmanagedBase jar directory")
    return os.path.join(m.group(1), "*")


def sources():
    """Every .scala file under the source roots, sorted; fails when the
    program's sources are absent (a checkout holding only the benchmark)."""
    found = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench build: source directory {root} not found")
        for d, _, files in os.walk(root):
            found.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    found.sort()
    if not any(f.startswith(SOURCE_ROOTS[0]) for f in found):
        raise SystemExit("perfbench build: no program sources to compile")
    return found


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile when the sources changed; returns the classes directory."""
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.monotonic()
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath(), "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", classpath(), "@" + argfile]
    proc = subprocess.run(cmd, stdout=log, stderr=log, timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench build: scalac failed (exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    print(f"perfbench build: compiled {len(files)} files in "
          f"{time.monotonic() - t0:.1f} s", file=log)
    return CLASSES


if __name__ == "__main__":
    build(sys.stdout)
