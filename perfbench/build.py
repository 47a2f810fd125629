"""Build file of the benchmark: compiles the program and the benchmark.

The program's Scala sources (src/main/scala, plus src/main/resources) and
the benchmark's own sources (perfbench/src) are compiled with the Scala
compiler that ships in Spark's jar directory, so no build tool has to
resolve anything. Output lands in .bench_build/ (or $CARGO_TARGET_DIR)
under the checkout root; a content stamp skips the compile when neither
source tree changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jar directory at {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _files(top, suffix=None):
    out = []
    for dirpath, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(dirpath, n))
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compile into {out} failed")


def build():
    """Compile if the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) "
                         "are missing; run from the root of a graft checkout")
    jars = spark_jars()
    program = _files(PROGRAM_SRC, ".scala")
    resources = _files(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    bench = _files(BENCH_SRC, ".scala")
    bdir = build_dir()
    pcls = os.path.join(bdir, "classes", "program")
    bcls = os.path.join(bdir, "classes", "bench")
    cp = os.pathsep.join([bcls, pcls, os.path.join(jars, "*")])
    stamp_file = os.path.join(bdir, "stamp")
    stamp = _stamp(program + resources + bench)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    for d in (pcls, bcls):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    _scalac(jars, os.path.join(jars, "*"), pcls, program)
    for r in resources:
        dst = os.path.join(pcls, os.path.relpath(r, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    _scalac(jars, os.pathsep.join([pcls, os.path.join(jars, "*")]), bcls, bench)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
