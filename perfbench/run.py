"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cf_stream --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (see
build.py), then runs the workload in one JVM: local[N] with N from the
CPUs this process may use, and a heap sized from the machine's memory.
For a single-core baseline, run it under `taskset -c 0`.
--trace 0 prints the end-to-end metrics; --trace 1 attaches Spark's
listeners, times each public call and prints the per-layer metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cf_stream", "cf_dashboard")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def box_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def box_heap_mb():
    """A quarter of the machine's memory, clamped to [1, 8] GiB: the box is
    shared, and the workloads hold megabytes, not gigabytes."""
    total_kb = 4 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return max(1024, min(8192, total_kb // 1024 // 4))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    cpus = box_cpus()
    heap = box_heap_mb()
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "log4j2.properties")
    cmd = ["java", f"-Xmx{heap}m", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={log4j}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--work", work]
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"perfbench: {a.workload} exited with {proc.returncode} "
                         "and no result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
