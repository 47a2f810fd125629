"""Run one workload several times and print each metric's median and quartiles.

    python3 perfbench/repeat.py --workload cf_stream --runs 10 --seed 1

Run i uses seed + i. The spread column is the distance between the first
and third quartile as a share of the median, the figure each end-to-end
bound in BENCHMARK.json is set against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: run_seconds in BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]

    results = []
    for i in range(a.runs):
        seed = a.seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(a.trace)]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"run {i} (seed {seed}) failed with code {r.returncode}")
            continue
        res = json.loads(lines[-1])
        results.append(res)
        stamp = next((json.loads(l)["stamp"] for l in lines[:-1]
                      if l.startswith('{"stamp"')), {})
        print(f"run {i} seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"steal_pct={stamp.get('steal_pct')} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
    if not results:
        raise SystemExit("no run finished")

    print(f"\n{a.workload}: {len(results)} runs, seconds={seconds}, trace={a.trace}")
    print(f"{'metric':40s} {'unit':>8s} {'q1':>12s} {'median':>12s} "
          f"{'q3':>12s} {'spread':>8s}")
    for name, m in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = vals[0]
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:40s} {m['unit']:>8s} {q1:12.4f} {med:12.4f} "
              f"{q3:12.4f} {spread:8.3f}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share of attempted: {sorted(shares)}; "
          f"all correct: {all(r['correct'] for r in results)}")


if __name__ == "__main__":
    main()
