#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload bulk_tail --seeds 10 [--seconds 8] [--trace 0]

Runs perfbench/run.py once per seed (1..N), one run at a time, and
prints for each metric its median, quartiles and the interquartile
range as a share of the median (statistics.quantiles(values, n=4)),
next to the bound BENCHMARK.json gives it. A spread above a third of
the bound is marked; the benchmark is steady when no metric but
setup_s is marked.
"""

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    values, walls, bad = {}, [], 0
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        t0 = time.time()
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            stdout, stderr = proc.communicate()
        except BaseException:
            proc.terminate()  # run.py stops its JVM on SIGTERM
            proc.wait()
            raise
        walls.append(time.time() - t0)
        last = stdout.strip().splitlines()[-1] if stdout.strip() else "{}"
        try:
            result = json.loads(last)
        except ValueError:
            result = {}
        if proc.returncode != 0 or not result.get("correct"):
            bad += 1
            print(f"seed {seed}: FAILED (exit {proc.returncode})", file=sys.stderr)
            print(stderr[-2000:], file=sys.stderr)
            continue
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall", file=sys.stderr)

    report = {}
    for k in sorted(values):
        v = values[k]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(k)
        mark = "  <-- above bound/3" if bound and share > bound / 3 else ""
        report[k] = {"median": med, "q1": q1, "q3": q3, "spread": share, "bound": bound, "values": v}
        print(f"{k:55s} median {med:14.6g}  spread {share:7.4f}  bound {bound}{mark}")
    print(f"runs {a.seeds}, failed {bad}, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s, total {sum(walls):.0f} s")
    out = os.path.join(ROOT, ".bench_build", f"spread-{a.workload}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "seconds": seconds, "walls": walls, "failed": bad,
                   "metrics": report}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
