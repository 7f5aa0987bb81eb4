#!/usr/bin/env python3
"""Run one workload with several seeds and summarize each metric.

    python3 ingestbench/repeat.py --workload live --seeds 1-10 [--seconds 6] [--trace 0]

For every metric prints the median, the first and third quartiles (as
statistics.quantiles(values, n=4) gives them) and the spread, the distance
between the quartiles as a share of the median. Runs are sequential, so
they do not compete for the machine. Each run's result line is appended to
--out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()

    values, bad = {}, 0
    for seed in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {p.returncode})")
            bad += 1
            continue
        r = json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "result": r}) + "\n")
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for k, vs in sorted(values.items()):
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:34s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
