#!/usr/bin/env python3
"""Runs the benchmark on several seeds and prints each end-to-end metric's
spread: the distance between the first and third quartile of its values
(statistics.quantiles, n=4) as a share of their median.

    python3 perfbench/spread.py --workload lakehouse --seeds 1-10 --seconds 15
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", default="15")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds", a.seconds,
                            "--trace", "0"], capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median {med:.4g}  spread {(q3 - q1) / med:.3f}")


if __name__ == "__main__":
    main()
