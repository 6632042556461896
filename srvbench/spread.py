"""Stability check: run one workload over several seeds and print, per
metric, the median and the spread (inter-quartile distance over the
median), the figure BENCHMARK.json's bounds are judged against.

    python3 srvbench/spread.py serve_read 1,2,3,4,5,6,7,8,9,10 [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

from common import HERE, ROOT, spread


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seeds", help="comma-separated seeds")
    ap.add_argument("--seconds", default="14")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    values: dict[str, list[float]] = {}
    ok = True
    for seed in a.seeds.split(","):
        t = time.time()
        p = subprocess.run(
            [sys.executable, f"{HERE}/run.py", "--workload", a.workload,
             "--seed", seed, "--seconds", a.seconds, "--trace", a.trace],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}")
            ok = False
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        ok &= res["correct"]
        print(f"seed {seed}: {time.time() - t:.1f} s, correct "
              f"{res['correct']}, {res['failed']}/{res['attempted']} failed",
              flush=True)
        for line in p.stdout.splitlines():
            if line.lstrip().startswith("error:"):
                print(f"  {line.strip()[:600]}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        sp = spread(xs) if len(xs) >= 2 and med else float("nan")
        print(f"{k:<30} median {med:14.4f}  spread {sp:.4f}  "
              f"{[round(x, 3) for x in xs]}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
