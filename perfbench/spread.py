"""Run-to-run spread of the end-to-end metrics, the way the acceptance
check computes it: for each metric, the distance between the first and
third quartile of the runs' values as a share of their median.

    python3 perfbench/spread.py --workload batch --seeds 1-10 [--seconds 10]

Runs ``run.py`` once per seed, one after another, and prints one line per
metric with its median, spread and bound (from BENCHMARK.json). A spread
above a third of the bound is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import relative_iqr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="a-b range or comma list")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    if "-" in args.seeds:
        lo, hi = map(int, args.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        spread = relative_iqr(vals)
        flag = "" if spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:>12}: median {statistics.median(vals):.4g} {m['unit']}, "
              f"spread {spread:.3f}, bound {m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
