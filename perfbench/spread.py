"""Run the benchmark once per seed and print each metric's median and
quartile spread ((Q3 - Q1) / median), the figure a metric's bound in
BENCHMARK.json is compared with.

    python3 perfbench/spread.py --workload bi_sql --seeds 1 2 3 4 5 --seconds 16
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=False)
        wall = time.monotonic() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        for line in lines[:-1]:
            print(f"  {line}")
        print(f"seed {seed} ({wall:.0f}s wall): correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    if len(args.seeds) >= 2:
        for k, v in values.items():
            spread = quartile_spread(v) if median(v) else float("nan")
            print(f"{k:32s} median={median(v):.4g} spread={spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
