"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload crawl_http_polite \
        --seeds 1-10 --seconds 20 [--trace 0] [--out runs.json]

For every metric: the median, the quartiles (``statistics.quantiles``
with n=4) and the spread, (Q3 - Q1) / median. The runs are sequential,
so no two share the machine.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for s in args.seeds:
        proc = subprocess.run(
            [sys.executable, str(RUN), "--workload", args.workload, "--seed",
             str(s), "--seconds", str(args.seconds), "--trace",
             str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        if proc.returncode != 0:
            print(f"seed {s}: exit code {proc.returncode}", flush=True)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"] = s
        runs.append(res)
        print(f"seed {s}: correct={res['correct']} " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
        ), flush=True)
    print(f"{args.workload}: {len(runs)} runs, "
          f"{sum(r['failed'] for r in runs)} of "
          f"{sum(r['attempted'] for r in runs)} crawls failed")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"  {name}: median {med:.4g}  Q1 {q1:.4g}  Q3 {q3:.4g}  "
              f"spread {spread:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
