"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload train --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` once per seed (tracing off) and prints, per
metric, the median of the runs and the distance between the first and
third quartiles as a share of that median — the figure each metric's
``bound`` in BENCHMARK.json must stay above.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=None)
    args = p.parse_args()
    sys.path.insert(0, HERE)
    from spec import END_TO_END, RUN_SECONDS

    seconds = args.seconds or RUN_SECONDS
    values: dict[str, list[float]] = {n: [] for n, *_ in END_TO_END}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        result = json.loads(out)
        print(f"seed {seed}: " + " ".join(
            f"{n}={m['value']:.4f}" for n, m in result["metrics"].items()
        ) + f" correct={result['correct']}", flush=True)
        for n, m in result["metrics"].items():
            values[n].append(m["value"])
    for n, unit, _, bound in END_TO_END:
        v = values[n]
        q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        share = (q3 - q1) / med if med else float("inf")
        print(f"{n:20s} median {med:14.4f} {unit:5s} IQR/median {share:.4f}"
              f" (bound {bound}, target < {bound / 3:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
