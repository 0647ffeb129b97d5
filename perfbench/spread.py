#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs ``run.py`` once per seed for each workload (one run at a time) and
prints, per metric, the median, the quartiles and the interquartile
distance as a share of the median, next to the metric's bound from
``BENCHMARK.json``. Run from the repository root:

    python3 perfbench/spread.py --workload medallion_batch --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    status = 0
    for wl in args.workload:
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                status = 1
                continue
            result = json.loads(lines[-1])
            run = json.loads(next(line for line in lines if line.startswith("run "))[4:])
            row = {k: m["value"] for k, m in result["metrics"].items()}
            for k, v in row.items():
                values.setdefault(k, []).append(v)
            print(f"{wl} seed {seed}: wall {wall:.1f} s correct {result['correct']} "
                  f"steal {run['cpu_steal_s']:.1f} s "
                  + " ".join(f"{k}={v:.4g}" for k, v in row.items())
                  + f" samples {[round(x, 2) for x in run['refresh_s']]}", flush=True)
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"{wl} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {(q3 - q1) / med:.3f} bound {bounds.get(k)}")
    return status


if __name__ == "__main__":
    sys.exit(main())
