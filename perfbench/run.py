#!/usr/bin/env python3
"""Benchmark of the medallion pipeline: bronze JSON -> silver -> gold
CM1/CM2 -> exec_daily_kpi, as a batch refresh and as streaming arrivals.

Run from the repository root:

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans on, adds the per-layer probes, prints the per-layer
metrics and writes the spans to ``.perfbench-work/trace-<workload>-seed<n>.json``.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The run exits 1 when the written KPI differs from its DuckDB oracle, and
before printing any result when the engine cannot be imported.

Everything the run writes (corpus, checkpoints, Spark local dirs) lives in
``.perfbench-work/`` under the repository root and is removed at exit,
except the trace file. ``perfbench/layers.json`` records each workload's
loop and sizes and which end-to-end metric each layer metric moves.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def percentile_note(xs: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it, and the sample count."""
    n = len(xs)
    xs = sorted(xs)
    note = f"median {statistics.median(xs):.4f} over n={n}"
    for p in (99, 95, 90, 75):
        k = int(p / 100 * n)
        if n - k - 1 >= 10:
            return f"{note}, p{p} {xs[k]:.4f}"
    return f"{note} (too few samples for a tail percentile)"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))
    work_root = ROOT / ".perfbench-work"
    work = work_root / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("MCDP_DRIVER_MEM", "2g")
    # Keep every file Spark, the JVMs and Python write inside the work dir
    # (-XX:-UsePerfData: no hsperfdata file in the system temp dir).
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "load1_before": os.getloadavg()[0],
    }
    steal0 = steal_s()
    b = None
    try:
        sys.path.insert(0, str(ROOT))
        try:
            import workloads
        except (ImportError, FileNotFoundError) as e:
            print(f"perfbench: cannot load the engine from {ROOT}: {e}", file=sys.stderr)
            return 1
        from spans import Tracer

        tracer = Tracer(bool(args.trace))
        b = workloads.Bench(work, args.seed, args.seconds, tracer)
        out = workloads.WORKLOADS[args.workload](b, cpus)
        record["spark"] = b.spark.version
        record["java"] = b.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        values = {"setup_s": b.setup_s, **out.layers}
        for k in ("start_s", "registry_import_s", "warmup_s"):
            values[f"session.{k}"] = statistics.median(s[k] for s in b.setups)
        record["setups"] = b.setups
        values["session.peak_rss_mb"] = b.close()
        b = None
    finally:
        if b is not None:
            b.close()
        shutil.rmtree(work, ignore_errors=True)
    record["load1_after"] = os.getloadavg()[0]
    record["cpu_steal_s"] = steal_s() - steal0
    record.update(out.record)
    record["refresh_s"] = out.refresh_s
    print("run " + json.dumps(record))
    if args.trace:
        trace_path = work_root / f"trace-{args.workload}-seed{args.seed}.json"
        tracer.dump(trace_path)
        print(f"spans: {trace_path}")

    correct = not out.problems
    for p in out.problems:
        print(f"MISMATCH {p}")
    metrics: dict[str, dict] = {}
    if out.refresh_s:
        values["kpi_refresh_s"] = statistics.median(out.refresh_s)
        values["rows_per_s"] = out.rows_per_s
        print(f"kpi_refresh_s: {percentile_note(out.refresh_s)}")
        print(f"error_rate: {out.failed}/{out.attempted} = {out.failed / out.attempted:.4f}")
        for m in SPEC["per_layer" if args.trace else "end_to_end"]:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
            print(f"{m['name']} = {values[m['name']]} {m['unit']}")
    result = {"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
