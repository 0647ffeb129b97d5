"""The benchmark's workloads, driven through the engine's public entry
points, with their correctness gates and traced layer breakdown.

* ``medallion_batch``: a compacted bronze corpus fed to the registered
  ``pipeline_exec_daily_kpi`` query (``pipeline.schemas.BRONZE_ROOT``
  pointed at the corpus), each refresh writing the KPI table, back to
  back in one closed loop.
* ``stream_arrivals``: one day of per-object bronze files lands per
  arrival; ``streaming.jobs.stream_bronze_to_silver`` drains each source
  on persistent checkpoints, then the KPI is rebuilt from landed silver
  with ``pipeline.gold`` and written. Before each timed arrival the
  previous one is undone, so every arrival meets the same history.

Both gates run outside the timed region: the written KPI table is
compared with ``testing.compare`` against ``gold.oracle_exec_daily_kpi``
composed over ``silver.oracle_conform_*`` for the same bronze files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from functools import reduce
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.pipeline import gold, schemas, silver
from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
    flatten_envelope,
    read_bronze,
)
from multichannel_commerce_data_pipeline_spark.session import get_spark
from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
    CONFORMERS,
    stream_bronze_to_silver,
)
from multichannel_commerce_data_pipeline_spark.testing import compare

import corpus
from spans import Span, Tracer

KPI_QUERY = "pipeline_exec_daily_kpi"
FIXTURE_ROOT = schemas.BRONZE_ROOT  # the committed fixture
SETUPS = 3
# medallion_batch corpus: 24 days at 20x the fixture's daily volume.
BATCH_DAYS, BATCH_SCALE = 24, 20
# Untimed refreshes between set-up and the timed window: the refresh gets
# faster over its first ten or so runs in a JVM (measured 2.9 s -> 1.7 s
# on a 4-vCPU VM), so the window starts at the plateau.
BURN_IN = 12
# stream_arrivals: each timed arrival lands one day of STREAM_DAILY rows
# (one file each) onto a history of STREAM_HISTORY such days. The day has
# the fixture's 200 rows, but wholesale (joor) carries 120 of them, not 30:
# at 30 a day, 5.6% of days (115 of 2000 seeded days) have a (day,
# country) wholesale group whose orders all have a null quantity, and
# gold.exec_daily_kpi fails on such a group (the known defect in
# test_perfbench.py); at 120 none of the 2000 did.
STREAM_DAILY = {"joor": 120, "shopify": 30, "tiktok": 20, "freight": 30}
STREAM_HISTORY = 1
MIN_ARRIVALS = 3
# (silver source, gold channel, revenue expression) per KPI channel; the
# Spark and the oracle side are built from this one table.
CHANNELS = (
    ("joor", "wholesale", "unit_price * quantity"),
    ("shopify", "shopify", "total_price"),
    ("tiktok", "livestreaming", "unit_price * quantity"),
)
STREAM_PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning")


class Window:
    """The timed window of a closed loop. Another operation starts only
    if, taking as long as the previous one, it ends inside ``seconds``,
    so the operation count moves only when the per-operation time
    crosses ``seconds / k``; at least ``minimum`` operations succeed
    unless three fail."""

    def __init__(self, seconds: float, minimum: int):
        self.seconds = seconds
        self.minimum = minimum
        self.start = self.last = time.perf_counter()

    def more(self, succeeded: int, failed: int) -> bool:
        now = time.perf_counter()
        op, self.last = now - self.last, now
        if succeeded < self.minimum:
            return failed < 3
        return now - self.start + op <= self.seconds


@dataclass
class Outcome:
    """What one workload run measured."""

    attempted: int = 0
    failed: int = 0
    refresh_s: list[float] = field(default_factory=list)
    rows_per_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    record: dict = field(default_factory=dict)


class Bench:
    """One benchmark process: owns the Spark session, the work dir and
    the tracer."""

    def __init__(self, work: Path, seed: int, seconds: float, tracer: Tracer):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark: SparkSession | None = None
        self.registry = None
        self.setups: list[dict] = []
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # The heap starts at its maximum. A heap that grows from the
            # JVM default made the medallion refresh drift from 2.5 s to
            # 1.4 s over its first 40 refreshes, so a timed window would
            # sample a different point of that drift on every host.
            "spark.driver.extraJavaOptions": f"-Xms{os.environ.get('MCDP_DRIVER_MEM', '2g')}",
        }

    # -- set-up -----------------------------------------------------------

    def setup(self, warmup) -> None:
        """Session start, registry import and ``warmup()``, ``SETUPS``
        times; the first launches the JVM, the others restart the session
        in it."""
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup"):
                t0 = time.perf_counter()
                with self.tracer.span("session.start"):
                    self.spark = get_spark("perfbench", extra_conf=self.conf)
                    self.spark.sparkContext.setLogLevel("ERROR")
                t1 = time.perf_counter()
                with self.tracer.span("registry.import"):
                    from multichannel_commerce_data_pipeline_spark.queries import (
                        load_registry,
                    )

                    self.registry = load_registry()
                t2 = time.perf_counter()
                with self.tracer.span("warmup"):
                    warmup()
                t3 = time.perf_counter()
            self.setups.append({"start_s": t1 - t0, "registry_import_s": t2 - t1, "warmup_s": t3 - t2})

    def fixture_kpi(self) -> None:
        """The registered KPI query over the committed fixture."""
        schemas.BRONZE_ROOT = FIXTURE_ROOT
        self.registry[KPI_QUERY].fn(self.spark, "").collect()

    @property
    def setup_s(self) -> float:
        return statistics.median(sum(s.values()) for s in self.setups)

    def close(self) -> float:
        """Stop Spark and wait for the JVM; return peak RSS (MB) of this
        process plus the JVM."""
        gw = SparkContext._gateway
        rss = _peak_rss_mb(os.getpid()) + (_peak_rss_mb(gw.proc.pid) if gw else 0.0)
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None
        return rss

    # -- shared pieces ----------------------------------------------------

    def gate(self, kpi_dir: Path, bronze_root: Path) -> list[str]:
        """Compare the written KPI table with the DuckDB oracle over the
        same bronze files."""
        with duckdb.connect() as con:
            return compare(self.spark.read.parquet(str(kpi_dir)), con, oracle_kpi(bronze_root))

    def attempt(self, out: Outcome, op):
        """Run one timed operation; a raised exception counts as failed
        and the run continues."""
        out.attempted += 1
        try:
            return op()
        except Exception:  # noqa: BLE001 - a failed operation is data, not a crash
            out.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def breakdown(self, bronze_root: Path, gold_inputs) -> dict[str, float]:
        """Traced-only layer probes over the workload's final inputs: noop
        writes, each one job over all sources like the refresh itself,
        each run once untimed first so that its code generation is not
        timed. Bronze: the envelope scan. Silver: the same plus conform,
        so its self time is silver minus bronze. Gold: CM1/CM2 of the
        three channels, then the KPI, over ``gold_inputs()`` cached, so
        neither re-reads its input; the KPI's self time is the KPI probe
        minus the CM2 probe. Last, the whole KPI plan over the uncached
        inputs, whose executed plan gives the JSON scan count."""
        tr, spark = self.tracer, self.spark
        layers: dict[str, float] = {}

        def bronze(src: str) -> DataFrame:
            return flatten_envelope(read_bronze(spark, src, str(bronze_root)))

        def probe(name: str, make) -> Span:
            _noop(make())
            with tr.span(name) as span:
                _noop(make())
            return span

        def silver_union() -> DataFrame:
            return _union_all({src: CONFORMERS[src](bronze(src)) for src in corpus.SOURCES})

        with tr.span("breakdown"):
            bronze_span = probe("bronze", lambda: _union_all({s: bronze(s) for s in corpus.SOURCES}))
            silver_span = probe("silver", silver_union)
            rows = Observation("silver_rows")
            _noop(silver_union().observe(rows, *(F.count_if(F.col("src") == s).alias(s) for s in corpus.SOURCES)))
            layers.update({f"silver.rows.{s}": n for s, n in rows.get.items()})

            cached = {src: df.persist() for src, df in gold_inputs().items()}
            for df in cached.values():
                df.count()
            cm2_span = probe("gold.cm2", lambda: reduce(DataFrame.unionByName, cm2_frames(cached)))
            kpi_span = probe("gold.kpi", lambda: gold.exec_daily_kpi(cm2_frames(cached)))
            for df in cached.values():
                df.unpersist(blocking=True)

            kpi = gold.exec_daily_kpi(cm2_frames(gold_inputs()))
            layers["gold.kpi_rows"] = len(kpi.collect())
            plan = kpi._jdf.queryExecution().executedPlan()
            final = plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan
            with tr.span("gold.kpi_plan") as plan_span:
                _noop(gold.exec_daily_kpi(cm2_frames(gold_inputs())))
        layers["bronze.scan_s"] = bronze_span.seconds
        layers["bronze.scan_tasks"] = bronze_span.spark["tasks"]
        layers["bronze.json_scans_per_kpi"] = final.toString().count("FileScan json")
        layers["silver.conform_s"] = silver_span.seconds - bronze_span.seconds
        layers["gold.cm2_s"] = cm2_span.seconds
        layers["gold.kpi_s"] = kpi_span.seconds - cm2_span.seconds
        layers["gold.kpi_probe_s"] = plan_span.seconds
        layers["gold.shuffle_write_bytes"] = plan_span.spark["shuffle_write_bytes"]
        return layers


def cm2_frames(silver_frames: dict[str, DataFrame]) -> list[DataFrame]:
    """CM1 -> CM2 per channel over conformed silver frames."""
    return [
        gold.cm2(gold.cm1(silver_frames[src], channel, F.expr(rev)), silver_frames["freight"])
        for src, channel, rev in CHANNELS
    ]


def oracle_kpi(bronze_root: Path) -> str:
    root = str(bronze_root)
    freight = silver.oracle_conform_freight(root)
    conform = {
        "joor": silver.oracle_conform_joor,
        "shopify": silver.oracle_conform_shopify,
        "tiktok": silver.oracle_conform_tiktok,
    }
    return gold.oracle_exec_daily_kpi(
        [
            gold.oracle_cm2(gold.oracle_cm1(conform[src](root), channel, rev), freight)
            for src, channel, rev in CHANNELS
        ]
    )


def _union_all(frames: dict[str, DataFrame]) -> DataFrame:
    """One frame over differently shaped per-source frames: a source tag
    and a hash of every column, so no column is pruned from the scan."""
    return reduce(
        DataFrame.unionByName,
        (df.select(F.lit(src).alias("src"), F.xxhash64(*df.columns).alias("h")) for src, df in frames.items()),
    )


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _spark_layers(tr: Tracer, spans, cpus: int) -> dict[str, float]:
    """Per-refresh medians of the Spark counters of the given spans."""
    per = [(s, tr.inclusive(s)) for s in spans]
    layers = {
        f"spark.{k}": statistics.median([c[k] for _, c in per])
        for k in (
            "jobs",
            "stages",
            "tasks",
            "executor_run_s",
            "gc_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
        )
    }
    layers["spark.busy_ratio"] = statistics.median(
        [c["executor_run_s"] / (s.seconds * cpus) for s, c in per]
    )
    return layers


def _trace_layers(tr: Tracer, spans, refresh_s: list[float]) -> dict[str, float]:
    return {
        "trace.refresh_s": statistics.median(refresh_s),
        "trace.overhead_s": statistics.median([tr.bookkeeping(s) for s in spans]),
    }


def _growth(xs: list[float]) -> float:
    """Least-squares slope of xs over their index (per-step growth)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(xs)
    return sum((i - mx) * (x - my) for i, x in enumerate(xs)) / sum(
        (i - mx) ** 2 for i in range(n)
    )


# -- medallion_batch --------------------------------------------------------

def medallion_batch(b: Bench, cpus: int) -> Outcome:
    out, tr = Outcome(), b.tracer
    root = b.work / "bronze"
    t0 = time.perf_counter()
    stats = corpus.write_corpus(root, b.seed, BATCH_DAYS, BATCH_SCALE, "compacted")
    out.record["corpus"] = {
        "layout": "compacted",
        "days": BATCH_DAYS,
        "scale": BATCH_SCALE,
        "files": stats.files,
        "bytes": stats.bytes,
        "rows": stats.rows,
        "generate_s": time.perf_counter() - t0,
    }
    kpi_dir = b.work / "kpi"

    def refresh(name: str) -> tuple[float, float]:
        with tr.span(name):
            t0 = time.perf_counter()
            with tr.span("query.build"):
                df = b.registry[KPI_QUERY].fn(b.spark, "")
            t1 = time.perf_counter()
            with tr.span("query.exec"):
                df.write.mode("overwrite").parquet(str(kpi_dir))
            return t1 - t0, time.perf_counter() - t1

    b.setup(b.fixture_kpi)
    schemas.BRONZE_ROOT = str(root)
    burn_in = [b.attempt(out, lambda: sum(refresh("burn_in"))) for _ in range(BURN_IN)]
    out.record["burn_in_s"] = burn_in
    builds, execs = [], []
    window = Window(b.seconds, minimum=1)
    while window.more(len(out.refresh_s), out.failed):
        r = b.attempt(out, lambda: refresh("refresh"))
        if r is not None:
            builds.append(r[0])
            execs.append(r[1])
            out.refresh_s.append(sum(r))
    if not out.refresh_s:
        out.problems = ["no refresh succeeded"]
        return out
    out.rows_per_s = stats.rows / statistics.median(out.refresh_s)
    out.problems = b.gate(kpi_dir, root)

    if tr.enabled:
        spans = tr.named("refresh")
        layers = b.breakdown(root, lambda: {
            src: CONFORMERS[src](flatten_envelope(read_bronze(b.spark, src, str(root))))
            for src in corpus.SOURCES
        })
        inside = [tr.inclusive(s)["job_s"] for s in spans]
        outside = [s.seconds - i for s, i in zip(spans, inside)]
        build, execute = statistics.median(builds), statistics.median(execs)
        layers.update(
            {
                "bronze.files": stats.files,
                "bronze.bytes": stats.bytes,
                "bronze.rows": stats.rows,
                "queries.build_s": build,
                "queries.exec_s": execute,
                "queries.first_excess_s": burn_in[0] - (build + execute),
                "engine.inside_s": statistics.median(inside),
                "engine.outside_s": statistics.median(outside),
                "engine.outside_growth_s": _growth(outside),
                **_spark_layers(tr, spans, cpus),
                **_trace_layers(tr, spans, out.refresh_s),
            }
        )
        layers["trace.unattributed_s"] = layers["trace.refresh_s"] - (
            build
            + layers["bronze.scan_s"]
            + layers["silver.conform_s"]
            + layers["gold.cm2_s"]
            + layers["gold.kpi_s"]
        )
        out.layers = layers
    return out


# -- stream_arrivals --------------------------------------------------------

def stream_arrivals(b: Bench, cpus: int) -> Outcome:
    out, tr = Outcome(), b.tracer
    b.setup(b.fixture_kpi)
    spark = b.spark
    base = b.work / "stream"
    bronze, silver_root, ckpt, kpi_dir, snapshot = (
        base / p for p in ("bronze", "silver", "ckpt", "kpi", "snapshot")
    )

    def arrival(d: int, name: str) -> dict:
        with tr.span(name, day=d) as span:
            t_land = time.perf_counter()
            with tr.span("land"):
                stats = corpus.write_day(bronze, b.seed, d, 1, "per_object", STREAM_DAILY)
            t_landed = time.perf_counter()
            trig = dict.fromkeys(("triggerExecution", "walCommit", "commitOffsets", *STREAM_PHASES), 0.0)
            with tr.span("drain"):
                for src in corpus.SOURCES:
                    with tr.span(f"drain.{src}") as src_span:
                        q = stream_bronze_to_silver(
                            spark, src, str(bronze), str(silver_root / src), str(ckpt / src)
                        )
                        if src_span is not None:
                            src_span.groups.append(str(q.runId))
                    for p in q.recentProgress:
                        for k in trig:
                            trig[k] += p["durationMs"].get(k, 0) / 1000
            t_drained = time.perf_counter()
            with tr.span("kpi"):
                with tr.span("query.build"):
                    df = gold.exec_daily_kpi(cm2_frames(
                        {src: spark.read.parquet(str(silver_root / src)) for src in corpus.SOURCES}
                    ))
                t_built = time.perf_counter()
                with tr.span("query.exec"):
                    df.write.mode("overwrite").parquet(str(kpi_dir))
            t_kpi = time.perf_counter()
        return {
            "span": span,
            "stats": stats,
            "land_s": t_landed - t_land,
            "drain_s": t_drained - t_landed,
            "build_s": t_built - t_drained,
            "exec_s": t_kpi - t_built,
            "to_kpi_s": t_kpi - t_landed,
            "total_s": t_kpi - t_land,
            "outside_s": t_drained - t_landed - trig["triggerExecution"],
            "trigger": trig,
        }

    # The history: days 0..STREAM_HISTORY-1, one untimed arrival each.
    history = []
    for d in range(STREAM_HISTORY):
        h = b.attempt(out, lambda: arrival(d, "history"))
        if h is None:
            out.problems = [f"history arrival of day {d} failed"]
            return out
        history.append(h)
    for p in (silver_root, ckpt):
        shutil.copytree(p, snapshot / p.name)

    def undo(d: int) -> None:
        """Take back the arrival of day ``d``: its bronze files, and the
        silver files and checkpoint entries its drain wrote."""
        for src in corpus.SOURCES:
            shutil.rmtree(bronze / src / corpus.day_dir(d))
        for p in (silver_root, ckpt):
            shutil.rmtree(p)
            shutil.copytree(snapshot / p.name, p)

    # Each timed arrival lands a new day onto the same history, so every
    # sample is the same operation however many fit in the window.
    arrivals: list[dict] = []
    day, kpi_day = STREAM_HISTORY, None
    window = Window(b.seconds, minimum=MIN_ARRIVALS)
    while window.more(len(arrivals), out.failed):
        if day > STREAM_HISTORY:
            undo(day - 1)
        a = b.attempt(out, lambda: arrival(day, "arrival"))
        if a is not None:
            arrivals.append(a)
            kpi_day = day
        day += 1
    if not arrivals:
        out.problems = ["no arrival succeeded"]
        return out
    if kpi_day != day - 1:
        # The last arrival failed, possibly after its overwrite removed
        # the KPI table: redo the last successful one, untimed.
        undo(day - 1)
        arrival(kpi_day, "redo")
    out.problems = b.gate(kpi_dir, bronze)
    out.refresh_s = [a["to_kpi_s"] for a in arrivals]
    out.rows_per_s = statistics.median(a["stats"].rows / a["total_s"] for a in arrivals)
    landed = corpus.DayStats()
    for a in (*history, arrivals[-1]):
        landed.add(a["stats"])
    out.record["corpus"] = {
        "layout": "per_object",
        "daily": STREAM_DAILY,
        "history_days": STREAM_HISTORY,
        "arrival_files": arrivals[-1]["stats"].files,
        "arrival_rows": arrivals[-1]["stats"].rows,
        "files": landed.files,
        "bytes": landed.bytes,
        "rows": landed.rows,
    }
    phases = {
        f"stream.{k}_s": statistics.median([a["trigger"][k] for a in arrivals])
        for k in ("triggerExecution", *STREAM_PHASES)
    }
    phases["stream.commit_s"] = statistics.median(
        [a["trigger"]["walCommit"] + a["trigger"]["commitOffsets"] for a in arrivals]
    )
    phases["stream.outside_trigger_s"] = statistics.median([a["outside_s"] for a in arrivals])
    # Per day of history: the timed arrivals meet one day more history
    # than the last history arrival did.
    phases["stream.outside_trigger_growth_s"] = (
        phases["stream.outside_trigger_s"] - history[-1]["outside_s"]
    )
    out.record["stream"] = phases

    if tr.enabled:
        spans = [a["span"] for a in arrivals]
        layers = b.breakdown(bronze, lambda: {
            src: spark.read.parquet(str(silver_root / src)) for src in corpus.SOURCES
        })
        build = statistics.median([a["build_s"] for a in arrivals])
        execute = statistics.median([a["exec_s"] for a in arrivals])
        inside = [
            a["trigger"]["triggerExecution"]
            + tr.inclusive(tr.children(a["span"])[-1])["job_s"]
            for a in arrivals
        ]
        layers.update(
            {
                "bronze.files": landed.files,
                "bronze.bytes": landed.bytes,
                "bronze.rows": landed.rows,
                "queries.build_s": build,
                "queries.exec_s": execute,
                "queries.first_excess_s": history[0]["to_kpi_s"] - statistics.median(out.refresh_s),
                "engine.inside_s": statistics.median(inside),
                "engine.outside_s": statistics.median(
                    [a["to_kpi_s"] - i for a, i in zip(arrivals, inside)]
                ),
                "engine.outside_growth_s": phases["stream.outside_trigger_growth_s"],
                **_spark_layers(tr, spans, cpus),
                **_trace_layers(tr, spans, out.refresh_s),
            }
        )
        layers["trace.unattributed_s"] = layers["trace.refresh_s"] - (
            statistics.median([a["drain_s"] for a in arrivals])
            + build
            + layers["gold.cm2_s"]
            + layers["gold.kpi_s"]
        )
        out.layers = layers
    return out


WORKLOADS = {"medallion_batch": medallion_batch, "stream_arrivals": stream_arrivals}
