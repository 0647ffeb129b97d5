"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The workload smokes start Spark, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.errors import ArithmeticException

import corpus

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*.json"))}


@pytest.mark.parametrize("layout", corpus.LAYOUTS)
def test_generator_is_deterministic_per_seed(tmp_path, layout):
    a, b, c = (tmp_path / n for n in "abc")
    corpus.write_corpus(a, 7, 2, 2, layout)
    corpus.write_corpus(b, 7, 2, 2, layout)
    corpus.write_corpus(c, 8, 2, 2, layout)
    assert _tree(a) == _tree(b)
    assert _tree(a) != _tree(c)


def test_generator_ids_unique_and_freight_references_orders():
    days = [corpus.day_rows(3, d, 3) for d in range(3)]

    def payloads(source):
        return [json.loads(line)["raw_api_data"] for day in days for line in day[source]]

    joor, tiktok = payloads("joor"), payloads("tiktok")
    orders = [r["order_id"] for r in joor + tiktok]
    assert len(set(orders)) == len(orders)
    shopify = [r["id"] for r in payloads("shopify")]
    assert len(set(shopify)) == len(shopify)
    freight = payloads("freight")
    assert len({r["shipment_id"] for r in freight}) == len(freight)
    refs = [r["order_reference"] for r in freight]
    assert len(set(refs)) == len(refs)
    assert set(refs) <= set(orders)


def test_layouts_hold_the_same_rows(tmp_path):
    compacted = corpus.write_corpus(tmp_path / "c", 5, 2, 1, "compacted")
    per_object = corpus.write_corpus(tmp_path / "p", 5, 2, 1, "per_object")
    assert compacted.rows == per_object.rows
    assert compacted.files == 2 * len(corpus.SOURCES)
    assert per_object.files == per_object.rows


@pytest.fixture()
def small_sizes(monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "BATCH_DAYS", 2)
    monkeypatch.setattr(workloads, "BATCH_SCALE", 1)
    monkeypatch.setattr(workloads, "SETUPS", 2)
    monkeypatch.setattr(workloads, "BURN_IN", 1)
    return workloads


def test_gate_fails_on_one_perturbed_kpi_row(tmp_path, small_sizes):
    from pyspark.sql import functions as F

    from spans import Tracer

    wl = small_sizes
    b = wl.Bench(tmp_path, 11, 1, Tracer(False))
    try:
        b.setup(b.fixture_kpi)
        root = tmp_path / "bronze"
        corpus.write_corpus(root, 11, 2, 1, "compacted")
        wl.schemas.BRONZE_ROOT = str(root)
        good = tmp_path / "kpi"
        b.registry[wl.KPI_QUERY].fn(b.spark, "").write.parquet(str(good))
        assert b.gate(good, root) == []

        kpi = b.spark.read.parquet(str(good))
        first = kpi.orderBy("date_key", "channel", "country").first()
        bad = tmp_path / "kpi_bad"
        kpi.withColumn(
            "revenue",
            F.when(
                (F.col("date_key") == first.date_key)
                & (F.col("channel") == first.channel)
                & (F.col("country") == first.country),
                F.col("revenue") + 0.01,
            ).otherwise(F.col("revenue")),
        ).write.parquet(str(bad))
        assert b.gate(bad, root) != []
    finally:
        b.close()


def test_a_failed_arrival_counts_and_the_run_continues(tmp_path, monkeypatch, small_sizes):
    from spans import Tracer

    wl = small_sizes
    real = wl.stream_bronze_to_silver

    def drain(spark, source, bronze, *rest):
        if any((Path(bronze) / "joor" / corpus.day_dir(d)).exists() for d in (3, 4, 5)):
            raise RuntimeError("injected drain failure")
        return real(spark, source, bronze, *rest)

    monkeypatch.setattr(wl, "stream_bronze_to_silver", drain)
    b = wl.Bench(tmp_path, 3, 1, Tracer(False))
    try:
        out = wl.stream_arrivals(b, 2)
    finally:
        b.close()
    # The history arrival and days 1-2 succeed; days 3-5 fail, and the
    # third failure ends the window before its minimum of three arrivals.
    assert (out.attempted, out.failed, len(out.refresh_s)) == (6, 3, 2)
    assert out.problems == []


@pytest.mark.xfail(
    strict=True,
    raises=ArithmeticException,
    reason="known defect: gold.exec_daily_kpi divides by a group's zero net revenue "
    "(DIVIDE_BY_ZERO under ANSI) where its DuckDB oracle gives a NULL cm2_margin_pct",
)
def test_kpi_of_a_zero_revenue_group_matches_its_oracle(tmp_path, small_sizes):
    """A wholesale order with a null quantity conforms to quantity 0; when
    it is the only order of its (day, country) group, the group's revenue
    is 0. About 5.6% of the generator's days at the fixture's 30 wholesale
    orders a day hold such a group, so the benchmark's workloads land more
    wholesale orders a day; this test keeps the defect in view."""
    import random

    from spans import Tracer

    wl = small_sizes
    root = tmp_path / "bronze"
    corpus.write_corpus(root, 11, 1, 1, "compacted")
    day = "2025-06-02"
    raw = {
        "order_id": "JOOR-NULL-QTY",
        "customer": corpus.mf.BUYERS[0],
        "price": "120.0",
        "quantity": None,
        "sku": corpus.mf.SKUS[0],
        "currency": "USD",
        "date": f"{day}T12:00:00Z",
    }
    folder = root / "joor" / corpus.day_dir(1)
    folder.mkdir(parents=True)
    envelope = corpus.mf.envelope("joor", day, 0, raw, random.Random(0))
    (folder / "batch.json").write_text(json.dumps(envelope) + "\n")

    b = wl.Bench(tmp_path, 11, 1, Tracer(False))
    try:
        b.setup(b.fixture_kpi)
        wl.schemas.BRONZE_ROOT = str(root)
        kpi = tmp_path / "kpi"
        b.registry[wl.KPI_QUERY].fn(b.spark, "").write.parquet(str(kpi))
        assert b.gate(kpi, root) == []
    finally:
        b.close()


@pytest.mark.parametrize("workload", ["medallion_batch", "stream_arrivals"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric_with_its_unit(monkeypatch, capsys, small_sizes, workload, trace):
    import tempfile

    import run

    # run.main() points these at its work dir; restore them afterwards.
    for var in ("SPARK_GRAFT_CPUS", "MCDP_DRIVER_MEM", "TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    monkeypatch.setattr(
        sys,
        "argv",
        ["run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
    )
    assert run.main() == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected
    }
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
