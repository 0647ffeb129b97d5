"""Seeded bronze corpus generator for the benchmark.

Writes the reference's bronze object layout
``{source}/{YYYY}/{MM}/{DD}/<file>.json`` (newline-delimited message
envelopes) for the four sources the KPI chain reads: joor, shopify,
tiktok and freight. The messy value encodings and the envelope come
from ``scripts/make_fixtures.py`` (imported, not copied), so the corpus
exercises the same silver cleaning paths as the committed fixture; the
row counts scale by ``scale`` and order/shipment ids stay unique at any
scale and day count.

Two layouts:

* ``compacted``: one ``batch.json`` per source per day, all rows of that
  day (the shape of the committed fixture, and of a compacted landing);
* ``per_object``: one JSON object per file, as the reference's Kafka
  consumer lands them (kafka_fashion_consumer.py:53-69).

The same (seed, days, scale, layout) writes byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import random
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
FIRST_DAY = dt.date(2025, 6, 1)
EPOCH = dt.date(1970, 1, 1)
SOURCES = ("joor", "shopify", "tiktok", "freight")
# Rows per source per day at scale 1 (the committed fixture's volume).
DAILY = {"joor": 30, "shopify": 60, "tiktok": 50, "freight": 60}
LAYOUTS = ("compacted", "per_object")


def _fixture_helpers():
    spec = importlib.util.spec_from_file_location(
        "make_fixtures", ROOT / "scripts" / "make_fixtures.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


mf = _fixture_helpers()


@dataclass
class DayStats:
    files: int = 0
    bytes: int = 0
    rows: int = 0

    def add(self, other: "DayStats") -> None:
        self.files += other.files
        self.bytes += other.bytes
        self.rows += other.rows


def day_rows(seed: int, d: int, scale: int, daily: dict[str, int] = DAILY) -> dict[str, list[dict]]:
    """Raw payloads of day index ``d`` (0-based), per source, with
    ``daily[source] * scale`` rows each. Each day has its own RNG stream
    derived from (seed, d), so day ``d`` is the same whether it is
    generated alone or as part of a longer corpus."""
    rng = random.Random(f"{seed}:{d}")
    day = (FIRST_DAY + dt.timedelta(days=d)).isoformat()
    base_epoch = (FIRST_DAY + dt.timedelta(days=d) - EPOCH).days * 86400
    joor = []
    for i in range(daily["joor"] * scale):
        price = round(rng.uniform(40.0, 900.0), 2)
        joor.append(
            {
                "order_id": f"JOOR-{d:05d}-{i:07d}",
                "customer": rng.choice(mf.BUYERS) if rng.random() > 0.05 else None,
                "price": f"${price}" if rng.random() < 0.3 else str(price),
                "quantity": rng.randint(1, 40) if rng.random() > 0.05 else None,
                "sku": rng.choice(mf.SKUS),
                "currency": rng.choice(["USD", "usd", "$"]),
                "date": mf.iso(day, rng),
            }
        )
    shopify = [
        {
            "id": 10_000_000 * (d + 1) + i,
            "customer_name": rng.choice(mf.CUSTOMERS) if rng.random() > 0.05 else "",
            "total_price": f"{rng.uniform(15.0, 400.0):.2f}",
            "quantity": rng.randint(1, 5),
            "sku": rng.choice(mf.SKUS),
            "created_at": mf.iso(day, rng),
        }
        for i in range(daily["shopify"] * scale)
    ]
    tiktok = [
        {
            "order_id": f"TT-{d:05d}-{i:07d}",
            "buyer": rng.choice(mf.CUSTOMERS),
            "price_cents": rng.randint(500, 30000),
            "quantity": rng.randint(1, 8),
            "sku": rng.choice(mf.SKUS),
            "live_stream": rng.random() < 0.6,
            "timestamp": base_epoch + rng.randrange(86400),
        }
        for i in range(daily["tiktok"] * scale)
    ]
    # Freight ships a sample of the day's wholesale and livestream orders
    # (never two shipments for one order, so CM2's freight join stays 1:1).
    refs = [r["order_id"] for r in joor] + [r["order_id"] for r in tiktok]
    freight = []
    for i, ref in enumerate(rng.sample(refs, min(daily["freight"] * scale, len(refs)))):
        weight = round(rng.uniform(0.5, 25.0), 1)
        freight.append(
            {
                "shipment_id": f"SHP-{d:05d}-{i:07d}",
                "order_reference": ref,
                "cost": f"${round(rng.uniform(5.0, 120.0), 2)}",
                "weight": f"{weight} {rng.choice(['kg', 'lbs'])}",
                "carrier": rng.choice(mf.CARRIERS),
                "shipped_at": mf.iso(day, rng),
            }
        )
    per_source = {"joor": joor, "shopify": shopify, "tiktok": tiktok, "freight": freight}
    return {
        s: [
            json.dumps(mf.envelope(s, day, off, raw, rng), separators=(",", ":"))
            for off, raw in enumerate(per_source[s])
        ]
        for s in SOURCES
    }


def day_dir(d: int) -> str:
    """Relative ``YYYY/MM/DD`` folder of day index ``d`` under a source."""
    return (FIRST_DAY + dt.timedelta(days=d)).strftime("%Y/%m/%d")


def write_day(
    root: Path, seed: int, d: int, scale: int, layout: str, daily: dict[str, int] = DAILY
) -> DayStats:
    """Write day ``d`` under ``root`` in ``layout``; return what was written."""
    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout!r}; expected one of {LAYOUTS}")
    stats = DayStats()
    for source, lines in day_rows(seed, d, scale, daily).items():
        folder = root / source / day_dir(d)
        folder.mkdir(parents=True, exist_ok=True)
        if layout == "compacted":
            blobs = {"batch.json": "".join(line + "\n" for line in lines)}
        else:
            blobs = {f"{off:07d}.json": line + "\n" for off, line in enumerate(lines)}
        for name, text in blobs.items():
            data = text.encode()
            (folder / name).write_bytes(data)
            stats.files += 1
            stats.bytes += len(data)
        stats.rows += len(lines)
    return stats


def write_corpus(root: Path, seed: int, days: int, scale: int, layout: str) -> DayStats:
    """Write ``days`` days under ``root``; return the totals."""
    total = DayStats()
    for d in range(days):
        total.add(write_day(root, seed, d, scale, layout))
    return total
