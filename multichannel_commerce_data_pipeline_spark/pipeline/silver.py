"""Silver conformance layer — per-source cleaning projections
(bronze_to_silver_all_sources.py:39-79) completed with the messy-value
handling the reference's generator produces but its cleaner ignores
(F9: $-prefixed money, %-strings, unit-suffixed weights, mixed ISO
suffixes, cents integers; api_data_generator.py:56-191), plus the
gsheets header-promotion path it leaves raw (F10, :74-79).

Every conformer is a pure DataFrame→DataFrame projection (one narrow
stage, no shuffle) and has a DuckDB SQL twin right below it — the oracle
fragments used by the registered pipeline queries. All expressions are
engine-portable: TRY-semantics casts, regexp cleaning identical under
Spark and DuckDB regex dialects, and no double→string round-trips.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
    oracle_bronze_from,
)

LBS_TO_KG = 0.45359237


# -- shared cleaning expressions ------------------------------------------

def money(col: Column) -> Column:
    """'$1,234.56' / '693.2' → double, null-safe → 0.0. try_cast keeps
    the conformance layer total under ANSI mode (never throws on a
    malformed cell — SURVEY §5.5)."""
    return F.coalesce(
        F.regexp_replace(col, r"[$,]", "").try_cast("double"), F.lit(0.0)
    )


def oracle_money(expr: str) -> str:
    return (
        f"COALESCE(TRY_CAST(regexp_replace({expr}, '[$,]', '', 'g') AS DOUBLE), 0.0)"
    )


def iso_ts(col: Column) -> Column:
    """ISO string with mixed 'Z' / '+00:00' / '' suffix → timestamp.

    The cast is gated on a strict ISO date prefix: Spark's bare
    timestamp cast accepts lone numbers ('0002' → year 2, and year 0
    values PySpark cannot even collect) where DuckDB returns NULL —
    found by the hypothesis twin-agreement property. Cells that are not
    date-shaped are conformance failures and must become NULL in both
    engines, not engine-dependent garbage."""
    stripped = F.regexp_replace(col, r"(Z|\+00:00)$", "")
    return F.when(
        stripped.rlike(r"^\d{4}-\d{2}-\d{2}"), stripped.try_cast("timestamp")
    )


def oracle_iso_ts(expr: str) -> str:
    stripped = f"regexp_replace({expr}, '(Z|\\+00:00)$', '', 'g')"
    return (
        f"CASE WHEN regexp_matches({stripped}, '^\\d{{4}}-\\d{{2}}-\\d{{2}}') "
        f"THEN TRY_CAST({stripped} AS TIMESTAMP) END"
    )


def percent(col: Column) -> Column:
    """'5.1%' → 5.1 (null for empty cells)."""
    return F.regexp_replace(col, "%", "").try_cast("double")


def oracle_percent(expr: str) -> str:
    return f"TRY_CAST(NULLIF(regexp_replace({expr}, '%', '', 'g'), '') AS DOUBLE)"


def weight_kg(col: Column) -> Column:
    """'3.2 kg' / '5 lbs' → kilograms."""
    n = F.regexp_extract(col, r"([0-9.]+)", 1).try_cast("double")
    return F.when(col.contains("lbs"), n * F.lit(LBS_TO_KG)).otherwise(n)


def oracle_weight_kg(expr: str) -> str:
    n = f"TRY_CAST(regexp_extract({expr}, '([0-9.]+)', 1) AS DOUBLE)"
    return (
        f"CASE WHEN {expr} LIKE '%lbs%' "
        f"THEN {n} * CAST({LBS_TO_KG!r} AS DOUBLE) ELSE {n} END"
    )


# -- per-source conformers (Spark) + oracle twins (DuckDB SQL) ------------

def conform_joor(bronze_flat: DataFrame) -> DataFrame:
    """Wholesale orders: rename, money/ts cleaning, currency normalize
    ('usd'/'$' variants → 'USD'), null defaults (P1-P3, F9)."""
    return bronze_flat.select(
        F.col("order_id"),
        F.coalesce(F.col("customer"), F.lit("")).alias("buyer_name"),
        money(F.col("price")).alias("unit_price"),
        F.coalesce(F.col("quantity"), F.lit(0)).alias("quantity"),
        F.col("sku"),
        F.when(F.col("currency") == "$", "USD")
        .otherwise(F.upper(F.col("currency")))
        .alias("currency"),
        iso_ts(F.col("date")).alias("order_ts"),
        F.col("bronze_timestamp"),
    )


def oracle_conform_joor(root: str | None = None) -> str:
    return f"""
    SELECT
      raw_api_data.order_id                              AS order_id,
      COALESCE(raw_api_data.customer, '')                AS buyer_name,
      {oracle_money("raw_api_data.price")}               AS unit_price,
      COALESCE(raw_api_data.quantity, 0)                 AS quantity,
      raw_api_data.sku                                   AS sku,
      CASE WHEN raw_api_data.currency = '$' THEN 'USD'
           ELSE upper(raw_api_data.currency) END         AS currency,
      {oracle_iso_ts('raw_api_data."date"')}             AS order_ts,
      kafka_metadata.bronze_timestamp                    AS bronze_timestamp
    FROM {oracle_bronze_from("joor", root)}
    """


def conform_shopify(bronze_flat: DataFrame) -> DataFrame:
    """D2C orders: surrogate id → string order_id, string total → double."""
    return bronze_flat.select(
        F.concat(F.lit("SHOP-"), F.col("id").cast("string")).alias("order_id"),
        F.coalesce(F.col("customer_name"), F.lit("")).alias("buyer_name"),
        money(F.col("total_price")).alias("total_price"),
        F.coalesce(F.col("quantity"), F.lit(0)).alias("quantity"),
        F.col("sku"),
        iso_ts(F.col("created_at")).alias("order_ts"),
        F.col("bronze_timestamp"),
    )


def oracle_conform_shopify(root: str | None = None) -> str:
    return f"""
    SELECT
      'SHOP-' || CAST(raw_api_data.id AS VARCHAR)        AS order_id,
      COALESCE(raw_api_data.customer_name, '')           AS buyer_name,
      {oracle_money("raw_api_data.total_price")}         AS total_price,
      COALESCE(raw_api_data.quantity, 0)                 AS quantity,
      raw_api_data.sku                                   AS sku,
      {oracle_iso_ts("raw_api_data.created_at")}         AS order_ts,
      kafka_metadata.bronze_timestamp                    AS bronze_timestamp
    FROM {oracle_bronze_from("shopify", root)}
    """


def conform_tiktok(bronze_flat: DataFrame) -> DataFrame:
    """Livestream orders: cents → dollars (P7,
    bronze_to_silver_all_sources.py:61), epoch seconds → timestamp."""
    return bronze_flat.select(
        F.col("order_id"),
        F.coalesce(F.col("buyer"), F.lit("")).alias("buyer_name"),
        (F.col("price_cents").cast("double") / F.lit(100.0)).alias("unit_price"),
        F.coalesce(F.col("quantity"), F.lit(0)).alias("quantity"),
        F.col("sku"),
        F.coalesce(F.col("live_stream"), F.lit(False)).alias("live_stream"),
        F.timestamp_seconds(F.col("timestamp")).alias("order_ts"),
        F.col("bronze_timestamp"),
    )


def oracle_conform_tiktok(root: str | None = None) -> str:
    return f"""
    SELECT
      raw_api_data.order_id                                    AS order_id,
      COALESCE(raw_api_data.buyer, '')                         AS buyer_name,
      CAST(raw_api_data.price_cents AS DOUBLE) / CAST(100.0 AS DOUBLE) AS unit_price,
      COALESCE(raw_api_data.quantity, 0)                       AS quantity,
      raw_api_data.sku                                         AS sku,
      COALESCE(raw_api_data.live_stream, FALSE)                AS live_stream,
      make_timestamp(raw_api_data."timestamp" * 1000000)       AS order_ts,
      kafka_metadata.bronze_timestamp                          AS bronze_timestamp
    FROM {oracle_bronze_from("tiktok", root)}
    """


def conform_freight(bronze_flat: DataFrame) -> DataFrame:
    """Freight shipments: $-cost → double, unit-suffixed weight → kg."""
    return bronze_flat.select(
        F.col("shipment_id"),
        F.col("order_reference"),
        money(F.col("cost")).alias("cost"),
        weight_kg(F.col("weight")).alias("weight_kg"),
        F.col("carrier"),
        iso_ts(F.col("shipped_at")).alias("shipped_ts"),
        F.col("bronze_timestamp"),
    )


def oracle_conform_freight(root: str | None = None) -> str:
    return f"""
    SELECT
      raw_api_data.shipment_id                           AS shipment_id,
      raw_api_data.order_reference                       AS order_reference,
      {oracle_money("raw_api_data.cost")}                AS cost,
      {oracle_weight_kg("raw_api_data.weight")}          AS weight_kg,
      raw_api_data.carrier                               AS carrier,
      {oracle_iso_ts("raw_api_data.shipped_at")}         AS shipped_ts,
      kafka_metadata.bronze_timestamp                    AS bronze_timestamp
    FROM {oracle_bronze_from("freight", root)}
    """


def conform_gsheets(bronze_flat: DataFrame) -> DataFrame:
    """F10: ragged array-of-arrays sheet → typed rows. The first array
    element is the header row (api_data_generator.py:164-189); data rows
    are promoted by position, money/percent cells cleaned. Explode is a
    narrow op — each sheet fans out within its partition, no shuffle."""
    rows = bronze_flat.select(
        "sheet_name",
        F.explode(F.slice(F.col("data"), 2, F.greatest(F.size("data") - 1, F.lit(0)))).alias(
            "row"
        ),
    )
    return rows.select(
        F.col("sheet_name"),
        F.element_at("row", 1).alias("region"),
        money(F.element_at("row", 2)).alias("sales"),
        percent(F.element_at("row", 3)).alias("growth_pct"),
    )


def oracle_conform_gsheets(root: str | None = None) -> str:
    return f"""
    SELECT
      sheet_name,
      row[1]                          AS region,
      {oracle_money("row[2]")}        AS sales,
      {oracle_percent("row[3]")}      AS growth_pct
    FROM (
      SELECT raw_api_data.sheet_name AS sheet_name,
             unnest(raw_api_data.data[2:]) AS row
      FROM {oracle_bronze_from("gsheets", root)}
    )
    """


# The medallion path's one source -> conformer table, shared by the
# batch pipeline queries and the streaming jobs.
CONFORMERS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "joor": conform_joor,
    "shopify": conform_shopify,
    "tiktok": conform_tiktok,
    "freight": conform_freight,
    "gsheets": conform_gsheets,
}
