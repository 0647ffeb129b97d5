"""Bronze read path — S1 (JSON glob scan) + S2 (envelope flatten).

The reference reads bronze with inferred schema and flattens the
envelope in one select (bronze_to_silver_all_sources.py:26-27). We read
with an explicit StructType (no inference pass) and keep the flatten as
its own operator. Malformed input is NOT captured: the envelope DDL has
no corrupt-record column, so in PERMISSIVE mode a truncated line becomes
a row of NULL fields and an unparsable field value becomes NULL. There
is no reject path yet.

At scale: the 4-level wildcard lists every key. The layout is kept for
parity, but ``read_bronze`` also accepts a Hive-partitioned root
(source=/date=) via ``root``; Catalyst then prunes partitions for
date-bounded queries instead of listing the world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
    bronze_glob,
    spark_envelope_ddl,
)


def read_bronze(spark: SparkSession, source: str, root: str | None = None) -> DataFrame:
    """S1: explicit-schema scan of one source's bronze JSON files."""
    return (
        spark.read.schema(spark_envelope_ddl(source))
        .option("mode", "PERMISSIVE")
        .json(bronze_glob(source, root))
    )


def flatten_envelope(df: DataFrame) -> DataFrame:
    """S2: project ``raw_api_data.*`` plus the envelope's bronze
    timestamp (bronze_to_silver_all_sources.py:27)."""
    return df.select(
        "raw_api_data.*",
        F.col("kafka_metadata.bronze_timestamp").alias("bronze_timestamp"),
    )
