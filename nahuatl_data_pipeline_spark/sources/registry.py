"""CSV source-discovery registry (S5, ``pipeline/discovery.py:10-33``).

The reference keeps a ``sources.csv`` of ingestion targets, filters rows
with ``ingestion_status == 'Pending'``, and writes statuses back after a
run. Same surface here, with the write-back expressed as a join-free
conditional update + atomic overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.schemas import SOURCES_REGISTRY_SCHEMA


def load_source_registry(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.schema(SOURCES_REGISTRY_SCHEMA)
        .option("header", "true")
        .csv(path)
    )


def pending_source_rows(registry: DataFrame) -> DataFrame:
    """P6: rows awaiting ingestion (discovery.py:17-22)."""
    return registry.filter(F.col("ingestion_status") == "Pending")


def mark_sources_done(
    registry: DataFrame, done_ids: list[str], status: str = "Done"
) -> DataFrame:
    """Status upsert (discovery.py:25-33) as a conditional projection; the
    caller overwrites the CSV with the returned frame."""
    return registry.withColumn(
        "ingestion_status",
        F.when(F.col("source_id").isin(done_ids), F.lit(status)).otherwise(
            F.col("ingestion_status")
        ),
    )
