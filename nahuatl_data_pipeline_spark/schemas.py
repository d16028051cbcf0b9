"""Explicit schemas for the engine's data model (SURVEY.md §1).

The corpus record schema mirrors the reference's pydantic ``Record``
(``src/models/schemas.py:84-137``); the metadata tables mirror
``sql/schema.sql``. Everything is a Spark ``StructType`` so reads never
rely on inference (inference is a full-scan at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- enums (reference src/models/enums.py) -------------------------------

# layer → priority rank used by keep-best dedup (enums.py:36-60)
LAYER_PRIORITY = {"bronze": 0, "silver": 1, "diamond": 2, "gold": 3}

# --- corpus record (schemas.py:84-137) ------------------------------------

RECORD_METADATA_SCHEMA = StructType(
    [
        StructField("record_id", StringType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("dialect", StringType(), True),
        StructField("maya_variant", StringType(), True),
        StructField("quality_score", DoubleType(), True),
        StructField("is_validated", BooleanType(), True),
    ]
)

CORPUS_SCHEMA = StructType(
    [
        StructField("es", StringType(), True),
        StructField("nah", StringType(), True),
        StructField("myn", StringType(), True),
        StructField("source", StringType(), True),
        StructField("layer", StringType(), True),
        StructField("origin_file", StringType(), True),
        StructField("category", StringType(), True),
        StructField("metadata", RECORD_METADATA_SCHEMA, True),
    ]
)

# Lenient legacy input schema: superset of keys `Record.from_legacy_format`
# coalesces (schemas.py:229-287, scripts/unify_datasets.py:25-66), including
# the nested-dump variant with an `original` payload and `sp` Spanish alias
# (src/pipeline/unify.py:231-245).
LEGACY_INPUT_SCHEMA = StructType(
    [
        StructField("es", StringType(), True),
        StructField("nah", StringType(), True),
        StructField("myn", StringType(), True),
        StructField("es_translation", StringType(), True),
        StructField("nah_translation", StringType(), True),
        StructField("myn_translation", StringType(), True),
        StructField("original_es", StringType(), True),
        StructField("prompt", StringType(), True),
        StructField("chosen", StringType(), True),
        StructField("original_audio_text", StringType(), True),
        StructField("detected_language", StringType(), True),
        StructField("source", StringType(), True),
        StructField("source_file", StringType(), True),
        StructField("category", StringType(), True),
        # crawl-era provenance (round-11 verdict #7): the reference's
        # manager.py:17-21 hashes url+ts into record ids, so legacy feeds
        # CAN carry a url key; surfaced by legacy_coalesce for the
        # opt-in URL head stages (PipelineConfig.url_col)
        StructField("url", StringType(), True),
        StructField(
            "original",
            StructType(
                [
                    StructField("es", StringType(), True),
                    StructField("sp", StringType(), True),
                    StructField("nah", StringType(), True),
                    StructField("myn", StringType(), True),
                ]
            ),
            True,
        ),
        StructField("_corrupt_record", StringType(), True),
    ]
)

# --- metadata store (sql/schema.sql) --------------------------------------

PIPELINE_RUNS_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("pipeline_name", StringType(), False),
        StructField("started_at", TimestampType(), False),
        StructField("ended_at", TimestampType(), True),
        StructField("status", StringType(), False),
        StructField("records_input", LongType(), True),
        StructField("records_output", LongType(), True),
        StructField("records_filtered", LongType(), True),
        StructField("duration_seconds", DoubleType(), True),
        StructField("error_message", StringType(), True),
        StructField("git_commit_hash", StringType(), True),
        StructField("config_snapshot", StringType(), True),
    ]
)

QUALITY_METRICS_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("metric_name", StringType(), False),
        StructField("metric_value", DoubleType(), False),
        StructField("metric_unit", StringType(), True),
        StructField("dataset_split", StringType(), True),
        StructField("measured_at", TimestampType(), False),
    ]
)

DATA_LINEAGE_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("source_file", StringType(), False),
        StructField("source_type", StringType(), True),
        StructField("source_layer", StringType(), True),
        StructField("records_ingested", LongType(), True),
        StructField("records_valid", LongType(), True),
        StructField("records_invalid", LongType(), True),
        StructField("ingested_at", TimestampType(), True),
        StructField("checksum", StringType(), True),
    ]
)

UNICODE_STATS_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("column_name", StringType(), False),
        StructField("macron_total", LongType(), True),
        StructField("saltillo_total", LongType(), True),
        StructField("rows_with_macron", LongType(), True),
        StructField("distinct_chars", LongType(), True),
        StructField("measured_at", TimestampType(), True),
    ]
)

VALIDATION_ERRORS_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("error_type", StringType(), False),
        StructField("error_message", StringType(), True),
        StructField("record_context", StringType(), True),  # JSON payload
        StructField("occurred_at", TimestampType(), True),
    ]
)

DEDUPLICATION_LOG_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("strategy", StringType(), False),
        StructField("records_before", LongType(), True),
        StructField("records_after", LongType(), True),
        StructField("duplicates_removed", LongType(), True),
        StructField("duplicate_rate", DoubleType(), True),
        StructField("logged_at", TimestampType(), True),
    ]
)

DATASET_SNAPSHOTS_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("dataset_name", StringType(), False),
        StructField("layer", StringType(), True),
        StructField("record_count", LongType(), True),
        StructField("size_bytes", LongType(), True),
        StructField("checksum", StringType(), True),
        StructField("snapshot_at", TimestampType(), True),
    ]
)

CONFIG_AUDIT_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("config_key", StringType(), False),
        StructField("old_value", StringType(), True),
        StructField("new_value", StringType(), True),
        StructField("changed_at", TimestampType(), True),
    ]
)

SOURCES_REGISTRY_SCHEMA = StructType(
    [
        StructField("source_id", StringType(), False),
        StructField("source_url", StringType(), True),
        StructField("ingestion_driver", StringType(), True),
        StructField("ingestion_status", StringType(), True),
    ]
)

# --- driver testdata ------------------------------------------------------

# Dataset contract: the embeddings table's `embedding` column is a
# fixed-length float array — len(embedding) == EMBEDDING_DIM for every
# row (verified min=max=64 at sf0.001/sf0.01/sf0.1). Lets similarity
# operators emit the codegen'd fixed-dim cosine (cosine_cols dim=...);
# a violating row would surface as a NULL cosine, never a wrong number.
EMBEDDING_DIM = 64

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table (operator S4).

    Plain ``spark.read.parquet`` so Catalyst gets pushdown + pruning; never
    infer-from-JSON here.

    The ``events`` table's physical ``ts`` layout has varied across testdata
    generations — TIMESTAMP(NANOS) (which Spark only decodes as LongType
    under ``nanosAsLong``) vs plain ``timestamp[us]`` — so dispatch on the
    *actual* decoded dtype rather than assuming one layout:

    * ``LongType``  → legacy nanos: truncate to microseconds with integer
      division (``div`` truncates exactly like other engines' ns→us cast;
      float division would *round* and diverge by 1µs).
    * ``TimestampNTZType`` → cast to session-tz ``TimestampType`` so every
      downstream consumer (windows, unix_timestamp, oracle comparisons)
      sees one canonical type. This relabel is only value-preserving when
      ``spark.sql.session.timeZone`` is UTC (``get_spark`` pins it); that
      precondition is load-bearing, so it is asserted below rather than
      assumed — a non-UTC session would silently shift every event
      relative to the oracle.
    * ``TimestampType`` → pass through.
    * anything else → ``TypeError`` at the read site, so a fourth layout
      drift fails loudly here instead of as an obscure downstream
      window/unix_timestamp error (the round-3 failure mode).

    NOTE: ``nanosAsLong`` is a session-wide SQLConf (there is no per-read
    option) and it must stay set while a lazy nanos scan executes, so this
    function enables it for the session before reading — harmless for
    non-nanos files, which still decode as timestamps. ``get_spark`` also
    sets it up front so the behavior is a documented session default.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            session_tz = spark.conf.get("spark.sql.session.timeZone")
            if session_tz not in ("UTC", "Etc/UTC", "GMT"):
                raise ValueError(
                    "events.ts is TIMESTAMP_NTZ; casting it to TimestampType "
                    "is only value-preserving under a UTC session timezone, "
                    f"but spark.sql.session.timeZone={session_tz!r}. Build "
                    "the session via get_spark() or set the conf to 'UTC'."
                )
            df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
        elif not isinstance(ts_type, TimestampType):
            raise TypeError(
                f"unexpected events.ts dtype {ts_type}: known physical "
                "layouts are TIMESTAMP(NANOS)->LongType (nanosAsLong), "
                "timestamp[us] NTZ, and timestamp[us] UTC; a new testdata "
                "layout needs an explicit dispatch branch here"
            )
        return df
    return spark.read.parquet(path)
