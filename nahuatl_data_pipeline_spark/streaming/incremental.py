"""Structured Streaming extension (SURVEY.md §2.11).

The reference is batch-only — "real-time ingestion / Spark Streaming" is
declared future work (``ARCHITECTURE.md:395-398``). Its nearest analogues
map 1:1 onto Structured Streaming:

- the CDC watermark incremental load (S10, ``oracle_connector.py:95-169``)
  → a file/parquet ``readStream`` (or a triggered incremental batch that
  persists its own watermark);
- the stateful one-pass LSH dedup (D5, ``processing/deduplication.py:
  4-33``: "have I seen this doc?") → ``dropDuplicatesWithinWatermark``;
- the daily quality rollup (A8) → event-time windowed aggregation with a
  lateness watermark.

Every transformation here is defined once against a DataFrame and works
unchanged for batch and streaming input — that is the Structured
Streaming contract, and the tests assert stream-vs-batch equality on the
same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str = EVENT_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over an events directory. Explicit schema —
    streaming sources never infer. ``maxFilesPerTrigger`` bounds per-batch
    work so one giant backlog can't OOM an executor."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    slide_duration: str | None = None,
) -> DataFrame:
    """Event-time windowed counts + value stats with late-data tolerance.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and evicted, so state size is O(active
    windows), not O(stream length) — the only way a windowed agg survives
    an unbounded stream.

    ``slide_duration`` < ``window_duration`` turns the tumbling window
    into a HOPPING window: each event lands in window/slide overlapping
    windows (``F.window`` expands them before the aggregate, so the
    fan-out is a generator inside the scan stage, not extra shuffles),
    and streaming state grows by the same window/slide factor — the
    watermark still evicts finalized windows.
    """
    win = (
        F.window(ts_col, window_duration, slide_duration)
        if slide_duration is not None
        else F.window(ts_col, window_duration)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """D5 as a stream: keep the first occurrence of each key, with state
    bounded by the watermark (the reference's in-memory datasketch index,
    ``deduplication.py:19-33``, grows forever — this doesn't).

    On a batch DataFrame this degrades to plain dropDuplicates(keys):
    batch has no state to bound, and the semantics (keep one row per key)
    are identical.
    """
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    *,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    canon_col: str = "canonical_url",
    **canon_kwargs,
) -> DataFrame:
    """URL-canonical-key dedup as a STREAM (round-12 verdict #5) — the
    crawl head stage for incremental crawls. ``canonicalize_url``
    (functions/url.py, q158-certified) is a pure stateless projection,
    so it rides the stream unchanged; the canonical-key dedup becomes
    ``dropDuplicatesWithinWatermark`` on the canonical key, state
    bounded by the watermark (the same shape as :func:`streaming_dedup`
    — the reference's forever-growing in-memory index,
    deduplication.py:19-33, is exactly what the watermark bound fixes).

    Semantics vs batch ``url_dedup``: batch sees the whole corpus and
    keeps a deterministic rank-1 row per canonical; a stream cannot, so
    it keeps the FIRST ARRIVAL per canonical within the watermark (the
    standard incremental-crawl contract: first crawl wins until its
    state expires; a re-crawl after expiry starts a fresh family).
    Junk rows (NULL url, or whitespace/fragment-only urls whose
    canonical is NULL/empty) pass through UNDEDUPLICATED, exactly the
    ``url_dedup`` contract — they are not one page's crawl variants,
    and a shared NULL key would both drop documents and funnel all
    junk through one state partition. Implemented as a filtered-stream
    union (streaming-legal: both legs are append-mode).

    On a batch DataFrame this degrades to batch ``url_dedup`` (no
    state to bound; "first arrival" is undefined in batch, so the
    deterministic batch order applies). Stream-vs-batch key-set
    equality is asserted in tests/test_streaming.py.
    """
    from nahuatl_data_pipeline_spark.functions.url import (
        canonicalize_url,
        url_dedup,
    )

    if not docs.isStreaming:
        return url_dedup(
            docs, url_col, canon_col=canon_col, **canon_kwargs
        )
    out = docs.withColumn(
        canon_col, canonicalize_url(F.col(url_col), **canon_kwargs)
    )
    no_key = F.col(canon_col).isNull() | (F.col(canon_col) == "")
    deduped = (
        out.filter(~no_key)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([canon_col])
    )
    return deduped.unionByName(out.filter(no_key))


def incremental_batch(
    spark: SparkSession,
    path: str,
    watermark_col: str,
    last_sync: str | None,
    schema: StructType | str | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """S10 triggered-incremental CDC scan (oracle_connector.py:95-169):
    read only rows past the persisted watermark. The predicate pushes to
    the scan (PushedFilters), so at 100 TB a date-partitioned layout turns
    this into partition pruning, not a full read. The caller persists
    ``max(watermark_col)`` of what it processed as the next ``last_sync``
    (the reference keeps it in SQLite; any KV/table works)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)
    if last_sync is not None:
        df = df.filter(F.col(watermark_col) > F.lit(last_sync).cast("timestamp"))
    return df


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Drain a stream into an in-memory table with availableNow (test/CI
    helper: processes the whole backlog, then stops)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
