"""Gap-based sessionization over an event table (SURVEY.md §2.11
extension).

A session = consecutive events of one user with < ``gap`` between them,
computed as the classic lag/cumulative-sum window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Lag + cumulative-sum session ids: one row per session, each
    user's final one included."""
    gap_us = _duration_us(gap)
    w = Window.partitionBy("user_id").orderBy("ts")
    new_session = (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) >= gap_us
    ).cast("int")
    with_ids = events.withColumn(
        "__sid", F.sum(F.coalesce(new_session, F.lit(0))).over(w)
    )
    return (
        with_ids.groupBy("user_id", "__sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
        )
        .drop("__sid")
    )


def _duration_us(s: str) -> int:
    n, unit = s.split()
    mult = {
        "millisecond": 1_000,
        "milliseconds": 1_000,
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
        "day": 86_400_000_000,
        "days": 86_400_000_000,
    }
    if unit not in mult:
        raise ValueError(
            f"unsupported gap unit {unit!r}; use {sorted(set(mult))}"
        )
    return int(n) * mult[unit]
