"""Row predicates (SURVEY.md §2.2).

Plain ``df.filter`` wrappers so every predicate is eligible for Catalyst
pushdown into the parquet/JSON scan — at 100 TB these filters must run in
the scan, not after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def translation_pair_filter(
    df: DataFrame,
    pivot: str = "es",
    targets: tuple[str, ...] = ("nah", "myn"),
) -> DataFrame:
    """P1: keep iff pivot NOT NULL ∧ any target NOT NULL
    (unify.py:197, schemas.py:173-175)."""
    any_target = F.lit(False)
    for t in targets:
        any_target = any_target | F.col(t).isNotNull()
    return df.filter(F.col(pivot).isNotNull() & any_target)


def length_bounds_filter(
    df: DataFrame, col: str, lo: int = 3, hi: int = 1000
) -> DataFrame:
    """P4: min/max char-length bounds (config.py:96-105 defaults 3-1000)."""
    return df.filter(F.length(F.col(col)).between(lo, hi))


def pending_sources(df: DataFrame, status_col: str = "ingestion_status") -> DataFrame:
    """P6: ingestion registry rows still pending (discovery.py:17-22)."""
    return df.filter(F.col(status_col) == "Pending")


def watermark_filter(df: DataFrame, wm_col: str, last_sync) -> DataFrame:
    """P9: CDC incremental predicate ``wm_col > last_sync``
    (oracle_connector.py:134-140). On a JDBC/parquet source Catalyst pushes
    this into the scan (partition pruning when wm_col is the partition key).
    """
    return df.filter(F.col(wm_col) > F.lit(last_sync))
