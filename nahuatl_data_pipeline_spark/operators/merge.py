"""Snapshot merge operators: SCD1 upsert and SCD2 history merge.

The reference maintains its source registry by row-wise SQLite
``INSERT OR REPLACE`` (src/registry/store.py:41-66) and keeps no
history. A training-data pipeline at scale needs the same merge
semantics over parquet snapshots — applied as set operations, not
per-row statements:

- ``upsert`` (SCD type 1): updates win, new keys insert, untouched
  rows carry over. One anti-join (broadcast when the update batch is
  small, which is the overwhelmingly common CDC shape) + union — the
  base table is never shuffled.
- ``scd2_merge`` (SCD type 2): rows whose TRACKED attributes actually
  changed are superseded (``is_current=false``) and re-inserted as a
  new version; no-op updates (same attribute values) produce NO new
  version — change detection is a null-safe comparison of the tracked
  columns, so a CDC feed that re-sends unchanged rows does not bloat
  history.

Both return plain DataFrames: write them back with the parquet/ORC
sinks (sources/writers.py) — merge-on-read table formats are out of
scope, merge-as-dataframe is the engine-level contract they all share.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.session import pin


def _gated_broadcast(df: DataFrame, max_rows: int) -> DataFrame:
    """Broadcast hint only when a bounded ``limit().count()`` probe says
    the side fits (the similarity.py gate pattern) — an oversized batch
    (backfill, initial load) falls back to the planner's shuffle join
    instead of an unbounded forced broadcast. The probed side is
    localCheckpoint'ed first: it is consumed twice (probe + join), and
    without materialization the probe would re-run its whole lineage."""
    df = pin(df, eager=True, truncate=True)
    if df.limit(max_rows + 1).count() <= max_rows:
        return F.broadcast(df)
    return df


def upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    broadcast_max_updates: int = 2_000_000,
) -> DataFrame:
    """SCD1 merge: ``updates`` replace base rows on ``keys``; base rows
    without a matching update carry over; update-only keys insert.
    Schemas must match (enforced by ``unionByName``). The join is
    key-only and the update side's broadcast is size-gated
    (``broadcast_max_updates``): a normal CDC batch broadcasts so the
    base side streams through without a shuffle; an oversized batch
    falls back to a shuffle join rather than a forced broadcast.

    Precondition: ``updates`` carries ONE row per key — same contract as
    ``scd2_merge``. A raw CDC feed with repeated keys would union every
    duplicate into the snapshot (the anti-join removes the one base row
    but keeps all update copies); collapse it first with
    ``operators/dedup.py:keep_last`` on an ordering column.
    """
    surviving = base.join(
        _gated_broadcast(
            updates.select(*keys).distinct(), broadcast_max_updates
        ),
        keys,
        "left_anti",
    )
    return surviving.unionByName(updates.select(*base.columns))


def _changed_predicate(tracked: list[str]):
    """NOT(all tracked columns null-safe-equal) between ``b.`` and ``u.``
    aliases — null→value and value→null transitions count as changes."""
    eqs = [
        F.col(f"b.{c}").eqNullSafe(F.col(f"u.{c}")) for c in tracked
    ]
    return ~functools.reduce(lambda a, x: a & x, eqs)


def scd2_merge(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    version_col: str = "version",
    current_col: str = "is_current",
    broadcast_max_updates: int = 2_000_000,
) -> DataFrame:
    """SCD2 merge of an update batch into a version-1 base snapshot.

    Output = one row per surviving version with ``version`` (1 = base,
    2 = superseding update) and ``is_current``:

    - key not in updates, or update identical on ``tracked`` → the base
      row stays current (v1, true);
    - tracked change → base row becomes history (v1, false) AND the
      update row lands as (v2, true);
    - brand-new key in updates → (v2, true) insert, no history row.

    Plan: the changed-key set comes from ONE inner join of base and
    updates on ``keys`` (update batch broadcast when it passes the
    ``broadcast_max_updates`` gate — CDC batches are small relative to
    the dimension; oversized backfills fall back to shuffle joins),
    then the base scan is tagged by the same gated membership joins.
    With a broadcastable batch the base table crosses no shuffle.

    Preconditions: ``base`` holds one current row per key (a v1
    snapshot) and ``updates`` one row per key (dedupe a raw CDC feed
    first, e.g. ``operators/dedup.py:keep_last``).
    """
    attrs = [c for c in base.columns]
    # One broadcast inner join (map-only over base — the batch is the
    # build side) yields every matched pair; changed/matched key sets
    # are projections of it, each bounded by the batch size, so they
    # are themselves broadcastable. The base table never shuffles.
    # updates is consumed four times (probe, pairs, new_keys, new_rows):
    # materialize it once so the probe and every join leg read the
    # checkpoint instead of re-running the batch's lineage.
    updates = pin(updates, eager=True, truncate=True)
    fits = (
        updates.limit(broadcast_max_updates + 1).count()
        <= broadcast_max_updates
    )

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if fits else df

    pairs = base.alias("b").join(_side(updates.alias("u")), keys, "inner")
    # Materialize the matched-key projection ONCE (it is batch-bounded,
    # hence tiny): without this, changed_keys/matched_keys would stay
    # unmaterialized views of `pairs` and every downstream join leg
    # (base_rows, new_keys, new_rows) would re-run the base⨝updates
    # join — AQE does not reuse exchanges across separately-planned
    # subtrees (the tfidf.py lesson). With it, the base table is
    # scanned exactly twice: once for the pairs join, once for the
    # output tagging.
    matched = pin(
        pairs.select(
            *[F.col(f"b.{k}") for k in keys],
            _changed_predicate(tracked).alias("__changed"),
        ),
        eager=True, truncate=True,
    )
    changed_keys = matched.filter(F.col("__changed")).drop("__changed")
    matched_keys = matched.drop("__changed")
    base_rows = (
        base.join(
            _side(changed_keys.withColumn("__chg", F.lit(1))), keys, "left"
        )
        .withColumn(version_col, F.lit(1))
        .withColumn(current_col, F.col("__chg").isNull())
        .drop("__chg")
    )
    new_keys = updates.select(*keys).join(
        _side(matched_keys), keys, "left_anti"
    )
    inserting_keys = changed_keys.unionByName(new_keys).distinct()
    new_rows = (
        updates.select(*attrs)
        .join(_side(inserting_keys), keys, "left_semi")
        .withColumn(version_col, F.lit(2))
        .withColumn(current_col, F.lit(True))
    )
    return base_rows.unionByName(new_rows)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    content_cols: list[str],
) -> DataFrame:
    """Row-level diff between two dataset snapshots: one row per key
    seen in either side with ``status`` ∈ added / removed / modified /
    unchanged — the dataset-versioning audit every training-data
    release needs ("what changed since the corpus we trained on?").

    Change detection hashes PER COLUMN first, then hashes the joined
    column hashes: each column becomes a fixed-width token (NULL → a
    bare ``\\x00`` marker — distinguishable from every md5 hex string;
    a value → its md5), so neither NULL-dropping (plain ``concat_ws``
    silently drops null arguments) nor a separator byte INSIDE a value
    can alias column boundaries — ``('a\\x1fb', 'c')`` and
    ``('a', 'b\\x1fc')`` produce different outer hashes because the
    inner tokens are fixed-length. The hash is a narrow projection on
    each side — only keys + 2 hashes flow into the single FULL OUTER
    join, never the payload. That join is the one shuffle,
    key-partitioned both sides, AQE-planned; output is key-cardinality
    rows. NULL-safe status logic: a key present on both sides with
    equal hashes is unchanged even if the key itself is NULL-ish
    (coalesce over the two key copies keeps it).
    """
    sep = "\x1f"

    def _enc(c: str):
        col = F.col(c).cast("string")
        return F.when(col.isNull(), F.lit("\x00")).otherwise(F.md5(col))

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        h = F.md5(F.concat_ws(sep, *[_enc(c) for c in content_cols]))
        return df.select(
            *[F.col(k).alias(f"{alias}_{k}") for k in keys],
            h.alias(f"{alias}_hash"),
        )

    o = hashed(old, "o")
    n = hashed(new, "n")
    cond = None
    for k in keys:
        c = F.col(f"o_{k}").eqNullSafe(F.col(f"n_{k}"))
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    status = (
        F.when(F.col("o_hash").isNull(), F.lit("added"))
        .when(F.col("n_hash").isNull(), F.lit("removed"))
        .when(F.col("o_hash") == F.col("n_hash"), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"o_{k}"), F.col(f"n_{k}")).alias(k)
            for k in keys
        ],
        status.alias("status"),
    )
