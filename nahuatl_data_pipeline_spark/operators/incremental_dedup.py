"""Incremental (cross-snapshot) deduplication.

Continuous-crawl ingestion never dedups a batch in isolation — each new
batch must also be checked against everything ALREADY in the corpus.
The reference's dedup (SparkDedup.scala, deduplicators.py) is
whole-corpus only; this operator is the incremental form: new docs are
dropped when they exactly match a snapshot doc (normalized key) or when
the candidate pass surfaces a snapshot doc with n-gram Jaccard at or
above the threshold, and the snapshot itself is never rewritten.

Candidate recall: bucketing uses ``num_perms`` independent MinHash
permutations (the portable affine family from ``functions/hashing``);
a pair with Jaccard J shares at least one bucket with probability
≈ 1 − (1 − J)^num_perms (per-perm collision probability is exactly J).
At the default num_perms=4 that is 0.998 for J=0.8 and 0.94 for J=0.5
— raise num_perms when missed near-dups are costlier than the extra
bucket join. This is NOT an exhaustive Jaccard join; only
candidate-surfaced pairs are verified.

Plan shape: exact pass = one left_anti hash join on the dedup key
(snapshot side reduced to distinct keys first — at 100 TB the key set
is the thing you keep hot, not the text). Fuzzy pass = the banded
pipeline's own signature and band legs
(``fuzzy_dedup._signature_bands`` with ``band_size=1``: shingles once,
every permutation's min in ONE map-side-combined hash aggregate, one
band per permutation), a band join on (band_id, band_key), candidate
pairs de-duplicated before the exact-Jaccard verify, so cost is
Σ bucket_new × bucket_seen, never |new| × |seen|. The snapshot's
keys/shingles/buckets are a :class:`SnapshotIndex` that callers can
build once with :func:`snapshot_index`, persist or write out, and
reuse across every subsequent batch.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.normalize import dedup_key
from nahuatl_data_pipeline_spark.functions.spread import spread_narrow
from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
    _signature_bands,
    release_fuzzy_caches,
)


class SnapshotIndex(NamedTuple):
    """Reusable dedup index of an existing corpus snapshot.

    ``keys``: distinct normalized dedup keys, column ``__k``.
    ``shingles``: (``__id``, ``__sh`` shingle array) per doc.
    ``buckets``: (``__id``, ``band_id``, ``band_key``), one one-hash band
    per permutation.
    These are :func:`fuzzy_dedup._signature_bands`' own columns.
    Build once per snapshot with :func:`snapshot_index`; callers own its
    lifetime (persist it, or write the three frames out and read them
    back for the next batch).
    """

    keys: DataFrame
    shingles: DataFrame
    buckets: DataFrame


def snapshot_index(
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perms: int = 4,
) -> SnapshotIndex:
    """Build the reusable snapshot index (keys + shingles + buckets).

    The expensive legs — the per-row shingling and the bucket
    aggregation — run once per snapshot here instead of once per batch
    inside :func:`dedup_against_snapshot`. Persist the three frames (or
    write them to parquet) before looping over batches; nothing here is
    pinned, since the caller owns the index's lifetime.
    """
    keys = seen.select(dedup_key(text_col).alias("__k")).distinct()
    return SnapshotIndex(
        keys,
        *_signature_bands(
            seen, id_col, text_col, shingle_n, num_hashes=num_perms,
            band_size=1, persist_shd=False,
        ),
    )


def dedup_against_snapshot(
    new: DataFrame,
    seen: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float | None = 0.8,
    shingle_n: int = 3,
    num_perms: int = 4,
    index: SnapshotIndex | None = None,
) -> DataFrame:
    """Rows of ``new`` that duplicate nothing in the snapshot.

    Exact match: identical normalized key (``lower(trim(text))``) — the
    same key family as the q10 corpus dedup, so batch dedup and
    incremental dedup agree on what "identical" means. Near match
    (``jaccard_threshold`` not None): n-gram Jaccard at or above the
    threshold against a candidate-surfaced snapshot doc (see the module
    docstring for the recall model). Pass either the snapshot ``seen``
    (its index is derived per call, cached for this call's plan and
    released on the next fuzzy-dedup-family call) or a precomputed
    ``index`` whose ``shingle_n``/``num_perms`` must match the arguments
    given here (the index carries no parameters of its own).
    Deterministic; never mutates the snapshot.
    """
    if (seen is None) == (index is None):
        raise ValueError("pass exactly one of `seen` or `index`")
    # Spread a narrow batch before anything touches it: an incremental
    # batch is often a handful of scan partitions (one crawl file),
    # which would run the shingling + bucket aggregation on a few
    # cores of the whole cluster. One narrow (id, text) round-robin
    # exchange buys full parallelism for every downstream leg; a no-op
    # whenever the batch already has >= defaultParallelism partitions
    # (the similarity.py cosine-pairs pattern). spread_narrow probes the
    # RAW batch's split count and passes a shuffle-bearing input through
    # unprobed — probing a post-join frame would materialize its AQE
    # stages.
    new = spread_narrow(new)
    release_fuzzy_caches()
    if index is not None:
        keys, ssh, sbk = index
    else:
        keys = seen.select(dedup_key(text_col).alias("__k")).distinct()
    survivors = new.join(
        keys, on=[dedup_key(text_col) == F.col("__k")], how="left_anti"
    )
    if jaccard_threshold is None:
        return survivors

    # Each side's shingles are pinned into the family's pool (the band
    # aggregate and the verify both read them) unless the caller owns
    # them in an index. A one-hash band is keyed by that permutation's
    # minimum alone, so the (band_id, band_key) join pairs exactly the
    # docs that share a per-permutation minimum.
    if index is None:
        ssh, sbk = _signature_bands(
            seen, id_col, text_col, shingle_n, num_hashes=num_perms,
            band_size=1,
        )
    nsh, nbk = _signature_bands(
        survivors, id_col, text_col, shingle_n, num_hashes=num_perms,
        band_size=1,
    )
    cand = (
        nbk.select(F.col("__id").alias("__nid"), "band_id", "band_key")
        .join(
            sbk.select(F.col("__id").alias("__sid"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .select("__nid", "__sid")
        .distinct()
    )
    pairs = cand.join(
        nsh.select(F.col("__id").alias("__nid"), F.col("__sh").alias("__nsh")),
        "__nid",
    ).join(
        ssh.select(F.col("__id").alias("__sid"), F.col("__sh").alias("__ssh")),
        "__sid",
    )
    # unrounded on purpose: rounding to 6 places would move pairs that
    # sit exactly at the threshold
    inter = F.size(F.array_intersect("__nsh", "__ssh"))
    union = F.size(F.array_union("__nsh", "__ssh"))
    near_ids = (
        pairs.filter(
            (inter.cast("double") / union.cast("double"))
            >= jaccard_threshold
        )
        .select(F.col("__nid").alias(id_col))
        .distinct()
    )
    # near_ids is candidate-bounded (far below the batch), but it hangs
    # off a join chain the planner cannot size — without the hint the
    # final anti-join plans as SortMergeJoin and SHUFFLES THE WHOLE
    # BATCH (text payload included) to drop a handful of ids. Broadcast
    # the id set instead; the batch side never exchanges.
    return survivors.join(F.broadcast(near_ids), id_col, "left_anti")
