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
is the thing you keep hot, not the text). Fuzzy pass = shingle hashes
exploded once (codegen md5), per-perm min via ONE map-side-combined
hash aggregation, bucket join on (perm, key), candidate pairs
de-duplicated before the exact-Jaccard verify, so cost is
Σ bucket_new × bucket_seen, never |new| × |seen|. The snapshot's
keys/shingles/buckets are a :class:`SnapshotIndex` that callers can
build once with :func:`snapshot_index`, persist or write out, and
reuse across every subsequent batch.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.hashing import (
    MINHASH_P,
    hash64,
    minhash_constants,
    word_shingles,
)
from nahuatl_data_pipeline_spark.functions.normalize import dedup_key
from nahuatl_data_pipeline_spark.functions.spread import spread_narrow
from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
    _LIVE_CACHES,
    release_fuzzy_caches,
)
from nahuatl_data_pipeline_spark.session import pin


class SnapshotIndex(NamedTuple):
    """Reusable dedup index of an existing corpus snapshot.

    ``keys``: distinct normalized dedup keys, column ``__k``.
    ``shingles``: (``__sid``, ``__ssh`` shingle array) per doc.
    ``buckets``: (``__sid``, ``__p`` perm index, ``__b`` bucket key).
    Build once per snapshot with :func:`snapshot_index`; callers own its
    lifetime (persist it, or write the three frames out and read them
    back for the next batch).
    """

    keys: DataFrame
    shingles: DataFrame
    buckets: DataFrame


def _shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, id_out: str, sh_out: str
) -> DataFrame:
    return df.select(
        F.col(id_col).alias(id_out),
        word_shingles(text_col, n=n).alias(sh_out),
    ).filter(F.size(sh_out) > 0)


def _bucket_keys(
    sh: DataFrame, id_in: str, sh_in: str, num_perms: int
) -> DataFrame:
    """(id, perm index ``__p``, bucket key ``__b``) via explode → ONE
    map-side-combined agg (each perm's min is a codegen conditional
    aggregate over the same exploded hashes) → posexplode back out."""
    hashed = sh.select(F.col(id_in), F.explode(sh_in).alias("__s")).select(
        F.col(id_in), hash64(F.col("__s")).alias("__h")
    )
    mins = hashed.groupBy(id_in).agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P).alias(
                f"__m{i}"
            )
            for i, (a, b) in enumerate(minhash_constants(num_perms))
        ]
    )
    return mins.select(
        F.col(id_in),
        F.posexplode(F.array(*[f"__m{i}" for i in range(num_perms)])).alias(
            "__p", "__b"
        ),
    )


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
    write them to parquet) before looping over batches.
    """
    keys = seen.select(dedup_key(text_col).alias("__k")).distinct()
    sh = _shingles(seen, id_col, text_col, shingle_n, "__sid", "__ssh")
    return SnapshotIndex(keys, sh, _bucket_keys(sh, "__sid", "__ssh", num_perms))


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
    own_index = index is None
    if own_index:
        idx = snapshot_index(seen, id_col, text_col, shingle_n, num_perms)
    else:
        idx = index

    survivors = new.join(
        idx.keys, on=[dedup_key(text_col) == F.col("__k")], how="left_anti"
    )
    if jaccard_threshold is None:
        return survivors

    # shingles feed both the bucket agg and the verify join — pin so
    # the per-row shingling runs once per side, not twice
    nsh = pin(
        _shingles(survivors, id_col, text_col, shingle_n, "__nid", "__nsh"),
        eager=True, pool=_LIVE_CACHES,
    )
    nbk = _bucket_keys(nsh, "__nid", "__nsh", num_perms)
    if own_index:
        ssh = pin(idx.shingles, eager=True, pool=_LIVE_CACHES)
        sbk = _bucket_keys(ssh, "__sid", "__ssh", num_perms)
    else:
        ssh = idx.shingles
        sbk = idx.buckets

    cand = (
        nbk.join(sbk, ["__p", "__b"]).select("__nid", "__sid").distinct()
    )
    pairs = cand.join(nsh, "__nid").join(ssh, "__sid")
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
