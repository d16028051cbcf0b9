"""Entity resolution / record linkage: blocked fuzzy string matching.

The dedup family (operators/fuzzy_dedup.py) matches DOCUMENTS by shingle
overlap; record linkage matches short STRINGS (names, titles, addresses)
by edit distance — a different regime: token sets are tiny, so
Jaccard/minhash degenerate, and the right primitive is
levenshtein-within-blocks, the classic ER blocking pattern.

Plan shape: block key projection (narrow) → self-join on the block key
(hash equi-join; cost Σ block², never n²) → edit-distance filter
evaluated JVM-side (``F.levenshtein`` with the threshold pushed into
the expression — Spark short-circuits the DP once the bound is
exceeded). The hot-block caveat and its cap mitigation are the same as
banded LSH (fuzzy_dedup.py:ngram_jaccard_pairs ``max_bucket_size``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.session import CachePool, pin

# A pool of its own: one shared with fuzzy_dedup would let interleaved
# linkage and fuzzy calls evict each other's in-flight caches.
_LIVE_CACHES = CachePool()
release_linkage_caches = _LIVE_CACHES.release


def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block: Column,
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) whose ``text_col`` values share a ``block``
    key and sit within ``max_distance`` edits; output carries the
    distance. ``block`` is any deterministic expression over the row
    (prefix, phonetic key, sorted-token key) — recall is bounded by it:
    a true match in different blocks is never compared, which is the
    deliberate scale trade (compare-everything is n²).

    ``max_block_size`` sheds oversized blocks before the join (hot-key
    guard, same contract as the LSH bucket cap).
    """
    keyed = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        block.alias("__blk"),
    ).filter(F.col("__blk").isNotNull())
    if max_block_size is not None:
        sizes = keyed.groupBy("__blk").agg(F.count(F.lit(1)).alias("__bc"))
        # pin: both self-join legs read `keyed`, and an unmaterialized
        # semi-join would re-run the scan + sizes aggregate per leg (4
        # input scans instead of 1 — the round-5 exchange-reuse trap).
        # A persist, not a checkpoint: recomputable on executor loss.
        release_linkage_caches()
        keyed = pin(
            keyed.join(
                sizes.filter(F.col("__bc") <= max_block_size), ["__blk"],
                "left_semi",
            ),
            eager=True, pool=_LIVE_CACHES,
        )
    a = keyed.select(
        F.col("__id").alias("id_a"), F.col("__t").alias("text_a"), "__blk"
    )
    b = keyed.select(
        F.col("__id").alias("id_b"), F.col("__t").alias("text_b"), "__blk"
    )
    # threshold-bounded levenshtein: Spark abandons the DP row once the
    # running minimum exceeds the bound — O(d·len) not O(len²) per pair
    dist = F.levenshtein("text_a", "text_b", max_distance)
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", dist)
        .filter((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
        .select("id_a", "id_b", "text_a", "text_b", "distance")
    )


def prefix_block(text_col: str, n_chars: int = 5) -> Column:
    """The simplest blocking key: lowercased first ``n_chars``. Cheap
    and effective for typo-class errors (edits rarely hit the prefix);
    swap in a phonetic or sorted-token key for transposition-heavy
    data. Empty/short strings block on what they have."""
    return F.substring(F.lower(F.col(text_col)), 1, n_chars)
