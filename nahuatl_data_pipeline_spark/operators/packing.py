"""Cross-document sequence packing for LLM pretraining.

Pretraining pipelines do not feed one document per training sequence:
they shuffle the corpus deterministically, concatenate every document's
tokens into one long stream (with an implicit end-of-document marker),
and chop the stream into fixed-length sequences — a document may span a
sequence boundary. The reference stops at per-document chunking
(``scripts/gemini_distiller.py:38-55``, re-expressed as F14 /
``functions/segmentation.py:chunk_text``); this operator is the
corpus-level step after it.

Semantics here are the standard concat-and-chop:

    order   = md5(seed ':' key)                    -- the "global shuffle"
    offset  = Σ tokens of all earlier docs          -- exclusive prefix sum
    seq_id  = offset div seq_len
    n_seqs  = how many sequences the doc touches

The prefix sum is computed *distributed* with the same monotone
hash-prefix bucket trick as ``operators/split.py:seeded_split``: md5 hex
prefixes are monotone bucket ids, so per-bucket window sums plus a tiny
broadcast cumulative bucket-total table give the exact global running
total with no single-partition exchange anywhere on the data path.
Everything is engine-portable (md5 + integer arithmetic), so the whole
assignment is reproducible in any SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import token_count
from nahuatl_data_pipeline_spark.operators.split import _shuffle_hash

_H = "__pack_h"
_B = "__pack_b"
_IN = "__pack_in"
_OFF = "__pack_off"
_T = "__pack_t"


def pack_sequences(
    df: DataFrame,
    key: str,
    text_col: str = "text",
    seq_len: int = 2048,
    seed: int = 42,
    bucket_hex: int = 4,
) -> DataFrame:
    """Assign every document its token span in the packed stream.

    Adds ``n_tokens`` (whitespace tokens, 0 for NULL/blank text),
    ``start_offset`` (exclusive prefix sum of earlier docs in hash
    order), ``seq_id`` (first training sequence the doc lands in,
    ``start_offset div seq_len``) and ``n_seqs`` (sequences the doc
    spans; 0 for empty docs). Deterministic in (key, seed) and
    independent of partitioning PROVIDED ``key`` uniquely identifies
    rows (use the doc id / content hash): equal-key rows share a hash,
    and their relative order — hence their individual offsets — is
    unspecified (token counts break the tie, so it only matters when
    full rows are duplicated).
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    tmp = (
        df.withColumn(_T, F.coalesce(token_count(text_col), F.lit(0)))
        .withColumn(_H, _shuffle_hash(F.col(key), seed))
        .withColumn(
            _B, F.conv(F.substring(F.col(_H), 1, bucket_hex), 16, 10).cast("long")
        )
    )
    w_in = (
        Window.partitionBy(_B)
        .orderBy(_H, key, _T)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = tmp.withColumn(_IN, F.coalesce(F.sum(_T).over(w_in), F.lit(0)))

    totals = tmp.groupBy(_B).agg(F.sum(_T).alias(_T))
    w_cum = Window.orderBy(_B).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        _B, F.coalesce(F.sum(_T).over(w_cum), F.lit(0)).alias(_OFF)
    )

    out = ranked.join(F.broadcast(offsets), _B)
    # integer `div`, not float `/`+floor: a double loses exactness past
    # 2^53 cumulative tokens, and the oracle's `//` is exact integer math
    return (
        out.withColumn("n_tokens", F.col(_T))
        .withColumn("start_offset", F.col(_OFF) + F.col(_IN))
        .withColumn("seq_id", F.expr(f"start_offset div {seq_len}"))
        .withColumn(
            "n_seqs",
            F.when(F.col(_T) == 0, F.lit(0).cast("long")).otherwise(
                F.expr(f"(start_offset + n_tokens - 1) div {seq_len}")
                - F.col("seq_id")
                + 1
            ),
        )
        .drop(_H, _B, _IN, _OFF, _T)
    )


def length_grouped_batches(
    df: DataFrame,
    id_col: str,
    text_col: str,
    batch_size: int = 8,
    bucket_width: int = 64,
    n_shards: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Length-grouped batch assignment: documents batched with
    similar-length peers so per-batch padding (to the batch max) is
    small — the dataloader trick that cuts padded-token waste 2-10× vs
    random batching for training/inference over variable-length text.
    The complement of :func:`pack_sequences`: packing CONCATENATES docs
    to fill a context window (pretraining), length-grouping keeps docs
    separate but co-schedules equals (SFT/inference batching).

    Assignment is deterministic and partitioning-independent: length
    bucket = ``ceil(n_tokens / bucket_width)``; within a bucket, rows
    order by a seeded content hash (no ``rand()``), chunked into
    ``batch_size`` groups. Buckets are SHARDED by a hash of the id
    (``n_shards``) and batches form within (bucket, shard) — the scale
    contract: a window partitioned only by bucket would funnel billions
    of same-length rows through a handful of tasks at 100 TB, while
    sharding bounds every window partition at rows/(buckets·shards)
    with zero effect on padding quality (batches are still
    equal-length-grouped; the only cost is ≤1 partial batch per
    (bucket, shard) instead of per bucket).

    Output: ``(id, n_tokens, bucket, shard, batch_id, batch_key)`` —
    ``batch_key`` is the globally-unique batch handle.
    """
    if batch_size < 1 or bucket_width < 1 or n_shards < 1:
        raise ValueError("batch_size, bucket_width, n_shards must be >= 1")
    # NULL text → 0 tokens (same contract as pack_sequences): without the
    # coalesce those rows get bucket NULL and batch_padding_stats yields
    # NULL max/sum/waste for their batches
    n = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    keyed = df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
    ).withColumn(
        "bucket", F.ceil(F.col("n_tokens") / F.lit(bucket_width)).cast("long")
    ).withColumn(
        "shard",
        (
            F.conv(
                F.substring(_shuffle_hash(F.col(id_col), seed), 1, 15), 16, 10
            ).cast("long")
            % n_shards
        ).cast("long"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy(
        _shuffle_hash(F.col(id_col), seed + 1), F.col(id_col)
    )
    return keyed.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"),
    ).withColumn(
        "batch_key",
        F.concat_ws("/", "bucket", "shard", "batch_id"),
    )


def batch_padding_stats(batches: DataFrame) -> DataFrame:
    """Per-batch padding accounting over :func:`length_grouped_batches`
    output: each batch pads every member to the batch max, so waste =
    ``n_rows·max − Σ n_tokens``. One map-side-combined aggregate keyed
    by the batch handle; the corpus-level waste fraction is a second
    tiny fold over the batch table::

        stats.agg(F.sum("padded_tokens"), F.sum("waste_tokens"))
    """
    return batches.groupBy("batch_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    ).select(
        "batch_key",
        "n_rows",
        "max_tokens",
        "sum_tokens",
        (F.col("n_rows") * F.col("max_tokens")).cast("long").alias(
            "padded_tokens"
        ),
        (F.col("n_rows") * F.col("max_tokens") - F.col("sum_tokens"))
        .cast("long")
        .alias("waste_tokens"),
    )
