"""Data selection via importance resampling (DSIR-style): score every
raw document by how much more likely its hashed-n-gram bag is under a
TARGET corpus' distribution than under the raw corpus' own — the
published recipe for "select pretraining data that looks like my
high-quality domain" (Xie et al., "Data Selection for Language Models
via Importance Resampling", NeurIPS 2023 — public method; no reference
analogue, beyond-reference scale operator).

Estimator: bag-of-hashed-n-grams unigram model over ``n_buckets``
hash buckets with add-1 smoothing,

    log w(doc) = Σ_g count_doc(b(g)) · [ln p̂_target(b) − ln q̂_raw(b)]

Scale shape (the whole point): the n-gram explode is linear in corpus
tokens and feeds TWO bucket-count aggregates whose results are at most
``n_buckets`` rows each — broadcast back onto the per-(doc, bucket)
counts (map-side partial agg), so the only corpus-sized shuffles carry
one row per (doc, bucket). The 1-row totals ride a broadcast crossJoin
(the engine's standard 1-row-scalar shape). No global windows, no
driver-side data.

Portability: bucket ids come from ``functions.hashing.hash64`` (md5
prefix mod P — exact in any engine), counts are integers, and the two
logs are evaluated on exact integer ratios, so a SQL oracle reproduces
the weights to float64 noise; outputs are rounded for cross-engine
hash equality (the repo's float policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.hashing import hash64, word_ngrams


def dsir_log_weights(
    df: DataFrame,
    target: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 2,
    n_buckets: int = 1024,
    round_to: int = 4,
    target_flag=None,
) -> DataFrame:
    """Per-document DSIR importance log-weight.

    Returns ``(id_col, n_grams, log_weight)`` for every document of
    ``df`` with at least one n-gram; higher means "more target-like".
    Resampling/selection composes downstream with the existing
    deterministic samplers (``mixing.weighted_topk_sample``) —
    selection policy is deliberately not baked in here.

    Pass the target corpus either as a separate frame (``target``) or,
    when it is a SUBSET of ``df``, as a boolean Column ``target_flag``
    evaluated against ``df``'s rows. The flag form rides the n-gram
    explode as one extra boolean and rolls the target bucket counts up
    from the per-doc aggregate (a doc's occurrences all carry its flag,
    so Σ __c over flagged docs is exactly the flagged occurrence
    count) — the frame form would replay the corpus-sized n-gram
    explode over the target subset a second time, the operator's
    dominant cost.
    """
    if (target is None) == (target_flag is None):
        raise ValueError("pass exactly one of `target` or `target_flag`")
    occ_cols = [
        F.col(id_col),
        F.explode(word_ngrams(text_col, ngram_n)).alias("__g"),
    ]
    if target_flag is not None:
        occ = df.select(*occ_cols, target_flag.alias("__t")).select(
            id_col, (hash64("__g") % n_buckets).alias("__b"), "__t"
        )
        doc_b = occ.groupBy(id_col, "__b").agg(
            F.count(F.lit(1)).alias("__c"), F.max("__t").alias("__t")
        )
        tgt_b = (
            doc_b.filter(F.col("__t"))
            .groupBy("__b")
            .agg(F.sum("__c").cast("long").alias("__ct"))
        )
        doc_b = doc_b.drop("__t")
    else:
        occ = df.select(*occ_cols).select(
            id_col, (hash64("__g") % n_buckets).alias("__b")
        )
        doc_b = occ.groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("__c"))
        tocc = target.select(
            F.explode(word_ngrams(text_col, ngram_n)).alias("__g")
        ).select((hash64("__g") % n_buckets).alias("__b"))
        tgt_b = tocc.groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
    # roll raw-corpus bucket counts up from doc_b (Σ per-doc counts is
    # the same integer), NOT from occ: an independent occ aggregate
    # would replay the corpus-sized n-gram explode — the operator's
    # dominant cost — a second time per call
    raw_b = doc_b.groupBy("__b").agg(
        F.sum("__c").cast("long").alias("__ca")
    )
    totals = raw_b.agg(F.sum("__ca").alias("__ta")).crossJoin(
        tgt_b.agg(F.sum("__ct").alias("__tt"))
    )

    B = F.lit(float(n_buckets))
    term = (
        F.log((F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(1.0)))
        - F.log(F.col("__tt") + B)
        - F.log(F.col("__ca") + F.lit(1.0))
        + F.log(F.col("__ta") + B)
    )
    # raw_b always covers every bucket doc_b has (a doc occurrence IS a
    # raw-corpus occurrence) → inner join; the target side may miss
    # buckets → left join + the coalesce(ct, 0) above.
    scored = (
        doc_b.join(F.broadcast(raw_b), "__b")
        .join(F.broadcast(tgt_b), "__b", "left")
        .crossJoin(F.broadcast(totals))
        .select(id_col, F.col("__c"), (F.col("__c") * term).alias("__w"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("n_grams"),
        F.round(F.sum("__w"), round_to).alias("log_weight"),
    )
