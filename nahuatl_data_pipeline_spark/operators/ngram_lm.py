"""Corpus-trained n-gram language-model scoring — the CCNet/KenLM-style
perplexity filter, self-trained: documents whose token transitions are
improbable under the corpus's own bigram statistics are boilerplate,
wordlists, OCR noise, or another language, and score far below prose.

``bigram_logprob`` trains and scores in ONE lineage with no join-back:
bigram occurrences are exploded once, and both count tables the model
needs — c(w1,w2) and its prefix marginal c(w1) — are computed as WINDOW
counts over the occurrence stream (the tfidf.py df lesson: a groupBy
joined back to its source would re-explode the corpus; a window consumes
it in place for the same shuffle cost). Per-row log-probability is then
a projection and the doc score one final doc-keyed aggregate.

Smoothing is add-alpha over the corpus vocabulary:
``P(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V)`` — every probability is
finite and the score is a total function of the corpus, exactly
recomputable by any SQL engine (the oracle contract). Scoring is
in-corpus by construction (train == score corpus), so no unseen-bigram
branch exists; scoring a NEW corpus against stored counts is the same
plan with the count windows swapped for a (broadcast-gated) join against
the persisted model table.

Scale: three key-partitioned shuffles — (w1,w2), (w1), (doc) — linear
in corpus size; V rides a broadcast 1-row aggregate. Caveat: window
aggregates have NO map-side partial aggregation (unlike groupBy), so a
hot prefix (every sentence starting "the" — Zipf guarantees one) lands
its whole occurrence slice in one task: sort-spill keeps it from OOM,
but it is the straggler at extreme scale. The fix at that regime is
the model-table variant sketched above — c(w1,w2)/c(w1) as groupBy
COUNT tables (map-side combined, vocabulary-bounded output) joined
back broadcast-gated, at the price of a second pass over the
occurrence stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import tokens
from nahuatl_data_pipeline_spark.operators.tfidf import tokenize
from nahuatl_data_pipeline_spark.session import pin


def bigram_occurrences(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One row per adjacent token pair per document: zip the token array
    with its own 1-shifted slice (a narrow projection — no posexplode +
    self-join on position). Documents with <2 tokens yield no rows."""
    base = docs.select(
        id_col, tokens(F.lower(F.col(text_col))).alias("__tk")
    ).filter(F.size("__tk") >= 2)  # slice needs a non-negative length
    tk = F.col("__tk")
    pairs = F.arrays_zip(
        F.slice(tk, 1, F.size(tk) - 1).alias("w1"),
        F.slice(tk, 2, F.size(tk) - 1).alias("w2"),
    )
    return base.select(id_col, F.explode(pairs).alias("__bg")).select(
        id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
    )


def bigram_logprob(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.1,
    round_to: int = 4,
) -> DataFrame:
    """Mean bigram log-probability per document under the corpus's own
    add-alpha bigram model (see module docstring). Returns one row per
    document with ≥2 tokens: ``avg_logprob`` (rounded — float-fold
    reproducibility contract) and ``n_bigrams``."""
    occ = bigram_occurrences(docs, id_col, text_col)
    c12 = F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
    c1 = F.count(F.lit(1)).over(Window.partitionBy("w1"))
    vocab = tokenize(docs, id_col, text_col).select(
        F.countDistinct("term").alias("__v")
    )
    scored = (
        occ.withColumn("__c12", c12)
        .withColumn("__c1", c1)
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lp",
            F.log(
                (F.col("__c12") + F.lit(alpha))
                / (F.col("__c1") + F.lit(alpha) * F.col("__v"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("__lp"), round_to).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    alpha: float = 0.1,
    tail_keep_pct: int = 30,
    bands: int = 32,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus's own bigram LM, split each language
    into head / middle / tail TERTILES by score (head = most fluent),
    and keep head+middle outright while down-sampling the tail to
    ``tail_keep_pct`` percent by a deterministic hash draw — the
    published recipe for perplexity-stratified corpus selection,
    without a model file.

    Scale shape: scoring is ``bigram_logprob`` (linear, windowed
    counts); the tertile CUTS come from the banded distributed prefix
    sum (``anomaly.weighted_quantile`` with unit weights) — NOT a
    per-language ntile window, which would sort each language's whole
    corpus inside single tasks (q132's measured 100× cliff). Cuts are
    one row per language and ride broadcast hash joins; the hash draw
    is O(1)/row. Ties sit entirely on one side of each cut (cuts are
    values, not row ranks), so equal scores never split buckets.

    Returns one row per scored doc: ``(id, group, avg_logprob, bucket,
    kept)``; bucket ∈ head/middle/tail, ``kept`` is the selection bit.
    Cut comparisons happen on the ROUNDED scores bigram_logprob emits,
    so bucket assignment is decimal-exact cross-engine."""
    from nahuatl_data_pipeline_spark.functions.hashing import hash64
    from nahuatl_data_pipeline_spark.operators.anomaly import (
        weighted_quantile,
    )

    scored = pin(
        bigram_logprob(docs, id_col, text_col, alpha=alpha)
        .join(docs.select(id_col, group_col), id_col)
        .withColumn("__one", F.lit(1)),
        # materialize ONCE: the weighted_quantile call (reading its
        # input several times internally) plus the final join would
        # otherwise replay the LM scoring's explode + window shuffles
        # ~7x — the plan's dominant cost (components.py's checkpoint
        # rationale; one row per doc, far smaller than the occurrence
        # stream it truncates). LAZY: weighted_quantile's internal
        # cut-collecting action is the first consumer and materializes
        # the blocks in its own job — one job fewer per call (r13).
        truncate=True,
    )
    # both tertile cuts from ONE banded-prefix-sum pass (r13:
    # weighted_quantile qs= multi-quantile mode — the old per-cut call
    # pair paid the banding, windows and totals twice for the same
    # distribution and joined the results back together)
    cuts = weighted_quantile(
        scored, [group_col], "avg_logprob", "__one",
        qs=[1.0 / 3.0, 2.0 / 3.0], tiebreak=[id_col], bands=bands,
    ).select(
        group_col,
        F.col("wq_0").alias("__c1"),
        F.col("wq_1").alias("__c2"),
    )
    s = F.col("avg_logprob")
    bucket = (
        F.when(s <= F.col("__c1"), F.lit("tail"))
        .when(s <= F.col("__c2"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    draw = hash64(F.col(id_col).cast("string")) % 100
    return (
        scored.join(F.broadcast(cuts), group_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            s,
            bucket.alias("bucket"),
            (
                (s > F.col("__c1")) | (draw < F.lit(tail_keep_pct))
            ).alias("kept"),
        )
    )
