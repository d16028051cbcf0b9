"""Corpus evaluation metrics (SURVEY.md §2.5 A14; reference
``scripts/measure_chrf.py:113-118`` — sacrebleu corpus chrF / BLEU over
(refs, hyps)).

Implemented from the published definitions (Popović 2015 chrF; Papineni
2002 BLEU), not by wrapping a library: per-row n-gram statistics are
computed in an Arrow-batched pandas_udf, the corpus-level metric is an
exact function of the SUMMED statistics — so the whole evaluation is one
narrow projection + one tiny aggregate, distributed over any corpus size
(corpus-chrF/BLEU are sum-decomposable; only the final F-score/geo-mean
runs on the driver over a handful of numbers).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from nahuatl_data_pipeline_spark.functions.spread import spread_narrow

CHRF_MAX_N = 6
BLEU_MAX_N = 4


def _word_ngrams(toks: list[str], n: int) -> Counter:
    return Counter(tuple(toks[i : i + n]) for i in range(len(toks) - n + 1))


def _chrf_row_stats(hyp: str, ref: str) -> list[int]:
    """[match_n, hyp_n, ref_n] × CHRF_MAX_N.

    Whitespace is stripped once per side (not once per order), and the
    per-order totals are closed-form (len - n + 1 n-grams in a string of
    len chars — identical to summing the Counter); only the clipped
    match still needs both multisets."""
    hs, rs = "".join(hyp.split()), "".join(ref.split())
    out: list[int] = []
    for n in range(1, CHRF_MAX_N + 1):
        h = Counter(hs[i : i + n] for i in range(len(hs) - n + 1))
        r = Counter(rs[i : i + n] for i in range(len(rs) - n + 1))
        out += [
            sum((h & r).values()),
            max(len(hs) - n + 1, 0),
            max(len(rs) - n + 1, 0),
        ]
    return out


def _bleu_row_stats(hyp: str, ref: str) -> list[int]:
    """[clipped_match_n, hyp_n] × BLEU_MAX_N + [hyp_len, ref_len]."""
    ht, rt = hyp.split(), ref.split()
    out: list[int] = []
    for n in range(1, BLEU_MAX_N + 1):
        h, r = _word_ngrams(ht, n), _word_ngrams(rt, n)
        out += [sum((h & r).values()), sum(h.values())]
    return out + [len(ht), len(rt)]


@F.pandas_udf(ArrayType(LongType()))
def _chrf_stats_udf(hyp: pd.Series, ref: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if h is None or r is None else _chrf_row_stats(h, r)
            for h, r in zip(hyp, ref)
        ]
    )


@F.pandas_udf(ArrayType(LongType()))
def _bleu_stats_udf(hyp: pd.Series, ref: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if h is None or r is None else _bleu_row_stats(h, r)
            for h, r in zip(hyp, ref)
        ]
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin a narrow input across the cluster before the row-stats
    pandas_udf: a small eval set usually arrives as one scan split, which
    would run every Counter on one core. The exchange carries only
    (hyp, ref) once; a no-op whenever the input already has >=
    defaultParallelism partitions. Sums are commutative longs, so the
    result is unchanged. A shuffle-bearing input passes through
    unchanged (spread_narrow never probes it, r13 verdict #3)."""
    return spread_narrow(df)


def corpus_chrf(
    df: DataFrame, hyp_col: str, ref_col: str, beta: float = 2.0
) -> float:
    """Corpus chrF (β=2): F-score of char-n-gram precision/recall averaged
    over n=1..6, from corpus-summed counts (sacrebleu-compatible
    definition)."""
    stats = _spread(df).select(
        _chrf_stats_udf(F.col(hyp_col), F.col(ref_col)).alias("s")
    ).filter(F.col("s").isNotNull())
    sums = stats.agg(
        *[
            F.sum(F.element_at("s", i + 1)).alias(f"c{i}")
            for i in range(3 * CHRF_MAX_N)
        ]
    ).collect()[0]
    f_scores = []
    for n in range(CHRF_MAX_N):
        match, hyp_n, ref_n = sums[3 * n], sums[3 * n + 1], sums[3 * n + 2]
        if not hyp_n and not ref_n:
            continue
        p = match / hyp_n if hyp_n else 0.0
        r = match / ref_n if ref_n else 0.0
        denom = beta * beta * p + r
        f_scores.append((1 + beta * beta) * p * r / denom if denom else 0.0)
    return 100.0 * sum(f_scores) / len(f_scores) if f_scores else 0.0


def corpus_bleu(df: DataFrame, hyp_col: str, ref_col: str) -> float:
    """Corpus BLEU: geometric mean of clipped 1-4-gram precisions from
    corpus-summed counts × brevity penalty (Papineni 2002)."""
    import math

    stats = _spread(df).select(
        _bleu_stats_udf(F.col(hyp_col), F.col(ref_col)).alias("s")
    ).filter(F.col("s").isNotNull())
    width = 2 * BLEU_MAX_N + 2
    sums = stats.agg(
        *[F.sum(F.element_at("s", i + 1)).alias(f"c{i}") for i in range(width)]
    ).collect()[0]
    if sums[0] is None:
        return 0.0
    log_p = 0.0
    for n in range(BLEU_MAX_N):
        match, total = sums[2 * n], sums[2 * n + 1]
        if not total or not match:
            return 0.0
        log_p += math.log(match / total)
    hyp_len, ref_len = sums[width - 2], sums[width - 1]
    bp = 1.0 if hyp_len > ref_len else math.exp(1 - ref_len / max(hyp_len, 1))
    return 100.0 * bp * math.exp(log_p / BLEU_MAX_N)


def evaluation_report(df: DataFrame, hyp_col: str, ref_col: str) -> DataFrame:
    """(metric, value) DataFrame — the shape the reference writes to
    ``benchmark_metrics_*.json``.

    ONE scan: both metrics' row statistics are computed in the same
    projection and summed in the same aggregate; the final F-score /
    geo-mean runs on the driver over ~30 numbers.
    """
    import math

    spark = df.sparkSession
    chrf_w, bleu_w = 3 * CHRF_MAX_N, 2 * BLEU_MAX_N + 2
    stats = _spread(df).select(
        _chrf_stats_udf(F.col(hyp_col), F.col(ref_col)).alias("c"),
        _bleu_stats_udf(F.col(hyp_col), F.col(ref_col)).alias("b"),
    ).filter(F.col("c").isNotNull() & F.col("b").isNotNull())
    sums = stats.agg(
        *[F.sum(F.element_at("c", i + 1)).alias(f"c{i}") for i in range(chrf_w)],
        *[F.sum(F.element_at("b", i + 1)).alias(f"b{i}") for i in range(bleu_w)],
    ).collect()[0]

    if sums[0] is None:  # empty corpus
        rows = [("chrf", 0.0), ("bleu", 0.0)]
        return spark.createDataFrame(rows, "metric string, value double")

    beta = 2.0
    f_scores = []
    for n in range(CHRF_MAX_N):
        match, hyp_n, ref_n = sums[3 * n], sums[3 * n + 1], sums[3 * n + 2]
        if not hyp_n and not ref_n:
            continue
        p = match / hyp_n if hyp_n else 0.0
        r = match / ref_n if ref_n else 0.0
        denom = beta * beta * p + r
        f_scores.append((1 + beta * beta) * p * r / denom if denom else 0.0)
    chrf = 100.0 * sum(f_scores) / len(f_scores) if f_scores else 0.0

    log_p, bleu = 0.0, 0.0
    for n in range(BLEU_MAX_N):
        match, total = sums[chrf_w + 2 * n], sums[chrf_w + 2 * n + 1]
        if not total or not match:
            break
        log_p += math.log(match / total)
    else:
        hyp_len, ref_len = sums[chrf_w + bleu_w - 2], sums[chrf_w + bleu_w - 1]
        bp = 1.0 if hyp_len > ref_len else math.exp(1 - ref_len / max(hyp_len, 1))
        bleu = 100.0 * bp * math.exp(log_p / BLEU_MAX_N)

    rows = [("chrf", round(chrf, 4)), ("bleu", round(bleu, 4))]
    return spark.createDataFrame(rows, "metric string, value double")
