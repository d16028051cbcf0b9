"""Corpus drift monitoring: token-distribution divergence between two
document sets (e.g. the existing snapshot vs a new crawl batch).

A training-data pipeline needs a cheap tripwire for "this batch does
not look like the corpus" — vocabulary shift, language drift, a scraper
suddenly emitting boilerplate. The standard signal is the divergence
between the two token distributions; we compute smoothed KL in both
directions plus their average on the shared support (a symmetric
drift score; 0 = identical distributions).

Plan shape (all codegen, no Python):
  tokenize each side (split+explode projection)
    → per-side token counts (map-side-combined groupBy)   [shuffle/side]
    → FULL OUTER join of the two count tables on token — these are
      vocabulary-sized (one row per distinct token), orders of
      magnitude smaller than the corpora
    → per-side totals as broadcast 1-row aggregates
    → one final aggregate folds Σ p·ln(p/q) terms
Additive (Laplace) smoothing over the UNION vocabulary keeps
absent-token terms finite and makes the score well-defined for any
pair of corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import tokens
from nahuatl_data_pipeline_spark.session import pin


def _counts(df: DataFrame, text_col: str, name: str) -> DataFrame:
    """Corpus token counts of the lowercased text through the shared
    tokenizer (functions/text_analysis.py:tokens), like
    operators/tfidf.py:tokenize but id-free: drift needs only the
    terms, so a corpus without a document-id column is fine."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias(name))
    )


def token_drift(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",  # kept for API symmetry; drift is id-free
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """One-row drift report between corpora ``a`` and ``b`` (only
    ``text_col`` is read — corpora without an id column work).

    Columns: ``vocab_a``, ``vocab_b``, ``vocab_union``, ``kl_ab``,
    ``kl_ba`` (nats, Laplace-smoothed with ``alpha`` over the union
    vocabulary), ``drift_score`` (their mean — symmetric). Rounded to 6
    decimals so cross-engine float folds hash-stably.
    """
    ca = _counts(a, text_col, "na")
    cb = _counts(b, text_col, "nb")
    # checkpoint the (vocabulary-sized, tiny) joined count table: it
    # feeds BOTH the totals aggregate and the divergence fold, and
    # without materialization each consumer would re-tokenize and
    # re-shuffle both corpora
    vocab = pin(
        ca.join(cb, "term", "full_outer").select(
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        ),
        eager=True, truncate=True,
    )
    # per-token smoothed probabilities need the totals + union vocab
    # size; both are 1-row aggregates broadcast back via crossJoin
    totals = vocab.agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("v"),
    )
    terms = vocab.crossJoin(F.broadcast(totals)).select(
        "na",
        "nb",
        ((F.col("na") + alpha) / (F.col("ta") + alpha * F.col("v"))).alias("pa"),
        ((F.col("nb") + alpha) / (F.col("tb") + alpha * F.col("v"))).alias("pb"),
    )
    return terms.agg(
        F.sum((F.col("na") > 0).cast("long")).alias("vocab_a"),
        F.sum((F.col("nb") > 0).cast("long")).alias("vocab_b"),
        F.count(F.lit(1)).alias("vocab_union"),
        F.round(F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb"))), 6).alias(
            "kl_ab"
        ),
        F.round(F.sum(F.col("pb") * F.log(F.col("pb") / F.col("pa"))), 6).alias(
            "kl_ba"
        ),
        F.round(
            (
                F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb")))
                + F.sum(F.col("pb") * F.log(F.col("pb") / F.col("pa")))
            )
            / 2,
            6,
        ).alias("drift_score"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    round_to: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    ``value_col`` distributions of two groups: ``D = sup_x |F_a(x) -
    F_b(x)|`` — the numeric-distribution drift test beside
    ``token_drift``'s categorical KL (value shift in a metric two
    scrapers disagree on, price drift between order cohorts, …).

    Exact plan: per DISTINCT value, both groups' counts from one
    map-side-combined aggregate [shuffle 1 on value]; empirical CDFs
    via cumulative-sum windows ORDERED BY value; D = one max fold to a
    single row. Evaluating at distinct values with counts aggregated
    FIRST handles ties exactly (the CDF steps once per distinct value,
    however many rows share it). The CDF window orders globally → one
    task holds the DISTINCT-VALUE table (not the rows); like q76's
    exact ntile this pins semantics, and the 100 TB path is the same
    statistic over q79's sketch-cut bins (D computed on binned CDFs,
    error ≤ bin mass). CDF ratios are rounded before the |Δ| max — the
    reproducibility contract (summation order of the cumsum is fixed
    by the value order, but the division is where engines could drift
    an ulp).
    """
    g = F.col(group_col)
    counted = (
        # NULL values are not CDF evaluation points (and Spark windows
        # sort them FIRST while SQL engines sort them LAST — dropping
        # them is the only engine-stable semantics). A group matching
        # zero rows yields ks_stat = NULL (0/0), the caller's signal
        # that the comparison is vacuous.
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum((g == group_a).cast("long")).alias("ca"),
            F.sum((g == group_b).cast("long")).alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    # same ordered single-task window, full frame → the grand totals,
    # without a separate 1-row aggregate crossJoin
    totals = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = counted.select(
        (F.sum("ca").over(w) / F.sum("ca").over(totals)).alias("fa"),
        (F.sum("cb").over(w) / F.sum("cb").over(totals)).alias("fb"),
        F.sum("ca").over(totals).alias("na"),
        F.sum("cb").over(totals).alias("nb"),
    )
    return cdf.groupBy().agg(
        F.round(
            F.max(F.abs(F.round("fa", round_to) - F.round("fb", round_to))),
            round_to,
        ).alias("ks_stat"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
    )
