"""Contingency-table association stats: Pearson chi-squared test of
independence between two categorical columns.

The drift (operators/drift.py) and anomaly (operators/anomaly.py)
detectors watch ONE distribution; chi-squared watches the JOINT
distribution of two — "did event mix become dependent on weekday?" is a
data-quality tripwire no marginal histogram can catch.

Plan shape: one (a, b)-keyed count aggregate over the raw table (the
only full-data shuffle, map-side combined), localCheckpoint'ed because
the |A|×|B| cell table is consumed by three marginal aggregates — the
no-exchange-reuse lesson (tfidf.py) applied at design time. The full
expected grid is the CROSS of the two marginal tables (tiny), so
zero-count cells contribute their (0-E)²/E term — omitting them would
systematically understate the statistic. 100 TB in, |A|×|B| rows after
the first exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.session import pin


def _n_levels(col: str):
    """Distinct level count INCLUDING a null level — count_distinct
    ignores NULLs, so add one back when any null key exists (the
    anomaly.py null-safe-group convention)."""
    return F.count_distinct(F.col(col)) + F.max(
        F.when(F.col(col).isNull(), F.lit(1)).otherwise(F.lit(0))
    )


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """1-row DataFrame: ``chi2`` (rounded 6), ``dof``, ``n_obs`` for the
    independence test of ``col_a`` vs ``col_b``.

    The statistic sums over the FULL ka×kb grid (marginal cross
    product), so (a, b) combinations absent from the data contribute
    (0−E)²/E like any textbook Pearson test. NULL categories count as
    regular levels — the cell join is ``eqNullSafe`` (a plain equi-join
    would silently DROP every null-keyed cell, the q84-oracle bug
    class); dropped-row semantics are the caller's filter upstream.
    Marginal products are computed in double: two long sums multiplied
    raw would overflow int64 around ~3e9 balanced rows (ANSI mode turns
    that into a runtime error, non-ANSI into silent garbage).
    """
    cells = pin(
        df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("n_ab")),
        eager=True, truncate=True,
    )
    row_tot = cells.groupBy(col_a).agg(F.sum("n_ab").alias("n_a"))
    col_tot = cells.groupBy(col_b).agg(F.sum("n_ab").alias("n_b"))
    grand = cells.agg(
        F.sum("n_ab").alias("n"),
        _n_levels(col_a).alias("ka"),
        _n_levels(col_b).alias("kb"),
    )
    grid = row_tot.alias("r").crossJoin(F.broadcast(col_tot.alias("k")))
    obs = grid.join(
        F.broadcast(cells.alias("c")),
        F.col(f"r.{col_a}").eqNullSafe(F.col(f"c.{col_a}"))
        & F.col(f"k.{col_b}").eqNullSafe(F.col(f"c.{col_b}")),
        "left",
    ).select(
        F.col("n_a").cast("double").alias("n_a"),
        F.col("n_b").cast("double").alias("n_b"),
        F.coalesce(F.col("n_ab"), F.lit(0)).cast("double").alias("n_ab"),
    )
    expected = F.col("n_a") * F.col("n_b") / F.col("n")
    return obs.crossJoin(F.broadcast(grand)).agg(
        F.round(
            F.sum(
                (F.col("n_ab") - expected) * (F.col("n_ab") - expected)
                / expected
            ),
            6,
        ).alias("chi2"),
        ((F.first("ka") - 1) * (F.first("kb") - 1)).cast("long").alias("dof"),
        F.first("n").cast("long").alias("n_obs"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_to: int = 6,
    top_k: int | None = None,
) -> DataFrame:
    """Per-``col_a``-level mutual-information contribution against
    ``col_b``: ``MI(a) = Σ_b p(a,b)·ln(p(a,b)/(p(a)·p(b)))`` — the
    feature-selection complement of ``chi2_independence``: chi² answers
    "are the columns dependent at all?", this ranks WHICH levels carry
    the dependence (e.g. which tokens are source-discriminative — the
    classic leakage/contamination tripwire: a token with high MI
    against the split column identifies memorizable split markers).

    Only observed (a, b) cells contribute (0·ln 0 = 0 — unlike chi²'s
    expected grid, absent cells add exactly nothing here). Plan: one
    (a,b)-keyed count aggregate [the only full-data shuffle, map-side
    combined]; marginals AND the grand total as WINDOWS over the cell
    table (the tfidf.py no-join-back lesson) — the unpartitioned total
    window holds the |A|×|B| CELL table in one task, bounded by level
    cardinalities, never the raw rows. Per-level sums are rounded
    (float-fold contract).
    """
    cnt = F.col("cnt").cast("double")
    ca = F.sum("cnt").over(Window.partitionBy(col_a)).cast("double")
    cb = F.sum("cnt").over(Window.partitionBy(col_b)).cast("double")
    n = F.sum("cnt").over(Window.partitionBy()).cast("double")
    cells = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("cnt"))
    contrib = (cnt / n) * F.log(cnt * n / (ca * cb))
    out = (
        cells.withColumn("__mi", contrib)
        .groupBy(col_a)
        .agg(
            F.round(F.sum("__mi"), round_to).alias("mi"),
            F.sum("cnt").alias("n_obs"),
        )
    )
    if top_k is not None:
        out = out.orderBy(F.desc("mi"), F.asc(col_a)).limit(top_k)
    return out


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """1-row DataFrame: ``n``, ``po``, ``pe``, ``kappa`` (rounded 6) —
    chance-corrected agreement between two categorical labelings of
    the same rows (two annotators, two labeling rules, model vs gold).
    The label-QA statistic for SFT/RLHF data: raw agreement ``po``
    flatters imbalanced label sets; kappa subtracts the agreement
    ``pe`` two independent raters with these marginals would reach by
    luck.

    Same scale shape as :func:`chi2_independence`: ONE full-data
    (a, b) count shuffle into a ≤ka·kb cell table (materialized —
    three tiny derivations read it), then marginal tables joined
    label-to-label FULL OUTER (a label one rater never uses still
    carries the other's marginal into pe correctly as 0·m). Rows where
    either label is NULL are excluded up front — an item both raters
    must rate. Statistics divide exact int counts in double, so both
    engines produce identical IEEE results before the final rounding.
    """
    labeled = df.where(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    )
    cells = pin(
        labeled.groupBy(
            F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
        ).agg(F.count(F.lit(1)).alias("__c")),
        eager=True, truncate=True,
    )
    rm = cells.groupBy(F.col("__a").alias("__l")).agg(
        F.sum("__c").alias("__r")
    )
    cm = cells.groupBy(F.col("__b").alias("__l")).agg(
        F.sum("__c").alias("__k")
    )
    margins = rm.join(cm, "__l", "full_outer").agg(
        F.sum(
            F.coalesce(F.col("__r"), F.lit(0)).cast("double")
            * F.coalesce(F.col("__k"), F.lit(0)).cast("double")
        ).alias("__rk")
    )
    diag = cells.agg(
        F.sum("__c").alias("__n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c")).otherwise(0)).alias(
            "__d"
        ),
    )
    po = F.col("__d").cast("double") / F.col("__n")
    pe = F.col("__rk") / (F.col("__n").cast("double") * F.col("__n"))
    return (
        diag.crossJoin(F.broadcast(margins))
        .select(
            F.col("__n").cast("long").alias("n"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )
