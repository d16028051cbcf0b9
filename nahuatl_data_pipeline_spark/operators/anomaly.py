"""Anomaly flagging over metric streams: per-group z-score outliers.

The monitoring sibling of the quality suite (operators/quality.py
checks static expectations; this flags statistical outliers): a value
is anomalous when it sits more than ``threshold`` standard deviations
from its group's mean — the standard first-line detector for broken
scrapers, unit mix-ups, and pipeline regressions in per-source /
per-event-type metrics.

Plan: ONE map-side-combined aggregate computes each group's (mean,
stddev) — group count rows, broadcast back onto the stream — then
flagging is a narrow projection. No row-level shuffle; 100 TB of
events costs one stats aggregate plus a scan.

Stats are rounded before the comparison on purpose: mean/stddev are
float folds whose last ulp depends on summation order (engine,
partitioning), and an unrounded threshold comparison would let that
ulp flip rows in and out of the anomaly set. Rounding pins the
comparison inputs so the flagged set is reproducible everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.session import pin


def zscore_outliers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    threshold: float = 3.0,
    round_stats: int = 6,
    broadcast_max_groups: int = 2_000_000,
) -> DataFrame:
    """Rows of ``df`` plus ``group_mean``, ``group_std``, ``zscore``
    (rounded) and ``is_outlier`` (|z| > threshold; groups with fewer
    than 2 rows or zero variance flag nothing — z undefined).

    NULL group keys are real groups (a broken feed often emits them):
    the stats join is null-safe, so those rows are scored against the
    null-key group instead of silently vanishing. The broadcast of the
    stats table is size-gated (``broadcast_max_groups``): a near-unique
    group column falls back to a shuffle join rather than an unbounded
    broadcast."""
    v = F.col(value_col)
    # stats keys live under aliased names so the join back onto the very
    # DataFrame the stats derive from cannot hit ambiguous-lineage
    # column resolution
    # localCheckpoint: the stats table is consumed twice (size probe +
    # scoring join); without materialization each consumer would re-run
    # the whole upstream aggregate over df. LAZY + the full-count probe
    # in _gated_stats_join: the probe materializes the checkpoint in
    # its own job (r13 — one job instead of eager-materialize + probe),
    # and the broadcast side stays precomputed blocks, never a big
    # aggregate inside the broadcast thread (guide §7.4 timeout mode).
    stats = pin(
        df.groupBy(*keys)
        .agg(
            F.round(F.avg(v), round_stats).alias("group_mean"),
            F.round(F.stddev_samp(v), round_stats).alias("group_std"),
        )
        .select(
            *[F.col(k).alias(f"__g_{k}") for k in keys],
            "group_mean",
            "group_std",
        ),
        truncate=True,
    )
    z = F.round(
        (v - F.col("group_mean")) / F.col("group_std"), round_stats
    )
    return (
        _gated_stats_join(df, stats, keys, broadcast_max_groups)
        .withColumn(
            "zscore",
            F.when(
                F.col("group_std").isNotNull() & (F.col("group_std") > 0), z
            ),
        )
        .withColumn(
            "is_outlier",
            F.coalesce(F.abs(F.col("zscore")) > threshold, F.lit(False)),
        )
    )


def _gated_stats_join(
    df: DataFrame,
    stats: DataFrame,
    keys: list[str],
    broadcast_max_groups: int,
) -> DataFrame:
    """Join per-group ``stats`` (key columns pre-aliased ``__g_{k}``)
    back onto ``df`` under the module's shared contract: NULL-safe on
    every key (NULL keys are real groups — zscore_outliers' docstring),
    broadcast only when the group count fits (a near-unique key column
    falls back to a shuffle join instead of an unbounded broadcast).
    ``stats`` must be LAZILY localCheckpoint'ed: the full count here is
    the materializing action (the checkpoint blocks already hold every
    group, so a limit-bounded probe would save nothing — the aggregate
    is paid either way), and the later join/broadcast leg then reads
    blocks (r13: one probe+materialize job instead of two)."""
    fits = stats.count() <= broadcast_max_groups
    side = F.broadcast(stats) if fits else stats
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__g_{k}"))
        cond = c if cond is None else (cond & c)
    return df.join(side, cond).drop(*[f"__g_{k}" for k in keys])


def mad_outliers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    threshold: float = 3.0,
    round_stats: int = 4,
    broadcast_max_groups: int = 2_000_000,
) -> DataFrame:
    """Robust per-group outlier stats via Median Absolute Deviation:
    a value is anomalous when ``|x - median| > threshold * 1.4826 *
    MAD`` (1.4826 rescales MAD to σ under normality). Unlike
    ``zscore_outliers``, a handful of extreme rows cannot drag the
    center/spread toward themselves and mask their own detection —
    the estimator every curation playbook reaches for on heavy-tailed
    metrics (doc lengths, prices, crawl sizes).

    Returns one row per group: rounded median and MAD, outlier count
    (0, never NULL, for all-NULL groups — the SQL ``SUM(CASE…ELSE 0)``
    contract), and row count. NULL group keys are real groups and the
    stats broadcasts are size-gated — the module's shared join contract
    (``_gated_stats_join``).

    Plan: exact MAD is inherently two-pass — median first, then the
    median OF deviations — so the fact table is scanned twice plus a
    final flagging pass, each scan pruned to ``keys + value`` columns
    at the source. The per-group medians are exact interpolated
    percentiles (bounded-group assumption, same contract as q101);
    stats frames are group-count-sized and localCheckpoint'ed
    (consumed by probe + join). The one-pass / unbounded alternative at
    100 TB is an ``approx_percentile`` sketch of both medians (q64's
    path) at ±ε accuracy. Medians are ROUNDED before the
    deviation/threshold comparisons — the module's reproducibility
    contract — so the flagged set is identical in any engine.
    """
    v = F.col(value_col)
    med = pin(
        df.groupBy(*keys)
        .agg(F.round(F.percentile(v, 0.5), round_stats).alias("group_median"))
        .select(*[F.col(k).alias(f"__g_{k}") for k in keys], "group_median"),
        truncate=True,
    )
    dev = _gated_stats_join(df, med, keys, broadcast_max_groups).withColumn(
        "__absdev", F.abs(v - F.col("group_median"))
    )
    mad = pin(
        dev.groupBy(*keys)
        .agg(
            F.round(F.percentile(F.col("__absdev"), 0.5), round_stats).alias(
                "group_mad"
            )
        )
        .select(*[F.col(k).alias(f"__g_{k}") for k in keys], "group_mad"),
        truncate=True,
    )
    cut = F.lit(threshold) * F.lit(1.4826) * F.col("group_mad")
    return (
        _gated_stats_join(dev, mad, keys, broadcast_max_groups)
        .groupBy(*keys)
        .agg(
            F.min("group_median").alias("group_median"),
            F.min("group_mad").alias("group_mad"),
            F.coalesce(
                F.sum((F.col("__absdev") > cut).cast("long")), F.lit(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def winsorized_stats(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lower_q: float = 0.05,
    upper_q: float = 0.95,
    round_bounds: int = 4,
    round_stats: int = 2,
    broadcast_max_groups: int = 2_000_000,
) -> DataFrame:
    """Winsorized per-group aggregates: values are CLAMPED to the
    group's [lower_q, upper_q] exact interpolated percentiles before
    averaging — the robust mean that keeps every row (unlike trimming)
    while bounding any single tail value's influence. The standard
    guard for metric dashboards a few corrupt rows would otherwise
    swing.

    Returns per group: both bounds (rounded — the module's
    reproducibility contract, applied BEFORE clamping so the clamped
    values are engine-identical), winsorized mean and sum, and the
    count of rows that were clamped at either end. NULL values stay
    NULL (``greatest``/``least`` skip NULLs, which would otherwise
    fabricate a p05 datum out of missing data) and are excluded from
    mean/sum/clamp-count exactly as ``AVG(value)`` would exclude them;
    ``n_rows`` still counts them. NULL group keys are real groups and
    the bounds broadcast is size-gated (``_gated_stats_join``).

    Plan: one percentile pass (both bounds from the SAME aggregate —
    bounded-group exact contract, q101), bounds localCheckpoint'ed
    (probe + join), then one clamp+aggregate pass: two pruned scans
    total. Unbounded-group / 100 TB path: approx_percentile bounds
    (q64) at ±ε, same second pass.
    """
    v = F.col(value_col)
    bounds = pin(
        df.groupBy(*keys)
        .agg(
            F.round(F.percentile(v, lower_q), round_bounds).alias("lo"),
            F.round(F.percentile(v, upper_q), round_bounds).alias("hi"),
        )
        .select(*[F.col(k).alias(f"__g_{k}") for k in keys], "lo", "hi"),
        truncate=True,
    )
    clamped = F.when(
        v.isNotNull(), F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    )
    return (
        _gated_stats_join(df, bounds, keys, broadcast_max_groups)
        .groupBy(*keys)
        .agg(
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
            F.round(F.avg(clamped), round_stats).alias("winsorized_mean"),
            F.round(F.sum(clamped), round_stats).alias("winsorized_sum"),
            F.coalesce(
                F.sum(
                    ((v < F.col("lo")) | (v > F.col("hi"))).cast("long")
                ),
                F.lit(0),
            ).alias("n_clamped"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def weighted_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q: float = 0.5,
    tiebreak: list[str] | None = None,
    bands: int = 32,
    qs: list[float] | None = None,
) -> DataFrame:
    """Per-group weighted q-quantile: the smallest value whose running
    weight reaches q·(total weight) — inf{x : F_w(x) ≥ q}, the
    lower-weighted-quantile convention. The "median document length in
    TOKENS, not documents" statistic: unweighted medians over-represent
    shards of many tiny rows; weighting by tokens/bytes/cost answers
    what half the VOLUME looks like.

    Scale shape — the BANDED distributed prefix sum (budget_select's
    machinery, per group): a naive per-group running window puts every
    row of a group in ONE task, and quantile groups are typically
    low-cardinality (3 return flags ⇒ 3 tasks sorting the whole fact
    table — measured 80 s at the 100× replica). Instead, rows band by
    ``bands`` global approx-quantile cuts of the value (banding is
    monotone in the value alone, so equal values never straddle a
    band), within-(group, band) cumsums run in parallel, and each
    band's offset comes from a |groups|·|bands|-row totals table.

    Engine-portability: with integer-valued weights (counts, tokens,
    TPC-H quantities) every sum is EXACT in double regardless of
    association, so the banded cum, the total, and the q·total
    threshold are bit-identical to any single-window SQL mirror with
    no rounding. Fractional weights stay correct but the threshold
    comparison becomes ulp-sensitive — round weights or scale them to
    integers for oracle-grade reproducibility. NULL values or weights
    are excluded (no position / no mass); weights must be
    non-negative; supply a unique ``tiebreak`` so equal values order
    deterministically. Output: group cols + ``wq`` + ``total_w``.

    ``qs`` asks for SEVERAL quantiles of the same distribution in one
    pass (r13: perplexity tertiles paid the whole banded machinery
    once per cut): output columns become ``wq_0..wq_{n-1}`` (one per
    entry of ``qs``, same order) + ``total_w``. Each value equals the
    single-``q`` result exactly — the per-quantile threshold tests
    ride the SAME final aggregate as conditional minima."""
    from pyspark.sql import Window

    ties = list(tiebreak or [])
    wt = F.col(weight_col).cast("double")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    ).select(
        *group_cols, *ties, F.col(value_col).alias("__v"), wt.alias("__w")
    )
    if bands <= 1:
        # degenerate single band (test/debug escape): per-group windows
        # revert to one task per group — never use at scale
        banded = base.withColumn("__band", F.lit(0))
    else:
        band_qs = [i / bands for i in range(1, bands)]
        # low-accuracy sketch on purpose: band cuts only load-balance —
        # any monotone partition of the value axis yields the identical
        # result (band-count invariance is unit-tested), so the cheap
        # sketch beats a tight one scanned at full precision. The ≤
        # bands-1 cut values are COLLECTED (a bounded driver scalar,
        # the IVF-quantizer precedent) and inlined as comparison
        # literals: the old broadcast-crossJoin +
        # size(filter(array, c -> c < v)) ranked each row through an
        # interpreted per-element lambda (~2·|rows|·bands lambda evals
        # — the dominant q132 cost at sf0.1), while the indicator sum
        # below stays in whole-stage codegen. Any float drift in the
        # literal round-trip only MOVES a cut, which band-invariance
        # makes output-neutral; equal values still band together
        # because the band is a pure function of the value.
        import math

        row = base.agg(
            F.percentile_approx("__v", band_qs, 100).alias("__cuts")
        ).first()
        cuts = list(row["__cuts"] or []) if row is not None else []
        # a non-finite cut has no SQL double literal; dropping it just
        # coarsens the banding (output-identical by band invariance)
        cuts = [c for c in cuts if math.isfinite(float(c))]
        if not cuts:
            banded = base.withColumn("__band", F.lit(0))
        else:
            band_expr = "+".join(
                f"CAST({float(c)!r}D < __v AS INT)" for c in cuts
            )
            banded = base.withColumn("__band", F.expr(band_expr))
    w_run = (
        Window.partitionBy(*group_cols, "__band")
        .orderBy(F.col("__v"), *[F.col(c) for c in ties])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inner = banded.withColumn("__inner", F.sum("__w").over(w_run))
    totals = banded.groupBy(*group_cols, "__band").agg(
        F.sum("__w").alias("__bt")
    )
    w_prefix = (
        Window.partitionBy(*group_cols)
        .orderBy("__band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        *group_cols,
        "__band",
        F.coalesce(F.sum("__bt").over(w_prefix), F.lit(0.0)).alias(
            "__prefix"
        ),
        F.sum("__bt").over(w_grp).alias("__tot"),
    )
    marked = inner.join(
        F.broadcast(offsets), [*group_cols, "__band"]
    ).withColumn("__cum", F.col("__prefix") + F.col("__inner"))
    qlist = list(qs) if qs is not None else [q]
    names = (
        ["wq"] if qs is None else [f"wq_{i}" for i in range(len(qlist))]
    )
    # rows below EVERY threshold can be dropped before the aggregate
    # (the single-q path's old where-filter, generalized); each
    # quantile is then a conditional min over the survivors — min over
    # a filtered set equals min(when(cond, v)), value-identical
    marked = marked.where(
        F.col("__cum") >= F.lit(min(qlist)) * F.col("__tot")
    )
    return marked.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(
                    F.col("__cum") >= F.lit(qq) * F.col("__tot"),
                    F.col("__v"),
                )
            ).alias(name)
            for qq, name in zip(qlist, names)
        ],
        F.first("__tot").alias("total_w"),
    )
