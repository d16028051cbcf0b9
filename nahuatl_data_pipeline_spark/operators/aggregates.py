"""Aggregation operators (SURVEY.md §2.5, §2.6).

Everything here is a single groupBy/agg pass (map-side partial agg +
one shuffle). The corpus statistics mirror
``benchmark/generate_stats.py`` and ``pipeline/validation/metrics.py``;
the time-series rollups mirror ``sql/queries/quality_trends.sql`` and the
``sql/schema.sql`` views.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import macron_count, tokens


def language_counts(
    df: DataFrame, lang_cols: tuple[str, ...] = ("es", "nah", "myn")
) -> DataFrame:
    """A1: non-null counts per language column, one pass
    (unify.py:117-118, generate_stats.py:184-189)."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        *[
            F.count(F.when(F.col(c).isNotNull(), 1)).cast("long").alias(f"n_{c}")
            for c in lang_cols
        ],
    )


def null_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """A2: null count + null rate per column in one aggregate pass
    (generate_stats.py:85-88)."""
    total = F.count(F.lit(1))
    aggs: list[Column] = [total.cast("long").alias("total")]
    for c in cols:
        nulls = F.sum(F.col(c).isNull().cast("long"))
        aggs.append(nulls.cast("long").alias(f"nulls_{c}"))
        aggs.append(F.round(nulls / total, 6).alias(f"null_rate_{c}"))
    return df.agg(*aggs)


def length_stats(df: DataFrame, col: str, group_by: str | None = None) -> DataFrame:
    """A4: count/avg/min/max/stddev of text length
    (generate_stats.py:93-105). Median deliberately via exact
    ``percentile`` (not approx) so results are engine-reproducible."""
    length = F.length(F.col(col))
    aggs = [
        F.count(length).cast("long").alias("n"),
        F.round(F.avg(length), 4).alias("avg_len"),
        F.min(length).cast("long").alias("min_len"),
        F.max(length).cast("long").alias("max_len"),
        F.round(F.stddev(length), 4).alias("stddev_len"),
        F.round(F.expr(f"percentile(length({col}), 0.5)"), 4).alias("median_len"),
    ]
    if group_by:
        return df.groupBy(group_by).agg(*aggs)
    return df.agg(*aggs)


def top_k(df: DataFrame, col: str, k: int = 10) -> DataFrame:
    """A5: top-k frequency (generate_stats.py:128-147). Spark plans
    TakeOrderedAndProject — no full sort of the grouped output."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
        .orderBy(F.desc("count"), F.asc(col))
        .limit(k)
    )


def unicode_char_stats(df: DataFrame, col: str) -> DataFrame:
    """A6: macron totals + saltillo counts + presence flags in one pass
    (generate_stats.py:22-70)."""
    saltillo = "[ʼ'’`ʔ]"
    c = F.col(col)
    return df.agg(
        F.sum(F.coalesce(macron_count(c), F.lit(0))).cast("long").alias("macron_total"),
        F.sum(
            F.coalesce(
                F.length(c) - F.length(F.regexp_replace(c, saltillo, "")), F.lit(0)
            )
        )
        .cast("long")
        .alias("saltillo_total"),
        F.max(c.rlike("[āēīōū]").cast("int")).alias("has_macron"),
        F.count(F.when(c.rlike("[āēīōū]"), 1)).cast("long").alias("rows_with_macron"),
    )


def type_token_ratio(df: DataFrame, col: str, group_by: str | None = None) -> DataFrame:
    """A7: |distinct tokens| / |tokens| (metrics.py:9-20).

    explode → two counts. countDistinct is exact (the reference's set() is
    exact); swap to approx_count_distinct at extreme scale if ±2% is fine.
    """
    tok = df.select(
        *( [F.col(group_by)] if group_by else [] ),
        F.explode(tokens(col)).alias("token"),
    )
    aggs = [
        F.count("token").cast("long").alias("n_tokens"),
        F.countDistinct("token").cast("long").alias("n_types"),
        F.round(F.countDistinct("token") / F.count("token"), 6).alias("ttr"),
    ]
    if group_by:
        return tok.groupBy(group_by).agg(*aggs)
    return tok.agg(*aggs)


def daily_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """A8: GROUP BY date(ts), keys → AVG/MIN/MAX/STDDEV/COUNT
    (quality_trends.sql:18-30)."""
    v = F.col(value_col)
    return df.groupBy(
        F.to_date(F.col(ts_col)).alias("date"), *group_cols
    ).agg(
        F.round(F.avg(v), 4).alias("avg_value"),
        F.round(F.min(v), 4).alias("min_value"),
        F.round(F.max(v), 4).alias("max_value"),
        F.round(F.coalesce(F.stddev(v), F.lit(0.0)), 4).alias("stddev_value"),
        F.count(v).cast("long").alias("n_measurements"),
    )


def moving_average_trend(
    daily: DataFrame,
    group_cols: list[str],
    value_col: str = "avg_value",
    date_col: str = "date",
    window_days: int = 7,
) -> DataFrame:
    """W1+W2: 7-row moving average + LAG(value, 7) trend arrows
    (quality_trends.sql:41-58). ROWS BETWEEN matches the reference's frame
    exactly (it is rows, not range)."""
    w = Window.partitionBy(*group_cols).orderBy(date_col)
    ma = F.avg(value_col).over(w.rowsBetween(-(window_days - 1), 0))
    prev = F.lag(value_col, window_days).over(w)
    trend = (
        F.when(prev.isNull(), F.lit("→"))
        .when(F.col(value_col) > prev * 1.05, F.lit("↑"))
        .when(F.col(value_col) < prev * 0.95, F.lit("↓"))
        .otherwise(F.lit("→"))
    )
    return daily.select(
        date_col,
        *group_cols,
        value_col,
        F.round(ma, 4).alias(f"ma_{window_days}d"),
        F.round(prev, 4).alias(f"value_{window_days}d_ago"),
        trend.alias("trend"),
    )


def latest_per_group(
    df: DataFrame, group_cols: list[str], order_col: str
) -> DataFrame:
    """W3/J2: latest row per group — the `latest_quality_metrics` view
    (schema.sql:171-187). row_number, not a self-join against MAX."""
    w = Window.partitionBy(*group_cols).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
