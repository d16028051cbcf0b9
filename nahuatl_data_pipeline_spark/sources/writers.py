"""Sinks (S12-S16, SURVEY.md §2.1).

- JSONL: Spark's json writer omits null keys and keeps UTF-8 unescaped —
  matching the reference's ``ensure_ascii=False`` + drop-None dict write
  (``src/pipeline/unify.py:331-340``).
- Parquet: overwrite-mode columnar write (``SparkDedup.scala:76-78``,
  ``scripts/convert_to_parquet.py:5-18``).
- Split writer: one job, ``partitionBy(split)`` — the three gold splits
  land in one pass instead of three scans (the reference's Airflow DAG ran
  three parallel split tasks; partitioned write subsumes them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S12: JSONL sink, UTF-8, nulls omitted per line."""
    df.write.mode(mode).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """S13/S15: parquet sink (works unchanged against s3a:// URIs)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_splits(
    df: DataFrame, out_dir: str, split_col: str = "split", fmt: str = "parquet"
) -> None:
    """Gold-layer split writer: single pass, hive-partitioned by split.

    Readers address one split via partition pruning
    (``{out_dir}/split=train``) without scanning the others.
    """
    w = df.write.mode("overwrite").partitionBy(split_col)
    if fmt == "parquet":
        w.parquet(out_dir)
    elif fmt == "json":
        w.json(out_dir)
    elif fmt == "orc":
        w.orc(out_dir)
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def convert_jsonl_to_parquet(
    spark: SparkSession, src: str, dst: str
) -> None:
    """S16: bulk JSONL→Parquet conversion (convert_to_parquet.py:5-18) —
    a schema-pinned scan piped straight into a columnar write."""
    from nahuatl_data_pipeline_spark.schemas import LEGACY_INPUT_SCHEMA

    spark.read.schema(LEGACY_INPUT_SCHEMA).json(src).drop(
        "_corrupt_record"
    ).write.mode("overwrite").parquet(dst)


def write_range_sorted(
    df: DataFrame,
    path: str,
    order_col: str,
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, within-file-sorted parquet — the data-skipping
    layout for read patterns that filter on ``order_col`` (time ranges,
    id ranges).

    ``repartitionByRange`` samples global range boundaries and gives
    each output file a DISJOINT slice of the key space;
    ``sortWithinPartitions`` then orders rows inside each file, so every
    parquet row group carries tight min/max statistics. A later
    filtered scan prunes whole files (footer min/max) and row groups
    (predicate pushdown) instead of reading the dataset — the
    clustered-layout half of partition pruning, for columns too
    high-cardinality to be directory partitions. The range exchange is
    the one deliberate shuffle: paid once at write, repaid on every
    selective read.
    """
    from pyspark.sql import functions as F

    (
        df.repartitionByRange(num_files, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value(df, cols: list[str], bits_per_dim: int = 16):
    """Z-order (Morton) interleave Column over 2+ numeric/timestamp
    columns: each dim is min-max normalized to ``bits_per_dim`` bits via
    ONE 1-row stats aggregate (broadcast back — no window, no global
    sort), then bit-interleaved with a statically unrolled shift/or
    expression that stays in whole-stage codegen.

    Returns (df_with_stats, zval_column) — the stats crossJoin adds the
    per-dim min/max as literal-like broadcast columns.

    ``bits_per_dim`` is clamped so the interleaved code fits in the 63
    value bits of a signed long: at 4 columns the 16-bit default would
    shift into the sign bit (negative z-values sort FIRST, breaking the
    curve), and at 5+ the JVM shift count wraps mod 64, colliding high
    bits into low — both silent layout corruptions, so the clamp is
    automatic (e.g. 4 cols → 15 bits, 6 cols → 10 bits).
    """
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 cluster columns")
    bits_per_dim = min(bits_per_dim, 63 // len(cols))
    aggs = []
    for c in cols:
        v = F.col(c).cast("double")
        aggs += [F.min(v).alias(f"__zmin_{c}"), F.max(v).alias(f"__zmax_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    max_code = (1 << bits_per_dim) - 1
    zval = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        lo, hi = F.col(f"__zmin_{c}"), F.col(f"__zmax_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        code = F.least(
            F.lit(max_code),
            F.floor(
                (F.col(c).cast("double") - lo) / span * (max_code + 1)
            ).cast("long"),
        )
        for b in range(bits_per_dim):
            bit = F.shiftright(code, b).bitwiseAND(F.lit(1))
            zval = zval.bitwiseOR(
                F.shiftleft(bit, b * len(cols) + d)
            )
    return out, zval


def write_zordered(
    df,
    path: str,
    cluster_cols: list[str],
    num_files: int = 8,
    mode: str = "overwrite",
    bits_per_dim: int = 16,
) -> None:
    """Multi-dimensional clustered parquet layout: rows sorted by a
    Z-order (Morton) curve over ``cluster_cols``, so EVERY clustered
    column gets usable per-file/row-group min-max statistics — the
    multi-column generalization of :func:`write_range_sorted` (which
    gives one column tight stats and leaves the rest full-range in every
    file). The Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout, expressed as
    plain Spark: normalize → interleave bits → repartitionByRange +
    sortWithinPartitions on the z-value. One write-time shuffle buys
    file skipping on selective reads against ANY clustered dim.
    """
    from pyspark.sql import functions as F

    tagged, zval = zorder_value(df, cluster_cols, bits_per_dim=bits_per_dim)
    (
        tagged.withColumn("__zval", zval)
        .repartitionByRange(num_files, F.col("__zval"))
        .sortWithinPartitions("__zval")
        .select(*df.columns)
        .write.mode(mode)
        .parquet(path)
    )
