"""Metadata store + analytical views (``sql/schema.sql``,
``sql/queries/quality_trends.sql``) re-expressed on Spark.

The reference keeps run tracking in SQLite (8 tables, 4 views, 1 trigger).
Here the store is parquet-backed Spark tables: appends are atomic file
adds, and the SQLite "UPDATE status" (``src/pipeline/unify_v2.py:190-282``)
becomes an append of a new row-version + a latest-row-per-run view — the
lakehouse CDC idiom (no in-place mutation at 100 TB).

The four views are DataFrame functions; ``quality_trends`` is the
windowed-trend query (CTE daily → agg → 7-day MA + LAG) ported
operator-for-operator.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.operators.aggregates import (
    daily_rollup,
    latest_per_group,
    moving_average_trend,
)
from nahuatl_data_pipeline_spark.schemas import (
    CONFIG_AUDIT_SCHEMA,
    DATA_LINEAGE_SCHEMA,
    DATASET_SNAPSHOTS_SCHEMA,
    DEDUPLICATION_LOG_SCHEMA,
    PIPELINE_RUNS_SCHEMA,
    QUALITY_METRICS_SCHEMA,
    UNICODE_STATS_SCHEMA,
    VALIDATION_ERRORS_SCHEMA,
)


# --------------------------------------------------------------------------
# views (schema.sql:171-231)
# --------------------------------------------------------------------------


def current_runs(runs: DataFrame) -> DataFrame:
    """Latest version per run_id (replaces SQLite in-place UPDATE).

    The start row and its terminal (success/failed) row share a
    started_at, so version order is (started_at, has-ended, ended_at):
    a terminal row always supersedes the 'running' row it completes.
    """
    versioned = runs.withColumn(
        "__ver",
        F.struct(
            F.col("started_at"),
            F.col("ended_at").isNotNull().cast("int").alias("__done"),
            F.col("ended_at"),
        ),
    )
    return latest_per_group(versioned, ["run_id"], "__ver").drop("__ver")


def latest_quality_metrics(runs: DataFrame, metrics: DataFrame) -> DataFrame:
    """View `latest_quality_metrics` (schema.sql:171-187): metrics of the
    most recent successful run. The correlated scalar subquery becomes a
    rank-1 window + broadcast-friendly equi-join (J1+J2+W3)."""
    latest_success = (
        current_runs(runs)
        .filter(F.col("status") == "success")
        .withColumn(
            "__rn",
            # run_id tiebreak: two runs can share a started_at — the pick
            # must not depend on partition order
            F.row_number().over(
                Window.orderBy(F.desc("started_at"), F.asc("run_id"))
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("run_id", "pipeline_name", "started_at")
    )
    return metrics.join(F.broadcast(latest_success), "run_id", "inner").select(
        "metric_name",
        "metric_value",
        "metric_unit",
        "dataset_split",
        "measured_at",
        "pipeline_name",
        "started_at",
    )


def quality_trends_view(metrics: DataFrame) -> DataFrame:
    """View `quality_trends` (schema.sql:189-201): daily AVG/MIN/MAX per
    metric name + split."""
    return daily_rollup(
        metrics, "measured_at", "metric_value", ["metric_name", "dataset_split"]
    )


def pipeline_performance(runs: DataFrame) -> DataFrame:
    """View `pipeline_performance` (schema.sql:203-214): per pipeline per
    day — run counts, success/failure conditional sums, avg duration,
    record throughput."""
    r = current_runs(runs)
    ok = F.sum(F.when(F.col("status") == "success", 1).otherwise(0))
    fail = F.sum(F.when(F.col("status") == "failed", 1).otherwise(0))
    return r.groupBy(
        F.to_date("started_at").alias("run_date"), "pipeline_name"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total_runs"),
        ok.cast("long").alias("successful_runs"),
        fail.cast("long").alias("failed_runs"),
        F.round(F.avg("duration_seconds"), 2).alias("avg_duration_seconds"),
        F.sum("records_output").cast("long").alias("total_records_output"),
    )


def data_lineage_summary(lineage: DataFrame) -> DataFrame:
    """View `data_lineage_summary` (schema.sql:216-231): validity rate per
    source type/layer with the NULLIF(0) division guard (A10)."""
    return lineage.groupBy("source_type", "source_layer").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("records_ingested").cast("long").alias("records_ingested"),
        F.sum("records_valid").cast("long").alias("records_valid"),
        F.round(
            100.0
            * F.sum("records_valid")
            / F.nullif(F.sum("records_ingested"), F.lit(0)),
            2,
        ).alias("validity_pct"),
    )


def quality_trends(
    runs: DataFrame, metrics: DataFrame, lookback_days: int = 30
) -> DataFrame:
    """The full `quality_trends.sql` query: successful-run metrics from the
    last N days → daily rollup → 7-day moving average + LAG(7) trend."""
    cutoff = F.date_sub(F.current_date(), lookback_days)
    joined = metrics.join(
        F.broadcast(
            current_runs(runs).filter(F.col("status") == "success").select("run_id")
        ),
        "run_id",
        "inner",
    ).filter(F.to_date("measured_at") >= cutoff)
    daily = daily_rollup(
        joined, "measured_at", "metric_value", ["metric_name", "dataset_split"]
    )
    return moving_average_trend(daily, ["metric_name", "dataset_split"])


def register_metadata_views(
    spark: SparkSession, runs: DataFrame, metrics: DataFrame, lineage: DataFrame
) -> None:
    """Register tables + the four views as temp views so the reference's
    `.sql` analytics run nearly verbatim under ``spark.sql`` (§3.3)."""
    runs.createOrReplaceTempView("pipeline_runs")
    metrics.createOrReplaceTempView("quality_metrics")
    lineage.createOrReplaceTempView("data_lineage")
    latest_quality_metrics(runs, metrics).createOrReplaceTempView(
        "latest_quality_metrics"
    )
    quality_trends_view(metrics).createOrReplaceTempView("quality_trends")
    pipeline_performance(runs).createOrReplaceTempView("pipeline_performance")
    data_lineage_summary(lineage).createOrReplaceTempView("data_lineage_summary")


# --------------------------------------------------------------------------
# run tracking (S14; unify_v2.py:190-282, utils/db.py:161-227)
# --------------------------------------------------------------------------


@dataclass
class MetadataStore:
    """Parquet-backed run tracker. start/complete/fail append row-versions;
    ``runs()``/``current()`` read them back."""

    spark: SparkSession
    base_dir: str
    # per-run generated start timestamps (complete_run/fail_run defaults)
    _run_started: dict = field(default_factory=dict)

    @property
    def _runs_path(self) -> str:
        return f"{self.base_dir}/pipeline_runs"

    @property
    def _metrics_path(self) -> str:
        return f"{self.base_dir}/quality_metrics"

    def _append(self, rows: list[dict], schema, path: str) -> None:
        self.spark.createDataFrame(
            [tuple(r.get(f.name) for f in schema.fields) for r in rows], schema
        ).write.mode("append").parquet(path)

    def start_run(
        self, pipeline_name: str, config: dict | None = None, started_at=None
    ) -> str:
        """Row-versions of one run must share ``started_at`` so the
        (started_at, has-ended) version order resolves correctly. The
        store REMEMBERS the timestamp it generated per run_id, and
        complete_run/fail_run default to it — callers only pass
        started_at explicitly when resuming a run across processes."""
        run_id = str(uuid.uuid4())
        started_at = started_at or _now()
        self._run_started[run_id] = started_at
        self._append(
            [
                {
                    "run_id": run_id,
                    "pipeline_name": pipeline_name,
                    "started_at": started_at,
                    "status": "running",
                    "config_snapshot": json.dumps(config or {}),
                }
            ],
            PIPELINE_RUNS_SCHEMA,
            self._runs_path,
        )
        return run_id

    def _started_at_for(self, run_id: str, started_at):
        if started_at is not None:
            return started_at
        if run_id not in self._run_started:
            raise ValueError(
                f"run {run_id} was not started by this store instance; "
                "pass started_at explicitly"
            )
        return self._run_started[run_id]

    def complete_run(
        self,
        run_id: str,
        pipeline_name: str,
        started_at=None,
        counts: dict[str, int] | None = None,
    ) -> None:
        started_at = self._started_at_for(run_id, started_at)
        ended = _now()
        counts = counts or {}
        self._append(
            [
                {
                    "run_id": run_id,
                    "pipeline_name": pipeline_name,
                    "started_at": started_at,
                    "ended_at": ended,
                    "status": "success",
                    "records_input": counts.get("input"),
                    "records_output": counts.get("output"),
                    "records_filtered": counts.get("filtered"),
                    # duration trigger (schema.sql:238-247) computed inline
                    "duration_seconds": (ended - started_at).total_seconds(),
                }
            ],
            PIPELINE_RUNS_SCHEMA,
            self._runs_path,
        )

    def fail_run(
        self, run_id: str, pipeline_name: str, error: str, started_at=None
    ) -> None:
        started_at = self._started_at_for(run_id, started_at)
        ended = _now()
        self._append(
            [
                {
                    "run_id": run_id,
                    "pipeline_name": pipeline_name,
                    "started_at": started_at,
                    "ended_at": ended,
                    "status": "failed",
                    "error_message": error[:2000],
                    "duration_seconds": (ended - started_at).total_seconds(),
                }
            ],
            PIPELINE_RUNS_SCHEMA,
            self._runs_path,
        )

    def log_metrics(
        self, run_id: str, metrics: dict[str, float], dataset_split: str = "all"
    ) -> None:
        now = _now()
        self._append(
            [
                {
                    "run_id": run_id,
                    "metric_name": k,
                    "metric_value": float(v),
                    "dataset_split": dataset_split,
                    "measured_at": now,
                }
                for k, v in metrics.items()
            ],
            QUALITY_METRICS_SCHEMA,
            self._metrics_path,
        )

    # --- remaining schema.sql tables (unicode_stats :73-86,
    # validation_errors :92-106, deduplication_log :112-124,
    # dataset_snapshots :130-146, config_audit :152-162) ---------------

    def log_unicode_stats(self, run_id: str, df: DataFrame, column: str) -> None:
        """Compute + persist the A6 unicode statistics of one text column
        (one aggregate pass over df)."""
        from nahuatl_data_pipeline_spark.operators.aggregates import (
            unicode_char_stats,
        )

        row = unicode_char_stats(df, column).collect()[0]
        self._append(
            [
                {
                    "run_id": run_id,
                    "column_name": column,
                    "macron_total": row["macron_total"],
                    "saltillo_total": row["saltillo_total"],
                    "rows_with_macron": row["rows_with_macron"],
                    "measured_at": _now(),
                }
            ],
            UNICODE_STATS_SCHEMA,
            f"{self.base_dir}/unicode_stats",
        )

    def log_validation_errors(self, run_id: str, errors: list[dict]) -> None:
        """errors: [{error_type, error_message, record_context(JSON str)}]"""
        now = _now()
        self._append(
            [{**e, "run_id": run_id, "occurred_at": now} for e in errors],
            VALIDATION_ERRORS_SCHEMA,
            f"{self.base_dir}/validation_errors",
        )

    def log_dedup(
        self, run_id: str, strategy: str, before: int, after: int
    ) -> None:
        self._append(
            [
                {
                    "run_id": run_id,
                    "strategy": strategy,
                    "records_before": before,
                    "records_after": after,
                    "duplicates_removed": before - after,
                    "duplicate_rate": (before - after) / before if before else 0.0,
                    "logged_at": _now(),
                }
            ],
            DEDUPLICATION_LOG_SCHEMA,
            f"{self.base_dir}/deduplication_log",
        )

    def snapshot_dataset(
        self, run_id: str, name: str, df: DataFrame, layer: str | None = None
    ) -> None:
        """Record count + content checksum of a dataset version: sum of
        per-row hash buckets (pmod 2^31) accumulated in DECIMAL, reported
        mod 2^63 — order-insensitive, distributed, and overflow-safe
        under ANSI mode (a bigint sum would overflow past ~2^32 rows and
        abs(Long.MIN_VALUE) would throw; pmod+decimal can't)."""
        agg = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.pmod(F.xxhash64(*df.columns), F.lit(2**31)).cast(
                    "decimal(38,0)"
                )
            ).alias("h"),
        ).collect()[0]
        self._append(
            [
                {
                    "run_id": run_id,
                    "dataset_name": name,
                    "layer": layer,
                    "record_count": agg["n"],
                    "checksum": str(
                        int(agg["h"]) % (2**63) if agg["h"] is not None else 0
                    ),
                    "snapshot_at": _now(),
                }
            ],
            DATASET_SNAPSHOTS_SCHEMA,
            f"{self.base_dir}/dataset_snapshots",
        )

    def audit_config(
        self, run_id: str, changes: dict[str, tuple[str | None, str | None]]
    ) -> None:
        """changes: {key: (old, new)}"""
        now = _now()
        self._append(
            [
                {
                    "run_id": run_id,
                    "config_key": k,
                    "old_value": old,
                    "new_value": new,
                    "changed_at": now,
                }
                for k, (old, new) in changes.items()
            ],
            CONFIG_AUDIT_SCHEMA,
            f"{self.base_dir}/config_audit",
        )

    def table(self, name: str) -> DataFrame:
        """Read back any metadata table by its schema.sql name."""
        schemas = {
            "pipeline_runs": PIPELINE_RUNS_SCHEMA,
            "quality_metrics": QUALITY_METRICS_SCHEMA,
            "unicode_stats": UNICODE_STATS_SCHEMA,
            "validation_errors": VALIDATION_ERRORS_SCHEMA,
            "deduplication_log": DEDUPLICATION_LOG_SCHEMA,
            "dataset_snapshots": DATASET_SNAPSHOTS_SCHEMA,
            "data_lineage": DATA_LINEAGE_SCHEMA,
            "config_audit": CONFIG_AUDIT_SCHEMA,
        }
        return self.spark.read.schema(schemas[name]).parquet(
            f"{self.base_dir}/{name}"
        )

    def runs(self) -> DataFrame:
        return self.spark.read.schema(PIPELINE_RUNS_SCHEMA).parquet(self._runs_path)

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(QUALITY_METRICS_SCHEMA).parquet(
            self._metrics_path
        )

    def current(self) -> DataFrame:
        return current_runs(self.runs())


def _now():
    import datetime

    return datetime.datetime.fromtimestamp(time.time())
