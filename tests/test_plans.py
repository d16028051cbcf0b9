"""Physical-plan regression tests (SURVEY.md §4): the properties that make
these queries survive a 100× scale-up must not silently regress —
pushdown reaching the scan, column pruning, dimension broadcasts, and
single-shuffle aggregation/dedup."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from nahuatl_data_pipeline_spark import registry
from tests.conftest import SF_ORACLE


def plan_of(spark, name: str) -> str:
    return (
        registry.queries()[name](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q01_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan reads only the 7 needed columns of 11 (ReadSchema pruning)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan and "l_shipdate" in scan


def test_q02_dimension_broadcast(spark):
    # No forced hint on customer: at this size the PLANNER picks the
    # broadcast from parquet statistics, which is the contract — small
    # enough → broadcast, too big → shuffle (tested below).
    plan = plan_of(spark, "q02_top_customers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # orders must not shuffle for the join


@contextmanager
def _no_auto_broadcast(spark):
    """Disable planner auto-broadcast so any BroadcastExchange left in
    the plan can only come from a forced ``F.broadcast`` hint — the
    test_similarity.py adversarial setup. Simulates the 100 TB regime
    where ``customer`` no longer fits under the threshold."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scaling_dim_joins_degrade_to_shuffle_when_too_big(spark):
    """q02/q09/q72/q89 join ``customer``, a dimension that GROWS with
    scale factor — it must carry no forced broadcast hint. With
    auto-broadcast off (= customer over the threshold) the customer
    join must degrade to a shuffle join; only the fixed-size
    nation/region hints may broadcast."""
    with _no_auto_broadcast(spark):
        plan = plan_of(spark, "q02_top_customers")
        assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan

        for name, forced_hints in [
            ("q09_revenue_by_nation_region", 2),  # nation + region
            ("q72_revenue_rollup", 2),
            ("q89_status_region_cube", 2),
        ]:
            plan = plan_of(spark, name)
            assert "SortMergeJoin" in plan, name  # the customer join
            assert plan.count("BroadcastHashJoin") == forced_hints, name


def test_q09_all_dims_broadcast_fact_never_shuffles_before_agg(spark):
    plan = plan_of(spark, "q09_revenue_by_nation_region")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # the only hash exchange is the final 25-group aggregate
    exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "Broadcast" not in l
    ]
    assert len(exchanges) == 1, exchanges


def test_q28_watermark_pushdown(spark):
    plan = plan_of(spark, "q28_watermark_scan")
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThan(o_orderdate" in plan


def test_q10_dedup_single_shuffle(spark):
    plan = plan_of(spark, "q10_doc_exact_dedup")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q16_split_rank_is_distributed(spark):
    """VERDICT r1 scale-killer fix: the exact-split rank must never funnel
    the data through one task."""
    plan = plan_of(spark, "q16_seeded_split")
    # data-path row_number window is partitioned by the hash-prefix bucket
    assert "Exchange hashpartitioning(__split_b" in plan
    # the ONLY single-partition exchange is the tiny per-bucket counts
    # table feeding the BroadcastExchange — never the data path
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastExchange" in plan


def test_q48_llm_stage_pushdown_and_map_only(spark):
    plan = plan_of(spark, "q48_llm_distill")
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # external-call stage is map-only


def test_q49_normalize_rules_single_codegen_projection(spark):
    plan = plan_of(spark, "q49_normalize_rules")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "Exchange" not in plan  # six rule columns, one scan, no shuffle


def test_q52_asof_single_shuffle(spark):
    plan = plan_of(spark, "q52_asof_join")
    # union + per-user window: one data shuffle (plus the checkpoint
    # aggregate's own); never a range nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q55_training_mix_is_shuffle_free(spark):
    plan = plan_of(spark, "q55_training_mix")
    assert "Exchange" not in plan  # pure narrow filter + project
    assert "FileScan parquet" in plan


def test_q34_quality_suite_single_scan(spark):
    """The whole expectation suite must read the table once."""
    plan = plan_of(spark, "q34_quality_suite")
    assert plan.count("FileScan parquet") == 1


def test_q06_scalar_subquery_broadcast(spark):
    plan = plan_of(spark, "q06_max_price_order")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_gold_partition_pruning(spark, tmp_path):
    """A split=... filter on the partitioned gold layout must prune at the
    file-index level (PartitionFilters), reading zero non-train files."""
    from nahuatl_data_pipeline_spark.sources.writers import write_splits

    df = spark.createDataFrame(
        [(f"es{i}", "train" if i % 10 else "test") for i in range(100)],
        "es string, split string",
    )
    out = str(tmp_path / "gold")
    write_splits(df, out)
    import pyspark.sql.functions as F

    scan = spark.read.parquet(out).filter(F.col("split") == "train")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan and "split" in plan
    assert scan.count() == 90


def test_q59_pii_stays_in_codegen(spark):
    """PII redaction is regexp codegen end-to-end: one scan projection,
    no exchange, no Python evaluation."""
    plan = plan_of(spark, "q59_pii_redaction")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(1) Project" in plan  # whole-stage-codegen span over the scan


def test_q61_eval_side_broadcast(spark):
    """Decontamination probes the (tiny) benchmark shingle set via
    broadcast — the 100 TB train side must not shuffle for the join."""
    plan = plan_of(spark, "q61_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q60_repetition_signals_single_scan_no_shuffle(spark):
    """Both mode fractions are computed inside the row, so the gate is
    one projection over one scan. The tokenizer runs in that projection
    and in the ``n_tokens >= 2`` filter pushed below it (the scan line
    only echoes the filter); the groupBy form ran it 11 times."""
    plan = plan_of(spark, "q60_repetition_signals")
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.count("FileScan parquet") == 1
    ops = [l for l in plan.splitlines() if "FileScan" not in l]
    assert sum(l.count("split(trim(lower(text") for l in ops) == 2


def test_q62_c4_rules_single_scan_no_shuffle(spark):
    plan = plan_of(spark, "q62_c4_rules")
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1


def test_q67_packing_rank_is_distributed(spark):
    """Sequence packing's global prefix sum must never funnel the data
    through one task: the only single-partition exchange allowed is the
    tiny bucket-offsets side (which is then broadcast)."""
    plan = plan_of(spark, "q67_sequence_packing")
    assert "BroadcastHashJoin" in plan
    # the data-side window partitions by the hash-prefix bucket, so a
    # hashpartitioning exchange on __pack_b must exist...
    assert "hashpartitioning(__pack_b" in plan
    # ...and any SinglePartition exchange may only feed the broadcast
    # offsets table, never the ranked data side (the data side carries
    # the text column; the offsets side is aggregated counts only)
    data_side = plan.split("BroadcastHashJoin")[0]
    assert "Exchange SinglePartition" not in data_side


def test_q68_line_dedup_keep_first_is_partial_agg(spark):
    """Keep-first must be a hash aggregation with map-side combine
    (partial_min), never a row_number window sorting each sentence key
    in one task."""
    plan = plan_of(spark, "q68_line_dedup")
    assert "partial_min" in plan
    assert "row_number" not in plan


def test_q66_incremental_dedup_no_cartesian(spark):
    """Cross-snapshot dedup must stay bucket-joined: no cartesian or
    nested-loop product between batch and snapshot."""
    plan = plan_of(spark, "q66_incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q146_chunking_zero_shuffle(spark):
    """token_window_chunks claims zero shuffle and no Python boundary:
    the whole query must be scan → codegen projections/explodes."""
    plan = plan_of(spark, "q146_token_window_chunks")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_q148_resample_rates_broadcast_corpus_never_sorts(spark):
    """match_distribution: the strata-bounded rate table broadcasts onto
    the corpus (no sort-merge join), and the kept-set filter adds no
    exchange beyond the two bucket aggregates + rate windows."""
    plan = plan_of(spark, "q148_length_matched_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q151_outlier_topk_never_global_sorts(spark):
    """mahalanobis_outliers: top-k must plan as TakeOrderedAndProject
    (per-task heaps + driver merge), never a global Sort."""
    plan = plan_of(spark, "q151_embedding_outliers")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # 64-row moment table broadcast


def test_q150_vocab_broadcast_onto_occurrences(spark):
    """vocab_coverage: the ≤V-row vocabulary must broadcast onto the
    occurrence stream — the occurrences never sort-merge."""
    plan = plan_of(spark, "q150_vocab_oov_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_spread_narrow_contract(spark):
    """spread_narrow (r13 verdict #3): the split-count probe must never
    run a Spark job. (a) An exchange-bearing input (join/aggregate
    output) passes through UNPROBED — no AQE stage materialization, no
    job; (b) on a raw-scan input the probe itself also executes ZERO
    jobs. Both legs are asserted with a dedicated job group."""
    from nahuatl_data_pipeline_spark.functions.spread import spread_narrow
    from nahuatl_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    sc = spark.sparkContext
    group = "spread-probe-test"
    sc.setJobGroup(group, "spread_narrow must be job-free")
    try:
        # (a) aggregate output: returned unchanged, never probed
        shuffled = docs.groupBy("source").count()
        assert spread_narrow(shuffled) is shuffled
        # (b) raw scan: probed (pure metadata), spread applied lazily
        out = spread_narrow(docs.select("doc_id", "text"))
    finally:
        sc.setJobGroup(None, None)
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup(group) == [], (
        "spread_narrow ran a Spark job during its partition-count probe"
    )
    assert out.schema.fieldNames() == ["doc_id", "text"]


def test_spread_narrow_broadcast_join_is_not_a_shuffle(spark):
    """A BroadcastExchange is not a shuffle boundary: a narrow scan
    joined to a broadcast side is probed and spread like a bare scan,
    while the same join behind a shuffle still passes through."""
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.functions.spread import (
        _plan_has_exchange,
        spread_narrow,
    )
    from nahuatl_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    tags = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, tag string")
    joined = docs.join(F.broadcast(tags), "doc_id", "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert not _plan_has_exchange(joined)

    par = spark.sparkContext.defaultParallelism
    assert joined.rdd.getNumPartitions() < par  # sf0.01 docs: one split
    out = spread_narrow(joined)
    assert out is not joined and out.rdd.getNumPartitions() == par
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, joined.collect()))

    shuffled = joined.groupBy("tag").count()
    assert _plan_has_exchange(shuffled) and spread_narrow(shuffled) is shuffled
