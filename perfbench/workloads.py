"""The benchmark's workloads: how each builds its inputs, runs one
operation through the engine, checks its outputs, and how its traced run
splits an operation into layers.

A closed loop with a single client: the next operation starts when the
previous one returned. A *pass* is one round of the workload's
operations in a seed-fixed order: one full pipeline run for the two
pipelines, every query of the mix once for ``analytics_mix``.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass
from typing import Callable

from . import checks, inputs

# Input sizes, fixed so that items_per_s is work per second at a stated
# size. Both pipelines carry a large fixed per-op cost (planning, job
# scheduling) that dominates at these sizes; see README.md for the
# fixed and per-item shares measured at two sizes.
CORPUS_RECORDS = 20_000
CURATION_DOCS = 2_500
# the sf0.01 scale of the engine's testdata: per-query fixed cost dominates
ANALYTICS_LINEITEM_ROWS = 60_000


@dataclass(frozen=True)
class Workload:
    name: str
    size: int
    # untimed passes before measuring, the first in a cold JVM
    warmup_passes: int
    make_inputs: Callable[[int, int, str], dict]
    ops: Callable[[dict, int], list[str]]  # (truth, seed) -> the ops of one pass
    run: Callable  # (spark, truth, out_dir, op) -> stats dict or None
    check: Callable[[dict, dict], list[str]]  # (truth, stats) -> problems, per op
    # (spark, truth, out_dir, last stats) -> problems; once per run,
    # after the warm-up passes
    check_output: Callable
    # (tracer, spark, truth, out_dir, ops) -> stats of each op: one traced pass
    traced_pass: Callable
    layers: tuple[str, ...]  # layers reporting the counter set
    # (spans, truth, out_dir) -> the metrics some layers add
    extra_metrics: Callable[[list, dict, str], dict]


def _one_op(truth, seed):
    return ["pipeline"]


def _no_check(truth, stats):
    return []


def _pipeline_pass(targets: Callable[[], list], root_layer: str, run: Callable):
    """One traced pipeline run: the engine's functions ``targets`` names
    become spans under a root span."""

    def traced(tracer, spark, truth, out_dir, ops):
        from .trace import patched

        with patched(tracer, targets()):
            return [tracer.wrap(run, root_layer)(spark, truth, out_dir, ops[0])]

    return traced


# --- corpus_build ---------------------------------------------------------


def _run_corpus(spark, truth, out_dir, op):
    from nahuatl_data_pipeline_spark.pipeline import run_corpus_pipeline

    return run_corpus_pipeline(spark, truth["layer_dirs"], out_dir)


def _check_corpus_output(spark, truth, out_dir, stats):
    df = spark.read.parquet(out_dir).select("es", "nah", "myn", "split")
    return checks.check_corpus(truth, stats, [tuple(r) for r in df.collect()])


def _corpus_targets():
    from nahuatl_data_pipeline_spark import pipeline

    return [
        (pipeline, "read_layer_dir", "sources.readers"),
        (pipeline, "normalize_records", "functions.normalize"),
        (pipeline, "translation_pair_filter", "operators.filters"),
        (pipeline, "length_bounds_filter", "operators.filters"),
        (pipeline, "deduplicate", "operators.dedup"),
        (pipeline, "seeded_split", "operators.split"),
        (pipeline, "write_splits", "sources.writers"),
    ]


def _corpus_extras(spans, truth, out_dir):
    dedup = [sp for sp in spans if sp.name == "operators.dedup"]
    in_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d in truth["layer_dirs"].values() for f in os.listdir(d)
    )
    files = [
        os.path.join(root, f)
        for root, _, names in os.walk(out_dir) for f in names if f.startswith("part-")
    ]
    return {
        "operators.dedup.keep_ratio":
            sum(sp.rows_out for sp in dedup) / sum(sp.rows_in for sp in dedup),
        "sources.writers.files_written": len(files),
        "sources.writers.bytes_per_input_byte": sum(map(os.path.getsize, files)) / in_bytes,
    }


# --- neardup_curation -----------------------------------------------------


def _run_curation(spark, truth, out_dir, op):
    from nahuatl_data_pipeline_spark.plans.curation_pipeline import run_curation_pipeline

    docs = spark.read.parquet(truth["docs_path"])
    evalset = spark.read.parquet(truth["eval_path"])
    return run_curation_pipeline(spark, docs, out_dir, evalset=evalset)


def _check_curation_output(spark, truth, out_dir, stats):
    rows = spark.read.parquet(out_dir).select("doc_id", "text").collect()
    return checks.check_curation(truth, stats, [tuple(r) for r in rows])


def _curation_targets():
    from nahuatl_data_pipeline_spark.operators import fuzzy_dedup
    from nahuatl_data_pipeline_spark.plans import curation_pipeline as cp

    return [
        # redact_pii builds a Column, so its cost is timed where it is
        # first materialized: as the input of the C4 gate
        (cp, "c4_rule_flags", "operators.curation.c4", "functions.pii"),
        (cp, "repetition_signals", "operators.curation.repetition"),
        (cp, "ngram_jaccard_pairs", "operators.fuzzy_dedup.verify"),
        (fuzzy_dedup, "banded_candidate_pairs", "operators.fuzzy_dedup.candidates"),
        (cp, "duplicate_clusters", "operators.components"),
        (cp, "contamination_flags", "operators.curation.contamination"),
    ]


def _curation_extras(spans, truth, out_dir):
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import LAST_STATS

    verified = sum(sp.rows_out for sp in spans if sp.name == "operators.fuzzy_dedup.verify")
    return {
        "operators.fuzzy_dedup.verify.candidate_precision":
            verified / max(1, LAST_STATS.get("banded_candidates", 0)),
    }


# --- analytics_mix --------------------------------------------------------

# Corpus statistics, metadata views, and star/event rollups and windows;
# every query of the mix has a DuckDB oracle. Eight of them: a pass of
# the mix has to fit, twice, into a traced run next to both pipelines.
ANALYTICS_MIX = (
    "q13_doc_length_stats", "q47_corpus_stats",
    "q35_pipeline_performance", "q37_latest_quality_metrics",
    "q01_pricing_summary", "q09_revenue_by_nation_region",
    "q03_latest_event_per_user", "q87_cohort_retention",
)


def _mix_order(truth, seed):
    order = list(ANALYTICS_MIX)
    random.Random(seed).shuffle(order)
    return order


def _build_query(spark, truth, name):
    from nahuatl_data_pipeline_spark import registry

    return registry.queries()[name](spark, truth["sf_dir"])


def _run_query(spark, truth, out_dir, name):
    _build_query(spark, truth, name).write.format("noop").mode("overwrite").save()


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a result frame, as the engine's oracle
    tests compare them (columns by name, rows sorted, dtypes unified)."""
    from tests.conftest import canonicalize

    return hashlib.md5(canonicalize(pdf).to_csv(index=False).encode()).hexdigest()


def _check_analytics_output(spark, truth, out_dir, stats):
    import duckdb

    con = duckdb.connect()
    for t in truth["tables"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{truth['sf_dir']}/{t}.parquet')")
    from nahuatl_data_pipeline_spark import registry

    oracles = registry.oracle_sql()
    got = {n: frame_hash(_build_query(spark, truth, n).toPandas()) for n in ANALYTICS_MIX}
    want = {n: frame_hash(con.sql(oracles[n]).df()) for n in ANALYTICS_MIX}
    con.close()
    return checks.check_analytics(want, got)


def _analytics_pass(tracer, spark, truth, out_dir, ops):
    """One traced pass over the mix: per query, the Python-side
    DataFrame build, the physical planning, and the execution to a noop
    sink are spans of their own, under one span per query."""
    for name in ops:
        with tracer.span("registry.query"):
            with tracer.span("registry.build"):
                df = _build_query(spark, truth, name)
            with tracer.span("session.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("registry.exec"):
                df.write.format("noop").mode("overwrite").save()
    return [None] * len(ops)


def _analytics_extras(spans, truth, out_dir):
    import statistics

    def span_s(name):
        return [sp.end - sp.start for sp in spans if sp.name == name]

    n = len(span_s("registry.query"))
    return {
        # one sample per query of the mix: too few for a tail percentile
        "registry.query_p50_ms": 1000 * statistics.median(span_s("registry.query")),
        "registry.build_ms": 1000 * sum(span_s("registry.build")) / n,
        "session.plan_ms": 1000 * sum(span_s("session.plan")) / n,
        "registry.exec_ms": 1000 * sum(span_s("registry.exec")) / n,
        "registry.jobs_per_query": sum(sp.jobs for sp in spans) / n,
        "registry.tasks_per_query": sum(sp.tasks for sp in spans) / n,
    }


WORKLOADS = {
    "corpus_build": Workload(
        name="corpus_build",
        size=CORPUS_RECORDS,
        warmup_passes=2,
        make_inputs=inputs.make_corpus,
        ops=_one_op,
        run=_run_corpus,
        check=lambda truth, stats: checks.check_corpus(truth, stats, None),
        check_output=_check_corpus_output,
        traced_pass=_pipeline_pass(_corpus_targets, "pipeline", _run_corpus),
        layers=("sources.readers", "functions.normalize", "operators.filters",
                "operators.dedup", "operators.split", "sources.writers"),
        extra_metrics=_corpus_extras,
    ),
    "neardup_curation": Workload(
        name="neardup_curation",
        size=CURATION_DOCS,
        warmup_passes=1,
        make_inputs=inputs.make_curation,
        ops=_one_op,
        run=_run_curation,
        check=lambda truth, stats: checks.check_curation(truth, stats, None),
        check_output=_check_curation_output,
        traced_pass=_pipeline_pass(_curation_targets, "plans.curation_pipeline", _run_curation),
        layers=("functions.pii", "operators.curation.c4", "operators.curation.repetition",
                "operators.curation.contamination", "operators.fuzzy_dedup.candidates",
                "operators.fuzzy_dedup.verify", "operators.components"),
        extra_metrics=_curation_extras,
    ),
    "analytics_mix": Workload(
        name="analytics_mix",
        size=ANALYTICS_LINEITEM_ROWS,
        # after check_output has run every query once: pass times keep
        # falling over the first passes of the mix
        warmup_passes=1,
        make_inputs=inputs.make_analytics,
        ops=_mix_order,
        run=_run_query,
        check=_no_check,
        check_output=_check_analytics_output,
        traced_pass=_analytics_pass,
        layers=(),
        extra_metrics=_analytics_extras,
    ),
}
