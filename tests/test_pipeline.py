"""End-to-end corpus pipeline integration test (SURVEY.md §3.1): JSONL
layers → normalize → dedup → split → partitioned gold write, with the
MetadataStore run-tracking transaction around it (unify_v2 pattern) and
the analytical views reading back what the run logged."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.pipeline import PipelineConfig, run_corpus_pipeline
from nahuatl_data_pipeline_spark.plans.metadata import (
    MetadataStore,
    pipeline_performance,
)

SILVER = [
    {"es": "hola mundo", "nah": "niltze cemanahuatl", "source": "manual"},
    {"es": "buenos días", "nah": "cualli tonalli", "source": "manual"},
    {"es": "  hola   mundo ", "nah": "niltze cemanahuatl", "source": "hf"},  # dup
    {"es": "gracias", "nah": "tlazohcāmati", "source": "manual"},
    {"es": "no", "nah": None, "source": "manual"},  # no pair → filtered
] + [
    {"es": f"frase número {i} del corpus", "nah": f"tlahtolli {i}", "source": "synthetic"}
    for i in range(40)
]

DIAMOND = [
    # same dedup key as the silver dup, higher layer → must win keep-best
    {"es": "hola mundo", "nah": "niltze cemanahuatl", "source": "curated"},
]


@pytest.fixture()
def layer_dirs(tmp_path):
    silver = tmp_path / "silver"
    diamond = tmp_path / "diamond"
    silver.mkdir()
    diamond.mkdir()
    with open(silver / "a.jsonl", "w", encoding="utf-8") as f:
        for r in SILVER:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    with open(diamond / "b.jsonl", "w", encoding="utf-8") as f:
        for r in DIAMOND:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    return {"silver": str(silver), "diamond": str(diamond)}


def test_full_pipeline(spark, layer_dirs, tmp_path):
    out = str(tmp_path / "gold")
    store = MetadataStore(spark, str(tmp_path / "meta"))
    cfg = PipelineConfig(min_length=2)
    stats = run_corpus_pipeline(spark, layer_dirs, out, cfg, metadata_store=store)

    # 46 parsed records count as INPUT (reference accounting counts before
    # validity filters); {"es":"no"} has no indigenous pair and is filtered
    # (unify.py:197 semantics), and the triplicated key (2 silver +
    # 1 diamond) collapses to one winner
    assert stats["input"] == 46
    assert stats["output"] == 43
    assert stats["filtered"] == stats["input"] - stats["output"]
    assert set(stats["splits"]) <= {"train", "validation", "test"}
    assert sum(stats["splits"].values()) == stats["output"]

    gold = spark.read.parquet(out)
    # diamond record won keep-best for the duplicated key
    winner = gold.filter(F.col("es") == "hola mundo").collect()
    assert len(winner) == 1 and winner[0]["layer"] == "diamond"
    # macrons survive the normalization chain end-to-end
    assert gold.filter(F.col("nah").contains("tlazohcāmati")).count() == 1
    # split column written partitioned
    assert (tmp_path / "gold" / "split=train").exists()

    # metadata: one run row-version pair (running + success)
    runs = store.runs().collect()
    assert {r["status"] for r in runs} == {"running", "success"}
    cur = store.current().collect()
    assert len(cur) == 1 and cur[0]["status"] == "success"
    assert cur[0]["records_input"] == 46
    # logged quality metrics are queryable through the views
    m = {r["metric_name"]: r["metric_value"] for r in store.metrics().collect()}
    assert m["records_output"] == stats["output"]
    perf = pipeline_performance(store.runs()).collect()
    assert len(perf) == 1 and perf[0]["successful_runs"] == 1


def test_pipeline_track_details_audit_trail(spark, layer_dirs, tmp_path):
    store = MetadataStore(spark, str(tmp_path / "meta"))
    stats = run_corpus_pipeline(
        spark,
        layer_dirs,
        str(tmp_path / "gold"),
        PipelineConfig(min_length=2),
        metadata_store=store,
        track_details=True,
    )
    d = store.table("deduplication_log").collect()[0]
    assert d["records_before"] == stats["input"]
    assert d["records_after"] == stats["output"]
    u = {r["column_name"]: r for r in store.table("unicode_stats").collect()}
    assert u["nah"]["macron_total"] >= 1  # tlazohcāmati survived
    s = store.table("dataset_snapshots").collect()[0]
    assert s["record_count"] == stats["output"]
    audit = {r["config_key"]: r["new_value"] for r in store.table("config_audit").collect()}
    assert audit["seed"] == "42" and audit["keep"] == "best"


def test_pipeline_failure_records_failed_run(spark, tmp_path):
    store = MetadataStore(spark, str(tmp_path / "meta"))
    with pytest.raises(Exception):
        run_corpus_pipeline(
            spark,
            {"silver": "/nonexistent/path/zzz"},
            str(tmp_path / "gold"),
            metadata_store=store,
        )
    cur = store.current().collect()
    assert len(cur) == 1 and cur[0]["status"] == "failed"
    assert cur[0]["error_message"]


def test_empty_layers_produce_zero_stats_not_crash(spark, tmp_path):
    """An all-filtered/empty input must return {input: n, output: 0}
    instead of failing schema inference on the zero-file gold dir."""
    from nahuatl_data_pipeline_spark.pipeline import run_corpus_pipeline

    d = tmp_path / "empty_silver"
    d.mkdir()
    stats = run_corpus_pipeline(
        spark, {"silver": str(d)}, str(tmp_path / "gold_empty")
    )
    assert stats["output"] == 0 and stats["splits"] == {}


def test_input_count_includes_invalid_records(spark, tmp_path):
    """Reference accounting: 'input' counts every parsed record, and
    'filtered' includes pair-invalid rows — not just dedup losses."""
    import json as _json

    from nahuatl_data_pipeline_spark.pipeline import run_corpus_pipeline

    d = tmp_path / "silver2"
    d.mkdir()
    rows = [
        {"es": "frase válida uno", "nah": "ce tlahtolli"},
        {"es": "frase válida dos", "nah": "ome tlahtolli"},
        {"es": "sin par"},  # pair-invalid: counted as input + filtered
        {"nah": "amo es"},  # pair-invalid
    ]
    with open(d / "a.jsonl", "w", encoding="utf-8") as f:
        for r in rows:
            f.write(_json.dumps(r, ensure_ascii=False) + "\n")
    stats = run_corpus_pipeline(
        spark, {"silver": str(d)}, str(tmp_path / "gold2")
    )
    assert stats["input"] == 4
    assert stats["output"] == 2
    assert stats["filtered"] == 2


def test_corpus_pipeline_url_head_stages(spark, tmp_path):
    """Round-11 verdict #7: the corpus pipeline gains the same opt-in
    crawl URL head stages the curate pipeline has. Re-crawl/tracking
    variants of one page collapse BEFORE the pair filter; the per-domain
    cap bites; drop accounting surfaces url_dups/domain_capped."""
    recs = [
        # one page crawled twice (tracking variant) — distinct texts so
        # content dedup alone would NOT collapse them
        {"es": "primera frase del sitio", "nah": "achto tlahtolli",
         "url": "https://site-a.com/page?utm_source=x"},
        {"es": "segunda frase del sitio", "nah": "ome tlahtolli",
         "url": "https://site-a.com/page"},
        # three pages on one domain, cap 2 → one capped
        {"es": "pagina uno del dominio", "nah": "ce amoxtli",
         "url": "https://big.com/1"},
        {"es": "pagina dos del dominio", "nah": "ome amoxtli",
         "url": "https://big.com/2"},
        {"es": "pagina tres del dominio", "nah": "yei amoxtli",
         "url": "https://big.com/3"},
        # url-less record passes through untouched
        {"es": "registro sin url", "nah": "amo url"},
    ]
    d = tmp_path / "crawl_silver"
    d.mkdir()
    with open(d / "a.jsonl", "w", encoding="utf-8") as f:
        for r in recs:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")

    out = str(tmp_path / "gold_url")
    stats = run_corpus_pipeline(
        spark,
        {"silver": str(d)},
        out,
        PipelineConfig(url_col="url", max_docs_per_domain=2),
    )
    assert stats["input"] == 6
    assert stats["url_dups"] == 1
    assert stats["domain_capped"] == 1
    assert stats["output"] == 4  # 6 - url dup - capped; url-less kept
    gold = spark.read.parquet(out)
    assert gold.count() == 4
    # the canonical-URL survivor is deterministic (raw url asc): the
    # tracking-variant loser is the ?utm one
    kept = {r["es"] for r in gold.collect()}
    assert "segunda frase del sitio" in kept
    assert "primera frase del sitio" not in kept
    assert "registro sin url" in kept

    # knobs off → identical corpus passes through with no URL accounting
    stats_off = run_corpus_pipeline(
        spark, {"silver": str(d)}, str(tmp_path / "gold_nourl")
    )
    assert "url_dups" not in stats_off
    assert stats_off["output"] == 6


def test_corpus_pipeline_cap_without_url_col_raises(spark, tmp_path):
    """Same misuse guard as run_curation_pipeline (self-review r12): a
    domain cap without a URL column must fail loudly, not no-op."""
    d = tmp_path / "empty_for_guard"
    d.mkdir()
    with pytest.raises(ValueError, match="requires url_col"):
        run_corpus_pipeline(
            spark,
            {"silver": str(d)},
            str(tmp_path / "gold_guard"),
            PipelineConfig(max_docs_per_domain=5),
        )


# Measured on a 4-vCPU host for the warm op below, at local[2], local[4]
# and local[8]: 6 jobs, against 8 when the split counts were read back
# from the gold dir in two more jobs. The bound sits between the two.
_CORPUS_OP_MAX_JOBS = 7


def test_corpus_op_runs_on_the_jvm_within_a_job_budget(
    spark, layer_dirs, tmp_path, monkeypatch
):
    """A warm corpus op hands ``write_splits`` a plan with no Python
    worker stage that normalizes each language value once, and stays
    within a job budget."""
    from nahuatl_data_pipeline_spark import pipeline

    written = []
    write_splits = pipeline.write_splits

    def capture(df, out_dir, *args, **kwargs):
        written.append(df)
        return write_splits(df, out_dir, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_splits", capture)
    cfg = PipelineConfig(min_length=2)
    out = str(tmp_path / "gold")
    cold = run_corpus_pipeline(spark, layer_dirs, out, cfg)
    sc = spark.sparkContext
    group = "corpus-op-budget"
    sc.setJobGroup(group, "one warm corpus op")
    try:
        warm = run_corpus_pipeline(spark, layer_dirs, out, cfg)
    finally:
        sc.setJobGroup(None, None)
    assert warm == cold and warm["output"] == 43

    qe = written[-1]._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # NFC runs once per language value on each read of the input
    executed = qe.executedPlan().toString()
    assert executed.count("reflect(") == 3 * executed.count("Union")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= _CORPUS_OP_MAX_JOBS, f"{len(jobs)} jobs"
