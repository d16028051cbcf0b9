"""End-to-end curation pipeline: flags → single filtered write → stats."""

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions import pii
from nahuatl_data_pipeline_spark.plans.curation_pipeline import (
    CurationConfig,
    run_curation_pipeline,
)

_PROSE = (
    "the river bends east past the old mill where traders once loaded "
    "grain onto flat barges bound for the southern markets every autumn"
)
_PROSE2 = (
    "snow settled early on the high passes that year closing the narrow "
    "trails long before the last caravans had crossed into the valley"
)
_PROSE3 = (
    "lanterns swung from the harbor posts while fishermen mended their "
    "nets and argued quietly about the strange lights seen offshore"
)


def _docs(spark):
    rows = [
        (1, _PROSE + " one."),                      # clean -> kept
        (2, _PROSE2 + " two."),                     # clean -> kept
        (3, _PROSE + " one two three extra."),      # near-dup of 1 (non-canonical)
        (4, "spam ham " * 40 + "."),                # repetition gate
        (5, "int main prints a greeting { return answer; } then exits "
            "cleanly after flushing buffers and closing every open file."),  # c4 gate
        (6, "email me at a@b.example now. " + _PROSE3 + " six."),  # kept, redacted
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curation_pipeline_stats_and_output(spark, tmp_path):
    out = str(tmp_path / "gold")
    cfg = CurationConfig(min_words=10, jaccard_threshold=0.7)
    stats = run_curation_pipeline(spark, _docs(spark), out, cfg=cfg)

    assert stats["input"] == 6
    assert stats["failed_repetition"] == 1   # doc 4
    assert stats["failed_c4"] == 1           # doc 5 (code braces)
    assert stats["near_dups"] == 1           # doc 3 loses to canonical doc 1
    assert stats["contaminated"] == 0
    assert stats["output"] == 3

    gold = spark.read.parquet(out)
    kept = {r["doc_id"]: r["text"] for r in gold.collect()}
    assert set(kept) == {1, 2, 6}
    assert "<EMAIL>" in kept[6] and "a@b.example" not in kept[6]


def test_curation_pipeline_decontamination(spark, tmp_path):
    bench = spark.createDataFrame([(99, _PROSE)], "doc_id long, text string")
    out = str(tmp_path / "gold2")
    stats = run_curation_pipeline(
        spark,
        _docs(spark),
        out,
        evalset=bench,
        cfg=CurationConfig(min_words=10, jaccard_threshold=0.7),
    )
    # docs 1 and 3 embed the benchmark prose; doc 1 would otherwise be
    # kept as its cluster's canonical, so decontamination removes it
    assert stats["contaminated"] == 2
    assert stats["output"] == 2
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [2, 6]


def test_curation_pipeline_fails_sub_two_token_docs(spark, tmp_path):
    """A 1-token doc passes C4 at min_words=1 and a NULL text has no
    tokens at all: the repetition gate itself fails both (its attached
    flag is false, not a NULL from a missing join row)."""
    rows = [
        (1, _PROSE + " one."),
        (2, "hello."),  # 1 token, passes C4 at min_words=1
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "gold_short")
    cfg = CurationConfig(min_words=1, jaccard_threshold=0.9)
    stats = run_curation_pipeline(spark, docs, out, cfg=cfg)
    assert stats["input"] == 3
    assert stats["failed_repetition"] == 2
    assert stats["failed_c4"] == 1  # only the NULL text
    assert stats["output"] == 1
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]


def test_curation_pipeline_rejects_gate_column_names(spark, tmp_path):
    """The gates attach their signals as columns of the docs rows, so a
    docs frame that already has one of their names is refused before any
    job runs, with the clashing name in the message."""
    docs = spark.createDataFrame(
        [(1, _PROSE, 7)], "doc_id long, text string, N_Tokens int"
    )
    out = tmp_path / "gold_clash"
    sc = spark.sparkContext
    group = "curation-clash"
    sc.setJobGroup(group, "clash")
    try:
        with pytest.raises(ValueError, match="n_tokens"):
            run_curation_pipeline(spark, docs, str(out))
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not out.exists()


def test_curation_pipeline_empty_input(spark, tmp_path):
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = str(tmp_path / "gold3")
    stats = run_curation_pipeline(spark, empty, out)
    assert stats["input"] == 0 and stats["output"] == 0


def test_curation_pipeline_substring_dedup_stage(spark, tmp_path):
    # boilerplate as a LEADING sentence: the cleaned later doc must
    # still end in terminal punctuation or C4 (correctly) drops it
    boiler = "all rights reserved by the original publisher."
    rows = [
        (1, boiler + " " + _PROSE + " one."),
        (2, boiler + " " + _PROSE2 + " two."),  # boilerplate removed here
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "gold_sub")
    cfg = CurationConfig(
        min_words=10, jaccard_threshold=0.95, substring_dedup_n=4
    )
    stats = run_curation_pipeline(spark, docs, out, cfg=cfg)

    assert stats["input"] == 2 and stats["output"] == 2
    # 7-token boilerplate removed once (doc 2 by (doc,pos) order)
    assert stats["substring_tokens_removed"] == 7
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert boiler in kept[1]
    assert boiler not in kept[2]
    assert _PROSE2.split()[0] in kept[2]  # the unique prose survives


def test_curation_pipeline_substring_dedup_off_by_default(spark, tmp_path):
    out = str(tmp_path / "gold_nosub")
    cfg = CurationConfig(min_words=10)
    stats = run_curation_pipeline(spark, _docs(spark), out, cfg=cfg)
    assert stats["substring_tokens_removed"] == 0


_PROSE4 = (
    "merchants counted copper coins beneath awnings of dyed canvas while "
    "children chased geese between the stalls of the crowded square"
)
_PROSE5 = (
    "the astronomer climbed the tower each clear night to chart the slow "
    "wheel of stars above the sleeping rooftops of the town"
)
_PROSE6 = (
    "goats grazed along the terraced slopes where farmers repaired stone "
    "walls loosened by the heavy rains of the previous spring"
)


def test_curation_pipeline_url_stages(spark, tmp_path):
    """URL dedup + per-domain cap run BEFORE content gates, with drop
    accounting riding Observations on the single write action."""
    rows = [
        # docs 1+2: same page (tracking-param re-crawl) -> 1 url_dup;
        # survivor = lexically-smallest raw url = doc 2
        (1, _PROSE + " one.", "https://example.com/a?utm_source=x"),
        (2, _PROSE2 + " two.", "https://example.com/a"),
        (3, _PROSE3 + " three.", "https://example.com/b"),
        (4, _PROSE4 + " four.", "https://example.com/c"),
        (5, _PROSE5 + " five.", "https://other.org/x"),
        (6, _PROSE6 + " six.", None),  # junk url: passes through
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = str(tmp_path / "gold_url")
    cfg = CurationConfig(
        min_words=10,
        jaccard_threshold=0.9,
        url_col="url",
        max_docs_per_domain=2,
    )
    stats = run_curation_pipeline(spark, docs, out, cfg=cfg)

    assert stats["url_dups"] == 1
    # example.com has 3 pages after url dedup (a,b,c), cap 2 -> 1 capped
    assert stats["domain_capped"] == 1
    assert stats["input"] == 6  # head-of-pipeline count, url drops included
    assert stats["output"] == 4
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 1 not in kept          # lost url dedup to doc 2
    assert 5 in kept and 6 in kept  # other.org + junk-url doc survive
    # exactly 2 example.com survivors (hash order picks which)
    assert len([d for d in kept if d in (2, 3, 4)]) == 2
    assert len(kept) == 4


def test_curation_pipeline_url_dedup_without_cap(spark, tmp_path):
    rows = [
        (1, _PROSE + " one.", "https://example.com/a#frag"),
        (2, _PROSE2 + " two.", "https://example.com/a"),
        (3, _PROSE3 + " three.", "   "),  # junk url: passes through
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = str(tmp_path / "gold_url2")
    cfg = CurationConfig(min_words=10, jaccard_threshold=0.9, url_col="url")
    stats = run_curation_pipeline(spark, docs, out, cfg=cfg)
    assert stats["url_dups"] == 1
    assert "domain_capped" not in stats
    assert stats["input"] == 3 and stats["output"] == 2
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [2, 3]


def test_curation_pipeline_fix_encoding(spark, tmp_path):
    mojibake = "CafÃ© " + _PROSE + " one.​"
    rows = [
        (1, mojibake),
        (2, _PROSE2 + " two."),  # clean: must not count as repaired
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "gold_enc")
    cfg = CurationConfig(min_words=10, jaccard_threshold=0.9, fix_encoding=True)
    stats = run_curation_pipeline(spark, docs, out, cfg=cfg)
    assert stats["repaired_encoding"] == 1
    assert stats["input"] == 2 and stats["output"] == 2
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert kept[1].startswith("Café ")
    assert "​" not in kept[1]
    assert kept[2] == _PROSE2 + " two."


def test_curation_pipeline_fix_encoding_off_by_default(spark, tmp_path):
    out = str(tmp_path / "gold_enc_off")
    stats = run_curation_pipeline(
        spark, _docs(spark), out, cfg=CurationConfig(min_words=10)
    )
    assert stats["repaired_encoding"] == 0


def test_curation_pipeline_domain_cap_requires_url_col(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="url_col"):
        run_curation_pipeline(
            spark,
            _docs(spark),
            str(tmp_path / "gold_bad"),
            cfg=CurationConfig(max_docs_per_domain=5),
        )


def test_substring_stage_keeps_untouched_docs_byte_identical(spark, tmp_path):
    """The reassembly is array_join(' '): only docs that actually had
    spans removed may have their whitespace rewritten — a doc with zero
    removed tokens must come out byte-for-byte unchanged (newlines,
    tabs, double spaces intact)."""
    boiler = "all rights reserved by the original publisher."
    messy = (
        "First line with  double space.\nSecond\tline has tabs. "
        "Lanterns flickered over the quiet harbor while fishermen mended "
        "their nets beneath a pale winter moon tonight."
    )
    rows = [
        (1, boiler + " " + _PROSE + " one."),
        (2, boiler + " " + _PROSE2 + " two."),  # boilerplate removed here
        (3, messy),                              # untouched by the stage
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "gold_bytes")
    cfg = CurationConfig(
        min_words=10, jaccard_threshold=0.95, substring_dedup_n=4
    )
    stats = run_curation_pipeline(spark, docs, out, cfg=cfg)
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert stats["substring_tokens_removed"] == 7
    assert kept[3] == messy  # byte-identical: \n, \t, double space kept
    assert "\n" in kept[3] and "  " in kept[3]


def _has_pii(text: str) -> bool:
    return any(t in text for t in (pii.EMAIL_TOKEN, pii.PHONE_TOKEN, pii.IP_TOKEN))


def _plan_nodes(plan):
    """Every node of an unexecuted physical plan, through its AQE
    wrappers, but not into a pin's cached plan."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        yield from _plan_nodes(plan.executedPlan())
        return
    yield plan
    children = plan.children().iterator()
    while children.hasNext():
        yield from _plan_nodes(children.next())


def test_curation_op_redacts_pii_once_on_every_core(spark, tmp_path, monkeypatch):
    """A one-file corpus is one scan split. The op spreads it once and
    pins the redacted rows, so PII runs in one stage of
    defaultParallelism tasks, and the pin is released when the op
    returns. A pass-through Python UDF on the redacted text records the
    (stage, partition) of every task that computes it."""
    from pyspark import TaskContext
    from pyspark.accumulators import AccumulatorParam
    from pyspark.sql.readwriter import DataFrameWriter

    from nahuatl_data_pipeline_spark.plans import curation_pipeline as cp
    from perfbench import inputs

    class _Union(AccumulatorParam):
        def zero(self, value):
            return set()

        def addInPlace(self, a, b):
            a |= b
            return a

    sc = spark.sparkContext
    par = sc.defaultParallelism
    assert par > 1
    truth = inputs.make_curation(3, 400, str(tmp_path / "in"))
    docs = spark.read.parquet(truth["docs_path"])
    evalset = spark.read.parquet(truth["eval_path"])
    assert docs.rdd.getNumPartitions() == 1

    tasks = sc.accumulator(set(), _Union())

    @F.udf("string")
    def mark(text):
        ctx = TaskContext.get()
        tasks.add({(ctx.stageId(), ctx.partitionId())})
        return text

    redact = cp.redact_pii
    monkeypatch.setattr(cp, "redact_pii", lambda c: mark(redact(c)))
    persisted = sc._jsc.getPersistentRDDs
    held_at_write = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        held_at_write.append(set(persisted().keys()) - before)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    before = set(persisted().keys())
    stats = run_curation_pipeline(
        spark, docs, str(tmp_path / "gold"), evalset=evalset
    )
    assert stats["input"] == 400
    stages = {stage for stage, _ in tasks.value}
    assert len(stages) == 1, f"PII ran in stages {sorted(stages)}"
    assert {part for _, part in tasks.value} == set(range(par))
    assert held_at_write and held_at_write[0], "the op pinned nothing"
    assert set(persisted().keys()) <= before


# Measured on a 4-vCPU host for the op below: 22 jobs at local[2],
# local[4] and local[8]; 33, 53 and 93 tasks (13 + 10 per core: the
# docs are spread once at the head, so the gold write and every other
# stage that reads the redacted pin run one task per core, not one task
# for the docs' single scan split). The margins stay
# under one propagation round of the components stage (~6 jobs) and
# one re-introduced 256-partition cache (~261 tasks per eager count).
_OP_MAX_JOBS = 25


def _op_max_tasks(parallelism: int) -> int:
    return 30 + 10 * parallelism


def test_curation_op_job_and_task_budget(spark, tmp_path, monkeypatch):
    """One curation op over a small seeded corpus stays within a job and
    a task budget, writes a plan with no Python worker stage and one
    tokenizer per gate, and still meets its planted ground truth."""
    from pyspark.sql.readwriter import DataFrameWriter

    from perfbench import checks, inputs

    written = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        # planned while the run's pins are live, as the write plans it
        qe = self._df._jdf.queryExecution()
        qe.executedPlan()
        written.append(qe)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    truth = inputs.make_curation(3, 400, str(tmp_path / "in"))
    docs = spark.read.parquet(truth["docs_path"])
    evalset = spark.read.parquet(truth["eval_path"])
    sc = spark.sparkContext
    group = "curation-op-budget"
    sc.setJobGroup(group, "one curation op")
    try:
        stats = run_curation_pipeline(
            spark, docs, str(tmp_path / "gold"), evalset=evalset
        )
    finally:
        sc.setJobGroup(None, None)
    assert checks.check_curation(truth, stats, None) == []
    qe = written[-1]
    plan = qe.optimizedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # one whitespace tokenizer per gate: a tokenizer inlined at each use
    # sits under AND/coalesce branches that subexpression elimination
    # skips, and runs once per use
    assert qe.executedPlan().toString().count("split(trim(lower(") <= 2
    # the write reads the redacted rows from the run's pin and runs no
    # PII regex of its own
    pii_pins = [
        node for node in _plan_nodes(qe.executedPlan())
        if node.nodeName() == "InMemoryTableScan"
        and _has_pii(node.relation().cachedPlan().toString())
    ]
    assert pii_pins, "the write does not read the redacted pin"
    assert not [
        node.nodeName() for node in _plan_nodes(qe.executedPlan())
        if _has_pii(node.expressions().toString())
    ]

    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job in jobs:
        for stage_id in tracker.getJobInfo(job).stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
    assert len(jobs) <= _OP_MAX_JOBS, f"{len(jobs)} jobs"
    assert tasks <= _op_max_tasks(sc.defaultParallelism), f"{tasks} tasks"
