"""CLI entry-point tests (reference tests/unit/test_cli.py analogue) —
in-process main() calls against tmp data."""

from __future__ import annotations

import json

import pytest

from nahuatl_data_pipeline_spark.cli import main
from nahuatl_data_pipeline_spark.plans.metadata import MetadataStore


@pytest.fixture()
def silver_dir(tmp_path):
    d = tmp_path / "silver"
    d.mkdir()
    rows = [
        {"es": f"frase de ejemplo {i}", "nah": f"tlahtolli {i}", "source": "m"}
        for i in range(20)
    ]
    with open(d / "a.jsonl", "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    return str(d)


def test_cli_run(spark, silver_dir, tmp_path, capsys):
    rc = main(
        [
            "run",
            "--layer", f"silver={silver_dir}",
            "--out", str(tmp_path / "gold"),
            "--seed", "7",
        ]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["input"] == 20 and stats["output"] == 20
    assert (tmp_path / "gold" / "split=train").exists()


def test_cli_quality_gate_exit_codes(spark, tmp_path, capsys):
    ok = spark.createDataFrame([("a",), ("b",)], ["t"])
    p_ok = str(tmp_path / "ok")
    ok.write.parquet(p_ok)
    assert main(["quality", "--input", p_ok]) == 0
    bad = spark.createDataFrame([(None,), (None,)], "t string")
    p_bad = str(tmp_path / "bad")
    bad.write.parquet(p_bad)
    assert main(["quality", "--input", p_bad]) == 1  # all-null column fails


def test_cli_quality_report_artifact(spark, tmp_path):
    """run_quality_check.py:343-449 contract: per-expectation JSON report
    persisted, exit 0/1/2."""
    ok = spark.createDataFrame([("a", 1), ("b", 2)], ["t", "v"])
    p_ok = str(tmp_path / "okr")
    ok.write.parquet(p_ok)
    rpt = str(tmp_path / "report_ok.json")
    assert main(["quality", "--input", p_ok, "--report", rpt,
                 "--suite-name", "smoke"]) == 0
    report = json.loads(open(rpt).read())
    assert report["suite"] == "smoke" and report["success"] is True
    stats = report["statistics"]
    assert stats["evaluated_expectations"] == 3  # rows + 2 not-null cols
    assert stats["unsuccessful_expectations"] == 0
    assert stats["success_percent"] == 100.0
    by_check = {r["check"]: r for r in report["results"]}
    assert by_check["rows"]["observed_value"] == 2.0
    assert by_check["t_not_null"]["success"] is True

    # failing data → exit 1 + failing expectation recorded with observed
    bad = spark.createDataFrame([(None,), (None,)], "t string")
    p_bad = str(tmp_path / "badr")
    bad.write.parquet(p_bad)
    rpt_bad = str(tmp_path / "report_bad.json")
    assert main(["quality", "--input", p_bad, "--report", rpt_bad]) == 1
    rb = json.loads(open(rpt_bad).read())
    assert rb["success"] is False
    failed = [r for r in rb["results"] if not r["success"]]
    assert {r["check"] for r in failed} == {"t_not_null"}
    assert failed[0]["observed_value"] in (0.0, None)

    # unreadable input → exit 2 + exception_info in the artifact
    rpt_err = str(tmp_path / "report_err.json")
    assert main(["quality", "--input", str(tmp_path / "nope"),
                 "--report", rpt_err]) == 2
    re_ = json.loads(open(rpt_err).read())
    assert re_["success"] is False and re_["exception_info"]


def test_cli_quality_html_artifact(spark, tmp_path):
    """The human-readable data-docs page next to the JSON artifact
    (run_quality_check.py:343-449 builds GE data docs): banner reflects
    overall status, every expectation row is present, failures marked."""
    ok = spark.createDataFrame([("a", 1), ("b", 2)], ["t", "v"])
    p_ok = str(tmp_path / "okh")
    ok.write.parquet(p_ok)
    html_ok = str(tmp_path / "ok.html")
    assert main(["quality", "--input", p_ok, "--html", html_ok,
                 "--suite-name", "docs_suite"]) == 0
    page = open(html_ok, encoding="utf-8").read()
    assert "<!DOCTYPE html>" in page and "docs_suite" in page
    assert "PASSED" in page and "FAILED" not in page
    for check in ("rows", "t_not_null", "v_not_null"):
        assert check in page

    bad = spark.createDataFrame([(None,), (None,)], "t string")
    p_bad = str(tmp_path / "badh")
    bad.write.parquet(p_bad)
    html_bad = str(tmp_path / "bad.html")
    assert main(["quality", "--input", p_bad, "--html", html_bad,
                 "--report", str(tmp_path / "bad.json")]) == 1
    page_bad = open(html_bad, encoding="utf-8").read()
    assert "FAILED" in page_bad and "✗ fail" in page_bad

    # unreadable input → exit 2, page still written with the exception
    html_err = str(tmp_path / "err.html")
    assert main(["quality", "--input", str(tmp_path / "nope"),
                 "--html", html_err]) == 2
    page_err = open(html_err, encoding="utf-8").read()
    assert "FAILED" in page_err and "exception" in page_err


def test_render_validation_html_escapes_markup():
    """Check names/values are user data — markup in them must not become
    live HTML."""
    from nahuatl_data_pipeline_spark.operators.quality import (
        render_validation_html,
    )

    page = render_validation_html({
        "suite": "<script>x</script>",
        "success": True,
        "statistics": {"evaluated_expectations": 1,
                       "successful_expectations": 1,
                       "success_percent": 100.0},
        "results": [{"check": "a<b", "success": True,
                     "observed_value": 1.0, "threshold": 1.0}],
    })
    assert "<script>" not in page and "&lt;script&gt;" in page
    assert "a&lt;b" in page


def test_cli_query_known_and_unknown(spark, capsys):
    assert main(["query", "q14_top_sources"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out and json.loads(out[0])["count"] >= 1
    assert main(["query", "nope"]) == 2


def test_metadata_store_full_table_surface(spark, tmp_path):
    """All eight schema.sql tables are writable/readable through the store."""
    store = MetadataStore(spark, str(tmp_path / "meta"))
    run_id = store.start_run("full")
    docs = spark.createDataFrame(
        [("tlazohcāmati ʼ",), ("sin macron",)], ["text"]
    )
    store.log_unicode_stats(run_id, docs, "text")
    store.log_validation_errors(
        run_id,
        [{"error_type": "schema", "error_message": "bad row", "record_context": "{}"}],
    )
    store.log_dedup(run_id, "keep-best", before=100, after=90)
    store.snapshot_dataset(run_id, "gold", docs, layer="gold")
    store.audit_config(run_id, {"seed": ("41", "42")})

    u = store.table("unicode_stats").collect()[0]
    assert u["macron_total"] == 1 and u["rows_with_macron"] == 1
    assert u["saltillo_total"] == 1
    v = store.table("validation_errors").collect()[0]
    assert v["error_type"] == "schema"
    d = store.table("deduplication_log").collect()[0]
    assert d["duplicates_removed"] == 10 and abs(d["duplicate_rate"] - 0.1) < 1e-9
    s = store.table("dataset_snapshots").collect()[0]
    assert s["record_count"] == 2 and s["checksum"] is not None
    c = store.table("config_audit").collect()[0]
    assert (c["config_key"], c["old_value"], c["new_value"]) == ("seed", "41", "42")

    # snapshot checksum is content-determined, not order/partitioning-determined
    store.snapshot_dataset(run_id, "gold2", docs.repartition(7), layer="gold")
    snaps = {r["dataset_name"]: r["checksum"] for r in store.table("dataset_snapshots").collect()}
    assert snaps["gold"] == snaps["gold2"]


def test_run_lifecycle_without_explicit_started_at(spark, tmp_path):
    """start_run remembers its generated timestamp; complete_run/fail_run
    default to it so the version order always resolves."""
    store = MetadataStore(spark, str(tmp_path / "meta2"))
    r1 = store.start_run("p")
    store.complete_run(r1, "p", counts={"input": 5, "output": 5})
    r2 = store.start_run("p")
    store.fail_run(r2, "p", "boom")
    cur = {r["run_id"]: r["status"] for r in store.current().collect()}
    assert cur[r1] == "success" and cur[r2] == "failed"

    import pytest

    with pytest.raises(ValueError, match="not started by this store"):
        store.complete_run("unknown-run", "p")


def test_cli_malformed_layer_value_is_usage_error(spark, capsys):
    with pytest.raises(SystemExit) as exc:
        main(["run", "--layer", "silver", "--out", "/tmp/x"])
    assert exc.value.code == 2  # argparse usage error, not a traceback
    assert "NAME=DIR" in capsys.readouterr().err


def test_cli_stats_reads_jsonl(spark, silver_dir, capsys):
    rc = main(["stats", "--input", f"{silver_dir}/a.jsonl",
               "--text-col", "es"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[0])["n"] == 20


def test_cli_curate(spark, tmp_path, capsys):
    import json as _json

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog by the river bank today."),
            (2, "mail me at x@y.example please " * 2 + "with distinct extra words appended here."),
            (3, "spam ham " * 30 + "."),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_in")
    docs.write.parquet(src)
    out = str(tmp_path / "docs_gold")

    from nahuatl_data_pipeline_spark.cli import main

    assert main(["curate", "--input", src, "--out", out,
                 "--min-words", "8", "--jaccard", "0.7"]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["input"] == 3
    assert stats["failed_repetition"] >= 1
    gold = spark.read.parquet(out)
    assert 3 not in {r["doc_id"] for r in gold.collect()}
    # PII must be gone from the written corpus
    assert gold.filter(F.col("text").contains("x@y.example")).count() == 0


def test_cli_drift_and_anomalies(spark, tmp_path, capsys):
    import json as _json

    from nahuatl_data_pipeline_spark.cli import main

    a = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(3, "epsilon zeta eta"), (4, "theta iota kappa")],
        "doc_id long, text string",
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.parquet(pa)
    b.write.parquet(pb)
    assert main(["drift", "--base", pa, "--batch", pb]) == 0
    rep = _json.loads(capsys.readouterr().out.strip())
    assert rep["drift_score"] > 0 and rep["vocab_union"] == 10

    m = spark.createDataFrame(
        [("g", float(i)) for i in range(20)] + [("g", 10000.0)],
        "grp string, v double",
    )
    pm = str(tmp_path / "m")
    m.write.parquet(pm)
    assert main(
        ["anomalies", "--input", pm, "--group-by", "grp", "--value-col", "v"]
    ) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    assert _json.loads(lines[0])["v"] == 10000.0


def test_cli_curate_honors_custom_id_col(spark, tmp_path, capsys):
    """--id-col must reach the pipeline (a sed once silently dropped the
    pass-through): a table keyed by my_id with NO doc_id column runs."""
    import json as _json

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog by the river today."),
            (2, "a completely different document with plenty of distinct words here."),
        ],
        "my_id long, text string",
    )
    src = str(tmp_path / "in")
    out = str(tmp_path / "gold")
    docs.write.parquet(src)

    from nahuatl_data_pipeline_spark.cli import main

    assert main(["curate", "--input", src, "--out", out,
                 "--id-col", "my_id", "--min-words", "5"]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["input"] == 2
    assert "my_id" in spark.read.parquet(out).columns


def test_cli_layout_zorder_and_range(spark, tmp_path, capsys):
    import glob
    import json

    from pyspark.sql import functions as F

    src = str(tmp_path / "src.parquet")
    (
        spark.range(0, 1024)
        .select(
            (F.col("id") % 32).alias("x"),
            (F.col("id") / 32).cast("long").alias("y"),
        )
        .write.parquet(src)
    )
    zout = str(tmp_path / "z")
    assert main(["layout", "--input", src, "--out", zout,
                 "--by", "x,y", "--num-files", "4"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["layout"] == "zorder" and rep["rows"] == 1024
    assert len(glob.glob(f"{zout}/part-*.parquet")) >= 2

    rout = str(tmp_path / "r")
    assert main(["layout", "--input", src, "--out", rout, "--by", "x"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["layout"] == "range_sorted" and rep["rows"] == 1024


def test_cli_convert_jsonl_to_parquet(spark, tmp_path, capsys):
    """convert_to_parquet.py parity: bulk JSONL→Parquet as one
    distributed scan+write; 'infer' mode for ad-hoc schemas."""
    src = tmp_path / "in.jsonl"
    src.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    out = str(tmp_path / "out_pq")
    assert main(["convert", "--input", str(src), "--out", out,
                 "--schema", "infer"]) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] == 2
    df = spark.read.parquet(out)
    assert sorted(map(tuple, df.select("a", "b").collect())) == [
        (1, "x"), (2, "y"),
    ]
