"""Reader/sink tests (mirrors reference legacy-format + shadow-mode
fixtures: ``tests/integration/test_shadow_mode.py:49-75``,
``test_schemas.py`` legacy mapping). Covers every variant in FIXTURES.md §2
including malformed lines."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.sources.readers import (
    read_corpus_jsonl,
    read_json_dump,
    read_layer_dir,
)
from nahuatl_data_pipeline_spark.sources.registry import (
    load_source_registry,
    mark_sources_done,
    pending_source_rows,
)
from nahuatl_data_pipeline_spark.sources.writers import (
    convert_jsonl_to_parquet,
    write_jsonl,
    write_splits,
)


@pytest.fixture
def legacy_jsonl(tmp_path):
    lines = [
        {"es": "hola", "nah": "niltze", "source": "manual"},
        {"es_translation": "adiós", "nah_translation": "timotaj", "source_file": "f1"},
        {"original_es": "agua", "myn_translation": "ha'"},
        {"prompt": "fuego", "chosen": "tletl"},  # DPO format
        {"original_audio_text": "tepetl", "detected_language": "nah", "es": "cerro"},
        {"original_audio_text": "ja'", "detected_language": "myn", "es": "agua2"},
        {"es": "solo español"},  # fails translation-pair filter
        {"nah": "solo nahuatl"},  # fails filter (no es)
        {"es": "  ", "nah": "x"},  # empty es → NULL → fails filter
    ]
    p = tmp_path / "legacy.jsonl"
    with open(p, "w", encoding="utf-8") as f:
        for row in lines:
            f.write(json.dumps(row, ensure_ascii=False) + "\n")
        f.write("{this is not json\n")  # malformed → must be skipped
        f.write("[1,2,3]\n")  # wrong shape → skipped
    return str(p)


def test_jsonl_legacy_coalescing(spark, legacy_jsonl):
    df = read_corpus_jsonl(spark, legacy_jsonl, layer="silver")
    rows = {r["es"]: r for r in df.collect()}
    assert set(rows) == {"hola", "adiós", "agua", "fuego", "cerro", "agua2"}
    assert rows["hola"]["nah"] == "niltze"
    assert rows["adiós"]["nah"] == "timotaj"
    assert rows["adiós"]["origin_file"] == "f1"
    assert rows["agua"]["myn"] == "ha'"
    assert rows["fuego"]["nah"] == "tletl"
    assert rows["cerro"]["nah"] == "tepetl"  # ASR detected nah
    assert rows["agua2"]["myn"] == "ja'"  # ASR detected myn
    assert all(r["layer"] == "silver" for r in rows.values())


def test_jsonl_malformed_lines_skipped_not_fatal(spark, legacy_jsonl):
    # 11 physical lines, 2 malformed, 3 filtered → 6 records
    df = read_corpus_jsonl(spark, legacy_jsonl, layer="silver")
    assert df.count() == 6


def test_json_dump_root_list(spark, tmp_path):
    p = tmp_path / "dump.json"
    p.write_text(
        json.dumps(
            [
                {"es": "uno", "nah": "ce"},
                {"es": "dos", "nah": "ome"},
            ],
            ensure_ascii=False,
        ),
        encoding="utf-8",
    )
    df = read_json_dump(spark, str(p), layer="bronze")
    assert {r["es"] for r in df.collect()} == {"uno", "dos"}


def test_json_dump_items_with_nested_original_and_sp_alias(spark, tmp_path):
    p = tmp_path / "dump2.json"
    p.write_text(
        json.dumps(
            {
                "items": [
                    {"original": {"sp": "tres", "nah": "yei"}},
                    {"original": {"es": "cuatro", "nah": "nahui"}},
                ]
            },
            ensure_ascii=False,
        ),
        encoding="utf-8",
    )
    df = read_json_dump(spark, str(p), layer="bronze")
    rows = {r["es"]: r["nah"] for r in df.collect()}
    assert rows == {"tres": "yei", "cuatro": "nahui"}


def test_layer_dir_glob_and_lineage(spark, tmp_path):
    d = tmp_path / "silver"
    d.mkdir()
    (d / "a.jsonl").write_text(
        '{"es": "uno", "nah": "ce"}\n', encoding="utf-8"
    )
    (d / "b.json").write_text(
        json.dumps([{"es": "dos", "nah": "ome"}]), encoding="utf-8"
    )
    df = read_layer_dir(spark, str(d), layer="silver")
    rows = df.collect()
    assert len(rows) == 2
    assert all(r["layer"] == "silver" for r in rows)
    by_es = {r["es"]: r["origin_file"] for r in rows}
    assert by_es["uno"].endswith("a.jsonl")
    assert by_es["dos"].endswith("b.json")


def test_layer_dir_empty(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    df = read_layer_dir(spark, str(d), layer="gold")
    assert df.count() == 0 and "layer" in df.columns


def test_write_jsonl_utf8_nulls_omitted(spark, tmp_path):
    df = spark.createDataFrame([("tlazohcāmati", None)], "nah string, myn string")
    out = str(tmp_path / "out")
    write_jsonl(df, out)
    text = "".join(
        p.read_text(encoding="utf-8")
        for p in (tmp_path / "out").glob("part-*.json")
    )
    assert "tlazohcāmati" in text  # not \u-escaped
    assert "myn" not in text  # null key omitted


def test_write_splits_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "train"), ("b", "test")], ["es", "split"]
    )
    out = str(tmp_path / "gold")
    write_splits(df, out)
    assert (tmp_path / "gold" / "split=train").exists()
    back = spark.read.parquet(out)
    assert back.filter(F.col("split") == "train").count() == 1


def test_convert_jsonl_to_parquet(spark, tmp_path, legacy_jsonl):
    dst = str(tmp_path / "pq")
    convert_jsonl_to_parquet(spark, legacy_jsonl, dst)
    assert spark.read.parquet(dst).count() == 11  # raw conversion, no filter


def test_source_registry_roundtrip(spark, tmp_path):
    p = tmp_path / "sources.csv"
    p.write_text(
        "source_id,source_url,ingestion_driver,ingestion_status\n"
        "s1,http://a,driver_hf_dataset,Pending\n"
        "s2,http://b,driver_pdf_plumber,Done\n"
        "s3,http://c,driver_pyelotl,Pending\n"
    )
    reg = load_source_registry(spark, str(p))
    assert pending_source_rows(reg).count() == 2
    updated = mark_sources_done(reg, ["s1"])
    statuses = {r["source_id"]: r["ingestion_status"] for r in updated.collect()}
    assert statuses == {"s1": "Done", "s2": "Done", "s3": "Pending"}


def test_write_splits_orc(spark, tmp_path):
    from nahuatl_data_pipeline_spark.sources.writers import write_splits

    df = spark.range(0, 30).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, "test").otherwise("train").alias("split"),
    )
    out = str(tmp_path / "splits_orc")
    write_splits(df, out, fmt="orc")
    train = spark.read.orc(out).filter(F.col("split") == "train")
    # partition pruning: only the train directory is read
    scan = next(
        l
        for l in train._jdf.queryExecution().executedPlan().toString().splitlines()
        if "FileScan orc" in l
    )
    assert "split=train" in scan or "PartitionFilters" in scan
    assert train.count() == 27


def test_write_splits_scheme_agnostic(spark, tmp_path):
    """S15 publish path is URI-scheme-agnostic: writing via an explicit
    ``file://`` URI and via a plain local path must produce identical,
    partition-pruned layouts readable through either addressing scheme.
    (The env has no object store; file:// is the available second scheme —
    it exercises the same Hadoop-FileSystem resolution an s3a:// URI
    takes.)"""
    from nahuatl_data_pipeline_spark.sources.writers import write_splits

    df = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "test")], "id long, split string"
    )
    plain = str(tmp_path / "plain")
    uri = f"file://{tmp_path}/uri"
    write_splits(df, plain)
    write_splits(df, uri)

    back_uri = spark.read.parquet(uri)
    back_plain = spark.read.parquet(f"file://{plain}")
    assert sorted(r["id"] for r in back_uri.collect()) == [1, 2, 3]
    assert sorted(r["id"] for r in back_plain.collect()) == [1, 2, 3]
    # partition pruning works through the URI scheme too
    pruned = back_uri.filter("split = 'train'")
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split" in plan


def test_write_range_sorted_files_are_disjoint_and_sorted(spark, tmp_path):
    """The data-skipping layout contract: each output file owns a
    disjoint doc_id range (footer min/max prune whole files) and rows
    inside are sorted (tight row-group stats)."""
    import glob

    import pyarrow.parquet as pq

    from nahuatl_data_pipeline_spark.sources.writers import write_range_sorted

    df = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "sorted")
    write_range_sorted(df, out, "doc_id", num_files=4)

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        t = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        assert t == sorted(t)  # sorted within file
        if t:
            ranges.append((min(t), max(t)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # pairwise disjoint key slices
    # nothing lost in the re-layout
    assert spark.read.parquet(out).count() == 10000


def test_write_zordered_clusters_both_dims(spark, tmp_path):
    """Z-order layout contract: EVERY clustered dim gets tight per-file
    min/max stats — vs write_range_sorted, where the non-sort dim spans
    the full range in every file. Uniform 64×64 grid → each of 8
    z-range files must cover well under the full extent on BOTH dims."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.sources.writers import (
        write_range_sorted,
        write_zordered,
    )

    df = (
        spark.range(0, 4096)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
    )

    def per_file_ranges(path, col):
        spans = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            vals = pq.read_table(f, columns=[col])[col].to_pylist()
            if vals:
                spans.append((max(vals) - min(vals)) / 63.0)
        return spans

    z = str(tmp_path / "z")
    write_zordered(df, z, ["x", "y"], num_files=8)
    # both dims clustered: average per-file extent well under full range
    for col in ("x", "y"):
        spans = per_file_ranges(z, col)
        assert len(spans) >= 4
        assert sum(spans) / len(spans) < 0.65, (col, spans)

    # baseline: 1-D range sort leaves the OTHER dim full-range per file
    r = str(tmp_path / "r")
    write_range_sorted(df, r, "x", num_files=8)
    spans_y = per_file_ranges(r, "y")
    assert sum(spans_y) / len(spans_y) > 0.95

    # lossless re-layout
    got = sorted(map(tuple, spark.read.parquet(z).collect()))
    assert got == sorted(map(tuple, df.collect()))


def test_write_zordered_clamps_bits_for_many_dims(spark, tmp_path):
    """4+ cluster columns must clamp bits_per_dim so the interleaved
    code stays inside the 63 value bits of a signed long — no negative
    z-values (which would sort first and break the curve), no shift
    wraparound, and the re-layout stays lossless."""
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.sources.writers import (
        write_zordered,
        zorder_value,
    )

    df = spark.range(0, 512).select(
        (F.col("id") % 8).alias("a"),
        (F.col("id") / 8 % 8).cast("long").alias("b"),
        (F.col("id") / 64 % 8).cast("long").alias("c"),
        (F.col("id") % 512).alias("d"),
    )
    tagged, zval = zorder_value(df, ["a", "b", "c", "d"])  # 16→15 bits
    assert tagged.select(F.min(zval).alias("m")).collect()[0]["m"] >= 0

    out = str(tmp_path / "z4")
    write_zordered(df, out, ["a", "b", "c", "d"], num_files=4)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# XML source (round 8 — Spark-native distributed XML)
# ---------------------------------------------------------------------------


def test_read_xml_explicit_schema_and_attributes(spark, tmp_path):
    from nahuatl_data_pipeline_spark.sources.readers import read_xml

    p = str(tmp_path / "verses.xml")
    with open(p, "w", encoding="utf-8") as f:
        f.write(
            """<?xml version="1.0"?>
<bible>
  <verse id="1" book="GEN">In the beginning was the corpus</verse>
  <verse id="2" book="GEN">And the corpus was distributed</verse>
  <verse id="3" book="EXO">T1</verse>
</bible>"""
        )
    df = read_xml(
        spark,
        p,
        row_tag="verse",
        schema="_id long, _book string, _VALUE string",
    )
    rows = {r["_id"]: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[1]["_book"] == "GEN"
    assert rows[1]["_VALUE"] == "In the beginning was the corpus"
    # the schema-inference pitfall the docstring warns about: with an
    # explicit schema, 'T1' stays a STRING, not a coerced timestamp
    assert rows[3]["_VALUE"] == "T1"


def test_read_xml_permissive_corrupt_record(spark, tmp_path):
    from nahuatl_data_pipeline_spark.sources.readers import read_xml

    p = str(tmp_path / "mixed.xml")
    with open(p, "w", encoding="utf-8") as f:
        f.write(
            """<root>
  <rec><a>1</a></rec>
  <rec><a>not_a_number</a></rec>
</root>"""
        )
    df = read_xml(
        spark,
        p,
        row_tag="rec",
        schema="a long, _corrupt_record string",
    )
    rows = df.collect()
    assert len(rows) == 2
    good = [r for r in rows if r["a"] == 1]
    bad = [r for r in rows if r["a"] is None]
    assert len(good) == 1 and len(bad) == 1
    assert bad[0]["_corrupt_record"] is not None
