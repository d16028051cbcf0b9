"""Cross-snapshot incremental dedup."""

from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.operators.incremental_dedup import (
    dedup_against_snapshot,
)

_A = "the river bends east past the old mill where traders load grain"
_B = "snow settled early on the high passes closing the narrow trails"
_C = "lanterns swung from the harbor posts while fishermen mended nets"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_and_near_dups_dropped_novel_kept(spark):
    seen = _df(spark, [(1, _A), (2, _B)])
    new = _df(
        spark,
        [
            (10, _A),                      # exact dup of 1
            (11, "  " + _A.upper() + " "),  # exact after lower/trim
            (12, _A + " extra tail"),      # near dup of 1
            (13, _C),                      # novel
        ],
    )
    out = sorted(
        r["doc_id"]
        for r in dedup_against_snapshot(new, seen, jaccard_threshold=0.5).collect()
    )
    assert out == [13]


def test_exact_only_mode(spark):
    seen = _df(spark, [(1, _A)])
    new = _df(spark, [(10, _A), (12, _A + " extra tail")])
    out = sorted(
        r["doc_id"]
        for r in dedup_against_snapshot(new, seen, jaccard_threshold=None).collect()
    )
    assert out == [12]  # near-dup survives when fuzzy pass is off


def test_empty_snapshot_keeps_everything(spark):
    seen = _df(spark, [])
    new = _df(spark, [(1, _A), (2, _B)])
    assert dedup_against_snapshot(new, seen).count() == 2


def test_new_batch_internal_dups_not_touched(spark):
    """Incremental dedup screens against the SNAPSHOT only — two copies
    inside the new batch both survive (batch-internal dedup is q10's
    job, run separately)."""
    seen = _df(spark, [(1, _B)])
    new = _df(spark, [(10, _A), (11, _A)])
    assert dedup_against_snapshot(new, seen).count() == 2


def test_null_text_matches_null_snapshot_key(spark):
    seen = _df(spark, [(1, None)])
    new = _df(spark, [(10, None), (11, _C)])
    out = [r["doc_id"] for r in dedup_against_snapshot(new, seen).collect()]
    assert out == [11]


def test_precomputed_index_matches_inline(spark):
    import pytest

    from nahuatl_data_pipeline_spark.operators.incremental_dedup import (
        snapshot_index,
    )

    seen = _df(spark, [(1, _A), (2, _B)])
    new = _df(
        spark,
        [(10, _A), (12, _A + " extra tail"), (13, _C)],
    )
    idx = snapshot_index(seen, shingle_n=3, num_perms=4)
    via_index = sorted(
        r["doc_id"]
        for r in dedup_against_snapshot(
            new, index=idx, jaccard_threshold=0.5
        ).collect()
    )
    inline = sorted(
        r["doc_id"]
        for r in dedup_against_snapshot(
            new, seen, jaccard_threshold=0.5
        ).collect()
    )
    assert via_index == inline == [13]

    with pytest.raises(ValueError):
        dedup_against_snapshot(new)
    with pytest.raises(ValueError):
        dedup_against_snapshot(new, seen, index=idx)


def test_multi_perm_recall_beats_single_bucket(spark):
    """A planted near-dup pair whose Jaccard is ~0.57 must be surfaced:
    with 4 independent permutations the miss probability is (1-J)^4
    ~ 3% per pair; the test seeds 12 such pairs so a systematic recall
    regression (e.g. falling back to one bucket) shows up as survivors."""
    base = [
        (i, f"row{i} alpha beta gamma delta epsilon zeta eta theta")
        for i in range(12)
    ]
    seen = _df(spark, base)
    near = [
        (100 + i, t + " iota kappa lambda") for i, t in base
    ]  # 8/14 distinct trigram overlap
    out = dedup_against_snapshot(
        _df(spark, near), seen, jaccard_threshold=0.4, num_perms=4
    )
    assert out.count() <= 1  # allow one unlucky miss, not a systematic one


def test_streaming_foreachbatch_against_static_index(spark, tmp_path):
    """Continuous-crawl shape: the snapshot index is built ONCE (static,
    persisted), then every streaming micro-batch is screened against it
    via foreachBatch — survivors land in the gold sink. Stream result
    must equal the batch run on the same files."""
    from nahuatl_data_pipeline_spark.operators.incremental_dedup import (
        dedup_against_snapshot,
        snapshot_index,
    )

    seen = _df(spark, [(1, _A), (2, _B)])
    idx = snapshot_index(seen)
    idx.keys.persist(); idx.shingles.persist(); idx.buckets.persist()
    try:
        src = str(tmp_path / "incoming")
        gold = str(tmp_path / "gold")
        new = _df(
            spark,
            [(10, _A), (11, _A + " extra tail"), (12, _C), (13, _B)],
        )
        new.write.parquet(src)

        def screen(batch_df, epoch_id):
            dedup_against_snapshot(
                batch_df, index=idx, jaccard_threshold=0.5
            ).write.mode("append").parquet(gold)

        q = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(src)
            .writeStream.foreachBatch(screen)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        got = sorted(r["doc_id"] for r in spark.read.parquet(gold).collect())
        batch_run = sorted(
            r["doc_id"]
            for r in dedup_against_snapshot(
                new, seen, jaccard_threshold=0.5
            ).collect()
        )
        assert got == batch_run == [12]
    finally:
        idx.keys.unpersist(); idx.shingles.unpersist(); idx.buckets.unpersist()


def test_snapshot_index_parquet_round_trip(spark, tmp_path):
    """The documented reuse path: write the three index frames out, read
    them back, and screen a batch with them — survivors must equal the
    inline ``seen=`` run."""
    from nahuatl_data_pipeline_spark.operators.incremental_dedup import (
        SnapshotIndex,
        snapshot_index,
    )

    seen = _df(spark, [(1, _A), (2, _B)])
    new = _df(
        spark,
        [(10, _A), (11, _B.upper()), (12, _A + " extra tail"), (13, _C)],
    )
    idx = snapshot_index(seen, shingle_n=3, num_perms=4)
    for name, frame in idx._asdict().items():
        frame.write.parquet(str(tmp_path / name))
    loaded = SnapshotIndex(
        *(spark.read.parquet(str(tmp_path / name)) for name in idx._fields)
    )
    via_files = sorted(
        r["doc_id"]
        for r in dedup_against_snapshot(
            new, index=loaded, jaccard_threshold=0.5
        ).collect()
    )
    inline = sorted(
        r["doc_id"]
        for r in dedup_against_snapshot(
            new, seen, jaccard_threshold=0.5
        ).collect()
    )
    assert via_files == inline == [13]
