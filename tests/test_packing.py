"""Cross-document sequence packing (concat-and-chop)."""

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.operators.packing import pack_sequences


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def test_offsets_are_exclusive_prefix_sums(spark):
    df = _docs(spark, ["a b c", "d e", "f g h i", "j"])
    out = pack_sequences(df, "doc_id", seq_len=4).collect()
    rows = sorted(out, key=lambda r: r["start_offset"])
    # stream is a permutation of the docs; offsets tile it exactly
    off = 0
    for r in rows:
        assert r["start_offset"] == off
        off += r["n_tokens"]
    assert off == 10
    assert {r["n_tokens"] for r in rows} == {3, 2, 4, 1}


def test_against_pure_python_reference(spark):
    """Independent reimplementation: hashlib md5 order + a Python loop —
    not the Spark formulas — must reproduce every output column."""
    import hashlib

    texts = ["a b c", "d e", "f g h i", "j", None, "  ", "k l m n o p"]
    df = _docs(spark, texts)
    n_tok = [3, 2, 4, 1, 0, 0, 6]
    order = sorted(
        range(len(texts)),
        key=lambda i: hashlib.md5(f"7:{i}".encode()).hexdigest(),
    )
    expected, off = {}, 0
    for i in order:
        t = n_tok[i]
        seq_id = off // 4
        n_seqs = 0 if t == 0 else (off + t - 1) // 4 - seq_id + 1
        expected[i] = (t, off, seq_id, n_seqs)
        off += t
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["start_offset"],
            r["seq_id"],
            r["n_seqs"],
        )
        for r in pack_sequences(df, "doc_id", seq_len=4, seed=7).collect()
    }
    assert got == expected


def test_empty_and_null_docs(spark):
    df = _docs(spark, ["a b", None, "   ", "c"])
    rows = {r["doc_id"]: r for r in pack_sequences(df, "doc_id").collect()}
    assert len(rows) == 4
    assert rows[1]["n_tokens"] == 0 and rows[1]["n_seqs"] == 0
    assert rows[2]["n_tokens"] == 0 and rows[2]["n_seqs"] == 0


def test_partition_independence(spark):
    df = _docs(spark, [f"tok{i} tok{i} x" for i in range(40)])
    a = {
        (r["doc_id"], r["start_offset"])
        for r in pack_sequences(df.repartition(1), "doc_id").collect()
    }
    b = {
        (r["doc_id"], r["start_offset"])
        for r in pack_sequences(df.repartition(13), "doc_id").collect()
    }
    assert a == b


def test_seed_changes_order(spark):
    df = _docs(spark, [f"w{i} w{i}" for i in range(20)])
    a = {r["doc_id"]: r["start_offset"] for r in pack_sequences(df, "doc_id", seed=1).collect()}
    b = {r["doc_id"]: r["start_offset"] for r in pack_sequences(df, "doc_id", seed=2).collect()}
    assert a != b  # different shuffle
    assert sorted(a.values()) == sorted(b.values())  # same token stream sizes


def test_invalid_seq_len(spark):
    with pytest.raises(ValueError):
        pack_sequences(_docs(spark, ["a"]), "doc_id", seq_len=0)


# ---------------------------------------------------------------------------
# length-grouped batching (round 8)
# ---------------------------------------------------------------------------


def _bimodal(spark, n_short=40, n_long=40):
    rows = [(i, " ".join(["s"] * 5)) for i in range(n_short)]
    rows += [(1000 + i, " ".join(["l"] * 500)) for i in range(n_long)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_length_grouped_batches_members_share_bucket(spark):
    from nahuatl_data_pipeline_spark.operators.packing import (
        length_grouped_batches,
    )

    out = length_grouped_batches(
        _bimodal(spark), "doc_id", "text", batch_size=8, bucket_width=64
    )
    rows = out.collect()
    assert len(rows) == 80
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r["batch_key"], []).append(r)
    for members in by_batch.values():
        assert len(members) <= 8
        assert len({m["bucket"] for m in members}) == 1


def test_length_grouped_batches_deterministic_across_partitioning(spark):
    from nahuatl_data_pipeline_spark.operators.packing import (
        length_grouped_batches,
    )

    df = _bimodal(spark)
    a = sorted(
        map(tuple, length_grouped_batches(df, "doc_id", "text").collect())
    )
    b = sorted(
        map(
            tuple,
            length_grouped_batches(
                df.repartition(13), "doc_id", "text"
            ).collect(),
        )
    )
    assert a == b


def test_length_grouping_beats_random_batching_on_padding(spark):
    """The point of the operator: on a bimodal corpus, grouped batches
    pad almost nothing while bucket-blind batching (bucket_width large
    enough to merge the modes) pads every short doc to the long max."""
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.operators.packing import (
        batch_padding_stats,
        length_grouped_batches,
    )

    df = _bimodal(spark)

    def waste_frac(bucket_width):
        b = length_grouped_batches(
            df, "doc_id", "text", batch_size=8,
            bucket_width=bucket_width, n_shards=2,
        )
        s = batch_padding_stats(b).agg(
            F.sum("waste_tokens").alias("w"), F.sum("padded_tokens").alias("p")
        ).collect()[0]
        return s["w"] / s["p"]

    grouped = waste_frac(64)    # short and long modes in separate buckets
    blind = waste_frac(10_000)  # one bucket: batches mix 5- and 500-token docs
    assert grouped == 0.0  # equal lengths within each mode → zero padding
    assert blind > 0.3


def test_batch_padding_stats_hand_computed(spark):
    from nahuatl_data_pipeline_spark.operators.packing import (
        batch_padding_stats,
        length_grouped_batches,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f")], "doc_id long, text string"
    )
    b = length_grouped_batches(
        df, "doc_id", "text", batch_size=4, bucket_width=64, n_shards=1
    )
    s = batch_padding_stats(b).collect()
    assert len(s) == 1  # all three docs land in bucket 1, shard 0, batch 0
    row = s[0]
    assert row["n_rows"] == 3 and row["max_tokens"] == 3
    assert row["sum_tokens"] == 6 and row["waste_tokens"] == 3
    assert row["padded_tokens"] == 9


def test_length_grouped_batches_rejects_bad_params(spark):
    import pytest

    from nahuatl_data_pipeline_spark.operators.packing import (
        length_grouped_batches,
    )

    with pytest.raises(ValueError):
        length_grouped_batches(
            _bimodal(spark), "doc_id", "text", batch_size=0
        )


def test_length_grouped_batches_null_text_gets_bucket_zero(spark):
    from nahuatl_data_pipeline_spark.operators.packing import (
        batch_padding_stats,
        length_grouped_batches,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c")],
        "doc_id long, text string",
    )
    out = length_grouped_batches(df, "doc_id", "text", batch_size=8)
    rows = {r.doc_id: r for r in out.collect()}
    # NULL and empty text → 0 tokens → bucket 0 (pack_sequences contract),
    # never bucket NULL (ADVICE round 8)
    assert rows[1].n_tokens == 0 and rows[1].bucket == 0
    assert rows[2].n_tokens == 0 and rows[2].bucket == 0
    assert rows[3].bucket == 1
    stats = {r.batch_key: r for r in batch_padding_stats(out).collect()}
    for r in stats.values():
        assert r.max_tokens is not None and r.waste_tokens is not None
