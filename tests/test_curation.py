"""Curation operators: PII redaction, repetition signals,
decontamination, C4 rules."""

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.pii import pii_counts, redact_pii
from nahuatl_data_pipeline_spark.operators.curation import (
    c4_rule_flags,
    contamination_flags,
    repetition_signals,
)


# ---------------------------------------------------------------- PII


def test_redact_pii_all_types(spark):
    df = spark.createDataFrame(
        [
            (
                "mail bob.smith+x@corp.example.org now, "
                "call +52 55 8765 4321, host 192.168.0.17 up",
            )
        ],
        "text string",
    )
    n_e, n_p, n_i = pii_counts(F.col("text"))
    row = df.select(
        redact_pii(F.col("text")).alias("t"),
        n_e.alias("e"), n_p.alias("p"), n_i.alias("i"),
    ).collect()[0]
    assert row["t"] == "mail <EMAIL> now, call <PHONE>, host <IP> up"
    assert (row["e"], row["p"], row["i"]) == (1, 1, 1)


def test_redact_pii_email_wins_over_ip(spark):
    """A dotted quad inside an email address must be swallowed by the
    email token, not shredded into a partial <IP>."""
    df = spark.createDataFrame([("ping admin@10.0.0.8.example.com ok",)], "text string")
    row = df.select(
        redact_pii(F.col("text")).alias("t"),
        *[c.alias(n) for c, n in zip(pii_counts(F.col("text")), "epi")],
    ).collect()[0]
    assert row["t"] == "ping <EMAIL> ok"
    assert (row["e"], row["p"], row["i"]) == (1, 0, 0)


def test_redact_pii_clean_text_untouched(spark):
    df = spark.createDataFrame([("just words, version 1.2 of 3 things",)], "text string")
    row = df.select(redact_pii(F.col("text")).alias("t")).collect()[0]
    assert row["t"] == "just words, version 1.2 of 3 things"


# ------------------------------------------------------- repetition


def test_repetition_flags_looped_text(spark):
    df = spark.createDataFrame(
        [
            (1, "spam ham " * 30),  # one bigram dominates
            (2, "the quick brown fox jumps over a lazy dog near the riverbank"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert not out[1]["keep_doc"]
    assert out[1]["top_token_frac"] == 0.5
    assert out[2]["keep_doc"]
    assert out[2]["distinct_frac"] > 0.9


def test_repetition_skips_sub_two_token_docs(spark, tmp_path):
    """The attach contract keeps every input row: a doc with fewer than
    2 tokens (or a NULL text) fails the gate with NULL fractions. q60
    publishes only the docs the signals are defined on."""
    from nahuatl_data_pipeline_spark.registry_curation import (
        q60_repetition_signals,
    )

    df = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, None), (4, "two tokens here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    for d in (1, 2, 3):
        assert out[d]["keep_doc"] is False
        assert out[d]["distinct_frac"] is None
        assert out[d]["top_token_frac"] is None
        assert out[d]["top_bigram_frac"] is None
    assert [out[d]["n_tokens"] for d in (1, 2, 3)] == [1, 0, None]
    assert out[4]["keep_doc"] is False  # 2 bigrams, each 0.5 > 0.18
    assert out[4]["top_bigram_frac"] == 0.5
    assert out[4]["text"] == "two tokens here"  # input columns ride along

    df.write.parquet(str(tmp_path / "documents.parquet"))
    q60 = q60_repetition_signals(spark, str(tmp_path))
    assert [r["doc_id"] for r in q60.collect()] == [4]


def _repetition_edge_rows():
    return [
        (900001, "a b a b"),                         # two tokens tied
        (900002, "la la la la la"),                  # one token repeated
        (900003, "Tree tree TREE leaf Leaf"),         # mixed case
        (900004, "x\t\ty \n\n  x\ty\n"),            # tab / newline runs
        (900005, "\U0001F600 word \U0001F600 other"),  # non-BMP token
        (900006, None),
        (900007, ""),
        (900008, "single"),
        (900009, "   padded   "),                   # 1 token after trim
        (900010, "Ab ab aB AB ab ab"),              # bigram ties
    ]


def test_repetition_mode_fractions_match_q60_oracle(spark, duck, tmp_path):
    """The row-local mode fractions (longest run of the sorted gram
    array) equal the oracle's UNNEST + two-level GROUP BY counts, over a
    seeded corpus plus edge rows, projected to q60's columns."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nahuatl_data_pipeline_spark.registry_curation import (
        _Q60_SQL,
        q60_repetition_signals,
    )
    from perfbench.inputs import make_curation
    from tests.conftest import canonicalize

    truth = make_curation(3, 400, str(tmp_path / "in"))
    docs = pq.read_table(truth["docs_path"]).to_pylist()
    docs += [{"doc_id": i, "text": t} for i, t in _repetition_edge_rows()]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            docs, pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        ),
        str(sf / "documents.parquet"),
    )
    got = q60_repetition_signals(spark, str(sf)).toPandas()
    con = duck(str(sf))
    want = con.sql(_Q60_SQL).df()
    assert len(got) == len(want) > 400
    assert set(got["doc_id"]) >= {900001, 900002, 900003, 900004, 900005, 900010}
    assert not set(got["doc_id"]) & {900006, 900007, 900008, 900009}
    pd.testing.assert_frame_equal(canonicalize(got), canonicalize(want))
    row = got.set_index("doc_id")
    assert row.loc[900001, "top_token_frac"] == 0.5
    assert row.loc[900002, "top_token_frac"] == 1.0
    assert row.loc[900003, "top_token_frac"] == 0.6


# -------------------------------------------------- decontamination


def test_contamination_catches_embedded_eval_text(spark):
    bench = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"
    train = spark.createDataFrame(
        [
            (1, "intro words then " + bench + " and a tail"),
            (2, "completely unrelated text with plenty of distinct tokens in it here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    out = contamination_flags(train, ev, n=13)
    rows = {r["doc_id"]: r["n_shared_ngrams"] for r in out.collect()}
    assert 1 in rows and rows[1] >= 1
    assert 2 not in rows


def test_contamination_short_docs_cannot_match(spark):
    """Docs under n tokens yield no shingles on either side."""
    train = spark.createDataFrame([(1, "short doc")], "doc_id long, text string")
    ev = spark.createDataFrame([(2, "short doc")], "doc_id long, text string")
    assert contamination_flags(train, ev, n=13).count() == 0


# ------------------------------------------------------------- C4


def test_c4_flags(spark):
    long_tail = " word" * 60
    df = spark.createDataFrame(
        [
            (1, "good prose" + long_tail + "."),
            (2, "has code { return 0; }" + long_tail + "."),
            (3, "Lorem Ipsum boilerplate" + long_tail + "."),
            (4, "no terminal punctuation" + long_tail),
            (5, "too short."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_rule_flags(df).collect()}
    assert out[1]["keep_doc"]
    assert not out[2]["keep_doc"] and out[2]["has_brace"]
    assert not out[3]["keep_doc"] and out[3]["has_bad_phrase"]
    assert not out[4]["keep_doc"] and not out[4]["ends_with_punct"]
    assert not out[5]["keep_doc"] and out[5]["n_words"] == 2


def test_gates_refuse_input_with_their_column_names(spark):
    """Both gates attach their signals to the input rows: an input that
    already has one of those names is refused, case-insensitively."""
    df = spark.createDataFrame(
        [(1, "a b c.", True)], "doc_id long, text string, Keep_Doc boolean"
    )
    for gate in (c4_rule_flags, repetition_signals):
        with pytest.raises(ValueError, match="keep_doc"):
            gate(df)


def test_contamination_join_key_is_collision_safe(spark):
    """Regression (round 11, found on the mixed 3x replica): the
    membership join must key on the UNREDUCED 60-bit md5 hash, not the
    31-bit mod-P MinHash reduction — 'tok28384' and 'tok64101' collide
    mod 2147483647 (both 1419028374) but differ at 60 bits, so under
    the old key this false-flagged an unrelated doc."""
    train = spark.createDataFrame(
        [(1, "tok28384"), (2, "tok64101")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(9, "tok64101")], "doc_id long, text string")
    out = {r["doc_id"] for r in contamination_flags(train, ev, n=1).collect()}
    assert out == {2}  # the true match only; no mod-P false positive
