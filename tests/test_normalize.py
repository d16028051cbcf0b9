"""Normalization-function unit tests (mirrors reference
``tests/unit/test_normalizers.py``: macron preservation, whitespace,
saltillo, vowel runs, typography)."""

from __future__ import annotations

import unicodedata

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.normalize import (
    clamp_vowel_runs,
    clean_spanish_typography,
    collapse_whitespace,
    dedup_key,
    empty_to_null,
    fix_punctuation_spacing,
    nfc_normalize,
    normalize_maya_glottal,
    normalize_saltillo,
    normalize_text,
    orthographic_variant,
    remove_page_artifacts,
    remove_urls,
)


def apply_fn(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], ["t"])
    return [r[0] for r in df.select(fn(F.col("t")).alias("o")).collect()]


def test_collapse_whitespace(spark):
    out = apply_fn(spark, collapse_whitespace, ["  hola \t  mundo \n", "a  b"])
    assert out == ["hola mundo", "a b"]


def test_empty_to_null(spark):
    out = apply_fn(spark, empty_to_null, ["  ", "", " x "])
    assert out == [None, None, "x"]


def test_remove_urls_and_page_artifacts(spark):
    out = apply_fn(spark, remove_urls, ["ver http://x.co/a aquí"])
    assert out == ["ver  aquí"]
    out = apply_fn(spark, remove_page_artifacts, ["texto Página 12 sigue", "PÁGINA 3"])
    assert out == ["texto  sigue", "PÁGINA 3"]  # only 'Página N' form, any case of it


def test_saltillo_unification(spark):
    # ' (U+0027) ’ (U+2019) ` (U+0060) ʔ (U+0294) → ʼ (U+02BC)
    out = apply_fn(spark, normalize_saltillo, ["tla'tolli", "tla’tolli", "tla`tolli", "tlaʔtolli"])
    assert out == ["tlaʼtolli"] * 4


def test_vowel_run_clamp_preserves_macrons(spark):
    out = apply_fn(
        spark, clamp_vowel_runs, ["tlaaa", "tlāāā", "TLAAA", "TLĀĀĀ", "tla"]
    )
    # TLĀĀĀ requires (?u): Java's (?i) alone is ASCII-only case folding
    assert out == ["tlaa", "tlāā", "TLAA", "TLĀĀ", "tla"]


def test_punctuation_spacing(spark):
    out = apply_fn(spark, fix_punctuation_spacing, ["hola , mundo ."])
    assert out == ["hola, mundo."]


def test_maya_glottal(spark):
    out = apply_fn(spark, normalize_maya_glottal, ["kʼiin", "k ' iin", "ch’e’en"])
    assert out == ["k'iin", "k' iin", "ch'e'en"]


def test_spanish_typography(spark):
    out = apply_fn(
        spark,
        clean_spanish_typography,
        ["«Hola» — dijo… “sí” ‘no’", "a--b", "x y"],
    )
    assert out == ['"Hola" - dijo... "sí" \'no\'', "a-b", "x y"]


def test_orthographic_variants(spark):
    assert apply_fn(spark, lambda c: orthographic_variant(c, "central"), ["witz ta'tolli"]) == [
        "huitz tahtolli"
    ]
    assert apply_fn(spark, lambda c: orthographic_variant(c, "huasteca"), ["huitz"]) == ["witz"]


def test_nfc_normalize_composes(spark):
    # a + combining macron (U+0304) must compose to ā (U+0101)
    decomposed = "ā"
    out = apply_fn(spark, nfc_normalize, [decomposed, "ā"])
    assert out == ["ā", "ā"]

    # every form agrees with unicodedata: NULL, empty, decomposed and
    # precomposed macron vowels, saltillo, Maya ejective, Spanish
    # punctuation, Hangul (composed and as jamo), and the ﬁ ligature
    # that only the K forms expand
    samples = [
        None, "",
        unicodedata.normalize("NFD", "āēīōū"), "āēīōū",
        "tlaʼtolli", "k'iin", "ñ ¿ ¡",
        "한국어", unicodedata.normalize("NFD", "한국어"), "ﬁn",
    ]
    for form in ("NFC", "NFD", "NFKC", "NFKD"):
        out = apply_fn(spark, lambda c, f=form: nfc_normalize(c, form=f), samples)
        want = [None if s is None else unicodedata.normalize(form, s) for s in samples]
        assert out == want, form
    assert apply_fn(spark, nfc_normalize, ["ﬁ"]) == ["ﬁ"]
    assert apply_fn(spark, lambda c: nfc_normalize(c, form="NFKC"), ["ﬁ"]) == ["fi"]

    # the stated divergence: ICU implements a newer Unicode than
    # unicodedata and composes Tulu-Tigalari U+11382 U+113C9 to U+11383
    assert apply_fn(spark, nfc_normalize, ["\U00011382\U000113C9"]) == ["\U00011383"]


def test_nfc_rejects_bad_form():
    with pytest.raises(ValueError):
        nfc_normalize(F.col("x"), form="NFX")


def test_normalize_text_composed_pipeline(spark):
    # strip → NFC → nah rules → whitespace collapse → empty→NULL
    out = apply_fn(
        spark,
        lambda c: normalize_text(c, lang="nah"),
        ["  tla’tolli   aaa \t", "   ", None],
    )
    assert out == ["tlaʼtolli aa", None, None]


def test_zero_tolerance_unicode_preservation(spark):
    """Reference invariant (test_parity_with_legacy.py:201-245): macrons,
    saltillo, ejectives survive the full normalization chain."""
    samples = [
        "Tlazohcāmati huēyi",
        "niknekiʼ nitlahtoa",
        "k'iin ch'e'en ts'ib",
        "¿Cómo está? ¡Bien!",
    ]
    out = apply_fn(spark, lambda c: normalize_text(c), samples)
    for o, s in zip(out, samples):
        for ch in "āēīōūʼñ¿¡":
            assert (ch in s) == (ch in o), f"{ch!r} lost in {s!r}→{o!r}"


def test_dedup_key_null_and_case(spark):
    df = spark.createDataFrame(
        [("Hola ", "MUNDO", None), ("hola", " mundo", None)],
        "a string, b string, c string",
    )
    keys = [r[0] for r in df.select(dedup_key("a", "b", "c").alias("k")).collect()]
    assert keys[0] == keys[1] == "hola|mundo|"


def test_orthographic_central_handles_canonical_saltillo(spark):
    from nahuatl_data_pipeline_spark.functions.normalize import (
        normalize_saltillo,
        orthographic_variant,
    )

    # pipeline order: saltillo-normalize (→ʼ) THEN central respelling
    out = apply_fn(
        spark,
        lambda c: orthographic_variant(normalize_saltillo(c), "central"),
        ["tlaʼtolli", "tla'tolli", "tla’tolli"],
    )
    assert out == ["tlahtolli"] * 3


def test_fix_mojibake_roundtrip_and_nop(spark):
    """make_mojibake → fix_mojibake restores the original (every table
    entry exercised), clean text passes through untouched, NULL stays
    NULL, and the repair is pure codegen (no Python hop)."""
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.functions.normalize import (
        MOJIBAKE_TABLE,
        fix_mojibake,
        make_mojibake,
    )

    clean = " ".join(fixed for _, fixed in MOJIBAKE_TABLE) + " plain ascii"
    broken = make_mojibake(clean)
    assert broken != clean
    df = spark.createDataFrame(
        [(broken,), (clean,), (None,)], "t string"
    )
    out = [r.f for r in df.select(fix_mojibake("t").alias("f")).collect()]
    assert out == [clean, clean, None]
    plan = (
        df.select(fix_mojibake("t").alias("f"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mojibake_sql_mirror_matches_spark(spark):
    """The DuckDB REPLACE chain and the Spark replace chain are the
    same function (one table, one order)."""
    import duckdb

    from nahuatl_data_pipeline_spark.functions.normalize import (
        fix_mojibake,
        make_mojibake,
        mojibake_repair_sql,
    )
    from pyspark.sql import functions as F

    samples = [
        make_mojibake("«Café» — ¿qué más? día… ‘ok’ 5€ 30°"),
        "already clean ö text",
        # double-encoded: one pass peels exactly one layer on BOTH sides
        make_mojibake(make_mojibake("niño")),
        "",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got_spark = [r.f for r in df.select(fix_mojibake("t").alias("f")).collect()]
    con = duckdb.connect()
    got_sql = [
        con.execute(
            f"SELECT {mojibake_repair_sql('?::VARCHAR')} AS f", [s]
        ).fetchone()[0]
        for s in samples
    ]
    assert got_spark == got_sql


def test_clean_invisible_values_and_mirror(spark):
    """Every deletable codepoint is removed, NBSP maps to space, clean
    text and NULL pass through; the DuckDB mirror computes the same
    strings; codegen plan."""
    import duckdb
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.functions.normalize import (
        INVISIBLE_CODEPOINTS,
        clean_invisible,
        invisible_clean_sql,
    )

    dirty = "a" + "".join(chr(c) for c in INVISIBLE_CODEPOINTS) + "b c"
    samples = [dirty, "plain text", "", None]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r.c for r in df.select(clean_invisible("t").alias("c")).collect()]
    assert got == ["ab c", "plain text", "", None]
    con = duckdb.connect()
    got_sql = [
        con.execute(
            f"SELECT {invisible_clean_sql('?::VARCHAR')} AS c", [s]
        ).fetchone()[0]
        for s in samples
    ]
    assert got == got_sql
    plan = (
        df.select(clean_invisible("t").alias("c"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_normalize_text_fix_encoding_stage(spark):
    """fix_encoding=True prepends mojibake repair + invisible strip
    BEFORE NFC/lang rules (order contract: normalize.py:257-330)."""
    dirty = "﻿CafÃ© de la maÃ±ana​  aquÃ­."
    out = apply_fn(
        spark,
        lambda c: normalize_text(c, lang="es", fix_encoding=True),
        [dirty, None],
    )
    assert out == ["Café de la mañana aquí.", None]
    # off by default: mojibake passes through untouched
    out_off = apply_fn(spark, lambda c: normalize_text(c, lang="es"), [dirty])
    assert "Ã" in out_off[0]
