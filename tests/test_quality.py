"""A11/A12 unit tests: declarative quality checks compiled to one agg pass
(mirrors reference DataQuality.scala checks + the GE suite semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.operators.quality import (
    Check,
    length_in_range_ratio,
    not_null_ratio,
    regex_match_ratio,
    row_count,
    run_checks,
    unique_ratio,
    values_in_set_ratio,
)

SCHEMA = "es string, nah string, source string"


def _df(spark):
    return spark.createDataFrame(
        [
            ("hola", "niltze", "manual"),
            ("adios", "tlazohcāmati", "manual"),
            ("hola", None, "synthetic"),
            ("que tal", "cualli", "unknown"),
        ],
        SCHEMA,
    )


def _result(spark, checks):
    rows = run_checks(_df(spark), checks).collect()
    return {r["check"]: r for r in rows}


def test_not_null_and_regex_ratios(spark):
    res = _result(
        spark,
        [
            Check("es_not_null", not_null_ratio("es"), ">=", 1.0),
            Check("nah_not_null", not_null_ratio("nah"), ">=", 0.95),
            Check("nah_macron", regex_match_ratio("nah", "[āēīōū]"), ">=", 0.30),
        ],
    )
    assert res["es_not_null"]["metric"] == 1.0 and res["es_not_null"]["passed"]
    assert res["nah_not_null"]["metric"] == 0.75
    assert not res["nah_not_null"]["passed"]
    # macron ratio is over NON-NULL values (GE `mostly` semantics): 1/3
    assert abs(res["nah_macron"]["metric"] - 1 / 3) < 1e-6
    assert res["nah_macron"]["passed"]


def test_unique_and_set_ratios(spark):
    res = _result(
        spark,
        [
            Check("es_unique", unique_ratio("es"), "between", 0.98, 1.0),
            Check(
                "source_in_set",
                values_in_set_ratio("source", ["manual", "synthetic", "unknown"]),
                ">=",
                1.0,
            ),
        ],
    )
    assert res["es_unique"]["metric"] == 0.75 and not res["es_unique"]["passed"]
    assert res["source_in_set"]["metric"] == 1.0 and res["source_in_set"]["passed"]


def test_length_and_rowcount(spark):
    res = _result(
        spark,
        [
            Check("es_len", length_in_range_ratio("es", 5, 1000), ">=", 0.98),
            Check("rows", row_count(), "between", 1, 10),
        ],
    )
    assert res["es_len"]["metric"] == 0.5  # 'adios', 'que tal' pass; 2/4
    assert res["rows"]["metric"] == 4.0 and res["rows"]["passed"]


def test_suite_is_single_pass(spark):
    """The whole suite must compile to ONE aggregate over the input —
    no per-check scan."""
    checks = [
        Check("a", not_null_ratio("es"), ">=", 1.0),
        Check("b", unique_ratio("es"), ">=", 0.5),
        Check("c", row_count(), ">", 0),
    ]
    plan = run_checks(_df(spark), checks)._jdf.queryExecution().optimizedPlan().toString()
    # a single aggregate node pair (partial+final appears as one logical Aggregate)
    assert plan.count("Aggregate") == 1, plan


# ---------------------------------------------------------------------------
# percentile_transform
# ---------------------------------------------------------------------------


def test_percentile_transform_bands_known_distribution(spark):
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.operators.quality import (
        percentile_transform,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], ["v"]
    )
    tgt = spark.createDataFrame(
        [(0.0,), (50.0,), (200.0,), (None,)], "x: double"
    )
    out = {r["x"]: r["band"]
           for r in percentile_transform(
               tgt, F.col("x"), ref, F.col("v"), bands=4
           ).collect()}
    # quartile cuts of 1..100 ~ (25.75, 50.5, 75.25)
    assert out[0.0] == 0
    assert out[50.0] == 1
    assert out[200.0] == 3
    assert out[None] is None


def test_percentile_transform_never_shuffles_scored_side(spark):
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.operators.quality import (
        percentile_transform,
    )

    ref = spark.range(1000).select(F.col("id").cast("double").alias("v"))
    tgt = spark.range(5000).select(F.col("id").cast("double").alias("x"))
    plan = (
        percentile_transform(tgt, F.col("x"), ref, F.col("v"), bands=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the 1-row cuts broadcast; the scored side stays exchange-free
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_code_switch_profile_hand_case(spark):
    from nahuatl_data_pipeline_spark.operators.quality import (
        code_switch_profile,
    )

    df = spark.createDataFrame(
        [
            # 2 nah sentences + 1 es -> majority nah, switch 1/3
            (1, "tlatoani tzintli. tlalli kweponi. ¡hola señor!"),
            # 1 es + 1 nah -> tie, lexicographic majority 'es', switch 0.5
            (2, "¿cómo está? nican tzintli."),
            # signal-free text -> zero labeled sentences -> absent
            (3, "plain words only. more plain words."),
            # monolingual
            (4, "¡buenos días señor!"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (
            r["majority_lang"], r["n_sents_lid"], r["n_langs"],
            r["switch_frac"],
        )
        for r in code_switch_profile(df, "doc_id", "text").collect()
    }
    assert got[1] == ("nah", 3, 2, round(1 / 3, 6))
    assert got[2] == ("es", 2, 2, 0.5)
    assert 3 not in got
    assert got[4] == ("es", 1, 1, 0.0)
