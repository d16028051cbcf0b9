"""Deterministic mixing: partition-independence, approximate rates at
volume, per-stratum recipes, validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.operators.mixing import stratified_mix


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def _sample(df, key, rate, seed):
    """One-stratum mix: every row is drawn at ``rate``."""
    return stratified_mix(df, key, {}, key=key, seed=seed, default_rate=rate)


def test_sample_is_partition_and_run_independent(spark):
    df = spark.range(2000)
    a = _ids(_sample(df, "id", 0.3, seed=7))
    b = _ids(_sample(df.repartition(13), "id", 0.3, seed=7))
    c = _ids(_sample(df, "id", 0.3, seed=7))
    assert a == b == c


def test_sample_rate_approximately_held(spark):
    df = spark.range(20000)
    n = _sample(df, "id", 0.3, seed=1).count()
    assert 0.27 < n / 20000 < 0.33
    # different seed → different membership, similar rate
    m = _sample(df, "id", 0.3, seed=2)
    assert 0.27 < m.count() / 20000 < 0.33
    assert _ids(m) != _ids(_sample(df, "id", 0.3, seed=1))


def test_sample_nested_subsets(spark):
    """Raising the fraction only ADDS rows (bucket membership is a
    threshold on one hash): the 10% mix is a subset of the 50% mix —
    what makes mixture-ratio sweeps comparable between experiments."""
    df = spark.range(5000)
    small = set(_ids(_sample(df, "id", 0.1, seed=3)))
    big = set(_ids(_sample(df, "id", 0.5, seed=3)))
    assert small <= big


def test_stratified_mix_rates_and_default(spark):
    df = spark.range(9000).withColumn(
        "src",
        F.when(F.col("id") % 3 == 0, "keep")
        .when(F.col("id") % 3 == 1, "half")
        .otherwise("other"),
    )
    out = stratified_mix(
        df, "src", {"keep": 1.0, "half": 0.5}, key="id", default_rate=0.0
    )
    counts = {r["src"]: r["n"] for r in out.groupBy("src").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("keep") == 3000          # rate 1.0 keeps everything
    assert 1350 < counts.get("half", 0) < 1650  # ~50%
    assert "other" not in counts               # default 0.0 drops stratum


def test_rate_validation(spark):
    df = spark.range(10)
    with pytest.raises(ValueError):
        stratified_mix(df, "id", {"x": -0.1}, key="id")


def test_null_keys_are_dropped_like_sql(spark):
    """NULL < rate is not true in SQL: null-key rows must be dropped, not
    hashed to one constant bucket (concat_ws would keep/drop them all
    together and diverge from the q55 oracle)."""
    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), ("c",)], "k string"
    )
    out = _sample(df, "k", 1.0, seed=42)
    got = sorted(r["k"] for r in out.collect())
    assert None not in got and got == ["a", "b", "c"]
    assert stratified_mix(
        df.withColumn("s", F.lit("x")), "s", {"x": 1.0}, key="k"
    ).filter(F.col("k").isNull()).count() == 0


def test_weighted_sample_rate_column_and_clamp(spark):
    import pandas as pd

    from nahuatl_data_pipeline_spark.operators.mixing import weighted_sample

    pdf = pd.DataFrame(
        {"id": range(3000), "q": [0.0] * 1000 + [0.5] * 1000 + [5.0] * 1000}
    )
    df = spark.createDataFrame(pdf, schema="id long, q double")
    out = weighted_sample(df, "id", F.col("q"), seed=7)
    got = out.groupBy("q").agg(F.count(F.lit(1)).alias("n")).collect()
    counts = {r["q"]: r["n"] for r in got}
    assert 0.0 not in counts                 # rate 0 drops all
    assert 400 < counts[0.5] < 600           # ~50%
    assert counts[5.0] == 1000               # clamped to 1.0 keeps all


def test_weighted_sample_partition_independent(spark):
    from nahuatl_data_pipeline_spark.operators.mixing import weighted_sample

    df = spark.range(2000).withColumn("q", F.lit(0.3))
    a = set(r["id"] for r in weighted_sample(df, "id", F.col("q")).collect())
    b = set(
        r["id"]
        for r in weighted_sample(df.repartition(17), "id", F.col("q")).collect()
    )
    assert a == b and len(a) > 0


def test_cap_per_group_exact_and_deterministic(spark):
    import pandas as pd

    from nahuatl_data_pipeline_spark.operators.mixing import cap_per_group

    pdf = pd.DataFrame(
        {"id": range(900), "g": [f"g{i % 3}" for i in range(900)]}
    )
    df = spark.createDataFrame(pdf, schema="id long, g string")
    out = cap_per_group(df, "g", key="id", cap=50)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"g0": 50, "g1": 50, "g2": 50}
    # deterministic subset, independent of partitioning
    again = cap_per_group(df.repartition(13), "g", key="id", cap=50)
    assert set(map(tuple, out.collect())) == set(map(tuple, again.collect()))
    # small groups pass through untouched
    assert cap_per_group(df, "g", key="id", cap=1000).count() == 900
    with pytest.raises(ValueError):
        cap_per_group(df, "g", key="id", cap=-1)


def test_cap_per_group_deterministic_with_duplicate_keys(spark):
    """Pre-dedup feeds repeat keys; the retained MULTISET must still be
    deterministic under repartitioning (full-row hash tiebreak)."""
    import pandas as pd

    from nahuatl_data_pipeline_spark.operators.mixing import cap_per_group

    pdf = pd.DataFrame(
        {"id": [i % 10 for i in range(200)],
         "g": ["g"] * 200,
         "payload": [f"p{i % 20}" for i in range(200)]}
    )
    df = spark.createDataFrame(pdf, schema="id long, g string, payload string")
    a = sorted(map(tuple, cap_per_group(df, "g", key="id", cap=7).collect()))
    b = sorted(
        map(tuple, cap_per_group(df.repartition(13), "g", key="id", cap=7).collect())
    )
    assert a == b and len(a) == 7


# ---------------------------------------------------------------------------
# weighted_topk_sample (A-ES)
# ---------------------------------------------------------------------------


def test_weighted_topk_partition_independent_and_ranked(spark):
    from nahuatl_data_pipeline_spark.operators.mixing import (
        weighted_topk_sample,
    )

    df = spark.range(1000).withColumn("w", F.col("id") % 10 + 1)
    a = weighted_topk_sample(df, "id", F.col("w"), k=50, seed=3).collect()
    b = weighted_topk_sample(
        df.repartition(17), "id", F.col("w"), k=50, seed=3
    ).collect()
    assert sorted(r["id"] for r in a) == sorted(r["id"] for r in b)
    ranks = sorted(r["sample_rank"] for r in a)
    assert ranks == list(range(1, 51))


def test_weighted_topk_favors_heavy_rows(spark):
    """Inclusion probability ∝ weight: rows with 100× weight should
    dominate a small sample drawn from a half-and-half population."""
    from nahuatl_data_pipeline_spark.operators.mixing import (
        weighted_topk_sample,
    )

    df = spark.range(2000).withColumn(
        "w", F.when(F.col("id") < 1000, 100.0).otherwise(1.0)
    )
    out = weighted_topk_sample(df, "id", F.col("w"), k=100, seed=11)
    heavy = out.filter(F.col("id") < 1000).count()
    assert heavy > 90  # E[heavy] ≈ 99 under A-ES; <=90 would mean broken


def test_weighted_topk_validates_k(spark):
    from nahuatl_data_pipeline_spark.operators.mixing import (
        weighted_topk_sample,
    )

    with pytest.raises(ValueError):
        weighted_topk_sample(spark.range(5), "id", F.lit(1.0), k=0)


def test_weighted_topk_nan_weight_does_not_monopolize(spark):
    """NaN sorts above every double in Spark: an unguarded NaN weight
    would put its rows at the top of every sample. The operator floors
    NaN/NULL weights instead."""
    from nahuatl_data_pipeline_spark.operators.mixing import (
        weighted_topk_sample,
    )

    df = spark.range(500).withColumn(
        "w",
        F.when(F.col("id") < 5, F.lit(float("nan"))).otherwise(F.lit(10.0)),
    )
    out = weighted_topk_sample(df, "id", F.col("w"), k=50, seed=5)
    assert out.filter(F.col("id") < 5).count() == 0  # floored, not first


def test_mix_concentration_balanced_vs_skewed(spark):
    import math

    from nahuatl_data_pipeline_spark.operators.mixing import (
        mix_concentration,
    )

    balanced = spark.createDataFrame(
        [(f"s{i % 4}",) for i in range(400)], ["src"]
    )
    r = mix_concentration(balanced, "src").collect()[0]
    assert r["hhi"] == 0.25  # 1/k for balanced k=4
    assert r["entropy"] == round(math.log(4), 6)
    assert r["n_strata"] == 4

    skewed = spark.createDataFrame(
        [("big",)] * 97 + [("tiny",)] * 3, ["src"]
    )
    s = mix_concentration(skewed, "src").collect()[0]
    assert s["hhi"] > 0.9  # one stratum dominates


def test_negative_samples_deterministic_and_self_free(spark):
    from nahuatl_data_pipeline_spark.operators.mixing import negative_samples

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    a = negative_samples(docs, n, "doc_id", k=3, seed=13).collect()
    b = negative_samples(
        docs.repartition(11), n, "doc_id", k=3, seed=13
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 3000
    for r in a:
        assert r["neg_id"] != r["doc_id"]  # anchor never its own negative
        assert 0 <= r["neg_id"] < 1000


def test_negative_samples_validates_k(spark):
    from nahuatl_data_pipeline_spark.operators.mixing import negative_samples

    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    with pytest.raises(ValueError):
        negative_samples(docs, n, "doc_id", k=0)


# ---------------------------------------------------------------------------
# budget_select
# ---------------------------------------------------------------------------


def test_budget_select_greedy_boundary(spark):
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.operators.mixing import budget_select

    rows = [(i, float(100 - i), 10.0) for i in range(10)]  # best = id 0
    df = spark.createDataFrame(rows, ["id", "score", "w"])
    out = budget_select(
        df, F.col("w"), F.col("score"), "id", budget=35
    ).collect()
    # 10+10+10 fits, the 4th row would hit 40 > 35
    assert sorted(r["id"] for r in out) == [0, 1, 2]
    assert {r["id"]: r["cum_weight"] for r in out} == {
        0: 10.0, 1: 20.0, 2: 30.0
    }


def test_budget_select_band_count_does_not_change_selection(spark):
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.operators.mixing import budget_select

    rows = [(i, float((i * 37) % 101), float(1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "score", "w"])

    def run(bands):
        return {
            (r["id"], r["cum_weight"])
            for r in budget_select(
                df, F.col("w"), F.col("score"), "id",
                budget=250, bands=bands,
            ).collect()
        }

    assert run(2) == run(32) == run(64)


def test_budget_select_ties_break_by_id_and_nulls_drop(spark):
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.operators.mixing import budget_select

    rows = [
        (3, 5.0, 10.0),
        (1, 5.0, 10.0),
        (2, 5.0, 10.0),
        (4, None, 10.0),
        (5, 9.0, None),
    ]
    df = spark.createDataFrame(rows, "id: bigint, score: double, w: double")
    out = budget_select(df, F.col("w"), F.col("score"), "id", budget=20)
    assert sorted(r["id"] for r in out.collect()) == [1, 2]
