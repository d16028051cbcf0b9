"""ANN quality gate: lsh_topk (q33) must hold recall ≥ 0.9 against the
exact brute-force cosine_topk (q24) on the same data — catches LSH
parameter regressions (radius too tight, too few tables) that planted
exact-match tests cannot see."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
)
from nahuatl_data_pipeline_spark.schemas import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_lsh_recall_at_5_vs_exact(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(q, emb, k=5))
    approx = _pairs(lsh_topk(q, emb, k=5))  # q33's defaults
    assert exact, "exact baseline must produce neighbors"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall@5 regressed to {recall:.2f}"


def test_lsh_never_invents_better_neighbors(spark, emb):
    """Every (query, neighbor, cosine) LSH returns must agree with the
    exactly-computed cosine — the approximation may MISS pairs, never
    misscore them."""
    q = emb.filter(F.col("vec_id") < 5)
    exact_all = cosine_topk(q, emb, k=500).select(
        "query_id", "neighbor_id", F.col("cosine").alias("exact_cos")
    )
    approx = lsh_topk(q, emb, k=5)
    joined = approx.join(exact_all, ["query_id", "neighbor_id"], "left").collect()
    assert joined
    for r in joined:
        assert r["exact_cos"] is not None
        assert abs(r["cosine"] - r["exact_cos"]) <= 1e-3


def test_ivf_recall_at_5_vs_exact(spark, emb):
    from nahuatl_data_pipeline_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(q, emb, k=5))
    approx = _pairs(ivf_topk(q, emb, k=5))  # q57's defaults
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"IVF recall@5 regressed to {recall:.2f}"


# ---------------------------------------------------------------------------
# srp_topk (q168): the oracle-portable ANN twin. Its invariant legs:
#   1. planted high-cosine neighbors (the near-dup retrieval case ANN
#      exists for) are recovered — SRP bits flip with prob θ/π, so a
#      cosine≈0.98 neighbor lands within hamming radius 2 essentially
#      always;
#   2. scoring parity — every returned cosine equals the exactly
#      computed one (candidates may be missed, never misscored);
#   3. widening the probe radius is monotone in recall.
# On the DIFFUSE synthetic corpus recall@5 is structurally low (~0.35:
# top-5 angles there are near 60°, where any single-table LSH carries
# little signal) — that band is asserted as documentation, not quality.
# ---------------------------------------------------------------------------


def _planted_corpus(spark):
    """200 md5-derived diffuse vectors + a cosine≈0.98 twin of each of
    the first 20 (ids 1000+i). Deterministic — no rand()."""
    import hashlib
    import math

    def vec(seed, dim=64):
        return [
            (int(hashlib.md5(f"{seed}:{d}".encode()).hexdigest()[:8], 16)
             % 2000 - 1000) / 1000.0
            for d in range(dim)
        ]

    rows = [(i, vec(f"base{i}")) for i in range(200)]
    for i in range(20):
        b, p = vec(f"base{i}"), vec(f"pert{i}")
        nb = math.sqrt(sum(x * x for x in b))
        np_ = math.sqrt(sum(x * x for x in p))
        rows.append(
            (1000 + i, [x + 0.08 * nb * y / np_ for x, y in zip(b, p)])
        )
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def test_srp_recovers_planted_high_cosine_neighbors(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import srp_topk

    df = _planted_corpus(spark)
    q = df.filter(F.col("vec_id") < 20)
    exact = _pairs(cosine_topk(q, df, k=1))
    planted = {(i, 1000 + i) for i in range(20)}
    assert exact == planted, "exact top-1 must be the planted twins"
    approx = _pairs(srp_topk(q, df, k=1))
    recall = len(planted & approx) / len(planted)
    assert recall >= 0.9, f"SRP planted recall regressed to {recall:.2f}"


def test_srp_never_invents_better_neighbors(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import srp_topk

    df = _planted_corpus(spark)
    q = df.filter(F.col("vec_id") < 20)
    exact_all = cosine_topk(q, df, k=500).select(
        "query_id", "neighbor_id", F.col("cosine").alias("exact_cos")
    )
    joined = (
        srp_topk(q, df, k=5)
        .join(exact_all, ["query_id", "neighbor_id"], "left")
        .collect()
    )
    assert joined
    for r in joined:
        assert r["exact_cos"] is not None
        assert abs(r["cosine"] - r["exact_cos"]) <= 1e-9


def test_srp_multi_table_amplification_reaches_lsh_bar(spark, emb):
    """n_tables > 1 is the OR-amplification leg: independent hyperplane
    sets (bit_offset-shifted md5 seeds) must lift diffuse-corpus recall
    monotonically, reaching q33's 0.9 bar at 8 tables (measured 0.94 at
    sf0.001 / 0.96 at sf0.01 — deterministic data, no rand)."""
    from nahuatl_data_pipeline_spark.operators.similarity import srp_topk

    q = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(q, emb, k=5))
    r1 = len(exact & _pairs(srp_topk(q, emb, k=5, n_tables=1)))
    r8 = len(exact & _pairs(srp_topk(q, emb, k=5, n_tables=8)))
    assert r8 >= r1, "more tables must not lose recall"
    assert r8 / len(exact) >= 0.9, f"L=8 recall {r8 / len(exact):.2f}"
    with pytest.raises(ValueError):
        srp_topk(q, emb, k=5, n_tables=0)


def test_srp_probe_radius_monotone_on_diffuse_corpus(spark, emb):
    from nahuatl_data_pipeline_spark.operators.similarity import srp_topk

    q = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(q, emb, k=5))
    r0 = len(exact & _pairs(srp_topk(q, emb, k=5, probe_hamming=0)))
    r1 = len(exact & _pairs(srp_topk(q, emb, k=5, probe_hamming=1)))
    r2 = len(exact & _pairs(srp_topk(q, emb, k=5, probe_hamming=2)))
    assert r0 <= r1 <= r2, "wider probe radius must not lose recall"
    # honest diffuse-corpus band (deterministic data; documents the
    # structural single-table limit, see module comment above)
    assert r2 / len(exact) >= 0.2
    for bad in (-1, 3):
        with pytest.raises(ValueError):
            srp_topk(q, emb, k=5, probe_hamming=bad)


def test_ivf_portable_exact_when_probing_all_cells(spark, emb):
    """ivf_topk_portable (q169) with n_probe == n_centroids probes every
    cell — results must EQUAL the exact baseline row-for-row (same
    rounding, same tie-break): the strongest invariant the inverted
    file admits."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        ivf_topk_portable,
    )

    q = emb.filter(F.col("vec_id") < 5)
    exact = sorted(map(tuple, cosine_topk(q, emb, k=3).collect()))
    full = sorted(
        map(
            tuple,
            ivf_topk_portable(
                q, emb, k=3, n_centroids=8, n_probe=8
            ).collect(),
        )
    )
    assert full == exact


def test_ivf_portable_recovers_planted_and_probe_monotone(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        ivf_topk_portable,
    )

    df = _planted_corpus(spark)
    q = df.filter(F.col("vec_id") < 20)
    planted = {(i, 1000 + i) for i in range(20)}
    approx = _pairs(ivf_topk_portable(q, df, k=1, n_probe=4))
    recall = len(planted & approx) / len(planted)
    assert recall >= 0.9, f"IVF planted recall regressed to {recall:.2f}"
    # a cosine≈0.98 twin shares its base's nearest centroid essentially
    # always, so even n_probe=1 must find most planted pairs
    n1 = len(planted & _pairs(ivf_topk_portable(q, df, k=1, n_probe=1)))
    n4 = len(planted & approx)
    assert n4 >= n1, "wider probing must not lose recall"
    assert n1 / len(planted) >= 0.8


def test_ivf_exact_when_probing_all_cells(spark, emb):
    """n_probe == n_clusters degrades to brute force: results must equal
    the exact baseline (same rounding, same tie-break)."""
    from nahuatl_data_pipeline_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 5)
    exact = sorted(map(tuple, cosine_topk(q, emb, k=3).collect()))
    full = sorted(
        map(
            tuple,
            ivf_topk(q, emb, k=3, n_clusters=8, n_probe=8).collect(),
        )
    )
    assert full == exact


# ---------------------------------------------------------------------------
# Broadcast size gate: a corpus-sized query side must NOT be broadcast
# (VERDICT r2 item 2). Forcing the gate to 0 simulates "query set too big"
# on small data; results must be identical either way, and the fallback
# plan must not contain a BroadcastExchange on the query side.
# ---------------------------------------------------------------------------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def _no_auto_broadcast(spark):
    """On test-sized data the PLANNER itself broadcasts any join side
    (BroadcastNestedLoopJoin for non-equi conditions) regardless of our
    explicit size gate — at corpus scale the statistics would forbid that.
    Disable auto-broadcast so any BroadcastExchange left in the gated plan
    can only come from a forced ``F.broadcast`` — the bug the gate guards
    against."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cosine_topk_gate_fallback_matches_broadcast(spark, emb):
    from nahuatl_data_pipeline_spark.operators.similarity import cosine_topk

    q = emb.filter(F.col("vec_id") < 5)
    fast = sorted(map(tuple, cosine_topk(q, emb, k=3).collect()))
    with _no_auto_broadcast(spark):
        gated = cosine_topk(q, emb, k=3, broadcast_max_queries=0)
        assert "BroadcastExchange" not in _executed_plan(gated)
        assert sorted(map(tuple, gated.collect())) == fast


def test_cosine_neardup_gate_fallback_matches_broadcast(spark, emb):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    # corpus-scale self-search: query side == corpus — exactly the shape
    # the gate exists for. Threshold 0.3 ≈ the p99.9 cosine of the
    # driver-generated embeddings (max ~0.48) so the search finds real
    # pairs without being trivially dense.
    fast = sorted(
        map(tuple, cosine_neardup_pairs(emb, emb, threshold=0.3).collect())
    )
    with _no_auto_broadcast(spark):
        gated = cosine_neardup_pairs(
            emb, emb, threshold=0.3, broadcast_max_queries=0
        )
        assert "BroadcastExchange" not in _executed_plan(gated)
        assert sorted(map(tuple, gated.collect())) == fast
    assert fast, "self-search at threshold 0.3 should find pairs"


def test_ivf_gate_fallback_matches_broadcast(spark, emb):
    from nahuatl_data_pipeline_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 5)
    fast = sorted(map(tuple, ivf_topk(q, emb, k=3).collect()))
    with _no_auto_broadcast(spark):
        gated = ivf_topk(q, emb, k=3, broadcast_max_probes=0)
        plan = _executed_plan(gated)
        assert "BroadcastExchange" not in plan
        # the fallback is a shuffle hash join on __cell, not a cartesian
        assert "Cartesian" not in plan and "NestedLoop" not in plan
        assert sorted(map(tuple, gated.collect())) == fast


# ---------------------------------------------------------------------------
# embedding_centroids
# ---------------------------------------------------------------------------


def test_centroids_hand_computed(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_centroids,
    )

    rows = [
        (0, [1.0, 2.0]),
        (0, [3.0, 4.0]),
        (1, [10.0, 20.0]),
    ]
    df = spark.createDataFrame(rows, ["label", "embedding"])
    got = {
        (r["label"], r["pos"]): (r["centroid"], r["n_vecs"])
        for r in embedding_centroids(df, "label").collect()
    }
    assert got == {
        (0, 0): (2.0, 2),
        (0, 1): (3.0, 2),
        (1, 0): (10.0, 1),
        (1, 1): (20.0, 1),
    }


def test_centroids_full_dim_coverage(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_centroids,
    )
    from nahuatl_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "label", "embedding"
    )
    out = embedding_centroids(emb, "label")
    n_labels = emb.select("label").distinct().count()
    assert out.count() == 64 * n_labels  # every (label, dim) cell present


def test_hard_negatives_exclude_same_label(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),   # same label, most similar — must be skipped
        (2, [0.9, 0.3], 1),
        (3, [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = hard_negatives(
        emb.filter("vec_id = 0"), emb, k=2
    ).collect()
    ids = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ids == [2, 3]  # label-0 neighbors excluded, ordered by cosine


# ---------------------------------------------------------------------------
# quantize_int8
# ---------------------------------------------------------------------------


def test_quantize_int8_codes_and_bounds(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0, -1.0]), (2, [0.0, 0.0])],
        "id: bigint, v: array<float>",
    )
    out = {r["id"]: r for r in quantize_int8(df, "v").collect()}
    assert out[1]["q8_scale"] == 1.0 / 127
    # 1.0 -> 127, -0.5 -> floor(-63.5+0.5) = -63, 0 -> 0, -1 -> -127
    assert out[1]["q8_codes"] == [127, -63, 0, -127]
    # zero vector: scale 0, all-zero codes (guarded division)
    assert out[2]["q8_scale"] == 0.0
    assert out[2]["q8_codes"] == [0, 0]


def test_quantize_int8_reconstruction_error_bounded(spark):
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(50)]
    df = spark.createDataFrame(rows, "id: bigint, v: array<float>")
    q = quantize_int8(df, "v")
    worst = q.select(
        F.aggregate(
            F.zip_with(
                F.transform("v", lambda x: x.cast("double")),
                "q8_codes",
                lambda x, c: F.abs(
                    x - c.cast("double") * F.col("q8_scale")
                ),
            ),
            F.lit(0.0),
            lambda a, e: F.greatest(a, e),
        ).alias("m")
    ).agg(F.max("m")).collect()[0][0]
    # symmetric quantization error <= scale/2 <= (2/127)/2
    assert worst <= (2.0 / 127) / 2 + 1e-9


# --- embedding covariance / ZCA whitening ----------------------------------


def _cov_df(spark, rows, dim):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        f"vec_id long, embedding array<double>",
    )


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    # deterministic correlated 3-dim data
    X = np.array(
        [[i % 7, (i % 7) * 2.0 + (i % 3), (i % 5) - 2.0] for i in range(40)],
        dtype=np.float64,
    )
    df = _cov_df(spark, X.tolist(), 3)
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df, "embedding", 3).collect()
    }
    want = np.cov(X, rowvar=False)
    assert len(got) == 6  # upper triangle of 3x3
    for (i, j), v in got.items():
        assert v == pytest.approx(want[i, j], abs=1e-6), (i, j)


def test_embedding_covariance_skips_bad_vectors(spark):
    import numpy as np

    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    X = [[1.0, 2.0], [3.0, 1.0], [2.0, 5.0], [0.0, 1.0]]
    rows = [(0, X[0]), (1, X[1]), (2, None), (3, [1.0]), (4, X[2]), (5, X[3])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df, "embedding", 2).collect()
    }
    want = np.cov(np.array(X), rowvar=False)
    for (i, j), v in got.items():
        assert v == pytest.approx(want[i, j], abs=1e-6)


def test_mahalanobis_outliers_finds_planted_outlier(spark):
    import numpy as np

    from nahuatl_data_pipeline_spark.operators.similarity import (
        mahalanobis_outliers,
    )

    # tight deterministic cluster + one far point
    rows = [(i, [float(i % 3) * 0.01, float(i % 5) * 0.01]) for i in range(50)]
    rows.append((999, [50.0, -50.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mahalanobis_outliers(df, "vec_id", "embedding", 2, k=3).collect()
    assert got[0]["vec_id"] == 999 and got[0]["rank"] == 1
    assert got[0]["md2"] > got[1]["md2"] * 10


def test_mahalanobis_constant_dimension_no_crash(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        mahalanobis_outliers,
    )

    # dim 1 is constant: variance floors at 1e-12 instead of dividing
    # by zero; scores stay finite
    rows = [(i, [float(i), 7.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mahalanobis_outliers(df, "vec_id", "embedding", 2, k=5).collect()
    assert len(got) == 5
    import math
    assert all(math.isfinite(r["md2"]) for r in got)


def test_mahalanobis_validates_k(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        mahalanobis_outliers,
    )

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        mahalanobis_outliers(df, "vec_id", "embedding", 1, k=0)


def test_embedding_covariance_partition_stable(spark):
    """Partial-Gram sums change batch order with the partitioning; the
    rounded output must not."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    rows = [
        (i, [((i * 7 + j * 3) % 11) / 10.0 for j in range(4)])
        for i in range(300)
    ]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df9 = df1.repartition(9)
    c1 = sorted(map(tuple, embedding_covariance(df1, "embedding", 4).collect()))
    c9 = sorted(map(tuple, embedding_covariance(df9, "embedding", 4).collect()))
    assert c1 == c9


def test_covariance_moments_merge_equals_direct(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
        embedding_moments,
        finalize_covariance,
        merge_covariance_moments,
    )

    rows = [
        (i, [((i * 5 + j) % 13) / 7.0 for j in range(3)]) for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    direct = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df, "embedding", 3).collect()
    }
    # 3-way disjoint shards
    parts = [
        embedding_moments(
            df.filter(F.col("vec_id") % 3 == k), "embedding", 3
        )
        for k in range(3)
    ]
    merged = {
        (r["i"], r["j"]): r["cov"]
        for r in finalize_covariance(
            merge_covariance_moments(*parts)
        ).collect()
    }
    assert merged == direct
    # single-part merge is the identity path
    solo = {
        (r["i"], r["j"]): r["cov"]
        for r in finalize_covariance(
            merge_covariance_moments(embedding_moments(df, "embedding", 3))
        ).collect()
    }
    assert solo == direct


def test_merge_covariance_moments_requires_parts(spark):
    from nahuatl_data_pipeline_spark.operators.similarity import (
        merge_covariance_moments,
    )

    with pytest.raises(ValueError):
        merge_covariance_moments()


def test_empty_corpus_schema_inherits_id_type(spark):
    """ADVICE r11: the empty-corpus early return must carry the SAME id
    type the populated path would (string ids here), not hardcoded long."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        ivf_topk_portable,
        srp_topk,
    )

    empty = spark.createDataFrame(
        [], "vec_id string, embedding array<float>"
    )
    populated = spark.createDataFrame(
        [(f"v{i}", [float(i == j) for j in range(4)]) for i in range(6)],
        "vec_id string, embedding array<float>",
    )
    out_empty = ivf_topk_portable(populated, empty, dim=4, n_centroids=2)
    out_full = ivf_topk_portable(
        populated.limit(1), populated, dim=4, n_centroids=2
    )
    # names + types must match (nullability legitimately differs: the
    # populated path's row_number rank is non-nullable)
    assert [(f.name, f.dataType) for f in out_empty.schema.fields] == [
        (f.name, f.dataType) for f in out_full.schema.fields
    ]
    assert out_empty.count() == 0
    # srp_topk's empty path flows through the same helper
    srp_empty = srp_topk(populated, empty, dim=4, n_bits=2)
    assert [f.dataType for f in srp_empty.schema.fields[:2]] == [
        populated.schema["vec_id"].dataType
    ] * 2


def test_fixed_dim_cosine_nulls_rows_off_the_declared_dim(spark):
    """cosine_cols(dim=) equals the fold on exact-length rows and is
    NULL on any row whose arrays are not both ``dim`` long: an
    over-length array must not be truncated into a wrong cosine."""
    from nahuatl_data_pipeline_spark.operators.similarity import cosine_cols

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),       # exact
            (2, [1.0, 2.0, 3.0, 4.0], [3.0, 2.0, 1.0]),  # a over-length
            (3, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0, 9.0]),  # b over-length
            (4, [1.0, 2.0], [3.0, 2.0]),                 # both under-length
            (5, None, [3.0, 2.0, 1.0]),                  # NULL array
        ],
        "k int, a array<double>, b array<double>",
    )
    rows = {
        r["k"]: (r["fixed"], r["fold"])
        for r in df.select(
            "k",
            cosine_cols("a", "b", dim=3).alias("fixed"),
            cosine_cols("a", "b").alias("fold"),
        ).collect()
    }
    assert rows[1][0] is not None and rows[1][0] == rows[1][1]
    assert [rows[k][0] for k in (2, 3, 4, 5)] == [None] * 4


def test_repeated_gated_calls_bound_persisted_storage(spark, emb):
    """The broadcast gate's query-side pin rides the similarity cache
    generation: N sequential calls hold at most one call's persisted
    frame, and releasing the pool returns to the baseline."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        release_similarity_caches,
    )

    release_similarity_caches()  # start from a known state
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    for _ in range(3):
        cosine_topk(emb, emb, k=3).count()
    assert jsc.getPersistentRDDs().size() <= base + 1
    release_similarity_caches()
    assert jsc.getPersistentRDDs().size() <= base
