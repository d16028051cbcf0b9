"""Similarity search over embedding columns (SURVEY.md training-data ops).

Two paths:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Broadcast the (small) query set against the corpus; cosine is a
  sequential left-fold over the array so results are bit-reproducible
  across engines.
- ``lsh_topk``: BucketedRandomProjectionLSH-bucketed approximate top-k —
  the 100 TB path (maps the reference's FAISS top-1 alignment join,
  ``pipeline/alignment/aligner.py:15-50``). Candidates come from hash
  buckets instead of a full cross product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.spread import spread_narrow
from nahuatl_data_pipeline_spark.session import CachePool, pin


# Query-side broadcast gate (rows). Embedding rows are wide (dim × 8 B), so
# the row gate is deliberately lower than fuzzy_dedup's 2M candidate-pair
# gate: 100k rows × 128-dim doubles ≈ 100 MB, comfortably inside the
# executor/driver broadcast budget; a corpus-scale self-search (query side ==
# corpus) blows past it and must NOT be collected to the driver.
BROADCAST_MAX_QUERY_ROWS = 100_000

_LIVE_CACHES = CachePool()
release_similarity_caches = _LIVE_CACHES.release


def _gate_and_pin(df: DataFrame, max_rows: int) -> tuple[DataFrame, bool]:
    """Broadcast gate + materialization fused into ONE job (the
    anomaly.py ``_gated_stats_join`` pattern, r13; VERDICT r13 task #5).

    The frame is pinned and the full count materializes it: one job
    yields both the gate decision and the blocks every consumer (driver
    collect, broadcast build thread, each cartesian block) reads instead
    of re-deriving the query-side plan. The cache spills to disk, so an
    over-gate corpus-scale side spills rather than OOMs, and the
    blocked-cartesian fallback reads it once per corpus block. A bounded
    ``limit(max_rows + 1)`` probe would save nothing, because a cached
    partition is always computed in full (such a probe over a persisted
    16-partition, 4M-row frame cached all 16 partitions).

    The pin joins the similarity cache generation, which the CALLER
    releases at its entry (never here: ``ivf_topk`` pins its corpus
    side before gating). Returns ``(pinned_df, fits)``; a pinned frame
    holds the same rows as the unpinned plan, so no query needs
    re-certification."""
    df = pin(df, pool=_LIVE_CACHES)
    return df, df.count() <= max_rows


def _empty_topk_result(corpus: DataFrame, id_col: str) -> DataFrame:
    """Empty (query_id, neighbor_id, cosine, rank) frame whose id
    columns inherit ``corpus``'s ACTUAL id type — the empty-corpus early
    return must not hand a non-long ``id_col`` caller a different schema
    than the populated path does (ADVICE r11)."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_type = corpus.schema[id_col].dataType
    return corpus.sparkSession.createDataFrame(
        [],
        StructType(
            [
                StructField("query_id", id_type),
                StructField("neighbor_id", id_type),
                StructField("cosine", DoubleType()),
                StructField("rank", IntegerType()),
            ]
        ),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_cols(a, b, dim: int | None = None) -> F.Column:
    """cosine(a, b) computed in double precision, sequential fold order
    (portable: any engine folding left-to-right matches bit-for-bit).

    ``dim`` (VERDICT r13 task #6): when the array length is statically
    known — the embeddings table is fixed-dim by dataset contract
    (schemas.EMBEDDING_DIM; min=max=64 verified at every SF) — the
    cosine is emitted as ONE parsed, whole-stage-codegen-able arithmetic
    expression instead of the interpreted higher-order fold (Spark's
    array lambdas never enter codegen; at |Q|·|C| pairs the per-element
    closure dispatch dominates the stage). Bit-identical by
    construction: the unrolled form performs EXACTLY the fold's
    operation sequence — cast each element to double, left-to-right
    ``(0.0 + x₀·y₀) + x₁·y₁ …`` for the dot and both norms, then
    ``dot / (na · nb)``. A row whose arrays are not both exactly ``dim``
    long (shorter, longer or NULL) yields NULL rather than a wrong
    number: the expression is guarded by ``size(a) = dim AND size(b) =
    dim``.
    ``a``/``b`` must be column NAMES when ``dim`` is set."""
    if dim is not None:
        return _cosine_fixed_dim(a, b, dim)
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def _cosine_fixed_dim(a: str, b: str, dim: int) -> F.Column:
    """The fixed-dim unrolled form behind :func:`cosine_cols` — one
    parsed SQL expression, no lambda functions (fastlit lesson: build
    the whole expression server-side in one parse instead of a py4j fan,
    and keep it inside whole-stage codegen)."""
    if not (isinstance(a, str) and isinstance(b, str)):
        raise TypeError("cosine_cols(dim=...) requires column NAMES")
    ax = [f"CAST(try_element_at({a}, {i}) AS DOUBLE)" for i in range(1, dim + 1)]
    bx = [f"CAST(try_element_at({b}, {i}) AS DOUBLE)" for i in range(1, dim + 1)]

    def fold(terms: list[str]) -> str:
        acc = "CAST(0.0 AS DOUBLE)"
        for t in terms:
            acc = f"({acc} + {t})"
        return acc

    dot = fold([f"({x} * {y})" for x, y in zip(ax, bx)])
    na = f"SQRT({fold([f'({x} * {x})' for x in ax])})"
    nb = f"SQRT({fold([f'({y} * {y})' for y in bx])})"
    # try_element_at alone would read only the first `dim` elements of
    # an over-length array and return a wrong non-NULL cosine. The guard
    # is an exact ×1.0 / ×NULL factor, not a CASE around the sums: inside
    # a CASE branch the shared element reads escape subexpression
    # elimination and each is evaluated twice (q24/q120/q139 ran 1.5-2×
    # slower that way at sf0.01)
    return F.expr(
        f"(({dot} / ({na} * {nb})) * IF(size({a}) = {dim} AND size({b}) = {dim}, "
        f"CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)))"
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 4,
    exclude_self: bool = True,
    broadcast_max_queries: int = BROADCAST_MAX_QUERY_ROWS,
    dim: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k: queries × corpus → rank ≤ k.

    ``dim``: statically-known embedding length → codegen'd unrolled
    cosine instead of the interpreted fold (see :func:`cosine_cols`).

    The query side is broadcast when it fits (the normal search-request
    case): the corpus never shuffles — each partition scores its rows
    against every query and the window reduces per-query. A query side
    past ``broadcast_max_queries`` rows (corpus-scale self-search) falls
    back to a partition-blocked cartesian instead: each task scores one
    (query-block × corpus-block) pair, so memory stays bounded while the
    compute — inherently |Q|·|C| for brute force — distributes across the
    cluster. Ranking uses the *rounded* cosine plus the neighbor id so
    near-ties break identically everywhere. ``exclude_self=False`` for
    cross-corpus search where ids on the two sides are unrelated.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    cond = (
        F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True)
    )
    release_similarity_caches()
    return _brute_topk(q, c, cond, k, round_to, broadcast_max_queries, dim)


def _brute_topk(
    q: DataFrame,
    c: DataFrame,
    cond,
    k: int,
    round_to: int,
    broadcast_max_queries: int,
    dim: int | None = None,
) -> DataFrame:
    """The shared brute-force skeleton behind ``cosine_topk`` and
    ``hard_negatives``: size-gated query broadcast (shuffle-free corpus)
    with blocked-cartesian fallback, rounded-cosine scoring, and the
    (desc score, asc id) rank window — ONE definition so the gate and
    tiebreak cannot drift between the two entry points. ``q`` must
    carry ``query_id``/``__qv``, ``c`` ``neighbor_id``/``__cv``; extra
    columns (labels) may ride along for ``cond`` and are dropped."""
    q, fits = _gate_and_pin(q, broadcast_max_queries)
    if fits:
        pairs = c.join(F.broadcast(q), cond)
    else:
        pairs = c.crossJoin(q).filter(cond)
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_cols("__qv", "__cv", dim), round_to).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_neardup_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_to: int = 4,
    broadcast_max_queries: int = BROADCAST_MAX_QUERY_ROWS,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine ≥ t).

    The dedup variant of ``cosine_topk`` — a threshold filter instead of
    a rank window. When the query side fits ``broadcast_max_queries``
    (bounded driver materialization, the IVF fit-sample discipline) it
    ships as a numpy matrix and each corpus Arrow batch scores ALL
    queries in ONE BLAS matmul inside ``mapInPandas`` — still exact,
    but ~100× the throughput of per-pair expression evaluation: Spark's
    array higher-order functions are interpreted (no whole-stage
    codegen), so a |Q|·|C| fold is the cliff an sf1 self-run hit at
    ~10⁸ pairs. Past the gate the plan falls back to the
    partition-blocked cartesian with the fold — memory-safe at any
    size; for true corpus×corpus embedding dedup prefer
    ``lsh_topk``/``ivf_topk``, which prune candidates by bucket instead
    of scoring every pair. ``id_a < id_b`` removes self-pairs and
    symmetric twins (the reference's theta filter, SparkDedup.scala:148).
    """
    q = queries.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__cv"))
    release_similarity_caches()
    q, fits = _gate_and_pin(q, broadcast_max_queries)
    if fits:
        qpd = q.filter(F.col("__qv").isNotNull()).toPandas()
        id_dt = dict(q.dtypes)["id_a"]
        schema = f"id_a {id_dt}, id_b {id_dt}, cosine double"
        if not len(qpd):
            return corpus.sparkSession.createDataFrame([], schema)
        q_ids = qpd["id_a"].to_numpy()
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in qpd["__qv"]])
        qn = np.linalg.norm(Q, axis=1)
        Qn = Q / np.where(qn == 0, 1.0, qn)[:, None]
        bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Qn))

        def score(batches):
            ids_q, W = bc.value
            for pdf in batches:
                pdf = pdf[pdf["__cv"].notna()]
                if not len(pdf):
                    continue
                ids_c = pdf["id_b"].to_numpy()
                M = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__cv"]]
                )
                nm = np.linalg.norm(M, axis=1)
                M = M / np.where(nm == 0, 1.0, nm)[:, None]
                S = M @ W.T  # (batch, |Q|)
                # pre-select with a half-ulp-widened threshold, round only
                # the survivors (rounding the full |batch|·|Q| matrix is a
                # second full memory pass for a ~0% hit rate)
                ci, qi = np.nonzero(
                    (S >= threshold - 0.5 * 10.0 ** -round_to)
                    & (ids_q[None, :] < ids_c[:, None])
                )
                if len(ci):
                    cos = np.round(S[ci, qi], round_to)
                    keep = cos >= threshold
                    if keep.any():
                        yield pd.DataFrame(
                            {
                                "id_a": ids_q[qi[keep]],
                                "id_b": ids_c[ci[keep]],
                                "cosine": cos[keep],
                            }
                        )

        # Spread the batch matmuls across the cluster: a filtered/unioned
        # corpus often arrives in a handful of partitions, which would
        # leave most cores idle. The corpus rows here are one shuffle of
        # (id, vector) — negligible next to the |Q|·|C| score work.
        c = spread_narrow(c)
        return c.mapInPandas(score, schema)
    joined = c.crossJoin(q).filter(F.col("id_a") < F.col("id_b"))
    return (
        joined
        .select(
            "id_a",
            "id_b",
            F.round(cosine_cols("__qv", "__cv", dim), round_to).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bucket_length: float = 2.0,
    num_hash_tables: int = 5,
    seed: int = 42,
    max_distance: float = 1.3,
) -> DataFrame:
    """Approximate cosine top-k via random-projection LSH buckets.

    Vectors are L2-normalized first so Euclidean distance is monotone in
    cosine (d² = 2 − 2·cos); candidates = pairs sharing any hash bucket.
    At 100 TB this replaces the O(|Q|·|C|) cross product with a bucket
    join; recall is tunable via num_hash_tables/bucket_length.

    ``max_distance`` bounds the similarity join radius (1.3 ⇒ cosine ≥
    0.155): this is where the approximation trades recall for pruning —
    radius 2.0 would admit EVERY pair and silently degenerate to a cross
    product. The defaults hold recall@5 ≥ 0.9 against exact brute force
    on the synthetic embeddings (asserted in tests/test_similarity.py);
    tighten the radius only with evidence the corpus' neighbor cosines
    sit higher than ~0.2.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import VectorUDT  # noqa: F401  (ml runtime check)

    def normed(df: DataFrame, out: str) -> DataFrame:
        arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        nrm = _norm(arr)
        return df.select(
            F.col(id_col),
            array_to_vector(F.transform(arr, lambda x: x / nrm)).alias(out),
        )

    release_similarity_caches()
    qn = normed(queries, "features")
    # The corpus side is consumed by fit's input-dim probe AND the
    # similarity join; pin so normalization + vector conversion run
    # once (and the emptiness probe below is a cheap cached lookup).
    cn = pin(normed(corpus, "features"), pool=_LIVE_CACHES)
    # fit on an empty corpus throws; an empty result is the right answer
    # (a date-filtered corpus partition can legitimately be empty)
    if cn.isEmpty():
        release_similarity_caches()
        return _empty_topk_result(corpus, id_col)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(cn)
    joined = model.approxSimilarityJoin(qn, cn, max_distance, distCol="dist")
    pairs = joined.select(
        F.col(f"datasetA.{id_col}").alias("query_id"),
        F.col(f"datasetB.{id_col}").alias("neighbor_id"),
        # d² = 2 − 2·cos on unit vectors  ⇒  cos = 1 − d²/2
        F.round(1 - F.pow(F.col("dist"), 2) / 2, 4).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _spherical_kmeans(X, k: int, seed: int, iters: int = 8):
    """Seeded spherical k-means on unit rows of X → (k×dim) unit centroids.

    Runs driver-side on a BOUNDED sample (the caller caps it), the same
    way FAISS trains an IVF coarse quantizer on ~256·k training points —
    a coarse router does not need cluster-quality convergence, it needs
    stable, well-spread cells. Deterministic for a fixed seed and input
    order; ties in the argmax assignment resolve to the lowest cell.
    """
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n
    return C


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 12,
    seed: int = 42,
    broadcast_max_probes: int = BROADCAST_MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second scale path next
    to ``lsh_topk``.

    Default n_probe is CONSERVATIVE (12/16 cells ⇒ recall ≥ 0.9 even on
    near-uniform synthetic embeddings, where cell membership carries
    little signal — asserted in tests/test_similarity.py). Real embedding
    corpora are clustered, which is exactly when IVF pays: drop n_probe
    toward 1-4 as measured recall allows.

    The coarse quantizer is a seeded spherical k-means trained on a
    deterministic hash-sample of ≤ max(256·k, 2048) corpus vectors
    collected to the driver (bounded at ANY corpus size — FAISS trains
    IVF the same way). Cell assignment and per-query probe ranking are
    Arrow-vectorized pandas UDFs over the broadcast (tiny) centroid
    matrix — one numpy matmul per batch, no ml pipeline, no window
    shuffle. A bounded probe set is broadcast against the corpus cells
    (size-gated — see below), so the only shuffle in the whole plan is
    the final per-query rank window;
    the exact-cosine work drops to roughly n_probe/n_clusters of brute
    force (= brute force when n_probe == n_clusters). Deterministic for
    a fixed seed regardless of partitioning (the sample is chosen by
    content hash and sorted by id before the fit).
    """
    from pyspark.sql.functions import pandas_udf

    def normed(df: DataFrame, id_out: str, vec_out: str) -> DataFrame:
        arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        nrm = _norm(arr)
        return df.select(
            F.col(id_col).alias(id_out),
            F.transform(arr, lambda x: x / nrm).alias(vec_out),
        )

    release_similarity_caches()
    # The normalized corpus feeds THREE consumers (row count, the driver
    # fit sample, cell assignment + the final join side) — pin and
    # materialize once; the interpreted array-normalization lambdas are
    # the expensive projection here.
    cn = pin(normed(corpus, "neighbor_id", "__cv"), pool=_LIVE_CACHES)
    n_rows = cn.count()  # eager cache population doubles as the row count
    if n_rows == 0:
        release_similarity_caches()
        return _empty_topk_result(corpus, id_col)

    # deterministic content-hash sample, capped ~fit_cap rows; sorting by
    # id on the driver makes the fit independent of partition order
    fit_cap = max(256 * n_clusters, 2048)
    mod = max(1, n_rows // fit_cap)
    sample = (
        cn.filter(F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(mod)) == 0)
        .select("neighbor_id", "__cv")
        .toPandas()
        .sort_values("neighbor_id", ignore_index=True)
    )
    X = np.stack(sample["__cv"].to_numpy())
    k_eff = min(n_clusters, len(X))
    probe_eff = min(n_probe, k_eff)
    C = _spherical_kmeans(X, k_eff, seed)

    @pandas_udf("int")
    def cell_of(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())
        return pd.Series((M @ C.T).argmax(axis=1))

    @pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())
        order = np.argsort(-(M @ C.T), axis=1, kind="stable")
        return pd.Series(list(order[:, :probe_eff]))

    corpus_cells = cn.withColumn("__cell", cell_of(F.col("__cv")))
    qn = normed(queries, "query_id", "__qv")

    # Size-gate the probe broadcast (fuzzy_dedup.py:227 pattern): probes =
    # |Q| × n_probe rows each carrying a full vector. A bounded query batch
    # broadcasts so the corpus never shuffles; a corpus-scale query side
    # (embedding self-dedup) falls back to a shuffle hash join on __cell.
    # The fallback key has only n_clusters distinct values, so raise
    # n_clusters (FAISS uses ~sqrt(N)) before running corpus-scale IVF —
    # cells then shrink and the per-cell join tasks stay bounded.
    max_q = broadcast_max_probes // max(1, probe_eff)
    qn, fits = _gate_and_pin(qn, max_q)
    probes = qn.select(
        "query_id", "__qv", F.explode(probe_cells(F.col("__qv"))).alias("__cell")
    )
    probe_side = F.broadcast(probes) if fits else probes

    scored = corpus_cells.join(probe_side, "__cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("__qv"), F.col("__cv")), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    round_to: int = 5,
) -> DataFrame:
    """Per-group embedding centroid in LONG format — one row per
    (group, dimension) with the element-wise mean — the building block
    for cluster summaries, per-source drift of embedding spaces, and
    IVF coarse codebooks seeded from labels.

    Long format is the deliberate scale shape: ``posexplode`` (a narrow
    generator) followed by ONE (group, pos)-keyed aggregate — map-side
    combine reduces every task to |groups|·dim partial cells, whereas
    an array-typed mean would need a custom fold that Spark cannot
    partially aggregate. Re-assembling vectors downstream is
    ``collect_list`` over a dim-sorted window per group (|groups|·dim
    rows — trivial). Elements are cast to double BEFORE summation
    (float32 accumulation drifts), means rounded per the float-fold
    contract.
    """
    exploded = df.select(
        group_col, F.posexplode(vec_col).alias("pos", "__v")
    )
    return exploded.groupBy(group_col, "pos").agg(
        F.round(F.avg(F.col("__v").cast("double")), round_to).alias(
            "centroid"
        ),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    round_to: int = 4,
    broadcast_max_queries: int = BROADCAST_MAX_QUERY_ROWS,
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    ``k`` corpus vectors MOST similar by cosine among those with a
    DIFFERENT label — the negatives that actually move a contrastive
    loss, versus ``negative_samples``' cheap random draws (the standard
    two-tier recipe: random negatives in bulk, hard negatives mined).

    Same plan skeleton as ``cosine_topk`` (shared ``_brute_topk``):
    broadcast query side while it fits (corpus never shuffles),
    rounded-score + id tiebreak so ranking is engine-identical; the
    label-inequality predicate rides the join condition, so same-label
    pairs are dropped before scoring."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__ql"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("__cl"),
    )
    cond = ~F.col("__ql").eqNullSafe(F.col("__cl"))
    release_similarity_caches()
    return _brute_topk(q, c, cond, k, round_to, broadcast_max_queries, dim)


def quantize_int8(
    df: DataFrame, vec_col: str, out_col: str = "q8"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale`` =
    max|x|/127, codes = floor(x/scale + 0.5) clipped into [-127,127]
    by construction — the 4× memory compression every large-scale ANN
    index applies before the similarity math. Adds ``{out}_scale``
    (double) and ``{out}_codes`` (array<int>).

    Pure codegen'd array expressions (transform/aggregate) — no Python,
    no shuffle; floor(x+0.5) instead of ROUND so the halfway codes are
    identical IEEE arithmetic on every engine (the q129 recipe). The
    all-zero vector gets scale 0 and all-zero codes (guarded division).
    Elements are cast float→double BEFORE arithmetic so both sides of
    any oracle see the exact same widened values."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    scale = (
        F.aggregate(
            x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))
        )
        / F.lit(127.0)
    )
    codes = F.when(F.col(f"{out_col}_scale") > 0, F.transform(
        x,
        lambda v: F.floor(v / F.col(f"{out_col}_scale") + F.lit(0.5)).cast(
            "int"
        ),
    )).otherwise(F.transform(x, lambda v: F.lit(0)))
    return df.withColumn(f"{out_col}_scale", scale).withColumn(
        f"{out_col}_codes", codes
    )


def margin_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_margin: int = 4,
    k: int = 5,
    round_to: int = 4,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Margin-based neighbor scoring (Artetxe & Schwenk, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings",
    ACL 2019 — the standard bitext-mining criterion): rescale each
    cosine by the average similarity of BOTH endpoints to their own
    ``k_margin`` nearest neighbors,

        margin(x, y) = cos(x, y) / (½·(avgNN_k(x, Y) + avgNN_k(y, X)))

    which suppresses hub vectors that are near everything and would
    dominate a raw-cosine ranking. Returns the top ``k`` corpus
    neighbors per query by margin (``query_id, neighbor_id, cosine,
    margin, rank``; rounded scores + id tiebreaks → engine-identical
    ordering).

    ``exclude_self`` drops pairs whose ids are EQUAL — right for
    self-search (queries ⊆ corpus, the q139 shape), wrong for true
    cross-corpus mining where two unrelated tables can reuse the same
    id space: pass ``exclude_self=False`` there so an (es_5, nah_5)
    true pair is not silently lost (``cosine_topk`` contract).

    Plan: the query side is broadcast (bounded search-request set, the
    q24 contract), so the scored pair table is built with the corpus
    never shuffling; it is persisted once and BOTH directions' top-k
    averages are rank-window reductions over it — partitioning by
    ``neighbor_id`` spreads corpus-cardinality keys, while the
    ``query_id`` window carries the corpus per query, exactly like the
    brute-force baseline it extends (the documented trade; at corpus
    scale the candidate set comes from LSH/IVF first — q33/q57 — and
    this margin rescoring runs on candidates only).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    release_similarity_caches()
    paired = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        if exclude_self
        else c.crossJoin(F.broadcast(q))
    )
    scored = pin(
        paired.select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_cols("__qv", "__cv", dim), round_to
            ).alias("cosine"),
        ),
        eager=True,  # three consumers read it
        pool=_LIVE_CACHES,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    wn = Window.partitionBy("neighbor_id").orderBy(
        F.desc("cosine"), F.asc("query_id")
    )
    avg_q = (
        scored.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= k_margin)
        .groupBy("query_id")
        .agg(F.avg("cosine").alias("__aq"))
    )
    avg_n = (
        scored.withColumn("__r", F.row_number().over(wn))
        .filter(F.col("__r") <= k_margin)
        .groupBy("neighbor_id")
        .agg(F.avg("cosine").alias("__an"))
    )
    margins = (
        scored.join(F.broadcast(avg_q), "query_id")
        .join(avg_n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.round(
                F.col("cosine")
                / (F.lit(0.5) * (F.col("__aq") + F.col("__an"))),
                round_to,
            ).alias("margin"),
        )
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.desc("margin"), F.asc("neighbor_id")
    )
    return (
        margins.withColumn("rank", F.row_number().over(wm))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "margin", "rank")
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str,
    dim: int,
    round_to: int | None = 6,
) -> DataFrame:
    """Sample covariance matrix of an embedding column in long format
    ``(i, j, cov)`` over the upper triangle (i ≤ j) — the statistic
    behind whitening, PCA drift monitors, and Mahalanobis outlier
    scoring on embedding stores.

    Plan (the big-data Gram shape): per-Arrow-batch partial ``XᵀX``
    inside ``mapInPandas`` (ONE BLAS matmul per batch; the pure-
    expression alternative is a per-row d² pair explode — 2,080×
    row inflation at d=64 — which is exactly the "genuinely can't
    express it efficiently with built-ins" carve-out), then one
    map-side-combined sum into d(d+1)/2 cells; column sums/counts ride
    a separate posexplode + 64-group aggregate. Both reductions end
    bounded by d², independent of corpus size. Rows with NULL or
    wrong-arity vectors carry no geometry and are excluded (the
    embedding-operator contract).

    ``round_to=None`` skips rounding (driver-side consumers doing
    further algebra); the default rounds for engine-reproducible
    output (float folds differ in summation order across engines).
    """
    return finalize_covariance(
        embedding_moments(df, vec_col, dim), round_to
    )


def finalize_covariance(
    moments: DataFrame, round_to: int | None = 6
) -> DataFrame:
    """Raw-moment cells ``(i, j, sxy, sx_i, sx_j, n)`` → ``(i, j,
    cov)`` — split out of :func:`embedding_covariance` so MERGED
    moments (:func:`merge_covariance_moments`) finalize through the
    identical formula."""
    cov = (
        F.col("sxy") - F.col("sx_i") * F.col("sx_j") / F.col("n")
    ) / (F.col("n") - 1)
    if round_to is not None:
        # + 0.0 normalizes IEEE negative zero: a cell that rounds to
        # zero from below prints "-0.0" in one engine and "0.0" in the
        # other, breaking value-hash parity on numerically equal output
        cov = F.round(cov, round_to) + F.lit(0.0)
    return moments.select("i", "j", cov.alias("cov"))


def embedding_moments(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """The MERGEABLE form of :func:`embedding_covariance`: raw-moment
    cells ``(i, j, sxy, sx_i, sx_j, n)`` — every field is a plain sum
    or count, so two shards'/snapshots' tables combine by cellwise
    addition (:func:`merge_covariance_moments`) with NO access to the
    original vectors: the statistic a 100 TB store keeps per-shard and
    rolls up on demand (Spark's partial-aggregation algebra, made
    durable across jobs). Output bounded by d(d+1)/2 rows per shard.

    Same plan as :func:`embedding_covariance` minus the finalize; kept
    as the covariance path's building block rather than a copy."""
    base = df.select(F.col(vec_col).alias("__v")).where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    x = base.select(F.posexplode("__v").alias("pos", "val"))
    s = x.groupBy("pos").agg(
        F.sum(F.col("val").cast("double")).alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )

    def gram(batches):
        iu0, iu1 = np.triu_indices(dim)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            G = X.T @ X
            yield pd.DataFrame({"i": iu0, "j": iu1, "sxy": G[iu0, iu1]})

    g = (
        base.mapInPandas(gram, "i int, j int, sxy double")
        .groupBy("i", "j")
        .agg(F.sum("sxy").alias("sxy"))
    )
    si = s.select(F.col("pos").alias("i"), F.col("sx").alias("sx_i"), "n")
    sj = s.select(F.col("pos").alias("j"), F.col("sx").alias("sx_j"))
    return (
        g.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select("i", "j", "sxy", "sx_i", "sx_j", "n")
    )


def merge_covariance_moments(*parts: DataFrame) -> DataFrame:
    """Cellwise-add raw-moment tables from disjoint shards: every field
    of :func:`embedding_moments` is a sum over rows, so the union's
    moments are exactly the sums of the parts' — the merged, finalized
    covariance is the same formula over pooled sums (only float
    summation ORDER differs, absorbed by finalize's rounding). One
    d²-bounded aggregate; the original vectors are never re-read."""
    if not parts:
        raise ValueError("need at least one moments table")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sx_i").alias("sx_i"),
        F.sum("sx_j").alias("sx_j"),
        F.sum("n").alias("n"),
    )


def mahalanobis_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 20,
    round_to: int = 4,
) -> DataFrame:
    """Top-``k`` embedding outliers by DIAGONAL Mahalanobis distance —
    the per-dimension-standardized novelty score (Σ (xᵢ−μᵢ)²/varᵢ):
    the embedding-store outlier sweep for mislabeled, corrupted, or
    off-distribution vectors before they poison retrieval or training.
    The diagonal form keeps every step exactly reproducible in SQL (no
    eigenproblem), which is why it is the oracle-checked member of the
    family.

    Plan: per-dimension moments via posexplode + one 64-group
    aggregate; the d-row moment table broadcast-joins back onto the
    exploded stream; per-vector distances map-side combine; the top-k
    is ``orderBy().limit(k)`` → TakeOrderedAndProject (per-task heaps
    + a driver merge of k·P rows, never a global sort), with the rank
    window running on the k survivors only (the weighted_topk_sample
    shape). Distances are rounded BEFORE ranking (id tiebreak), so the
    selected set and order are engine-identical. Zero-variance
    dimensions are floored at 1e-12 (identically on both sides) so a
    constant dimension cannot produce a division by zero.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    base = df.select(F.col(id_col), F.col(vec_col)).where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    x = base.select(
        id_col, F.posexplode(vec_col).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    m = x.groupBy("pos").agg(
        F.sum("val").alias("sx"),
        F.sum(F.col("val") * F.col("val")).alias("sxx"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = F.col("sx") / F.col("n")
    var = F.greatest(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1),
        F.lit(1e-12),
    )
    mom = m.select("pos", mu.alias("mu"), var.alias("var"))
    d2 = (
        x.join(F.broadcast(mom), "pos")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(
                    (F.col("val") - F.col("mu"))
                    * (F.col("val") - F.col("mu"))
                    / F.col("var")
                ),
                round_to,
            ).alias("md2")
        )
    )
    top = d2.orderBy(F.desc("md2"), F.asc(id_col)).limit(k)
    rw = Window.orderBy(F.desc("md2"), F.asc(id_col))
    return top.withColumn(
        "rank", F.row_number().over(rw).cast("int")
    )


def ivf_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    round_to: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate cosine top-k with a DETERMINISTIC coarse
    quantizer — the ORACLE-PORTABLE twin of :func:`ivf_topk` (q57's
    seeded driver-sample k-means), completing the q163/q167/q168
    certified-twin program: centroids are the ``n_centroids`` corpus
    vectors with the lexicographically smallest ``md5(cast(id as
    string))`` (a content-hash sample any engine reproduces — md5 hex
    ordering is byte ordering everywhere), so cells, probes,
    candidates, scores, and ranks are all recomputable bit-for-bit by
    DuckDB. No k-means: hash-selected centroids quantize worse per
    cell than fitted ones (compensate with a larger ``n_probe``), but
    the inverted-file plan shape — the thing the twin certifies — is
    identical.

    Scale shape: the centroid table is a bounded driver collect
    (n_centroids rows — exactly how FAISS ships an IVF quantizer) and
    is inlined as LITERAL arrays, so cell assignment is a shuffle-free
    projection (n_centroids rounded-cosine expressions per row, argmax
    by struct max — no ml pipeline, no per-vector window). The corpus
    shuffles ONCE on the cell key; queries explode ×n_probe; candidate
    work is n_probe/n_centroids of brute force and degrades to EXACT
    brute force when n_probe == n_centroids (asserted in
    test_similarity.py against cosine_topk, same rounding and
    tie-break). Raise n_centroids ∝ √corpus to hold cells small.

    Tie contract (both engines): assignment and probe ranking order by
    (rounded cosine DESC, centroid index ASC); the final rank by
    (rounded cosine DESC, neighbor_id ASC).
    """
    import hashlib

    ok = F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    base = corpus.filter(ok)
    md5key = F.md5(F.col(id_col).cast("string"))
    rows = (
        base.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy(md5key.asc(), F.col("__id").asc())
        .limit(n_centroids)
        .collect()
    )
    # re-sort driver-side (defensive: collect order is plan-defined)
    rows.sort(
        key=lambda r: (hashlib.md5(str(r["__id"]).encode()).hexdigest(),
                       r["__id"])
    )
    cvecs = [[float(x) for x in r["__v"]] for r in rows]
    if not cvecs:
        return _empty_topk_result(corpus, id_col)
    n_probe = min(n_probe, len(cvecs))

    # Driver-precomputed centroid norms: math.sqrt over the same
    # left-to-right x² fold _norm uses — bit-identical to evaluating
    # _norm(centroid_literal) on the JVM, so hoisting them (and the
    # per-row |v| below) out of the 16-way cosine fan preserves every
    # rounded value while cutting the norm folds per row from
    # 2·n_centroids to 1.
    import math

    def _fold_norm(xs: list[float]) -> float:
        acc = 0.0
        for x in xs:
            acc = acc + x * x
        return math.sqrt(acc)

    cnorms = [_fold_norm(cj) for cj in cvecs]

    # Centroid matrix + norms injected as ONE parsed SQL literal each
    # (functions/fastlit.py): the old per-element F.lit fan cost ~0.45 s
    # of py4j round-trips per side at 16×64 and left a 1,024-node
    # CreateArray for the analyzer; ConstantFolding collapses this form
    # to the same single Literal, and the per-element arithmetic below
    # (zip_with/aggregate fold, round, struct max) is unchanged — every
    # score and tiebreak stays bit-identical (pinned by the q169 oracle
    # and test_fastlit.py).
    from nahuatl_data_pipeline_spark.functions.fastlit import (
        double_array_lit,
        double_matrix_lit,
    )

    cmat = double_matrix_lit(cvecs)
    cnorm_arr = double_array_lit(cnorms)

    def cent_scores(vcol, nv):
        """array<struct<c: rounded cosine, nj: -centroid index>> — max
        of the struct IS (best cosine, tie → smallest index). ``nv`` is
        the hoisted |v| column (evaluated once per row). One
        transform-with-index loop over the folded centroid literal
        replaces the 16 unrolled dot-product expressions — same fold
        order, same values, ~1/16th the expression tree."""
        ad = F.transform(vcol, lambda x: x.cast("double"))
        return F.transform(
            cmat,
            lambda cj, j: F.struct(
                F.round(
                    _dot(ad, cj) / (nv * F.get(cnorm_arr, j)), round_to
                ).alias("c"),
                (-j).alias("nj"),
            ),
        )

    def with_norm(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__nv",
            _norm(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
        )

    c = with_norm(base).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        (
            -F.array_max(cent_scores(F.col(vec_col), F.col("__nv")))["nj"]
        ).alias("__cell"),
    )
    q = (
        with_norm(queries.filter(ok))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.slice(
                F.reverse(
                    F.array_sort(cent_scores(F.col(vec_col), F.col("__nv")))
                ),
                1,
                n_probe,
            ).alias("__top"),
        )
        .select(
            "query_id",
            "__qv",
            F.explode(
                F.transform(F.col("__top"), lambda s: -s["nj"])
            ).alias("__cell"),
        )
    )
    cand = q.join(c, "__cell")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_cols(F.col("__qv"), F.col("__cv")), round_to).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def srp_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
    probe_hamming: int = 2,
    n_tables: int = 1,
    round_to: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """SRP-bucketed approximate cosine top-k — the ORACLE-PORTABLE twin
    of :func:`lsh_topk` (q33's seeded pyspark.ml BRP-LSH), exactly the
    q163/q167 move applied to the ANN family: corpus vectors bucket by
    their deterministic sign-random-projection cell
    (``semantic_dedup.srp_cell`` — md5-derived ±1 hyperplanes, so any
    engine recomputes every cell id bit-for-bit), and each query probes
    its own cell plus every cell within hamming distance
    ``probe_hamming`` (classic multi-probe LSH: for a neighbor at angle
    θ each bit flips independently with probability θ/π, so the
    high-cosine neighbors concentrate within a small hamming radius).

    Scale shape: celling is a shuffle-free projection; the corpus
    shuffles ONCE on the cell key; queries explode ×Σ C(n_bits, r≤probe)
    (37 for 8 bits / radius 2) and join key-partitioned on the cell —
    candidate work is Σ_cell |Q(cell)|·|C(cell)|, bucketed, never the
    |Q|·|C| brute-force matrix, and a hot cell costs reducer time, not
    memory. Raise ``n_bits`` with corpus size to hold cells small
    (2^20 cells for ~1e9 vectors), keeping probes ∝ n_bits².

    Scoring and ranking are the shared portable contract: rounded
    double-precision sequential-fold cosine + neighbor-id tiebreak
    (``cosine_cols``), so the WHOLE operator — cells, probes,
    candidates, scores, ranks — is hash-certifiable against DuckDB,
    unlike the engine-internal hash family of pyspark.ml.

    Recall contract (invariant legs in test_similarity.py): planted
    high-cosine neighbors (the near-dup retrieval case, cosine ≈ 0.98
    → bit-flip prob θ/π ≈ 0.04) are recovered at ≥ 0.9; every returned
    cosine equals the exactly-computed one; probe widening is monotone.
    On a DIFFUSE corpus (top-5 angles near 60°) any single-table LSH
    carries little signal — single-table recall there is ~0.35 and is
    asserted as a documented band, not quality. ``n_tables`` > 1 is the
    standard OR-amplification fix (exactly what q33's pyspark.ml path
    does with its seeded tables): each table t buckets by an
    INDEPENDENT hyperplane set (``bit_offset = t·n_bits`` shifts the
    md5 seeds) and candidates union across tables before the exact
    rescore — a neighbor missed with prob (1−p) per table survives L
    tables with only (1−p)^L; candidate work and the corpus-side cell
    rows scale ×L. The default 1 leaves the certified q168 plan
    byte-identical (single-table, no cross-table dedup step).
    """
    from nahuatl_data_pipeline_spark.operators.semantic_dedup import srp_cell

    if not 0 <= probe_hamming <= 2:
        raise ValueError(
            "probe_hamming must be 0, 1, or 2 (wider radii blow up the "
            "probe count combinatorially)"
        )
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_bits)]
    if probe_hamming >= 2:
        masks += [
            (1 << j) | (1 << m)
            for j in range(n_bits)
            for m in range(j + 1, n_bits)
        ]
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    ok = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)

    def tagged(t: int, cell: F.Column) -> F.Column:
        # table-disjoint key space: high bits carry the table index
        return F.lit(t << n_bits).cast("long") + cell

    if n_tables == 1:
        c = corpus.filter(ok).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            srp_cell(F.col(vec_col), n_bits, dim).alias("__cell"),
        )
        q = (
            queries.filter(ok)
            .select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qv"),
                srp_cell(F.col(vec_col), n_bits, dim).alias("__qcell"),
            )
            .withColumn(
                "__m", F.explode(F.array(*[F.lit(m) for m in masks]))
            )
            .select(
                "query_id",
                "__qv",
                F.col("__qcell").bitwiseXOR(F.col("__m")).alias("__cell"),
            )
        )
        cand = q.join(c, "__cell")
    else:
        c = corpus.filter(ok).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            F.explode(
                F.array(
                    *[
                        tagged(
                            t,
                            srp_cell(
                                F.col(vec_col), n_bits, dim, t * n_bits
                            ),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("__cell"),
        )
        q = (
            queries.filter(ok)
            .select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qv"),
                F.explode(
                    F.array(
                        *[
                            tagged(
                                t,
                                srp_cell(
                                    F.col(vec_col), n_bits, dim, t * n_bits
                                ).bitwiseXOR(F.lit(m)),
                            )
                            for t in range(n_tables)
                            for m in masks
                        ]
                    )
                ).alias("__cell"),
            )
        )
        # the same (query, neighbor) pair can collide in several tables
        # — dedupe BEFORE the exact rescore so each pair is scored once
        cand = q.join(c, "__cell").dropDuplicates(
            ["query_id", "neighbor_id"]
        )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_cols(F.col("__qv"), F.col("__cv")), round_to).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
