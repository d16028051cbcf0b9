"""Fuzzy (near-duplicate) deduplication (SURVEY.md §2.4 D5, §2.10 M1, §2.3
J3/J4). Every strategy buckets, then verifies — shuffle-on-bucket, never
O(n²):

- ``minhash_lsh_pairs`` / ``minhash_lsh_dedup``: pyspark.ml MinHashLSH
  similarity self-join — the direct re-expression of the reference's
  Scala job (``src/scala_examples/SparkDedup.scala:108-151``): tokenize →
  HashingTF → MinHashLSH → approxSimilarityJoin(threshold) → anti-join
  the losers. The reference collected duplicate ids to the driver
  (``:63-67``); here the removal is a distributed left_anti join (J4).

- ``ngram_jaccard_pairs``: deterministic banded MinHash + exact shingle
  Jaccard verify, oracle-checkable end to end. The hash family is the
  affine ``(A·h + B) mod P`` over ``hashing.hash64``; the signatures and
  the band layout are built in ONE place, :func:`_signature_bands`,
  which ``fuzzy_decontamination_pairs`` (bipartite) and
  ``incremental_dedup`` (one-hash bands) share. Its DuckDB mirror is
  ``registry.banded_candidates_ctes``.

- ``simhash_groups`` / ``simhash_groups_portable``: one bit-vote SimHash
  body over xxhash64 (64 bits) or the md5-derived ``hash60`` (60 bits),
  banded into four keys for hamming-radius candidates.

- ``prefix_containment_pairs``: containment ``|A∩B| / min(|A|,|B|)``
  over a prefix-key bucket, the asymmetric signal Jaccard misses.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.hashing import (
    MINHASH_P,
    SIMHASH_PORTABLE_BITS,
    hash60,
    hash64,
    minhash_constants,
    word_shingles,
)
from nahuatl_data_pipeline_spark.functions.spread import spread_narrow
from nahuatl_data_pipeline_spark.session import CachePool, pin, unpin

# Concurrent fuzzy-dedup calls in one session should call
# release_fuzzy_caches() themselves once both results are materialized.
_LIVE_CACHES = CachePool()
release_fuzzy_caches = _LIVE_CACHES.release

# Observability: banded_candidate_pairs records its candidate-pair count
# here (the count is computed anyway for the broadcast size gate). Scale
# probes (SCALE.md's pair-family table) read it to report candidate
# growth vs true output without re-running the banding.
LAST_STATS: dict[str, int] = {}


# --------------------------------------------------------------------------
# pyspark.ml MinHashLSH path (SparkDedup.scala re-expression)
# --------------------------------------------------------------------------


# MinHash hash coefficients depend only on (num_features, num_hash_tables,
# seed) — never on the data — so one fitted model is reusable across every
# corpus in a session. Spark's LSH ``fit`` runs a head() job just to read
# the input dimension; caching skips that job AND the per-call JVM model
# construction (VERDICT r04 "Next round" #4).
_MINHASH_MODELS: dict[tuple[int, int, int], object] = {}


def _minhash_model(
    prepared: DataFrame, num_features: int, num_hash_tables: int, seed: int
):
    from pyspark.ml.feature import MinHashLSH

    key = (num_features, num_hash_tables, seed)
    model = _MINHASH_MODELS.get(key)
    if model is None:
        model = MinHashLSH(
            inputCol="__features",
            outputCol="__hashes",
            numHashTables=num_hash_tables,
            seed=seed,
        ).fit(prepared)
        _MINHASH_MODELS[key] = model
    return model


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.1,
    num_features: int = 1 << 18,
    num_hash_tables: int = 5,
    seed: int = 42,
    shingle_n: int = 1,
) -> DataFrame:
    """J3: LSH similarity self-join → candidate duplicate pairs
    (id_a < id_b, jaccard_distance ≤ threshold).

    Mirrors SparkDedup.scala:118-150: tokenize → HashingTF →
    MinHashLSH(5 tables) → approxSimilarityJoin; the ``idA < idB``
    theta filter removes self-pairs and symmetric twins.

    ``shingle_n > 1`` switches the token set to word n-grams — use it when
    unigram vocabularies are small relative to document length (otherwise
    every pair of documents shares most of its token *set* and the LSH
    buckets degenerate toward one giant bucket → O(n²) candidates).

    Dirty-corpus envelope: approxSimilarityJoin has no hot-bucket cap
    lever, so on a corpus with B-member duplicate families it carries
    the full Σ C(B,2) candidate volume. Resource sizing measured at the
    100× decade: round 9 recorded an 8 GiB fresh-JVM OOM on both
    replica flavors; round 10 root-caused it to the unpruned cache
    (text + shingle array persisted alongside the features) — with the
    cache pruned to (id, features) a fresh 8 GiB heap completes both
    flavors (unique 211.7 s, clone 432.4 s ≈ the old 16 GiB walls), so
    the isolate schedule runs this job at the default heap again. The
    capped deterministic path (``ngram_jaccard_pairs`` with
    ``max_bucket_size``) is the production choice for dirty corpora;
    this path exists for SparkDedup.scala parity and clean corpora.
    """
    from pyspark.ml.feature import HashingTF

    release_fuzzy_caches()
    tokens = word_shingles(text_col, n=shingle_n)
    prepared = df.filter(F.col(text_col).isNotNull()).withColumn(
        "__tokens", tokens
    )
    tf = HashingTF(
        inputCol="__tokens", outputCol="__features", numFeatures=num_features
    )
    # MinHashLSH requires at least one non-zero feature. Persist ONLY
    # (id, features): a persisted frame materializes every column of its
    # plan — Catalyst cannot prune THROUGH a cache — so carrying text +
    # the shingle array into the cache multiplies its footprint by the
    # document size for columns no downstream consumer reads (the join
    # needs __features, the output only the ids). Measured at the 100×
    # decade: the unpruned cache was the allocation behind the 16 GiB
    # fresh-JVM floor (SCALE.md round 10).
    prepared = pin(
        tf.transform(prepared.filter(F.size("__tokens") > 0)).select(
            id_col, "__features"
        ),
        eager=True,  # both self-join legs read it
        pool=_LIVE_CACHES,
    )
    model = _minhash_model(prepared, num_features, num_hash_tables, seed)
    joined = model.approxSimilarityJoin(
        prepared, prepared, threshold, distCol="distance"
    )
    return joined.filter(
        F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}")
    ).select(
        F.col(f"datasetA.{id_col}").alias("id_a"),
        F.col(f"datasetB.{id_col}").alias("id_b"),
        F.round("distance", 6).alias("distance"),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.1,
    **kwargs,
) -> DataFrame:
    """D5/J4: drop the higher-id member of every near-duplicate pair via a
    distributed anti-join (no driver collect)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# Deterministic banded MinHash (oracle-checkable)
# --------------------------------------------------------------------------


def _signature_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    band_size: int,
    persist_shd: bool = True,
    persist_sigs: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The banded pipeline's shingle → MinHash signature → band legs:
    the one place that fixes the hash family (``hashing.hash64`` under
    the affine maps of ``minhash_constants``) and the band layout.
    Returns ``(shd, bands)``: shingles (``__id``, ``__sh``) and one row
    per doc and band (``__id``, ``band_id``, ``band_key``), the key being
    the band's ``band_size`` minima joined with ``|``. With
    ``band_size=1`` each band is one permutation's minimum.

    Signatures come from EXPLODED shingles: the md5 hash runs once per
    shingle in whole-stage codegen and the k components are k integer
    mins in one hash aggregate whose map-side combine shrinks the
    shuffle to one row per doc (min ignores duplicate shingles, so this
    equals the per-row array_min form).

    Pins are lazy and join the family's pool, which the caller has
    released: the caller's first action fills them, so no job runs just
    to fill a cache. ``shd`` is pinned by default, since shingling is
    the family's dominant per-row cost and the signatures and both
    verify sides read it. ``persist_shd=False`` skips that pin for a
    small side (a broadcast eval suite, where re-shingling costs less
    than a cache) or for a caller that owns the frames' lifetime
    (``incremental_dedup.snapshot_index``). ``persist_sigs=True`` also
    pins the signature frame (one row per doc, the narrowest frame) for
    a consumer that reads ``bands`` twice, the uncapped self-join's
    legs: AQE does not reuse the identical signature exchange across
    them (ReusedExchange=0 at sf0.1), so each leg would replay the
    plan's biggest shuffle; pinning the exploded bands instead would
    hold n_bands× the rows.
    """
    n_bands = num_hashes // band_size
    # Spread a narrow input (a handful of scan splits) before the
    # shingling regex, so it and every leg downstream run on the whole
    # cluster; a no-op at >= defaultParallelism partitions, and a
    # shuffle-bearing input passes through unprobed. Everything
    # downstream is content-keyed, so the result is
    # partition-independent.
    df = spread_narrow(df)
    shd = df.select(
        F.col(id_col).alias("__id"),
        word_shingles(text_col, n=shingle_n).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    if persist_shd:
        # the signature leg and both Jaccard sides read it
        shd = pin(shd, pool=_LIVE_CACHES)

    tok = shd.select("__id", F.explode("__sh").alias("__s")).withColumn(
        "__hv", hash64(F.col("__s"))
    )
    sigs = tok.groupBy("__id").agg(
        *[
            F.min((F.lit(a) * F.col("__hv") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_constants(num_hashes))
        ]
    )
    if persist_sigs:
        # bounded: one row per doc × num_hashes longs
        sigs = pin(sigs, pool=_LIVE_CACHES)

    bands = sigs.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * band_size + j}")
                                for j in range(band_size)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("__id", "band.band_id", "band.band_key")
    return shd, bands


def _band_bucket_sizes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Diagnostic: one row per band bucket with its member count ``c``
    — Σ c·(c−1)/2 is the raw candidate volume of the banded self-join
    and the max ``c`` bounds the hottest join task. Used by the scale
    probes to diagnose hot-bucket skew WITHOUT running the join."""
    release_fuzzy_caches()
    _, bands = _signature_bands(
        df, id_col, text_col, shingle_n, num_hashes, band_size
    )
    return bands.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("c")
    )


def banded_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 6,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """The candidate-generation half of the banded pipeline, shared by
    every operator that wants banded-minhash pruning with its own verify
    metric (Jaccard here; tf-idf cosine in operators/tfidf.py).

    Returns ``(shd, cands, n_cands)``: the pinned shingle frame
    (``__id``, ``__sh``), the pinned distinct candidate pair frame
    (``id_a`` < ``id_b``), and its size (the count that materializes
    it and the lazy shingle pin, read by the callers' broadcast gates;
    also recorded in ``LAST_STATS``). Both pins join the call's cache
    generation — callers must NOT call ``release_fuzzy_caches`` after
    this returns until they are done with the result.

    Plan shape: per-row signature (no shuffle) → explode bands (rows ×
    n_bands) → self-join on (band_id, band_key) → distinct pairs. The
    join key is the band bucket, so cost is Σ bucket² not n².
    ``max_bucket_size`` is the hot-bucket guard (see
    :func:`ngram_jaccard_pairs` for the recall contract).
    """
    assert num_hashes % band_size == 0
    release_fuzzy_caches()
    shd, bands = _signature_bands(
        df, id_col, text_col, shingle_n, num_hashes, band_size,
        # both legs of the uncapped self-join read `bands`; the capped
        # path reads it once (window → filter → collect_list)
        persist_sigs=max_bucket_size is None,
    )
    if max_bucket_size is not None:
        # Capped path (r13): ONE linear chain instead of the old
        # sizes-aggregate + left_semi + bands-persist + self-join. A
        # count window on the band key marks each bucket's size (same
        # exchange the old semi-join needed anyway), oversized buckets
        # are dropped, and the survivors — now provably ≤ cap members —
        # are folded per bucket with collect_list and exploded twice
        # into ordered pairs. Exploding each ≤cap-sized bucket's id
        # list into (id_a < id_b, deduped) pairs emits exactly the pair
        # set of the old band-key self-join restricted to buckets ≤ cap,
        # so the result is output-identical; what changes is the plan:
        # the signature aggregate runs ONCE (the semi-join's two legs
        # each re-derived it — one whole duplicate shuffle gone), the
        # intermediate bands persist + eager count job disappears, and
        # the groupBy after the window reuses the window's partitioning
        # (no extra exchange). collect_list buffers are bounded by the
        # cap BECAUSE the window filter runs first — never fold an
        # uncapped bucket into an array (a dense-corpus mega-bucket
        # would sit in one aggregation buffer; the uncapped path below
        # keeps the streaming self-join for exactly that reason).
        from pyspark.sql import Window

        capped = bands.withColumn(
            "__bc",
            F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_key")),
        ).filter(F.col("__bc") <= max_bucket_size)
        grouped = capped.groupBy("band_id", "band_key").agg(
            F.collect_list("__id").alias("__ids")
        )
        cands = (
            grouped.select(F.explode("__ids").alias("id_a"), "__ids")
            .select("id_a", F.explode("__ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = bands.select(F.col("__id").alias("id_a"), "band_id", "band_key")
        b = bands.select(F.col("__id").alias("id_b"), "band_id", "band_key")
        cands = (
            a.join(b, ["band_id", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    cands = pin(cands, pool=_LIVE_CACHES)
    n_cands = cands.count()
    LAST_STATS["banded_candidates"] = n_cands
    return shd, cands, n_cands


def _rounded_jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of two shingle-array columns, rounded to 6 places
    as every pair oracle rounds it (``ROUND(…, 6)``)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter.cast("double") / union.cast("double"), 6)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 6,
    band_size: int = 2,
    broadcast_max_candidates: int = 2_000_000,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs (``id_a`` < ``id_b``, ``jaccard``): banded-MinHash
    candidates (3 bands × 2 hashes by default) verified with exact
    shingle Jaccard ≥ ``jaccard_threshold``. Callers: q25 (8 hashes),
    the shared pair table :func:`near_dup_pairs`, and the curation
    pipeline's cluster-dedup stage.

    Why bands: one min-hashed-shingle bucket (this operator's first
    form) collides a pair with Jaccard J with probability J, so common
    shingles flood it with false candidates — 131M raw candidates for
    25.8M true pairs on the 100× replica (SCALE.md round 6).
    ``band_size``-hash keys collide with probability J^band_size, which
    crushes the low-J tail, while ``num_hashes/band_size`` independent
    bands keep high-J recall (J=0.9 → 96.4% with 3 bands vs 90%).

    ``max_bucket_size`` is the hot-bucket guard for dirty corpora: a
    band bucket of B docs emits B² candidate rows in ONE join task, so
    a few mega-buckets (hash collisions on short docs, giant families
    of identical docs) stalled whole stages on the 100× replica
    (SCALE.md). Buckets over the cap are dropped before pairs are
    formed, so a pair is lost only if EVERY band it shares is
    oversized; run ``exact_dedup`` first so byte-identical families
    never reach LSH and the cap sheds only collision buckets. Default
    None = no cap; q25/q108 pass 150, replicated in their oracles via
    the shared CTE builder.

    The candidate set is counted (the count also fills the pins the
    verify reads): at or under ``broadcast_max_candidates`` it is
    broadcast, so the wide shingle arrays never shuffle; above it — a
    dirty corpus where near-dup pairs are NOT sparse — the verify falls
    back to a shuffle join instead of overflowing the broadcast limit.
    """
    shd, cands, n_cands = banded_candidate_pairs(
        df,
        id_col,
        text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        band_size=band_size,
        max_bucket_size=max_bucket_size,
    )
    cand_side = F.broadcast(cands) if n_cands <= broadcast_max_candidates else cands
    # Jaccard verify only on the candidates: join the cached shingle
    # arrays back by id.
    sh_a = shd.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = shd.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cand_side.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", _rounded_jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


# --------------------------------------------------------------------------
# Build-once shared pair table (round 8 — VERDICT r7 task #2)
# --------------------------------------------------------------------------

# (applicationId, corpus_key, params…) → persisted verified-pair frame.
# Separate pool from _LIVE_CACHES: pair tables survive across fuzzy-dedup
# calls (that is their point), bounded by _PAIR_TABLE_MAX entries (LRU).
# 2, not more: only two pair-graph corpora exist per sf_dir (q38's and
# q58's), and at the 100× clone decade each table is ~25M rows — holding
# four of those in one 8 GiB local-mode JVM squeezed the heap enough to
# tip q31's own LSH join into OOM during the round-8 full sweep.
_PAIR_TABLE_CACHE: dict[tuple, DataFrame] = {}
_PAIR_TABLE_MAX = 2
# Guards the CACHE DICT only (lookup/LRU/evict), never the Spark compute:
# the test suite overlaps independent queries on one session (guide
# §2.6), and an unguarded evict loop could pop a key another thread
# already evicted. A concurrent miss on the same key still double-
# computes (benign — last insert wins, the loser stays usable).
_PAIR_TABLE_LOCK = threading.Lock()


def release_pair_tables() -> None:
    """Unpin every cached shared pair table (test/session teardown)."""
    while _PAIR_TABLE_CACHE:
        unpin(_PAIR_TABLE_CACHE.popitem()[1])


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    corpus_key: str,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 6,
    band_size: int = 2,
    broadcast_max_candidates: int = 2_000_000,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Build-once near-dup pair table: :func:`ngram_jaccard_pairs`, but
    the verified pair set is persisted and memoized under ``corpus_key``
    so every consumer of the SAME pair graph — pair listing (q38),
    degree profiling (q97), component clustering (q58), best-rep
    selection (q145) — pays the shingle/band/verify pipeline ONCE per
    session instead of re-deriving it per query (q97 was spending 57 s
    of its 30× wall rebuilding q38's 2.3M-pair graph, SCALE.md round 7).

    ``corpus_key`` is the caller's contract: two calls may share a key
    ONLY if they pass identical (rows, params) inputs — the registry's
    shared corpus builders (``q38_corpus``/``q58_corpus``) are the
    intended key owners. The cache is per Spark application (the key
    embeds ``applicationId``, so a restarted session never sees stale
    handles) and holds at most ``_PAIR_TABLE_MAX`` tables, evicted LRU
    with an unpersist. The pair table is small relative to its corpus —
    one row per verified near-dup pair — which is what makes persist
    the right contract where caching the corpus itself would not be.
    """
    key = (
        df.sparkSession.sparkContext.applicationId,
        corpus_key,
        id_col,
        text_col,
        shingle_n,
        jaccard_threshold,
        num_hashes,
        band_size,
        max_bucket_size,
    )
    with _PAIR_TABLE_LOCK:
        hit = _PAIR_TABLE_CACHE.pop(key, None)
        if hit is not None:
            _PAIR_TABLE_CACHE[key] = hit  # re-insert: LRU recency
            LAST_STATS["pair_table_hit"] = 1
            return hit
    # no pool: this LRU owns the pin. Materialized BEFORE releasing the
    # build intermediates, which are baked into the pair table now.
    pairs = pin(
        ngram_jaccard_pairs(
            df,
            id_col,
            text_col,
            shingle_n=shingle_n,
            jaccard_threshold=jaccard_threshold,
            num_hashes=num_hashes,
            band_size=band_size,
            broadcast_max_candidates=broadcast_max_candidates,
            max_bucket_size=max_bucket_size,
        ),
        eager=True,
    )
    release_fuzzy_caches()
    with _PAIR_TABLE_LOCK:
        while len(_PAIR_TABLE_CACHE) >= _PAIR_TABLE_MAX:
            unpin(_PAIR_TABLE_CACHE.pop(next(iter(_PAIR_TABLE_CACHE))))
        _PAIR_TABLE_CACHE[key] = pairs
    return pairs


# --------------------------------------------------------------------------
# Fuzzy bipartite decontamination (round 8)
# --------------------------------------------------------------------------


def _maybe_broadcast(df: DataFrame, do_broadcast: bool) -> DataFrame:
    return F.broadcast(df) if do_broadcast else df


def fuzzy_decontamination_pairs(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str | None = None,
    shingle_n: int = 3,
    num_hashes: int = 6,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train documents NEAR-duplicating an eval/benchmark document:
    the fuzzy complement of ``curation.contamination_flags`` (exact
    13-gram window overlap). A paraphrased or lightly-edited benchmark
    leak — reworded question, renumbered answer list, whitespace-mangled
    copy — shares few or no EXACT 13-gram windows with its source, so
    the published exact protocol misses it while its 3-gram shingle
    Jaccard stays high; this operator catches exactly that band.

    Plan: banded-minhash signatures on BOTH sides (the shared
    :func:`_signature_bands` machinery — same scheme as q25/q38/q108, so
    recall behavior is the documented J^band_size-per-band curve), then
    a BIPARTITE band-key join (train bands ⨝ eval bands — never a self
    join, so cost is Σ_bucket |train|·|eval|, linear in the train side
    for a fixed eval suite) → distinct candidate pairs → exact shingle
    Jaccard verify. The eval side (bands and shingle arrays) is
    broadcast: benchmark suites are MBs against a 100 TB corpus, which
    makes the whole probe shuffle-free on the train side except the
    final per-pair dedup — the same asymmetry contract as the exact
    operator. ``broadcast_eval=False`` is the escape hatch when the
    "eval" side is another full corpus (cross-corpus near-dup audit):
    both joins fall back to shuffle joins, result-identical (tested).

    Output: one row per (train ``id_col``, eval id, jaccard ≥
    threshold). Roll up with :func:`fuzzy_contamination_flags` for the
    scrub-by-anti-join shape.
    """
    eval_id = eval_id_col or id_col
    release_fuzzy_caches()
    tr_shd, tr_bands = _signature_bands(
        train.select(F.col(id_col), F.col(text_col)),
        id_col, text_col, shingle_n, num_hashes, band_size,
    )
    # broadcast_eval ⇒ the eval side is small by contract: skip its
    # persist and let the two consuming legs (bands + verify shingles)
    # recompute the tiny shingling inline (r13). The non-broadcast
    # escape hatch (eval side is another full corpus) keeps the cache.
    ev_shd, ev_bands = _signature_bands(
        evalset.select(F.col(eval_id).alias(id_col), F.col(text_col)),
        id_col, text_col, shingle_n, num_hashes, band_size,
        persist_shd=not broadcast_eval,
    )
    cands = (
        tr_bands.select(
            F.col("__id").alias("train_id"), "band_id", "band_key"
        )
        .join(
            _maybe_broadcast(
                ev_bands.select(
                    F.col("__id").alias("eval_id"), "band_id", "band_key"
                ),
                broadcast_eval,
            ),
            ["band_id", "band_key"],
        )
        .select("train_id", "eval_id")
        .dropDuplicates(["train_id", "eval_id"])
    )
    sh_t = tr_shd.select(
        F.col("__id").alias("train_id"), F.col("__sh").alias("sh_t")
    )
    sh_e = ev_shd.select(
        F.col("__id").alias("eval_id"), F.col("__sh").alias("sh_e")
    )
    return (
        cands.join(sh_t, "train_id")
        .join(_maybe_broadcast(sh_e, broadcast_eval), "eval_id")
        .select(
            "train_id", "eval_id", _rounded_jaccard("sh_t", "sh_e").alias("jaccard")
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def fuzzy_contamination_flags(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Per-train-doc rollup of :func:`fuzzy_decontamination_pairs` in
    the ``contamination_flags`` output shape: one row per contaminated
    train doc (clean docs absent — anti-join to scrub), with the match
    count and the strongest eval similarity."""
    pairs = fuzzy_decontamination_pairs(
        train, evalset, id_col=id_col, text_col=text_col, **kwargs
    )
    return pairs.groupBy("train_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_matches"),
        F.max("jaccard").alias("max_jaccard"),
    ).select(
        F.col("train_id").alias(id_col), "n_eval_matches", "max_jaccard"
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _bit_vote_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    h: Callable[[str], Column],
    bits: int,
) -> DataFrame:
    """``bits``-bit SimHash per document over the shingle hash ``h``,
    banded into four ``bits // 4``-bit keys ``band0..band3``.

    Explode + ``bits`` conditional sums in ONE codegen hash aggregate
    with map-side combine, one hash per shingle (a per-row array fold
    re-hashes every shingle once per bit, ~25× slower measured). Bit b
    is ``shiftright(__h, b) & 1``, the sign bit too for a signed 64-bit
    hash; ``shiftleft(1L, b)`` is its mask, b=63 → min-long. The votes
    and the OR fold are parsed SQL (one ``F.expr`` each): Column-method
    chains cost ~900 py4j round-trips per call (r13). Token-less docs
    get simhash 0, the empty-fold value; bands are unsigned shifts, so
    a negative fingerprint still bands into [0, 2^(bits//4)).
    """
    tok = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n=shingle_n)).alias("__s")
    ).withColumn("__h", h("__s"))

    def mask_sql(b: int) -> str:
        return f"shiftleft(CAST(1 AS BIGINT), {b})"

    votes = tok.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(__h, {b}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS v{b}"
            )
            for b in range(bits)
        ]
    )
    sim = F.expr(
        " | ".join(
            f"(CASE WHEN v{b} > 0 THEN {mask_sql(b)}"
            f" ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        )
    )
    out = (
        df.select(id_col)
        .join(votes.select(F.col(id_col), sim.alias("simhash")), id_col, "left")
        .withColumn("simhash", F.coalesce("simhash", F.lit(0).cast("long")))
    )
    band_bits = bits // 4
    return out.select(
        F.col(id_col),
        "simhash",
        *[
            F.shiftrightunsigned("simhash", band_bits * i)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias(f"band{i}")
            for i in range(4)
        ],
    )


def simhash_groups(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 1
) -> DataFrame:
    """64-bit SimHash per document over xxhash64 (q32); identical hashes
    ⇒ near-identical docs. Four 16-bit band keys give hamming-distance-≤3
    candidate search at scale (see :func:`_bit_vote_simhash`)."""
    return _bit_vote_simhash(df, id_col, text_col, shingle_n, F.xxhash64, 64)


def simhash_groups_portable(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 1
) -> DataFrame:
    """Engine-portable SimHash (q163): :func:`simhash_groups` with the
    Spark-specific xxhash64 swapped for the md5-derived 60-bit
    ``hashing.hash60`` — exact integer arithmetic any engine reproduces,
    so the hamming-bucket path gets a DuckDB hash oracle. 60 bits band
    into 4×15-bit keys; identical band ⇒ hamming candidates, same recall
    geometry as the 64-bit/4×16 variant."""
    return _bit_vote_simhash(
        df, id_col, text_col, shingle_n, hash60, SIMHASH_PORTABLE_BITS
    )


def prefix_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    prefix_tokens: int = 8,
    containment_threshold: float = 0.8,
) -> DataFrame:
    """Containment near-dup pairs: ``|A∩B| / min(|A|,|B|)`` over n-gram
    shingle sets — the asymmetric signal Jaccard structurally misses. A
    short document fully embedded in a long one (truncated re-crawl,
    quote-with-commentary, boilerplate-wrapped article) has containment
    1.0 but Jaccard ≈ |A|/|B| → far below any Jaccard threshold, so
    ``ngram_jaccard_pairs`` never surfaces it.

    Candidate generation buckets on the min-hashed shingle of the first
    ``prefix_tokens`` tokens: two documents sharing their opening token
    run — the dominant containment mode in crawl data, where the copy
    starts at the original's start — collide with certainty, and the
    hash spreads bucket sizes uniformly (same argument as
    ``ngram_jaccard_pairs``). Mid-document containment needs multi-probe
    keys (every b-th shingle) at b× key volume; this single-probe prefix
    key is the recall/cost point chosen here, and the exact containment
    verify on candidates makes precision 1.0 regardless.

    Scale shape mirrors ``ngram_jaccard_pairs``: shingle once, persist,
    bucket self-join on the prefix key, exact verify — work is
    Σ bucket² over hash-spread buckets, never n².
    """
    from nahuatl_data_pipeline_spark.functions.text_analysis import tokens

    release_fuzzy_caches()
    # the shared tokenizer — NOT a fresh split expression, so the
    # prefix cut can never drift from the corpus view
    toks = tokens(F.lower(F.col(text_col)))
    prefix = F.array_join(F.slice(toks, 1, prefix_tokens), " ")
    key = F.array_min(
        F.transform(word_shingles(prefix, n=shingle_n), hash64)
    )
    # spread a narrow input before the two shingling passes (the
    # _signature_bands pattern; no-op at >= defaultParallelism splits)
    df = spread_narrow(df)
    # NOTE (r14, verdict task #4 attempted and REVERTED with plan
    # evidence): hash-partitioning this frame by __key before the
    # persist — so the self-join legs could inherit the partitioning
    # and skip their two payload exchanges — does NOT work on Spark 4:
    # the persisted subtree is wrapped in its own AdaptiveSparkPlan and
    # InMemoryTableScan exposes no hashpartitioning to the outer join,
    # so EnsureRequirements re-adds both leg exchanges ANYWAY (see
    # plans/r14/q106scale_{before,after-attempt}.txt — identical
    # Exchange(21)/(26) above both cache reads), while the extra
    # pre-cache exchange cost +40% local wall. The da46f74 collect_list
    # fold is also wrong here: q106 has no bucket cap, so folding would
    # buffer unbounded shingle-array buckets in one aggregation buffer.
    docs = pin(
        df.select(
            F.col(id_col).alias("__id"),
            word_shingles(text_col, n=shingle_n).alias("__sh"),
            key.alias("__key"),
        ).filter((F.size("__sh") > 0) & F.col("__key").isNotNull()),
        eager=True,  # both self-join legs read it
        pool=_LIVE_CACHES,
    )
    a = docs.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"), "__key"
    )
    b = docs.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"), "__key"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    smaller = F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
    out = (
        a.join(b, "__key")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("containment", inter / smaller)
        .filter(F.col("containment") >= containment_threshold)
        .select(
            "id_a", "id_b", F.round("containment", 6).alias("containment")
        )
    )
    return out
