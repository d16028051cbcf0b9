"""TF-IDF term scoring over a document corpus.

The reference computes per-corpus token frequency tables driver-side
(benchmark/generate_stats.py:57-80, pandas value_counts); this is the
distributed generalization to tf-idf with per-document top-k terms —
the standard relevance/keyword-extraction primitive a curation
pipeline uses for topic tagging and boilerplate spotting.

Plan shape (all codegen, no Python) — deliberately LINEAR:
  tokenize (split+explode projection)
    → tf: groupBy(doc, term) map-side-combined count      [shuffle 1]
    → df: count window PARTITIONED BY term over the tf
      rows (one row per (doc,term), so the window count
      IS document frequency)                              [shuffle 2]
    → N: 1-row corpus count, crossJoin-broadcast — the
      scalar never touches the driver
    → score = tf * ln((1+N)/(1+df)) (smoothed idf)
    → per-doc top-k via rank window partitioned by doc    [shuffle 3]

The df step is a window, not a groupBy-then-self-join: joining tf back
to an aggregate OF tf duplicates the whole tokenize+aggregate subtree
in the plan (Spark does not reuse the exchange across the two branches
under AQE — measured), so every document would be tokenized twice. The
window consumes tf's output in place: same shuffle-by-term cost, one
tokenize. Three key-partitioned shuffles total; nothing global,
nothing driver-side — the same plan at 100 TB just has more reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import tokens
from nahuatl_data_pipeline_spark.session import CachePool, pin

_LIVE_CACHES = CachePool()
release_tfidf_caches = _LIVE_CACHES.release


def tokenize(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (doc, token) of the lowercased text, through the
    shared tokenizer (functions/text_analysis.py:tokens), so tf-idf
    vocabularies agree with every other operator's view of the corpus.
    Pure projection + generator — stays in whole-stage codegen."""
    return docs.select(
        id_col, F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top-``k`` terms per document by smoothed tf-idf.

    ``score = tf * ln((1 + N) / (1 + df))``, rounded to ``round_to``
    decimals; ties broken by term ascending so the top-k set is fully
    deterministic (required for oracle hashing and for reproducible
    feature extraction).
    """
    toks = tokenize(docs, id_col, text_col)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        with_df
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((1 + F.col("__n")) / (1 + F.col("df"))),
                round_to,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def vocab_growth(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bucket_docs: int = 50,
) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): cumulative distinct-type
    count as the corpus is consumed in ``id_col`` order, reported at
    every ``bucket_docs`` documents. The curve's exponent is the
    standard novelty diagnostic for a training corpus — flat early
    saturation flags template/boilerplate floods and exhausted
    near-duplicate crawls before any model sees the data.

    Plan: cumulative distinct is NOT computed as a running
    count-distinct window (quadratic state). Each type contributes at
    exactly one point — its FIRST document — so: tokenize→explode, one
    min(doc) aggregate keyed by term [the only row-level shuffle],
    bucket the first-occurrence ids, count new types per bucket, then
    a cumulative-sum window over the ~corpus/bucket_docs bucket rows.
    That final window is a single-partition sort ON THE BUCKET TABLE
    (bounded rows — 100 TB at bucket_docs=50 is still only millions of
    rows, and bucket_docs scales up with the corpus), never on the
    token stream.
    """
    from pyspark.sql import Window

    toks = tokenize(docs, id_col, text_col)
    first = toks.groupBy("term").agg(F.min(id_col).alias("__first"))
    buckets = (
        first.groupBy(
            F.floor(F.col("__first") / bucket_docs).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return buckets.select(
        F.col("bucket").cast("long").alias("bucket"),
        ((F.col("bucket") + 1) * bucket_docs).cast("long").alias("docs_seen"),
        "new_types",
        F.sum("new_types").over(w).cast("long").alias("cum_types"),
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    df_cap: int | None = None,
    max_df_frac: float | None = 0.05,
    threshold: float = 0.5,
    round_to: int = 6,
    candidates: str = "all",
    num_hashes: int = 6,
    band_size: int = 2,
    broadcast_max_candidates: int = 2_000_000,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All document pairs with tf-idf cosine similarity ≥ ``threshold``,
    via an inverted-index join — the sparse-vector complement of the
    embedding-cosine path (similarity.py): no model, exact lexical
    similarity, the classic IR near-dup/citation detector.

    ``shingle_n`` picks the term space: 1 = unigram bag with tf counts;
    >1 = distinct n-gram shingles (set semantics, tf≡1) — the right
    space when the unigram vocabulary is tiny or heavily shared (every
    term a stop-term), where unigram cosine degenerates to 1.0-or-shed.

    The df cap is THE scale lever: terms above it are dropped before
    the index join (they carry ~zero idf weight but quadratic
    posting-list cost — one stop-term's posting list at 100 TB would
    alone generate more candidate pairs than the rest of the corpus
    combined). ``max_df_frac`` expresses it as a fraction of the corpus
    (sklearn's max_df), so the cap tracks corpus growth; ``df_cap``
    pins it absolutely and wins if both are given. With a cap, join
    work is Σ df² ≤ cap · Σ df — linear in corpus size with a constant
    chosen by the cap. Weights and norms are defined over the capped
    vocabulary (documented semantics, so the oracle recomputes them
    identically).

    Plan: tokenize/shingle once → tf rows → df and the per-document L2
    norm both as WINDOWS over the tf rows ([shuffle by term], [shuffle
    by doc]) — never a groupBy joined back to its source, which would
    re-tokenize the corpus (module-docstring lesson) → posting
    self-join on term → pair-keyed sum. Cosine is rounded before
    thresholding: the pair dot product is a float fold whose last ulp
    depends on summation order (the anomaly.py reproducibility
    contract).

    ``candidates`` picks the pairing strategy:

    - ``'all'``: exact all-pairs over the (capped) posting lists. The df
      cap makes the join linear in corpus size, but the CONSTANT is the
      cap — at the 100×-unique decade the exact posting join cost 414 s
      vs 109 s for q38's banded Jaccard on the same corpus (SCALE.md
      round 7). Complete by construction; the right mode when missing a
      sub-threshold-Jaccard / high-cosine pair is unacceptable.
    - ``'banded'``: banded-minhash candidate pruning
      (``fuzzy_dedup.banded_candidate_pairs``, the q25/q38 scheme —
      ``num_hashes``/``band_size`` bands over the SAME shingle space as
      the term vectors) followed by EXACT tf-idf scoring of the
      surviving pairs: weights, norms and the df cap are still defined
      over the whole corpus, so every emitted cosine is identical to the
      ``'all'`` value — banding only prunes which pairs are scored.
      Posting-join cost drops from Σ df² to Σ |cand|·|doc terms|, the
      scale default. Recall contract: a pair is missed iff it shares no
      minhash band — collision probability J^band_size per band on the
      shingle space, so high-overlap pairs (the near-dup use case)
      survive; measured 99.86 % of threshold-0.5 pairs on the
      100×-unique replica at 3×2 bands, 59.5 s vs 413.8 s exact
      (SCALE.md round 8). The candidate frame is
      broadcast below ``broadcast_max_candidates`` (dirty corpora fall
      back to a shuffle join); ``max_bucket_size`` is the hot-bucket
      guard, same semantics as the Jaccard path.
    """
    from nahuatl_data_pipeline_spark.functions.hashing import word_shingles

    if candidates not in ("all", "banded"):
        raise ValueError(f"unknown candidates mode {candidates!r}")

    if df_cap is None and max_df_frac is None:
        raise ValueError(
            "one of df_cap / max_df_frac is required: an uncapped inverted "
            "index makes every stop-term posting list a quadratic join input"
        )
    cands = n_cands = None
    if candidates == "banded":
        from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
            banded_candidate_pairs,
        )

        # shd is the persisted (id, shingle-array) frame: the banding
        # already paid the per-row shingling once, so (for n>1, where
        # shingles are distinct-per-doc) the tf table explodes the CACHE
        # instead of re-shingling the corpus.
        shd, cands, n_cands = banded_candidate_pairs(
            docs.select(F.col(id_col), F.col(text_col)),
            id_col,
            text_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            band_size=band_size,
            max_bucket_size=max_bucket_size,
        )
    if shingle_n == 1:
        # unigram tf counts MULTIPLICITY — always from the token stream
        # (the banding's shd holds the distinct token set, wrong tf)
        toks = tokenize(docs, id_col, text_col)
        tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    elif cands is not None:
        tf = shd.select(
            F.col("__id").alias(id_col), F.explode("__sh").alias("term")
        ).withColumn("tf", F.lit(1))
    else:
        # word_shingles is distinct-per-doc → tf ≡ 1, no aggregate needed
        tf = docs.select(
            id_col,
            F.explode(word_shingles(text_col, n=shingle_n)).alias("term"),
        ).withColumn("tf", F.lit(1))
    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    cap = (
        F.lit(df_cap)
        if df_cap is not None
        else F.ceil(F.lit(float(max_df_frac)) * F.col("__n"))
    )
    w = (
        with_df.crossJoin(F.broadcast(n))
        .filter(F.col("df") <= cap)
        .withColumn(
            "w", F.col("tf") * F.log((1 + F.col("__n")) / (1 + F.col("df")))
        )
    )
    normed = w.withColumn(
        "wn",
        F.col("w")
        / F.sqrt(
            F.sum(F.col("w") * F.col("w")).over(Window.partitionBy(id_col))
        ),
    ).select(F.col(id_col).alias("__doc"), "term", "wn")
    # both self-join legs consume the posting table — materialize it once
    # or the whole tokenize→tf→window subtree runs twice (module lesson).
    # Size is one row per (doc, sub-cap term): the capped index, far
    # smaller than the corpus it came from. persist() (compressed
    # columnar InMemoryRelation, spills to disk under pressure), NOT
    # localCheckpoint: checkpoint blocks are DESERIALIZED row objects —
    # at the 100×-unique replica the 44M-row index as checkpoint blocks
    # plus the pair-join's concurrent spill readers OOM'd an 8 GiB JVM
    # (SCALE.md round 7), while the columnar cache of the same index
    # fits with room to spare. Lineage truncation isn't needed here —
    # the plan is not iterative — only reuse is.
    release_tfidf_caches()
    normed = pin(normed, eager=True, pool=_LIVE_CACHES)
    a = normed.select(
        F.col("__doc").alias("id_a"), "term", F.col("wn").alias("wa")
    )
    b = normed.select(
        F.col("__doc").alias("id_b"), "term", F.col("wn").alias("wb")
    )
    if cands is not None:
        # banded mode: score ONLY the candidate pairs. The cand frame
        # fans out by id_a's posting list, then the (id_b, term)-keyed
        # join picks matching terms — work is Σ_pairs |terms(id_a)|,
        # never Σ df². Weights/norms above are corpus-global, so each
        # emitted cosine equals the 'all'-mode value exactly.
        cand_side = (
            F.broadcast(cands)
            if n_cands <= broadcast_max_candidates
            else cands
        )
        return (
            cand_side.join(a, "id_a")
            .join(b, ["id_b", "term"])
            .groupBy("id_a", "id_b")
            .agg(
                F.round(F.sum(F.col("wa") * F.col("wb")), round_to).alias(
                    "cosine"
                )
            )
            .filter(F.col("cosine") >= threshold)
        )
    return (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.round(F.sum(F.col("wa") * F.col("wb")), round_to).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def pmi_cooccurrence(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_pair_docs: int = 5,
    top_k: int | None = None,
    round_to: int = 6,
    max_vocab: int | None = None,
) -> DataFrame:
    """Token-pair collocations by pointwise mutual information over
    DOCUMENT co-occurrence: ``pmi(a,b) = ln(n_ab·N / (n_a·n_b))`` with
    ``n_x`` = documents containing x — the phrase/topic-pair detector
    (tokens that travel together far above chance), and the unordered
    complement of q95's sequential transitions / q109's adjacency
    bigrams.

    Plan: distinct (doc, term) once → pair table via an id-keyed
    self-join (ta < tb) + one map-side-combined count [the only big
    shuffle; per-doc pair fan-out is C(d,2) over DISTINCT tokens, so
    production use restricts the vocabulary first — the q108 df-cap
    idea]; per-term doc counts are a separate vocab-bounded aggregate
    joined onto the (vocab²-bounded) pair table — joining small onto
    small, never back onto the token stream. ``min_pair_docs`` floors
    support: PMI of a 1-document pair is pure noise.

    ``max_vocab`` is the operator-side scale lever (the q108
    ``max_df_frac`` idea): keep only the top-``max_vocab`` terms by
    document frequency (count desc, term asc tiebreak — deterministic)
    BEFORE the self-join, bounding the per-doc pair fan-out at
    C(min(d, max_vocab), 2) over a fixed universe instead of C(d, 2)
    over the open vocabulary — without it the pair volume at 100 TB
    rests on the caller pre-filtering text. Marginals (``n_t``) and the
    corpus size N are computed BEFORE the cut, so surviving pairs keep
    their exact uncapped PMI values; the cut only restricts WHICH pairs
    are emitted, never their scores. Rare-term pairs were dominated by
    ``min_pair_docs`` noise anyway (a term in < min_pair_docs documents
    can never form a qualifying pair).
    """
    from nahuatl_data_pipeline_spark.functions.hashing import token_set

    dt = docs.select(
        id_col, F.explode(token_set(text_col)).alias("term")
    )
    # three consumers (both self-join legs + the marginal count) —
    # materialize once or the tokenize subtree runs three times
    # (module lesson, same as tfidf_cosine_pairs' posting table)
    dt = pin(dt, eager=True, truncate=True)
    tc = dt.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    if max_vocab is not None:
        # Output-identical pre-cut: a term in < min_pair_docs documents
        # can never be half of a qualifying pair (n_ab <= min(n_a, n_b)),
        # and under the n_t-desc ranking every such term sorts BELOW
        # every productive term — dropping them first can't change which
        # productive terms make the cut. It bounds the ranked set by the
        # PRODUCTIVE vocabulary instead of the open one (which grows
        # with the corpus — the rare-term tail this cap exists for).
        # orderBy+limit compiles to TakeOrderedAndProject: per-partition
        # top-K merged at the driver, never a single-partition sort.
        vocab = (
            tc.filter(F.col("n_t") >= min_pair_docs)
            .orderBy(F.col("n_t").desc(), F.col("term").asc())
            .limit(max_vocab)
            .select("term")
        )
        dt = dt.join(F.broadcast(vocab), "term", "left_semi")
    a = dt.select(F.col(id_col).alias("__d"), F.col("term").alias("term_a"))
    b = dt.select(F.col(id_col).alias("__d"), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "__d")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_docs)
    )
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    ta = tc.select(
        F.col("term").alias("term_a"), F.col("n_t").alias("__na")
    )
    tb = tc.select(
        F.col("term").alias("term_b"), F.col("n_t").alias("__nb")
    )
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.col("__n")
        / (F.col("__na").cast("double") * F.col("__nb"))
    )
    out = (
        pairs.join(F.broadcast(ta), "term_a")
        .join(F.broadcast(tb), "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(pmi, round_to).alias("pmi"),
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.desc("pmi"), F.asc("term_a"), F.asc("term_b")
        ).limit(top_k)
    return out


def vocab_coverage(
    docs: DataFrame,
    train: DataFrame,
    group_col: str,
    text_col: str,
    shingle_n: int = 2,
    vocab_size: int = 500,
    round_to: int = 6,
) -> DataFrame:
    """Vocabulary coverage / OOV audit: build a top-``vocab_size``
    term vocabulary from ``train`` (the tokenizer-training corpus) and
    measure, per ``group_col`` of ``docs``, the fraction of term
    OCCURRENCES that fall outside it — the "will the tokenizer
    fragment this source" check run before adding any new source to a
    training mix.

    ``shingle_n`` picks the term space (word n-gram shingles, the
    q38/q108 kernel; distinct-per-doc set semantics). Vocabulary
    selection is deterministic: count desc, term asc tiebreak.

    Plan: one term-count aggregate over ``train`` + a rank window on
    the VOCABULARY-sized table (the q124 shape — never the occurrence
    stream); the vocabulary (≤ ``vocab_size`` rows) broadcast-left-
    joins onto the occurrence stream, and per-group OOV tallies
    map-side combine. Output: ``(group, n_terms, oov_terms,
    oov_rate)``.
    """
    from nahuatl_data_pipeline_spark.functions.hashing import word_shingles

    occ = docs.select(
        F.col(group_col),
        F.explode(word_shingles(text_col, n=shingle_n)).alias("term"),
    )
    tocc = train.select(
        F.explode(word_shingles(text_col, n=shingle_n)).alias("term")
    )
    counts = tocc.groupBy("term").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy(F.col("__c").desc(), F.col("term").asc())
    vocab = (
        counts.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= vocab_size)
        .select("term", F.lit(True).alias("__in"))
    )
    return (
        occ.join(F.broadcast(vocab), "term", "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(
                F.when(F.col("__in").isNull(), 1).otherwise(0)
            ).cast("long").alias("oov_terms"),
        )
        .select(
            group_col,
            "n_terms",
            "oov_terms",
            F.round(
                F.col("oov_terms") / F.col("n_terms"), round_to
            ).alias("oov_rate"),
        )
    )
