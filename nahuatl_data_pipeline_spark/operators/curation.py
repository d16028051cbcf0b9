"""Corpus-curation operators for training-data pipelines.

Three curation stages the reference pipeline lacks but any web-scale
corpus build needs (they ship alongside the dedup family as first-class
`queries()` entries):

- ``repetition_signals`` — Gopher-style repetition filters (Rae et al.
  2021, §A1.1): fraction of tokens in the most frequent token/bigram
  and the distinct-token fraction. Boilerplate and generation loops
  score high; prose scores low.
- ``contamination_flags`` — benchmark decontamination by 13-gram
  overlap (GPT-3 appendix C / PaLM §7): a training doc sharing any
  13-token window with an eval set is flagged for removal.
- ``c4_rule_flags`` — C4 cleaning rules (Raffel et al. 2020, §2.2):
  terminal punctuation, no code braces, no boilerplate phrases,
  minimum length.

All three are pure DataFrame ops: tokenization and shingling via
built-in split/regex expressions, counting via explode + two-level
groupBy (map-side partial agg), rules via codegen string predicates.
No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.hashing import hash60, word_shingles
from nahuatl_data_pipeline_spark.functions.spread import spread_narrow
from nahuatl_data_pipeline_spark.functions.text_analysis import tokens


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_bigram_frac: float = 0.18,
    max_top_token_frac: float = 0.30,
) -> DataFrame:
    """Per-document repetition statistics + a Gopher-style keep flag.

    Output: ``(id, n_tokens, distinct_frac, top_token_frac,
    top_bigram_frac, keep_doc)``; documents with fewer than 2 tokens are
    excluded (no bigram exists, and the signals are meaningless).

    distinct_frac comes straight off the token array (array_distinct —
    no shuffle); the two mode fractions need a frequency table, so each
    is explode → groupBy(id, gram) → groupBy(id), both shuffles keyed by
    the doc id with map-side combine. Thresholds default to Gopher's
    published cutoffs; tune per corpus.
    """
    tk = tokens(F.lower(F.col(text_col)))
    base = (
        df.select(F.col(id_col).alias("id"), tk.alias("tk"))
        .filter(F.size("tk") >= 2)
    )

    def mode_frac(grams: DataFrame, out: str) -> DataFrame:
        return (
            grams.groupBy("id", "g")
            .count()
            .groupBy("id")
            .agg(
                F.round(
                    F.max("count") / F.sum("count"), 6
                ).alias(out)
            )
        )

    tok = mode_frac(base.select("id", F.explode("tk").alias("g")), "top_token_frac")
    bigram = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.concat(
            F.element_at(F.col("tk"), i),
            F.lit(" "),
            F.element_at(F.col("tk"), i + 1),
        ),
    )
    big = mode_frac(
        base.select("id", F.explode(bigram).alias("g")), "top_bigram_frac"
    )
    stats = base.select(
        "id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct("tk")) / F.size("tk"), 6).alias(
            "distinct_frac"
        ),
    )
    return (
        stats.join(tok, "id")
        .join(big, "id")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "distinct_frac",
            "top_token_frac",
            "top_bigram_frac",
            (
                (F.col("top_bigram_frac") <= max_top_bigram_frac)
                & (F.col("top_token_frac") <= max_top_token_frac)
            ).alias("keep_doc"),
        )
    )


def contamination_flags(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Training docs sharing any n-token window with the eval set.

    Output: ``(id, n_shared_ngrams)`` — one row per CONTAMINATED train
    doc (clean docs are absent; anti-join on the result to scrub).
    The eval side is reduced to distinct md5-hashed shingles and
    broadcast — benchmark suites are a few MB against a 100 TB corpus.
    The train side's raw gram stream is probed by that broadcast
    MAP-SIDE (no shuffle), so the only exchange in the whole plan
    carries the matched grams of contaminated docs — the per-doc
    distinct count aggregates (id, h) partial-first. (Until round 13
    the train side was DISTINCTed before the probe, which shuffled
    every gram of the corpus just to dedupe rows the broadcast was
    about to discard; COUNT(DISTINCT h) per doc over matched rows is
    the same number, since the matched rows for a doc are exactly its
    (id, h) pairs with h in the eval set.) Docs shorter than ``n``
    tokens produce no shingles and cannot be flagged (matches the
    published 13-gram protocol).

    The join key is the UNREDUCED 60-bit md5 hash (``hash60``), not the
    31-bit mod-P ``hash64`` the MinHash family uses: a membership join
    on 31 bits false-flags at rate |train grams|·|eval grams|/2³¹ —
    measured at the mixed 3× replica (one false contamination in 1.5M
    grams, round 11), and wholesale at corpus scale. At 60 bits the
    expectation stays < 1 even for 10¹² train grams against a 10⁶-gram
    eval suite; a byte-exact protocol would join the full md5 string at
    2× the shuffle width.
    """
    sh = word_shingles(text_col, n=n)
    # spread a narrow train input before the per-row shingling regex (the
    # _signature_bands pattern; no-op at >= defaultParallelism splits)
    train = spread_narrow(train)
    tr = train.select(F.col(id_col).alias("id"), F.explode(sh).alias("s")).select(
        "id", hash60(F.col("s")).alias("h")
    )
    ev = (
        evalset.select(F.explode(sh).alias("s"))
        .select(hash60(F.col("s")).alias("h"))
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("id")
        .agg(F.count_distinct(F.col("h")).alias("n_shared_ngrams"))
        .select(F.col("id").alias(id_col), "n_shared_ngrams")
    )


def c4_rule_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    bad_phrases: tuple[str, ...] = ("lorem ipsum",),
) -> DataFrame:
    """C4 cleaning rules as per-document flags + combined keep.

    ``(id, n_words, ends_with_punct, has_brace, has_bad_phrase,
    keep_doc)``. Flags instead of a silent filter so curation runs can
    report per-rule rejection rates (the C4 paper reports exactly these)
    before committing to a drop.
    """
    t = F.col(text_col)
    lower = F.lower(t)
    bad = F.lit(False)
    for p in bad_phrases:
        bad = bad | lower.contains(p)
    n_words = F.size(tokens(lower)).cast("long")
    ends = t.rlike(r'[.!?"]\s*$')
    brace = t.contains("{") | t.contains("}")
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        ends.alias("ends_with_punct"),
        brace.alias("has_brace"),
        bad.alias("has_bad_phrase"),
        (
            ends
            & ~brace
            & ~bad
            & (n_words >= min_words)
        ).alias("keep_doc"),
    )


def common_prefix(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Longest common text prefix per group — the shared-banner /
    template-header detector: a scraper that prepends the same
    boilerplate to every page of a domain shows up as a long common
    prefix, which line-level dedup only catches if the banner happens
    to end at a newline.

    Uses the classic order-statistics trick: the common prefix of ALL
    strings in a group equals the common prefix of the
    lexicographically smallest and largest — so the corpus-sized work
    is ONE min/max aggregate (map-side combined), and the
    character-level comparison runs on two strings per group via a
    higher-order filter over character positions (codegen, no UDF).
    Output: ``(group, prefix_len, prefix)``; groups whose texts are all
    NULL report NULL prefix.
    """
    agg = df.groupBy(group_col).agg(
        F.min(text_col).alias("__mn"), F.max(text_col).alias("__mx")
    )
    L = F.least(F.length("__mn"), F.length("__mx"))
    mn, mx = F.col("__mn"), F.col("__mx")
    first_mismatch = F.array_min(
        F.filter(
            F.sequence(F.lit(1), L),
            lambda i: mn.substr(i, F.lit(1)) != mx.substr(i, F.lit(1)),
        )
    )
    return agg.withColumn(
        "prefix_len", F.coalesce(first_mismatch - 1, L).cast("long")
    ).select(
        group_col,
        "prefix_len",
        mn.substr(F.lit(1), F.col("prefix_len").cast("int")).alias("prefix"),
    )
