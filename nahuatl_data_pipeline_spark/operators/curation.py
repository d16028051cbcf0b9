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
built-in split/regex expressions, rules via codegen string predicates.
No Python UDFs anywhere. The two per-document gates (repetition, C4)
are row-local *attach* operators: one projection that returns the input
rows with their signal columns and ``keep_doc``, no shuffle — a
document's token-frequency table fits in its row, so the mode fractions
come from its sorted token array. Only decontamination shuffles: its
matched grams are counted per doc with a map-side partial aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.hashing import hash60, word_shingles
from nahuatl_data_pipeline_spark.functions.spread import spread_narrow
from nahuatl_data_pipeline_spark.functions.text_analysis import tokens


def _longest_run(sorted_arr: F.Column) -> F.Column:
    """Length of the longest run of equal adjacent elements: over a
    sorted array, the count of its most frequent element. One
    ``aggregate`` with a ``(prev, run, best)`` accumulator; elements
    must be non-NULL (a NULL ``prev`` compares unequal, so it only
    marks the start)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: F.Column, x: F.Column) -> F.Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def _attach_guard(df: DataFrame, op: str, names: tuple[str, ...]) -> None:
    """Raise if ``df`` already has one of the columns ``op`` attaches
    (Spark resolves names case-insensitively, so the check does too)."""
    have = {c.lower() for c in df.columns}
    clash = [c for c in names if c in have]
    if clash:
        raise ValueError(
            f"{op}: the input already has column(s) {clash}, which it "
            "attaches; rename or drop them first"
        )


_REPETITION_COLUMNS = (
    "n_tokens", "distinct_frac", "top_token_frac", "top_bigram_frac", "keep_doc",
)
_C4_COLUMNS = (
    "n_words", "ends_with_punct", "has_brace", "has_bad_phrase", "keep_doc",
)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    max_top_bigram_frac: float = 0.18,
    max_top_token_frac: float = 0.30,
) -> DataFrame:
    """Per-document repetition statistics + a Gopher-style keep flag,
    attached to ``df``: one row per input row, the input's columns plus
    ``n_tokens, distinct_frac, top_token_frac, top_bigram_frac,
    keep_doc``; a ``df`` that already has one of those names raises
    ``ValueError``.

    A document with fewer than 2 tokens, or a NULL text, has no bigram,
    so its three fractions are NULL and ``keep_doc`` is false;
    ``n_tokens`` is its token count (NULL for a NULL text).

    Every signal is row-local, so the operator is one projection with
    no shuffle (and runs unchanged on a stream). The text is tokenized
    once, into a column of its own projection that every signal reads.
    A mode fraction is the longest run of the sorted token (bigram)
    array over its size — the same value, after ``round(…, 6)``, as the
    count of the most frequent gram over the total. Thresholds default
    to Gopher's published cutoffs; tune per corpus.
    """
    _attach_guard(df, "repetition_signals", _REPETITION_COLUMNS)
    tk = F.col("__rep_tk")
    n = F.size(tk)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
        ),
    )

    def frac(num: F.Column, den: F.Column) -> F.Column:
        return F.when(n >= 2, F.round(num / den, 6))

    signals = (
        df.withColumn("__rep_tk", tokens(F.lower(F.col(text_col))))
        .select(
            "*",
            n.cast("long").alias("n_tokens"),
            frac(F.size(F.array_distinct(tk)), n).alias("distinct_frac"),
            frac(_longest_run(F.array_sort(tk)), n).alias("top_token_frac"),
            frac(_longest_run(F.array_sort(bigrams)), n - 1).alias(
                "top_bigram_frac"
            ),
        )
        .drop("__rep_tk")
    )
    return signals.select(
        "*",
        F.coalesce(
            (F.col("top_bigram_frac") <= max_top_bigram_frac)
            & (F.col("top_token_frac") <= max_top_token_frac),
            F.lit(False),
        ).alias("keep_doc"),
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
    text_col: str = "text",
    min_words: int = 50,
    bad_phrases: tuple[str, ...] = ("lorem ipsum",),
) -> DataFrame:
    """C4 cleaning rules as per-document flags + combined keep, attached
    to ``df``: one row per input row, the input's columns plus
    ``n_words, ends_with_punct, has_brace, has_bad_phrase, keep_doc``
    (a ``df`` that already has one of those names raises ``ValueError``).
    Flags instead of a silent filter so curation runs can report
    per-rule rejection rates (the C4 paper reports exactly these) before
    committing to a drop.

    One row-local projection, no shuffle. Each flag, the token count
    among them, is a named column before ``keep_doc`` combines them: an
    expression repeated under the ``AND`` would escape subexpression
    elimination and run per use.
    """
    _attach_guard(df, "c4_rule_flags", _C4_COLUMNS)
    t = F.col(text_col)
    lower = F.lower(t)
    bad = F.lit(False)
    for p in bad_phrases:
        bad = bad | lower.contains(p)
    flags = df.select(
        "*",
        F.size(tokens(lower)).cast("long").alias("n_words"),
        t.rlike(r'[.!?"]\s*$').alias("ends_with_punct"),
        (t.contains("{") | t.contains("}")).alias("has_brace"),
        bad.alias("has_bad_phrase"),
    )
    return flags.select(
        "*",
        (
            F.col("ends_with_punct")
            & ~F.col("has_brace")
            & ~F.col("has_bad_phrase")
            & (F.col("n_words") >= min_words)
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
