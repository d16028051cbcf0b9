"""Exact substring-span deduplication — remove REPEATED PASSAGES from
documents, not whole documents.

The operator the document-level dedupers (q10 exact, q25/q31 near-dup)
structurally cannot express: boilerplate headers, license blocks, and
quoted passages recur inside otherwise-unique documents, and training
on them repeatedly is what exact-substring dedup (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better") removes.
The reference ESD implementation builds a suffix array — a single-node
construction that does not distribute; this is the Spark-native
reformulation over fixed-length token n-grams:

1. tokenize (the repo's ASCII ``\\s+`` contract) with positions;
2. form every n-token shingle at its start position via n−1 LEADs in
   ONE doc-keyed sort pass (never a self-join);
3. an occurrence is a DUPLICATE unless it is the shingle's globally
   FIRST occurrence (min (doc, pos)) — decided by a rank WINDOW over
   the shingle key, the q85 lesson: same shuffle as a groupBy+join-
   back, one less join;
4. a token is REMOVED iff some duplicate shingle covers it — a RANGE
   frame (n−1 preceding) max over duplicate-start flags, turning span
   coverage into one doc-keyed window instead of an n-way explode;
5. surviving tokens reassemble in order (sorted struct collect).

Scale: three key-partitioned shuffles total — (shingle), (doc), (doc)
— each linear in token count; no pairwise comparisons anywhere, so
cost is independent of HOW duplicated the corpus is (the pair-family
operators pay per duplicate pair; this pays per token). First
occurrences keep their text, so output token mass ≈ unique content.

Contract notes: the FIRST occurrence in the global (doc_id, pos)
order is canonical; ties cannot occur (position is unique per doc).
Documents shorter than ``n`` tokens carry no shingles and are never
edited. Removal is per covered token — overlapping duplicate spans
merge naturally through the range frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import tokens


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    lowercase: bool = True,
) -> DataFrame:
    """Per input row: ``id_col``, ``n_tokens``, ``n_removed``, and
    ``cleaned`` (the surviving tokens space-joined — hash it for
    compact comparison, or write it as the deduped corpus)."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    base = F.col(text_col)
    if lowercase:
        base = F.lower(base)
    pos_tok = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(tokens(base)).alias("__pos", "__tok"),
    )

    w_doc = Window.partitionBy("__doc").orderBy("__pos")
    shingle = F.concat_ws(
        " ",
        F.col("__tok"),
        *[F.lead("__tok", i).over(w_doc) for i in range(1, n)],
    )
    last_lead = F.lead("__tok", n - 1).over(w_doc)
    with_sh = pos_tok.withColumn(
        "__sh", F.when(last_lead.isNotNull(), shingle)
    )

    # duplicate = not the shingle's globally-first occurrence; decided
    # by ONE rank window over the shingle key. Tail rows carry no
    # shingle — give each a UNIQUE surrogate key (\x00 prefix cannot
    # collide with a real token shingle) so they spread as singleton
    # partitions instead of piling every tail row of the corpus into
    # one NULL-keyed window partition (a guaranteed skew at scale).
    shkey = F.coalesce(
        F.col("__sh"),
        F.concat(
            F.lit("\x00"),
            F.col("__doc").cast("string"),
            F.lit(":"),
            F.col("__pos").cast("string"),
        ),
    )
    with_sh = with_sh.withColumn("__shkey", shkey)
    w_sh = Window.partitionBy("__shkey").orderBy("__doc", "__pos")
    flagged = with_sh.withColumn(
        "__dup_start",
        F.when(
            F.col("__sh").isNotNull() & (F.row_number().over(w_sh) > 1), 1
        ).otherwise(0),
    )

    # token covered by any duplicate span <=> a duplicate START lies in
    # [pos-n+1, pos]: one RANGE-frame max per doc
    w_cover = (
        Window.partitionBy("__doc")
        .orderBy("__pos")
        .rangeBetween(-(n - 1), 0)
    )
    covered = flagged.drop("__sh", "__shkey").withColumn(
        "__removed", F.max("__dup_start").over(w_cover)
    )

    return (
        covered.groupBy(F.col("__doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__removed").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__removed") == 0,
                                F.struct("__pos", "__tok"),
                            )
                        )
                    ),
                    lambda s: s["__tok"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )
