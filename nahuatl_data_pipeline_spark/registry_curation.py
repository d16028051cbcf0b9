"""Registry: corpus-curation queries (PII redaction, Gopher repetition,
benchmark decontamination, C4 rules).

The synthetic documents table contains none of the artifacts these
stages exist to catch, so each query PLANTS them deterministically from
doc_id arithmetic — the identical expression on both engines — and then
runs the real operator. The planting is test scaffolding; the operator
under test is the curation logic.

SQL oracles are built with placeholder substitution instead of
f-strings: the regex patterns contain ``{m,n}`` bounded repeats that
f-string formatting would mangle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.pii import (
    EMAIL_PATTERN,
    IPV4_PATTERN,
    PHONE_PATTERN,
    pii_counts,
    redact_pii,
)
from nahuatl_data_pipeline_spark.functions.text_analysis import tokens
from nahuatl_data_pipeline_spark.registry import register
from nahuatl_data_pipeline_spark.schemas import load_table


# ---------------------------------------------------------------------------
# q59: PII redaction
# ---------------------------------------------------------------------------

_Q59_SQL = """
    WITH w AS (
      SELECT doc_id,
             CASE WHEN doc_id < 200 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com via +52 55 8765 4321 from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.7'
             ELSE text END AS t
      FROM documents
    ),
    r AS (
      SELECT doc_id, t,
             REGEXP_REPLACE(t, '__EMAIL__', '<EMAIL>', 'g') AS t1
      FROM w
    ),
    r2 AS (
      SELECT doc_id, t, t1,
             REGEXP_REPLACE(t1, '__PHONE__', '<PHONE>', 'g') AS t2
      FROM r
    )
    SELECT doc_id,
           REGEXP_REPLACE(t2, '__IP__', '<IP>', 'g') AS clean_text,
           CAST(LEN(REGEXP_EXTRACT_ALL(t, '__EMAIL__')) AS BIGINT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(t1, '__PHONE__')) AS BIGINT) AS n_phones,
           CAST(LEN(REGEXP_EXTRACT_ALL(t2, '__IP__')) AS BIGINT) AS n_ips
    FROM r2
""".replace("__EMAIL__", EMAIL_PATTERN).replace(
    "__PHONE__", PHONE_PATTERN
).replace("__IP__", IPV4_PATTERN)


@register("q59_pii_redaction", _Q59_SQL)
def q59_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents (emails/phones/IPv4 → typed tokens,
    ROOTS/BigCode convention) with per-type counts; PII is planted from
    doc_id arithmetic for doc_id < 200. Pure regexp codegen — the same
    RE2-safe patterns run on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    pii_tail = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via +52 55 8765 4321 from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    t = F.when(F.col("doc_id") < 200, F.concat(F.col("text"), pii_tail)).otherwise(
        F.col("text")
    )
    w = docs.select("doc_id", t.alias("t"))
    n_emails, n_phones, n_ips = pii_counts(F.col("t"))
    return w.select(
        "doc_id",
        redact_pii(F.col("t")).alias("clean_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
    )


# ---------------------------------------------------------------------------
# q60: Gopher repetition signals
# ---------------------------------------------------------------------------

_Q60_SQL = """
    WITH toks AS (
      SELECT doc_id,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    base AS (SELECT doc_id, tk FROM toks WHERE LEN(tk) >= 2),
    tok AS (
      SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_token_frac
      FROM (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(tk) AS g FROM base)
        GROUP BY doc_id, g
      ) GROUP BY doc_id
    ),
    big AS (
      SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_bigram_frac
      FROM (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (
          SELECT doc_id,
                 UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)),
                        i -> tk[i] || ' ' || tk[i + 1])) AS g
          FROM base
        ) GROUP BY doc_id, g
      ) GROUP BY doc_id
    ),
    d AS (
      SELECT doc_id, CAST(LEN(tk) AS BIGINT) AS n_tokens,
             ROUND(LEN(LIST_DISTINCT(tk)) * 1.0 / LEN(tk), 6) AS distinct_frac
      FROM base
    )
    SELECT d.doc_id, n_tokens, distinct_frac, top_token_frac, top_bigram_frac,
           (top_bigram_frac <= 0.18 AND top_token_frac <= 0.3) AS keep_doc
    FROM d JOIN tok USING (doc_id) JOIN big USING (doc_id)
"""


@register("q60_repetition_signals", _Q60_SQL)
def q60_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: top-token / top-bigram mass
    fractions + distinct-token fraction with the published keep
    thresholds, for documents of at least 2 tokens. Every signal is
    row-local on the token array, so the plan has no shuffle; the
    oracle counts the same modes with UNNEST + two-level GROUP BY. The
    longest run of equal elements in a sorted gram array is the count of
    its most frequent gram and its size is the gram total, so each
    fraction divides the oracle's MAX(c) by its SUM(c)."""
    from nahuatl_data_pipeline_spark.operators.curation import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs).filter(F.col("n_tokens") >= 2).select(
        "doc_id", "n_tokens", "distinct_frac", "top_token_frac",
        "top_bigram_frac", "keep_doc",
    )


# ---------------------------------------------------------------------------
# q61: benchmark decontamination (13-gram overlap)
# ---------------------------------------------------------------------------

_Q61_SQL = """
    WITH ev AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ),
    tr AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, 'alpha beta gamma ' || text AS text
      FROM ev
    ),
    trsh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || SUBSTRING(MD5(s), 1, 15)) AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk) - 11),
                      i -> ARRAY_TO_STRING(tk[i:i+12], ' '))) AS s
        FROM (
          SELECT doc_id,
                 LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
                             t -> t <> '') AS tk
          FROM tr
        ) WHERE LEN(tk) >= 13
      )
    ),
    evsh AS (
      SELECT DISTINCT
             CAST(('0x' || SUBSTRING(MD5(s), 1, 15)) AS BIGINT) AS h
      FROM (
        SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk) - 11),
                      i -> ARRAY_TO_STRING(tk[i:i+12], ' '))) AS s
        FROM (
          SELECT LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
                             t -> t <> '') AS tk
          FROM ev
        ) WHERE LEN(tk) >= 13
      )
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM trsh JOIN evsh USING (h)
    GROUP BY doc_id
"""


@register("q61_decontamination", _Q61_SQL)
def q61_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C protocol): flag train
    docs sharing any 13-token window with the eval split (docs with
    doc_id % 97 == 0); contaminated copies are planted as prefixed
    rewrites of eval docs. The eval shingle set is broadcast — benchmark
    suites are tiny against a 100 TB corpus."""
    from nahuatl_data_pipeline_spark.operators.curation import contamination_flags

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    planted = ev.select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.lit("alpha beta gamma "), F.col("text")).alias("text"),
    )
    train = docs.filter(F.col("doc_id") % 97 != 0).unionByName(planted)
    return contamination_flags(train, ev, n=13)


# ---------------------------------------------------------------------------
# q62: C4 cleaning rules
# ---------------------------------------------------------------------------

_Q62_SQL = """
    WITH w AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 3 = 0 THEN '.' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN ' {code}' ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum dolor'
                  ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(t)), '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_words,
           REGEXP_MATCHES(t, '[.!?"]\\s*$') AS ends_with_punct,
           (CONTAINS(t, '{') OR CONTAINS(t, '}')) AS has_brace,
           CONTAINS(LOWER(t), 'lorem ipsum') AS has_bad_phrase,
           (REGEXP_MATCHES(t, '[.!?"]\\s*$')
            AND NOT (CONTAINS(t, '{') OR CONTAINS(t, '}'))
            AND NOT CONTAINS(LOWER(t), 'lorem ipsum')
            AND LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(t)), '\\s+'),
                                x -> x <> '')) >= 50) AS keep_doc
    FROM w
"""


@register("q62_c4_rules", _Q62_SQL)
def q62_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) as per-doc flags +
    combined keep: terminal punctuation, no code braces, no boilerplate
    phrase, >= 50 words. Rule artifacts planted from doc_id arithmetic
    so every flag exercises both branches."""
    from nahuatl_data_pipeline_spark.operators.curation import c4_rule_flags

    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, ".").otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, " {code}").otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, " lorem ipsum dolor").otherwise(""),
    )
    return c4_rule_flags(docs.select("doc_id", t.alias("text"))).select(
        "doc_id", "n_words", "ends_with_punct", "has_brace",
        "has_bad_phrase", "keep_doc",
    )


# ---------------------------------------------------------------------------
# q63/q64: sketch family (HLL cardinality, quantile sketch)
# ---------------------------------------------------------------------------


@register("q63_hll_cardinality", None)  # sketch estimates — rows-only
def q63_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-token cardinality per language — the
    sketch path for q15's exact COUNT(DISTINCT): one pass, bounded
    memory per group (vs a full distinct shuffle), mergeable across
    partitions — the 100 TB cardinality answer. Estimates are
    implementation-specific so no cross-engine oracle; relative error
    <= 5% vs exact is asserted in tests/test_sketches.py."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(tokens(F.lower(F.col("text")))).alias("token"),
    )
    return tok.groupBy("lang").agg(
        F.count("token").alias("n_tokens"),
        F.approx_count_distinct("token", rsd=0.02).alias("approx_types"),
    )


_Q64_SQL = """
    SELECT lang,
           CAST(quantile_disc(LENGTH(text), 0.25) AS BIGINT) AS p25,
           CAST(quantile_disc(LENGTH(text), 0.5) AS BIGINT) AS p50,
           CAST(quantile_disc(LENGTH(text), 0.9) AS BIGINT) AS p90,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
"""


@register("q64_quantile_sketch", _Q64_SQL)
def q64_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch (Greenwald-Khanna) over document lengths — the
    scale path for q13's exact median: fixed-size mergeable summaries
    instead of a per-group sort. accuracy=10000 => rank error <= 0.01%,
    which is EXACT below 10k values per group — so DuckDB's
    quantile_disc (exact discrete order statistic) is a hash-matching
    oracle at sf<=0.1 group sizes, while the Spark plan stays the
    bounded-memory sketch you would run at 100 TB. Sketch error bound
    vs exact percentiles asserted in tests/test_sketches.py.

    Output is scalar columns (p25/p50/p90), not an array — array cells
    are unsortable/unhashable in pandas-based result canonicalizers."""
    docs = load_table(spark, sf_dir, "documents")
    q = F.percentile_approx(F.length("text"), [0.25, 0.5, 0.9], 10000)
    return docs.groupBy("lang").agg(
        q[0].cast("long").alias("p25"),
        q[1].cast("long").alias("p50"),
        q[2].cast("long").alias("p90"),
        F.count("*").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# q65: scale-path hash split (oracle-checked; q16's no-sort sibling)
# ---------------------------------------------------------------------------

_Q65_SQL = """
    SELECT doc_id,
           CASE WHEN b < 0.9 THEN 'train'
                WHEN b < 0.95 THEN 'validation'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(
                 MD5('42:' || COALESCE(text, '')), 1, 8)) AS BIGINT)
               / 4294967296.0 AS b
      FROM documents
    )
"""


@register("q65_hash_split", _Q65_SQL)
def q65_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-sort, no-shuffle content-hash split (`operators/split.py:
    hash_split`) — approximate ratios by the law of large numbers, zero
    exchanges, the default at 100 TB where q16's exact ranks are
    overkill. Same md5 hash family as seeded_split, so the assignment
    is reproducible and partition-independent — which is exactly why a
    SQL oracle can recompute it."""
    from nahuatl_data_pipeline_spark.operators.split import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return hash_split(docs, key="text", seed=42).select("doc_id", "split")


# ---------------------------------------------------------------------------
# q66: incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------

def _q66_oracle(num_perms: int = 4) -> str:
    """q66 oracle with the SAME affine MinHash constants as the operator
    (functions/hashing.py:minhash_constants) — per-perm min over the doc's
    shingle hashes is the bucket key; candidates verified by exact Jaccard."""
    from nahuatl_data_pipeline_spark.functions.hashing import minhash_constants

    def arms(src: str, cols: str) -> str:
        return "\n      UNION ALL ".join(
            f"SELECT {cols}, {i} AS p,\n"
            f"        LIST_MIN(LIST_TRANSFORM(hvl, h -> ({a} * h + {b})"
            f" % 2147483647)) AS bk FROM {src}"
            for i, (a, b) in enumerate(minhash_constants(num_perms))
        )

    return f"""
    WITH seen AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 250
    ),
    new_batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 250
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, text FROM seen WHERE doc_id < 20
      UNION ALL
      SELECT doc_id + 4000000 AS doc_id, text || ' tail token alpha beta'
      FROM seen WHERE doc_id < 30
    ),
    surv1 AS (
      SELECT n.doc_id, n.text FROM new_batch n
      WHERE COALESCE(LOWER(TRIM(n.text)), '') NOT IN (
        SELECT COALESCE(LOWER(TRIM(text)), '') FROM seen)
    ),
    shn AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                           i -> ARRAY_TO_STRING(tk[i:i+2], ' '))) AS shingles
      FROM (
        SELECT doc_id,
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
                           t -> t <> '') AS tk
        FROM surv1
      ) WHERE LEN(tk) >= 3
    ),
    shs AS (
      SELECT doc_id AS sid,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                           i -> ARRAY_TO_STRING(tk[i:i+2], ' '))) AS sh_seen
      FROM (
        SELECT doc_id,
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
                           t -> t <> '') AS tk
        FROM seen
      ) WHERE LEN(tk) >= 3
    ),
    hn AS (
      SELECT doc_id, shingles,
             LIST_TRANSFORM(shingles,
               s -> CAST(('0x' || SUBSTRING(MD5(s), 1, 15)) AS BIGINT)
                    % 2147483647) AS hvl
      FROM shn
    ),
    hs AS (
      SELECT sid, sh_seen,
             LIST_TRANSFORM(sh_seen,
               s -> CAST(('0x' || SUBSTRING(MD5(s), 1, 15)) AS BIGINT)
                    % 2147483647) AS hvl
      FROM shs
    ),
    knb AS (
      {arms("hn", "doc_id")}
    ),
    ksb AS (
      {arms("hs", "sid")}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id, b.sid
      FROM knb a JOIN ksb b USING (p, bk)
    ),
    near AS (
      SELECT DISTINCT c.doc_id
      FROM cand c
      JOIN hn ON hn.doc_id = c.doc_id
      JOIN hs ON hs.sid = c.sid
      WHERE CAST(LEN(LIST_INTERSECT(hn.shingles, hs.sh_seen)) AS DOUBLE)
            / LEN(LIST_DISTINCT(LIST_CONCAT(hn.shingles, hs.sh_seen))) >= 0.5
    )
    SELECT doc_id FROM surv1
    WHERE doc_id NOT IN (SELECT doc_id FROM near)
"""


@register("q66_incremental_dedup", _q66_oracle())
def q66_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new batch (docs >= 250 plus planted
    exact and near copies of snapshot docs) is screened against the
    existing snapshot (docs < 250) — exact normalized-key anti-join plus
    4-perm MinHash-bucket candidates verified at Jaccard >= 0.5 — and
    only genuinely novel docs survive. The snapshot is never rewritten;
    its keys/shingles/buckets are the reusable SnapshotIndex
    (`operators/incremental_dedup.py`). Its buckets are the banded
    pipeline's one-hash bands, and a one-hash band is keyed by that
    permutation's minimum alone, so the (band_id, band_key) join pairs
    exactly the docs the oracle's (p, bk) join pairs."""
    from nahuatl_data_pipeline_spark.operators.incremental_dedup import (
        dedup_against_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seen = docs.filter(F.col("doc_id") < 250)
    exact_dups = seen.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    near_dups = seen.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail token alpha beta")).alias("text"),
    )
    new = (
        docs.filter(F.col("doc_id") >= 250)
        .unionByName(exact_dups)
        .unionByName(near_dups)
    )
    out = dedup_against_snapshot(
        new, seen, jaccard_threshold=0.5, shingle_n=3
    )
    return out.select("doc_id")


# ---------------------------------------------------------------------------
# q67: cross-document sequence packing (concat-and-chop)
# ---------------------------------------------------------------------------

_Q67_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                  ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) END
               AS n_tokens,
             MD5('42:' || COALESCE(CAST(doc_id AS VARCHAR), '')) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_offset
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // 2048 AS BIGINT) AS seq_id,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE ((start_offset + n_tokens - 1) // 2048)
                     - (start_offset // 2048) + 1
                END AS BIGINT) AS n_seqs
    FROM c
"""


@register("q67_sequence_packing", _Q67_SQL)
def q67_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pretraining sequence packing: deterministic hash shuffle →
    concatenate all token streams → chop at 2048-token boundaries. Each
    doc gets its exact global token offset (computed distributed via the
    monotone hash-prefix prefix-sum in `operators/packing.py`, no
    single-partition exchange) and the training sequences it spans. The
    oracle replays the identical md5 order + window sum in SQL."""
    from nahuatl_data_pipeline_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, key="doc_id", seq_len=2048).select(
        "doc_id", "n_tokens", "start_offset", "seq_id", "n_seqs"
    )


# ---------------------------------------------------------------------------
# q68: corpus-wide line/sentence dedup (C4 / RefinedWeb boilerplate removal)
# ---------------------------------------------------------------------------

_Q68_SQL = r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 7000000 AS doc_id,
             text || ' Subscribe to our newsletter today.'
                  || ' All rights reserved by the site owner.' AS text
      FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 8000000 AS doc_id, text || ' ' || text AS text
      FROM documents WHERE doc_id < 50
    ),
    sents AS (
      SELECT doc_id,
             LIST_FILTER(LIST_TRANSFORM(
               REGEXP_EXTRACT_ALL(text, '[^.!?]+[.!?]*'), s -> TRIM(s)),
               s -> s <> '') AS sl
      FROM corpus
    ),
    s AS (
      SELECT doc_id,
             GENERATE_SUBSCRIPTS(sl, 1) - 1 AS sent_id,
             UNNEST(sl) AS sentence
      FROM sents
    ),
    d AS (
      SELECT doc_id, sent_id, sentence,
             ROW_NUMBER() OVER (PARTITION BY LOWER(sentence)
                                ORDER BY doc_id, sent_id) AS rn
      FROM s
    ),
    g AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN sentence END, ' '
                                 ORDER BY sent_id), '') AS text_clean
      FROM d GROUP BY doc_id
    )
    SELECT corpus.doc_id,
           COALESCE(g.text_clean, '') AS text_clean,
           COALESCE(g.n_kept, 0) AS n_kept,
           COALESCE(g.n_total, 0) AS n_total
    FROM corpus LEFT JOIN g USING (doc_id)
"""


@register("q68_line_dedup", _Q68_SQL)
def q68_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style line dedup: every occurrence after the first
    of a repeated sentence is dropped corpus-wide, documents reassembled
    in original order (`operators/line_dedup.py`). Planted artifacts:
    100 docs get two shared boilerplate sentences (cross-doc dups — only
    the smallest doc_id keeps them) and 50 docs have their whole text
    doubled (in-doc dups). Dedup state is sharded by sentence key —
    one shuffle, no driver set."""
    from nahuatl_data_pipeline_spark.operators.line_dedup import dedup_lines

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(
                " Subscribe to our newsletter today."
                " All rights reserved by the site owner."
            ),
        ).alias("text"),
    )
    doubled = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 8000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(boiler).unionByName(doubled)
    return dedup_lines(corpus, "doc_id", "text")


# ---------------------------------------------------------------------------
# q69: skew-mitigated aggregation (salted two-stage agg, oracle-checked)
# ---------------------------------------------------------------------------

_Q69_SQL = """
    SELECT event_type,
           ROUND(SUM(value), 4) AS sum_value,
           COUNT(event_id) AS n_events,
           MAX(ts) AS max_ts
    FROM events
    GROUP BY event_type
"""


@register("q69_salted_event_rollup", _Q69_SQL)
def q69_salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key rollup routed through ``operators/skew.py:salted_agg``:
    events has only 5 event_type values, so a plain shuffled aggregate
    funnels 100 TB into 5 reducers. The salted plan aggregates on
    (event_type, salt) first — each hot key spreads over num_salts
    reducers — then combines decomposable partials (sum/count/max are
    exactly re-combinable, so the result is bit-identical to the
    single-stage plan and hash-matches the DuckDB oracle). Reference
    anchor: hot-key source stats, benchmark/generate_stats.py:128-147.
    Plan shape (two HashAggregate stages over __salt) is asserted in
    tests/test_skew.py."""
    from nahuatl_data_pipeline_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id", "ts"
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {"value": "sum", "event_id": "count", "ts": "max"},
        num_salts=8,
    )
    return out.select(
        "event_type",
        F.round("sum_value", 4).alias("sum_value"),
        F.col("count_event_id").alias("n_events"),
        F.col("max_ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# q70: long-diameter components via large-star/small-star (oracle-checked)
# ---------------------------------------------------------------------------

_Q70_SQL = """
    WITH RECURSIVE e0 AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 100 <> 99
    ),
    edges AS (
      SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0
    ),
    reach AS (
      SELECT s AS id, s AS r FROM edges
      UNION
      SELECT e.d AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.s
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY id
"""


@register("q70_chain_components_star", _Q70_SQL)
def q70_chain_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on a LONG-DIAMETER graph via the SOCC'14
    large-star/small-star contraction (`operators/components.py:
    connected_components_star`). The planted graph chains consecutive
    doc_ids within 100-id blocks — diameter ~99, the regime where plain
    O(diameter) min-label propagation (q58's near-clique default) would
    need ~99 rounds and this formulation needs O(log n). The oracle
    computes the identical closure with a recursive CTE."""
    from nahuatl_data_pipeline_spark.operators.components import (
        connected_components_star,
    )

    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    nxt = ids.select((F.col("doc_id")).alias("id_b"))
    edges = (
        ids.filter(F.col("doc_id") % 100 != 99)
        .select(F.col("doc_id").alias("id_a"))
        .join(nxt, F.col("id_b") == F.col("id_a") + 1)
    )
    comp = connected_components_star(edges, "id_a", "id_b")
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").cast("long").alias("component")
    )
