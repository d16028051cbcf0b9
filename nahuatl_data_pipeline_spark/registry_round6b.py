"""Round-6 additions, second block (q104+): robust statistics, weighted
sampling, containment dedup, and corpus-novelty analytics.

Each query pairs a library operator (operators/mixing.py,
operators/anomaly.py, operators/fuzzy_dedup.py, operators/tfidf.py)
with an exact DuckDB oracle under the driver's rows+schema+hash
protocol. Engine-portability recipes are the repo's established ones:
md5-derived uniforms for sampling, rounded stats before threshold
comparisons, and candidate-scheme-replicating oracles for bucketed
pair generation (the q38 pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.registry import (
    banded_candidates_ctes,
    register,
)
from nahuatl_data_pipeline_spark.schemas import load_table
from nahuatl_data_pipeline_spark.session import pin

# ---------------------------------------------------------------------------
# q104: deterministic weighted top-k sample (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

# ln((h+1)/16^8)/w — the monotone log form of u^(1/w); +1 keeps ln off
# zero. Identical IEEE ops in both engines (see mixing.weighted_topk_sample).
_Q104_SQL = """
    WITH keyed AS (
      SELECT doc_id, source,
             CAST(GREATEST(LENGTH(text), 1) AS BIGINT) AS weight,
             LN((CAST(('0x' || SUBSTRING(MD5('7:' || CAST(doc_id AS VARCHAR)),
                                         1, 8)) AS BIGINT) + 1.0)
                / 4294967296.0)
               / GREATEST(LENGTH(text), 1) AS k
      FROM documents
    )
    SELECT doc_id, source, weight,
           CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS BIGINT)
             AS sample_rank
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 100
"""


@register("q104_weighted_doc_sample", _Q104_SQL)
def q104_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample of 100 documents — the
    reproducible "sample proportional to size" primitive for corpus
    eyeballing and eval-set drawing. A-ES order statistic on a content-
    hash uniform: no ``rand()``, so the drawn set survives re-runs and
    repartitioning, and the oracle recomputes it exactly. Top-k plans
    as TakeOrderedAndProject (per-task heaps), never a global sort."""
    from nahuatl_data_pipeline_spark.operators.mixing import (
        weighted_topk_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_topk_sample(
        docs,
        key="doc_id",
        weight=F.greatest(F.length("text"), F.lit(1)),
        k=100,
        seed=7,
    )
    return out.select(
        "doc_id",
        "source",
        F.greatest(F.length("text"), F.lit(1)).cast("long").alias("weight"),
        "sample_rank",
    )


# ---------------------------------------------------------------------------
# q105: robust (MAD) price outliers per order priority
# ---------------------------------------------------------------------------

_Q105_SQL = """
    WITH med AS (
      SELECT o_orderpriority,
             ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice),
                   4) AS group_median
      FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT o.o_orderpriority, m.group_median,
             ABS(o.o_totalprice - m.group_median) AS absdev
      FROM orders o JOIN med m
        ON o.o_orderpriority IS NOT DISTINCT FROM m.o_orderpriority
    ),
    mad AS (
      SELECT o_orderpriority,
             ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY absdev), 4)
               AS group_mad
      FROM dev GROUP BY o_orderpriority
    )
    SELECT d.o_orderpriority,
           MIN(d.group_median) AS group_median,
           MIN(a.group_mad) AS group_mad,
           CAST(SUM(CASE WHEN d.absdev > 3.0 * 1.4826 * a.group_mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM dev d JOIN mad a
      ON d.o_orderpriority IS NOT DISTINCT FROM a.o_orderpriority
    GROUP BY d.o_orderpriority
"""


@register("q105_price_mad_outliers", _Q105_SQL)
def q105_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier profile of order prices per priority class —
    the heavy-tail-safe counterpart of q84's z-score detector (a few
    extreme prices cannot mask themselves by inflating the stddev).
    Exact two-pass MAD with rounded-stat thresholds; the one-pass
    100 TB variant swaps both medians for q64's approx_percentile
    sketch."""
    from nahuatl_data_pipeline_spark.operators.anomaly import mad_outliers

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return mad_outliers(
        orders, keys=["o_orderpriority"], value_col="o_totalprice"
    )


# ---------------------------------------------------------------------------
# q106: prefix-containment near-dup pairs (the signal Jaccard misses)
# ---------------------------------------------------------------------------

# Planted containment: the first 10 tokens of each doc_id<100 document
# re-enter as a standalone short doc (id+2000000) — truncated-re-crawl
# shape: containment exactly 1.0, Jaccard far below any threshold.
_Q106_SQL = r"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             ARRAY_TO_STRING(
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                           t -> t <> '')[1:10], ' ') AS text
      FROM documents WHERE doc_id < 100
    ),
    toks AS (
      SELECT doc_id,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM base
    ),
    sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                           i -> ARRAY_TO_STRING(tk[i:i+2], ' '))) AS shingles,
             tk[1:8] AS ptk
      FROM toks WHERE LEN(tk) >= 3
    ),
    keyed AS (
      SELECT doc_id, shingles,
             LIST_MIN(LIST_TRANSFORM(RANGE(1, LEN(ptk) - 1),
               i -> CAST(('0x' || SUBSTRING(MD5(ARRAY_TO_STRING(ptk[i:i+2],
                                                                ' ')),
                                            1, 15)) AS BIGINT)
                    % 2147483647)) AS k
      FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
                 / LEAST(LEN(a.shingles), LEN(b.shingles)), 6) AS containment
    FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id
    WHERE CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
          / LEAST(LEN(a.shingles), LEN(b.shingles)) >= 0.8
"""


@register("q106_containment_pairs", _Q106_SQL)
def q106_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup over shingle sets, candidates bucketed on the
    min-hashed prefix shingle (oracle replicates the scheme, q38-style).
    Catches short-doc-inside-long-doc duplication that q38's Jaccard
    threshold structurally cannot."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        prefix_containment_pairs,
    )

    from nahuatl_data_pipeline_spark.functions.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.lower(F.col("text")))
    planted = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 10), " ").alias("text"),
    )
    return prefix_containment_pairs(
        docs.unionByName(planted),
        "doc_id",
        "text",
        shingle_n=3,
        prefix_tokens=8,
        containment_threshold=0.8,
    )


# ---------------------------------------------------------------------------
# q107: vocabulary growth curve (Heaps' law)
# ---------------------------------------------------------------------------

_Q107_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
               t -> t <> '')) AS term
      FROM documents
    ),
    first AS (SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY term),
    b AS (
      SELECT CAST(FLOOR(first_doc / 50) AS BIGINT) AS bucket,
             COUNT(*) AS new_types
      FROM first GROUP BY 1
    )
    SELECT bucket,
           CAST((bucket + 1) * 50 AS BIGINT) AS docs_seen,
           CAST(new_types AS BIGINT) AS new_types,
           CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types
    FROM b
"""


@register("q107_vocab_growth", _Q107_SQL)
def q107_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth at 50-document checkpoints: each
    type counts once at its FIRST document, so cumulative distinct
    needs one term-keyed aggregate + a cumulative sum over the tiny
    bucket table — never a running count-distinct window."""
    from nahuatl_data_pipeline_spark.operators.tfidf import vocab_growth

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_growth(docs, "doc_id", "text", bucket_docs=50)


# ---------------------------------------------------------------------------
# q108: sparse tf-idf cosine pairs via inverted index (df-capped)
# ---------------------------------------------------------------------------

_Q108_TAIL = " tail token alpha beta"
_Q108_BUCKET_CAP = 150

# Planted near-dups (q38's pattern): doc_id<100 re-enter with a 4-token
# tail at id+1000000. Term space is DISTINCT 3-gram shingles (tf≡1) —
# the raw corpus has only 31 unigram types with df ≈ 80% of docs, so
# unigram tf-idf degenerates (every term a stop-term at any sane cap),
# while its ~30k shingle types have low df. The cap is RELATIVE
# (max_df 5% of docs), so it tracks corpus growth; each planted pair
# shares all its original shingles and scores ≈1.0.
#
# Round 8: the query runs candidates='banded' (3×2 minhash bands, the
# q38 scheme over the SAME shingle space) — the oracle prepends the
# shared banding CTE chain and joins its ``cand`` into the tf-idf
# scoring, mirroring the pruning exactly. Weights/df/norms stay
# corpus-global, so every surviving pair's cosine is identical to the
# exact all-pairs value (tested in tests/test_tfidf.py). The hot-bucket
# cap (150, q25's probe value) is mirrored too: on a dense clone corpus
# an uncapped band bucket of B docs emits B² candidates in one task —
# the 100× clone sweep filled the shuffle disk before the cap
# (SCALE.md round 8); at sane duplication levels buckets never reach
# 150 and the cap is a no-op (sf0.01/sf0.1 outputs unchanged).
_Q108_SQL = rf"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || '{_Q108_TAIL}' AS text
      FROM documents WHERE doc_id < 100
    ),
    {banded_candidates_ctes(num_hashes=6, band_size=2, max_bucket_size=_Q108_BUCKET_CAP)},
    tf AS (
      SELECT doc_id, UNNEST(shingles) AS term, 1 AS tf FROM sh
    ),
    capped AS (
      SELECT * FROM (
        SELECT doc_id, term, tf,
               COUNT(*) OVER (PARTITION BY term) AS df
        FROM tf
      ) WHERE df <= CEIL(0.05 * (SELECT COUNT(*) FROM base))
    ),
    weighted AS (
      SELECT doc_id, term,
             tf * LN((1 + (SELECT COUNT(*) FROM base)) / (1.0 + df))
               AS w
      FROM capped
    ),
    normed AS (
      SELECT doc_id, term,
             w / SQRT(SUM(w * w) OVER (PARTITION BY doc_id)) AS wn
      FROM weighted
    )
    SELECT c.id_a, c.id_b,
           ROUND(SUM(a.wn * b.wn), 6) AS cosine
    FROM cand c
    JOIN normed a ON a.doc_id = c.id_a
    JOIN normed b ON b.doc_id = c.id_b AND b.term = a.term
    GROUP BY c.id_a, c.id_b
    HAVING ROUND(SUM(a.wn * b.wn), 6) >= 0.5
"""


@register("q108_tfidf_cosine_pairs", _Q108_SQL)
def q108_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dup pairs by sparse tf-idf cosine over an inverted
    index, stop-terms shed by the df cap (the Σ df² → linear scale
    lever; operators/tfidf.py:tfidf_cosine_pairs). The model-free
    counterpart of q39's embedding cosine and the weighted complement
    of q38's set Jaccard: same 3-gram shingle space, but a shared RARE
    shingle moves the score more than a shared common one. Since round 8
    the query default is candidates='banded' — minhash-band candidate
    pruning before exact tf-idf scoring (414 s → linear-cost at the
    100×-unique decade; the oracle replicates the banding, and exact
    all-pairs mode remains available as candidates='all')."""
    from nahuatl_data_pipeline_spark.operators.tfidf import (
        tfidf_cosine_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_Q108_TAIL)).alias("text"),
    )
    return tfidf_cosine_pairs(
        docs.unionByName(planted),
        "doc_id",
        "text",
        shingle_n=3,
        max_df_frac=0.05,
        threshold=0.5,
        candidates="banded",
        num_hashes=6,
        band_size=2,
        max_bucket_size=_Q108_BUCKET_CAP,
    )


# ---------------------------------------------------------------------------
# q109: self-trained bigram LM quality score (perplexity filter)
# ---------------------------------------------------------------------------

_Q109_SQL = r"""
    WITH tk AS (
      SELECT doc_id,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    occ AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)),
                                   i -> {'w1': tk[i], 'w2': tk[i + 1]}),
                    recursive := true)
      FROM tk WHERE LEN(tk) >= 2
    ),
    counted AS (
      SELECT doc_id,
             COUNT(*) OVER (PARTITION BY w1, w2) AS c12,
             COUNT(*) OVER (PARTITION BY w1) AS c1
      FROM occ
    ),
    v AS (
      SELECT COUNT(DISTINCT term) AS v FROM (
        SELECT UNNEST(tk) AS term FROM tk
      )
    )
    SELECT doc_id,
           ROUND(AVG(LN((c12 + 0.1) / (c1 + 0.1 * (SELECT v FROM v)))), 4)
             AS avg_logprob,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams
    FROM counted
    GROUP BY doc_id
"""


@register("q109_bigram_lm_score", _Q109_SQL)
def q109_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-style perplexity filter, self-trained: mean bigram
    log-probability per document under the corpus's own add-alpha
    bigram model (operators/ngram_lm.py — counts as windows over one
    exploded occurrence stream, no join-back, no model file)."""
    from nahuatl_data_pipeline_spark.operators.ngram_lm import bigram_logprob

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs, "doc_id", "text", alpha=0.1)


# ---------------------------------------------------------------------------
# q110: winsorized per-group price aggregates
# ---------------------------------------------------------------------------

_Q110_SQL = """
    WITH b AS (
      SELECT o_orderpriority,
             ROUND(PERCENTILE_CONT(0.05) WITHIN GROUP (ORDER BY o_totalprice),
                   4) AS lo,
             ROUND(PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY o_totalprice),
                   4) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           MIN(b.lo) AS lo,
           MIN(b.hi) AS hi,
           ROUND(AVG(CASE WHEN o.o_totalprice IS NULL THEN NULL
                          ELSE LEAST(GREATEST(o.o_totalprice, b.lo), b.hi)
                     END), 2) AS winsorized_mean,
           ROUND(SUM(CASE WHEN o.o_totalprice IS NULL THEN NULL
                          ELSE LEAST(GREATEST(o.o_totalprice, b.lo), b.hi)
                     END), 2) AS winsorized_sum,
           CAST(SUM(CASE WHEN o.o_totalprice < b.lo OR o.o_totalprice > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders o JOIN b
      ON o.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
    GROUP BY o.o_orderpriority
"""


@register("q110_winsorized_prices", _Q110_SQL)
def q110_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price aggregates per priority: tails clamped to the
    group's exact [p05, p95] before averaging (operators/anomaly.py:
    winsorized_stats — the robust-mean sibling of q105's MAD detector:
    q105 FLAGS the tail, this BOUNDS its influence)."""
    from nahuatl_data_pipeline_spark.operators.anomaly import (
        winsorized_stats,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return winsorized_stats(
        orders, keys=["o_orderpriority"], value_col="o_totalprice"
    )


# ---------------------------------------------------------------------------
# q111: count-min sketch heavy hitters (portable, bit-exact oracle)
# ---------------------------------------------------------------------------

_Q111_W = 2048
_Q111_D = 3


def _bucket_sql(row: str, key: str, width: int) -> str:
    """DuckDB mirror of sketches.py:_bucket — md5("{row}:" || key) first
    15 hex chars as int64, mod P, mod width. ``row``/``key`` are SQL
    EXPRESSIONS (literal or column); both are cast to VARCHAR so the
    concatenation matches Spark's string concat byte-for-byte. ONE
    template shared by every sketch oracle (q111 CMS, q121 Bloom) so
    the SQL addressing cannot drift from the Spark addressing."""
    return (
        f"CAST(('0x' || SUBSTRING(MD5(CAST({row} AS VARCHAR) || ':' ||"
        f" CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT)"
        f" % 2147483647 % {width}"
    )

_Q111_SQL = rf"""
    WITH sh AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                    i -> ARRAY_TO_STRING(tk[i:i+2], ' ')))) AS term
      FROM (
        SELECT doc_id,
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                           t -> t <> '') AS tk
        FROM documents
      ) WHERE LEN(tk) >= 3
    ),
    counts AS (SELECT term, COUNT(*) AS cnt FROM sh GROUP BY term),
    rows AS (SELECT UNNEST([0, 1, 2]) AS row),
    cells AS (
      SELECT row, {_bucket_sql("row", "term", _Q111_W)} AS bucket,
             SUM(cnt) AS cnt
      FROM counts, rows GROUP BY 1, 2
    ),
    top AS (
      SELECT term, cnt AS true_count FROM counts
      ORDER BY cnt DESC, term LIMIT 20
    ),
    probes AS (
      SELECT t.term, t.true_count, r.row,
             {_bucket_sql("r.row", "t.term", _Q111_W)} AS bucket
      FROM top t, rows r
    )
    SELECT p.term,
           CAST(p.true_count AS BIGINT) AS true_count,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_estimate,
           CAST(MIN(COALESCE(c.cnt, 0)) - p.true_count AS BIGINT)
             AS overcount
    FROM probes p LEFT JOIN cells c USING (row, bucket)
    GROUP BY p.term, p.true_count
"""


@register("q111_cms_heavy_hitters", _Q111_SQL)
def q111_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over the corpus's 3-gram shingles, with
    the estimate's one-sided error EXHIBITED: the top-20 true-frequency
    shingles with true count, CMS estimate, and overcount (≥ 0 always —
    CMS never undercounts). The sketch is the portable md5 family
    (operators/sketches.py), so the oracle recomputes every cell
    bit-for-bit — unlike the built-in HLL/KLL paths (q63/q64), which
    are bounded-error-only. This query computes the exact table too (it
    IS the verification); production keeps only the depth×width sketch
    and a candidate heap."""
    from nahuatl_data_pipeline_spark.functions.hashing import word_shingles
    from nahuatl_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = docs.select(
        F.explode(word_shingles("text", n=3)).alias("term")
    )
    # one shingle pass: exact counts first (checkpointed), sketch built
    # FROM the counts — cell-wise identical to the streaming build
    counts = pin(
        stream.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")),
        eager=True, truncate=True,
    )
    sketch = cms_build(
        counts, "term", width=_Q111_W, depth=_Q111_D, count_col="cnt"
    )
    top = (
        counts.orderBy(F.desc("cnt"), F.asc("term"))
        .limit(20)
        .select("term", F.col("cnt").alias("true_count"))
    )
    est = cms_estimate(sketch, top, "term", width=_Q111_W, depth=_Q111_D)
    return top.join(est, "term").select(
        "term",
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# q112: final EWMA per event type (applyInPandas sequential fold)
# ---------------------------------------------------------------------------

# Both engines fold in (ts, event_id) order with literal 0.2/0.8
# coefficients: identical IEEE op sequence → identical double, before
# a HALF_UP round on each side.
_Q112_SQL = """
    SELECT event_type,
           ROUND(LIST_REDUCE(LIST(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                             (s, x) -> 0.2 * x + 0.8 * s), 6) AS ewma,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
"""


@register("q112_event_value_ewma", _Q112_SQL)
def q112_event_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final exponentially-weighted value level per event type — the
    recurrence (s ← αx + (1-α)s) no built-in aggregate expresses,
    implemented as the tier-(b) custom-operator shape: per-group
    sequential fold via Arrow applyInPandas
    (operators/timeseries.py:ewma_last). The oracle folds the SAME
    canonical order with DuckDB's LIST_REDUCE — exact, not
    bounded-error."""
    from nahuatl_data_pipeline_spark.operators.timeseries import ewma_last

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    return ewma_last(
        ev,
        keys=["event_type"],
        ts_col="ts",
        value_col="value",
        order_tiebreak="event_id",
        alpha=0.2,
    )


# ---------------------------------------------------------------------------
# q113: two-sample Kolmogorov–Smirnov drift between order cohorts
# ---------------------------------------------------------------------------

_Q113_SQL = """
    WITH counted AS (
      SELECT o_totalprice AS v,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS ca,
             SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS cb
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        AND o_totalprice IS NOT NULL
      GROUP BY o_totalprice
    ),
    cdf AS (
      SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
               / SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS fa,
             SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
               / SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS fb,
             SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS na,
             SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS nb
      FROM counted
    )
    SELECT ROUND(MAX(ABS(ROUND(fa, 6) - ROUND(fb, 6))), 6) AS ks_stat,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b
    FROM cdf
"""


@register("q113_price_ks_drift", _Q113_SQL)
def q113_price_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the urgent and low-priority
    price distributions (operators/drift.py:ks_two_sample) — the
    numeric-distribution drift test beside q83's categorical KL. Exact
    path pins semantics (distinct-value CDF window); the 100 TB path is
    the same statistic over q79's sketch bins."""
    from nahuatl_data_pipeline_spark.operators.drift import ks_two_sample

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return ks_two_sample(
        orders, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW"
    )


# ---------------------------------------------------------------------------
# q114: token↔source mutual information (leakage / discriminativeness)
# ---------------------------------------------------------------------------

_Q114_SQL = r"""
    WITH toks AS (
      SELECT source,
             UNNEST(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
               t -> t <> '')) AS term
      FROM documents
    ),
    cells AS (SELECT term, source, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    m AS (
      SELECT term, source, cnt,
             SUM(cnt) OVER (PARTITION BY term) AS ct,
             SUM(cnt) OVER (PARTITION BY source) AS cs,
             SUM(cnt) OVER () AS n
      FROM cells
    )
    SELECT term,
           ROUND(SUM((CAST(cnt AS DOUBLE) / n)
                     * LN(CAST(cnt AS DOUBLE) * n
                          / (CAST(ct AS DOUBLE) * cs))), 6) AS mi,
           CAST(SUM(cnt) AS BIGINT) AS n_obs
    FROM m
    GROUP BY term
    ORDER BY mi DESC, term
    LIMIT 15
"""


@register("q114_token_source_mi", _Q114_SQL)
def q114_token_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top source-discriminative tokens by mutual information
    (operators/contingency.py:mutual_information) — the
    feature-selection complement of q94's chi²: ranks WHICH vocabulary
    levels carry the token↔source dependence. In a training pipeline
    this is the split-leakage tripwire: a token with high MI against
    the split/source column is a memorizable marker."""
    from nahuatl_data_pipeline_spark.operators.contingency import (
        mutual_information,
    )
    from nahuatl_data_pipeline_spark.operators.tfidf import tokenize

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = tokenize(docs, "source", "text")
    return mutual_information(toks, "term", "source", top_k=15)


# ---------------------------------------------------------------------------
# q115: per-label embedding centroids (array-column aggregation)
# ---------------------------------------------------------------------------

_Q115_SQL = """
    SELECT label,
           CAST(e.pos AS INT) AS pos,
           ROUND(AVG(CAST(e.v AS DOUBLE)), 5) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM (
      SELECT label,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(embedding) + 1),
                                   i -> {'pos': i - 1, 'v': embedding[i]}),
                    recursive := true)
      FROM embeddings
    ) e
    GROUP BY label, e.pos
"""


@register("q115_embedding_centroids", _Q115_SQL)
def q115_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise per-label centroid of the 64-d embedding column
    (operators/similarity.py:embedding_centroids): posexplode + one
    map-side-combined (label, pos) aggregate — the long-format shape
    that scales where an array-typed mean cannot partially aggregate."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    return embedding_centroids(emb, "label")


# ---------------------------------------------------------------------------
# q116: corpus snapshot diff (dataset-versioning audit)
# ---------------------------------------------------------------------------

# The "new" snapshot is derived deterministically from the old one:
# doc_id < 50 edited (text || ' v2'), doc_id >= 450 dropped, 25 fresh
# docs appended at id+3000000 — all four statuses exercised.
_Q116_SQL = """
    WITH old AS (SELECT doc_id, text FROM documents),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id < 50 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id < 450
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text || ' fresh' AS text
      FROM documents WHERE doc_id < 25
    ),
    diff AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN MD5(o.text) IS NOT DISTINCT FROM MD5(n.text)
                    THEN 'unchanged'
                  ELSE 'modified' END AS status
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM diff GROUP BY status
"""


@register("q116_corpus_snapshot_diff", _Q116_SQL)
def q116_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning audit (operators/merge.py:snapshot_diff):
    added/removed/modified/unchanged per doc between two corpus
    snapshots — only keys + content hashes cross the single full-outer
    join, never the text payload."""
    from nahuatl_data_pipeline_spark.operators.merge import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") < 450)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") < 50, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 25).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" fresh")).alias("text"),
            )
        )
    )
    diff = snapshot_diff(docs, new, keys=["doc_id"], content_cols=["text"])
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# q117: corpus mix concentration (HHI / entropy)
# ---------------------------------------------------------------------------

_Q117_SQL = """
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    shares AS (
      SELECT CAST(n AS DOUBLE) / SUM(n) OVER () AS p FROM counts
    )
    SELECT ROUND(SUM(p * p), 6) AS hhi,
           ROUND(-SUM(p * LN(p)), 6) AS entropy,
           CAST(COUNT(*) AS BIGINT) AS n_strata
    FROM shares
"""


@register("q117_source_concentration", _Q117_SQL)
def q117_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl index + Shannon entropy of the source mix
    (operators/mixing.py:mix_concentration) — the one-row "is a single
    source swamping the training mix?" dashboard that motivates
    cap_per_group/stratified_mix."""
    from nahuatl_data_pipeline_spark.operators.mixing import (
        mix_concentration,
    )

    docs = load_table(spark, sf_dir, "documents").select("source")
    return mix_concentration(docs, "source")


# ---------------------------------------------------------------------------
# q118: PMI collocations over document co-occurrence
# ---------------------------------------------------------------------------

_Q118_SQL = r"""
    WITH dt AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id,
               UNNEST(LIST_FILTER(
                 REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                 t -> t <> '')) AS term
        FROM documents
      )
    ),
    tc AS (SELECT term, COUNT(*) AS n_t FROM dt GROUP BY term),
    vocab AS (
      -- n_t >= 25 pre-cut mirrors the operator (output-identical: a
      -- term in < min_pair_docs docs can never form a qualifying pair,
      -- and it ranks below every productive term under n_t DESC)
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY n_t DESC, term ASC) AS rn
        FROM tc WHERE n_t >= 25
      ) WHERE rn <= 1000
    ),
    dtc AS (SELECT dt.* FROM dt JOIN vocab USING (term)),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
      FROM dtc a JOIN dtc b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
      HAVING COUNT(*) >= 25
    ),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT p.term_a, p.term_b, CAST(p.n_ab AS BIGINT) AS n_ab,
           ROUND(LN(CAST(p.n_ab AS DOUBLE) * (SELECT n FROM n)
                    / (CAST(ta.n_t AS DOUBLE) * tb.n_t)), 6) AS pmi
    FROM pairs p
    JOIN tc ta ON p.term_a = ta.term
    JOIN tc tb ON p.term_b = tb.term
    ORDER BY pmi DESC, p.term_a, p.term_b
    LIMIT 15
"""


@register("q118_token_collocations", _Q118_SQL)
def q118_token_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top token-pair collocations by document-co-occurrence PMI
    (operators/tfidf.py:pmi_cooccurrence) — unordered complement of
    q95's transitions and q109's adjacency bigrams; support-floored.
    Round 9: ``max_vocab=1000`` is the registered default — the
    operator-side fan-out cap (top-df vocabulary before the self-join),
    mirrored in the oracle's ``vocab``/``dtc`` CTEs; marginals stay
    pre-cut so surviving PMI values are bit-identical to uncapped."""
    from nahuatl_data_pipeline_spark.operators.tfidf import pmi_cooccurrence

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_cooccurrence(
        docs, "doc_id", "text", min_pair_docs=25, top_k=15, max_vocab=1000
    )


# ---------------------------------------------------------------------------
# q119: deterministic random negatives (contrastive pair construction)
# ---------------------------------------------------------------------------

_Q119_SQL = """
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    q AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    draws AS (
      SELECT q.doc_id, r.neg_rank,
             CAST(('0x' || SUBSTRING(MD5('13:' || CAST(r.neg_rank AS VARCHAR)
                                     || ':' || CAST(q.doc_id AS VARCHAR)),
                                     1, 8)) AS BIGINT)
               % (SELECT n FROM n) AS h
      FROM q, (SELECT UNNEST([0, 1, 2]) AS neg_rank) r
    )
    SELECT doc_id, CAST(neg_rank AS INT) AS neg_rank,
           CAST(CASE WHEN h = doc_id THEN (h + 1) % (SELECT n FROM n)
                     ELSE h END AS BIGINT) AS neg_id
    FROM draws
"""


@register("q119_negative_samples", _Q119_SQL)
def q119_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 deterministic random negatives per anchor doc
    (operators/mixing.py:negative_samples): O(1) hash-mod draws over
    the contiguous id space — no join against the corpus, reproducible
    across runs/partitionings/engines. The bulk tier of the two-tier
    negative recipe; q120 mines the hard tier."""
    from nahuatl_data_pipeline_spark.operators.mixing import negative_samples

    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    anchors = docs.filter(F.col("doc_id") < 100)
    return negative_samples(anchors, n, "doc_id", k=3, seed=13)


# ---------------------------------------------------------------------------
# q120: hard-negative mining (most similar, different label)
# ---------------------------------------------------------------------------

_Q120_SQL = """
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings
               WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(
               CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])),
               4) AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE NOT (e.label IS NOT DISTINCT FROM q.label)
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
"""


@register("q120_hard_negatives", _Q120_SQL)
def q120_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:hard_negatives):
    per query embedding, the 5 most-cosine-similar vectors with a
    DIFFERENT label — the negatives that move a contrastive loss.
    Same broadcast-query / corpus-never-shuffles plan as q24, with the
    label-inequality predicate riding the join condition."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    from nahuatl_data_pipeline_spark.schemas import EMBEDDING_DIM

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        emb.filter(F.col("vec_id") < 10), emb, k=5, dim=EMBEDDING_DIM
    ).withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# q121: Bloom-filter semi-join reduction (no false negatives, measured FPR)
# ---------------------------------------------------------------------------

_Q121_W = 4096


_Q121_SQL = f"""
    WITH sel AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000),
    pos AS (
      SELECT DISTINCT r.row,
             {_bucket_sql("r.row", "o_orderkey", _Q121_W)} AS bucket
      FROM sel, (SELECT UNNEST([0, 1, 2]) AS row) r
    ),
    li AS (SELECT l_orderkey FROM lineitem),
    passed AS (
      SELECT l_orderkey FROM li
      WHERE {_bucket_sql("0", "l_orderkey", _Q121_W)} IN
              (SELECT bucket FROM pos WHERE row = 0)
        AND {_bucket_sql("1", "l_orderkey", _Q121_W)} IN
              (SELECT bucket FROM pos WHERE row = 1)
        AND {_bucket_sql("2", "l_orderkey", _Q121_W)} IN
              (SELECT bucket FROM pos WHERE row = 2)
    ),
    exact AS (
      SELECT l_orderkey FROM li
      WHERE l_orderkey IN (SELECT o_orderkey FROM sel)
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM passed) AS BIGINT) AS n_bloom,
           CAST((SELECT COUNT(*) FROM passed)
                - (SELECT COUNT(*) FROM exact) AS BIGINT) AS n_false_pos,
           ROUND(CAST((SELECT COUNT(*) FROM passed)
                      - (SELECT COUNT(*) FROM exact) AS DOUBLE)
                 / ((SELECT COUNT(*) FROM li)
                    - (SELECT COUNT(*) FROM exact)), 6) AS fp_rate
"""


@register("q121_bloom_semijoin", _Q121_SQL)
def q121_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction audit
    (operators/sketches.py:bloom_positions/bloom_prefilter): trim the
    lineitem fact table against a selective order-key set with depth
    map-side broadcast semi-joins — the fact side never shuffles — and
    EXHIBIT the contract: n_bloom ≥ n_exact always (no false
    negatives), with the false-positive rate measured against the
    non-matching population. Width deliberately small (4096) so the FP
    rate is non-trivially exercised; production sizes width to the key
    cardinality."""
    from nahuatl_data_pipeline_spark.operators.sketches import (
        bloom_positions,
        bloom_prefilter,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    # sel feeds BOTH the filter build and the exact-count audit leg —
    # checkpoint once (key-set-bounded, the exchange-reuse lesson). LAZY:
    # bloom_prefilter eagerly materializes the positions frame derived
    # from it, which materializes these blocks in the same job — an
    # eager checkpoint here would pay one extra scan job for nothing
    # (the r13 gated-stats-join lesson).
    sel = pin(
        orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey"),
        truncate=True,
    )
    pos = bloom_positions(sel, "o_orderkey", width=_Q121_W, depth=3)
    passed = bloom_prefilter(li, "l_orderkey", pos, width=_Q121_W, depth=3)
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_bloom"))
    # n_exact and n_all from ONE lineitem pass: left join the unique
    # selective keys (no fanout) and count matches + rows together
    marked = li.join(
        sel.withColumnRenamed("o_orderkey", "l_orderkey").withColumn(
            "__m", F.lit(1)
        ),
        "l_orderkey",
        "left",
    )
    n_exact = marked.agg(
        F.count("__m").alias("n_exact"),
        F.count(F.lit(1)).alias("__n_all"),
    )
    return (
        n_exact.crossJoin(F.broadcast(n_pass))
        .select(
            "n_exact",
            "n_bloom",
            (F.col("n_bloom") - F.col("n_exact")).alias("n_false_pos"),
            F.round(
                (F.col("n_bloom") - F.col("n_exact")).cast("double")
                / (F.col("__n_all") - F.col("n_exact")),
                6,
            ).alias("fp_rate"),
        )
    )
