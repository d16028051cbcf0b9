"""Registry extension: quality suite, metadata analytics views, remaining
near-dup strategies, segmentation/chunking (SURVEY.md §2.5 A11/A12, §1.3
views, §2.4 D5 variants, §2.9 F13/F14).

Metadata tables don't exist in the driver's testdata, so the metadata-view
queries SYNTHESIZE deterministic runs/metrics/lineage tables from orders and
lineitem (same projection on both engines) and then apply the real view
operators — the view logic is what's under test, not the synthesis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.normalize import collapse_whitespace
from nahuatl_data_pipeline_spark.functions.text_analysis import tokens
from nahuatl_data_pipeline_spark.operators.quality import (
    Check,
    length_in_range_ratio,
    not_null_ratio,
    regex_match_ratio,
    row_count,
    run_checks,
    unique_ratio,
)
from nahuatl_data_pipeline_spark.plans.metadata import (
    data_lineage_summary,
    latest_quality_metrics,
    pipeline_performance,
)
from nahuatl_data_pipeline_spark.registry import (
    banded_pairs_oracle_sql,
    register,
)
from nahuatl_data_pipeline_spark.schemas import load_table


# ---------------------------------------------------------------------------
# A11/A12: declarative quality suite in ONE aggregate pass
# ---------------------------------------------------------------------------

@register(
    "q34_quality_suite",
    """
    WITH m AS (
      SELECT ROUND(COUNT(text) * 1.0 / COUNT(*), 6) AS text_not_null,
             ROUND(COUNT(DISTINCT doc_id) * 1.0 / COUNT(doc_id), 6) AS doc_id_unique,
             ROUND(COUNT(CASE WHEN LENGTH(text) BETWEEN 20 AND 5000 THEN 1 END)
                   * 1.0 / COUNT(text), 6) AS text_len_20_5000,
             ROUND(COUNT(CASE WHEN REGEXP_MATCHES(text, '[a-z]') THEN 1 END)
                   * 1.0 / COUNT(text), 6) AS text_has_alpha,
             ROUND(COUNT(*) * 1.0, 6) AS row_count
      FROM documents
    )
    SELECT 'text_not_null' AS "check", text_not_null AS metric,
           1.0 AS threshold, text_not_null >= 1.0 AS passed FROM m
    UNION ALL SELECT 'doc_id_unique', doc_id_unique, 1.0, doc_id_unique >= 1.0 FROM m
    UNION ALL SELECT 'text_len_20_5000', text_len_20_5000, 0.95,
              text_len_20_5000 >= 0.95 FROM m
    UNION ALL SELECT 'text_has_alpha', text_has_alpha, 0.99,
              text_has_alpha >= 0.99 FROM m
    UNION ALL SELECT 'row_count', row_count, 1000.0,
              row_count >= 1000.0 AND row_count <= 100000000.0 FROM m
    """,
)
def q34_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11+A12: GE-style expectation suite compiled to a single agg pass
    (DataQuality.scala:39-114, corc_nah_corpus_suite.json) — one scan
    evaluates every expectation."""
    docs = load_table(spark, sf_dir, "documents")
    checks = [
        Check("text_not_null", not_null_ratio("text"), ">=", 1.0),
        Check("doc_id_unique", unique_ratio("doc_id"), ">=", 1.0),
        Check(
            "text_len_20_5000", length_in_range_ratio("text", 20, 5000), ">=", 0.95
        ),
        Check("text_has_alpha", regex_match_ratio("text", "[a-z]"), ">=", 0.99),
        Check("row_count", row_count(), "between", 1000.0, 1e8),
    ]
    return run_checks(docs, checks)


# ---------------------------------------------------------------------------
# Metadata analytics views (schema.sql:171-231) on synthesized run tables
# ---------------------------------------------------------------------------

_RUNS_SQL = """
      SELECT o_orderkey AS run_id,
             o_orderpriority AS pipeline_name,
             o_orderdate AS started_at,
             CASE o_orderstatus WHEN 'F' THEN 'success'
                                WHEN 'O' THEN 'failed'
                                ELSE 'running' END AS status,
             CAST(FLOOR(o_totalprice) AS BIGINT) AS duration_seconds,
             o_custkey AS records_output
      FROM orders
"""


def _runs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("run_id"),
        F.col("o_orderpriority").alias("pipeline_name"),
        F.col("o_orderdate").alias("started_at"),
        F.lit(None).cast("timestamp").alias("ended_at"),
        F.when(F.col("o_orderstatus") == "F", "success")
        .when(F.col("o_orderstatus") == "O", "failed")
        .otherwise("running")
        .alias("status"),
        # integer-valued so Σ is exact → avg/round bit-identical everywhere
        F.floor("o_totalprice").cast("long").alias("duration_seconds"),
        F.col("o_custkey").alias("records_output"),
    )


@register(
    "q35_pipeline_performance",
    f"""
    WITH runs AS ({_RUNS_SQL}),
    cur AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY run_id ORDER BY started_at DESC) AS rn
        FROM runs
      ) WHERE rn = 1
    )
    SELECT STRFTIME(CAST(started_at AS DATE), '%Y-%m-%d') AS run_date,
           pipeline_name,
           CAST(COUNT(*) AS BIGINT) AS total_runs,
           CAST(SUM(CASE WHEN status = 'success' THEN 1 ELSE 0 END) AS BIGINT)
             AS successful_runs,
           CAST(SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT)
             AS failed_runs,
           ROUND(AVG(duration_seconds), 2) AS avg_duration_seconds,
           CAST(SUM(records_output) AS BIGINT) AS total_records_output
    FROM cur GROUP BY 1, 2
    """,
)
def q35_pipeline_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View `pipeline_performance` (schema.sql:203-214): A9 conditional
    sums per pipeline per day, over the latest version of each run."""
    out = pipeline_performance(_runs_df(spark, sf_dir))
    return out.withColumn(
        "run_date", F.date_format("run_date", "yyyy-MM-dd")
    )


@register(
    "q36_lineage_summary",
    """
    WITH lineage AS (
      SELECT l_returnflag AS source_type,
             l_linestatus AS source_layer,
             CAST(l_quantity AS BIGINT) AS records_ingested,
             CAST(FLOOR(l_quantity * (1 - l_discount)) AS BIGINT) AS records_valid
      FROM lineitem
    )
    SELECT source_type, source_layer,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(records_ingested) AS BIGINT) AS records_ingested,
           CAST(SUM(records_valid) AS BIGINT) AS records_valid,
           ROUND(100.0 * SUM(records_valid) / NULLIF(SUM(records_ingested), 0), 2)
             AS validity_pct
    FROM lineage GROUP BY 1, 2
    """,
)
def q36_lineage_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View `data_lineage_summary` (schema.sql:216-231): A10 NULLIF-guarded
    validity percentage per source type/layer."""
    li = load_table(spark, sf_dir, "lineitem")
    lineage = li.select(
        F.col("l_returnflag").alias("source_type"),
        F.col("l_linestatus").alias("source_layer"),
        F.col("l_quantity").cast("long").alias("records_ingested"),
        F.floor(F.col("l_quantity") * (1 - F.col("l_discount")))
        .cast("long")
        .alias("records_valid"),
    )
    return data_lineage_summary(lineage)


@register(
    "q37_latest_quality_metrics",
    f"""
    WITH runs AS ({_RUNS_SQL}),
    cur AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY run_id ORDER BY started_at DESC) AS rn
        FROM runs
      ) WHERE rn = 1
    ),
    latest AS (
      SELECT run_id, pipeline_name, started_at FROM (
        SELECT *, ROW_NUMBER() OVER (
          ORDER BY started_at DESC, run_id ASC) AS rn2
        FROM cur WHERE status = 'success'
      ) WHERE rn2 = 1
    ),
    metrics AS (
      SELECT l_orderkey AS run_id,
             l_returnflag AS metric_name,
             l_extendedprice AS metric_value,
             'usd' AS metric_unit,
             l_linestatus AS dataset_split,
             l_shipdate AS measured_at
      FROM lineitem
    )
    SELECT m.metric_name,
           ROUND(m.metric_value, 2) AS metric_value,
           m.metric_unit, m.dataset_split,
           STRFTIME(m.measured_at, '%Y-%m-%d %H:%M:%S') AS measured_at,
           l.pipeline_name,
           STRFTIME(l.started_at, '%Y-%m-%d %H:%M:%S') AS started_at
    FROM metrics m JOIN latest l ON m.run_id = l.run_id
    """,
)
def q37_latest_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View `latest_quality_metrics` (schema.sql:171-187): the correlated
    scalar subquery as rank-1 window + broadcast join (J1+J2+W3)."""
    li = load_table(spark, sf_dir, "lineitem")
    metrics = li.select(
        F.col("l_orderkey").alias("run_id"),
        F.col("l_returnflag").alias("metric_name"),
        F.col("l_extendedprice").alias("metric_value"),
        F.lit("usd").alias("metric_unit"),
        F.col("l_linestatus").alias("dataset_split"),
        F.col("l_shipdate").alias("measured_at"),
    )
    out = latest_quality_metrics(_runs_df(spark, sf_dir), metrics)
    return out.select(
        "metric_name",
        F.round("metric_value", 2).alias("metric_value"),
        "metric_unit",
        "dataset_split",
        F.date_format("measured_at", "yyyy-MM-dd HH:mm:ss").alias("measured_at"),
        "pipeline_name",
        F.date_format("started_at", "yyyy-MM-dd HH:mm:ss").alias("started_at"),
    )


# ---------------------------------------------------------------------------
# Remaining near-dup strategies: exact n-gram Jaccard + embedding cosine
# ---------------------------------------------------------------------------

_TAIL = " tail token alpha beta"


_Q38_BASE_SQL = f"""SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || '{_TAIL}' AS text
      FROM documents WHERE doc_id < 100"""


def q38_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q38/q97's exact input (docs + planted near-dups) — ONE definition
    (the q25_input pattern), and the owner of the ``q38:{sf_dir}``
    pair-table corpus key: both queries pass identical rows, so they
    legally share one :func:`~nahuatl_data_pipeline_spark.operators.
    fuzzy_dedup.near_dup_pairs` build."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TAIL)).alias("text"),
    )
    return docs.unionByName(planted)


def q38_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared q38/q97 pair table (build-once persist contract)."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        near_dup_pairs,
    )

    return near_dup_pairs(
        q38_corpus(spark, sf_dir),
        "doc_id",
        "text",
        corpus_key=f"q38:{sf_dir}",
        shingle_n=3,
        jaccard_threshold=0.5,
    )


@register(
    "q38_ngram_jaccard_pairs",
    banded_pairs_oracle_sql(
        _Q38_BASE_SQL, threshold=0.5, num_hashes=6, band_size=2
    ),
)
def q38_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs over banded-minhash candidates
    (3 bands × 2 hashes — q25's scheme at a lighter signature width; the
    original single-min-shingle bucketing wasted ~5× candidates at 100×,
    SCALE.md round 6) — planted near-dups exercise the match path. The
    pair set is the session-shared build-once table (near_dup_pairs):
    q97's degree profile consumes the same persisted graph instead of
    re-deriving it."""
    return q38_pairs(spark, sf_dir)


@register(
    "q39_embedding_neardup",
    """
    WITH planted AS (
      SELECT vec_id + 1000000 AS vec_id,
             LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
               AS embedding
      FROM embeddings WHERE vec_id < 20
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL SELECT vec_id, embedding FROM planted
    ),
    q AS (SELECT vec_id, embedding FROM corpus
          WHERE vec_id < 20 OR (vec_id >= 1000000 AND vec_id < 1000020))
    SELECT q.vec_id AS id_a, c.vec_id AS id_b,
           ROUND(LIST_COSINE_SIMILARITY(q.embedding, c.embedding), 4) AS cosine
    FROM q JOIN corpus c ON q.vec_id < c.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(q.embedding, c.embedding), 4) >= 0.95
    """,
)
def q39_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: planted scaled copies
    (cosine invariant under scaling → exact 1.0 hits) over the broadcast
    query side; threshold filter, no shuffle."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        )
    )
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    # the planted-id predicate is BOUNDED (1000000..1000019), not
    # open-ended: an open `>= 1000000` aliases with the scale replicas'
    # key offsets (+i*10^7) and silently grew the query side 20 → 198k
    # at 100×, turning the broadcast matmul into a dense corpus scoring
    # (SCALE.md round-6 artifact note)
    queries = corpus.filter(
        (F.col("vec_id") < 20)
        | ((F.col("vec_id") >= 1000000) & (F.col("vec_id") < 1000020))
    )
    return cosine_neardup_pairs(queries, corpus, threshold=0.95)


# ---------------------------------------------------------------------------
# F13/F14: sentence segmentation + chunk packing
# ---------------------------------------------------------------------------


@register(
    "q40_sentences",
    """
    SELECT doc_id, TRIM(s) AS sentence
    FROM (
      SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(text, '[^.!?]+[.!?]*')) AS s
      FROM documents WHERE doc_id < 1000
    )
    WHERE TRIM(s) <> ''
    """,
)
def q40_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 sentence segmentation as a codegen'd regex projection (the
    pattern is lookaround-free so RE2 oracles split identically)."""
    from nahuatl_data_pipeline_spark.functions.segmentation import split_sentences

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return split_sentences(docs, "doc_id", "text").select("doc_id", "sentence")


@register(
    "q43_windowed_event_counts",
    """
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q43_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming windowed aggregation (streaming/incremental.py
    ``windowed_event_counts``) applied to batch input — identical
    transformation object in both modes; tests/test_streaming.py asserts
    stream-vs-batch equality on the same files."""
    from nahuatl_data_pipeline_spark.streaming.incremental import (
        windowed_event_counts,
    )

    events = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(events, "1 hour", "2 hours")
    return out.withColumn(
        "window_start", F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
    )


@register(
    "q42_media_features",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           'image' AS modality,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           CASE WHEN OCTET_LENGTH(ENCODE(text)) = 0 THEN NULL
                ELSE LEAST(CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / 128.0) AS BIGINT), 4)
           END AS n_frames,
           ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(0, 8), i ->
             CAST(('0x' || SUBSTRING(SHA256(text), 4*i+3, 2)
                        || SUBSTRING(SHA256(text), 4*i+1, 2)) AS BIGINT)), ',')
             AS feature_sig
    FROM documents WHERE doc_id < 500
    """,
)
def q42_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing end-to-end: text → binary payload →
    typed metadata struct (sha256 content id) → mapInPandas feature
    extraction (deterministic digest-derived codec) → frame sampling
    join. Oracle-checked: the fake codec's features are sha256-uint16s
    that DuckDB reproduces exactly (emitted as an integer signature
    string so float formatting can't drift)."""
    from nahuatl_data_pipeline_spark.operators.multimodal import (
        attach_media_metadata,
        extract_features,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = attach_media_metadata(
        docs.select(
            F.col("doc_id").cast("string").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        ),
        modality="image",
        mime="application/octet-stream",
    )
    feats = extract_features(media)
    frames = sample_frames(media, every_n_bytes=128, frame_bytes=32, max_frames=4)
    n_frames = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))
    return feats.join(n_frames, "media_id", "left").select(
        "media_id",
        "modality",
        "n_bytes",
        "n_frames",
        F.concat_ws(
            ",",
            F.transform(
                "feature", lambda x: F.round(x * 65536).cast("long")
            ),
        ).alias("feature_sig"),
    )


@register(
    "q46_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) >= 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS s
      FROM marked
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS INT) AS n_events
    FROM sid GROUP BY user_id, s
    """,
)
def q46_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1 h gap) — lag + cumulative-sum
    session ids (tests/test_sessionize.py)."""
    from nahuatl_data_pipeline_spark.streaming.sessionize import sessionize_batch

    events = load_table(spark, sf_dir, "events")
    out = sessionize_batch(events.select("user_id", "ts"), gap="1 hours")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


@register(
    "q47_corpus_stats",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(text) AS BIGINT) AS n_texts,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           ROUND(AVG(LENGTH(text)), 4) AS avg_chars,
           CAST(MIN(LENGTH(text)) AS BIGINT) AS min_chars,
           CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[āēīōūĀĒĪŌŪ]', '', 'g'))) AS BIGINT)
             AS macron_total,
           CAST(COUNT(CASE WHEN REGEXP_MATCHES(text, '[āēīōū]') THEN 1 END) AS BIGINT)
             AS rows_with_macron,
           CAST(SUM(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'),
                                    t -> t <> ''))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY source
    """,
)
def q47_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generate_stats.py full corpus report (A1-A6) as ONE aggregate
    pass per source: volume, null, length, Unicode/macron, token totals —
    one scan regardless of how many statistics are requested."""
    from nahuatl_data_pipeline_spark.functions.text_analysis import (
        macron_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("text").alias("n_texts"),
        F.sum(n).alias("total_chars"),
        F.round(F.avg(n), 4).alias("avg_chars"),
        F.min(n).cast("long").alias("min_chars"),
        F.max(n).cast("long").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(macron_count("text")).alias("macron_total"),
        F.count(F.when(F.col("text").rlike("[āēīōū]"), 1)).alias(
            "rows_with_macron"
        ),
        F.sum(token_count("text")).alias("total_tokens"),
    )


@register("q44_alignment_join", None)  # model-backed top-1 join — rows-only
def q44_alignment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 embedding-alignment join (aligner.py:15-50): embed both sides
    (pluggable encoder; deterministic hashed embedding here), broadcast
    top-1 cosine, threshold 0.85. Planted identical texts guarantee
    matches; invariants in tests/test_alignment_eval.py."""
    from nahuatl_data_pipeline_spark.operators.alignment import align_sentences

    docs = load_table(spark, sf_dir, "documents")
    left = docs.filter(F.col("doc_id") < 50).select(F.col("text").alias("nah"))
    right = docs.filter(F.col("doc_id") < 500).select(F.col("text").alias("es"))
    return align_sentences(left, right, "nah", "es", min_score=0.85)


@register("q45_corpus_eval", None)  # driver-side final combine — rows-only
def q45_corpus_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 corpus chrF/BLEU (measure_chrf.py:113-118) as sum-decomposable
    distributed aggregates; hyp = whitespace-normalized text vs ref =
    original text."""
    from nahuatl_data_pipeline_spark.operators.evaluation import evaluation_report

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = docs.select(
        collapse_whitespace(F.col("text")).alias("hyp"), F.col("text").alias("ref")
    )
    return evaluation_report(pairs, "hyp", "ref")


_Q41_SQL = """
    WITH RECURSIVE sents_raw AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(a) + 1),
                    i -> {'pos': i, 's': TRIM(a[i])})) AS u
      FROM (SELECT doc_id, REGEXP_EXTRACT_ALL(text, '[^.!?]+[.!?]*') AS a
            FROM documents WHERE doc_id < 1000)
    ),
    sents AS (
      SELECT doc_id, u.s AS s,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY u.pos) AS r
      FROM sents_raw WHERE u.s <> ''
    ),
    fold AS (
      SELECT doc_id, r, s, 0 AS chunk_id, LEN(s) AS cur_len
      FROM sents WHERE r = 1
      UNION ALL
      SELECT n.doc_id, n.r, n.s,
             CASE WHEN f.cur_len + 1 + LEN(n.s) <= 200
                  THEN f.chunk_id ELSE f.chunk_id + 1 END,
             CASE WHEN f.cur_len + 1 + LEN(n.s) <= 200
                  THEN f.cur_len + 1 + LEN(n.s) ELSE LEN(n.s) END
      FROM fold f JOIN sents n ON n.doc_id = f.doc_id AND n.r = f.r + 1
    ),
    chunks AS (
      SELECT doc_id, chunk_id, STRING_AGG(s, ' ' ORDER BY r) AS chunk
      FROM fold GROUP BY doc_id, chunk_id
    )
    SELECT d.doc_id,
           CAST(c.chunk_id AS BIGINT) AS chunk_id,
           c.chunk,
           CAST(LENGTH(c.chunk) AS BIGINT) AS chunk_n_chars
    FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
    LEFT JOIN chunks c USING (doc_id)
"""


@register("q41_chunked_docs", _Q41_SQL)
def q41_chunked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 chunk packing (gemini_distiller.py:38-55): greedy ≤200-char
    sentence packing per document via Arrow-batched pandas_udf +
    posexplode_outer (chunk-less docs keep a null row). The sequential
    greedy fold IS SQL-expressible after all: the oracle walks each
    document's ranked sentences with a recursive CTE carrying
    (chunk_id, cur_len) state — same transition rule, same ' ' joins —
    and hash-matches exactly (sentence-extraction parity is q40's).
    Invariants additionally tested in tests/test_segmentation.py."""
    from nahuatl_data_pipeline_spark.functions.segmentation import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    out = chunk_documents(docs, "doc_id", "text", max_chars=200)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk",
        F.col("chunk_n_chars").cast("long").alias("chunk_n_chars"),
    )


# ---------------------------------------------------------------------------
# M4/M5: LLM external-call stages with the deterministic mock client — the
# mock's reply is a pure function of the prompt payload, so the ENTIRE
# mapInPandas path (batching, prompt build, fence-strip JSON parse, per-row
# zip, error column) is SQL-oracle-checkable.
# ---------------------------------------------------------------------------


@register(
    "q48_llm_distill",
    """
    SELECT doc_id,
           text AS es,
           'nah:' || text AS nah,
           'myn:' || text AS myn,
           CAST(NULL AS VARCHAR) AS llm_error
    FROM documents
    WHERE doc_id < 200
    """,
)
def q48_llm_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 distillation stage (gemini_distiller.py:122-195): batched
    prompts, retry/rotation harness, JSON-array parse — mock endpoint
    echoes es and prefixes nah:/myn:."""
    from nahuatl_data_pipeline_spark.operators.llm_stage import (
        MockLlmClient,
        distill_stage,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    return distill_stage(
        docs, "text", MockLlmClient, keep_cols=["doc_id"], batch_size=5,
        sleep_fn=lambda s: None,
    )


@register(
    "q50_llm_judge",
    """
    SELECT doc_id,
           (LENGTH(COALESCE(text, '')) % 5) + 1 AS score,
           CAST(NULL AS VARCHAR) AS llm_error
    FROM documents
    WHERE doc_id < 200
    """,
)
def q50_llm_judge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 LLM-judge scoring (benchmark_phd_v1.py:52-88): rubric prompt
    over (source, reference, hyp), batched; mock scores len(hyp)%5+1 so
    the whole path is oracle-checkable."""
    from nahuatl_data_pipeline_spark.operators.llm_stage import (
        MockLlmClient,
        judge_stage,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.col("text").alias("src"),
                F.col("text").alias("ref"), F.col("text").alias("hyp"))
    )
    return judge_stage(
        docs, "src", "ref", "hyp", MockLlmClient,
        keep_cols=["doc_id"], batch_size=5, sleep_fn=lambda s: None,
    )


# ---------------------------------------------------------------------------
# F5-F10 normalization rules, hash-verified. DuckDB's RE2 has no pattern
# backreferences, so the oracle expresses the vowel-run clamp as one
# ([vV])[vV]{2,} pass per vowel — same semantics as Spark's (?iu)([...])\1{2,}
# because a run of one letter (either case) clamps to its first char doubled,
# and distinct letters (incl. macron forms) never share a pattern.
# ---------------------------------------------------------------------------

_Q49_VOWELS = "aeiouāēīōū"


def _q49_clamp_sql(expr: str) -> str:
    for v in _Q49_VOWELS:
        cls = "[" + v + v.upper() + "]"
        expr = (
            "REGEXP_REPLACE(" + expr + ", '(" + cls + ")" + cls
            + "{2,}', '\\1\\1', 'g')"
        )
    return expr


_SQ2 = "''"  # escaped single quote inside a SQL string literal
# TRANSLATE target of four ASCII apostrophes: '''''''' + ''  (4 × '' wrapped)
_Q49_SQL = (
    "SELECT doc_id,\n"
    # saltillo: ' ’ ` ʔ → ʼ
    "  TRANSLATE(text, '" + _SQ2 + "’`ʔ', 'ʼʼʼʼ') AS saltillo_text,\n"
    "  " + _q49_clamp_sql("text") + " AS clamped_text,\n"
    # maya: ʼ ’ ` ʔ → ' then re-attach ejectives k ' → k'
    "  REGEXP_REPLACE(TRANSLATE(text, 'ʼ’`ʔ', '"
    + _SQ2 * 4 + "'), '([bchkptz])\\s+" + _SQ2 + "', '\\1" + _SQ2
    + "', 'g') AS maya_text,\n"
    # spanish typography: dashes, quotes, ellipsis, NBSP
    "  REGEXP_REPLACE(REGEXP_REPLACE(TRANSLATE(TRANSLATE("
    "REGEXP_REPLACE(text, '[—–]|--', '-', 'g'), "
    "'«»“”', '\"\"\"\"'), '‘’', '" + _SQ2 * 2 + "'), "
    "'…', '...', 'g'), ' ', ' ', 'g') AS spanish_text,\n"
    # central: glottals (incl. canonical ʼ) → h, word-initial w → hu
    "  REGEXP_REPLACE(REGEXP_REPLACE(text, '[" + _SQ2 + "’ʼ`ʔ]', 'h', 'g'), "
    "'\\bw', 'hu', 'g') AS central_text,\n"
    "  REGEXP_REPLACE(text, 'hu', 'w', 'g') AS huasteca_text\n"
    "FROM documents"
)


@register("q49_normalize_rules", _Q49_SQL)
def q49_normalize_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5-F10 language rules (normalizers.py:136-232,
    processing/normalization.py:13-36) as independent codegen projections
    over one scan."""
    from nahuatl_data_pipeline_spark.functions.normalize import (
        clamp_vowel_runs,
        clean_spanish_typography,
        normalize_maya_glottal,
        normalize_saltillo,
        orthographic_variant,
    )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_saltillo("text").alias("saltillo_text"),
        clamp_vowel_runs("text").alias("clamped_text"),
        normalize_maya_glottal("text").alias("maya_text"),
        clean_spanish_typography("text").alias("spanish_text"),
        orthographic_variant("text", "central").alias("central_text"),
        orthographic_variant("text", "huasteca").alias("huasteca_text"),
    )


# ---------------------------------------------------------------------------
# M6: synthetic corpus generation — both engines expand the SAME seed
# constants through the same cross-join templates, so the generator is
# hash-checked end-to-end (no source table involved).
# ---------------------------------------------------------------------------

from nahuatl_data_pipeline_spark.operators.synthetic import (  # noqa: E402
    generate_synthetic_corpus,
    synthetic_oracle_sql,
)


@register("q51_synthetic_corpus", synthetic_oracle_sql())
def q51_synthetic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 template-expansion generator (generate_synthetic_data.py:34-261)
    as distributed cross joins over broadcast seed frames; sf_dir unused
    (pure generation)."""
    return generate_synthetic_corpus(spark)


# ---------------------------------------------------------------------------
# As-of (point-in-time) join — beyond-reference training-data op; oracle is
# DuckDB's native ASOF LEFT JOIN, Spark side is the union+forward-fill
# window (operators/asof.py).
# ---------------------------------------------------------------------------


@register(
    "q52_asof_join",
    """
    WITH ckpt AS (
      SELECT user_id, ts, MAX(value) AS ref_value
      FROM events WHERE event_id % 10 = 0
      GROUP BY user_id, ts
    )
    SELECT e.event_id, e.ts, e.user_id,
           ROUND(e.value, 4) AS value,
           ROUND(c.ref_value, 4) AS ref_value
    FROM events e
    ASOF LEFT JOIN ckpt c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def q52_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each event gets the latest checkpoint value
    (events with event_id % 10 = 0) at-or-before its timestamp, per user
    — the feature-store lookup pattern. One shuffle on user_id."""
    from nahuatl_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "ts", "user_id", "value")
    ckpt = (
        ev.filter(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref_value"))
    )
    out = asof_join(left, ckpt, on="ts", by=["user_id"])
    return out.select(
        "event_id", "ts", "user_id",
        F.round("value", 4).alias("value"),
        F.round("ref_value", 4).alias("ref_value"),
    )


# ---------------------------------------------------------------------------
# Interval (range-containment) join — bucketized equi-join formulation;
# oracle is the plain BETWEEN theta join (fine at sf, explosive at scale —
# which is exactly why the Spark side buckets).
# ---------------------------------------------------------------------------


@register(
    "q53_interval_join",
    """
    WITH iv AS (
      SELECT user_id, ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end,
             event_id AS window_id
      FROM events WHERE event_id % 20 = 0
    )
    SELECT e.event_id, e.user_id, e.ts, iv.window_id,
           iv.w_start, iv.w_end
    FROM events e
    JOIN iv ON e.user_id = iv.user_id
           AND e.ts BETWEEN iv.w_start AND iv.w_end
    """,
)
def q53_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each event to every 30-minute window opened by a
    checkpoint event of the same user — session/label-window attribution
    as a bucketized hash join (no theta-join cross product)."""
    from nahuatl_data_pipeline_spark.operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_id") % 20 == 0).select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
        F.col("event_id").alias("window_id"),
    )
    pts = ev.select("event_id", "user_id", "ts")
    return interval_join(
        pts, iv, on="ts", by=["user_id"], start="w_start", end="w_end",
        bucket_width_s=1800,
    ).select("event_id", "user_id", "ts", "window_id", "w_start", "w_end")


# ---------------------------------------------------------------------------
# Vocabulary heavy hitters: exact token top-k (vocab building / tokenizer
# prep). Exact stays cheap at 100 TB because the explode feeds a
# map-side-combined count; the final top-k is a single small sort.
# ---------------------------------------------------------------------------


@register(
    "q54_top_tokens",
    """
    WITH toks AS (
      SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+')) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 50
    """,
)
def q54_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus tokens by exact frequency: explode → partial-agg
    count → global top-k. Deterministic tie-break on the token so both
    engines cut the k boundary identically."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Deterministic training-mix sampling: membership is a pure function of
# content hash, so the mix is reproducible across runs/partitionings AND
# recomputable by the oracle.
# ---------------------------------------------------------------------------

_Q55_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def _q55_rate_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in _Q55_RATES.items()
    )
    return f"CASE source {whens} ELSE 0.05 END"


@register(
    "q55_training_mix",
    f"""
    WITH bucketed AS (
      SELECT *,
             CAST(('0x' || SUBSTRING(MD5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 AS b
      FROM documents
    )
    SELECT doc_id, source
    FROM bucketed
    WHERE b < {_q55_rate_sql()}
    """,
)
def q55_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture downsampling: per-source keep rates decided by
    content hash (reproducible, partition-independent, zero shuffle)."""
    from nahuatl_data_pipeline_spark.operators.mixing import stratified_mix

    docs = load_table(spark, sf_dir, "documents")
    return stratified_mix(
        docs, "source", _Q55_RATES, key="doc_id", seed=42, default_rate=0.05
    ).select("doc_id", "source")


@register("q56_compression_quality", None)  # zlib — not SQL-expressible
def q56_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (Gopher/C4-style curation filter):
    zlib ratio per document + a keep flag for the prose band. Deterministic
    (fixed zlib level) but no SQL engine can recompute it — rows-only;
    invariants in tests/test_text_analysis.py."""
    from nahuatl_data_pipeline_spark.functions.text_analysis import (
        compression_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    r = compression_ratio("text")
    return docs.select(
        "doc_id",
        r.alias("compression_ratio"),
        ((r > 0.1) & (r < 0.9)).alias("in_prose_band"),
    )


@register("q57_ivf_topk", None)  # seeded k-means quantizer — rows-only
def q57_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN: seeded spherical k-means coarse quantizer
    (fit driver-side on a bounded content-hash sample, FAISS-style) +
    n_probe nearest cells per query, exact cosine within probed cells —
    the inverted-file scale path next to q33's LSH. An iterative k-means
    fit is not SQL-expressible, so no oracle; recall >= 0.85 vs exact
    brute force is asserted in tests/test_similarity.py."""
    from nahuatl_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


_TAIL2 = _TAIL + " gamma delta epsilon zeta eta theta"


_Q58_BASE_SQL = f"""{_Q38_BASE_SQL}
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || '{_TAIL2}' AS text
      FROM documents WHERE doc_id < 50"""


@register(
    "q58_dup_components",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM (
        {banded_pairs_oracle_sql(_Q58_BASE_SQL, threshold=0.5, num_hashes=6, band_size=2)}
      )
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach AS (
      SELECT s AS id, s AS r FROM edges
      UNION
      SELECT e.d AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.s
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(MIN(r) AS BIGINT) AS component,
           MIN(r) = id AS is_canonical
    FROM reach GROUP BY id
    """,
)
def q58_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: n-gram-Jaccard pairs (the q38
    edge machinery, with a second planted generation so clusters span
    orig -> v1 -> v2 chains) -> connected components -> per-doc cluster
    label + deterministic canonical (min doc_id). The oracle computes
    the same closure with a recursive CTE. Replaces the reference's
    pairwise right-side drop (SparkDedup.scala:120-160), which mishandles
    chains. Pairs come from the session-shared build-once table
    (near_dup_pairs) — q145's best-rep selection reuses the same
    persisted graph."""
    from nahuatl_data_pipeline_spark.operators.components import (
        duplicate_clusters,
    )

    return duplicate_clusters(q58_pairs(spark, sf_dir))


def q58_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q58/q145's exact input (docs + two planted generations) — ONE
    definition, owner of the ``q58:{sf_dir}`` pair-table corpus key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TAIL)).alias("text"),
    )
    v2 = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TAIL2)).alias("text"),
    )
    return docs.unionByName(v1).unionByName(v2)


def q58_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared q58/q145 pair table (build-once persist contract)."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        near_dup_pairs,
    )

    return near_dup_pairs(
        q58_corpus(spark, sf_dir),
        "doc_id",
        "text",
        corpus_key=f"q58:{sf_dir}",
        shingle_n=3,
        jaccard_threshold=0.5,
    )
