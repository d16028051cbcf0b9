"""Registry: reshaping / merge / IR queries added in round 5.

Pivot + rollup reporting shapes (operators/pivot.py), SCD2 snapshot
merge (operators/merge.py), hopping event windows
(streaming/incremental.py), tf-idf keyword extraction
(operators/tfidf.py), and quantile-bucket profiling — each with an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.registry import register
from nahuatl_data_pipeline_spark.schemas import load_table


# ---------------------------------------------------------------------------
# q71: monthly revenue pivoted by order status
# ---------------------------------------------------------------------------

_Q71_SQL = """
    SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS month,
           ROUND(SUM(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS rev_F,
           ROUND(SUM(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS rev_O,
           ROUND(SUM(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS rev_P
    FROM orders
    GROUP BY 1
"""


@register("q71_status_pivot", _Q71_SQL)
def q71_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide monthly-revenue matrix via ``pivot_agg`` with an EXPLICIT
    status list — no eager distinct-discovery job over the pivot
    column; both shuffles ride partial aggregates (see
    operators/pivot.py). Reference anchor: the pandas pivot_table in
    benchmark/generate_stats.py:150-170."""
    from nahuatl_data_pipeline_spark.operators.pivot import pivot_agg

    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
        "o_totalprice",
    )
    return pivot_agg(
        orders,
        ["month"],
        "o_orderstatus",
        ["F", "O", "P"],
        F.round(F.sum("o_totalprice"), 2),
        prefix="rev_",
    )


# ---------------------------------------------------------------------------
# q72: revenue rollup region → nation → grand total
# ---------------------------------------------------------------------------

_Q72_SQL = """
    SELECT COALESCE(r.r_name, 'ALL') AS region_name,
           COALESCE(n.n_name, 'ALL') AS nation_name,
           GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS grouping_level,
           ROUND(SUM(o.o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
"""


@register("q72_revenue_rollup", _Q72_SQL)
def q72_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal hierarchy via ``rollup_agg``: detail, per-region, and
    grand-total rows from ONE shuffle (Spark expands grouping sets
    map-side). Fixed-size dims (nation 25, region 5 rows) are force-
    broadcast; ``customer`` scales with the data so its join is left to
    AQE — broadcast while it fits, shuffle fallback beyond (asserted in
    tests/test_plans.py). The orders side never shuffles before the
    aggregate whenever customer fits. ``grouping_level``
    = F.grouping_id() = the ANSI GROUPING() bitmask, reproduced in the
    oracle."""
    from nahuatl_data_pipeline_spark.operators.pivot import rollup_agg

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            "o_totalprice",
        )
    )
    return rollup_agg(
        joined,
        ["region_name", "nation_name"],
        [
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        ],
    )


# ---------------------------------------------------------------------------
# q73: SCD2 customer snapshot merge
# ---------------------------------------------------------------------------

# Update batch planted from key arithmetic: every custkey % 7 == 0 row
# arrives in the CDC batch, but the % 14 == 0 half is a NO-OP re-send
# (identical acctbal) that must NOT create a version; the others get
# acctbal + 100 (exact in IEEE doubles, so both engines agree
# bit-for-bit). New key 99999991 exercises the insert path.
_Q73_SQL = """
    WITH upd AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 14 = 0 THEN c_acctbal
                  ELSE c_acctbal + 100 END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT 99999991, 'Customer#99999991', 0, 0.0, 'BUILDING'
    ),
    changed AS (
      SELECT u.c_custkey FROM upd u
      JOIN customer c USING (c_custkey)
      WHERE u.c_acctbal IS DISTINCT FROM c.c_acctbal
    )
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
           c.c_mktsegment, 1 AS version,
           c.c_custkey NOT IN (SELECT c_custkey FROM changed) AS is_current
    FROM customer c
    UNION ALL
    SELECT u.c_custkey, u.c_name, u.c_nationkey, u.c_acctbal,
           u.c_mktsegment, 2 AS version, TRUE AS is_current
    FROM upd u
    WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
       OR u.c_custkey NOT IN (SELECT c_custkey FROM customer)
"""


@register("q73_scd2_customers", _Q73_SQL)
def q73_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (operators/merge.py:scd2_merge) of a planted
    CDC batch into the customer snapshot: changed rows are superseded
    (v1, is_current=false) and re-inserted (v2, true); no-op re-sends
    create no version; a brand-new key inserts. The base table crosses
    no shuffle — change detection and tagging ride broadcast key sets.
    Reference anchor: row-wise INSERT OR REPLACE registry upkeep,
    src/registry/store.py:41-66 (history-free; SCD2 is the scale
    extension)."""
    import pandas as pd

    from nahuatl_data_pipeline_spark.operators.merge import scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    # pandas → Arrow → LocalTableScan, per the house rule for local seed
    # frames (operators/synthetic.py:seed_dataframe).
    new_row = spark.createDataFrame(
        pd.DataFrame(
            [[99999991, "Customer#99999991", 0, 0.0, "BUILDING"]],
            columns=cust.columns,
        ),
        schema=cust.schema,
    )
    updates = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 14 == 0, F.col("c_acctbal")
            ).otherwise(F.col("c_acctbal") + 100),
        )
        .unionByName(new_row)
    )
    out = scd2_merge(
        cust, updates, keys=["c_custkey"], tracked=["c_acctbal"]
    )
    return out.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        "version",
        "is_current",
    )


# ---------------------------------------------------------------------------
# q74: hopping-window event counts (2 h window, 1 h slide)
# ---------------------------------------------------------------------------

# Every event lands in exactly two windows: the one starting at its
# truncated hour and the one starting an hour earlier (window/slide =
# 2). The oracle materializes that fan-out with a UNION ALL.
_Q74_SQL = """
    WITH slots AS (
      SELECT DATE_TRUNC('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR AS ws,
             event_type, value
      FROM events
    )
    SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM slots
    GROUP BY 1, 2
"""


@register("q74_hopping_event_counts", _Q74_SQL)
def q74_hopping_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windowed aggregation: the q43 streaming
    transformation with ``slide_duration`` < ``window_duration`` —
    ``F.window`` expands each event into its two containing windows
    inside the scan stage (a generator, not a shuffle), then the same
    map-side-combined aggregate runs per (window, type). Identical
    transformation object serves readStream (state bounded by the
    watermark × window/slide factor)."""
    from nahuatl_data_pipeline_spark.streaming.incremental import (
        windowed_event_counts,
    )

    events = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(
        events, "2 hours", "2 hours", slide_duration="1 hour"
    )
    return out.withColumn(
        "window_start", F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
    )


# ---------------------------------------------------------------------------
# q75: tf-idf top terms per document
# ---------------------------------------------------------------------------

_Q75_SQL = """
    WITH scope AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
    ),
    toks AS (
      SELECT doc_id,
             UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+')) AS term
      FROM scope
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n FROM scope),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * LN((1 + n.n) / (1.0 + dfreq.df)), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
"""


@register("q75_tfidf_terms", _Q75_SQL)
def q75_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (operators/tfidf.py): three
    key-partitioned shuffles (tf, df, per-doc rank), corpus size N as a
    broadcast 1-row aggregate — fully codegen, no Python, no driver
    scalar. Reference anchor: driver-side token frequency tables,
    benchmark/generate_stats.py:57-80."""
    from nahuatl_data_pipeline_spark.operators.tfidf import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        "doc_id", "term", "tf", "df", "score", F.col("rank").cast("int").alias("rank")
    )


# ---------------------------------------------------------------------------
# q76: document length quartiles (ntile profiling)
# ---------------------------------------------------------------------------

_Q76_SQL = """
    WITH b AS (
      SELECT source, n_chars,
             NTILE(4) OVER (ORDER BY n_chars, doc_id) AS quartile
      FROM documents
    )
    SELECT CAST(quartile AS INT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM b GROUP BY quartile
"""


@register("q76_length_quartiles", _Q76_SQL)
def q76_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population length buckets: ntile(4) over a TOTAL ordering
    (n_chars, doc_id — ties must be broken or bucket membership is
    nondeterministic), then per-quartile profile stats.

    Scale note: a global ntile is a single-partition window — fine for
    profiling runs, wrong in a hot path; the 100 TB formulation swaps
    it for percentile_approx cut points + a bucketing join (the
    documented pattern in operators/quality.py). This query exists to
    pin the exact-ntile semantics the approximate path is measured
    against."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    b = docs.select(
        "source", "n_chars", F.ntile(4).over(w).alias("quartile")
    )
    return b.groupBy(F.col("quartile").cast("int").alias("quartile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# q77: per-source document cap (RefinedWeb/C4-style domain balancing)
# ---------------------------------------------------------------------------

_Q77_SQL = """
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY MD5('42:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS r
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE r <= 10
"""


@register("q77_source_cap", _Q77_SQL)
def q77_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group cap (operators/mixing.py:cap_per_group): at most 10
    docs per source, chosen by content-hash order so the retained
    subset is a deterministic uniform sample of each source — not
    first-N-by-ingestion, which would bias toward old crawls. One rank
    window on source; the hot-group escape (weighted_sample prefilter)
    is documented at the operator."""
    from nahuatl_data_pipeline_spark.operators.mixing import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", key="doc_id", cap=10, seed=42).select(
        "doc_id", "source"
    )


# ---------------------------------------------------------------------------
# q78: quality-weighted sampling (per-row keep probability)
# ---------------------------------------------------------------------------

_Q78_SQL = """
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE CAST(('0x' || SUBSTRING(MD5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) / 4294967296.0
          < LEAST(n_chars / 400.0, 1.0)
"""


@register("q78_quality_weighted_mix", _Q78_SQL)
def q78_quality_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling (operators/mixing.py:weighted_sample): each
    document's keep probability is its own quality proxy (length/400,
    clamped to 1), so higher-quality rows survive at higher rates — the
    quality-weighted mixing recipe. Membership is a pure content hash:
    zero shuffle, reproducible across runs/partitionings/engines."""
    from nahuatl_data_pipeline_spark.operators.mixing import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        docs, key="doc_id", rate=F.col("n_chars") / 400.0, seed=7
    ).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# q79: approx-quantile bucketing (the 100 TB path q76 documents)
# ---------------------------------------------------------------------------

_Q79_SQL = """
    WITH cuts AS (
      SELECT quantile_disc(n_chars, 0.25) AS c1,
             quantile_disc(n_chars, 0.5)  AS c2,
             quantile_disc(n_chars, 0.75) AS c3
      FROM documents
    ),
    b AS (
      SELECT d.source, d.n_chars,
             1 + CAST(d.n_chars > c.c1 AS INT)
               + CAST(d.n_chars > c.c2 AS INT)
               + CAST(d.n_chars > c.c3 AS INT) AS bucket
      FROM documents d CROSS JOIN cuts c
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY bucket
"""


@register("q79_approx_length_buckets", _Q79_SQL)
def q79_approx_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-cut bucketing (operators/quality.py:approx_quantile_buckets)
    — q76's exact global-ntile profile re-expressed for scale: one
    mergeable percentile aggregate + broadcast cuts + narrow projection;
    no row ever crosses a wide shuffle. Hash-matches DuckDB's exact
    quantile_disc cuts because accuracy=10000 is exact at sf<=0.1 row
    counts (the q64 sketch-oracle argument)."""
    from nahuatl_data_pipeline_spark.operators.quality import (
        approx_quantile_buckets,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    b = approx_quantile_buckets(docs, "n_chars", n_buckets=4)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# q80: incremental aggregate-state merge
# ---------------------------------------------------------------------------

# The planted split (event_id % 3) stands in for "history vs new batch";
# the merged state must equal the whole-corpus aggregate — which is the
# oracle. Sums are rounded (summation order differs between the
# single-pass oracle and the two-state merge).
_Q80_SQL = """
    SELECT event_type,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(COUNT(value) AS BIGINT) AS cnt_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events
    GROUP BY event_type
"""


@register("q80_incremental_agg_state", _Q80_SQL)
def q80_incremental_agg_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental stats maintenance (operators/incremental_agg.py):
    history and a new batch are aggregated SEPARATELY into partial
    states (sum/count/min/max — decomposable), then folded with one
    key-equi merge of two already-aggregated tables. The oracle is the
    whole-corpus aggregate the merge must reproduce — at scale the
    state table replaces ever re-reading history (the reference reruns
    its stats over the full dataset per run,
    benchmark/generate_stats.py)."""
    from nahuatl_data_pipeline_spark.operators.incremental_agg import (
        group_state,
        merge_group_states,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    history = ev.filter(F.col("event_id") % 3 != 0)
    batch = ev.filter(F.col("event_id") % 3 == 0)
    merged = merge_group_states(
        group_state(history, ["event_type"], "value"),
        group_state(batch, ["event_type"], "value"),
        ["event_type"],
    )
    return merged.select(
        "event_type",
        F.round("sum_value", 4).alias("sum_value"),
        F.col("cnt_value").cast("long").alias("cnt_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# q81: hypertable-style time rollup (hour → day → month in one pass)
# ---------------------------------------------------------------------------

_Q81_SQL = """
    SELECT COALESCE(STRFTIME(DATE_TRUNC('month', ts), '%Y-%m'), 'ALL') AS month,
           COALESCE(STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           COALESCE(STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:00'), 'ALL')
             AS hour,
           GROUPING(DATE_TRUNC('month', ts)) * 4
             + GROUPING(DATE_TRUNC('day', ts)) * 2
             + GROUPING(DATE_TRUNC('hour', ts)) AS grouping_level,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY ROLLUP(DATE_TRUNC('month', ts), DATE_TRUNC('day', ts),
                    DATE_TRUNC('hour', ts))
"""


@register("q81_time_rollup", _Q81_SQL)
def q81_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly, daily,
    monthly, and grand-total event stats from ONE Expand shuffle
    (operators/pivot.py:rollup_agg over derived time buckets) — the
    batch form of the materialized multi-granularity rollups a
    time-series store keeps. Because the time buckets nest (hour ⊂ day
    ⊂ month), the rollup hierarchy is exactly the prefix hierarchy
    rollup_agg produces; each coarser level is the decomposable
    re-combination of the finer one, computed map-side, so 100 TB of
    events shuffles one row per (hour, type-less) group, not raw rows."""
    from nahuatl_data_pipeline_spark.operators.pivot import rollup_agg

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
            "hour"
        ),
        "value",
    )
    return rollup_agg(
        ev,
        ["month", "day", "hour"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
    )


# ---------------------------------------------------------------------------
# q82: fixed-width histogram (width_bucket profiling)
# ---------------------------------------------------------------------------

# Bounds (0, 600, 12 buckets) give width-50 bins: n_chars is an integer
# and 600/12 = 50 is exact in doubles, so Spark's width_bucket and the
# oracle's floor-arithmetic emulation agree bit-for-bit at boundaries.
_Q82_SQL = """
    WITH b AS (
      SELECT CASE WHEN n_chars < 0 THEN 0
                  WHEN n_chars >= 600 THEN 13
                  ELSE 1 + CAST(FLOOR(n_chars / 50.0) AS INT)
             END AS bucket,
             n_chars
      FROM documents
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST((bucket - 1) * 50 AS BIGINT) AS lo_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY bucket
"""


@register("q82_length_histogram", _Q82_SQL)
def q82_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document-length histogram via ``F.width_bucket`` —
    the constant-memory profiling primitive (vs q76/q79's
    equal-population buckets): bucket assignment is a pure projection,
    so the only shuffle carries one row per bucket. Underflow→0,
    overflow→n+1 per ANSI width_bucket semantics, emulated exactly by
    the oracle's floor arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        F.width_bucket("n_chars", F.lit(0.0), F.lit(600.0), F.lit(12))
        .cast("int")
        .alias("bucket"),
        "n_chars",
    )
    return b.groupBy("bucket").agg(
        ((F.col("bucket") - 1) * 50).cast("long").alias("lo_chars"),
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# q83: corpus drift (token-distribution KL divergence between snapshots)
# ---------------------------------------------------------------------------

_Q83_SQL = """
    WITH ta AS (
      SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+')) AS term
      FROM documents WHERE doc_id % 2 = 0
    ),
    tb AS (
      SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+')) AS term
      FROM documents WHERE doc_id % 2 = 1
    ),
    ca AS (SELECT term, COUNT(*) AS na FROM ta WHERE term <> '' GROUP BY term),
    cb AS (SELECT term, COUNT(*) AS nb FROM tb WHERE term <> '' GROUP BY term),
    vocab AS (
      SELECT COALESCE(ca.na, 0) AS na, COALESCE(cb.nb, 0) AS nb
      FROM ca FULL OUTER JOIN cb USING (term)
    ),
    tot AS (SELECT SUM(na) AS sa, SUM(nb) AS sb, COUNT(*) AS v FROM vocab),
    p AS (
      SELECT na, nb,
             (na + 0.5) / (sa + 0.5 * v) AS pa,
             (nb + 0.5) / (sb + 0.5 * v) AS pb
      FROM vocab CROSS JOIN tot
    )
    SELECT CAST(SUM(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
           CAST(SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
           CAST(COUNT(*) AS BIGINT) AS vocab_union,
           ROUND(SUM(pa * LN(pa / pb)), 6) AS kl_ab,
           ROUND(SUM(pb * LN(pb / pa)), 6) AS kl_ba,
           ROUND((SUM(pa * LN(pa / pb)) + SUM(pb * LN(pb / pa))) / 2, 6)
             AS drift_score
    FROM p
"""


@register("q83_corpus_drift", _Q83_SQL)
def q83_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-batch drift tripwire (operators/drift.py:token_drift):
    symmetric smoothed KL over the union vocabulary between the even-
    and odd-doc_id halves of the corpus. The divergence fold runs over
    VOCABULARY-sized count tables (one row per distinct token), so the
    monitoring cost is decoupled from corpus size — the reference has
    no drift check at all (its stats pass recomputes whole-corpus
    frequency tables, benchmark/generate_stats.py:57-80)."""
    from nahuatl_data_pipeline_spark.operators.drift import token_drift

    docs = load_table(spark, sf_dir, "documents")
    return token_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


# ---------------------------------------------------------------------------
# q84: z-score anomaly flags on the event stream
# ---------------------------------------------------------------------------

# Outliers are PLANTED (value * 50 on event_id % 997 == 0) because the
# synthetic values are well-behaved; the operator under test is the
# grouped z-score flagging. Stats are rounded to 6 before comparison in
# both engines (see operators/anomaly.py) so the flagged set cannot be
# flipped by summation-order ulps.
_Q84_SQL = """
    WITH w AS (
      SELECT event_type,
             CASE WHEN event_id % 997 = 0 THEN value * 50 ELSE value END AS v
      FROM events
    ),
    stats AS (
      SELECT event_type,
             ROUND(AVG(v), 6) AS group_mean,
             ROUND(STDDEV_SAMP(v), 6) AS group_std
      FROM w GROUP BY event_type
    )
    SELECT w.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ABS(ROUND((w.v - s.group_mean) / s.group_std, 6))
                              > 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MIN(CASE WHEN ABS(ROUND((w.v - s.group_mean) / s.group_std, 6))
                               > 3.0
                          THEN w.v END), 4) AS min_outlier_value
    FROM w JOIN stats s ON w.event_type IS NOT DISTINCT FROM s.event_type
    GROUP BY w.event_type
"""


@register("q84_event_anomalies", _Q84_SQL)
def q84_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type anomaly counts (operators/anomaly.py:zscore_outliers,
    |z| > 3): one broadcast stats aggregate + a narrow flagging
    projection — no row-level shuffle before the final per-type count.
    Complements the expectation suite (q34) with a statistical
    detector; the reference has no outlier stage."""
    from nahuatl_data_pipeline_spark.operators.anomaly import zscore_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("event_id") % 997 == 0, F.col("value") * 50)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    flagged = zscore_outliers(ev, ["event_type"], "v", threshold=3.0)
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.round(
            F.min(F.when(F.col("is_outlier"), F.col("v"))), 4
        ).alias("min_outlier_value"),
    )


# ---------------------------------------------------------------------------
# q85: per-document duplicated-span fraction (intra-corpus n-gram dup)
# ---------------------------------------------------------------------------

# Shingle construction mirrors q66's oracle (distinct 3-gram word
# shingles; Python str.split() ≡ regexp \s+ split after trim).
_Q85_SQL = """
    WITH sh AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                    i -> ARRAY_TO_STRING(tk[i:i+2], ' ')))) AS s
      FROM (
        SELECT doc_id,
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents WHERE doc_id < 2000
      ) WHERE LEN(tk) >= 3
    ),
    firsts AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc < sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           ROUND(SUM(CASE WHEN f.first_doc < sh.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_fraction
    FROM sh JOIN firsts f USING (s)
    GROUP BY sh.doc_id
"""


@register("q85_duplicate_span_fraction", _Q85_SQL)
def q85_duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus duplication profile: for each document, the share
    of its 3-gram shingles already present in an EARLIER document
    (keep-first by doc_id) — the "duplicated fraction" quality signal
    corpus reports use to size dedup work before running it. Distinct
    from q38 (pairwise similarity) and q68 (sentence rewrite): this is
    a per-doc scalar profile.

    Plan: shingle once → explode → min-doc per
    shingle as a WINDOW over the exploded rows (a groupBy + join-back
    would duplicate the shingling subtree in the plan) → per-doc
    ratio. One shingle-keyed shuffle, one doc-keyed; nothing is
    quadratic and no driver state exists — at 100 TB this is the same
    shape as the decontamination probe."""
    from nahuatl_data_pipeline_spark.functions.hashing import word_shingles

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    sh = docs.select(
        "doc_id", F.explode(word_shingles("text", n=3)).alias("s")
    )
    # first_doc as a window over sh, NOT groupBy + join-back: the
    # self-join shape would duplicate the shingling subtree in the plan
    # (no exchange reuse under AQE — the tfidf lesson), running the
    # per-row shingle pass twice per corpus
    from pyspark.sql import Window

    first_doc = F.min("doc_id").over(Window.partitionBy("s"))
    return (
        sh.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")).alias(
                "n_dup"
            ),
            F.round(
                F.sum((F.col("first_doc") < F.col("doc_id")).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# q86: forward-fill repair (LOCF) over per-user event streams
# ---------------------------------------------------------------------------

# Gaps are planted (value -> NULL on event_id % 5 == 0); the window
# orders by (ts, event_id) so the fill source is total-ordered and both
# engines pick the identical prior observation.
_Q86_SQL = """
    WITH gappy AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events WHERE user_id < 50
    )
    SELECT user_id, event_id,
           ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING), 4) AS v_filled,
           (v IS NULL) AS was_gap
    FROM gappy
"""


@register("q86_forward_fill", _Q86_SQL)
def q86_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap repair (operators/repair.py:fill_forward): planted
    nulls take the most recent prior observation of the same user —
    one key-partitioned window shuffle, no self-join, no Python.
    Leading gaps stay null by design (fill_backward closes them)."""
    from nahuatl_data_pipeline_spark.operators.repair import fill_forward

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.when(F.col("event_id") % 5 == 0, None)
            .otherwise(F.col("value"))
            .alias("v"),
        )
        .withColumn("was_gap", F.col("v").isNull())
    )
    # total order inside the fill window: (ts, event_id)
    filled = fill_forward(
        ev.withColumn(
            "__ord",
            F.struct(F.col("ts"), F.col("event_id")),
        ),
        ["user_id"],
        "__ord",
        ["v"],
    )
    return filled.select(
        "user_id",
        "event_id",
        F.round("v", 4).alias("v_filled"),
        "was_gap",
    )


# ---------------------------------------------------------------------------
# q87: cohort retention over the event stream
# ---------------------------------------------------------------------------

_Q87_SQL = """
    WITH cohorts AS (
      SELECT user_id, DATE_TRUNC('month', MIN(ts)) AS cohort_month
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, DATE_TRUNC('month', ts) AS active_month
      FROM events
    )
    SELECT STRFTIME(c.cohort_month, '%Y-%m') AS cohort_month,
           CAST(DATEDIFF('month', c.cohort_month, a.active_month) AS INT)
             AS months_since,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity a JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
"""


@register("q87_cohort_retention", _Q87_SQL)
def q87_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users bucketed by first-event
    month, counted per months-since-cohort. Two map-side-combined
    aggregates (cohort per user, distinct active months per user)
    followed by a user-keyed join — both aggregates shuffle one row per
    (user[, month]), and AQE broadcasts the cohort side when it fits.
    The reference has no funnel/retention surface; this is the events-
    table analytics a warehouse user expects alongside q05's monthly
    status rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("month", "ts").alias("m"), "ts"
    )
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    activity = ev.select("user_id", F.col("m").alias("active_month")).distinct()
    joined = activity.join(cohorts, "user_id")
    return joined.groupBy(
        F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"),
        F.months_between("active_month", "cohort_month")
        .cast("int")
        .alias("months_since"),
    ).agg(F.count(F.lit(1)).alias("n_active_users"))


# ---------------------------------------------------------------------------
# q88: ordered funnel conversion (signup → click → purchase)
# ---------------------------------------------------------------------------

# A user converts through step k when their earliest step-k event is
# strictly after their earliest step-(k-1) event — the standard
# ordered-funnel definition; conditional MIN per step keeps the whole
# computation one map-side-combined aggregate per user.
_Q88_SQL = """
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
      FROM events GROUP BY user_id
    ),
    flags AS (
      SELECT user_id,
             (t1 IS NOT NULL) AS s1,
             (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1) AS s2,
             (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
              AND t3 IS NOT NULL AND t3 > t2) AS s3
      FROM steps
    )
    SELECT CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_signup_click,
           CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_signup_click_purchase,
           ROUND(SUM(CASE WHEN s3 THEN 1 ELSE 0 END)
                 / CAST(NULLIF(SUM(CASE WHEN s1 THEN 1 ELSE 0 END), 0)
                        AS DOUBLE), 6) AS conversion_rate
    FROM flags
"""


@register("q88_funnel_conversion", _Q88_SQL)
def q88_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase): per-user earliest
    step timestamps via conditional MINs in ONE map-side-combined
    aggregate (no per-step joins, no window), then a 1-row conversion
    summary. 100 TB of events costs one user-keyed shuffle carrying
    three timestamps per user."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    steps = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t2"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t3"),
    )
    s1 = F.col("t1").isNotNull()
    s2 = s1 & F.col("t2").isNotNull() & (F.col("t2") > F.col("t1"))
    s3 = s2 & F.col("t3").isNotNull() & (F.col("t3") > F.col("t2"))
    flags = steps.select(
        s1.cast("long").alias("s1"),
        s2.cast("long").alias("s2"),
        s3.cast("long").alias("s3"),
    )
    return flags.agg(
        F.sum("s1").alias("n_signup"),
        F.sum("s2").alias("n_signup_click"),
        F.sum("s3").alias("n_signup_click_purchase"),
        F.round(
            F.sum("s3") / F.nullif(F.sum("s1"), F.lit(0)).cast("double"), 6
        ).alias("conversion_rate"),
    )
