"""Registry: queries added in round 6.

Starts with the cube cross-tab (operators/pivot.py:cube_agg was
unit-only until now — same exact-oracle bar as q72's rollup), then
grows with the round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.registry import _ORACLES, register
from nahuatl_data_pipeline_spark.schemas import load_table


# ---------------------------------------------------------------------------
# q89: region × order-status cube (all four grouping sets)
# ---------------------------------------------------------------------------

_Q89_SQL = """
    SELECT COALESCE(r.r_name, 'ALL') AS region_name,
           COALESCE(o.o_orderstatus, 'ALL') AS order_status,
           GROUPING(r.r_name) * 2 + GROUPING(o.o_orderstatus)
             AS grouping_level,
           ROUND(SUM(o.o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY CUBE(r.r_name, o.o_orderstatus)
"""


@register("q89_status_region_cube", _Q89_SQL)
def q89_status_region_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-tab via ``cube_agg``: detail, per-region, per-status,
    and grand-total rows from ONE Expand shuffle (2^2 grouping sets,
    expanded map-side — never four separate aggregates). Same
    ``grouping_level`` = ANSI GROUPING bitmask contract as q72's
    rollup. Fixed-size dims (nation/region) are force-broadcast;
    ``customer`` scales with the data so its join is left to AQE
    (broadcast while it fits, shuffle fallback beyond)."""
    from nahuatl_data_pipeline_spark.operators.pivot import cube_agg

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("o_orderstatus").alias("order_status"),
            "o_totalprice",
        )
    )
    return cube_agg(
        joined,
        ["region_name", "order_status"],
        [
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        ],
    )


# ---------------------------------------------------------------------------
# q90: hourly OHLC bars per event type
# ---------------------------------------------------------------------------

_Q90_SQL = """
    WITH ranked AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS bar_ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, DATE_TRUNC('hour', ts)
               ORDER BY ts, event_id) AS ra,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, DATE_TRUNC('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    )
    SELECT event_type, bar_ts,
           ROUND(MAX(CASE WHEN ra = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(MAX(CASE WHEN rd = 1 THEN value END), 4) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM ranked
    GROUP BY event_type, bar_ts
"""


@register("q90_ohlc_bars", _Q90_SQL)
def q90_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling (operators/timeseries.py): open/close
    via min_by/max_by over a (ts, event_id) struct — ONE map-side-
    combined aggregate, no row_number window sorting whole partitions
    (the oracle's ROW_NUMBER formulation is the semantics spec, not the
    plan). 100 TB of ticks shuffles only per-bar candidates."""
    from nahuatl_data_pipeline_spark.operators.timeseries import ohlc_downsample

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    bars = ohlc_downsample(
        ev, ts="ts", value="value", by=["event_type"],
        width="1 hour", tiebreak=["event_id"],
    )
    return bars.select(
        "event_type",
        "bar_ts",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        "volume",
    )


# ---------------------------------------------------------------------------
# q91: skew-salted fact⨝dim join (registers operators/skew.py:salted_join)
# ---------------------------------------------------------------------------

_Q91_SQL = """
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
"""


@register("q91_salted_segment_join", _Q91_SQL)
def q91_salted_segment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events⨝customer through ``salted_join`` (operators/skew.py): the
    fact side's hot user_ids spread over num_salts sub-keys, the dim
    replicates once per salt — the manual escape for skew AQE splitting
    can't fix (same salting contract as q69's salted_agg; salt is a
    deterministic content hash, so results are partition-independent).
    Oracle = the plain equi-join: salting must never change output."""
    from nahuatl_data_pipeline_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    return (
        salted_join(ev, dim, on="user_id", num_salts=8)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# q92: per-document character entropy
# ---------------------------------------------------------------------------

_Q92_SQL = """
    SELECT doc_id, ROUND(entropy(c), 6) AS char_entropy
    FROM (
      SELECT doc_id, unnest(string_split(text, '')) AS c
      FROM documents WHERE text IS NOT NULL AND text <> ''
    )
    GROUP BY doc_id
"""


@register("q92_char_entropy", _Q92_SQL)
def q92_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (functions/text_analysis.py:
    char_entropy): Arrow-batched pandas_udf, one narrow projection — vs
    the oracle's explode-to-chars formulation, which shuffles a row per
    CHARACTER and exists only because DuckDB's entropy() is an
    aggregate. Complements q56's zlib ratio with an exact-math,
    oracle-checkable signal."""
    from nahuatl_data_pipeline_spark.functions.text_analysis import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(
            "doc_id", F.round(char_entropy("text"), 6).alias("char_entropy")
        )
    )


# ---------------------------------------------------------------------------
# q93: independent marginals via GROUPING SETS (not a cube)
# ---------------------------------------------------------------------------

_Q93_SQL = """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
             AS grouping_level,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


@register("q93_priority_status_sets", _Q93_SQL)
def q93_priority_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping sets (operators/pivot.py:grouping_sets_agg):
    the two 1-D marginals + grand total WITHOUT the 2-D detail a cube
    would force — Expand factor 3, not 4, in ONE shuffle (never one
    re-scanning aggregate per set). Completes the rollup (q72) / cube
    (q89) family with the general form both specialize."""
    from nahuatl_data_pipeline_spark.operators.pivot import grouping_sets_agg

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    return grouping_sets_agg(
        orders,
        ["priority", "status"],
        [["priority"], ["status"], []],
        [
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ],
    )


# ---------------------------------------------------------------------------
# q94: chi-squared independence of event type × weekday
# ---------------------------------------------------------------------------

_Q94_SQL = """
    WITH cells AS (
      SELECT event_type, DAYOFWEEK(ts) AS dow, COUNT(*) AS n_ab
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, SUM(n_ab) AS n_a FROM cells GROUP BY 1),
    k AS (SELECT dow, SUM(n_ab) AS n_b FROM cells GROUP BY 1),
    g AS (SELECT SUM(n_ab) AS n,
                 COUNT(DISTINCT event_type) AS ka,
                 COUNT(DISTINCT dow) AS kb
          FROM cells),
    grid AS (
      SELECT r.event_type, r.n_a, k.dow, k.n_b,
             COALESCE(c.n_ab, 0) AS n_ab
      FROM r CROSS JOIN k
      LEFT JOIN cells c
        ON c.event_type IS NOT DISTINCT FROM r.event_type
       AND c.dow IS NOT DISTINCT FROM k.dow
    )
    SELECT ROUND(SUM(POWER(grid.n_ab
                           - CAST(grid.n_a AS DOUBLE) * grid.n_b / g.n, 2)
                     / (CAST(grid.n_a AS DOUBLE) * grid.n_b / g.n)), 6)
             AS chi2,
           CAST((MIN(g.ka) - 1) * (MIN(g.kb) - 1) AS BIGINT) AS dof,
           CAST(MIN(g.n) AS BIGINT) AS n_obs
    FROM grid CROSS JOIN g
"""


@register("q94_event_weekday_chi2", _Q94_SQL)
def q94_event_weekday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence tripwire (operators/contingency.py): is the event
    mix weekday-dependent? One full-data (type, dow) count shuffle,
    then |A|×|B| cells fold to a 1-row statistic via broadcast
    marginals (cells localCheckpoint'ed — consumed by 3 aggregates).
    Null-safe marginal joins, mirrored by IS NOT DISTINCT FROM in the
    oracle."""
    from nahuatl_data_pipeline_spark.operators.contingency import (
        chi2_independence,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    )
    return chi2_independence(ev, "event_type", "dow")


# ---------------------------------------------------------------------------
# q95: event-type transition matrix (per-user Markov counts)
# ---------------------------------------------------------------------------

_Q95_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM events
    )
    SELECT prev_state, event_type AS next_state,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_state IS NOT NULL
    GROUP BY prev_state, next_state
"""


@register("q95_event_transitions", _Q95_SQL)
def q95_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix (operators/timeseries.py:
    transition_counts): LAG over a (ts, event_id)-deterministic
    per-user order — one user-keyed window shuffle, then a
    |states|²-wide partial-count aggregate. The sequence-analytics
    primitive behind funnel (q88) and session (q46) views."""
    from nahuatl_data_pipeline_spark.operators.timeseries import (
        transition_counts,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return transition_counts(
        ev, by="user_id", state="event_type", order_by=["ts", "event_id"]
    )


# ---------------------------------------------------------------------------
# q96: deterministic epoch shuffle order
# ---------------------------------------------------------------------------

_Q96_SQL = """
    SELECT doc_id, MD5('7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id
    LIMIT 100
"""


@register("q96_epoch_shuffle", _Q96_SQL)
def q96_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 100 docs of epoch 7's deterministic global shuffle order
    (operators/mixing.py:epoch_shuffle): the permutation is a pure
    content hash — reproducible across runs/partitionings/engines,
    unlike rand()-ordered shuffles. orderBy().limit() plans as
    TakeOrderedAndProject; the full-epoch materialization path is
    write_range_sorted on the key (one range exchange, globally ordered
    shards, no single-partition sort)."""
    from nahuatl_data_pipeline_spark.operators.mixing import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        epoch_shuffle(docs, key="doc_id", epoch=7)
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q97: near-dup graph degree profile (how duplicated is the duplicated?)
# ---------------------------------------------------------------------------

# Oracle reuses q38's registered oracle verbatim as a CTE — one
# definition of the pair graph, so the two queries cannot drift.
_Q97_SQL_TEMPLATE = """
    WITH pairs AS ({q38}),
    deg AS (
      SELECT doc_id, COUNT(*) AS degree
      FROM (
        SELECT id_a AS doc_id FROM pairs
        UNION ALL
        SELECT id_b AS doc_id FROM pairs
      )
      GROUP BY doc_id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
"""


@register(
    "q97_dup_degree_profile",
    _Q97_SQL_TEMPLATE.format(q38=_ORACLES["q38_ngram_jaccard_pairs"]),
)
def q97_dup_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph — the sizing
    signal between q38 (pairs) and q58 (components): a heavy tail means
    big dup families (cluster-dedup territory), a flat profile means
    pairwise-only duplication. Pairs come from the session-shared
    build-once table (near_dup_pairs): when q38 ran first, this query
    is two partial-count aggregates over the persisted (small) pair
    set — no re-derivation (57 s of its 30× wall in round 7)."""
    from nahuatl_data_pipeline_spark import registry_ext

    pairs = registry_ext.q38_pairs(spark, sf_dir)
    ids = pairs.select(F.col("id_a").alias("doc_id")).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    deg = ids.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# q98: record linkage — blocked levenshtein name matching
# ---------------------------------------------------------------------------

_Q98_SQL = """
    WITH names AS (
      SELECT p_name, MIN(p_partkey) AS name_id FROM part GROUP BY p_name
    ),
    base AS (
      SELECT name_id, p_name FROM names
      UNION ALL
      SELECT name_id + 10000000, p_name || 'x'
      FROM names WHERE name_id < 50
    ),
    keyed AS (
      SELECT name_id, p_name,
             SUBSTRING(LOWER(p_name), 1, 5) AS blk
      FROM base
    )
    SELECT a.name_id AS id_a, b.name_id AS id_b,
           a.p_name AS text_a, b.p_name AS text_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.name_id < b.name_id
    WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


@register("q98_part_name_linkage", _Q98_SQL)
def q98_part_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (operators/linkage.py): prefix-blocked
    levenshtein self-match over DISTINCT part names + 50 planted typos.
    The exact-dedup-first step is the method, not an optimization:
    repeated identical names would otherwise flood the output with
    distance-0 pairs quadratic in family size (the LSH mega-bucket
    phenomenon in miniature — measured 16 s/millions of rows at sf0.1
    before this step, sub-second after). Blocking makes the join
    Σ block², never n²; the distance threshold is pushed into Spark's
    bounded levenshtein (DP short-circuits past the bound). Plant
    offset +10⁷ stays above real ids at any measured SF."""
    from nahuatl_data_pipeline_spark.operators.linkage import (
        blocked_levenshtein_pairs,
        prefix_block,
    )

    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
    )
    planted = names.filter(F.col("name_id") < 50).select(
        (F.col("name_id") + 10_000_000).alias("name_id"),
        F.concat("p_name", F.lit("x")).alias("p_name"),
    )
    return blocked_levenshtein_pairs(
        names.select("name_id", "p_name").unionByName(planted),
        "name_id",
        "p_name",
        prefix_block("p_name", 5),
        max_distance=2,
    )


# ---------------------------------------------------------------------------
# q99: single-pass table profile
# ---------------------------------------------------------------------------

_Q99_SQL = """
    SELECT 'o_orderkey' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val,
           ROUND(AVG(o_orderkey), 6) AS mean_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS VARCHAR),
           CAST(MAX(o_totalprice) AS VARCHAR),
           ROUND(AVG(o_totalprice), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus),
           CAST(NULL AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority),
           CAST(NULL AS DOUBLE)
    FROM orders
"""


@register("q99_orders_profile", _Q99_SQL)
def q99_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass profiler (operators/profile.py): every column's
    count/nulls/distinct/min/max/mean from ONE aggregate over ONE scan
    + a constant-size unpivot — the oracle's per-column UNION ALL
    formulation is the semantics spec and scans the table once per
    column, exactly what the operator avoids. approx=True swaps exact
    distinct for approx_count_distinct at 100 TB (no Expand)."""
    from nahuatl_data_pipeline_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders,
        ["o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"],
    )


# ---------------------------------------------------------------------------
# q100: cross-source duplication matrix
# ---------------------------------------------------------------------------

_Q100_SQL = """
    WITH counts AS (
      SELECT COALESCE(LOWER(TRIM(text)), '') AS k, source AS src,
             COUNT(*) AS c
      FROM documents
      GROUP BY 1, 2
    )
    SELECT a.src AS source_a, b.src AS source_b,
           CAST(SUM(CASE WHEN a.src = b.src
                         THEN a.c * (a.c - 1) // 2
                         ELSE a.c * b.c END) AS BIGINT) AS n_dup_pairs
    FROM counts a JOIN counts b ON a.k = b.k AND a.src <= b.src
    GROUP BY a.src, b.src
    HAVING SUM(CASE WHEN a.src = b.src THEN a.c * (a.c - 1) // 2
                    ELSE a.c * b.c END) > 0
"""


@register("q100_cross_source_dups", _Q100_SQL)
def q100_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup pair counts per source pair
    (operators/dedup.py:cross_source_dup_matrix): same-source pairs =
    within-crawl repetition, cross-source = mirror overlap — the signal
    that decides which feed to cap (q77) or drop. One corpus shuffle,
    then |keys×sources|-sized count-table join; per-key work is
    |sources|², never group-size²."""
    from nahuatl_data_pipeline_spark.operators.dedup import (
        cross_source_dup_matrix,
    )
    from nahuatl_data_pipeline_spark.functions.normalize import dedup_key

    docs = load_table(spark, sf_dir, "documents")
    return cross_source_dup_matrix(docs, "source", [dedup_key("text")])


# ---------------------------------------------------------------------------
# q101: exact interpolated percentiles per group
# ---------------------------------------------------------------------------

_Q101_SQL = """
    SELECT event_type,
           ROUND(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY value), 6)
             AS p25,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value), 6)
             AS p50,
           ROUND(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY value), 6)
             AS p75,
           CAST(COUNT(value) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
"""


@register("q101_value_percentiles", _Q101_SQL)
def q101_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated per-group percentiles (``F.percentile`` —
    same linear interpolation as ANSI PERCENTILE_CONT): one hash
    aggregate keyed by event_type, exact because per-group value sets
    fit an aggregation buffer at any corpus size when |groups| is
    bounded. The UNBOUNDED-group / 100 TB path is q64/q79's mergeable
    approx_percentile sketch — this query pins the exact semantics
    those approximations are graded against."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.25), 6).alias("p25"),
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.75), 6).alias("p75"),
        F.count("value").alias("n"),
    )


# ---------------------------------------------------------------------------
# q102: revenue↔account-balance correlation per region
# ---------------------------------------------------------------------------

_Q102_SQL = """
    WITH per_cust AS (
      SELECT c.c_custkey, c.c_acctbal, n.n_regionkey,
             SUM(o.o_totalprice) AS spend
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2, 3
    )
    SELECT r.r_name AS region,
           ROUND(CORR(p.c_acctbal, p.spend), 6) AS balance_spend_corr,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM per_cust p JOIN region r ON r.r_regionkey = p.n_regionkey
    GROUP BY r.r_name
"""


@register("q102_balance_spend_corr", _Q102_SQL)
def q102_balance_spend_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of customer balance vs total spend per
    region (``F.corr`` — a decomposable moment aggregate: map-side
    partial sums of x, y, xy, x², y², so 100 TB costs one customer-
    keyed shuffle + one 5-group fold). Dimension joins follow the
    engine broadcast policy: nation/region forced, customer-keyed
    aggregate BEFORE the region fold so the wide rows never fan out."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    )
    region = F.broadcast(
        load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    )
    per_cust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_acctbal", "n_regionkey")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    return (
        per_cust.join(region, per_cust.n_regionkey == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.round(F.corr("c_acctbal", "spend"), 6).alias("balance_spend_corr"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# q103: per-type linear trend (least-squares regression aggregates)
# ---------------------------------------------------------------------------

# x is CENTERED on a shared literal epoch (2024-01-01): the raw-epoch
# intercept extrapolates ~1.7e9 s outside the data and amplifies
# slope ulps past any rounding (engines disagreed at 4 dp); centered,
# the intercept sits inside the data range and both engines agree.
_Q103_X = "EPOCH(ts) - 1704067200"

_Q103_SQL = f"""
    SELECT event_type,
           ROUND(REGR_SLOPE(value, {_Q103_X}) * 86400, 4) AS slope_per_day,
           ROUND(REGR_INTERCEPT(value, {_Q103_X}), 4) AS intercept,
           ROUND(REGR_R2(value, {_Q103_X}), 6) AS r2,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
"""


@register("q103_value_trend_regression", _Q103_SQL)
def q103_value_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares value-over-time trend per event type
    (``F.regr_slope/intercept/r2`` — decomposable moment aggregates
    like q102's corr: map-side partial sums of x, y, xy, x², y², one
    type-keyed shuffle carrying 5 numbers per group). The analytic
    counterpart of q04's moving-average trend: a closed-form slope
    instead of a window."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_timestamp("ts") - F.lit(1704067200)).cast("double").alias("x"),
        "value",
    )
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope("value", "x") * 86400, 4).alias("slope_per_day"),
        F.round(F.regr_intercept("value", "x"), 4).alias("intercept"),
        F.round(F.regr_r2("value", "x"), 6).alias("r2"),
        F.count(F.lit(1)).alias("n"),
    )
