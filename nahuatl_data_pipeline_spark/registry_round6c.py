"""Round-6 additions, third block (q122+): set-overlap sketching,
token-budget corpus selection, long-tail reporting, distributional
feature transforms, leakage-safe fold assignment, label-agreement and
uncertainty statistics, and time-series gap repair.

Same contract as every registry block: each query pairs a library
operator with an exact DuckDB oracle under the driver's
rows+schema+hash protocol, using the repo's engine-portability
recipes — md5-derived hashes/uniforms (identical arithmetic spelled
out in SQL), doubles rounded before comparison or emission, and
deterministic total orders with explicit tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import tokens
from nahuatl_data_pipeline_spark.registry import register
from nahuatl_data_pipeline_spark.schemas import load_table
from nahuatl_data_pipeline_spark.session import pin

# ---------------------------------------------------------------------------
# q122: minwise set-overlap sketch (cardinality + Jaccard, bit-exact)
# ---------------------------------------------------------------------------

_Q122_K = 64

# hash64 + affine family spelled in SQL: h0 = first 15 md5 hex chars
# as int64 mod P (functions/hashing.py:hash64), member i =
# (A_i·h0 + B_i) mod P with the minhash_constants A/B derived from i
# IN SQL — identical arithmetic to sketches.py:minwise_sketch.
_Q122_H = (
    "(((i * 2654435761 + 1) % 2147483647)"
    " * (CAST(('0x' || SUBSTRING(MD5(CAST({key} AS VARCHAR)), 1, 15))"
    "         AS BIGINT) % 2147483647)"
    " + (i * 40503 + 17) % 2147483647) % 2147483647"
)

_Q122_SQL = f"""
    WITH ii AS (SELECT UNNEST(RANGE({_Q122_K})) AS i),
    a AS (
      SELECT i, MIN({_Q122_H.format(key="o_custkey")}) AS h
      FROM orders, ii WHERE o_custkey IS NOT NULL GROUP BY i
    ),
    b AS (
      SELECT i, MIN({_Q122_H.format(key="c_custkey")}) AS h
      FROM customer, ii WHERE c_custkey IS NOT NULL GROUP BY i
    ),
    j AS (SELECT a.i, a.h AS ha, b.h AS hb FROM a JOIN b USING (i)),
    est AS (
      SELECT CAST({_Q122_K} AS INT) AS k,
             ROUND({_Q122_K} / SUM(ha / 2147483647.0) - 1.0, 4) AS est_a,
             ROUND({_Q122_K} / SUM(hb / 2147483647.0) - 1.0, 4) AS est_b,
             ROUND({_Q122_K} / SUM(LEAST(ha, hb) / 2147483647.0) - 1.0, 4)
               AS est_union,
             ROUND(AVG(CASE WHEN ha = hb THEN 1.0 ELSE 0.0 END), 4)
               AS est_jaccard
      FROM j
    )
    SELECT k, est_a, est_b, est_union, est_jaccard,
           ROUND(est_jaccard * est_union, 4) AS est_intersect,
           (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
             AS exact_a,
           (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer)
             AS exact_b
    FROM est
"""


@register("q122_minwise_overlap", _Q122_SQL)
def q122_minwise_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much do two key sets overlap — estimated from two fixed-size
    sketches, never a distinct-join? Ordering customers (orders.o_custkey)
    vs the customer dimension: |A|, |B|, |A∪B|, Jaccard, |A∩B|, all from
    two 64-row minwise sketches (``sketches.py:minwise_sketch``), plus
    the exact distinct counts as the audit leg (folded into the SAME
    build aggregates — one scan per table).

    100 TB story: each sketch build is one map-side-combined aggregate
    (≤ k partial minima per task cross the wire); the overlap math runs
    on 2×64 rows. "Do these two 50 TB corpora share documents?" becomes
    two cheap scans + a constant-size join — no COUNT DISTINCT shuffle,
    no set-intersection join. The oracle recomputes every hash
    bit-for-bit (portable md5 family), so the gate is exact, not an
    error bound — same contract as the CMS (q111) and Bloom (q121).
    """
    from nahuatl_data_pipeline_spark.operators.sketches import (
        minwise_overlap,
        minwise_sketch,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # the n_exact audit legs ride the overlap join as carry columns
    # (max over 64 identical values), so each sketch has exactly ONE
    # consumer and the whole query is a single job — no per-sketch
    # localCheckpoint materialization, no separate audit aggregates
    # (r13: 2.5 s -> ~0.7 s, identical output)
    sk_a = minwise_sketch(
        orders, "o_custkey", k=_Q122_K, exact=True
    ).withColumnRenamed("n_exact", "exact_a")
    sk_b = minwise_sketch(
        customer, "c_custkey", k=_Q122_K, exact=True
    ).withColumnRenamed("n_exact", "exact_b")
    return minwise_overlap(
        sk_a, sk_b, k=_Q122_K, carry=("exact_a", "exact_b")
    )


# ---------------------------------------------------------------------------
# q123: token-budget corpus selection (banded distributed prefix sum)
# ---------------------------------------------------------------------------

_Q123_BUDGET = 20000

_Q123_TOKS = (
    "LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),"
    " x -> x <> '')"
)

_Q123_SQL = f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(LEN({_Q123_TOKS}) AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_DISTINCT({_Q123_TOKS})) AS BIGINT) AS n_types
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, n_tokens,
             CAST(n_types AS DOUBLE) / n_tokens AS score
      FROM t WHERE n_tokens > 0
    ),
    c AS (
      SELECT *, SUM(n_tokens) OVER (
               ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM s
    )
    SELECT doc_id, source, n_tokens, ROUND(score, 6) AS ttr,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= {_Q123_BUDGET}
"""


@register("q123_token_budget_select", _Q123_SQL)
def q123_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 20k-token training budget with the best documents first:
    rank by type-token ratio (distinct/total whitespace tokens — a
    repetition-penalizing quality signal) descending, keep while the
    running token total fits (``mixing.py:budget_select``).

    The oracle is ONE global cumulative window; the engine is the
    banded distributed prefix sum — approx-quantile cuts band the
    score, within-band cumsums run key-partitioned in parallel, band
    offsets come from a ``bands``-row table. Same selected set, no
    single-partition window over the corpus (the q76 trap; the
    packing.py prefix-sum shape). Ordering compares UNROUNDED scores
    in both engines (identical IEEE division of identical integers),
    with doc_id tiebreaks; ttr is rounded only for emission.
    """
    from nahuatl_data_pipeline_spark.operators.mixing import budget_select

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    base = (
        docs.select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn(
            "score", F.col("n_types").cast("double") / F.col("n_tokens")
        )
        # deliberately NOT materialized: budget_select reads this three
        # times, but the tokenization is whole-stage-codegen'd JVM work
        # over a column-pruned scan — measured FASTER re-run lazily 3x
        # (8.5 s) than checkpointed once (20 s) at the 100x replica
    )
    out = budget_select(
        base,
        weight=F.col("n_tokens"),
        order=F.col("score"),
        id_col="doc_id",
        budget=_Q123_BUDGET,
    )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round("score", 6).alias("ttr"),
        F.col("cum_weight").cast("long").alias("cum_tokens"),
    )


# ---------------------------------------------------------------------------
# q124: top-N + OTHER long-tail vocabulary report
# ---------------------------------------------------------------------------

_Q124_SQL = r"""
    WITH tok AS (
      SELECT UNNEST(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
               x -> x <> '')) AS t
      FROM documents
    ),
    counts AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
    ranked AS (
      SELECT t, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS r
      FROM counts
    ),
    lab AS (
      SELECT CASE WHEN r <= 20 THEN t ELSE 'OTHER' END AS label, cnt
      FROM ranked
    ),
    agg AS (
      SELECT label, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM lab GROUP BY label
    )
    SELECT label, total, n_keys,
           ROUND(CAST(total AS DOUBLE) / SUM(total) OVER (), 6) AS share
    FROM agg
"""


@register("q124_token_topn_other", _Q124_SQL)
def q124_token_topn_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage, head vs tail: the 20 heaviest tokens stay
    named, everything else folds into one OTHER row carrying the tail's
    total mass and type count (``pivot.py:topn_other``) — the answer to
    "how much of the corpus do the top-k tokens cover?" without
    emitting the million-row tail. One occurrence-count shuffle; the
    rank window runs on the vocabulary-sized count table, never the
    corpus. The ≤21-row result is materialized before the share
    projection so the grand-total crossJoin reads 21 rows instead of
    re-running the count (exchange-reuse)."""
    from nahuatl_data_pipeline_spark.operators.pivot import topn_other

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
    out = pin(topn_other(occ, "t", n=20), eager=True, truncate=True)
    grand = out.agg(F.sum("total").alias("__g"))
    return (
        out.crossJoin(F.broadcast(grand))
        .select(
            "label",
            "total",
            "n_keys",
            F.round(F.col("total").cast("double") / F.col("__g"), 6).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q125: percentile transform vs a reference distribution
# ---------------------------------------------------------------------------

_Q125_BANDS = 20
_Q125_QS = [i / _Q125_BANDS for i in range(1, _Q125_BANDS)]
_Q125_CUTOFF = "1997-01-01"

_Q125_SQL = f"""
    WITH ref AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate < DATE '{_Q125_CUTOFF}'
    ),
    cuts AS (
      SELECT LIST_TRANSFORM(
               QUANTILE_CONT(v, {_Q125_QS!r}), c -> ROUND(c, 6)
             ) AS cs
      FROM ref
    ),
    tgt AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate >= DATE '{_Q125_CUTOFF}'
    ),
    banded AS (
      SELECT v, CAST(LEN(LIST_FILTER((SELECT cs FROM cuts), c -> c <= v))
                     AS INT) AS band
      FROM tgt
    )
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(v), 2) AS min_price,
           ROUND(MAX(v), 2) AS max_price
    FROM banded GROUP BY band
"""


@register("q125_price_percentile_bands", _Q125_SQL)
def q125_price_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize recent order prices against the PRE-1997
    reference distribution (``quality.py:percentile_transform``): each
    post-cutoff order lands in the ventile of the historical price
    distribution its total falls into — drift made visible as band
    counts (a stationary distribution fills ~5% per band; mass piling
    into band 19 means prices outgrew history).

    Scale shape: one exact-percentile aggregate over the reference →
    19 cuts broadcast → banding is a narrow filter-count projection;
    the scored side never shuffles until the final ≤20-group count.
    Cuts are rounded before comparison on BOTH engines (q101's
    PERCENTILE_CONT parity + the rounded-stats recipe)."""
    from nahuatl_data_pipeline_spark.operators.quality import (
        percentile_transform,
    )

    orders = load_table(spark, sf_dir, "orders")
    ref = orders.where(F.col("o_orderdate") < F.lit(_Q125_CUTOFF))
    tgt = orders.where(F.col("o_orderdate") >= F.lit(_Q125_CUTOFF))
    scored = percentile_transform(
        tgt.select(F.col("o_totalprice").alias("v")),
        F.col("v"),
        ref,
        F.col("o_totalprice"),
        bands=_Q125_BANDS,
    )
    return scored.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("v"), 2).alias("min_price"),
        F.round(F.max("v"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# q126: leakage-safe grouped k-fold assignment
# ---------------------------------------------------------------------------

_Q126_K = 5

_Q126_SQL = f"""
    WITH f AS (
      SELECT doc_id, source,
             CAST(CAST(('0x' || SUBSTRING(MD5('7:fold:' ||
                    COALESCE(CAST(source AS VARCHAR), '')), 1, 15))
                  AS BIGINT) % 2147483647 % {_Q126_K} AS INT) AS fold
      FROM documents
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_groups
    FROM f GROUP BY fold
"""


@register("q126_grouped_kfold", _Q126_SQL)
def q126_grouped_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment where the SOURCE is the
    leakage unit (``split.py:grouped_kfold``): every document of a
    source shares a fold, so near-duplicate documents from one crawl
    domain can never sit on both sides of a train/eval boundary — the
    k-fold analog of J6's split discipline. Assignment is a zero-
    shuffle content-hash projection (portable md5), so the oracle
    assigns IDENTICAL folds; the report aggregates per-fold row and
    group counts (Σ n_groups = |sources| — each group in exactly one
    fold)."""
    from nahuatl_data_pipeline_spark.operators.split import grouped_kfold

    docs = load_table(spark, sf_dir, "documents")
    return (
        grouped_kfold(docs, "source", k=_Q126_K, seed=7)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_groups"),
        )
    )


# ---------------------------------------------------------------------------
# q127: Cohen's kappa — agreement between two labeling rules
# ---------------------------------------------------------------------------

_Q127_SQL = r"""
    WITH lab AS (
      SELECT CASE WHEN LENGTH(text) >= 200 THEN 'long' ELSE 'short' END AS a,
             CASE WHEN LEN(LIST_FILTER(
                    REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                    x -> x <> '')) >= 40
                  THEN 'long' ELSE 'short' END AS b
      FROM documents WHERE text IS NOT NULL
    ),
    cells AS (SELECT a, b, COUNT(*) AS c FROM lab GROUP BY a, b),
    tot AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n,
             CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS DOUBLE) AS d
      FROM cells
    ),
    rm AS (SELECT a AS l, SUM(c) AS r FROM cells GROUP BY a),
    cm AS (SELECT b AS l, SUM(c) AS k FROM cells GROUP BY b),
    pe_t AS (
      SELECT SUM(CAST(COALESCE(r, 0) AS DOUBLE)
                 * CAST(COALESCE(k, 0) AS DOUBLE)) AS rk
      FROM rm FULL OUTER JOIN cm USING (l)
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(d / n, 6) AS po,
           ROUND(rk / (n * n), 6) AS pe,
           ROUND((d / n - rk / (n * n)) / (1 - rk / (n * n)), 6) AS kappa
    FROM tot, pe_t
"""


@register("q127_length_rule_kappa", _Q127_SQL)
def q127_length_rule_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do two labeling rules agree beyond chance? Chars ≥ 200 vs
    whitespace tokens ≥ 40 as two 'long-document' annotators over the
    corpus (``contingency.py:cohens_kappa``) — the label-QA statistic
    for any double-annotated SFT set, where raw percent agreement
    flatters imbalanced labels and kappa subtracts the luck. One
    (a, b) count shuffle into a ≤4-cell table; marginals, chance
    agreement, and the statistic all derive from those cells."""
    from nahuatl_data_pipeline_spark.operators.contingency import (
        cohens_kappa,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    n_toks = F.size(tokens(F.lower(F.col("text"))))
    labeled = docs.select(
        F.when(F.length("text") >= 200, "long").otherwise("short").alias("a"),
        F.when(n_toks >= 40, "long").otherwise("short").alias("b"),
    )
    return cohens_kappa(labeled, "a", "b")


# ---------------------------------------------------------------------------
# q128: deterministic Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

_Q128_B = 64

def _q128_sql() -> str:
    from nahuatl_data_pipeline_spark.operators.bootstrap import (
        POISSON1_CUM_HEX,
    )

    # inverse-CDF CASE over the same 8-hex thresholds Spark compares
    # against (fixed-width lowercase hex orders exactly like the
    # 32-bit draw, so neither engine parses the hex at all)
    branches = " ".join(
        f"WHEN h8 <= '{t}' THEN {i}"
        for i, t in enumerate(POISSON1_CUM_HEX)
    )
    # 4 draws per md5 (round-13 scale fix, mirrored from
    # operators/bootstrap.py): replicate b reads the 8-hex window at
    # 1 + 8*(b%4) of hash group b//4
    return f"""
        WITH b AS (SELECT UNNEST(RANGE({_Q128_B})) AS b),
        u AS (
          SELECT b.b, o.o_totalprice AS x,
                 SUBSTRING(MD5('11:' || CAST(b.b // 4 AS VARCHAR)
                        || ':' || CAST(o.o_orderkey AS VARCHAR)),
                        1 + 8 * (b.b % 4), 8) AS h8
          FROM orders o, b
        ),
        pw AS (SELECT b, x, CASE {branches} ELSE 6 END AS w FROM u),
        reps AS (
          SELECT b, SUM(w * x) / CAST(SUM(w) AS DOUBLE) AS m
          FROM pw GROUP BY b
        ),
        stats AS (
          SELECT ROUND(QUANTILE_CONT(m, 0.025), 4) AS ci_lo,
                 ROUND(QUANTILE_CONT(m, 0.975), 4) AS ci_hi,
                 ROUND(STDDEV_SAMP(m), 4) AS se
          FROM reps
        ),
        base AS (
          SELECT CAST(COUNT(o_totalprice) AS BIGINT) AS n,
                 ROUND(AVG(o_totalprice), 4) AS mean
          FROM orders
        )
        SELECT n, mean, se, ci_lo, ci_hi FROM base, stats
    """


@register("q128_bootstrap_mean_ci", None)
def q128_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% CI for the mean order price from 64 DETERMINISTIC Poisson
    bootstrap resamples (``operators/bootstrap.py``): each order's
    multiplicity per replicate is inverse-CDF'd from a content-hash
    uniform, so the "random" resampling is a pure function of the data
    — reproducible across runs, partitionings, and engines, and hence
    oracle-checkable EXACTLY, which a rand()-seeded bootstrap never is.

    The error bar every corpus dashboard should carry ("quality went
    from .612 to .608 — noise or regression?") at the cost of one
    map-side-combined aggregate: the shuffle carries ≤ 64 partial rows
    per task; replicate stats run on a 64-row table."""
    from nahuatl_data_pipeline_spark.operators.bootstrap import (
        bootstrap_mean_ci,
    )

    orders = load_table(spark, sf_dir, "orders")
    return bootstrap_mean_ci(
        orders,
        F.col("o_totalprice"),
        "o_orderkey",
        reps=_Q128_B,
        seed=11,
    )


from nahuatl_data_pipeline_spark.registry import _ORACLES  # noqa: E402

_ORACLES["q128_bootstrap_mean_ci"] = _q128_sql()


# ---------------------------------------------------------------------------
# q129: time-spine densification + linear interpolation
# ---------------------------------------------------------------------------

_Q129_SQL = """
    WITH obs AS (
      SELECT event_type,
             CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) // 3600 AS slot,
             ROUND(AVG(value), 6) AS v
      FROM events WHERE user_id < 8 AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(slot) AS lo, MAX(slot) AS hi
      FROM obs GROUP BY 1
    ),
    spine AS (
      SELECT event_type, UNNEST(RANGE(lo, hi + 1)) AS slot FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.slot, o.v
      FROM spine s LEFT JOIN obs o USING (event_type, slot)
    ),
    f AS (
      SELECT *,
        LAST_VALUE(v IGNORE NULLS) OVER w AS pv,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
          OVER w AS ps,
        FIRST_VALUE(v IGNORE NULLS) OVER w2 AS nv,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
          OVER w2 AS ns
      FROM j
      WINDOW w AS (PARTITION BY event_type ORDER BY slot
                   ROWS UNBOUNDED PRECEDING),
             w2 AS (PARTITION BY event_type ORDER BY slot
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, slot,
           FLOOR((CASE WHEN v IS NOT NULL THEN v
                       WHEN pv IS NOT NULL AND nv IS NOT NULL
                         THEN pv + (nv - pv)
                                * ((slot - ps) * 1.0 / (ns - ps))
                       ELSE COALESCE(pv, nv) END) * 10000 + 0.5)
             / 10000.0 AS v_filled,
           (v IS NULL) AS was_gap
    FROM f
"""


@register("q129_hourly_interpolation", _Q129_SQL)
def q129_hourly_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize a sparse event stream onto the dense hourly grid and
    linearly interpolate the holes (``repair.py:interpolate_fill``) —
    the resample-then-lerp primitive behind every "metric per hour"
    chart over irregular telemetry, and the repair tier above q86's
    flat LOCF. The user_id < 8 slice sparsifies the stream so real
    gaps exist at every scale factor. Spine slots are exact epoch-hour
    integers (UTC session, the schemas.py contract); gap fractions are
    integer arithmetic; only the value lerp floats, rounded 4 on
    emission."""
    from nahuatl_data_pipeline_spark.operators.repair import (
        interpolate_fill,
    )

    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.where((F.col("user_id") < 8) & F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
            )
            .cast("long")
            .alias("slot"),
        )
        # means rounded BEFORE interpolation (the rounded-stats recipe):
        # lerp from identical doubles is itself identical cross-engine
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    out = interpolate_fill(obs, ["event_type"], "slot", "v")
    # floor(x*1e4 + 0.5)/1e4, NOT ROUND: midpoint lerps (frac = 1/2 of
    # two 6-dec means) land EXACTLY on round-half boundaries, where
    # Spark's decimal-string HALF_UP and DuckDB's float-multiply ROUND
    # disagree; this quantizer is pure IEEE ops on identical inputs,
    # so both engines emit the identical double
    return out.select(
        "event_type",
        "slot",
        (
            F.floor(F.col("v_filled") * 10000 + F.lit(0.5)) / F.lit(10000.0)
        ).alias("v_filled"),
        "was_gap",
    )


# ---------------------------------------------------------------------------
# q130: frequent event paths (state trigrams per user)
# ---------------------------------------------------------------------------

_Q130_SQL = """
    WITH o AS (
      SELECT event_type,
             LAG(event_type, 2) OVER w AS s1,
             LAG(event_type, 1) OVER w AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT s1, s2, event_type AS s3, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM o
    WHERE s1 IS NOT NULL AND s2 IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2, 3
"""


@register("q130_event_path_trigrams", _Q130_SQL)
def q130_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: every length-3 run of event types per user
    (ordered by (ts, event_id) — a deterministic total order), counted
    corpus-wide (``timeseries.py:path_ngrams``, q95's Markov bigrams
    generalized). One user-keyed window shuffle computes both lags in
    a single sort pass; the path-keyed aggregate is ≤ |states|³ wide,
    so at 100 TB the second shuffle carries partial counts only."""
    from nahuatl_data_pipeline_spark.operators.timeseries import path_ngrams

    ev = load_table(spark, sf_dir, "events")
    return path_ngrams(
        ev, "user_id", "event_type", ["ts", "event_id"], n=3
    )


# ---------------------------------------------------------------------------
# q131: inter-arrival gap profile per event type
# ---------------------------------------------------------------------------

_Q131_SQL = """
    WITH g AS (
      SELECT event_type,
             EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap) AS p50_us,
           PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY gap) AS p90_us,
           CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS mean_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY event_type
"""


@register("q131_event_gap_stats", _Q131_SQL)
def q131_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long until a user acts again — inter-arrival gaps per
    event type of the later event (``timeseries.py:gap_stats``), the
    recency/hazard profile behind session-timeout tuning and
    retention features. Gaps are EXACT integer microseconds
    (unix_micros ≡ EPOCH_US), so percentile interpolation and the
    mean run on identical integers cross-engine and need NO rounding
    at all — the strongest parity class (q131 joins q111/q121/q122).
    One user-keyed window shuffle + one bounded-group aggregate."""
    from nahuatl_data_pipeline_spark.operators.timeseries import gap_stats

    ev = load_table(spark, sf_dir, "events")
    return gap_stats(
        ev, "user_id", "ts", ["ts", "event_id"], "event_type"
    )


# ---------------------------------------------------------------------------
# q132: weighted median price per return flag
# ---------------------------------------------------------------------------

_Q132_SQL = """
    WITH m AS (
      SELECT l_returnflag, l_extendedprice AS v, l_orderkey, l_linenumber,
             SUM(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM lineitem
    ),
    t AS (
      SELECT *,
             LAST_VALUE(cum) OVER (
               PARTITION BY l_returnflag
               ORDER BY v, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS tot
      FROM m
    )
    SELECT l_returnflag, MIN(v) AS w_median,
           ROUND(FIRST(tot), 2) AS total_w
    FROM t WHERE cum >= 0.5 * tot
    GROUP BY l_returnflag
"""


@register("q132_weighted_median_price", _Q132_SQL)
def q132_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The price of the median QUANTITY-UNIT shipped, per return flag
    (``anomaly.py:weighted_quantile``): half the shipped volume costs
    less than this, half more — the volume-weighted median an
    unweighted q13-style median over line items misstates whenever
    quantity correlates with price. One key-partitioned window
    shuffle; the running weight is sequential in the pinned
    (price, orderkey, linenumber) order so its doubles — and the
    total taken as the LAST running value — are bit-identical
    cross-engine, leaving the threshold comparison rounding-free."""
    from nahuatl_data_pipeline_spark.operators.anomaly import (
        weighted_quantile,
    )

    li = load_table(spark, sf_dir, "lineitem")
    out = weighted_quantile(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        "l_quantity",
        q=0.5,
        tiebreak=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag",
        F.col("wq").alias("w_median"),
        F.round("total_w", 2).alias("total_w"),
    )


# ---------------------------------------------------------------------------
# q133: exact substring-span deduplication (Lee et al., Spark-native)
# ---------------------------------------------------------------------------

_Q133_N = 5

_Q133_SQL = rf"""
    WITH toks AS (
      SELECT doc_id,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    pt AS (
      SELECT doc_id, g - 1 AS pos, l[g] AS tok
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(l))) AS u(g)
    ),
    sh AS (
      SELECT doc_id, pos, tok,
             CASE WHEN LEAD(tok, {_Q133_N - 1}) OVER w IS NOT NULL THEN
               tok || ' ' || LEAD(tok, 1) OVER w || ' ' ||
               LEAD(tok, 2) OVER w || ' ' || LEAD(tok, 3) OVER w || ' ' ||
               LEAD(tok, 4) OVER w
             END AS sh
      FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN sh IS NOT NULL AND ROW_NUMBER() OVER (
                    PARTITION BY sh ORDER BY doc_id, pos) > 1
                  THEN 1 ELSE 0 END AS dup_start
      FROM sh
    ),
    cov AS (
      SELECT doc_id, pos, tok,
             MAX(dup_start) OVER (
               PARTITION BY doc_id ORDER BY pos
               RANGE BETWEEN {_Q133_N - 1} PRECEDING AND CURRENT ROW
             ) AS removed
      FROM flagged
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(removed) AS BIGINT) AS n_removed,
           MD5(COALESCE(STRING_AGG(CASE WHEN removed = 0 THEN tok END,
                                   ' ' ORDER BY pos), '')) AS cleaned_md5
    FROM cov GROUP BY doc_id
"""


@register("q133_substring_dedup", _Q133_SQL)
def q133_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup over the corpus
    (``operators/substring_dedup.py``): every repeated 5-token passage
    keeps its globally-first occurrence and is REMOVED everywhere else
    — boilerplate/quotation removal at the span level, which document-
    level dedup (q10/q25/q31) structurally cannot do. The suffix-array
    construction of the original (Lee et al. 2021) is single-node; this
    is its distributed n-gram reformulation: three key-partitioned
    shuffles, cost linear in TOKENS — independent of how duplicated
    the corpus is (no pair enumeration anywhere). Output hashes the
    cleaned text (md5) so the oracle compares full reconstruction
    without shipping document bodies through the compare."""
    from nahuatl_data_pipeline_spark.operators.substring_dedup import (
        exact_substring_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = exact_substring_dedup(docs, "doc_id", "text", n=_Q133_N)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("cleaned").alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# q134: numeric correlation matrix in one pass
# ---------------------------------------------------------------------------

_Q134_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_Q134_SQL = f"""
    SELECT a, b, ROUND(corr_ab, 6) AS corr
    FROM (
      {" UNION ALL ".join(
        f"SELECT '{a}' AS a, '{b}' AS b, CORR({a}, {b}) AS corr_ab"
        " FROM lineitem"
        for i, a in enumerate(_Q134_COLS)
        for b in _Q134_COLS[i + 1:]
      )}
    )
"""


@register("q134_lineitem_corr_matrix", _Q134_SQL)
def q134_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise Pearson correlations of the lineitem numeric
    columns in ONE scan: ``F.corr`` is a decomposable moment aggregate
    (map-side partials), so the C(4,2)=6 pairs ride a single aggregate
    node — the feature-redundancy screen a profiler (q99) doesn't
    cover, at the cost of one pass however many pairs. The oracle
    unions per-pair CORR aggregates; both engines compute the same
    moment formula and the result rounds to 6. Long-format output
    (a, b, corr) so adding columns widens the aggregate, not the
    schema."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_Q134_COLS)
        for b in _Q134_COLS[i + 1:]
    ]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"__c_{a}__{b}") for a, b in pairs
    ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', __c_{a}__{b}" for a, b in pairs
    )
    return one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) as (a, b, corr)"
    )


# ---------------------------------------------------------------------------
# q135: month-over-month revenue growth
# ---------------------------------------------------------------------------

_Q135_SQL = """
    WITH m AS (
      SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS month,
             SUM(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, ROUND(revenue, 2) AS revenue,
           ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month), 4) AS mom_pct,
           ROUND(100.0 * (revenue - LAG(revenue, 12) OVER (ORDER BY month))
                 / LAG(revenue, 12) OVER (ORDER BY month), 4) AS yoy_pct
    FROM m
"""


@register("q135_revenue_growth", _Q135_SQL)
def q135_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the
    period-comparison reporting shape (LAG 1 / LAG 12 over the month
    series). The corpus-sized work is ONE map-side-combined month
    aggregate; both LAGs and the growth math run on the ~80-row month
    table, where a single-partition window is the right plan (the
    bounded-table argument, q113/q124). First month / first year rows
    carry NULL growth by definition."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")

    def growth(lag_n):
        prev = F.lag("revenue", lag_n).over(w)
        return F.round(100.0 * (F.col("revenue") - prev) / prev, 4)

    return m.select(
        "month",
        F.round("revenue", 2).alias("revenue"),
        growth(1).alias("mom_pct"),
        growth(12).alias("yoy_pct"),
    )


# ---------------------------------------------------------------------------
# q136: batch sessionization + session profile
# ---------------------------------------------------------------------------

_Q136_GAP_S = 1800

_Q136_SQL = f"""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w
                       > {_Q136_GAP_S * 1_000_000}
                  OR LAG(EPOCH_US(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) - 1 AS session_idx
      FROM s
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS BIGINT)
             AS duration_us
    FROM sess GROUP BY user_id, session_idx
"""


@register("q136_session_profile", _Q136_SQL)
def q136_session_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) + per-session
    profile (``timeseries.py:sessionize_batch``): the backfill twin of
    the streaming q46 sessionizer — one user-keyed window shuffle
    assigns boundaries from exact integer-microsecond gaps (bit-
    identical cross-engine, no rounding anywhere), then one session-
    keyed aggregate emits event counts and durations."""
    from nahuatl_data_pipeline_spark.operators.timeseries import (
        sessionize_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize_batch(
        ev, "user_id", "ts", ["ts", "event_id"], gap_seconds=_Q136_GAP_S
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )


# ---------------------------------------------------------------------------
# q137: int8 embedding quantization error profile
# ---------------------------------------------------------------------------

_Q137_SQL = """
    WITH base AS (
      SELECT label,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    scaled AS (
      SELECT label, xs,
             LIST_AGGREGATE(LIST_TRANSFORM(xs, x -> ABS(x)), 'max')
               / 127.0 AS scale
      FROM base
    ),
    errs AS (
      SELECT label, LEN(xs) AS n_elems,
             CASE WHEN scale > 0 THEN
               LIST_AGGREGATE(LIST_TRANSFORM(xs,
                 x -> ABS(x - FLOOR(x / scale + 0.5) * scale)), 'sum')
             ELSE 0.0 END AS sum_err,
             CASE WHEN scale > 0 THEN
               LIST_AGGREGATE(LIST_TRANSFORM(xs,
                 x -> ABS(x - FLOOR(x / scale + 0.5) * scale)), 'max')
             ELSE 0.0 END AS max_err
      FROM scaled
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(SUM(sum_err) / SUM(n_elems), 8) AS mean_abs_err,
           ROUND(MAX(max_err), 8) AS max_abs_err
    FROM errs GROUP BY label
"""


@register("q137_int8_quantization_error", _Q137_SQL)
def q137_int8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction error of symmetric int8 vector quantization per
    label (``similarity.py:quantize_int8``) — the accept/reject gate
    before compressing an ANN index 4×: mean and worst absolute error
    of dequantized embeddings. All array math is codegen'd
    transform/aggregate (no Python, no shuffle until the ≤|labels|
    aggregate); floor(x+0.5) quantization and float→double widening
    keep every intermediate bit-identical to the SQL mirror."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    q = quantize_int8(emb, "embedding")
    xs = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    dequant_err = F.zip_with(
        xs,
        F.col("q8_codes"),
        lambda x, c: F.abs(x - c.cast("double") * F.col("q8_scale")),
    )
    per_vec = q.select(
        "label",
        F.size("embedding").alias("n_elems"),
        F.aggregate(
            dequant_err, F.lit(0.0), lambda acc, e: acc + e
        ).alias("sum_err"),
        F.aggregate(
            dequant_err, F.lit(0.0), lambda acc, e: F.greatest(acc, e)
        ).alias("max_err"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.sum("sum_err") / F.sum("n_elems"), 8).alias(
            "mean_abs_err"
        ),
        F.round(F.max("max_err"), 8).alias("max_abs_err"),
    )
