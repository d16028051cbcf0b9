"""Round-7 registry extension: beyond-reference training-data
operators q138–q156 — DSIR importance weighting (q138), margin-based
neighbor mining (q139), SemDeDup-style semantic dedup (q140), CCNet
perplexity bucketing (q141), tokenizer fertility (q142), trade-graph
PageRank (q143), Zipf power-law fit (q144), best-representative
cluster dedup (q145), token-window chunking (q146), water-filling
budget allocation (q147), histogram-matched resampling (q148),
embedding covariance (q149), vocabulary OOV audit (q150),
diagonal-Mahalanobis outliers (q151), span corruption (q152),
common-prefix banner detection (q153), code-switching profile (q154),
sharded covariance merge (q155), and join-key skew report (q156).
All oracle-checked; plan contracts asserted in the global sweep +
tests/test_plans.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import (
    BPE_ISH_PATTERN,
)
from nahuatl_data_pipeline_spark.registry import register
from nahuatl_data_pipeline_spark.registry_round6b import (
    _Q109_SQL as _Q109_ORACLE,
)
from nahuatl_data_pipeline_spark.schemas import load_table

# ---------------------------------------------------------------------------
# q138: DSIR hashed-n-gram importance log-weights
# ---------------------------------------------------------------------------

_Q138_TARGET_SOURCES = "('src0', 'src1')"

_Q138_SQL = f"""
    WITH toks AS (
      SELECT doc_id, source,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    bags AS (
      SELECT doc_id, source,
             LIST_TRANSFORM(RANGE(1, LEN(tk)),
                            i -> ARRAY_TO_STRING(tk[i:i+1], ' ')) AS gs
      FROM toks WHERE LEN(tk) >= 2
    ),
    occ AS (
      SELECT doc_id, source,
             CAST(('0x' || SUBSTRING(MD5(g), 1, 15)) AS BIGINT)
               % 2147483647 % 1024 AS b
      FROM bags, UNNEST(gs) AS u(g)
    ),
    doc_b AS (SELECT doc_id, b, COUNT(*) AS c FROM occ GROUP BY 1, 2),
    raw_b AS (SELECT b, COUNT(*) AS ca FROM occ GROUP BY 1),
    tgt_b AS (
      SELECT b, COUNT(*) AS ct FROM occ
      WHERE source IN {_Q138_TARGET_SOURCES} GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT SUM(ca) FROM raw_b) AS ta,
             (SELECT SUM(ct) FROM tgt_b) AS tt
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           ROUND(SUM(c * (LN(COALESCE(ct, 0) + 1.0) - LN(tt + 1024.0)
                          - LN(ca + 1.0) + LN(ta + 1024.0))), 4)
             AS log_weight
    FROM doc_b
    JOIN raw_b USING (b)
    LEFT JOIN tgt_b USING (b)
    CROSS JOIN tot
    GROUP BY doc_id
"""


@register("q138_dsir_importance", _Q138_SQL)
def q138_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): hashed-bigram
    importance log-weights of every document against a target domain
    (sources src0/src1), add-1-smoothed over 1024 hash buckets. The
    n-gram explode is the only corpus-sized work; bucket tables are
    ≤1024 rows and broadcast (operators/importance.py)."""
    from nahuatl_data_pipeline_spark.operators.importance import (
        dsir_log_weights,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    # flag form: the target is a subset of docs, so its bucket counts
    # roll up from the per-doc aggregate instead of replaying the
    # n-gram explode over the subset (dsir_log_weights docstring).
    # Output-identity proof (ADVICE r13, the two-sentence exception):
    # every exploded n-gram occurrence carries its document's target
    # flag, so summing the per-doc bucket counts over flagged docs
    # yields exactly the occurrence count the separate target-side
    # explode produced — same bucket table, same smoothed weights.
    return dsir_log_weights(
        docs,
        target_flag=F.col("source").isin("src0", "src1"),
        ngram_n=2,
        n_buckets=1024,
        round_to=4,
    )


# ---------------------------------------------------------------------------
# q139: margin-based neighbor mining (bitext-mining criterion)
# ---------------------------------------------------------------------------

_Q139_SQL = """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(
               CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4)
               AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.vec_id
    ),
    rq AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS r
      FROM scored
    ),
    aq AS (SELECT query_id, AVG(cosine) AS a FROM rq WHERE r <= 4 GROUP BY 1),
    rn AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY neighbor_id ORDER BY cosine DESC, query_id ASC) AS r
      FROM scored
    ),
    an AS (
      SELECT neighbor_id, AVG(cosine) AS a FROM rn WHERE r <= 4 GROUP BY 1
    ),
    m AS (
      SELECT s.query_id, s.neighbor_id, s.cosine,
             ROUND(s.cosine / (0.5 * (aq.a + an.a)), 4) AS margin
      FROM scored s JOIN aq USING (query_id) JOIN an USING (neighbor_id)
    )
    SELECT query_id, neighbor_id, cosine, margin, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY margin DESC, neighbor_id ASC) AS rank
      FROM m
    ) WHERE rank <= 5
"""


@register("q139_margin_topk", _Q139_SQL)
def q139_margin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-corpus mining criterion (Artetxe & Schwenk
    2019): cosine rescaled by both endpoints' top-4 neighborhood
    averages, top-5 per query — the hub-suppressing ranking bitext
    mining uses instead of raw cosine (operators/similarity.margin_topk)."""
    from nahuatl_data_pipeline_spark.operators.similarity import margin_topk

    from nahuatl_data_pipeline_spark.schemas import EMBEDDING_DIM

    emb = load_table(spark, sf_dir, "embeddings")
    return margin_topk(
        emb.filter(F.col("vec_id") < 10), emb, k_margin=4, k=5,
        dim=EMBEDDING_DIM,
    ).withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# q140: SemDeDup-style semantic dedup over SRP cells
# ---------------------------------------------------------------------------

_Q140_SQL = """
    WITH signs AS (
      SELECT j,
             LIST(CASE WHEN CAST('0x' || SUBSTRING(
                          MD5(CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                          1, 15) AS BIGINT) % 2147483647 % 2 = 0
                       THEN 1.0 ELSE -1.0 END ORDER BY d) AS sv
      FROM range(0, 8) t1(j), range(0, 64) t2(d)
      GROUP BY j
    ),
    b AS (
      SELECT e.vec_id, e.embedding,
             CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(
                             CAST(e.embedding AS DOUBLE[]), s.sv) > 0
                           THEN 1 << j ELSE 0 END) AS BIGINT) AS cell
      FROM embeddings e CROSS JOIN signs s
      WHERE e.embedding IS NOT NULL AND LEN(e.embedding) = 64
      GROUP BY e.vec_id, e.embedding
    ),
    k AS (SELECT cell, MIN(vec_id) AS keeper_id FROM b GROUP BY cell),
    kv AS (
      SELECT k.cell, k.keeper_id, b2.embedding AS kemb
      FROM k JOIN b b2 ON b2.vec_id = k.keeper_id
    )
    SELECT b.vec_id, b.cell, kv.keeper_id,
           ROUND(LIST_COSINE_SIMILARITY(CAST(b.embedding AS DOUBLE[]),
                                        CAST(kv.kemb AS DOUBLE[])), 4)
             AS cosine,
           (b.vec_id = kv.keeper_id
            OR ROUND(LIST_COSINE_SIMILARITY(CAST(b.embedding AS DOUBLE[]),
                                            CAST(kv.kemb AS DOUBLE[])), 4)
               < 0.7) AS kept
    FROM b JOIN kv ON b.cell = kv.cell
"""


@register("q140_semantic_dedup", _Q140_SQL)
def q140_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) re-expressed over deterministic
    sign-random-projection cells: one min-id representative per cell,
    members dropped when cosine-to-representative ≥ 0.7
    (operators/semantic_dedup.py — celling is a shuffle-free
    projection; scoring is |members| cosines, never |members|²)."""
    from nahuatl_data_pipeline_spark.operators.semantic_dedup import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        n_bits=8, dim=64, tau=0.7,
    )


# ---------------------------------------------------------------------------
# q141: CCNet-style perplexity head/middle/tail bucketing
# ---------------------------------------------------------------------------

_Q141_SQL = """
    WITH scored AS (SELECT * FROM ({q109})),
    langd AS (
      SELECT s.doc_id, d.lang, s.avg_logprob
      FROM scored s JOIN documents d USING (doc_id)
    ),
    cum AS (
      SELECT *,
             SUM(1.0) OVER (PARTITION BY lang ORDER BY avg_logprob, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
             COUNT(*) OVER (PARTITION BY lang) AS tot
      FROM langd
    ),
    cuts AS (
      SELECT lang,
             MIN(CASE WHEN cum >= (1.0/3.0) * tot THEN avg_logprob END) AS c1,
             MIN(CASE WHEN cum >= (2.0/3.0) * tot THEN avg_logprob END) AS c2
      FROM cum GROUP BY lang
    )
    SELECT l.doc_id, l.lang, l.avg_logprob,
           CASE WHEN l.avg_logprob <= c.c1 THEN 'tail'
                WHEN l.avg_logprob <= c.c2 THEN 'middle'
                ELSE 'head' END AS bucket,
           (l.avg_logprob > c.c1
            OR CAST('0x' || SUBSTRING(MD5(CAST(l.doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 2147483647 % 100 < 30) AS kept
    FROM langd l JOIN cuts c USING (lang)
"""


@register(
    "q141_perplexity_buckets",
    _Q141_SQL.replace("{q109}", _Q109_ORACLE),
)
def q141_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity stratification (Wenzek et al. 2020): per-lang
    head/middle/tail score tertiles under the self-trained bigram LM,
    tail hash-sampled at 30% (operators/ngram_lm.perplexity_buckets —
    cuts via the banded prefix sum, no per-lang global sort)."""
    from nahuatl_data_pipeline_spark.operators.ngram_lm import (
        perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    return perplexity_buckets(
        docs, "doc_id", "text", "lang", alpha=0.1, tail_keep_pct=30
    )


# ---------------------------------------------------------------------------
# q142: tokenizer fertility / bytes-per-token profile
# ---------------------------------------------------------------------------

_Q142_SQL = """
    WITH a AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(LENGTH(text)), 0) AS BIGINT) AS total_chars,
             CAST(COALESCE(SUM(STRLEN(text)), 0) AS BIGINT) AS total_bytes,
             CAST(COALESCE(SUM(LEN(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'), t -> t <> ''))), 0)
               AS BIGINT) AS ws_tokens,
             CAST(COALESCE(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{bpe}'))), 0)
               AS BIGINT) AS bpe_tokens
      FROM documents
      GROUP BY source
    )
    SELECT source, n_docs, total_chars, total_bytes, ws_tokens, bpe_tokens,
           CASE WHEN bpe_tokens > 0
                THEN ROUND(total_bytes / bpe_tokens, 4) END
             AS bytes_per_bpe_token,
           CASE WHEN ws_tokens > 0
                THEN ROUND(bpe_tokens / ws_tokens, 4) END AS fertility,
           CASE WHEN ws_tokens > 0
                THEN ROUND(total_chars / ws_tokens, 4) END
             AS chars_per_ws_token
    FROM a
"""


@register(
    "q142_tokenizer_fertility",
    _Q142_SQL.replace("{bpe}", BPE_ISH_PATTERN),
)
def q142_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility profile per source: bytes/chars/whitespace
    tokens/BPE-ish subwords and their ratios — the shard-level
    statistics that size a training run's token budget (fertility =
    subwords per word, Ács 2019 terminology). One map-side-combined
    aggregate over a pruned 2-column scan."""
    from nahuatl_data_pipeline_spark.functions.text_analysis import (
        bpe_ish_token_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.length("text")), F.lit(0))
        .cast("long").alias("total_chars"),
        F.coalesce(F.sum(F.octet_length("text")), F.lit(0))
        .cast("long").alias("total_bytes"),
        F.coalesce(F.sum(token_count("text")), F.lit(0))
        .cast("long").alias("ws_tokens"),
        F.coalesce(F.sum(bpe_ish_token_count("text")), F.lit(0))
        .cast("long").alias("bpe_tokens"),
    )
    return agg.select(
        "source", "n_docs", "total_chars", "total_bytes",
        "ws_tokens", "bpe_tokens",
        F.when(
            F.col("bpe_tokens") > 0,
            F.round(F.col("total_bytes") / F.col("bpe_tokens"), 4),
        ).alias("bytes_per_bpe_token"),
        F.when(
            F.col("ws_tokens") > 0,
            F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 4),
        ).alias("fertility"),
        F.when(
            F.col("ws_tokens") > 0,
            F.round(F.col("total_chars") / F.col("ws_tokens"), 4),
        ).alias("chars_per_ws_token"),
    )


# ---------------------------------------------------------------------------
# q143: nation trade-graph PageRank (domain-authority pattern)
# ---------------------------------------------------------------------------

_Q143_DAMP = 0.85
_Q143_ITERS = 10


def _q143_sql() -> str:
    """Unrolled fixed-iteration PageRank: the oracle runs the SAME 10
    synchronous rounds as the operator, one CTE per round — declarative
    SQL needs no recursion when the iteration count is part of the
    operator contract."""
    head = """
    WITH edges AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             CAST(COUNT(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      GROUP BY cn.n_name, sn.n_name
    ),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    trans AS (SELECT e.src, e.dst, e.w / o.ow AS p
              FROM edges e JOIN outw o ON e.src = o.src),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    steps = []
    for i in range(1, _Q143_ITERS + 1):
        steps.append(
            f""",
    r{i} AS (
      SELECT n.node,
             (1 - {_Q143_DAMP}) / (SELECT n FROM nn)
               + {_Q143_DAMP} * COALESCE(SUM(r.r * t.p), 0) AS r
      FROM nodes n
      LEFT JOIN trans t ON t.dst = n.node
      LEFT JOIN r{i - 1} r ON r.node = t.src
      GROUP BY n.node
    )"""
        )
    tail = f"""
    SELECT node AS nation, ROUND(r, 6) AS pagerank FROM r{_Q143_ITERS}
    """
    return head + "".join(steps) + tail


@register("q143_nation_trade_pagerank", _q143_sql())
def q143_nation_trade_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted PageRank over the customer-nation -> supplier-nation
    trade graph: the domain-authority pattern of web-corpus curation
    (rank a contracted graph orders of magnitude smaller than the fact
    table that induced it, use the score as a sampling prior). The
    heavy part is the edge derivation — lineitem ⨝ orders shuffle join
    riding AQE, tiny dims broadcast — contracted to a ≤|nations|² edge
    list before any iteration; the 10 fixed rounds then run as
    join+partial-agg on the contracted graph (operators/graph.py)."""
    from nahuatl_data_pipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("__cnk"),
                    F.col("n_name").alias("src"),
                )
            ),
            F.col("c_nationkey") == F.col("__cnk"),
        )
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("__snk"),
                    F.col("n_name").alias("dst"),
                )
            ),
            F.col("s_nationkey") == F.col("__snk"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    return pagerank(
        edges, "src", "dst", weight="w",
        damping=_Q143_DAMP, iters=_Q143_ITERS,
    ).select(F.col("node").alias("nation"), "pagerank")


# ---------------------------------------------------------------------------
# q144: Zipf power-law exponent over 3-gram shingle document frequencies
# ---------------------------------------------------------------------------

_Q144_XMIN = 5

_Q144_SQL = rf"""
    WITH tk AS (
      SELECT doc_id,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                    i -> ARRAY_TO_STRING(tk[i:i+2], ' ')))) AS term
      FROM tk WHERE LEN(tk) >= 3
    ),
    f AS (SELECT term, COUNT(*) AS c FROM sh GROUP BY term),
    s AS (SELECT COUNT(*) AS n_types,
                 SUM(LN(c / ({_Q144_XMIN} - 0.5))) AS sl
          FROM f WHERE c >= {_Q144_XMIN})
    SELECT CAST(n_types AS BIGINT) AS n_types,
           CAST({_Q144_XMIN} AS BIGINT) AS xmin,
           ROUND(1.0 + n_types / sl, 6) AS alpha
    FROM s
"""


@register("q144_zipf_alpha", _Q144_SQL)
def q144_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the corpus's 3-gram shingle document-
    frequency distribution (Clauset-Shalizi-Newman MLE) — the one-row
    corpus-health monitor: template spam or over-dedup moves alpha off
    its natural-text value long before sampling would show it. Same
    shingle space as q38/q108 (shared word_shingles kernel), one
    term-keyed count + one map-side-combined 1-row fold
    (operators/profile.py:power_law_alpha)."""
    from nahuatl_data_pipeline_spark.functions.hashing import (
        word_shingles,
    )
    from nahuatl_data_pipeline_spark.operators.profile import (
        power_law_alpha,
    )

    docs = load_table(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(
            F.explode(word_shingles("text", n=3)).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return power_law_alpha(counts, "c", xmin=_Q144_XMIN)


# ---------------------------------------------------------------------------
# q145: best-quality representative per near-dup cluster
# ---------------------------------------------------------------------------


def _q145_sql() -> str:
    """q58's recursive-closure oracle + a longest-text representative
    window — built lazily so the import order between registry modules
    stays irrelevant."""
    from nahuatl_data_pipeline_spark.registry import (
        banded_pairs_oracle_sql,
    )
    from nahuatl_data_pipeline_spark.registry_ext import _Q58_BASE_SQL

    return f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM (
        {banded_pairs_oracle_sql(_Q58_BASE_SQL, threshold=0.5,
                                 num_hashes=6, band_size=2)}
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
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    lens AS (
      SELECT doc_id, LENGTH(text) AS len FROM ({_Q58_BASE_SQL})
    ),
    ranked AS (
      SELECT c.component, c.id, l.len,
             ROW_NUMBER() OVER (
               PARTITION BY c.component
               ORDER BY l.len DESC, c.id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN lens l ON l.doc_id = c.id
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(id AS BIGINT) AS rep_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(len AS BIGINT) AS rep_chars
    FROM ranked WHERE rn = 1
    """


@register("q145_cluster_best_rep", _q145_sql())
def q145_cluster_best_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked cluster representatives: q58's transitive near-dup
    clusters, but the kept document is the LONGEST member (doc_id
    tiebreak), not the smallest id — production dedup keeps the best
    copy, not the first crawled (the min-id canonical silently prefers
    old snapshots). Adds one doc-keyed length join + one
    component-keyed window on the cluster table — which is pair-graph-
    sized, far smaller than the corpus."""
    from pyspark.sql import Window

    from nahuatl_data_pipeline_spark.operators.components import (
        duplicate_clusters,
    )
    from nahuatl_data_pipeline_spark.registry_ext import (
        q58_corpus,
        q58_pairs,
    )

    corpus = q58_corpus(spark, sf_dir)
    clusters = duplicate_clusters(q58_pairs(spark, sf_dir))
    lens = corpus.select("doc_id", F.length("text").alias("rep_chars"))
    w = Window.partitionBy("component").orderBy(
        F.col("rep_chars").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(lens, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("rep_chars").cast("long").alias("rep_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q146: fixed-token-window chunking with overlap (context-window splitter)
# ---------------------------------------------------------------------------

_Q146_CHUNK = 32
_Q146_OVERLAP = 8
_Q146_STRIDE = _Q146_CHUNK - _Q146_OVERLAP

_Q146_SQL = rf"""
    WITH tk AS (
      SELECT doc_id,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    b AS (
      SELECT doc_id, tk, LEN(tk) AS n FROM tk WHERE LEN(tk) >= 1
    ),
    k AS (
      SELECT doc_id, tk, n,
             GREATEST(1, (n - {_Q146_OVERLAP} + {_Q146_STRIDE} - 1)
                         // {_Q146_STRIDE}) AS k
      FROM b
    ),
    c AS (
      SELECT doc_id, tk, n, UNNEST(RANGE(0, k)) AS chunk_idx FROM k
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           ARRAY_TO_STRING(
             tk[chunk_idx * {_Q146_STRIDE} + 1 :
                chunk_idx * {_Q146_STRIDE} + {_Q146_CHUNK}], ' ')
             AS chunk_text,
           CAST(LEAST({_Q146_CHUNK}, n - chunk_idx * {_Q146_STRIDE})
             AS BIGINT) AS n_tokens
    FROM c
"""


@register("q146_token_window_chunks", _Q146_SQL)
def q146_token_window_chunks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Context-window chunking: every document split into 32-token
    windows starting every 24 tokens (8-token overlap preserves
    context across boundaries) — the pre-packing/pre-embedding splitter
    of every pretraining/RAG pipeline. Pure JVM expressions, zero
    shuffle (functions/segmentation.py:token_window_chunks)."""
    from nahuatl_data_pipeline_spark.functions.segmentation import (
        token_window_chunks,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return token_window_chunks(
        docs, "doc_id", "text",
        chunk_tokens=_Q146_CHUNK, overlap=_Q146_OVERLAP,
    )


# ---------------------------------------------------------------------------
# q147: water-filling token-budget allocation across sources
# ---------------------------------------------------------------------------

_Q147_FRAC = 0.7

_Q147_SQL = rf"""
    WITH av AS (
      SELECT lang,
             CAST(SUM(LEN(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), t -> t <> '')))
               AS BIGINT) AS avail
      FROM documents
      GROUP BY lang
    ),
    r AS (
      SELECT lang, avail,
             ROW_NUMBER() OVER (ORDER BY avail ASC, lang ASC) AS i,
             SUM(avail) OVER (ORDER BY avail ASC, lang ASC) AS p,
             COUNT(*) OVER () AS m,
             (SELECT CAST(FLOOR({_Q147_FRAC} * SUM(avail)) AS BIGINT)
              FROM av) AS b
      FROM av
    ),
    f AS (
      SELECT *,
             (avail * (m - i + 1) + (p - avail)) <= b AS is_full
      FROM r
    ),
    l AS (
      SELECT *,
             SUM(CASE WHEN is_full THEN 1 ELSE 0 END) OVER () AS k,
             COALESCE(SUM(CASE WHEN is_full THEN avail END) OVER (), 0)
               AS pk
      FROM f
    )
    SELECT lang,
           CAST(avail AS BIGINT) AS avail,
           ROUND(CASE WHEN is_full THEN CAST(avail AS DOUBLE)
                 ELSE (b - pk) / CAST(m - k AS DOUBLE) END, 4) AS alloc
    FROM l
"""


@register("q147_water_fill_budget", _Q147_SQL)
def q147_water_fill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min-fair training-budget allocation: per-language whitespace-
    token availability (one map-side-combined aggregate over the
    corpus), then the closed-form water-filling level at a 70%% total
    budget — low-resource languages below the level keep everything,
    the dominant ones are leveled (operators/mixing.py:water_fill; the
    multilingual up-weighting every LLM data mix performs). The level
    comparison runs on exact integers, so the funded set is engine-
    reproducible; the budget scalar is one bounded 1-row collect (the
    components.py bounded-scalar precedent)."""
    from nahuatl_data_pipeline_spark.functions.text_analysis import (
        token_count,
    )
    from nahuatl_data_pipeline_spark.operators.mixing import water_fill

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    av = docs.groupBy("lang").agg(
        F.sum(token_count("text")).cast("long").alias("avail")
    )
    total = av.agg(F.sum("avail").alias("t")).collect()[0]["t"] or 0
    return water_fill(
        av, "lang", "avail", budget=int(_Q147_FRAC * total)
    ).select(
        "lang", F.col("avail").cast("long").alias("avail"), "alloc"
    )


# ---------------------------------------------------------------------------
# q148: histogram-matched resampling (match corpus lengths to a reference)
# ---------------------------------------------------------------------------

_Q148_SQL = r"""
    WITH tok AS (
      SELECT doc_id, lang,
             LEAST(LEN(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
               t -> t <> '')) // 16, 8) AS b
      FROM documents
    ),
    corp AS (SELECT b, COUNT(*) AS nc FROM tok GROUP BY b),
    tgt AS (SELECT b, COUNT(*) AS nt FROM tok WHERE lang = 'en'
            GROUP BY b),
    j AS (
      SELECT c.b, c.nc, COALESCE(t.nt, 0) AS nt
      FROM corp c LEFT JOIN tgt t ON c.b = t.b
    ),
    r AS (
      SELECT b,
             (CAST(nt AS DOUBLE) * SUM(nc) OVER ())
               / (CAST(SUM(nt) OVER () AS DOUBLE) * nc) AS ratio
      FROM j
    ),
    rated AS (SELECT b, ratio / MAX(ratio) OVER () AS rate FROM r)
    SELECT tok.doc_id, CAST(tok.b AS BIGINT) AS length_bucket
    FROM tok JOIN rated ON tok.b = rated.b
    WHERE CAST(('0x' || SUBSTRING(MD5('42:' || CAST(tok.doc_id AS VARCHAR)),
                1, 8)) AS BIGINT) / 4294967296.0 < rated.rate
"""


@register("q148_length_matched_resample", _Q148_SQL)
def q148_length_matched_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Histogram matching: the maximal subsample of the corpus whose
    token-length distribution (16-token buckets, capped at 8) equals
    the English subset's — the "make the new crawl's profile match the
    reference snapshot" mixing step (operators/mixing.py:
    match_distribution). Rate algebra runs on the ≤9-row bucket table;
    membership is the shared content-hash draw, so the kept set is
    engine-reproducible; the corpus itself never shuffles."""
    from nahuatl_data_pipeline_spark.functions.text_analysis import (
        token_count,
    )
    from nahuatl_data_pipeline_spark.operators.mixing import (
        match_distribution,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.least(
            F.floor(token_count("text") / 16), F.lit(8).cast("long")
        ).alias("length_bucket"),
    )
    kept = match_distribution(
        docs,
        "length_bucket",
        docs.filter(F.col("lang") == "en"),
        key="doc_id",
        seed=42,
    )
    return kept.select(
        "doc_id", F.col("length_bucket").cast("long").alias("length_bucket")
    )


# ---------------------------------------------------------------------------
# q149: embedding covariance matrix (distributed Gram reduction)
# ---------------------------------------------------------------------------

_Q149_SQL = """
    WITH v AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) = 64
    ),
    x AS (
      SELECT vec_id, e.pos, CAST(e.v AS DOUBLE) AS val
      FROM (
        SELECT vec_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(embedding) + 1),
                                     i -> {'pos': i - 1, 'v': embedding[i]}),
                      recursive := true)
        FROM v
      ) e
    ),
    s AS (SELECT pos, SUM(val) AS sx, COUNT(*) AS n FROM x GROUP BY pos),
    g AS (
      SELECT a.pos AS i, b.pos AS j, SUM(a.val * b.val) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      GROUP BY a.pos, b.pos
    )
    SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
           ROUND((g.sxy - si.sx * sj.sx / si.n) / (si.n - 1), 6) + 0.0
             AS cov
    FROM g
    JOIN s si ON si.pos = g.i
    JOIN s sj ON sj.pos = g.j
"""


@register("q149_embedding_covariance", _Q149_SQL)
def q149_embedding_covariance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sample covariance of the 64-d embedding store in long format
    (upper triangle) — the statistic behind whitening, PCA drift and
    Mahalanobis scoring. Distributed Gram reduction: one BLAS XᵀX per
    Arrow batch inside mapInPandas (the d² pair-explode alternative is
    2,080× row inflation), summed map-side into d(d+1)/2 cells; the
    oracle computes the same triangle by quadratic pair join, feasible
    at sf0.01 (operators/similarity.py:embedding_covariance)."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    return embedding_covariance(emb, "embedding", dim=64)


# ---------------------------------------------------------------------------
# q150: vocabulary coverage / OOV audit per source
# ---------------------------------------------------------------------------

_Q150_V = 500

_Q150_SQL = rf"""
    WITH tk AS (
      SELECT doc_id, source, lang,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    occ AS (
      SELECT source,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk)),
                    i -> ARRAY_TO_STRING(tk[i:i+1], ' ')))) AS term
      FROM tk WHERE LEN(tk) >= 2
    ),
    tocc AS (
      SELECT UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk)),
                    i -> ARRAY_TO_STRING(tk[i:i+1], ' ')))) AS term
      FROM tk WHERE lang = 'en' AND LEN(tk) >= 2
    ),
    counts AS (SELECT term, COUNT(*) AS c FROM tocc GROUP BY term),
    vocab AS (
      SELECT term FROM (
        SELECT term,
               ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS r
        FROM counts
      ) WHERE r <= {_Q150_V}
    )
    SELECT occ.source,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_terms,
           ROUND(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
    FROM occ LEFT JOIN vocab v ON occ.term = v.term
    GROUP BY occ.source
"""


@register("q150_vocab_oov_audit", _Q150_SQL)
def q150_vocab_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: top-500 bigram-shingle
    vocabulary built from the English subset (the "tokenizer training
    corpus"), per-source fraction of shingle occurrences outside it —
    the fragmentation check before adding a source to a training mix
    (operators/tfidf.py:vocab_coverage). The rank window runs on the
    vocabulary-sized count table; the vocabulary broadcast-joins onto
    the occurrence stream."""
    from nahuatl_data_pipeline_spark.operators.tfidf import vocab_coverage

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", "text"
    )
    return vocab_coverage(
        docs,
        docs.filter(F.col("lang") == "en"),
        "source",
        "text",
        shingle_n=2,
        vocab_size=_Q150_V,
    )


# ---------------------------------------------------------------------------
# q151: diagonal-Mahalanobis embedding outliers (novelty top-k)
# ---------------------------------------------------------------------------

_Q151_SQL = """
    WITH v AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) = 64
    ),
    x AS (
      SELECT vec_id, e.pos, CAST(e.v AS DOUBLE) AS val
      FROM (
        SELECT vec_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(embedding) + 1),
                                     i -> {'pos': i - 1, 'v': embedding[i]}),
                      recursive := true)
        FROM v
      ) e
    ),
    m AS (
      SELECT pos, SUM(val) AS sx, SUM(val * val) AS sxx, COUNT(*) AS n
      FROM x GROUP BY pos
    ),
    mom AS (
      SELECT pos, sx / n AS mu,
             GREATEST((sxx - sx * sx / n) / (n - 1), 1e-12) AS var
      FROM m
    ),
    d AS (
      SELECT x.vec_id,
             ROUND(SUM((x.val - mom.mu) * (x.val - mom.mu) / mom.var), 4)
               AS md2
      FROM x JOIN mom ON x.pos = mom.pos
      GROUP BY x.vec_id
    )
    SELECT vec_id, md2, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY md2 DESC, vec_id ASC) AS rank
      FROM d
    ) WHERE rank <= 20
"""


@register("q151_embedding_outliers", _Q151_SQL)
def q151_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding-store outliers by diagonal Mahalanobis distance
    (per-dimension-standardized novelty) — the sweep for corrupted or
    off-distribution vectors before they poison retrieval/training
    (operators/similarity.py:mahalanobis_outliers). Moments are one 64-group
    aggregate broadcast back; top-k is TakeOrderedAndProject, never a
    global sort."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        mahalanobis_outliers,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return mahalanobis_outliers(emb, "vec_id", "embedding", dim=64, k=20)


# ---------------------------------------------------------------------------
# q152: deterministic span corruption (denoising training pairs)
# ---------------------------------------------------------------------------

_Q152_SQL = r"""
    WITH tk AS (
      SELECT doc_id,
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    b AS (SELECT doc_id, tk, LEN(tk) AS n FROM tk WHERE LEN(tk) >= 2),
    p AS (
      SELECT doc_id, tk, n,
             GREATEST(1, LEAST(5, CAST(FLOOR(n * 0.2) AS INT))) AS len
      FROM b
    ),
    s AS (
      SELECT doc_id, tk, n, len,
             CAST((CAST(('0x' || SUBSTRING(
                     MD5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 2147483647) % (n - len + 1) AS INT)
               AS start
      FROM p
    )
    SELECT doc_id,
           ARRAY_TO_STRING(
             LIST_CONCAT(LIST_CONCAT(tk[1:start], ['<extra_id_0>']),
                         tk[start + len + 1:n]), ' ') AS input_text,
           ARRAY_TO_STRING(
             LIST_CONCAT(['<extra_id_0>'], tk[start + 1:start + len]),
             ' ') AS target_text,
           CAST(start AS BIGINT) AS span_start,
           CAST(len AS BIGINT) AS span_len
    FROM s
"""


@register("q152_span_corruption", _Q152_SQL)
def q152_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style denoising pair generation: a content-hash-selected
    token span replaced by a sentinel in the input, emitted as the
    target — reproducible across runs/engines/partitionings because
    span selection is the engine-wide md5 idiom, never an RNG
    (operators/corruption.py:span_corrupt). Whole operator is one
    codegen projection, zero shuffle."""
    from nahuatl_data_pipeline_spark.operators.corruption import span_corrupt

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return span_corrupt(
        docs, "doc_id", "text", max_span=5, span_frac=0.2, seed=42
    )


# ---------------------------------------------------------------------------
# q153: per-source common-prefix boilerplate detection
# ---------------------------------------------------------------------------

_Q153_SQL = """
    WITH banners AS (
      SELECT source,
             'BANNER[' || source || '] :: ' || text AS text
      FROM documents
    ),
    agg AS (
      SELECT source, MIN(text) AS mn, MAX(text) AS mx
      FROM banners GROUP BY source
    ),
    lcp AS (
      SELECT source, mn,
             COALESCE(
               LIST_MIN(LIST_FILTER(
                 RANGE(1, LEAST(LENGTH(mn), LENGTH(mx)) + 1),
                 i -> SUBSTRING(mn, i, 1) <> SUBSTRING(mx, i, 1))) - 1,
               LEAST(LENGTH(mn), LENGTH(mx))) AS plen
      FROM agg
    )
    SELECT source,
           CAST(plen AS BIGINT) AS prefix_len,
           SUBSTRING(mn, 1, CAST(plen AS INT)) AS prefix
    FROM lcp
"""


@register("q153_boilerplate_prefix", _Q153_SQL)
def q153_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-banner detection: longest common text prefix per source
    via the order-statistics trick — lcp(all) = lcp(min, max), so the
    corpus-sized work is ONE min/max aggregate and the char-level
    comparison runs on two strings per group (codegen HOF, no UDF).
    The query plants a per-source banner and the operator recovers it
    (operators/curation.py:common_prefix)."""
    from nahuatl_data_pipeline_spark.operators.curation import common_prefix

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    planted = docs.select(
        "source",
        F.concat(
            F.lit("BANNER["), F.col("source"), F.lit("] :: "), F.col("text")
        ).alias("text"),
    )
    return common_prefix(planted, "source", "text")


# ---------------------------------------------------------------------------
# q154: sentence-level code-switching profile
# ---------------------------------------------------------------------------


def _q154_sql() -> str:
    from nahuatl_data_pipeline_spark.registry import _cnt_sql

    lang_case = f"""CASE
             WHEN REGEXP_MATCHES(low, '[āēīōū]') THEN 'nah'
             WHEN {_cnt_sql("tl", 2)} + {_cnt_sql("tz", 2)}
                + {_cnt_sql("kw", 2)} + {_cnt_sql("ku", 2)} >= 1 THEN 'nah'
             WHEN {_cnt_sql("k''", 2)} + {_cnt_sql("ch''", 3)}
                + {_cnt_sql("t''", 2)} + {_cnt_sql("p''", 2)}
                + {_cnt_sql("ts''", 3)} + {_cnt_sql("ʔ", 1)} >= 1 THEN 'myn'
             WHEN REGEXP_MATCHES(low, '[¿¡ñ]') THEN 'es'
             ELSE NULL
           END"""
    return f"""
    WITH planted AS (
      SELECT doc_id,
             text || CASE doc_id % 3
               WHEN 0 THEN ' . ¿cómo está el señor? . nican tzintli tlalli .'
               WHEN 1 THEN ' . tlatoani tzintli . tlalli kweponi . ¡hola señor! .'
               ELSE ' . ¡buenos días señor! .'
             END AS text
      FROM documents
    ),
    sent AS (
      SELECT doc_id,
             UNNEST(LIST_FILTER(
               LIST_TRANSFORM(
                 REGEXP_EXTRACT_ALL(text, '[^.!?]+[.!?]*'),
                 s -> TRIM(s)),
               s -> s <> '')) AS s
      FROM planted
    ),
    lid AS (
      SELECT doc_id, {lang_case} AS l
      FROM (SELECT doc_id, s, LOWER(s) AS low FROM sent)
    ),
    labeled AS (SELECT doc_id, l FROM lid WHERE l IS NOT NULL),
    counts AS (
      SELECT doc_id, l, COUNT(*) AS c FROM labeled GROUP BY doc_id, l
    ),
    major AS (
      SELECT doc_id, l AS majority_lang, c AS mc FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY c DESC, l ASC) AS rn
        FROM counts
      ) WHERE rn = 1
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_sents_lid,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM counts GROUP BY doc_id
    )
    SELECT m.doc_id, m.majority_lang, t.n_sents_lid, t.n_langs,
           ROUND(1.0 - m.mc / CAST(t.n_sents_lid AS DOUBLE), 6)
             AS switch_frac
    FROM major m JOIN tot t ON m.doc_id = t.doc_id
    """


@register("q154_code_switching", _q154_sql())
def q154_code_switching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level code-switching profile: the q18 LID cascade per
    SENTENCE, rolled up to majority language + switch fraction — the
    bilingual-corpus diagnostic doc-level LID hides (an es/nah
    alternating doc belongs in a translation-pair miner, not a
    monolingual split). Codegen explode + cascade, two doc-keyed
    aggregates, rank window on the (doc, lang) count table
    (operators/quality.py:code_switch_profile)."""
    from nahuatl_data_pipeline_spark.operators.quality import (
        code_switch_profile,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # planted bilingual sentence suffixes (the corpus's own text carries
    # no LID signal): doc_id%3 rotates es/nah majorities and a
    # monolingual case, so majority, tiebreak, and switch_frac all vary
    suffix = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(" . \u00bfc\u00f3mo est\u00e1 el se\u00f1or? . nican tzintli tlalli ."),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit(" . tlatoani tzintli . tlalli kweponi . \u00a1hola se\u00f1or! ."),
        )
        .otherwise(F.lit(" . \u00a1buenos d\u00edas se\u00f1or! ."))
    )
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return code_switch_profile(planted, "doc_id", "text")


# ---------------------------------------------------------------------------
# q155: sharded covariance via mergeable raw moments
# ---------------------------------------------------------------------------


@register("q155_sharded_covariance_merge", _Q149_SQL)
def q155_sharded_covariance_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable-statistics path to q149's covariance: the store is
    split into two disjoint shards (vec_id parity), each reduced to its
    raw-moment cells (embedding_moments — plain sums, d(d+1)/2 rows per
    shard), the cells merged by addition WITHOUT re-reading any vector
    (merge_covariance_moments), then finalized. The oracle computes the
    covariance DIRECTLY over the whole store (q149's SQL), so the hash
    match certifies the merge algebra itself — the per-shard/rollup
    pattern a 100 TB embedding store uses across snapshots instead of
    rescanning history."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        embedding_moments,
        finalize_covariance,
        merge_covariance_moments,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    even = embedding_moments(
        emb.filter(F.col("vec_id") % 2 == 0), "embedding", 64
    )
    odd = embedding_moments(
        emb.filter(F.col("vec_id") % 2 == 1), "embedding", 64
    )
    return finalize_covariance(merge_covariance_moments(even, odd))


# ---------------------------------------------------------------------------
# q156: join-key skew report (pre-join diagnostic)
# ---------------------------------------------------------------------------

_Q156_PARTS = 200


def _q156_one_sql(table: str, key: str) -> str:
    return f"""
      SELECT '{table}.{key}' AS key_name,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(c) AS BIGINT) AS max_freq,
             ROUND(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY c), 6)
               AS p99_freq,
             ROUND(SUM(CAST(c AS DOUBLE) * c)
                   / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS hhi,
             ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top1_share,
             CAST(GREATEST(CAST(1 AS BIGINT),
                      (MAX(c) * {_Q156_PARTS} + SUM(c) - 1) // SUM(c))
               AS BIGINT) AS salt_factor
      FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY {key})
    """


_Q156_SQL = " UNION ALL ".join(
    _q156_one_sql(t, k)
    for t, k in [
        ("orders", "o_custkey"),
        ("lineitem", "l_suppkey"),
        ("events", "user_id"),
    ]
)


@register("q156_join_key_skew", _Q156_SQL)
def q156_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostics for the three natural join keys: one
    map-side-combined count per key + one aggregate over the
    key-cardinality table each, yielding max/p99 frequency, HHI
    concentration, and a DERIVED salt factor (how many times the
    hottest key outweighs an average 200-way partition — the
    salted_join parameter computed instead of guessed;
    operators/skew.py:key_skew_report)."""
    from nahuatl_data_pipeline_spark.operators.skew import key_skew_report

    parts = []
    for table, key in [
        ("orders", "o_custkey"),
        ("lineitem", "l_suppkey"),
        ("events", "user_id"),
    ]:
        rep = key_skew_report(
            load_table(spark, sf_dir, table).select(key),
            key,
            n_partitions=_Q156_PARTS,
        )
        parts.append(
            rep.select(
                F.lit(f"{table}.{key}").alias("key_name"), "*"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
