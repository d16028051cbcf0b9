"""Round-11 registrations.

- q167: portable HyperLogLog register grid (operators/sketches.py:
  hll_registers) — the oracle-certified twin of q63's built-in
  approx_count_distinct, exactly the q163/CMS/minwise move: a fixed
  md5-derived register grid (low p bits pick the register, leading
  zeros of the remaining 60−p bits rank it, cell-wise MAX merge) whose
  every register the DuckDB oracle recomputes bit-for-bit. The
  within-rsd-of-exact and agrees-with-built-in invariants live in
  tests/test_sketches.py.

- q168: portable SRP-bucketed ANN top-k (operators/similarity.py:
  srp_topk) — the same move applied to the ANN family: deterministic
  md5-derived hyperplane cells (q140's certified signs formula) +
  hamming-radius-2 multi-probe + the portable rounded-cosine ranking,
  every candidate and score recomputed by DuckDB bit-for-bit. With it,
  q33's seeded pyspark.ml BRP-LSH gains a hash-certified formulation
  of its bucketed-candidates/exact-rescoring structure.

- q169: portable IVF ANN top-k (operators/similarity.py:
  ivf_topk_portable) — deterministic md5-selected centroids replace
  q57's seeded driver-sample k-means; assignment, probing, and
  rescoring all follow the shared portable rounded-cosine contract,
  so DuckDB recomputes the whole inverted file bit-for-bit. Completes
  the certified-twin program: every bucketed-candidates algorithm
  family (SimHash, HLL, SRP-LSH, IVF) now has a hash-certified
  formulation; only the model/library-defined ops (q44 alignment,
  q45 sacrebleu, q56 zlib) and q31's seeded end-to-end dedup (whose
  banded scheme q25 certifies) remain oracle-free.

- q170: the HLL cardinality estimate derived from the q167 grid
  (operators/sketches.py:hll_estimate) — harmonic mean + linear
  counting, rounded to 4 in both engines (the 2^-rho terms are exact
  dyadics, so cross-engine float noise is orders below the rounding
  ulp). Added after the r11 self-review flagged the estimate leg as
  the one SQL-expressible operator without a queries() entry.

Kept deliberately SMALL (4 entries): round 11 must let the r07-stale
q141–q156 block rotate through the 50-slot certification window
(round-10 verdict #3) — 4 new + 2 recertify-pinned (q164, q61) +
16 r07 still leaves 28 slots for the oldest-r08 tail, clearing the
union staleness floor to r08.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.text_analysis import tokens
from nahuatl_data_pipeline_spark.registry import register
from nahuatl_data_pipeline_spark.schemas import load_table

# ---------------------------------------------------------------------------
# q167: portable HLL register grid
# ---------------------------------------------------------------------------

_Q167_P = 9  # m = 512 registers; tail = 60 - 9 = 51 bits, rho_max = 52

# DuckDB mirror of sketches.py:hll_registers over q63's tokenization
# (lowercased whitespace tokens of documents.text, per lang): the same
# hash60 ('0x' || first-15-md5-hex-chars as int64), the same % / >>
# bit split, and bit_length via LENGTH(TO_BASE(w, 2)) — Spark's
# LENGTH(CONV(w, 10, 2)) twin. Pure integer arithmetic end to end.
_Q167_SQL = rf"""
    WITH tok AS (
      SELECT lang,
             UNNEST(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
               t -> t <> '')) AS token
      FROM documents
    ),
    h AS (
      SELECT lang,
             CAST(('0x' || SUBSTRING(MD5(token), 1, 15)) AS BIGINT) AS h
      FROM tok
    )
    SELECT lang,
           CAST(h % {1 << _Q167_P} AS BIGINT) AS register,
           CAST(MAX(CASE WHEN (h >> {_Q167_P}) = 0 THEN {60 - _Q167_P + 1}
                         ELSE {60 - _Q167_P + 1}
                              - LENGTH(TO_BASE(h >> {_Q167_P}, 2))
                    END) AS BIGINT) AS max_rho
    FROM h
    GROUP BY lang, register
"""


@register("q167_hll_portable", _Q167_SQL)
def q167_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HLL register grid per language over the q63 token
    stream (operators/sketches.py:hll_registers, p=9 → 512 registers).
    ONE map-side-combined aggregate: each task folds into ≤ m partial
    maxima, the shuffle carries ≤ m rows per task at any corpus size,
    and disjoint parts merge by cell-wise MAX — the 100 TB cardinality
    primitive, here in the md5-portable form whose every register the
    oracle recomputes (q63's built-in registers are engine-internal,
    error-bound-checkable only)."""
    from nahuatl_data_pipeline_spark.operators.sketches import hll_registers

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(tokens(F.lower(F.col("text")))).alias("token"),
    )
    return hll_registers(tok, "token", p=_Q167_P, group_cols=("lang",))


# ---------------------------------------------------------------------------
# q168: portable SRP-bucketed ANN top-k (oracle twin of q33's LSH path)
# ---------------------------------------------------------------------------

_Q168_BITS = 8
_Q168_DIM = 64
_Q168_K = 5


def _q168_sql() -> str:
    # Probe masks shared with similarity.srp_topk (radius ≤ 2 over 8
    # bits = 37 cells); the signs CTE is the q140 formula verbatim.
    bits, dim, k = _Q168_BITS, _Q168_DIM, _Q168_K
    masks = [0] + [1 << j for j in range(bits)] + [
        (1 << j) | (1 << m) for j in range(bits) for m in range(j + 1, bits)
    ]
    return f"""
    WITH signs AS (
      SELECT j,
             LIST(CASE WHEN CAST('0x' || SUBSTRING(
                          MD5(CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                          1, 15) AS BIGINT) % 2147483647 % 2 = 0
                       THEN 1.0 ELSE -1.0 END ORDER BY d) AS sv
      FROM range(0, {bits}) t1(j), range(0, {dim}) t2(d)
      GROUP BY j
    ),
    b AS (
      SELECT e.vec_id, e.embedding,
             CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(
                             CAST(e.embedding AS DOUBLE[]), s.sv) > 0
                           THEN 1 << j ELSE 0 END) AS BIGINT) AS cell
      FROM embeddings e CROSS JOIN signs s
      WHERE e.embedding IS NOT NULL AND LEN(e.embedding) = {dim}
      GROUP BY e.vec_id, e.embedding
    ),
    probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS qemb,
             XOR(q.cell, m.mask) AS cell
      FROM b q CROSS JOIN (SELECT UNNEST({masks}) AS mask) m
      WHERE q.vec_id < 10
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(
               CAST(p.qemb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4)
               AS cosine
      FROM probes p JOIN b c USING (cell)
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
"""


@register("q168_srp_ann_portable", _q168_sql())
def q168_srp_ann_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SRP-bucketed ANN (operators/similarity.py:srp_topk) —
    the oracle-certified twin of q33's seeded pyspark.ml BRP-LSH, same
    move as q163 (SimHash) and q167 (HLL): deterministic md5-derived
    hyperplane cells + hamming-radius-2 multi-probe + the portable
    rounded-cosine ranking, every candidate and score recomputed by
    DuckDB bit-for-bit. Corpus shuffles once on the cell key; probes
    are Σ C(8, r≤2) = 37 cells per query; candidate work is bucketed
    (Σ|Q(cell)|·|C(cell)|), never the brute |Q|·|C| matrix (q24 is the
    exact baseline; recall invariant in test_similarity.py)."""
    from nahuatl_data_pipeline_spark.operators.similarity import srp_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=_Q168_K,
        n_bits=_Q168_BITS,
        dim=_Q168_DIM,
        probe_hamming=2,
    ).withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# q169: portable IVF ANN top-k (oracle twin of q57's seeded k-means path)
# ---------------------------------------------------------------------------

_Q169_NC = 16
_Q169_NPROBE = 4
_Q169_DIM = 64
_Q169_K = 5


def _q169_sql() -> str:
    nc, np_, dim, k = _Q169_NC, _Q169_NPROBE, _Q169_DIM, _Q169_K
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) = {dim}
    ),
    cent AS (
      SELECT v AS cv,
             ROW_NUMBER() OVER (
               ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
      FROM base
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {nc}
    ),
    asgn AS (
      SELECT vec_id, v, cell FROM (
        SELECT b.vec_id, b.v, c.j AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY ROUND(LIST_COSINE_SIMILARITY(b.v, c.cv), 4) DESC,
                          c.j ASC) AS rn
        FROM base b CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT b.vec_id AS query_id, b.v AS qv, c.j AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY ROUND(LIST_COSINE_SIMILARITY(b.v, c.cv), 4) DESC,
                          c.j ASC) AS rn
        FROM base b CROSS JOIN cent c
        WHERE b.vec_id < 10
      ) WHERE rn <= {np_}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(p.qv, a.v), 4) AS cosine
      FROM probes p JOIN asgn a USING (cell)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
"""


@register("q169_ivf_ann_portable", _q169_sql())
def q169_ivf_ann_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable IVF ANN (operators/similarity.py:ivf_topk_portable) —
    the oracle-certified twin of q57's seeded driver-sample k-means
    IVF, completing the certified-twin program (q163 SimHash, q167
    HLL, q168 SRP-LSH): centroids are the 16 corpus vectors with the
    smallest md5(id) (content-hash sample, reproducible anywhere),
    assignment/probing order by (rounded cosine DESC, centroid ASC),
    rescoring is the shared portable rounded-cosine ranking — DuckDB
    recomputes centroids, cells, probes, and every score bit-for-bit.
    Corpus shuffles once on the cell key; assignment is a shuffle-free
    literal-centroid argmax projection; candidate work is
    n_probe/n_centroids of brute force (exact when n_probe == n_c,
    asserted vs q24's cosine_topk in test_similarity.py)."""
    from nahuatl_data_pipeline_spark.operators.similarity import (
        ivf_topk_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_portable(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=_Q169_K,
        n_centroids=_Q169_NC,
        n_probe=_Q169_NPROBE,
        dim=_Q169_DIM,
    ).withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# q170: HLL cardinality estimate derived from the q167 portable grid
# ---------------------------------------------------------------------------

# alpha_m * m^2 for p=9 (m=512), precomputed once in Python and inlined
# as the SAME double literal in both engines so neither recomputes
# 0.7213/(1 + 1.079/m) with its own operation order.
_Q170_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / (1 << _Q167_P)) * (1 << _Q167_P) ** 2

_Q170_SQL = f"""
    WITH grid AS ({_Q167_SQL}),
    agg AS (
      SELECT lang, COUNT(*) AS nz,
             SUM(POWER(2.0, -max_rho)) AS inv
      FROM grid GROUP BY lang
    )
    SELECT lang,
           ROUND(CASE WHEN {_Q170_ALPHA_M2!r}
                           / (inv + CAST({1 << _Q167_P} - nz AS DOUBLE))
                           <= {2.5 * (1 << _Q167_P)!r}
                       AND ({1 << _Q167_P} - nz) > 0
                      THEN {float(1 << _Q167_P)!r}
                           * -LN(CAST({1 << _Q167_P} - nz AS DOUBLE)
                                 / {float(1 << _Q167_P)!r})
                      ELSE {_Q170_ALPHA_M2!r}
                           / (inv + CAST({1 << _Q167_P} - nz AS DOUBLE))
                 END, 4) AS hll_estimate,
           CAST({1 << _Q167_P} - nz AS BIGINT) AS zero_registers
    FROM agg
"""


@register("q170_hll_estimate", _Q170_SQL)
def q170_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate derived from the q167 portable register
    grid (operators/sketches.py:hll_estimate): harmonic mean
    alpha_m*m^2 / (SUM 2^-M_j + V) with the linear-counting correction
    m*ln(m/V) when raw <= 2.5m and V zero registers remain — the
    floating leg that q167 deliberately left out of the certified
    surface, now hash-certified too (rounded to 4 both engines; the
    2^-rho terms are exact dyadics, so cross-engine noise is ~1e-9
    against a 1e-4 rounding ulp). Runs on the <= m-per-group grid only
    — one map-side-combined aggregate over at most 512 rows per lang,
    the data itself is never rescanned."""
    from nahuatl_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(tokens(F.lower(F.col("text")))).alias("token"),
    )
    grid = hll_registers(tok, "token", p=_Q167_P, group_cols=("lang",))
    return hll_estimate(grid, p=_Q167_P, group_cols=("lang",))
