"""Round-10 registrations.

- q163: portable SimHash (operators/fuzzy_dedup.py:
  simhash_groups_portable) — the q32 bit-vote plan over the md5-derived
  60-bit hash instead of Spark's xxhash64, which makes the
  hamming-bucket near-dup path DuckDB-hashable (the q22/q25 portability
  move) and shrinks the ``no_oracle`` set to 7. q32 (the xxhash64
  production variant — one JVM hash call per shingle vs md5+hex-parse)
  stays registered; a parity unit asserts both variants agree on
  neighbor structure at the same hamming radius.

- q164: domain-level crawl stats (operators/crawl.py:domain_stats) —
  the RefinedWeb/FineWeb per-domain dup-rate/volume gate.
- q165: mojibake repair (functions/normalize.py:fix_mojibake) —
  ftfy-style cp1252 fix as a codegen literal-replace chain.
- q166: invisible-character hygiene (functions/normalize.py:
  clean_invisible) — BOM/zero-width/bidi strip + NBSP→space.

Kept deliberately SHORT (4 entries): the driver certifies only the
first 50 ``queries()`` entries per round and round 10 must let the
r06-stale q125–q137 block (plus the oldest r07 entries) rotate through
the window (round-9 verdict #4) — 4 new + 13 r06 + 33 r07 keeps the
whole stale block inside it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nahuatl_data_pipeline_spark.functions.hashing import (
    SIMHASH_PORTABLE_BITS,
)
from nahuatl_data_pipeline_spark.registry import register
from nahuatl_data_pipeline_spark.schemas import load_table

# ---------------------------------------------------------------------------
# q163: portable SimHash fingerprints + hamming bands
# ---------------------------------------------------------------------------

# DuckDB mirror of simhash_groups_portable at shingle_n=1: distinct
# lowercase ASCII-\s tokens → 60-bit md5 hash → per-bit ±1 votes (ONE
# grouped aggregate over an unnested bit index, the set-based dual of
# the Spark plan's 60 pivoted vote columns) → majority bits OR'd into
# the fingerprint → 4×15-bit band keys. Strict majority (> 0) on both
# sides; token-less docs keep simhash 0 via the LEFT JOIN.
_BAND_BITS = SIMHASH_PORTABLE_BITS // 4
_Q163_SQL = f"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
               t -> t <> ''))) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(MD5(tok), 1, 15)) AS BIGINT) AS hv
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END AS v
      FROM h CROSS JOIN (SELECT UNNEST(RANGE(0, {SIMHASH_PORTABLE_BITS})) AS b)
    ),
    votes AS (SELECT doc_id, b, SUM(v) AS sv FROM bits GROUP BY 1, 2),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.simhash, 0) AS simhash,
           (COALESCE(s.simhash, 0) >> {0 * _BAND_BITS})
             & {(1 << _BAND_BITS) - 1} AS band0,
           (COALESCE(s.simhash, 0) >> {1 * _BAND_BITS})
             & {(1 << _BAND_BITS) - 1} AS band1,
           (COALESCE(s.simhash, 0) >> {2 * _BAND_BITS})
             & {(1 << _BAND_BITS) - 1} AS band2,
           (COALESCE(s.simhash, 0) >> {3 * _BAND_BITS})
             & {(1 << _BAND_BITS) - 1} AS band3
    FROM documents d LEFT JOIN sim s USING (doc_id)
"""


@register("q163_simhash_portable", _Q163_SQL)
def q163_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SimHash fingerprints + 15-bit hamming bands
    (operators/fuzzy_dedup.py:simhash_groups_portable): q32's bit-vote
    aggregate over the engine-portable 60-bit md5 hash, so the whole
    hamming-bucket near-dup scheme is hash-certified against DuckDB.
    The bit-vote body it shares with q32 bands with ``shiftrightunsigned``
    where this query used ``shiftright``; the two shifts agree on every
    non-negative value and a 60-bit fingerprint is non-negative, so the
    output is unchanged."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        simhash_groups_portable,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_groups_portable(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# q164: domain-level crawl stats (operators/crawl.py:domain_stats)
# ---------------------------------------------------------------------------

# Synthetic multi-host crawl urls, deterministic in doc_id (the q158
# pattern, widened to many registered domains): subdomains + WWW +
# mixed-case hosts, a two-label public suffix (co.uk), a dot-less host
# (localhost), a default port, tracking-param query variants, fragments,
# and NULL/whitespace junk rows. Spark twin below is
# expression-for-expression identical.




def _q164_sql() -> str:
    from nahuatl_data_pipeline_spark.registry import (
        _Q164_URLS_SQL,
        domain_case_sql,
        host_strip_sql,
    )
    from nahuatl_data_pipeline_spark.registry_round9 import _CANON_CTES

    # DuckDB mirror of functions/url.py:url_domain over canonical_url —
    # regexes shared verbatim with the Spark expression. The r12
    # refactor to the shared builders emits the same expressions
    # (whitespace-normalized-identical to the pre-refactor string,
    # verified at refactor time; q164 hash parity re-asserted on every
    # pytest run).
    return f"""
    WITH urls AS ({_Q164_URLS_SQL}),
    {_CANON_CTES},
    hosts AS (
      SELECT doc_id, n_chars, canonical_url,
             {host_strip_sql("canonical_url")} AS host
      FROM canon
    ),
    dom AS (
      SELECT h.doc_id, h.n_chars, h.canonical_url, d.lang,
             {domain_case_sql("h.host")} AS domain
      FROM hosts h JOIN documents d USING (doc_id)
    ),
    g AS (
      SELECT domain,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT CASE WHEN canonical_url <> ''
                                      THEN canonical_url END) AS BIGINT)
               AS n_pages,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM dom GROUP BY 1
    ),
    t AS (SELECT SUM(n_chars) AS grand FROM dom)
    SELECT domain, n_docs, n_pages,
           CASE WHEN n_pages > 0
                THEN ROUND(1 - n_pages * 1.0 / n_docs, 4) END AS dup_frac,
           n_langs, total_chars,
           ROUND(total_chars * 1.0 / grand, 6) AS chars_share
    FROM g CROSS JOIN t
"""


def _q164_url_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_Q164_URLS_SQL`` (expression-for-expression)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTP://"))
    host = (
        F.when(d % 7 == 0, F.lit("WWW.News.Example.COM"))
        .when(d % 7 == 1, F.lit("blog.example.com"))
        .when(
            d % 7 == 2,
            F.concat(F.lit("site"), (d % 5).cast("string"), F.lit(".ORG")),
        )
        .when(d % 7 == 3, F.lit("Media.Example.CO.UK"))
        .when(d % 7 == 4, F.lit("example.co.uk"))
        .when(d % 7 == 5, F.lit("localhost"))
        .otherwise(
            F.concat(
                F.lit("cdn.site"), (d % 3).cast("string"), F.lit(".net")
            )
        )
    )
    port = F.when(d % 11 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(F.lit("/p/"), (d % 13).cast("string"))
    query = (
        F.when(d % 4 == 0, F.lit("?b=2&utm_source=x&a=1"))
        .when(d % 4 == 1, F.lit("?a=1&b=2"))
        .when(d % 4 == 2, F.lit("?utm_campaign=z&ref=home"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 6 == 0, F.lit("#top")).otherwise(F.lit(""))
    url = (
        F.when(d % 89 == 1, F.lit(None).cast("string"))
        .when(d % 89 == 0, F.lit("   "))
        .when(d % 89 == 2, F.lit("https://u@cache@localhost/p"))
        .when(d % 89 == 3, F.lit("http://[::ffff:192.168.0.1]:8080/x"))
        .otherwise(F.concat(scheme, host, port, path, query, frag))
    )
    # doc_id rides along for q172's deterministic tiebreak (unused by
    # q164's aggregate — output-identical there)
    return docs.select("doc_id", url.alias("url"), "n_chars", "lang")


@register("q164_domain_stats", _q164_sql())
def q164_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level crawl profile (operators/crawl.py:domain_stats):
    canonicalize → registered-domain extract (functions/url.py:
    url_domain, eTLD+1 with a two-label-suffix table) → ONE hash
    aggregate per domain (docs, distinct pages, dup rate, langs, char
    volume + corpus share via a 1-row broadcast crossJoin). The
    RefinedWeb/FineWeb-style per-domain gate the reference lacks
    (its ids hash url+ts, manager.py:17-21 — no site-level view)."""
    from nahuatl_data_pipeline_spark.operators.crawl import domain_stats

    return domain_stats(_q164_url_table(spark, sf_dir), "url")


# ---------------------------------------------------------------------------
# q165: mojibake repair (functions/normalize.py:fix_mojibake)
# ---------------------------------------------------------------------------

def _q165_plant() -> str:
    from nahuatl_data_pipeline_spark.functions.normalize import make_mojibake

    # Clean Spanish-ish tail covering 2- and 3-byte sequences; encoded
    # into its cp1252-mojibake form through the SAME table the repair
    # uses (one definition of the plant).
    return make_mojibake(" «Café» — ¿qué más? día… ‘ok’ 5€")


def _q165_sql() -> str:
    from nahuatl_data_pipeline_spark.functions.normalize import (
        mojibake_repair_sql,
    )

    plant = _q165_plant().replace("'", "''")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || '{plant}'
                  ELSE text END AS t
      FROM documents
    ),
    fx AS (
      SELECT doc_id, t, {mojibake_repair_sql('t')} AS text_fixed FROM aug
    )
    SELECT doc_id, text_fixed,
           CAST(LENGTH(t) - LENGTH(text_fixed) AS BIGINT) AS n_repaired,
           LENGTH(t) - LENGTH(text_fixed) > 0 AS had_mojibake
    FROM fx
"""


@register("q165_mojibake_repair", _q165_sql())
def q165_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style mojibake repair (functions/normalize.py:fix_mojibake):
    single-pass table-driven literal-replace chain — pure whole-stage
    codegen, no regex, no Python hop — over docs with a planted
    cp1252-mojibake tail on every third document. Returns the repaired
    text plus per-doc repaired-char accounting; the DuckDB oracle
    applies the SAME table in the SAME order via mojibake_repair_sql
    (one definition). Beyond the reference: its readers trust curated
    HF dataset encodings, a crawl feed cannot."""
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.functions.normalize import fix_mojibake

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    aug = F.when(
        d % 3 == 0, F.concat(F.col("text"), F.lit(_q165_plant()))
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", aug.alias("t")).withColumn(
        "text_fixed", fix_mojibake(F.col("t"))
    )
    n_rep = F.length("t") - F.length("text_fixed")
    return base.select(
        "doc_id",
        "text_fixed",
        n_rep.cast("long").alias("n_repaired"),
        (n_rep > 0).alias("had_mojibake"),
    )


# ---------------------------------------------------------------------------
# q166: invisible-character hygiene (functions/normalize.py:clean_invisible)
# ---------------------------------------------------------------------------

def _q166_plant() -> str:
    from nahuatl_data_pipeline_spark.functions.normalize import (
        INVISIBLE_CODEPOINTS,
    )

    # Every deletable codepoint appears once, interleaved with visible
    # anchors, plus an NBSP (mapped to space, not deleted).
    return (
        " x"
        + "".join(chr(c) for c in INVISIBLE_CODEPOINTS)
        + "y z"
    )


def _q166_sql() -> str:
    from nahuatl_data_pipeline_spark.functions.normalize import (
        invisible_clean_sql,
    )

    plant = _q166_plant().replace("'", "''")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN text || '{plant}'
                  ELSE text END AS t
      FROM documents
    ),
    fx AS (
      SELECT doc_id, t, {invisible_clean_sql('t')} AS text_clean FROM aug
    )
    SELECT doc_id, text_clean,
           CAST(LENGTH(t) - LENGTH(text_clean) AS BIGINT) AS n_stripped,
           LENGTH(t) - LENGTH(text_clean) > 0 AS had_invisible
    FROM fx
"""


@register("q166_invisible_clean", _q166_sql())
def q166_invisible_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invisible-character hygiene (functions/normalize.py:
    clean_invisible): delete BOM/zero-widths/word-joiner/soft-hyphen/
    bidi controls and map NBSP to plain space — crawl format chars
    that break dedup keys, token counts and fingerprints without
    rendering. One shared regex char class of LITERAL chars drives
    both engines (Spark regexp_replace replaces all matches; the
    DuckDB mirror passes the 'g' flag, which DuckDB needs and Spark
    implies). Planted tail on every 4th doc carries each deletable
    codepoint once plus an NBSP anchor."""
    from pyspark.sql import functions as F

    from nahuatl_data_pipeline_spark.functions.normalize import (
        clean_invisible,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    aug = F.when(
        d % 4 == 0, F.concat(F.col("text"), F.lit(_q166_plant()))
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", aug.alias("t")).withColumn(
        "text_clean", clean_invisible(F.col("t"))
    )
    n_strip = F.length("t") - F.length("text_clean")
    return base.select(
        "doc_id",
        "text_clean",
        n_strip.cast("long").alias("n_stripped"),
        (n_strip > 0).alias("had_invisible"),
    )
