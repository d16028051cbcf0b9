"""Text-analysis functions for large-scale training-data pipelines.

Covers the reference's corpus statistics (``benchmark/generate_stats.py``,
``pipeline/validation/metrics.py``) plus the standard LLM-corpus toolkit:
token counting, quality scoring, document fingerprinting. All built-in
expressions — a quality-score pass over 100 TB is one codegen'd projection.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- tokenization / counting ------------------------------------------------

# whitespace tokenizer (reference splits on \s+ everywhere:
# deduplication.py:15, metrics.py:13) — drop empty leading/trailing tokens
_WS = r"\s+"


def tokens(c: ColumnOrName) -> Column:
    r"""``array<string>`` of whitespace tokens; empty strings removed.

    THE tokenization expression (trim + ``\s+`` split) of every
    Spark-side token path — term-level operators, curation gates and
    registry queries; callers that lowercase pass ``F.lower(c)``. One
    definition, so vocabularies cannot drift between operators or from
    their SQL oracles."""
    return F.filter(F.split(F.trim(_col(c)), _WS), lambda t: t != "")


def token_count(c: ColumnOrName) -> Column:
    """Whitespace token count (0 for empty/blank, NULL for NULL)."""
    t = F.trim(_col(c))
    return (
        F.when(_col(c).isNull(), F.lit(None).cast("long"))
        .when(t == "", F.lit(0).cast("long"))
        .otherwise(F.size(F.split(t, _WS)).cast("long"))
    )


# word runs | digit runs | single non-alnum non-space char — RE2-compatible
# (no lookaround) so the exact same pattern is usable in oracle SQL engines.
BPE_ISH_PATTERN = r"[A-Za-zÀ-ÿĀ-ž]+|[0-9]+|[^A-Za-z0-9À-ÿĀ-ž\s]"


def bpe_ish_token_count(c: ColumnOrName) -> Column:
    """BPE-flavored token estimate: letter runs + digit runs + standalone
    punctuation, via one regexp_extract_all (stays in codegen)."""
    return F.size(F.regexp_extract_all(_col(c), F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def char_count_of(c: ColumnOrName, chars: str) -> Column:
    """Total occurrences of any char in ``chars`` (length-diff trick,
    generate_stats.py:22-49)."""
    cls = "[" + chars + "]"
    col = _col(c)
    return (F.length(col) - F.length(F.regexp_replace(col, cls, ""))).cast("long")


MACRON_CHARS = "āēīōūĀĒĪŌŪ"


def macron_count(c: ColumnOrName) -> Column:
    """Macron-vowel occurrences (generate_stats.py:50-59) — the reference's
    zero-tolerance Unicode-preservation metric."""
    return char_count_of(c, MACRON_CHARS)


# --- quality scoring ---------------------------------------------------------

# small multilingual stopword inventory (es + en) for the ratio heuristic
_STOPWORDS = (
    "the,a,an,and,or,of,to,in,is,it,that,for,on,with,as,at,by,this,"
    "el,la,los,las,un,una,de,del,y,o,que,en,es,se,no,por,con,para,su,al,lo"
).split(",")


def punct_ratio(c: ColumnOrName) -> Column:
    """punctuation chars / total chars (NULL-safe, 0 for empty)."""
    col = _col(c)
    n = F.length(col)
    p = n - F.length(F.regexp_replace(col, r"[\p{Punct}¿¡«»…]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(c: ColumnOrName) -> Column:
    """stopword tokens / total tokens, lowercase match."""
    toks = tokens(F.lower(_col(c)))
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    return F.when(n > 0, sw.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_length(c: ColumnOrName) -> Column:
    toks = tokens(c)
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, total / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(
    c: ColumnOrName,
    *,
    min_len: int = 3,
    max_len: int = 1000,
) -> Column:
    """Composite [0,1] document quality heuristic.

    Components (equal-weighted):
    - length in config bounds (reference config.py:96-105: 3-1000 chars);
    - punctuation ratio below 0.3 (noisy OCR / markup indicator);
    - stopword ratio in [0.05, 0.7] (natural-language indicator);
    - mean word length in [2, 14] (tokenizer sanity).
    """
    col = _col(c)
    n = F.length(col)
    len_ok = (n >= min_len) & (n <= max_len)
    punct_ok = punct_ratio(col) < 0.3
    sw = stopword_ratio(col)
    sw_ok = (sw >= 0.05) & (sw <= 0.7)
    mwl = mean_word_length(col)
    mwl_ok = (mwl >= 2.0) & (mwl <= 14.0)
    score = (
        len_ok.cast("double")
        + punct_ok.cast("double")
        + sw_ok.cast("double")
        + mwl_ok.cast("double")
    ) / F.lit(4.0)
    return F.when(col.isNull(), F.lit(None).cast("double")).otherwise(score)


# --- fingerprinting ----------------------------------------------------------


def document_fingerprint(c: ColumnOrName, bits: int = 64) -> Column:
    """Deterministic content fingerprint of the *normalized* text
    (lower + whitespace-collapse), as a hex string.

    md5-based so any engine reproduces it (the reference uses
    sha256(url+ts)[:16] for ids, manager.py:17-21 — same idea, content
    instead of url)."""
    normalized = F.lower(F.trim(F.regexp_replace(_col(c), _WS, " ")))
    return F.substring(F.md5(normalized), 1, bits // 4)


# --- compression-ratio quality signal ---------------------------------------


def char_entropy(c: ColumnOrName) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    exact-math sibling of :func:`compression_ratio` (low ⇒ repetitive
    boilerplate, ~4+ ⇒ natural prose / noise). Unlike zlib, this IS
    SQL-expressible (DuckDB's ``entropy()`` over unnested chars uses the
    same -Σ p·log2 p definition), so it gets a hash oracle (q92).

    Arrow-batched pandas_udf: character counting per batch, no shuffle —
    a 100 TB scoring pass is one narrow projection. An explode-to-chars
    DataFrame formulation would be exact too but shuffles one row PER
    CHARACTER, which is the wrong trade at any scale. NULL→NULL,
    ''→NULL (no distribution)."""
    import math
    from collections import Counter

    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _entropy(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None or t == "":
                return None
            n = len(t)
            return -sum(
                (k / n) * math.log2(k / n) for k in Counter(t).values()
            )

        return s.map(one)

    return _entropy(_col(c))


def compression_ratio(c: ColumnOrName, level: int = 6) -> Column:
    """zlib-compressed size / raw UTF-8 size — the classic curation signal
    (near 0 ⇒ repetitive boilerplate, near/above 1 ⇒ high-entropy noise;
    natural prose sits ~0.3-0.7). Gopher/C4-style filters threshold it.

    Arrow-batched pandas_udf (zlib is C-speed; one Python hop per batch,
    not per row). Deterministic for a fixed zlib version+level, but NOT
    SQL-expressible — no oracle query; see tests/test_text_analysis
    invariants. NULL→NULL, ''→NULL (ratio undefined)."""
    import zlib

    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None or t == "":
                return None
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, level)) / len(raw), 6)

        return s.map(one)

    return _ratio(_col(c))
