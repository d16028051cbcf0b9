"""Hash-based ids and the engine-portable hash family of near-dup dedup.

``content_id`` mirrors the reference's content-addressed Bronze ids
(``pipeline/ingestion/manager.py:17-21``: sha256(url+ts)[:16]).

Portable MinHash: a shingle hashes to ``hash64`` (md5's first 15 hex
chars as an int64, mod P = 2^31 − 1); permutation i is the affine map
``(A_i·h + B_i) mod P`` with :func:`minhash_constants`; component i is
its minimum over the doc's shingles. All of it is exact 64-bit integer
arithmetic, so any SQL engine computes the same signature — near-dup
candidates are oracle-checkable, unlike seeded ``pyspark.ml``
MinHashLSH. ``operators/fuzzy_dedup._signature_bands`` bands it;
``hash60`` is the unreduced variant that portable SimHash votes on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.normalize import collapse_whitespace
from nahuatl_data_pipeline_spark.functions.text_analysis import tokens

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def content_id(*cols: ColumnOrName, length: int = 16, sep: str = "_") -> Column:
    """sha256(concat_ws(sep, cols))[:length] — content-addressed id
    (manager.py:17-21)."""
    return F.substring(
        F.sha2(F.concat_ws(sep, *[_col(c) for c in cols]), 256), 1, length
    )


def token_set(c: ColumnOrName, lowercase: bool = True) -> Column:
    """Distinct whitespace tokens (deduplication.py:15 tokenization)."""
    return F.array_distinct(tokens(F.lower(_col(c)) if lowercase else c))


def word_ngrams(c: ColumnOrName, n: int, lowercase: bool = True) -> Column:
    """Word n-gram occurrences as array<string>, in order and with
    repeats; NULL text gives an empty array. One built-in expression:
    :func:`collapse_whitespace`, then a regex match anchored at the
    start or at a space captures the next n tokens in a lookahead,
    so matches step one token at a time and overlap. The anchor
    consumes the space: a zero-width lookbehind would also match between
    the two halves of a surrogate pair, which Java's matcher steps into,
    and emit an n-gram starting mid-character for any token that begins
    outside the BMP.

    Identity with the Python reference (``re.split(r"\\s+", t,
    flags=re.ASCII)``, empties dropped, n-token windows space-joined):
    Java ``\\s`` is the same ASCII class, so NBSP and ideographic space
    stay inside a token as in every SQL oracle. Spark's ``lower``
    differs from Python 3.11's ``str.lower`` only on the 27 capitals
    Unicode 16 added a lowercase for (Cyrillic U+1C89, Latin
    Extended-D U+A7CB/A7CC/A7DA/A7DC, Garay U+10D50–U+10D65), none of
    them used in Náhuatl, Spanish or Maya text."""
    base = F.lower(_col(c)) if lowercase else _col(c)
    window = "(?:^| )(?=(" + " ".join(["[^ ]+"] * n) + "))"
    return F.coalesce(
        F.regexp_extract_all(collapse_whitespace(base), F.lit(window), 1),
        F.array().cast("array<string>"),
    )


def word_shingles(c: ColumnOrName, n: int = 3, lowercase: bool = True) -> Column:
    """n-gram word shingles as array<string>: the distinct
    :func:`word_ngrams`, first-occurrence order (order is irrelevant
    downstream — min/intersect/union only)."""
    if n == 1:
        return token_set(c, lowercase=lowercase)
    return F.array_distinct(word_ngrams(c, n, lowercase))


# Mersenne prime 2^31 − 1: (A·h + B) mod P stays under 2^62, so every
# intermediate fits an int64 exactly — the arithmetic is bit-identical in
# any engine with 64-bit integers.
MINHASH_P = 2147483647


def minhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants (A_i, B_i), A_i ≠ 0."""
    return [
        ((i * 2654435761 + 1) % MINHASH_P, (i * 40503 + 17) % MINHASH_P)
        for i in range(num_hashes)
    ]


def hash64(c: ColumnOrName) -> Column:
    """Portable 31-bit hash of a string: first 15 hex chars of md5 parsed
    as int64, reduced mod P. md5 + hex-parse + mod are exact and identical
    in every engine (DuckDB: CAST('0x'||SUBSTRING(MD5(s),1,15) AS BIGINT))."""
    return (
        F.conv(F.substring(F.md5(_col(c)), 1, 15), 16, 10).cast("long") % MINHASH_P
    )


SIMHASH_PORTABLE_BITS = 60


def hash60(c: ColumnOrName) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 parsed as int64,
    UNREDUCED — 60 independent, engine-identical bits for bit-vote
    fingerprints (portable SimHash). Max value 2^60−1 < 2^63, so the
    parse is exact in any 64-bit engine
    (DuckDB: CAST(('0x' || SUBSTRING(MD5(s), 1, 15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(_col(c)), 1, 15), 16, 10).cast("long")


def minhash_from_hashes(
    hashes: Column, num_hashes: int = 8, prefix: str = "mh"
) -> list[Column]:
    """MinHash components over an already-hashed int64 array. Materialize
    the hash array as a real column first (withColumn) so the md5 pass
    runs once, not once per component."""
    consts = minhash_constants(num_hashes)

    def component(i: int) -> Column:
        a, b = consts[i]
        return F.array_min(
            F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)
        ).alias(f"{prefix}{i}")

    return [component(i) for i in range(num_hashes)]
