"""Hash-based ids and engine-portable MinHash signatures.

``content_id`` mirrors the reference's content-addressed Bronze ids
(``pipeline/ingestion/manager.py:17-21``: sha256(url+ts)[:16]).

``minhash_signature_cols`` is a *deterministic, engine-portable* MinHash:
permutation_i(token) = md5(i || ':' || token), signature_i = lexicographic
MIN over the doc's token set. Because md5 is identical everywhere, the same
signature is computable in any SQL engine — which makes near-dup candidate
generation oracle-checkable, unlike seeded ``pyspark.ml`` MinHashLSH
(that lives in operators/fuzzy_dedup.py as the scale path).
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


def minhash_signature_cols(
    shingles: Column, num_hashes: int = 8, prefix: str = "mh"
) -> list[Column]:
    """num_hashes MinHash components over a shingle array, as int64s.

    Component i is min((A_i·h + B_i) mod P) over the doc's shingle hashes
    (the standard universal-hashing MinHash construction); exact integer
    arithmetic → portable to any SQL oracle. Returns aliased Columns
    ``mh0..mh{k-1}``.

    CONVENIENCE FORM: the inline hash subtree is re-evaluated per
    component (no CSE across HOF lambdas), i.e. k md5 passes. Hot paths
    should materialize the hash array first —
    ``withColumn("hv", F.transform(sh, lambda s: hash64(s)))`` then
    :func:`minhash_from_hashes` (q22 does this), or use the exploded
    map-side-agg formulation (operators/fuzzy_dedup.py).
    """
    # NB: per-element lambdas must take exactly ONE parameter — a second
    # parameter would be bound by Spark to the array index, not the closure.
    hashes = F.transform(shingles, lambda s: hash64(s))
    return minhash_from_hashes(hashes, num_hashes, prefix)


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


def simhash64(shingles: Column) -> Column:
    """64-bit SimHash over a shingle array, as a bigint.

    For each bit b, sum ±1 over shingle hashes (xxhash64) and take the sign.
    Expressed with aggregate over the shingle array — per-row, no shuffle.

    CONVENIENCE FORM: each of the 64 bit-aggregates re-hashes every
    shingle (interpreted lambdas, no CSE) — fine for small arrays/tests;
    the scale path is ``operators/fuzzy_dedup.simhash_groups`` (explode +
    64 conditional sums in ONE codegen hash-agg, xxhash once per token,
    measured ~25× faster).
    """
    def bit(b: int) -> Column:
        # bit 63 is the sign bit of a signed long: use the negative literal
        mask = (1 << b) if b < 63 else -(1 << 63)
        votes = F.aggregate(
            shingles,
            F.lit(0),
            # exactly two parameters: (acc, element) — extra params would be
            # misinterpreted by Spark's lambda-arity dispatch
            lambda acc, s: acc
            + F.when(F.xxhash64(s).bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
        )
        return F.when(votes > 0, F.lit(mask)).otherwise(F.lit(0)).cast("long")

    out = F.lit(0).cast("long")
    for b in range(64):
        out = out.bitwiseOR(bit(b))
    return out
