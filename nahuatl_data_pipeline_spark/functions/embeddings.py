"""Sentence-embedding stage (SURVEY.md §2.10 M2; reference
``pipeline/alignment/aligner.py:15-24`` — LaBSE ``SentenceTransformer
.encode(normalize_embeddings=True)``).

The embedding model is PLUGGABLE: production passes ``encode_fn`` (a
batch-callable over a list of strings, e.g. a broadcast sentence-transformer)
and the stage runs it inside an Arrow-batched pandas_udf — one model call
per Arrow batch, never per row. The default is a deterministic
hashed-bag-of-tokens embedding (feature hashing): token t votes ±1/√d on
bucket md5(t) mod d, L2-normalized — portable, model-free, and good enough
to make cosine meaningful for tests (identical texts → cosine 1, disjoint
token sets → ~0).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def hashed_embedding(text: str | None, dim: int = 64) -> list[float] | None:
    """Deterministic feature-hashing embedding of one document."""
    if text is None:
        return None
    v = np.zeros(dim, dtype=np.float64)
    for t in text.lower().split():
        d = hashlib.md5(t.encode("utf-8")).digest()
        bucket = int.from_bytes(d[:4], "big") % dim
        sign = 1.0 if d[4] & 1 else -1.0
        v[bucket] += sign
    n = np.linalg.norm(v)
    if n == 0:
        return [0.0] * dim
    return list(np.round(v / n, 6))


def embed_text(
    c: ColumnOrName,
    dim: int = 64,
    encode_fn: Callable[[list[str]], "np.ndarray"] | None = None,
) -> Column:
    """array<double> embedding column.

    ``encode_fn`` receives the batch's non-null texts as a list and must
    return a (len, dim) array — the broadcast-model hook (M2). Default:
    deterministic hashed embedding, no model needed.
    """

    @F.pandas_udf(ArrayType(DoubleType()))
    def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # Iterator form (guide: heavyweight init once per task): the
        # token→(bucket, sign) md5 cache below amortizes over every
        # batch in the partition. Natural-language corpora repeat
        # tokens heavily, so most md5 calls become dict hits; the
        # accumulation order per document is unchanged (token order),
        # so the vectors are bit-identical to the uncached path.
        # Bounded (ADVICE r13): a high-vocabulary partition (noisy crawl
        # text) would otherwise grow the dict without limit inside the
        # Python worker; past the cap new tokens fall back to a direct
        # md5 (identical value, just uncached) while hits on the hot
        # head keep amortizing. 4M entries ≈ low hundreds of MB.
        tok_cache: dict[str, tuple[int, float]] = {}
        cache_cap = 4_000_000

        def _one(t: str | None) -> list[float] | None:
            if t is None:
                return None
            v = np.zeros(dim, dtype=np.float64)
            for tok in t.lower().split():
                bs = tok_cache.get(tok)
                if bs is None:
                    d = hashlib.md5(tok.encode("utf-8")).digest()
                    bs = (
                        int.from_bytes(d[:4], "big") % dim,
                        1.0 if d[4] & 1 else -1.0,
                    )
                    if len(tok_cache) < cache_cap:
                        tok_cache[tok] = bs
                v[bs[0]] += bs[1]
            n = np.linalg.norm(v)
            if n == 0:
                return [0.0] * dim
            return list(np.round(v / n, 6))

        for s in batches:
            yield _embed_batch(s, _one)

    def _embed_batch(s: pd.Series, one) -> pd.Series:
        if encode_fn is None:
            return s.map(one)
        mask = s.notna()
        out = pd.Series([None] * len(s), index=s.index, dtype=object)
        if mask.any():
            vecs = encode_fn(list(s[mask]))
            if len(vecs) != int(mask.sum()):
                raise ValueError(
                    f"encode_fn returned {len(vecs)} vectors for "
                    f"{int(mask.sum())} texts"
                )
            # index-aligned object Series: plain out[mask] = list-of-lists
            # makes pandas try an elementwise (ragged) assignment and fail
            out[mask] = pd.Series(
                [list(map(float, v)) for v in vecs],
                index=s.index[mask],
                dtype=object,
            )
        return out

    return _embed(_col(c))

