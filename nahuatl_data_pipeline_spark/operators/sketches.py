"""Portable sketches: Count-Min (frequencies), partitioned Bloom
(membership), and k-permutation minwise (set cardinality / overlap) —
each with fixed-size state no matter how large the stream.

The repo's other sketches (q63 HLL, q64 KLL-style quantiles) ride
Spark's built-ins, whose register layouts are engine-internal and hence
oracle-checkable only by error bound. This CMS is built from the
engine-portable md5 hash family (functions/hashing.py) instead: every
cell and every estimate is a pure function of the input multiset, so a
SQL oracle recomputes the ENTIRE sketch bit-for-bit — the same
determinism contract as the banded-MinHash path vs pyspark.ml LSH.

Guarantees (standard CM): estimate ≥ true count always (never
undercounts), and overcount ≤ εN with probability 1-δ for
width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.

Scale: the build is ONE map-side-combined aggregate — each task folds
its rows into ≤ depth·width partial cells, the shuffle carries at most
depth·width rows per task regardless of input size, and sketches of
disjoint corpus parts MERGE by cell-wise addition (the property that
makes CMS the right heavy-hitter primitive at 100 TB, where an exact
per-key count table is itself a giant shuffle). Estimation joins the
fixed-size sketch broadcast-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.hashing import (
    MINHASH_P,
    hash64,
    minhash_constants,
)
from nahuatl_data_pipeline_spark.session import pin


def _bucket(key, row: int, width: int):
    """Row-``row``'s bucket for ``key``: portable md5 hash64 of
    ``"{row}:" || key``, reduced mod width — the seeded_md5 scheme every
    deterministic operator in the repo derives hashes from."""
    return hash64(F.concat(F.lit(f"{row}:"), key.cast("string"))) % width


def _cell_array(key, width: int, depth: int):
    """The depth cell addresses ``(row, bucket)`` for ``key`` — ONE
    definition used by both build and estimate, so the two sides can
    never drift to different cells (which would silently break the
    never-undercount guarantee)."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _bucket(key, r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 3,
    count_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of ``key_col``'s frequencies: one output row per
    non-empty cell ``(row, bucket, cnt)`` — at most depth·width rows.
    Each input row contributes one increment per hash row via a
    depth-way explode (a narrow projection), then one aggregate.

    ``count_col`` feeds a PRE-AGGREGATED (key, count) table instead of a
    raw stream: cell values are Σ counts, bit-identical to the streaming
    build (CMS cells are sums — the same mergeability that lets partial
    sketches add cell-wise)."""
    cells = _cell_array(F.col(key_col), width, depth)
    inc = F.lit(1) if count_col is None else F.col(count_col)
    return (
        df.select(inc.alias("__inc"), F.explode(cells).alias("__c"))
        .groupBy(F.col("__c.row").alias("row"), F.col("__c.bucket").alias("bucket"))
        .agg(F.sum("__inc").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 3,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: the estimate is
    the MIN over hash rows of the addressed cells (a key hashing to an
    untouched cell reads 0 — the coalesce covers sparse sketches).
    The sketch is fixed-size → broadcast; the probe side stays
    shuffle-free. ``width``/``depth`` must match the build."""
    probes = keys.select(
        key_col,
        F.explode(_cell_array(F.col(key_col), width, depth)).alias("__p"),
    ).select(key_col, F.col("__p.row").alias("row"), F.col("__p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )


def bloom_positions(
    df: DataFrame, key_col: str, width: int = 1 << 18, depth: int = 3
) -> DataFrame:
    """Build side of a portable Bloom filter: the DISTINCT ``(row,
    bucket)`` cells the key set lights up — a partitioned Bloom (depth
    independent width-bit arrays), same md5 cell addressing as the CMS
    (``_cell_array``), so any engine recomputes the filter exactly. At
    most depth·|keys| rows, typically ≪ width·depth; one map-side-
    combined distinct."""
    return (
        df.select(F.explode(_cell_array(F.col(key_col), width, depth)).alias("__c"))
        .select(F.col("__c.row").alias("row"), F.col("__c.bucket").alias("bucket"))
        .distinct()
    )


def minwise_sketch(
    df: DataFrame, key_col: str, k: int = 64, exact: bool = False
) -> DataFrame:
    """k-permutation minwise sketch of the DISTINCT-set of ``key_col``:
    ``k`` rows ``(i, h)`` where ``h`` = MIN over all keys of the i-th
    hash-family member ``(A_i·hash64(key) + B_i) mod P`` — one portable
    md5 per row plus k affine permutations (the repo's MinHash
    constants), so any engine recomputes the sketch bit-for-bit.

    THE set-cardinality/overlap complement to the CMS (frequencies) and
    Bloom (membership) sketches: fixed k-row state no matter the input,
    built by ONE map-side-combined aggregate — each task folds its rows
    into k partial minima, the shuffle carries ≤ k values per task, and
    sketches of disjoint corpus parts MERGE by cell-wise MIN (so a
    100 TB build is embarrassingly partial-aggregable, where an exact
    COUNT DISTINCT shuffles every key). Duplicates cannot bias it:
    MIN over a multiset equals MIN over its support, so no distinct
    pre-pass is needed.

    Estimators (see :func:`minwise_overlap`): with u_i = h_i/P uniform
    on [0,1), E[min of n uniforms] = 1/(n+1) → n̂ = k/Σu_i − 1; and
    P(h_a_i == h_b_i) = Jaccard(A,B) exactly (the min over A∪B lands in
    A∩B with probability J) — the classic MinHash identity.

    ``exact=True`` additionally folds COUNT(DISTINCT key) into the SAME
    aggregate (one scan total) and replicates it on every output row as
    ``n_exact`` — the audit leg for error-measuring queries; leave off
    in production builds, where avoiding the exact-distinct shuffle is
    the point. NULL keys are excluded (a set has no NULL member); an
    empty input yields k rows with NULL ``h``.
    """
    key = F.col(key_col)
    # ONE md5 per row; the k family members are affine permutations
    # (A_i·h + B_i) mod P of that base hash — the established MinHash
    # constants (functions/hashing.py:minhash_constants), 2-universal,
    # and ~k× cheaper than k independent md5 evaluations (measured:
    # the md5-per-member build was 54 s at the 100× replica; affine
    # runs the same build in seconds). A_i·h < 2^62 fits int64 in both
    # engines. The k min-aggregates are parsed SQL strings over a
    # projected base hash, not Column chains: the chain form issued
    # ~4k py4j round-trips per sketch (~0.56 s driver time each,
    # measured r13 — the fastlit/simhash lesson). CAST(A AS BIGINT)
    # reproduces the long promotion F.lit(a) * long-column performed.
    base = df.where(key.isNotNull()).select(
        hash64(key.cast("string")).alias("__h0"),
        *([key.alias("__k")] if exact else []),
    )
    consts = minhash_constants(k)
    mins = [
        F.expr(
            f"min((CAST({a} AS BIGINT) * __h0 + {b}) % {MINHASH_P})"
            f" AS __h{i}"
        )
        for i, (a, b) in enumerate(consts)
    ]
    if exact:
        mins.append(F.expr("count(DISTINCT __k) AS n_exact"))
    row = base.agg(*mins)
    pairs = ", ".join(f"{i}, __h{i}" for i in range(k))
    cols = [f"stack({k}, {pairs}) as (i, h)"]
    if exact:
        cols.append("n_exact")
    return row.selectExpr(*cols)


def minwise_overlap(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """One-row overlap estimate from two minwise sketches (same k and
    hash family): estimated |A|, |B|, |A∪B| (cell-wise min — the merged
    sketch), Jaccard (signature match rate), and |A∩B| (J·|A∪B|).

    Runs entirely on the two k-row sketches — a k-row equi-join plus a
    1-row aggregate; the original data is never touched, which is what
    makes "how much do these two 50 TB corpora overlap?" a
    seconds-not-hours question. Estimates are rounded to 4 places so
    the floating fold is engine-stable.

    ``carry`` names pass-through columns (constant per sketch, e.g. the
    ``n_exact`` audit leg replicated on every row by
    ``minwise_sketch(exact=True)``) appended to the output via MAX over
    the join — so an audit column rides the SAME one-row aggregate
    instead of a separate scan-materializing branch per sketch (the
    r13 q122 fix: two eager localCheckpoints + two audit aggregates
    collapsed into this single job). Each carried name must exist in
    exactly one input (rename before calling)."""
    p = float(MINHASH_P)
    a_carry = [c for c in carry if c in sketch_a.columns]
    b_carry = [c for c in carry if c in sketch_b.columns]
    j = sketch_a.select("i", F.col("h").alias("ha"), *a_carry).join(
        sketch_b.select("i", F.col("h").alias("hb"), *b_carry), "i"
    )

    def est(c):
        return F.round(F.lit(float(k)) / F.sum(c / F.lit(p)) - 1.0, 4)

    return j.agg(
        F.lit(k).alias("k"),
        est(F.col("ha")).alias("est_a"),
        est(F.col("hb")).alias("est_b"),
        est(F.least("ha", "hb")).alias("est_union"),
        F.round(
            F.avg(F.when(F.col("ha") == F.col("hb"), 1.0).otherwise(0.0)), 4
        ).alias("est_jaccard"),
        *[F.max(c).alias(c) for c in (*a_carry, *b_carry)],
    ).select(
        "k",
        "est_a",
        "est_b",
        "est_union",
        "est_jaccard",
        F.round(F.col("est_jaccard") * F.col("est_union"), 4).alias(
            "est_intersect"
        ),
        *a_carry,
        *b_carry,
    )


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    positions: DataFrame,
    width: int = 1 << 18,
    depth: int = 3,
) -> DataFrame:
    """Probe side: keep rows whose key lights ALL ``depth`` cells of
    ``positions`` — no false negatives (every true match survives),
    false positives at the standard Bloom rate (~(fill)^depth), to be
    finished by the real join downstream.

    THE 100 TB semi-join reduction: instead of shuffling a full fact
    table into a join against a selective key set, the fixed-size
    position table broadcasts and the facts are trimmed by ``depth``
    MAP-SIDE broadcast left-semi joins — the fact side never
    exchanges. ``positions`` is materialized here (key-set-bounded):
    each of the depth join legs consumes it, and without the checkpoint
    the build-side distinct would re-run per leg (the exchange-reuse
    lesson). ``width``/``depth`` must match the build."""
    positions = pin(positions, eager=True, truncate=True)
    out = df
    for r in range(depth):
        # __-prefixed alias: an unqualified "bucket" would be ambiguous
        # against a probe frame that carries its own bucket column
        pos_r = positions.filter(F.col("row") == r).select(
            F.col("bucket").alias("__bucket")
        )
        out = out.join(
            F.broadcast(pos_r),
            _bucket(F.col(key_col), r, width) == F.col("__bucket"),
            "left_semi",
        )
    return out


# ---------------------------------------------------------------------------
# Portable HyperLogLog (md5 registers — the oracle-checkable twin of
# Spark's built-in approx_count_distinct, exactly the q163/CMS/minwise
# move applied to q63's HLL)
# ---------------------------------------------------------------------------

# hash60 supplies 60 uniform, engine-identical bits: low ``p`` bits pick
# the register, the remaining 60-p bits feed the leading-zero rank.
HLL_BITS = 60
HLL_P_DEFAULT = 9  # m = 512 registers → rsd ≈ 1.04/√512 ≈ 4.6%


def hll_registers(
    df: DataFrame,
    key_col: str,
    *,
    p: int = HLL_P_DEFAULT,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Portable HLL register grid of ``key_col``'s distinct-set, one row
    per NON-ZERO register: ``(*group_cols, register, max_rho)`` —
    ``register`` = low ``p`` bits of hash60(key), ``max_rho`` = MAX over
    keys of (leading zeros of the remaining 60-p bits) + 1. Untouched
    registers are implicitly 0 (the sparse form both engines emit
    identically).

    Every step is exact integer arithmetic shared verbatim with the
    DuckDB oracle: md5 → first-15-hex-chars int64 (hash60), ``%`` /
    ``>>`` for the bit split, and bit_length via LENGTH of the base-2
    string (Spark ``CONV(w,10,2)`` / DuckDB ``TO_BASE(w,2)``) — no
    floating point anywhere, so the whole grid is hash-certifiable,
    unlike the engine-internal registers of approx_count_distinct (q63).

    Scale shape: ONE map-side-combined aggregate — each task folds its
    rows into ≤ m partial maxima, the shuffle carries ≤ m rows per task
    no matter the corpus size, and grids of disjoint corpus parts MERGE
    by cell-wise MAX (registers are maxima — the same mergeability as
    the CMS's sums and minwise's minima). Duplicates cannot bias it:
    MAX over a multiset equals MAX over its support, so no distinct
    pre-pass is needed. NULL keys are excluded (a set has no NULL
    member).
    """
    from nahuatl_data_pipeline_spark.functions.hashing import hash60

    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    key = F.col(key_col)
    h = hash60(key.cast("string"))
    m = 1 << p
    tail_bits = HLL_BITS - p
    w = F.shiftrightunsigned(h, p)
    rho = F.when(w == 0, F.lit(tail_bits + 1)).otherwise(
        F.lit(tail_bits + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return (
        df.where(key.isNotNull())
        .select(
            *group_cols,
            (h % m).cast("long").alias("register"),
            rho.cast("long").alias("__rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("__rho").alias("max_rho"))
    )


def hll_estimate(
    registers: DataFrame,
    *,
    p: int = HLL_P_DEFAULT,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cardinality estimate from a :func:`hll_registers` grid (floating
    math, hash-certified separately from the integer grid — oracle
    q170 recomputes it from its own grid CTE, rounded to 4 in both
    engines): the classic HLL harmonic mean
    ``α_m·m²/Σ2^−M_j`` (zero registers contribute 2⁰ = 1 each) with the
    linear-counting small-range correction ``m·ln(m/V)`` when the raw
    estimate ≤ 2.5m and V > 0 zero registers remain. Runs on the
    ≤ m-per-group grid only — the data is never touched."""
    import math

    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("__inv"),
    )
    v = F.lit(m) - F.col("__nz")  # zero registers
    raw = F.lit(alpha * m * m) / (F.col("__inv") + v.cast("double"))
    # m·ln(m/V) written as −m·ln(V/m) to keep one log call
    est = F.when(
        (raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * -F.log(v.cast("double") / F.lit(float(m))),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.round(est, 4).alias("hll_estimate"),
        v.cast("long").alias("zero_registers"),
    )
