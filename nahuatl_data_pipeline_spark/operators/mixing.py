"""Deterministic corpus mixing / stratified downsampling — the
data-mixture step of a training pipeline (e.g. "keep 100% of curated,
30% of crawl, 5% of synthetic"), kept REPRODUCIBLE and engine-portable.

``df.sample(fraction, seed)`` is partition-dependent (same seed, new
layout → different rows), which silently changes a training set between
runs. Instead, membership is a pure function of content: a row is kept
iff ``md5(seed:key)``'s first 8 hex digits, read as a fraction of
16^8, fall below the stratum's rate — the same decision any engine can
recompute (the md5-rank family used by ``seeded_split``,
``src/pipeline/unify.py:277-316``).

Zero shuffle: sampling is a narrow filter; at 100 TB it composes with
scan pushdown (the md5 can't push down, but partition/column pruning
still applies and no exchange is introduced).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DENOM = float(16**8)


def seeded_md5(key: Column, seed: int) -> Column:
    """The shared ``md5("{seed}:" || key)`` expression every mixing
    operator derives its order/bucket from — one definition, so the
    seeding scheme can never drift between ``sample_bucket`` (and its
    SQL oracles) and ``cap_per_group``."""
    return F.md5(F.concat(F.lit(str(seed) + ":"), key.cast("string")))


def sample_bucket(key: Column, seed: int) -> Column:
    """Uniform [0,1) bucket from content: first 8 md5 hex chars / 16^8.

    ``concat`` (not ``concat_ws``) on purpose: a NULL key must yield a
    NULL bucket so null-key rows are DROPPED by the `< rate` filter —
    matching SQL semantics (`NULL < rate` is not true). concat_ws would
    skip the null and hash every null-key row to one constant bucket,
    keeping or dropping them all together depending on the rate."""
    h = seeded_md5(key, seed)
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_DENOM)


def stratified_mix(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key: str,
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (the training-mix recipe): stratum s
    keeps ``rates[s]`` of its rows; strata absent from ``rates`` keep
    ``default_rate``. One narrow filter, no shuffle."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0,1], got {r}")
    rate: Column = F.lit(float(default_rate))
    for s, r in rates.items():
        rate = F.when(F.col(strata_col) == s, F.lit(float(r))).otherwise(rate)
    return df.filter(sample_bucket(F.col(key), seed) < rate)


def weighted_sample(
    df: DataFrame, key: str, rate: Column, seed: int = 42
) -> DataFrame:
    """Per-ROW keep probability (importance sampling): ``rate`` is any
    column expression in [0,1] — typically a quality score, so higher-
    quality documents survive at higher rates (the DCLM/quality-weighted
    mixing recipe). Membership stays a pure content-hash function, so
    re-running with the same seed reproduces the exact subset whatever
    the partitioning. Values outside [0,1] are clamped. One narrow
    filter, zero shuffle."""
    r = F.least(F.greatest(rate.cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(sample_bucket(F.col(key), seed) < r)


def epoch_shuffle(
    df: DataFrame, key: str, epoch: int, key_col: str = "shuffle_key"
) -> DataFrame:
    """Tag each row with its deterministic position key for training
    ``epoch``: ``md5("{epoch}:" || key)`` — a different, reproducible
    global permutation per epoch, the same seeding scheme as every other
    mixing operator (so the shuffle order is recomputable by any engine
    and survives repartitioning; ``.sample``/``rand`` orders are not).

    This ADDS the key only — no shuffle. To materialize an epoch's
    reading order at 100 TB, feed the result to
    ``sources/writers.py:write_range_sorted`` on ``key_col``: the range
    exchange is the one unavoidable shuffle, and shard files come out
    globally ordered with no single-partition sort. For "first N in
    epoch order" previews, ``orderBy(key_col).limit(n)`` plans as
    TakeOrderedAndProject (per-partition top-N + driver merge of N·P
    rows, never a global sort).
    """
    return df.withColumn(key_col, seeded_md5(F.col(key), epoch))


def cap_per_group(
    df: DataFrame, group_col: str, key: str, cap: int, seed: int = 42
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by content-hash order
    (the RefinedWeb/C4 per-domain cap: no single source may dominate the
    mix). The hash order makes the retained subset a deterministic
    uniform sample of each group — not "first N by ingestion order",
    which would bias toward old crawls.

    One shuffle (rank window partitioned by ``group_col``; ties broken
    by ``key`` and then by a full-row hash, so the cut is total up to
    byte-identical duplicate rows — which are interchangeable, keeping
    the retained MULTISET deterministic even on a pre-dedup feed with
    repeated keys). A pathologically hot group
    concentrates its rank in one task — for that regime pre-filter with
    ``weighted_sample`` at rate ≈ cap / approx group count (one scan to
    estimate, then a narrow filter) and apply this exact cap to the
    survivors; the window then ranks ~cap rows per group, not the
    original group size.
    """
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    from pyspark.sql import Window

    h = seeded_md5(F.col(key), seed)
    row_h = F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))
    w = Window.partitionBy(group_col).orderBy(
        h.asc(), F.col(key).asc(), row_h.asc()
    )
    return (
        df.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= cap)
        .drop("__r")
    )


def weighted_topk_sample(
    df: DataFrame, key: str, weight: Column, k: int, seed: int = 7
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement via the
    Efraimidis–Spirakis A-ES order statistic: each row gets priority
    ``u^(1/w)`` with ``u`` a content-hash uniform, and the k largest
    priorities form the sample — each row's inclusion probability is
    proportional to its weight, and (unlike ``rand()``-keyed variants)
    the chosen subset is a pure function of content, reproducible
    across runs, partitionings, and engines.

    Comparisons use the monotone-equivalent log form ``ln(u)/w`` —
    maximizing ``ln(u)/w`` over negative logs ≡ maximizing ``u^(1/w)``
    — which avoids ``pow`` ulp drift between engines. ``u`` is shifted
    to ``(h+1)/16^8`` ∈ (0,1] so a pathological all-zero hash prefix
    cannot produce ``ln(0)`` (Spark yields NULL, SQL engines -inf —
    the one place the engines would disagree).

    Scale shape: priority is a narrow projection (no shuffle) and the
    top-k is ``orderBy().limit(k)`` → TakeOrderedAndProject: per-task
    top-k heaps + a driver merge of k·P rows, never a global sort.
    The returned frame carries ``sample_rank`` (1 = highest priority),
    assigned on the k survivors only.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    h = F.conv(
        F.substring(seeded_md5(F.col(key), seed), 1, 8), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(_DENOM)
    # nanvl first: greatest(NaN, floor) = NaN in Spark, and NaN sorts
    # ABOVE every double — unguarded NaN weights would monopolize the
    # sample. NaN/NULL weights collapse to the floor (≈ never drawn).
    w = F.greatest(
        F.nanvl(weight.cast("double"), F.lit(1e-12)), F.lit(1e-12)
    )
    es_key = F.log(u) / w
    top = (
        df.withColumn("__es", es_key)
        .orderBy(F.desc("__es"), F.asc(key))
        .limit(k)
    )
    # rank window runs on the k survivors only (k rows, one tiny task)
    rw = Window.orderBy(F.desc("__es"), F.asc(key))
    return top.withColumn(
        "sample_rank", F.row_number().over(rw).cast("long")
    ).drop("__es")


def mix_concentration(
    df: DataFrame, strata_col: str, round_to: int = 6
) -> DataFrame:
    """One-row concentration profile of the corpus mix: Herfindahl–
    Hirschman index (Σ share² — 1/k for a balanced k-way mix, →1 as one
    stratum dominates), Shannon entropy in nats (ln k when balanced),
    and the stratum count — the "is one source swamping the training
    mix?" dashboard number that motivates ``cap_per_group``.

    Plan: one strata-keyed count [map-side combined] → the share math
    folds over the |strata| count rows (second tiny aggregate). NULL
    strata count as a real stratum (null-safe group convention).
    """
    from pyspark.sql import Window

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    total = Window.partitionBy()
    share = F.col("__n") / F.sum("__n").over(total)
    return (
        counts.select(share.alias("__p"))
        .agg(
            F.round(F.sum(F.col("__p") * F.col("__p")), round_to).alias("hhi"),
            F.round(
                -F.sum(F.col("__p") * F.log(F.col("__p"))), round_to
            ).alias("entropy"),
            F.count(F.lit(1)).alias("n_strata"),
        )
    )


def negative_samples(
    queries: DataFrame,
    corpus_count,
    id_col: str,
    k: int = 3,
    seed: int = 13,
) -> DataFrame:
    """K deterministic random negatives per query row for contrastive
    training pairs: negative ``j`` of id ``x`` is
    ``md5("{seed}:{j}:" || x) mod N`` over a CONTIGUOUS [0, N) id space
    (the standard post-index-assignment layout; ``seeded_split``'s
    md5-rank produces exactly such ids). O(1) per pair — no join, no
    shuffle against the corpus — and a pure content-hash function, so
    the pair set survives re-runs/partitionings and any engine can
    recompute it (vs ``rand()`` negatives, which are neither).

    Collisions with the anchor step to ``(h+1) mod N``; repeats across
    the K draws are sampling-with-replacement semantics (documented —
    K ≪ N makes them rare). ``corpus_count`` is a 1-row DataFrame
    holding N (column ``__n``), broadcast so the scalar never routes
    through the driver.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    out = queries.select(id_col).crossJoin(F.broadcast(corpus_count))
    draws = F.array(
        *[
            F.struct(
                F.lit(j).alias("neg_rank"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"{seed}:{j}:"),
                                    F.col(id_col).cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % F.col("__n")
                ).alias("h"),
            )
            for j in range(k)
        ]
    )
    exploded = out.select(
        id_col, "__n", F.explode(draws).alias("__d")
    ).select(
        id_col,
        F.col("__d.neg_rank").alias("neg_rank"),
        F.col("__d.h").alias("__h"),
        "__n",
    )
    neg = F.when(
        F.col("__h") == F.col(id_col),
        (F.col("__h") + 1) % F.col("__n"),
    ).otherwise(F.col("__h"))
    return exploded.select(
        id_col, "neg_rank", neg.cast("long").alias("neg_id")
    )


def budget_select(
    df: DataFrame,
    weight: Column,
    order: Column,
    id_col: str,
    budget: float,
    bands: int = 32,
) -> DataFrame:
    """Greedy budget-constrained selection: walk the corpus in
    descending ``order`` (ties broken by ``id_col``) and keep rows
    while the running ``weight`` total stays ≤ ``budget`` — the
    "fill a token budget with the best documents first" primitive
    behind every capacity-bounded training-mix build.

    The running total is a DISTRIBUTED prefix sum, never a global
    single-partition window (the q76 trap): rows are banded by
    ``bands`` approx-quantile cuts of the order score (band is a
    monotone function of the score ALONE, so equal scores can never
    straddle a band), the within-band cumulative sum runs as a
    band-partitioned window in parallel, and each band's offset comes
    from a ``bands``-row total table — the packing.py prefix-sum shape.
    At 100 TB the only full-data shuffle is the band partitioning;
    everything ordered-and-global touches ≤ ``bands`` rows. Bands that
    sit wholly above/below the budget boundary never evaluate the
    boundary logic row-by-row — they keep/drop via the same cum filter
    with zero extra passes.

    Rows with NULL order or weight cannot be ranked or spent — they
    are excluded up front (document the WHERE in any SQL mirror).
    Output: the selected rows plus ``cum_weight`` (the running total
    INCLUDING the row), deterministic across partitionings.
    """
    from pyspark.sql import Window

    base = (
        df.withColumn("__w", weight.cast("double"))
        .withColumn("__s", order.cast("double"))
        .where(F.col("__w").isNotNull() & F.col("__s").isNotNull())
    )
    qs = [i / bands for i in range(1, bands)]
    cuts = base.agg(
        F.percentile_approx("__s", qs, 10000).alias("__cuts")
    )
    banded = base.crossJoin(F.broadcast(cuts)).withColumn(
        "__band",
        F.size(F.filter("__cuts", lambda c: c > F.col("__s"))),
    )
    in_band = Window.partitionBy("__band").orderBy(
        F.desc("__s"), F.asc(id_col)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals = banded.groupBy("__band").agg(F.sum("__w").alias("__tot"))
    prefix_w = Window.orderBy("__band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefixes = totals.select(
        "__band",
        F.coalesce(F.sum("__tot").over(prefix_w), F.lit(0.0)).alias(
            "__prefix"
        ),
    )
    return (
        banded.withColumn("__in_band_cum", F.sum("__w").over(in_band))
        .join(F.broadcast(prefixes), "__band")
        .withColumn(
            "cum_weight", F.col("__prefix") + F.col("__in_band_cum")
        )
        .where(F.col("cum_weight") <= F.lit(float(budget)))
        .drop("__w", "__s", "__cuts", "__band", "__in_band_cum", "__prefix")
    )


def water_fill(
    avail: DataFrame,
    key_col: str,
    avail_col: str,
    budget: int,
    round_to: int = 4,
) -> DataFrame:
    """Water-filling token-budget allocation across sources: find the
    level ``c`` with ``Σ min(avail_i, c) = budget`` and give every
    source ``min(avail_i, c)`` — the max-min-fair split of a training
    budget (sources below the level keep everything, the rest are
    leveled), the principled version of "cap every domain at N tokens"
    (the cap falls out of the budget instead of being hand-picked).

    Closed form, no iteration: sort sources by availability ascending;
    source ``i`` is fully funded iff funding all smaller sources fully
    and everyone else at ``avail_i`` still fits the budget
    (``avail_i·(m−i+1) + prefix_{i−1} ≤ budget`` — monotone in ``i``),
    then ``c = (budget − Σ_funded) / (m − K)``. The comparison runs on
    exact integers (pass an integral ``budget``), so the funded set is
    reproducible bit-for-bit in any SQL engine; only the final level
    division is float (rounded).

    Input is the already-contracted per-source table (one row per
    source — the caller's big aggregate), so the global sort window
    here orders dozens of rows, not the corpus. Output: ``(key,
    avail, alloc)``; ``Σ alloc = budget`` up to the level rounding
    whenever ``budget ≤ Σ avail``, else ``alloc = avail`` everywhere.
    """
    from pyspark.sql import Window

    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    a = F.col(avail_col).cast("long")
    w = Window.orderBy(a.asc(), F.col(key_col).asc())
    whole = Window.partitionBy(F.lit(1))
    b = F.lit(int(budget)).cast("long")
    ranked = avail.select(
        F.col(key_col),
        a.alias("__a"),
        F.row_number().over(w).alias("__i"),
        F.sum(a).over(w).alias("__p"),  # inclusive prefix sum
    ).withColumn("__m", F.count(F.lit(1)).over(whole))
    funded = ranked.withColumn(
        "__full",
        (
            F.col("__a") * (F.col("__m") - F.col("__i") + 1)
            + (F.col("__p") - F.col("__a"))
        )
        <= b,
    )
    lvl = funded.withColumn(
        "__k", F.sum(F.col("__full").cast("long")).over(whole)
    ).withColumn(
        "__pk",
        F.coalesce(
            F.sum(F.when(F.col("__full"), F.col("__a"))).over(whole),
            F.lit(0).cast("long"),
        ),
    )
    c = (b - F.col("__pk")) / (F.col("__m") - F.col("__k"))
    return lvl.select(
        F.col(key_col),
        F.col("__a").alias("avail"),
        F.round(
            F.when(F.col("__full"), F.col("__a").cast("double")).otherwise(c),
            round_to,
        ).alias("alloc"),
    )


def match_distribution(
    df: DataFrame,
    strata_col: str,
    ref: DataFrame,
    key: str,
    seed: int = 42,
) -> DataFrame:
    """Maximal subsample of ``df`` whose ``strata_col`` distribution
    matches ``ref``'s — histogram matching for corpus mixing: make the
    new crawl's length/language/domain profile match last snapshot's
    before concatenating, so a shifted source can't silently tilt the
    training mix.

    Per-stratum keep rate ``r_b = R_b / max_b R_b`` with ``R_b =
    ref_frac_b / corpus_frac_b`` — the unique scaling that yields the
    LARGEST subsample with exactly the reference proportions (the
    binding stratum keeps everything, every other stratum is thinned
    to match). Strata absent from ``ref`` get rate 0; strata present
    only in ``ref`` simply cannot appear (no rows to keep). Keep/drop
    is the shared content-hash draw (``sample_bucket``), so the kept
    set is reproducible across runs, partitionings, and engines, and
    composes with the other mixing operators' determinism.

    Plan: two stratum-keyed counts (map-side combined), rate algebra on
    the |strata|-bounded table (window max — runs on dozens of rows),
    rates broadcast-joined back onto ``df`` (bounded side, the eval-
    side-broadcast precedent), then a zero-shuffle hash filter. The
    corpus never shuffles.
    """
    from pyspark.sql import Window

    corp = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__nc"))
    tgt = ref.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__nt"))
    both = corp.join(tgt, strata_col, "left").select(
        strata_col,
        "__nc",
        F.coalesce("__nt", F.lit(0)).alias("__nt"),
    )
    whole = Window.partitionBy(F.lit(1))
    # R_b written exactly as the SQL oracle computes it so the doubles
    # are bit-identical: (nt * Nc) / (Nt * nc), all factors exact ints
    rated = (
        both.withColumn("__tc", F.sum("__nc").over(whole))
        .withColumn("__tt", F.sum("__nt").over(whole))
        .withColumn(
            "__ratio",
            (F.col("__nt").cast("double") * F.col("__tc"))
            / (F.col("__tt").cast("double") * F.col("__nc")),
        )
        .withColumn(
            "rate", F.col("__ratio") / F.max("__ratio").over(whole)
        )
        .select(strata_col, "rate")
    )
    return df.join(F.broadcast(rated), strata_col).filter(
        sample_bucket(F.col(key), seed) < F.col("rate")
    )
