"""Connected components over near-duplicate pair graphs.

The missing last step of fuzzy dedup: pairwise similarity (q25/q38/q39)
yields EDGES, but "keep one copy per duplicate cluster" needs the
transitive closure — A~B and B~C must land in one cluster even though
(A, C) was never scored (their similarity can sit below threshold). The
reference stops at pairwise removal (SparkDedup.scala:120-160 drops the
right-hand side of each pair), which silently over- or under-deletes on
chains; component labeling is the principled replacement.

Algorithm: iterative min-label propagation expressed as DataFrame ops —
each round every vertex takes the minimum component label among itself
and its neighbors (join + groupBy.min, both shuffles on the vertex id,
map-side partial agg applies). Converges in O(diameter) rounds;
near-dup clusters are near-cliques with tiny diameters, so 2-4 rounds
is typical (``max_iter`` guards pathological chains). Lineage is
truncated every round with ``localCheckpoint`` — without it the
iterative plan nests one join-aggregate layer per round and analysis
time explodes. For graphs with genuinely large diameters use
:func:`connected_components_star` below — the large-star/small-star
formulation (Kiveris et al., "Connected Components in MapReduce and
Beyond", SOCC'14), which converges in O(log n) rounds at the cost of a
more complex per-round plan.

Small graphs skip the rounds: :func:`connected_components` probes the
symmetrized edge list, under a lazy persist pin, with one bounded
``limit(DRIVER_MAX_EDGES + 1)`` collect, and a graph at or under
:data:`DRIVER_MAX_EDGES` is labeled on the driver by a union-find that
keeps the same min-id labels, returned as a local DataFrame. The dedup
graphs of a curation run are small (hundreds of verified pairs per few
thousand docs), so this replaces ~20 one-to-five-task round and
checkpoint jobs with the one probe job, and the pin is released before
the call returns. Above the bound the edge list is checkpointed from
the pinned frame, whose shuffle the probe already wrote, so the
upstream pair computation runs once; the distributed propagation /
star path then runs unchanged.

The bound was measured on a 4-vCPU host (local[4], warm JVM): graphs
of disjoint 2-4-vertex cliques behind a shuffle, the whole call plus
one count of the labels, middle two of four runs per cell:

    symmetrized edges   driver path    distributed path (2 rounds)
                  526   0.46-0.52 s    0.95-1.02 s
               10,000   0.49-0.51 s    0.92-0.93 s
               50,000   0.58-0.62 s    0.89-0.91 s
              100,000   1.03-1.05 s    1.23-1.30 s
              200,000   1.54-1.60 s    1.45-1.48 s

The driver path grows with the edge count (collect, union-find, Arrow
table) while the rounds are mostly fixed cost, and graphs with longer
paths only add rounds. ``DRIVER_MAX_EDGES`` = 50,000 sits at about a
third of the crossover, where the collected rows are a few MB of
driver memory.

Not measured end to end: no benchmark workload has a pair graph above
the bound (the near-dup curation graph is a few hundred edges per few
thousand docs), so the distributed side and its extra probe cost
(collecting DRIVER_MAX_EDGES + 1 rows that are then dropped) are
covered only by the unit tests that force that path.

Fully deterministic: labels are vertex-id minima, independent of
partitioning and iteration interleave.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.session import pin, unpin

# symmetrized edge rows labeled on the driver (measured: module docstring)
DRIVER_MAX_EDGES = 50_000


def _label_on_driver(spark: SparkSession, sym: list) -> DataFrame:
    """Union-find over collected ``(s, d)`` rows of a symmetrized edge
    list: the same ``(id, comp)`` rows the propagation rounds produce.

    Roots are always the smaller id of a merge, so every root is its
    component's minimum id. A NULL endpoint links nothing but is still
    one row, labeled as the rounds label it: their join on the source
    id pushes labels INTO a NULL vertex and never out of it, so its
    label is the smallest label among its non-NULL neighbours (NULL
    when it has none)."""
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:  # path compression
            parent[v], v = root, parent[v]
        return root

    has_null = False
    null_nbrs = []
    for s, d in sym:
        if s is None:
            has_null = True
            continue
        parent.setdefault(s, s)
        if d is None:
            null_nbrs.append(s)
            continue
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    ids = list(parent)
    comps = [find(v) for v in ids]
    if has_null:
        ids.append(None)
        comps.append(min((find(v) for v in null_nbrs), default=None))
    # an Arrow table becomes a LocalRelation: statistics known at plan
    # time (a downstream join can broadcast it) and no parallelize job
    return spark.createDataFrame(
        pa.table({"id": pa.array(ids, pa.int64()), "comp": pa.array(comps, pa.int64())})
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 15,
    star_fallback: bool = True,
) -> DataFrame:
    """Label each vertex of an undirected edge list with the minimum
    vertex id reachable from it.

    Returns ``(id, component)`` for every vertex that appears in at
    least one edge (isolated rows never entered the pair graph and need
    no cluster label). ``component`` equals the smallest id in the
    cluster, so ``component == id`` marks a deterministic canonical
    representative.

    Propagation is O(diameter): right for the near-clique graphs dedup
    produces, wrong for a long chain hiding in a production corpus. If
    labels are still changing after ``max_iter`` rounds and
    ``star_fallback`` is set (the default), the call completes via the
    O(log n) :func:`connected_components_star` contraction on the
    already-materialized symmetric edge list — same output contract,
    no failed job. With ``star_fallback=False`` it raises
    ``ValueError`` instead — a truncated labeling would silently split
    clusters, which for dedup means shipping duplicates.

    A symmetrized edge list of at most :data:`DRIVER_MAX_EDGES` rows is
    labeled on the driver instead (see the module docstring): same rows,
    same ``(id, comp)`` schema, no propagation rounds. Both paths
    compute, for every vertex, the minimum id of its connected component
    in the same symmetrized edge set (a NULL endpoint is labeled as the
    rounds label it, see ``_label_on_driver``), so their outputs are
    identical.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    )
    sym = sym.unionByName(
        sym.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct()
    # bounded probe of the edge list: at most DRIVER_MAX_EDGES + 1 rows
    # ever reach the driver, and a small graph is read this once. The
    # lazy persist pin keeps one plan, so one shuffle, under both the
    # probe and the checkpoint below: above the bound the checkpoint
    # reads the probe's shuffle output instead of re-running the
    # upstream pair computation
    cached = pin(sym)
    head = cached.limit(DRIVER_MAX_EDGES + 1).collect()
    if len(head) <= DRIVER_MAX_EDGES:
        unpin(cached)
        return _label_on_driver(sym.sparkSession, head)

    # Above the bound, checkpoint the symmetrized edge list: every
    # round's join re-reads it, and without the lineage cut each round
    # would re-run the entire upstream pair computation (a banded-
    # Jaccard query at corpus scale) — the sf1 self-run measured q58 at
    # 72 s from exactly that recompute, vs the edges-once cost plus
    # cheap rounds after. The checkpoint no longer needs the persist pin.
    sym = pin(cached, eager=True, truncate=True)
    unpin(cached)
    labels = pin(
        sym.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id")),
        eager=True, truncate=True,
    )
    for _ in range(max_iter):
        prop = sym.join(
            labels.withColumnRenamed("id", "s"), "s"
        ).select(
            F.col("d").alias("id"),
            "comp",
            F.lit(None).cast("long").alias("__old"),
        )
        # the old label rides through the SAME aggregate (min ignores
        # nulls, and only the old row carries __old), so convergence is
        # a cheap filter-count on the checkpointed result instead of a
        # per-round new⋈old join — one shuffle saved every round
        merged = labels.select(
            "id", "comp", F.col("comp").alias("__old")
        ).unionByName(prop)
        # lazy checkpoint: the convergence count below is the round's
        # first action, so it materializes the checkpoint blocks in the
        # same job — one job per round instead of two (r13)
        agg = pin(
            merged.groupBy("id").agg(
                F.min("comp").alias("comp"),
                F.min("__old").alias("__old"),
            ),
            truncate=True,
        )
        changed = agg.filter(F.col("comp") < F.col("__old")).count()
        labels = agg.drop("__old")
        if changed == 0:
            return labels
    if star_fallback:
        # Budget exhausted ⇒ the graph has a longer path than the
        # near-clique assumption allows. Contract it with the O(log n)
        # formulation instead of failing; ``sym`` is checkpointed, so
        # the expensive upstream pair computation is NOT re-run.
        star = connected_components_star(sym, src="s", dst="d").select(
            "id", F.col("component").alias("comp")
        )
        # the contraction drops self-loop edges on entry, so a vertex
        # appearing ONLY as (x, x) would vanish from the fallback output
        # while the propagation path labels it — restore such vertices
        # as their own singleton components to keep the one-row-per-
        # vertex contract identical on both paths
        return (
            labels.select("id")
            .join(star, "id", "left")
            .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
        )
    raise ValueError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the graph has a longer path than expected — raise max_iter"
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → per-document cluster labels + canonical flag.

    ``(doc_id, component, is_canonical)``: one row per document involved
    in any near-dup pair; keep ``is_canonical`` rows (plus all documents
    absent from ``pairs``) to deduplicate a corpus cluster-wise.
    """
    comp = connected_components(pairs, src=id_a, dst=id_b)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("comp") == F.col("id")).alias("is_canonical"),
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14) — the
    O(log n)-round formulation for graphs whose diameter breaks plain
    min-label propagation (social graphs, long chains). Near-dup dedup
    graphs are near-cliques, so :func:`connected_components` stays the
    default; use this when the graph's diameter is unknown or large.

    Per round:

    * **large-star**: every node ``u`` connects each strictly greater
      neighbor to ``min(Γ(u) ∪ {u})`` — one groupBy for the min, one
      join back, filter ``v > u``.
    * **small-star**: every node ``u`` connects its not-greater
      neighbors and itself to ``min(Γ⁻(u) ∪ {u})`` over those.

    Both steps are a join + partial-agg groupBy on the node id — the
    identical shuffle shape as one propagation round — but the edge set
    contracts toward stars doubly-exponentially. Convergence = the
    canonical edge set reaches a fixed point (checked with a distributed
    ``exceptAll`` emptiness probe, never a driver collect). Returns
    ``(id, component)``, component = min id of the cluster, exactly like
    :func:`connected_components` (asserted equal in tests).
    """
    e = pin(
        edges.select(
            F.col(src).cast("long").alias("s"),
            F.col(dst).cast("long").alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .select(
            F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
        )
        .distinct(),
        # lazy: the _sig(e) below materializes the checkpoint (r13)
        truncate=True,
    )

    def _sig(df: DataFrame) -> tuple:
        """(count, order-independent hash-xor) in ONE job — the cheap
        fixed-point gate. Star contraction preserves edge counts from
        very early rounds (every component is nodes-1 edges once it
        stars), so gating the exact probe on count alone runs the
        expensive exceptAll EVERY round; the xor-fold makes the gate
        pass only when the sets are almost surely equal, and the exact
        probe then confirms (never trusts) it. bit_xor, not sum:
        order-independent AND overflow-free under ANSI mode."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("s", "d")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = _sig(e)
    if sig[0] == 0:
        return e.sparkSession.createDataFrame([], "id long, component long")

    # One large-star + small-star contraction round as ONE parsed SQL
    # statement over a temp view (no materialization — the caller
    # decides where to checkpoint). The Column-API formulation of the
    # same plan issued ~340 py4j round-trips per round (~0.17 s of
    # driver time each, measured r13 — the fastlit/simhash lesson);
    # spark.sql analyzes eagerly, so the view indirection resolves at
    # call time and re-registering the view for the next round is safe.
    #
    # large-star: (u, v>u) -> (v, min(Γ(u) ∪ {u})). The per-node min
    # rides a WINDOW over the same key the old groupBy+join-back
    # shuffled on (guide §2.4: a window partitioned like the
    # aggregation shares its exchange) — one exchange instead of the
    # aggregate exchange plus a sort-merge join of nbrs against it
    # (r13: 3 exchanges/round instead of ~6). WindowExec buffers one
    # node's neighbor run at a time and spills; the star contraction
    # shrinks hot nodes doubly-exponentially, so the buffering regime
    # is the same the old sort-merge join had.
    #
    # small-star over the large-star output. Large-star edges are
    # already canonical (new s = m <= old s < d), so the old
    # re-canonicalize+distinct pre-pass was a no-op shuffle:
    # duplicates don't move a min, and the final distinct dedups the
    # output set. The (m -> u) root edge the old m2-union emitted once
    # per node is emitted from each group's min row instead (v == m,
    # >= 1 per node, ties deduped by the distinct) — same edge SET.
    _STAR_ROUND_SQL = """
        WITH nbrs AS (
          SELECT s, d FROM {star_round_in}
          UNION ALL
          SELECT d AS s, s AS d FROM {star_round_in}
        ),
        withmin AS (
          SELECT least(min(d) OVER (PARTITION BY s), s) AS m, s, d
          FROM nbrs
        ),
        large AS (
          SELECT m AS s, d FROM withmin WHERE d > s
        ),
        lowm AS (
          SELECT d AS u, s AS v, min(s) OVER (PARTITION BY d) AS m
          FROM large
        ),
        small AS (
          SELECT explode(
                   CASE WHEN v = m
                        THEN array(struct(m AS s, v AS d),
                                   struct(m AS s, u AS d))
                        ELSE array(struct(m AS s, v AS d))
                   END
                 ) AS __e
          FROM lowm
        ),
        flat AS (
          SELECT __e.s AS s, __e.d AS d FROM small WHERE __e.s != __e.d
        )
        SELECT DISTINCT least(s, d) AS s, greatest(s, d) AS d FROM flat
    """

    def _star_round(cur: DataFrame) -> DataFrame:
        # Parameterized table reference ({star_round_in} resolves to the
        # DataFrame argument, PySpark >= 3.4) instead of a shared
        # createOrReplaceTempView: same parsed plan, but no session-global
        # catalog mutation — concurrent components queries on one
        # SparkSession (the test suite overlaps independent queries,
        # guide §2.6) cannot clobber each other's round input. Pure name
        # binding; output-identical by construction.
        return cur.sparkSession.sql(_STAR_ROUND_SQL, star_round_in=cur)

    # TWO contraction rounds per materialization + fixed-point probe
    # (r13): a converged edge set is a disjoint union of min-rooted
    # stars, and one more large+small round maps every such star to
    # itself (large-star keeps (root, leaf); small-star re-emits the
    # root edges and the root self-pairing falls to the self-loop
    # filter), so probing only every second round cannot overshoot the
    # fixed point — it just confirms it one idempotent round later.
    # Halves the per-round driver tax (physical-plan compile at each
    # localCheckpoint + one signature job per probe): q70's 9-round
    # convergence pays 5 probes instead of 9. Total shuffle work per
    # probed pair of rounds is unchanged.
    rounds_left = max_iter
    for _ in range((max_iter + 1) // 2):
        # lazy checkpoint: _sig below is the probe's first action and
        # materializes the checkpoint blocks in the same job — one job
        # per probe instead of two (r13)
        stepped = _star_round(e)
        if rounds_left >= 2:
            # Odd max_iter: the last materialization runs a SINGLE round
            # so the cap is never exceeded (r13 verdict: (max_iter+1)//2
            # doubled rounds could run max_iter+1 of them; converged
            # inputs were unaffected by idempotence, but a non-converged
            # graph at the cap must stop exactly at max_iter rounds).
            stepped = _star_round(stepped)
        rounds_left -= 2
        new_e = pin(stepped, truncate=True)
        # both sides are distinct SETS, so equal count plus one empty
        # set-difference proves equality. The signature (count +
        # order-independent hash-sum, one job) gates the probe: it
        # differs on every non-converged probe in practice, so the
        # shuffle-heavy exceptAll runs ~once per call instead of every
        # probe — at corpus scale that probe is a full compare of two
        # big edge sets and must not be a per-round tax.
        new_sig = _sig(new_e)
        converged = new_sig == sig and new_e.exceptAll(e).take(1) == []
        e, sig = new_e, new_sig
        if converged:
            break
    else:
        raise ValueError(
            f"star contraction did not converge in {max_iter} rounds"
        )
    members = e.select(F.col("d").alias("id"), F.col("s").alias("component"))
    roots = e.select(F.col("s").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.unionByName(roots).distinct()
