"""Iterative graph ranking over DataFrame edge lists.

The training-data use case is source/domain authority: a web-scale
corpus carries a link (or co-citation / co-purchase) graph over a node
space several orders of magnitude smaller than the page space —
millions of domains distilled from billions of documents. Curation
pipelines rank that graph (PageRank is the classic choice, e.g.
Common-Crawl-derived domain ranking) and use the score as a quality
prior for sampling weights or filter thresholds.

Shape that matters at 100 TB: the EDGE DERIVATION is the heavy part
(fact-table joins + one contraction aggregate down to the node-space
graph); the ITERATION then runs on the contracted graph — join +
map-side-combined aggregate per round, transition matrix materialized
once and reused, lineage truncated so the plan does not nest a layer
per round (the components.py lesson). Nothing here assumes the graph
fits anywhere in particular: every step is a keyed shuffle on node id.

No counterpart in the reference (its pipelines stop at per-source row
counts, e.g. scripts/run_quality_check.py's per-layer tallies); this is
a beyond-reference scale operator in the SURVEY §2-adjacent family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.session import pin


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 10,
    round_to: int | None = 6,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over a directed edge list.

    Returns one row per node appearing in any edge: ``(node, pagerank)``
    after exactly ``iters`` synchronous rounds of

        r'(v) = (1 - damping) / N  +  damping * Σ_{u→v} r(u) · p(u→v)

    with ``p(u→v) = w(u→v) / Σ_out w(u)`` and uniform ``1/N`` init.
    Fixed iteration count (not convergence-tested) keeps the result a
    pure function of the input — oracle-checkable by unrolling the same
    ``iters`` steps in SQL. Dangling nodes (no out-edges) leak their
    mass — the simplified formulation; ranks then sum to < 1. Callers
    who need the stochastic-matrix variant add explicit self-loop edges
    for dangling nodes, which this operator treats like any other edge.

    Parallel edges are legal (their weights add into the same
    transition); ``weight=None`` counts each edge as 1.0. Rounding the
    final rank (``round_to``) makes output hash-stable across partition
    orders — the float-fold reproducibility contract used engine-wide.

    Plan: the CONTRACTED edge list is materialized first
    (``localCheckpoint``) so the fact-table derivation that produced it
    runs exactly once — before round 13 it re-ran three times (node
    set, out-weight aggregate, join leg). Transition probabilities are
    one out-weight aggregate joined back onto the materialized edges,
    augmented with a ZERO-probability self-loop per node, and
    materialized once. The self-loops make every node reachable in the
    contribution aggregate (``r·0.0`` adds exactly +0.0, and a
    no-in-edge node's sum is that lone 0.0 — bit-identical to the old
    ``coalesce(NULL, 0.0)``), which deletes the per-round left join
    back onto the node set: each round is now ONE join (ranks ⨝ trans
    on the source id) + one map-side-combined sum keyed by destination
    — two keyed shuffles per round instead of three. Ranks are
    checkpointed every ``checkpoint_every`` rounds so analysis cost
    stays flat in ``iters``. ``N`` is a single driver scalar (same
    bounded-scalar precedent as the convergence counters in
    components.py).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w = (F.col(weight) if weight else F.lit(1.0)).cast("double")
    e = pin(
        edges.select(
            F.col(src).alias("__s"), F.col(dst).alias("__d"), w.alias("__w")
        ),
        eager=True, truncate=True,
    )
    out_w = e.groupBy("__s").agg(F.sum("__w").alias("__ow"))
    # lazy: trans's eager checkpoint below consumes nodes exactly once
    # (its union leg) and materializes these blocks in the same job —
    # the nodes.count() after it then reads checkpointed blocks. One
    # job barrier saved per call (r13).
    nodes = pin(
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct(),
        truncate=True,
    )
    trans = pin(
        e.join(out_w, "__s")
        .select("__s", "__d", (F.col("__w") / F.col("__ow")).alias("__p"))
        .unionByName(
            nodes.select(
                F.col("node").alias("__s"),
                F.col("node").alias("__d"),
                F.lit(0.0).alias("__p"),
            )
        ),
        eager=True, truncate=True,
    )
    n = nodes.count()
    if n == 0:
        # empty edge list -> no vertices; keep the output contract
        # (node, pagerank double) instead of dividing by zero
        return nodes.select("node", F.lit(0.0).alias("pagerank"))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("__r", F.lit(1.0 / n))
    for i in range(iters):
        ranks = (
            ranks.join(trans, ranks["node"] == trans["__s"])
            .groupBy(F.col("__d").alias("node"))
            .agg(
                (
                    F.lit(base)
                    + F.lit(damping)
                    * F.sum(F.col("__r") * F.col("__p"))
                ).alias("__r")
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and (
            i + 1
        ) < iters:
            # lazy: rounds are strictly sequential, so the final action
            # materializes every intermediate checkpoint inside ONE job
            # (each truncation still caps analysis/lineage depth — the
            # physical plan is compiled at call time either way). Three
            # mid-loop job barriers removed per call (r13).
            ranks = pin(ranks, truncate=True)
    r = F.col("__r")
    if round_to is not None:
        r = F.round(r, round_to)
    return ranks.select("node", r.alias("pagerank"))
