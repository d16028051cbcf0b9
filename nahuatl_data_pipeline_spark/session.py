"""SparkSession factory.

Mirrors the session tuning of the reference's one Spark job
(``src/scala_examples/SparkDedup.scala:156-165``: AQE on, tuned shuffle
partitions) and adds the settings a 100 TB deployment wants on by default:
adaptive coalescing + skew-join handling, Arrow for any pandas exchange,
and a pinned UTC session timezone so date bucketing is deterministic
across clusters.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

# Local test default. On a real cluster leave shuffle partitions high
# (or unset) and let AQE coalesce; 32 matches the local[32] test harness.
# SPARK_GRAFT_CPUS doubles as the local[N] spec, where '*' is legal — a
# non-numeric value falls back to 32 rather than poisoning the integer
# shuffle-partitions conf.
_cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
_DEFAULT_SHUFFLE_PARTITIONS = _cpus_env if _cpus_env.isdigit() else "32"


def get_spark(
    app_name: str = "nahuatl-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    AQE is enabled so runtime statistics re-plan shuffles (partition
    coalescing, skew-join splitting, dynamic broadcast) — this is what makes
    the same plan viable at sf0.001 and at 100 TB.

    PySpark's DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
    every ``F.*`` and ``Column`` call also records its Python call site
    in the JVM over extra py4j round trips (a warm corpus op at local[4]
    made 3,548 round trips with it on, 1,774 with it off). The cost of
    turning it off: an analysis error loses the Python ``file:line`` of
    the call in its query context, but keeps its error class and message.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce cached plans too, else every cache keeps 256 partitions
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Shuffles START wide and AQE coalesces them down when small:
        # per-task aggregation state is bounded by input/initialN, so a
        # 100x corpus cannot blow a hash-aggregate's memory just because
        # the static shuffle-partition count matched the core count
        # (observed: AGGREGATE_OUT_OF_MEMORY in the curation pipeline's
        # repetition/dedup aggregates at the 100x replica with 32 static
        # partitions; 256 initial fixed it with no measurable cost at
        # sf0.1 — AQE merges the small partitions right back).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "256"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                if shuffle_partitions is not None
                else _DEFAULT_SHUFFLE_PARTITIONS
            ),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # no per-call Python call-site capture (docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # session default, not a mid-run flip: TIMESTAMP(NANOS) parquet
        # columns decode as LongType everywhere (schemas.load_table
        # truncates ns→µs explicitly; see its docstring)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep the UI off in test/bench runs; it costs startup time.
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# the pins of the calling thread's innermost run_scope; None outside one
_SCOPE: ContextVar[CachePool | None] = ContextVar("pin_scope", default=None)


class CachePool(list):
    """One operator family's generation of persist pins: each call of the
    family releases the previous call's pins, so a long session holds at
    most one call's caches and the current result stays valid however the
    caller derives from it. Ordering contract: ``release`` runs at the
    START of a call, BEFORE it pins anything. Spark's CacheManager
    matches cached plans by canonical form, so unpersisting the previous
    handle after re-persisting an identical plan evicts the shared entry
    and runs the new call uncached (14 s -> 78 s on back-to-back sf1 q38).
    """

    def release(self) -> None:
        while self:
            unpin(self.pop())


def pin(
    df: DataFrame,
    *,
    eager: bool = False,
    truncate: bool = False,
    pool: CachePool | None = None,
) -> DataFrame:
    """Materialize ``df`` for reuse; the engine's one way to pin a frame.

    ``truncate=True`` is a lineage cut, ``localCheckpoint(eager=eager)``.
    Otherwise the frame is persisted at PySpark's default level, which
    spills to disk as the serialized ``MEMORY_AND_DISK`` does (a level
    never changes values), and ``eager`` runs one ``count()``. A lazy pin
    is filled by the first action that reads it. An eager pin still pays
    where two legs of one job read the frame on several executors:
    tasks of one executor wait for a block another task is writing, but
    tasks of different executors each compute it. Measured no worse
    lazily in one JVM: the banded pipeline's shingle and signature pins,
    both filled by the candidate count whose two self-join legs read the
    signatures (local[4], 2,500 docs: 3.88 s lazy against 3.97 s eager
    per warm curation op, medians of 8 alternating ops; 23 against 25
    jobs).

    The owner that releases the pin, first match wins: the calling
    thread's innermost :func:`run_scope`; else ``pool``, for builders
    that return lazy frames over their pins; else nobody, so the caller
    keeps the handle for :func:`unpin` (the pair-table LRU in
    ``fuzzy_dedup``) or garbage collection frees a checkpoint. Never
    release a checkpoint under a live frame: a released persist pin only
    recomputes, but every frame derived from a released checkpoint
    fails. So a checkpoint never joins a pool.
    """
    if truncate:
        df = df.localCheckpoint(eager=eager)
    else:
        df = df.persist()
        if eager:
            df.count()
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(df)
    elif pool is not None and not truncate:
        pool.append(df)
    return df


def unpin(df: DataFrame) -> None:
    """Release a pin: unpersist a persisted frame, or drop a checkpoint's
    blocks from its RDD (``unpersist`` on the frame frees nothing)."""
    try:
        if df.is_cached:
            df.unpersist()
        else:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # session already stopped


@contextmanager
def run_scope():
    """Release every pin the calling thread makes inside the block when it
    exits, raised or not; nothing may read those pins afterwards. Both
    pipelines run in one, so a long session holds no pins between runs."""
    pins = CachePool()
    token = _SCOPE.set(pins)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        pins.release()
