"""Per-layer tracing from outside the engine.

A traced run swaps chosen public functions of the engine's modules for
wrappers (``patched``), so the pipeline under test runs unchanged while
every call into a layer becomes a span. Each wrapped layer is forced to
materialize: DataFrame inputs that are not yet cached are persisted and
counted *before* the span starts (in a span of their own), and
DataFrame outputs are persisted and counted *inside* it, so a span's
time is the layer's own work rather than whatever lazy plan reaches it.

Spans live in memory (name, start, end, parent, shared run id) and are
written out when the run ends. Spark's own counters for the stages a
span launched come from its job group: ``statusTracker`` gives job and
stage ids, ``statusStore().lastStageAttempt`` gives executor run time,
shuffle write, spill and task counts. Both work with the UI off.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# Layer name for materializing an input no layer produced (a join of
# cached frames, an ``observe`` wrapper): tracing cost, not layer work.
MATERIALIZE = "perfbench.materialize"


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    # filled by Tracer.collect_counters
    jobs: int = 0
    tasks: int = 0
    busy_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._rows: dict[int, int] = {}  # id(DataFrame) -> materialized rows
        self._held: list[DataFrame] = []  # keeps those ids from being reused
        self._next = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = Span(name, f"{self.run_id}:{self._next}",
                  parent.group if parent else None, self.run_id, time.perf_counter())
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setJobGroup(f"{self.run_id}:idle", "idle")

    def _materialize(self, df: DataFrame) -> int:
        key = id(df)
        if key not in self._rows:
            df.persist()
            self._held.append(df)
            self._rows[key] = df.count()
        return self._rows[key]

    def wrap(self, fn, layer: str, input_layer: str = MATERIALIZE):
        """``fn`` traced as ``layer``; its un-materialized DataFrame inputs
        are materialized first in a span named ``input_layer``."""

        def traced(*args, **kwargs):
            inputs = _frames(list(args) + list(kwargs.values()))
            pending = [df for df in inputs if id(df) not in self._rows]
            if pending:
                with self.span(input_layer) as sp:
                    sp.rows_out = sum(self._materialize(df) for df in pending)
            with self.span(layer) as sp:
                sp.rows_in = sum(self._rows[id(df)] for df in inputs)
                out = fn(*args, **kwargs)
                sp.rows_out = sum(self._materialize(df) for df in _frames(out))
            return out

        traced.__wrapped__ = fn
        return traced

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()
        self._rows.clear()

    def collect_counters(self, timeout_s: float = 10.0) -> None:
        """Attach Spark stage counters to every span. Waits (bounded) for
        the asynchronous status listener to record each job's end; each
        stage is charged once, to the span of the first job listing it."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.monotonic() + timeout_s
        jobs_of = {sp.group: sorted(tracker.getJobIdsForGroup(sp.group)) for sp in self.spans}
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for js in jobs_of.values() for j in js]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.05)
        seen: set[int] = set()
        for sp in sorted(self.spans, key=lambda s: min(jobs_of[s.group], default=1 << 62)):
            sp.jobs = len(jobs_of[sp.group])
            for jid in jobs_of[sp.group]:
                info = tracker.getJobInfo(jid)
                for sid in sorted(info.stageIds) if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # py4j error: stage evicted from the store
                        continue
                    if str(st.status()) != "COMPLETE":
                        continue
                    sp.stage_ids.append(sid)
                    sp.tasks += st.numCompleteTasks()
                    sp.busy_ms += st.executorRunTime()
                    sp.shuffle_write_bytes += st.shuffleWriteBytes()
                    sp.spill_bytes += st.diskBytesSpilled()


def _frames(obj) -> list[DataFrame]:
    if isinstance(obj, DataFrame):
        return [obj]
    if isinstance(obj, (list, tuple)):
        return [df for o in obj for df in _frames(o)]
    return []


@contextmanager
def patched(tracer: Tracer, targets):
    """Swap ``(module, attribute, layer[, input_layer])`` targets for
    traced wrappers for the duration of the block."""
    saved = []
    try:
        for module, attr, layer, *rest in targets:
            orig = getattr(module, attr)
            saved.append((module, attr, orig))
            setattr(module, attr, tracer.wrap(orig, layer, *rest))
        yield
    finally:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)


def layer_metrics(spans: list[Span], layers: list[str], cores: int) -> dict[str, float]:
    """``<layer>.<counter>`` for every layer in ``layers``, from the
    layer's self time (its spans minus their child spans)."""
    child_time: dict[str, float] = {}
    for sp in spans:
        if sp.parent is not None:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (sp.end - sp.start)
    out: dict[str, float] = {}
    for layer in layers:
        mine = [sp for sp in spans if sp.name == layer]
        wall = sum(sp.end - sp.start - child_time.get(sp.group, 0.0) for sp in mine)
        busy = sum(sp.busy_ms for sp in mine) / 1000.0
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.busy_core_s"] = busy
        out[f"{layer}.core_util"] = busy / (wall * cores) if wall > 0 else 0.0
        out[f"{layer}.jobs"] = sum(sp.jobs for sp in mine)
        out[f"{layer}.tasks"] = sum(sp.tasks for sp in mine)
        out[f"{layer}.shuffle_write_mb"] = sum(sp.shuffle_write_bytes for sp in mine) / 1e6
        out[f"{layer}.spill_mb"] = sum(sp.spill_bytes for sp in mine) / 1e6
    return out
