"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine runs on ``local[nproc]``.
A run sets up once (JVM launch, session, a warm-up job, input
generation), runs a fixed number of untimed warm-up passes, then runs
passes back to back until ``--seconds`` have passed. Outputs are checked
against the generated ground truth outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: one traced pass of every workload, and the
tracing overhead of the named one (traced minus untraced wall time of a
pass, after its warm-up). Per-run artifacts (metrics, co-tenant process counts, spans) are
written under ``.perfbench_work/artifacts``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
JVM_HEAP = "3g"

END_TO_END = {
    # name: (unit, better)
    "items_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}
_COUNTER_SPECS = {
    "wall_s": ("s", "lower"), "busy_core_s": ("s", "lower"), "core_util": ("ratio", "higher"),
    "jobs": ("count", "lower"), "tasks": ("count", "lower"),
    "shuffle_write_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
}
_EXTRA_SPECS = {
    "tracing_overhead_s": ("s", "lower"),
    "operators.dedup.keep_ratio": ("ratio", "higher"),
    "sources.writers.files_written": ("count", "lower"),
    "sources.writers.bytes_per_input_byte": ("ratio", "lower"),
    "operators.fuzzy_dedup.verify.candidate_precision": ("ratio", "higher"),
    "registry.query_p50_ms": ("ms", "lower"),
    "registry.build_ms": ("ms", "lower"),
    "session.plan_ms": ("ms", "lower"),
    "registry.exec_ms": ("ms", "lower"),
    "registry.jobs_per_query": ("count", "lower"),
    "registry.tasks_per_query": ("count", "lower"),
}


def per_layer_specs() -> dict[str, tuple[str, str]]:
    """Every per-layer metric a traced run prints, with unit and direction."""
    from perfbench.workloads import WORKLOADS

    out = {}
    for wl in WORKLOADS.values():
        for layer in wl.layers:
            for counter, spec in _COUNTER_SPECS.items():
                out[f"{layer}.{counter}"] = spec
    out.update(_EXTRA_SPECS)
    return out


def _configure_env() -> None:
    """Engine settings read at import time, and scratch dirs kept inside
    the checkout. Must run before pyspark or the engine is imported."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP


def _start_session():
    from nahuatl_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # initial heap = max heap: G1 sizes its young generation from
            # the committed heap, so a fixed heap makes peak RSS repeatable
            "spark.driver.extraJavaOptions":
                f"-Xms{JVM_HEAP} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Dderby.system.home={WORK}",
            # keep every job and stage of a run for the traced counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up job
    return spark


def _jvm_pids() -> list[int]:
    """Java processes descended from this one (the Spark JVM)."""
    from bench import _proc_snapshot

    parent, cmds = _proc_snapshot()
    me, out = os.getpid(), []
    for pid, cmd in cmds.items():
        if "java" not in cmd.split(" ", 1)[0]:
            continue
        p = pid
        while p > 1 and p in parent:
            p = parent[p]
            if p == me:
                out.append(pid)
                break
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _pass(wl, spark, truth, out_dir, ops):
    """One pass: (wall time of each op, stats of each op)."""
    walls, stats = [], []
    for op in ops:
        t0 = time.perf_counter()
        stats.append(wl.run(spark, truth, out_dir, op))
        walls.append(time.perf_counter() - t0)
    return walls, stats


def _warm_up(wl, spark, truth, out_dir, ops):
    # untimed: op times keep falling over the first ops of a fresh JVM
    # as the JIT compiles planner and codegen paths
    stats = []
    for _ in range(wl.warmup_passes):
        stats += _pass(wl, spark, truth, out_dir, ops)[1]
    return stats


def _per_op_problems(wl, truth, all_stats):
    per_op = [wl.check(truth, st) for st in all_stats]
    return sum(bool(bad) for bad in per_op), [p for bad in per_op for p in bad]


def run_end_to_end(wl, seed: int, seconds: float):
    t0 = time.perf_counter()
    spark = _start_session()
    truth = wl.make_inputs(seed, wl.size, os.path.join(WORK, "inputs"))
    setup_s = time.perf_counter() - t0
    out_dir = os.path.join(WORK, "out")
    ops = wl.ops(truth, seed)

    all_stats = _warm_up(wl, spark, truth, out_dir, ops)
    out_bad = wl.check_output(spark, truth, out_dir, all_stats[-1] if all_stats else None)
    pass_s, op_s = [], []
    t_start = time.perf_counter()
    while not pass_s or time.perf_counter() - t_start < seconds:
        walls, stats = _pass(wl, spark, truth, out_dir, ops)
        pass_s.append(sum(walls))
        op_s += walls
        all_stats += stats
    failed, problems = _per_op_problems(wl, truth, all_stats)
    rss = _vm_hwm_mb(os.getpid()) + sum(_vm_hwm_mb(p) for p in _jvm_pids())
    metrics = {
        # truth["input"]: items per op (records, documents, or one query)
        "items_per_s": truth["input"] * len(ops) / statistics.median(pass_s),
        "peak_rss_mb": rss,
        "setup_s": setup_s,
    }
    detail = {"setup_s": setup_s, "pass_s": pass_s, "op_s": op_s, "ops": ops,
              "items": truth["input"], "stats": all_stats[-1], "problems": out_bad + problems}
    return spark, metrics, len(all_stats), failed + bool(out_bad), detail, []


def run_traced(first: str, seed: int):
    """Trace one pass of every workload in one session, the named one
    first. The named workload runs its warm-up passes, its output check
    and one timed untraced pass before the traced one, for
    ``tracing_overhead_s``; the others run only the traced pass, then
    their output check."""
    from perfbench.trace import Tracer, layer_metrics
    from perfbench.workloads import WORKLOADS

    spark = _start_session()
    cores = os.cpu_count() or 1
    metrics, spans, problems = {}, [], []
    attempted = failed = 0
    for name in [first] + [n for n in WORKLOADS if n != first]:
        wl = WORKLOADS[name]
        truth = wl.make_inputs(seed, wl.size, os.path.join(WORK, f"inputs-{name}"))
        out_dir = os.path.join(WORK, f"out-{name}")
        ops = wl.ops(truth, seed)
        all_stats = []
        if name == first:
            all_stats = _warm_up(wl, spark, truth, out_dir, ops)
            out_bad = wl.check_output(spark, truth, out_dir, all_stats[-1] if all_stats else None)
            walls, stats = _pass(wl, spark, truth, out_dir, ops)
            all_stats += stats
        tracer = Tracer(spark, f"{name}-{seed}")
        t0 = time.perf_counter()
        all_stats += wl.traced_pass(tracer, spark, truth, out_dir, ops)
        if name == first:
            metrics["tracing_overhead_s"] = time.perf_counter() - t0 - sum(walls)
        tracer.collect_counters()
        tracer.release()
        if name != first:
            out_bad = wl.check_output(spark, truth, out_dir, all_stats[-1])
        n_failed, bad = _per_op_problems(wl, truth, all_stats)
        attempted += len(all_stats)
        failed += n_failed + bool(out_bad)
        problems += out_bad + bad
        metrics.update(layer_metrics(tracer.spans, list(wl.layers), cores))
        metrics.update(wl.extra_metrics(tracer.spans, truth, out_dir))
        spans += [dataclasses.asdict(sp) for sp in tracer.spans]
    return spark, metrics, attempted, failed, {"problems": problems}, spans


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _configure_env()
    # the checkout's root, not this script's dir: the engine's ``tests``
    # package must not be shadowed by ``perfbench/tests``
    sys.path[0] = ROOT
    try:
        import nahuatl_data_pipeline_spark  # noqa: F401
        from bench import _co_tenants
    except ImportError as exc:
        print(f"perfbench: run from the root of a checkout of the engine ({exc})", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    co_start = _co_tenants()
    if args.trace:
        spark, metrics, attempted, failed, detail, spans = run_traced(args.workload, args.seed)
        specs = per_layer_specs()
    else:
        spark, metrics, attempted, failed, detail, spans = run_end_to_end(
            WORKLOADS[args.workload], args.seed, args.seconds
        )
        specs = dict(END_TO_END)
    co_end = _co_tenants()
    _stop(spark)
    if set(metrics) != set(specs):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(specs))}")

    result = {
        "correct": not detail["problems"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": specs[k][0]} for k in sorted(specs)},
    }
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(art, "w") as f:
        json.dump({"args": vars(args), "co_tenants": [co_start, co_end], "result": result,
                   "detail": detail, "spans": spans}, f, indent=1, default=str)
    for p in detail["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    for sub in os.listdir(WORK):
        if sub != "artifacts":
            shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
