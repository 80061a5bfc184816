"""Benchmark of the lakehouse maintenance engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The workload's inputs are generated from
``--seed``; the timed window lasts ``--seconds``; every output is checked
afterwards.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``).  The line before it reports the workload's own metrics
by name and unit, and the session settings.  Exit code 0 means every
operation succeeded and every check passed; 1 means something failed;
2 means the engine could not be imported.

In a traced run every second unit of work runs with spans around every
layer call (see ``perfbench/METRICS.md``); spans are written to
``.perfbench_out/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"  # the engine's 48g default exceeds a small box's RAM


def _settings(cores: int, work: str) -> dict[str, str]:
    """Session sizing for this machine; exported before Spark starts so
    the JVM and its Python workers inherit it."""
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local_dir,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return {"master": f"local[{cores}]", "shuffle_partitions": str(cores), **env}


def _start_spark(cores: int, work: str):
    from engine.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.default.parallelism": str(cores),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _prewarm_workers(spark, cores: int) -> None:
    """Start one Python worker per core (Arrow UDFs reuse them)."""
    spark.range(0, 4 * cores, numPartitions=cores).mapInPandas(
        lambda it: it, "id long"
    ).count()


def run_window(wl, ctx, seconds: float, tracer=None):
    """Units of work until ``seconds`` have passed.  With a tracer, every
    second unit runs traced.  Returns (unit seconds, read seconds, traced
    flag per unit)."""
    from common import OpFailed

    ops, reads, flags = [], [], []
    try:
        for i in ctx.window(seconds):
            traced = tracer is not None and i % 2 == 1
            ctx.tracer = tracer if traced else None
            if traced:
                tracer.op_id = f"{wl.name}-{i}"
            with tracer.installed() if traced else nullcontext():
                op_s, read_s = wl.unit(i)
            ops.append(op_s)
            reads.extend(read_s)
            flags.append(traced)
    except OpFailed:
        pass  # recorded in ctx.failed; the checks below still run
    finally:
        ctx.tracer = None
    return ops, reads, flags


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    try:
        import engine.tablefmt  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from common import Ctx, OpFailed, median
    from dedup_search import DedupSearch
    from nightly import Nightly
    from tracing import LAYERS, SparkCounters, Tracer

    workloads = {w.name: w for w in (Nightly, DedupSearch)}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    settings = _settings(cores, work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(cores, work)
        spark.range(1).count()
        setup = {"session.start_s": time.perf_counter() - t0}
        t0 = time.perf_counter()
        _prewarm_workers(spark, cores)
        setup["workers.prewarm_s"] = time.perf_counter() - t0

        ctx = Ctx(spark, args.seed, work, cores, SparkCounters(spark))
        wl = workloads[args.workload](ctx)
        try:
            setup.update(wl.setup())
        except OpFailed:
            pass
        setup_s = sum(setup.values())
        # untimed: the window starts with set-up's garbage deleted and its
        # files written back, so no unit pays for set-up's I/O
        ctx.release()
        os.sync()

        layer: dict[str, float] = {}
        t_window = time.perf_counter()
        ctx.times.clear()
        ctx.counters.groups.clear()
        tracer = Tracer() if args.trace else None
        ops, reads, flags = [], [], []
        if not ctx.failed:
            ops, reads, flags = run_window(wl, ctx, args.seconds, tracer)
        if tracer is not None:
            traced = [op for op, f in zip(ops, flags) if f]
            plain = [op for op, f in zip(ops, flags) if not f]
            units = max(1, len(traced))
            layer.update(setup)
            layer.update(wl.layer_metrics(tracer))
            layer.update(ctx.spark_counts(sorted(ctx.counters.groups)))
            self_s = tracer.self_times()
            layer.update({f"self_s.{k}": self_s.get(k, 0.0) / units for k in LAYERS})
            layer["trace.spans"] = len(tracer.spans) / units
            layer["trace.overhead_s"] = median(traced) - median(plain)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"))
        phases = {"window_s": time.perf_counter() - t_window}

        report = {"setup_s": (setup_s, "s"), wl.op_metric: (median(ops), "s")}
        t0 = time.perf_counter()
        if not ctx.failed:
            report.update(wl.verify())
        phases["verify_s"] = time.perf_counter() - t0
        report["ops_failed_frac"] = (ctx.failed / max(1, ctx.attempted), "ratio")
        layer.update({f"report.{k}": v for k, (v, _) in report.items()})

        e2e = {
            "setup_s": setup_s,
            "op_p50_s": median(ops),
            "read_p50_ms": median(reads) * 1e3,
        }
        if args.trace:
            names, values = bench["per_layer"], layer
        else:
            names, values = bench["end_to_end"], e2e
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        }
        print(json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            "samples": {"op_s": ops, "read_s": reads},
            "op_times_s": {k: [round(x, 4) for x in v] for k, v in ctx.times.items()},
            "setup": setup,
            "phases": phases,
            "settings": settings,
            "errors": ctx.errors[:20],
        }))
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": max(1, ctx.attempted),
            "failed": ctx.failed,
            "metrics": metrics,
        }))
        return 0 if ctx.failed == 0 else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
