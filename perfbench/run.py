"""Benchmark driver: one workload, one process, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload storage --seed 1 --seconds 3 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans around every call into the engine, Spark status-store metrics
per span, self time per layer, and the tracing overhead). The line before
the last is a full report (environment, sizes, every metric); the last
line is the result object. Scratch state lives under ``.perfbench/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "delta_lake_stock_pipeline_spark"
DRIVER_MEMORY = "2g"
SETUP = -1  # op id of spans recorded during set-up

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_s": "s",
    "trace.bench_self_s": "s",
    "trace.library_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "env.calibration_s": "s",
}


class Context:
    """What a workload sees: the session, its seed, a scratch dir, and the
    ``call``/``op`` wrappers that time and trace it."""

    def __init__(self, spark, tracer, work: str, seed: int, trace: bool):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.trace = trace
        self.ops = []
        self.correct = True
        self.notes: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def call(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name):
            return fn(*args, **kwargs)

    def op(self, kind: str, fn):
        from harness import Op

        op = Op(len(self.ops), kind)
        # Traced runs trace every other op of a kind (the first included),
        # so each kind yields traced and untraced latencies to difference.
        op.traced = self.trace and sum(o.kind == kind for o in self.ops) % 2 == 0
        self.tracer.enabled, self.tracer.op_id = op.traced, op.op_id
        t = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                op.result = fn()
        except Exception as exc:  # a failed op is counted, not fatal
            op.ok, op.error = False, f"{type(exc).__name__}: {str(exc)[:300]}"
        op.seconds = time.perf_counter() - t
        self.tracer.enabled = False
        self.ops.append(op)
        return op

    def wrong(self, op, why: str) -> None:
        """A wrong output fails its op and the run's verdict."""
        op.ok, op.error = False, f"wrong output: {why}"
        self.incorrect(f"op {op.op_id} ({op.kind}): {why}")

    def incorrect(self, why: str) -> None:
        self.correct = False
        self.notes.append(why)


def pin_environment(work: str) -> None:
    """Same cores, memory and scratch locations on every run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    # Python workers import the engine too: put the checkout on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    time.tzset()
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def clear_engine_caches() -> None:
    from delta_lake_stock_pipeline_spark.operators.dedup import clear_posts_cache
    from delta_lake_stock_pipeline_spark.operators.formats import clear_roundtrip_dirs
    from delta_lake_stock_pipeline_spark.operators.multimodal import clear_nd_cache
    from delta_lake_stock_pipeline_spark.operators.similarity import clear_ann_dirs
    from delta_lake_stock_pipeline_spark.operators.storage_lifecycle import clear_lifecycle_dirs
    from delta_lake_stock_pipeline_spark.streaming.windows import clear_mv_dirs

    for clear in (
        clear_posts_cache,
        clear_roundtrip_dirs,
        clear_nd_cache,
        clear_ann_dirs,
        clear_lifecycle_dirs,
        clear_mv_dirs,
    ):
        clear()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def layer_metrics(ctx, session: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced ops: the uniform set printed in the
    result, and the full breakdown (per span name, layer and op kind)."""
    from harness import SPARK_FIELDS, median, self_times

    spans = ctx.tracer.spans
    ctx.tracer.collect_spark(spans)
    selfs = self_times(spans)
    traced = [o for o in ctx.ops if o.traced]
    by_op: dict[int, list] = {}
    for s in spans:
        by_op.setdefault(s.op_id, []).append(s)

    per_name: dict[str, list[float]] = {}
    per_layer_self: dict[str, list[float]] = {}
    bench_self, library, spark_ops = [], [], []
    spark_by_kind: dict[str, list[dict]] = {}
    for op in traced:
        ss = by_op.get(op.op_id, [])
        names: dict[str, float] = {}
        layers: dict[str, float] = {}
        for s in ss:
            if s.layer != "op":
                names[s.name] = names.get(s.name, 0.0) + (s.end - s.start)
            layers[s.layer] = layers.get(s.layer, 0.0) + selfs[s.span_id]
        for k, v in names.items():
            per_name.setdefault(f"{k}_s", []).append(v)
        for k, v in layers.items():
            per_layer_self.setdefault(k, []).append(v)
        roots = {s.span_id for s in ss if s.parent is None}
        bench_self.append(sum(selfs[i] for i in roots))
        library.append(sum(s.end - s.start for s in ss if s.parent in roots))
        tot = {f: sum(s.spark.get(f, 0) for s in ss) for f in SPARK_FIELDS}
        spark_ops.append(tot)
        spark_by_kind.setdefault(op.kind, []).append(tot)

    def mean_spark(rows: list[dict]) -> dict:
        out = {f"spark.{f}": sum(r[f] for r in rows) / max(len(rows), 1) for f in SPARK_FIELDS}
        run = out["spark.executor_run_s"]
        out["spark.cpu_ratio"] = out["spark.executor_cpu_s"] / run if run else 0.0
        return out

    # Tracing overhead, two ways: spans per traced op times the measured
    # cost of a span; and, for kinds with both, the traced minus the
    # untraced median latency (noisy: few ops of a kind per run).
    span_cost = ctx.tracer.span_cost_s()
    per_op_spans = median([len(by_op.get(o.op_id, [])) for o in traced]) if traced else 0
    diffs = []
    for kind in {o.kind for o in ctx.ops}:
        on = [o.seconds for o in ctx.ops if o.kind == kind and o.ok and o.traced]
        off = [o.seconds for o in ctx.ops if o.kind == kind and o.ok and not o.traced]
        if on and off:
            diffs.append(median(on) - median(off))

    uniform = {
        "session.get_spark_s": session["get_spark_s"],
        "session.warmup_s": session["warmup_s"],
        "trace.overhead_s": per_op_spans * span_cost,
        "trace.bench_self_s": median(bench_self) if bench_self else 0.0,
        "trace.library_s": median(library) if library else 0.0,
        "env.calibration_s": session["calibration_s"],
    }
    uniform.update(mean_spark(spark_ops))
    full = {k: median(v) for k, v in sorted(per_name.items())}
    for s in by_op.get(SETUP, []):  # set-up calls, once per run
        full[f"{s.name}_s"] = full.get(f"{s.name}_s", 0.0) + (s.end - s.start)
    full.update({f"self.{k}_s": median(v) for k, v in sorted(per_layer_self.items())})
    full["spark_by_kind"] = {k: mean_spark(v) for k, v in sorted(spark_by_kind.items())}
    full["traced_ops"] = len(traced)
    full["trace.span_cost_s"] = span_cost
    full["trace.median_diff_s"] = median(diffs) if diffs else None
    return uniform, full


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness
    import workloads

    registry = {w.name: w for w in (workloads.Storage, workloads.Query)}
    if args.workload not in registry:
        print(f"unknown workload {args.workload!r}; one of {sorted(registry)}", file=sys.stderr)
        return 2
    wl = registry[args.workload]()

    # A known starting state: nothing left from an earlier (crashed) run.
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    host_before = harness.host_record()
    calibration = host_before["calibration_s"]
    t_book = time.perf_counter() - T_START  # bookkeeping before the session

    from delta_lake_stock_pipeline_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    warmup_s = time.perf_counter() - t

    ctx = Context(spark, harness.Tracer(spark.sparkContext), work, args.seed, bool(args.trace))
    ctx.tracer.enabled, ctx.tracer.op_id = ctx.trace, SETUP
    wl.setup(ctx)
    ctx.tracer.enabled = False
    setup_s = time.perf_counter() - T_START - t_book
    if hasattr(wl, "after_setup"):
        wl.after_setup(ctx)

    t_loop = time.perf_counter()
    wl.loop(ctx, args.seconds)
    loop_s = time.perf_counter() - t_loop

    try:
        wl.check(ctx)
    except Exception as exc:
        ctx.incorrect(f"check raised {type(exc).__name__}: {exc}")
    extra = wl.report(ctx)
    session = {"get_spark_s": get_spark_s, "warmup_s": warmup_s, "calibration_s": calibration}
    uniform, full = layer_metrics(ctx, session) if args.trace else ({}, {})
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = harness.vm_hwm_mb() + harness.vm_hwm_mb(jvm_pid)

    clear_engine_caches()
    stop_spark(spark)
    if args.trace:
        with open(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl"), "w") as f:
            for s in ctx.tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    ops = ctx.ops
    failed = sum(not o.ok for o in ops)
    completed = len(ops) - failed
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": harness.median_latency(ops),
        "ops_per_s": completed / loop_s,
        "peak_rss_mb": peak_rss_mb,
    }
    tail = harness.tail_percentile(len(ops))
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sizes": wl.sizes,
        "load": "closed loop, 1 client",
        "environment": {
            **harness.versions(),
            "spark_master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            "driver_memory": DRIVER_MEMORY,
            "before": host_before,
            "after": harness.host_record(),
        },
        "loop_s": loop_s,
        "ops": {k: sum(o.kind == k for o in ops) for k in sorted({o.kind for o in ops})},
        "op_s_by_kind": {
            k: harness.median([o.seconds for o in ops if o.kind == k]) for k in sorted({o.kind for o in ops})
        },
        "failed_ratio": failed / max(len(ops), 1),
        "errors": [f"{o.kind}#{o.op_id}: {o.error}" for o in ops if not o.ok],
        "check_notes": ctx.notes,
        **({f"op_p{tail:g}_s": harness.percentile(ops, tail)} if tail else {}),
        **e2e,
        **extra,
        **uniform,
        **full,
    }
    print(json.dumps({"report": report}, default=str))
    chosen = PER_LAYER if args.trace else END_TO_END
    values = {**e2e, **uniform}
    result = {
        "correct": ctx.correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
