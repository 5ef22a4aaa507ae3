"""Benchmark of the engine's UDF boundary and graph-index maintenance.

Run from the repository root:

    python3 perfbench/run.py --workload udf_typed --seed 1 --seconds 10 --trace 0

Each run generates its inputs from ``--seed``, sets the workload up as
a new process does (``setup_s``: JVM launch, a ``local[2]`` session from
``wasaffi_spark.conf.recommended_builder``, input registration, DDL),
runs the workload's fixed number of untimed warm-up ops, then runs ops
in a closed loop with one client for ``--seconds`` seconds and checks
every result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: every other op is traced (spans, Spark's
scheduler counters, process CPU, the Python-UDF node metrics), so the
difference between traced and untraced op medians is the tracing
overhead. Spans are written to ``.perfbench_work/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import probes
from workloads import WORKLOADS, UdfTyped

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
T0 = time.perf_counter()

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def tail_index(n: int) -> int:
    """Index, in ascending order, of the highest percentile with at least
    ten samples beyond it; the upper median when there are too few."""
    return max(n - 11, n // 2)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def use_work_dir(work_dir: str) -> None:
    """Point every scratch location of this process, and of the JVM and
    workers it starts, into ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def build_session(work_dir: str):
    from wasaffi_spark.conf import recommended_builder

    tmp = os.path.join(work_dir, "tmp")
    spark = (
        recommended_builder(master="local[2]", cpus=2, app_name="perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit;
    the Python worker daemon exits with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(wl, work_dir: str, tracer):
    """Set the workload up once, as a new process does: launch the JVM,
    start a session from ``recommended_builder``, register the inputs
    and run the workload's DDL. Returns the set-up time with the rest."""
    layer_times: dict[str, list[float]] = {}
    t = time.perf_counter()
    with tracer.span("setup"):
        spark = build_session(work_dir)
        counters = probes.SparkCounters(spark)
        ctx = wl.setup(spark, counters, tracer, layer_times)
    return spark, counters, ctx, time.perf_counter() - t, layer_times


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    work_dir = os.path.join(WORK_ROOT, f"{workload_name}-{seed}-{os.getpid()}")
    use_work_dir(work_dir)
    tracer = probes.Tracer(trace)
    wl = WORKLOADS[workload_name](work_dir, seed)
    wl.generate()
    log("inputs generated")

    spark, counters, ctx, setup_s, layer_times = set_up(wl, work_dir, tracer)
    log(f"set up in {setup_s:.2f} s")
    wl.prepare_check(ctx)
    log("reference result ready")

    attempted = failed = 0

    def one_op(op_id: int) -> float:
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("op", op_id):
                rows = wl.op(ctx, tracer, op_id)
        except Exception as e:  # a failed op is counted, the loop goes on
            print(f"op {op_id} failed: {type(e).__name__}: {e}"[:2000], file=sys.stderr)
            failed += 1
            return time.perf_counter() - t
        elapsed = time.perf_counter() - t
        if not wl.check(rows):
            print(f"op {op_id} returned a wrong result", file=sys.stderr)
            failed += 1
        return elapsed

    for i in range(wl.warmup_ops):
        one_op(-1 - i)

    log(f"{wl.warmup_ops} warm-up ops done")
    plain: list[float] = []
    traced: list[float] = []
    per_op: dict[str, list[float]] = {}
    steal0 = probes.machine_cpu_ticks()
    with probes.RssSampler(os.getpid()) as rss:
        start = time.perf_counter()
        deadline = start + seconds
        op_id = 0
        while time.perf_counter() < deadline:
            if not (trace and op_id % 2 == 1):
                plain.append(one_op(op_id))
            else:
                traced.append(_traced_op(one_op, op_id, ctx, counters, per_op))
            op_id += 1
        window = time.perf_counter() - start
    steal1 = probes.machine_cpu_ticks()
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    log(f"{op_id} ops in {window:.1f} s")
    if trace:
        # Rows the UDF node returned: fixed by the inputs, so it is kept
        # in the trace file and printed, not reported as a metric.
        rows_received = per_op.pop("udf_runtime.rows_received", [0])
        metrics = _layer_metrics(wl, ctx, tracer, counters, layer_times, per_op, plain, traced)
        print(f"# {workload_name} seed={seed}: udf_runtime.rows_received = "
              f"{', '.join(str(r) for r in sorted(set(rows_received)))} count")
        trace_path = os.path.join(
            WORK_ROOT, "traces", f"{workload_name}-seed{seed}-{os.getpid()}.json")
        tracer.write(trace_path, {
            "udf_runtime.rows_received": {"value": max(rows_received), "unit": "count"},
            **{k: {"value": v, "unit": _LAYER_UNITS[k]} for k, v in metrics.items()},
        })
        log(f"trace written to {trace_path}")
    else:
        ops = sorted(plain)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(ops),
            "rows_per_s": wl.units_per_op * len(ops) / window,
            "peak_rss_mb": rss.peak_bytes / 1e6,
        }
        tail = tail_index(len(ops))
        print(f"# {workload_name} seed={seed}: {len(ops)} timed ops; "
              f"op_tail_s = {ops[tail]:.6g} s, the p{100.0 * (tail + 1) / len(ops):.0f} "
              f"value (10 or more ops beyond it when there are at least 21); "
              f"{100 * steal:.1f}% of the machine's CPU time was stolen by its host "
              f"while timing"
              + (f"; recall@{wl.k} {wl.last_recall:.4f}" if hasattr(wl, "last_recall") else ""))

    spark.stop()
    stop_jvm()
    shutil.rmtree(work_dir, ignore_errors=True)
    log("stopped")
    units = {**END_TO_END_UNITS, **_LAYER_UNITS}
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"fail_ratio = {failed / max(attempted, 1):.6g} ({failed} of {attempted} ops)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _traced_op(one_op, op_id, ctx, counters, per_op) -> float:
    """One op with Spark's counters and process CPU read around it. The
    returned time includes reading them, so traced minus untraced op
    time is the tracing overhead."""
    t = time.perf_counter()
    j0 = counters.last_job_id()
    cpu0 = (counters.jvm_cpu_s(), counters.jvm_gc_s(), counters.pyworker_cpu_s(),
            time.process_time())
    one_op(op_id)
    cpu1 = (counters.jvm_cpu_s(), counters.jvm_gc_s(), counters.pyworker_cpu_s(),
            time.process_time())
    work = counters.work_since(j0)
    udf = probes.python_udf_node_metrics(ctx["last_df"]) if "last_df" in ctx else {}
    sample = {
        "spark.jobs_per_op": work["jobs"],
        "spark.stages_per_op": work["stages"],
        "spark.tasks_per_op": work["tasks"],
        "spark.jvm_cpu_s_per_op": cpu1[0] - cpu0[0],
        "spark.jvm_gc_s_per_op": cpu1[1] - cpu0[1],
        "spark.pyworker_cpu_s_per_op": cpu1[2] - cpu0[2],
        "spark.driver_cpu_s_per_op": cpu1[3] - cpu0[3],
        "udf_runtime.python_total_s": udf.get("pythonTotalTime", 0) / 1000.0,
        "udf_runtime.worker_init_s": udf.get("pythonInitTime", 0) / 1000.0,
        "udf_runtime.data_sent_mb": udf.get("pythonDataSent", 0) / 1e6,
        "udf_runtime.data_received_mb": udf.get("pythonDataReceived", 0) / 1e6,
        "udf_runtime.rows_received": udf.get("pythonNumRowsReceived", 0),
        "similarity.persisted_rdds_after_op": counters.persisted_rdds(),
    }
    for k, v in sample.items():
        per_op.setdefault(k, []).append(v)
    return time.perf_counter() - t


_LAYER_UNITS = {
    "engine.create_function_ms": "ms",
    "udf_runtime.module_load_ms": "ms",
    "udf_runtime.invoke_ms_per_batch": "ms",
    "udf_runtime.guest_ms_per_batch": "ms",
    "udf_runtime.wrap_ms_per_batch": "ms",
    "udf_runtime.python_total_s": "s",
    "udf_runtime.worker_init_s": "s",
    "udf_runtime.data_sent_mb": "MB",
    "udf_runtime.data_received_mb": "MB",
    **{
        f"udf_runtime.{label}.{m}": unit
        for label, _ in UdfTyped.calls
        for m, unit in (("data_sent_mb", "MB"), ("python_total_s", "s"))
    },
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.jvm_cpu_s_per_op": "s",
    "spark.jvm_gc_s_per_op": "s",
    "spark.pyworker_cpu_s_per_op": "s",
    "spark.driver_cpu_s_per_op": "s",
    **{
        f"similarity.{leg}_{m}": unit
        for leg in ("knn_descent", "graph_insert", "graph_delete", "graph_search_topk")
        for m, unit in (("s", "s"), ("jobs", "count"))
    },
    # A count that does not repeat (checkpointed RDDs are released when
    # Python's garbage collector gets to them), so not an exact unit.
    "similarity.persisted_rdds_after_op": "rdds",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
}


def _layer_metrics(wl, ctx, tracer, counters, layer_times, per_op, plain, traced) -> dict:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    metrics = dict.fromkeys(_LAYER_UNITS, 0.0)
    for k, v in per_op.items():
        metrics[k] = statistics.median(v)
    if "create_function_ms" in layer_times:
        metrics["engine.create_function_ms"] = statistics.median(layer_times["create_function_ms"])
    if "knn_descent_s" in layer_times:
        metrics["similarity.knn_descent_s"] = statistics.median(layer_times["knn_descent_s"])
        metrics["similarity.knn_descent_jobs"] = statistics.median(layer_times["knn_descent_jobs"])
    metrics.update(wl.layer_metrics(ctx, tracer, counters))
    if traced:
        metrics["trace.op_p50_s"] = statistics.median(traced)
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    try:
        import wasaffi_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "fixtures", "udfs.py")):
        print("perfbench: fixtures/udfs.py is missing", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
