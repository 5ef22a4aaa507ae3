"""The studies behind the benchmark's fixed settings (perfbench/NOTES.md).

Warm-up: per-op wall time and JVM CPU for the first ops of a fresh run
at seed 1, set up as ``run.py`` sets up, without warm-up ops:

    python3 perfbench/study.py warmup --workload udf_typed --ops 16

Steadiness: ``run.py`` once per seed for ``run_seconds`` (from
``BENCHMARK.json``), then each end-to-end metric's median, quartiles and
quartile spread as a share of the median:

    python3 perfbench/study.py spread --workload udf_typed --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_SEED = 1


def warmup(workload: str, ops: int) -> None:
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    import probes
    import run
    from workloads import WORKLOADS

    work_dir = os.path.join(run.WORK_ROOT, f"study-{workload}-{os.getpid()}")
    run.use_work_dir(work_dir)
    tracer = probes.Tracer(False)
    wl = WORKLOADS[workload](work_dir, WARMUP_SEED)
    wl.generate()
    spark, counters, ctx, setup_s, _ = run.set_up(wl, work_dir, tracer)
    print(f"set-up {setup_s:.2f} s")
    wl.prepare_check(ctx)
    print("op wall_s jvm_cpu_s pyworker_cpu_s jobs ok")
    for i in range(ops):
        j0 = counters.last_job_id()
        c0, p0 = counters.jvm_cpu_s(), counters.pyworker_cpu_s()
        t = time.perf_counter()
        rows = wl.op(ctx, tracer, i)
        wall = time.perf_counter() - t
        ok = wl.check(rows)
        print(f"{i} {wall:.3f} {counters.jvm_cpu_s() - c0:.2f} "
              f"{counters.pyworker_cpu_s() - p0:.2f} "
              f"{counters.work_since(j0)['jobs']} {ok}", flush=True)
    spark.stop()
    run.stop_jvm()
    shutil.rmtree(work_dir, ignore_errors=True)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(workload: str, seeds: list[int]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds:
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        result = json.loads(last) if proc.returncode == 0 else {}
        notes = [line for line in proc.stdout.splitlines() if line.startswith("#")]
        print(f"seed {seed}: exit {proc.returncode} in {time.perf_counter() - t:.0f} s, "
              f"correct={result.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result.get("metrics", {}).items())
              + "".join(f"\n  {n}" for n in notes),
              flush=True)
        for k, v in result.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"spread {100 * (q3 - q1) / med:.1f}%")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    w = sub.add_parser("warmup")
    w.add_argument("--workload", required=True)
    w.add_argument("--ops", type=int, default=16)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    if args.cmd == "warmup":
        warmup(args.workload, args.ops)
    else:
        spread(args.workload, _seeds(args.seeds))


if __name__ == "__main__":
    main()
