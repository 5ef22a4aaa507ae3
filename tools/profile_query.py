#!/usr/bin/env python
"""Per-query optimization profiler (guide §1: measure first).

For each named query (default: the bench's slowest), reports:
  - construct_s : wall time of fn(spark, sf_dir) — driver-side plan
                  construction, INCLUDING any eager controller collects
  - exec_s      : wall time of the noop-sink write (guide §1.4)
  - jobs/stages/tasks : Spark scheduler counts for the timed region:
                  the jobs started, each stage of those jobs that ran
                  tasks counted once (a stage shared between jobs, or
                  skipped because its shuffle output existed, adds
                  nothing), and the tasks those stages completed
  - compiles    : Janino compilations (generated classes Spark's codegen
                  cache missed) in the timed region, from CodegenMetrics
and writes .explain("formatted") to plans/r13/<name>_<tag>.txt.

Usage: python tools/profile_query.py [--tag before|after] [--sf DIR] q1 q2 ...
"""
from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--no-explain", action="store_true")
    ap.add_argument("--rest", action="store_true", help="enable UI + dump per-job wall from REST API")
    ap.add_argument("--plans-dir", default="r14", help="subdir of plans/ for explain dumps")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from wasaffi_spark.conf import recommended_builder

    spark = (
        recommended_builder(
            master=f"local[{args.cpus}]", cpus=args.cpus, app_name="profile"
        )
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "true" if "--rest" in sys.argv else "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every job and stage of the session in the status store, so
        # a query's counts do not depend on the queries profiled before it
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    qs.update(entrymod.extra_queries())

    # warm up JVM + Python workers like bench.py does
    from pyspark.sql import functions as F
    from wasaffi_spark.engine import Engine

    Engine(spark).load_tables(args.sf, ("lineitem",))
    spark.table("lineitem").selectExpr("sum(l_extendedprice) s").collect()
    spark.range(0, args.cpus * 4, 1, args.cpus * 4).select(
        F.pandas_udf(lambda s: s * 2, "long")(F.col("id"))
    ).write.format("noop").mode("overwrite").save()

    plans_dir = os.path.join(REPO, "plans", args.plans_dir)
    os.makedirs(plans_dir, exist_ok=True)
    st = spark.sparkContext.statusTracker()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    for name in args.queries:
        if name not in qs:
            print(f"{name}: UNKNOWN", flush=True)
            continue
        fn = qs[name]
        best = None
        for i in range(args.runs):
            jobs0 = st.getJobIdsForGroup(None) or []
            compiles0 = compiled.getCount()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            compiles = compiled.getCount() - compiles0
            # the status store is fed by the listener bus: drain it first
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            jobs1 = st.getJobIdsForGroup(None) or []
            new_jobs = sorted(set(jobs1) - set(jobs0))
            stage_ids: set[int] = set()
            for j in new_jobs:
                ji = st.getJobInfo(j)
                if ji is not None:
                    stage_ids.update(ji.stageIds)
            n_stages = 0
            n_tasks = 0
            for sid in stage_ids:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
            row = dict(
                run=i,
                construct_s=round(t1 - t0, 3),
                exec_s=round(t2 - t1, 3),
                total_s=round(t2 - t0, 3),
                jobs=len(new_jobs),
                stages=n_stages,
                tasks=n_tasks,
                compiles=compiles,
            )
            if best is None or row["total_s"] < best["total_s"]:
                best = row
            print(f"{name} run{i}: {row}", flush=True)
            if args.rest and i == args.runs - 1:
                try:
                    import json as _json
                    import urllib.request

                    base = spark.sparkContext.uiWebUrl
                    app = spark.sparkContext.applicationId
                    with urllib.request.urlopen(
                        f"{base}/api/v1/applications/{app}/jobs"
                    ) as r:
                        alljobs = _json.load(r)
                    import datetime

                    def _t(s):
                        return datetime.datetime.strptime(
                            s[:23], "%Y-%m-%dT%H:%M:%S.%f"
                        ).timestamp()

                    rows = []
                    for j in alljobs:
                        if j["jobId"] not in new_jobs:
                            continue
                        dur = (
                            _t(j["completionTime"]) - _t(j["submissionTime"])
                            if "completionTime" in j
                            else None
                        )
                        rows.append(
                            (
                                j["jobId"],
                                round(dur, 3) if dur else None,
                                j.get("numTasks"),
                                (j.get("description") or j.get("name", ""))[:90],
                            )
                        )
                    rows.sort(key=lambda x: -(x[1] or 0))
                    tot = sum(r[1] or 0 for r in rows)
                    print(
                        f"  REST: {len(rows)} jobs, sum of job walls {tot:.2f}s; top 15:"
                    )
                    for r in rows[:15]:
                        print(f"    job {r[0]}: {r[1]}s tasks={r[2]} {r[3]}")
                except Exception as ex:
                    print(f"  REST failed: {ex}")
            if i == args.runs - 1 and not args.no_explain:
                try:
                    plan = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                except Exception:
                    import io
                    from contextlib import redirect_stdout

                    buf = io.StringIO()
                    with redirect_stdout(buf):
                        df.explain("formatted")
                    plan = buf.getvalue()
                with open(
                    os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w"
                ) as f:
                    f.write(plan)
        print(f"BEST {name}: {best}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
