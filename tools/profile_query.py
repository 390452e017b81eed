"""Per-query optimization harness (guide §1: measure first, isolate).

Runs the named queries in ONE fresh JVM exactly like a bench family
child (same session config, same warmup, noop sink), reporting
construct / cold / warm min-of-N seconds per query, and optionally
dumping ``explain("formatted")`` to a file per query. The cold run also
reports its Spark jobs split into construction (building the DataFrame:
eager checkpoints, convergence collects) and execution (the noop
write), and the tasks of both, attributed by job group.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N]
        [--explain-dir DIR] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) Spark ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {
        sid
        for j in jobs
        if (job := tracker.getJobInfo(j)) is not None
        for sid in job.stageIds
    }
    tasks = sum(
        st.numCompletedTasks
        for sid in stages
        if (st := tracker.getStageInfo(sid)) is not None
    )
    return len(jobs), tasks


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    from crawlingbigdatavisionaid_spark.plans import query_map
    from crawlingbigdatavisionaid_spark.session import claim_driver_heap, get_spark

    claim_driver_heap(8)
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = query_map()

    if not args.no_warmup:
        import bench

        bench._warmup(spark, args.sf, qmap)

    sc = spark.sparkContext
    for name in args.queries:
        fn = qmap[name]
        construct_group = f"profile: {name} (cold construct)"
        execute_group = f"profile: {name} (cold execute)"
        sc.setJobGroup(construct_group, construct_group)
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        t1 = time.perf_counter()
        sc.setJobGroup(execute_group, execute_group)
        df.write.format("noop").mode("overwrite").save()
        cold = time.perf_counter() - t0
        construct = t1 - t0
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            path = os.path.join(args.explain_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
        runs = []
        for i in range(args.runs):
            sc.setJobGroup(f"profile: {name} (warm {i})", f"profile: {name} (warm {i})")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        # read after the warm runs: the listener bus feeds the status
        # store asynchronously, and the warm runs give the cold run's
        # last job and stage events time to land
        construct_jobs, construct_tasks = _group_counts(spark, construct_group)
        execute_jobs, execute_tasks = _group_counts(spark, execute_group)
        print(
            f"PROFILE {name}: construct={construct:.3f}s cold={cold:.3f}s "
            f"warm_min={min(runs):.3f}s warm_all="
            + ",".join(f"{r:.3f}" for r in runs)
            + f" construct_jobs={construct_jobs} execute_jobs={execute_jobs}"
            f" tasks={construct_tasks + execute_tasks}",
            flush=True,
        )


if __name__ == "__main__":
    main()
