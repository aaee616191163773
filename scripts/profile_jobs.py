#!/usr/bin/env python
"""Spark-job / task-count profile per query (guide §1) — load-independent
cost metrics: number of driver-synchronized jobs, total tasks, and
wall time for one invocation of each named query.

Usage: python scripts/profile_jobs.py <tag> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "jobs"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from flink_luad_pipeline_spark import catalog, plans
    from flink_luad_pipeline_spark.session import get_spark

    spark = get_spark("profile_jobs")
    sc = spark.sparkContext
    queries = plans.all_queries()
    for t in ("lineitem", "events", "documents", "embeddings"):
        catalog.load(spark, sf_dir, t).count()

    def job_id() -> int:
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    tracker = sc.statusTracker()

    def task_total(j0: int, j1: int) -> int:
        n = 0
        for j in range(j0, j1):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for st in info.stageIds:
                si = tracker.getStageInfo(st)
                if si is not None:
                    n += si.numTasks
        return n

    out = {}
    for name in names:
        fn = queries[name]
        fn(spark, sf_dir).toPandas()  # warm (codegen, footers)
        j0 = job_id()
        t0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        dt = time.perf_counter() - t0
        j1 = job_id()
        out[name] = {
            "jobs": j1 - j0,
            "tasks": task_total(j0, j1),
            "wall_s": round(dt, 2),
        }
        print(f"{name}: jobs={j1 - j0} tasks={out[name]['tasks']} "
              f"wall={dt:.2f}s", flush=True)
    print(json.dumps({"tag": tag, "queries": out}))


if __name__ == "__main__":
    main()
