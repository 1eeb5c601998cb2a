"""Per-query cost attribution: python plan-build wall vs execution wall,
plus Spark job/stage/task counts per query (job-group scoped).

Usage: python tools/profile_queries.py [--root DIR] [query ...]
(default queries: all steady)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.

Output: one JSON line per query to stdout —
  {"q": name, "build_s": ..., "exec_s": ..., "jobs": N, "stages": N,
   "tasks": N} measured on the SECOND (warm) run; the first run warms
codegen/footers and builds the query's registry fixture, so the build/exec
split reflects the steady state the bench times.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_DEFAULT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=_DEFAULT_ROOT)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    sys.path.insert(0, args.root)

    from dlt_iceberg_spark.queries import REGISTRY
    from dlt_iceberg_spark.session import get_spark

    names = args.queries or [n for n in REGISTRY if not n.startswith("stream_")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_queries")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        spec = REGISTRY[name]
        # warm run (codegen, registry fixture, parquet footers)
        spark.catalog.clearCache()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        # timed run, job-group scoped
        spark.catalog.clearCache()
        group = f"prof:{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(group)
        stages = 0
        tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        print(
            json.dumps(
                {
                    "q": name,
                    "build_s": round(t1 - t0, 4),
                    "exec_s": round(t2 - t1, 4),
                    "jobs": len(job_ids),
                    "stages": stages,
                    "tasks": tasks,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
