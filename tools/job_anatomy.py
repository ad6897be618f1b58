"""Per-query JOB anatomy (guide §1.5): run each named registry query
inside a job group and report how many Spark jobs it launched plus the
wall time — the measurement behind the r10 "one job per round"
iterative-family work (an iterative query's floor is jobs × scheduler
latency at toy SF, so the job count IS the lever).

Usage: python tools/job_anatomy.py [--sf DIR] [--reps N] query ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
# Spark's Python workers (mapInPandas stages) import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
)

from big_data_hdfs_ray_vs_spark_spark.queries import all_queries
from big_data_hdfs_ray_vs_spark_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark(app_name="job-anatomy")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    qs = all_queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        print(f"ERROR unknown queries: {unknown}")
        return 2
    tracker = sc.statusTracker()
    for name in args.queries:
        fn = qs[name]
        best = None
        jobs = None
        for rep in range(args.reps):
            group = f"anatomy:{name}:{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, args.sf).collect()
            dt = time.perf_counter() - t0
            n_jobs = len(tracker.getJobIdsForGroup(group))
            sc.setJobGroup(None, None)
            spark.catalog.clearCache()
            if best is None or dt < best:
                best, jobs = dt, n_jobs
        print(
            json.dumps(
                {"query": name, "sec_min": round(best, 3), "jobs": jobs}
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
