"""Per-query optimization probe (guide §1): for each named registry
query, capture .explain("formatted") to plans/<round>/<name>_<tag>.txt and
time the computation min-of-N — both the bench-identical .collect()
and the noop sink (guide §1.4: noop computes every column, collect
adds driver transfer; the pair separates compute from transfer).

Usage: python tools/profile_queries.py [--sf DIR] [--tag before|after]
       [--reps N] [--no-plans] query [query ...]

Writes a JSON line per query to stdout and appends to
/tmp/<round>_profile_<tag>.jsonl.
"""

from __future__ import annotations

import argparse
import gc
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
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--round", default="r10")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark(app_name=f"profile-{args.tag}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        print(f"ERROR unknown queries: {unknown}")
        return 2
    plans_dir = ROOT / "plans" / args.round
    os.makedirs(plans_dir, exist_ok=True)
    out_path = f"/tmp/{args.round}_profile_{args.tag}.jsonl"
    for name in args.queries:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if not args.no_plans:
            try:
                df = fn(spark, args.sf)
                with open(f"{plans_dir}/{name}_{args.tag}.txt", "w") as f:
                    f.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                    ))
            except Exception as e:
                print(f"[plan-err] {name}: {e}")
            spark.catalog.clearCache()
        if args.plans_only:
            print(f"[plan] {name}", flush=True)
            continue
        rec = {"query": name, "tag": args.tag, "sf": args.sf}
        for mode in ("collect", "noop"):
            best = None
            calibs = []
            for _ in range(args.reps):
                gc.collect()
                # single-core steal probe: ~0.1 s quiet; 2-5x under
                # co-tenant CPU steal — lets a rep be discounted
                c0 = time.perf_counter()
                acc = 0
                for i in range(2_000_000):
                    acc += i
                calibs.append(round(time.perf_counter() - c0, 3))
                t0 = time.perf_counter()
                df = fn(spark, args.sf)
                if mode == "collect":
                    df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                spark.catalog.clearCache()
            rec[mode] = round(best, 3)
            rec[f"{mode}_calib"] = calibs
        line = json.dumps(rec)
        print(line, flush=True)
        with open(out_path, "a") as f:
            f.write(line + "\n")
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
