"""5 GB-tier headline probe (r8 verdict item 3): run the four reference
workloads ONCE at synthetic:20,824,400 rows (the reference's 5 GB tier,
BASELINE.md) and print the ratio table for LOCALGATE.md. Triangles at
this tier is the ~22.4B-intersection stress the bitset plan
(plans/graph.py:212) was built for.

Usage: python tools/probe_5gb.py  (quiet box — takes minutes)
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
# Spark's Python workers (mapInPandas stages) import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
)

from big_data_hdfs_ray_vs_spark_spark.pipelines import (
    etl_pipeline,
    kmeans_pipeline,
    pagerank_pipeline,
    triangles_pipeline,
)
from big_data_hdfs_ray_vs_spark_spark.session import get_spark

ROWS_5GB = 20_824_400
BASE_5GB = {  # 3-node Spark, BASELINE.md / report.tex
    "etl": 204.95,
    "pagerank": 184.18,
    "triangles": 807.74,
    "kmeans": 285.34,
}


def main() -> None:
    spark = get_spark(app_name="probe-5gb")
    spark.sparkContext.setLogLevel("ERROR")
    datafile = f"synthetic:{ROWS_5GB}"
    out = {}
    # ETL must include the L phase (the baseline's 56 s at 5 GB is a
    # real parquet write) — write to a temp sink and clean up after.
    sink = tempfile.mkdtemp(prefix="probe5gb_etl_")
    for name, fn in (
        (
            "etl",
            lambda: etl_pipeline.run(
                spark, datafile, show_sample=False, output=sink
            ),
        ),
        ("pagerank", lambda: pagerank_pipeline.run(spark, datafile)),
        ("kmeans", lambda: kmeans_pipeline.run(spark, datafile)),
        ("triangles", lambda: triangles_pipeline.run(spark, datafile)),
    ):
        spark.catalog.clearCache()
        t0 = time.time()
        r = fn()
        sec = round(time.time() - t0, 2)
        out[name] = {
            "sec": sec,
            "phases": r.get("phases"),
            "baseline_sec": BASE_5GB[name],
            "ratio": round(sec / BASE_5GB[name], 3),
        }
        print(f"[5gb] {name}: {sec}s (baseline {BASE_5GB[name]}s, "
              f"ratio {out[name]['ratio']}) phases={r.get('phases')}", flush=True)
    shutil.rmtree(sink, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
