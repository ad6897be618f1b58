"""etl_write sink A/B (guide §6): time the bench's exact load-phase
write (transform → coalesce(4) parquet + summary coalesce(1)) under
different parquet codecs, min-of-N per arm, interleaved so steal hits
both arms alike.

Usage: python tools/etl_write_probe.py [reps=3]
"""

from __future__ import annotations

import os
import subprocess
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

from big_data_hdfs_ray_vs_spark_spark.operators import etl
from big_data_hdfs_ray_vs_spark_spark.session import get_spark
from big_data_hdfs_ray_vs_spark_spark.sources.reddit import synthetic_reddit_posts


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="etl-write-probe")
    spark.sparkContext.setLogLevel("ERROR")
    n = 4_000_000
    posts = synthetic_reddit_posts(spark, n).persist()
    posts.count()
    transformed = etl.transform(posts).persist()
    fused = etl.fused_aggregations(transformed).persist()
    parts = etl.split_fused(fused)
    parts["final"].collect()  # materialize caches before timing writes
    codecs = ["snappy", "zstd"]
    best: dict = {c: None for c in codecs}
    size: dict = {}
    for rep in range(reps):
        for codec in codecs:
            spark.conf.set("spark.sql.parquet.compression.codec", codec)
            with tempfile.TemporaryDirectory() as tmp:
                t0 = time.time()
                transformed.coalesce(4).write.mode("overwrite").parquet(
                    tmp + "/transformed"
                )
                parts["summary"].coalesce(1).write.mode("overwrite").parquet(
                    tmp + "/summary"
                )
                dt = time.time() - t0
                out = subprocess.run(
                    ["du", "-sm", tmp], capture_output=True, text=True
                ).stdout.split()[0]
            size[codec] = int(out)
            b = best[codec]
            best[codec] = dt if b is None else min(b, dt)
            print(f"rep{rep} {codec}: {dt:.2f}s  ({out} MB)", flush=True)
    for codec in codecs:
        print(f"MIN {codec}: {best[codec]:.2f}s  {size[codec]} MB", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
