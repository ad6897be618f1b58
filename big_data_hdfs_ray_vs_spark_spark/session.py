"""SparkSession factory.

Modernizes the reference's session builders (etl_spark.py:306-311,
pagerank_spark.py:238-253, kmeans_spark.py:199-208): Kryo stays, Arrow
transfer is ON (the reference disabled it; we have no huge row-wise
collects) and schemas are always explicit so Parquet pushdown/pruning
work. The master picks one of two execution profiles (`session_conf`):

- Local profile (`local`, `local[N]`, `local[*]`): one shuffle
  partition per core and AQE off. At local sizes every query is bound
  by the per-job scheduler floor; AQE submits each shuffle stage as its
  own job, and more partitions than cores only add tasks. The
  reference sizes shuffle parallelism to its cluster the same way
  (pagerank_spark.py:247-248).
- Cluster profile (any other master): AQE with partition coalescing
  and skew-join handling, 32 initial shuffle partitions.

Scale notes for the cluster profile (100 TB / 1000-executor design
intent):
- AQE coalescing makes `spark.sql.shuffle.partitions` mostly a
  ceiling, so a production deploy sets it to ~2-3x total cores and
  lets AQE shrink.
- `spark.sql.files.maxPartitionBytes=128m` keeps scan tasks balanced.
- Broadcast threshold raised to 64 MB: every dimension table in the
  star-schema workloads (region/nation/customer/supplier/part at these
  ratios) should broadcast rather than shuffle.

Both profiles: `get_spark(shuffle_partitions=...)` and `extra_conf`
override the derived settings.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """About half of physical RAM, capped at 48g. local[N] runs
    everything in one JVM, and the heap must leave room for its
    off-heap memory and the Python workers: a 48g heap on a 15 GB host
    with no swap gets the JVM killed by the OOM killer."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1, min(48, ram // 2**31))}g"


_DEFAULTS = {
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
    ),
    "spark.driver.maxResultSize": "4g",
    "spark.kryoserializer.buffer.max": "256m",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet sinks write zstd (guide §6): measured at the 5 GB-tier
    # ETL load phase (the one disk-bound write in the suite) as
    # 2441 MB vs snappy's 2831 MB and consistently >= as fast
    # (interleaved A/B mins 30.9 s vs 49.6 s; the write is
    # disk-throughput-bound, so fewer bytes is directly less wall
    # time). Read speed is comparable (same A/B at sf0.1: 6.0 vs
    # 6.1 s). Scale rationale: smaller files cut the (R + W)/(N·B)
    # network/disk floor at any tier.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Determinism: all timestamp rendering in UTC, matching the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark reads it
    # as long ns-since-epoch (sources.registry converts to timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep local runs quiet and reproducible.
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
}


_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?")


def _local_cores(master: str) -> int | None:
    """Worker threads of a ``local``/``local[N]``/``local[*]`` master
    (an optional ``,F`` retry count allowed); None for any other
    master. ``local`` and ``local[*]`` count the CPUs this process may
    run on."""
    m = _LOCAL_MASTER.fullmatch(master.strip())
    if not m:
        return None
    n = m.group(1)
    return int(n) if n and n != "*" else len(os.sched_getaffinity(0))


def session_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The confs ``get_spark`` builds a session on ``master`` with: the
    local profile on a local master, the cluster profile otherwise,
    then ``shuffle_partitions`` and ``extra_conf`` on top."""
    conf = dict(_DEFAULTS)
    cores = _local_cores(master)
    if cores is not None:
        conf["spark.sql.shuffle.partitions"] = str(cores)
        conf["spark.sql.adaptive.enabled"] = "false"
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def _default_master() -> str:
    """SPARK_GRAFT_MASTER, else ``local[SPARK_GRAFT_CPUS]``, else one
    thread per CPU this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "bdhrs-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the opinionated SparkSession on ``master``
    (default: ``_default_master()``) with ``session_conf``'s confs."""
    if master is None:
        master = _default_master()
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = session_conf(master, shuffle_partitions, extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate returns any EXISTING session with its old config —
    # the requested confs are then silently ignored. Warn (and apply
    # the runtime-settable ones) instead of producing e.g. bench
    # numbers under the wrong shuffle parallelism with no signal.
    mismatched = {
        k: (spark.conf.get(k, None), v)
        for k, v in conf.items()
        if spark.conf.get(k, None) != v
    }
    if mismatched:
        import warnings

        for k, (_actual, wanted) in mismatched.items():
            try:
                spark.conf.set(k, wanted)  # runtime-settable SQL confs
            except Exception:
                pass  # static conf (e.g. spark.master): warn only
        still = {
            k: spark.conf.get(k, None)
            for k in mismatched
            if spark.conf.get(k, None) != conf[k]
        }
        changed = {k: v for k, v in mismatched.items() if k not in still}
        if changed:
            # A reused session (test fixture, notebook) may have had
            # DELIBERATELY different settings — overwriting them
            # silently mutates the caller's session with no signal
            # (r2 ADVICE). Warn for the successfully re-applied confs
            # too, not only the un-settable static ones.
            warnings.warn(
                f"get_spark: reusing an existing SparkSession; overwrote "
                f"mismatched runtime confs (old, new): {changed}",
                stacklevel=2,
            )
        if still:
            warnings.warn(
                f"get_spark: reusing an existing SparkSession; static confs "
                f"differ from the request and cannot be changed: {still}",
                stacklevel=2,
            )
    return spark
