"""Local replica of the driver's t2 correctness gate.

For each queries() entry: run the Spark DataFrame and (if present) the
oracle SQL in DuckDB over the same sf dir; compare row count, sorted
column names, and an order-insensitive multiset of stringified rows.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
# Spark's Python workers (mapInPandas stages) import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
)

import duckdb
from pyspark.sql import SparkSession

from big_data_hdfs_ray_vs_spark_spark.schemas import TESTDATA_TABLES

import __spark_entry__ as entrymod


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            # NaN ≡ NULL: a null DOUBLE reaches the oracle's pandas path
            # as NaN while Spark collects None — and q43 (null doubles)
            # was driver-green in r2, so the driver's canonicalization
            # treats them as the same token. The dangerous class is
            # non-null int-vs-float rendering, which the dtype audit
            # and f-format below still catch.
            return "NULL"
        # Mimic a hash on rounded display values.
        return f"{v:.10g}"
    return str(v)


def row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # DEFAULT session on purpose — no engine confs. This replicates the
    # driver's harness condition (it builds its own SparkSession), so any
    # query that silently depends on session.py's confs fails HERE first.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-correctness")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # A typo'd name would otherwise match nothing and the gate
        # would print ALL OK over zero queries — a silent false pass.
        print(f"ERROR: unknown queries: {sorted(unknown)}")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # Cache isolation between queries (mirrors bench.py), at the
        # TOP of the iteration so error paths can't skip it: persisted
        # results from iterative plans otherwise accumulate for the
        # whole 100-query run.
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"[FAIL] {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            # .df() (Arrow/pandas), NOT fetchall(): the driver hashes the
            # oracle through pandas, where DuckDB HUGEINT and nullable
            # BIGINT columns surface as float64 ("88.0" vs Spark's "88").
            # fetchall() hands back Python ints and masked the q40 bug
            # class for two rounds (r2 verdict #3).
            odf = con.execute(oracles[name]).df()
            ocols = list(odf.columns)
            orows = list(odf.itertuples(index=False, name=None))
        except Exception:
            print(f"[FAIL] {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            continue
        ok = True
        # Dtype audit, BOTH directions: an integral column on one side
        # whose twin is float on the other renders with/without a
        # trailing ".0" in the driver's hash — exactly the silent
        # q40/q73 mismatch class. Flag it even when the stringified
        # values happen to agree at this sf.
        spark_int = {
            c for c, t in sdf.dtypes if t in ("tinyint", "smallint", "int", "bigint")
        }
        spark_float = {c for c, t in sdf.dtypes if t in ("float", "double")}
        # pandas dtype API, not str(dtype) prefixes: nullable extension
        # dtypes ("Int64", "Float64") and unsigned ints are capitalized
        # or prefixed and would escape a lowercase startswith() check.
        from pandas.api.types import is_float_dtype, is_integer_dtype

        oracle_float = {c for c in odf.columns if is_float_dtype(odf[c])}
        oracle_int = {c for c in odf.columns if is_integer_dtype(odf[c])}
        drift = sorted((spark_int & oracle_float) | (spark_float & oracle_int))
        if drift:
            print(f"[FAIL] {name}: int-vs-float dtype drift on {drift} "
                  f"(one side integral, the other float)")
            ok = False
        if sorted(scols) != sorted(ocols):
            print(f"[FAIL] {name}: columns spark={sorted(scols)} duck={sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"[FAIL] {name}: rowcount spark={len(srows)} duck={len(orows)}")
            ok = False
        else:
            ms, mo = row_multiset(scols, srows), row_multiset(ocols, orows)
            if ms != mo:
                diffs = [(a, b) for a, b in zip(ms, mo) if a != b][:5]
                print(f"[FAIL] {name}: value mismatch; first diffs: {diffs}")
                ok = False
        if ok:
            print(f"[OK] {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
