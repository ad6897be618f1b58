"""Round-8 coverage: the corpus-derived LSH plane dial (r7-verdict
lead item) and its guardrails.

1. ``auto_planes`` integer-formula fixtures — exact boundary behavior
   (the same ladder the DuckDB oracle emits as a CASE, so these pins
   are cross-engine pins).
2. lsh_bucket_auto ≡ lsh_bucket(planes=auto_planes(n)): masking the
   AUTO_MAX_PLANES bucket down by the count-derived mask must equal
   bucketing with exactly the derived plane count (prefix-row
   property of plane_matrix).
3. Measured-recall calibration (the q163-style audit the verdict
   asked for): mutual-kNN at the auto dial retains the in-bucket
   reciprocal pairs of a brute-force run at high recall on a
   clustered corpus.
4. Candidate-volume linearity: the auto dial pins expected bucket
   occupancy, so Σ|bucket|² grows ~linearly in n (the fixed dial grew
   it quadratically — SCALING.md carries the committed probe row).
5. Plan lint (source-level): no registry query may bucket a
   corpus×corpus join with a compile-time-constant plane count; the
   allowlist is exact (bounded single-probe q28 only).
6. Zero plan-construction jobs for the vector queries that used to
   `.first()`-sniff the dim (r7-verdict item 7).
"""

from __future__ import annotations

import ast
import math
import os

import pytest
from pyspark.sql import functions as F

from big_data_hdfs_ray_vs_spark_spark.operators import similarity
from big_data_hdfs_ray_vs_spark_spark.operators.similarity import (
    AUTO_MAX_PLANES,
    AUTO_MIN_PLANES,
    AUTO_TARGET_BUCKET_ROWS,
    auto_planes,
    lsh_bucket,
    lsh_bucket_auto,
    mutual_knn_pairs,
    plane_matrix,
)

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------ formula
def test_auto_planes_boundaries():
    t = AUTO_TARGET_BUCKET_ROWS
    # n ≤ target·2 → min clamp
    assert auto_planes(0) == AUTO_MIN_PLANES
    assert auto_planes(1) == AUTO_MIN_PLANES
    assert auto_planes(t) == AUTO_MIN_PLANES
    assert auto_planes(2 * t) == 1
    assert auto_planes(2 * t + 1) == 2
    assert auto_planes(4 * t) == 2
    assert auto_planes(4 * t + 1) == 3
    # exact power-of-two boundaries stay integer-exact (the float-log2
    # failure mode the ladder exists to avoid)
    for p in range(2, 12):
        assert auto_planes((t << p)) == p
        assert auto_planes((t << p) + 1) == p + 1
    # max clamp
    assert auto_planes(t << (AUTO_MAX_PLANES + 3)) == AUTO_MAX_PLANES


def test_auto_planes_matches_float_log2_off_boundary():
    # sanity vs the textbook occupancy bound planes ≈ log2(n/target)
    for n in (1500, 5000, 40000, 123457, 10**7):
        expect = max(
            AUTO_MIN_PLANES,
            min(AUTO_MAX_PLANES, math.ceil(math.log2(n / AUTO_TARGET_BUCKET_ROWS)))
            if n > AUTO_TARGET_BUCKET_ROWS
            else AUTO_MIN_PLANES,
        )
        assert auto_planes(n) == expect, n


# ------------------------------------------------- mask ≡ plane count
def _toy_corpus(spark, n=300, dim=8, seed=7):
    import random

    rnd = random.Random(seed)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_bucket_auto_equals_derived_planes(spark):
    df = _toy_corpus(spark, n=300, dim=8)
    # force a non-trivial ladder position: target 64 → m=5 → planes=3
    target = 64
    p = auto_planes(300, target_bucket_rows=target)
    assert p == 3
    m = plane_matrix(AUTO_MAX_PLANES, 8)
    got = {
        r["vec_id"]: r["lsh_bucket"]
        for r in lsh_bucket_auto(
            df, dim=8, matrix=m, target_bucket_rows=target
        ).collect()
    }
    want = {
        r["vec_id"]: r["lsh_bucket"]
        for r in lsh_bucket(df, planes=p, dim=8, matrix=m[:p]).collect()
    }
    assert got == want
    assert max(got.values()) < (1 << p)


def test_lsh_bucket_auto_plan_has_no_construction_job(spark):
    df = _toy_corpus(spark, n=50, dim=4)
    sc = spark.sparkContext
    sc.setJobGroup("r8-construction-probe", "plan build must be lazy")
    try:
        out = lsh_bucket_auto(df, dim=4)
        _ = out.columns  # schema resolution only
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "r8-construction-probe"
        )
    finally:
        sc.setJobGroup("", "")
    assert list(jobs) == []


# ------------------------------------------------- measured recall
def _clustered_corpus(spark, clusters=40, per=8, dim=16, seed=3):
    """Tight clusters with far-apart centers: brute-force mutual-kNN
    pairs live inside clusters, so bucket recall is measurable."""
    import random

    rnd = random.Random(seed)
    rows = []
    vid = 0
    for _ in range(clusters):
        center = [rnd.uniform(-1, 1) for _ in range(dim)]
        for _ in range(per):
            rows.append(
                (vid, [c + rnd.uniform(-0.01, 0.01) for c in center])
            )
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_mutual_knn_auto_dial_recall(spark):
    df = _clustered_corpus(spark)
    n = df.count()
    # ground truth: mutual kNN with ONE bucket (planes dial can't
    # split anything — exact in-corpus reciprocal pairs)
    exact = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs(
            df, k=2, planes=1, matrix=[[1.0] * 16], dim=16
        ).collect()
    }
    # the auto dial at a target that forces a real split (320 rows,
    # target 64 → 8 buckets)
    got = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs(
            df, k=2, planes="auto", dim=16, target_bucket_rows=64
        ).collect()
    }
    assert exact, "ground-truth pair set must be non-empty"
    recall = len(got & exact) / len(exact)
    # sign-LSH on tightly clustered vectors keeps co-cluster pairs
    # together unless a hyperplane slices a cluster — recall stays
    # high; the dial trades a bounded slice of recall for linear work
    assert recall >= 0.8, f"auto-dial recall {recall:.2f} on {len(exact)} pairs"


# ------------------------------------------- candidate-volume growth
def _candidate_volume(spark, n, target):
    df = _toy_corpus(spark, n=n, dim=8, seed=11)
    b = lsh_bucket_auto(df, dim=8, target_bucket_rows=target)
    rows = (
        b.groupBy("lsh_bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("v"))
        .collect()
    )
    return rows[0]["v"]


def test_auto_dial_candidate_volume_subquadratic(spark):
    # 10× corpus step at a fixed target: the fixed-planes dial grows
    # Σ|bucket|² ~100× (the r7 SCALING.md finding); the auto dial must
    # stay ~linear (occupancy pinned, volume ≈ n·target).
    target = 32
    v1 = _candidate_volume(spark, 200, target)
    v2 = _candidate_volume(spark, 2000, target)
    growth = v2 / v1
    assert growth < 30, f"candidate volume grew {growth:.1f}× on a 10× step"


# ------------------------------------------------------- source lint
_QUERIES_PATH = os.path.join(
    os.path.dirname(__file__), "..", "big_data_hdfs_ray_vs_spark_spark", "queries.py"
)

# Exact allowlist: bounded single-probe entries where a constant plane
# count is linear by construction (one query scans n/2^p rows once).
# A corpus-proportional query batch must NEVER appear here — it makes
# the bucket join Σ|bucket|² ≈ n²/2^p (the r7-verdict lead finding).
_CONST_PLANES_ALLOWED = {"q28_lsh_ann"}


def test_no_constant_planes_on_corpus_joins():
    with open(_QUERIES_PATH) as f:
        tree = ast.parse(f.read())
    offenders = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            callee = node.func
            name = (
                callee.attr
                if isinstance(callee, ast.Attribute)
                else getattr(callee, "id", "")
            )
            if name not in ("lsh_bucket", "mutual_knn_pairs", "batch_ann_topk"):
                continue
            for kw in node.keywords:
                if kw.arg == "planes" and isinstance(kw.value, ast.Constant) and isinstance(kw.value.value, int):
                    if fn.name not in _CONST_PLANES_ALLOWED:
                        offenders.append(f"{fn.name}: {name}(planes={kw.value.value})")
    assert not offenders, (
        "compile-time-constant LSH plane count on a registry query "
        f"(quadratic candidate volume at scale): {offenders}"
    )


def test_const_planes_allowlist_exact():
    # a fixed query must LEAVE the allowlist (same convention as the
    # window/BNLJ lint allowlists)
    with open(_QUERIES_PATH) as f:
        src = f.read()
    for name in _CONST_PLANES_ALLOWED:
        assert f"def {name}" in src, f"allowlisted {name} no longer exists"


# ------------------------------------- zero construction-time jobs
@pytest.mark.parametrize(
    "qname",
    [
        "q103_batch_ann",
        "q112_hybrid_rrf",
        "q118_mmr_rerank",
        "q132_cross_rerank",
        "q161_mutual_knn",
    ],
)
def test_vector_query_construction_launches_no_jobs(spark, qname):
    # Spark runs parquet FOOTER schema reads ("parquet at ...") and
    # file listings as tiny jobs — unavoidable for spark.read.parquet
    # without a hardcoded schema, and they read metadata, not data.
    # Everything else (first/collect/count at <callsite>) is an eager
    # corpus action at plan-construction time — the r7-verdict item-7
    # class this test pins out (dim sniffs, scalar stats collects).
    from big_data_hdfs_ray_vs_spark_spark import queries as Q

    fn = Q.all_queries()[qname]
    group = f"r8-construct-{qname}"
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(group, "plan build must be lazy")
    try:
        df = fn(spark, SF)
        _ = df.columns
        offending = []
        for j in st.getJobIdsForGroup(group):
            ji = st.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = st.getStageInfo(s)
                if si is None:
                    continue
                if not (
                    si.name.startswith("parquet at")
                    or "Listing leaf files" in si.name
                ):
                    offending.append(si.name)
    finally:
        sc.setJobGroup("", "")
    assert not offending, (
        f"{qname} ran eager corpus actions at plan construction: {offending}"
    )


# ------------------------------------------------- band-OR recall
def test_banded_mutual_knn_recall_amplification(spark):
    """q165's reason to exist: unioning candidates from independent
    plane sets must recover (weakly: never lose) reciprocal pairs a
    single bucketing slices away, at the same occupancy target."""
    from big_data_hdfs_ray_vs_spark_spark.operators.similarity import (
        banded_mutual_knn,
    )

    df = _clustered_corpus(spark)
    exact = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs(
            df, k=2, planes=1, matrix=[[1.0] * 16], dim=16
        ).collect()
    }
    single = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs(
            df, k=2, planes="auto", dim=16, target_bucket_rows=64
        ).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in banded_mutual_knn(
            df, k=2, bands=2, dim=16, target_bucket_rows=64
        ).collect()
    }
    r_single = len(single & exact) / len(exact)
    r_banded = len(banded & exact) / len(exact)
    assert r_banded >= r_single, (r_banded, r_single)
    assert r_banded >= 0.9, f"banded recall {r_banded:.2f}"
    spark.catalog.clearCache()


# ------------------------------------------------ IVF auto list count
def test_auto_n_lists_sqrt_rule(spark):
    from big_data_hdfs_ray_vs_spark_spark.operators.similarity import (
        auto_n_lists,
        ivf_index,
    )

    assert auto_n_lists(0) == 16
    assert auto_n_lists(10_000) == 100
    assert auto_n_lists(1_000_000) == 1000
    assert auto_n_lists(10) == 16          # min clamp
    assert auto_n_lists(10**12) == 65536   # max clamp
    df = _toy_corpus(spark, n=300, dim=8)
    indexed, cents = ivf_index(df, n_lists="auto", vec_col="embedding")
    assert len(cents) == 17  # round(sqrt(300)) = 17 > min clamp
    assert indexed.select("ivf_list").distinct().count() <= 17
