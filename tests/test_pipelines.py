"""End-to-end pipeline runs on a small synthetic input, exercising the
reference CLI surface and the report sink."""

import os

from big_data_hdfs_ray_vs_spark_spark.pipelines import (
    etl_pipeline,
    kmeans_pipeline,
    pagerank_pipeline,
    triangles_pipeline,
)


def test_etl_pipeline(spark, tmp_path):
    res = etl_pipeline.run(spark, "synthetic:5000", output=str(tmp_path / "out"))
    assert res["total_rows"] == 5000
    assert 0 < res["cleansed_rows"] <= 5000
    assert res["quality"]["total_rows"] == 5000
    assert res["final"]["final_count"] == res["cleansed_rows"]
    assert os.path.isdir(tmp_path / "out" / "transformed_data")
    assert os.path.isdir(tmp_path / "out" / "summary_stats")
    # E-phase display surface (reference etl_spark.py:101-106): schema
    # tree + a 5-row grid, captured for the report sink.
    assert res["sample"].startswith("root")
    assert " |-- SOURCE_SUBREDDIT: string" in res["sample"]
    assert res["sample"].count("\n|") == 6  # header + 5 rows
    assert "input sample:" in "\n".join(etl_pipeline.report_lines(res, "synthetic:5000"))


def test_pagerank_pipeline(spark):
    res = pagerank_pipeline.run(spark, "synthetic:5000", max_iter=5)
    assert 1 <= res["iterations"] <= 5
    assert len(res["top10"]) == 10
    scores = [s for _n, s in res["top10"]]
    assert scores == sorted(scores, reverse=True)


def test_triangles_pipeline(spark):
    res = triangles_pipeline.run(spark, "synthetic:5000")
    assert res["triangles"] > 0  # hub-heavy synthetic graph closes paths


def test_kmeans_pipeline(spark):
    res = kmeans_pipeline.run(spark, "synthetic:5000", k=3)
    assert len(res["centroids"]) == 3
    assert sum(res["histogram"].values()) > 0


def test_curate_pipeline(spark, tmp_path):
    from big_data_hdfs_ray_vs_spark_spark.pipelines import curate_pipeline

    spark.catalog.clearCache()
    res = curate_pipeline.run(
        spark,
        "/root/testdata/sf0.001/documents.parquet",
        output=str(tmp_path / "cur"),
        fractions={"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.5},
    )
    # every frame the pipeline persisted is released
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # monotone funnel: every stage can only shrink the corpus
    assert (
        res["n_input"]
        >= res["n_after_exact_dedup"]
        >= res["n_after_fuzzy_dedup"]
        >= res["n_after_quality_gate"]
        >= res["n_sampled"]
        > 0
    )
    assert res["n_packed_bins"] > 0
    out = spark.read.parquet(str(tmp_path / "cur" / "curated"))
    assert out.count() == res["n_sampled"]
    # every curated row carries a training order and a pack bin
    assert {"shard", "pos", "bin_id"} <= set(out.columns)
    assert "CURATION" in curate_pipeline.report_lines(res, "x")[0]
