"""Round-8 second batch: semantic decontamination, tokenizer audits,
KMV set algebra, IDF-weighted Jaccard and the EWMA window shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_hdfs_ray_vs_spark_spark.operators.similarity import (
    semantic_decontamination,
)


def test_semantic_decontamination_flags_eval_twins(spark):
    # ids divisible by 199 form the eval set. vec 1 equals eval vec 0
    # (cos 1.0 → contaminated); vec 2 is orthogonal (cos 0 → clean);
    # vec 3 is the zero vector (dropped); vec 4 is NULL (dropped).
    rows = [
        (0, [1.0, 0.0, 0.0], "a"),  # eval
        (1, [2.0, 0.0, 0.0], "a"),  # corpus, parallel to eval → cos 1
        (2, [0.0, 1.0, 0.0], "b"),  # corpus, orthogonal → cos 0
        (3, [0.0, 0.0, 0.0], "b"),  # zero norm → dropped
        (4, None, "b"),  # null → dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = {r["label"]: r for r in semantic_decontamination(df, eval_mod=199).collect()}
    assert out["a"]["n_vecs"] == 1 and out["a"]["n_contaminated"] == 1
    assert out["a"]["max_cos"] == pytest.approx(1.0)
    assert out["b"]["n_vecs"] == 1 and out["b"]["n_contaminated"] == 0
    assert out["b"]["contamination_frac"] == 0.0


def test_semantic_decontamination_empty_eval(spark):
    # no id % 199 == 0 → empty eval set → empty output (nothing is
    # scorable), not a crash: the degenerate-corpus convention.
    rows = [(1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "b")]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    assert semantic_decontamination(df, eval_mod=199).count() == 0


def test_token_fertility_counts(spark):
    rows = [
        (1, "hello world", "en"),       # 2 words, pieces: hello,world = 2
        (2, "it's here!", "en"),        # 2 words, pieces: it,',s,here,! = 5
        (3, "", "de"),                  # zero words: excluded from ratios
        (4, "abc123", "de"),            # 1 word, pieces: abc,123 = 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from big_data_hdfs_ray_vs_spark_spark.operators.text import token_fertility

    out = {r["lang"]: r for r in token_fertility(df).collect()}
    en, de = out["en"], out["de"]
    assert en["n_docs"] == 2 and en["total_words"] == 4 and en["total_pieces"] == 7
    assert en["avg_fertility"] == pytest.approx((2 / 2 + 5 / 2) / 2)
    assert en["corpus_fertility"] == pytest.approx(7 / 4)
    assert de["n_docs"] == 2 and de["avg_fertility"] == pytest.approx(2.0)
    # zero-word doc contributes nothing to the weighted ratio
    assert de["corpus_fertility"] == pytest.approx(2.0)


def test_perplexity_buckets_thirds(spark):
    # 6 docs in one lang: rare-token docs must land in 'tail'
    rows = [
        (1, "the the the", "en"),
        (2, "the the the", "en"),
        (3, "the the of", "en"),
        (4, "the of of", "en"),
        (5, "of zz the", "en"),
        (6, "qq zz xx", "en"),  # all rare → highest NLL
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from big_data_hdfs_ray_vs_spark_spark.operators.text import perplexity_buckets

    out = {r["bucket"]: r for r in perplexity_buckets(df).collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert sum(r["n_docs"] for r in out.values()) == 6
    # monotone: head avg < middle avg < tail avg
    assert out["head"]["avg_nll"] < out["middle"]["avg_nll"] < out["tail"]["avg_nll"]


def test_kmv_set_ops_exact_below_k(spark):
    # below k the sketch is exact: A={1..10}, B={6..15} → union 15, inter 5
    rows = [(u, "click") for u in range(1, 11)] + [
        (u, "purchase") for u in range(6, 16)
    ] + [(99, "view"), (None, "click")]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    from big_data_hdfs_ray_vs_spark_spark.operators.sketches import kmv_set_ops

    r = kmv_set_ops(df, "user_id", "event_type", "click", "purchase", k=64).collect()[0]
    assert (r["est_a"], r["est_b"], r["est_union"], r["est_intersection"]) == (
        10,
        10,
        15,
        5,
    )


def test_idf_weighted_jaccard_discounts_boilerplate(spark):
    # docs 1/2 share ONLY the boilerplate prefix (in all four docs →
    # ln(4/4)=0 weight); docs 3/4 also share a rare tail. Plain
    # Jaccard scores both pairs equally; IDF-weighting zeroes the
    # boilerplate-only pair.
    boiler = "terms of service apply to all users"
    rare = "quantum entanglement of purple elephants"
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, boiler + " " + rare + " one"),
        (4, boiler + " " + rare + " two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    from big_data_hdfs_ray_vs_spark_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
    )

    out = {(r["id_a"], r["id_b"]): r["weighted_jaccard"]
           for r in idf_weighted_jaccard_pairs(df, pairs).collect()}
    assert out[(3, 4)] > out[(1, 2)]
    # the shared-boilerplate-only pair keeps SOME weight (shingles
    # crossing the boiler/suffix boundary are rare) but far less than
    # the rare-content pair
    assert out[(3, 4)] > 0.2


def test_ewma_shape(spark):
    # constant series → ewma equals the constant at every position
    rows = [(1, i, float(1000 + i), 5.0) for i in range(8)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts double, value double")
    # emulate the query's window arithmetic directly via SQL expr
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("event_id")
    q = 0.5
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(5):
        v = F.col("value") if i == 0 else F.lag("value", i).over(w)
        num = num + F.when(v.isNotNull(), v * F.lit(q**i)).otherwise(F.lit(0.0))
        den = den + F.when(v.isNotNull(), F.lit(q**i)).otherwise(F.lit(0.0))
    out = df.select((num / den).alias("e")).collect()
    assert all(abs(r["e"] - 5.0) < 1e-12 for r in out)
