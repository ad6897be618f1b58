"""Dedup operators: exact dedup, MinHash-LSH recall on planted
near-dups, SimHash vs a brute-force pure-Python oracle (the q24
rows-only query's oracle lives here)."""

from pyspark.sql import functions as F

from big_data_hdfs_ray_vs_spark_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
    (2, "completely different text about spark dataframes and shuffle partitions here"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (4, "another unrelated document mentioning kmeans centroids and convergence criteria"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_stats(spark):
    r = dedup.exact_dedup_stats(_docs(spark)).first()
    assert (r["n_docs"], r["n_unique"], r["n_dupes"]) == (5, 4, 1)


def test_exact_dedup_keeps_lowest_id(spark):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(_docs(spark)).collect())
    assert kept == [0, 1, 2, 4]


def test_minhash_finds_planted_near_dup(spark):
    bands = dedup.minhash_bands(_docs(spark), num_hashes=12, rows_per_band=2)
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_candidate_pairs(bands).collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs  # 1-token-different near-dup
    assert (2, 4) not in pairs  # unrelated docs don't collide


def test_ngram_jaccard_values(spark):
    docs = _docs(spark)
    pairs = spark.createDataFrame([(0, 1), (0, 3), (0, 2)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs, pairs).collect()}
    assert got[(0, 3)] == 1.0
    assert 0.5 < got[(0, 1)] < 1.0  # 11 shared of 13 shingles total
    assert got[(0, 2)] == 0.0


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _stored_rdds_after_gc(spark) -> set[int]:
    """The ids of the RDDs holding blocks once both Python and the JVM
    have collected their garbage: a local checkpoint's blocks go when
    its RDD is unreachable, which the ContextCleaner learns after a
    JVM GC and acts on asynchronously."""
    import gc
    import time

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _rdds_left_after_gc(spark, before: set[int]) -> set[int]:
    """The RDDs holding blocks that were not in ``before``, polled
    for up to 20 s while the ContextCleaner catches up."""
    import time

    deadline = time.monotonic() + 20
    while (left := _stored_rdds_after_gc(spark) - before) and time.monotonic() < deadline:
        pass
    return left


def test_near_dup_pairs_verified_and_uncached(spark):
    spark.catalog.clearCache()
    docs = _docs(spark)
    # docs 0 and 3 are identical; 1 differs from both in its last
    # token: 11 shared of 13 distinct 3-shingles
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.near_dup_pairs(docs, 0.5).collect()}
    assert got == {(0, 1): 11 / 13, (0, 3): 1.0, (1, 3): 11 / 13}
    assert [(r["id_a"], r["id_b"]) for r in dedup.near_dup_pairs(docs, 0.9).collect()] == [(0, 3)]
    assert _cache_is_empty(spark)


def test_near_dup_queries_leave_no_cache(spark):
    """Every registry query on the near-dup front end (near_dup_pairs,
    dup_clusters, cluster_safe_split) releases what it persisted: the
    CacheManager is empty after each collect, and no block is left in
    storage once the query's frames are garbage."""
    from test_smoke import SF_SMOKE

    from big_data_hdfs_ray_vs_spark_spark.queries import all_queries

    qs = all_queries()
    spark.catalog.clearCache()
    before = _stored_rdds_after_gc(spark)
    for name in (
        "q38_dup_clusters",
        "q71_split_leakage",
        "q102_dedup_keep_best",
        "q153_cluster_safe_split",
        "q154_soft_dedup_weights",
        "q166_cc_twostar",
        "q182_dup_cross_source",
    ):
        qs[name](spark, SF_SMOKE).collect()
        assert _cache_is_empty(spark), name
    assert _rdds_left_after_gc(spark, before) == set()


def test_simhash_vs_python_oracle(spark):
    docs = _docs(spark)
    sims = {r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
            for r in dedup.simhash64(docs).collect()}
    # identical texts -> identical simhash
    assert sims[0] == sims[3]
    # brute-force hamming oracle vs the banded join, max_hamming=6
    def ham(a, b):
        return bin(a ^ b).count("1")
    want = {(a, b) for a in sims for b in sims
            if a < b and ham(sims[a], sims[b]) <= 6}
    got = {(r["id_a"], r["id_b"])
           for r in dedup.simhash_near_pairs(dedup.simhash64(docs), max_hamming=6).collect()}
    # precision is exact (the join re-checks true hamming); recall is
    # guaranteed by pigeonhole only for distance <= 3 of 4 blocks
    assert got <= want
    assert (0, 3) in got  # hamming 0: always recalled
    near = {p for p in want if ham(sims[p[0]], sims[p[1]]) <= 3}
    assert near <= got


def test_simhash_banding_recall_guarantee(spark):
    # hamming=4 with one flipped bit per 16-bit quadrant: a 4-block
    # banding finds NO matching block; the adaptive 8x8-bit banding
    # (n_blocks > max_hamming) must still surface the pair.
    x = 0
    y = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)
    sim = spark.createDataFrame([(1, x), (2, y)], "doc_id long, simhash long")
    got = dedup.simhash_near_pairs(sim, max_hamming=6).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 4)]
    # and the tight bound still uses the coarse cheap banding
    none = dedup.simhash_near_pairs(sim, max_hamming=3).collect()
    assert none == []


# ---------------------------------------------------------------------------
# dup_clusters: both strategies must produce identical min-labeled components


CC_PAIRS = [
    (1, 2), (2, 3),          # chain component {1,2,3} -> cluster 1
    (10, 11),                # pair component {10,11} -> cluster 10
    (20, 21), (21, 20),      # duplicate/reversed edges collapse
    (30, 31), (31, 32), (32, 33), (30, 33),  # cycle {30..33} -> cluster 30
]

CC_EXPECT = {
    1: (1, 3), 2: (1, 3), 3: (1, 3),
    10: (10, 2), 11: (10, 2),
    20: (20, 2), 21: (20, 2),
    30: (30, 4), 31: (30, 4), 32: (30, 4), 33: (30, 4),
}


def _cc_check(rows):
    got = {r["doc_id"]: (r["cluster"], r["cluster_size"]) for r in rows}
    assert got == CC_EXPECT
    reps = {r["doc_id"] for r in rows if r["is_rep"]}
    assert reps == {1, 10, 20, 30}


def test_dup_clusters_small_path(spark):
    # default dispatch: tiny pair graph -> single-pass union-find
    pairs = spark.createDataFrame(CC_PAIRS, "id_a long, id_b long")
    _cc_check(dedup.dup_clusters(pairs).collect())


def test_dup_clusters_partitionwise_path(spark, monkeypatch):
    pairs = spark.createDataFrame(CC_PAIRS, "id_a long, id_b long")
    # a zero single-task ceiling forces the spanning-forest + merge tier
    monkeypatch.setattr(dedup, "SINGLE_TASK_MAX_EDGES", 0)
    _cc_check(dedup.dup_clusters(pairs).collect())


def test_dup_clusters_propagate_path(spark, monkeypatch, iterate_rounds):
    pairs = spark.createDataFrame(CC_PAIRS, "id_a long, id_b long")
    # both ceilings at 0 force the distributed label loop, which is
    # cc_two_star (the one iterate_until caller here)
    monkeypatch.setattr(dedup, "UNIONFIND_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "SINGLE_TASK_MAX_EDGES", 0)
    _cc_check(dedup.dup_clusters(pairs).collect())
    assert len(iterate_rounds) == 1
    spark.catalog.clearCache()


def test_dup_clusters_nonconverged_propagate_falls_back_to_twostar(
    spark, monkeypatch, iterate_rounds
):
    # a 12-node chain has diameter 11, past what a short min-label loop
    # converges on; above a zero union-find ceiling it goes to
    # cc_two_star and still gets the exact clustering in 4 rounds
    monkeypatch.setattr(dedup, "UNIONFIND_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(11)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    rows = dedup.dup_clusters(pairs).collect()
    assert iterate_rounds == [4]
    got = {r["doc_id"]: (r["cluster"], r["cluster_size"], r["is_rep"]) for r in rows}
    assert got == {i: (0, 12, i == 0) for i in range(12)}
    spark.catalog.clearCache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dup_clusters_partitionwise_matches_two_star(spark, monkeypatch):
    """The partition-wise path must produce IDENTICAL clusters with the
    pair graph spread over multiple tasks (per-partition spanning
    forests + one |V|-bounded merge), and agree with cc_two_star."""
    # chain 0-1-2-3, triangle 10-11-12 (+ cross edge), singleton pair
    edges = [
        (0, 1), (1, 2), (2, 3),
        (10, 11), (11, 12), (10, 12),
        (20, 21),
        # a component whose edges will straddle partitions
        (30, 31), (31, 32), (32, 33), (33, 34), (34, 35),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").repartition(4)
    assert pairs.rdd.getNumPartitions() > 1  # multi-task stage 1
    monkeypatch.setattr(dedup, "SINGLE_TASK_MAX_EDGES", 0)
    got = set(_rows(dedup.dup_clusters(pairs)))
    assert got == set(_rows(dedup.cc_two_star(pairs)))
    # spot-pin the components
    lab = {d: c for d, c, _, _ in got}
    assert lab[3] == 0 and lab[12] == 10 and lab[21] == 20 and lab[35] == 30
    spark.catalog.clearCache()


def test_unionfind_spanning_is_node_bounded(spark):
    """Stage-1 output is ≤ one row per distinct node per partition —
    the property that makes the serial merge |V|-bounded."""
    # dense component: 50 nodes, ~300 edges in ONE partition
    edges = [(a, b) for a in range(50) for b in range(a + 1, 50) if (a * b) % 4 == 0]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").coalesce(1)
    span = pairs.mapInPandas(dedup._unionfind_spanning, "id_a long, id_b long")
    assert span.count() <= 50 < len(edges)


# cc_two_star must equal the union-find paths on any pair graph: the
# strategies differ only in scaling regime (union-find: pair graphs up
# to UNIONFIND_MAX_EDGES; two-star: above it, O(log²) rounds whatever
# the component diameter, zero Python stages).


def test_cc_two_star_matches_unionfind(spark):
    # mixed shapes: a chain, a star, a triangle-with-tail, disjoint pairs
    pairs = (
        [(i, i + 1) for i in range(10)]  # chain 0..10
        + [(100, v) for v in (101, 102, 103, 104)]  # star at 100
        + [(200, 201), (201, 202), (202, 200), (202, 203)]  # tri + tail
        + [(300, 301), (400, 401)]
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = _rows(dedup.cc_two_star(df))
    want = _rows(dedup.dup_clusters(df))
    assert got == want
    # spot-pin the chain collapsed to min label 0 with size 11
    by_doc = {r[0]: r for r in got}
    assert by_doc[10][1] == 0 and by_doc[10][2] == 11


def test_cc_two_star_long_chain_beats_diameter(spark):
    # an 80-node chain: diameter 80, but two-star converges well inside
    # max_iter=30 — the O(log^2) bound this strategy exists for.
    pairs = [(i, i + 1) for i in range(80)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = dedup.cc_two_star(df, max_iter=30)
    rows = out.collect()
    assert len(rows) == 81
    assert all(r["cluster"] == 0 and r["cluster_size"] == 81 for r in rows)
    assert sum(r["is_rep"] for r in rows) == 1


def test_cc_two_star_empty(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    out = dedup.cc_two_star(df)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "cluster",
        "cluster_size",
        "is_rep",
    ]


def test_cc_two_star_reversed_and_duplicate_edges(spark):
    # same component expressed with reversed/duplicated/self edges
    pairs = [(2, 1), (1, 2), (3, 2), (3, 3), (5, 4)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = _rows(dedup.cc_two_star(df))
    want = _rows(dedup.dup_clusters(df))
    assert got == want
    clusters = {r[0]: r[1] for r in got}
    assert clusters[1] == clusters[2] == clusters[3] == 1
    assert clusters[4] == clusters[5] == 4


def test_cc_two_star_detects_fixpoint_on_reaching_round(spark, iterate_rounds):
    # A star-forest input (every edge max→min, sources disjoint from
    # targets) is ALREADY the fixpoint: one round maps it to itself and
    # the star-forest probe must stop there, not after a confirming
    # second round.
    pairs = spark.createDataFrame([(5, 1), (3, 1), (7, 2)], "id_a long, id_b long")
    got = _rows(dedup.cc_two_star(pairs))
    assert iterate_rounds == [1]
    assert got == _rows(dedup.dup_clusters(pairs))


def test_cc_two_star_multi_round_still_exact(spark, iterate_rounds):
    # A chain needs >1 two-star round; the fixpoint probe must not stop
    # before the true star forest forms.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r for r in dedup.cc_two_star(pairs).collect()}
    assert iterate_rounds == [4]
    assert len(out) == 13
    assert all(r["cluster"] == 0 and r["cluster_size"] == 13 for r in out.values())
    assert out[0]["is_rep"] and sum(r["is_rep"] for r in out.values()) == 1


def test_shingle_sets_shared_pipeline_matches_unshared(spark):
    docs = _docs(spark)
    sets = dedup.shingle_sets(docs).persist()
    shared = dedup.minhash_bands(docs, sets=sets)
    unshared = dedup.minhash_bands(docs)
    assert sorted(map(tuple, shared.collect())) == sorted(map(tuple, unshared.collect()))


# --- incremental dedup (batch vs existing corpus) -------------------------

INC_CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "completely different text about spark dataframes and shuffle partitions here"),
    (4, "another unrelated document mentioning kmeans centroids and convergence criteria"),
]
INC_BATCH = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),    # exact dup of 0
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
    (5, "a genuinely fresh document with brand new content about bloom filters"),    # kept
]


def test_incremental_dedup_flags(spark):
    corpus = spark.createDataFrame(INC_CORPUS, "doc_id long, text string")
    batch = spark.createDataFrame(INC_BATCH, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["exact_dup"], r["near_dup"], r["kept"])
        for r in dedup.incremental_dedup_flags(batch, corpus, threshold=0.5).collect()
    }
    assert set(got) == {1, 3, 5}                 # one audit row per batch doc
    assert got[1] == (True, True, False)         # exact dup is also a near dup
    assert got[3][0] is False and got[3][1] is True and got[3][2] is False
    assert got[5] == (False, False, True)


def test_incremental_dedup_reuses_corpus_index(spark):
    corpus = spark.createDataFrame(INC_CORPUS, "doc_id long, text string")
    batch = spark.createDataFrame(INC_BATCH, "doc_id long, text string")
    idx = dedup.minhash_bands(corpus).persist()
    with_idx = dedup.incremental_dedup_flags(batch, corpus, threshold=0.5, corpus_bands=idx)
    without = dedup.incremental_dedup_flags(batch, corpus, threshold=0.5)
    assert sorted(map(tuple, with_idx.collect())) == sorted(map(tuple, without.collect()))


def test_blocked_name_matches_pigeonhole_recall(spark):
    from big_data_hdfs_ray_vs_spark_spark.operators.dedup import blocked_name_matches

    rows = [
        (1, "alice smith", 0),
        (2, "alica smith", 0),   # one substitution in the LEFT half
        (3, "alice smitt", 0),   # one substitution in the RIGHT half
        (4, "bob johnson", 0),
        (5, "alice smith", 1),   # same name, different block → no pair
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk int")
    got = {(r["id_a"], r["id_b"]): r["distance"]
           for r in blocked_name_matches(df, "id", "name", "blk", max_dist=1).collect()}
    # both single-substitution variants are found (each shares one
    # half); (2,3) is distance 2 → filtered; block 1 never pairs.
    assert got == {(1, 2): 1, (1, 3): 1}


def test_ngram_containment_direction(spark):
    """A 3-shingle doc fully embedded in a longer one: containment on
    the short side is 1.0 while Jaccard stays low — the quote-detection
    signal the containment operator exists for."""
    from pyspark.sql import functions as F

    from big_data_hdfs_ray_vs_spark_spark.operators import dedup

    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    row = dedup.ngram_containment_pairs(docs, pairs).collect()[0]
    assert row["containment_a"] == 1.0
    assert row["containment_b"] < 0.5
    jac = dedup.ngram_jaccard_pairs(docs, pairs).collect()[0]["jaccard"]
    assert jac < 0.5


def test_ngram_containment_disjoint_pair_is_zero(spark):
    from big_data_hdfs_ray_vs_spark_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    row = dedup.ngram_containment_pairs(docs, pairs).collect()[0]
    assert row["containment_a"] == 0.0 and row["containment_b"] == 0.0


def test_minhash_bands_hash_injection(spark):
    """The production-hash swap (xxhash64 instead of portable md5)
    yields a working LSH index: identical docs still collide on every
    band, and the pipeline shape is unchanged."""
    from pyspark.sql import functions as F

    from big_data_hdfs_ray_vs_spark_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different words appear in this other document"),
        ],
        "doc_id long, text string",
    )
    bands = dedup.minhash_bands(
        docs, hash_fn=lambda c, i: F.xxhash64(F.lit(i), c)
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_candidate_pairs(bands).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_group_similarity_identical_vs_disjoint(spark):
    from big_data_hdfs_ray_vs_spark_spark.operators.dedup import (
        minhash_group_similarity,
    )
    from pyspark.sql import functions as F

    rows = (
        [("s1", t) for t in ["aa", "bb", "cc", "dd"]]
        + [("s2", t) for t in ["aa", "bb", "cc", "dd"]]  # identical set
        + [("s3", t) for t in ["xx", "yy", "zz", "ww"]]  # disjoint set
        + [(None, "aa")]  # null group excluded
    )
    df = spark.createDataFrame(rows, "source string, term string")
    out = {
        (r.group_a, r.group_b): r.est_jaccard
        for r in minhash_group_similarity(df).collect()
    }
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    assert out[("s1", "s2")] == 1.0  # identical sets agree on every slot
    assert out[("s1", "s3")] < 1.0


# ------------------------------------------------ ngram novelty (q136)
def test_ngram_novelty_hand_fixture(spark):
    from big_data_hdfs_ray_vs_spark_spark.operators.dedup import ngram_novelty

    # n=2 grams. doc1 "a b c" → {a b, b c}; doc2 "a b x" → {a b, b x};
    # doc3 "q" → whole-text fallback {q}; doc4 "" → zero shingles.
    # df: "a b"=2 (shared), others 1.
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "q"), (4, "")],
        "doc_id long, text string",
    )
    rows = ngram_novelty(docs, n=2).collect()
    got = {r.doc_id: (r.n_shingles, r.n_duplicated, r.dup_rate, r.is_memorized)
           for r in rows}
    assert got[1] == (2, 1, 0.5, False)  # flag is strict > threshold
    assert got[2] == (2, 1, 0.5, False)
    assert got[3] == (1, 0, 0.0, False)
    assert got[4] == (0, 0, 0.0, False)


def test_ngram_novelty_full_copy_is_memorized(spark):
    from big_data_hdfs_ray_vs_spark_spark.operators.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "w x y z"), (2, "w x y z"), (3, "p q r s")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.dup_rate, r.is_memorized)
           for r in ngram_novelty(docs, n=2).collect()}
    assert got[1] == (1.0, True) and got[2] == (1.0, True)
    assert got[3] == (0.0, False)


def test_ngram_novelty_within_doc_repeat_not_duplicated(spark):
    from big_data_hdfs_ray_vs_spark_spark.operators.dedup import ngram_novelty

    # "a b a b" repeats "a b" WITHIN one doc — distinct-per-doc first,
    # so it is not corpus-duplicated (that's q53 repetition's job)
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "zz yy")], "doc_id long, text string"
    )
    got = {r.doc_id: r.n_duplicated for r in ngram_novelty(docs, n=2).collect()}
    assert got[1] == 0


def test_exact_substring_dedup_fixture(spark):
    # The r5-verdict fixture: two docs share a 60-token span; the span
    # is removed from the LATER doc only, and the rebuild is pinned.
    span = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, "alpha " + span + " beta"),
            (2, "gamma delta " + span + " epsilon zeta"),
            (3, "unique words only here"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in dedup.exact_substring_dedup(docs, min_run=50).collect()
    }
    assert got[1] == (62, 0, "alpha " + span + " beta")
    assert got[2] == (64, 60, "gamma delta epsilon zeta")
    assert got[3] == (4, 0, "unique words only here")
    assert got[4] == (0, 0, "")


def test_exact_substring_dedup_within_one_doc(spark):
    # a >= min_run run repeated INSIDE one doc: the second occurrence
    # is excised, the first kept
    run = " ".join(f"t{i}" for i in range(5))
    docs = spark.createDataFrame(
        [(1, run + " mid " + run)], "doc_id long, text string"
    )
    r = dedup.exact_substring_dedup(docs, min_run=5).first()
    assert (r.n_tokens, r.n_removed) == (11, 5)
    assert r.clean_text == run + " mid"


def test_exact_substring_dedup_colliding_ids(spark):
    # colliding ids resolve to one row per id (min md5(text) wins) —
    # the segment_dedup identity precondition, same election
    docs = spark.createDataFrame(
        [(1, "xx yy"), (1, "aa bb"), (2, "cc dd")],
        "doc_id long, text string",
    )
    out = dedup.exact_substring_dedup(docs, min_run=2).collect()
    assert len(out) == 2
    got = {r.doc_id: r.clean_text for r in out}
    assert got[1] in ("xx yy", "aa bb")  # exactly one survives
    assert got[2] == "cc dd"


def test_exact_substring_dedup_prefilter_identical(spark):
    # prefilter=True (the 100 TB scale path: partial-agg count elects
    # multi-occurrence hashes before the rank election) must be result-
    # identical — a singleton run is always rank 1 and the election
    # keeps only rank > 1 rows, so excluding singletons changes nothing
    span = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "alpha " + span + " beta"),
            (2, span + " tail " + span),
            (3, "all unique tokens in this one document right here"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    base = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in dedup.exact_substring_dedup(docs, min_run=15).collect()
    }
    pre = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in dedup.exact_substring_dedup(
            docs, min_run=15, prefilter=True
        ).collect()
    }
    assert base == pre
    assert base[2][1] > 0  # the corpus genuinely removes something
