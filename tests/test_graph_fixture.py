"""Closed-form graph fixtures (FIXTURES.md §2): hand-computed triangle
total, numpy-oracle PageRank with the reference's exact semantics
(dedup'd edges, dangling mass dropped, isolated nodes at (1-d)/N).
"""

import pytest
from pyspark.sql import functions as F

from big_data_hdfs_ray_vs_spark_spark.plans import graph as G

EDGES = [
    ("a", "b"),
    ("b", "c"),
    ("c", "a"),
    ("a", "c"),
    ("d", "a"),
    ("d", "b"),
    ("d", "c"),
    ("e", "e"),
    ("a", "b"),  # duplicate: triangles count it twice, PageRank dedupes
    ("f", "g"),
]


def _edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def test_triangle_count_reference_semantics(spark):
    # Hand computation (set-valued out-adjacency over dedup'd edges,
    # self-loops kept, raw stream with multiplicity):
    # a→b:1, b→c:0, c→a:0, a→c:0, d→a:2, d→b:1, d→c:1, e→e:1, a→b:1, f→g:0
    assert G.triangle_count(_edges_df(spark)) == 7


def test_triangle_count_strategies_agree(spark):
    # join-based, adjacency-array, and dense-bitset plans implement
    # identical semantics
    e = _edges_df(spark)
    assert G.triangle_count(e, strategy="join") == 7
    assert G.triangle_count(e, strategy="adj") == 7
    assert G.triangle_count(e, strategy="bitset") == 7
    assert G.triangle_count_adj_df(e, salted=True).first()["triangles"] == 7
    assert G.triangle_count(e, keep_self_loops=False, strategy="join") == 6
    assert G.triangle_count(e, keep_self_loops=False, strategy="bitset") == 6


def test_triangle_count_drop_self_loops(spark):
    # Ray-variant semantics: e→e excluded from stream AND adjacency.
    assert G.triangle_count(_edges_df(spark), keep_self_loops=False) == 6


def test_triangle_count_undirected(spark):
    # Undirected distinct edges: ab, bc, ac, ad, bd, cd, fg →
    # triangles abc, abd, acd, bcd.
    assert G.triangle_count_undirected(_edges_df(spark)) == 4


def _numpy_pagerank(iters: int, damping: float = 0.85) -> dict[str, float]:
    dedup = sorted(set(EDGES))
    nodes = sorted({u for e in dedup for u in e})
    n = len(nodes)
    outdeg: dict[str, int] = {}
    for u, _v in dedup:
        outdeg[u] = outdeg.get(u, 0) + 1
    score = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for u, v in dedup:
            contrib[v] += damping * score[u] / outdeg[u]
        score = {v: (1 - damping) / n + contrib[v] for v in nodes}
    return score


@pytest.mark.parametrize("iters", [1, 3])
def test_pagerank_matches_closed_form(spark, iters):
    scores_df, done = G.pagerank(_edges_df(spark), max_iter=iters, tol=None)
    got = {r["node"]: r["score"] for r in scores_df.collect()}
    want = _numpy_pagerank(iters)
    assert done == iters
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-12), node


def test_pagerank_dangling_mass_dropped(spark):
    # g has no out-edges; its mass must vanish (sum < 1), matching the
    # reference's no-redistribution choice (pagerank_spark.py:155-161).
    scores_df, _ = G.pagerank(_edges_df(spark), max_iter=3, tol=None)
    total = scores_df.agg(F.sum("score")).first()[0]
    assert total < 0.999


def test_pagerank_convergence_probe(spark, iterate_rounds):
    # With a full-fraction sample the probe is exact; a rapidly-mixing
    # graph converges well before max_iter. _numpy_pagerank's squared
    # step is 2.0e-12 into round 23 and 3.3e-13 into round 24.
    scores_df, iters = G.pagerank(
        _edges_df(spark), max_iter=30, tol=1e-12, sample_fraction=1.0
    )
    assert iterate_rounds == [iters] == [24]
    assert scores_df.count() == 7


def test_build_graph_shapes(spark):
    edges, nodes, outdeg = G.build_graph(_edges_df(spark))
    assert edges.count() == 9  # dedup'd
    assert nodes.count() == 7
    assert {r["src"]: r["out_degree"] for r in outdeg.collect()}["a"] == 2


def test_personalized_pagerank_two_cycle(spark):
    from big_data_hdfs_ray_vs_spark_spark.plans.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {
        r["node"]: round(r["score"], 6)
        for r in personalized_pagerank(edges, source=1, damping=0.85, iters=2).collect()
    }
    # s0=[1,0]; s1=[0.15, 0.85]; s2=[0.15+0.85*0.85, 0.85*0.15]
    assert got == {1: 0.8725, 2: 0.1275}


def test_hits_star_graph(spark):
    from big_data_hdfs_ray_vs_spark_spark.plans.graph import hits

    # Star: 1→3, 2→3. Node 3 is the sole authority; 1,2 equal hubs.
    edges = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, iters=2).collect()}
    assert got == {1: (0.5, 0.0), 2: (0.5, 0.0), 3: (0.0, 1.0)}


def test_bfs_layers_chain(spark, iterate_rounds):
    """Chain 1-2-3-4 plus disconnected 5-6: exact hop distances from 1;
    unreached component absent from the output. Three rounds reach
    nodes, the fourth finds the empty frontier and stops."""
    from pyspark.sql import functions as F

    from big_data_hdfs_ray_vs_spark_spark.plans.graph import bfs_layers

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long")
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    s = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_layers(und, s).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    assert iterate_rounds == [4]


def test_bfs_layers_directed_and_depth_cap(spark):
    """Directed edges are not traversed backwards; max_depth truncates."""
    from big_data_hdfs_ray_vs_spark_spark.plans.graph import bfs_layers

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    s = spark.createDataFrame([(2,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_layers(e, s, max_depth=2).collect()}
    assert got == {2: 0, 3: 1, 4: 2}  # node 1 is 3 hops away, capped out


def test_bfs_layers_multi_source(spark):
    """Min distance over a source SET (the multi-seed variant)."""
    from big_data_hdfs_ray_vs_spark_spark.plans.graph import bfs_layers

    e = spark.createDataFrame([(1, 2), (2, 3), (9, 3)], "src long, dst long")
    s = spark.createDataFrame([(1,), (9,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_layers(e, s).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 1}


def test_pagerank_empty_graph_returns_empty(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    scores, iters = G.pagerank(empty, max_iter=3)
    assert scores.count() == 0 and iters == 0


def test_personalized_pagerank_empty_graph_returns_empty(spark):
    # source=None has no smallest source node to restart at
    empty = spark.createDataFrame([], "src long, dst long")
    scores = G.personalized_pagerank(empty, source=None)
    assert scores.count() == 0
    assert scores.columns == ["node", "score"]


def test_bfs_layers_releases_frontier_caches(spark):
    """bfs_layers must not leave per-round frontier frames, or any
    other CacheManager entry, in the session CACHE after it returns: a
    long-lived session would accumulate entries that nothing but an
    explicit unpersist can release. The frontiers and the result are
    localCheckpoints, whose blocks are NOT CacheManager state — the
    ContextCleaner frees them on GC (the same debris class the
    iterate_until checkpoint rounds of kcore/cc_two_star leave) — so
    the contract is pinned on CACHE-class entries only. CacheManager
    RDDs are distinguishable by name: CachedRDDBuilder names them with
    the cached plan string, while checkpoint blocks keep the bare RDD
    class name ("MapPartitionsRDD")."""
    from pyspark.sql import functions as F

    from big_data_hdfs_ray_vs_spark_spark.plans.graph import bfs_layers

    def cached_ids():
        # Compare by RDD id DELTA, not absolute count: other tests in
        # the shared session leave debris this test does not own.
        return {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.isCached() and i.name() != "MapPartitionsRDD"
        }

    spark.catalog.clearCache()
    before = cached_ids()
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    s = spark.createDataFrame([(1,)], "node long")
    out = bfs_layers(und, s)
    assert {r["node"]: r["dist"] for r in out.collect()} == {1: 0, 2: 1, 3: 2, 4: 3}
    assert not (cached_ids() - before)


def test_kcore_peel_triangle_plus_tail(spark, iterate_rounds):
    # triangle {1,2,3} is the 2-core; the tail 3-4-5 peels away, node 5
    # in round 1 and node 4 in round 2, where the fixpoint probe stops
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["core_degree"] for r in G.kcore_peel(df, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    assert iterate_rounds == [2]


def test_kcore_peel_empty_core(spark):
    # a path graph has no 2-core
    edges = [(1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert G.kcore_peel(df, k=2).count() == 0


def test_kcore_peel_nonconvergence_raises(spark):
    # max_rounds=1 on a graph needing 2 peels must raise, not return
    # a non-core (the oracle contract: loud failure over silent drift)
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        G.kcore_peel(df, k=2, max_rounds=1)


def test_kcore_detects_fixpoint_on_reaching_round(spark, iterate_rounds):
    # A pure 2-core (triangle): peel round 1 keeps everything, and the
    # under-degree probe must detect the fixpoint there, not after a
    # confirming second round.
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    out = {r["node"]: r["core_degree"] for r in G.kcore_peel(df, k=2).collect()}
    assert iterate_rounds == [1]
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_empty_input_stable_first_round(spark, iterate_rounds):
    df = spark.createDataFrame([], "src long, dst long")
    assert G.kcore_peel(df, k=2).count() == 0
    assert iterate_rounds == [1]
