"""Graph algorithms with reference-Spark semantics (SURVEY §2.8).

PageRank — exact reference update rule (pagerank_spark.py:138-196):
  dedup'd edges; nodes = distinct union of endpoints; init 1/N;
  new = (1-d)/N + d·Σ_in score(u)/outdeg(u); dangling mass DROPPED
  (scores need not sum to 1); isolated nodes coalesce to (1-d)/N + 0;
  convergence via seeded-sample L2² estimate scaled by 1/fraction.

Triangle "count" — the reference's per-edge common-out-neighbor sum
(triangles_spark.py:88-106): Σ over the RAW edge stream (duplicates
count multiply, self-loops kept) of |outAdj(src) ∩ outAdj(dst)| with
set-valued adjacency. The reference collects the whole adjacency to the
driver and broadcasts a dict — a scale bug. Our plan is pure joins:
dedup'd edges joined twice, grouped per raw edge; shuffles are keyed on
src/dst and AQE handles skew. bigint sum (result is 22B at 5 GB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import iterate_until


def build_graph(edges_raw: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(edges, nodes, out_degrees) — pagerank_spark.py:70-105 semantics:
    null-filter + dedup edges; nodes = distinct union of endpoints."""
    edges = (
        edges_raw.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_degrees = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    return edges, nodes, out_degrees


def pagerank(
    edges_raw: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    sample_fraction: float | None = None,
    sample_size: int = 10_000,
    seed: int = 42,
) -> tuple[DataFrame, int]:
    """Reference-semantics PageRank; returns (scores_df[node,score], iters).

    The convergence probe is ON by default, matching the reference CLI
    (pagerank_spark.py:223-224, --convergence-sample-size default 10000):
    when sample_fraction is None it is derived as min(1, sample_size/N).
    tol=None or sample_fraction=0 disables the probe (fixed iteration
    count — what the DuckDB oracle replays)."""
    edges, nodes, out_degrees = build_graph(edges_raw)
    # Materialize the dedup'd edge set ONCE; nodes/out_degrees/edges_deg
    # all derive from the cache. Without this, the union-distinct node
    # build and the later init materialization each re-scan the raw
    # input (the only input-sized table here) through the distinct.
    edges = edges.persist()
    nodes = nodes.persist()
    # ONE materialization job: computing nodes (a derivation of edges)
    # with edges persisted populates BOTH caches.
    n_nodes = nodes.count()
    if n_nodes == 0:  # empty graph: empty scores, not ZeroDivisionError
        edges.unpersist()
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("score")), 0
    if sample_fraction is None:
        sample_fraction = min(1.0, sample_size / max(n_nodes, 1))
    # Pre-join the constant edge⋈outdeg table once: each iteration then
    # does ONE join against scores instead of the reference's two.
    edges_deg = edges.join(out_degrees, on="src").persist()
    edges_deg.count()
    edges.unpersist()

    init = nodes.withColumn("score", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes

    def step(scores: DataFrame, _i: int) -> DataFrame:
        contribs = (
            edges_deg.join(scores.withColumnRenamed("node", "src"), on="src")
            .select(
                F.col("dst").alias("node"),
                (F.col("score") * damping / F.col("out_degree")).alias("contribution"),
            )
            .groupBy("node")
            .agg(F.sum("contribution").alias("total_contribution"))
        )
        return scores.select("node").join(contribs, on="node", how="left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("total_contribution"), F.lit(0.0))).alias("score"),
        )

    def should_stop(old: DataFrame, new: DataFrame, _i: int) -> bool:
        # Seeded-sample L2² estimate, scaled by 1/fraction
        # (pagerank_spark.py:166-191). The old⋈new aggregate consumes
        # every partition of the new state, so it also fills the
        # round's checkpoint: one job per round.
        joined = old.alias("o").join(new.alias("n"), on="node")
        sampled = joined.sample(False, sample_fraction, seed=seed)
        diff = sampled.select(
            F.sum(F.pow(F.col("n.score") - F.col("o.score"), 2)).alias("d")
        ).first()["d"]
        if diff is None:
            return False
        return (diff / sample_fraction) < tol

    probe = should_stop if tol is not None and sample_fraction else None
    final, iters = iterate_until(init, step, probe, max_iter=max_iter)
    nodes.unpersist()
    edges_deg.unpersist()
    return final, iters


def pagerank_topk(scores: DataFrame, k: int = 10) -> DataFrame:
    return scores.orderBy(F.desc("score"), "node").limit(k)


def _tagged_edges(edges_raw: DataFrame, keep_self_loops: bool) -> DataFrame:
    """(src, dst, mult) pre-aggregate of the raw edge stream: ONE scan
    + one shuffle of the (possibly huge) base, after which every
    triangle plan works off rows bounded by the number of DISTINCT
    edges. Duplicate edges survive as a multiplicity counter instead of
    re-joining every raw row."""
    raw = edges_raw.select("src", "dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if not keep_self_loops:
        raw = raw.filter(F.col("src") != F.col("dst"))
    return raw.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("mult"))


def triangle_count_df(
    edges_raw: DataFrame,
    keep_self_loops: bool = True,
    tagged: DataFrame | None = None,
) -> DataFrame:
    """Reference triangle semantics, scalable join plan (SURVEY §7.4).

    Σ over raw edges (u,v) of |outAdj(u) ∩ outAdj(v)| where outAdj is
    over DEDUP'd edges. Equivalent join form: for each raw edge (u,v),
    count distinct w with (u,w) and (v,w) in the dedup'd edge set:

        raw ⋈ dedup a ON a.src=u  ⋈ dedup b ON b.src=v AND b.dst=a.dst

    No driver collect, no broadcast-of-everything; the two joins shuffle
    on src/dst keys and the count is a map-side-combined bigint sum.
    """
    raw_tagged = tagged if tagged is not None else _tagged_edges(edges_raw, keep_self_loops)
    dedup = raw_tagged.select("src", "dst")
    a = dedup.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    b = dedup.select(F.col("src").alias("v"), F.col("dst").alias("w2"))
    return (
        raw_tagged.join(a, on=[raw_tagged.src == a.u], how="inner")
        .join(b, on=[raw_tagged.dst == b.v, a.w == b.w2], how="inner")
        .groupBy()  # global bigint sum of multiplicities
        .agg(F.coalesce(F.sum("mult"), F.lit(0)).cast("long").alias("triangles"))
    )


def triangle_count_adj_df(
    edges_raw: DataFrame,
    keep_self_loops: bool = True,
    salted: bool = False,
    tagged: DataFrame | None = None,
) -> DataFrame:
    """Same semantics as triangle_count_df via adjacency arrays:

        adj = dedup.groupBy(src).collect_set(dst)   (one shuffle)
        raw(src,dst,mult) ⋈ adj@src ⋈ adj@dst, then
        Σ mult · size(array_intersect(adj_u, adj_v))

    vs the pure-join plan this trades the |E|·avg-degree exploded
    aggregate for two array-carrying joins + a per-row O(d_u+d_v)
    intersect inside codegen — far less shuffle I/O when avg degree is
    high. Caveat at extreme scale: one row per vertex adjacency, so a
    hub with 10^8 out-neighbors would overflow a row; the join plan
    (triangle_count_df) remains the fallback for such graphs.
    """
    raw_tagged = tagged if tagged is not None else _tagged_edges(edges_raw, keep_self_loops)
    dedup = raw_tagged.select("src", "dst")
    if salted:
        # hub-heavy graphs: two-phase set build bounds any one task's
        # aggregation state to ~1/16 of the hottest vertex's degree
        from ..operators.relational import salted_collect_set

        adj = salted_collect_set(dedup, "src", "dst", n_salts=16, out="nbrs")
    else:
        adj = dedup.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    au = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    return (
        raw_tagged.join(au, on=[raw_tagged.src == au.u], how="inner")
        .join(av, on=[raw_tagged.dst == av.v], how="inner")
        .select(
            (F.col("mult") * F.size(F.array_intersect("nbrs_u", "nbrs_v"))).alias("c")
        )
        .groupBy()
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("triangles"))
    )


def triangle_count_bitset_df(
    edges_raw: DataFrame,
    keep_self_loops: bool = True,
    tagged: DataFrame | None = None,
) -> DataFrame:
    """Same semantics as triangle_count_adj_df via dense bitsets.

    Distinct dst nodes get dense indices 0..n-1; each src's out-set
    becomes an array<long> bitmask (n/64 words, built by one
    bit_or aggregate per (src, word)); per raw edge the intersection
    size is Σ bit_count(word_u & word_v) over zip_with — pure codegen
    integer arithmetic, no per-row hash-set allocation. On dense graphs
    this beats array_intersect by ~10× (measured: 4M-edge near-complete
    synthetic reddit, 66 s → 6 s for the intersect stage).

    Materializes ONE scalar at plan-build time (the distinct-dst count,
    to size the mask) — that is why triangle_count's "auto" strategy,
    not this function, decides when to use it: total mask footprint is
    n_src·n/8 bytes, so dense only pays when the distinct-node count is
    bounded (reference reddit graph: 35k subreddits → 153 MB of masks;
    a billion-node web graph must use the adjacency or join plan).
    """
    from pyspark.sql.window import Window

    raw_tagged = tagged if tagged is not None else _tagged_edges(edges_raw, keep_self_loops)
    dedup = raw_tagged.select("src", "dst")
    # Dense ids for dst nodes. The 1-partition row_number window is fine
    # precisely because the dense path is only chosen for bounded n.
    idx = (
        dedup.select(F.col("dst").alias("w"))
        .distinct()
        .select("w", (F.row_number().over(Window.orderBy("w")) - 1).alias("j"))
    )
    n = idx.count()
    nwords = max((n + 63) // 64, 1)
    bits = (
        dedup.join(idx, dedup.dst == idx.w)
        .select(
            "src",
            F.expr("CAST(j DIV 64 AS INT)").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j % 64 AS INT))").alias("bit"),
        )
        .groupBy("src", "word")
        .agg(F.bit_or("bit").alias("mask"))
    )
    masks = (
        bits.groupBy("src")
        .agg(
            F.map_from_arrays(
                F.collect_list("word"), F.collect_list("mask")
            ).alias("m")
        )
        .select(
            "src",
            F.transform(
                F.sequence(F.lit(0), F.lit(nwords - 1)),
                lambda w: F.coalesce(F.try_element_at("m", w), F.lit(0).cast("long")),
            ).alias("bm"),
        )
    )
    mu = masks.select(F.col("src").alias("u"), F.col("bm").alias("bm_u"))
    mv = masks.select(F.col("src").alias("v"), F.col("bm").alias("bm_v"))
    return (
        raw_tagged.join(mu, on=[raw_tagged.src == mu.u], how="inner")
        .join(mv, on=[raw_tagged.dst == mv.v], how="inner")
        .select(
            (
                F.col("mult")
                * F.aggregate(
                    F.zip_with(
                        "bm_u",
                        "bm_v",
                        lambda x, y: F.bit_count(x.bitwiseAND(y)).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
            ).alias("c")
        )
        .groupBy()
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("triangles"))
    )


# Dense-path budget: n_src·n_dst/8 bytes of masks. 32e9 ≈ 4 GB total
# across the cluster — far below executor memory at 32+ executors, and
# the reference reddit graph (35k²) is 300× under it.
_BITSET_CELL_BUDGET = 32_000_000_000


def triangle_count(
    edges_raw: DataFrame, keep_self_loops: bool = True, strategy: str = "auto"
) -> int:
    """strategy: "auto" (default) measures the graph with one cheap agg
    and picks dense-bitset when the mask footprint is bounded, else the
    adjacency-array plan; "bitset"/"adj"/"join" force a plan.

    The (src,dst,mult) pre-aggregate is materialized ONCE and shared by
    the auto probe and the chosen plan — the raw edge stream (the only
    input-sized table) is scanned exactly once regardless of strategy."""
    tagged = _tagged_edges(edges_raw, keep_self_loops).persist()
    try:
        if strategy == "auto":
            counts = tagged.agg(
                F.count_distinct("src").alias("ns"),
                F.count_distinct("dst").alias("nd"),
            ).first()
            ns, nd = int(counts["ns"] or 0), int(counts["nd"] or 0)
            strategy = "bitset" if ns * nd <= _BITSET_CELL_BUDGET else "adj"
        plan = {
            "bitset": triangle_count_bitset_df,
            "adj": triangle_count_adj_df,
            "join": triangle_count_df,
        }[strategy]
        row = plan(edges_raw, keep_self_loops, tagged=tagged).first()
        return int(row["triangles"]) if row and row["triangles"] is not None else 0
    finally:
        tagged.unpersist()


def triangle_count_undirected(edges_raw: DataFrame) -> int:
    """Standard undirected triangle count (each triangle once) — the
    conventional metric the reference does NOT compute, exposed as a
    bonus. Canonical orientation (lo<hi) + two-path closure / 3."""
    e = (
        edges_raw.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    # Orient low→high: count paths lo→mid→hi closed by edge lo→hi.
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    paths = ab.join(bc, on="b")
    closed = paths.join(
        e.select(F.col("lo").alias("a"), F.col("hi").alias("c")), on=["a", "c"]
    )
    row = closed.groupBy().agg(F.count(F.lit(1)).alias("t")).first()
    return int(row["t"]) if row else 0


def personalized_pagerank(
    edges_raw: DataFrame,
    source: int | None,
    damping: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """Personalized PageRank: random walk with restart at ``source`` —
    new = (1−d)·1[node=source] + d·Σ_in score(u)/outdeg(u). The
    node-relevance / related-items primitive (seeded importance, not
    global importance).

    ``source=None`` restarts at the smallest source node, computed
    HERE from the already-persisted dedup'd edge set (min over
    distinct non-null src ≡ min over the raw stream, since MIN skips
    nulls and ignores duplicates), so the raw input is scanned once.
    An empty graph returns empty (node, score) scores, as pagerank does.

    Same physical shape as :func:`pagerank` (pre-fused edges⋈outdeg,
    one join + aggregate per round, lineage truncated by iterate_until)
    — only the restart vector differs, which costs a CASE expression,
    not a join. Fixed ``iters`` so a SQL oracle can replay the exact
    recurrence; scores need not sum to 1 (dangling mass dropped, same
    convention as pagerank).
    """
    edges, nodes, out_degrees = build_graph(edges_raw)
    edges = edges.persist()
    nodes = nodes.persist()
    # ONE materialization job for both caches (the pagerank/hits
    # convention).
    if nodes.count() == 0:
        edges.unpersist()
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("score"))
    edges_deg = edges.join(out_degrees, on="src").persist()
    edges_deg.count()
    if source is None:
        # min over the CACHED dedup'd edges — a sub-second cached-scan
        # job instead of the caller's full raw-input scan.
        source = int(edges.agg(F.min("src")).first()[0])
    edges.unpersist()

    restart = F.when(F.col("node") == source, 1.0).otherwise(0.0)
    init = nodes.withColumn("score", restart)

    def step(scores: DataFrame, _i: int) -> DataFrame:
        contribs = (
            edges_deg.join(scores.withColumnRenamed("node", "src"), on="src")
            .select(
                F.col("dst").alias("node"),
                (F.col("score") * damping / F.col("out_degree")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("tc"))
        )
        return scores.select("node").join(contribs, on="node", how="left").select(
            "node",
            (
                (1.0 - damping) * restart + F.coalesce(F.col("tc"), F.lit(0.0))
            ).alias("score"),
        )

    final, _n = iterate_until(init, step, max_iter=iters)
    nodes.unpersist()
    edges_deg.unpersist()
    return final


def hits(edges_raw: DataFrame, iters: int = 3) -> DataFrame:
    """HITS hubs & authorities (L1-normalized variant): per round,
    auth(v) = Σ_{u→v} hub(u) then auth /= Σauth; hub(u) = Σ_{u→v}
    auth(v) then hub /= Σhub. Init hub = 1 on every node. Fixed
    ``iters`` so a SQL oracle replays the exact recurrence. Returns
    (node, hub, auth) rounded to 8.

    The state is one (node, hub, auth) table of UN-normalized sums:
    an L1 normalizer is a scalar, so dividing auth by Σauth before
    the hub sum only scales every hub of the round by the same factor,
    which the next normalization cancels. A round therefore
    normalizes only the hub it reads, with the total taken over the
    state (a checkpoint leaf) as a broadcast 1-row cross join, then
    runs the two join + aggregate halves; the output normalizes both
    columns once. Rounds run on ``iterate_until``. A total never reads
    a round's join: a broadcast runs its child inside a future bounded
    by ``spark.sql.broadcastTimeout``, where a slow round would fail
    instead of running long.
    """
    edges, nodes, _deg = build_graph(edges_raw)
    # the driver's count of the initial state fills this cache too
    edges = edges.persist()

    def step(state: DataFrame, _i: int) -> DataFrame:
        total = state.agg(F.sum("hub").alias("__t"))
        h = state.crossJoin(F.broadcast(total)).select(
            F.col("node").alias("src"), (F.col("hub") / F.col("__t")).alias("h")
        )
        auth = (
            edges.join(h, on="src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("auth"))
        )
        hub = (
            edges.join(auth.withColumnRenamed("node", "dst"), on="dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        return (
            state.select("node")
            .join(hub, on="node", how="left")
            .join(auth, on="node", how="left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("auth", F.lit(0.0)).alias("auth"),
            )
        )

    init = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
    final, _ = iterate_until(init, step, max_iter=iters)
    edges.unpersist()
    totals = final.agg(F.sum("hub").alias("__h"), F.sum("auth").alias("__a"))
    return final.crossJoin(F.broadcast(totals)).select(
        "node",
        F.round(F.col("hub") / F.col("__h"), 8).alias("hub"),
        F.round(F.col("auth") / F.col("__a"), 8).alias("auth"),
    )


def bfs_layers(
    edges_raw: DataFrame,
    sources: DataFrame,
    max_depth: int = 12,
) -> DataFrame:
    """Breadth-first hop distances from a source node set — frontier
    expansion, the Pregel pattern in DataFrames. Returns (node, dist)
    for every node within ``max_depth`` hops (dist = minimum #edges).

    ``edges_raw`` is directed (src, dst); union the reversed edges first
    for undirected traversal. ``sources`` is a (node) DataFrame.

    Plan shape per round: frontier ⋈ edges (equi-join on src, shuffle
    keyed like every other graph op here) → distinct → LEFT ANTI join
    against the settled set — never a driver-side visited set, so the
    frontier stays distributed at any graph size. The loop runs on
    ``iterate_until``: every frontier is a localCheckpoint, filled by
    the round's emptiness count (one job per round), so each
    settled-set union leg and the next round's join input is a flat
    plan LEAF. The frontiers must stay leaves: round d's plan
    references every earlier frontier twice over (settled = ∪f_i, and
    f_d references f_{d-1} AND the union), so over lazy frames the
    analyzed tree would grow ~2^d. Rounds = graph diameter ∧
    max_depth; the per-round cost is one shuffle of the
    frontier×degree expansion, the classic iterative-BFS bound.

    The result is an eager localCheckpoint over the frontier leaves:
    no cache entry outlives the call.
    """
    from functools import reduce

    def union(frames):
        return reduce(lambda a, b: a.unionByName(b), frames)

    # No forcing count: round 1's frontier⋈edges job populates the
    # cache on first use, and every later round reads it.
    edges = (
        edges_raw.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .persist()
    )
    frontiers: list[DataFrame] = []

    def expand(frontier: DataFrame, i: int) -> DataFrame:
        frontiers.append(frontier)
        settled = union(f.select("node") for f in frontiers)
        return (
            frontier.select(F.col("node").alias("src"))
            .join(edges, on="src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled, on="node", how="left_anti")
            .withColumn("dist", F.lit(i + 1))
        )

    # The source frontier is a lazy checkpoint, materialised by the
    # driver's first count: it stays a flat leaf of every later union
    # after the driver unpersists it.
    f0 = sources.select("node").distinct().withColumn("dist", F.lit(0))
    last, _ = iterate_until(
        f0.localCheckpoint(eager=False),
        expand,
        lambda _old, new, _i: new.count() == 0,
        max_iter=max_depth,
    )
    # `last` is the empty frontier that stopped the loop, or the
    # max_depth frontier; a union with the empty one adds no row.
    edges.unpersist(blocking=True)
    return union(frontiers + [last]).localCheckpoint(eager=True)


def kcore_peel(
    edges: DataFrame, k: int = 3, max_rounds: int = 20
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes
    of residual degree < k until stable; return (node, core_degree)
    for the surviving core. The standard graph-curation primitive
    (spam/bot subgraph mining keeps cores; sparsification drops them).

    Scale shape: each round is ONE hash aggregate (degrees, map-side
    combined) + two semi-joins restricting the edge list — all hash
    joins on the shrinking edge set, no Python stages, no collects.
    Convergence is detected DIRECTLY on the new state: the state is a
    fixpoint **iff** every residual node has degree ≥ k (then the next
    peel keeps everything) — one degree-aggregate probe per round that
    fires on the round REACHING the fixpoint and also fills the new
    state's checkpoint (``iterate_until``'s stop-test contract). Rounds
    are bounded by the peeling depth (degeneracy ordering length),
    ~tens on real graphs; a graph that needs > ``max_rounds`` raises
    rather than returning a non-core (the oracle replays exactly
    ``max_rounds`` unrolled peels, and peeling is idempotent at the
    fixpoint, so early convergence stays bit-identical). Each round
    plans from the previous round's checkpoint: a round references its
    input three times, so over lazy frames the logical plan would grow
    geometrically.
    """
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )

    def _peel(state: DataFrame, _i: int) -> DataFrame:
        keep = (
            state.groupBy("u")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= k)
            .select("u")
        )
        return (
            state.join(keep, on="u", how="left_semi")
            .join(keep.withColumnRenamed("u", "v"), on="v", how="left_semi")
            .select("u", "v")
        )

    done: list = [False]

    def _stable(_old: DataFrame, new: DataFrame, _i: int) -> bool:
        # Fixpoint ⟺ no residual node under-degree: count nodes with
        # degree < k in ONE aggregate action (integer-exact; consumes
        # every partition of `new`, so it also fills the round's
        # checkpoint). Empty state is trivially stable (no k-core).
        under = (
            new.groupBy("u")
            .agg(F.count(F.lit(1)).alias("__d"))
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("__d") < k, 1).otherwise(0)), F.lit(0)
                ).alias("__under")
            )
            .first()["__under"]
        )
        done[0] = under == 0
        return done[0]

    final, _ = iterate_until(sym, _peel, _stable, max_iter=max_rounds)
    if not done[0]:
        raise RuntimeError(f"kcore_peel did not converge in {max_rounds} rounds")
    return final.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


# Link-prediction dials, single-sourced with the q202 oracle. The hub
# cap bounds the two-hop expansion: a node of degree d contributes
# C(d,2) candidate pairs when it sits in the middle of a wedge, so the
# join volume is sum(deg^2) over INTERMEDIATE nodes only — capping the
# intermediates at LP_HUB_CAP turns a celebrity hub from a d^2
# blow-up into an excluded middle (its Adamic-Adar term 1/ln(d) is
# ~noise anyway, which is why the cap is standard practice). Endpoint
# degrees are NOT capped — hubs can still be predicted-to, they just
# can't be the wedge pivot.
LP_HUB_CAP = 500
LP_TOPK = 30


def link_prediction_scores(
    edges: DataFrame,
    top: int = LP_TOPK,
    hub_cap: int = LP_HUB_CAP,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph:
    for every non-adjacent pair (a, b) sharing >= 1 neighbor, score
    the missing edge by Adamic-Adar (sum over common neighbors z of
    1/ln(deg(z))), common-neighbor count, and neighborhood Jaccard
    |N(a) and N(b)| / |N(a) or N(b)|; return the ``top`` highest-AA
    candidates.

    ``edges`` is the distinct undirected edge set as (u, v) with
    u < v. Determinism discipline: each AA term is
    portable_round(1/ln(deg), 9) cast to DECIMAL(18,9) before the sum,
    so the aggregate is exact order-independent decimal addition and
    the top-k cut (AA desc, a, b) is a total order both engines
    replay; degree-1 nodes are filtered out of the pivot role BEFORE
    the term (they cannot anchor a wedge, and 1/ln(1) would divide by
    zero under ANSI mode), so ln(deg) > 0 always.

    Plan shape: one degree aggregate, one wedge self-join keyed on the
    pivot (shuffle on z; volume = sum over pivots of deg^2, bounded by
    the hub cap), one pair aggregate, one LEFT ANTI against the edge
    set, two broadcast-sized degree joins, and a TakeOrderedAndProject
    top-k — no global sort, nothing corpus-squared."""
    from ..functions import portable_round

    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # wedge legs: (pivot z, endpoint a, deg(z)); pivots above the hub
    # cap are excluded BEFORE the self-join (the scale dial)
    legs = (
        und.select(F.col("u").alias("z"), F.col("v").alias("a"))
        .join(
            deg.select(F.col("u").alias("z"), "deg").filter(
                (F.col("deg") <= hub_cap) & (F.col("deg") >= 2)
            ),
            on="z",
        )
        .withColumn(
            "__aa_term",
            portable_round(F.lit(1.0) / F.log(F.col("deg")), 9).cast(
                "decimal(18,9)"
            ),
        )
    )
    x = legs.select("z", F.col("a"), "__aa_term")
    y = legs.select(F.col("z").alias("z2"), F.col("a").alias("b"))
    wedges = x.join(
        y, (F.col("z") == F.col("z2")) & (F.col("a") < F.col("b"))
    )
    cand = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("__aa_term").alias("__aa"),
    )
    new_links = cand.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        on=["a", "b"],
        how="left_anti",
    )
    deg_a = deg.select(F.col("u").alias("a"), F.col("deg").alias("__deg_a"))
    deg_b = deg.select(F.col("u").alias("b"), F.col("deg").alias("__deg_b"))
    scored = (
        new_links.join(deg_a, on="a")
        .join(deg_b, on="b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "n_common",
            F.round(F.col("__aa").cast("double"), 6).alias("adamic_adar"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("__deg_a") + F.col("__deg_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            F.col("__aa"),
        )
    )
    return (
        scored.orderBy(F.desc("__aa"), "node_a", "node_b")
        .limit(top)
        .drop("__aa")
    )


# Deterministic-walk dials (q210), single-sourced with the oracle.
WALK_STEPS = 3
WALK_TOPK = 30


def _walk_hash(node, step: int):
    """Portable 60-bit hop hash (md5 — replayable in any SQL engine:
    CAST('0x' || substr(md5('walk:' || u || ':' || s), 1, 15) AS
    BIGINT))."""
    key = F.concat(
        F.lit("walk:"), node.cast("string"), F.lit(f":{step}")
    )
    return F.conv(F.substring(F.md5(key.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def deterministic_walk_pairs(
    edges: DataFrame,
    steps: int = WALK_STEPS,
    top: int = WALK_TOPK,
) -> DataFrame:
    """DeepWalk-style co-occurrence pair generation with DETERMINISTIC
    walks: one walk of ``steps`` hops from every node, next hop from
    node u at step s = the (H(u,s) mod deg(u))-th neighbor in sorted
    order (portable md5 hash — no RNG state, no seed plumbing, and the
    SQL oracle replays every hop exactly). Emitted pairs are the
    skip-gram window-2 co-occurrences over each walk (adjacent +
    one-apart), normalized to unordered (min, max) and counted;
    returns the ``top`` pairs by (count desc, a, b) — the
    training-pair generator for graph embeddings, as a DataFrame plan.

    Scale shape: the hop choice is a pure function of (node, step), so
    each step first reduces the ADJACENCY to a |V|-row next-hop table
    (filter rn == H(u,s) mod deg on the ranked adjacency — no
    per-walk randomness, no adjacency expansion), then advances all
    walks with ONE |V|-vs-|V| equi-join. steps × (one filter + one
    join) total; the pair aggregate is (steps·2-1)·|V| rows; top-k is
    a TakeOrderedAndProject."""
    from pyspark.sql import Window

    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    wadj = Window.partitionBy("u").orderBy("v")
    wdeg = Window.partitionBy("u")
    # The ranked adjacency feeds one next-hop filter per step — persist
    # it (the bfs_layers discipline) so the edge derivation upstream of
    # this operator computes ONCE instead of once per step; the result
    # is eagerly materialized below and every cache released before
    # returning (a registry query must not leak cache entries).
    adj = und.select(
        "u",
        "v",
        (F.row_number().over(wadj) - 1).alias("__rn"),
        F.count(F.lit(1)).over(wdeg).alias("__deg"),
    ).persist()
    walk = adj.select(F.col("u").alias("n0")).distinct()
    cols = ["n0"]
    for s in range(1, steps + 1):
        nxt = adj.filter(
            F.col("__rn") == F.pmod(_walk_hash(F.col("u"), s), F.col("__deg"))
        ).select(
            F.col("u").alias(f"__cur{s}"), F.col("v").alias(f"n{s}")
        )
        walk = walk.join(
            nxt, F.col(f"n{s - 1}") == F.col(f"__cur{s}")
        ).drop(f"__cur{s}")
        cols.append(f"n{s}")
    # skip-gram window 2 (adjacent + one-apart positions) as ONE
    # explode pass over the walk table — a union of per-pair legs
    # would replay the whole walk lineage once per leg (the PLANS
    # sweep caught exactly that: 80 exchanges before this shape)
    pair_cols = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, min(i + 3, len(cols)))
    ]
    pair_structs = [
        F.struct(
            F.least(F.col(a), F.col(b)).alias("node_a"),
            F.greatest(F.col(a), F.col(b)).alias("node_b"),
        )
        for a, b in pair_cols
    ]
    pairs = (
        walk.select(F.explode(F.array(*pair_structs)).alias("__pr"))
        .select("__pr.node_a", "__pr.node_b")
        .filter(F.col("node_a") != F.col("node_b"))
    )
    counts = pairs.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_cooc")
    )
    out = counts.orderBy(F.desc("n_cooc"), "node_a", "node_b").limit(top).persist()
    out.count()
    adj.unpersist(blocking=True)
    return out
