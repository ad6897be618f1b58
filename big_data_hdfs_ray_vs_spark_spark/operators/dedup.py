"""Deduplication operators for training-data pipelines.

All JVM-side (no Python UDFs): hashing is md5/xxhash64, shingling is
array builtins, candidate generation is band-bucket joins. At 100 TB:
- exact dedup is one hash-groupBy (map-side partial agg);
- MinHash-LSH shuffles only (doc_id, band_key) pairs — signature width
  is constant, so the shuffle is O(|docs| · bands), not O(|docs|²);
- pair verification joins only within buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import spread_small_input, whitespace_tokens, word_shingles


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate summary via content hash."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias("n_dupes"),
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative of each exact-content group.

    Implemented as groupBy(hash).min(id) + semi-join back — two shuffles
    on the hash/id keys, no window-over-everything sort."""
    h = F.md5(F.col(text_col)).alias("__h")
    reps = df.select(h, F.col(id_col)).groupBy("__h").agg(F.min(id_col).alias(id_col))
    return df.join(reps, on=id_col, how="left_semi")


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, distinct word-shingle array) projection.

    The shared upstream of both the MinHash signature stage and the
    exact-Jaccard verification stage — compute it once and persist when
    a pipeline consumes it on both paths (see q38), instead of
    re-tokenizing the corpus per stage. Shingling is the CPU-dense
    step, so a small single-split input is spread across cores first
    (no-op at real scale — see functions.spread_small_input)."""
    toks = whitespace_tokens(F.col(text_col))
    return spread_small_input(df).select(
        F.col(id_col), F.array_distinct(word_shingles(toks, shingle_n)).alias("__sh")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 12,
    sets: DataFrame | None = None,
    hash_fn=None,
) -> DataFrame:
    """(id, __s0..__s{num_hashes-1}) minhash signature table — the
    stage minhash_bands bands up, exposed so signature-consuming
    audits (q163's estimator calibration) share the exact pipeline.

    Explodes shingles once and takes the K mins inside one hash
    aggregate (map-side partial agg): each shingle is hashed in a
    single codegen'd pass, instead of K full array traversals per doc.
    """
    if sets is None:
        sets = shingle_sets(df, id_col, text_col, shingle_n)
    ex = sets.select(F.col(id_col), F.explode("__sh").alias("__sh"))
    if hash_fn is None:
        # Portable default: ONE md5 per pair of signature slots. A
        # digest is 128 bits; its two 16-hex-char halves are
        # independent uniform 64-bit keys, so lexicographic min over
        # either half is a valid minhash permutation. Halves the
        # dominant per-shingle md5 cost vs one digest per slot, and
        # any SQL engine replays it bit-exactly:
        #   slot 2d   = substr(md5('s{d}:' || x),  1, 16)
        #   slot 2d+1 = substr(md5('s{d}:' || x), 17, 16)
        # The digests are materialized as projected columns so the
        # sharing is structural, not left to subexpression elimination.
        n_digests = (num_hashes + 1) // 2
        proj = ex.select(
            F.col(id_col),
            *[
                F.md5(F.concat(F.lit(f"s{d}:"), F.col("__sh")).cast("binary")).alias(
                    f"__d{d}"
                )
                for d in range(n_digests)
            ],
        )
        return proj.groupBy(id_col).agg(
            *[
                F.min(
                    F.substring(F.col(f"__d{s // 2}"), 1 + 16 * (s % 2), 16)
                ).alias(f"__s{s}")
                for s in range(num_hashes)
            ]
        )
    return ex.groupBy(id_col).agg(
        *[
            F.min(hash_fn(F.col("__sh"), i)).alias(f"__s{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    sets: DataFrame | None = None,
    hash_fn=None,
) -> DataFrame:
    """(id, band, band_key) table for LSH bucketing.

    Signature atom = lexicographic min over salted hash values of word
    shingles. The default ``hash_fn`` is the salted-md5 permutation
    (exactly reproducible in any SQL engine — the DuckDB oracle runs
    the same formula, two 16-hex-char slots per digest); production
    swaps in a faster native hash, e.g.
    ``lambda c, i: F.xxhash64(F.lit(i), c)``, trading SQL replayability
    for a smaller per-shingle constant (SCALING.md). Bands
    concatenate `rows_per_band` signature slots. Pass a (persisted)
    ``sets`` from :func:`shingle_sets` to share the shingle pass with a
    downstream verification stage.
    """
    assert num_hashes % rows_per_band == 0
    sig = minhash_signatures(
        df, id_col, text_col, shingle_n, num_hashes, sets=sets, hash_fn=hash_fn
    )
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[F.col(f"__s{b * rows_per_band + r}") for r in range(rows_per_band)],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket — the LSH
    candidate set. The self-join is per (band, band_key) bucket only."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    reuse: bool = True,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate (id_a, id_b) pairs.

    Verification stage after LSH: explode each side's distinct shingle
    set, count intersections with a join, derive |union| = |A|+|B|-|∩|.

    ``reuse`` persists the shingle-set projection and the pair set
    (MEMORY_AND_DISK): the plan references each subtree twice (both join
    sides / the left-join base), and Spark re-executes unpersisted
    subtrees per reference — at corpus scale that is 4 extra scans plus
    re-shingling, far costlier than one spill-safe materialization.
    A caller-provided (already persisted) ``sets`` is used as-is.
    """
    caller_sets = sets is not None
    if not caller_sets:
        sets = shingle_sets(df, id_col, text_col, shingle_n)
    if reuse:
        from pyspark import StorageLevel

        if not caller_sets:
            sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    withsizes = _pair_intersection(sets, pairs, id_col)
    union = F.col("__na") + F.col("__nb") - F.col("__inter")
    # union == 0 only when BOTH docs have zero shingles (empty/null
    # bodies): jaccard is undefined there — call it 0.0 (no shingle
    # evidence of similarity; identical empty bodies are exact-dedup's
    # job) instead of letting ANSI mode abort the job on 0/0.
    return withsizes.select(
        "id_a",
        "id_b",
        F.when(union > 0, F.col("__inter").cast("double") / union)
        .otherwise(0.0)
        .alias("jaccard"),
    )


def _pair_intersection(sets: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Shared verification core of the jaccard/containment pair ops:
    for each candidate (id_a, id_b) attach |A∩B| (``__inter``, 0 when
    empty), |A| (``__na``) and |B| (``__nb``). The intersection is an
    equi-join on the composite (id, shingle) key BOTH times — a hash
    join confined to the candidate pairs, never a per-pair shingle
    cross product."""
    sizes = sets.select(id_col, F.size("__sh").alias("__n"))
    exploded = sets.select(id_col, F.explode("__sh").alias("__s"))
    inter = (
        pairs.join(exploded.withColumnRenamed(id_col, "id_a"), on="id_a")
        .join(exploded.withColumnRenamed(id_col, "id_b"), on=["id_b", "__s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        pairs.join(inter, on=["id_a", "id_b"], how="left")
        .join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__n", "__na"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__n", "__nb"), "id_b")
        .withColumn("__inter", F.coalesce(F.col("__inter"), F.lit(0)))
    )


def ngram_containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Directional n-gram containment for candidate (id_a, id_b) pairs:
    containment_a = |A∩B| / |A|, containment_b = |A∩B| / |B|.

    The quote/near-superset detector Jaccard misses: a short document
    fully embedded in a long one has high containment on the short side
    but low Jaccard (the union is dominated by the long side) — the
    common shape of boilerplate wrappers, quote chains and doc
    concatenations in training corpora. Same scale story as
    :func:`ngram_jaccard_pairs`: the intersection is a composite-key
    equi-join confined to the candidate pairs, never a per-pair shingle
    cross product. Pass a persisted ``sets`` from :func:`shingle_sets`
    to share the shingle pass with the LSH candidate stage.
    """
    from pyspark import StorageLevel

    caller_sets = sets is not None
    if not caller_sets:
        sets = shingle_sets(df, id_col, text_col, shingle_n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    withsizes = _pair_intersection(sets, pairs, id_col)
    # LSH candidates never include zero-shingle docs (no bands), but a
    # caller-provided pair list may: containment of an empty set is
    # 0.0, not an ANSI divide-by-zero abort.
    return withsizes.select(
        "id_a",
        "id_b",
        F.when(F.col("__na") > 0, F.col("__inter").cast("double") / F.col("__na"))
        .otherwise(0.0)
        .alias("containment_a"),
        F.when(F.col("__nb") > 0, F.col("__inter").cast("double") / F.col("__nb"))
        .otherwise(0.0)
        .alias("containment_b"),
    )


DUP_CLUSTER_SCHEMA = "doc_id long, cluster long, cluster_size long, is_rep boolean"

# dup_clusters' size classes, by pair count: one union-find task up to
# the first, partition-wise union-find up to the second (the union-find
# ceiling), cc_two_star above it.
SINGLE_TASK_MAX_EDGES = 100_000
UNIONFIND_MAX_EDGES = 10_000_000


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs into connected components (dup clusters).

    The endgame of fuzzy dedup: pair lists (LSH + verification) must be
    grouped into clusters so one representative per cluster survives.
    Returns (doc_id, cluster, cluster_size, is_rep): cluster is the min
    doc_id of the component; is_rep elects that doc as the keeper.

    One dispatcher over one strategy per size class, keyed on the
    measured pair count — the pair graph is orders of magnitude smaller
    than the corpus that produced it, so even a 100 TB corpus dedup
    usually lands on a union-find path. Every class returns the same
    clustering:

    - ``<= SINGLE_TASK_MAX_EDGES``: SINGLE-PASS union-find — coalesce
      the whole (tiny) pair graph into one task and run union-find
      once. At this size the partition-wise pre-pass below costs more
      in fixed overhead (a second Python-worker stage across every
      partition) than it saves in parallelism.
    - ``<= UNIONFIND_MAX_EDGES``: PARTITION-WISE union-find — every
      partition runs union-find over its own edges in parallel and
      emits only its local spanning forest (node → local root, ≤ one
      edge per node), then one merge task unions the ≤|V| spanning
      edges into final components. A spanning forest keeps every
      partition-local connection and every node, so the result equals
      a single global union-find, while the serial task sees ≤|V|
      edges instead of all |E|. No driver collect either way.
    - larger: ``cc_two_star``, all-DataFrame, O(log²) rounds whatever
      the component diameter.

    SIDE EFFECT: the pair graph is persisted (it feeds both the
    strategy-choosing count and the clustering itself) and stays
    cached after return — the result consumes it lazily, so it cannot
    be released here. Long-lived-session callers own the cleanup
    (``spark.catalog.clearCache()``); the bench/gate harnesses clear
    between queries.
    """
    pairs = pairs.select("id_a", "id_b").persist()
    n_pairs = pairs.count()
    if n_pairs > UNIONFIND_MAX_EDGES:
        return cc_two_star(pairs)
    if n_pairs > SINGLE_TASK_MAX_EDGES:
        # stage 1 (parallel, one task per partition): local spanning
        # forests; stage 2 (one task, ≤|V| edges): the global merge
        pairs = pairs.mapInPandas(_unionfind_spanning, "id_a long, id_b long")
    return pairs.coalesce(1).mapInPandas(_unionfind_partition, DUP_CLUSTER_SCHEMA)


def _union_find(batches) -> dict:
    """node → component root over every (id_a, id_b) edge in the
    pandas ``batches``; the root is the component's min id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {node: find(node) for node in parent}


def _unionfind_spanning(batches):
    """ONE partition's spanning forest as (node, local_min_root) edges
    — at most one edge per distinct node, so the downstream single-task
    merge is |V|-bounded however many edges the partition held.
    Connectivity-exact: x ~ y within the partition ⟺ they share a
    local root ⟺ the emitted star edges connect them."""
    import pandas as pd

    label = _union_find(batches)
    yield pd.DataFrame({"id_a": list(label), "id_b": list(label.values())})


def _unionfind_partition(batches):
    """The min-id-labeled components of one partition's edges, with
    sizes and representatives (the ``DUP_CLUSTER_SCHEMA`` rows)."""
    from collections import Counter

    import pandas as pd

    label = _union_find(batches)
    sizes = Counter(label.values())
    yield pd.DataFrame(
        {
            "doc_id": list(label.keys()),
            "cluster": list(label.values()),
            "cluster_size": [sizes[r] for r in label.values()],
            "is_rep": [n == r for n, r in label.items()],
        }
    )


def cc_two_star(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — ``dup_clusters``' path above the union-find ceiling:
    100% DataFrame ops (two groupBy-min + two joins per round, no
    Python stage at all, not even the partition-wise union-find's
    Arrow hop), converging in O(log²) rounds independent of component
    diameter, so one chain-shaped dup cluster in a 100 TB corpus does
    not stall the scheduler. Output schema and semantics are identical
    to the union-find paths (min-id cluster label, sizes,
    representative election), so the q38 oracle replays it verbatim.

    Per round, on the symmetric edge list E:
    - large-star: for each node u, link every HIGHER neighbor v > u to
      m(u) = min(Γ(u) ∪ {u}) — long chains collapse toward minima;
    - small-star: orient edges (max→min), link every (lower) neighbor
      and u itself to m(u) — stars re-center on the true minimum.
    Both conserve connectivity; the fixpoint is a star forest rooted
    at each component's min id. Convergence is detected DIRECTLY on
    the new state: every state edge satisfies u > v by construction,
    and a max→min-oriented edge set is a two-star fixpoint **iff** it
    is a star forest — (1) every source has exactly one outgoing edge
    (count == distinct sources) and (2) no target is itself a source
    (|sources ∪ targets| == |sources| + |targets|); any such forest
    maps to itself under both star operations (centers are their
    stars' minima because every edge points downward). The probe
    fires on the round that REACHES the fixpoint, and is ONE action
    that also forces the new state (the
    ``iterate_until(stop_forces=True)`` contract). Not converging
    within ``max_iter`` rounds raises instead of returning a
    non-fixpoint labeling.
    """

    def _star_round(edges: DataFrame, _i: int) -> DataFrame:
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = sym.groupBy("u").agg(F.min("v").alias("__mv"))
        large = (
            sym.join(lmin, on="u")
            .withColumn("__m", F.least("__mv", "u"))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        )
        # small-star input: (max → min) orientation of large's output
        dir_ = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        smin = dir_.groupBy("u").agg(F.min("v").alias("__m"))
        linked = dir_.join(smin, on="u").select(F.col("v").alias("u"), F.col("__m").alias("v"))
        centers = smin.select("u", F.col("__m").alias("v"))
        return (
            linked.union(centers).filter(F.col("u") != F.col("v")).distinct()
        )

    from ..plans.iterate import iterate_until

    edges0 = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    done: list = [False]

    def _stable(_old: DataFrame, new: DataFrame, _i: int) -> bool:
        # Star-forest test (see docstring): one action over the new
        # state — a flat (count, distinct-source, distinct-target)
        # aggregate crossJoined with the distinct-node count of the
        # source∪target union. All integer-exact; consumes every
        # partition of `new`, so it doubles as the forcing action.
        stats = (
            new.agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.count_distinct("u").alias("__cu"),
                F.count_distinct("v").alias("__cv"),
            )
            .crossJoin(
                new.select(F.col("u").alias("n"))
                .union(new.select(F.col("v").alias("n")))
                .distinct()
                .agg(F.count(F.lit(1)).alias("__cn"))
            )
            .first()
        )
        done[0] = (
            stats["__cnt"] == stats["__cu"]
            and stats["__cn"] == stats["__cu"] + stats["__cv"]
        )
        return done[0]

    # checkpoint_every=1: one two-star round references its input state
    # ~8× (sym = E ∪ swap(E), then both star joins re-read it), so the
    # LOGICAL plan grows ~8× per round even though the state is
    # persisted — analysis/optimizer time explodes exponentially by
    # round 3 without per-round lineage truncation. The state is the
    # pair graph (corpus-⁻² sized), so a localCheckpoint per round
    # costs one tiny write and buys a constant-size plan.
    final, _ = iterate_until(
        edges0,
        _star_round,
        _stable,
        max_iter=max_iter,
        checkpoint_every=1,
        stop_forces=True,
    )
    if not done[0]:
        raise RuntimeError(f"cc_two_star did not converge in {max_iter} rounds")
    # fixpoint edges are (node → component min) for every non-root node
    assign = final.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster"))
    roots = (
        final.select(F.col("v").alias("doc_id"))
        .distinct()
        .join(assign.select("doc_id"), on="doc_id", how="left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster"))
    )
    cc = assign.union(roots)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, on="cluster").select(
        "doc_id",
        "cluster",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster")).alias("is_rep"),
    )


def incremental_dedup_flags(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    threshold: float = 0.8,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without touching
    the corpus — the steady-state shape of production dedup, where the
    corpus was deduped once and each ingest increment must only answer
    "is this new doc a (near-)copy of anything we already have?".

    Returns one audit row per batch doc: (id, exact_dup, near_dup,
    kept). exact_dup = content hash already present in the corpus;
    near_dup = some corpus doc verifies at n-gram Jaccard >= threshold
    among the MinHash-LSH candidates; kept = neither.

    Scale shape: the corpus side contributes ONE hash projection and
    ONE band table — both are the persistent index a pipeline maintains
    incrementally (pass ``corpus_bands`` to reuse it instead of
    re-signing the corpus per batch; sources/layout.py can keep it
    band-partitioned so the candidate join prunes to the batch's
    buckets). The candidate join is batch-bands × corpus-bands per
    bucket — never batch × corpus. Ids must be disjoint across the two
    inputs (they share the verification frame).
    """
    from pyspark import StorageLevel

    bh = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
    ch = (
        corpus.select(F.md5(F.col(text_col)).alias("__h"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    exact = bh.join(ch, on="__h", how="left").select(
        id_col, F.coalesce("__seen", F.lit(False)).alias("exact_dup")
    )
    # ONE shingle pass over batch∪corpus, persisted and shared by the
    # signature stage (both sides) and the verification stage; the
    # candidate set is materialized before verification. Without these
    # the single output action would re-evaluate the shingle/band
    # subtrees once per downstream reference (measured 31 s → 13 s at
    # the 5k-doc tier).
    union_docs = batch.select(id_col, text_col).unionByName(
        corpus.select(id_col, text_col)
    )
    sets_u = shingle_sets(union_docs, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    batch_ids = batch.select(id_col)
    b_bands = minhash_bands(
        batch, id_col, text_col, shingle_n, num_hashes, rows_per_band,
        sets=sets_u.join(batch_ids, on=id_col, how="left_semi"),
    )
    c_bands = (
        corpus_bands
        if corpus_bands is not None
        else minhash_bands(
            corpus, id_col, text_col, shingle_n, num_hashes, rows_per_band,
            sets=sets_u.join(batch_ids, on=id_col, how="left_anti"),
        )
    )
    cand = (
        b_bands.alias("a")
        .join(
            c_bands.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand.count()
    sims = ngram_jaccard_pairs(
        union_docs, cand, id_col, text_col, shingle_n, sets=sets_u
    )
    near = (
        sims.filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    return exact.join(near, on=id_col, how="left").select(
        id_col,
        "exact_dup",
        F.coalesce("__near", F.lit(False)).alias("near_dup"),
        (
            ~F.col("exact_dup") & ~F.coalesce("__near", F.lit(False))
        ).alias("kept"),
    )


def md5_hash60(t):
    """Portable 60-bit token hash: first 15 hex chars of md5, parsed as
    an unsigned integer. Slower than xxhash64 (no codegen'd native
    hash) but exactly replayable in any SQL engine — DuckDB spells it
    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10).cast("long")


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, JVM-side.

    Per token: ``token_hash`` (default xxhash64 — fastest; pass
    ``md5_hash60`` for cross-engine-replayable hashes) gives the bit
    source; per bit position accumulate +1/-1; sign of the sum sets the
    output bit. Implemented with bitwise builtins over an exploded token
    table, aggregated per doc — one shuffle on doc_id, constant state
    per doc.
    """
    toks = spread_small_input(df).select(
        F.col(id_col), F.explode(whitespace_tokens(F.col(text_col))).alias("__t")
    )
    h = F.xxhash64("__t") if token_hash is None else token_hash(F.col("__t"))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    votes = toks.groupBy(id_col).agg(*bit_votes)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded bit blocks.

    Pigeonhole: distance ≤ d touches at most d blocks, so with
    n_blocks ≥ d+1 at least one block matches exactly — full recall.
    The block count adapts to max_hamming (4×16-bit for d≤3, 8×8-bit
    for d≤7, 16×4-bit for d≤15); narrower keys mean bigger buckets,
    so the bucket join grows as the distance bound loosens — the
    standard recall/cost dial. Never an all-pairs join."""
    if not 0 <= max_hamming <= 15:
        raise ValueError("max_hamming must be in [0, 15] for 64-bit banded blocks")
    n_blocks = next(n for n in (4, 8, 16) if n > max_hamming)
    width = 64 // n_blocks
    mask = (1 << width) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for b in range(n_blocks)
        ]
    )
    banded = sim.select(id_col, "simhash", F.explode(blocks).alias("bk")).select(
        F.col(id_col), "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.key") == F.col("b.key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 5,
) -> DataFrame:
    """Cross-document segment-level exact dedup with document rebuild —
    the C4/CCNet "duplicate line removal" step, on fixed ``seg_words``-
    token segments (the testdata corpus has no newline structure, so
    segment boundaries are token-quantized; with natural text, split on
    lines and the rest of the operator is unchanged).

    Every segment keeps exactly its FIRST occurrence corpus-wide (min
    (doc_id, pos) wins — deterministic, layout-independent) and all
    later copies are dropped; each document's text is rebuilt from its
    surviving segments in order. Returns
    (id_col, clean_text, n_segments, n_removed).

    Plan shape: segments explode narrowly from one corpus scan; the
    first-occurrence election is ONE window over the segment text (a
    single hash shuffle; a viral segment is a hot key — AQE skew-join
    handles the sort spill, and the window state is one row); rebuild
    is one groupBy(id) with collect_list — shuffle is bounded by the
    surviving segment stream. Nothing is O(n²) and no driver state.

    Identity precondition: the rebuild groups by ``id_col``, so a
    corpus with COLLIDING ids would merge two documents' surviving
    segments into one nondeterministically interleaved row. Colliding
    ids therefore resolve to ONE row per id first — min md5(text)
    wins (deterministic, layout-independent; identical texts are
    interchangeable). One id-keyed window, absorbed by the operator's
    own shuffles; the q77 oracle replays the same election.
    """
    wdoc = Window.partitionBy(id_col).orderBy(
        F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    docs = (
        docs.withColumn("__dup_rn", F.row_number().over(wdoc))
        .filter(F.col("__dup_rn") == 1)
        .drop("__dup_rn")
    )
    toks = whitespace_tokens(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(seg_words)).cast("int")
    segs = docs.select(
        F.col(id_col),
        # Guard the empty doc: sequence(0, -1) would run DESCENDING.
        F.explode(
            F.when(n_segs > 0, F.sequence(F.lit(0), n_segs - 1)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
        toks.alias("__toks"),
    ).select(
        id_col,
        "pos",
        F.array_join(
            F.slice("__toks", F.col("pos") * seg_words + 1, seg_words), " "
        ).alias("seg"),
    )
    w = Window.partitionBy("seg").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    marked = segs.withColumn("__rn", F.row_number().over(w))
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__rn") == 1, F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("__rn") > 1).cast("long")).alias("n_removed"),
        )
    )


def blocked_name_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col: str | None = None,
    max_dist: int = 1,
) -> DataFrame:
    """Record linkage / entity resolution by edit distance, with
    deletion-neighborhood blocking (the SymSpell scheme): each name
    emits itself plus every single-character-deletion variant; two
    names within edit distance 1 necessarily SHARE a variant
    (substitution at i → both drop position i; insert/delete → the
    shorter string is itself a variant of the longer). Candidates are
    an equi-join on (block, variant); exact ``levenshtein`` (JVM
    codegen) then verifies ``<= max_dist``.

    Why not prefix/half blocking: uniform identifier formats
    ("Customer#0001...") make any fixed substring a CONSTANT, collapsing
    the corpus into one bucket and the join into a cross product
    (measured 24x growth on 10x data). Deletion variants inflate rows
    by |name|+1 — linear — while buckets stay the size of a real edit
    neighborhood. Full recall for max_dist=1; larger distances need
    multi-deletion neighborhoods (cost |name|^d) or n-gram LSH (q17).
    Returns (id_a, id_b, name_a, name_b, distance).
    """
    # i = 0 keeps the name itself; i >= 1 deletes character i.
    nm = F.col("__name")
    variant = F.when(F.col("__i") == 0, nm).otherwise(
        F.concat(
            nm.substr(F.lit(1), F.col("__i") - 1),
            nm.substr(F.col("__i") + 1, F.length(nm)),
        )
    )
    blocked = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(name_col).alias("__name"),
            (F.col(block_col) if block_col else F.lit(0)).alias("__blk"),
            F.explode(F.sequence(F.lit(0), F.length(name_col))).alias("__i"),
        )
        .select("__id", "__name", "__blk", variant.alias("__v"))
        .distinct()
    )
    a = blocked.select(
        F.col("__id").alias("__id_a"), F.col("__name").alias("__name_a"),
        F.col("__blk").alias("__blk_a"), F.col("__v").alias("__v_a"),
    )
    b = blocked.select(
        F.col("__id").alias("__id_b"), F.col("__name").alias("__name_b"),
        F.col("__blk").alias("__blk_b"), F.col("__v").alias("__v_b"),
    )
    cand = (
        a.join(
            b,
            on=[
                F.col("__blk_a") == F.col("__blk_b"),
                F.col("__v_a") == F.col("__v_b"),
                F.col("__id_a") < F.col("__id_b"),
            ],
        )
        .select("__id_a", "__id_b", "__name_a", "__name_b")
        .distinct()
    )
    dist = F.levenshtein("__name_a", "__name_b")
    return (
        cand.select(
            F.col("__id_a").alias("id_a"),
            F.col("__id_b").alias("id_b"),
            F.col("__name_a").alias("name_a"),
            F.col("__name_b").alias("name_b"),
            dist.alias("distance"),
        )
        .filter(F.col("distance") <= max_dist)
    )


def minhash_group_similarity(
    elements: DataFrame,
    group_col: str = "source",
    element_col: str = "term",
    num_hashes: int = 12,
) -> DataFrame:
    """Group-level set similarity via MinHash signatures — the
    "how much do these SLICES overlap" scan (source↔source, domain↔
    domain, shard↔shard) that doc-level dedup cannot answer: each
    group's element SET (typically its distinct vocabulary) collapses
    to a ``num_hashes``-slot signature, and every group pair's Jaccard
    is estimated as the fraction of agreeing slots.

    Same portable signature atom as minhash_bands (one salted md5 per
    TWO slots, lexicographic min over the 16-hex-char halves —
    oracles._minhash_cte's recipe), so the DuckDB oracle replays it
    bit-exactly. Scale shape: one hash aggregate collapses the
    (group, element) table to |groups| signature rows; the pairwise
    comparison is a |groups|² self-join of that TINY table (groups =
    sources/domains, thousands at most — never corpus rows). NULL
    groups are excluded (no identity, no slice).

    Returns (group_a, group_b, est_jaccard 6dp, n_slots) for a < b.
    """
    ex = elements.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("g"), F.col(element_col).alias("e")
    )
    n_digests = (num_hashes + 1) // 2
    proj = ex.select(
        "g",
        *[
            F.md5(F.concat(F.lit(f"s{d}:"), F.col("e")).cast("binary")).alias(
                f"__d{d}"
            )
            for d in range(n_digests)
        ],
    )
    sig = proj.groupBy("g").agg(
        *[
            F.min(F.substring(F.col(f"__d{s // 2}"), 1 + 16 * (s % 2), 16)).alias(
                f"__s{s}"
            )
            for s in range(num_hashes)
        ]
    )
    a = sig.select(
        F.col("g").alias("group_a"), *[F.col(f"__s{s}").alias(f"__a{s}") for s in range(num_hashes)]
    )
    b = sig.select(
        F.col("g").alias("group_b"), *[F.col(f"__s{s}").alias(f"__b{s}") for s in range(num_hashes)]
    )
    matches = sum(
        F.when(F.col(f"__a{s}") == F.col(f"__b{s}"), 1).otherwise(0)
        for s in range(num_hashes)
    )
    return (
        a.join(b, F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            F.round(matches / F.lit(float(num_hashes)), 6).alias("est_jaccard"),
            F.lit(num_hashes).alias("n_slots"),
        )
    )


# Memorization-audit defaults — single-sourced with the q136 oracle.
NOVELTY_SHINGLE_N = 5
NOVELTY_DUP_THRESHOLD = 0.5


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = NOVELTY_SHINGLE_N,
    threshold: float = NOVELTY_DUP_THRESHOLD,
) -> DataFrame:
    """Per-document n-gram novelty / memorization audit: what fraction
    of a document's distinct word n-grams also appear in at least one
    OTHER place in the corpus? High dup_rate documents are boilerplate,
    templates, or near-copies that exact- and MinHash-dedup can miss
    when the duplication is fragmentary — the duplication-rate lens
    used to audit training corpora for memorization risk.

    Semantics: shingles are the word_shingles family's distinct
    n-grams (whole-text fallback for 1..n-1 tokens, ZERO shingles for
    empty bodies); a doc's shingle counts as duplicated when its
    corpus-wide DOCUMENT frequency is ≥ 2 (distinct-per-doc first, so
    within-doc repetition — q53's job — cannot inflate it).

    Scale shape: one tokenize→shingle explode, a shingle-keyed hash
    aggregate for document frequency, a join that REUSES the same
    shingle exchange (the tfidf pattern), and a per-doc aggregate.
    The shingle table is corpus-sized, but every stage is a plain
    hash shuffle on the shingle key — no windows, no all-pairs.

    Returns (id, n_shingles, n_duplicated, dup_rate 6dp, is_memorized)
    for EVERY input row; zero-shingle docs read (0, 0, 0.0, false).
    The flag compares the ROUNDED rate (engine-identical cut).
    """
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    sh = spread_small_input(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(toks, n))).alias("__sh"),
    )
    dft = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    per = (
        sh.join(dft, "__sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_sh"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0)).alias("__n_dup"),
        )
    )
    rate = F.round(
        F.when(
            F.col("__n_sh") > 0,
            F.col("__n_dup").cast("double") / F.col("__n_sh").cast("double"),
        ).otherwise(0.0),
        6,
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("__n_sh", F.lit(0)).alias("n_shingles"),
            F.coalesce("__n_dup", F.lit(0)).alias("n_duplicated"),
            rate.alias("dup_rate"),
            (rate > F.lit(threshold)).alias("is_memorized"),
        )
    )


# ExactSubstr span length: Lee et al. 2022 ("Deduplicating Training
# Data Makes Language Models Better") uses 50 BPE tokens in
# production; the registry query runs at 15 whitespace tokens so the
# sf0.01 corpus (short synthetic docs) actually exercises removals.
EXACT_SUBSTR_MIN_RUN = 15


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = EXACT_SUBSTR_MIN_RUN,
    prefilter: bool = False,
) -> DataFrame:
    """ExactSubstr-style substring dedup (Lee et al. 2022): REMOVE (not
    just flag) every duplicated span of >= ``min_run`` consecutive
    tokens corpus-wide, keeping each span's first occurrence. This
    completes the dedup family: exact_dedup drops whole duplicate
    documents, minhash/simhash drop near-duplicate documents,
    segment_dedup drops duplicated FIXED segments, ngram_novelty flags
    fragmentary duplication — this op excises arbitrary-offset
    duplicated runs and rebuilds the surviving text.

    Semantics (deterministic, engine-replayable):
      * every position p in a doc starts a ``min_run``-token window
        (sliding, stride 1 — unlike segment_dedup's quantized grid);
      * a window is a DUPLICATE OCCURRENCE iff the same token run
        appears at >= 2 (doc, position) sites corpus-wide and this
        site is not the first (min (doc_id, p) — the segment_dedup
        election, layout-independent);
      * token i is removed iff ANY duplicate-occurrence window covers
        it (the union of duplicate windows = the maximal duplicated
        runs of length >= min_run, minus their first occurrences);
      * output per input doc: (id_col, n_tokens, n_removed,
        clean_text) with the survivors rejoined in order. A zero-token
        doc reads (0, 0, '') — no body, nothing to dedup.

    Plan shape: windows explode narrowly from one corpus scan (one row
    per token position, each carrying the 32-hex md5 of its run — the
    run TEXT never travels); the first-occurrence election is ONE
    window over the run hash (single hash shuffle; viral runs are hot
    keys — AQE skew handling, state is one row); duplicate positions
    fold back per doc through one groupBy (bounded by tokens-per-doc),
    and the token filter is a pure-codegen array op. Nothing is O(n²),
    no driver state.

    ``prefilter=True`` (the 100 TB path this docstring used to only
    promise — r7): a partial-aggregated count per run hash elects the
    multi-occurrence hashes FIRST, and only their occurrence rows enter
    the rank election. Identical result — a singleton run is always
    rank 1 and the election keeps only ``rank > 1`` rows — but the
    count shuffle carries one (hash, partial-count) row per distinct
    hash per map partition (map-side combine) instead of every
    occurrence row, and with real-corpus duplicate rates the surviving
    hash set is small enough that AQE converts the occ⋈hot join to a
    broadcast — the full occurrence stream then never shuffles at all.
    Default stays False: at gate SF the extra stage costs more than it
    saves, and the single-window plan is the one the oracle replays
    structurally.

    Identity precondition: same as segment_dedup — colliding ids
    resolve to ONE row per id first (min md5(text) wins).
    """
    wdoc = Window.partitionBy(id_col).orderBy(
        F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    docs = (
        docs.withColumn("__dup_rn", F.row_number().over(wdoc))
        .filter(F.col("__dup_rn") == 1)
        .drop("__dup_rn")
    )
    base = docs.select(F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    # one row per window start p = 1..n-min_run+1; the run rides as md5
    occ = base.select(
        id_col,
        F.explode(
            F.when(
                n >= min_run, F.sequence(F.lit(1), n - F.lit(min_run - 1))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
        F.col("__toks"),
    ).select(
        id_col,
        "p",
        F.md5(F.array_join(F.slice("__toks", F.col("p"), min_run), " ")).alias("__h"),
    )
    if prefilter:
        # partial-aggregated count per run hash; only multi-occurrence
        # hashes reach the rank election (a singleton is always rank 1
        # and would be dropped by the __rn > 1 filter anyway)
        hot = (
            occ.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") >= 2)
            .select("__h")
        )
        occ = occ.join(hot, "__h")
    welect = Window.partitionBy("__h").orderBy(F.col(id_col).asc(), F.col("p").asc())
    dup_pos = (
        occ.withColumn("__rn", F.row_number().over(welect))
        .filter(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_list("p").alias("__dups"))
    )
    dups = F.coalesce(F.col("__dups"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__toks"),
        lambda tok, i: ~F.exists(
            dups, lambda p: (p <= i + 1) & (i + 1 <= p + F.lit(min_run - 1))
        ),
    )
    return base.join(dup_pos, id_col, "left").select(
        id_col,
        n.alias("n_tokens"),
        (n - F.size(kept)).alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Robust winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS algorithm): hash every token k-gram,
    slide a window of ``w`` consecutive k-gram hashes, and select the
    window minimum (rightmost on ties). The guarantee: any shared run
    of at least w+k-1 tokens between two documents produces at least
    one shared selected fingerprint, at an expected density of
    2/(w+1) — the cheap fuzzy-SUBSTRING dup detector that sits between
    MinHash (whole-doc similarity) and ExactSubstr (exact run removal).

    Plan shape, all JVM-side: one scan tokenizes and explodes k-grams
    to (doc, pos, hash) rows; ONE doc-partitioned ordered window (doc-
    bounded partitions — never corpus-scale) computes the per-window
    selection via a fixed-width sort key (15 lowercase md5 hex chars of
    the gram || zero-padded (999999999 - pos)), whose lexicographic MIN is
    exactly (min hash, rightmost position); a per-doc distinct yields
    the fingerprint set. No joins, no corpus-wide shuffle beyond the
    doc-keyed dedup.

    Returns (id_col, fp) — one row per distinct selected fingerprint
    (the 15-hex-char gram digest) per document.
    """
    if k < 1 or w < 1:
        raise ValueError("winnow: k and w must be >= 1")
    toks = spread_small_input(df).select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__t")
    )
    grams = toks.filter(F.size("__t") >= k + w - 1).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice("__t", i, k)),
            )
        ).alias("__pos", "__gram"),
    )
    # Fixed-width portable sort key: min() = (min hash, rightmost pos).
    # 999,999,999 bounds per-doc gram positions (a ~4 GB single doc —
    # far past any real document); the greatest(0, ·) clamp keeps the
    # component non-negative and the lpad width static even past the
    # bound, so a pathological doc degrades to hash-only tie-break
    # instead of corrupting the window-min ordering with a negative
    # variable-width string (r7-advice).
    key = F.concat(
        F.substring(
            F.md5(F.concat(F.lit("win:"), F.col("__gram")).cast("binary")), 1, 15
        ),
        F.lpad(
            F.greatest(F.lit(0), F.lit(999_999_999) - F.col("__pos")).cast("string"),
            9,
            "0",
        ),
    )
    wspec = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        grams.select(
            F.col(id_col),
            F.col("__pos"),
            F.min(key).over(wspec).alias("__sel"),
            F.lead("__pos", w - 1).over(
                Window.partitionBy(id_col).orderBy("__pos")
            ).alias("__valid"),
        )
        # valid window starts only: w k-gram hashes must exist
        .filter(F.col("__valid").isNotNull())
    )
    return sel.select(
        F.col(id_col), F.substring("__sel", 1, 15).alias("fp")
    ).distinct()


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints — the MOSS overlap
    report. Join the per-doc fingerprint sets on the fingerprint value,
    count shared fingerprints per pair, and score a fingerprint-set
    jaccard. ``max_df`` drops fingerprints present in more than that
    many documents before the self-join (boilerplate digests are the
    skew axis — a fingerprint in f docs contributes f² pair rows;
    winnowed exact-dup clusters stay well under any sane cutoff, and
    the df-filter is the standard MOSS "ignore common code" dial).

    Scale: the self-join is keyed on the fingerprint value after the
    df-cutoff, so a key contributes at most max_df² rows; per-doc
    fingerprint counts ride a broadcast-joined dictionary aggregate.

    Returns (id_a, id_b, shared_fp, n_fp_a, n_fp_b, fp_jaccard) for
    pairs with shared_fp >= min_shared.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w).persist()
    per_doc = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nfp"))
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .select("fp")
    )
    pruned = fps.join(rare, "fp")
    a = pruned.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("fp"), F.col(id_col).alias("id_b"))
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
    na = per_doc.select(F.col(id_col).alias("id_a"), F.col("__nfp").alias("n_fp_a"))
    nb = per_doc.select(F.col(id_col).alias("id_b"), F.col("__nfp").alias("n_fp_b"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_fp",
            "n_fp_a",
            "n_fp_b",
            F.round(
                F.col("shared_fp").cast("double")
                / (F.col("n_fp_a") + F.col("n_fp_b") - F.col("shared_fp")),
                6,
            ).alias("fp_jaccard"),
        )
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 2,
) -> DataFrame:
    """MinHash estimator-quality audit: over the LSH candidate pairs,
    compare the SIGNATURE-estimated Jaccard (fraction of equal
    signature slots — the unbiased minhash estimator) against the
    exact shingle Jaccard, binned by the exact value — the "is K
    hashes enough, is my banding biased" dial (the retrieval-quality
    counterpart of q142's PQ recall: sketch → candidates → how good
    was the sketch). Candidate-bounded throughout: signatures join
    only inside the candidate pair list; the per-pair slot-agreement
    count is an exact integer, and each bin's mean estimate is the
    integer match total / (K · n_pairs) — one division, no
    float-accumulation ambiguity for the oracle to disagree with.

    Returns (jacc_bin, n_pairs, avg_est, avg_exact): bins are exact
    Jaccard deciles (0.0..0.9, top-inclusive).
    """
    sets = shingle_sets(df, id_col, text_col, shingle_n).persist()
    sig = minhash_signatures(
        df, id_col, text_col, shingle_n, num_hashes, sets=sets
    ).persist()
    n_bands_cols = [f"__s{i}" for i in range(num_hashes)]
    bands = minhash_bands(
        df, id_col, text_col, shingle_n, num_hashes, rows_per_band, sets=sets
    )
    cand = minhash_candidate_pairs(bands, id_col)
    exact = ngram_jaccard_pairs(df, cand, id_col=id_col, sets=sets)
    sa = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"__a{i}") for i, c in enumerate(n_bands_cols)]
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"__b{i}") for i, c in enumerate(n_bands_cols)]
    )
    matches = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    paired = (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("jaccard"),
            matches.alias("__m"),
        )
    )
    binned = paired.groupBy(
        (F.least(F.floor(F.col("jaccard") * 10), F.lit(9)) / 10.0).alias("jacc_bin")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum("__m").cast("double") / (num_hashes * F.count(F.lit(1))), 6
        ).alias("avg_est"),
        F.round(F.avg("jaccard"), 6).alias("avg_exact"),
    )
    return binned


def idf_weighted_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """IDF-WEIGHTED Jaccard verification for candidate pairs: each
    shingle contributes ln(N/df) instead of 1, so boilerplate shingles
    (headers, licenses, navigation chrome — present in thousands of
    docs) stop manufacturing near-dups and rare content dominates the
    score. The standard fix for the web-corpus failure mode where
    plain Jaccard clusters everything that shares a template.

    w-Jaccard(A,B) = Σ_{s∈A∩B} w(s) / Σ_{s∈A∪B} w(s), w = ln(N/df_s).

    Scale shape: shingle document frequencies are ONE hash aggregate
    over the exploded distinct-shingle stream (the same stream
    ngram_jaccard_pairs already builds); per-doc total weights are a
    second aggregate over it; the intersection weight joins only
    within candidate pairs (LSH-bounded, never corpus²). N arrives as
    a broadcast one-row count. Pairs involving a doc with ZERO
    shingles (text shorter than the shingle width) are excluded, not
    scored 0.0 — the per-doc total weights are inner-joined (kept
    consistent with the q179 oracle). Returns each scorable pair with its
    6dp-rounded weighted score — thresholding is the caller's policy.

    SIDE EFFECT: the caller-supplied ``pairs`` frame and the internal
    weighted shingle stream are both persisted (MEMORY_AND_DISK) and
    stay cached after return — the result consumes them lazily, so
    they cannot be released here. Bench/gate harnesses clear caches
    between queries; long-lived library callers own the cleanup
    (``spark.catalog.clearCache()``) — the ngram_jaccard_pairs
    contract.
    """
    if sets is None:
        sets = shingle_sets(df, id_col, text_col, shingle_n)
    ex = sets.select(F.col(id_col), F.explode("__sh").alias("__shg"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    dfs = ex.groupBy("__shg").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark import StorageLevel

    # The weighted shingle stream feeds THREE consumers (per-doc
    # totals + both sides of the intersection join) and the pair set
    # two — Spark re-executes unpersisted subtrees per reference, so
    # without the ngram_jaccard_pairs reuse discipline the explode +
    # df-aggregate + weight join ran three times per call (measured
    # ~2× the runtime of the plain-jaccard chain at sf0.1).
    # MEMORY_AND_DISK: the stream is corpus×shingles-scale, spill-safe
    # like the sets cache. Same cached-side-effect contract as
    # ngram_jaccard_pairs (harnesses clear between queries; library
    # callers own cleanup).
    weighted = (
        ex.join(dfs, on="__shg")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "__shg",
            F.log(F.col("__n").cast("double") / F.col("__df")).alias("__w"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    totals = weighted.groupBy(id_col).agg(F.sum("__w").alias("__wt"))
    inter = (
        pairs.join(
            weighted.select(
                F.col(id_col).alias("id_a"), "__shg", F.col("__w").alias("__wa")
            ),
            on="id_a",
        )
        .join(
            weighted.select(F.col(id_col).alias("id_b"), "__shg"),
            on=["id_b", "__shg"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum("__wa").alias("__wi"))
    )
    out = (
        pairs.join(totals.withColumnRenamed(id_col, "id_a"), on="id_a")
        .withColumnRenamed("__wt", "__wta")
        .join(totals.withColumnRenamed(id_col, "id_b"), on="id_b")
        .withColumnRenamed("__wt", "__wtb")
        .join(inter, on=["id_a", "id_b"], how="left")
        .select(
            "id_a",
            "id_b",
            F.coalesce("__wi", F.lit(0.0)).alias("__wi"),
            (F.col("__wta") + F.col("__wtb") - F.coalesce("__wi", F.lit(0.0))).alias(
                "__wu"
            ),
        )
    )
    # all-boilerplate docs (every shingle in every doc) have zero total
    # weight: no weighted evidence either way — 0.0, not 0/0
    return out.select(
        "id_a",
        "id_b",
        F.round(
            F.when(F.col("__wu") > 0, F.col("__wi") / F.col("__wu")).otherwise(0.0), 6
        ).alias("weighted_jaccard"),
    )


# LSH tuning-curve dials (q213), single-sourced with the oracle: the
# (bands, rows) splits of a fixed K=16 signature budget.
LSH_TUNE_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]


def _ieee_pow(col, n: int):
    """x^n as an explicit LEFT-fold multiply chain (x*x)*x)... — pure
    IEEE, no libm pow(), so the oracle replays the identical chain and
    the doubles match bit-for-bit."""
    out = col
    for _ in range(n - 1):
        out = out * col
    return out


def lsh_tuning_curve(
    df: DataFrame,
    pairs: DataFrame,
    configs: list[tuple[int, int]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH parameter sweep against MEASURED similarities: for
    each (bands b, rows-per-band r) split of the signature budget,
    the S-curve detection probability P(s) = 1 - (1 - s^r)^b is
    evaluated at every candidate pair's EXACT 6dp n-gram Jaccard and
    summed — expected number of pairs the config would catch, expected
    recall, and how many pairs sit on the confident side (P >= 0.5).
    q163 audits whether K hashes estimate Jaccard well; this answers
    the next question — WHICH (b, r) split of those K hashes finds the
    pairs this corpus actually contains (the dial you set before a
    production dedup run, from a cheap measured sample instead of a
    threshold guess).

    Determinism: s is the 6dp-rounded Jaccard (exact decimal grid),
    s^r and (1-s^r)^b are explicit multiply chains (_ieee_pow — no
    libm pow), per-pair P portable-rounds to 12dp into exact DECIMAL
    sums. Scale shape: one pass over the candidate-pair table per
    plan (the configs are literal columns of ONE projection — the
    pair table is scanned once, not once per config), dictionary-free."""
    from ..functions import portable_round

    cfgs = configs if configs is not None else LSH_TUNE_CONFIGS
    j = ngram_jaccard_pairs(df, pairs, id_col=id_col, text_col=text_col)
    s = F.round(F.col("jaccard"), 6)
    legs = []
    for b, r in cfgs:
        p = F.lit(1.0) - _ieee_pow(F.lit(1.0) - _ieee_pow(s, r), b)
        legs.append(
            F.struct(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                portable_round(p, 12).cast("decimal(20,12)").alias("__p"),
                (p >= 0.5).cast("bigint").alias("__likely"),
            )
        )
    exploded = j.select(F.explode(F.array(*legs)).alias("c")).select(
        "c.bands", "c.rows_per_band", "c.__p", "c.__likely"
    )
    return exploded.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("__p").cast("double"), 4).alias("expected_caught"),
        portable_round(
            F.sum("__p").cast("double") / F.count(F.lit(1)), 6
        ).alias("expected_recall"),
        F.sum("__likely").alias("n_likely"),
    )
