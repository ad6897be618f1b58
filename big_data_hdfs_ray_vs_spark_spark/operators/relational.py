"""Generic relational operators from SURVEY §2.2/§2.3/§2.6.

These wrap the DataFrame API thinly — the value is pinned-down,
deterministic semantics (explicit tie-breaks on top-k) and skew- and
size-aware plans (salting, Bloom pruning, the join advisor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """orderBy().limit(k) — Catalyst compiles to TakeOrderedAndProject
    (no full sort, per-partition heaps + single merge; scales to any
    input size for small k). Callers pass a total order (include a
    unique tie-break column) for deterministic results."""
    return df.orderBy(*order).limit(k)


def salted_collect_set(
    df: DataFrame, key: str, value: str, n_salts: int = 16, out: str = "values"
) -> DataFrame:
    """Two-phase collect_set for skewed keys (hub vertices, hot users).

    Phase 1 aggregates (key, salt) partial sets — bounding any single
    task's aggregation state to ~1/n_salts of the hottest key — then
    phase 2 merges the ≤n_salts partial arrays per key. Salt is
    hash(value) % n_salts, so equal values land in the same salt and
    partial sets are already disjoint-deduped; the merge is a cheap
    flatten over few rows. Same result as groupBy(key).collect_set.
    """
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col(value)), F.lit(n_salts)))
    p1 = salted.groupBy(key, "__salt").agg(F.collect_set(value).alias("__part"))
    return p1.groupBy(key).agg(
        F.flatten(F.collect_list("__part")).alias(out)
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-defeating equi-join: salt the skewed side's key into
    n_salts sub-keys, replicate the small side once per salt, join on
    (key, salt). A hot key's rows spread over n_salts tasks instead of
    one straggler; the small side pays n_salts× replication (it must be
    modest — a dimension too big to broadcast but far smaller than the
    fact). Result is row-identical to ``skewed.join(small, on, how)``.

    AQE's skew-join split handles most cases at runtime; this is the
    explicit tool for when the skew is in the AGGREGATION downstream or
    AQE is unavailable (e.g. inside a cached subtree). Supported hows:
    inner / left (the small side must be replicated, so right/full
    would double-count its unmatched rows).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted.join(replicated, on=[on, "__salt"], how=how)
    return joined.drop("__salt")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two snapshots of a table: one row per key with
    status added / removed / changed / unchanged — the audit primitive
    of incremental pipelines (what changed between yesterday's corpus
    build and today's?).

    One full-outer join on the keys; change detection compares an md5
    fingerprint of the non-key columns computed on EACH side, so wide
    rows never travel twice — the join carries keys + 32-byte hashes.
    Fingerprints are compared within one engine only (never persisted),
    so engine-specific value rendering cancels out. Each column is
    hashed SEPARATELY before the row hash: segments are then fixed
    width (32 hex chars, or the non-hex marker 'null'), so values
    containing a would-be separator can't shift column boundaries and
    NULL can't collide with any literal string."""
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in key_cols]

    def fp(df: DataFrame) -> Column:
        parts = [
            F.coalesce(F.md5(F.col(c).cast("string").cast("binary")), F.lit("null"))
            for c in compare_cols
        ]
        return F.md5(F.concat(*parts).cast("binary"))

    o = old.select(*key_cols, fp(old).alias("__fo"))
    n = new.select(*key_cols, fp(new).alias("__fn"))
    joined = o.join(n, on=key_cols, how="full_outer")
    status = (
        F.when(F.col("__fo").isNull(), "added")
        .when(F.col("__fn").isNull(), "removed")
        .when(F.col("__fo") != F.col("__fn"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(*key_cols, status.alias("status"))


# --------------------------------------------------------------------------
# Bloom-filter join pruning
#
# The 100 TB pattern: a fact scan must not shuffle (or even fully
# deserialize) rows that can never match the dim side of a selective
# join. Spark's runtime row-group bloom pushdown exists but is opaque;
# this is the explicit, engine-portable version: build an m-bit filter
# from the dim keys (the filter is O(bits) — independent of fact size),
# ship it as a plan literal, and prune the fact with a pure-codegen
# bit-probe BEFORE the join. No false negatives ever; false positives
# only cost a wasted row in the real join.


def bloom_parameters(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """Textbook sizing: (num_bits, num_hashes) for an expected distinct
    key count and target false-positive rate. num_bits is rounded up to
    whole 64-bit words."""
    import math

    n_keys = max(n_keys, 1)
    m = int(math.ceil(-n_keys * math.log(fpp) / (math.log(2) ** 2)))
    m = ((max(m, 64) + 63) // 64) * 64
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def _bloom_positions(key: Column, num_bits: int, num_hashes: int, portable: bool) -> list[Column]:
    """One bit position per hash seed. Default is xxhash64 (native
    codegen); ``portable=True`` swaps in the md5-prefix hash that any
    SQL engine can replay bit-exactly (same trade as md5_minhash)."""
    out = []
    if portable:
        # One md5 digest yields TWO 60-bit positions (hex chars 1-15
        # and 16-30) — halves the dominant md5 cost; identical
        # subtrees collapse via codegen subexpression elimination.
        for i in range(num_hashes):
            d, off = divmod(i, 2)
            salted = F.concat(F.lit(f"b{d}:"), key.cast("string"))
            digest = F.md5(salted.cast("binary"))
            h = F.conv(F.substring(digest, 1 + 15 * off, 15), 16, 10).cast("long")
            out.append(F.pmod(h, F.lit(num_bits)))
    else:
        for i in range(num_hashes):
            salted = F.concat(F.lit(f"b{i}:"), key.cast("string"))
            out.append(F.pmod(F.xxhash64(salted), F.lit(num_bits)))
    return out


def bloom_build(
    dim: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int = 4,
    portable: bool = False,
) -> list[int]:
    """Aggregate the dim keys into an m-bit filter, returned as
    num_bits/64 longs. The build is one explode + (word → bit_or) hash
    aggregate — map-side combined, shuffle carries at most m/64 rows.
    The driver collect is the filter itself (KBs–MBs by construction),
    never the keys."""
    positions = _bloom_positions(F.col(key_col), num_bits, num_hashes, portable)
    one = F.lit(1).cast("long")
    words = (
        dim.select(F.explode(F.array(*positions)).alias("__p"))
        .select(
            (F.col("__p") / 64).cast("int").alias("__w"),
            # F.shiftleft only takes a literal shift; call the SQL
            # function directly for a column-valued shift amount.
            F.call_function("shiftleft", one, (F.col("__p") % 64).cast("int")).alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__m"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["__w"]] = r["__m"]
    return dense


def bloom_might_contain(
    key: Column, words: list[int], num_hashes: int = 4, portable: bool = False
) -> Column:
    """Boolean probe column: true iff every hash position's bit is set.
    Pure codegen (element_at + bitwise AND over a literal array); for
    filters past ~1M words, prefer re-expressing the probe as a
    broadcast join on the word index instead of a plan literal."""
    num_bits = len(words) * 64
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    one = F.lit(1).cast("long")
    cond = None
    for p in _bloom_positions(key, num_bits, num_hashes, portable):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        mask = F.call_function("shiftleft", one, (p % 64).cast("int"))
        bit = word.bitwiseAND(mask) != 0
        cond = bit if cond is None else cond & bit
    return cond


def bloom_prune(
    fact: DataFrame,
    key_col: str,
    words: list[int],
    num_hashes: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Filter the fact table down to keys the bloom filter admits —
    run BEFORE a shuffle join so only candidate rows pay the exchange.
    Guarantees: every true match survives; survivors that don't match
    are bounded by the filter's false-positive rate."""
    return fact.filter(bloom_might_contain(F.col(key_col), words, num_hashes, portable))


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """SQL MERGE INTO semantics as ONE full-outer join — the CDC-apply /
    lakehouse-upsert primitive: rows with op 'D' delete the base row,
    'U' rows update matched base rows column-wise (unmatched 'U' rows
    insert, with base-only columns null).

    ``changes`` carries (key, op, subset-of-base data columns); data
    columns present in changes overwrite the base value on update and
    null-coalesce back to base when the change carries null. Exactly
    one pass: a key-equi full outer join (shuffle on the key both
    sides, broadcast when the change batch is small — the common CDC
    case, which AQE picks up automatically), then a filter and a
    column-wise coalesce, all codegen. No driver-side state; change
    batches of any size stream through the same plan.
    """
    data_cols = [c for c in changes.columns if c not in (key, op_col)]
    missing = set(data_cols) - set(base.columns)
    if missing:
        raise ValueError(f"change columns not in base schema: {sorted(missing)}")
    renamed = changes
    for c in data_cols:
        renamed = renamed.withColumnRenamed(c, f"__new_{c}")
    j = base.join(renamed, on=key, how="full")
    j = j.filter(F.col(op_col).isNull() | (F.col(op_col) != F.lit("D")))
    out = [F.col(key)]
    for c in base.columns:
        if c == key:
            continue
        if c in data_cols:
            out.append(F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
        else:
            out.append(F.col(c))
    return j.select(*out)


# Join-advisor thresholds — single-sourced with the q138 oracle.
# BROADCAST_ROWS approximates the 10 MB autoBroadcastJoinThreshold at
# ~100 B/row of dimension payload; SKEW_SHARE is the one-key fraction
# past which a plain hash shuffle leaves one reducer with a fifth of
# the probe side (AQE's skew-join territory, or an explicit salt).
ADVISOR_BROADCAST_ROWS = 100_000
ADVISOR_SKEW_SHARE = 0.2


def _advisor_stats(tables: dict[int, tuple[DataFrame, set[str]]], tags: dict[int, str]) -> DataFrame:
    """Lazy batched stats pass: ONE scan per distinct table builds every
    audited key's (rows, max_share) dictionary together — the plan the
    one-scan-per-table test pins. Returns the |table-keys|-row frame."""
    stats_parts = []
    for tid, (df, keys) in tables.items():
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("__kn"),
                        F.col(k).cast("string").alias("__kv"),
                    )
                    for k in sorted(keys)
                ]
            )
        )
        kv = (
            df.select(pairs.alias("p"))
            .select(F.col("p.__kn").alias("__kn"), F.col("p.__kv").alias("__kv"))
            .filter(F.col("__kv").isNotNull())
        )
        counts = kv.groupBy("__kn", "__kv").agg(F.count(F.lit(1)).alias("__c"))
        stats_parts.append(
            counts.groupBy("__kn")
            .agg(
                F.sum("__c").alias("__rows"),
                F.round(F.max("__c") / F.sum("__c").cast("double"), 6).alias(
                    "__share"
                ),
            )
            .select(
                F.lit(tags[tid]).alias("__tag"), "__kn", "__rows", "__share"
            )
        )
    stats = stats_parts[0]
    for p in stats_parts[1:]:
        stats = stats.unionByName(p)
    return stats


def join_advisor(
    relationships: list[tuple[str, DataFrame, str, DataFrame, str]],
    broadcast_rows: int = ADVISOR_BROADCAST_ROWS,
    skew_share: float = ADVISOR_SKEW_SHARE,
) -> DataFrame:
    """Pre-flight join-strategy advisor: for each (name, left,
    left_key, right, right_key) pair, measure both sides' non-null-key
    row counts and heaviest-key shares, and emit the strategy a 100 TB
    plan review would pick — the decision table key_skew_audit feeds,
    computed for the JOIN rather than one column:

      * ``broadcast_right`` / ``broadcast_left`` — the smaller side's
        key rows fit the broadcast budget (dimension pattern);
      * ``salted_shuffle`` — both sides big AND a key owns more than
        ``skew_share`` of either side (one reducer would own it);
      * ``shuffle_hash`` — both sides big, keys well-spread.

    Share comparison uses the 6dp-ROUNDED value (engine-identical
    cut). NULL keys never join, so they are excluded from both counts
    — their handling is fk_audit/check_constraints territory.

    Scale shape: the stats pass is BATCHED per distinct input table —
    each table is scanned ONCE no matter how many relationships (or
    keys) reference it: its keys pivot to (key_name, key_value) pairs
    map-side, then ONE map-side-combining aggregate builds every key
    dictionary together and a |keys|-row reduction yields (rows,
    max_share) per key. The tiny per-(table, key) stats table — one
    row per audited key — is COLLECTED and the result built from
    literals (r7, the round-6 advisor note: the prior persist+count
    shape leaked cached tables across calls and ran scans for
    plan-only consumers); no fact table ever moves or rescans. (The
    r5 shape ran one job pair per relationship: N relationships over
    the same child re-scanned it N times — fine at 4, wrong at a real
    catalog's hundreds.)

    Key values compare as strings inside the batched dictionary (the
    pivot needs one array element type); count/max-share semantics are
    unchanged for the id-typed keys a join audit feeds — casting is
    injective on integral/decimal/string keys and preserves NULLs.
    Returns one row per relationship: (join_name, left_rows,
    right_rows, left_max_share 6dp, right_max_share 6dp, strategy).
    """
    if not relationships:
        raise ValueError("join_advisor: no relationships given")
    spark = relationships[0][1].sparkSession
    # distinct tables by object identity, each with the union of its
    # audited keys; tags give the stats rows a joinable table handle
    tables: dict[int, tuple[DataFrame, set[str]]] = {}
    for _name, left, lkey, right, rkey in relationships:
        for df, key in ((left, lkey), (right, rkey)):
            tables.setdefault(id(df), (df, set()))[1].add(key)
    tags = {tid: f"t{i}" for i, tid in enumerate(tables)}
    # The dictionary is |table-keys| rows — collect it and build the
    # result from LITERALS (the round-6 advisor note): the old shape
    # persisted the stats frame, ran an eager count at construction
    # time, and never unpersisted — repeated advisor calls accumulated
    # cached tables and plan-only consumers triggered real scans. One
    # collect here is the same single job, with nothing left behind.
    by_key = {
        (r["__tag"], r["__kn"]): (r["__rows"], r["__share"])
        for r in _advisor_stats(tables, tags).collect()
    }
    out_rows = []
    for name, left, lkey, right, rkey in relationships:
        # a key with ZERO non-null values has no dictionary row:
        # 0 rows / 0.0 share, same as the per-relationship shape
        l_rows, l_share = by_key.get((tags[id(left)], lkey), (0, 0.0))
        r_rows, r_share = by_key.get((tags[id(right)], rkey), (0, 0.0))
        # When BOTH sides fit the budget, broadcast the SMALLER one
        # (ties → right, the dimension convention): the first clause
        # claims broadcast_right only when right is the minimum.
        if r_rows <= broadcast_rows and r_rows <= l_rows:
            strategy = "broadcast_right"
        elif l_rows <= broadcast_rows:
            strategy = "broadcast_left"
        elif r_rows <= broadcast_rows:
            strategy = "broadcast_right"
        elif l_share > skew_share or r_share > skew_share:
            strategy = "salted_shuffle"
        else:
            strategy = "shuffle_hash"
        out_rows.append(
            (name, l_rows, r_rows, float(l_share), float(r_share), strategy)
        )
    return spark.createDataFrame(
        out_rows,
        "join_name string, left_rows bigint, right_rows bigint, "
        "left_max_share double, right_max_share double, strategy string",
    )
