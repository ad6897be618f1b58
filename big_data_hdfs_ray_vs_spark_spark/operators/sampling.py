"""Deterministic sampling & token-budget curation for training-data mixes.

Dataset curation needs samples that are REPRODUCIBLE across runs,
engines, and partitionings. Spark's ``sampleBy``/``F.rand`` draw from a
partition-seeded RNG, so the selected rows change whenever the physical
layout does — useless for an audit trail at 100 TB. Everything here
derives its randomness from a salted md5 of the row's own key instead:
a pure, narrow, codegen'd filter (zero shuffles) whose output is a
deterministic function of the data, exactly replayable in any SQL
engine (the DuckDB oracles run the same formula).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import spread_small_input
from .text import quality_features


def hash_uniform(key: Column, salt: str) -> Column:
    """Deterministic uniform [0,1) from a salted 60-bit md5 of the key.

    Same primitive as dedup.md5_hash60 (first 15 md5 hex chars as an
    unsigned int), scaled to the unit interval. DuckDB spells it
    CAST('0x' || substr(md5(salt || key), 1, 15) AS BIGINT) / 2^60.
    """
    from .dedup import md5_hash60

    h = md5_hash60(F.concat(F.lit(salt), key.cast("string")))
    return h.cast("double") / F.lit(float(1 << 60))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "strat:",
) -> DataFrame:
    """Per-stratum Bernoulli sample at the given fractions, deterministic.

    Keeps a row iff hash_uniform(id) < fraction(stratum); strata absent
    from ``fractions`` are dropped (fraction 0). Unlike df.sampleBy this
    is layout-independent and needs no seed bookkeeping: re-running on a
    repartitioned, compacted, or differently-ordered copy of the data
    selects the exact same rows.
    """
    fmap = F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])
    u = hash_uniform(F.col(id_col), salt)
    return df.filter(u < F.coalesce(fmap[F.col(strata_col)], F.lit(0.0)))


def train_val_test_split(
    df: DataFrame,
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    id_col: str = "doc_id",
    salt: str = "split:",
) -> DataFrame:
    """Add a deterministic 'split' column (train/val/test) by hash range.

    Membership is a pure function of the row id, so the split survives
    reshuffles, incremental appends, and engine migrations — the
    property training pipelines actually need from a holdout split.
    """
    u = hash_uniform(F.col(id_col), salt)
    train, val, _ = weights
    return df.withColumn(
        "split",
        F.when(u < train, F.lit("train"))
        .when(u < train + val, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
    salt: str = "shuf:",
) -> DataFrame:
    """Global pseudorandom training order without a global sort.

    shard = hash % n_shards, pos = rank of the hash within the shard:
    reading shards in index order (each internally by pos) replays one
    fixed pseudorandom permutation of the corpus. Costs one hash
    exchange + independent per-shard sorts — never a single-reducer
    total order, which is the scale trap of orderBy(rand()). Epochs
    re-key with a different salt.
    """
    from .dedup import md5_hash60

    h = md5_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.select(F.col(id_col), h.alias("__h"), (h % n_shards).alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def mixture_weights(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix:",
) -> DataFrame:
    """Static mixture resampling for training-data blends.

    Each row is repeated floor(w) times, plus one more with probability
    frac(w) decided by the row's own hash — so a source weighted 2.3
    contributes every doc twice and ~30% of docs a third time,
    deterministically. Implemented as explode(sequence(1, n)): a narrow
    per-row expansion, zero shuffles, exactly replayable in SQL. Rows
    whose group is unweighted (or whose n is 0) are dropped.
    """
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    w = F.coalesce(wmap[F.col(group_col)], F.lit(0.0))
    base = F.floor(w).cast("int")
    extra = (hash_uniform(F.col(id_col), salt) < (w - F.floor(w))).cast("int")
    n = (base + extra).alias("__n")
    return (
        df.select(F.col(id_col), F.col(group_col), n)
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            group_col,
            F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("copy"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap:",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically —
    the per-domain cap of web-corpus curation (no single domain may
    dominate the training mix).

    Selection order is the rows' own salted hash (tie-broken by id), so
    the survivors are a pure function of the data: re-running on any
    layout keeps the same rows, and raising the cap only ADDS rows
    (monotone — an audit-friendly property quota systems want). One
    shuffle: the window partition on group_col; per-group state is a
    row counter, so a hot domain is a big partition, not big memory."""
    u = hash_uniform(F.col(id_col), salt)
    w = Window.partitionBy(group_col).orderBy(u.asc(), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "wsample:",
) -> DataFrame:
    """Weighted sampling without replacement, n per group, deterministic
    (Efraimidis–Spirakis A-ES): key = u^(1/w) with u the row's own
    salted hash-uniform; the top-n keys per group are a weighted sample
    without replacement. Quality-proportional doc selection — a doc
    with twice the weight is (correctly, not heuristically) twice as
    likely to make the cut — while staying a pure function of the data:
    same rows survive on any layout, any engine. Rows with weight <= 0
    or null are excluded. One window shuffle on the group key."""
    w = F.col(weight_col).cast("double")
    u = hash_uniform(F.col(id_col), salt)
    # rank by ln(u)/w (monotone with u^(1/w), better conditioned)
    key = F.log(u) / w
    win = Window.partitionBy(group_col).orderBy(F.desc_nulls_last("__k"), F.col(id_col))
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("__k", key)
        .withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= n)
        .drop("__k", "__rn")
    )


def token_budget_curation(
    df: DataFrame,
    group_col: str = "source",
    budget_tokens: int = 800,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked token-budget curation per group.

    Rank each group's documents by quality_score (text.quality_features)
    descending, accumulate token counts in that order, and keep the
    prefix that fits the budget — the "best docs until the token quota"
    curation step of a training-mix builder. One shuffle (the window
    partition on group_col); ties broken by id for determinism. Groups
    here are sources; at 100 TB the same plan holds for any bounded
    cardinality key (domain, language, crawl).
    """
    q = quality_features(df, text_col=text_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("quality_score"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        q.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, group_col, "n_tokens", "cum_tokens")
    )


# DSIR defaults — single-sourced with the q133 oracle.
DSIR_SMOOTHING = 1.0
DSIR_TOP_K = 20


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = DSIR_TOP_K,
) -> DataFrame:
    """DSIR-style importance scoring (Data Selection via Importance
    Resampling, Xie et al. 2023): score every RAW document by how much
    more likely its tokens are under a TARGET-distribution unigram LM
    than under the raw-corpus LM, then keep the top-k —
    the select-pretraining-data-that-looks-like-my-target primitive.

        logratio(w) = ln((ct_T(w)+1)/(N_T+V)) − ln((ct_R(w)+1)/(N_R+V))
        logw(d)     = Σ_w tf_d(w) · logratio(w)
        avg_logw(d) = logw(d) / dl(d)      (length-independent rank key)

    Add-one smoothing over the UNION vocabulary (V = |terms seen in
    either split|) gives every term a finite ratio; terms absent from
    one side enter through the full-outer join with count 0. Zero-token
    raw docs carry no evidence: logw 0.0 (never NULL, the engine-wide
    invariant), ranked by the same key as everyone else.

    Scale shape (the q107 unigram-NLL discipline): ONE tokenize →
    (doc, term) aggregate feeds both LMs; the log-ratio dictionary is
    vocabulary-sized and re-joins the raw postings (dictionary ≪
    corpus); N_T/N_R/V ride as a ONE-ROW broadcast normalizer
    (crossJoin, the q88 pattern — no collect, no eager job at plan
    time, and the tokenize pipeline stays a single plan instead of
    running once for the scalars and again for the result); the top-k
    cut is orderBy().limit() — TakeOrderedAndProject — with the rank
    window over the ≤k survivors (the q94 pattern). The corpus is
    never collected.

    Returns (id, n_tokens, logw 6dp, avg_logw 6dp, rank 1..top_k),
    ranked by avg_logw desc, ties to the lowest id.
    """
    from .text import whitespace_tokens

    toks = whitespace_tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), is_target.alias("__t"), toks.alias("__toks"))
    terms = spread_small_input(base).select(
        id_col, "__t", F.explode("__toks").alias("term")
    )
    tf = terms.groupBy(id_col, "__t", "term").agg(F.count(F.lit(1)).alias("tf"))
    ct_t = (
        tf.filter(F.col("__t"))
        .groupBy("term")
        .agg(F.sum("tf").alias("ct_t"))
    )
    ct_r = (
        tf.filter(~F.col("__t"))
        .groupBy("term")
        .agg(F.sum("tf").alias("ct_r"))
    )
    lm = ct_t.join(ct_r, "term", "full_outer").select(
        "term",
        F.coalesce("ct_t", F.lit(0)).alias("ct_t"),
        F.coalesce("ct_r", F.lit(0)).alias("ct_r"),
    )
    s = lm.agg(
        F.coalesce(F.sum("ct_t"), F.lit(0)).cast("double").alias("__nt"),
        F.coalesce(F.sum("ct_r"), F.lit(0)).cast("double").alias("__nr"),
        F.count(F.lit(1)).cast("double").alias("__v"),
    )
    a = DSIR_SMOOTHING
    ratio = lm.crossJoin(F.broadcast(s)).select(
        "term",
        (
            F.log((F.col("ct_t") + F.lit(a)) / (F.col("__nt") + F.lit(a) * F.col("__v")))
            - F.log((F.col("ct_r") + F.lit(a)) / (F.col("__nr") + F.lit(a) * F.col("__v")))
        ).alias("__lr"),
    )
    scored = (
        tf.filter(~F.col("__t"))
        .join(ratio, "term")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("dl"),
            F.sum(F.col("tf") * F.col("__lr")).alias("__lw"),
        )
    )
    raw = base.filter(~F.col("__t")).select(id_col)
    full = raw.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("dl", F.lit(0)).alias("n_tokens"),
        F.round(F.coalesce("__lw", F.lit(0.0)), 6).alias("logw"),
        F.round(
            F.when(F.col("dl") > 0, F.col("__lw") / F.col("dl")).otherwise(0.0), 6
        ).alias("avg_logw"),
    )
    top = full.orderBy(F.desc("avg_logw"), F.asc(id_col)).limit(top_k)
    w = Window.orderBy(F.desc("avg_logw"), F.asc(id_col))
    return top.select(
        id_col, "n_tokens", "logw", "avg_logw", F.row_number().over(w).alias("rank")
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str = "source",
    size_col: Column | str | None = None,
    temperature: float = 2.0,
    budget_tokens: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled sampling mix over corpus slices (the
    multilingual/Pile recipe): p_s ∝ n_s^(1/T). T=1 reproduces
    proportional sampling; T→∞ approaches uniform; the standard T=2
    lifts small high-value sources without letting them dominate.
    Reports each source's effective epoch count at a token budget —
    epochs > 1 means that slice repeats, the overfitting dial the mix
    designer actually watches.

    Scale shape: ONE map-side-combining aggregate collapses the corpus
    to |sources| rows; the normalizer is a 1-row broadcast (the q88
    pattern, no collect). NULL group keys are excluded (a slice must
    be addressable); NULL sizes count 0. A source whose token total is
    ZERO still appears — (n_tokens 0, weight/p/epochs 0.0) — a mix
    designer auditing slices must see that the slice exists; dropping
    it silently would hide an all-empty source.

    ``size_col`` is the per-row size measure: a column name, any
    Column expression (default: whitespace token count of ``text`` —
    the documents table carries no n_tokens column), NULLs count 0.

    Returns (group, n_tokens, weight 6dp, p 6dp, epochs 6dp) ordered
    by p desc, group — |sources| rows, broadcastable anywhere.
    """
    from .text import whitespace_tokens

    if size_col is None:
        size = F.size(whitespace_tokens(F.col("text")))
    elif isinstance(size_col, str):
        size = F.col(size_col)
    else:
        size = size_col
    inv_t = 1.0 / float(temperature)
    sizes = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.sum(F.coalesce(size, F.lit(0))).alias("n_tok"))
    )
    w = sizes.select(
        group_col,
        "n_tok",
        F.pow(F.col("n_tok").cast("double"), F.lit(inv_t)).alias("__w"),
    )
    tot = w.agg(F.coalesce(F.sum("__w"), F.lit(0.0)).alias("__tw"))
    ok = (F.col("n_tok") > 0) & (F.col("__tw") > 0)
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            F.col("n_tok").alias("n_tokens"),
            F.round("__w", 6).alias("weight"),
            F.round(
                F.when(F.col("__tw") > 0, F.col("__w") / F.col("__tw")).otherwise(
                    0.0
                ),
                6,
            ).alias("p"),
            F.round(
                F.when(
                    ok,
                    F.col("__w") / F.col("__tw") * F.lit(float(budget_tokens))
                    / F.col("n_tok"),
                ).otherwise(0.0),
                6,
            ).alias("epochs"),
        )
        .orderBy(F.desc("p"), group_col)
    )


def source_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source unigram-LM KL divergence from the corpus LM —
    KL(p_source ‖ q_corpus) with add-one smoothing over the corpus
    vocabulary — the which-source-is-an-outlier dial for mixture
    design (DSIR's q133 scores DOCUMENTS against a target; this scores
    SOURCES against the pool, the complementary audit).

    Smoothed LMs (natural log, V = |corpus vocab|):
        p_s(w) = (c_s(w)+1)/(n_s+V)    q(w) = (c(w)+1)/(N+V)
        KL(s)  = Σ_{w∈V} p_s(w)·ln(p_s(w)/q(w))

    The full-vocabulary sum NEVER materializes source×vocab: terms the
    source lacks share one probability p0 = 1/(n_s+V), so their block
    collapses to the closed form
        p0·((V−V_s)·ln p0 − (S_all − S_s)),
    with S_all = Σ_{w∈V} ln q(w) = Σ ln(c+1) − V·ln(N+V) (one keyless
    scalar) and S_s = Σ_{w∈V_s} ln q(w) (rides the same per-term
    aggregate as the main sum). Plan: ONE tokenize → (source, term)
    aggregate; the corpus LM derives from it by a second dictionary-
    scale aggregate; per-source totals broadcast back onto the term
    table; one keyless scalar row crossJoins (the q88/q133 pattern).
    Everything after the tokenize is dictionary work.

    NULL source groups as '' (an unattributed doc is a real mixture
    member, and a NULL key would silently drop from the joins). A
    source with zero tokens carries no evidence: (0, 0, 0.0) — never
    NULL. Returns (source, n_tokens, n_terms, kl 6dp).
    """
    from .text import whitespace_tokens

    src = F.coalesce(F.col(group_col), F.lit("")).alias("__src")
    terms = spread_small_input(df).select(
        src, F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("term")
    )
    # (source, term) counts feed THREE consumers (corpus LM, per-source
    # totals, the per-term join) — persist the dictionary-scale table
    # (≤ |sources|·vocab rows) so the corpus tokenize runs once, not
    # three times (the ngram_jaccard_pairs policy)
    from pyspark import StorageLevel

    st = (
        terms.groupBy("__src", "term")
        .agg(F.count(F.lit(1)).alias("cs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lm = st.groupBy("term").agg(F.sum("cs").alias("c"))
    scal = lm.agg(
        F.sum("c").alias("N"),
        F.count(F.lit(1)).alias("V"),
        F.sum(F.log(F.col("c") + 1)).alias("A"),
    )
    totals = st.groupBy("__src").agg(
        F.sum("cs").alias("ns"), F.count(F.lit(1)).alias("vs")
    )
    per_term = (
        st.join(lm, "term")
        .join(F.broadcast(totals), "__src")
        .crossJoin(F.broadcast(scal))
        .select(
            "__src",
            "ns",
            "vs",
            "N",
            "V",
            "A",
            (F.log(F.col("cs") + 1) - F.log(F.col("ns") + F.col("V"))).alias("__lnp"),
            (F.log(F.col("c") + 1) - F.log(F.col("N") + F.col("V"))).alias("__lnq"),
            ((F.col("cs") + 1).cast("double") / (F.col("ns") + F.col("V"))).alias(
                "__p"
            ),
        )
    )
    agg = per_term.groupBy("__src", "ns", "vs", "N", "V", "A").agg(
        F.sum(F.col("__p") * (F.col("__lnp") - F.col("__lnq"))).alias("__t1"),
        F.sum("__lnq").alias("__ss"),
    )
    lnp0 = -F.log(F.col("ns") + F.col("V"))
    p0 = F.lit(1.0) / (F.col("ns") + F.col("V"))
    s_all = F.col("A") - F.col("V") * F.log(F.col("N") + F.col("V"))
    kl = F.col("__t1") + p0 * (
        (F.col("V") - F.col("vs")) * lnp0 - (s_all - F.col("__ss"))
    )
    scored = agg.select(
        F.col("__src").alias(group_col),
        F.col("ns").alias("n_tokens"),
        F.col("vs").alias("n_terms"),
        F.round(kl, 6).alias("kl"),
    )
    # zero-token sources (all-empty bodies) have no st rows — restore
    # them from the source dimension with the no-evidence row
    spine = df.select(src).distinct()
    return spine.join(
        scored, spine["__src"] == scored[group_col], "left"
    ).select(
        spine["__src"].alias(group_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_terms", F.lit(0)).alias("n_terms"),
        F.coalesce("kl", F.lit(0.0)).alias("kl"),
    )


def distribution_match_sample(
    df: DataFrame,
    bucket: Column,
    target: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "dmatch:",
) -> DataFrame:
    """Distribution-matching downsample: keep the LARGEST deterministic
    subset whose bucket mixture matches ``target`` — the resample-to-a-
    target-length/domain-profile step of corpus curation (q39 samples
    at GIVEN per-stratum rates; this DERIVES the rates from a target
    mixture, maximizing kept data subject to it).

    Feasibility math: K = min over target buckets of n_b / t_b is the
    largest total where every bucket can supply its share; the
    acceptance rate for bucket b is t_b·K / n_b (the binding bucket
    keeps everything). A target bucket the corpus lacks makes the
    mixture infeasible → K = 0 and the audit shows it (zero kept
    everywhere — loud, never a silently skewed sample). Buckets
    outside the target accept 0. Membership is the layout-independent
    salted-hash rule (hash_uniform < accept), so the realized kept
    counts are Bernoulli around t_b·K and the SAME rows survive on any
    engine or layout — the audit reports the REALIZED counts, not the
    expectation.

    Plan: one bucket-count aggregate (dictionary-sized), K as a 1-row
    broadcast reduction over it, acceptance rates broadcast-joined
    back onto the corpus scan, one conditional-count aggregate for the
    audit. The corpus is scanned twice (count + apply) and never
    shuffled by more than the bucket key; at 100 TB persist the
    bucketed projection or fold this into the curation funnel's
    existing pass. Returns one row per PRESENT bucket:
    (bucket, n_rows, target_share, accept_rate 6dp, n_kept,
    kept_share 6dp), kept_share = n_kept / total kept.
    """
    # validate the target mixture up front (the round-6 advisor note):
    # non-positive shares or shares not summing to ~1 would silently
    # yield a kept mixture matching only the RELATIVE shares while
    # target_share reports the raw values — loud infeasibility is this
    # op's stated policy, so a malformed target raises, never skews.
    if not target:
        raise ValueError("distribution_match_sample: empty target mixture")
    if any(t <= 0 for t in target.values()):
        raise ValueError(
            "distribution_match_sample: target shares must be positive, got "
            f"{target}"
        )
    tot = sum(target.values())
    if abs(tot - 1.0) > 1e-6:
        raise ValueError(
            f"distribution_match_sample: target shares sum to {tot}, not 1.0"
        )
    base = df.select(F.col(id_col).alias("__id"), bucket.alias("__b"))
    counts = base.groupBy("__b").agg(F.count(F.lit(1)).alias("n_rows"))
    tmap = F.create_map(*[F.lit(x) for kv in target.items() for x in kv])
    tshare = F.coalesce(tmap[F.col("__b")], F.lit(0.0))
    # K = min over target buckets of n_b / t_b; a target bucket with no
    # rows never reaches this aggregate, so inject it as infeasible via
    # the spine union (count 0 -> K = 0)
    spine = base.sparkSession.createDataFrame(
        [(b,) for b in target], "__b string"
    )
    full = counts.join(spine, "__b", "full").select(
        "__b", F.coalesce("n_rows", F.lit(0)).alias("n_rows")
    )
    kagg = full.select(
        "__b",
        "n_rows",
        F.when(tshare > 0, F.col("n_rows") / tshare).alias("__cap"),
    ).agg(F.coalesce(F.min("__cap"), F.lit(0.0)).alias("__K"))
    rates = (
        full.crossJoin(F.broadcast(kagg))
        .select(
            "__b",
            "n_rows",
            F.round(tshare, 6).alias("target_share"),
            F.round(
                F.when(
                    (F.col("n_rows") > 0) & (tshare > 0),
                    F.least(
                        F.lit(1.0), tshare * F.col("__K") / F.col("n_rows")
                    ),
                ).otherwise(0.0),
                6,
            ).alias("accept_rate"),
        )
        # |buckets| rows, referenced by the membership join AND the
        # audit: persist so each downstream reference reads the
        # dictionary instead of re-deriving it from a corpus scan
        .persist()
    )
    kept = (
        base.join(F.broadcast(rates), "__b")
        .filter(hash_uniform(F.col("__id"), salt) < F.col("accept_rate"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    audit = (
        rates.join(kept, "__b", "left")
        .filter(F.col("n_rows") > 0)  # absent target buckets: rate row only
        .select(
            F.col("__b").alias("bucket"),
            "n_rows",
            "target_share",
            "accept_rate",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        # |buckets| rows again, referenced by the total AND the output:
        # without this the kept-count corpus pass runs twice
        .persist()
    )
    tot = audit.agg(F.sum("n_kept").alias("__tot"))
    return audit.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_rows",
        "target_share",
        "accept_rate",
        "n_kept",
        F.round(
            F.when(
                F.col("__tot") > 0,
                F.col("n_kept").cast("double") / F.col("__tot"),
            ).otherwise(0.0),
            6,
        ).alias("kept_share"),
    )


def cluster_safe_split(
    docs: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "csplit:",
) -> DataFrame:
    """Near-dup-aware train/val/test split audit: assign WHOLE dup
    clusters to one split, so no near-duplicate pair ever straddles the
    train/test boundary (the leakage mode a plain per-doc hash split —
    q71's finding — cannot prevent; this op prevents it by
    construction and then MEASURES it anyway).

    ``dup_pairs`` is a verified near-dup edge list (id_a, id_b) — the
    q38 pipeline's output. Every doc's split key is its cluster
    representative (min doc id of the component; singletons key on
    themselves), hashed through the same salted-md5 uniform as every
    other split in the engine, so the assignment is layout- and
    engine-independent and stable under corpus appends that don't
    touch the cluster.

    Returns one row per split: (split, n_docs, n_clusters, n_dup_docs,
    cross_split_pairs) — cross_split_pairs is computed from the edge
    list against the final assignment (not assumed zero) and rides a
    1-row broadcast crossJoin; it is the audit's point: 0 by
    construction.

    Scale: clusters touch only the pair graph (dup_clusters' dual
    strategy); the corpus-side work is one left join on doc id + one
    |splits|-row aggregate.
    """
    from .dedup import dup_clusters, materialised

    # Validate up front (r7-advice): weights are CUMULATIVE-CUT
    # inputs — a negative value or train+val > 1 silently skews or
    # empties splits, and the q153 oracle replays only the default
    # (0.8, 0.1, 0.1)/default-salt call, so a bad non-default call
    # would diverge from the gate without any error.
    train, val, _ = weights
    if not (0.0 <= train and 0.0 <= val and train + val <= 1.0):
        raise ValueError(
            f"cluster_safe_split weights must satisfy 0 <= train, val and "
            f"train + val <= 1; got train={train}, val={val}"
        )
    # ``dup_pairs`` feeds both the clustering and the cross-split audit
    # join, so it should arrive materialised (as near_dup_pairs returns
    # it). The clusters are materialised here: the assignment below
    # reads them three times (both audit join sides and the per-split
    # aggregate), and each read is then one broadcast join against the
    # corpus' id column, not a re-run of the union-find stage. Nothing
    # is left in the CacheManager.
    clusters = materialised(
        dup_clusters(dup_pairs).select(F.col(id_col), F.col("cluster"))
    )
    assigned = docs.select(id_col).join(clusters, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("cluster"), F.col(id_col)).alias("__rep"),
        F.col("cluster").isNotNull().alias("__clustered"),
    )
    u = hash_uniform(F.col("__rep"), salt)
    assigned = assigned.withColumn(
        "split",
        F.when(u < train, F.lit("train"))
        .when(u < train + val, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    sa = assigned.select(F.col(id_col).alias("id_a"), F.col("split").alias("__spa"))
    sb = assigned.select(F.col(id_col).alias("id_b"), F.col("split").alias("__spb"))
    cross = (
        dup_pairs.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__spa") != F.col("__spb"), 1).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("cross_split_pairs")
        )
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("__rep").alias("n_clusters"),
        F.sum(F.when(F.col("__clustered"), 1).otherwise(0)).cast("long").alias("n_dup_docs"),
    )
    return per_split.crossJoin(F.broadcast(cross))


def soft_dedup_weights(
    docs: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, weight every
    doc by 1/|its dup cluster| so each distinct content unit
    contributes total weight 1 to the training mix (the downweighting
    alternative used when near-dups carry signal — e.g. quality via
    re-posting — and hard removal is too blunt).

    Returns the per-``group_col`` accounting: raw doc count, effective
    (weighted) doc count, and the dedup ratio — the "how much of this
    source is actually distinct content" number that feeds mixture
    design (q42/q134/q145 consume shares; this is the share CORRECTION
    near-dups demand).

    Scale: the weight join touches only clustered docs (the pair
    graph's closure, orders of magnitude smaller than the corpus);
    everything else is one |groups|-row aggregate.
    """
    from .dedup import dup_clusters

    clusters = dup_clusters(dup_pairs).select(
        F.col(id_col), F.col("cluster_size")
    )
    weighted = docs.select(id_col, group_col).join(clusters, id_col, "left").select(
        F.col(group_col),
        F.coalesce(
            F.lit(1.0) / F.col("cluster_size").cast("double"), F.lit(1.0)
        ).alias("__w"),
        F.col("cluster_size").isNotNull().alias("__clustered"),
    )
    return weighted.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__clustered"), 1).otherwise(0)).cast("long").alias("n_dup_docs"),
        F.round(F.sum("__w"), 4).alias("effective_docs"),
        F.round(F.sum("__w") / F.count(F.lit(1)), 6).alias("dedup_ratio"),
    )


def adaptive_quality_cutoff(
    docs: DataFrame,
    group_col: str = "lang",
    drop_frac: float = 0.1,
    decimals: int = 3,
) -> DataFrame:
    """Per-group ADAPTIVE quality filter: drop each group's worst
    ``drop_frac`` tail by quality score, with the cutoff derived from
    the group's own score distribution (a fixed global threshold
    over- or under-filters whichever language/source scores on a
    different scale — the CCNet lesson).

    The cutoff is the lower empirical ``drop_frac``-quantile on the
    score QUANTIZED to ``decimals`` places (type-1, no interpolation):
    cutoff = the smallest quantized score whose cumulative count
    exceeds floor(drop_frac · n). Exact-integer logic — no
    interpolated-float threshold that two engines could disagree on at
    1 ulp — and the whole computation runs on the (group × quantized
    score) COUNT HISTOGRAM: the corpus collapses to ≤ 10^decimals+1
    rows per group in one aggregate, the ordered windows scan only
    that bounded dictionary, and kept counts read off the same
    histogram (docs at the cutoff value stay).

    Returns (group_col, cutoff, n_docs, n_kept, kept_frac).
    """
    if not 0.0 <= drop_frac < 1.0:
        raise ValueError(f"adaptive_quality_cutoff: drop_frac {drop_frac} not in [0,1)")
    qs = F.round(F.col("quality_score"), decimals)
    hist = (
        quality_features(docs)
        .select(F.col(group_col), qs.alias("__qs"))
        .groupBy(group_col, "__qs")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy("__qs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(group_col)
    h = hist.select(
        F.col(group_col),
        F.col("__qs"),
        F.sum("__cnt").over(wcum).alias("__cum"),
        F.sum("__cnt").over(wall).alias("__n"),
    ).withColumn("__kdrop", F.floor(F.lit(drop_frac) * F.col("__n")))
    return h.groupBy(group_col).agg(
        F.min(F.when(F.col("__cum") > F.col("__kdrop"), F.col("__qs"))).alias("cutoff"),
        F.max("__n").alias("n_docs"),
        (
            F.max("__n")
            - F.coalesce(
                F.max(F.when(F.col("__cum") <= F.col("__kdrop"), F.col("__cum"))),
                F.lit(0),
            )
        ).alias("n_kept"),
    ).select(
        group_col,
        "cutoff",
        "n_docs",
        "n_kept",
        F.round(F.col("n_kept").cast("double") / F.col("n_docs"), 6).alias("kept_frac"),
    )


def exact_group_sample(
    df: DataFrame,
    group_col: str = "lang",
    k: int = 30,
    id_col: str = "doc_id",
    salt: str = "exact:",
) -> DataFrame:
    """EXACT-size per-group sample: exactly min(k, n_group) rows per
    group, drawn by salted-md5 order — the eval-set builder's contract
    ("give me exactly 10k docs per language") that Bernoulli sampling
    (q39) can only hit in expectation. Deterministic, layout- and
    engine-independent, and STABLE UNDER APPENDS in the prefix sense:
    a new row displaces at most one sampled row (the hash order is a
    fixed permutation of ids).

    The per-group cut is the exact salted two-phase top-k
    (similarity._salted_topk): group × salt local top-k over hash
    order, then a rank over ≤ k·n_salts survivors — no reducer ever
    sorts a corpus-scale group (the r6-verdict rule applied to
    sampling).

    Returns (group_col, id_col, sample_rank 1..k).
    """
    from .dedup import md5_hash60
    from .similarity import _salted_topk

    h = md5_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    scored = df.select(F.col(group_col), F.col(id_col)).withColumn("__h", h)
    out = _salted_topk(
        scored,
        [group_col],
        [F.col("__h").asc(), F.col(id_col).asc()],
        k,
        id_col=id_col,
        rank_col="sample_rank",
    )
    return out.select(
        group_col, id_col, F.col("sample_rank").cast("int").alias("sample_rank")
    )
