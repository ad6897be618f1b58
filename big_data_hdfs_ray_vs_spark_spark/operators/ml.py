"""Model-quality analytics over the corpus: count-based classifier
training/eval, rank statistics, and feature-association scoring.

These are the "is my training data / quality classifier any good"
operators of an LLM-data pipeline: a multinomial Naive Bayes trained
ON the corpus labels (the classic fast lang-id/quality bootstrap), a
tie-aware ROC-AUC for scoring rules, chi-squared term-class
association (feature selection / corpus drift vocabulary), and a
bigram LM fluency score (the add-k successor of operators.text.
unigram_nll). Everything is counts + joins + windows — fully
declarative, fully DuckDB-replayable, no UDFs.

Reference parity: the reference has no classifier surface; these
extend its quality-stats family (analysis/etl_spark.py quality
metrics) the way SURVEY §2's extension mandate asks.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable_round_scalar, whitespace_tokens, spread_small_input

# Single-sourced smoothing / split constants (oracles import these —
# never inline the literals twice).
NB_ALPHA = 1.0
BIGRAM_K = 1.0
EVAL_SPLIT_MOD = 97  # the q51/q106/q112 convention: id % 97 == 0 ⇒ eval
PCA_POWER_ITERS = 3
PCA_ROUND = 6  # covariance / mean / eigenvector rounding (dp)


def _tokens(text_col: str) -> Column:
    return whitespace_tokens(F.lower(F.col(text_col)))


def naive_bayes_confusion(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    split_mod: int = EVAL_SPLIT_MOD,
) -> DataFrame:
    """Multinomial Naive Bayes lang-id: train on the ``id % mod != 0``
    split, score the ``id % mod == 0`` split, return the confusion
    matrix (true_label, pred_label, n_docs).

    Model: log P(c) = ln(N_c/N); log P(t|c) = ln((ct_tc + α)/(tot_c +
    α·V)) with α = NB_ALPHA and V = train vocabulary size. Scoring
    ignores out-of-vocabulary tokens (the standard closed-vocab NB);
    a document with no in-vocab tokens is classified by prior alone,
    so EVERY eval document gets exactly one prediction. NULL labels
    map to 'und' at the boundary on both engines (never a nullable
    output column), and such docs are excluded from training (no
    class evidence) but still scored when in the eval split.

    Scale shape: the model is (V·C) rows — dictionary × a handful of
    classes, orders smaller than the corpus, broadcast-joinable. The
    dense (term, class) grid comes from vocab ⋈ classes (never from
    the corpus), so zero-count cells smooth correctly. Scoring is one
    postings→model equi-join + one (doc, class) aggregate + one
    C-row-per-doc argmax window. Per-class scores round to 6dp BEFORE
    the argmax (ties break by label asc) so both engines pick the
    same winner.
    """
    labeled = df.select(
        F.col(id_col).alias("id"),
        _tokens(text_col).alias("toks"),
        F.coalesce(F.col(label_col), F.lit("und")).alias("label"),
    )
    train = labeled.filter((F.col("id") % split_mod != 0) & (F.col("label") != "und"))
    eval_ = labeled.filter(F.col("id") % split_mod == 0)

    n_train = train.count()
    if n_train == 0:
        # No labeled training evidence (e.g. a corpus whose labels are
        # all NULL): no model, no predictions — an empty confusion
        # matrix, not a crash on ln(0).
        return (
            eval_.select(
                F.col("label").alias("true_label"), F.col("label").alias("pred_label")
            )
            .limit(0)
            .withColumn("n_docs", F.lit(0).cast("bigint"))
        )

    tf_train = (
        spread_small_input(train)
        .select("label", F.explode("toks").alias("term"))
        .groupBy("label", "term")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    vocab = tf_train.select("term").distinct()
    v_size = vocab.count()
    priors = train.groupBy("label").agg(F.count(F.lit(1)).alias("n_c"))
    # Class token totals anchor on PRIORS (every train class), not on
    # the token counts: a class whose docs are all zero-token still
    # needs a model row per vocab term (tot 0 → logp = ln(1/V)), else
    # it would score prior+0 evidence and spuriously win every argmax.
    class_tot = priors.select("label").join(
        tf_train.groupBy("label").agg(F.sum("ct").alias("tot")), "label", "left"
    ).select("label", F.coalesce("tot", F.lit(0)).alias("tot"))

    # Dense (term, class) grid: vocab ⋈ classes, LEFT join the counts
    # so unseen-in-class terms get the α-smoothed floor.
    model = (
        vocab.crossJoin(F.broadcast(class_tot))
        .join(tf_train, ["label", "term"], "left")
        .select(
            "term",
            "label",
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(float(NB_ALPHA)))
                / (F.col("tot") + F.lit(float(NB_ALPHA * v_size)))
            ).alias("logp"),
        )
    )

    tf_eval = (
        spread_small_input(eval_)
        .select("id", F.explode("toks").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    evidence = (
        tf_eval.join(model, "term")
        .groupBy("id", "label")
        .agg(F.sum(F.col("tf") * F.col("logp")).alias("ev"))
    )
    # Every eval doc × every class: prior + (0 when no in-vocab tokens).
    scored = (
        eval_.select("id", F.col("label").alias("true_label"))
        .crossJoin(
            F.broadcast(
                priors.select(
                    F.col("label").alias("pred_label"),
                    (F.log(F.col("n_c")) - F.lit(math.log(n_train))).alias("logprior"),
                )
            )
        )
        .join(
            evidence.select("id", F.col("label").alias("pred_label"), "ev"),
            ["id", "pred_label"],
            "left",
        )
        .select(
            "id",
            "true_label",
            "pred_label",
            F.round(F.col("logprior") + F.coalesce(F.col("ev"), F.lit(0.0)), 6).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("pred_label"))
    preds = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        preds.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_label", "pred_label")
    )


def roc_auc(
    df: DataFrame,
    score_col: Column | str,
    label_col: Column | str,
    score_round: int | None = None,
) -> DataFrame:
    """Tie-aware ROC-AUC of a scoring rule against a boolean label via
    the Mann-Whitney rank statistic, computed WITHOUT a global
    per-row sort: rows collapse to (score → n_pos, n_neg) first
    (map-side combine), then one window over the DISTINCT scores
    (cardinality-bounded, not corpus-bounded) accumulates the
    negatives seen below each score. Ties contribute ½:

        AUC = Σ_s  p_s · (cum_neg_below_s + n_s/2)  /  (P·N)

    The "cardinality-bounded" window is only true when the score
    domain is discrete: a CONTINUOUS double score has ~one distinct
    value per row, turning the window into a corpus-sized
    single-partition sort. So fractional score columns are REFUSED
    unless ``score_round`` is given, which quantizes the score to
    that many decimal places first via the portable grid
    floor(x·10^d + 0.5)/10^d — monotonic and engine-identical, which
    is all a rank statistic needs (signed half-direction is
    irrelevant). Quantization makes the AUC approximate at the
    grid resolution — ties within a grid cell count ½ — which is the
    standard trade for a bounded-memory streaming/distributed AUC.

    NULL scores are excluded (not a measurement); NULL labels count
    as negative (coalesce false). Degenerate inputs (P=0 or N=0)
    return auc 0.0 rather than NULL/NaN. One row:
    (auc 6dp, n_pos, n_neg).
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(
        s.alias("score"), F.coalesce(y.cast("boolean"), F.lit(False)).alias("pos")
    ).filter(F.col("score").isNotNull())
    kind = dict(base.dtypes)["score"]
    fractional = kind in ("float", "double") or kind.startswith("decimal")
    if fractional and score_round is None:
        raise ValueError(
            f"roc_auc: score column is {kind}; a continuous score makes the "
            "distinct-score window corpus-sized (single-partition sort). "
            "Pass score_round=<dp> to quantize onto a bounded decimal grid, "
            "or cast a genuinely-discrete score to an integer type."
        )
    if score_round is not None:
        from ..functions import portable_round

        base = base.select(
            portable_round(F.col("score"), score_round).alias("score"), "pos"
        )
    per_score = base.groupBy("score").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("p_s"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("n_s"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "cum_neg", F.coalesce(F.sum("n_s").over(w), F.lit(0))
    )
    return ranked.agg(
        F.round(
            F.when(
                (F.sum("p_s") > 0) & (F.sum("n_s") > 0),
                F.sum(F.col("p_s") * (F.col("cum_neg") + F.col("n_s") / 2.0))
                # double product, not bigint·bigint — P·N overflows
                # int64 around 3B rows/side, and the oracle's
                # CAST(..)·sum arithmetic is double too.
                / (F.sum("p_s").cast("double") * F.sum("n_s")),
            ).otherwise(0.0),
            6,
        ).alias("auc"),
        F.coalesce(F.sum("p_s"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum("n_s"), F.lit(0)).alias("n_neg"),
    )


def chi2_terms(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """Chi-squared term-class association over document frequency —
    the classic feature-selection / "which vocabulary defines this
    slice" scan. For each (term, class) 2×2 contingency table
    (A = class docs containing term, B = other docs containing it,
    C/D = the complements):

        χ² = N·(AD − BC)² / ((A+B)(C+D)(A+C)(B+D))

    computed from three dictionary-scale aggregates: per-(term,class)
    df, per-term df, per-class doc counts — never a dense grid (a
    zero-df (term,class) cell can't be a top-k discriminator, so only
    observed pairs score). Zero denominators (a term in every doc, a
    class that is the whole corpus) guard to 0.0. χ² rounds to 4dp
    BEFORE the per-class top-k window (ties break by term asc).
    Unlabeled (NULL ``label_col``) docs are excluded — association
    against "no class" is not a class signal.

    Returns (label, term, chi2, rank) with rank ≤ ``top_k``.
    """
    labeled = df.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        _tokens(text_col).alias("toks"),
    )
    n_total = labeled.count()
    doc_terms = (
        spread_small_input(labeled)
        .select("id", "label", F.explode(F.array_distinct("toks")).alias("term"))
    )
    tc = doc_terms.groupBy("term", "label").agg(F.count(F.lit(1)).alias("a"))
    term_df = tc.groupBy("term").agg(F.sum("a").alias("df_t"))
    class_n = labeled.groupBy("label").agg(F.count(F.lit(1)).alias("n_c"))

    a = F.col("a").cast("double")
    b = (F.col("df_t") - F.col("a")).cast("double")
    c = (F.col("n_c") - F.col("a")).cast("double")
    d = (F.lit(n_total) - F.col("df_t") - F.col("n_c") + F.col("a")).cast("double")
    denom = (a + b) * (c + d) * (a + c) * (b + d)
    chi2 = F.when(
        denom > 0, F.lit(float(n_total)) * F.pow(a * d - b * c, 2) / denom
    ).otherwise(F.lit(0.0))

    scored = (
        tc.join(term_df, "term")
        .join(F.broadcast(class_n), "label")
        .select("label", "term", F.round(chi2, 4).alias("chi2"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("chi2"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("label", "term", "chi2", "rank")
    )


def bigram_nll(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document bigram-LM fluency score — the add-k successor of
    operators.text.unigram_nll: train P(w₂|w₁) = (c(w₁w₂)+k) /
    (ctx(w₁)+k·V) on the corpus itself (k = BIGRAM_K, V = unigram
    vocabulary size, ctx(w₁) = Σ_w₂ c(w₁w₂) so the distribution sums
    to 1 over the vocab), then score each document by the mean NLL of
    its own bigrams. Word-salad and shuffled/templated text score
    high even when every individual token is common — exactly what
    unigram NLL cannot see.

    STRICT bigrams (adjacent token pairs, zero for <2-token docs —
    not word_shingles' whole-text fallback, which would turn every
    short doc into one fake "bigram"). Zero-bigram docs return
    (0, 0.0) via the LEFT join, never NULL.

    Scale shape: one tokenize→(w₁,w₂) explode feeds two
    dictionary-scale aggregates (per-doc-pair tf, corpus pair counts);
    context totals re-aggregate the pair table (never a second corpus
    pass); V is one bounded scalar. Same postings⋈dictionary join
    shape as unigram_nll/tfidf.
    """
    toks = _tokens(text_col)
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs_arr = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m), lambda w1, w2: F.struct(
            w1.alias("w1"), w2.alias("w2")
        )
    )
    doc_pairs = (
        spread_small_input(df)
        .select(F.col(id_col).alias("id"), F.explode(pairs_arr).alias("pr"))
        .select("id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    )
    tf = doc_pairs.groupBy("id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    bi = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    ctx = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v_size = (
        df.select(F.explode(toks).alias("t")).agg(F.countDistinct("t")).first()[0] or 0
    )
    scored = (
        tf.join(bi, ["w1", "w2"])
        .join(ctx, "w1")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(
                F.sum(
                    -F.col("tf")
                    * F.log(
                        (F.col("c12") + F.lit(float(BIGRAM_K)))
                        / (F.col("c1") + F.lit(float(BIGRAM_K * v_size)))
                    )
                )
                / F.sum("tf"),
                6,
            ).alias("nll"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("nll", F.lit(0.0)).alias("nll"),
        )
    )


def calibration_bins(
    df: DataFrame,
    score_col: Column | str,
    label_col: Column | str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probability-like score in [0,1]:
    equal-width bins, each with its count, mean score, positive rate,
    and |gap| — the per-bin decomposition behind ECE/Brier that tells
    you WHERE a quality classifier is over/under-confident, not just
    that it is. One hash aggregate over ≤``bins`` keys (map-side
    combine; nothing sorts, nothing is corpus-wide but the scan).

    NULL scores are excluded (not a prediction); NULL labels count
    negative; score exactly 1.0 clamps into the top bin. mean_score /
    frac_pos / gap round at 6dp AFTER the division (gap from the
    unrounded means, so it cannot disagree with the rounded columns
    by more than the rounding itself). Returns
    (bin, n, mean_score, frac_pos, gap) ordered by bin.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(
        s.alias("score"), F.coalesce(y.cast("boolean"), F.lit(False)).alias("pos")
    ).filter(F.col("score").isNotNull())
    b = F.least(F.floor(F.col("score") * bins).cast("int"), F.lit(bins - 1))
    return (
        base.select(b.alias("bin"), "score", "pos")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("score") / F.count(F.lit(1)), 6).alias("mean_score"),
            F.round(
                F.sum(F.when(F.col("pos"), 1).otherwise(0)) / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
            F.round(
                F.abs(
                    F.sum("score") / F.count(F.lit(1))
                    - F.sum(F.when(F.col("pos"), 1).otherwise(0))
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("gap"),
        )
        .orderBy("bin")
    )


def _power_iteration(cov: dict, dim: int, iters: int) -> list[float]:
    """Dominant eigenvector of a (rounded) d×d covariance by power
    iteration from the deterministic 1/√d start. Pure sequential
    Python doubles — the SQL oracle unrolls the identical recurrence,
    so the only cross-engine daylight is summation association,
    absorbed by the PCA_ROUND output rounding. A zero matrix (or a
    vanishing iterate) keeps the previous vector rather than dividing
    by zero. Sign is fixed by making the largest-|component| (lowest
    index on ties) positive."""
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(iters):
        u = [sum(cov[(i, j)] * v[j] for j in range(dim)) for i in range(dim)]
        z = math.sqrt(sum(x * x for x in u))
        if z > 0:
            v = [x / z for x in u]
    imax = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[imax] < 0:
        v = [-x for x in v]
    # half-away on the scaled double (= DuckDB round), NOT Python's
    # half-even round(): a near-midpoint component would otherwise
    # desync every downstream projection from the oracle replay.
    return [portable_round_scalar(x, PCA_ROUND) for x in v]


def pca_label_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top principal component of the embedding cloud, verified
    end-to-end through per-label projection statistics — the
    "does my corpus have a dominant axis, and how do the slices sit
    on it" scan (drift detection, slice separation, whitening prep).

    Three stages, all bounded where it matters at 100 TB:
    1. MOMENTS, distributed: one chained posexplode pass emits
       (i, j, xᵢ·xⱼ) per row; the shuffle carries only d² keys per
       partition (map-side combine), d = vector dim — the corpus
       never moves. Cov = E[xy] − E[x]E[y] from the same pass's
       per-dimension sums. (A production knob: mapInPandas X·Xᵀ per
       Arrow batch halves the constant; the declarative pass keeps
       the oracle replayable.)
    2. EIGENVECTOR, driver: power iteration on the d×d matrix —
       bounded by dim², never by rows. Cov entries round to
       PCA_ROUND dp first so both engines iterate identical inputs;
       PCA_POWER_ITERS fixed rounds, deterministic 1/√d start,
       sign-fixed (largest-|component| positive).
    3. PROJECTION, distributed: proj = Σⱼ (xⱼ−mⱼ)·vⱼ against the
       broadcast rounded mean/eigenvector literals; per-label
       mean/variance from explicit sum/count arithmetic (identical
       expression on both engines — never var_pop, whose Welford
       accumulation order is engine-specific).

    Rows whose vector length differs from the modal dim are excluded
    (a truncated vector is not a point in the space); NULL labels
    group under -1. Returns (label, n_vecs, mean_proj 4dp,
    var_proj 4dp)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(label_col), F.lit(-1)).alias("label"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # MODAL dim (ties → smaller), not max: one corrupt oversized
    # vector must not become the space every valid vector is
    # excluded from (the docstring's rule, now actually implemented).
    mode = (
        base.filter(F.col("v").isNotNull())
        .groupBy(F.size("v").alias("__d"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__d"))
        .first()
    )
    dim = mode["__d"] if mode else 0
    if dim == 0:
        return (
            base.select("label")
            .limit(0)
            .select(
                "label",
                F.lit(0).cast("bigint").alias("n_vecs"),
                F.lit(0.0).alias("mean_proj"),
                F.lit(0.0).alias("var_proj"),
            )
        )
    base = base.filter(F.size("v") == dim)
    n = base.count()

    flat = base.select(
        "v", F.posexplode("v").alias("i", "xi")
    )
    sums_i = flat.groupBy("i").agg(F.sum("xi").alias("si")).collect()
    pair_sums = (
        flat.select("i", "xi", F.posexplode("v").alias("j", "xj"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("sxy"))
        .collect()
    )
    si = {r["i"]: r["si"] for r in sums_i}
    cov = {
        (r["i"], r["j"]): portable_round_scalar(
            r["sxy"] / n - (si[r["i"]] / n) * (si[r["j"]] / n), PCA_ROUND
        )
        for r in pair_sums
    }
    v = _power_iteration(cov, dim, PCA_POWER_ITERS)
    m = [portable_round_scalar(si[i] / n, PCA_ROUND) for i in range(dim)]

    vlit = F.array(*[F.lit(x) for x in v])
    mlit = F.array(*[F.lit(x) for x in m])
    proj = F.round(
        F.aggregate(
            F.zip_with(
                F.zip_with(F.col("v"), mlit, lambda x, mm: x - mm),
                vlit,
                lambda c, vv: c * vv,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        PCA_ROUND,
    )
    per = base.select("label", proj.alias("p"))
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("p") / F.count(F.lit(1)), 4).alias("mean_proj"),
            F.round(
                F.sum(F.col("p") * F.col("p")) / F.count(F.lit(1))
                - F.pow(F.sum("p") / F.count(F.lit(1)), 2),
                4,
            ).alias("var_proj"),
        )
        .select("label", "n_vecs", "mean_proj", "var_proj")
    )


# ----------------------------------------------------------- logreg
# Trained quality classifier (the classic fasttext/logreg LLM-curation
# stage): full-batch logistic regression by driver-coordinated gradient
# descent over EXACT distributed gradient partials — the q117 PCA
# convention (d-bounded driver optimizer, corpus never moves). All
# constants single-sourced here; oracles._logreg_sql replays the exact
# recurrence (same rounding, same op order) as unrolled CTEs.
LOGREG_ITERS = 10
LOGREG_LR = 6.0
LOGREG_W_ROUND = 6  # weight rounding per update (dp)
LOGREG_G_ROUND = 8  # per-row gradient-term rounding before decimal sum
LOGREG_AUC_ROUND = 4  # margin quantization grid for the eval AUC
# feature j=0 is the intercept (constant 1.0)
LOGREG_FEATURES = [
    "intercept",
    "length_score",
    "stopword_density",
    "punct_ratio",
    "non_ascii_ratio",
]


def logreg_feature_matrix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(y, x0..x4) design matrix for the quality classifier. Features
    are the quality_features ratios plus the lang-id non-ASCII rate —
    each in [0,1] (no standardization pass needed) and rounded to 6dp
    so both engines iterate on identical inputs. The label is the
    RULE-DISTILLATION target of LLM curation (weak-label a corpus with
    a cheap rule, train a smooth scorer to generalize it):
    y = 1 iff x1 + x2 ≥ 0.8 (long AND/OR stopword-dense) — a linear
    rule defined on the ROUNDED features, so the problem is separable
    up to boundary mass and both engines label identically. x2 is the
    ×5-saturated stopword density (q20's quality-score term), putting
    it on x1's scale so gradient descent moves both coordinates. NULL text
    has zero tokens/chars ⇒ all-zero features (the engine-wide
    empty-body invariant), never NULL-propagation."""
    text = F.col(text_col)
    toks = whitespace_tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.coalesce(F.length(text), F.lit(0))
    punct = n_chars - F.coalesce(
        F.length(F.regexp_replace(text, r"[^\w\s]", "")), F.lit(0)
    )
    non_ascii = F.coalesce(
        F.length(F.regexp_replace(text, r"[\x00-\x7F]", "")), F.lit(0)
    )
    from ..functions import portable_round
    from .text import _stopword_hits

    r6 = lambda c: portable_round(c, 6)  # noqa: E731 — all inputs >= 0
    stop_ratio = F.when(
        n_tokens > 0, _stopword_hits(toks).cast("double") / n_tokens
    ).otherwise(0.0)
    xcols = df.select(
        F.lit(1.0).alias("x0"),
        r6(F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))).alias("x1"),
        r6(F.least(stop_ratio * 5, F.lit(1.0))).alias("x2"),
        r6(
            F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(0.0)
        ).alias("x3"),
        r6(
            F.when(n_chars > 0, non_ascii.cast("double") / n_chars).otherwise(0.0)
        ).alias("x4"),
    )
    return xcols.select(
        F.when(F.col("x1") + F.col("x2") >= 0.8, 1.0)
        .otherwise(0.0)
        .alias("y"),
        "x0",
        "x1",
        "x2",
        "x3",
        "x4",
    )


def logreg_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    iters: int = LOGREG_ITERS,
    lr: float = LOGREG_LR,
) -> DataFrame:
    """Train the rule-distillation quality classifier and report
    coefficients + training metrics — one (component, value) row each.

    Optimizer shape (the 100 TB contract): full-batch gradient descent
    where each iteration is ONE hash aggregate over the persisted
    design matrix — per-row gradient terms xⱼ·(σ(w·x)−y) are rounded
    to LOGREG_G_ROUND dp (portable_round_signed ≡ DuckDB round) and
    summed as DECIMAL(28,8) for exact order-independent addition, so
    the d+1 collected partials (and hence every weight trajectory) are
    bit-identical across engines and layouts. The driver holds only
    the (d+1)-vector; the corpus never moves — iters+2 scans of a
    cached projection, map-side-combined to d+1 values per partition.
    Weights update w ← round(w − lr·(g/n), LOGREG_W_ROUND) through
    portable_round_scalar (= DuckDB round at either sign).

    Eval: training accuracy at the 0.5 threshold (z ≥ 0) and the
    tie-aware Mann-Whitney AUC of the final margin quantized onto the
    LOGREG_AUC_ROUND grid (roc_auc's bounded-window discipline).

    Returns (component, value): w0_intercept…w4_non_ascii,
    train_accuracy, train_auc, n_pos, n_docs."""
    from ..functions import portable_round_scalar, portable_round_signed

    if iters < 1:
        # iteration 1 is the pass that counts the corpus
        raise ValueError(f"logreg_quality_classifier: iters {iters} < 1")
    d = len(LOGREG_FEATURES)
    feats = logreg_feature_matrix(df, text_col).persist()
    w = [0.0] * d
    spark = feats.sparkSession
    xs = [F.col(f"x{j}") for j in range(d)]
    n = n_pos = None
    for it in range(iters):
        z = F.lit(w[0]) * xs[0]
        for j in range(1, d):
            z = z + F.lit(w[j]) * xs[j]
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        # Iteration 1 carries the (n, n_pos) head sums in the SAME
        # aggregate as its gradient partials — one fewer full-scan
        # job per fit; the gradient expressions are untouched, so the
        # weight trajectory is bit-identical (r10 job-floor pass).
        head_cols = (
            [F.count(F.lit(1)).alias("n"), F.sum("y").alias("np")]
            if it == 0
            else []
        )
        grads = feats.agg(
            *head_cols,
            *[
                F.sum(
                    portable_round_signed(
                        xs[j] * (sig - F.col("y")), LOGREG_G_ROUND
                    ).cast("decimal(28,8)")
                ).alias(f"g{j}")
                for j in range(d)
            ],
        ).first()
        if it == 0:
            n, n_pos = grads["n"], grads["np"] or 0.0
            if n == 0:
                feats.unpersist()
                rows = [(f"w{j}_{LOGREG_FEATURES[j]}", 0.0) for j in range(d)]
                rows += [("train_accuracy", 0.0), ("train_auc", 0.0),
                         ("n_pos", 0.0), ("n_docs", 0.0)]
                return spark.createDataFrame(
                    rows, "component string, value double"
                )
        w = [
            portable_round_scalar(
                w[j] - lr * (float(grads[f"g{j}"] or 0) / n), LOGREG_W_ROUND
            )
            for j in range(d)
        ]
    z = F.lit(w[0]) * xs[0]
    for j in range(1, d):
        z = z + F.lit(w[j]) * xs[j]
    from ..functions import portable_round

    # Accuracy + AUC in ONE action: both are 1-row frames over the
    # cached matrix, so a crossJoin evaluates them in a single job
    # instead of two (r10 job-floor pass; values unchanged — the same
    # two aggregate plans, just sharing an action).
    acc_df = feats.agg(
        portable_round(
            F.sum(
                F.when((z >= 0) == (F.col("y") == 1.0), 1).otherwise(0)
            ).cast("double")
            / n,
            6,
        ).alias("acc")
    )
    auc_df = roc_auc(
        feats.select(z.alias("score"), (F.col("y") == 1.0).alias("pos")),
        "score",
        "pos",
        score_round=LOGREG_AUC_ROUND,
    )
    ev = acc_df.crossJoin(auc_df).first()
    acc, auc = ev["acc"], ev["auc"]
    feats.unpersist()
    rows = [(f"w{j}_{LOGREG_FEATURES[j]}", w[j]) for j in range(d)]
    rows += [
        ("train_accuracy", float(acc)),
        ("train_auc", float(auc)),
        ("n_pos", float(n_pos)),
        ("n_docs", float(n)),
    ]
    return spark.createDataFrame(rows, "component string, value double")


# Stupid-backoff dials (q203), single-sourced with the oracle. Train
# on even doc_ids, score the odd held-out half — scoring the training
# corpus with an unsmoothed LM is vacuous (every bigram is seen, the
# backoff path never runs).
SB_ALPHA = 0.4


def stupid_backoff_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stupid-backoff bigram LM scoring (Brants et al. 2007) — the
    large-scale LM-quality filter that needs NO smoothing pass: train
    raw bigram/unigram counts on the even-id half of the corpus, score
    each odd-id document's bigrams as
      S(w2|w1) = c(w1 w2)/ctx(w1)        when the bigram was seen,
               = SB_ALPHA * c(w2)/T      otherwise (unigram backoff;
                                          0.0 for OOV w2)
    and return per held-out doc: (doc_id, n_bigrams, n_backoff,
    sb_score = mean S). Docs with < 2 tokens score (0, 0, 0.0).

    Determinism: every per-bigram S is pure IEEE arithmetic on integer
    counts (divisions and one multiply — no libm), portable-rounded to
    12dp and summed as DECIMAL (order-independent); the mean divides
    by the exact bigram count. Scale shape: the same
    postings-join-dictionary plan as bigram_nll — one tokenize pass
    per half, pair/context/unigram aggregates are dictionary-sized,
    and the scoring join fans each held-out bigram to exactly one
    dictionary row; T is the one bounded driver scalar."""
    from ..functions import portable_round

    base = spread_small_input(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    )
    train = base.filter(F.col("id") % 2 == 0)
    test = base.filter(F.col("id") % 2 != 0)
    toks_t = _tokens("__text")
    train_pairs = train.select(
        F.explode(
            F.zip_with(
                F.slice(toks_t, 1, F.greatest(F.size(toks_t) - 1, F.lit(0))),
                F.slice(toks_t, 2, F.greatest(F.size(toks_t) - 1, F.lit(0))),
                lambda w1, w2: F.struct(w1.alias("w1"), w2.alias("w2")),
            )
        ).alias("pr")
    ).select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    bi = train_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = (
        train.select(F.explode(toks_t).alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    t_total = train.select(F.sum(F.size(toks_t))).first()[0] or 0
    test_pairs = (
        test.select("id", F.explode(
            F.zip_with(
                F.slice(toks_t, 1, F.greatest(F.size(toks_t) - 1, F.lit(0))),
                F.slice(toks_t, 2, F.greatest(F.size(toks_t) - 1, F.lit(0))),
                lambda w1, w2: F.struct(w1.alias("w1"), w2.alias("w2")),
            )
        ).alias("pr"))
        .select("id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .groupBy("id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    s = F.when(
        F.col("c12").isNotNull(),
        F.col("c12").cast("double") / F.col("c1"),
    ).otherwise(
        F.lit(SB_ALPHA)
        * F.coalesce(F.col("cw"), F.lit(0)).cast("double")
        / F.lit(float(max(t_total, 1)))
    )
    scored = (
        test_pairs.join(bi, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(uni, "w2", "left")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.when(F.col("c12").isNull(), F.col("tf")).otherwise(0)).alias(
                "n_backoff"
            ),
            portable_round(
                F.sum(
                    (
                        portable_round(s, 12).cast("decimal(20,12)")
                        * F.col("tf")
                    )
                ).cast("double")
                / F.sum("tf"),
                6,
            ).alias("sb_score"),
        )
    )
    return (
        test.select("id")
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("n_backoff", F.lit(0)).cast("bigint").alias("n_backoff"),
            F.coalesce("sb_score", F.lit(0.0)).alias("sb_score"),
        )
    )
