"""Fixture + plan-shape coverage for the r4-verdict items:

1. Hand-computed fixtures for q129 (PMI collocations), q130 (path
   trigrams), q131 (key-skew audit) — the three registry entries that
   previously shipped with oracles but no pytest.
2. The global-top-k plan fix: q122/q129/q130 must cut with
   TakeOrderedAndProject (per-partition heap + k-row merge) and run
   their rank window over the ≤k survivors only — never a
   single-partition sort of the full pair/path dictionary.
3. roc_auc's continuous-score guard: a fractional score column is
   refused without quantization (the distinct-score window would be
   corpus-sized), and quantized scores produce the exact tie-aware
   Mann-Whitney value.
4. A lint sweep over EVERY registry plan: no unpartitioned ordered
   Window over unbounded input may enter the registry unnoticed — the
   shape the r4 verdict caught in q122/q129/q130. Known
   dictionary-bounded windows are allowlisted with their justification
   and the allowlist is exact (a fixed query must leave it).
"""

import math

import pytest

from big_data_hdfs_ray_vs_spark_spark import queries
from big_data_hdfs_ray_vs_spark_spark.operators import ml
from big_data_hdfs_ray_vs_spark_spark.operators.profile import key_skew_audit
from big_data_hdfs_ray_vs_spark_spark.operators.temporal import event_path_trigrams
from big_data_hdfs_ray_vs_spark_spark.operators.text import pmi_collocations
from big_data_hdfs_ray_vs_spark_spark.sources.layout import physical_plan
from tools.plan_audit import (
    bnlj_violations,
    bounded_partition_window_violations,
    global_window_violations,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- q129
def test_pmi_collocations_hand_fixture(spark):
    # corpus: 8×"a b", 5×"a c", 5×"q r"  (pair floor = 5 keeps all)
    # bi: (a,b)=8 (a,c)=5 (q,r)=5; c1: a=13 q=5; c2: b=8 c=5 r=5; N=18
    # PMI(q,r) = ln(5·18/(5·5)) = ln(3.6);  PMI(a,b) = PMI(a,c)
    #          = ln(18/13) — a tie, broken by the (w1, w2) pair order.
    docs = spark.createDataFrame(
        [("a b",)] * 8 + [("a c",)] * 5 + [("q r",)] * 5, "text string"
    )
    rows = pmi_collocations(docs, "text").collect()
    got = [(r.w1, r.w2, r.pair_count, r.pmi, r.rank) for r in rows]
    assert got == [
        ("q", "r", 5, round(math.log(3.6), 6), 1),
        ("a", "b", 8, round(math.log(18 / 13), 6), 2),
        ("a", "c", 5, round(math.log(18 / 13), 6), 3),
    ]


def test_pmi_min_count_floor(spark):
    # every pair below the default floor of 5 → empty result
    docs = spark.createDataFrame([("a b",)] * 4 + [("c d",)] * 3, "text string")
    assert pmi_collocations(docs, "text").count() == 0


# ---------------------------------------------------------------- q130
def test_path_trigrams_hand_fixture(spark):
    ev = spark.createDataFrame(
        [
            # user 1: A→B→C→D  (trigrams ABC, BCD)
            (1, "A", 10, 100),
            (1, "B", 20, 101),
            (1, "C", 30, 102),
            (1, "D", 40, 103),
            # user 2: A→B→C  (trigram ABC)  — ts tie broken by event_id
            (2, "A", 10, 200),
            (2, "B", 10, 201),
            (2, "C", 20, 202),
        ],
        "user_id int, event_type string, ts int, event_id int",
    )
    rows = event_path_trigrams(ev).collect()
    got = [(r.step1, r.step2, r.step3, r.n_paths, r.rank) for r in rows]
    assert got == [("A", "B", "C", 2, 1), ("B", "C", "D", 1, 2)]


def test_path_trigrams_never_crosses_users(spark):
    # two users, two events each: no trigram may span the boundary
    ev = spark.createDataFrame(
        [(1, "A", 1, 1), (1, "B", 2, 2), (2, "C", 3, 3), (2, "D", 4, 4)],
        "user_id int, event_type string, ts int, event_id int",
    )
    assert event_path_trigrams(ev).count() == 0


# ---------------------------------------------------------------- q131
def test_key_skew_audit_hand_fixture(spark):
    # keys: a×4 b×2 c×1 d×1 (+ null, excluded) → n=8, k=4
    # asc rank by (count, key): c=1,d=2,b=3,a=4 → Σi·c = 1+2+6+16 = 25
    # gini = 2·25/(4·8) − 5/4 = 0.3125
    # entropy = ln 8 − (4ln4 + 2ln2)/8
    df = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 2 + [("c",)] + [("d",)] + [(None,)],
        "k string",
    )
    r = key_skew_audit(df, "k").first()
    assert (r.n_rows, r.n_keys) == (8, 4)
    assert r.max_key_share == 0.5
    assert r.top10_share == 1.0
    assert r.gini == 0.3125
    assert r.entropy == round(
        math.log(8) - (4 * math.log(4) + 2 * math.log(2)) / 8, 6
    )


# ------------------------------------------------------- roc_auc guard
def test_roc_auc_refuses_continuous_scores(spark):
    df = spark.createDataFrame(
        [(0.1, True), (0.2, False)], "score double, y boolean"
    )
    with pytest.raises(ValueError, match="score_round"):
        ml.roc_auc(df, "score", "y")


def test_roc_auc_quantized_exact_and_tie_aware(spark):
    # grid 1dp: 0.14→0.1(neg) 0.26→0.3(pos) 0.34→0.3(neg) 0.55→0.6(pos)
    # distinct scores: 0.1(0p,1n) 0.3(1p,1n) 0.6(1p,0n); P=N=2
    # AUC = [1·(1 + 1/2) + 1·(2 + 0/2)] / 4 = 3.5/4 = 0.875
    df = spark.createDataFrame(
        [(0.14, False), (0.26, True), (0.34, False), (0.55, True)],
        "score double, y boolean",
    )
    r = ml.roc_auc(df, "score", "y", score_round=1).first()
    assert (r.auc, r.n_pos, r.n_neg) == (0.875, 2, 2)


def test_roc_auc_integer_scores_unchanged(spark):
    # discrete scores need no quantization — the q114 calling shape
    df = spark.createDataFrame(
        [(1, False), (2, True), (3, True)], "score int, y boolean"
    )
    r = ml.roc_auc(df, "score", "y").first()
    assert (r.auc, r.n_pos, r.n_neg) == (1.0, 2, 1)


# ----------------------------------------------- top-k plan shape pins
@pytest.mark.parametrize(
    "qname",
    ["q122_copurchase_pairs", "q129_pmi_collocations", "q130_path_trigrams"],
)
def test_topk_is_take_ordered_not_global_sort(spark, qname):
    plan = physical_plan(queries.all_queries()[qname](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert global_window_violations(plan) == [], plan


# --------------------------------------------------- registry-wide lint
# Unpartitioned ordered windows whose input is a BOUNDED dictionary by
# construction — each entry carries the bound that justifies it. A
# query fixed to TakeOrderedAndProject (or newly violating) must be
# removed from / added to this list explicitly.
GLOBAL_WINDOW_ALLOWED = {
    # distinct-score dictionary; fractional scores are refused unless
    # quantized onto a decimal grid (roc_auc's score_round guard)
    "q114_roc_auc",
    # cumulative over the ECDF_RESOLUTION-quantized value grid — the
    # dictionary is value-range × 10^resolution, not corpus-sized
    "q120_ecdf_transform",
    # exact-rank Gini: the cumulative-offset window runs over the
    # distinct count-VALUE histogram (≈√(2·n_keys) rows under a Zipf
    # tail — r5 rewrite), never the key dictionary; top-10 is a
    # TakeOrdered cut
    "q131_key_skew_audit",
    # supplier-index row_number: the global window runs over the
    # SUPPLIER table — a dimension (|suppliers| rows) by construction,
    # never the lineitem fact side
    "q181_negative_edges",
    # Kaplan-Meier: both ordered windows (reversed-cumulative at-risk,
    # day ordering for the fold) run over the per-LIFETIME-DAY
    # aggregate — a calendar-bounded dictionary (observation span in
    # days, ≤ a few thousand rows at ANY corpus size), never the
    # per-user table and never the event stream
    "q204_survival_retention",
    # skyline: the running strictly-previous max runs over the
    # per-DATE max table — the same calendar-bounded dictionary; the
    # orders fact is reduced by a hash aggregate BEFORE the window and
    # rejoined by broadcast after
    "q208_skyline",
    # NOTE q191 (quality classifier) runs its eval-AUC window EAGERLY
    # inside the operator (driver-optimizer convention), so the
    # registry plan the sweep sees is the final literal table — the
    # window itself is the roc_auc op, whose bounded-grid discipline
    # q114 pins here.
}


# BNLJ sides the static lint cannot prove bounded but are — each entry
# carries the bound. The lint auto-blesses limits, local relations,
# KEYLESS (one-row) aggregates — including ones inside cached/AQE
# subplans (the r8-verdict tree-walk fix retired q88's entry) — and
# tiny literal Ranges (≤4096 rows; retired q184's entry); the
# remaining entries cross a KEYED aggregate whose key set is a bounded
# dictionary by construction.
BNLJ_ALLOWED = {
    # class priors: groupBy(label) aggregate — |labels| rows (binary
    # label here; bounded by the label vocabulary, never the corpus)
    "q113_naive_bayes",
    # per-source shingle profiles crossed for pairwise overlap —
    # |sources|² cells, a handful of sources by construction
    "q124_source_overlap",
    # eval-set crossJoin: the build side is the benchmark slice
    # ``id % eval_mod == 0 AND id < eval_mod·max_eval`` — an id-RANGE
    # filter bounding it to ≤512 rows by construction (a filter, not
    # a LIMIT, so membership is deterministic under duplicate ids;
    # the lint can only see LIMIT/local-relation/keyless-agg bounds)
    "q168_semantic_decontamination",
    # anchor × OTHER-label expansion: the non-equi side is the
    # DISTINCT-label dictionary (a keyed aggregate bounded by the label
    # vocabulary); the corpus side then joins the expanded targets with
    # a plain equi-join on label — the corpus itself never enters a
    # nested loop (operators/similarity.py:hard_negative_mining)
    "q156_hard_negatives",
    # benchmark-query crossJoin: the build side is the eval query set
    # ``vec_id % EVERY == 0 AND vec_id < EVERY * MAX_QUERIES`` — an
    # id-RANGE filter bounding it to ≤ KNN_METRICS_MAX_QUERIES (512)
    # rows by construction (the q168 convention: a filter, not a
    # LIMIT, keeps membership deterministic under duplicate ids; the
    # lint only auto-blesses LIMIT/local-relation/keyless-agg bounds)
    "q201_knn_label_metrics",
}


# Partitioned+ordered windows the bounded-partition lint flags (rank
# over rows fed by a BroadcastNestedLoopJoin) that are NOT the scale
# bug — each entry carries the bound that justifies it. The PQ family
# (q141/q142/q143) must pass WITHOUT an entry here: their rank windows
# are excused only by the salted two-phase cut (the r6-verdict fix).
BOUNDED_PART_WINDOW_ALLOWED = {
    # per-class token rank: the window input is the token×class
    # likelihood table (vocabulary-scale dictionary, not the corpus);
    # the BNLJ below it is the class-priors normalizer — a
    # groupBy(label) aggregate bounded by the label vocabulary
    "q113_naive_bayes",
    # CI rank window: the input is the (event_type, replica) MEANS
    # table — |groups|·B rows (B=32) by construction; the BNLJ below
    # it is the 32-row replica Range
    "q184_bootstrap_ci",
}


def test_no_unbounded_global_windows_in_registry(spark):
    # one sweep, three lints: global ordered windows, corpus×corpus
    # BNLJ, and bounded-partition ranks over BNLJ-fed corpus-scale rows
    # — a new violator must either restructure (bound/salt one side)
    # or justify its dictionary bound in the matching allowlist
    flagged = {}
    bnlj_flagged = {}
    bp_flagged = {}
    for name, fn in queries.all_queries().items():
        spark.catalog.clearCache()
        plan = physical_plan(fn(spark, SF))
        v = global_window_violations(plan)
        if v:
            flagged[name] = v
        b = bnlj_violations(plan)
        if b:
            bnlj_flagged[name] = b
        bp = bounded_partition_window_violations(plan)
        if bp:
            bp_flagged[name] = bp
    unexpected = {k: v for k, v in flagged.items() if k not in GLOBAL_WINDOW_ALLOWED}
    stale = GLOBAL_WINDOW_ALLOWED - flagged.keys()
    assert not unexpected, (
        "single-partition ordered Window over unbounded input — cut with "
        f"orderBy().limit(k) first (the q94/q122 pattern): {unexpected}"
    )
    assert not stale, f"allowlist entries no longer flagged — remove: {stale}"
    bnlj_unexpected = {k: v for k, v in bnlj_flagged.items() if k not in BNLJ_ALLOWED}
    bnlj_stale = BNLJ_ALLOWED - bnlj_flagged.keys()
    assert not bnlj_unexpected, (
        "BroadcastNestedLoopJoin with no bounded side (corpus × corpus) — "
        f"bound one side or restructure to an equi-join: {bnlj_unexpected}"
    )
    assert not bnlj_stale, f"BNLJ allowlist entries no longer flagged — remove: {bnlj_stale}"
    bp_unexpected = {
        k: v for k, v in bp_flagged.items() if k not in BOUNDED_PART_WINDOW_ALLOWED
    }
    bp_stale = BOUNDED_PART_WINDOW_ALLOWED - bp_flagged.keys()
    assert not bp_unexpected, (
        "rank window with a bounded partition key over corpus-scale rows "
        "(the q141 scale bug class) — cut with the salted two-phase top-k "
        f"(similarity._salted_topk): {bp_unexpected}"
    )
    assert not bp_stale, (
        f"bounded-partition allowlist entries no longer flagged — remove: {bp_stale}"
    )


def test_bounded_partition_lint_detects_unsalted_rank_over_bnlj(spark):
    # positive control: rebuild the OLD q141 shape — rank window
    # partitioned by a broadcast query batch over crossJoin output —
    # and assert the lint flags it; the salted two-phase cut of the
    # SAME scored rows must pass.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_hdfs_ray_vs_spark_spark.operators.similarity import _salted_topk
    from big_data_hdfs_ray_vs_spark_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    queries_df = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id")
    )
    scored = emb.crossJoin(F.broadcast(queries_df)).select(
        "query_id", "vec_id", (F.col("vec_id") % 97).alias("d")
    )
    old = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("vec_id"))
        ),
    ).filter(F.col("rank") <= 5)
    assert bounded_partition_window_violations(physical_plan(old)), "old shape must flag"
    fixed = _salted_topk(
        scored, ["query_id"], [F.asc("d"), F.asc("vec_id")], 5, "vec_id", rank_col="rank"
    )
    assert bounded_partition_window_violations(physical_plan(fixed)) == []


def test_bnlj_lint_detects_unbounded_cross_join(spark):
    # positive control: a genuine corpus × corpus crossJoin must flag
    from big_data_hdfs_ray_vs_spark_spark.sources import load_table

    li = load_table(spark, SF, "lineitem").select("l_orderkey")
    docs = load_table(spark, SF, "documents").select("doc_id")
    plan = physical_plan(li.crossJoin(docs))
    assert bnlj_violations(plan), plan
    # bounded control: crossing with a 1-row literal must NOT flag
    one = spark.createDataFrame([(1,)], "x int")
    plan2 = physical_plan(li.crossJoin(one))
    assert bnlj_violations(plan2) == [], plan2


# ------------------------------------------- non-AQE plan fixtures
# Formatted plans as Spark prints them with AQE off (the local
# profile): codegen nodes carry a "* " prefix and their detail headers
# a "[codegen id : N]" suffix, and a reused exchange is a
# ReusedExchange leaf that names the operator it reuses.
RANGE_SIDE_PLAN = """\
== Physical Plan ==
* BroadcastNestedLoopJoin Cross BuildRight (5)
:- * ColumnarToRow (2)
:  +- Scan parquet  (1)
+- BroadcastExchange (4)
   +- * Range (3)


(1) Scan parquet 
Output [1]: [l_orderkey#0L]
Batched: true
ReadSchema: struct<l_orderkey:bigint>

(2) ColumnarToRow [codegen id : 2]
Input [1]: [l_orderkey#0L]

(3) Range [codegen id : 1]
Output [1]: [id#21L]
Arguments: Range (0, 32, step=1, splits=Some(4))

(4) BroadcastExchange
Input [1]: [id#21L]
Arguments: IdentityBroadcastMode, [plan_id=18]

(5) BroadcastNestedLoopJoin [codegen id : 2]
Join type: Cross
Join condition: None
"""

REUSED_COUNT_SIDE_PLAN = """\
== Physical Plan ==
Union (17)
:- * BroadcastNestedLoopJoin Cross BuildRight (11)
:  :- * ColumnarToRow (2)
:  :  +- Scan parquet  (1)
:  +- BroadcastExchange (10)
:     +- * HashAggregate (9)
:        +- Exchange (8)
:           +- * HashAggregate (7)
:              +- * Project (6)
:                 +- * Filter (5)
:                    +- * ColumnarToRow (4)
:                       +- Scan parquet  (3)
+- * BroadcastNestedLoopJoin Cross BuildRight (16)
   :- * Filter (14)
   :  +- * ColumnarToRow (13)
   :     +- Scan parquet  (12)
   +- ReusedExchange (15)


(1) Scan parquet 
Output [1]: [l_orderkey#0L]
Batched: true
ReadSchema: struct<l_orderkey:bigint>

(2) ColumnarToRow [codegen id : 3]
Input [1]: [l_orderkey#0L]

(3) Scan parquet 
Output [1]: [doc_id#12L]
Batched: true
PushedFilters: [IsNotNull(doc_id)]
ReadSchema: struct<doc_id:bigint>

(4) ColumnarToRow [codegen id : 1]
Input [1]: [doc_id#12L]

(5) Filter [codegen id : 1]
Input [1]: [doc_id#12L]
Condition : isnotnull(doc_id#12L)

(6) Project [codegen id : 1]
Output: []
Input [1]: [doc_id#12L]

(7) HashAggregate [codegen id : 1]
Input: []
Keys: []
Functions [1]: [partial_count(1)]
Aggregate Attributes [1]: [count#62L]
Results [1]: [count#63L]

(8) Exchange
Input [1]: [count#63L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=119]

(9) HashAggregate [codegen id : 2]
Input [1]: [count#63L]
Keys: []
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#20L]
Results [1]: [count(1)#20L AS n#18L]

(10) BroadcastExchange
Input [1]: [n#18L]
Arguments: IdentityBroadcastMode, [plan_id=123]

(11) BroadcastNestedLoopJoin [codegen id : 3]
Join type: Cross
Join condition: None

(12) Scan parquet 
Output [1]: [l_orderkey#25L]
Batched: true
PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,5)]
ReadSchema: struct<l_orderkey:bigint>

(13) ColumnarToRow [codegen id : 6]
Input [1]: [l_orderkey#25L]

(14) Filter [codegen id : 6]
Input [1]: [l_orderkey#25L]
Condition : (isnotnull(l_orderkey#25L) AND (l_orderkey#25L > 5))

(15) ReusedExchange [Reuses operator id: 10]
Output [1]: [n#41L]

(16) BroadcastNestedLoopJoin [codegen id : 6]
Join type: Cross
Join condition: None

(17) Union
"""

REUSED_CORPUS_SIDE_PLAN = """\
== Physical Plan ==
Union (13)
:- * BroadcastNestedLoopJoin Cross BuildRight (7)
:  :- * ColumnarToRow (2)
:  :  +- Scan parquet  (1)
:  +- BroadcastExchange (6)
:     +- * Filter (5)
:        +- * ColumnarToRow (4)
:           +- Scan parquet  (3)
+- * BroadcastNestedLoopJoin Cross BuildRight (12)
   :- * Filter (10)
   :  +- * ColumnarToRow (9)
   :     +- Scan parquet  (8)
   +- ReusedExchange (11)


(1) Scan parquet 
Output [1]: [l_orderkey#0L]
Batched: true
ReadSchema: struct<l_orderkey:bigint>

(2) ColumnarToRow [codegen id : 2]
Input [1]: [l_orderkey#0L]

(3) Scan parquet 
Output [1]: [doc_id#12L]
Batched: true
PushedFilters: [IsNotNull(doc_id)]
ReadSchema: struct<doc_id:bigint>

(4) ColumnarToRow [codegen id : 1]
Input [1]: [doc_id#12L]

(5) Filter [codegen id : 1]
Input [1]: [doc_id#12L]
Condition : isnotnull(doc_id#12L)

(6) BroadcastExchange
Input [1]: [doc_id#12L]
Arguments: IdentityBroadcastMode, [plan_id=250]

(7) BroadcastNestedLoopJoin [codegen id : 2]
Join type: Cross
Join condition: None

(8) Scan parquet 
Output [1]: [l_orderkey#44L]
Batched: true
PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,5)]
ReadSchema: struct<l_orderkey:bigint>

(9) ColumnarToRow [codegen id : 4]
Input [1]: [l_orderkey#44L]

(10) Filter [codegen id : 4]
Input [1]: [l_orderkey#44L]
Condition : (isnotnull(l_orderkey#44L) AND (l_orderkey#44L > 5))

(11) ReusedExchange [Reuses operator id: 6]
Output [1]: [doc_id#55L]

(12) BroadcastNestedLoopJoin [codegen id : 4]
Join type: Cross
Join condition: None

(13) Union
"""


def test_bnlj_lint_reads_non_aqe_bounded_sides():
    # a 32-row Range whose header carries a codegen suffix, and a
    # keyless count reached through a ReusedExchange, both bound
    assert bnlj_violations(RANGE_SIDE_PLAN) == []
    assert bnlj_violations(REUSED_COUNT_SIDE_PLAN) == []


def test_bnlj_lint_flags_reused_corpus_side_without_aqe():
    # following a ReusedExchange judges the reused subtree: a corpus
    # scan stays unbounded on both joins
    assert bnlj_violations(REUSED_CORPUS_SIDE_PLAN) == [
        "BroadcastNestedLoopJoin (7): no bounded side",
        "BroadcastNestedLoopJoin (12): no bounded side",
    ]
