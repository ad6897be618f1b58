"""Iterative BPE training (plans/bpe.py): hand-computed merge
sequence, greedy-leftmost merge semantics, early stop."""

from pyspark.sql import functions as F

from big_data_hdfs_ray_vs_spark_spark.plans import bpe


def test_bpe_train_hand_computed(spark, iterate_rounds):
    """The HF-tutorial-style corpus: hug x4, pug, pun, bun, hugs.
    (u,g)=6 then (h,ug)=5 then (u,n)=2; every remaining pair is a
    singleton -> early stop before the requested 10 merges, in the
    round that applies the third."""
    docs = spark.createDataFrame(
        [(1, "hug hug hug hug pug pun bun hugs")], "doc_id long, text string"
    )
    merges, table = bpe.bpe_train(docs, n_merges=10)
    assert merges == [("u", "g", 6), ("h", "ug", 5), ("u", "n", 2)]
    assert iterate_rounds == [3]
    vocab = {tuple(r["symbols"]): r["n"] for r in table.collect()}
    assert vocab == {
        ("hug",): 4,
        ("p", "ug"): 1,
        ("p", "un"): 1,
        ("b", "un"): 1,
        ("hug", "s"): 1,
    }
    table.unpersist()


def test_bpe_merge_is_greedy_leftmost(spark):
    """aaa with pair (a,a) merges the LEFT occurrence: [aa, a] — the
    fused symbol never re-matches as the pair's left element."""
    docs = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    merges, table = bpe.bpe_train(docs, n_merges=1)
    assert merges == [("a", "a", 4)]
    vocab = {tuple(r["symbols"]): r["n"] for r in table.collect()}
    assert vocab == {("aa", "a"): 2}
    table.unpersist()


def test_bpe_no_mergeable_pairs(spark):
    docs = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    merges, table = bpe.bpe_train(docs, n_merges=5)
    assert merges == []
    assert table.count() == 2
    table.unpersist()


def test_bpe_fold_stays_jvm_side(spark):
    """The merge fold is codegen — no Python evaluation nodes in the
    plan of a merged table."""
    from big_data_hdfs_ray_vs_spark_spark.sources.layout import physical_plan

    docs = spark.createDataFrame([(1, "hug hug")], "doc_id long, text string")
    table = bpe.word_symbol_table(docs)
    merged = bpe._merge_pair(table, "u", "g")
    plan = physical_plan(merged)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


# ---------------------------------------------------- bpe_encode
def _py_encode(word: str, merges) -> int:
    """Reference encoder: apply merges in training order, greedy
    leftmost within each pass (the _merge_pair fold semantics)."""
    syms = list(word)
    for a, b, *_ in [m if len(m) >= 2 else m for m in merges]:
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return len(syms)


def test_bpe_encode_matches_python_reference(spark):
    corpus = [(i, t) for i, t in enumerate(
        ["hug hug hug hug pug", "pun bun hugs", "hug pug pun", ""]
    )]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    merges, table = bpe.bpe_train(docs, n_merges=4)
    table.unpersist()
    got = {r.doc_id: (r.n_words, r.n_tokens, r.fertility)
           for r in bpe.bpe_encode(docs, merges).collect()}
    import re as _re
    for i, t in corpus:
        words = _re.findall("[a-z]+", t.lower())
        toks = sum(_py_encode(w, merges) for w in words)
        fert = round(toks / len(words), 6) if words else 0.0
        assert got[i] == (len(words), toks, fert), (i, got[i])


def test_bpe_encode_unseen_words_fall_back_to_chars(spark):
    train = spark.createDataFrame([(1, "hug hug hug")], "doc_id long, text string")
    merges, table = bpe.bpe_train(train, n_merges=2)
    table.unpersist()
    # "zzz" shares no merge: encodes to 3 single chars; "hug" to 1
    test = spark.createDataFrame([(7, "hug zzz")], "doc_id long, text string")
    r = bpe.bpe_encode(test, merges).first()
    assert (r.n_words, r.n_tokens, r.fertility) == (2, 4, 2.0)


def test_fixed_merges_oracle_invariant():
    # The q140 oracle replays each merge as an iterated boundary-
    # anchored replace, equivalent to the greedy fold ONLY when a != b
    # for every merge (see plans/bpe.py). Guard the literal list.
    for a, b in bpe.BPE_FIXED_MERGES:
        assert a != b, (a, b)
        assert a and b


def test_bpe_encode_fixed_merges_python_reference(spark):
    # q140's exact configuration against the pure-Python encoder,
    # including overlapping-run and merged-pair-feeds-later-merge text
    corpus = [
        (0, "the then and anther rather"),
        (1, "thethethe ananan"),
        (2, ""),
        (3, None),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_tokens, r.fertility)
           for r in bpe.bpe_encode(docs, bpe.BPE_FIXED_MERGES).collect()}
    import re as _re
    for i, t in corpus:
        words = _re.findall("[a-z]+", (t or "").lower())
        toks = sum(_py_encode(w, bpe.BPE_FIXED_MERGES) for w in words)
        fert = round(toks / len(words), 6) if words else 0.0
        assert got[i] == (len(words), toks, fert), (i, got[i])
