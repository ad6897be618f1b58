"""Iterative BPE tokenizer training as a bounded driver loop.

q109 counts the FIRST merge round's pair frequencies; this plan runs
the actual training loop: per round, count adjacent symbol pairs over
the (distinct-word, count) table, pick the most frequent pair (one
bounded driver value — a single row, like PageRank's convergence
probe), and fuse it into the symbol sequences with a pure-codegen
``aggregate`` fold. No Python ever touches a row.

Scale shape: the loop state is the DISTINCT-WORD table — orders
smaller than the corpus (Heaps' law), built by one hash aggregate over
the token stream; every round after that costs one explode+aggregate
over words and one narrow fold projection. Both loops run on
``plans.iterate.iterate_until``, so each round's table is materialised
in one job before the previous one is released, and lineage is
truncated periodically: the fold's growing expression tree never
compounds across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import spread_small_input
from .iterate import iterate_until


def word_symbol_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(symbols array<string>, n) — distinct lowercased alphabetic
    words with corpus occurrence counts, split into single-character
    symbols. The corpus is touched ONCE; training iterates over this
    (vocabulary-sized) table only."""
    words = spread_small_input(docs).select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("w")
    )
    counted = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    symbols = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, 1),
    )
    return counted.select(symbols.alias("symbols"), "n")


def _pair_counts(table: DataFrame) -> DataFrame:
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("symbols") - 1),
        lambda i: F.struct(
            F.element_at("symbols", i).alias("a"),
            F.element_at("symbols", i + 1).alias("b"),
        ),
    )
    return (
        table.filter(F.size("symbols") >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .groupBy("p.a", "p.b")
        .agg(F.sum("n").alias("cnt"))
    )


def _merge_pair(table: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right fuse of (a, b) -> a||b inside each symbol
    array — a single codegen ``aggregate`` fold, the standard BPE merge
    semantics (an overlapping run like a,a,a with pair (a,a) merges the
    leftmost occurrence first, leaving aa,a)."""
    fused = F.lit(a + b)

    def step(acc, x):
        can_merge = (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b)
        # To extend the merged symbol's run correctly we must know the
        # PRE-merge neighbor, so track it: acc fold carries the array
        # only; the leftmost-first rule is satisfied because once a pair
        # fuses, element_at(acc, -1) is the fused symbol, not `a`.
        return F.when(
            can_merge,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(x)))

    merged = F.aggregate(
        "symbols", F.array().cast("array<string>"), step
    )
    others = [c for c in table.columns if c != "symbols"]
    return table.select(merged.alias("symbols"), *others)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges; returns (merges, final symbol
    table). merges = [(a, b, count), ...] in training order.

    Each round: one fold projection applying the last chosen pair,
    then ONE driver row — the argmax pair of the new table, ties
    broken by pair text for determinism. That argmax aggregates every
    partition of the new table, so it is also the round's forcing
    action (``stop_forces``). Stops early when no pair occurs twice —
    merging singletons is memorization, not compression."""
    table = word_symbol_table(docs, text_col).persist()
    merges: list[tuple[str, str, int]] = []

    def take_top_pair(_old: DataFrame, new: DataFrame, _i: int) -> bool:
        """Append ``new``'s most frequent pair to merges; True (stop)
        when no pair repeats or ``n_merges`` are already taken."""
        top = (
            _pair_counts(new)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2 or len(merges) == n_merges:
            return True
        merges.append((top[0]["a"], top[0]["b"], int(top[0]["cnt"])))
        return False

    if take_top_pair(table, table, -1):
        return merges, table
    table, _ = iterate_until(
        table,
        lambda t, i: _merge_pair(t, merges[i][0], merges[i][1]),
        take_top_pair,
        max_iter=n_merges,
        stop_forces=True,
    )
    return merges, table


# Fixed merge list for the q140 registry query — data-independent
# literals so the DuckDB oracle replays the identical fold. Hand-picked
# common English merges in plausible training order. INVARIANT the
# oracle relies on: a != b for every merge. The oracle replays each
# merge as an iterated boundary-anchored string replace run to
# fixpoint, which equals the greedy left-to-right fold ONLY when no
# two candidate occurrences can share a symbol — i.e. when a != b
# (with a == b, runs like [a,a,a,a,a] diverge). bpe_train CAN emit
# a == b merges; replaying those needs the per-element recursive fold
# instead. Enforced by tests/test_bpe.py.
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("a", "t"),
    ("e", "n"),
    ("o", "r"),
    ("e", "s"),
    ("an", "d"),
]


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply trained BPE merges to a corpus — the inference twin of
    :func:`bpe_train` — and report per-document token accounting under
    the learned vocabulary: (id, n_words, n_tokens, fertility), with
    fertility = tokens per word (the tokenizer-quality dial a corpus
    mix is tuned against; high fertility means the vocabulary fits the
    text badly).

    Scale shape: encoding is DICTIONARY work, never corpus work — the
    corpus collapses to its distinct-word table (Heaps' law), each
    merge applies as the same pure-codegen fold bpe_train uses (in
    training order, one ``iterate_until`` round each), and the corpus
    only ever joins the (word → token count) dictionary back on the
    word key. Zero-word documents read
    (0, 0, 0.0) — no model evidence, never NULL.
    """
    word_stream = spread_small_input(docs).select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    vocab = word_stream.select("w").distinct()
    symbols = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, 1),
    )
    table, _ = iterate_until(
        vocab.select(symbols.alias("symbols"), "w"),
        lambda t, i: _merge_pair(t, merges[i][0], merges[i][1]),
        lambda *_: False,
        max_iter=len(merges),
        checkpoint_every=1,  # one eager-checkpoint job per merge
    )
    lens = table.select("w", F.size("symbols").alias("__len"))
    per_doc = (
        word_stream.join(lens, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_words"),
            F.sum("__len").alias("__n_tokens"),
        )
    )
    out = (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("__n_words", F.lit(0)).alias("n_words"),
            F.coalesce("__n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(
                F.when(
                    F.col("__n_words") > 0,
                    F.col("__n_tokens").cast("double") / F.col("__n_words"),
                ).otherwise(0.0),
                6,
            ).alias("fertility"),
        )
    )
    # the final symbol table stays materialised (persisted or
    # checkpointed) so the caller's action reads the dictionary join
    # from it; it is vocabulary-sized,
    # and the JVM releases it with the session (the bpe_train policy)
    return out
