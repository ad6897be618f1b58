"""Iterate-until-converged driver with lineage control.

Catalyst does not handle iterative lineage (SURVEY §3.2): each loop
iteration builds a fresh logical plan on top of the previous state, so
without truncation the plan tree grows with every round and the
scheduler eventually drowns. The reference persists and unpersists per
round (pagerank_spark.py:163,193-196); persist alone keeps the whole
plan. Here every round's state is a ``localCheckpoint``, so each round
plans from a leaf.

This is the one per-round materialisation loop of the iterative plans
(PageRank, personalized PageRank, HITS, k-core, two-star CC, BFS, BPE).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def iterate_until(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    should_stop: Callable[[DataFrame, DataFrame, int], bool] | None = None,
    max_iter: int = 20,
) -> tuple[DataFrame, int]:
    """Run ``state = step(state, i)`` until ``should_stop(old, new, i)``
    or ``max_iter`` rounds; returns (state, rounds).

    The initial state is persisted and counted once, and released
    once round 1 has materialised. Every round's new state is a
    ``localCheckpoint``:
    - with a stop test the checkpoint is lazy, because the stop test
      must run an action that consumes every partition of ``new``
      (an aggregate over it), and that action fills the checkpoint;
    - with no stop test it is eager, one job per round.

    Nothing is left in the CacheManager. Checkpoint blocks carry no
    lineage: a lost executor fails the job instead of recomputing,
    and the ContextCleaner frees the blocks once their frames are
    garbage.
    """
    state = state.persist()
    state.count()
    rounds = 0
    for i in range(max_iter):
        new = step(state, i).localCheckpoint(eager=should_stop is None)
        rounds = i + 1
        stop = should_stop is not None and should_stop(state, new, i)
        state.unpersist()  # only the initial state is cached
        state = new
        if stop:
            break
    return state.unpersist(), rounds  # a no-op unless no round ran
