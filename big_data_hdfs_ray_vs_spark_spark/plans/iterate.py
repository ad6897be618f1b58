"""Iterate-until-converged driver with lineage control.

Catalyst does not handle iterative lineage (SURVEY §3.2): each loop
iteration builds a fresh logical plan on top of the previous state, so
without truncation the plan tree grows linearly and the scheduler
eventually drowns. The reference manages this by persist/unpersist per
round (pagerank_spark.py:163,193-196). We do the same, plus a periodic
``localCheckpoint`` to actually sever lineage (persist alone keeps the
full plan for fault recovery — at 1000 executors a lost cached block
would otherwise recompute the whole prefix).

This is the one per-round materialisation loop of the iterative plans
(PageRank, personalized PageRank, k-core, two-star CC, BFS, BPE).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def iterate_until(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    should_stop: Callable[[DataFrame, DataFrame, int], bool],
    max_iter: int = 20,
    checkpoint_every: int = 5,
    stop_forces: bool = False,
) -> tuple[DataFrame, int]:
    """Run ``state = step(state, i)`` until should_stop or max_iter.

    Every round materialises the new state before the old one is
    unpersisted: a checkpoint round (every ``checkpoint_every``-th)
    localCheckpoints it, truncating lineage; any other round persists
    it and forces it with ``count()``. An eager checkpoint of a
    narrow plan is one Spark job, a persist+count three. Returns
    (state, iterations).

    ``stop_forces=True`` declares that ``should_stop`` runs a Spark
    action consuming every partition of the new state (e.g. an
    aggregate over old ⋈ new). That action then does the forcing: the
    count is skipped and checkpoints are lazy. Only pass it when that
    contract holds; otherwise nothing materialises and the lineage
    chain grows unbounded.
    """
    state = state.persist()
    state.count()
    iterations = 0
    for i in range(max_iter):
        new_state = step(state, i)
        if (i + 1) % checkpoint_every == 0:
            new_state = new_state.localCheckpoint(eager=not stop_forces)
        else:
            new_state = new_state.persist()
            if not stop_forces:
                new_state.count()
        iterations = i + 1
        stop = should_stop(state, new_state, i)
        state.unpersist()
        state = new_state
        if stop:
            break
    return state, iterations
