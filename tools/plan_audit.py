"""Plan audit: for every registry query, summarize the physical plan —
scan pushdown, read schema width, join strategies, exchange (shuffle)
count, codegen spans — into PLANS.md. The per-operator scale review
(SURVEY §7) iterates on this output: a scan without PushedFilters or a
join that shuffles a broadcastable side is a regression.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
# Spark's Python workers (mapInPandas stages) import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
)

from big_data_hdfs_ray_vs_spark_spark.queries import all_queries
from big_data_hdfs_ray_vs_spark_spark.session import get_spark
from big_data_hdfs_ray_vs_spark_spark.sources.layout import physical_plan


def summarize(plan: str) -> dict:
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan)
    # widest parquet ReadSchema — shows column pruning even for scans
    # with no pushable predicate (full-table top-k/agg/window)
    widths = [
        len(m.split(","))
        for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if m.strip()
    ]
    return {
        "exchanges": len(re.findall(r"\n\(\d+\) Exchange", plan)),
        "broadcasts": len(re.findall(r"\n\(\d+\) BroadcastExchange", plan)),
        "joins": "+".join(sorted(set(joins))) or "-",
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "scans": len(re.findall(r"\n\(\d+\) Scan parquet", plan)),
        "maxcols": max(widths) if widths else 0,
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "python": ("yes" if re.search(r"(ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)", plan) else "-"),
        "gwin": len(global_window_violations(plan)),
        "bnlj": len(bnlj_violations(plan)),
        "bpwin": len(bounded_partition_window_violations(plan)),
    }


# Unary operators a bounded limit's output legitimately flows through
# on its way into a rank window. Anything else between an
# unpartitioned Window and its data source means the window sorts the
# FULL input on one partition.
_PASSTHROUGH = {
    "Project",
    "Filter",
    "Sort",
    "Exchange",
    "AQEShuffleRead",
    "ColumnarToRow",
    "InputAdapter",
    "Coalesce",
    "AdaptiveSparkPlan",
    "ResultQueryStage",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
    "InMemoryTableScan",
    "WholeStageCodegen",
}
_BOUNDING = {"TakeOrderedAndProject", "CollectLimit", "GlobalLimit", "LocalLimit"}


_NODE_LINE = re.compile(
    # optional "* " prefix: formatted mode stars whole-stage-codegen
    # nodes except inside an AQE plan (AdaptiveSparkPlan prints its
    # final plan unstarred); simple mode always stars them. Trailing
    # annotations after the id — AQE query-stage stats
    # ("ShuffleQueryStage (55), Statistics(...)") and cache-scan flags
    # ("InMemoryTableScan (3) (columnarIn=...)") — previously made
    # those nodes INVISIBLE, which truncated BNLJ child-start detection
    # inside cached/adaptive subplans (r8 verdict item 6); accept them,
    # anchored on ", " or " (" so detail-section lines never match
    # (they start at column 0 anyway and the tree slice cuts first).
    r"^([:\s+|-]*?)(?:\* )?([A-Za-z][A-Za-z0-9 ]*?) \((\d+)\)(?:, .*| \(.*)?$"
)
def _parse_tree(plan: str) -> list[tuple[int, str, int]]:
    """(indent, name, id) per node of the formatted-explain tree
    section (everything before the first column-0 '(N) ' detail
    header — tree lines are always indented or +-/:-prefixed).

    Indent repair (r8 verdict item 6): executed/cached plans embed
    "== Final Plan ==" / "== Initial Plan ==" blocks whose indentation
    the formatter RE-BASES (an InMemoryRelation at visual depth 57
    prints its child plan starting at column 39), which used to
    truncate subtree walks mid-plan and hide a BNLJ's second child.
    The fix models the OUTER tree as a state machine over its rail
    (':') columns — the formatter's invariant for non-re-based lines is
    that a line's rail columns are exactly the open rails left of its
    arrow, and its indent is either deeper than the previous outer line
    (a child) or lands on an open rail + 3 (a sibling / last child).
    Lines violating the invariant are embedded-block content and are
    DROPPED: the walks never descend into cached replays anyway
    (InMemoryRelation is not a pass-through operator), every embedded
    block is either a re-print of an already-parsed cached plan or the
    pre-AQE "Initial Plan" duplicate of the Final plan beside it, and
    keeping them mis-indented is what used to truncate outer subtree
    walks early and flag the duplicate (never-executed) Initial-plan
    copy of an already-excused join. Well-formed (marker-free) plans
    parse exactly as the plain indentation walk always did."""
    m0 = re.search(r"^\(\d+\) ", plan, re.M)
    tree = plan[: m0.start()] if m0 else plan
    nodes: list[tuple[int, str, int]] = []
    open_rails: set[int] = set()
    prev_outer = -3
    for line in tree.splitlines():
        m = _NODE_LINE.match(line)
        if not m:
            continue
        pre, name, nid = m.group(1), m.group(2).strip(), int(m.group(3))
        indent = len(pre)
        arrow = pre[indent - 3] if indent >= 3 else ""
        rails = {i for i, ch in enumerate(pre) if ch == ":" and i < indent - 3}
        expected = {c for c in open_rails if c < indent - 3}
        # A sibling return must land on the DEEPEST open rail: in a
        # properly nested tree inner branches close before outer ones,
        # so a line "closing" rail c while a deeper rail is open is
        # embedded-junk mimicry, not the outer tree.
        is_outer = rails == expected and (
            indent > prev_outer
            or (bool(open_rails) and indent - 3 == max(open_rails))
        )
        if is_outer:
            if arrow == ":":
                open_rails.add(indent - 3)
            elif arrow == "+":
                open_rails.discard(indent - 3)
            open_rails = {c for c in open_rails if c <= indent - 3}
            prev_outer = indent
            nodes.append((indent, name, nid))
    return nodes


# Leaves that make a BNLJ side bounded: a limit cut, or a driver-
# created literal/local relation (codebook tensors, plane matrices,
# relationship spines — KB-scale by construction). A KEYLESS aggregate
# (Keys: []) also bounds: it emits exactly one row — the broadcast-
# normalizer pattern (q133's N_T/N_R/V, q134's total weight, q113's
# priors). Checked via each node's detail block, not the tree line.
_BNLJ_BOUNDED = _BOUNDING | {"LocalTableScan", "Scan ExistingRDD"}
_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
# The build side of a BNLJ legitimately sits under a BroadcastExchange;
# row-preserving unaries pass through like in the window walk.
_BNLJ_PASSTHROUGH = _PASSTHROUGH | {"BroadcastExchange"}


# A literal Range leaf bounds a BNLJ side only when its row count is
# provably tiny — the bootstrap-replica spine (spark.range(32)) pattern,
# not an accidental spark.range(10**9) cross.
_RANGE_MAX_BOUNDED_ROWS = 4096


def _is_bounded_range(plan: str, name: str, nid: int) -> bool:
    if name != "Range":
        return False
    m = re.search(
        rf"^\({nid}\) Range(?: \[codegen id : \d+\])?\n(?:[^\n]+\n)*?"
        rf"Arguments: Range \((-?\d+), (-?\d+), step=(-?\d+)",
        plan,
        re.M,
    )
    if not m:
        return False
    start, end, step = (int(g) for g in m.groups())
    if step == 0:
        return False
    n_rows = max(0, -(-(end - start) // step))
    return n_rows <= _RANGE_MAX_BOUNDED_ROWS


def _is_keyless_agg(plan: str, name: str, nid: int) -> bool:
    if not name.startswith(_AGG_NODES):
        return False
    m = re.search(
        rf"^\({nid}\) [A-Za-z][^\n]*\n(?:[^\n]+\n)*?Keys: \[\]", plan, re.M
    )
    return bool(m)


def _subtree_end(nodes, idx: int) -> int:
    """Index one past the last node of ``nodes[idx]``'s subtree."""
    j = idx + 1
    while j < len(nodes) and nodes[j][0] > nodes[idx][0]:
        j += 1
    return j


def _reused_index(plan: str, nodes, nid: int) -> int | None:
    """Tree index of the operator a ``ReusedExchange (nid)`` leaf
    reuses, named by its ``Reuses operator id:`` detail header."""
    m = re.search(rf"^\({nid}\) ReusedExchange \[Reuses operator id: (\d+)\]", plan, re.M)
    if m:
        ref = int(m.group(1))
        for k, node in enumerate(nodes):
            if node[2] == ref:
                return k
    return None


def _bnlj_side_heads(plan: str, nodes, idx: int) -> list[tuple[str, int] | None]:
    """The first significant operator (name, id) of each side of the
    BroadcastNestedLoopJoin at ``nodes[idx]``: the first node of the
    side's first-child chain that is not a pass-through unary, or None
    if the chain runs out. Without AQE a reused exchange prints as a
    ``ReusedExchange`` leaf; the walk follows it into the subtree of
    the exchange it reuses."""
    end = _subtree_end(nodes, idx)
    if end == idx + 1:
        return []
    min_ind = min(nodes[s][0] for s in range(idx + 1, end))
    starts = [s for s in range(idx + 1, end) if nodes[s][0] == min_ind]
    heads = []
    for ci, k in enumerate(starts):
        cend = starts[ci + 1] if ci + 1 < len(starts) else end
        head = None
        while k is not None and k < cend:
            cname, cid = nodes[k][1], nodes[k][2]
            if cname == "ReusedExchange":
                k = _reused_index(plan, nodes, cid)
                if k is not None:
                    cend = _subtree_end(nodes, k)
                continue
            if cname not in _BNLJ_PASSTHROUGH:
                head = (cname, cid)
                break
            k += 1
        heads.append(head)
    return heads


def bnlj_violations(plan: str) -> list[str]:
    """Lint: BroadcastNestedLoopJoin with NO bounded side — the plan
    shape where a cartesian-style join runs corpus × corpus (every
    deliberate BNLJ in this repo crosses a corpus with a bounded side;
    nothing guards the next accidental one — the r5-verdict ask).
    Each side's boundedness is judged by walking its first-child chain
    through pass-through unaries (the global_window_violations walk)
    to the first significant operator: bounded iff that operator is a
    limit, a local/literal relation, or a keyless (one-row) aggregate."""
    nodes = _parse_tree(plan)
    bad = []
    for idx, (_indent, name, nid) in enumerate(nodes):
        # tree lines carry the join type/build side after the operator
        # name ("BroadcastNestedLoopJoin Cross BuildRight") — prefix match
        if not name.startswith("BroadcastNestedLoopJoin"):
            continue
        heads = _bnlj_side_heads(plan, nodes, idx)
        if not heads:
            continue
        any_bounded = any(
            head is not None
            and (
                head[0] in _BNLJ_BOUNDED
                or _is_keyless_agg(plan, *head)
                or _is_bounded_range(plan, *head)
            )
            for head in heads
        )
        # cached/reused subplans print the same node several times —
        # report each join once
        msg = f"BroadcastNestedLoopJoin ({nid}): no bounded side"
        if not any_bounded and msg not in bad:
            bad.append(msg)
    return bad


def _bnlj_is_scalar_normalizer(plan: str, nodes, idx: int) -> bool:
    """True iff the BroadcastNestedLoopJoin at ``nodes[idx]`` has a
    side whose first significant operator is a KEYLESS (one-row)
    aggregate — the scalar-normalizer crossJoin shape (a corpus count
    or corpus total riding every row). Such a join multiplies nothing:
    a rank window above it is partitioned by CORPUS-scale keys, which
    is the healthy shape — unlike the bounded-BATCH × corpus BNLJ
    (codebooks, query prefixes: LocalTableScan/limit sides) the
    bounded-partition lint exists to catch, which stays flagged."""
    return any(
        head is not None and _is_keyless_agg(plan, *head)
        for head in _bnlj_side_heads(plan, nodes, idx)
    )


def _window_arg_groups(plan: str, node_id: int) -> list[str]:
    """Top-level bracket groups of a Window node's Arguments line —
    [exprs], [partitionSpec], [orderSpec], with EMPTY specs omitted by
    the formatter (see is_global in global_window_violations)."""
    m = re.search(
        rf"^\({node_id}\) Window(?:[^\n]*)\n(?:[^\n]+\n)*?Arguments: (.+)$",
        plan,
        re.M,
    )
    if not m:
        return []
    args, depth, groups, cur = m.group(1), 0, [], []
    for ch in args:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if ch == "," and depth == 0:
            groups.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    groups.append("".join(cur))
    return groups


def bounded_partition_window_violations(plan: str) -> list[str]:
    """Lint: ranked window whose partition key count is BOUNDED (a
    broadcast query/prefix batch) while its input rows are corpus-scale
    — the r6-verdict scale finding in the PQ family. Each reducer gets
    and fully sorts |corpus| rows; correct at sf0.1, a scale-killer at
    100 TB, and invisible to global_window_violations (the partition
    spec is non-empty).

    Static proxy for "bounded partition key over unbounded rows": a
    partitioned+ordered Window whose subtree contains a
    BroadcastNestedLoopJoin — the plan shape of
    crossJoin(broadcast(bounded_batch)) feeding a per-batch-key rank.
    A window is excused when
      * its own partition spec carries the ``__rank_salt`` shard column
        (phase 1 of the salted two-phase cut — partitions scale with
        n_salts, each holds |corpus|/n_salts rows), or
      * its subtree contains such a salted window (phase 2 ranks only
        the ≤ k·n_salts phase-1 survivors), or
      * its first-child chain is bounded by a limit-type operator
        (the rank-the-top-k pattern).
    Windows partitioned by corpus-scale keys that merely have a scalar
    normalizer crossJoin somewhere below will also match — those are
    allowlisted with their justification in tests/test_rank_plans.py,
    same discipline as the other two lints."""
    nodes = _parse_tree(plan)
    bad = []
    for idx, (indent, name, nid) in enumerate(nodes):
        if name != "Window":
            continue
        groups = _window_arg_groups(plan, nid)
        # partitioned + ordered only (global windows are the other lint)
        if len(groups) < 3:
            continue
        part_spec = groups[-2]
        if "__rank_salt" in part_spec:
            continue  # phase-1 salted shard window
        sub_idx = []
        j = idx + 1
        while j < len(nodes) and nodes[j][0] > indent:
            sub_idx.append(j)
            j += 1
        sub = [nodes[s] for s in sub_idx]
        # Only BATCH-shaped BNLJs count as "corpus-scale feed": a BNLJ
        # whose build side is a keyless one-row aggregate is a scalar
        # normalizer (corpus count/total) — it multiplies nothing and
        # the window above it partitions on corpus-scale keys.
        batch_bnlj = [
            s
            for s in sub_idx
            if nodes[s][1].startswith("BroadcastNestedLoopJoin")
            and not _bnlj_is_scalar_normalizer(plan, nodes, s)
        ]
        if not batch_bnlj:
            continue
        salted_below = any(
            n == "Window" and "__rank_salt" in " ".join(_window_arg_groups(plan, sid)[-2:-1])
            for _, n, sid in sub
        )
        if salted_below:
            continue  # phase-2 over salted survivors
        # limit-bounded input (walk the first-child chain)
        bounded = False
        for _, cname, _ in sub:
            if cname in _BOUNDING:
                bounded = True
                break
            if cname not in _PASSTHROUGH:
                break
        msg = f"Window ({nid}): bounded-partition rank over BNLJ (corpus-scale rows)"
        if not bounded and msg not in bad:
            bad.append(msg)
    return bad


def global_window_violations(plan: str) -> list[str]:
    """Lint: unpartitioned Window over unbounded input — the plan shape
    that funnels a growing table through ONE partition (the r4-verdict
    q122/q129/q130 bug class). A Window with an empty partition spec is
    fine ONLY when its input is already bounded by a limit-type
    operator (the q94 rank-the-top-k pattern); this walks the formatted
    tree from each such Window down through pass-through unaries and
    reports the first non-limit, non-passthrough operator it hits."""
    nodes = _parse_tree(plan)  # (indent, name, id) in tree order
    # Window "Arguments:" prints [exprs], [partSpec], [orderSpec] with
    # empty specs OMITTED: a partitioned+ordered window has 3 top-level
    # groups, a partition-only window (count over partition) and a
    # global ORDERED window both have 2 — the order spec is the one
    # whose entries carry ASC/DESC NULLS markers. Global = no partition
    # spec AND an order spec present (an exchange to ONE partition).
    def is_global(node_id: int) -> bool:
        m = re.search(
            rf"^\({node_id}\) Window(?:[^\n]*)\n(?:[^\n]+\n)*?Arguments: (.+)$",
            plan,
            re.M,
        )
        if not m:
            return False
        args, depth, groups, cur = m.group(1), 0, [], []
        for ch in args:
            if ch == "[":
                depth += 1
            elif ch == "]":
                depth -= 1
            if ch == "," and depth == 0:
                groups.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        groups.append("".join(cur))
        if len(groups) >= 3:
            return False  # partition spec present
        if len(groups) == 2:
            return bool(re.search(r"(ASC|DESC) NULLS", groups[1]))
        return False

    bad = []
    for idx, (indent, name, nid) in enumerate(nodes):
        if name != "Window" or not is_global(nid):
            continue
        # walk the first-child chain (next tree line, strictly deeper)
        j = idx
        verdict = "no child (leaf window?)"
        while j + 1 < len(nodes):
            j += 1
            child = nodes[j][1]
            if nodes[j][0] <= indent:
                verdict = "hit end of subtree"
                break
            if child in _BOUNDING:
                verdict = None
                break
            if child not in _PASSTHROUGH:
                verdict = f"unbounded input via {child} ({nodes[j][2]})"
                break
        if verdict is not None:
            bad.append(f"Window ({nid}): {verdict}")
    return bad


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of the query registry",
        "",
        f"Generated by tools/plan_audit.py over `{sf_dir}` (plan shapes, not timings;",
        "local profile, so AQE is off; on a cluster master AQE may further",
        "coalesce/convert at runtime — join picks shown are the",
        "static choices at this SF, e.g. broadcast joins that become shuffle",
        "joins only past the 64 MB threshold). Iterative queries (q13) show",
        "their fully-unrolled static lineage here; at runtime plans/iterate.py",
        "persists+truncates per round, so no stage ever executes this tree.",
        "'widest ReadSchema' counts columns in the fattest parquet scan —",
        "column pruning matters even for scans with no pushable predicate",
        "(full-table top-k/agg/window). 'unbounded global windows' is the",
        "global_window_violations lint (tests/test_rank_plans.py enforces the",
        "exact allowlist: q114 distinct scores, q120 quantized value grid,",
        "q131 count-value histogram — all dictionary-bounded by construction).",
        "'unbounded BNLJ' is the bnlj_violations lint: a",
        "BroadcastNestedLoopJoin with NO bounded side (limit cut or literal",
        "local relation) — corpus × corpus; registry-enforced at zero.",
        "'bounded-part rank' is the bounded_partition_window_violations lint",
        "(r7): a rank window whose partition key is a bounded broadcast batch",
        "while the input rows are corpus-scale (the q141 scale bug class) —",
        "excused only by the salted two-phase cut or a limit-bounded input;",
        "a BNLJ whose build side is a keyless ONE-ROW aggregate (the scalar",
        "normalizer shape: corpus counts/totals riding every row, incl. the",
        "r8 auto-plane count mask) does not count as corpus-scale feed;",
        "allowlist: q113 (vocabulary-scale window input, label-bounded BNLJ).",
        "",
        "| query | scans | pushed-filter scans | widest ReadSchema (cols) | exchanges | broadcasts | join strategies | codegen spans | python stage | unbounded global windows | unbounded BNLJ | bounded-part rank |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in all_queries().items():
        # Building iterative queries RUNS their per-round actions and
        # leaves persisted frames behind; without isolation dozens of
        # cached frames accumulate over the 100-query sweep (the same
        # contamination bench.py documents).
        spark.catalog.clearCache()
        try:
            s = summarize(physical_plan(fn(spark, sf_dir)))
            lines.append(
                f"| {name} | {s['scans']} | {s['pushed']} | {s['maxcols']} | "
                f"{s['exchanges']} | {s['broadcasts']} | {s['joins']} | "
                f"{s['codegen']} | {s['python']} | {s['gwin'] or '-'} | "
                f"{s['bnlj'] or '-'} | {s['bpwin'] or '-'} |"
            )
        except Exception as exc:  # noqa: BLE001 - audit keeps going
            lines.append(
                f"| {name} | plan failed: {type(exc).__name__} | | | | | | | | | | |"
            )
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
