"""Physical-plan inspection helpers: assert the plan Catalyst produced is
the plan we want (pushdown reached the scan, the dimension broadcast, the
top-k avoided a global sort, no corpus-sized input funnels through one
task). Used by tests/test_plans.py and tests/test_oracle.py — the 100 TB
discipline made executable.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the parquet scan carries at least one pushed filter."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and "[]" not in line.replace(" ", ""):
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(f.split(":")[0] for f in m.group(1).split(",") if f)
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def count_shuffles(df: DataFrame) -> int:
    """Number of Exchange (shuffle) nodes in the physical plan. Counts the
    formatted plan's numbered detail entries — each node appears once as
    "(n) Exchange" there, while the tree section would double-count."""
    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def has_partition_filters(df: DataFrame) -> bool:
    """True if the scan prunes hive-style partitions (PartitionFilters
    non-empty) — the `WHERE dt = ...` pruning the reference's daily jobs
    depend on."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            m = re.search(r"PartitionFilters: \[(.*?)\]", line)
            if m and m.group(1).strip():
                return True
    return False


# One level of treeString indentation; the whole-stage-codegen mark.
_PREFIX_RE = re.compile(r"^(?:   |:  |\+- |:- )*")
_CODEGEN_RE = re.compile(r"^\*\(\d+\) ")
_PLAN_ID_RE = re.compile(r"\[plan_id=(\d+)\]")
# An aggregate keyed on nothing (global) or on the prefix-sum's _pid.
_SMALL_AGG_RE = re.compile(r"^(?:Hash|ObjectHash|Sort)Aggregate\(keys?=\[(_pid#\d+)?\]")
# What a nested-loop join's build side is looked through.
_BUILD_WRAPPERS = {"Filter", "Project", "Exchange", "BroadcastExchange",
                   "ShuffleQueryStage", "BroadcastQueryStage", "ReusedExchange"}


def _plan_tree(plan: str) -> list[tuple[str, list]]:
    """``(node text, children)`` pairs of a plan's treeString, in plan
    order; the indentation gives the tree. An AQE plan's ``== Initial
    Plan ==`` section is dropped: it shows joins AQE replaced."""
    nodes: list[tuple[str, list]] = []
    stack: list[tuple[int, tuple[str, list]]] = []
    skip_from = None
    for line in plan.splitlines():
        prefix = _PREFIX_RE.match(line).group(0)
        depth, text = len(prefix) // 3, line[len(prefix):]
        if skip_from is not None and depth >= skip_from:
            continue
        skip_from = depth if text == "== Initial Plan ==" else None
        if text.startswith("== "):
            continue
        node = (_CODEGEN_RE.sub("", text), [])
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack:
            stack[-1][1][1].append(node)
        stack.append((depth, node))
        nodes.append(node)
    return nodes


def _top_level_groups(rest: str) -> list[str]:
    """Split a plan line's tail into its top-level [...] bracket groups."""
    groups: list[str] = []
    depth = start = 0
    for i, ch in enumerate(rest):
        if ch == "[":
            start = i + 1 if depth == 0 else start
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(rest[start:i])
    return groups


def _empty_partition_window(text: str) -> bool:
    """Whether a ``Window`` node's PARTITION spec is empty — the shape
    WindowExec warns about ("No Partition Defined ... moving all data
    to a single partition"). Plan text renders as ``Window [exprs],
    [partition], [order]`` but omits empty specs, so 2 groups is EITHER
    partitioned-unordered (benign) OR unpartitioned-ordered (the bad
    one); an order spec's entries always carry ASC/DESC."""
    groups = _top_level_groups(text[len("Window "):])
    if len(groups) >= 3:
        return False  # [exprs], [partition], [order] — partitioned
    if len(groups) == 2 and " ASC" not in groups[1] and " DESC" not in groups[1]:
        return False  # [exprs], [partition] — partitioned, no order
    # The distributed prefix-sum's OFFSETS window runs unpartitioned by
    # design over the per-partition count table: O(num_partitions) rows,
    # ordered on the synthetic _pid column.
    return "windowspecdefinition(_pid#" not in text


def plan_scale_shapes(plan: str) -> dict[str, list[str]]:
    """The lines of ``plan`` (``executedPlan().toString()``), by shape,
    that send a whole input through one task: every cartesian product and
    empty-partition window; every single-partition exchange not over a
    global partial aggregate (a row per upstream partition) or the _pid
    count table; every nested-loop join not building a global aggregate."""
    nodes = _plan_tree(plan)
    exchanges = {m.group(1): n for n in nodes if (m := _PLAN_ID_RE.search(n[0]))
                 and not n[0].startswith("ReusedExchange")}

    def build_side(node):
        while node and node[0].split(" ")[0] in _BUILD_WRAPPERS:
            if node[0].startswith("ReusedExchange"):
                node = exchanges.get(_PLAN_ID_RE.search(node[0]).group(1))
            else:
                node = node[1][0]
        return node[0] if node else ""

    shapes: dict[str, list[str]] = {}
    for text, children in nodes:
        if text.startswith("CartesianProduct"):
            shape = "cartesian"
        elif text.startswith("Exchange SinglePartition"):
            m = _SMALL_AGG_RE.match(children[0][0])
            if m and (m.group(1) or "partial_" in children[0][0]):
                continue
            shape = "single-partition"
        elif text.startswith("BroadcastNestedLoopJoin"):
            m = _SMALL_AGG_RE.match(build_side(children[1 if " BuildRight" in text else 0]))
            if m and not m.group(1):
                continue
            shape = "nested-loop"
        elif text.startswith("Window [") and _empty_partition_window(text):
            shape = "window"
        else:
            continue
        shapes.setdefault(shape, []).append(text[:200])
    return shapes


def scale_shapes(df: DataFrame) -> dict[str, list[str]]:
    """``plan_scale_shapes`` of ``df``'s physical plan: after a collect of
    ``df`` itself the final AQE plan; before one, planning starts no job."""
    return plan_scale_shapes(df._jdf.queryExecution().executedPlan().toString())
