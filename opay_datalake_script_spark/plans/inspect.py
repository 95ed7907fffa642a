"""Physical-plan inspection helpers: assert the plan Catalyst produced is
the plan we want (pushdown reached the scan, the dimension broadcast, the
top-k avoided a global sort). Used by tests/test_plans.py — the 100 TB
discipline made executable.
"""

from __future__ import annotations

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
    import re

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
    import re

    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def has_partition_filters(df: DataFrame) -> bool:
    """True if the scan prunes hive-style partitions (PartitionFilters
    non-empty) — the `WHERE dt = ...` pruning the reference's daily jobs
    depend on."""
    import re

    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            m = re.search(r"PartitionFilters: \[(.*?)\]", line)
            if m and m.group(1).strip():
                return True
    return False
