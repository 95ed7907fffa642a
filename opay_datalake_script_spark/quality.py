"""Data-quality gates — the reference's runtime correctness discipline.

The reference repo family carries no unit tests; its correctness lives in
the DAGs as partition sensors (upstream dt= partition must exist), row
count/threshold tasks that fail the run, and idempotent partition
overwrites (SURVEY.md §5.1). This module is that discipline as a library:
declarative checks compiled into ONE aggregation pass over the table
(never one scan per check — at 100 TB, N checks must still cost one
scan), plus the partition-existence sensor.

Usage::

    report = run_gates(df, [
        row_count(min_rows=1),
        not_null("o_orderkey"),
        unique_key("o_orderkey"),
        accepted_values("o_orderstatus", ["F", "O", "P"]),
        threshold(F.sum("o_totalprice"), min_value=0.0),
    ])
    report.raise_if_failed()   # the fail-the-DAG analog
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# A gate contributes (name, metric Column, pass predicate over the value).
Gate = tuple[str, Column, Callable[[object], bool]]


def row_count(min_rows: int = 1, max_rows: int | None = None) -> Gate:
    hi = max_rows if max_rows is not None else float("inf")
    return (
        f"row_count[{min_rows},{max_rows or 'inf'}]",
        F.count(F.lit(1)),
        lambda v: min_rows <= v <= hi,
    )


def not_null(col: str) -> Gate:
    return (f"not_null[{col}]", F.count(F.when(F.col(col).isNull(), 1)), lambda v: v == 0)


def unique_key(*cols: str) -> Gate:
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
    return (
        f"unique_key[{','.join(cols)}]",
        F.count(F.lit(1)) - F.countDistinct(key),
        lambda v: v == 0,
    )


def accepted_values(col: str, values: Sequence[object]) -> Gate:
    return (
        f"accepted_values[{col}]",
        F.count(F.when(~F.col(col).isin(list(values)) | F.col(col).isNull(), 1)),
        lambda v: v == 0,
    )


def threshold(
    metric: Column, min_value: float | None = None, max_value: float | None = None
) -> Gate:
    lo = min_value if min_value is not None else float("-inf")
    hi = max_value if max_value is not None else float("inf")
    return (
        f"threshold[{lo},{hi}]",
        metric,
        lambda v: v is not None and lo <= v <= hi,
    )


@dataclass
class GateResult:
    name: str
    value: object
    passed: bool


@dataclass
class QualityReport:
    results: list[GateResult]

    @property
    def passed(self) -> bool:
        return all(r.passed for r in self.results)

    def raise_if_failed(self) -> None:
        bad = [r for r in self.results if not r.passed]
        if bad:
            detail = "; ".join(f"{r.name} (observed {r.value!r})" for r in bad)
            raise AssertionError(f"quality gates failed: {detail}")


def run_gates(df: DataFrame, gates: Sequence[Gate]) -> QualityReport:
    """Evaluate every gate in one aggregation over df: one scan, every
    metric side by side. Without a distinct count the plan is a partial
    aggregate, one shuffle to a single partition and the final aggregate,
    which AQE runs as 2 Spark jobs (the map stage and the result). A
    ``unique_key`` gate's count(DISTINCT key) adds a shuffle on the key
    ahead of that one, so the pass is 3 Spark jobs: two map stages and
    the result."""
    aggs = [metric.alias(f"g{i}") for i, (_, metric, _) in enumerate(gates)]
    row = df.agg(*aggs).collect()[0]
    return QualityReport(
        [
            GateResult(name, row[f"g{i}"], bool(pred(row[f"g{i}"])))
            for i, (name, _, pred) in enumerate(gates)
        ]
    )


def partition_exists(spark: SparkSession, path: str, **partition: str) -> bool:
    """Airflow partition-sensor analog: does the dt=... (sub)directory of a
    partitioned parquet sink exist and contain files? Gate downstream jobs
    on upstream partitions without scanning data."""
    import os

    sub = os.path.join(path, *[f"{k}={v}" for k, v in partition.items()])
    if not os.path.isdir(sub):
        return False
    return any(
        f.endswith(".parquet")
        for _, _, files in os.walk(sub)
        for f in files
    )
