"""Query registry: maps SURVEY.md §2 query IDs to builder functions and
(for the oracle-checkable ones) to equivalent ANSI SQL for DuckDB.

The reference's unit of computation was one Airflow task rendering one
HiveQL script (SURVEY.md §3.1); ours is one pure function
``(spark, sf_dir) -> DataFrame`` registered here. Idempotent by
construction — the lesson adopted from the reference's rerun-safe
``INSERT OVERWRITE`` discipline (SURVEY.md §5.1).
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_QUERY_MODULES = (
    "opay_datalake_script_spark.sources.io",
    "opay_datalake_script_spark.operators.relational",
    "opay_datalake_script_spark.operators.joins",
    "opay_datalake_script_spark.operators.aggregates",
    "opay_datalake_script_spark.operators.windows",
    "opay_datalake_script_spark.operators.reports",
    "opay_datalake_script_spark.operators.tpch",
    "opay_datalake_script_spark.operators.hiveql",
    "opay_datalake_script_spark.functions.scalar",
    "opay_datalake_script_spark.functions.udfs",
    "opay_datalake_script_spark.streaming.jobs",
    "opay_datalake_script_spark.llmdata.dedup",
    "opay_datalake_script_spark.llmdata.similarity",
    "opay_datalake_script_spark.llmdata.textstats",
    "opay_datalake_script_spark.llmdata.multimodal",
    "opay_datalake_script_spark.llmdata.sampling",
    "opay_datalake_script_spark.llmdata.pipeline",
)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder under a §2 query ID.

    ``oracle`` is the DuckDB-runnable ANSI SQL equivalent; omit it for
    ops that are not SQL-expressible (tests then run a weaker rows-only
    check).

    Duplicate IDs raise: last-wins silently dropped an operator out of
    the registry for a full round (`c_join_interval_overlap` shadowed
    its round-7 predecessor, caught only by review in round 8 — the
    exact failure mode the round-5 verify note warned about). A
    re-registration of the SAME function object stays idempotent so
    module re-execution (e.g. importlib.reload in a debug session)
    doesn't false-positive.
    """

    def deco(fn: QueryFn) -> QueryFn:
        prev = QUERIES.get(name)
        if prev is not None and (
            prev.__module__ != fn.__module__ or prev.__qualname__ != fn.__qualname__
        ):
            raise ValueError(
                f"duplicate registry ID {name!r}: already registered by "
                f"{prev.__module__}.{prev.__qualname__}, now redefined by "
                f"{fn.__module__}.{fn.__qualname__} — pick a distinct ID "
                "(last-wins shadowing silently drops the first operator)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_queries() -> dict[str, QueryFn]:
    """Import every query module (idempotent) and return the registry in
    registration order: module order in ``_QUERY_MODULES``, then
    definition order within each module."""
    for mod in _QUERY_MODULES:
        import_module(mod)
    return QUERIES
