"""Registry contract of the PySpark engine.

``entry(spark)`` is a smoke check. Each ``queries()[name]`` is checked
against the matching ``oracle_sql()[name]`` run in DuckDB: row count,
column names and an order-insensitive value comparison
(``tests/conftest.py::assert_matches_oracle``).

All real logic lives in the ``opay_datalake_script_spark`` package;
this module only wires the registry into the contract functions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from opay_datalake_script_spark.registry import ORACLES, load_all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary on lineitem) on sf0.001."""
    qs = load_all_queries()
    return qs["d_agg_basic"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(load_all_queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-checkable query,
    in registration order, like queries()."""
    ordered = load_all_queries()
    return {n: ORACLES[n] for n in ordered if n in ORACLES}
