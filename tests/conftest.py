"""Shared test fixtures: one warm SparkSession, a DuckDB oracle connection,
and the differential comparator that mirrors the driver's check
(row-count + schema + order-insensitive value comparison) — SURVEY.md §5.2.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from opay_datalake_script_spark import get_spark
from opay_datalake_script_spark.schemas import TABLES

SF_DIR = "/root/testdata/sf0.01"
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="opay-datalake-spark-tests")
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def smoke_oracle_con():
    """DuckDB oracle over the sf0.001 smoke fixture — the fast default
    tier's differential sweep runs every op here (seconds per op), while
    the sf0.01 battery is the opt-in slow tier (pytest.ini)."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SMOKE_SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm_cell(v):
    """Normalize one cell for order-insensitive set comparison."""
    import datetime

    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    # NOTE: no list/tuple/ndarray branch on purpose — the driver's
    # canonicalizer cannot hash array cells, so the schema guard in
    # assert_no_nonscalar_columns must reject them before we ever get here.
    if isinstance(v, np.generic):
        v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return None
        return v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, datetime.date):
        # DuckDB's .df() upcasts DATE to datetime64 while Spark's toPandas
        # keeps datetime.date — normalize both to midnight datetime
        return datetime.datetime(v.year, v.month, v.day)
    return v


def normalized_rows(pdf):
    """Columns sorted by name, rows as a sorted list of normalized tuples."""
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def assert_no_nonscalar_columns(spark_df, name=""):
    """A pandas value-hash canonicalizer crashes on array/map/struct cells
    (`unhashable type: 'list'`) — reject them here (an earlier list->tuple
    normalization in this comparator masked exactly that crash)."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    bad = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType, BinaryType))
    ]
    assert not bad, (
        f"{name}: non-scalar output columns {bad} would crash the driver's "
        "canonicalizer — stringify them (concat_ws/to_json) in the query"
    )


def _dtype_bucket(dtype):
    """Coarse dtype kind for the driver-parity type check: the driver's
    value-hash is type-sensitive (an un-cast DuckDB HUGEINT `sum(CASE...)`
    comes back float64 while Spark's bigint is int64, and the hashes
    diverge even with identical values — t_q12/k_line_dedup, round 4).
    Only numeric kinds are bucketed; date-vs-object and other
    representation differences are already value-normalized in _norm_cell
    and must not fail here."""
    if dtype.kind in "iub":
        return "int"
    if dtype.kind == "f":
        return "float"
    return None


def assert_matches_oracle(spark_df, oracle_con, sql, name=""):
    """Differential check: Spark result vs DuckDB result, exact values.
    Returns the matched row count so callers (scripts/diff_sf_family.py)
    can report it without re-executing the query."""
    assert_no_nonscalar_columns(spark_df, name)
    got = spark_df.toPandas()
    want = oracle_con.sql(sql).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column names differ: spark={sorted(got.columns)} duckdb={sorted(want.columns)}"
    )
    # Driver-parity dtype gate (round-4 lesson): identical values with
    # mismatched numeric kinds (int vs float) still hash-fail at the
    # driver. Catch it locally so pytest green predicts driver green.
    kind_bad = []
    for c in got.columns:
        gb, wb = _dtype_bucket(got[c].dtype), _dtype_bucket(want[c].dtype)
        if (gb or wb) and gb != wb:
            kind_bad.append(f"{c}: spark={got[c].dtype}({gb}) duckdb={want[c].dtype}({wb})")
    assert not kind_bad, (
        f"{name}: numeric dtype kind mismatch (driver hash is type-sensitive; "
        f"CAST the oracle column, e.g. HUGEINT sums to BIGINT): {kind_bad}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} != oracle {len(want)}"
    g, w = normalized_rows(got), normalized_rows(want)
    mismatches = [(a, b) for a, b in zip(g, w) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"
    return len(got)
