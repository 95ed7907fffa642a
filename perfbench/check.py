"""Output check: a job's result is reduced to a signature -- sorted column
names, the numeric kind of each column, the row count and an
order-insensitive hash of the values -- and compared with the signature of
the job's DuckDB oracle over the same parquet files (the comparison
tests/conftest.py makes) or, for a job without an oracle, with the
signature of the same job in the run's other passes.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Signature:
    columns: tuple[str, ...]
    kinds: tuple[str | None, ...]
    rows: int
    digest: str

    def mismatch(self, want: Signature) -> str | None:
        """Why ``self`` (the program's output) differs from ``want``, or
        None when they agree."""
        if self.columns != want.columns:
            return f"columns {list(self.columns)} != {list(want.columns)}"
        for col, got, exp in zip(self.columns, self.kinds, want.kinds):
            if (got or exp) and got != exp:
                return f"column {col} is {got}, expected {exp}"
        if self.rows != want.rows:
            return f"{self.rows} rows, expected {want.rows}"
        if self.digest != want.digest:
            return "values differ"
        return None


def _kind(dtype) -> str | None:
    # Oracle checks hash values with their types, so an int
    # column against a float column fails even when the values agree.
    if dtype.kind in "iub":
        return "int"
    if dtype.kind == "f":
        return "float"
    return None


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def signature(pdf: pd.DataFrame) -> Signature:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return Signature(
        columns=tuple(cols),
        kinds=tuple(_kind(pdf[c].dtype) for c in cols),
        rows=len(rows),
        digest=hashlib.md5(repr(rows).encode()).hexdigest(),
    )


class Oracles:
    """DuckDB over the run's input parquet files, one view per table."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        import duckdb

        self._con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def signature(self, sql: str) -> Signature:
        return signature(self._con.sql(sql).df())

    def close(self) -> None:
        self._con.close()
