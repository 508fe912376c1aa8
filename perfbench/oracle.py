"""Order-insensitive result hashing and the DuckDB reference side.

A result is reduced to a multiset of canonical rows: columns sorted by name,
integral numbers exact, other floats and decimals rounded to 9 significant
digits, DATE and midnight TIMESTAMP values as ISO dates (DuckDB's ``.df()``
renders DATE as a midnight timestamp while Spark yields ``datetime.date``),
NaN as NULL.  The sorted multiset is hashed.  ``same`` accepts equal hashes
at once and otherwise pairs the sorted rows and compares floats within a
relative 1e-9: a sum of cents can land on a rounding boundary (x.50) and
round differently after a different summation order.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile
from datetime import date, datetime
from decimal import Decimal
from typing import Any

import duckdb
import pandas as pd


def _num(v: float, rounded: bool) -> Any:
    """Integral values exactly (DuckDB returns integer sums as float64),
    others rounded to 9 significant digits when ``rounded``, integral after
    rounding as int."""
    if math.isnan(v):
        return None
    if v.is_integer() and abs(v) < 2**53:
        return int(v)
    if not rounded:
        return v
    r = float(f"{v:.9g}")
    return int(r) if r.is_integer() else r


def _canon(v: Any, rounded: bool = True) -> Any:
    if v is None:
        return None
    if isinstance(v, (float, Decimal)):
        return _num(float(v), rounded)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime):
        if v.tzinfo is None and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon(x, rounded) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x, rounded)) for k, x in v.items()))
    if pd.isna(v):
        return None
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item(), rounded)
    return v


def digest(pdf: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, order-insensitive hash)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_canon(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return tuple(cols), len(rows), h


def _close(a: Any, b: Any) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
            isinstance(a, bool) or isinstance(b, bool)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _coarse(v: Any) -> Any:
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, tuple):
        return tuple(_coarse(x) for x in v)
    return v


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Multiset equality of two results, floats within 1e-9 relative.

    Equal digests decide at once.  Otherwise rows are paired after sorting
    on a 6-digit key, so sums that differ in the last bits (different
    summation order) still compare equal while any real difference does not.
    """
    dg, dw = digest(got), digest(want)
    if dg == dw:
        return True
    if dg[:2] != dw[:2]:
        return False
    cols = list(dg[0])

    def rows(pdf):
        out = [tuple(_canon(v, rounded=False) for v in r)
               for r in pdf[cols].itertuples(index=False, name=None)]
        return sorted(out, key=lambda r: repr(_coarse(r)))

    return all(_close(a, b) for a, b in zip(rows(got), rows(want)))


class Duck:
    """In-process DuckDB with the fixture tables registered as views."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()
