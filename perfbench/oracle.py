"""DuckDB reference answers over the same Parquet files Spark reads."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

from rdbms_scala_spark.engine import format_value


def connect(sf_dir: str, names: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``<sf_dir>/<name>.parquet``."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET TimeZone = 'UTC'")
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v: object) -> object:
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return format_value(v)
    return v


def _key(row: tuple) -> tuple:
    return tuple("" if v is None else f"{v:.2f}" if isinstance(v, float) else str(v) for v in row)


def _decimals(v: object) -> int:
    """Digits after the point of a float or decimal as rendered."""
    if isinstance(v, float) and math.isfinite(v):
        v = decimal.Decimal(repr(v))
    if isinstance(v, decimal.Decimal):
        return max(0, -v.as_tuple().exponent)
    return 0


def column_tolerances(rows: list[tuple]) -> list[float]:
    """Per column, one unit of its last rounded digit: ``10**-d`` for
    the most digits after the point any value of the column shows.
    Queries round in-query (money to 2 places, ratios to 4), and the
    two engines may round a half-way sum differently, so values may
    differ by one unit there and by no more."""
    width = max((len(r) for r in rows), default=0)
    digits = [0] * width
    for r in rows:
        for j, v in enumerate(r):
            digits[j] = max(digits[j], _decimals(v))
    return [10.0 ** -d for d in digits]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive multiset equality; floats agree to within one
    unit of their column's last rounded digit (``column_tolerances``)."""
    if len(got) != len(want):
        return False
    tol = column_tolerances(list(got) + list(want))
    a = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    b = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for j, (x, y) in enumerate(zip(ra, rb)):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=tol[j] * (1 + 1e-9)):
                    return False
            elif x != y:
                return False
    return True


def parse_lines(lines: list[str]) -> list[tuple]:
    """Rows of ``Engine.run_and_format`` output, split back into fields,
    numbers re-typed so they compare with ``same_rows``."""
    out = []
    for line in lines:
        row = []
        for f in line.split("|"):
            try:
                row.append(float(f) if any(c in f for c in ".eE") else int(f))
            except ValueError:
                row.append(f)
        out.append(tuple(row))
    return out


def format_like_engine(rows: list[tuple]) -> list[tuple]:
    return parse_lines(["|".join(format_value(_norm(v)) for v in r) for r in rows])
