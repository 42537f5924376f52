"""DuckDB answers for the benchmark's checks.

The SQL is the repository's own oracle text: ``__spark_entry__.oracle_sql()``
for the fact-table queries and ``oracles.sql_*`` for the corpus operators.
``oracle_sql()`` bakes its query parameters in from module constants and
wraps each query in the derivation CTE; here the constants are set to the
op's parameters and ``da`` / ``documents`` are views over the exact files
the op read.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

import __spark_entry__ as entry

#: oracle_sql() constant each API parameter feeds
_PARAM_CONSTANTS = {
    "date": ("SNAP_DATE", "LISTING_DATE"),
    "symbol": ("SYMBOL", "PCTL_SYMBOL"),
    "start": ("RANGE_START", "YEAR_START"),
    "end": ("RANGE_END", "YEAR_END"),
}


class Oracle:
    def __init__(self, scratch: str, threads: int):
        os.makedirs(scratch, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{scratch}'")
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET threads={threads}")

    def close(self) -> None:
        self.con.close()

    # ---------------------------------------------------------- sources
    def use_fact(self, path: str, materialize: bool = False) -> None:
        """Point ``da`` at a date-partitioned fact table."""
        src = (
            f"read_parquet('{path}/*/*.parquet', hive_partitioning=true,"
            " union_by_name=true)"
        )
        self.con.execute("DROP VIEW IF EXISTS da")
        self.con.execute("DROP TABLE IF EXISTS da")
        kind = "TABLE" if materialize else "VIEW"
        self.con.execute(f"CREATE {kind} da AS SELECT * FROM {src}")

    def use_documents(self, path: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}')"
        )

    # ---------------------------------------------------------- queries
    def rows(self, sql: str) -> list[dict]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def entry_query(self, name: str, **params) -> list[dict]:
        """``oracle_sql()[name]`` with its constants set from ``params``."""
        saved = {}
        for key, value in params.items():
            for const in _PARAM_CONSTANTS.get(key, (key,)):
                saved[const] = getattr(entry, const)
                setattr(entry, const, value)
        saved_with_da = entry.with_da
        entry.with_da = lambda select_sql: select_sql
        try:
            sql = entry.oracle_sql()[name]
        finally:
            entry.with_da = saved_with_da
            for const, value in saved.items():
                setattr(entry, const, value)
        return self.rows(sql)


# ------------------------------------------------------------ comparing
def _canon(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return v
    return str(v)


def _sort_key(row):
    return tuple((v is None, str(v)) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def diff(got: list[dict], want: list[dict]) -> str | None:
    """None when the two row sets match (column names, row multiset, values;
    floats to a relative 1e-9), otherwise a one-line description."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    if not got:
        return None
    cols = sorted(got[0])
    if cols != sorted(want[0]):
        return f"columns {cols} != oracle {sorted(want[0])}"
    g = sorted((tuple(_canon(r[c]) for c in cols) for r in got), key=_sort_key)
    w = sorted((tuple(_canon(r[c]) for c in cols) for r in want), key=_sort_key)
    for rg, rw in zip(g, w):
        for c, a, b in zip(cols, rg, rw):
            if not _close(a, b):
                return f"column {c}: {a!r} != oracle {b!r}"
    return None
