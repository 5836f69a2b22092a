"""Correctness checks against DuckDB, run after the measured window.

Registry outputs are compared with their DuckDB oracle through the
order-insensitive multiset comparator of ``tools/check_correctness.py``
(exact floats; columns matched by name).  Entries without an oracle get a
rows-only check: the query ran and returned rows.
"""

from __future__ import annotations

import importlib
import os
from collections import Counter
from typing import Optional


def _checker():
    return importlib.import_module("tools.check_correctness")


def multiset(rows, colnames) -> Counter:
    return _checker().multiset(rows, [c.lower() for c in colnames])


def connect(data_dir: str):
    """DuckDB connection with a view per table present in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            name = fn[: -len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(data_dir, fn)}'")
    return con


class RegistryOracle:
    """Caches each entry's oracle answer; ``check`` returns None when the
    Spark output matches, else a one-line reason."""

    def __init__(self, data_dir: str) -> None:
        from kioss_spark.queries import load_all

        self._reg = load_all()
        self._con = connect(data_dir)
        self._cache: dict[str, tuple] = {}

    def _answer(self, name: str) -> tuple:
        if name not in self._cache:
            rel = self._con.sql(self._reg[name].oracle)
            cols = [c.lower() for c in rel.columns]
            rows = rel.fetchall()
            self._cache[name] = (sorted(cols), len(rows), multiset(rows, cols))
        return self._cache[name]

    def check(self, name: str, cols, rows) -> Optional[str]:
        if self._reg[name].oracle is None:
            return None if rows else "rows-only check: no rows"
        ocols, n, oms = self._answer(name)
        if sorted(c.lower() for c in cols) != ocols:
            return f"columns {sorted(cols)} vs oracle {ocols}"
        if len(rows) != n:
            return f"rowcount {len(rows)} vs oracle {n}"
        if multiset(rows, cols) != oms:
            return "value multiset differs from oracle"
        return None

    def close(self) -> None:
        self._con.close()
