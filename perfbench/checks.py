"""Output checks, run outside the timed region.

Registry ops are compared with their DuckDB ``oracle_sql()`` twin the
way the repository's oracle harness does it: row count, column names
and an order-insensitive value comparison, with columns sorted by name
and cells normalized (exact float repr, NULL and NaN markers). Nightly
tables are compared the same way against the state the league
generator expects.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

import duckdb

from datagen import STAR_TABLES


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], out


def digest(columns: list[str], rows) -> str:
    cols, canon = canonical(columns, rows)
    h = hashlib.sha256(repr(cols).encode())
    for r in canon:
        h.update(repr(r).encode())
    return f"{len(canon)}:{h.hexdigest()[:16]}"


def spark_digest(df) -> str:
    return digest(df.columns, [tuple(r) for r in df.collect()])


def arrow_digest(table) -> str:
    return digest(table.column_names, zip(*(c.to_pylist() for c in table.columns)))


class Oracle:
    """DuckDB views over one data directory; caches each query's digest."""

    def __init__(self, data_dir: str, sqls: dict[str, str], temp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for name in STAR_TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )
        self.sqls = sqls
        self._cache: dict[str, str] = {}

    def expected(self, name: str) -> str:
        if name not in self._cache:
            res = self.con.execute(self.sqls[name])
            cols = [d[0] for d in res.description]
            self._cache[name] = digest(cols, res.fetchall())
        return self._cache[name]

    def close(self) -> None:
        self.con.close()
