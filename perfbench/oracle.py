"""Reference answers from DuckDB over the same parquet files, and the
comparison the benchmark applies to every checked answer."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class VerifyError(AssertionError):
    """An operation returned a wrong answer."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise VerifyError(what)


class DuckOracle:
    """A DuckDB connection with one view per generated table."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, object] = {}

    def query(self, sql: str):
        """DuckDB's answer as a pandas frame (memoised per SQL text)."""
        if sql not in self._cache:
            self._cache[sql] = self.con.execute(sql).fetchdf()
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()


def _cell(v):
    """Engine-neutral form of one value: floats stay floats, times become
    ISO strings, NULL and NaN become None."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):  # numpy scalar
        return _cell(v.item())
    if isinstance(v, (dt.datetime, dt.date)):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return _cell(v.to_pydatetime())
    return v


def _key(cell):
    if cell is None:
        return (0, "")
    if isinstance(cell, (int, float)):
        return (1, round(float(cell), 4))
    return (2, str(cell))


def canon(pdf, ordered: bool = False) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    if not ordered:
        rows.sort(key=lambda r: tuple(_key(c) for c in r))
    return cols, rows


def _close(a, b, rel: float, abs_: float) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))
    return a == b


def same_rows(got, want, ordered: bool = False, rel: float = 1e-9, abs_: float = 1e-6) -> None:
    """Raise VerifyError unless the two frames hold the same rows (column
    order ignored; row order ignored unless ``ordered``)."""
    g_cols, g_rows = canon(got, ordered)
    w_cols, w_rows = canon(want, ordered)
    expect(g_cols == w_cols, f"columns differ: {g_cols} != {w_cols}")
    expect(len(g_rows) == len(w_rows), f"row count {len(g_rows)} != {len(w_rows)}")
    for gr, wr in zip(g_rows, w_rows):
        for gc, wc in zip(gr, wr):
            expect(_close(gc, wc, rel, abs_), f"row differs: {gr} != {wr}")
