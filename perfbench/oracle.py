"""Output checks, run outside the timed region.

Registered queries are compared with ``ORACLES[name]`` run in DuckDB over
the same input files, with the normalisation of
``tests/test_oracle_parity.py``: columns sorted by name, NaN as a string,
booleans as ints, rows sorted by ``repr``, values compared exactly.
"""

from __future__ import annotations

import math
import os

import duckdb

from lakeflow.catalog import TABLES, table_path
from lakeflow.queries import ORACLES


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, bool):
        return int(v)
    return v


def norm_rows(cols, rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def diff(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the two results agree; otherwise a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    _, g = norm_rows(got_cols, got_rows)
    _, w = norm_rows(want_cols, want_rows)
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    if bad:
        return f"{len(bad)} rows differ; first: {bad[0][0]!r} != {bad[0][1]!r}"
    return None


class QueryOracle:
    """DuckDB answers for registered queries, one connection per input
    directory, each answer computed once."""

    def __init__(self) -> None:
        self._cons: dict[str, duckdb.DuckDBPyConnection] = {}
        self._answers: dict[tuple[str, str], tuple[list[str], list[tuple]]] = {}

    def _con(self, sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = self._cons.get(sf_dir)
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                path = table_path(sf_dir, t)
                if os.path.exists(path):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                    )
            self._cons[sf_dir] = con
        return con

    def answer(self, name: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
        key = (name, sf_dir)
        if key not in self._answers:
            res = self._con(sf_dir).execute(ORACLES[name])
            self._answers[key] = ([d[0] for d in res.description], res.fetchall())
        return self._answers[key]

    def check(self, name: str, sf_dir: str, cols, rows) -> str | None:
        want_cols, want_rows = self.answer(name, sf_dir)
        return diff(cols, rows, want_cols, want_rows)

    def close(self) -> None:
        for con in self._cons.values():
            con.close()
        self._cons.clear()
