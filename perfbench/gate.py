"""DuckDB side of the correctness gate.

Mirrors ``tests/conftest.compare_with_duckdb``: columns are compared by
name, array-like cells become strings, rows are sorted by every column,
floats compare with an absolute tolerance of 1e-9 and everything else as
strings.  Unlike the test helper, the connection caps DuckDB's memory
and threads, so an oracle that needs more fails the same way on every
host.

Each expected result is computed once per run and kept as a DuckDB
table.  An output whose columns have the same DuckDB types and whose
rows hash to the same multiset fingerprint (row count and the sum of
row hashes) matches without leaving DuckDB; any other output goes
through the row-by-row comparison above.  Equal multisets always have
equal fingerprints; unequal ones share one only when their sums of
64-bit row hashes collide.
"""

from __future__ import annotations

from typing import Callable

import duckdb
import pandas as pd

FLOAT_TOL = 1e-9          # tests/conftest.compare_with_duckdb default
MEMORY_LIMIT = "2GB"
THREADS = 4


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


class Oracle:
    """One capped DuckDB connection with the input tables as views."""

    def __init__(self, data_dir: str | None, tables: tuple[str, ...] = ()):
        self.con = duckdb.connect()
        self.con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
        self.con.execute(f"SET threads = {THREADS}")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self._expected: dict[str, tuple] = {}    # key -> (table, fingerprint)

    def check(self, key: str, expected_sql: Callable[[], str],
              actual: pd.DataFrame | str) -> str | None:
        """None when ``actual`` (a frame, or SQL that DuckDB evaluates to
        the output rows) matches the result of ``expected_sql()``, else
        the first difference found.  The expected result is computed on
        the first call for ``key`` and reused after."""
        if key not in self._expected:
            table = f"expected_{len(self._expected)}"
            self.con.execute(f"CREATE TEMP TABLE {table} AS {expected_sql()}")
            exp = self.con.sql(f"SELECT * FROM {table}")
            self._expected[key] = (table, _fingerprint(
                exp.select(", ".join(_quote(c) for c in sorted(exp.columns)))))
        table, exp_fp = self._expected[key]
        exp = self.con.sql(f"SELECT * FROM {table}")
        if isinstance(actual, pd.DataFrame):
            self.con.register("actual_frame", actual)
            act = self.con.sql("SELECT * FROM actual_frame")
        else:
            act = self.con.sql(actual)
        try:
            if sorted(act.columns) != sorted(exp.columns):
                return f"columns {sorted(act.columns)} vs {sorted(exp.columns)}"
            cols = sorted(act.columns)
            sel = ", ".join(_quote(c) for c in cols)
            a, e = act.select(sel), exp.select(sel)
            if a.types == e.types and _fingerprint(a) == exp_fp:
                return None
            return mismatch(a.df(), e.df())
        finally:
            if isinstance(actual, pd.DataFrame):
                self.con.unregister("actual_frame")

    def close(self) -> None:
        self.con.close()


def _fingerprint(rel) -> tuple:
    """(row count, sum of row hashes): equal for equal multisets."""
    return rel.query("r", "SELECT count(*), sum(hash(r)::HUGEINT) FROM r").fetchone()


def _canonical(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype == object and df[c].map(
                lambda v: not isinstance(v, (str, bytes, type(None)))).any():
            df[c] = df[c].map(lambda v: str(list(v))
                              if hasattr(v, "__len__") and not isinstance(v, str)
                              else str(v))
    return df.sort_values(cols, kind="mergesort").reset_index(drop=True)


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame,
             float_tol: float = FLOAT_TOL) -> str | None:
    """None when the frames match under the gate's rules, else the first
    difference found."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} vs {sorted(expected.columns)}"
    cols = sorted(actual.columns)
    a, e = _canonical(actual, cols), _canonical(expected, cols)
    if len(a) != len(e):
        return f"row count {len(a)} vs {len(e)}"
    for c in cols:
        av, ev = a[c], e[c]
        try:
            if av.dtype.kind == "f" or ev.dtype.kind == "f":
                pd.testing.assert_series_equal(
                    av.astype(float), ev.astype(float), check_names=False,
                    rtol=0, atol=float_tol)
            else:
                pd.testing.assert_series_equal(
                    av.astype(str), ev.astype(str), check_names=False)
        except AssertionError as exc:
            return f"column {c}: {str(exc).splitlines()[0]}"
    return None
