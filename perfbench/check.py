"""Output check: each query's result against its DuckDB oracle.

The comparison is the one ``tests/oracle_harness.py`` makes for the
correctness gate (row count, column-name set, then repr-strict
values after sorting rows by every column and columns by name); this module
reuses its helpers on rows the benchmark has already collected, so the
check does not run a query a second time.
"""

from __future__ import annotations

import pandas as pd

from tests.oracle_harness import _canon, _values_equal, duckdb_con


def rows_to_frame(rows, columns) -> pd.DataFrame:
    return pd.DataFrame([r.asDict(recursive=True) for r in rows], columns=columns)


def _scalar(v):
    return v.item() if hasattr(v, "item") else v


def matches_oracle(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` exactly, else the first difference."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(map(str, want.columns)):
        return f"columns {sorted(got.columns)} != {sorted(map(str, want.columns))}"
    a, b = _canon(got), _canon(want)
    for col in a.columns:
        for x, y in zip(a[col], b[col]):
            if not _values_equal(_scalar(x), _scalar(y)):
                return f"{col}: {_scalar(x)!r} != {_scalar(y)!r}"
    return None


class OracleChecker:
    """Holds one DuckDB connection over a data directory."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        self.con = duckdb_con(data_dir)
        self.oracles = oracles

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` passes; rows-only queries must return rows."""
        sql = self.oracles.get(name)
        if sql is None:
            return None if len(got) else "rows-only query returned no rows"
        return matches_oracle(got, self.con.execute(sql).fetchdf())

    def sql(self, query: str) -> pd.DataFrame:
        return self.con.execute(query).fetchdf()
