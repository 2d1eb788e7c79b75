"""Output checks against the registry's DuckDB oracles.

The canonicalise-and-hash rule is ``tools/driver_check.py``'s own
``_hash`` (the mirror of the correctness gate), imported rather than
copied.  A result matches its oracle when row count, column set and hash
all agree.
"""

from __future__ import annotations

import os

import pandas as pd

from tools.driver_check import _hash


def fingerprint(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, canonical hash) of a result."""
    return (len(df), tuple(sorted(df.columns)), _hash(df))


class Oracle:
    """DuckDB over the same generated tables the workload ran on."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        for t in tables:
            src = os.path.join(data_dir, f"{t}.parquet")
            if os.path.isdir(src):
                src = os.path.join(src, "*.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    def fingerprint(self, sql: str) -> tuple[int, tuple[str, ...], str]:
        return fingerprint(self.con.sql(sql).df())

    def close(self) -> None:
        self.con.close()
