"""Expected results from the registry's DuckDB oracles
(``__spark_entry__.oracle_sql()``), computed once per run over the run's
generated inputs, and the order-insensitive comparison every timed result
goes through: columns sorted by name, rows sorted by every column, values
exact (the repository's own oracle-parity rule, tests/test_oracle_parity.py).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):  # array-valued cells
        pass
    eq = a == b
    return bool(eq.all()) if hasattr(eq, "all") else bool(eq)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when ``got`` equals the normalized oracle frame ``want``,
    else a one-line reason."""
    if sorted(got.columns) != list(want.columns):
        return f"columns {sorted(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    got = normalize(got)
    for col in want.columns:
        if got[col].equals(want[col]):
            continue
        for i, (x, y) in enumerate(zip(got[col].tolist(), want[col].tolist())):
            if not _same(x, y):
                return f"{col}[{i}]: {x!r} != {y!r}"
    return None


def expected(sf_dir: str, keys, tables, temp_dir: str) -> dict[str, pd.DataFrame]:
    """Normalized oracle result of each key over the tables in ``sf_dir``."""
    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    missing = [k for k in keys if k not in sql]
    if missing:
        raise KeyError(f"no DuckDB oracle for {missing}")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {k: normalize(con.execute(sql[k]).df()) for k in keys}
    finally:
        con.close()
