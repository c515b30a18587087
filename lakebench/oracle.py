"""DuckDB oracles and result comparison for the lakehouse benchmark.

The stored ``profileData`` / ``SchemaInformation`` tables are checked
against a full recompute in DuckDB over the same generated parquet
files; registered queries are checked against their own
``__spark_entry__.oracle_sql()`` text. Results compare as
order-insensitive multisets of canonically rendered rows, with column
names and dtype kinds required to match.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from gen import SCHEMAS, TABLES

#: Types the profiler renders (it skips arrays and other non-atomic
#: columns).
PROFILABLE = {"int", "bigint", "double", "string", "timestamp"}


def _render(col: str, dtype: str) -> str:
    """DuckDB twin of the profiler's value rendering."""
    if dtype == "double":
        return f"CAST(CAST(round({col}, 6) AS DECIMAL(28,6)) AS VARCHAR)"
    if dtype == "timestamp":
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({col} AS VARCHAR)"


def profile_sql(database: str, tables: tuple[str, ...] = TABLES) -> str:
    """Full intended-mode profile: one row per (column, distinct value)."""
    parts = []
    for t in tables:
        for c, dt in SCHEMAS[t]:
            if dt not in PROFILABLE:
                continue
            r = _render(f'"{c}"', dt)
            parts.append(
                f"SELECT '{database}' AS databaseName, '{t}' AS tableName, "
                f"'{c}' AS columnName, '{dt}' AS dataType, {r} AS value, "
                f"CAST(count(*) AS FLOAT) AS num_records, "
                f"CAST(length({r}) AS FLOAT) AS len FROM {t} GROUP BY {r}"
            )
    return " UNION ALL ".join(parts)


def schema_sql(database: str, tables: tuple[str, ...] = TABLES) -> str:
    """Every column of every table, with its Spark type name."""
    rows = ", ".join(
        f"('{database}', '{t}', '{c}', '{dt}', CAST(NULL AS VARCHAR))"
        for t in tables
        for c, dt in SCHEMAS[t]
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS v(databaseName, tableName, "
        "columnName, dataType, comments)"
    )


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind == "f":
            df[c] = df[c].map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif kind in "iu":
            df[c] = df[c].map(lambda v: "NULL" if pd.isna(v) else str(int(v)))
        else:
            df[c] = df[c].map(
                lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line description of the first
    difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    kinds = {c: (got[c].dtype.kind, want[c].dtype.kind) for c in got.columns}
    bad = {c: k for c, k in kinds.items() if k[0] != k[1]}
    if bad:
        return f"dtype kinds {bad}"
    g, w = _canon(got), _canon(want)
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        return f"values differ on {int(diff.sum())} rows, first {g[diff].head(1).to_dict('records')}"
    return None
