"""DuckDB reference results and the comparison every check uses.

Comparison follows the engine's oracle-parity contract: same column
names, same Spark dtype per column, same row count, and the same sorted
multiset of values at full float precision.
"""

from __future__ import annotations

import math
import os

import duckdb

_DUCK_TO_SPARK = {
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "INTEGER": "int",
    "BOOLEAN": "boolean",
}


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'"
            )
    return con


def run(sf_dir: str, sql: str) -> tuple[list[str], list[str], list[tuple]]:
    """(column names, Spark-equivalent dtypes, rows) of ``sql``."""
    con = connect(sf_dir)
    try:
        rel = con.sql(sql)
        cols = list(rel.columns)
        types = [_DUCK_TO_SPARK.get(str(t), str(t)) for t in rel.types]
        rows = rel.fetchall()
    finally:
        con.close()
    return cols, types, rows


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    if v is None:
        return "NULL"
    return str(v)


def rowset(rows: list[tuple]) -> list[tuple]:
    return sorted(tuple(_norm(v) for v in r) for r in rows)


def mismatch(columns: list[str], dtypes: dict[str, str], rows: list, sf_dir: str, sql: str) -> str | None:
    """Compare a Spark result (its columns, dtype by column and collected
    rows) with the oracle; a description of the first difference, or
    None when they match."""
    dcols, dtypes_d, drows = run(sf_dir, sql)
    if sorted(columns) != sorted(dcols):
        return f"columns {sorted(columns)} != {sorted(dcols)}"
    for c, t in zip(dcols, dtypes_d):
        if dtypes[c] != t:
            return f"dtype of {c}: {dtypes[c]} != {t}"
    order = sorted(dcols)
    srows = [tuple(r[c] for c in order) for r in rows]
    idx = [dcols.index(c) for c in order]
    drows = [tuple(r[i] for i in idx) for r in drows]
    if len(srows) != len(drows):
        return f"rows {len(srows)} != {len(drows)}"
    if rowset(srows) != rowset(drows):
        return "values differ"
    return None
