"""DuckDB oracle comparison for the warehouse query mix.

The rule is the repository's own, imported from ``tools/check_oracle.py``:
equal row count, equal column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, floats rendered to six decimals,
timestamps as naive UTC).
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "check_oracle", Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py")
_check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_check_oracle)
normalize, value_hash = _check_oracle.normalize, _check_oracle.value_hash


def mismatch(spark_df, oracle_df) -> str | None:
    """``None`` when the two results agree, else a one-line reason."""
    if len(spark_df) != len(oracle_df):
        return f"rows spark={len(spark_df)} oracle={len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    hs, ho = value_hash(normalize(spark_df)), value_hash(normalize(oracle_df))
    return None if hs == ho else f"value hash spark={hs} oracle={ho}"


def duckdb_connection(table_dir, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con
