"""Output checks, run outside the timed region.

The dashboard check runs each query's registered DuckDB oracle over the
same parquet files and compares the canonicalized results: columns in
name order, rows sorted, floats equal to a relative 1e-9 (both engines
aim for exact equality, see the registry's parity rules). Both results
come over as Arrow tables and are compared column by column, so a
query with ~100k result rows checks in about a second.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _column(a: pa.ChunkedArray) -> pd.Series:
    """One column in a form both engines agree on: numbers as int64 or
    float64 (decimals as float, as the parity rules allow), timestamps
    as UTC microseconds, dates as days, anything nested as its repr."""
    t = a.type
    if pa.types.is_decimal(t) or pa.types.is_floating(t):
        return pd.Series(a.cast(pa.float64()).to_numpy(zero_copy_only=False))
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return pd.Series(a.cast(pa.int64()).to_pandas(), dtype="Int64")
    if pa.types.is_timestamp(t):
        return pd.Series(a.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64()).to_pandas(),
                         dtype="Int64")
    if pa.types.is_date(t):
        return pd.Series(a.cast(pa.date32()).cast(pa.int32()).cast(pa.int64()).to_pandas(),
                         dtype="Int64")
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pd.Series(a.to_pylist(), dtype=object)
    return pd.Series([None if v is None else repr(v) for v in a.to_pylist()], dtype=object)


def _canonical(t: pa.Table) -> pd.DataFrame:
    cols = sorted(t.column_names)
    df = pd.DataFrame({c: _column(t.column(c)) for c in cols})
    return df.sort_values(cols, na_position="last", kind="stable").reset_index(drop=True)


class Oracle:
    """One DuckDB connection with the dashboard tables as views."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def compare(self, spark_result: pa.Table, sql: str) -> str | None:
        """None when the results agree, else a one-line reason."""
        s, d = _canonical(spark_result), _canonical(self.con.execute(sql).arrow())
        if list(s.columns) != list(d.columns):
            return f"columns differ: spark={list(s.columns)} duckdb={list(d.columns)}"
        if len(s) != len(d):
            return f"row counts differ: spark={len(s)} duckdb={len(d)}"
        for c in s.columns:
            x, y = s[c], d[c]
            if x.dtype == np.float64 and y.dtype == np.float64:
                same = np.isclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True)
            else:
                same = ((x == y).fillna(False) | (x.isna() & y.isna())).to_numpy(dtype=bool)
            if not same.all():
                i = int(np.flatnonzero(~same)[0])
                return f"row {i} column {c}: spark={x[i]!r} duckdb={y[i]!r}"
        return None
