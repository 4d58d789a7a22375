"""Compare a declared query's result with its DuckDB ``oracle_sql()``
twin: dtype class, columns, row count and values, order-insensitive
(the comparison `scripts/check_oracle.py` makes)."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def mismatch(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """None when both results match exactly, else a one-line reason."""
    for c in sorted(set(spark_pdf.columns) & set(duck_pdf.columns)):
        ka, kb = _kind(spark_pdf[c]), _kind(duck_pdf[c])
        if ka != kb and {ka, kb} <= {"int", "float", "bool"}:
            return f"dtype class of {c}: {ka} vs {kb}"
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]):
            eq = np.isclose(x, y, rtol=0, atol=0, equal_nan=True)
        else:
            eq = (x == y) | (a[c].isna().to_numpy() & b[c].isna().to_numpy())
        if not eq.all():
            i = int(np.argmin(eq))
            return f"value of {c} at row {i}: {x[i]!r} vs {y[i]!r}"
    return None
