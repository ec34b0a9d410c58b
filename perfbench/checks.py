"""Output checks: Spark results against DuckDB on the same input, in
``tools/verify_local.py``'s canonical order-insensitive form."""

from __future__ import annotations

import datetime
import math

from pyspark.sql import types as T

from verify_local import canon  # noqa: F401  (callers take it from here)

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _py(value, dtype):
    """One ``toPandas`` cell as ``collect()`` would have returned it."""
    if value is None:
        return None
    if isinstance(value, float) and math.isnan(value):
        return None  # Arrow turns a null double (or a null int) into NaN
    if hasattr(value, "to_pydatetime"):
        return value.to_pydatetime() if value == value else None
    if isinstance(dtype, _INTEGRAL):
        return int(value)
    if isinstance(dtype, T.ArrayType):
        return [_py(v, dtype.elementType) for v in value]
    if hasattr(value, "item") and not isinstance(value, datetime.date):
        return value.item()  # numpy scalar
    return value


def pandas_rows(pdf, schema: T.StructType) -> list[tuple]:
    """Rows of a ``toPandas`` frame with ``collect()``'s Python values, so
    :func:`canon` reads both the same way."""
    types = [schema[c].dataType for c in pdf.columns]
    cols = [[_py(v, t) for v in pdf[c].tolist()] for c, t in zip(pdf.columns, types)]
    return list(zip(*cols)) if cols else []
