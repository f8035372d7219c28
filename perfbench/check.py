"""Output checks: DuckDB oracle parity and order-insensitive digests.

The normalisation is the one ``tests/test_oracle_parity.py`` uses: columns
sorted by name, floats rounded to 7 decimals, timestamps as naive ISO
strings, arrays as tuples, rows sorted by ``repr``.  One tolerance is
added: a float cell that differs from the oracle's by exactly one unit in
its last rounded decimal place is a rounding tie (the two engines round
an exact half held as a binary double in different directions); ties are
accepted and counted, any other difference is a mismatch.
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 7)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return _norm_cell(v.tolist())
    return v


def normalize(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _last_place_apart(x: float, y: float) -> bool:
    """True when two rounded floats differ by exactly one unit in their
    last decimal place, as when two engines round the same tie (a value
    exactly halfway, held as a binary double) in different directions."""
    dx = len(repr(x).partition(".")[2])
    if dx != len(repr(y).partition(".")[2]) or not 0 < dx < 7:
        return False
    return abs(abs(x - y) - 10.0**-dx) < 10.0 ** -(dx + 3)


def rounding_ties(a: list, b: list) -> int | None:
    """Rows of two normalised results aligned on their non-float cells:
    the number of float cells that differ only as rounding ties, or None
    if any other cell differs (or the rows cannot be aligned)."""
    key = lambda r: repr(tuple(x for x in r if not isinstance(x, float)))  # noqa: E731
    ties = 0
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float) and _last_place_apart(x, y):
                ties += 1
            else:
                return None
    return ties


def oracle_mismatch(con, sql: str, rows, cols) -> tuple[str | None, int]:
    """(None when the Spark rows equal the oracle's, else the reason;
    number of float cells that differ only as rounding ties)."""
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != {sorted(dcols)}", 0
    if len(rows) != len(drows):
        return f"row count {len(rows)} != {len(drows)}", 0
    a = normalize([tuple(r) for r in rows], cols)
    b = normalize(drows, dcols)
    if a == b:
        return None, 0
    ties = rounding_ties(a, b)
    return ("values differ", 0) if ties is None else (None, ties)


def _stable(col: Column, dtype: T.DataType) -> Column:
    """Column made insensitive to last-bit float noise (6 decimals)."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.round(col.cast("double"), 6)
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.FloatType, T.DoubleType)
    ):
        return F.transform(col, lambda x: F.round(x.cast("double"), 6))
    if isinstance(dtype, T.MapType):
        return F.to_json(col)
    return col


def digest_columns(df: DataFrame) -> list[Column]:
    """Aggregates for ``DataFrame.observe``: an order-insensitive digest of
    every output row (sum of row hashes) and the row count.  Observed
    metrics ride along with the action that forces the frame, so the digest
    costs no extra job."""
    cols = [_stable(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    row_hash = F.xxhash64(*cols) if cols else F.lit(0)
    return [
        F.sum(row_hash.cast("decimal(38,0)")).alias("digest"),
        F.count(F.lit(1)).alias("rows"),
    ]
