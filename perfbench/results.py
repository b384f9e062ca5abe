"""Order-insensitive digests of query results, and their DuckDB derivation.

A result is an Arrow table. Its digest is the SHA-256 of its sorted column
names and its rows rendered to canonical text and sorted, so a Spark result
and the DuckDB oracle of the same query hash equal when they hold the same
values, whatever the row order or the integer width. Timestamps are compared
as naive UTC, floats exactly (shortest round-trip text).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import pyarrow as pa
import pyarrow.compute as pc


def _text(value) -> str:
    if value is None:
        return "\\N"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return repr(value + 0.0)  # folds -0.0 into 0.0
    if isinstance(value, decimal.Decimal):
        return format(value.normalize(), "f")
    if isinstance(value, dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return value.isoformat()
    if isinstance(value, dt.date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(_text(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{k}:{_text(value[k])}" for k in sorted(value)) + "}"
    if isinstance(value, bytes):
        return value.hex()
    return str(value)


def _column_text(column: pa.ChunkedArray) -> pa.ChunkedArray:
    """Canonical text of every value of one column, computed in Arrow where
    the type allows: integers of any width as int64, floats as float64
    (+0.0 folds -0.0 into 0.0), timestamps as naive UTC microseconds."""
    t = column.type
    if pa.types.is_integer(t):
        column = pc.cast(column, pa.int64())
    elif pa.types.is_floating(t):
        column = pc.add(pc.cast(column, pa.float64()), 0.0)
    elif pa.types.is_timestamp(t):
        column = pc.cast(column, pa.timestamp("us"))
    elif not (pa.types.is_boolean(t) or pa.types.is_string(t) or pa.types.is_large_string(t)
              or pa.types.is_date(t)):
        return pa.chunked_array([pa.array([_text(v) for v in column.to_pylist()], pa.string())])
    return pc.fill_null(pc.cast(column, pa.string()), "\\N")


def canonical_rows(table: pa.Table) -> tuple[list[str], list[str]]:
    """Sorted column names and the sorted canonical text of every row."""
    names = sorted(table.column_names)
    if not names or table.num_rows == 0:
        return names, [""] * table.num_rows
    columns = [_column_text(table.column(n)) for n in names]
    rows = pc.binary_join_element_wise(*columns, "\t") if len(columns) > 1 else columns[0]
    return names, pc.take(rows, pc.sort_indices(rows)).to_pylist()


def digest(table: pa.Table) -> str:
    names, rows = canonical_rows(table)
    h = hashlib.sha256()
    h.update(("\t".join(names) + "\n").encode())
    for row in rows:
        h.update((row + "\n").encode())
    return h.hexdigest()


def duckdb_digests(views: dict[str, str], oracles: dict[str, str], names) -> dict[str, str]:
    """Run each named oracle in DuckDB over ``views`` (view name -> parquet
    file or ``*.parquet`` glob) and return its result digest."""
    import duckdb

    con = duckdb.connect()
    try:
        for view, path in views.items():
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
        return {name: digest(con.execute(oracles[name]).fetch_arrow_table()) for name in names}
    finally:
        con.close()
