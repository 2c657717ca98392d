"""DuckDB reference answers and order-insensitive result digests.

The transcript table is derived with the engine's own dual-dialect
``TRANSCRIPTS_SQL`` over the same parquet files Spark reads, so both
sides see identical input rows.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa

from columnstore_spark.sources.transcripts import TRANSCRIPTS_SQL


def _normalize(a: pa.Array) -> list:
    t = a.type
    if pa.types.is_timestamp(t):
        a = a.cast(pa.timestamp("us")).cast(pa.int64())
    elif pa.types.is_date(t):
        a = a.cast(pa.int32())
    elif pa.types.is_integer(t) or pa.types.is_boolean(t):
        a = a.cast(pa.int64())
    elif pa.types.is_floating(t):
        a = a.cast(pa.float64())
    elif pa.types.is_decimal(t):
        # engines widen integer sums differently (long, decimal(38,0),
        # hugeint): compare integral values as ints
        return [None if v is None else
                int(v) if v == v.to_integral_value() else str(v)
                for v in a.to_pylist()]
    elif pa.types.is_large_string(t):
        a = a.cast(pa.string())
    return a.to_pylist()


def digest(tbl: pa.Table) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, sha256 of the sorted rows).

    Types are normalised first (timestamps to epoch micros, every int
    width to int64), so a Spark result and a DuckDB result with the
    same values compare equal."""
    names = tuple(sorted(tbl.column_names))
    cols = [_normalize(tbl.column(c).combine_chunks()) for c in names]
    rows = sorted(zip(*cols), key=repr) if cols else []
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return names, tbl.num_rows, h


class Oracle:
    """One in-process DuckDB with the generated tables as views and the
    transcript table materialised."""

    def __init__(self, paths: dict[str, str], threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        for name, path in paths.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        if "events" in paths and "documents" in paths:
            self.con.execute(
                f"CREATE TABLE transcripts AS {TRANSCRIPTS_SQL}")

    def arrow(self, sql: str, params=None) -> pa.Table:
        return self.con.execute(sql, params or []).fetch_arrow_table()

    def digest(self, sql: str, params=None):
        return digest(self.arrow(sql, params))

    def close(self) -> None:
        self.con.close()
