"""Arrow-side plumbing shared by the encode/decode stages.

Both stages run as ``mapInArrow`` over rowgroup-sorted input, so each
rowgroup arrives as a contiguous block of record batches: either a
partition hash-partitioned and sorted by rowgroup id, or the sorted
table a task reads itself from a snapshot's pinned segment files
(`PinnedRead`; in the driver, from the warehouse's `FilePool` of whole
pinned files). Streaming the group boundary detection (instead of
``groupBy().applyInPandas``) never materializes per-row Python
objects: strings stay inside Arrow buffers end-to-end
(BASELINE.json input_hint: "no per-row Python").
"""

from __future__ import annotations

import bisect
import collections
import dataclasses
import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import types as T

try:
    from pyspark.sql.pandas.types import to_arrow_schema as _to_arrow_schema
except ImportError:  # pragma: no cover - older pyspark layouts
    _to_arrow_schema = None

_FALLBACK = {
    T.ByteType(): pa.int8(), T.ShortType(): pa.int16(),
    T.IntegerType(): pa.int32(), T.LongType(): pa.int64(),
    T.FloatType(): pa.float32(), T.DoubleType(): pa.float64(),
    T.BooleanType(): pa.bool_(), T.StringType(): pa.string(),
    T.BinaryType(): pa.binary(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
    T.TimestampNTZType(): pa.timestamp("us"),
}


def _fallback_type(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.ArrayType):
        return pa.list_(_fallback_type(dt.elementType))
    return _FALLBACK[dt]


def arrow_schema_for(schema: T.StructType) -> pa.Schema:
    """The Arrow schema Spark expects from a mapInArrow output batch."""
    if _to_arrow_schema is not None:
        return _to_arrow_schema(schema)
    return pa.schema([(f.name, _fallback_type(f.dataType))
                      for f in schema.fields])


def iter_groups(batches: Iterator[pa.RecordBatch],
                key: str) -> Iterator[tuple[int, pa.Table]]:
    """Yield (key_value, table) per contiguous key block.

    Input batches must be sorted by `key` within the partition (Spark's
    ``sortWithinPartitions`` upstream). Peak memory = one group.
    """
    import numpy as np

    pending: list[pa.RecordBatch] = []
    current: int | None = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        ids = batch.column(key).to_numpy(zero_copy_only=False)
        bounds = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1).tolist(),
                  len(ids)]
        for s, e in zip(bounds[:-1], bounds[1:]):
            kid = int(ids[s])
            if current is None:
                current = kid
            if kid != current:
                yield current, pa.Table.from_batches(pending)
                pending = []
                current = kid
            pending.append(batch.slice(s, e - s))
    if pending:
        yield current, pa.Table.from_batches(pending)


def overlaps(ids: list[int], rng: tuple[int, int] | None) -> bool:
    """Whether sorted `ids` hit the inclusive range `rng` (None: the
    range is unknown, assume a hit)."""
    if rng is None:
        return True
    i = bisect.bisect_left(ids, rng[0])
    return i < len(ids) and ids[i] <= rng[1]


# the segment columns a decode-shaped read needs, plus its key columns
READ_COLS = ("rowgroup_id", "column", "col_idx", "logical_type", "payload",
             "run_id", "attempt_id")


@dataclasses.dataclass(frozen=True)
class PinnedRead:
    """A snapshot's kept segments, read by the decode stage itself.

    `files` are the snapshot's pinned segment files as (path, rowgroup
    id range, commit attempt) — range and attempt None when unknown;
    `keys` maps each kept rowgroup id to its live (column, run_id,
    attempt_id) keys; `columns` optionally projects by column name.
    `sizes` maps each live (rowgroup_id, column) to its manifest
    `raw_bytes`, so `raw_bytes` is the decoded size of exactly the
    kept, projected segments. `read_schema` is the Arrow schema the
    files are read with (the `READ_COLS` they hold, merged); keys
    compare on attempt_id only when it has one. `schema` is the
    snapshot's decode schema. `pool` is the warehouse's driver-side
    `FilePool` (None: none). Built by `ManifestSnapshot.pinned`;
    consumed by `decode._rowgroup_stage`, which reads it with
    `read_task` — in the driver when `raw_bytes` is small, through
    `pool`, else in tasks that each read a contiguous slice of the ids
    from their files."""
    spark: SparkSession
    files: tuple
    keys: dict
    read_schema: pa.Schema
    schema: T.StructType
    sizes: dict
    columns: frozenset | None = None
    pool: FilePool | None = dataclasses.field(default=None, repr=False,
                                              compare=False)

    @property
    def ids(self) -> list[int]:
        return sorted(self.keys)

    @property
    def raw_bytes(self) -> int:
        """Manifest `raw_bytes` of the kept segments, after projection."""
        return sum(self.sizes[rg, col]
                   for rg, ks in self.keys.items() for col, _r, _a in ks
                   if self.columns is None or col in self.columns)

    def project(self, columns) -> PinnedRead:
        """Only the segments of `columns`."""
        cols = frozenset(columns)
        if self.columns is not None:
            cols &= self.columns
        return dataclasses.replace(self, columns=cols)

    def only(self, rowgroups) -> PinnedRead:
        """Only the segments of `rowgroups`."""
        keep = set(rowgroups)
        return dataclasses.replace(
            self, keys={rg: k for rg, k in self.keys.items() if rg in keep})

    def tasks(self, n: int) -> list[tuple]:
        """At most `n` `read_task` argument tuples, one per contiguous
        slice of the kept ids: the files that can hold the slice
        (rowgroup range overlaps it, and the attempt that wrote the
        file is live in it), the slice, and its exact key set."""
        ids = self.ids
        n = min(n, len(ids))
        out = []
        for i in range(n):
            part = ids[i * len(ids) // n:(i + 1) * len(ids) // n]
            keys = {(rg, col, run, att) for rg in part
                    for col, run, att in self.keys[rg]
                    if self.columns is None or col in self.columns}
            live = {(run, att) for _rg, _c, run, att in keys} | {None}
            paths = [p for p, rng, attempt in self.files
                     if overlaps(part, rng) and attempt in live]
            if "attempt_id" not in self.read_schema.names:
                keys = {(rg, col, run, "") for rg, col, run, _a in keys}
            if keys and paths:
                out.append((paths, self.read_schema, part, keys))
        return out


def read_task(paths: list[str], schema: pa.Schema, ids: list[int],
              keys: set, pool: FilePool | None = None) -> pa.Table:
    """One `PinnedRead` work item: the segment rows of
    `paths`, read with `schema` (a file without one of its columns
    reads it as NULL), whose rowgroup is in `ids` (a pushed parquet
    filter) and whose (rowgroup_id, column, run_id, attempt_id) is a
    live key, sorted by (rowgroup_id, col_idx). A NULL or absent
    attempt_id compares as '' (rows from before attempt_id existed).
    With a driver-side `pool` the files come from it (each read whole,
    once) and the rowgroup filter runs in memory."""
    import pyarrow.compute as pc

    t = (_read(paths, schema, ids) if pool is None
         else pool.read(paths, schema, ids))
    att = (pc.fill_null(t["attempt_id"], "").to_pylist()
           if "attempt_id" in schema.names else [""] * t.num_rows)
    mask = [k in keys for k in zip(t["rowgroup_id"].to_pylist(),
                                   t["column"].to_pylist(),
                                   t["run_id"].to_pylist(), att)]
    return (t.filter(pa.array(mask, pa.bool_()))
            .sort_by([("rowgroup_id", "ascending"),
                      ("col_idx", "ascending")]))


def _read(paths: list[str], schema: pa.Schema,
          ids: list[int] | None = None) -> pa.Table:
    """The rows of the parquet files `paths` read with `schema`, only
    those whose rowgroup is in `ids` (None: every row)."""
    import pyarrow.dataset as ds

    data = ds.dataset(paths, schema=schema, format="parquet")
    if ids is None:
        return data.to_table()
    return data.to_table(filter=ds.field("rowgroup_id").isin(ids))


# Bound of one `FilePool`, in bytes of pooled Arrow tables. The pool
# holds whole segment files; their payloads are already encoded, so a
# file's table is about its size on disk. It serves only the reads the
# driver decodes, each at most `decode._DRIVER_READ_BYTES` (4 MiB
# decoded), and pays off when lookups come back to the same files.
# 64 MiB holds the files of sixteen such reads, and the whole `serve`
# store (~2.6 MB of pinned files) many times over, while staying small
# next to what the driver process already holds (a `serve` run peaks
# near 1.5 GB summed PSS). A file larger than the bound is read as
# before, rowgroup filter pushed down, and never pooled.
_POOL_BYTES = 64 << 20


class FilePool:
    """Driver-side cache of whole pinned segment files, keyed by path.

    Segment files are immutable and uniquely named, so a pooled table
    stays valid while the file is pinned: `pin(paths)` (called when
    the warehouse builds a snapshot) drops every other entry, and a
    file that is not pinned is read but not pooled. Entries are
    evicted least recently used past `_POOL_BYTES`. The pool never
    leaves the driver: executor tasks read their files themselves, and
    pickling a pool raises TypeError."""

    def __init__(self) -> None:
        self._tables: collections.OrderedDict = collections.OrderedDict()
        self._pinned: frozenset = frozenset()
        self.nbytes = 0

    def __reduce__(self):
        raise TypeError("a FilePool is driver-only; tasks read their "
                        "segment files themselves")

    def pin(self, paths) -> None:
        """The files the current snapshot pins: forget all others."""
        self._pinned = frozenset(paths)
        for p in [p for p in self._tables if p not in self._pinned]:
            self._drop(p)

    def read(self, paths: list[str], schema: pa.Schema,
             ids: list[int]) -> pa.Table:
        """`_read(paths, schema, ids)`, each pinned file within the
        bound read whole at most once; any other file is read as
        `_read` reads it."""
        import pyarrow.compute as pc

        parts = []
        for p in paths:
            if p not in self._pinned or os.path.getsize(p) > _POOL_BYTES:
                parts.append(_read([p], schema, ids))
                continue
            t = self._table(p, schema)
            parts.append(t.filter(pc.is_in(
                t["rowgroup_id"], pa.array(ids, t["rowgroup_id"].type))))
        return pa.concat_tables(parts) if parts else schema.empty_table()

    def _table(self, path: str, schema: pa.Schema) -> pa.Table:
        t = self._tables.get(path)
        if t is not None and t.schema.equals(schema):
            self._tables.move_to_end(path)
            return t
        t = _read([path], schema)
        if t.nbytes <= _POOL_BYTES:
            self._drop(path)
            self._tables[path] = t
            self.nbytes += t.nbytes
            while self.nbytes > _POOL_BYTES:
                self._drop(next(iter(self._tables)))
        return t

    def _drop(self, path: str) -> None:
        t = self._tables.pop(path, None)
        if t is not None:
            self.nbytes -= t.nbytes
