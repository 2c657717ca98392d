"""Driver-side manifest snapshot — one Arrow read per commit.

The manifest is metadata (a row per committed segment, payload
dropped), kilobytes at the scales a driver plans for. Holding it in the
driver as a pyarrow Table turns every plan-time question into plain
Python: the live view, logical types, the decode schema, column
coverage, the pending-batch queue and the pruning keep-sets
(`plans/pruning.keep_ids`). Planning a probe query therefore launches
no Spark job; only a read over the budget does (a small read is
decoded in the driver while the plan is built — `operators/decode`).

A snapshot also pins what a query reads: the segment files listed when
it was taken and the live `(rowgroup_id, column, run_id, attempt_id)`
keys of its commit. A plan built on it returns that commit's answer
even if a `compact()` or `vacuum()` commits before the plan runs. The
facade's decode-shaped reads take those segments as a `pinned` read,
which the decode stage reads with pyarrow itself — in the driver, or
in its tasks (no JVM scan, no shuffle); `segments` gives the same rows
as a DataFrame.

The parquet backend memoizes one snapshot per committed state
(`Warehouse.snapshot`); the Iceberg backend builds one per call from
the table read (no test covers that path: the suite runs without an
Iceberg runtime jar).
"""

from __future__ import annotations

import json
from collections import defaultdict
from functools import cached_property
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.arrow_io import (READ_COLS, FilePool, PinnedRead,
                                  arrow_schema_for, overlaps)
from ..plans.pruning import _ISIN_CAP, keep_ids, manifest_rows

_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_KEY_TYPES = {"rowgroup_id": "long", "column": "string",
              "run_id": "string", "attempt_id": "string"}


class SegmentFile(NamedTuple):
    """What a segment file's parquet footer says, read once per file
    (files are immutable): its rows, Spark schema, rowgroup id range
    and — when one commit attempt wrote it, the normal case — that
    attempt's (run_id, attempt_id). None ranges mean "unknown"."""
    path: str
    n_rows: int
    schema: T.StructType
    rowgroups: tuple[int, int] | None
    attempt: tuple[str, str] | None


def read_footer(path: str) -> SegmentFile:
    md = pq.read_metadata(path)
    js = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if js is not None:
        schema = T.StructType.fromJson(json.loads(js))
    else:
        schema = from_arrow_schema(md.schema.to_arrow_schema())
    names = [md.schema.column(j).path for j in range(md.num_columns)]

    def value_range(name):
        if name not in names:
            return "absent"
        j = names.index(name)
        lo = hi = None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            st = rg.column(j).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi)

    rgs, run, att = (value_range(n) for n in
                     ("rowgroup_id", "run_id", "attempt_id"))
    if att == "absent":
        att = ("", "")  # pre-attempt_id files join as ''
    attempt = None
    if (run not in (None, "absent") and att is not None
            and run[0] == run[1] and att[0] == att[1]):
        attempt = (run[0], att[0])
    return SegmentFile(path, md.num_rows, schema,
                       rgs if rgs != "absent" else None, attempt)


def merged_schema(schemas) -> T.StructType:
    """Union of Spark schemas by field name, first occurrence wins —
    the `mergeSchema` read, every field nullable."""
    fields: dict[str, T.DataType] = {}
    for s in schemas:
        for f in s.fields:
            fields.setdefault(f.name, f.dataType)
    return T.StructType([T.StructField(n, t, True)
                         for n, t in fields.items()])


def _live(raw: pa.Table) -> pa.Table:
    """The latest committed row per (rowgroup_id, column), compaction
    tombstones applied. Tie-break (committed_at has 1-second
    resolution): committed_at, then 'retired' over 'done', then run_id,
    then attempt_id, all descending — deterministic and
    attempt-consistent across a rowgroup's columns; see
    `Warehouse.live_manifest`."""
    t = raw.filter(pc.is_in(raw["status"], pa.array(["done", "retired"])))
    if t.num_rows == 0:
        return t
    t = t.append_column(
        "__retired", pc.equal(t["status"], "retired").cast(pa.int8()))
    t = t.sort_by([("rowgroup_id", "ascending"), ("column", "ascending"),
                   ("committed_at", "descending"),
                   ("__retired", "descending"), ("run_id", "descending"),
                   ("attempt_id", "descending")])
    rg = t["rowgroup_id"].to_numpy()
    col = np.asarray(t["column"].to_pylist(), dtype=object)
    first = np.ones(t.num_rows, dtype=bool)
    first[1:] = (rg[1:] != rg[:-1]) | (col[1:] != col[:-1])
    t = t.filter(pa.array(first)).drop_columns(["__retired"])
    return t.filter(pc.equal(t["status"], "done"))


class ManifestSnapshot:
    """One commit's manifest in the driver. `raw` is the append-only
    history; `files` the pinned segment files (None on Iceberg, whose
    table read pins its own snapshot)."""

    def __init__(self, raw: pa.Table, files: list[SegmentFile] | None):
        if "attempt_id" in raw.column_names:
            # pre-attempt_id rows (older stores) carry null: coalesce
            # to '' so they keep matching their segment rows
            i = raw.column_names.index("attempt_id")
            raw = raw.set_column(i, "attempt_id",
                                 pc.fill_null(raw["attempt_id"], ""))
            self.has_attempt = True
        else:
            raw = raw.append_column(
                "attempt_id", pa.array([""] * raw.num_rows, pa.string()))
            self.has_attempt = False
        # every field nullable: the Spark view of the manifest is the
        # merged read of files from several engine versions
        self.raw = raw.cast(pa.schema([f.with_nullable(True)
                                       for f in raw.schema]))
        self.live = _live(self.raw)
        self.files = files
        self._segment_schema: T.StructType | None = None

    # -- metadata views -----------------------------------------------------

    @cached_property
    def rows(self) -> list[dict]:
        """Live rows for the keep tests (`plans/pruning.manifest_rows`)."""
        return manifest_rows(self.live)

    @cached_property
    def run_ids(self) -> frozenset:
        """Every run that ever committed (the pending-batch queue)."""
        return frozenset(self.raw["run_id"].to_pylist())

    @cached_property
    def _typed(self) -> pa.Table:
        """The rows that type the store's columns: the live ones, or,
        once every row was deleted, the history — so an empty store
        keeps its columns, and probes on them answer empty instead of
        failing to resolve."""
        return self.live if self.live.num_rows else self.raw

    @cached_property
    def logical_types(self) -> dict[str, str]:
        out: dict[str, str] = {}
        for col, lt in zip(self._typed["column"].to_pylist(),
                           self._typed["logical_type"].to_pylist()):
            out.setdefault(col, lt)
        return out

    @cached_property
    def decode_schema(self) -> T.StructType:
        from ..operators.decode import schema_from_manifest
        return schema_from_manifest(self._typed)

    @cached_property
    def rowgroup_rows(self) -> dict[int, int]:
        """Live rowgroup id -> its row count (max n_rows over columns)."""
        out: dict[int, int] = {}
        for r in self.rows:
            rg = r["rowgroup_id"]
            out[rg] = max(out.get(rg, 0), r["n_rows"])
        return out

    @cached_property
    def coverage(self) -> tuple[dict[str, int], int]:
        """({column: live rowgroups holding it}, live rowgroups)."""
        per: dict[str, set] = defaultdict(set)
        for r in self.rows:
            per[r["column"]].add(r["rowgroup_id"])
        return ({c: len(s) for c, s in per.items()},
                len(self.rowgroup_rows))

    @cached_property
    def max_rowgroup_id(self) -> int | None:
        """Highest id in the RAW history (tombstoned ids included)."""
        return pc.max(self.raw["rowgroup_id"]).as_py()

    def keep_ids(self, column: str, kind: str, payload,
                 logical_type: str | None) -> list[int] | None:
        """Keep-set of one normalized predicate; None = unprunable."""
        return keep_ids(self.rows, column, kind, payload, logical_type)

    # -- Spark views --------------------------------------------------------

    def frame(self, spark: SparkSession, raw: bool = False,
              rowgroups=None) -> DataFrame:
        """The live (or raw) manifest as a DataFrame built from the
        snapshot — no file read — optionally only `rowgroups`' rows."""
        tbl = self.raw if raw else self.live
        if rowgroups is not None:
            tbl = tbl.filter(pc.is_in(tbl["rowgroup_id"],
                                      pa.array(list(rowgroups), pa.int64())))
        if not tbl.num_rows:
            # a filter that keeps no row leaves chunk-less columns,
            # which createDataFrame rejects
            tbl = tbl.schema.empty_table()
        return spark.createDataFrame(tbl, from_arrow_schema(tbl.schema))

    @cached_property
    def _keys(self) -> dict[int, list[tuple[str, str, str]]]:
        out: dict[int, list] = defaultdict(list)
        for rg, col, run, att in _key_rows(self.live):
            out[rg].append((col, run, att))
        return out

    @cached_property
    def _sizes(self) -> dict[tuple[int, str], int]:
        """Live (rowgroup_id, column) -> the segment's raw_bytes."""
        return dict(zip(zip(self.live["rowgroup_id"].to_pylist(),
                            self.live["column"].to_pylist()),
                        self.live["raw_bytes"].to_pylist()))

    def segment_schema(self, spark: SparkSession, backend) -> T.StructType:
        """The segments table's schema: merged from the pinned files'
        footers; for a store without segment rows, the manifest's
        columns plus the payload."""
        if self._segment_schema is None:
            if self.files is None:
                self._segment_schema = backend.read_segments(spark).schema
            elif any(f.n_rows for f in self.files):
                self._segment_schema = merged_schema(
                    f.schema for f in self.files if f.n_rows)
            else:
                meta = self.frame(spark, raw=True).drop(
                    "status", "committed_at").schema
                self._segment_schema = merged_schema([meta, T.StructType(
                    [T.StructField("payload", T.BinaryType())])])
        return self._segment_schema

    def segments(self, spark: SparkSession, backend,
                 rowgroups=None) -> DataFrame:
        """The committed segment rows of `rowgroups` (None = every live
        rowgroup): the pinned files that can hold them, read with an
        explicit schema, filtered to this commit's live keys. Small
        keep-sets filter by one SQL condition (its rowgroup_id IN list
        reaches the parquet scan as a pushed filter); larger ones
        semi-join a broadcast key frame."""
        ids = (sorted(self._keys) if rowgroups is None
               else sorted(set(rowgroups) & self._keys.keys()))
        schema = self.segment_schema(spark, backend)
        keys = [(rg, *k) for rg in ids for k in self._keys[rg]]
        if self.files is None:
            segs = backend.read_segments(spark)
        else:
            # a file one attempt wrote holds live rows only if that
            # attempt is live (None: attempt unknown, keep the file)
            live = {(run, att) for _rg, _c, run, att in keys} | {None}
            paths = [f.path for f in self.files
                     if f.n_rows and overlaps(ids, f.rowgroups)
                     and self._attempt(f) in live]
            if not paths:
                return spark.createDataFrame([], schema)
            segs = spark.read.schema(schema).parquet(*paths)
        if not keys:
            return segs.where(F.lit(False))
        with_att = self.has_attempt and "attempt_id" in segs.columns
        if len(ids) <= _ISIN_CAP:
            return segs.where(_key_cond(keys, with_att))
        if not with_att:
            return _semi_join(spark, segs, [k[:3] for k in keys],
                              ["rowgroup_id", "column", "run_id"])
        segs = segs.withColumn("attempt_id",
                               F.coalesce("attempt_id", F.lit("")))
        return _semi_join(spark, segs, keys, list(_KEY_TYPES))

    def pinned(self, spark: SparkSession, rowgroups=None,
               pool: FilePool | None = None) -> PinnedRead:
        """The committed segments of `rowgroups` (None = every live
        rowgroup) as a read the decode stage runs itself: the same
        pinned files, file pruning and live-key filter as `segments`,
        applied by pyarrow in the driver (through `pool`, when given)
        or in the stage's tasks. Parquet backend only."""
        keys = dict(self._keys)
        if rowgroups is not None:
            keys = {rg: keys[rg] for rg in set(rowgroups) & keys.keys()}
        files = [f for f in self.files if f.n_rows]
        read = [f for f in merged_schema(f.schema for f in files).fields
                if f.name in READ_COLS
                and (f.name != "attempt_id" or self.has_attempt)]
        return PinnedRead(
            spark, tuple((f.path, f.rowgroups, self._attempt(f))
                         for f in files),
            keys, arrow_schema_for(T.StructType(read)), self.decode_schema,
            self._sizes, pool=pool)

    def _attempt(self, f: SegmentFile) -> tuple[str, str] | None:
        """A file's commit attempt as the manifest keys it (a manifest
        without attempt_id keys by run_id alone)."""
        if f.attempt is None or self.has_attempt:
            return f.attempt
        return (f.attempt[0], "")


def _key_rows(tbl: pa.Table):
    """(rowgroup_id, column, run_id, attempt_id) of each manifest row."""
    return zip(*(tbl[c].to_pylist() for c in
                 ("rowgroup_id", "column", "run_id", "attempt_id")))


def _semi_join(spark: SparkSession, segs: DataFrame, rows,
               on: list[str]) -> DataFrame:
    """`segs` rows matching one of the key `rows` on `on`: a broadcast
    semi-join, for key sets too large for a literal filter."""
    kdf = spark.createDataFrame(
        rows, ", ".join(f"`{c}` {_KEY_TYPES[c]}" for c in on))
    return segs.join(F.broadcast(kdf), on=on, how="left_semi")


def _key_cond(keys, with_att: bool) -> str:
    """Exact SQL filter for live (rowgroup_id, column, run_id,
    attempt_id) keys, compressed to one clause per commit attempt and
    column set (a rowgroup's columns normally share one attempt). A
    SQL string parsed once in the JVM: built from Column objects, a
    point lookup's filter cost hundreds of Py4J round trips."""
    per_rg: dict = defaultdict(lambda: defaultdict(set))
    for rg, col, run, att in keys:
        per_rg[rg][(run, att)].add(col)
    groups: dict = defaultdict(list)
    for rg, parts in per_rg.items():
        for (run, att), cols in parts.items():
            groups[(run, att, tuple(sorted(cols)))].append(rg)
    clauses = []
    for (run, att, cols), rgs in sorted(groups.items()):
        c = (f"run_id = {_sql_str(run)} AND rowgroup_id IN "
             f"({', '.join(map(str, sorted(rgs)))}) AND `column` IN "
             f"({', '.join(map(_sql_str, cols))})")
        if with_att:
            c += (f" AND attempt_id = {_sql_str(att)}" if att
                  else " AND coalesce(attempt_id, '') = ''")
        clauses.append(f"({c})")
    ids = sorted(per_rg)
    return (f"rowgroup_id IN ({', '.join(map(str, ids))}) AND "
            f"({' OR '.join(clauses)})")


def _sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
