"""Distributed decode stage — the bit-identical inverse of encode.

Reference analogue: solid row-group enumeration — one enumerator per
column segment advanced in lockstep to rebuild rows
(`/root/reference/Outcompute.ColumnStore.CodeGenerator/SolidRowGroupGenerator.cs:29-40`,
full-scan S5 `Segments/ColumnSegment.cs:163-188`). Here: stream each
rowgroup's segment rows, decode every column payload vectorized, and
emit the reassembled Arrow batches with the original schema — no
pandas materialization anywhere.

Every operator takes its segments in one of two forms. A snapshot's
`PinnedRead` (what the store facade passes) is read with pyarrow from
the pinned files, live-key rows only, and decoded by one per-task body
placed by the read's decoded size. A small read (a point or IN
lookup) runs that body in the driver while the frame is built and
returns a local frame: no Python worker starts, and its `collect()`
runs no job. The driver body reads its files through the warehouse's
`FilePool` (each pinned file read from disk at most once), and its
gathers decompress only the returned rows (dict_rle run clipping, FSST
random access). A read over `_DRIVER_READ_BYTES` runs it as one shuffle-free
stage, `spark.range(n).mapInArrow`, where task i reads its contiguous
slice of the kept rowgroup ids — no JVM parquet scan, no exchange. A
segments `DataFrame` (operator-level callers, `aggregate`, the Iceberg
backend) is hash-partitioned by rowgroup and sorted within partitions
first.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs.segment import decode_segment
from .arrow_io import (PinnedRead, arrow_schema_for, iter_groups, local_frame,
                       read_task)

_LOGICAL_TO_SPARK = {
    "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
    "int64": T.LongType(), "float32": T.FloatType(), "float64": T.DoubleType(),
    "bool": T.BooleanType(), "string": T.StringType(), "binary": T.BinaryType(),
    "timestamp_s": T.TimestampType(), "timestamp_ms": T.TimestampType(),
    "timestamp_us": T.TimestampType(), "timestamp_ns": T.TimestampType(),
    "date32": T.DateType(),
    # Spark has no unsigned types: widen losslessly (uint64 needs
    # decimal(20,0) — a LongType would corrupt values above 2^63).
    # Arrow-ingested stores (encode_files) are the only source of
    # uints; Spark-ingested data can never carry them.
    "uint8": T.ShortType(), "uint16": T.IntegerType(),
    "uint32": T.LongType(), "uint64": T.DecimalType(20, 0),
}


def _spark_type_of(logical: str) -> T.DataType:
    if logical.startswith("decimal64_") or logical.startswith("decimal128_"):
        _, p, s = logical.split("_")
        return T.DecimalType(int(p), int(s))
    if logical.startswith("nested:"):
        # nested logicals carry their Spark DDL (`nested:array<double>`)
        return T._parse_datatype_string(logical[len("nested:"):])
    return _LOGICAL_TO_SPARK[logical]

_OUT_BATCH_ROWS = 1 << 16
# A `PinnedRead` whose kept, projected segments decode to at most this
# many bytes (manifest raw_bytes) is decoded in the driver. The value
# is where driver decode time reaches the fixed cost of one Python
# stage. `scripts/python_stage_cost.py` (local[1] on one CPU of a
# shared 4-vCPU VM, serve store of seed 1) measured an identity
# mapInArrow over one row at 373 ms against 63 ms for a JVM-only job,
# and driver vs executor decode of 0.25 MiB in 85 vs 362 ms, 1.4 MiB
# in 170 vs 389 ms, 2.8 MiB in 218 vs 495 ms and the whole 5.7 MiB
# store in 446 vs 610 ms: driver decode reaches one stage's cost near
# 4.7 MiB. Point and IN lookups (0.3-0.5 MiB) fit, and so does a
# where lookup that prunes most rowgroups; a full export does not, and
# keeps its executor parallelism on a cluster.
_DRIVER_READ_BYTES = 4 << 20
# A write whose input decodes to at most this many bytes, known before
# any job (a close: its delta batch decoded with pyarrow,
# `TranscriptColumnStore._batch_bytes`; a rowgroup rewrite: its
# victims' manifest raw_bytes), is encoded in the driver
# (`Warehouse.encode_resumable`, `Warehouse.replace_rowgroups`).
# `scripts/ingest_split.py` (local[1] on one CPU of a shared 4-vCPU VM,
# seed 1, two runs) closed batches of 1-16 MiB both ways: the driver
# took 229-363 ms + 64-92 ms/MiB, the Spark encode stage 533-1,141 ms +
# 73-82 ms/MiB, and the driver was faster at every size in both runs.
# So time sets no bound on one CPU; what the driver holds does. The
# collect gathers the decoded rows as Arrow batches in the driver JVM
# (about the decoded size; not measured), then hands them to Python,
# which slices and encodes them: at 16 MiB the driver's Python process
# peaked 70 MiB above its start (208 -> 278 MiB). The bound is the
# largest size measured; past it the driver's memory is untested. No
# benchmark write reaches the Spark side by size: the `serve` closes
# decode to 1.9 MiB each and its compact's victims to 3.5 MiB, and
# upsert, which has no size, always runs the stage.
_DRIVER_WRITE_BYTES = 16 << 20


def schema_from_segments(segments) -> T.StructType:
    """Reconstruct the original Spark schema from segment (or manifest)
    metadata — one small collect; the facade reads the same schema off
    its driver-side manifest snapshot instead (`schema_from_manifest`),
    and a `PinnedRead` carries it."""
    if isinstance(segments, PinnedRead):
        return segments.schema
    return schema_from_manifest(
        segments.select("column", "col_idx", "logical_type")
        .distinct().toArrow())


def schema_from_manifest(manifest: pa.Table) -> T.StructType:
    """The original Spark schema from manifest rows in the driver.

    Deduplicated BY NAME (first col_idx wins): under schema evolution
    heterogeneous batches may assign a column different positions, and
    a duplicated field would make the decode zip ambiguous."""
    cols = {(r["col_idx"], r["column"], r["logical_type"]) for r in
            manifest.select(["column", "col_idx", "logical_type"])
            .to_pylist()}
    fields, seen = [], set()
    for _idx, name, logical in sorted(cols):
        if name in seen:
            continue
        seen.add(name)
        # every field is declared nullable: the decode output is
        # compared against external (oracle/parquet) results whose
        # fields are nullable, and Arrow batches with zero nulls
        # satisfy it trivially
        fields.append(T.StructField(name, _spark_type_of(logical), True))
    return T.StructType(fields)


def decoded_in_driver(segments, columns=None) -> bool:
    """Whether the decode stage reads `segments`, projected to
    `columns` (None: all), in the driver: the placement test of
    `_rowgroup_stage`. True for a `PinnedRead` whose kept, projected
    segments decode to at most `_DRIVER_READ_BYTES`."""
    if not isinstance(segments, PinnedRead):
        return False
    if columns is not None:
        segments = segments.project(columns)
    return segments.raw_bytes <= _DRIVER_READ_BYTES


def _rowgroup_stage(segments, schema: T.StructType,
                    num_partitions: int | None, group_fn,
                    pass_rowgroup: bool = False) -> DataFrame:
    """The one decode-shaped stage every read path shares: stream each
    rowgroup's segment rows, ordered by col_idx, as one Arrow table
    through `group_fn(payloads, logicals, colnames) -> {column:
    pa.Array} | None` (None = the rowgroup contributes no rows), and
    zip the returned columns back into `schema`. With `pass_rowgroup`
    the callback receives the rowgroup id as its first argument
    (per-rowgroup parameterized reads, e.g. the global window's
    routing table).

    `segments` picks the input side. A `PinnedRead` is split into
    `read_task` work items, each decoded by the same body
    (`run_tasks`); where that body runs depends on the read's
    `raw_bytes`. Up to `_DRIVER_READ_BYTES` it runs in the driver over
    one work item, EAGERLY — the segments are read and decoded when
    this frame is built, not when it is forced — reading its files
    through the read's `pool`, and the result comes back as
    `arrow_io.local_frame`, a local relation that forcing runs with no
    Python worker; so does a read left with no work item. A larger
    read runs as `spark.range(0, n, 1, n).mapInArrow(...)` with
    n = min(kept rowgroups, `num_partitions`): the work plan travels in the
    closure, task `id` decodes work item `id` from files it reads
    itself (the pool is not in the closure), and nothing shuffles.
    A segments DataFrame is hash-partitioned by rowgroup into
    `num_partitions` and sorted within partitions.
    `num_partitions` defaults to spark.sql.shuffle.partitions."""
    names = [f.name for f in schema.fields]
    out_pa_schema = arrow_schema_for(schema)
    pinned = isinstance(segments, PinnedRead)
    spark = segments.spark if pinned else segments.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def emit(groups) -> Iterator[pa.RecordBatch]:
        for _rg, tbl in groups:
            args = (tbl.column("payload").combine_chunks(),
                    tbl.column("logical_type").to_pylist(),
                    tbl.column("column").to_pylist())
            by_name = (group_fn(_rg, *args) if pass_rowgroup
                       else group_fn(*args))
            if by_name is None or not by_name:
                continue
            # schema evolution: a rowgroup encoded before add_column()
            # has no segment for the late column — it reads as NULL
            # (same contract as Iceberg metadata-only schema adds)
            n_out = len(next(iter(by_name.values())))
            cols = [(by_name[n] if n in by_name
                     else pa.nulls(n_out, type=f.type)).cast(f.type)
                    for n, f in zip(names, out_pa_schema)]
            out = pa.Table.from_arrays(cols, schema=out_pa_schema)
            yield from out.to_batches(max_chunksize=_OUT_BATCH_ROWS)

    if not pinned:
        work = (
            segments.select("rowgroup_id", "column", "col_idx",
                            "logical_type", "payload")
            .repartition(num_partitions, F.col("rowgroup_id"))
            .sortWithinPartitions("rowgroup_id", "col_idx")
        )
        return work.mapInArrow(
            lambda batches: emit(iter_groups(batches, "rowgroup_id")),
            schema)

    in_driver = decoded_in_driver(segments)
    tasks = segments.tasks(1 if in_driver else num_partitions)
    if not tasks:
        return local_frame(spark, schema)

    def run_tasks(ids, pool=None) -> Iterator[pa.RecordBatch]:
        for i in ids:
            yield from emit(iter_groups(
                read_task(*tasks[i], pool).to_batches(), "rowgroup_id"))

    if in_driver:
        return local_frame(spark, schema, list(
            run_tasks(range(len(tasks)), segments.pool)))

    def run_partition(batches: Iterator[pa.RecordBatch]
                      ) -> Iterator[pa.RecordBatch]:
        # drain the (one-row) input before reading: the task's id
        # selects its work item; the task reads its own files (the
        # driver's pool stays out of this closure)
        return run_tasks([i for b in batches
                          for i in b.column(0).to_pylist()])

    n = len(tasks)
    return spark.range(0, n, 1, n).mapInArrow(run_partition, schema)


def _project(segments, columns):
    """Only the segments of `columns`."""
    if isinstance(segments, PinnedRead):
        return segments.project(columns)
    return segments.where(F.col("column").isin(sorted(columns)))


def _only(segments, rowgroups):
    """Only the segments of `rowgroups`."""
    if isinstance(segments, PinnedRead):
        return segments.only(rowgroups)
    return segments.where(F.col("rowgroup_id").isin(sorted(rowgroups)))


def _decode_stage(segments, schema: T.StructType | None,
                  num_partitions: int | None, kernel) -> DataFrame:
    """Per-segment decode: `kernel(payload, logical) -> pa.Array` on
    every column segment of each rowgroup."""
    if schema is None:
        schema = schema_from_segments(segments)

    def decode_group(payloads, logicals, colnames):
        return {name: kernel(payloads[i].as_py(), logicals[i])
                for i, name in enumerate(colnames)}

    return _rowgroup_stage(segments, schema, num_partitions, decode_group)


def decode_with_rowgroup(segments,
                         schema: T.StructType | None = None,
                         num_partitions: int | None = None,
                         rg_col: str = "__rg") -> DataFrame:
    """`decode()` plus the source rowgroup id as an extra long column.
    The mutation paths (delete/upsert) use it to tighten their victim
    set to rowgroups that ACTUALLY contain matching rows — a
    bounds/bloom false-positive candidate decodes but is never
    rewritten or tombstoned."""
    if schema is None:
        schema = schema_from_segments(segments)
    out_schema = T.StructType(
        list(schema.fields) + [T.StructField(rg_col, T.LongType(), False)])

    def decode_group(rg, payloads, logicals, colnames):
        cols = {name: decode_segment(payloads[i].as_py(), logicals[i])
                for i, name in enumerate(colnames)}
        n = len(next(iter(cols.values()))) if cols else 0
        cols[rg_col] = pa.array([rg] * n, type=pa.int64())
        return cols

    return _rowgroup_stage(segments, out_schema, num_partitions,
                           decode_group, pass_rowgroup=True)


def decode(segments, schema: T.StructType | None = None,
           num_partitions: int | None = None,
           columns: list[str] | None = None) -> DataFrame:
    """segments (a DataFrame or a `PinnedRead`) -> DataFrame with the
    original schema. A `PinnedRead` within the driver budget is
    decoded here, when the frame is built (see `_rowgroup_stage`).

    Row order inside each rowgroup is the encode order; global order is
    restored by the verifier's (conv_id, turn_idx) sort (SURVEY.md §3.2).

    `columns` projects at the ENCODED level: only the named columns'
    segment rows are read (a pinned read drops the others in its
    tasks; on a DataFrame the filter reaches the segments parquet
    scan) and decoded — a wide text column's payloads are never
    decoded or shipped to the JVM.
    """
    if columns is not None:
        if schema is None:
            schema = schema_from_segments(segments)
        _check_known(columns, schema)
        schema = T.StructType([f for f in schema.fields
                               if f.name in set(columns)])
        segments = _project(segments, columns)
    return _decode_stage(segments, schema, num_partitions, decode_segment)


def _check_known(names, schema: T.StructType) -> None:
    """Fail fast on the driver for a column the store doesn't hold —
    silently projecting a typo away returns a truncated frame with no
    error, and a missing probe column would otherwise surface as an
    opaque executor-side ValueError."""
    stored = {f.name for f in schema.fields}
    if not stored:
        return  # fully-pruned/empty segments: nothing to validate against
    unknown = sorted(set(names) - stored)
    if unknown:
        raise ValueError(
            f"unknown column(s) {unknown}; stored: {sorted(stored)}")


def decode_matching(segments, column: str, value,
                    columns: list[str] | None = None,
                    schema: T.StructType | None = None,
                    num_partitions: int | None = None) -> DataFrame:
    """Rows where `column` equals `value`, materialized FROM THE
    ENCODED FORM: the probe column's segment is queried for matching
    row ranges (`query_value` — dictionary/constant fast paths, no
    expansion), and only those ranges of the other columns are
    rebuilt (`gather_ranges` run clipping). The reference's
    `QueryByValue` -> `RangeQueryResult` -> per-range `QueryByRange`
    composition (`Segments/ColumnSegment.cs:38-157`) as one
    distributed stage — no full decode, no post-hoc filter, and with
    `columns` the unwanted wide columns never leave storage.

    Sits BEHIND manifest pruning: callers prune rowgroups first, this
    operator then touches only the surviving segments."""
    if value is None:
        raise ValueError("probe value must be non-null (nulls never "
                         "match an equality probe)")
    from ..codecs.query import query_value

    return _matching_stage(
        segments, column,
        lambda payload, logical: query_value(payload, logical, value),
        columns, schema, num_partitions)


def decode_matching_in(segments, column: str, values,
                       columns: list[str] | None = None,
                       schema: T.StructType | None = None,
                       num_partitions: int | None = None) -> DataFrame:
    """Rows where `column` equals ANY of `values`, from the encoded
    form — the IN-list composition of `decode_matching`: ONE probe
    pass per segment tests the dictionary once per value and gathers
    the union of matching runs (`query_values`), so a batch point
    lookup (fetch these k conversations) costs one scan of the probe
    column's encoded payloads, not k. Null probes never match (SQL IN
    semantics); an empty effective list yields an empty frame."""
    from ..codecs.query import query_values

    probes = [v for v in values if v is not None]
    return _matching_stage(
        segments, column,
        lambda payload, logical: query_values(payload, logical, probes),
        columns, schema, num_partitions)


def decode_matching_contains(segments, column: str,
                             needle: str,
                             columns: list[str] | None = None,
                             schema: T.StructType | None = None,
                             num_partitions: int | None = None) -> DataFrame:
    """Rows whose string `column` CONTAINS `needle` (LIKE '%needle%'),
    from the encoded form: dictionary segments substring-test each
    distinct value once and emit the matching runs without expanding
    (`query_contains`); other codecs decode only the probed column
    through Arrow's vectorized match_substring. The text-search
    staple — with `columns` the other wide columns never decode for
    non-matching rows."""
    from ..codecs.query import query_contains

    return _matching_stage(
        segments, column,
        lambda payload, logical: query_contains(payload, logical, needle),
        columns, schema, num_partitions)


def decode_matching_null(segments, column: str,
                         columns: list[str] | None = None,
                         schema: T.StructType | None = None,
                         num_partitions: int | None = None) -> DataFrame:
    """Rows where `column` IS NULL, from the encoded form: the probe
    reads the frame's validity bitmap only (`query_nulls` — zero body
    bytes for every scalar codec) and run-clips the matching ranges
    out of the other columns. Behind the manifest's n_nulls prune
    (plans/pruning.prune_rowgroups_by_null) a null scan touches only
    rowgroups that actually hold nulls."""
    from ..codecs.query import query_nulls

    return _matching_stage(segments, column, query_nulls,
                           columns, schema, num_partitions)


def decode_matching_range(segments, column: str, lo, hi,
                          columns: list[str] | None = None,
                          schema: T.StructType | None = None,
                          num_partitions: int | None = None) -> DataFrame:
    """Rows where `column` MAY lie in [lo, hi], from the encoded form —
    the value-range companion to `decode_matching`. The kernel's range
    probe is a conservative SUPERSET (bounds widened outward;
    unconvertible probes degrade to whole-segment ranges), so callers
    MUST re-apply the exact predicate, e.g.
    ``decode_matching_range(...).where(col.between(lo, hi))`` — which
    is what the store facade does. The win is identical to the equality
    path: dictionary-only tests, run-clipped gathers, and encoded-level
    column projection instead of decode-everything-then-filter."""
    if lo is None or hi is None:
        raise ValueError("range bounds must be non-null")
    from ..codecs.query import query_range

    return _matching_stage(
        segments, column,
        lambda payload, logical: query_range(payload, logical, lo, hi),
        columns, schema, num_partitions)


def decode_matching_pred(segments, pred,
                         columns: list[str] | None = None,
                         schema: T.StructType | None = None) -> DataFrame:
    """The encoded-form gather driven by one kernel-safe normalized
    predicate `(column, kind, payload, logical_type)`
    (`plans/predicates._kernel_safe_pred`): the one kind -> kernel
    dispatch behind the facade's probe planner and
    `aggregate.quantiles`. The eq/in/null kernels are exact for such a
    predicate; the range kernel is a superset the caller re-filters."""
    col, kind, payload, _lt = pred
    if kind == "eq":
        return decode_matching(segments, col, payload, columns=columns,
                               schema=schema)
    if kind == "in":
        return decode_matching_in(segments, col, payload,
                                  columns=columns, schema=schema)
    if kind == "range":
        return decode_matching_range(segments, col, *payload,
                                     columns=columns, schema=schema)
    return decode_matching_null(segments, col, columns=columns,
                                schema=schema)


def _matching_stage(segments, column: str, probe_fn,
                    columns: list[str] | None,
                    schema: T.StructType | None,
                    num_partitions: int | None) -> DataFrame:
    """Shared probe-then-gather stage behind decode_matching[_range]:
    `probe_fn(payload, logical) -> [(start, len), ...]` runs on the
    probed column's segment, the surviving ranges are gathered from
    every output column via run clipping."""
    if schema is None:
        schema = schema_from_segments(segments)
    _check_known([column], schema)
    if columns is not None:
        want = set(columns)
        _check_known(want, schema)
        schema = T.StructType([f for f in schema.fields if f.name in want])
        # the probed column's segment must still travel even when it
        # isn't projected — the ranges come off it
        segments = _project(segments, want | {column})
    from ..codecs.query import gather_ranges

    names = set(f.name for f in schema.fields)
    first_field = arrow_schema_for(schema).field(0)

    def match_group(payloads, logicals, colnames):
        if column not in colnames:
            # rowgroup predates add_column(): the probe column is NULL
            # for every row there, and NULL never matches the
            # value/range/in/contains probes this stage serves (the
            # facade routes IS NULL's all-match case separately)
            return None
        probe_i = colnames.index(column)
        ranges = probe_fn(payloads[probe_i].as_py(), logicals[probe_i])
        if not ranges:
            return None
        out = {name: gather_ranges(payloads[i].as_py(), logicals[i],
                                   ranges)
               for i, name in enumerate(colnames) if name in names}
        if not out:
            # every projected column is late-added relative to this
            # rowgroup: the probe matched, so the rows exist — they
            # must surface as NULL rows, not silently vanish. Size one
            # null column; _rowgroup_stage null-fills the rest.
            n = sum(ln for _, ln in ranges)
            out = {first_field.name: pa.nulls(n, type=first_field.type)}
        return out

    return _rowgroup_stage(segments, schema, num_partitions, match_group)


def decode_window_global(segments, start: int, length: int,
                         schema: T.StructType | None = None,
                         num_partitions: int | None = None,
                         rowgroup_rows: dict[int, int] | None = None
                         ) -> DataFrame:
    """GLOBAL row window [start, start+length) over the store's stable
    enumeration order — rowgroup_id ascending, encode order within
    each rowgroup: the reference enumerator's paging
    (`ColumnStore.GetEnumerator`, `ColumnStore.cs:76-87`) at warehouse
    scale. The page is ROUTED through the per-rowgroup row counts
    (`rowgroup_rows`, which the facade takes off its manifest snapshot
    and a `PinnedRead` requires; else one metadata-only collect over
    the segments frame), each touched rowgroup gets its local
    [start, len) slice, and ONE distributed stage run-clips exactly
    those windows — rowgroups outside the page are never read. A page
    costs payload proportional to `length`, not to the store."""
    from ..codecs.query import query_window

    if schema is None:
        schema = schema_from_segments(segments)
    start, length = max(0, int(start)), max(0, int(length))
    if length == 0 or not schema.fields:
        return decode(_only(segments, []), schema=schema)

    if rowgroup_rows is None:
        # per-rowgroup row count = max over columns of that column's
        # total: robust under schema evolution, where a rowgroup may
        # physically lack ANY given column (late add_column / post-drop
        # ingest) — a single-column routing table would silently drop
        # such rowgroups from the global page
        rowgroup_rows = {r["rowgroup_id"]: r["n_rows"] for r in (
            segments.groupBy("rowgroup_id", "column")
            .agg(F.sum("n_rows").alias("nr"))
            .groupBy("rowgroup_id")
            .agg(F.max("nr").alias("n_rows")).collect())}
    end = start + length
    windows: dict[int, tuple[int, int]] = {}
    cum = 0
    for rg, n in sorted(rowgroup_rows.items()):
        lo, hi = cum, cum + n
        cum = hi
        if hi <= start:
            continue
        if lo >= end:
            break
        windows[rg] = (max(0, start - lo), min(hi, end) - max(lo, start))

    def win_group(rg, payloads, logicals, colnames):
        ls, ll = windows[rg]
        return {name: query_window(payloads[i].as_py(), logicals[i],
                                   ls, ll)
                for i, name in enumerate(colnames)}

    return _rowgroup_stage(_only(segments, windows), schema,
                           num_partitions, win_group, pass_rowgroup=True)


def decode_window(segments, rowgroup_id: int, start: int,
                  length: int, schema: T.StructType | None = None) -> DataFrame:
    """Row-window selection on the encoded form — E4/E8/S4
    (`DefaultEncoding.Decode(start,len)` `DefaultEncoding.cs:160-231`,
    `DictionaryEncoding.Decode(start,len)` run clipping
    `DictionaryEncoding.cs:212-267`, `ColumnSegment.QueryByRange`
    `ColumnSegment.cs:95-157`) lifted to the DataFrame level: decode
    only rows [start, start+length) of one rowgroup under its stable
    encode order, clipping runs on the compressed body instead of
    expanding whole segments. Scale path: exactly one rowgroup's
    payloads move (a pinned read keeps only its id; on a DataFrame
    the rowgroup filter prunes at the parquet scan)."""
    from ..codecs.query import query_window

    segs = _only(segments, [int(rowgroup_id)])

    def kernel(payload, logical):
        return query_window(payload, logical, start, length)

    return _decode_stage(segs, schema, None, kernel)
