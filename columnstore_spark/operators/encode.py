"""Distributed encode stage — the reference's delta->solid compaction
(`ColumnStore.TryCompact`, stubbed at
`/root/reference/Outcompute.ColumnStore/ColumnStore.cs:92-99`; intended
behavior = generated `SolidRowGroupFactory.Create`,
`SolidRowGroupFactoryGenerator.cs:30-66`) re-expressed as one Spark
shuffle + embarrassingly parallel partition-local columnar encoding.

Plan shape (SURVEY.md §7.1):
    input -> [rowgroup_id assignment] -> repartition(hash rowgroup_id)
          -> sortWithinPartitions(rowgroup_id, conv_id, turn_idx)
          -> mapInArrow(stream rowgroup blocks -> encode each column)
          -> one output row per (rowgroup, column) — the segments table.

`mapInArrow` (not applyInPandas) is load-bearing for throughput: column
values stay in Arrow buffers from the shuffle straight into the numpy
codec kernels — no pandas object-dtype strings, no per-row Python
(BASELINE.json input_hint). Measured ~20x on the text column.

Skew handling: the rowgroup id both hash-buckets conversations AND splits
a single huge conversation at `rows_per_segment` turn blocks (salting),
so a zipf-head conversation cannot create a straggler partition.
"""

from __future__ import annotations

import itertools
import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import CODEC_NAMES, chooser
from ..codecs.segment import encode_segment
from .arrow_io import arrow_schema_for, iter_groups

ROWGROUP_COL = "__rowgroup_id"
_TURN_BLOCKS = 1 << 20  # max turn blocks per conversation bucket

SEGMENT_SCHEMA = T.StructType([
    T.StructField("rowgroup_id", T.LongType(), False),
    T.StructField("column", T.StringType(), False),
    T.StructField("col_idx", T.IntegerType(), False),
    T.StructField("codec", T.StringType(), False),
    T.StructField("codec_id", T.IntegerType(), False),
    T.StructField("logical_type", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_nulls", T.LongType(), False),
    T.StructField("n_distinct", T.LongType(), False),
    T.StructField("n_runs", T.LongType(), False),
    T.StructField("min_repr", T.StringType(), True),
    T.StructField("max_repr", T.StringType(), True),
    # typed value-domain bounds (int family / epoch units / unscaled
    # decimals) — null when the logical has no sound int64 bounds
    T.StructField("min_num", T.LongType(), True),
    T.StructField("max_num", T.LongType(), True),
    # double bounds for float logicals (null when NaN present)
    T.StructField("min_flt", T.DoubleType(), True),
    T.StructField("max_flt", T.DoubleType(), True),
    T.StructField("raw_bytes", T.LongType(), False),
    T.StructField("enc_bytes", T.LongType(), False),
    T.StructField("checksum", T.StringType(), False),
    T.StructField("encode_ms", T.DoubleType(), False),
    # opt-in per-segment Bloom filter words (codecs/bloom.py) — point
    # probes on high-cardinality keys (conv_id) prune rowgroups that
    # min/max bounds can never separate; null = not built
    T.StructField("bloom", T.ArrayType(T.LongType()), True),
    # exact stored-domain sum of the segment's non-null values as a
    # decimal string (stats.py SegmentStats.sum_repr) — rolls up into
    # the manifest-only COUNT/MIN/MAX/SUM pushdown
    # (operators/aggregate.py); null = no exact integer sum exists
    T.StructField("sum_repr", T.StringType(), True),
])

_SUPPORTED_SPARK = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.BooleanType, T.StringType, T.BinaryType,
    T.TimestampType, T.TimestampNTZType, T.DateType, T.DecimalType,
    # nested types route through the Arrow-IPC body codec
    # (codecs/segment.py ARROW_IPC_CODEC_ID; reference
    # `DefaultEncoding.cs:6-11` "complex types")
    T.ArrayType, T.MapType, T.StructType,
)


def pa_type_for(spark_type: T.DataType) -> None:
    """Validate a Spark type is encodable (raises TypeError otherwise)."""
    if not isinstance(spark_type, _SUPPORTED_SPARK):
        raise TypeError(f"unsupported Spark type {spark_type}")
    if isinstance(spark_type, T.DecimalType) and spark_type.precision > 38:
        raise TypeError(
            f"decimal precision {spark_type.precision} > 38 unsupported "
            "(unscaled value must fit two int64 words)")


def default_rowgroup_expr(num_rowgroups: int,
                          rows_per_segment: int = 1_000_000,
                          columns: list[str] | None = None) -> Column:
    """Salted, skew-aware rowgroup assignment (SURVEY.md §4.2).

    Hash-buckets conversations into `num_rowgroups` groups and splits any
    conversation longer than `rows_per_segment` turns into separate
    rowgroups — a zipf-head conversation can't produce a straggler.

    `columns` (when given) is the frame's column list: a frame without
    the transcript key columns — e.g. a post-`drop_column` ingest batch
    under schema evolution — buckets on a hash of ALL its columns and
    skips the turn-block split rather than failing analysis on a
    missing name.
    """
    have = (lambda c: columns is None or c in columns)
    if have("conv_id"):
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(num_rowgroups))
    else:
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in (columns or [])]),
                        F.lit(num_rowgroups))
    if have("turn_idx"):
        block = (F.col("turn_idx").cast("long")
                 / F.lit(rows_per_segment)).cast("long")
    else:
        block = F.lit(0)
    return bucket * _TURN_BLOCKS + block


def _encode_rowgroup(rowgroup_id: int, tbl: pa.Table,
                     col_order: list[str], mode: str,
                     compression_order: bool,
                     out_pa_schema: pa.Schema,
                     bloom_columns: frozenset[str] = frozenset(),
                     ) -> pa.RecordBatch:
    """Encode one rowgroup table into its segment rows (one per column).

    Shared by both scan paths — JVM columnar scan (`encode`) and
    worker-side parquet scan (`encode_files`) — so the two produce
    bit-identical segments by construction.
    """
    import pyarrow.compute as pc

    from ..codecs.bloom import build_bloom

    if compression_order:
        ndv = {c: pc.count_distinct(tbl.column(c)).as_py()
               for c in col_order}
        tbl = tbl.sort_by([(c, "ascending") for c in
                           sorted(col_order, key=ndv.get)])
    rows = []
    for idx, name in enumerate(col_order):
        t0 = time.perf_counter()
        arr = tbl.column(name).combine_chunks()
        seg = encode_segment(arr, mode=mode)
        blm = (build_bloom(arr, seg.logical)
               if name in bloom_columns else None)
        ms = (time.perf_counter() - t0) * 1000.0
        st = seg.stats
        rows.append((rowgroup_id, name, idx,
                     CODEC_NAMES[seg.codec_id], seg.codec_id,
                     seg.logical, seg.payload, st.n_rows, st.n_nulls,
                     st.n_distinct, st.n_runs, st.min_repr,
                     st.max_repr, st.min_num, st.max_num,
                     st.min_flt, st.max_flt,
                     st.raw_bytes, len(seg.payload),
                     seg.checksum, ms, blm, st.sum_repr))
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type)
         for c, f in zip(cols, out_pa_schema)],
        schema=out_pa_schema)


def _order_cols(df: DataFrame, order) -> list:
    """Check every column of `df` is encodable and return the sort keys
    within a rowgroup. `order` entries may be Column expressions
    (F.desc(...), arbitrary sort expressions) — the per-column
    custom-comparer analogue of the reference's
    `[ColumnStoreProperty(typeof(ReverseComparer<>))]`
    (`ColumnStorePropertyAttribute.cs:15-23`, demo
    `Outcompute.TestApp/Program.cs:124,131-137`); string entries are
    plain column names and are dropped when absent from the frame."""
    for f in df.schema.fields:
        pa_type_for(f.dataType)
    return [c for c in order if isinstance(c, Column) or c in df.columns]


def encode(df: DataFrame, rowgroup_expr: Column | None = None,
           num_rowgroups: int | None = None,
           rows_per_segment: int = 1_000_000,
           order: tuple[str | Column, ...] = ("conv_id", "turn_idx"),
           mode: str = chooser.MODE_SIZE,
           num_partitions: int | None = None,
           compression_order: bool = False,
           assume_partitioned: bool = False,
           bloom_columns: tuple[str, ...] = ()) -> DataFrame:
    """Encode `df` into the segments table (one row per rowgroup x column).

    One shuffle (hash on rowgroup_id); everything else is partition-local
    and Arrow-vectorized. Result schema: SEGMENT_SCHEMA.

    `bloom_columns` names columns that get a per-segment Bloom filter
    in the manifest (codecs/bloom.py) — enables rowgroup pruning for
    point probes on high-cardinality keys (conv_id) where min/max
    bounds can't separate rowgroups. Opt-in: building one costs a
    dictionary hash pass per segment.

    `compression_order=True` re-sorts each rowgroup's ROWS by its
    columns in ascending distinct-count order before building segments
    — the reference's S7 optimization ("order the source data by
    cardinality to optimize compression", generated
    `SolidRowGroupFactoryGenerator.cs:35-53`). Default off: the
    engine's stable (conv_id, turn_idx) order already clusters
    role/tool runs per conversation and keeps verify order restorable
    (SURVEY.md §2.3 S7).

    `assume_partitioned=True` skips the exchange: the caller
    guarantees the input is already partitioned by `rowgroup_expr`
    (bucketed table layout — at 100 TB the ingest writes bucketed by
    the salted conv_id key, so encode is a shuffle-free, purely
    partition-local map stage). A rowgroup id must not span two input
    partitions.
    """
    if rowgroup_expr is None:
        if num_rowgroups is None:
            # one extra metadata pass over the input to size the groups;
            # callers on a hot path should pass num_rowgroups or
            # rowgroup_expr explicitly (every driver query does)
            n = df.count()
            num_rowgroups = max(1, -(-n // rows_per_segment))
        rowgroup_expr = default_rowgroup_expr(num_rowgroups,
                                              rows_per_segment,
                                              columns=df.columns)

    order_cols = _order_cols(df, order)
    col_order = list(df.columns)
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    out_pa_schema = arrow_schema_for(SEGMENT_SCHEMA)

    bloom_cols = frozenset(bloom_columns)

    def encode_partition(
            batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rowgroup_id, tbl in iter_groups(batches, ROWGROUP_COL):
            yield _encode_rowgroup(rowgroup_id, tbl, col_order, mode,
                                   compression_order, out_pa_schema,
                                   bloom_cols)

    work = df.withColumn(ROWGROUP_COL, rowgroup_expr.cast("long"))
    if not assume_partitioned:
        work = work.repartition(num_partitions, F.col(ROWGROUP_COL))
    # stable per-rowgroup (conv_id, turn_idx) order: clusters role/tool
    # runs per conversation (the reference's compression-order step S7)
    # while keeping the bit-identical verify order restorable
    work = work.sortWithinPartitions(ROWGROUP_COL, *order_cols)
    return work.mapInArrow(encode_partition, SEGMENT_SCHEMA)


def encode_in_driver(df: DataFrame, rowgroup_expr: Column,
                     order: tuple[str | Column, ...] = ("conv_id",
                                                       "turn_idx"),
                     mode: str = chooser.MODE_SIZE,
                     bloom_columns: tuple[str, ...] = (),
                     max_rowgroups: int | None = None) -> pa.Table:
    """`encode` run in the driver, for a write small enough that one
    Python stage would cost more than the encode: one JVM-only job
    collects the rows, sorted as the stage sorts them, and the driver
    encodes them with the stage's kernel (`_encode_rowgroup`). The
    segments are byte-identical to `encode`'s whenever `order` orders
    the rows of a rowgroup totally (ties reach the kernel in input
    order, which the stage's shuffle and this collect may differ on).
    Returns the segment rows as an Arrow table of SEGMENT_SCHEMA, of
    only the first `max_rowgroups` rowgroup ids when given (ascending);
    no row for an empty frame."""
    order_cols = _order_cols(df, order)
    col_order = list(df.columns)
    out_pa_schema = arrow_schema_for(SEGMENT_SCHEMA)
    rows = (df.withColumn(ROWGROUP_COL, rowgroup_expr.cast("long"))
            .coalesce(1).sortWithinPartitions(ROWGROUP_COL, *order_cols)
            .toArrow())
    groups = itertools.islice(iter_groups(rows.to_batches(), ROWGROUP_COL),
                              max_rowgroups)
    return pa.Table.from_batches(
        [_encode_rowgroup(rg, tbl, col_order, mode, False, out_pa_schema,
                          frozenset(bloom_columns)) for rg, tbl in groups],
        out_pa_schema)


def _ingest_type(t: pa.DataType) -> pa.DataType:
    """Normalize a parquet field type to what Spark's scan delivers:
    session-tz(UTC) timestamps at MICROsecond unit. ns-unit files
    (which the JVM scan path refuses outright as an illegal parquet
    type) downcast via arrow's SAFE cast — whole-us values ingest
    losslessly, sub-us values raise ArrowInvalid at ingest instead of
    committing segments the us-typed decode surface can never read."""
    if pa.types.is_timestamp(t):
        unit = "us" if t.unit == "ns" else t.unit
        return pa.timestamp(unit, tz="UTC" if t.tz is not None else None)
    return t


def write_bucketed_layout(df: DataFrame, path: str,
                          num_rowgroups: int,
                          num_buckets: int | None = None,
                          rows_per_segment: int = 1_000_000,
                          order: tuple[str, ...] = ("conv_id",
                                                    "turn_idx"),
                          rowgroup_col: str = "__rg",
                          rowgroup_expr: Column | None = None
                          ) -> list[str]:
    """Write `df` as the bucketed-table layout `encode_files` consumes:
    parquet partitioned by the salted rowgroup key (kept as
    `rowgroup_col`), rows sorted by (key, *order) within each file so
    the presorted streaming scan applies. Returns the bucket file
    paths.

    This is the ingest's half of the direct-scan contract. Bucket
    count bounds the per-task working set for the NON-presorted scan
    (whole file in memory) and the file count for scheduling; with
    `presorted=True` downstream, task memory is one rowgroup block
    regardless of file size, so buckets can be sized to object-store
    block economics (BENCH.md §3e).
    """
    import glob

    if num_buckets is None:
        num_buckets = max(1, num_rowgroups // 8)
    rg = (rowgroup_expr if rowgroup_expr is not None
          else default_rowgroup_expr(num_rowgroups, rows_per_segment,
                                     columns=df.columns))
    # tolerate absent order columns the same way encode() and
    # default_rowgroup_expr do (post-drop_column ingest frames)
    sort_cols = [c for c in order if c in df.columns]
    (df.withColumn(rowgroup_col, rg.cast("long"))
       .repartition(num_buckets, F.col(rowgroup_col))
       .sortWithinPartitions(rowgroup_col, *sort_cols)
       .write.mode("overwrite").parquet(path))
    return sorted(glob.glob(f"{glob.escape(path.rstrip('/'))}/*.parquet"))


def encode_files(spark, paths, rowgroup_col: str = "__rg",
                 order: tuple[str, ...] = ("conv_id", "turn_idx"),
                 mode: str = chooser.MODE_SIZE,
                 compression_order: bool = False,
                 columns: list[str] | None = None,
                 num_tasks: int | None = None,
                 skip_rowgroups=None,
                 presorted: bool = False,
                 bloom_columns: tuple[str, ...] = ()) -> DataFrame:
    """Direct-scan encode over a bucketed parquet layout: Spark
    schedules one task per bucket FILE and the Python worker reads the
    parquet itself (pyarrow), skipping the JVM columnar scan entirely.

    Motivation (BENCH.md §3d): on the JVM-scan path every raw byte
    crosses the memory bus twice before the codec kernels see it —
    parquet pages -> JVM columnar batches, then JVM -> Python as Arrow
    IPC. When the consumer is an Arrow/numpy kernel anyway, reading the
    file in the worker halves the per-task bus traffic and removes the
    JVM decode CPU — precisely the resources that cap multi-stream
    scaling on bandwidth-bound nodes. Spark still owns scheduling,
    retries, and lineage; the task payload is a file path, exactly the
    work-item shape `TryTakeClosed` hands the reference's compactor
    (`/root/reference/Outcompute.ColumnStore/ColumnStore.cs:92-99`).

    Contract (same as `encode(assume_partitioned=True)`): each file
    carries whole rowgroups — `rowgroup_col` (written by the bucketed
    ingest) must not span two files. `columns` projects the scan
    (column pruning at the parquet footer, the reader-side analogue of
    Catalyst's ReadSchema). Result: SEGMENT_SCHEMA, bit-identical to
    `encode` on the same layout (shared `_encode_rowgroup` kernel;
    asserted in tests/test_encode_files.py).

    `skip_rowgroups` (a set of already-committed rowgroup ids — the
    warehouse's done-queue) makes the scan itself resume-aware: a task
    first reads ONLY the rowgroup-key column (one RLE int64 chunk) and
    returns without touching the data columns when every id in the
    file is done — checkpoint-resume that never re-reads completed
    input, the distributed `TryTakeClosed` work-queue contract at the
    file level.

    `presorted=True` declares the file rows already sorted by
    (`rowgroup_col`, *order) — the production ingest writes
    sortWithinPartitions before the bucketed write — and switches the
    task to STREAMING parquet batches through the group iterator: peak
    memory is one rowgroup block instead of the whole file, so bucket
    files can be sized to HDFS/object-store block economics (hundreds
    of MB) without inflating task memory. A non-contiguous rowgroup id
    (file not actually sorted) raises rather than silently emitting
    duplicate segments.

    At 100 TB the path list comes from the table's file manifest
    (Iceberg metadata / `input_files()`), not a driver glob; 100k path
    strings are trivially driver-sized, as is a broadcast done-set of
    ~10^6 int64 ids.
    """
    paths = sorted(paths)
    if not paths:
        raise ValueError("encode_files: empty path list")
    bloom_cols = frozenset(bloom_columns)
    n = num_tasks or len(paths)
    out_pa_schema = arrow_schema_for(SEGMENT_SCHEMA)
    skip_bc = (spark.sparkContext.broadcast(frozenset(skip_rowgroups))
               if skip_rowgroups else None)
    pdf = spark.createDataFrame(
        spark.sparkContext.parallelize([(p,) for p in paths], n),
        T.StructType([T.StructField("path", T.StringType(), False)]))

    def encode_file(batches: Iterator[pa.RecordBatch]
                    ) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for b in batches:
            for path in b.column("path").to_pylist():
                if rowgroup_col not in pq.read_schema(path).names:
                    raise ValueError(
                        f"{path}: bucketed layout must carry "
                        f"'{rowgroup_col}' (salted rowgroup key)")
                keep_ids = None
                if skip_bc is not None:
                    ids = set(pq.read_table(path, columns=[rowgroup_col])
                              .column(rowgroup_col).unique().to_pylist())
                    pending = ids - skip_bc.value
                    if not pending:
                        continue  # whole file committed: data never read
                    if pending != ids:
                        keep_ids = pending
                read_cols = None
                if columns is not None:
                    read_cols = [rowgroup_col, *columns]
                if presorted:
                    # rows already (rowgroup, *order)-sorted on disk
                    # (ingest wrote sortWithinPartitions before the
                    # bucketed write): stream parquet batches straight
                    # into the group iterator — peak memory is ONE
                    # rowgroup block, not the whole file
                    pf = pq.ParquetFile(path)
                    seen: set[int] = set()
                    cast_schema = None
                    col_order = None
                    for rg_id, gtbl in iter_groups(
                            (rb for rb in pf.iter_batches(
                                columns=read_cols)),
                            rowgroup_col):
                        if skip_bc is not None and rg_id in skip_bc.value:
                            continue
                        if rg_id in seen:
                            raise ValueError(
                                f"{path}: rowgroup {rg_id} is not "
                                "contiguous — file is not presorted by "
                                f"{rowgroup_col}")
                        seen.add(rg_id)
                        if cast_schema is None:
                            cast_schema = pa.schema(
                                [pa.field(f.name, _ingest_type(f.type))
                                 for f in gtbl.schema])
                            col_order = [c for c in gtbl.column_names
                                         if c != rowgroup_col]
                        yield _encode_rowgroup(
                            rg_id, gtbl.cast(cast_schema), col_order,
                            mode, compression_order, out_pa_schema,
                            bloom_cols)
                    continue
                tbl = pq.read_table(path, columns=read_cols)
                if keep_ids is not None:
                    tbl = tbl.filter(pc.is_in(
                        tbl.column(rowgroup_col),
                        value_set=pa.array(sorted(keep_ids),
                                           type=tbl.schema.field(
                                               rowgroup_col).type)))
                # normalize to the arrow schema Spark's scan delivers
                # (session tz UTC) so segments are bit-identical
                # across the two scan paths
                tbl = tbl.cast(pa.schema(
                    [pa.field(f.name, _ingest_type(f.type))
                     for f in tbl.schema]))
                sort_keys = [(rowgroup_col, "ascending")] + [
                    (c, "ascending") for c in order
                    if c in tbl.column_names]
                tbl = tbl.sort_by(sort_keys)
                col_order = [c for c in tbl.column_names
                             if c != rowgroup_col]
                for rg_id, gtbl in iter_groups(
                        tbl.to_batches(), rowgroup_col):
                    yield _encode_rowgroup(
                        rg_id, gtbl, col_order, mode,
                        compression_order, out_pa_schema, bloom_cols)

    return pdf.mapInArrow(encode_file, SEGMENT_SCHEMA)


def manifest_of(segments: DataFrame) -> DataFrame:
    """Metadata-only view of the segments table (the stats tree T1-T4,
    `ColumnStoreStats.cs:7-38`, flattened to rows)."""
    return segments.drop("payload")
