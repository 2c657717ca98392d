"""Driver vs executor placement of a pinned read: the decode stage reads
a small `PinnedRead` in the driver and a large one in a mapInArrow
stage, with one per-task body. Each case here builds the same read
both ways (the driver budget monkeypatched to a large value, then to
0) and requires equal Arrow tables — schema and values, after a stable
sort — and that each way really ran where it was placed."""

import datetime as dt
import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnstore_spark.operators import (decode, decode_matching,
                                         decode_window_global)
from columnstore_spark.operators.decode import decode_with_rowgroup
from columnstore_spark.sources.warehouse import Warehouse
from columnstore_spark.store import TranscriptColumnStore


def _norm(v):
    """A value compared bit for bit: floats by their hex form (NaN
    equals NaN, -0.0 differs from 0.0), lists element-wise."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def _table(df):
    """`df` as (Arrow schema, rows sorted by their repr)."""
    t = df.toArrow()
    rows = [tuple(_norm(v) for v in r.values()) for r in t.to_pylist()]
    return t.schema, sorted(rows, key=repr)


def _both(place, build, staged=True):
    """`build()` under each placement gives the same Arrow table; the
    driver's plan runs no mapInArrow, the executor's does when
    `staged` (a read with no segment to decode runs none). Returns
    the rows."""
    got, plans = {}, {}
    for placement in ("driver", "executor"):
        place(placement)
        df = build()
        plans[placement] = df._jdf.queryExecution().executedPlan().toString()
        got[placement] = _table(df)
    assert got["driver"][0] == got["executor"][0]
    assert got["driver"][1] == got["executor"][1]
    assert "MapInArrow" not in plans["driver"], plans["driver"]
    assert ("MapInArrow" in plans["executor"]) == staged, plans["executor"]
    return got["driver"][1]


def _reads(spark, wh, place, probe=None):
    """Full decode, decode_with_rowgroup, a global window and (with a
    `(column, value)` probe) decode_matching of one snapshot, each
    both ways."""
    m = wh.snapshot(spark)
    n = sum(m.rowgroup_rows.values())

    def pinned():
        return wh.pinned_read(spark, m)

    full = _both(place, lambda: decode(pinned(), schema=m.decode_schema))
    assert len(full) == n
    assert len(_both(place, lambda: decode_with_rowgroup(
        pinned(), schema=m.decode_schema))) == n
    assert len(_both(place, lambda: decode_window_global(
        pinned(), n // 3, n // 2, schema=m.decode_schema,
        rowgroup_rows=m.rowgroup_rows))) == n // 2
    if probe is not None:
        assert _both(place, lambda: decode_matching(
            pinned(), *probe, schema=m.decode_schema))
    return full


def test_batched_store(spark, tmp_path, batches, batched_store, place):
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "b"), t)
    assert _reads(spark, store.warehouse, place, ("conv_id", keys[0]))


def test_compacted_store(spark, compacted, batches, place):
    root, (_in_rows, want) = compacted
    store = TranscriptColumnStore(spark, root, num_rowgroups=2)
    assert len(_reads(spark, store.warehouse, place,
                      ("conv_id", batches[1][1]))) == len(want)


def test_added_column_null_fills(spark, tmp_path, batches, place):
    """Rowgroups encoded before add_column() read the column as NULL."""
    t, keys = batches
    store = TranscriptColumnStore(spark, str(tmp_path / "evo"),
                                  num_rowgroups=2)
    store.add_range(t.where(F.col("turn_idx") % 2 == 0))
    store.close()
    store.add_column("score", "bigint")
    store.add_range(t.where(F.col("turn_idx") % 2 == 1).withColumn(
        "score", (F.col("turn_idx") * 10).cast("long")))
    store.close()
    full = _reads(spark, store.warehouse, place, ("conv_id", keys[0]))
    names = store.warehouse.snapshot(spark).decode_schema.fieldNames()
    scores = [r[names.index("score")] for r in full]
    assert None in scores and any(s is not None for s in scores)


@pytest.fixture(scope="module")
def typed_frame(spark):
    """Int, timestamp, decimal and float (NaN, -0.0, inf) columns, a
    nested array and a binary column, each with nulls."""
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    floats = [float("nan"), -0.0, 1.5, float("inf"), None]
    rows = [(f"c{i % 7}", i, i * 1_000_003 - 2**40,
             None if i % 11 == 0 else base + dt.timedelta(seconds=i * 37),
             None if i % 13 == 0 else Decimal(i * 12345) / 100,
             floats[i % len(floats)],
             None if i % 5 == 0 else [i / 3, -i / 7],
             None if i % 9 == 0 else bytes([i % 256, 0, 255]))
            for i in range(300)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("big", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DecimalType(18, 2)),
        T.StructField("score", T.DoubleType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("blob", T.BinaryType()),
    ])
    return spark.createDataFrame(rows, schema)


def test_typed_nested_and_binary_columns(spark, tmp_path, typed_frame,
                                         place):
    wh = Warehouse(str(tmp_path / "typed"))
    wh.encode_resumable(typed_frame, num_rowgroups=3)
    full = _reads(spark, wh, place, ("big", 17 * 1_000_003 - 2**40))
    assert len(full) == typed_frame.count()


def test_uint64_decodes_as_decimal(spark, tmp_path, place):
    """An Arrow-ingested uint64 column (values above 2^63) decodes to
    decimal(20,0) on both placements."""
    big = (1 << 63) + 5
    path = str(tmp_path / "uints.parquet")
    pq.write_table(pa.table({
        "__rg": pa.array([0, 0, 1, 1], type=pa.int64()),
        "u32": pa.array([1, 2, 1, 4_000_000_000], type=pa.uint32()),
        "u64": pa.array([1, big, 2, None], type=pa.uint64()),
    }), path)
    wh = Warehouse(str(tmp_path / "u"))
    wh.encode_files_resumable(spark, [path], presorted=True)
    m = wh.snapshot(spark)
    assert m.decode_schema["u64"].dataType == T.DecimalType(20, 0)
    full = _reads(spark, wh, place, ("u32", 1))
    assert sorted(r[1] for r in full if r[1] is not None) == [
        Decimal(1), Decimal(2), Decimal(big)]


def test_empty_keep_set(spark, tmp_path, batches, batched_store, place):
    t, _keys = batches
    store = batched_store(spark, str(tmp_path / "e"), t)
    wh = store.warehouse
    m = wh.snapshot(spark)
    assert _both(place, lambda: decode(wh.pinned_read(spark, m, []),
                                       schema=m.decode_schema),
                 staged=False) == []


def test_lookup_with_pending_batch(spark, tmp_path, batches, batched_store,
                                   place):
    """A committed read unioned with a pending delta batch."""
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "p"), t)
    store.add_range(t.where(F.col("conv_id") == keys[0])
                    .withColumn("turn_idx", F.col("turn_idx") + 10_000))
    got = _both(place, lambda: store.query_by_value(
        "conv_id", keys[0], include_pending=True))
    assert len(got) == 2 * t.where(F.col("conv_id") == keys[0]).count()


def test_delete_where_leaves_same_rows(spark, tmp_path, batches,
                                       batched_store, place):
    """`delete_where` scans its victims with a pinned read: either
    placement deletes the same rows and leaves the same store."""
    t, keys = batches
    left = {}
    for placement in ("driver", "executor"):
        place(placement)
        store = batched_store(spark, str(tmp_path / placement), t)
        res = store.delete_where("conv_id", keys[1])
        assert res["rows_deleted"] > 0
        left[placement] = (res["rows_deleted"], _table(store.rows()))
    assert left["driver"] == left["executor"]
    assert len(left["driver"][1][1]) == (
        t.count() - t.where(F.col("conv_id") == keys[1]).count())
