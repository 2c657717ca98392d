"""The warehouse's driver-side file pool (`arrow_io.FilePool`): a pinned
read decoded in the driver takes its segment files from the pool, each
read whole at most once while the snapshot pins it. Pooled and
unpooled reads must give the same rows on every store shape; a
repeated lookup opens no segment file; a new snapshot drops the files
it no longer pins; a zero bound pools nothing; and the executor
placement never ships the pool to its tasks."""

import dataclasses
import importlib

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from columnstore_spark.operators import (decode, decode_matching,
                                         decode_window_global)
from columnstore_spark.operators.arrow_io import FilePool
from columnstore_spark.sources.warehouse import Warehouse
from columnstore_spark.store import TranscriptColumnStore

arrow_io = importlib.import_module("columnstore_spark.operators.arrow_io")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _reads(spark, wh, probe):
    """Full decode, a probe gather and a global window of the current
    snapshot, each as (pooled rows, unpooled rows)."""
    m = wh.snapshot(spark)
    n = sum(m.rowgroup_rows.values())
    builds = [
        lambda r: decode(r, schema=m.decode_schema),
        lambda r: decode_matching(r, *probe, schema=m.decode_schema),
        lambda r: decode_window_global(r, n // 3, n // 2,
                                       schema=m.decode_schema,
                                       rowgroup_rows=m.rowgroup_rows),
    ]
    out = []
    for build in builds:
        read = wh.pinned_read(spark, m)
        assert read.pool is wh._pool
        out.append((_rows(build(read)),
                    _rows(build(dataclasses.replace(read, pool=None)))))
    return out


def _pooled_equals_unpooled(spark, wh, probe):
    full, *rest = _reads(spark, wh, probe)
    for pooled, unpooled in (full, *rest):
        assert pooled == unpooled
    assert full[0] and rest[0][0]
    held = set(wh._pool._tables)
    assert held and held <= {f.path for f in wh.snapshot(spark).files}
    return full[0]


def test_pooled_equals_unpooled_batched(spark, tmp_path, batches,
                                        batched_store, place):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "b"), t)
    assert len(_pooled_equals_unpooled(spark, store.warehouse,
                                       ("conv_id", keys[0]))) == t.count()


def test_pooled_equals_unpooled_compacted(spark, compacted, batches, place):
    place("driver")
    root, (_in_rows, want) = compacted
    store = TranscriptColumnStore(spark, root, num_rowgroups=2)
    assert _pooled_equals_unpooled(spark, store.warehouse,
                                   ("conv_id", batches[1][1])) == sorted(
        want, key=repr)


def test_pooled_equals_unpooled_added_column(spark, tmp_path, batches,
                                             place):
    place("driver")
    t, keys = batches
    store = TranscriptColumnStore(spark, str(tmp_path / "evo"),
                                  num_rowgroups=2)
    store.add_range(t.where(F.col("turn_idx") % 2 == 0))
    store.close()
    store.add_column("score", "bigint")
    store.add_range(t.where(F.col("turn_idx") % 2 == 1).withColumn(
        "score", (F.col("turn_idx") * 10).cast("long")))
    store.close()
    assert len(_pooled_equals_unpooled(spark, store.warehouse,
                                       ("conv_id", keys[0]))) == t.count()


def test_pooled_equals_unpooled_torn_attempt(spark, tmp_path, transcripts,
                                             place):
    from columnstore_spark.operators.encode import (default_rowgroup_expr,
                                                    encode)

    place("driver")
    wh = Warehouse(str(tmp_path / "torn"))
    torn = (encode(transcripts,
                   rowgroup_expr=default_rowgroup_expr(4, 1_000_000))
            .withColumn("run_id", F.lit("batch-7"))
            .withColumn("attempt_id", F.lit("attempt-dead")))
    wh.backend(spark).append_segments(torn)
    wh.encode_resumable(transcripts, num_rowgroups=4, run_id="batch-7")
    key = transcripts.first()["conv_id"]
    assert len(_pooled_equals_unpooled(spark, wh, ("conv_id", key))) == (
        transcripts.count())


def _no_file_opens(monkeypatch):
    def boom(*_a, **_k):
        raise AssertionError("a segment file was opened")
    monkeypatch.setattr(pads, "dataset", boom)
    monkeypatch.setattr(pq, "read_table", boom)
    monkeypatch.setattr(pq, "ParquetFile", boom)


def test_repeated_lookup_opens_no_segment_file(spark, tmp_path, batches,
                                               batched_store, place,
                                               monkeypatch):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "b"), t)
    first = _rows(store.query_by_value("conv_id", keys[0]))
    in_first = _rows(store.query_by_in("conv_id", keys))
    assert first and in_first
    with monkeypatch.context() as mp:
        _no_file_opens(mp)
        assert _rows(store.query_by_value("conv_id", keys[0])) == first
        assert _rows(store.query_by_in("conv_id", keys)) == in_first
    assert first == _rows(t.where(F.col("conv_id") == keys[0])
                          .select(*store.schema().fieldNames()))


def test_pool_follows_compact_and_vacuum(spark, tmp_path, batches,
                                         batched_store, place):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "b"), t)
    want = _rows(store.query_by_in("conv_id", keys))
    pool = store.warehouse._pool
    before = set(pool._tables)
    assert before
    store.compact()
    store.vacuum()
    assert _rows(store.query_by_in("conv_id", keys)) == want
    pool = store.warehouse._pool
    pinned = {f.path for f in store.warehouse.snapshot(spark).files}
    held = set(pool._tables)
    assert held and held <= pinned
    assert not (held & (before - pinned))
    assert pool.nbytes == sum(t.nbytes for t in pool._tables.values())


def test_zero_bound_pools_nothing(spark, tmp_path, batches, batched_store,
                                  place, monkeypatch):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "b"), t)
    want = _rows(store.query_by_in("conv_id", keys))
    one = _rows(store.query_by_value("conv_id", keys[1]))
    root = store.root
    monkeypatch.setattr(arrow_io, "_POOL_BYTES", 0)
    fresh = TranscriptColumnStore(spark, root, num_rowgroups=2)
    assert _rows(fresh.query_by_in("conv_id", keys)) == want
    assert _rows(fresh.query_by_value("conv_id", keys[1])) == one
    assert fresh.warehouse._pool.nbytes == 0
    assert not fresh.warehouse._pool._tables


def _reaches(obj, cls, seen=None, depth=0) -> bool:
    """Whether `obj` holds an instance of `cls` through function
    closures, defaults, containers or dataclass fields."""
    seen = set() if seen is None else seen
    if id(obj) in seen or depth > 12:
        return False
    seen.add(id(obj))
    if isinstance(obj, cls):
        return True
    kids = []
    if callable(obj) and hasattr(obj, "__code__"):
        kids += [c.cell_contents for c in (obj.__closure__ or ())
                 if c.cell_contents is not None]
        kids += list(obj.__defaults__ or ())
        kids += list((obj.__kwdefaults__ or {}).values())
    elif isinstance(obj, (list, tuple, set, frozenset)):
        kids += list(obj)
    elif isinstance(obj, dict):
        kids += list(obj.values())
    elif dataclasses.is_dataclass(obj):
        kids += [getattr(obj, f.name) for f in dataclasses.fields(obj)]
    return any(_reaches(k, cls, seen, depth + 1) for k in kids)


def test_executor_closure_ships_no_pool(spark, tmp_path, batches,
                                        batched_store, place, monkeypatch):
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "b"), t)
    place("driver")
    want = _rows(store.query_by_in("conv_id", keys))
    assert store.warehouse._pool.nbytes > 0
    shipped = []
    frame = type(spark.range(1))
    real = frame.mapInArrow
    monkeypatch.setattr(frame, "mapInArrow", lambda self, fn, *a, **k: (
        shipped.append(fn), real(self, fn, *a, **k))[1])
    place("executor")
    assert _rows(store.query_by_in("conv_id", keys)) == want
    assert shipped
    for fn in shipped:
        assert not _reaches(fn, FilePool)
        cloudpickle.dumps(fn)
    with pytest.raises(TypeError, match="driver-only"):
        cloudpickle.dumps(store.warehouse._pool)
