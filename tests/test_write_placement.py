"""Driver vs Spark placement of a write: a close or rowgroup rewrite
small enough is encoded in the driver (one collect job, the encode
stage's kernel, one pyarrow segment file), a larger one runs the Spark
encode stage, and every parquet write commits its manifest from the
driver. Each case here builds the same store both ways (the write
budget monkeypatched to a large value, then to 0) and requires
byte-identical segment payloads and equal manifest rows (ignoring the
per-attempt run_id, attempt_id, committed_at and encode_ms)."""

import datetime as dt
import glob
import importlib
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnstore_spark.operators.arrow_io import read_task
from columnstore_spark.sources.warehouse import Warehouse
from columnstore_spark.store import TranscriptColumnStore

_PER_ATTEMPT = ("run_id", "attempt_id", "committed_at", "encode_ms")
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _state(spark, wh):
    """(live segment payloads by (rowgroup, column), manifest rows)."""
    m = wh.snapshot(spark)
    read = m.pinned(spark)
    tasks = read.tasks(1)
    segs = read_task(*tasks[0]) if tasks else None
    payloads = [] if segs is None else sorted(zip(
        segs["rowgroup_id"].to_pylist(), segs["column"].to_pylist(),
        segs["payload"].to_pylist()))
    rows = m.raw.drop_columns(list(_PER_ATTEMPT)).to_pylist()
    return payloads, sorted(rows, key=repr)


def _both(write_place, tmp_path, build):
    """`build(root)` -> warehouse under each placement: equal states.
    Returns the driver-placed state."""
    got = {}
    for placement in ("driver", "spark"):
        write_place(placement)
        got[placement] = _state(*build(str(tmp_path / placement)))
    assert got["driver"][0] == got["spark"][0]
    assert got["driver"][1] == got["spark"][1]
    assert got["driver"][0], "no segment committed"
    return got["driver"]


def test_batched_store_and_rewrites(spark, tmp_path, batches, batched_store,
                                    write_place, place):
    """Three closes, then compact, delete_where and delete_keys. The
    Spark-placed side also decodes each rewrite's victims as a
    mapInArrow stage, so victims decoded either way re-encode alike."""
    t, keys = batches

    def build(root):
        s = batched_store(spark, root, t)
        yield spark, s.warehouse
        assert s.compact()["rowgroups_retired"] > 0
        yield spark, s.warehouse
        assert s.delete_where("conv_id", keys[0])["rows_deleted"] > 0
        yield spark, s.warehouse
        assert s.delete_keys(t.where(F.col("conv_id") == keys[1])
                             .select("conv_id"))["rows_deleted"] > 0
        yield spark, s.warehouse

    steps = {}
    for placement, read in (("driver", "driver"), ("spark", "executor")):
        write_place(placement)
        place(read)
        steps[placement] = [_state(sp, wh)
                            for sp, wh in build(str(tmp_path / placement))]
    assert steps["driver"] == steps["spark"]


def _typed_frame(spark):
    floats = [1.5, float("nan"), -0.0, 0.0, float("inf"), float("-inf"),
              None]
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(f"c{i % 17:03d}", i,
             None if i % 7 == 0 else (i % 256) - 128,
             None if i % 6 == 0 else i * 3 - 400,
             i * 1_000 - 5, (i - 150) * 2**40,
             None if i % 13 == 0 else Decimal(i * 12345) / 100,
             None if i % 11 == 0 else base + dt.timedelta(seconds=i * 37),
             None if i % 8 == 0 else dt.date(2020, 1, 1)
             + dt.timedelta(days=i),
             floats[i % len(floats)],
             None if i % 9 == 0 else bytes([i % 256, 0, 255]),
             None if i % 5 == 0 else [i, -i, None],
             None if i % 4 == 0 else {"k": i, f"x{i % 3}": None},
             None if i % 10 == 0 else (i, None if i % 3 else f"s{i}"))
            for i in range(300)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("i8", T.ByteType()),
        T.StructField("i16", T.ShortType()),
        T.StructField("i32", T.IntegerType()),
        T.StructField("i64", T.LongType()),
        T.StructField("dec", T.DecimalType(18, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("day", T.DateType()),
        T.StructField("dbl", T.DoubleType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
        T.StructField("mp", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("st", T.StructType([
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType())])),
    ])
    return spark.createDataFrame(rows, schema)


def test_typed_store(spark, tmp_path, write_place):
    df = _typed_frame(spark).cache()

    def build(root):
        s = TranscriptColumnStore(spark, root, num_rowgroups=3)
        s.add_range(df)
        s.close()
        return spark, s.warehouse

    payloads, _rows = _both(write_place, tmp_path, build)
    assert len({c for _rg, c, _p in payloads}) == len(df.columns)
    df.unpersist()


def test_zorder_store(spark, tmp_path, transcripts, write_place):
    def build(root):
        s = TranscriptColumnStore(spark, root, num_rowgroups=4,
                                  cluster_by=("turn_idx", "ts"))
        s.add_range(transcripts)
        s.close()
        return spark, s.warehouse

    _both(write_place, tmp_path, build)


def test_batch_after_add_column(spark, tmp_path, transcripts, write_place):
    t = transcripts

    def build(root):
        s = TranscriptColumnStore(spark, root, num_rowgroups=2)
        s.add_range(t.where(F.col("turn_idx") % 2 == 0))
        s.close()
        s.add_column("score", "bigint")
        s.add_range(t.where(F.col("turn_idx") % 2 == 1)
                    .withColumn("score", F.col("turn_idx").cast("long")))
        s.close()
        return spark, s.warehouse

    _payloads, rows = _both(write_place, tmp_path, build)
    assert any(r["column"] == "score" for r in rows)


def test_fail_after_rowgroups_and_empty(spark, tmp_path, transcripts,
                                       write_place):
    """The failure-injection hook commits the same first k rowgroups,
    and an empty or fully committed input commits nothing, either
    way."""
    got = {}
    for placement in ("driver", "spark"):
        write_place(placement)
        wh = Warehouse(str(tmp_path / placement))
        size = {"input_bytes": 1}
        first = wh.encode_resumable(transcripts, num_rowgroups=8,
                                    fail_after_rowgroups=3, run_id="r",
                                    **size)
        rest = wh.encode_resumable(transcripts, num_rowgroups=8,
                                   run_id="r", **size)
        again = wh.encode_resumable(transcripts, num_rowgroups=8,
                                    run_id="r", **size)
        files = wh.backend(spark).manifest_files()
        empty = Warehouse(str(tmp_path / f"{placement}-empty"))
        none = empty.encode_resumable(transcripts.limit(0), num_rowgroups=8,
                                      **size)
        assert empty.snapshot(spark) is None
        n = len(wh.snapshot(spark).rowgroup_rows)
        got[placement] = ([r["rowgroups_encoded"]
                           for r in (first, rest, again, none)],
                          len(files), _state(spark, wh))
        assert got[placement][:2] == ([3, n - 3, 0, 0], 2)
    assert got["driver"] == got["spark"]


def _answers(store, key):
    return (sorted(map(tuple, store.topk("turn_idx", 7,
                                         tie_cols=("conv_id",))
                       .collect())),
            sorted(map(tuple, store.aggregate().collect())),
            sorted(map(tuple, store.group_agg("role", "turn_idx")
                       .collect())),
            sorted(map(tuple, store.query_by_value("conv_id", key)
                       .collect())))


def test_mixed_files_read_the_same(spark, tmp_path, batches, write_place):
    """A store whose batches were written by both placements (pyarrow
    and Spark segment files side by side) answers the segments-frame
    queries — a Spark `mergeSchema` read of the pinned files — as a
    store written by one placement."""
    t, keys = batches
    stores = {}
    for name, placements in (("mixed", ("driver", "spark", "driver")),
                             ("spark", ("spark",) * 3)):
        s = TranscriptColumnStore(spark, str(tmp_path / name),
                                  num_rowgroups=2)
        for i, placement in enumerate(placements):
            write_place(placement)
            s.add_range(t.where(F.col("turn_idx") % 3 == i))
            s.close()
        stores[name] = s
    m = stores["mixed"].warehouse.snapshot(spark)
    # Spark's parquet writer records the row schema in the footer
    by_spark = {_SPARK_ROW_METADATA in (pq.read_metadata(f.path).metadata
                                        or {}) for f in m.files if f.n_rows}
    assert by_spark == {True, False}, "expected pyarrow and Spark files"
    assert stores["mixed"].warehouse.committed_segments(spark).count() == (
        stores["spark"].warehouse.committed_segments(spark).count())
    assert _answers(stores["mixed"], keys[0]) == _answers(
        stores["spark"], keys[0])


def _close_jobs(spark, store, group: str) -> int:
    """The Spark jobs `store.close()` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "close")
    try:
        store.close()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("placement", ["driver", "spark"])
def test_close_jobs(spark, tmp_path, transcripts, write_place, placement):
    """A driver-placed close runs one Spark job (the collect)."""
    write_place(placement)
    s = TranscriptColumnStore(spark, str(tmp_path / "s"), num_rowgroups=2)
    s.add_range(transcripts)
    jobs = _close_jobs(spark, s, f"close-jobs-{placement}")
    assert (jobs == 1) == (placement == "driver"), jobs


def test_close_sized_by_decoded_bytes(spark, tmp_path, monkeypatch):
    """A close is placed by what its batch decodes to, not by its
    parquet footers: a batch of one repeated text, which dictionaries
    fold into a few KiB, sizes as its rows' bytes, so a budget between
    the two sends its close to the Spark stage. Sizing stops reading
    once past its limit."""
    decode_mod = importlib.import_module("columnstore_spark.operators.decode")
    n, text = 20_000, "x" * 200
    df = spark.range(n).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string"))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit(text).alias("text"))
    s = TranscriptColumnStore(spark, str(tmp_path / "s"), num_rowgroups=2)
    s.add_range(df)
    batch = s._pending_batches()[0]
    footers = [pq.read_metadata(p) for p in
               glob.glob(f"{s._delta_root()}/{batch}/*.parquet")]
    footer_bytes = sum(md.row_group(i).total_byte_size for md in footers
                       for i in range(md.num_row_groups))
    decoded = s._batch_bytes(batch)
    assert decoded >= n * len(text) > 20 * footer_bytes
    assert 0 < s._batch_bytes(batch, limit=0) < decoded
    monkeypatch.setattr(decode_mod, "_DRIVER_WRITE_BYTES",
                        (footer_bytes + decoded) // 2)
    assert _close_jobs(spark, s, "close-decoded") > 1
    assert s.solid_rows().count() == n
