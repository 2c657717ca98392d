"""The snapshot's answer memo (`ManifestSnapshot.answers`): a probe
repeated on an unchanged commit returns the frame its first run
returned, without reading, decoding or building anything. Every
answer must equal a fresh plan's (a new store object on the same root)
across writes by this or another store object, schema evolution,
pending batches, type-distinct probe values, projections and IN lists;
a hit runs no segment read and builds no frame; the memo holds its
byte bound; and only reads placed in the driver are memoized.

Also: an answer that matches nothing is a local relation (no Python
RDD scan), on nested and binary columns too."""

import datetime as dt
import importlib
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnstore_spark.store import TranscriptColumnStore, _memo_key

decode_mod = importlib.import_module("columnstore_spark.operators.decode")
arrow_io = importlib.import_module("columnstore_spark.operators.arrow_io")
snapshot_mod = importlib.import_module("columnstore_spark.sources.snapshot")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _fresh(store):
    """A new store object on `store`'s root: its own warehouse, so its
    own snapshot and an empty memo."""
    return TranscriptColumnStore(store.spark, store.root, num_rowgroups=2)


def _answers(store):
    return store.warehouse.snapshot(store.spark).answers


def _same_as_fresh(store, call):
    """`call(store)` answers as `call` on a fresh store object does,
    in rows and columns; returns the frame."""
    got = call(store)
    want = call(_fresh(store))
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    return got


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repeat_returns_same_frame(spark, tmp_path, batches, batched_store,
                                   place):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)
    first = _same_as_fresh(store, lambda s: s.query_by_value("conv_id",
                                                             keys[0]))
    assert store.query_by_value("conv_id", keys[0]) is first
    assert len(_answers(store)) == 1
    assert _rows(first) == _rows(t.where(F.col("conv_id") == keys[0])
                                 .select(*store.schema().fieldNames()))


def test_hit_reads_and_builds_nothing(spark, tmp_path, batches,
                                      batched_store, place, monkeypatch):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)
    calls = [lambda s: s.query_by_value("conv_id", keys[0]),
             lambda s: s.query_by_in("conv_id", keys, columns=["turn_idx"]),
             lambda s: s.query_where({"conv_id": keys[1],
                                      "turn_idx": (0, 5)})]
    first = [call(store) for call in calls]
    want = [_rows(df) for df in first]

    def boom(*_a, **_k):
        raise AssertionError("a memo hit read or built something")

    frame = type(spark.range(1))
    with monkeypatch.context() as mp:
        for owner, name in ((decode_mod, "read_task"),
                            (arrow_io, "read_task"),
                            (type(spark), "createDataFrame"),
                            (frame, "where"), (frame, "filter"),
                            (frame, "select")):
            mp.setattr(owner, name, boom)
        again = [call(store) for call in calls]
    assert all(a is b for a, b in zip(again, first))
    assert [_rows(df) for df in again] == want


def test_repeat_after_writes(spark, tmp_path, batches, batched_store, place):
    """Each write commits a new snapshot: the repeat is planned afresh
    and answers as a fresh store object does."""
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)

    def q(s):
        return s.query_by_value("conv_id", keys[0])

    n = t.where(F.col("conv_id") == keys[0]).count()
    prev = q(store)
    assert q(store) is prev
    extra = (t.where(F.col("conv_id") == keys[0])
             .withColumn("turn_idx", F.col("turn_idx") + 10_000))
    edited = (t.where(F.col("conv_id") == keys[0])
              .withColumn("text", F.concat(F.col("text"), F.lit("!"))))
    steps = [
        ("add_range+close", lambda: (store.add_range(extra), store.close()),
         2 * n),
        ("delete_where", lambda: store.delete_where(
            "turn_idx", (10_000, 1 << 30)), n),
        ("upsert", lambda: store.upsert(edited), n),
        ("compact+vacuum", lambda: (store.compact(), store.vacuum()), n),
    ]
    for name, write, rows in steps:
        write()
        got = _same_as_fresh(store, q)
        assert got is not prev, name
        assert got.count() == rows, name
        assert q(store) is got, name
        prev = got
    assert all(r["text"].endswith("!") for r in prev.collect())


def test_commit_by_another_store_object(spark, tmp_path, batches,
                                        batched_store, place):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)
    first = store.query_by_in("conv_id", keys)
    other = _fresh(store)
    other.add_range(t.where(F.col("conv_id") == keys[2])
                    .withColumn("turn_idx", F.col("turn_idx") + 10_000))
    other.close()
    got = _same_as_fresh(store, lambda s: s.query_by_in("conv_id", keys))
    assert got is not first
    assert got.count() == first.count() + t.where(
        F.col("conv_id") == keys[2]).count()


def test_schema_evolution_bypasses(spark, tmp_path, batches, batched_store,
                                   place):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)

    def q(s):
        return s.query_by_value("conv_id", keys[0])

    first = q(store)
    memo = _answers(store)
    store.add_column("score", "bigint")
    added = _same_as_fresh(store, q)
    assert added is not first and "score" in added.columns
    assert q(store) is not added
    store.drop_column("role")
    dropped = _same_as_fresh(store, q)
    assert "role" not in dropped.columns and "score" in dropped.columns
    assert q(store) is not dropped
    # no commit happened: the memo is still the snapshot's, and it
    # took nothing while the schema log was pending
    assert _answers(store) is memo and len(memo) == 1


def test_include_pending_bypasses(spark, tmp_path, batches, batched_store,
                                  place):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)

    def q(s):
        return s.query_by_value("conv_id", keys[0], include_pending=True)

    solid = store.query_by_value("conv_id", keys[0])
    before = q(store)
    assert q(store) is not before
    store.add_range(t.where(F.col("conv_id") == keys[0])
                    .withColumn("turn_idx", F.col("turn_idx") + 10_000))
    got = _same_as_fresh(store, q)
    assert got.count() == 2 * solid.count()
    assert store.query_by_value("conv_id", keys[0]) is solid
    assert len(_answers(store)) == 1


def test_memo_key_is_type_exact():
    def key(v, columns=None, any_mode=False):
        return _memo_key([("turn_idx", "eq", v)], any_mode, columns)

    values = [1, 1.0, True, "1", Decimal("1"), Decimal("1.0"), 0.0, -0.0,
              b"1", dt.date(2024, 1, 1), dt.datetime(2024, 1, 1)]
    keys = [key(v) for v in values]
    assert len(set(keys)) == len(values)
    assert key(1) == key(1) and key(1) != key(1, columns=["turn_idx"])
    assert key(1) != key(1, any_mode=True)
    assert (_memo_key([("c", "in", [1, 2])], False, None)
            != _memo_key([("c", "in", [1, True])], False, None))
    assert (_memo_key([("c", "range", (1, 2))], False, None)
            != _memo_key([("c", "range", (1.0, 2))], False, None))
    # a value whose repr may not name it is never memoized
    assert key({"a": 1}) is None and key([object()]) is None


def test_type_distinct_probes(spark, tmp_path, batches, batched_store,
                              place):
    """1, 1.0, '1', Decimal('1') and True probe the same int column;
    each answers as a fresh plan of itself does. Python hashes 1, 1.0,
    True and Decimal('1') equal, yet Spark rejects `turn_idx = true`:
    after 1 is memoized, True must still raise."""
    from pyspark.errors import AnalysisException

    place("driver")
    t, _keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)
    values = (1, 1.0, "1", Decimal("1"))
    frames = []
    for v in values + values:
        frames.append(_same_as_fresh(
            store, lambda s, v=v: s.query_by_value("turn_idx", v)))
    n = len(values)
    assert len({id(f) for f in frames[:n]}) == n
    assert all(a is b for a, b in zip(frames[:n], frames[n:]))
    assert len(_answers(store)) == n
    assert frames[0].count() == t.where(F.col("turn_idx") == 1).count()
    for s in (store, _fresh(store)):
        with pytest.raises(AnalysisException):
            s.query_by_value("turn_idx", True)
    assert len(_answers(store)) == n


def test_projections_and_in_lists(spark, tmp_path, batches, batched_store,
                                  place):
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)
    calls = [
        lambda s: s.query_by_value("conv_id", keys[0]),
        lambda s: s.query_by_value("conv_id", keys[0],
                                   columns=["turn_idx"]),
        lambda s: s.query_by_value("conv_id", keys[0],
                                   columns=["turn_idx", "conv_id"]),
        lambda s: s.query_by_in("conv_id", keys),
        lambda s: s.query_by_in("conv_id", keys[:2]),
        lambda s: s.query_by_in("conv_id", keys[:2], columns=["role"]),
        lambda s: s.query_any({"conv_id": keys[0], "turn_idx": 3}),
    ]
    first = [_same_as_fresh(store, call) for call in calls]
    assert len({id(f) for f in first}) == len(calls)
    assert all(call(store) is f for call, f in zip(calls, first))
    assert first[1].columns == ["turn_idx"]
    assert first[5].columns == ["role"]


def test_eviction_holds_byte_bound(spark, tmp_path, batches, batched_store,
                                   place, monkeypatch):
    """Every entry charged the floor: the memo holds two answers and
    evicts the least recently used one."""
    place("driver")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)
    floor = 1 << 30   # above any read of the test store
    monkeypatch.setattr(snapshot_mod, "_MEMO_MIN_BYTES", floor)
    monkeypatch.setattr(snapshot_mod, "_MEMO_BYTES", 2 * floor)
    memo = _answers(store)

    def q(k):
        return store.query_by_value("conv_id", k)

    a, b = q(keys[0]), q(keys[1])
    assert memo.nbytes == 2 * floor and len(memo) == 2
    assert q(keys[0]) is a            # a becomes the most recent
    c = q(keys[2])                    # evicts b
    assert memo.nbytes <= 2 * floor and len(memo) == 2
    assert q(keys[0]) is a and q(keys[2]) is c
    b2 = q(keys[1])
    assert b2 is not b and _rows(b2) == _rows(b)
    assert memo.nbytes <= 2 * floor
    # an answer charged more than the bound is not kept
    monkeypatch.setattr(snapshot_mod, "_MEMO_BYTES", floor - 1)
    fresh = _fresh(store)
    one = fresh.query_by_value("conv_id", keys[0])
    assert fresh.query_by_value("conv_id", keys[0]) is not one
    assert len(_answers(fresh)) == 0 and _answers(fresh).nbytes == 0


def test_executor_read_is_never_memoized(spark, tmp_path, batches,
                                         batched_store, place):
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "s"), t)

    def q(s):
        return s.query_by_in("conv_id", keys)

    place("executor")
    a = _same_as_fresh(store, q)
    b = q(store)
    assert a is not b and len(_answers(store)) == 0
    assert "MapInArrow" in _plan(b)
    place("driver")
    d = q(store)
    assert q(store) is d and "MapInArrow" not in _plan(d)
    # a driver answer is not served once the read is placed as a stage
    place("executor")
    e = q(store)
    assert e is not d and "MapInArrow" in _plan(e)
    assert _rows(e) == _rows(d) == _rows(a)


def test_memo_threads_keep_the_byte_count(monkeypatch):
    """Threads putting and getting at once: the byte count stays the
    sum of the entries' charges and within the bound."""
    import random
    import sys
    import threading

    monkeypatch.setattr(snapshot_mod, "_MEMO_MIN_BYTES", 1)
    monkeypatch.setattr(snapshot_mod, "_MEMO_BYTES", 1000)
    memo = snapshot_mod.AnswerMemo()

    def work(seed):
        rng = random.Random(seed)
        for _ in range(2000):
            k = rng.randrange(64)
            if memo.get(k) is None:
                memo.put(k, object(), rng.randrange(1, 200))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert memo.nbytes == sum(c for _f, c in memo._frames.values())
    assert 0 < memo.nbytes <= 1000


# -- answers that match nothing --------------------------------------------

_WIDE = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("vec", T.ArrayType(T.DoubleType())),
    T.StructField("blob", T.BinaryType()),
    T.StructField("meta", T.StructType([T.StructField("a", T.LongType()),
                                        T.StructField("b", T.StringType())])),
    T.StructField("tags", T.MapType(T.StringType(), T.IntegerType())),
    T.StructField("ts", T.TimestampType()),
])


@pytest.fixture
def wide_store(spark, tmp_path):
    """Nested and binary columns beside the keys; turn_idx is even."""
    rows = [(f"c{i % 7}", 2 * i, [float(i), 1.0], bytes([i % 256, 7]),
             (i, f"m{i}"), {f"k{i % 3}": i},
             dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
            for i in range(80)]
    store = TranscriptColumnStore(spark, str(tmp_path / "wide"),
                                  num_rowgroups=2)
    store.add_range(spark.createDataFrame(rows, _WIDE))
    store.close()
    return store


def _empty_local(df, names):
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.columns == names
    assert df.toArrow().num_rows == 0


def test_empty_answers_are_local_relations(spark, wide_store, place):
    place("driver")
    names = _WIDE.fieldNames()
    # every rowgroup pruned: the read has no work item
    _empty_local(wide_store.query_by_value("conv_id", "absent"), names)
    # rowgroups kept by their bounds, no row matches: no batch decoded
    _empty_local(wide_store.query_by_value("turn_idx", 51), names)
    # an empty IN list reads nothing, with and without a schema log
    _empty_local(wide_store.query_by_in("conv_id", []), names)
    m = wide_store.warehouse.snapshot(spark)
    segs = wide_store.warehouse.committed_segments(spark, m, [])
    _empty_local(segs, segs.columns)
    wide_store.add_column("score", "bigint")
    _empty_local(wide_store.query_by_in("conv_id", []), names + ["score"])


def test_empty_answer_schema_matches_data(spark, wide_store, place):
    """The empty answer unions with a non-empty one: same types."""
    place("driver")
    hit = wide_store.query_by_value("conv_id", "c3")
    miss = wide_store.query_by_value("conv_id", "absent")
    assert miss.schema == hit.schema
    assert _rows(hit.unionByName(miss)) == _rows(hit)


def test_empty_answers_share_one_frame(spark, wide_store, monkeypatch):
    """Every probe known to match nothing on one commit — absent keys,
    empty IN lists — gets the snapshot's one empty frame of its
    projection: equal to a fresh store object's empty answer, and a
    repeat builds no frame and no filter."""
    first = wide_store.query_by_value("conv_id", "absent")
    proj = wide_store.query_by_value("conv_id", "absent",
                                     columns=["ts", "turn_idx"])
    for call in (lambda s: s.query_by_value("conv_id", "absent"),
                 lambda s: s.query_by_value("conv_id", "absent",
                                            columns=["ts", "turn_idx"])):
        got, want = call(wide_store), call(_fresh(wide_store))
        assert got.schema == want.schema and _rows(got) == _rows(want) == []
    assert proj.columns == ["ts", "turn_idx"]

    def boom(*_a, **_k):
        raise AssertionError("an empty answer built a frame or a filter")

    frame = type(spark.range(1))
    with monkeypatch.context() as mp:
        for owner, name in ((type(spark), "createDataFrame"),
                            (frame, "where"), (frame, "filter"),
                            (frame, "select")):
            mp.setattr(owner, name, boom)
        assert wide_store.query_by_value("conv_id", "other-absent") is first
        assert wide_store.query_by_in("conv_id", ["x", "y"]) is first
        assert wide_store.query_by_in("conv_id", []) is first
        assert wide_store.query_by_value(
            "conv_id", "absent", columns=["ts", "turn_idx"]) is proj
    with pytest.raises(ValueError, match="unknown column"):
        wide_store.query_by_value("conv_id", "absent", columns=["nope"])
