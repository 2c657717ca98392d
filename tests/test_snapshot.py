"""The driver-side manifest snapshot behind the facade's probe queries:
planning launches no Spark job, a forced point lookup is one job with
no exchange, a plan answers from the commit it was built on even when
a compact() and a vacuum() commit before it runs, and the pinned read
the decode stage runs itself gives exactly the rows of the snapshot's
segments DataFrame."""

import contextlib
import uuid

import pytest
from pyspark.sql import functions as F

from columnstore_spark.operators import decode
from columnstore_spark.store import TranscriptColumnStore


@contextlib.contextmanager
def _job_group(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    gid = f"snapshot-test-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, gid)
    jobs: list = []
    try:
        yield jobs
    finally:
        jobs.extend(sc.statusTracker().getJobIdsForGroup(gid))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def batches(transcripts):
    t = transcripts
    keys = [r["conv_id"] for r in
            t.select("conv_id").distinct().orderBy("conv_id")
            .limit(3).collect()]
    return t, keys


def _batched_store(spark, root, t):
    """Three closed batches of under-filled rowgroups (compactable)."""
    s = TranscriptColumnStore(spark, root, num_rowgroups=2)
    for i in range(3):
        s.add_range(t.where(F.col("turn_idx") % 3 == i))
        s.close()
    return s


def test_planning_launches_no_job(spark, tmp_path, batches):
    t, keys = batches
    store = _batched_store(spark, str(tmp_path / "jobs"), t)
    store.query_by_value("conv_id", keys[0])  # warm the snapshot
    with _job_group(spark) as jobs:
        store.query_by_value("conv_id", keys[1])
        store.query_by_in("conv_id", keys)
        store.query_where({"conv_id": keys[2], "role": "user",
                           "turn_idx": (0, 40)})
    assert jobs == []
    df = store.query_by_value("conv_id", keys[1])
    with _job_group(spark) as jobs:
        got = df.collect()
    assert got
    assert len(jobs) == 1, jobs
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_rows_window_plans_from_snapshot(spark, tmp_path, batches):
    """A global page routes through the snapshot's row counts: planning
    it launches no job, and its pages equal the ones routed by a Spark
    collect over the segments frame."""
    from columnstore_spark.operators import decode_window_global

    t, _keys = batches
    store = _batched_store(spark, str(tmp_path / "win"), t)
    m = store.warehouse.snapshot(spark)
    sizes = [n for _rg, n in sorted(m.rowgroup_rows.items())]
    total = sum(sizes)
    pages = [(0, 7), (sizes[0] - 3, 10), (sizes[0], sizes[1] + 5),
             (total - 4, 10), (total + 5, 3), (0, total)]
    with _job_group(spark) as jobs:
        got = [store.rows_window(s, n) for s, n in pages]
    assert jobs == []
    segs = store.warehouse.committed_segments(spark)
    for (s, n), df in zip(pages, got):
        want = decode_window_global(segs, s, n, schema=m.decode_schema)
        assert _rows(df) == _rows(want), (s, n)
        assert len(df.collect()) == max(0, min(n, total - s))
    assert _rows(got[-1]) == _rows(store.rows())


def test_plan_sees_one_snapshot_across_compact_and_vacuum(
        spark, tmp_path, batches):
    t, keys = batches
    store = _batched_store(spark, str(tmp_path / "iso"), t)
    want = _rows(store.query_by_value("conv_id", keys[0]))
    assert want
    before = set(store.warehouse.snapshot(spark).rowgroup_rows)
    plan = store.query_by_value("conv_id", keys[0])
    res = store.compact()
    assert res["rowgroups_retired"] >= 2
    store.vacuum()
    # the commit moved the rows under the plan: the rowgroups it was
    # planned on are tombstoned, the rows live in new ones
    after = set(store.warehouse.snapshot(spark).rowgroup_rows)
    assert before - after and after - before
    assert _rows(plan) == want
    # and a fresh plan over the new commit agrees
    assert _rows(store.query_by_value("conv_id", keys[0])) == want


@pytest.fixture(scope="module")
def compacted(spark, tmp_path_factory, batches):
    """A store mixing compacted and freshly closed rowgroups, with the
    answers of an IN lookup and a full read (checked against the
    source rows)."""
    t, keys = batches
    root = str(tmp_path_factory.mktemp("filters"))
    store = _batched_store(spark, root, t)
    store.compact()
    extra = t.where(F.col("turn_idx") < 5)
    store.add_range(extra)
    store.close()
    rows = store.rows()
    want = _rows(rows)
    assert want == _rows(t.unionAll(extra).select(*rows.columns))
    return root, (_rows(store.query_by_in("conv_id", keys)), want)


@pytest.mark.parametrize("cap", [None, 0])
def test_segment_read_filters_agree(spark, batches, compacted, monkeypatch,
                                    cap):
    """Both ways the snapshot restricts the pinned files to live rows —
    the literal live-key filter, or a broadcast semi-join past the
    IN-list cap — give the same rows."""
    from columnstore_spark.sources import snapshot

    _t, keys = batches
    root, want = compacted
    if cap is not None:
        monkeypatch.setattr(snapshot, "_ISIN_CAP", cap)
    store = TranscriptColumnStore(spark, root, num_rowgroups=2)
    assert (_rows(store.query_by_in("conv_id", keys)),
            _rows(store.rows())) == want


def _pinned_vs_segments(spark, store, rowgroups=None, columns=None):
    """Both reads of one snapshot decode to the same rows; returns
    them. `store` is a facade or a bare Warehouse."""
    wh = getattr(store, "warehouse", store)
    m = wh.snapshot(spark)
    pinned = wh.pinned_read(spark, m, rowgroups)
    frame = wh.committed_segments(spark, m, rowgroups)
    got = _rows(decode(pinned, schema=m.decode_schema, columns=columns))
    assert got == _rows(decode(frame, schema=m.decode_schema,
                               columns=columns))
    return got


def test_pinned_read_matches_segments_batched(spark, tmp_path, batches):
    t, _keys = batches
    store = _batched_store(spark, str(tmp_path / "diff"), t)
    m = store.warehouse.snapshot(spark)
    full = _pinned_vs_segments(spark, store)
    assert len(full) == t.count()
    # the session's 8 shuffle partitions split the read over tasks
    assert len(store.warehouse.pinned_read(spark, m).tasks(8)) > 1
    ids = sorted(m.rowgroup_rows)
    assert _pinned_vs_segments(spark, store, ids[1::2])
    assert _pinned_vs_segments(spark, store, ids,
                               columns=["conv_id", "role"])
    assert _pinned_vs_segments(spark, store, []) == []


def test_pinned_read_matches_segments_compacted(spark, compacted):
    root, (_in_rows, want) = compacted
    store = TranscriptColumnStore(spark, root, num_rowgroups=2)
    assert _pinned_vs_segments(spark, store) == want


def test_pinned_read_matches_segments_past_isin_cap(
        spark, compacted, monkeypatch):
    """Past the IN-list cap the segments frame semi-joins a key frame;
    the pinned read filters its keys in the tasks either way."""
    from columnstore_spark.sources import snapshot

    root, (_in_rows, want) = compacted
    store = TranscriptColumnStore(spark, root, num_rowgroups=2)
    monkeypatch.setattr(snapshot, "_ISIN_CAP", 1)
    ids = sorted(store.warehouse.snapshot(spark).rowgroup_rows)
    assert len(ids) > 1
    assert _pinned_vs_segments(spark, store, ids) == want


def test_pinned_read_matches_segments_after_add_column(
        spark, tmp_path, batches):
    """A column added after the first encode has its segments only in
    the later batch's file; the earlier rowgroups read it as NULL."""
    t, _keys = batches
    store = TranscriptColumnStore(spark, str(tmp_path / "evo"),
                                  num_rowgroups=2)
    store.add_range(t.where(F.col("turn_idx") % 2 == 0))
    store.close()
    store.add_column("score", "bigint")
    store.add_range(t.where(F.col("turn_idx") % 2 == 1).withColumn(
        "score", (F.col("turn_idx") * 10).cast("long")))
    store.close()
    m = store.warehouse.snapshot(spark)
    assert m.coverage[0]["score"] < m.coverage[1]
    got = _pinned_vs_segments(spark, store)
    assert len(got) == t.count()
    assert _pinned_vs_segments(spark, store, columns=["turn_idx", "score"])


def test_pinned_read_skips_torn_attempt(spark, tmp_path, transcripts):
    """Segment rows a crashed attempt left under the same run_id stay
    invisible to the pinned read, as to the segments frame."""
    from columnstore_spark.operators.encode import (default_rowgroup_expr,
                                                    encode)
    from columnstore_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path / "torn"))
    torn = (encode(transcripts,
                   rowgroup_expr=default_rowgroup_expr(4, 1_000_000))
            .withColumn("run_id", F.lit("batch-7"))
            .withColumn("attempt_id", F.lit("attempt-dead")))
    wh.backend(spark).append_segments(torn)
    wh.encode_resumable(transcripts, num_rowgroups=4, run_id="batch-7")
    names = wh.snapshot(spark).decode_schema.fieldNames()
    assert _pinned_vs_segments(spark, wh) == _rows(
        transcripts.select(*names))
