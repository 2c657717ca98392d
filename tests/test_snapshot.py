"""The driver-side manifest snapshot behind the facade's probe queries:
planning launches no Spark job, a forced point lookup runs no job (a
read over the driver budget: one job with no exchange), a plan answers
from the commit it was built on even when a compact() and a vacuum()
commit before it runs, and the pinned read the decode stage runs
itself gives exactly the rows of the snapshot's segments DataFrame,
decoded in the driver or in a stage."""

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


def _forced_lookup(spark, store, keys):
    """Plans three lookups (asserting no job runs), then forces one:
    returns its executed plan and the jobs the force ran."""
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
    return df._jdf.queryExecution().executedPlan().toString(), jobs


def test_planning_launches_no_job(spark, tmp_path, batches, batched_store):
    """A small lookup is decoded in the driver while it is planned:
    forcing it scans a local relation and runs no job."""
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "jobs"), t)
    plan, jobs = _forced_lookup(spark, store, keys)
    assert jobs == []
    assert "LocalTableScan" in plan and "MapInArrow" not in plan, plan


def test_planning_launches_no_job_past_budget(spark, tmp_path, batches,
                                             batched_store, place):
    """A read over the driver budget (here 0) plans with no job too;
    forced, it is one mapInArrow job with no exchange."""
    place("executor")
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "jobs"), t)
    plan, jobs = _forced_lookup(spark, store, keys)
    assert len(jobs) == 1, jobs
    assert "MapInArrow" in plan and "Exchange" not in plan, plan


def test_rows_window_plans_from_snapshot(spark, tmp_path, batches,
                                        batched_store):
    """A global page routes through the snapshot's row counts: planning
    it launches no job, and its pages equal the ones routed by a Spark
    collect over the segments frame."""
    from columnstore_spark.operators import decode_window_global

    t, _keys = batches
    store = batched_store(spark, str(tmp_path / "win"), t)
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
        spark, tmp_path, batches, batched_store):
    t, keys = batches
    store = batched_store(spark, str(tmp_path / "iso"), t)
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


def _pinned_vs_segments(spark, store, place, rowgroups=None,
                        columns=None):
    """Both reads of one snapshot decode to the same rows, the pinned
    read on both placements (in the driver, and as a mapInArrow stage);
    returns them. `store` is a facade or a bare Warehouse."""
    wh = getattr(store, "warehouse", store)
    m = wh.snapshot(spark)
    frame = wh.committed_segments(spark, m, rowgroups)
    want = _rows(decode(frame, schema=m.decode_schema, columns=columns))
    for placement in ("driver", "executor"):
        place(placement)
        pinned = wh.pinned_read(spark, m, rowgroups)
        assert _rows(decode(pinned, schema=m.decode_schema,
                            columns=columns)) == want, placement
    return want


def test_pinned_read_matches_segments_batched(spark, tmp_path, batches,
                                              batched_store, place):
    t, _keys = batches
    store = batched_store(spark, str(tmp_path / "diff"), t)
    m = store.warehouse.snapshot(spark)
    full = _pinned_vs_segments(spark, store, place)
    assert len(full) == t.count()
    # the session's 8 shuffle partitions split the read over tasks
    assert len(store.warehouse.pinned_read(spark, m).tasks(8)) > 1
    ids = sorted(m.rowgroup_rows)
    assert _pinned_vs_segments(spark, store, place, ids[1::2])
    assert _pinned_vs_segments(spark, store, place, ids,
                               columns=["conv_id", "role"])
    assert _pinned_vs_segments(spark, store, place, []) == []


def test_pinned_read_matches_segments_compacted(spark, compacted, place):
    root, (_in_rows, want) = compacted
    store = TranscriptColumnStore(spark, root, num_rowgroups=2)
    assert _pinned_vs_segments(spark, store, place) == want


def test_pinned_read_matches_segments_past_isin_cap(
        spark, compacted, monkeypatch, place):
    """Past the IN-list cap the segments frame semi-joins a key frame;
    the pinned read filters its keys in the tasks either way."""
    from columnstore_spark.sources import snapshot

    root, (_in_rows, want) = compacted
    store = TranscriptColumnStore(spark, root, num_rowgroups=2)
    monkeypatch.setattr(snapshot, "_ISIN_CAP", 1)
    ids = sorted(store.warehouse.snapshot(spark).rowgroup_rows)
    assert len(ids) > 1
    assert _pinned_vs_segments(spark, store, place, ids) == want


def test_pinned_read_matches_segments_after_add_column(
        spark, tmp_path, batches, place):
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
    got = _pinned_vs_segments(spark, store, place)
    assert len(got) == t.count()
    assert _pinned_vs_segments(spark, store, place,
                               columns=["turn_idx", "score"])


def test_pinned_read_skips_torn_attempt(spark, tmp_path, transcripts,
                                        place):
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
    assert _pinned_vs_segments(spark, wh, place) == _rows(
        transcripts.select(*names))
