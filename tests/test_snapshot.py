"""The driver-side manifest snapshot behind the facade's probe queries:
planning launches no Spark job, a forced point lookup stays within
four, and a plan answers from the commit it was built on even when a
compact() and a vacuum() commit before it runs."""

import contextlib
import uuid

import pytest
from pyspark.sql import functions as F

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
    with _job_group(spark) as jobs:
        got = store.query_by_value("conv_id", keys[1]).collect()
    assert got
    assert len(jobs) <= 4, jobs


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
