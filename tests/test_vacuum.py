"""vacuum(): reclaim superseded generations and folded delta batches.

The reference's Rebuild leaves the old row groups to the GC
(`/root/reference/Outcompute.ColumnStore/ColumnStore.cs`); on a
filesystem warehouse the superseded generation directories and the
delta batches a rebuild folded in are dead bytes a 10^12-turn store
cannot afford to keep. vacuum() deletes exactly those two classes and
nothing else — never the live generation, never a pending batch,
never a mid-rebuild staging dir."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from columnstore_spark.store import TranscriptColumnStore


def _gens(root):
    return sorted(d for d in os.listdir(root) if d.startswith("gen_"))


def _batches(root):
    return sorted(d for d in os.listdir(f"{root}/delta")
                  if d.startswith("batch_"))


def test_vacuum_reclaims_superseded(spark, transcripts, tmp_path):
    root = str(tmp_path / "store")
    s = TranscriptColumnStore(spark, root, num_rowgroups=4)
    # deterministic overlapping batches — limit() without an order is
    # free to pick different rows on each evaluation, and the final
    # assertion re-evaluates the batch predicates against the source
    b1 = transcripts.where(F.col("turn_idx") % 3 == 0)
    b2 = transcripts.where(F.col("turn_idx") % 2 == 0)
    s.add_range(b1)
    s.close()
    s.add_range(b2)
    s.close()
    expected = s.rows().count()
    s.rebuild()
    assert len(_gens(root)) == 2          # gen_0000 + rebuilt gen_0001
    assert len(_batches(root)) == 2       # folded but still on disk

    removed = s.vacuum()
    assert sorted(removed["generations"]) == ["gen_0000"]
    assert len(removed["batches"]) == 2
    assert _gens(root) == ["gen_0001"]
    assert _batches(root) == []
    # the store still answers identically
    assert s.rows().count() == expected
    assert s.query_by_value("role", "tool").count() == \
        b1.where(F.col("role") == "tool").count() + \
        b2.where(F.col("role") == "tool").count()


def test_vacuum_keeps_pending_batches(spark, transcripts, tmp_path):
    root = str(tmp_path / "store2")
    s = TranscriptColumnStore(spark, root, num_rowgroups=2)
    s.add_range(transcripts.limit(100))
    s.close()
    s.rebuild()
    s.add_range(transcripts.limit(50))    # pending, NOT folded
    pending = _batches(root)[-1]
    removed = s.vacuum()
    assert pending in _batches(root)      # pending batch survives
    assert pending not in removed["batches"]
    s.close()
    assert s.rows().count() == 150


def test_vacuum_noop_without_rebuild(spark, transcripts, tmp_path):
    root = str(tmp_path / "store3")
    s = TranscriptColumnStore(spark, root, num_rowgroups=2)
    s.add_range(transcripts.limit(100))
    s.close()
    removed = s.vacuum()
    assert removed["generations"] == [] and removed["batches"] == []
    # the only reclaimable segment files on a clean store are the
    # zero-row artifacts Spark appends write; data is untouched
    assert s.rows().count() == 100
    # and the second pass is a strict no-op
    assert s.vacuum() == {"generations": [], "batches": [],
                          "segment_files": []}
    assert s.rows().count() == 100


def test_add_after_vacuum_never_reuses_retired_names(spark, transcripts,
                                                     tmp_path):
    """Regression (round-3 review): vacuum() deletes folded batch dirs
    but their names stay in retired_batches.txt; a fresh add_range that
    counted directories would reuse a retired name, and
    _pending_batches would treat the NEW rows as already folded —
    silent permanent data loss on the next close()."""
    root = str(tmp_path / "store5")
    s = TranscriptColumnStore(spark, root, num_rowgroups=2)
    s.add_range(transcripts.limit(100))
    s.close()
    s.rebuild()
    s.vacuum()
    assert _batches(root) == []          # retired dir reclaimed
    s.add_range(transcripts.limit(40))   # must NOT be batch_000000
    assert _batches(root) == ["batch_000001"]
    s.close()
    assert s.rows().count() == 140       # the 40 rows survived


def test_vacuum_spares_staging_dirs(spark, transcripts, tmp_path):
    root = str(tmp_path / "store4")
    s = TranscriptColumnStore(spark, root, num_rowgroups=2)
    s.add_range(transcripts.limit(100))
    s.close()
    # simulate a crashed in-place rebuild of a FUTURE generation
    staged = f"{root}/gen_0001"
    os.makedirs(staged, exist_ok=True)
    open(f"{staged}/_STAGING", "w").close()
    removed = s.vacuum()
    assert removed["generations"] == []
    assert os.path.exists(f"{staged}/_STAGING")  # retry can reclaim it


def test_vacuum_reclaims_orphan_segments(spark, tmp_path):
    """An attempt that crashes between append_segments and the
    manifest commit leaves segment files the reads never see but every
    scan lists — vacuum() deletes exactly those, keeping all committed
    files and answers intact."""
    import glob

    import pytest as _pytest

    from columnstore_spark.sources.transcripts import load_transcripts
    from columnstore_spark.store import TranscriptColumnStore

    store = TranscriptColumnStore(spark, str(tmp_path / "orph"),
                                  num_rowgroups=2)
    t = load_transcripts(spark, "/root/testdata/sf0.001")
    store.add_range(t.where(F.col("turn_idx") % 2 == 0))
    store.close()
    before = sorted(str(tuple(r)) for r in store.rows().collect())
    seg_glob = f"{store.warehouse.segments_path}/*.parquet"
    n_committed = len(glob.glob(seg_glob))

    # torn attempt: segments land, manifest commit crashes
    b = store.warehouse.backend(spark)
    orig = b.append_manifest

    def boom(df):
        raise OSError("injected crash before manifest commit")

    b.append_manifest = boom
    store.add_range(t.where(F.col("turn_idx") % 2 == 1))
    with _pytest.raises(OSError, match="injected crash"):
        store.close()
    b.append_manifest = orig

    assert len(glob.glob(seg_glob)) > n_committed      # debris on disk
    removed = store.vacuum()
    assert removed["segment_files"]                    # reclaimed
    # every surviving file carries committed rows (torn-attempt files
    # AND zero-row append artifacts are both gone)
    import pyarrow.parquet as _pq
    for f in glob.glob(seg_glob):
        assert _pq.read_metadata(f).num_rows > 0
    assert sorted(str(tuple(r))
                  for r in store.solid_rows().collect()) == before

    # the batch is still pending; a clean retry folds it
    store.close()
    n_after_retry = len(glob.glob(seg_glob))
    assert store.rows().count() == t.count()
    # vacuum never touches live files: answers and data files stable
    again = store.vacuum()["segment_files"]
    assert len(glob.glob(seg_glob)) == n_after_retry - len(again)
    assert store.rows().count() == t.count()


def _hidden_staging(root):
    from columnstore_spark.sources.storage import STAGING_PREFIX
    return sorted(os.path.join(d, n) for d, dirs, names in os.walk(root)
                  for n in names + dirs if n.startswith(STAGING_PREFIX))


def _data_files(path):
    """Every non-hidden file directly under `path` -> its bytes."""
    out = {}
    for n in sorted(os.listdir(path)):
        if not n.startswith((".", "_")):
            with open(os.path.join(path, n), "rb") as f:
                out[n] = f.read()
    return out


@pytest.mark.parametrize("target", ["segments", "manifest"])
def test_vacuum_reclaims_commit_staging(spark, transcripts, tmp_path,
                                        monkeypatch, target):
    """A write that fails after writing a staging file (its rename into
    `target` raises) leaves that hidden file behind, next to the staging
    dir a crashed Spark manifest write of an older version left: vacuum
    removes both, and the rows and the manifest bytes stay as they
    were."""
    t = transcripts
    s = TranscriptColumnStore(spark, str(tmp_path / "s"), num_rowgroups=2)
    s.add_range(t.where(F.col("turn_idx") % 2 == 0))
    s.close()
    wh = s.warehouse
    old_dir = f"{wh.manifest_path}/.staging-0123abcd"
    os.makedirs(old_dir)
    with open(f"{old_dir}/part-00000.snappy.parquet", "wb") as f:
        f.write(b"torn")
    rows = sorted(tuple(r) for r in s.solid_rows().collect())
    manifest = _data_files(wh.manifest_path)

    real = os.rename

    def failing(src, dst):
        if os.path.dirname(dst) == getattr(wh, f"{target}_path"):
            raise OSError("injected crash after the staging write")
        return real(src, dst)

    s.add_range(t.where(F.col("turn_idx") % 2 == 1))
    with monkeypatch.context() as mp:
        mp.setattr(os, "rename", failing)
        with pytest.raises(OSError, match="injected crash"):
            s.close()
    staged = _hidden_staging(s.root)
    assert len(staged) == 2 and old_dir in staged, staged
    assert sorted(tuple(r) for r in s.solid_rows().collect()) == rows

    removed = s.vacuum()["segment_files"]
    assert set(staged) <= set(removed)
    assert _hidden_staging(s.root) == []
    assert _data_files(wh.manifest_path) == manifest
    assert sorted(tuple(r) for r in s.solid_rows().collect()) == rows
    s.close()
    assert s.rows().count() == t.count()
