"""Rowgroup compaction — merging under-capacity solid rowgroups into
capacity-sized ones (`Warehouse.compact`, facade `compact()`): the
missing half of the reference's `TryCompact` (delta->solid exists as
the encode stage; this folds accumulated small solids), the Iceberg
rewrite_data_files analogue. Correctness bar: rows identical before
and after, queries identical, stats never double-count, a crash
between the segment write and the manifest append changes nothing."""

import os

import pytest
from pyspark.sql import functions as F

from columnstore_spark.sources.transcripts import load_transcripts
from columnstore_spark.store import TranscriptColumnStore

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture()
def t(spark):
    return load_transcripts(spark, SF_DIR).persist()


def _sorted(df, cols):
    return df.orderBy("conv_id", "turn_idx").select(cols).collect()


def _small_store(spark, tmp_path, t, num_rowgroups=8):
    """A store whose close() produced many under-capacity rowgroups."""
    store = TranscriptColumnStore(spark, str(tmp_path / "store"),
                                  num_rowgroups=num_rowgroups,
                                  rows_per_segment=1_000_000)
    store.add_range(t)
    store.close()
    return store


def _live_rowgroups(store):
    m = store.warehouse.live_manifest(store.spark)
    return {r["rowgroup_id"] for r in
            m.select("rowgroup_id").distinct().collect()}


def test_compact_roundtrip_and_ratio(spark, tmp_path, t):
    cols = t.columns
    store = _small_store(spark, tmp_path, t)
    before_rows = _sorted(store.rows(), cols)
    before_groups = _live_rowgroups(store)
    before_enc = store.stats().agg(F.sum("enc_bytes")).collect()[0][0]

    out = store.compact()
    assert out["rowgroups_retired"] == len(before_groups)
    assert out["rowgroups_encoded"] >= 1

    after_groups = _live_rowgroups(store)
    # merged into capacity-sized groups, ids in the compaction namespace
    assert len(after_groups) < len(before_groups)
    assert after_groups.isdisjoint(before_groups)
    assert all(g >= (1 << 62) for g in after_groups)

    # bit-identical row set under the stable ordering
    assert _sorted(store.rows(), cols) == before_rows

    # fewer, bigger dictionaries -> smaller store (BENCH.md §2a)
    after_enc = store.stats().agg(F.sum("enc_bytes")).collect()[0][0]
    assert after_enc < before_enc

    # stats never double-count (raw manifest holds old + new rows)
    n = store.stats().where(F.col("column") == "conv_id").collect()[0]
    assert n["n_rows"] == t.count()


def test_compact_queries_unchanged(spark, tmp_path, t):
    store = _small_store(spark, tmp_path, t)
    probe = t.select("conv_id").first()["conv_id"]
    before_val = _sorted(store.query_by_value("role", "tool"), t.columns)
    before_pt = _sorted(store.query_by_value("conv_id", probe), t.columns)
    # n_segments legitimately drops when groups merge; every VALUE
    # aggregate must be untouched
    agg = (lambda: store.aggregate().drop("n_segments")
           .orderBy("col_name").collect())
    before_agg = agg()

    store.compact()

    assert _sorted(store.query_by_value("role", "tool"),
                   t.columns) == before_val
    assert _sorted(store.query_by_value("conv_id", probe),
                   t.columns) == before_pt
    assert agg() == before_agg


def test_compact_noop_when_filled(spark, tmp_path, t):
    """All rowgroups above min_fill -> compaction does nothing."""
    store = TranscriptColumnStore(spark, str(tmp_path / "store"),
                                  num_rowgroups=2,
                                  rows_per_segment=100)
    store.add_range(t)
    store.close()
    out = store.compact(min_fill=0.5)  # threshold 50 rows; groups ~500
    assert out["rowgroups_retired"] == 0
    assert out["rowgroups_encoded"] == 0


def test_compact_idempotent(spark, tmp_path, t):
    store = _small_store(spark, tmp_path, t)
    store.compact()
    groups = _live_rowgroups(store)
    # second pass: every survivor is either at capacity or the single
    # merged group -> nothing eligible (needs >= 2 small groups)
    out = store.compact()
    assert out["rowgroups_retired"] == 0
    assert _live_rowgroups(store) == groups


def test_compact_crash_before_commit_changes_nothing(spark, tmp_path, t):
    """Kill between the segment append and the manifest append (the
    commit point): reads and a retried compact see the old state."""
    cols = t.columns
    store = _small_store(spark, tmp_path, t)
    before_rows = _sorted(store.rows(), cols)
    before_groups = _live_rowgroups(store)

    backend = store.warehouse.backend(spark)
    orig = backend.append_manifest
    backend.append_manifest = lambda df: (_ for _ in ()).throw(
        RuntimeError("injected crash"))
    with pytest.raises(RuntimeError, match="injected crash"):
        store.compact()
    backend.append_manifest = orig

    # torn segment rows are invisible (no manifest row joins them)
    assert _live_rowgroups(store) == before_groups
    assert _sorted(store.rows(), cols) == before_rows

    # retry succeeds and lands the full merge
    out = store.compact()
    assert out["rowgroups_retired"] == len(before_groups)
    assert _sorted(store.rows(), cols) == before_rows


def test_compact_after_streaming_ingest(spark, tmp_path, t):
    """The motivating case: streaming micro-batches each commit their
    own small rowgroups (per-batch id namespaces); compacting the
    stream-built warehouse merges them and the store still enumerates
    every row exactly once, bit-identical."""
    import os

    from columnstore_spark.operators import decode
    from columnstore_spark.sources.warehouse import Warehouse
    from columnstore_spark.streaming.ingest import encode_stream

    cols = t.columns
    inp = str(tmp_path / "input")
    os.makedirs(inp)
    for k in range(3):  # three micro-batches -> 3 namespaces x 4 groups
        (t.where(F.col("turn_idx") % 3 == k)
         .coalesce(1).write.mode("append").parquet(inp))
        q = encode_stream(spark, inp, str(tmp_path / "wh"),
                          str(tmp_path / "ckpt"), num_rowgroups=4)
        q.awaitTermination(120)

    wh = Warehouse(str(tmp_path / "wh"))
    expected = _sorted(t, cols)
    assert _sorted(decode(wh.committed_segments(spark)), cols) == expected

    before = wh.live_manifest(spark).select("rowgroup_id").distinct().count()
    out = wh.compact(spark, rows_per_segment=1_000_000)
    assert out["rowgroups_retired"] == before
    after = wh.live_manifest(spark).select("rowgroup_id").distinct().count()
    assert after < before
    assert _sorted(decode(wh.committed_segments(spark)), cols) == expected


def test_compact_then_ingest_namespaces_disjoint(spark, tmp_path, t):
    """A delta batch closed AFTER compaction must get fresh rowgroup
    ids (never resume-skipped against compacted ids) and the store
    stays exactly-once."""
    cols = t.columns
    half = t.where(F.col("turn_idx") % 2 == 0)
    rest = t.where(F.col("turn_idx") % 2 == 1)
    store = TranscriptColumnStore(spark, str(tmp_path / "store"),
                                  num_rowgroups=8,
                                  rows_per_segment=1_000_000)
    store.add_range(half)
    store.close()
    store.compact()
    store.add_range(rest)
    store.close()
    assert _sorted(store.rows(), cols) == _sorted(t, cols)
    # and compacting the mixed store still round-trips
    store.compact()
    assert _sorted(store.rows(), cols) == _sorted(t, cols)


def test_compact_on_legacy_manifest_without_additive_columns(
        spark, transcripts, tmp_path):
    """Upgrade path (review fix): a store whose manifest files predate
    additive nullable columns (bloom words, sum_repr) must still
    compact — the retire tombstones are null-filled to the modern
    manifest schema instead of crashing the union."""
    import glob

    import pyarrow.parquet as pq

    s = TranscriptColumnStore(spark, str(tmp_path / "legacy"),
                              num_rowgroups=2)
    t = transcripts.limit(200)
    s.add_range(t.where(F.col("turn_idx") % 2 == 0))
    s.close()
    s.add_range(t.where(F.col("turn_idx") % 2 == 1))
    s.close()
    before = sorted(str(tuple(r)) for r in s.rows().collect())

    # simulate the legacy manifest: strip additive nullable columns
    stripped = 0
    for f in glob.glob(f"{s.warehouse.manifest_path}/*.parquet"):
        tbl = pq.read_table(f)
        keep = [c for c in tbl.column_names
                if c not in ("bloom", "sum_repr")]
        if len(keep) < len(tbl.column_names):
            pq.write_table(tbl.select(keep), f)
            stripped += 1
    assert stripped > 0

    res = s.compact()
    assert res["rowgroups_retired"] >= 2
    assert sorted(str(tuple(r)) for r in s.rows().collect()) == before


def test_tombstone_only_commit_never_reuses_rewrite_ids(spark, tmp_path, t):
    """A rewrite whose survivors are EMPTY (delete_where erasing every
    row of its victim rowgroups) commits 'retired' tombstones and zero
    'done' rows, dropping the id from the live view. The next rewrite's
    id high-water mark must come from the RAW manifest: reusing the
    retired id would write a later 'done' for it, which live_manifest's
    same-second tie-break (retired outranks done) then silently hides —
    the freshly committed rows vanish from every read."""
    store = _small_store(spark, tmp_path, t)
    store.compact()  # merge into the rewrite namespace (ids >= 2^62)
    wh = store.warehouse
    big = sorted(i for i in _live_rowgroups(store) if i >= 1 << 62)
    assert big, "compact() should allocate in the rewrite namespace"
    # tombstone-only commit: every victim row deleted, no survivors
    out = wh.replace_rowgroups(spark, big, t.limit(0))
    assert out["rowgroups_retired"] == len(big)

    # re-ingest and rewrite again — must allocate ABOVE the retired ids
    store.add_range(t)
    store.close()
    store.compact()
    m = wh.manifest(spark)
    retired = {r["rowgroup_id"] for r in
               m.where("status = 'retired'")
               .select("rowgroup_id").distinct().collect()}
    live_now = _live_rowgroups(store)
    # a live rowgroup at an ever-retired id == id reuse (pre-fix the
    # second compact() re-allocated exactly max(big))
    reused = {i for i in live_now & retired if i >= 1 << 62}
    assert not reused, f"rewrite reused retired ids {sorted(reused)}"
    # and every re-ingested row is visible regardless of commit timing
    assert store.rows().count() == t.count()
