"""The one rowgroup-rewrite path behind `delete_where`, `delete_keys`,
`upsert` and `compact` (`TranscriptColumnStore._rewrite` ->
`Warehouse.replace_rowgroups`): a crash at the commit point changes
neither the rows nor the manifest files and a retry lands the
expected rows, and a victim rowgroup that is not live in the snapshot
the commit is made against is refused before anything is written."""

import os

import pytest
from pyspark.sql import functions as F

from columnstore_spark.sources.warehouse import Warehouse
from columnstore_spark.store import TranscriptColumnStore


@pytest.fixture()
def t(transcripts):
    return transcripts


def _store(spark, tmp_path, t):
    """A closed store of under-filled rowgroups (compactable)."""
    s = TranscriptColumnStore(spark, str(tmp_path / "store"),
                              num_rowgroups=8)
    s.add_range(t)
    s.close()
    return s


def _sorted(df, cols):
    return df.orderBy("conv_id", "turn_idx").select(cols).collect()


def _files(path):
    """Every file under `path` (hidden staging included) -> its bytes."""
    out = {}
    for d, _dirs, names in os.walk(path):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.join(d, n)] = f.read()
    return out


def _edited(t, key):
    return (t.where((F.col("conv_id") == key) & (F.col("turn_idx") < 5))
            .withColumn("text", F.lit("replaced")))


# mutation -> (run it on store s, the rows expected after it)
MUTATIONS = {
    "delete_where": (
        lambda s, t, k: s.delete_where("conv_id", k),
        lambda t, k: t.where(F.col("conv_id") != k)),
    "delete_keys": (
        lambda s, t, k: s.delete_keys(
            t.select("conv_id").where(F.col("conv_id") == k)),
        lambda t, k: t.where(F.col("conv_id") != k)),
    "upsert": (
        lambda s, t, k: s.upsert(_edited(t, k), key="conv_id"),
        lambda t, k: t.where(F.col("conv_id") != k)
        .unionByName(_edited(t, k))),
    "compact": (
        lambda s, t, k: s.compact(),
        lambda t, k: t),
}


@pytest.mark.parametrize("op", sorted(MUTATIONS))
def test_crash_at_commit_is_atomic(spark, tmp_path, t, crash_at_commit,
                                   op):
    run, expect = MUTATIONS[op]
    cols = t.columns
    s = _store(spark, tmp_path, t)
    key = t.select("conv_id").orderBy("conv_id").first()["conv_id"]
    before = _sorted(s.rows(), cols)
    manifest = _files(s.warehouse.manifest_path)

    with crash_at_commit(s), \
            pytest.raises(RuntimeError, match="injected crash"):
        run(s, t, key)
    assert _sorted(s.rows(), cols) == before
    assert _files(s.warehouse.manifest_path) == manifest

    run(s, t, key)
    assert _sorted(s.rows(), cols) == _sorted(expect(t, key), cols)


def test_replace_refuses_victim_not_live(spark, tmp_path, t):
    """A retired id and a never-written id are both refused: nothing
    is written to the segments or the manifest."""
    cols = t.columns
    s = _store(spark, tmp_path, t)
    wh = s.warehouse
    retired = sorted(wh.snapshot(spark).rowgroup_rows)
    s.compact()
    live = sorted(wh.snapshot(spark).rowgroup_rows)
    assert live and not set(live) & set(retired)
    before = _sorted(s.rows(), cols)
    files = _files(s.root)
    for victims in ([*live, retired[0]], [max(live) + 1]):
        with pytest.raises(RuntimeError, match="not live"):
            wh.replace_rowgroups(spark, victims, t.limit(0))
        assert _files(s.root) == files
    assert _sorted(s.rows(), cols) == before


def test_delete_refuses_victims_retired_underneath(spark, tmp_path, t,
                                                   monkeypatch):
    """Another store object on the same root compacts between the
    delete's candidate scan and its commit. The delete's victims are
    no longer live: it raises and commits nothing, instead of
    rewriting survivors whose originals stay live (rows twice)."""
    cols = t.columns
    s = _store(spark, tmp_path, t)
    other = TranscriptColumnStore(spark, s.root, num_rowgroups=8)
    key = t.select("conv_id").orderBy("conv_id").first()["conv_id"]
    orig = Warehouse.replace_rowgroups

    def racing(self, *args, **kwargs):
        monkeypatch.setattr(Warehouse, "replace_rowgroups", orig)
        other.compact()
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "replace_rowgroups", racing)
    with pytest.raises(RuntimeError, match="not live"):
        s.delete_where("conv_id", key)
    assert _sorted(s.rows(), cols) == _sorted(t, cols)


def test_rewrite_past_isin_cap(spark, tmp_path, t, monkeypatch):
    """Victim sets past `_ISIN_CAP` select the survivors by a broadcast
    semi-join instead of a literal IN list; same rows either way."""
    from columnstore_spark.sources import warehouse as warehouse_mod

    cols = t.columns
    s = _store(spark, tmp_path, t)
    monkeypatch.setattr(warehouse_mod, "_ISIN_CAP", 1)
    out = s.delete_where("role", "tool")
    assert out["rowgroups_retired"] > 1
    assert out["rows_deleted"] == t.where(F.col("role") == "tool").count()
    assert _sorted(s.rows(), cols) == \
        _sorted(t.where(F.col("role") != "tool"), cols)


def test_upsert_insert_only(spark, tmp_path, t):
    """An upsert whose keys are all new retires nothing and commits
    only the incoming rows."""
    cols = t.columns
    s = _store(spark, tmp_path, t)
    key = t.select("conv_id").orderBy("conv_id").first()["conv_id"]
    new = (t.where(F.col("conv_id") == key)
           .withColumn("conv_id", F.lit("c_insert_only")))
    out = s.upsert(new, key="conv_id")
    assert out == {"rows_replaced": 0, "rows_written": new.count(),
                   "rowgroups_rewritten": 1, "rowgroups_retired": 0}
    assert _sorted(s.rows(), cols) == _sorted(t.unionByName(new), cols)


def test_delete_every_row(spark, tmp_path, t):
    """A delete that matches every row is a tombstone-only commit; the
    empty store's live manifest and stats read as empty frames."""
    s = _store(spark, tmp_path, t)
    n_groups = len(s.warehouse.snapshot(spark).rowgroup_rows)
    out = s.delete_where("turn_idx", (-(1 << 40), 1 << 40))
    assert out == {"rows_deleted": t.count(), "rowgroups_rewritten": 0,
                   "rowgroups_retired": n_groups}
    assert s.rows().count() == 0
    assert s.warehouse.live_manifest(spark).count() == 0
    assert s.stats().count() == 0


def test_probes_after_every_row_deleted(spark, tmp_path, t):
    """A store whose every row was deleted keeps its schema: probes and
    explains answer with empty frames of the store schema (projected
    when asked), pending rows still answer, and a column the store
    never had still raises ValueError."""
    s = _store(spark, tmp_path, t)
    want = s.schema()
    s.delete_where("turn_idx", (-1e9, 1e9))
    assert s.schema() == want
    for out in (s.query_by_value("role", "tool"),
                s.query_where({"role": "tool", "turn_idx": (0, 5)}),
                s.query_by_in("conv_id", ["a", "b"]),
                s.query_by_null("tool"),
                s.query_any({"role": "tool", "tool": None}),
                s.rows()):
        assert out.schema == want and out.count() == 0
    proj = s.query_where({"role": "tool"}, columns=["turn_idx", "text"])
    assert proj.columns == ["turn_idx", "text"] and proj.count() == 0
    for ex in (s.explain_where({"role": "tool", "turn_idx": (0, 5)}),
               s.explain_any({"role": "tool", "turn_idx": 3}),
               s.explain_prune("turn_idx", (0, 5))):
        assert ex.count() == 0
    assert "keep_role" in s.explain_where({"role": "tool"}).columns
    for bad in (lambda: s.query_by_value("nope", 1),
                lambda: s.query_where({"role": "tool", "nope": 1}),
                lambda: s.query_by_value("role", "tool", columns=["nope"]),
                lambda: s.explain_where({"nope": 1}),
                lambda: s.explain_prune("nope", 1)):
        with pytest.raises(ValueError, match="nope"):
            bad()
    key = t.first()["conv_id"]
    s.add_range(t.where(F.col("conv_id") == key))
    pending = s.query_by_value("conv_id", key, include_pending=True)
    assert pending.count() == t.where(F.col("conv_id") == key).count()
