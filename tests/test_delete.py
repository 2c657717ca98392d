"""Row-level delete (`TranscriptColumnStore.delete_where`): the
GDPR-class "remove this conversation" operation — affected rowgroups
found by manifest pruning (bounds + Bloom keep point deletes tight),
decoded, rewritten without the matching rows, and committed atomically
with 'retired' tombstones via the same single-manifest-append protocol
as compact(). Correctness bar: deleted rows gone, every other row
bit-identical, NULLs in the probe column never deleted by an equality
probe, a crash before the commit point changes nothing."""

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


def _store(spark, tmp_path, t, **kw):
    s = TranscriptColumnStore(spark, str(tmp_path / "store"),
                              num_rowgroups=kw.pop("num_rowgroups", 8),
                              **kw)
    s.add_range(t)
    s.close()
    return s


def test_delete_point_conversation(spark, tmp_path, t):
    cols = t.columns
    s = _store(spark, tmp_path, t)
    victim = t.select("conv_id").first()["conv_id"]
    expect_gone = t.where(F.col("conv_id") == victim).count()
    assert expect_gone > 0

    out = s.delete_where("conv_id", victim)
    assert out["rows_deleted"] == expect_gone
    assert out["rowgroups_rewritten"] >= 1
    # victim set is TIGHT: one conversation lives in one hash bucket,
    # so exactly one rowgroup is tombstoned — bounds/bloom candidate
    # false-positives decode but are never rewritten
    assert out["rowgroups_retired"] == 1

    keep = t.where(F.col("conv_id") != victim)
    assert _sorted(s.rows(), cols) == _sorted(keep, cols)
    # point query on the deleted key is empty; neighbors intact
    assert s.query_by_value("conv_id", victim).count() == 0
    other = (t.select("conv_id").where(F.col("conv_id") != victim)
             .first()["conv_id"])
    assert (s.query_by_value("conv_id", other).count()
            == t.where(F.col("conv_id") == other).count())
    # manifest stats follow the delete
    st = {r["column"]: r for r in s.stats().collect()}
    assert st["conv_id"]["n_rows"] == keep.count()


def test_delete_no_match_is_noop(spark, tmp_path, t):
    s = _store(spark, tmp_path, t)
    m_before = s.warehouse.manifest(spark).count()
    out = s.delete_where("conv_id", "no_such_conversation")
    assert out == {"rows_deleted": 0, "rowgroups_rewritten": 0,
                   "rowgroups_retired": 0}
    assert s.warehouse.manifest(spark).count() == m_before


def test_delete_eq_never_deletes_nulls(spark, tmp_path, t):
    """NOT(col = v) is NULL for NULL col — the survivor filter must
    keep those rows, not silently drop them."""
    cols = t.columns
    s = _store(spark, tmp_path, t)
    n_null = t.where(F.col("tool").isNull()).count()
    assert n_null > 0
    out = s.delete_where("tool", "tool_1")
    assert out["rows_deleted"] == t.where(F.col("tool") == "tool_1").count()
    keep = t.where(F.col("tool").isNull() | (F.col("tool") != "tool_1"))
    assert _sorted(s.rows(), cols) == _sorted(keep, cols)


def test_delete_is_null(spark, tmp_path, t):
    cols = t.columns
    s = _store(spark, tmp_path, t)
    out = s.delete_where("tool", None)
    assert out["rows_deleted"] == t.where(F.col("tool").isNull()).count()
    assert _sorted(s.rows(), cols) == \
        _sorted(t.where(F.col("tool").isNotNull()), cols)


def test_delete_range_and_in(spark, tmp_path, t):
    cols = t.columns
    s = _store(spark, tmp_path, t)
    out = s.delete_where("turn_idx", (10, 19))
    gone = t.where(F.col("turn_idx").between(10, 19)).count()
    assert out["rows_deleted"] == gone
    keep = t.where(~F.col("turn_idx").between(10, 19))
    assert _sorted(s.rows(), cols) == _sorted(keep, cols)

    out2 = s.delete_where("role", ["tool", "system"])
    keep2 = keep.where(~F.col("role").isin(["tool", "system"]))
    assert out2["rows_deleted"] == keep.count() - keep2.count()
    assert _sorted(s.rows(), cols) == _sorted(keep2, cols)


def test_delete_requires_closed_store(spark, tmp_path, t):
    s = _store(spark, tmp_path, t)
    s.add_range(t.limit(10))  # pending delta
    with pytest.raises(ValueError, match="pending"):
        s.delete_where("role", "tool")


def test_delete_crash_before_commit_changes_nothing(spark, tmp_path, t,
                                                   crash_at_commit):
    cols = t.columns
    s = _store(spark, tmp_path, t)
    before = _sorted(s.rows(), cols)
    with crash_at_commit(s), \
            pytest.raises(RuntimeError, match="injected crash"):
        s.delete_where("role", "tool")
    assert _sorted(s.rows(), cols) == before
    out = s.delete_where("role", "tool")
    assert out["rows_deleted"] == t.where(F.col("role") == "tool").count()
    assert _sorted(s.rows(), cols) == \
        _sorted(t.where(F.col("role") != "tool"), cols)


def test_delete_keys_distributed(spark, tmp_path, t):
    """Key set as a DataFrame — never collected to the driver."""
    cols = t.columns
    s = _store(spark, tmp_path, t)
    keys = t.select("conv_id").distinct().limit(3).persist()
    picked = [r["conv_id"] for r in keys.collect()]  # test-side only
    out = s.delete_keys(keys, on="conv_id")
    assert out["rows_deleted"] == \
        t.where(F.col("conv_id").isin(picked)).count()
    keep = t.where(~F.col("conv_id").isin(picked))
    assert _sorted(s.rows(), cols) == _sorted(keep, cols)
    # empty key set / no overlap -> no-op
    none = t.sparkSession.createDataFrame([("zzz",)], "conv_id string")
    assert s.delete_keys(none)["rows_deleted"] == 0


def test_upsert_replaces_and_inserts_atomically(spark, tmp_path, t):
    cols = t.columns
    s = _store(spark, tmp_path, t)
    victim = t.select("conv_id").first()["conv_id"]
    # replacement rows for one existing conversation (shorter + edited)
    repl = (t.where((F.col("conv_id") == victim) & (F.col("turn_idx") < 5))
            .withColumn("text", F.concat(F.col("text"), F.lit("_v2"))))
    # plus a brand-new conversation
    new = (t.where(F.col("conv_id") == victim)
           .withColumn("conv_id", F.lit("c_upsert_new")))
    out = s.upsert(repl.unionByName(new), key="conv_id")
    assert out["rows_replaced"] == t.where(F.col("conv_id") == victim).count()
    assert out["rows_written"] == repl.count() + new.count()

    expect = (t.where(F.col("conv_id") != victim)
              .unionByName(repl).unionByName(new))
    assert _sorted(s.rows(), cols) == _sorted(expect, cols)
    # the new conversation is queryable through the encoded path
    assert (s.query_by_value("conv_id", "c_upsert_new").count()
            == new.count())


def test_upsert_crash_atomic(spark, tmp_path, t, crash_at_commit):
    """Unlike delete-then-append, a crash mid-upsert must leave the
    OLD rows fully intact — no window where they are gone."""
    cols = t.columns
    s = _store(spark, tmp_path, t)
    before = _sorted(s.rows(), cols)
    victim = t.select("conv_id").first()["conv_id"]
    repl = (t.where(F.col("conv_id") == victim)
            .withColumn("text", F.lit("replaced")))
    with crash_at_commit(s), \
            pytest.raises(RuntimeError, match="injected crash"):
        s.upsert(repl, key="conv_id")
    assert _sorted(s.rows(), cols) == before
    s.upsert(repl, key="conv_id")
    expect = t.where(F.col("conv_id") != victim).unionByName(repl)
    assert _sorted(s.rows(), cols) == _sorted(expect, cols)
