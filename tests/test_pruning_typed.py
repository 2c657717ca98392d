"""Typed value-domain manifest pruning (round-2 verdict #1).

The old lexicographic compare on `str(v)` reprs dropped matching
rowgroups for numeric columns: a segment with min=0, max=40 probed for
turn_idx=7 gave "40" >= "7" -> false -> the rowgroup was eliminated
although 7 ∈ [0,40]. These tests pin the value-domain fix end to end:
facade queries return identical rows with and without pruning on a
multi-rowgroup store, pruning still actually prunes, and decimal /
timestamp probes rescale into the stored domain.
"""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnstore_spark.operators import decode, encode
from columnstore_spark.plans.pruning import (
    prune_rowgroups_by_range,
    prune_rowgroups_by_value,
)
from columnstore_spark.store import TranscriptColumnStore

N_TURNS = 410  # single conversation split into turn blocks of 100


@pytest.fixture(scope="module")
def frame(spark):
    """One conversation, 410 turns: rows_per_segment=100 splits it into
    rowgroups with DISJOINT turn ranges [0..99], [100..199], ... — the
    shape where numeric pruning must both prune and stay exact."""
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [("conv0", j, "user" if j % 3 else "tool", f"text {j}",
             None if j % 2 else "search", base + dt.timedelta(minutes=j))
            for j in range(N_TURNS)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType()),
    ])
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def store(spark, frame, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("typed_store"))
    s = TranscriptColumnStore(spark, root, num_rowgroups=1,
                              rows_per_segment=100)
    s.add_range(frame)
    s.close()
    return s


def test_numeric_value_probe_is_exact_and_prunes(spark, store, frame):
    # the regression shape: probe 7 against blocks [0..99],[100..199],...
    got = store.query_by_value("turn_idx", 7)
    assert [r["turn_idx"] for r in got.collect()] == [7]
    # and the probe actually pruned: only one turn block decoded
    segs = store.warehouse.committed_segments(spark)
    total = segs.select("rowgroup_id").distinct().count()
    kept = (prune_rowgroups_by_value(segs, "turn_idx", 7,
                                     logical_type="int32")
            .select("rowgroup_id").distinct().count())
    assert total == -(-N_TURNS // 100)
    assert kept == 1


def test_numeric_range_probe(spark, store, frame):
    got = store.query_by_range("turn_idx", 95, 105)
    assert sorted(r["turn_idx"] for r in got.collect()) == list(range(95, 106))
    segs = store.warehouse.committed_segments(spark)
    kept = (prune_rowgroups_by_range(segs, "turn_idx", 95, 105,
                                     logical_type="int32")
            .select("rowgroup_id").distinct().count())
    assert kept == 2  # blocks [0..99] and [100..199] only


def test_generic_path_without_logical_type(spark, store, frame):
    """prune_* without a declared logical_type dispatches on the
    manifest's logical_type per row — same rows, still pruned."""
    segs = store.warehouse.committed_segments(spark)
    pruned = prune_rowgroups_by_value(segs, "turn_idx", 207)
    assert pruned.select("rowgroup_id").distinct().count() == 1
    rows = decode(pruned).where(F.col("turn_idx") == 207).collect()
    assert [r["turn_idx"] for r in rows] == [207]


def test_timestamp_range_probe(spark, store, frame):
    lo = dt.datetime(2026, 1, 1, 1, 40, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2026, 1, 1, 3, 20, tzinfo=dt.timezone.utc)
    got = store.query_by_range("ts", lo, hi).count()
    want = frame.where(F.col("ts").between(lo, hi)).count()
    assert got == want > 0


def test_string_pruning_still_exact(spark, store, frame):
    got = store.query_by_value("role", "tool").count()
    assert got == frame.where(F.col("role") == "tool").count() > 0


def test_facade_prune_pushes_rowgroup_filter_to_scan(spark, store,
                                                    monkeypatch):
    """The facade evaluates pruning on the manifest (metadata) and
    hands the decode stage a pinned read of exactly the kept ids, over
    only the pinned files whose rowgroup range overlaps them —
    non-matching rowgroups' payloads are never read."""
    from columnstore_spark.operators.arrow_io import overlaps

    wh = store.warehouse
    reads = []
    orig = wh.pinned_read
    monkeypatch.setattr(wh, "pinned_read", lambda *a, **k: (
        reads.append(orig(*a, **k)), reads[-1])[1])
    df = store.query_by_value("turn_idx", 207)
    m = wh.snapshot(spark)
    kept = m.keep_ids("turn_idx", "eq", 207, m.logical_types["turn_idx"])
    assert 0 < len(kept) < len(m.rowgroup_rows)
    [read] = reads
    assert read.ids == sorted(kept)
    tasks = read.tasks(8)
    assert sorted(i for _p, _s, ids, _k in tasks for i in ids) == sorted(kept)
    assert {p for paths, _s, _i, _k in tasks for p in paths} == {
        f.path for f in m.files
        if f.n_rows and overlaps(sorted(kept), f.rowgroups)}
    assert [r["turn_idx"] for r in df.collect()] == [207]


def test_stats_rollup_is_value_domain(store):
    st = {r["column"]: r for r in store.stats().collect()}
    assert st["turn_idx"]["min_num"] == 0
    assert st["turn_idx"]["max_num"] == N_TURNS - 1  # not "99"-style lex max
    assert st["role"]["min_str"] == "tool"
    assert st["role"]["max_str"] == "user"
    assert st["ts"]["min_num"] is not None  # epoch-domain bounds exist


@pytest.fixture(scope="module")
def dec_store(spark, tmp_path_factory):
    rows = [(f"c{i}", i, Decimal("1.23") if i % 2 else Decimal("50.00"))
            for i in range(200)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("amount", T.DecimalType(10, 2)),
    ])
    df = spark.createDataFrame(rows, schema)
    root = str(tmp_path_factory.mktemp("dec_store"))
    s = TranscriptColumnStore(spark, root, num_rowgroups=2,
                              rows_per_segment=50)
    s.add_range(df)
    s.close()
    return s


def test_decimal_probe_rescales(dec_store):
    """Decimal probes compare in the unscaled-int domain the manifest
    stores (round-2 advice: a Decimal('1.23') probe vs bounds 123..5000
    must not be compared as strings)."""
    assert dec_store.query_by_value("amount", Decimal("1.23")).count() == 100
    got = dec_store.query_by_range("amount", Decimal("1.00"),
                                   Decimal("2.00")).count()
    assert got == 100


def test_decimal_unrepresentable_probe_matches_nothing(dec_store):
    # not representable at scale 2 -> provably empty, no decode
    assert dec_store.query_by_value("amount", Decimal("0.005")).count() == 0
    # far outside int64 unscaled -> empty, and no OverflowError
    assert dec_store.query_by_value("amount", Decimal("1e30")).count() == 0


@pytest.fixture(scope="module")
def flt_store(spark, tmp_path_factory):
    """One conversation; score rises with turn_idx so the 50-row turn
    blocks carry disjoint float ranges; block 3 additionally holds a
    NaN (null float bounds -> that block is never pruned)."""
    rows = [("c0", i, float(i) / 4.0 if i != 160 else float("nan"))
            for i in range(200)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
    ])
    df = spark.createDataFrame(rows, schema)
    root = str(tmp_path_factory.mktemp("flt_store"))
    s = TranscriptColumnStore(spark, root, num_rowgroups=1,
                              rows_per_segment=50)
    s.add_range(df)
    s.close()
    return s


def test_float_range_probe_prunes_and_is_exact(spark, flt_store):
    got = flt_store.query_by_range("score", 10.0, 13.0)
    assert sorted(r["turn_idx"] for r in got.collect()) == list(
        range(40, 53))
    segs = flt_store.warehouse.committed_segments(spark)
    kept = (prune_rowgroups_by_range(segs, "score", 10.0, 13.0,
                                     logical_type="float64")
            .select("rowgroup_id").distinct().count())
    # blocks [40..52 values 10..13] span rowgroups 0 (turns 0-49) and 1
    # (turns 50-99); the NaN block (turns 150-199) has null bounds and
    # is conservatively kept
    assert kept == 3


def test_float_value_probe(spark, flt_store):
    got = flt_store.query_by_value("score", 2.5)
    assert [r["turn_idx"] for r in got.collect()] == [10]
    # generic path (no logical_type) also prunes float columns
    segs = flt_store.warehouse.committed_segments(spark)
    kept = (prune_rowgroups_by_value(segs, "score", 2.5)
            .select("rowgroup_id").distinct().count())
    assert kept == 2  # value block + the NaN block


def test_float_and_mismatched_probes_never_prune(spark, store):
    """Probes with no sound conversion leave the segment set intact."""
    segs = store.warehouse.committed_segments(spark)
    total = segs.count()
    assert prune_rowgroups_by_value(
        segs, "turn_idx", "7").count() == total  # str probe, int column
    assert prune_rowgroups_by_value(
        segs, "text", 7).count() == total        # int probe, str column
    # non-integral float equality on an int column provably matches nothing
    assert prune_rowgroups_by_value(
        segs, "turn_idx", 7.5, logical_type="int32").count() == 0
    # integral float probes work in the value domain
    assert prune_rowgroups_by_value(
        segs, "turn_idx", 7.0, logical_type="int32"
    ).select("rowgroup_id").distinct().count() == 1


def test_explain_prune_matches_pruner(spark, tmp_path):
    """explain_prune is the pruner's truth table: the kept set equals
    what query pruning actually keeps, and the reasons decompose."""
    from columnstore_spark.sources.transcripts import load_transcripts
    from columnstore_spark.store import TranscriptColumnStore

    import os
    t = load_transcripts(
        spark, os.environ.get("SPARK_GRAFT_TEST_SF",
                              "/root/testdata/sf0.001"))
    s = TranscriptColumnStore(spark, str(tmp_path / "store"),
                              num_rowgroups=8)
    s.add_range(t)
    s.close()
    key = t.select("conv_id").first()["conv_id"]

    ex = s.explain_prune("conv_id", key).collect()
    kept = {r["rowgroup_id"] for r in ex if r["kept"]}
    # ground truth: the rowgroups that actually hold the key
    from pyspark.sql import functions as F
    got = s.query_by_value("conv_id", key)
    assert got.count() == t.where(F.col("conv_id") == key).count()
    # the explain's kept set is a superset of the true holder and a
    # strict subset of all rowgroups (bloom prunes on this column)
    all_ids = {r["rowgroup_id"] for r in ex}
    assert kept and kept < all_ids
    # every eliminated rowgroup names which test killed it
    for r in ex:
        if not r["kept"]:
            assert r["reason"] in ("bounds", "bloom")
            assert (r["bounds_keep"] is False) or (r["bloom_keep"] is False)
        else:
            assert r["reason"] == "kept"

    # range probe: kept == bounds test, no bloom column
    ex2 = s.explain_prune("turn_idx", (10, 19)).collect()
    assert all(r["bloom_keep"] is None for r in ex2)
    assert all(r["kept"] == r["bounds_keep"] for r in ex2)
