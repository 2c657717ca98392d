"""Metadata-only schema evolution on TranscriptColumnStore — the
Iceberg analogue: add_column()/drop_column() are one appended log
line, no rowgroup rewrites. Rowgroups that predate an add read the
column as NULL (decode null-fills); drops project away immediately;
rebuild() materializes the evolved schema physically and restores
every encoded fast path.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnstore_spark.sources.transcripts import load_transcripts
from columnstore_spark.store import TranscriptColumnStore

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def base(spark, tmp_path):
    """A closed store of sf0.001 transcripts (1000 rows)."""
    store = TranscriptColumnStore(spark, str(tmp_path / "evo"),
                                  num_rowgroups=4)
    t = load_transcripts(spark, SF_DIR)
    store.add_range(t)
    store.close()
    return store, t


def _with_score(t):
    return t.withColumn("score", (F.col("turn_idx") * 10).cast("long"))


def test_add_column_null_fills_old_rowgroups(spark, base):
    store, t = base
    n = t.count()
    store.add_column("score", "bigint")
    assert [f.name for f in store.schema().fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "score"]

    # before any data lands: every row reads NULL for the new column
    rows = store.rows()
    assert rows.count() == n
    assert rows.where(F.col("score").isNull()).count() == n

    # a new batch carries real values; old rowgroups stay NULL
    batch2 = _with_score(t.limit(100)).withColumn(
        "conv_id", F.concat(F.lit("x"), F.col("conv_id")))
    store.add_range(batch2)
    store.close()
    rows = store.rows()
    assert rows.count() == n + 100
    assert rows.where(F.col("score").isNotNull()).count() == 100
    # projection keeps row multiplicity for pre-add rowgroups
    assert store.rows(columns=["score"]).count() == n + 100


def test_add_column_query_semantics(spark, base):
    store, t = base
    store.add_column("score", "bigint")
    batch2 = _with_score(t.limit(100)).withColumn(
        "conv_id", F.concat(F.lit("x"), F.col("conv_id")))
    store.add_range(batch2)
    store.close()

    expected_eq = batch2.where(F.col("score") == 10).count()
    assert expected_eq > 0
    got = store.query_by_value("score", 10)
    assert got.count() == expected_eq
    assert set(got.columns) == set(store.rows().columns)

    # IS NULL matches every pre-add row (the all-match case the
    # n_nulls prune alone would miss)
    assert store.query_by_null("score").count() == t.count()
    assert store.count_null("score").first()["cnt"] == t.count()

    # range + conjunction through the fallback
    lo_hi = store.query_by_range("score", 0, 25)
    assert lo_hi.count() == batch2.where(
        F.col("score").between(0, 25)).count()
    conj = store.query_where({"score": None, "role": "user"})
    assert conj.count() == t.where(F.col("role") == "user").count()

    # pending (unclosed) rows participate too
    batch3 = _with_score(t.limit(7)).withColumn(
        "conv_id", F.concat(F.lit("y"), F.col("conv_id")))
    store.add_range(batch3)
    pend = store.query_by_value("score", 10, include_pending=True)
    assert pend.count() == (batch2.where(F.col("score") == 10).count()
                            + batch3.where(F.col("score") == 10).count())


def test_unphysical_column_queries_are_empty(spark, base):
    store, t = base
    store.add_column("flag", "string")
    assert store.query_by_value("flag", "on").count() == 0
    assert store.query_by_prefix("flag", "o").count() == 0
    assert store.query_by_contains("flag", "n").count() == 0
    assert store.query_by_null("flag").count() == t.count()
    with pytest.raises(ValueError, match="unknown column"):
        store.query_by_value("nope", 1)


def test_encoded_analytics_guarded_until_rebuild(spark, base):
    store, t = base
    store.add_column("score", "bigint")
    for op in (lambda: store.group_count("score"),
               lambda: store.distinct("score"),
               lambda: store.count_distinct("score"),
               lambda: store.aggregate(),
               lambda: store.topk("score", 3),
               lambda: store.delete_where("score", 10),
               lambda: store.group_agg("role", "score")):
        with pytest.raises(ValueError, match="rebuild"):
            op()

    store.rebuild()
    # materialized: fast paths return, the column is physical (NULL)
    agg = {r["col_name"]: r for r in store.aggregate().collect()}
    assert agg["score"]["n_values"] == 0
    assert store.count_null("score").first()["cnt"] == t.count()
    d = store.distinct("score").collect()
    assert len(d) == 1 and d[0]["value"] is None


def test_drop_column_and_rebuild(spark, base):
    store, t = base
    store.drop_column("tool")
    names = [f.name for f in store.schema().fields]
    assert "tool" not in names
    assert "tool" not in store.rows().columns
    assert "tool" not in store.rows_window(0, 10).columns
    with pytest.raises(ValueError, match="unknown column"):
        store.query_by_value("tool", "search")
    # re-add before rebuild is refused (old segments would resurface)
    with pytest.raises(ValueError, match="physically present"):
        store.add_column("tool", "string")

    store.rebuild()
    assert "tool" not in store.solid_rows().columns
    # after rebuild the name is free again and starts NULL
    store.add_column("tool", "string")
    assert store.rows().where(F.col("tool").isNotNull()).count() == 0


def test_rebuild_materializes_added_column(spark, base):
    store, t = base
    store.add_column("score", "bigint")
    batch2 = _with_score(t.limit(50)).withColumn(
        "conv_id", F.concat(F.lit("x"), F.col("conv_id")))
    store.add_range(batch2)
    store.close()
    store.rebuild()

    # physically everywhere now: encoded fast paths answer directly
    got = store.query_by_value("score", 10)
    assert got.count() == batch2.where(F.col("score") == 10).count()
    assert store.count_null("score").first()["cnt"] == t.count()
    gc = {r["value"]: r["cnt"] for r in store.group_count("score").collect()}
    assert gc[None] == t.count()
    # values survived the rebuild bit-exact
    merged = store.rows().where(F.col("score").isNotNull())
    exp = batch2.select("conv_id", "turn_idx", "score")
    assert (merged.select("conv_id", "turn_idx", "score")
            .exceptAll(exp).isEmpty())
    assert exp.exceptAll(
        merged.select("conv_id", "turn_idx", "score")).isEmpty()


def test_time_travel_schema_isolation(spark, base):
    """A pinned generation replays only log entries recorded during or
    before its own lifetime: an add made AFTER the generation was
    superseded never appears in its snapshot reads."""
    store, t = base
    store.rebuild()          # gen 1
    gen_before = store._generation
    store.rebuild()          # gen 2 supersedes gen 1
    store.add_column("score", "bigint")   # recorded while gen 2 live

    pinned = TranscriptColumnStore(spark, store.root,
                                   generation=gen_before)
    assert "score" not in [f.name for f in pinned.schema().fields]
    assert "score" not in pinned.rows().columns
    live = TranscriptColumnStore(spark, store.root)
    assert "score" in live.rows().columns


def test_add_column_validation(spark, base):
    store, _t = base
    with pytest.raises(Exception):
        store.add_column("bad", "not_a_type")
    store.add_column("score", "bigint")
    with pytest.raises(ValueError, match="already"):
        store.add_column("score", "bigint")
    with pytest.raises(ValueError, match="not in the store schema"):
        store.drop_column("nope")


def test_schema_type_parsing(spark, base):
    store, t = base
    store.add_column("meta", "map<string,string>")
    f = store.schema()["meta"]
    assert isinstance(f.dataType, T.MapType)
    assert store.rows().schema["meta"].dataType == f.dataType


def test_fast_paths_respect_effective_schema(spark, base):
    """Review fixes: dropped columns never resurface from probe-query
    results, include_pending survives a pending drop, and requesting
    an evolved column by name routes through the sound fallback."""
    store, t = base
    store.add_column("score", "bigint")
    store.drop_column("tool")

    out = store.query_by_value("role", "user")
    assert "tool" not in out.columns and "score" in out.columns
    assert out.count() == t.where(F.col("role") == "user").count()

    # read-your-writes still works while the drop is pending
    store.add_range(t.limit(5).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))))
    pend = store.query_by_value("role", "user", include_pending=True)
    assert "tool" not in pend.columns

    # evolved column in the projection -> fallback, not a crash
    proj = store.query_by_value("role", "user", columns=["conv_id",
                                                         "score"])
    assert proj.columns == ["conv_id", "score"]
    assert proj.where(F.col("score").isNotNull()).count() == 0

    # dropped column in the projection -> unknown
    with pytest.raises(ValueError, match="unknown column"):
        store.query_by_value("role", "user", columns=["tool"])
    # top-k and the window paths also follow the effective schema
    assert "tool" not in store.topk("ts", 3).columns
    assert "score" in store.rows_window(0, 5).columns


def test_upsert_refuses_unmaterialized_column_values(spark, base):
    store, t = base
    store.add_column("score", "bigint")
    up = _with_score(t.limit(3))
    with pytest.raises(ValueError, match="not materialized"):
        store.upsert(up)
    store.rebuild()
    res = store.upsert(up)   # materialized now: merge carries score
    assert res["rows_written"] >= 3
    got = store.rows().where(F.col("score").isNotNull())
    assert got.count() == 3


def test_rebuild_compacts_the_log(spark, base):
    """After rebuild() materializes the evolution, the pending log is
    empty — every hot-path evolution branch short-circuits again —
    while pinned generations still replay their own entries."""
    store, t = base
    store.add_column("score", "bigint")
    store.drop_column("tool")
    assert len(store._schema_log()) == 2
    gen_before = store._generation
    store.rebuild()
    assert store._schema_log() == []          # live: baked in
    names = [f.name for f in store.schema().fields]
    assert "score" in names and "tool" not in names

    pinned = TranscriptColumnStore(spark, store.root,
                                   generation=gen_before)
    assert len(pinned._schema_log()) == 2     # snapshot still replays
    pnames = [f.name for f in pinned.schema().fields]
    assert "score" in pnames and "tool" not in pnames


def test_stats_follows_effective_schema(spark, base):
    """Review fix: stats() is evolution-aware — dropped columns never
    resurface, a zero-coverage add reports an all-null row with
    n_nulls == n_rows == store total, and a partially-covered add
    reports store-total rows with the uncovered shortfall as nulls
    (agreeing with null_count)."""
    store, t = base
    n = t.count()
    store.drop_column("tool")
    store.add_column("score", "bigint")

    st = {r["column"]: r for r in store.stats().collect()}
    assert "tool" not in st
    assert st["score"]["n_rows"] == n
    assert st["score"]["n_nulls"] == n          # zero physical coverage
    assert st["score"]["min_num"] is None

    # land some covered rows: 5 new rows carry score values
    extra = _with_score(t.limit(5)).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id")))
    store.add_range(extra.drop("tool"))
    store.close()
    st = {r["column"]: r for r in store.stats().collect()}
    assert st["score"]["n_rows"] == n + 5
    nc = store.count_null("score").first()["cnt"]
    assert st["score"]["n_nulls"] == nc == n    # old rows null, 5 covered
    assert "tool" not in st


def test_query_by_in_empty_probes_under_evolution(spark, base):
    """Review fix: the empty-probe early return is evolution-aware —
    effective schema on the result, unknown/dropped names raise."""
    store, t = base
    store.add_column("score", "bigint")
    store.drop_column("tool")

    out = store.query_by_in("conv_id", [])
    assert "tool" not in out.columns and "score" in out.columns
    assert out.count() == 0

    proj = store.query_by_in("conv_id", [], columns=["conv_id", "score"])
    assert proj.columns == ["conv_id", "score"] and proj.count() == 0

    with pytest.raises(ValueError, match="unknown column"):
        store.query_by_in("tool", [])
    # null-only probe list dedups to empty -> same contract
    out2 = store.query_by_in("conv_id", [None])
    assert "tool" not in out2.columns and out2.count() == 0


def test_metadata_memo_invalidates_across_mutations(spark, tmp_path):
    """The driver-side (schema, coverage) memo must never serve stale
    answers across add_range/close/add_column/rebuild."""
    store = TranscriptColumnStore(spark, str(tmp_path / "memo"),
                                  num_rowgroups=4)
    t = load_transcripts(spark, SF_DIR)
    assert store.schema().fields == []          # memoized empty
    store.add_range(t)
    assert [f.name for f in store.schema().fields] != []  # invalidated
    store.close()
    store.add_column("score", "bigint")
    assert "score" in [f.name for f in store.schema().fields]
    assert store._needs_fallback(store._manifest_or_raise(), "score")
    store.rebuild()
    assert not store._schema_log()              # log compacted
    assert "score" in [f.name for f in store.schema().fields]


def test_rows_window_covers_rowgroups_missing_first_column(spark, base):
    """Review fix: global paging routes through per-rowgroup MAX
    column counts, not schema.fields[0] — a rowgroup that physically
    lacks the first column (post-drop ingest) must still appear in
    rows_window pages, and the pages must tile rows() exactly."""
    store, t = base
    n = t.count()
    store.drop_column("conv_id")
    extra = (t.drop("conv_id").limit(7)
             .withColumn("turn_idx", F.col("turn_idx") + 1000))
    store.add_range(extra)
    store.close()

    total = store.rows().count()
    assert total == n + 7
    # tile the whole store in pages; every row exactly once
    pages = []
    step = 300
    for off in range(0, total + step, step):
        pages.append(store.rows_window(off, step))
    seen = pages[0]
    for p in pages[1:]:
        seen = seen.unionByName(p)
    assert seen.count() == total
    assert "conv_id" not in seen.columns
    # the post-drop rows are reachable through some page
    assert seen.where(F.col("turn_idx") >= 1000).count() == 7


def test_readd_guard_sees_pending_delta_batches(spark, base):
    """Review fix: re-adding a dropped name whose values still sit in
    an un-folded delta batch must raise (close() would fold the old
    values in under the re-added name)."""
    store, t = base
    store.add_column("score", "bigint")
    store.add_range(_with_score(t.limit(5)))     # pending, carries score
    store.drop_column("score")
    with pytest.raises(ValueError, match="pending delta"):
        store.add_column("score", "string")
    # folding + rebuild clears the hazard path the guard points at
    store.close()
    with pytest.raises(ValueError, match="physically present"):
        store.add_column("score", "string")
    store.rebuild()
    store.add_column("score", "string")          # now legal
    assert store.rows().where(F.col("score").isNotNull()).count() == 0


def test_upsert_refuses_dropped_but_physical_column(spark, base):
    """Review fix: an incoming upsert frame carrying a dropped (still
    physical) column must raise instead of writing unreachable
    values."""
    store, t = base
    store.drop_column("tool")
    bad = t.limit(3)                              # still carries tool
    with pytest.raises(ValueError, match="dropped column"):
        store.upsert(bad, key="conv_id")
    ok = bad.drop("tool")
    res = store.upsert(ok, key="conv_id")
    assert res["rows_written"] == 3


def test_fallback_query_projection_correct(spark, base):
    """The evolution slow path honors the caller projection (and
    still returns exactly the matching rows)."""
    store, t = base
    store.add_column("score", "bigint")
    store.add_range(_with_score(t.limit(5)).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))))
    store.close()
    out = store.query_by_value("score", 0, columns=["conv_id"])
    assert out.columns == ["conv_id"]
    exp = (store.rows().where(F.col("score") == 0)
           .select("conv_id"))
    assert (sorted(r[0] for r in out.collect())
            == sorted(r[0] for r in exp.collect()))


def test_multi_predicate_fallbacks_under_evolution(spark, base):
    """Review fix: query_where / query_any / prefix / contains route
    through the evolution fallback with their probe columns carried,
    so projections that exclude the probe column(s) still work."""
    store, t = base
    store.add_column("score", "bigint")
    store.add_range(_with_score(t.limit(5)).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))))
    store.close()
    full = store.rows()

    out = store.query_where({"score": 0, "role": "user"},
                            columns=["conv_id"])
    exp = (full.where((F.col("score") == 0) & (F.col("role") == "user"))
           .select("conv_id"))
    assert out.columns == ["conv_id"]
    assert sorted(r[0] for r in out.collect()) == \
        sorted(r[0] for r in exp.collect())

    out = store.query_any({"score": 0, "role": "user"},
                          columns=["conv_id"])
    exp = (full.where((F.col("score") == 0) | (F.col("role") == "user"))
           .select("conv_id"))
    assert sorted(r[0] for r in out.collect()) == \
        sorted(r[0] for r in exp.collect())

    # string-column fallbacks: force partial coverage of a NEW string
    # column, then probe it with a projection that excludes it
    store.add_column("tag", "string")
    extra = (t.limit(3)
             .withColumn("conv_id", F.concat(F.lit("y"), F.col("conv_id")))
             .withColumn("score", F.lit(None).cast("long"))
             .withColumn("tag", F.lit("alpha")))
    store.add_range(extra)
    store.close()
    out = store.query_by_prefix("tag", "al", columns=["conv_id"])
    assert out.count() == 3 and out.columns == ["conv_id"]
    out = store.query_by_contains("tag", "lph", columns=["conv_id"])
    assert out.count() == 3


def test_empty_in_branches_follow_effective_schema(spark, base):
    """Review fix: the IN-() early exits of query_where/query_any
    return the EFFECTIVE schema while evolution is pending."""
    store, t = base
    store.drop_column("tool")
    store.add_column("score", "bigint")

    out = store.query_where({"conv_id": []})
    assert "tool" not in out.columns and "score" in out.columns
    assert out.count() == 0

    out = store.query_any({"conv_id": []})
    assert "tool" not in out.columns and "score" in out.columns
    assert out.count() == 0


def test_empty_in_reads_nothing_under_evolution(spark, base, monkeypatch):
    """An empty IN-list answer is built from the effective schema: no
    segment is read, and the schema is the one an empty decode of the
    whole store gives."""
    import importlib

    store, t = base
    store.add_column("score", "bigint")
    store.drop_column("tool")
    want = store.solid_rows().where(F.lit(False)).schema
    decode_mod = importlib.import_module("columnstore_spark.operators.decode")
    reads = []
    real = decode_mod.read_task
    monkeypatch.setattr(decode_mod, "read_task",
                        lambda *a: (reads.append(a), real(*a))[1])
    out = store.query_by_in("conv_id", [])
    proj = store.query_by_in("conv_id", [], columns=["score", "conv_id"])
    with pytest.raises(ValueError, match="unknown column"):
        store.query_by_in("conv_id", [], columns=["tool"])
    assert reads == []
    assert out.schema == want and out.count() == 0
    assert proj.schema == T.StructType([want["score"], want["conv_id"]])
    # the store's own (small) reads run in the driver, through the
    # patched read_task
    assert store.query_by_in("conv_id", [t.first()["conv_id"]]).count()
    assert reads
