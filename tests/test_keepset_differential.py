"""Differential: the driver-side keep-set evaluator
(`plans/pruning.keep_ids` over the manifest snapshot, what every facade
probe plans with) against the Spark Column-expression pruner (the
`prune_rowgroups_by_*` semi-joins over the committed segments frame).

For every store and probe below the two must keep exactly the same
rowgroups — typed and generic (unknown logical type) paths alike, and
"cannot prune" on one side means "keeps every rowgroup" on the other.
The stores reproduce the shapes of test_pruning_typed (int / timestamp
/ decimal / float-with-NaN bounds), test_where_pushdown_fuzz (nulls,
skew, coercing probes), test_bloom and test_query_in_null (conv_id
Bloom filters, IN lists, IS NULL), plus non-ASCII and truncated
(64-char cap) string reprs and columns with no Bloom filter.
"""

import datetime as dt
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnstore_spark.operators.decode import decode_with_rowgroup
from columnstore_spark.plans.predicates import _norm_one_pred
from columnstore_spark.plans.pruning import (
    _IN_PRUNE_CAP,
    keep_ids,
    keep_ids_any,
    prune_rowgroups_any,
    prune_rowgroups_by_null,
    prune_rowgroups_by_range,
    prune_rowgroups_by_value,
    prune_rowgroups_by_values,
)
from columnstore_spark.store import TranscriptColumnStore

BASE = dt.datetime(2026, 1, 1)
UTC = dt.timezone.utc


def _store(spark, tmp_path_factory, name, df, **kw):
    s = TranscriptColumnStore(spark, str(tmp_path_factory.mktemp(name)),
                              **kw)
    s.add_range(df)
    s.close()
    return s


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory, transcripts):
    out = {}
    # test_pruning_typed: one conversation, disjoint 100-turn blocks
    rows = [("conv0", j, "user" if j % 3 else "tool", f"text {j}",
             None if j % 2 else "search",
             BASE + dt.timedelta(minutes=j)) for j in range(410)]
    out["typed"] = _store(spark, tmp_path_factory, "typed",
                          spark.createDataFrame(
                              rows, "conv_id string, turn_idx int, "
                              "role string, text string, tool string, "
                              "ts timestamp"),
                          num_rowgroups=1, rows_per_segment=100)
    dec = [(f"c{i}", i, Decimal("1.23") if i % 2 else Decimal("50.00"))
           for i in range(200)]
    out["dec"] = _store(spark, tmp_path_factory, "dec",
                        spark.createDataFrame(
                            dec, T.StructType([
                                T.StructField("conv_id", T.StringType()),
                                T.StructField("turn_idx", T.IntegerType()),
                                T.StructField("amount",
                                              T.DecimalType(10, 2))])),
                        num_rowgroups=2, rows_per_segment=50)
    flt = [("c0", i, float(i) / 4.0 if i != 160 else float("nan"))
           for i in range(200)]
    out["flt"] = _store(spark, tmp_path_factory, "flt",
                        spark.createDataFrame(
                            flt, "conv_id string, turn_idx int, "
                                 "score double"),
                        num_rowgroups=1, rows_per_segment=50)
    # test_where_pushdown_fuzz: nulls and skew, 8 hashed rowgroups
    rng = random.Random(424242)
    fz = []
    for i in range(3000):
        fz.append((i, rng.choice(["a", "a", "b", "c", None]),
                   None if rng.random() < 0.06 else rng.randrange(0, 40),
                   None if rng.random() < 0.04
                   else BASE + dt.timedelta(minutes=rng.randrange(10000)),
                   None if rng.random() < 0.05
                   else round(rng.uniform(0, 5), 2)))
    out["fuzz"] = _store(spark, tmp_path_factory, "fuzz",
                         spark.createDataFrame(
                             fz, "id long, cat string, v int, "
                                 "ts timestamp, x double"),
                         num_rowgroups=8)
    # strings: non-ASCII bounds, reprs truncated at the 64-char cap;
    # no Bloom filter on any column
    st = [(f"k{i:03d}", i,
           ["plain", "é-accent", "日本語", "a" * 80 + f"{i:03d}",
            "zz" * 40][i // 40])
          for i in range(200)]
    out["str"] = _store(spark, tmp_path_factory, "str",
                        spark.createDataFrame(
                            st, "conv_id string, turn_idx int, s string"),
                        num_rowgroups=1, rows_per_segment=40,
                        bloom_columns=())
    # test_bloom / test_query_in_null: conv_id Bloom filters
    out["bloom"] = _store(spark, tmp_path_factory, "bloom", transcripts,
                          num_rowgroups=8)
    return out


def _probes(store):
    """(column, probe) pairs per store, in the facade's probe shapes."""
    ts = BASE + dt.timedelta(minutes=60)
    return {
        "typed": [
            ("turn_idx", 7), ("turn_idx", 7.0), ("turn_idx", 7.5),
            ("turn_idx", "7"), ("turn_idx", 10 ** 20), ("turn_idx", -5),
            ("turn_idx", (5, 150)), ("turn_idx", (150, 5)),
            ("turn_idx", ("1", "9")), ("turn_idx", (7.5, 120.2)),
            ("turn_idx", [7, 250, 999]), ("turn_idx", []),
            ("turn_idx", list(range(_IN_PRUNE_CAP + 1))),
            ("turn_idx", None), ("tool", None), ("tool", "search"),
            ("ts", ts), ("ts", ts.replace(tzinfo=UTC)),
            ("ts", (ts, ts + dt.timedelta(minutes=150))),
            ("ts", dt.date(2026, 1, 1)),
            ("role", "tool"), ("role", "zzz"), ("role", ("a", "u")),
            ("conv_id", "conv0"), ("conv_id", "absent"),
        ],
        "dec": [
            ("amount", Decimal("1.23")), ("amount", Decimal("0.005")),
            ("amount", Decimal("1e30")), ("amount", 1.23),
            ("amount", 50), ("amount", (Decimal("1.00"), Decimal("2.00"))),
            ("amount", [Decimal("1.23"), Decimal("7.77")]),
        ],
        "flt": [
            ("score", 2.5), ("score", 3), ("score", float("nan")),
            ("score", (10.0, 13.0)), ("score", (float("-inf"), 0.0)),
            ("score", [2.5, 40.0]), ("score", None),
        ],
        "fuzz": [
            ("cat", "a"), ("cat", "zz-absent"), ("cat", None),
            ("cat", ["a", "c", None]), ("v", 7), ("v", 7.0), ("v", "7"),
            ("v", 999), ("v", 6.5), ("v", (5, 20)), ("v", ("1", "9")),
            ("v", [3, 7, 11, 19]), ("v", None),
            ("ts", ts.replace(tzinfo=UTC)),
            ("ts", (BASE, BASE + dt.timedelta(minutes=4000))),
            ("x", 1.25), ("x", float("nan")), ("x", (0.5, 3.5)),
        ],
        "str": [
            ("s", "plain"), ("s", "é-accent"), ("s", "日本語"),
            ("s", "a" * 80 + "045"), ("s", "a" * 64), ("s", ("a", "b")),
            ("s", ("zz", "zzz")), ("s", ["plain", "mid"]),
            ("conv_id", "k007"),
        ],
        "bloom": [
            ("conv_id", "c000000000001"),
            ("conv_id", "no_such_conversation_zzz"),
            ("conv_id", ("c0", "c1")),
            ("conv_id", ["c000000000001", "c000000000002", "nope"]),
            ("tool", None), ("turn_idx", 3), ("role", "assistant"),
        ],
    }[store]


def _spark_keep(segs, col, kind, payload, lt):
    """The Spark semi-join oracle's kept rowgroup ids."""
    if kind == "eq":
        pruned = prune_rowgroups_by_value(segs, col, payload,
                                          logical_type=lt)
    elif kind == "range":
        pruned = prune_rowgroups_by_range(segs, col, *payload,
                                          logical_type=lt)
    elif kind == "in":
        pruned = prune_rowgroups_by_values(segs, col, payload,
                                           logical_type=lt)
    else:
        pruned = prune_rowgroups_by_null(segs, col)
    return {r["rowgroup_id"] for r in
            pruned.select("rowgroup_id").distinct().collect()}


@pytest.mark.parametrize("name", ["typed", "dec", "flt", "fuzz", "str",
                                  "bloom"])
def test_arrow_keepsets_equal_spark_semijoin(spark, stores, name):
    store = stores[name]
    snap = store.warehouse.snapshot(spark)
    segs = store.warehouse.committed_segments(spark).drop("payload")
    all_ids = set(snap.rowgroup_rows)
    assert len(all_ids) > 1, "fixture must span several rowgroups"
    for col, probe in _probes(name):
        lt = snap.logical_types[col]
        _c, kind, payload, _lt = _norm_one_pred(col, probe, lt)
        for logical in (lt, None):
            arrow = keep_ids(snap.rows, col, kind, payload, logical)
            arrow = all_ids if arrow is None else set(arrow)
            want = _spark_keep(segs, col, kind, payload, logical)
            assert arrow == want, (name, col, probe, logical)


def test_any_keepsets_equal_spark_semijoin(spark, stores):
    store = stores["fuzz"]
    snap = store.warehouse.snapshot(spark)
    segs = store.warehouse.committed_segments(spark).drop("payload")
    all_ids = set(snap.rowgroup_rows)
    lts = snap.logical_types
    for branches in ([("cat", "zz-absent"), ("v", (100, 200))],
                     [("v", 7), ("cat", None)],
                     [("x", (0.5, 0.6)), ("v", [3, 999])],
                     [("v", "7"), ("cat", "a")],          # unprunable
                     [("v", 999), ("v", 998)]):
        norm = [_norm_one_pred(c, p, lts[c]) for c, p in branches]
        arrow = keep_ids_any(snap.rows, norm)
        arrow = all_ids if arrow is None else set(arrow)
        want = {r["rowgroup_id"] for r in prune_rowgroups_any(segs, norm)
                .select("rowgroup_id").distinct().collect()}
        assert arrow == want, branches


def test_mistyped_range_is_a_conservative_superset(spark, stores):
    """Range bounds of the wrong type (('1', '9') on an int column)
    cannot prune in either evaluator — both keep every rowgroup that
    holds a row Spark's coercing BETWEEN matches — and the facade
    still answers exactly."""
    store = stores["fuzz"]
    snap = store.warehouse.snapshot(spark)
    segs = store.warehouse.committed_segments(spark)
    cond = F.col("v").between(F.lit("1"), F.lit("9"))
    holders = {r["__rg"] for r in decode_with_rowgroup(segs)
               .where(cond).select("__rg").distinct().collect()}
    assert holders
    arrow = keep_ids(snap.rows, "v", "range", ("1", "9"), "int32")
    arrow = set(snap.rowgroup_rows) if arrow is None else set(arrow)
    spark_ids = _spark_keep(segs.drop("payload"), "v", "range",
                            ("1", "9"), "int32")
    assert holders <= arrow and holders <= spark_ids
    got = sorted(r["id"] for r in
                 store.query_by_range("v", "1", "9").collect())
    exp = sorted(r["id"] for r in store.rows().where(cond).collect())
    assert got == exp and got
