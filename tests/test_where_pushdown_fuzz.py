"""Seeded randomized differential for the facade's filtered
topk/quantile pushdown (round 4): random frames mixing string, int,
timestamp, and float columns with nulls and skew; random equality
filters including the historically hazardous probe shapes (tz-aware
datetimes, float probes on int columns, string probes on ints, absent
values). Every (filter, probe-column) draw must match the plain
DataFrame filter+sort / filter+order-statistic result — whichever
path (encoded kernel or decode fallback) the facade routes it down.
"""

import datetime as dt
import math
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def wstore(spark):
    rng = random.Random(424242)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(3000):
        cat = rng.choice(["a", "a", "b", "c", None])
        v = None if rng.random() < 0.06 else rng.randrange(0, 40)
        ts = (None if rng.random() < 0.04
              else base + dt.timedelta(minutes=rng.randrange(0, 10000)))
        x = None if rng.random() < 0.05 else round(rng.uniform(0, 5), 2)
        rows.append((i, cat, v, ts, x))
    df = spark.createDataFrame(
        rows, "id: long, cat: string, v: int, ts: timestamp, x: double")
    root = tempfile.mkdtemp(prefix="cs_wfuzz_")
    from columnstore_spark.store import TranscriptColumnStore
    store = TranscriptColumnStore(spark, root, num_rowgroups=8,
                                  rows_per_segment=1_000_000)
    store.add_range(df)
    store.close()
    yield store, df
    shutil.rmtree(root, ignore_errors=True)


def _probes():
    base = dt.datetime(2024, 3, 1)
    utc = dt.timezone.utc
    return [
        ("cat", "a"), ("cat", "zz-absent"),
        ("v", 7), ("v", 7.0), ("v", "7"), ("v", 999),
        ("v", 6.5),                                  # non-integral float
        ("ts", base + dt.timedelta(minutes=60)),     # naive present-ish
        ("ts", (base + dt.timedelta(minutes=60)).replace(tzinfo=utc)),
        ("x", 1.25), ("x", float("nan")),
    ]


@pytest.mark.parametrize("wcol,wval", _probes())
def test_topk_where_fuzz(spark, wstore, wcol, wval):
    store, df = wstore
    got = store.topk("id", 12, columns=["id", "v"],
                     tie_cols=(), where=(wcol, wval)).collect()
    exp = (df.where(F.col(wcol) == F.lit(wval))
           .where(F.col("id").isNotNull())
           .orderBy(F.col("id").desc())
           .limit(12).select("id", "v").collect())
    assert got == exp, (wcol, wval)


@pytest.mark.parametrize("wcol", ["cat", "v", "ts", "x"])
def test_where_none_means_is_null(spark, wstore, wcol):
    """Facade convention (as in query_where): a None filter value
    means IS NULL — served by the n_nulls prune + validity-bitmap
    probe, never a silently-empty `== NULL` comparison."""
    store, df = wstore
    got = store.topk("id", 9, columns=["id"], where=(wcol, None)).collect()
    exp = (df.where(F.col(wcol).isNull())
           .orderBy(F.col("id").desc()).limit(9).select("id").collect())
    assert got == exp and len(got) == 9
    gq = {r["q"]: r["value"]
          for r in store.quantile("v", [0.0, 1.0],
                                  where=(wcol, None)).collect()}
    vals = sorted(r["v"] for r in df
                  .where(F.col(wcol).isNull() & F.col("v").isNotNull())
                  .select("v").collect())
    # filtering v IS NULL leaves no non-null v values by construction
    assert gq == ({0.0: vals[0], 1.0: vals[-1]} if vals else {})


@pytest.mark.parametrize("wcol,wval", _probes())
def test_quantile_where_fuzz(spark, wstore, wcol, wval):
    store, df = wstore
    qs = [0.0, 0.5, 1.0]
    got = {r["q"]: r["value"]
           for r in store.quantile("v", qs, where=(wcol, wval))
           .collect()}
    vals = sorted(r["v"] for r in df
                  .where(F.col(wcol) == F.lit(wval))
                  .where(F.col("v").isNotNull()).select("v").collect())
    if not vals:
        assert got == {}, (wcol, wval)
        return
    for q in qs:
        k = max(math.ceil(q * len(vals)), 1)
        assert got[q] == vals[k - 1], (wcol, wval, q)


# -- round 5: conjunctive predicate dicts -------------------------------------

def _spark_cond(preds):
    """The plain-DataFrame meaning of a query_where-shaped predicate
    dict — the semantics the pushdown must reproduce exactly."""
    cond = F.lit(True)
    for col, probe in preds.items():
        c = F.col(col)
        if probe is None:
            one = c.isNull()
        elif isinstance(probe, tuple):
            one = c.between(F.lit(probe[0]), F.lit(probe[1]))
        elif isinstance(probe, (list, set)):
            vals = [v for v in probe if v is not None]
            one = c.isin(vals) if vals else F.lit(False)
        else:
            one = c == F.lit(probe)
        cond = cond & one
    return cond


def _pred_dicts():
    base = dt.datetime(2024, 3, 1)
    utc = dt.timezone.utc
    return [
        {"cat": "a", "v": (5, 20)},                      # eq + range
        {"v": (5, 20)},                                  # range alone
        {"ts": (base, base + dt.timedelta(minutes=4000)),
         "cat": "b"},                                    # ts range + eq
        {"cat": ["a", "c"], "v": (0, 30)},               # IN + range
        {"cat": None, "v": (0, 35)},                     # IS NULL + range
        {"v": []},                                       # empty IN
        {"cat": "a", "v": 7.0},                          # coercing float eq
        {"cat": "a", "v": "7"},                          # kernel-unsafe eq
        {"v": (5, 20), "x": (0.5, 3.5)},                 # two ranges
        {"cat": ["a", "b", None], "x": (0.0, 4.0)},      # null IN member
        {"ts": ((base + dt.timedelta(minutes=10)).replace(tzinfo=utc),
                (base + dt.timedelta(minutes=5000)).replace(tzinfo=utc)),
         "v": [3, 7, 11, 19]},                           # tz range + IN
        {"cat": "a", "v": (5, 20), "x": (0.1, 4.9),
         "ts": (base, base + dt.timedelta(minutes=9000))},  # 4-way AND
        {"v": ("1", "9")},                   # range bounds of wrong type
    ]


@pytest.mark.parametrize("preds", _pred_dicts())
def test_topk_where_dict_fuzz(spark, wstore, preds):
    store, df = wstore
    got = store.topk("id", 10, columns=["id", "v"],
                     where=preds).collect()
    exp = (df.where(_spark_cond(preds))
           .where(F.col("id").isNotNull())
           .orderBy(F.col("id").desc())
           .limit(10).select("id", "v").collect())
    assert got == exp, preds


@pytest.mark.parametrize("preds", _pred_dicts())
def test_quantile_where_dict_fuzz(spark, wstore, preds):
    store, df = wstore
    qs = [0.0, 0.5, 1.0]
    got = {r["q"]: r["value"]
           for r in store.quantile("v", qs, where=preds).collect()}
    vals = sorted(r["v"] for r in df
                  .where(_spark_cond(preds))
                  .where(F.col("v").isNotNull()).select("v").collect())
    if not vals:
        assert got == {}, preds
        return
    for q in qs:
        k = max(math.ceil(q * len(vals)), 1)
        assert got[q] == vals[k - 1], (preds, q)


def test_operator_quantiles_unsafe_probe_direct(spark, wstore):
    """Round-4 ADVICE #2: a DIRECT operator call (not via the facade)
    with a coercion-dependent probe must match Spark semantics — the
    kernel-safety gate now lives in the operator itself, so the
    string-on-int probe routes to decode-then-filter instead of the
    under-matching exact-typed gather."""
    from columnstore_spark.operators.aggregate import quantiles

    store, df = wstore
    segs = store.warehouse.committed_segments(spark)
    got = {r["q"]: r["value"]
           for r in quantiles(segs, "id", [0.0, 1.0],
                              where=("v", "7")).collect()}
    vals = sorted(r["id"] for r in df
                  .where(F.col("v") == F.lit("7"))
                  .where(F.col("id").isNotNull()).select("id").collect())
    assert vals, "fixture must hold v=7 rows"
    assert got == {0.0: vals[0], 1.0: vals[-1]}


def test_operator_where_unknown_column_raises(spark, wstore):
    """A direct operator call whose where-column the store doesn't hold
    fails on the driver with a ValueError naming it, not with an
    opaque Spark analysis error after typed pruning was skipped."""
    from columnstore_spark.operators.aggregate import quantiles
    from columnstore_spark.operators.topk import topk

    store, _df = wstore
    segs = store.warehouse.committed_segments(spark)
    with pytest.raises(ValueError, match="unknown column 'nope'"):
        topk(segs, "id", 3, where={"nope": 1})
    with pytest.raises(ValueError, match="unknown column 'nope'"):
        quantiles(segs, "v", [0.5], where=("nope", 1))
