"""Round-3 review regressions.

Each test pins a hazard found by the round-3 code review:
- float probes at/above 2^53 on integer columns must follow Spark's
  cast-the-column-to-double semantics through BOTH the manifest
  pruning and the encoded-form kernels (the int domain under-matches
  there: double(2^53+1) == 2^53+0.0);
- the group_agg decode fallback must aggregate timestamp/date/bool
  columns in the operator path's stored domain instead of crashing in
  F.sum();
- stats() must report UNKNOWN (null) bounds when any non-empty
  segment lacks them (NaN floats), never a bound that excludes rows;
- ALP's trial-analysis cache must never apply one array's analysis to
  a different array (identity, not id()-fingerprint matching);
- semi-join bounds pruning must refuse the int domain for
  non-integral key columns and must cover second/milli timestamps.
"""

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnstore_spark.store import TranscriptColumnStore

P53 = 2 ** 53


@pytest.fixture(scope="module")
def big_int_store(spark, tmp_path_factory):
    rows = [("c1", 0, P53 + 1), ("c2", 1, P53), ("c3", 2, 7),
            ("c4", 3, 2 ** 54 - 1), ("c5", 4, -(P53 + 1))]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("v", T.LongType()),
    ])
    df = spark.createDataFrame(rows, schema)
    s = TranscriptColumnStore(
        spark, str(tmp_path_factory.mktemp("big") / "store"),
        num_rowgroups=3)
    s.add_range(df)
    s.close()
    return s, df


def _same_rows(a, b):
    return (sorted(str(tuple(r)) for r in a.collect())
            == sorted(str(tuple(r)) for r in b.collect()))


def test_float_2e53_eq_probe_on_int_column(big_int_store):
    """double(2^53 + 1) == 2^53 + 0.0 — Spark matches BOTH stored ints;
    int-domain pruning/kernels used to drop the +1 row."""
    s, df = big_int_store
    probe = float(P53)
    got = s.query_by_value("v", probe)
    want = df.where(F.col("v") == F.lit(probe))
    assert want.count() == 2  # the premise: Spark matches both
    assert _same_rows(got, want)


def test_float_range_bound_rounds_up_on_int_column(big_int_store):
    """float(2^54 - 1) rounds UP to 2^54; Spark's double-domain
    between() still matches the stored 2^54-1."""
    s, df = big_int_store
    lo = float(2 ** 54 - 1)  # == 2.0**54 exactly
    hi = float(2 ** 55)
    got = s.query_by_range("v", lo, hi)
    want = df.where(F.col("v").between(F.lit(lo), F.lit(hi)))
    assert want.count() == 1  # stored 2^54-1 matches in double domain
    assert _same_rows(got, want)


def test_float_in_probe_on_int_column(big_int_store):
    s, df = big_int_store
    probes = [float(P53), 7.0]
    got = s.query_by_in("v", probes)
    want = df.where(F.col("v").isin(probes))
    assert want.count() == 3
    assert _same_rows(got, want)


def test_small_float_probes_still_ride_kernels(big_int_store):
    """Below 2^53 the bijection holds — integral float probes stay on
    the exact-typed kernel path and agree with Spark."""
    s, df = big_int_store
    got = s.query_by_value("v", 7.0)
    want = df.where(F.col("v") == F.lit(7.0))
    assert _same_rows(got, want)
    assert s.query_by_value("v", 7.5).count() == 0


def test_group_agg_fallback_timestamp_agg(spark, tmp_path):
    """String probe on an int column forces the decode fallback; a
    timestamp agg column must aggregate in epoch-us (the operator
    domain), not crash in F.sum(timestamp)."""
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [(f"c{i % 2}", i, t0 + dt.timedelta(seconds=i))
            for i in range(10)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
    ])
    s = TranscriptColumnStore(spark, str(tmp_path / "store"),
                              num_rowgroups=2)
    s.add_range(spark.createDataFrame(rows, schema))
    s.close()
    fallback = {tuple(r) for r in
                s.group_agg("conv_id", "ts", where=("turn_idx", "7"))
                .select("value", "cnt", "n_agg", "sum_agg").collect()}
    kernel = {tuple(r) for r in
              s.group_agg("conv_id", "ts", where=("turn_idx", 7))
              .select("value", "cnt", "n_agg", "sum_agg").collect()}
    # temporal sum_agg is NULL by contract on BOTH paths (SQL has no
    # timestamp SUM; epoch sums overflow int64) — min/max carry the
    # temporal answer
    assert fallback == kernel == {("c1", 1, 1, None)}


def test_stats_poisons_mixed_float_bounds(spark, tmp_path):
    """One NaN-bearing segment (null bounds) must null the whole
    min_flt/max_flt rollup — F.min alone would report a bound that
    EXCLUDES the NaN segment's values."""
    rows = [(f"c{i:03d}", i, float("nan") if i == 0 else float(i))
            for i in range(40)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
    ])
    s = TranscriptColumnStore(spark, str(tmp_path / "store"),
                              num_rowgroups=4)
    s.add_range(spark.createDataFrame(rows, schema))
    s.close()
    st = {r["column"]: r for r in s.stats().collect()}
    # the premise: more than one non-empty rowgroup, NaN in exactly one
    assert st["score"]["n_rows"] == 40
    assert st["score"]["min_flt"] is None
    assert st["score"]["max_flt"] is None
    # int bounds unaffected (every segment carries them)
    assert st["turn_idx"]["min_num"] == 0
    assert st["turn_idx"]["max_num"] == 39


def test_alp_cache_is_identity_keyed():
    """estimate_size(a) then encode(b) must analyze b, even when a and
    b share size and leading bytes (the id()-fingerprint hazard)."""
    from columnstore_spark.codecs import alp

    a = np.array([1.25, 2.25, 3.25, 4.25, 100.0, 200.0], dtype=np.float64)
    b = np.array([1.25, 2.25, 3.25, 4.25, 999.5, -31.75], dtype=np.float64)
    assert alp.estimate_size(a, "float64") is not None
    out = alp.decode(memoryview(alp.encode(b, "float64")), b.size,
                     "float64")
    assert np.array_equal(out, b)


def test_semijoin_refuses_float_keys_on_int_column(spark, tmp_path):
    """keep_ids_for_keys must not prune an int column with a DOUBLE key
    frame: above 2^53 the cast('long') bounds test would drop rowgroups
    Spark's coerced join matches."""
    from columnstore_spark.operators.semijoin import keep_ids_for_keys

    s = TranscriptColumnStore(spark, str(tmp_path / "store"),
                              num_rowgroups=2)
    rows = [(f"c{i}", i) for i in range(20)]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])
    s.add_range(spark.createDataFrame(rows, schema))
    s.close()
    m = s.warehouse.manifest(spark)
    float_keys = spark.createDataFrame([(7.0,)], "k double")
    assert keep_ids_for_keys(m, "turn_idx", float_keys, "int32") is None
    int_keys = spark.createDataFrame([(7,)], "k bigint")
    kept = keep_ids_for_keys(m, "turn_idx", int_keys, "int32")
    assert kept is not None and kept.count() >= 1


def test_semijoin_key_expr_covers_all_timestamp_units():
    from columnstore_spark.operators.semijoin import _key_stored_expr

    for lt in ("timestamp_s", "timestamp_ms", "timestamp_us",
               "timestamp_ns"):
        assert _key_stored_expr(lt, F.col("k")) is not None


def test_widened_bounds_cover_double_collapse():
    """Kernel range bounds at >=2^53 widen past the adjacent double so
    ints that ROUND onto the bound stay in the superset."""
    from columnstore_spark.codecs.query import _widened_bounds

    lo = float(2 ** 54 - 1)  # == 2.0**54
    got = _widened_bounds("i", lo, float(2 ** 55), "int64")
    assert got is not None
    lo_w, hi_w = got
    assert lo_w <= 2 ** 54 - 1  # the int Spark matches stays inside
    assert hi_w >= 2 ** 55
    # below the bijection bound the widening stays tight
    tight = _widened_bounds("i", 7.2, 9.8, "int64")
    assert tight == (7, 10) or tight == (math.floor(7.2), math.ceil(9.8))


def test_encode_files_resumable_builds_blooms(spark, transcripts,
                                              tmp_path):
    """The direct-scan resumable ingest must plumb bloom_columns
    through — stores built by it lost their point-lookup blooms."""
    import glob
    import os

    from columnstore_spark.operators.encode import default_rowgroup_expr
    from columnstore_spark.sources.warehouse import Warehouse

    root = str(tmp_path / "bucketed")
    rg = default_rowgroup_expr(4)
    (transcripts.limit(200).withColumn("__rg", rg.cast("long"))
     .repartition(2, "__rg").write.mode("overwrite").parquet(root))
    paths = sorted(glob.glob(os.path.join(root, "*.parquet")))
    wh = Warehouse(str(tmp_path / "wh"), format="parquet")
    wh.encode_files_resumable(spark, paths,
                              bloom_columns=("conv_id",))
    m = wh.manifest(spark)
    n_blooms = m.where((F.col("column") == "conv_id")
                       & F.col("bloom").isNotNull()).count()
    assert n_blooms > 0
