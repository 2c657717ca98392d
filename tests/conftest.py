import contextlib
import importlib

import pytest


@pytest.fixture(scope="session")
def spark():
    from columnstore_spark.session import get_spark

    s = get_spark(app="columnstore-tests", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    from columnstore_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, "/root/testdata/sf0.001").cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def batches(transcripts):
    """The transcripts and three of their conversation keys."""
    keys = [r["conv_id"] for r in
            transcripts.select("conv_id").distinct().orderBy("conv_id")
            .limit(3).collect()]
    return transcripts, keys


def _batched_store(spark, root, t):
    from pyspark.sql import functions as F

    from columnstore_spark.store import TranscriptColumnStore

    s = TranscriptColumnStore(spark, root, num_rowgroups=2)
    for i in range(3):
        s.add_range(t.where(F.col("turn_idx") % 3 == i))
        s.close()
    return s


@pytest.fixture(scope="session")
def batched_store():
    """`(spark, root, t) -> store` of three closed batches of
    under-filled rowgroups (compactable)."""
    return _batched_store


@pytest.fixture(scope="session")
def compacted(spark, tmp_path_factory, batches):
    """A store mixing compacted and freshly closed rowgroups, with the
    answers of an IN lookup and a full read (checked against the
    source rows)."""
    from pyspark.sql import functions as F

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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# the decode stage's budget for reading a pinned read in the driver:
# above any test store's size, or zero (every read runs as a stage)
PLACEMENTS = {"driver": 1 << 40, "executor": 0}


@pytest.fixture
def place(monkeypatch):
    """`place(placement)`: decode every pinned read built from then on
    in the driver or as a mapInArrow stage."""
    decode_mod = importlib.import_module("columnstore_spark.operators.decode")
    return lambda placement: monkeypatch.setattr(
        decode_mod, "_DRIVER_READ_BYTES", PLACEMENTS[placement])


# the warehouse's budget for encoding a write in the driver: above any
# test store's size, or zero (every write runs the Spark encode stage)
WRITE_PLACEMENTS = {"driver": 1 << 40, "spark": 0}


@pytest.fixture
def write_place(monkeypatch):
    """`write_place(placement)`: encode every write sized from then on
    in the driver or as the Spark encode stage."""
    decode_mod = importlib.import_module("columnstore_spark.operators.decode")
    return lambda placement: monkeypatch.setattr(
        decode_mod, "_DRIVER_WRITE_BYTES", WRITE_PLACEMENTS[placement])


def _injected_crash(df):
    raise RuntimeError("injected crash")


@pytest.fixture
def crash_at_commit(monkeypatch):
    """`with crash_at_commit(store): ...` — every manifest append of
    `store`'s backend (the commit point of each write) raises
    RuntimeError("injected crash") inside the block, after the
    segments were written; the backend is restored on leaving it."""
    @contextlib.contextmanager
    def crash(store):
        with monkeypatch.context() as mp:
            mp.setattr(store.warehouse.backend(store.spark),
                       "append_manifest", _injected_crash)
            yield
    return crash
