"""Where the time of the `serve` ingest stream goes, step by step, and
where a driver-placed write stops paying off.

Part 1 builds the `serve` workload's store for a seed (seeded
transcripts added and closed in three ts batches, then compacted; the
benchmark's Spark session, local[1] on one CPU) and prints the wall
time and Spark job count of each `add_range`, `close` and `compact`,
with the time of the write path's steps inside them:

  collect         the driver-placed encode's one job (`toArrow`)
  encode          the encode kernel run in the driver (`_encode_rowgroup`)
  segment write   the pyarrow segment file and its rename, or the Spark
                  encode stage and its part files (`append_segments`)
  manifest commit the pyarrow manifest file and its rename

Part 2 closes one delta batch of about 1, 2, 4, 8 and 16 MiB (decoded
Arrow bytes, `TranscriptColumnStore._batch_bytes`: the size that places
a close; the transcripts repeated under new conversation ids) into a
fresh store, once encoded in the driver and once as the Spark encode
stage, and prints the median close time of each, with a least-squares
line per placement and the size where they cross. It also prints the
peak resident size of this Python process (the driver's Python side,
ru_maxrss) after the driver-placed closes of each size, and before the
first: sizes run in ascending order, so each is that size's peak.
`_DRIVER_WRITE_BYTES` in `columnstore_spark/operators/decode.py` cites
this table.

Usage: python scripts/ingest_split.py [--seed 1] [--reps 3]
"""

from __future__ import annotations

import argparse
import collections
import functools
import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from perfbench import datagen, runtime  # noqa: E402
from perfbench.serve import (N_BATCHES, NUM_ROWGROUPS,  # noqa: E402
                             ROWS_PER_SEGMENT, SIZES)

SIZES_MIB = (1, 2, 4, 8, 16)


class Steps:
    """Wall time per step label inside the current top-level step."""

    def __init__(self) -> None:
        self.ms: dict[str, float] = collections.defaultdict(float)

    def wrap(self, owner, name: str, label: str) -> None:
        real = getattr(owner, name)

        @functools.wraps(real)
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return real(*a, **k)
            finally:
                self.ms[label] += (time.perf_counter() - t0) * 1e3

        setattr(owner, name, timed)


def _jobs(spark, label: str, fn):
    """(result, wall ms, Spark jobs) of `fn()` run in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        ms = (time.perf_counter() - t0) * 1e3
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, ms, len(sc.statusTracker().getJobIdsForGroup(label))


def _transcripts(spark, seed: int, work):
    from columnstore_spark.sources.transcripts import TRANSCRIPTS_SQL

    paths = datagen.write_tables(datagen.make_tables(seed, SIZES),
                                 work.sub("data"))
    for name, path in paths.items():
        spark.read.parquet(path).createOrReplaceTempView(name)
    t = spark.sql(TRANSCRIPTS_SQL).persist()
    t.count()
    return t


def split_stream(spark, t, work) -> None:
    from pyspark.sql import functions as F

    from columnstore_spark.sources.storage import ParquetBackend
    from columnstore_spark.store import TranscriptColumnStore

    encode_mod = importlib.import_module(
        "columnstore_spark.operators.encode")
    steps = Steps()
    # the session's DataFrame class (pyspark's classic one defines
    # toArrow itself)
    steps.wrap(type(t), "toArrow", "collect")
    steps.wrap(encode_mod, "_encode_rowgroup", "encode")
    steps.wrap(ParquetBackend, "append_segment_table", "segment write")
    steps.wrap(ParquetBackend, "append_segments", "segment write")
    steps.wrap(ParquetBackend, "append_manifest", "manifest commit")
    inner = ("collect", "encode", "segment write", "manifest commit")

    lo, hi = t.agg(F.min("ts"), F.max("ts")).first()
    cuts = [lo + (hi - lo) * i / N_BATCHES for i in range(N_BATCHES)]
    store = TranscriptColumnStore(
        spark, os.path.join(work.path, "store"),
        num_rowgroups=NUM_ROWGROUPS, rows_per_segment=ROWS_PER_SEGMENT)

    def pending_bytes():
        return sum(store._batch_bytes(b) for b in store._pending_batches())

    def compact_bytes():
        m = store.warehouse.snapshot(spark)
        return m.rowgroup_bytes(rg for rg, n in m.rowgroup_rows.items()
                                if n < ROWS_PER_SEGMENT // 2)

    ops = []
    for i, a in enumerate(cuts):
        w = F.col("ts") >= F.lit(a)
        if i + 1 < N_BATCHES:
            w &= F.col("ts") < F.lit(cuts[i + 1])
        ops.append((f"add_range {i}", lambda w=w: store.add_range(t.where(w)),
                    None))
        ops.append((f"close {i}", store.close, pending_bytes))
    ops.append(("compact", store.compact, compact_bytes))

    print("ingest stream (ms; jobs; MiB: the decoded size that places "
          "the write)")
    print(f"  {'step':12s} {'MiB':>5s} {'wall':>8s} {'jobs':>5s}"
          + "".join(f" {c:>16s}" for c in inner))
    total_ms = total_jobs = 0
    for label, fn, size in ops:
        mib = f"{size() / 2**20:5.2f}" if size else " " * 5
        steps.ms.clear()
        _out, ms, jobs = _jobs(spark, label.replace(" ", "-"), fn)
        total_ms += ms
        total_jobs += jobs
        print(f"  {label:12s} {mib} {ms:8.0f} {jobs:5d}"
              + "".join(f" {steps.ms.get(c, 0.0):16.0f}" for c in inner))
    print(f"  {'total':12s} {'':5s} {total_ms:8.0f} {total_jobs:5d}")


def _batch_of(t, spark, n: int):
    """`n` transcript rows: the rows repeated as often as needed, each
    copy under new conversation ids, and every text made distinct
    (the generated texts repeat, and parquet's dictionaries would fold
    them into a batch far smaller than its rows)."""
    from pyspark.sql import functions as F

    reps = -(-n // t.count())
    rep = spark.range(reps).withColumnRenamed("id", "__rep")
    return (t.crossJoin(rep)
            .withColumn("conv_id", F.concat(
                "conv_id", F.lit("-"), F.col("__rep").cast("string")))
            .withColumn("text", F.concat(
                "text", F.lit("-"),
                F.monotonically_increasing_id().cast("string")))
            .drop("__rep").limit(n))


def placement_table(spark, t, work, reps: int) -> None:
    import resource

    from columnstore_spark.store import TranscriptColumnStore

    def rss_mib() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    decode_mod = importlib.import_module(
        "columnstore_spark.operators.decode")

    def store(name):
        return TranscriptColumnStore(spark, os.path.join(work.path, name),
                                     num_rowgroups=NUM_ROWGROUPS,
                                     rows_per_segment=ROWS_PER_SEGMENT)

    probe = store("probe")
    probe.add_range(_batch_of(t, spark, t.count()))
    rows_per_mib = t.count() / (probe._batch_bytes("batch_000000") / 2**20)

    rows = []
    start = rss_mib()
    for mib in SIZES_MIB:
        batch = _batch_of(t, spark, int(mib * rows_per_mib)).persist()
        batch.count()
        ms = {}
        peak = 0.0
        for place, budget in (("driver", 1 << 40), ("spark", 0)):
            decode_mod._DRIVER_WRITE_BYTES = budget
            times = []
            for r in range(reps):
                s = store(f"w{mib}-{place}-{r}")
                s.add_range(batch)
                size = s._batch_bytes("batch_000000") / 2**20
                t0 = time.perf_counter()
                s.close()
                times.append((time.perf_counter() - t0) * 1e3)
            ms[place] = statistics.median(times)
            if place == "driver":
                peak = rss_mib()
        batch.unpersist()
        rows.append((size, ms["driver"], ms["spark"], peak))

    print(f"\nclose of one delta batch (median of {reps}, ms; the "
          f"driver's Python peak RSS, MiB, from {start:.0f})")
    print("  batch MiB    driver     spark  driver peak")
    for size, d, s, p in rows:
        print(f"  {size:9.2f}  {d:8.0f}  {s:8.0f}  {p:11.1f}")
    fits = {}
    for i, place in ((1, "driver"), (2, "spark")):
        xs, ys = [r[0] for r in rows], [r[i] for r in rows]
        slope, icpt = statistics.linear_regression(xs, ys)
        fits[place] = (icpt, slope)
        print(f"  {place:6s} ~ {icpt:6.0f} ms + {slope:5.0f} ms/MiB")
    (a, b), (c, d) = fits["driver"], fits["spark"]
    if b > d:
        print(f"  the lines cross at ~{(c - a) / (b - d):.1f} MiB")
    else:
        print("  the driver line stays below the Spark line")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    work = runtime.WorkDir("ingest-split")
    spark = runtime.start_spark(work, runtime.cores())
    try:
        t = _transcripts(spark, args.seed, work)
        split_stream(spark, t, work)
        placement_table(spark, t, work, args.reps)
    finally:
        runtime.stop_spark(spark)
        work.remove()


if __name__ == "__main__":
    main()
