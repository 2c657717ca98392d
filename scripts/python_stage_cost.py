"""Re-derive the decode stage's driver budget (`_DRIVER_READ_BYTES` in
`columnstore_spark/operators/decode.py`) on the host it runs on.

A pinned read small enough is decoded in the driver; a larger one runs
as a `mapInArrow` stage. The budget is the decoded size at which the
driver's decode time reaches the fixed cost of one Python stage. This
script measures both sides with the benchmark's Spark session
(`perfbench.runtime.start_spark`: local[1], one CPU, C1-only JVM):

1. the fixed cost: an identity `mapInArrow` over one row against a
   JVM-only job, `spark.range(1).toArrow()`;
2. the decode of the first 1, 2, 4, 8 and all rowgroups of a store
   built like the `serve` workload's (seeded transcripts ingested in
   three ts batches, then compacted), each read forced with
   `toArrow()` once in the driver and once as a stage.

It prints one table per part, then the decoded size where a linear
fit of the driver decode times reaches the identity stage's cost.

Usage: python scripts/python_stage_cost.py [--seed 1] [--reps 7]
"""

from __future__ import annotations

import argparse
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


def _ms(fn, reps: int) -> float:
    """Median wall time of `fn()` in ms, after one untimed run."""
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def fixed_cost(spark, reps: int) -> tuple[float, float]:
    """(JVM-only job, identity mapInArrow over one row), ms."""
    one = spark.range(1)
    jvm = _ms(lambda: one.toArrow(), reps)
    py = _ms(lambda: one.mapInArrow(lambda it: it, one.schema).toArrow(),
             reps)
    return jvm, py


def build_store(spark, seed: int, work):
    """The `serve` store: seeded transcripts in N_BATCHES ts windows,
    each added and closed, then compacted."""
    from pyspark.sql import functions as F

    from columnstore_spark.sources.transcripts import TRANSCRIPTS_SQL
    from columnstore_spark.store import TranscriptColumnStore

    paths = datagen.write_tables(datagen.make_tables(seed, SIZES),
                                 work.sub("data"))
    for name, path in paths.items():
        spark.read.parquet(path).createOrReplaceTempView(name)
    t = spark.sql(TRANSCRIPTS_SQL).persist()
    lo, hi = t.agg(F.min("ts"), F.max("ts")).first()
    cuts = [lo + (hi - lo) * i / N_BATCHES for i in range(N_BATCHES)]
    store = TranscriptColumnStore(
        spark, os.path.join(work.path, "store"),
        num_rowgroups=NUM_ROWGROUPS, rows_per_segment=ROWS_PER_SEGMENT)
    for i, a in enumerate(cuts):
        w = F.col("ts") >= F.lit(a)
        if i + 1 < N_BATCHES:
            w &= F.col("ts") < F.lit(cuts[i + 1])
        store.add_range(t.where(w))
        store.close()
    store.compact()
    t.unpersist()
    return store


def decode_costs(spark, store, reps: int) -> list[tuple]:
    """(rowgroups, decoded MiB, driver ms, executor ms) per read size."""
    from columnstore_spark.operators import decode

    decode_mod = importlib.import_module(
        "columnstore_spark.operators.decode")
    wh = store.warehouse
    m = wh.snapshot(spark)
    ids = sorted(m.rowgroup_rows)
    rows = []
    for k in sorted({k for k in (1, 2, 4, 8) if k < len(ids)} | {len(ids)}):
        read = wh.pinned_read(spark, m, ids[:k])
        ms = {}
        for place, budget in (("driver", 1 << 62), ("executor", -1)):
            decode_mod._DRIVER_READ_BYTES = budget
            ms[place] = _ms(lambda: decode(
                read, schema=m.decode_schema).toArrow(), reps)
        rows.append((k, read.raw_bytes / 2**20, ms["driver"],
                     ms["executor"]))
    return rows


def crossover_mib(rows, stage_ms: float) -> float:
    """Decoded MiB where the least-squares line through the driver decode
    times reaches `stage_ms`."""
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
             / sum((x - mx) ** 2 for x in xs))
    return (stage_ms - (my - slope * mx)) / slope


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=7)
    args = ap.parse_args()

    work = runtime.WorkDir("stage-cost")
    spark = runtime.start_spark(work, runtime.cores())
    try:
        jvm, py = fixed_cost(spark, args.reps)
        print(f"fixed cost (median of {args.reps}, ms)")
        print(f"  spark.range(1).toArrow()           {jvm:8.1f}")
        print(f"  identity mapInArrow over one row   {py:8.1f}")
        rows = decode_costs(spark, build_store(spark, args.seed, work),
                            args.reps)
        print(f"\ndecode forced with toArrow() (median of {args.reps}, ms)")
        print("  rowgroups decoded MiB    driver  executor")
        for k, mb, d, e in rows:
            print(f"  {k:9d}  {mb:10.2f}  {d:8.1f}  {e:8.1f}")
        print(f"\ndriver decode reaches one identity stage ({py:.0f} ms) "
              f"at ~{crossover_mib(rows, py):.1f} MiB decoded")
    finally:
        runtime.stop_spark(spark)
        work.remove()


if __name__ == "__main__":
    main()
