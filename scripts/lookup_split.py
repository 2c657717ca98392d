"""Where the time of a point lookup goes, step by step.

Builds the `serve` workload's store for a seed (as
`scripts/python_stage_cost.py` does: seeded transcripts ingested in
three ts batches, then compacted; the benchmark's Spark session,
local[1] on one CPU) and runs N point lookups
`query_by_value("conv_id", k)` on Zipf-drawn keys, every tenth one
absent, each forced with `toArrow()`. The package's own functions are
wrapped with wall-clock timers for the run, so the split is measured
in one process on one store:

  prune            ManifestSnapshot.keep_ids (the manifest keep-set)
  read             operators.decode.read_task (segment rows, live keys)
  probe            codecs.query.query_value on the probed column
  gather <codec>   codecs.query.gather_ranges, per segment codec
  createDataFrame  SparkSession.createDataFrame (the local relation)
  exact filter     DataFrame.filter (the exact re-filter; `where`)
  toArrow          forcing the returned frame
  other            the rest of the lookup's wall time

It prints the mean ms per lookup of each step and its share of the
lookup. Then, since a repeated probe on an unchanged commit is served
from the snapshot's answer memo, it splits the lookups into first-time
(a present key not looked up before in the run, warm-up included),
repeated (a present key looked up before) and absent ones, and prints
the median plan (the `query_by_value` call) and total of each, the
memo hit ratio, how many `read_task` and `createDataFrame` calls the
hits made (a hit makes none), and how many `createDataFrame` and exact
filter calls the absent lookups made (an absent key is served the
snapshot's one empty frame, built at most once per commit).

Usage: python scripts/lookup_split.py [--seed 1] [--lookups 60]
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
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import runtime  # noqa: E402
from python_stage_cost import build_store  # noqa: E402

WARM = 3           # untimed lookups first (the JVM compiles the paths)
ABSENT_EVERY = 10  # every tenth lookup is for an absent key


class Split:
    """Wall time and call count per step label, summed over the timed
    lookups."""

    def __init__(self) -> None:
        self.ms: dict[str, float] = collections.defaultdict(float)
        self.calls: collections.Counter = collections.Counter()
        self.on = False

    def wrap(self, owner, name: str, label) -> None:
        """Time every call of `owner.name` under `label` (a string, or
        a function of the call's arguments that returns one)."""
        real = getattr(owner, name)

        @functools.wraps(real)
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return real(*a, **k)
            finally:
                if self.on:
                    lbl = label(*a, **k) if callable(label) else label
                    self.ms[lbl] += (time.perf_counter() - t0) * 1e3
                    self.calls[lbl] += 1

        setattr(owner, name, timed)


def _codec_label(payload, *_a, **_k) -> str:
    from columnstore_spark.codecs.segment import CODEC_NAMES, read_frame
    return f"gather {CODEC_NAMES.get(read_frame(payload)[0], '?')}"


def instrument(spark, split: Split) -> None:
    from columnstore_spark.codecs import query
    from columnstore_spark.sources.snapshot import ManifestSnapshot

    decode_mod = importlib.import_module("columnstore_spark.operators.decode")
    frame = type(spark.range(1))
    split.wrap(ManifestSnapshot, "keep_ids", "prune")
    split.wrap(decode_mod, "read_task", "read")
    split.wrap(query, "query_value", "probe")
    split.wrap(query, "gather_ranges", _codec_label)
    split.wrap(type(spark), "createDataFrame", "createDataFrame")
    split.wrap(frame, "filter", "exact filter")  # `where` calls it


def lookup_keys(store, seed: int, n: int) -> list[str]:
    """`n` Zipf-drawn conv_ids of the store, every tenth one absent."""
    import numpy as np

    keys = sorted(r[0] for r in
                  store.rows(["conv_id"]).distinct().collect())
    rng = np.random.default_rng([seed, 7])
    rng.shuffle(keys)
    p = 1.0 / np.arange(1, len(keys) + 1) ** 1.1
    out = [keys[i] for i in rng.choice(len(keys), n, p=p / p.sum())]
    for i in range(ABSENT_EVERY // 2, n, ABSENT_EVERY):
        out[i] = f"c9{int(rng.integers(0, 10**11)):011d}"
    return out


class Lookup(NamedTuple):
    kind: str       # first / repeated / absent
    plan_ms: float
    total_ms: float
    hit: bool       # served from the snapshot's answer memo
    reads: int      # read_task calls
    frames: int     # createDataFrame calls
    filters: int    # exact filter calls


def watch_memo(hits: list) -> None:
    """Append each answer-memo lookup's outcome (hit or not) to
    `hits`."""
    from columnstore_spark.sources.snapshot import AnswerMemo

    real = AnswerMemo.get

    @functools.wraps(real)
    def get(self, key):
        out = real(self, key)
        hits.append(out is not None)
        return out

    AnswerMemo.get = get


def run(store, keys: list[str], split: Split) -> list[Lookup]:
    """One `Lookup` per timed lookup; the first WARM run untimed."""
    present = {r[0] for r in store.rows(["conv_id"]).distinct().collect()}
    seen: set = set()
    hits: list[bool] = []
    watch_memo(hits)
    out = []
    for i, k in enumerate(keys):
        split.on = i >= WARM
        before = dict(split.calls)
        del hits[:]
        t0 = time.perf_counter()
        df = store.query_by_value("conv_id", k)
        t1 = time.perf_counter()
        df.toArrow()
        t2 = time.perf_counter()
        if split.on:
            split.ms["toArrow"] += (t2 - t1) * 1e3
            kind = ("absent" if k not in present
                    else "repeated" if k in seen else "first")
            out.append(Lookup(
                kind, (t1 - t0) * 1e3, (t2 - t0) * 1e3, any(hits),
                split.calls["read"] - before.get("read", 0),
                split.calls["createDataFrame"]
                - before.get("createDataFrame", 0),
                split.calls["exact filter"]
                - before.get("exact filter", 0)))
        seen.add(k)
    split.on = False
    return out


def report(split: Split, lookups: list[Lookup], memo) -> None:
    n = len(lookups)
    total = sum(lk.total_ms for lk in lookups)
    steps = dict(split.ms)
    steps["other"] = total - sum(steps.values())
    print(f"per-step wall time of {n} point lookups (mean ms per lookup)")
    for name, ms in sorted(steps.items(), key=lambda kv: -kv[1]):
        print(f"  {name:20s} {ms / n:8.2f}  {100 * ms / total:5.1f}%")
    print(f"\n{'lookups':10s} {'n':>4s} {'plan p50':>9s} {'total p50':>10s}"
          "  (ms)")
    for kind in ("first", "repeated", "absent", "all"):
        ls = [lk for lk in lookups if kind in (lk.kind, "all")]
        if ls:
            print(f"{kind:10s} {len(ls):4d} "
                  f"{statistics.median(lk.plan_ms for lk in ls):9.1f} "
                  f"{statistics.median(lk.total_ms for lk in ls):10.1f}")
    hit = [lk for lk in lookups if lk.hit]
    print(f"\nanswer memo hits {len(hit)} of {n} ({len(hit) / n:.2f}); "
          f"in them read_task {sum(lk.reads for lk in hit)} calls, "
          f"createDataFrame {sum(lk.frames for lk in hit)} calls")
    absent = [lk for lk in lookups if lk.kind == "absent"]
    print(f"absent lookups {len(absent)}: createDataFrame "
          f"{sum(lk.frames for lk in absent)} calls, exact filter "
          f"{sum(lk.filters for lk in absent)} calls")
    print(f"answer memo at the end: {len(memo)} answers, "
          f"{memo.nbytes / 2**20:.1f} MiB charged")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--lookups", type=int, default=60)
    args = ap.parse_args()

    work = runtime.WorkDir("lookup-split")
    spark = runtime.start_spark(work, runtime.cores())
    try:
        store = build_store(spark, args.seed, work)
        split = Split()
        instrument(spark, split)
        keys = lookup_keys(store, args.seed, WARM + args.lookups)
        report(split, run(store, keys, split),
               store.warehouse.snapshot(spark).answers)
    finally:
        runtime.stop_spark(spark)
        work.remove()


if __name__ == "__main__":
    main()
