"""`codec`: the segment kernels alone, no Spark, one thread.

Set-up cuts a pool of segment-sized column chunks out of the seeded
tables: the six transcript columns, `documents.text` (FSST),
`lineitem`/`orders` integers, doubles, dates and flags (for/delta
bit-pack, ALP, dict_rle) and `embeddings` (nested, Arrow IPC). The pool
has a fixed composition; the seed draws the rows and the order. The
timed region runs whole passes over the pool: `encode_segment`
(MODE_SIZE, the chooser picks the codec) -> `decode_segment` -> Arrow
equality against the input chunk.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from . import datagen, runtime
from .oracle import Oracle

SIZES = datagen.Sizes(users=150, events=12_000, docs=1_000, lineitem=24_000,
                      orders=8_000, embeddings=1_000)
# (table, column, rows per chunk, chunks in the pool): several chunks of
# each, so the pool's median chunk does not hinge on one seeded sample
POOL = (
    ("transcripts", "conv_id", 4096, 4),
    ("transcripts", "turn_idx", 4096, 4),
    ("transcripts", "role", 4096, 4),
    ("transcripts", "text", 1024, 4),
    ("transcripts", "tool", 4096, 4),
    ("transcripts", "ts", 4096, 4),
    ("documents", "text", 512, 4),
    ("lineitem", "l_orderkey", 8192, 4),
    ("lineitem", "l_partkey", 8192, 2),
    ("lineitem", "l_linenumber", 8192, 2),
    ("lineitem", "l_quantity", 8192, 2),
    ("lineitem", "l_extendedprice", 8192, 4),
    ("lineitem", "l_discount", 8192, 2),
    ("lineitem", "l_returnflag", 8192, 2),
    ("lineitem", "l_shipdate", 8192, 4),
    ("orders", "o_orderkey", 4096, 2),
    ("orders", "o_totalprice", 4096, 2),
    ("orders", "o_orderdate", 4096, 2),
    ("orders", "o_orderpriority", 4096, 2),
    ("embeddings", "embedding", 256, 4),
)


def make_pool(seed: int, work: runtime.WorkDir) -> list[pa.Array]:
    """The seeded chunk pool (compact copies, so nbytes is exact)."""
    rng = np.random.default_rng([seed, 3])
    tables = datagen.make_tables(seed, SIZES)
    paths = datagen.write_tables(
        {k: tables[k] for k in ("events", "documents")}, work.sub("data"))
    oracle = Oracle(paths, threads=1)
    try:
        tables["transcripts"] = oracle.arrow(
            "SELECT * FROM transcripts ORDER BY conv_id, turn_idx")
    finally:
        oracle.close()
    pool = []
    for table, column, rows, count in POOL:
        col = tables[table].column(column)
        for _ in range(count):
            start = int(rng.integers(0, max(1, len(col) - rows)))
            chunk = col.slice(start, rows).combine_chunks()
            pool.append(pa.concat_arrays([chunk]))
    order = rng.permutation(len(pool))
    return [pool[i] for i in order]


class Pass:
    """Per-chunk figures of one or more passes over the pool."""

    def __init__(self):
        self.encode_s: list[float] = []
        self.decode_s: list[float] = []
        self.raw: list[int] = []
        self.encoded: list[int] = []
        self.codec: list[str] = []
        self.failed = 0


def run_pass(pool, out: Pass) -> None:
    from columnstore_spark.codecs import (CODEC_NAMES, MODE_SIZE,
                                          decode_segment, encode_segment)
    for arr in pool:
        t0 = time.perf_counter()
        seg = encode_segment(arr, MODE_SIZE)
        t1 = time.perf_counter()
        back = decode_segment(seg.payload, seg.logical)
        t2 = time.perf_counter()
        out.encode_s.append(t1 - t0)
        out.decode_s.append(t2 - t1)
        out.raw.append(arr.nbytes)
        out.encoded.append(len(seg.payload))
        out.codec.append(CODEC_NAMES[seg.codec_id])
        if back.type != arr.type:
            # strings decode as large_string: compare the values
            back = back.cast(arr.type)
        out.failed += not back.equals(arr)


def timed_passes(pool, seconds: float) -> Pass:
    out = Pass()
    t0 = time.perf_counter()
    while True:
        run_pass(pool, out)
        if time.perf_counter() - t0 >= seconds:
            return out


def e2e_metrics(p: Pass) -> dict:
    return {
        "p50_ms": runtime.median(
            e + d for e, d in zip(p.encode_s, p.decode_s)) * 1e3,
        "bytes_per_raw_byte": sum(p.encoded) / sum(p.raw),
    }


def codec_layers(p: Pass, n_pool: int) -> dict:
    """codecs.<codec>.* per chosen codec; chosen counts for one pass."""
    out = {}
    for name in sorted(set(p.codec)):
        idx = [i for i, c in enumerate(p.codec) if c == name]
        raw = sum(p.raw[i] for i in idx)
        out[f"codecs.{name}.encode_mb_s"] = (
            raw / 1e6 / sum(p.encode_s[i] for i in idx))
        out[f"codecs.{name}.decode_mb_s"] = (
            raw / 1e6 / sum(p.decode_s[i] for i in idx))
        out[f"codecs.{name}.bytes_per_raw_byte"] = (
            sum(p.encoded[i] for i in idx) / raw)
        out[f"codecs.chosen.{name}"] = sum(i < n_pool for i in idx)
    return out


def run(seed: int, seconds: float, trace: bool, t_start: float):
    from columnstore_spark.codecs import chooser, segment

    from .spans import Tracer, durations

    work = runtime.WorkDir(f"codec-{seed}")
    try:
        # the pool build is cheap, so it runs three times: set-up time is
        # start-up (interpreter, imports), the median build and the
        # warm-up pass
        builds = []
        for _ in range(3):
            t0 = time.perf_counter()
            pool = make_pool(seed, work)
            builds.append(time.perf_counter() - t0)
        warm = Pass()
        run_pass(pool, warm)  # untimed warm-up pass
        setup_s = (time.perf_counter() - t_start - sum(builds)
                   + runtime.median(builds))
        p = timed_passes(pool, seconds)
        e2e = dict(e2e_metrics(p), setup_s=setup_s)
        attempted, failed = len(p.raw) + len(warm.raw), p.failed + warm.failed
        layer = {}
        if trace:
            tracer = Tracer()
            tracer.wrap(segment, "collect", "codecs.stats")
            tracer.wrap(chooser, "choose", "codecs.choose")
            try:
                # a third of the untraced time suffices for per-codec
                # figures and keeps the traced run well inside its limit
                t_p = timed_passes(pool, seconds / 3)
            finally:
                tracer.unwrap_all()
            attempted += len(t_p.raw)
            failed += t_p.failed
            layer.update(codec_layers(t_p, len(pool)))
            tracer.dump(runtime.spans_path(f"codec-seed{seed}.jsonl"))
            layer["codecs.stats.ms"] = 1e3 * float(np.mean(
                durations(tracer.spans, "codecs.stats")))
            layer["codecs.choose.ms"] = 1e3 * float(np.mean(
                durations(tracer.spans, "codecs.choose")))
            layer["trace.overhead_ms"] = (
                e2e_metrics(t_p)["p50_ms"] - e2e["p50_ms"])
            n, bad = _function_layers(seed, work, layer)
            attempted += n
            failed += bad
        return attempted, failed, e2e, layer
    finally:
        work.remove()


def _function_layers(seed: int, work: runtime.WorkDir, layer: dict):
    """The traced run's functions.* figures: a Spark session over this
    run's generated `documents` and `embeddings` (see functions.py)."""
    from . import functions

    tables = datagen.make_tables(seed, SIZES)
    paths = datagen.write_tables(
        {k: tables[k] for k in ("documents", "embeddings")},
        work.sub("pipeline"))
    spark = runtime.start_spark(work, runtime.cores())
    oracle = Oracle(paths)
    try:
        for name, path in paths.items():
            spark.read.parquet(path).createOrReplaceTempView(name)
        n, bad, out = functions.function_layers(
            spark, oracle, runtime.SparkCounters(spark), datagen.EMB_DIM)
        layer.update(out)
        return n, bad
    finally:
        oracle.close()
        runtime.stop_spark(spark)
