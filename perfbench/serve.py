"""`serve`: the store's write path in set-up, then read traffic.

Set-up builds the store from the seeded transcript table as an ingest
stream: for each of several `ts`-window batches (one conversation spans
several batches) `add_range` -> `close`; then `compact`, so the manifest
holds many rowgroups. Its cost is part of `setup_s`. The traced run also
makes one `query_by_value(conv_id, include_pending=True)` per batch, on
a key of that batch, before its `close` (a cache-cold read: every write
invalidates the store's metadata memo).

The timed region is a closed loop with one client: a seeded sequence of
point lookups `query_by_value("conv_id", k)` (Zipf key popularity,
every tenth of them for an absent key), after a few untimed ones.
`p50_ms` is their median latency.

Every operation is checked against DuckDB over the same input.

The traced run (`--trace 1`) traces the ingest stream and one round of
the full read mix (point lookups, `query_by_in` with 8 keys, a
conjunctive `query_where`, `topk`, `group_agg`, `quantile`,
`aggregate`, full and projected exports), runs a row-level
`delete_where` and `upsert`, and probes plans, sources and operators
directly; see `_traced_reads`.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import os
import time

import numpy as np

from . import datagen, runtime
from .ops import TRANSCRIPT_COLS, Op, checksum, run_op, small_result
from .oracle import Oracle

SIZES = datagen.Sizes(users=150, events=12_000, docs=600)
N_BATCHES = 3
NUM_ROWGROUPS = 8
ROWS_PER_SEGMENT = 1024
POINTS_PER_ROUND = 4       # point lookups in the traced run's round
STREAM_OPS = 60            # timed lookups drawn (then they start over)
WARM_OPS = 3               # untimed lookups before them
OVERHEAD_PAIRS = 2         # traced-run lookups also run untraced
ABSENT_EVERY = 10
QUANTILES = [0.0, 0.1, 0.5, 0.9, 0.99, 1.0]
PROJECTION = ["conv_id", "turn_idx", "ts"]
_COLS_SQL = ", ".join(TRANSCRIPT_COLS)
_EDIT = " (edited)"


def _written(_result) -> None:
    """Force step of a write op: the facade call already did the work."""
    return None


class ServeSetup:
    """Session, generated inputs, DuckDB oracle and the (empty) store."""

    def __init__(self, seed: int, work: runtime.WorkDir, n_cores: int):
        self.seed = seed
        self.spark = runtime.start_spark(work, n_cores)
        runtime.log("serve: session up")
        try:
            self._load(seed, work)
        except BaseException:
            runtime.stop_spark(self.spark)
            raise

    def _load(self, seed: int, work: runtime.WorkDir) -> None:
        from columnstore_spark.sources.transcripts import TRANSCRIPTS_SQL
        from columnstore_spark.store import TranscriptColumnStore

        paths = datagen.write_tables(datagen.make_tables(seed, SIZES),
                                     work.sub("data"))
        self.oracle = Oracle(paths)
        for name, path in paths.items():
            self.spark.read.parquet(path).createOrReplaceTempView(name)
        self.transcripts = self.spark.sql(TRANSCRIPTS_SQL).persist()
        self.transcripts.count()
        self.store_root = os.path.join(work.path, "store")
        self.store = TranscriptColumnStore(
            self.spark, self.store_root, num_rowgroups=NUM_ROWGROUPS,
            rows_per_segment=ROWS_PER_SEGMENT)
        self.raw_bytes = self.oracle.arrow(
            f"SELECT {_COLS_SQL} FROM transcripts").nbytes
        lo, hi = self.oracle.con.execute(
            "SELECT min(ts), max(ts) FROM transcripts").fetchone()
        self.ts_range = (lo, hi)
        self.cuts = [lo + (hi - lo) * i / N_BATCHES
                     for i in range(N_BATCHES)]
        self.keys = [r[0] for r in self.oracle.con.execute(
            "SELECT DISTINCT conv_id FROM transcripts "
            "ORDER BY conv_id").fetchall()]
        self.rng = np.random.default_rng([seed, 7])
        runtime.log("serve: inputs ready")

    def _window(self, i: int):
        """(SQL predicate, params, Spark frame) of ts window i; the last
        window is open above."""
        from pyspark.sql import functions as F
        if i + 1 == N_BATCHES:
            return ("ts >= ?", [self.cuts[i]],
                    self.transcripts.where(F.col("ts") >= F.lit(self.cuts[i])))
        a, b = self.cuts[i], self.cuts[i + 1]
        return ("ts >= ? AND ts < ?", [a, b], self.transcripts.where(
            (F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b))))

    def ingest_ops(self) -> tuple[list[Op], list[Op]]:
        """The ingest stream as (first batch, the rest), with each fresh
        read's expected answer: the key's rows in every window appended
        so far."""
        ops = []
        for i in range(N_BATCHES):
            where, params, df = self._window(i)
            raw = self.oracle.arrow(f"SELECT {_COLS_SQL} FROM transcripts "
                                    f"WHERE {where}", params).nbytes
            add = Op("add_range", lambda st, df=df: st.add_range(df),
                     _written, None, raw)
            close = Op("close", lambda st: st.close(), _written, None)
            batch_keys = [r[0] for r in self.oracle.con.execute(
                f"SELECT DISTINCT conv_id FROM transcripts WHERE {where} "
                "ORDER BY conv_id", params).fetchall()]
            k = str(self.rng.choice(batch_keys))
            upto, bound = ((" AND ts < ?", [self.cuts[i + 1]])
                           if i + 1 < N_BATCHES else ("", []))
            read = Op(
                "fresh_read",
                lambda st, k=k: st.query_by_value("conv_id", k,
                                                  include_pending=True),
                small_result,
                self.oracle.digest(f"SELECT {_COLS_SQL} FROM transcripts "
                                   f"WHERE conv_id = ?{upto}", [k] + bound),
                probe=k)
            # a store with no committed segment yet rejects reads: the
            # first batch is read after its close
            ops += [add, close, read] if i == 0 else [add, read, close]
        ops.append(Op("compact", lambda st: st.compact(), _written, None))
        return ops[:3], ops[3:]

    def mutation_ops(self) -> list[Op]:
        """Row-level delete and upsert of two random keys, then a lookup
        of both (run in the traced run only)."""
        from pyspark.sql import functions as F
        k_del, k_up = (str(k) for k in self.rng.choice(self.keys, 2,
                                                       replace=False))
        edited = self.transcripts.where(F.col("conv_id") == k_up).withColumn(
            "text", F.concat(F.col("text"), F.lit(_EDIT)))
        return [
            Op("delete", lambda st: st.delete_where("conv_id", k_del),
               _written, None),
            Op("upsert", lambda st: st.upsert(edited), _written, None),
            # the deleted key has no row left, the upserted one only
            # its edited rows
            Op("verify",
               lambda st: st.query_by_in("conv_id", [k_del, k_up]),
               small_result, self.oracle.digest(
                   f"SELECT conv_id, turn_idx, role, text || '{_EDIT}' AS "
                   "text, tool, ts FROM transcripts WHERE conv_id = ?",
                   [k_up])),
        ]

    def export_expected(self, cols) -> tuple[tuple[int, int], int]:
        """Checksum of the DuckDB rows, hashed by Spark with the same
        expression the timed export uses; plus their raw Arrow bytes."""
        tbl = self.oracle.arrow(f"SELECT {', '.join(cols)} FROM transcripts")
        return checksum(self.spark.createDataFrame(tbl), cols), tbl.nbytes


class OpMaker:
    """Seeded read operations over the built store, each with the answer
    DuckDB gives for it."""

    def __init__(self, s: ServeSetup):
        self.s = s
        self.rng = s.rng
        self.n_points = 0
        self.keys = list(s.keys)
        self.rng.shuffle(self.keys)
        zipf = 1.0 / np.arange(1, len(self.keys) + 1) ** 1.1
        self.zipf = zipf / zipf.sum()

    def pick(self, n: int) -> list[str]:
        return [self.keys[i]
                for i in self.rng.choice(len(self.keys), n, p=self.zipf)]

    def point(self) -> Op:
        """`query_by_value("conv_id", k)`: a Zipf key, or for every
        ABSENT_EVERY-th lookup an absent one. An absent key is cheaper
        (every rowgroup is pruned), so a fixed place rather than a
        random draw keeps the share of them in a run the same on every
        seed."""
        self.n_points += 1
        k = self.pick(1)[0]
        if self.n_points % ABSENT_EVERY == ABSENT_EVERY // 2:
            k = f"c9{int(self.rng.integers(0, 10**11)):011d}"  # absent
        return Op("point", lambda st, k=k: st.query_by_value("conv_id", k),
                  small_result, self.s.oracle.digest(
                      f"SELECT {_COLS_SQL} FROM transcripts "
                      "WHERE conv_id = ?", [k]), probe=k)

    def export(self, kind: str) -> Op:
        """`rows()` (full) or `rows(PROJECTION)` (rows_proj), forced by
        an order-insensitive checksum."""
        cols = list(TRANSCRIPT_COLS) if kind == "rows" else PROJECTION
        expected, nbytes = self.s.export_expected(cols)
        return Op(kind, lambda st, c=cols, full=kind == "rows":
                  st.rows(None if full else c),
                  lambda df, c=cols: checksum(df, c), expected, nbytes)

    def stream(self, n: int) -> list[Op]:
        """The timed sequence: `n` point lookups."""
        return [self.point() for _ in range(n)]

    def round(self) -> list[Op]:
        """The full mix, shuffled: POINTS_PER_ROUND point lookups and one
        op of every other kind."""
        s, rng, q = self.s, self.rng, self.s.oracle.digest
        lo, hi = s.ts_range
        ops = [self.point() for _ in range(POINTS_PER_ROUND)]
        in_keys = self.pick(8)
        ops.append(Op(
            "in", lambda st, ks=in_keys: st.query_by_in("conv_id", ks),
            small_result,
            q(f"SELECT {_COLS_SQL} FROM transcripts WHERE conv_id IN "
              f"({', '.join('?' * len(in_keys))})", in_keys)))
        role = str(rng.choice(["user", "assistant", "tool", "system"]))
        a = lo + (hi - lo) * float(rng.random()) * 0.8
        a, b = _naive(a), _naive(a + (hi - lo) * 0.2)
        ops.append(Op(
            "where",
            lambda st, p={"role": role, "ts": (a, b)}: st.query_where(p),
            small_result,
            q(f"SELECT {_COLS_SQL} FROM transcripts WHERE role = ? "
              "AND ts BETWEEN ? AND ?", [role, a, b])))
        k = int(rng.integers(5, 41))
        ops.append(Op(
            "topk",
            lambda st, k=k: st.topk("ts", k, columns=PROJECTION,
                                    tie_cols=("conv_id", "turn_idx")),
            small_result,
            q("SELECT conv_id, turn_idx, ts FROM transcripts "
              f"ORDER BY ts DESC LIMIT {k}")))
        ops.append(Op(
            "group_agg", lambda st: st.group_agg("role", "turn_idx"),
            small_result,
            q("SELECT role AS value, count(*) AS cnt, count(turn_idx) "
              "AS n_agg, sum(turn_idx) AS sum_agg, min(turn_idx) AS "
              "min_agg, max(turn_idx) AS max_agg FROM transcripts "
              "GROUP BY role")))
        ops.append(Op(
            "quantile", lambda st: st.quantile("turn_idx", QUANTILES),
            small_result, q(_QUANTILE_SQL)))
        ops.append(Op(
            "aggregate",
            lambda st: st.aggregate(["turn_idx", "ts"]).select(
                "col_name", "n_rows", "n_values", "n_nulls", "min_long",
                "max_long"),
            small_result, q(_AGGREGATE_SQL)))
        ops += [self.export("rows"), self.export("rows_proj")]
        return [ops[i] for i in rng.permutation(len(ops))]


def _naive(v: dt.datetime) -> dt.datetime:
    return v.replace(tzinfo=None)


_QUANTILE_SQL = f"""
SELECT q, CAST(min(v) AS BIGINT) AS value FROM (
  SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
  FROM (SELECT turn_idx AS v, count(*) AS c FROM transcripts
        WHERE turn_idx IS NOT NULL GROUP BY 1) h
) c CROSS JOIN (VALUES {", ".join(f"(CAST({q} AS DOUBLE))"
                                  for q in QUANTILES)}) qs(q)
WHERE cum >= greatest(CAST(ceil(q * n) AS BIGINT), 1)
GROUP BY q"""

_AGGREGATE_SQL = """
SELECT 'turn_idx' AS col_name, count(*) AS n_rows,
       count(turn_idx) AS n_values, count(*) - count(turn_idx) AS n_nulls,
       CAST(min(turn_idx) AS BIGINT) AS min_long,
       CAST(max(turn_idx) AS BIGINT) AS max_long FROM transcripts
UNION ALL
SELECT 'ts', count(*), count(ts), count(*) - count(ts),
       epoch_us(min(ts)), epoch_us(max(ts)) FROM transcripts"""


def run_ops(s: ServeSetup, ops, counters=None, tracer=None, written=None):
    """Run `ops` in order; with `written`, record every file that
    appears under the store root (path -> size) after each op."""
    results = []
    for op in ops:
        results.append(run_op(op, s.store, counters, tracer))
        if written is not None:
            runtime.record_new_files(s.store_root, written)
    return results


def timed_loop(s: ServeSetup, ops, seconds: float) -> list:
    """Run `ops` in order, from the start again when they run out, until
    `seconds` have passed."""
    results = []
    t0 = time.perf_counter()
    for op in itertools.cycle(ops):
        results.append(run_op(op, s.store))
        if time.perf_counter() - t0 >= seconds:
            return results


def e2e_metrics(s: ServeSetup, results) -> dict:
    return {
        "p50_ms": runtime.median(
            r.total_s for r in results if r.kind == "point") * 1e3,
        "bytes_per_raw_byte": runtime.dir_bytes(s.store_root) / s.raw_bytes,
    }


def run(seed: int, seconds: float, trace: bool, t_start: float):
    with contextlib.ExitStack() as cleanup:
        work = runtime.WorkDir(f"serve-{seed}")
        cleanup.callback(work.remove)
        s = ServeSetup(seed, work, runtime.cores())
        cleanup.callback(runtime.stop_spark, s.spark)
        cleanup.callback(s.oracle.close)
        return _run(s, seconds, trace, t_start)


def _run(s: ServeSetup, seconds: float, trace: bool, t_start: float):
    from . import layers
    from .spans import Tracer

    tracer = Tracer() if trace else None
    counters = runtime.SparkCounters(s.spark) if trace else None
    written: dict[str, int] | None = {} if trace else None
    layer: dict[str, float] = {}
    # the first batch warms the write path up; the rest is what the
    # traced run times. Untraced runs leave the fresh reads out: they
    # only build the store.
    warm, ingest = s.ingest_ops()
    if not trace:
        warm, ingest = ([op for op in ops if op.kind != "fresh_read"]
                        for ops in (warm, ingest))
    results = run_ops(s, warm)
    with (layers.traced_store_stack(tracer) if trace
          else contextlib.nullcontext()):
        t0 = time.perf_counter()
        ingested = run_ops(s, ingest, counters, tracer, written)
        ingest_wall = time.perf_counter() - t0
    results += ingested
    runtime.log("serve: ingest stream done")
    appended = sum(op.raw_bytes for op in ingest)
    maker = OpMaker(s)
    # untimed warm-up: Spark's JVM is still compiling the read paths,
    # and the first lookups run slower than the steady state
    results += run_ops(s, maker.stream(WARM_OPS))
    setup_s = time.perf_counter() - t_start
    runtime.log("serve: warm-up done")
    if trace:
        layer.update(layers.op_layers(ingested))
        layer.update(layers.ingest_layers(tracer, written, appended))
        layer["store.ingest.mb_s"] = appended / 1e6 / ingest_wall
        results += _traced_reads(s, maker.round(), tracer, counters, layer)
        tracer.dump(runtime.spans_path(f"serve-seed{s.seed}.jsonl"))
        return len(results), sum(not r.ok for r in results), {}, layer
    timed = timed_loop(s, maker.stream(STREAM_OPS), seconds)
    runtime.log(f"serve: timed region done, {len(timed)} ops")
    results += timed
    e2e = dict(e2e_metrics(s, timed), setup_s=setup_s)
    return len(results), sum(not r.ok for r in results), e2e, layer


def _traced_reads(s: ServeSetup, round_ops, tracer, counters,
                  layer: dict) -> list:
    """The traced run's read side: one round traced, its first point
    lookups also run untraced right beside their traced twins (tracing
    overhead = the difference of the two medians; which twin runs first
    alternates, as a repeated lookup runs faster), then the row
    mutations and the direct layer probes. Fills `layer`; returns the
    op results."""
    from . import layers

    untraced, traced, paired = [], [], []
    first = len(tracer.spans)
    for op in round_ops:
        twin = op.kind == "point" and len(paired) < OVERHEAD_PAIRS
        untraced_first = twin and len(paired) % 2 == 0
        if untraced_first:
            untraced.append(run_op(op, s.store))
        with layers.traced_store_stack(tracer):
            traced.append(run_op(op, s.store, counters, tracer))
        if twin:
            paired.append(traced[-1])
            if not untraced_first:
                untraced.append(run_op(op, s.store))
    round_spans = tracer.spans[first:]
    with layers.traced_store_stack(tracer):
        mut = run_ops(s, s.mutation_ops(), counters, tracer)
    layer.update(layers.op_layers(traced + mut))
    layer.update(layers.spark_layers(
        counters, traced, sum(r.total_s for r in traced), runtime.cores()))
    layer["trace.overhead_ms"] = 1e3 * (
        runtime.median(r.total_s for r in paired)
        - runtime.median(r.total_s for r in untraced))
    layer.update(layers.self_time_layers(round_spans))
    layer.update(direct_layers(s, round_ops))
    return untraced + traced + mut


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def direct_layers(s: ServeSetup, round_ops) -> dict:
    """Layer costs measured by calling plans, sources and operators
    directly on the live manifest and committed segments, forcing every
    output."""
    from columnstore_spark.operators import (decode, decode_matching,
                                             default_rowgroup_expr, encode,
                                             topk)
    from columnstore_spark.operators.aggregate import group_agg, quantiles
    from columnstore_spark.operators.decode import (decode_with_rowgroup,
                                                    schema_from_segments)
    from columnstore_spark.plans.pruning import prune_rowgroup_ids
    from pyspark.sql import functions as F

    spark, wh = s.spark, s.store.warehouse
    manifest_s = _timed(lambda: wh.live_manifest(spark).count())
    m = wh.live_manifest(spark).persist()
    n_manifest = m.count()
    segs = wh.committed_segments(spark)
    schema = schema_from_segments(m)
    holders: dict[str, set] = {}
    for r in decode_with_rowgroup(segs.where(F.col("column") == "conv_id")
                                  ).select("conv_id", "__rg").distinct(
                                  ).collect():
        holders.setdefault(r["conv_id"], set()).add(r["__rg"])
    all_rgs = sorted({rg for v in holders.values() for rg in v})
    keys = [op.probe for op in round_ops if op.kind == "point"]
    prune_s, matching_s = [], []
    n_matching = 2  # decode_matching runs ~0.5 s a key: two suffice
    kept = false_kept = absent_kept = 0
    for k in keys:
        t0 = time.perf_counter()
        ids = prune_rowgroup_ids(m, "conv_id", k, k, True,
                                 logical_type="string")
        prune_s.append(time.perf_counter() - t0)
        if ids is None:  # keep-set over the IN-list cap: nothing pruned
            ids = all_rgs
        kept += len(ids)
        false_kept += sum(rg not in holders.get(k, ()) for rg in ids)
        if k not in holders:
            absent_kept += len(ids)
        if len(matching_s) < n_matching:
            pruned = segs.where(F.col("rowgroup_id").isin(ids))
            matching_s.append(_timed(lambda: decode_matching(
                pruned, "conv_id", k, schema=schema).toArrow()))
    decode_s = _timed(lambda: checksum(decode(segs, schema=schema),
                                       TRANSCRIPT_COLS))
    where, params, batch = s._window(0)
    batch_raw = s.oracle.arrow(f"SELECT {_COLS_SQL} FROM transcripts "
                               f"WHERE {where}", params).nbytes
    encode_s = _timed(lambda: encode(batch, rowgroup_expr=default_rowgroup_expr(
        NUM_ROWGROUPS, ROWS_PER_SEGMENT, columns=batch.columns),
        rows_per_segment=ROWS_PER_SEGMENT).write.format("noop").mode(
        "overwrite").save())
    out = {
        "sources.manifest.ms": manifest_s * 1e3,
        "sources.manifest.rows": n_manifest,
        "plans.prune.ms": runtime.median(prune_s) * 1e3,
        "plans.kept_rowgroups": kept / len(keys),
        "plans.false_keep_ratio": false_kept / max(kept, 1),
        "plans.absent_keep": absent_kept,
        "operators.decode_matching.ms": runtime.median(matching_s) * 1e3,
        "operators.group_agg.ms": 1e3 * _timed(lambda: group_agg(
            segs, "role", "turn_idx").collect()),
        "operators.topk.ms": 1e3 * _timed(lambda: topk(
            segs, "ts", 20, columns=PROJECTION,
            tie_cols=("conv_id", "turn_idx")).collect()),
        "operators.quantiles.ms": 1e3 * _timed(lambda: quantiles(
            segs, "turn_idx", QUANTILES).collect()),
        "operators.decode.mb_s": s.raw_bytes / 1e6 / decode_s,
        "operators.encode.mb_s": batch_raw / 1e6 / encode_s,
    }
    m.unpersist()
    return out
