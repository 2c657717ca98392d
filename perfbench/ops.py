"""Timed store operations shared by the Spark workloads.

An operation is a facade call that returns a lazy DataFrame (its *plan*
time) followed by the action that forces it (its *exec* time). Every
operation carries the answer DuckDB computed for it during set-up, and
its result is checked against that answer.
"""

from __future__ import annotations

import contextlib
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .oracle import digest

TRANSCRIPT_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def row_hash(cols) -> Any:
    """Spark column: 64-bit hash of a transcript row (typed exactly as
    the store returns it), shifted so a sum over 10^6 rows cannot
    overflow a long."""
    exprs = []
    for c in cols:
        if c == "ts":
            exprs.append(F.unix_micros(F.col(c).cast("timestamp")))
        elif c == "turn_idx":
            exprs.append(F.col(c).cast("long"))
        else:
            exprs.append(F.col(c))
    return F.shiftrightunsigned(F.xxhash64(*exprs), 24)


def checksum(df: DataFrame, cols) -> tuple[int, int]:
    """(row count, order-insensitive row-hash sum) of `df`."""
    r = df.agg(F.count(F.lit(1)), F.sum(row_hash(cols))).collect()[0]
    return int(r[0]), int(r[1] or 0)


def small_result(df: DataFrame):
    return digest(df.toArrow())


@dataclass
class Op:
    kind: str
    plan: Callable[[Any], DataFrame]      # store -> lazy frame
    force: Callable[[DataFrame], Any]     # lazy frame -> comparable answer
    expected: Any
    raw_bytes: int = 0                    # raw bytes the op returns/decodes
    probe: Any = None                     # the key of a point lookup


@dataclass
class OpResult:
    kind: str
    plan_s: float
    exec_s: float
    ok: bool
    raw_bytes: int
    jobs: int = 0
    group: str | None = None              # Spark job group of the op

    @property
    def total_s(self) -> float:
        return self.plan_s + self.exec_s


def run_op(op: Op, store, counters=None, tracer=None) -> OpResult:
    """Run one operation; with `counters` the Spark job count is taken
    from a fresh job group, with `tracer` the op is a root span. An
    operation that raises counts as failed (traceback on stderr)."""
    gid = counters.new_group() if counters is not None else None
    root = (tracer.op(f"op.{op.kind}") if tracer is not None
            else contextlib.nullcontext())
    t0 = t1 = time.perf_counter()
    try:
        with root:
            df = op.plan(store)
            t1 = time.perf_counter()
            with (tracer.span("session.exec") if tracer is not None
                  else contextlib.nullcontext()):
                ok = op.force(df) == op.expected
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    t2 = time.perf_counter()
    return OpResult(op.kind, t1 - t0, t2 - t1, ok, op.raw_bytes,
                    jobs=counters.jobs(gid) if gid is not None else 0,
                    group=gid)
