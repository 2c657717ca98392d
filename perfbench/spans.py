"""In-memory span tracer for the traced run.

Spans are recorded only from the benchmark's own files: the tracer
replaces a layer's public functions, under the names their callers
bind, with wrappers that open a span around the call. Each span holds
(id, parent, name, start, end, op id); self time is a span's duration
minus the time covered by its direct children. Nothing is patched in an
untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._next = 0
        self._patches: list[tuple] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, name, t0, t1, self.op_id))

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one benchmark operation; every span under it
        carries the op's id."""
        self.op_id = self._next
        try:
            with self.span(name) as sid:
                yield sid
        finally:
            self.op_id = None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` (a module global or a class attribute)
        by a wrapper that records span `name` around every call."""
        orig = (owner.__dict__[attr] if isinstance(owner, type)
                else getattr(owner, attr))

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def wrap_bound(self, modules, names, layer: str) -> None:
        """Wrap each of `names` in every module of `modules` that binds
        it (the module that defines it and each that imported it)."""
        for mod in modules:
            for n in names:
                if n in vars(mod):
                    self.wrap(mod, n, f"{layer}.{n}")

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1, op in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent,
                                    "name": name, "start": t0, "end": t1,
                                    "op": op}) + "\n")


def _child_time(spans) -> dict[int, float]:
    """Span id -> summed duration of its direct children."""
    child: dict[int, float] = defaultdict(float)
    for _sid, parent, _n, t0, t1, _op in spans:
        if parent is not None:
            child[parent] += t1 - t0
    return child


def durations(spans, name: str, self_only: bool = False) -> list[float]:
    """Durations (seconds) of every span called `name`; with
    `self_only`, minus the time of each span's direct children."""
    child = _child_time(spans) if self_only else defaultdict(float)
    return [t1 - t0 - child[sid] for sid, _p, n, t0, t1, _op in spans
            if n == name]


def self_times(spans, root_name: str | None = None) -> dict[str, list]:
    """Per-layer self time (seconds) inside each op.

    Returns {layer: [self seconds per op]} over the ops whose root span
    is named `root_name` (every op when None). The layer of a span is
    its name up to the first dot; the op's root span itself counts as
    layer "bench" (time the benchmark spends between layer calls)."""
    child = _child_time(spans)
    per_op: dict[int, dict[str, float]] = {
        sid: defaultdict(float) for sid, parent, name, *_ in spans
        if parent is None and root_name in (None, name)}
    for sid, _p, name, t0, t1, op in spans:
        if op in per_op:
            layer = "bench" if sid == op else name.split(".", 1)[0]
            per_op[op][layer] += t1 - t0 - child[sid]
    layers = {layer for d in per_op.values() for layer in d}
    return {layer: [per_op[r].get(layer, 0.0) for r in sorted(per_op)]
            for layer in layers}
