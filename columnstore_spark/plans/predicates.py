"""Shared predicate vocabulary for the multi-column query surface.

One place holds the normalized predicate shape every conjunctive /
disjunctive consumer speaks — `query_where`, `query_any`,
`explain_where`, and (round-5) the filtered analytics pushdowns
`topk(where=)` / `quantiles(where=)`:

    (column, kind, payload, logical_type)

with `kind` in {"eq", "in", "range", "null"}. The reference composes
`QueryByValue` one predicate at a time (`ColumnSegment.cs:38-92`);
at warehouse scale the win of a shared shape is that every consumer
gets the same manifest keep-set pruning, the same kernel-safety
gating, and the same exact Spark re-filter — no per-operator drift.

Moved out of `store.py` so the operator layer (`operators/topk.py`,
`operators/aggregate.py`) can consume predicates without importing the
facade (store imports operators at module level — the reverse import
would be circular).

NOTE for the next predicate `kind`: the kind -> kernel gather
dispatch is one function, `operators.decode.decode_matching_pred`.
Its two callers differ only in how they PICK the driving predicate:
the facade's probe planner (`store.TranscriptColumnStore._probe`)
takes the smallest manifest keep-set and always re-applies the full
conjunction; `operators.aggregate.quantiles` has no keep-set sizes at
operator level, so it prefers eq > in > null > range and skips
re-filtering an exact driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pruning import (
    prune_rowgroups_by_null,
    prune_rowgroups_by_range,
    prune_rowgroups_by_value,
    prune_rowgroups_by_values,
)

_INT_LOGICALS = {"int8", "int16", "int32", "int64",
                 "uint8", "uint16", "uint32", "uint64", "bool"}
_TS_LOGICALS = {"timestamp_s", "timestamp_ms", "timestamp_us",
                "timestamp_ns"}

_SCALAR_PROBES = (str, int, float, bool, bytes)


def _naive_utc(value):
    """tz-aware probes -> naive UTC (the decoded arrays' form; the
    session tz is pinned UTC so the instant is unchanged)."""
    import datetime as dt
    if isinstance(value, dt.datetime) and value.tzinfo is not None:
        return value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return value


def _exact_in_cond(column: str, probes) -> "F.Column":
    """Spark's exact IN predicate over non-null probes. `Column.isin`
    (the InSet-optimized form) only lifts scalar literals; array/
    struct/map probes go through an OR of `== lit(v)` equalities —
    `F.lit` builds nested literals where isin's boxing cannot.
    Equivalent semantics: the null members are already dropped."""
    import datetime as dt
    from decimal import Decimal

    scalars = (*_SCALAR_PROBES, Decimal, dt.date, dt.datetime)
    if all(isinstance(v, scalars) for v in probes):
        return F.col(column).isin(probes)
    cond = F.lit(False)
    for v in probes:
        cond = cond | (F.col(column) == F.lit(v))
    return cond


def _dedup_probes(values) -> list:
    """IN-list probes normalized: SQL-null members dropped, tz-aware
    datetimes made naive-UTC, duplicates collapsed — including
    UNHASHABLE probes (a list probe against a nested column must reach
    the decode+isin fallback, not die in a set)."""
    seen: set = set()
    unhashable: list = []
    out: list = []
    for v in values:
        if v is None:
            continue
        v = _naive_utc(v)
        try:
            if v in seen:
                continue
            seen.add(v)
        except TypeError:
            if any(v == u for u in unhashable):
                continue
            unhashable.append(v)
        out.append(v)
    return out


def _norm_one_pred(col: str, probe, lt: str):
    """One (column, probe) pair -> (col, kind, payload, lt) in the
    shared shape both multi-predicate queries consume: `None` IS NULL,
    2-tuple inclusive range, list/set IN-list (deduped; may come back
    EMPTY — matches nothing, each caller decides between empty-result
    and drop-the-branch), anything else equality. Timestamp probes
    normalize to naive-UTC exactly once, here."""
    if probe is None:
        return (col, "null", None, lt)
    if isinstance(probe, tuple) and len(probe) == 2:
        return (col, "range",
                (_naive_utc(probe[0]), _naive_utc(probe[1])), lt)
    if isinstance(probe, (list, set, frozenset)):
        return (col, "in", _dedup_probes(probe), lt)
    return (col, "eq", _naive_utc(probe), lt)


def _exact_pred_cond(norm, any_mode: bool):
    """Fold the normalized predicates into Spark's own filter —
    conjunction (`query_where`) or disjunction (`query_any`); result
    semantics are exactly the DataFrame combination's."""
    cond = F.lit(False) if any_mode else F.lit(True)
    for col, kind, payload, _lt in norm:
        c = F.col(col)
        if kind == "eq":
            one = c == F.lit(payload)
        elif kind == "in":
            one = _exact_in_cond(col, payload)
        elif kind == "range":
            one = c.between(F.lit(payload[0]), F.lit(payload[1]))
        else:
            one = c.isNull()
        cond = (cond | one) if any_mode else (cond & one)
    return cond


def normalize_where(segments: DataFrame, where, where_logical=None,
                    where_logicals=None):
    """Shared `where=` front door for the filtered analytics pushdowns
    (`topk`, `quantiles`): accepts the legacy single-equality
    `(column, value)` tuple or a `query_where`-shaped predicate dict
    `{column: probe}` (`None` IS NULL, 2-tuple inclusive range,
    list/set IN-list, anything else equality — conjunctive), and
    returns the normalized `(col, kind, payload, lt)` list. Logical
    types come from `where_logicals` (facade callers resolve them in
    one manifest job) or, for direct operator callers, from ONE job
    over the segments frame — a predicate's kernel-safety gate and
    typed pruning both need the true stored type, so resolving it
    here (rather than defaulting to the generic path) keeps direct
    calls exactly as pruned and exactly as safe as facade calls."""
    if where is None or where == {}:
        return []
    if isinstance(where, tuple):
        pairs = [(where[0], where[1])]
        lts = dict(where_logicals or {})
        if where_logical is not None:
            lts.setdefault(where[0], where_logical)
    else:
        pairs = list(where.items())
        lts = dict(where_logicals or {})
    missing = [c for c, _p in pairs if c not in lts]
    if missing:
        rows = (segments.where(F.col("column").isin(missing))
                .select("column", "logical_type").distinct().collect())
        lts.update({r["column"]: r["logical_type"] for r in rows})
    for c, _p in pairs:
        if not lts.get(c):
            raise ValueError(f"unknown column {c!r}")
    return [_norm_one_pred(c, p, lts[c]) for c, p in pairs]


def prune_conjunctive(segments: DataFrame, norm) -> DataFrame:
    """Chain every normalized predicate's manifest keep-condition over
    the segments frame — the operator-level AND prune (no id-list
    collection, no driver round-trips; each predicate contributes one
    metadata filter, all conservative: an unprunable (column, probe)
    pair keeps everything). The facade's `query_where` does the same
    intersection in id-list form to reach the parquet scan's
    PushedFilters; here the predicates stack as ordinary filters on
    the manifest-joined segments frame, which is what the analytics
    operators consume."""
    for col, kind, payload, lt in norm:
        lt_arg = lt or None
        if kind == "null":
            segments = prune_rowgroups_by_null(segments, col)
        elif kind == "in":
            segments = prune_rowgroups_by_values(segments, col, payload,
                                                 logical_type=lt_arg)
        elif kind == "range":
            segments = prune_rowgroups_by_range(segments, col, *payload,
                                                logical_type=lt_arg)
        else:
            segments = prune_rowgroups_by_value(segments, col, payload,
                                                logical_type=lt_arg)
    return segments


def _kernel_safe_probe(lt: str, value) -> bool:
    """True when the encoded-form kernels' exact-typed equality agrees
    with Spark's coercing equality for this (logical, probe) pair.
    Anything else routes through decode + Spark's own predicate — the
    kernels may only ever be a SUPERSET of Spark's semantics (the
    trailing .where narrows); a probe the kernel under-matches
    (string '7' on an int column, NaN on a float column, a float on a
    decimal column under double coercion) must not reach them."""
    import datetime as dt
    from decimal import Decimal
    if lt.startswith("nested:") or lt == "binary":
        return False
    if isinstance(value, bool):
        return lt in _INT_LOGICALS
    if lt == "string":
        return isinstance(value, str)
    if lt in _INT_LOGICALS:
        if isinstance(value, int):
            return True
        if isinstance(value, float):
            # Spark compares the INT COLUMN CAST TO DOUBLE against a
            # float probe; above 2^53 distinct int64s collapse onto
            # one double, so the kernel's exact int equality would
            # under-match (e.g. stored 2^53+1 matches probe 2^53+0.0
            # in Spark but not in the int domain). Same bijection
            # bound as codecs/bloom.py. Non-integral and NaN probes
            # route to the decode fallback.
            return (value == value and abs(value) < 2.0 ** 53
                    and value.is_integer())
        return False
    if lt in ("float32", "float64"):
        if isinstance(value, int):
            # Spark casts the literal to double; an int the double
            # domain can't hold exactly would make the kernel's
            # round-trip check under-match
            return float(value) == value
        if isinstance(value, float):
            return value == value  # NaN: Spark's NaN==NaN is true
        return False
    if lt.startswith("decimal"):
        # exact-decimal probes only; a float probe compares under
        # Spark's decimal->double cast, which the unscaled-int kernel
        # cannot reproduce
        return isinstance(value, (int, Decimal))
    if lt in _TS_LOGICALS:
        return isinstance(value, dt.datetime)
    if lt == "date32":
        # a datetime probe on a date column coerces date->timestamp in
        # Spark (midnight matches); the kernels treat it as a date
        return isinstance(value, dt.date) and not isinstance(
            value, dt.datetime)
    return False


def _kernel_safe_pred(kind: str, payload, lt: str) -> bool:
    """Kernel-safety lifted to a whole normalized predicate — the gate
    deciding whether this predicate may DRIVE an encoded
    matching-gather (`decode_matching[_in/_range/_null]`). The gather
    may only ever see predicates whose exact-typed kernel semantics
    equal Spark's (an unsafe driver would under-match, and no trailing
    re-filter can resurrect dropped rows). IS NULL rides the validity
    bitmap — safe for every codec; ranges are safe for every
    non-nested, non-binary logical (the range kernels compare in the
    stored domain with boundary rounding toward keeping more, then the
    exact Spark BETWEEN narrows)."""
    if kind == "eq":
        return _kernel_safe_probe(lt, payload)
    if kind == "in":
        return all(_kernel_safe_probe(lt, v) for v in payload)
    if kind == "range":
        return not (lt.startswith("nested:") or lt == "binary")
    return True  # null
