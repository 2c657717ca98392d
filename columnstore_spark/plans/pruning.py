"""Manifest-driven segment pruning — the Spark re-expression of the
reference's query-on-encoded fast paths: hash skip-scan
(`DefaultEncoding.cs:104-113`), dictionary bitmap filter
(`DictionaryEncoding.cs:174-203`) and `ColumnSegment.QueryByValue`
(`/root/reference/Outcompute.ColumnStore/Segments/ColumnSegment.cs:38-92`).

Instead of per-value hashes inside the payload we keep min/max/ndv per
segment in the manifest; an equality/range predicate eliminates whole
rowgroups *before* any decode work — the same role Parquet row-group
statistics play. Pruning is conservative: it never changes results, only
skips provably-non-matching segments.

Bound domains (round-2 verdict #1: lexicographic compare on numeric
reprs is NOT order-preserving and could drop matching rowgroups):

- integer family (ints, bool, timestamps/dates as epoch units, decimals
  as unscaled ints): typed ``min_num``/``max_num`` int64 manifest
  columns, compared in the value domain — the reference's typed
  ``Stats<T>(…, T Min, T Max)`` (`Sequences/Stats.cs:3`). Probes are
  rescaled into the stored domain (epoch unit, decimal scale) and
  clamped to int64 — clamping only ever widens the keep set.
- floats: double ``min_flt``/``max_flt`` bounds (exact upcast from
  float32); NaN-bearing segments carry null bounds and stay
  unprunable (NaN sits outside ordered comparisons).
- strings: ``min_repr``/``max_repr`` compare, gated to pure-ASCII
  bounds (Arrow computed min/max in UTF-8 byte order; Java compares
  UTF-16 units — the orders agree whenever one side is ASCII) and
  treating a repr at the 64-char truncation cap as unbounded.
- everything else (binary, non-ASCII strings, out-of-int64 numerics,
  nested): no pruning — every segment is kept.

Segments whose bounds are NULL because every value is null
(``n_nulls == n_rows``) can never match a non-null probe and are
always pruned.

Equality probes additionally consult the per-segment Bloom filter
(``codecs/bloom.py``) when the manifest carries one — the only
structure that can prune a point probe on a high-cardinality key
whose values interleave across rowgroups (conv_id lookups), where
min/max bounds keep everything. Blooms are equality-only; range
probes never consult them. Segments without a stored filter are kept
by the bloom condition itself, so it composes with the bounds test by
plain AND.
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_CEILING, ROUND_FLOOR, Decimal, InvalidOperation

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..codecs import bloom as _bloom
from ..codecs.stats import _REPR_CAP

_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1

#: sentinel: the probe provably matches nothing at this column's type
#: (e.g. an equality probe not representable at the decimal's scale)
CANNOT_MATCH = object()

_PLAIN_INT_LOGICALS = ["int8", "int16", "int32", "int64",
                       "uint8", "uint16", "uint32", "uint64", "bool"]
_TS_UNIT_US = {"timestamp_s": 1_000_000, "timestamp_ms": 1_000,
               "timestamp_us": 1}
_ASCII_RE = "^[\\x00-\\x7F]*$"


def _clamp(v: int) -> int:
    return min(max(int(v), _INT64_MIN), _INT64_MAX)


def _epoch_us(value: dt.datetime) -> int:
    """Exact microseconds since epoch (naive datetimes read as UTC —
    the engine pins spark.sql.session.timeZone=UTC, session.py)."""
    if value.tzinfo is None:
        value = value.replace(tzinfo=dt.timezone.utc)
    td = value - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds


def _div_round(v: int, unit: int, side: str):
    """v/unit rounded toward the conservative side ('lo' up, 'hi' down);
    'eq' returns CANNOT_MATCH when inexact."""
    q, r = divmod(v, unit)
    if r == 0:
        return q
    if side == "eq":
        return CANNOT_MATCH
    return q + 1 if side == "lo" else q


def _to_stored_num(logical: str, value, side: str):
    """Probe -> the column's stored int64 domain.

    Returns an int (clamped to int64 — sound: clamping widens the keep
    test), None when no sound conversion exists (pruning becomes a
    no-op), or CANNOT_MATCH for an equality probe provably absent.
    `side`: 'eq' | 'lo' | 'hi' — rounding direction for inexact probes.
    """
    if isinstance(value, bool):
        value = int(value)
    if logical in _PLAIN_INT_LOGICALS:
        if isinstance(value, (int, np.integer)):
            return _clamp(int(value))
        if isinstance(value, float):
            if value != value or value in (float("inf"), float("-inf")):
                return (CANNOT_MATCH if side == "eq"
                        else _clamp(_INT64_MAX if value > 0 else _INT64_MIN))
            if abs(value) >= 2.0 ** 53:
                # Spark compares the COLUMN cast to double: above 2^53
                # many int64s collapse onto each double (2^53+1 equals
                # probe 2^53+0.0; 2^54-1 rounds UP to a range bound of
                # 2^54), so no single stored int bounds the matches —
                # pruning degrades to keep-all, exactness untouched
                return None
            iv = int(value)
            if iv == value:
                return _clamp(iv)
            if side == "eq":
                return CANNOT_MATCH
            import math
            return _clamp(math.ceil(value) if side == "lo"
                          else math.floor(value))
        return None
    if logical == "date32":
        if isinstance(value, dt.datetime):
            return None  # ambiguous (time-of-day) — skip pruning
        if isinstance(value, dt.date):
            return (value - dt.date(1970, 1, 1)).days
        return None
    if logical in _TS_UNIT_US:
        if isinstance(value, dt.datetime):
            return _div_round(_epoch_us(value), _TS_UNIT_US[logical], side)
    if logical == "timestamp_ns":
        if isinstance(value, dt.datetime):
            return _clamp(_epoch_us(value) * 1000)
    if logical.startswith("decimal64_") or logical.startswith("decimal128_"):
        if isinstance(value, (float, np.floating)):
            # Spark compares decimal-vs-double by casting the COLUMN to
            # double: Decimal(0.1) is the float's full binary expansion,
            # not the decimal a user's 0.1 rounds to, so an exact
            # unscaled-domain test would prune rowgroups Spark matches.
            # No sound conversion -> no pruning.
            return None
        scale = int(logical.rsplit("_", 1)[1])
        try:
            d = Decimal(value).scaleb(scale)
        except (InvalidOperation, ValueError, TypeError):
            return None
        if d != d.to_integral_value():
            if side == "eq":
                return CANNOT_MATCH
            d = d.to_integral_value(
                rounding=ROUND_CEILING if side == "lo" else ROUND_FLOOR)
        return _clamp(int(d))
    return None


def _num_bounds_cond(plo, phi) -> Column:
    """Keep condition over segment rows given stored-domain probe
    bounds (Column or int literals). Segments without typed bounds are
    kept unless provably all-null."""
    plo = plo if isinstance(plo, Column) else F.lit(int(plo))
    phi = phi if isinstance(phi, Column) else F.lit(int(phi))
    return (F.when(F.col("min_num").isNotNull(),
                   (F.col("min_num") <= phi) & (F.col("max_num") >= plo))
            .otherwise(F.col("n_nulls") < F.col("n_rows")))


def _flt_bounds_cond(plo: float, phi: float) -> Column:
    """Float-domain keep condition (min_flt/max_flt doubles). Bounds
    are null for NaN-bearing segments — those stay unprunable (Spark
    orders NaN above everything; ordinary comparisons can't see it)."""
    return (F.when(F.col("min_flt").isNotNull(),
                   (F.col("min_flt") <= F.lit(float(phi)))
                   & (F.col("max_flt") >= F.lit(float(plo))))
            .otherwise(F.col("n_nulls") < F.col("n_rows")))


def _float_probe(value) -> float | None:
    """Probe -> double domain for float columns; None = can't prune
    (non-numeric probe, or NaN — Spark's NaN==NaN is true, and NaN
    sorts above +inf, outside ordered bounds)."""
    if isinstance(value, bool):
        return float(value)
    if isinstance(value, (int, float, np.integer, np.floating)):
        v = float(value)
        return None if v != v else v
    return None


def _string_bounds_cond(lo: str, hi: str) -> Column:
    """Keep condition for string-repr bounds: exact only when both
    reprs are pure ASCII; a repr at the truncation cap acts as an open
    bound on its side (a truncated min prefix is still a valid lower
    bound; a truncated max is not a valid upper bound)."""
    ascii_ok = (F.col("min_repr").rlike(_ASCII_RE)
                & F.col("max_repr").rlike(_ASCII_RE))
    in_bounds = ((F.col("min_repr") <= F.lit(hi))
                 & ((F.length("max_repr") >= _REPR_CAP)
                    | (F.col("max_repr") >= F.lit(lo))))
    return (F.when(F.col("min_repr").isNull(),
                   F.col("n_nulls") < F.col("n_rows"))
            .when(~ascii_ok, F.lit(True))
            .otherwise(in_bounds))


def _typed_cond(logical: str, lo, hi, eq: bool) -> Column | None:
    """Keep condition for one known logical type; None = cannot prune."""
    if logical == "string":
        if not (isinstance(lo, str) and isinstance(hi, str)):
            return None
        return _string_bounds_cond(lo, hi)
    if logical in ("float32", "float64"):
        plo, phi = _float_probe(lo), _float_probe(hi)
        if plo is None or phi is None:
            return None
        return _flt_bounds_cond(plo, phi)
    side_lo, side_hi = ("eq", "eq") if eq else ("lo", "hi")
    plo = _to_stored_num(logical, lo, side_lo)
    phi = plo if eq else _to_stored_num(logical, hi, side_hi)
    if plo is CANNOT_MATCH or phi is CANNOT_MATCH:
        return F.lit(False)
    if plo is None or phi is None:
        return None
    return _num_bounds_cond(plo, phi)


def _generic_cond(lo, hi, eq: bool) -> Column | None:
    """Keep condition when the column's logical type is unknown:
    dispatch on the manifest's logical_type per segment row, covering
    the probe-type/logical pairs convertible without a declared type.
    Rows of any other logical fall through to 'keep'."""
    if isinstance(lo, str) and isinstance(hi, str):
        return (F.when(F.col("logical_type") == "string",
                       _string_bounds_cond(lo, hi))
                .otherwise(F.lit(True)))

    branches: list[tuple[Column, Column]] = []

    def add(logicals: list[str], cond: Column | None) -> None:
        if cond is not None:
            branches.append((F.col("logical_type").isin(logicals), cond))

    side_lo, side_hi = ("eq", "eq") if eq else ("lo", "hi")
    for logicals in ([*_PLAIN_INT_LOGICALS], ["date32"],
                     ["timestamp_s"], ["timestamp_ms"],
                     ["timestamp_us"], ["timestamp_ns"]):
        logical = logicals[0]
        plo = _to_stored_num(logical, lo, side_lo)
        phi = plo if eq else _to_stored_num(logical, hi, side_hi)
        if plo is CANNOT_MATCH or phi is CANNOT_MATCH:
            add(logicals, F.lit(False))
        elif plo is not None and phi is not None:
            add(logicals, _num_bounds_cond(plo, phi))
    flo, fhi = _float_probe(lo), _float_probe(hi)
    if flo is not None and fhi is not None:
        add(["float32", "float64"], _flt_bounds_cond(flo, fhi))
    if not branches:
        return None
    cond: Column = F.lit(True)
    for match, c in reversed(branches):
        cond = F.when(match, c).otherwise(cond)
    return cond


_TYPED_BOUND_COLS = {"min_num": "long", "max_num": "long",
                     "min_flt": "double", "max_flt": "double",
                     "bloom": "array<bigint>", "sum_repr": "string"}


def _with_typed_bounds(df: DataFrame) -> DataFrame:
    """Back-compat shim: manifests persisted before the typed-bounds
    (or bloom) columns existed get them as NULLs — every condition then
    degrades to the conservative keep-unless-all-null branch instead of
    failing analysis on the missing column."""
    have = set(df.columns)
    for c, t in _TYPED_BOUND_COLS.items():
        if c not in have:
            df = df.withColumn(c, F.lit(None).cast(t))
    return df


def _bloom_eq_cond(value, logical_type: str | None) -> Column | None:
    """Bloom membership keep-condition for an equality probe
    (codecs/bloom.py); None when no bloom test applies. Segments
    without a stored filter are kept by the condition itself. With an
    unknown logical the test dispatches on the manifest's
    `logical_type` per row — one shared condition covers the whole
    plain-int family because their canonical probe bytes coincide
    (the wrapped int64 domain)."""
    if logical_type is not None:
        return _bloom.bloom_keep_cond(value, logical_type)
    if isinstance(value, str):
        families: list[list[str]] = [["string"]]
    elif isinstance(value, (bytes, bytearray, memoryview)):
        families = [["binary"]]
    elif isinstance(value, (bool, int, float, np.integer, np.floating)):
        families = [_PLAIN_INT_LOGICALS]
    else:
        return None
    cond: Column | None = None
    for logicals in families:
        c = _bloom.bloom_keep_cond(value, logicals[0])
        if c is not None:
            cond = F.when(F.col("logical_type").isin(logicals), c) \
                    .otherwise(cond if cond is not None else F.lit(True))
    return cond  # None = no family test applies (contract: cannot prune)


def _keep_cond(lo, hi, eq: bool, logical_type: str | None) -> Column | None:
    """Combined bounds + bloom keep-condition; None = cannot prune."""
    cond = (_typed_cond(logical_type, lo, hi, eq)
            if logical_type is not None else _generic_cond(lo, hi, eq))
    if eq:
        bc = _bloom_eq_cond(lo, logical_type)
        if bc is not None:
            cond = bc if cond is None else cond & bc
    return cond


def _prune(segments: DataFrame, column: str, lo, hi, eq: bool,
           logical_type: str | None) -> DataFrame:
    cond = _keep_cond(lo, hi, eq, logical_type)
    if cond is None:
        return segments
    keep = (_with_typed_bounds(segments)
            .where((F.col("column") == column) & cond)
            .select("rowgroup_id").distinct())
    return segments.join(keep, on="rowgroup_id", how="left_semi")


# above this many kept rowgroups an IN-list filter stops being a win
# (huge literal lists bloat the plan); callers fall back to the
# semi-join form, which scales to any id count
_ISIN_CAP = 10_000


def prune_rowgroup_ids(manifest: DataFrame, column: str, lo, hi, eq: bool,
                       logical_type: str | None = None) -> list[int] | None:
    """Kept rowgroup ids for one equality/range probe over a manifest
    (or segments) FRAME, or None when pruning cannot apply or the id
    set is too large for an IN-list plan: the frame's metadata columns
    come to the driver once (`toArrow`) and `keep_ids` decides there.
    The facade never calls this — it evaluates `keep_ids` on its
    driver-side snapshot with zero Spark jobs; this wrapper serves
    callers holding a frame.

    The caller turns the ids into `WHERE rowgroup_id IN (...)` on the
    payload-bearing segments table, which reaches the parquet scan as a
    pushed filter — whole parquet row groups of non-matching segments
    are never read. Past `_ISIN_CAP` ids callers fall back to the
    semi-join form (`prune_rowgroups_by_*`)."""
    return _capped(keep_ids(manifest_rows(manifest), column,
                            "eq" if eq else "range",
                            lo if eq else (lo, hi), logical_type))


def prune_rowgroups_by_value(segments: DataFrame, column: str, value,
                             logical_type: str | None = None) -> DataFrame:
    """Keep only rowgroups whose `column` segment may contain `value`.

    Pass `logical_type` (the column's manifest logical) for full typed
    pruning — the facade looks it up from the manifest; without it,
    pruning falls back to the probe-type dispatch in `_generic_cond`.
    """
    return _prune(segments, column, value, value, eq=True,
                  logical_type=logical_type)


def prune_rowgroups_by_range(segments: DataFrame, column: str,
                             lo, hi, logical_type: str | None = None,
                             ) -> DataFrame:
    return _prune(segments, column, lo, hi, eq=False,
                  logical_type=logical_type)


# per-value pruning stops paying past this many IN-list members: the
# OR-of-conditions expression grows linearly in the plan (each value
# contributes a bounds test AND a bloom test), while a list this long
# keeps most rowgroups anyway. Larger lists skip manifest pruning and
# rely on the encoded-form probe, which handles any probe count in one
# pass per segment.
_IN_PRUNE_CAP = 256


def _keep_cond_in(values, logical_type: str | None) -> Column | None:
    """OR of the per-value equality keep-conditions (typed bounds AND
    bloom membership per value): a rowgroup survives when ANY probe
    value may be present. None when any single value is unprunable —
    the whole IN-list then keeps everything (conservative) — or when
    the list exceeds `_IN_PRUNE_CAP` (the condition tree would bloat
    the manifest plan for little skipping). An empty list (after the
    caller drops SQL-null probes) matches nothing."""
    if len(values) > _IN_PRUNE_CAP:
        return None
    conds: list[Column] = []
    for v in values:
        c = _keep_cond(v, v, eq=True, logical_type=logical_type)
        if c is None:
            return None
        conds.append(c)
    if not conds:
        return F.lit(False)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def prune_rowgroup_ids_in(manifest: DataFrame, column: str, values,
                          logical_type: str | None = None,
                          ) -> list[int] | None:
    """IN-list analogue of `prune_rowgroup_ids`: kept rowgroup ids for
    `column IN (values)` (bounds + bloom per probe value, OR-combined),
    or None when pruning can't apply or the keep-set exceeds the
    IN-plan cap."""
    return _capped(keep_ids(manifest_rows(manifest), column, "in",
                            list(values), logical_type))


def prune_rowgroups_by_values(segments: DataFrame, column: str, values,
                              logical_type: str | None = None) -> DataFrame:
    """Keep only rowgroups whose `column` segment may contain ANY of
    `values` — the semi-join form of the IN-list prune."""
    cond = _keep_cond_in(values, logical_type)
    if cond is None:
        return segments
    keep = (_with_typed_bounds(segments)
            .where((F.col("column") == column) & cond)
            .select("rowgroup_id").distinct())
    return segments.join(keep, on="rowgroup_id", how="left_semi")


def prune_rowgroup_ids_null(manifest: DataFrame,
                            column: str) -> list[int] | None:
    """Kept rowgroup ids for `column IS NULL`: the manifest's exact
    per-segment `n_nulls` (every logical type carries it) makes this
    the one predicate that is always fully prunable. None only when
    the keep-set exceeds the IN-plan cap."""
    return _capped(keep_ids(manifest_rows(manifest), column, "null",
                            None, None))


def prune_rowgroups_by_null(segments: DataFrame, column: str) -> DataFrame:
    """Semi-join form of the IS NULL prune (any keep-set size)."""
    keep = (segments
            .where((F.col("column") == column) & (F.col("n_nulls") > 0))
            .select("rowgroup_id").distinct())
    return segments.join(keep, on="rowgroup_id", how="left_semi")


def _keep_cond_any(preds) -> Column | None:
    """Disjunctive keep-condition over manifest rows: a rowgroup
    survives when ANY predicate's keep-test passes on ITS column's
    manifest row. `preds` is a list of (column, kind, payload,
    logical_type) with kind in {'eq', 'range', 'in', 'null'}. Returns
    None when any single predicate is unprunable — under OR that
    predicate alone can keep every rowgroup, so the whole prune must
    no-op (conservative, never changes results)."""
    cond: Column | None = None
    for col, kind, payload, lt in preds:
        if kind == "null":
            c: Column | None = F.col("n_nulls") > 0
        elif kind == "in":
            c = _keep_cond_in(payload, lt)
        elif kind == "range":
            c = _keep_cond(payload[0], payload[1], eq=False,
                           logical_type=lt)
        else:
            c = _keep_cond(payload, payload, eq=True, logical_type=lt)
        if c is None:
            return None
        c = (F.col("column") == col) & c
        cond = c if cond is None else cond | c
    return cond


def prune_rowgroup_ids_any(manifest: DataFrame,
                           preds) -> list[int] | None:
    """Kept rowgroup ids for an OR of predicates — the UNION of the
    per-predicate keep-sets (`keep_ids_any`). None when pruning can't
    apply (any branch unprunable) or the keep-set exceeds the IN-plan
    cap; callers then fall back to `prune_rowgroups_any`."""
    return _capped(keep_ids_any(manifest_rows(manifest), preds))


def prune_rowgroups_any(segments: DataFrame, preds) -> DataFrame:
    """Semi-join form of the disjunctive prune (any keep-set size);
    no-ops when any branch is unprunable."""
    cond = _keep_cond_any(preds)
    if cond is None:
        return segments
    keep = (_with_typed_bounds(segments)
            .where(cond)
            .select("rowgroup_id").distinct())
    return segments.join(keep, on="rowgroup_id", how="left_semi")


def explain_prune(manifest: DataFrame, column: str, lo, hi, eq: bool,
                  logical_type: str | None = None) -> DataFrame:
    """EXPLAIN for the manifest pruner: one row per rowgroup with the
    decision the pruners would take for this probe and WHY.

    Columns: ``rowgroup_id``, ``n_rows``, ``kept`` (would the rowgroup
    survive), ``bounds_keep`` / ``bloom_keep`` (the two sub-tests;
    NULL when that test does not apply to this probe/column), and
    ``reason`` ('kept', 'bounds', 'bloom', or 'unprunable' when no
    test can speak and everything is conservatively kept).

    The decision columns are built from EXACTLY the keep-conditions
    the pruners push (`_keep_cond` and its parts) — this is the
    pruner's truth table, not a reimplementation, so what it shows is
    what `query_by_value`/`query_by_range` will do. Metadata-only:
    nothing here reads a payload byte, at any store size."""
    sub = _with_typed_bounds(manifest).where(F.col("column") == column)
    bounds = (_typed_cond(logical_type, lo, hi, eq)
              if logical_type is not None
              else _generic_cond(lo, hi, eq))
    bloomc = _bloom_eq_cond(lo, logical_type) if eq else None
    keep = _keep_cond(lo, hi, eq, logical_type)

    def opt(c):
        return F.lit(None).cast("boolean") if c is None else c

    kept = F.lit(True) if keep is None else keep
    reason = (F.when(kept, F.lit("kept"))
              .when(~opt(bounds), F.lit("bounds"))
              .when(~opt(bloomc), F.lit("bloom"))
              .otherwise(F.lit("unprunable")))
    if keep is None:
        reason = F.lit("unprunable")
    return (sub.select("rowgroup_id", "n_rows",
                       kept.alias("kept"),
                       opt(bounds).alias("bounds_keep"),
                       opt(bloomc).alias("bloom_keep"),
                       reason.alias("reason"))
            .orderBy("rowgroup_id"))


# -- keep-sets over driver-side manifest rows ---------------------------
#
# The same keep semantics as the Column conditions above, evaluated in
# plain Python over manifest rows already in the driver (the facade's
# Arrow snapshot, `sources/snapshot.py`): planning a probe launches no
# Spark job. Every test is three-valued like its SQL twin — True keeps
# the rowgroup, False or None (SQL NULL) drops it — so both evaluators
# return the same keep-set (pinned by tests/test_keepset_differential).

#: manifest columns the keep tests read
MANIFEST_KEEP_COLS = ("rowgroup_id", "column", "logical_type", "n_rows",
                      "n_nulls", "min_num", "max_num", "min_flt",
                      "max_flt", "min_repr", "max_repr", "bloom")


def manifest_rows(manifest) -> list[dict]:
    """Manifest (or segments) rows as dicts over MANIFEST_KEEP_COLS —
    from a pyarrow Table as is, from a Spark frame by one `toArrow` of
    just those columns (never the payload). Missing columns (manifests
    predating the typed bounds or blooms) read as None."""
    if isinstance(manifest, DataFrame):
        have = set(manifest.columns)
        manifest = manifest.select(
            *[c for c in MANIFEST_KEEP_COLS if c in have]).toArrow()
    have = set(manifest.column_names)
    cols = [c for c in MANIFEST_KEEP_COLS if c in have]
    rows = manifest.select(cols).to_pylist()
    for c in MANIFEST_KEEP_COLS:
        if c not in have:
            for r in rows:
                r[c] = None
    return rows


def _and(*vals):
    if any(v is False for v in vals):
        return False
    return None if any(v is None for v in vals) else True


def _or(*vals):
    if any(v is True for v in vals):
        return True
    return None if any(v is None for v in vals) else False


def _le(a, b):
    return None if a is None or b is None else a <= b


def _has_values(r) -> bool:
    """The fallback keep of a segment without bounds: not all-null."""
    return r["n_nulls"] < r["n_rows"]


def _never(_r) -> bool:
    return False


def _num_test(plo: int, phi: int):
    def test(r):
        if r["min_num"] is None:
            return _has_values(r)
        return _and(_le(r["min_num"], phi), _le(plo, r["max_num"]))
    return test


def _flt_test(plo: float, phi: float):
    def test(r):
        if r["min_flt"] is None:
            return _has_values(r)
        return _and(_le(r["min_flt"], phi), _le(plo, r["max_flt"]))
    return test


def _str_test(lo: str, hi: str):
    """Python str order is code point order, the UTF-8 byte order Spark
    compares strings in; ASCII is `str.isascii` (strictly ASCII, which
    keeps at least what the Column form's regex keeps)."""
    def test(r):
        mn, mx = r["min_repr"], r["max_repr"]
        if mn is None:
            return _has_values(r)
        if not mn.isascii() or (mx is not None and not mx.isascii()):
            return True
        capped = None if mx is None else len(mx) >= _REPR_CAP
        return _and(_le(mn, hi), _or(capped, _le(lo, mx)))
    return test


def _typed_test(logical: str, lo, hi, eq: bool):
    """`_typed_cond` as a row test; None = cannot prune."""
    if logical == "string":
        if not (isinstance(lo, str) and isinstance(hi, str)):
            return None
        return _str_test(lo, hi)
    if logical in ("float32", "float64"):
        plo, phi = _float_probe(lo), _float_probe(hi)
        if plo is None or phi is None:
            return None
        return _flt_test(plo, phi)
    side_lo, side_hi = ("eq", "eq") if eq else ("lo", "hi")
    plo = _to_stored_num(logical, lo, side_lo)
    phi = plo if eq else _to_stored_num(logical, hi, side_hi)
    if plo is CANNOT_MATCH or phi is CANNOT_MATCH:
        return _never
    if plo is None or phi is None:
        return None
    return _num_test(plo, phi)


def _dispatch(tests: dict):
    """Row test picking by the row's own logical type; rows of any
    other logical are kept. None when no logical has a test."""
    if not tests:
        return None

    def test(r):
        t = tests.get(r["logical_type"])
        return True if t is None else t(r)
    return test


def _generic_test(lo, hi, eq: bool):
    """`_generic_cond` as a row test: the column's logical is unknown,
    so each row dispatches on its own manifest logical_type."""
    if isinstance(lo, str) and isinstance(hi, str):
        return _dispatch({"string": _str_test(lo, hi)})
    tests: dict = {}
    for logicals in (_PLAIN_INT_LOGICALS, ["date32"], ["timestamp_s"],
                     ["timestamp_ms"], ["timestamp_us"], ["timestamp_ns"]):
        t = _typed_test(logicals[0], lo, hi, eq)
        if t is not None:
            tests.update(dict.fromkeys(logicals, t))
    flo, fhi = _float_probe(lo), _float_probe(hi)
    if flo is not None and fhi is not None:
        tests.update(dict.fromkeys(("float32", "float64"),
                                   _flt_test(flo, fhi)))
    return _dispatch(tests)


def _bloom_test(value, logical: str):
    """`bloom.bloom_keep_cond` as a row test: a NULL bloom keeps, a
    present one keeps when both probe bits are set. None when the
    probe has no canonical encoding at this logical."""
    data = _bloom.canon_bytes(value, logical)
    if data is None:
        return None
    hashes = _bloom._hash2(data)

    def test(r):
        words = r["bloom"]
        if words is None:
            return True
        if not words:
            return None  # pmod by a zero size is NULL in Spark too
        return _and(*(None if (w := words[(h >> 6) % len(words)]) is None
                      else bool((w >> (h & 63)) & 1) for h in hashes))
    return test


def _bloom_eq_test(value, logical_type: str | None):
    if logical_type is not None:
        return _bloom_test(value, logical_type)
    if isinstance(value, str):
        family = ["string"]
    elif isinstance(value, (bytes, bytearray, memoryview)):
        family = ["binary"]
    elif isinstance(value, (bool, int, float, np.integer, np.floating)):
        family = _PLAIN_INT_LOGICALS
    else:
        return None
    t = _bloom_test(value, family[0])
    return None if t is None else _dispatch(dict.fromkeys(family, t))


def _keep_test(lo, hi, eq: bool, logical_type: str | None):
    """Combined bounds + bloom row test (`_keep_cond`); None = cannot
    prune."""
    bounds = (_typed_test(logical_type, lo, hi, eq)
              if logical_type is not None else _generic_test(lo, hi, eq))
    bloom = _bloom_eq_test(lo, logical_type) if eq else None
    if bounds is None or bloom is None:
        return bounds or bloom
    return lambda r: _and(bounds(r), bloom(r))


def _pred_test(kind: str, payload, logical_type: str | None):
    """Row test of one normalized predicate (kind in eq / range / in /
    null); None = cannot prune."""
    if kind == "null":
        return lambda r: r["n_nulls"] > 0
    if kind == "range":
        return _keep_test(payload[0], payload[1], False, logical_type)
    if kind == "eq":
        return _keep_test(payload, payload, True, logical_type)
    if len(payload) > _IN_PRUNE_CAP:
        return None
    tests = [_keep_test(v, v, True, logical_type) for v in payload]
    if any(t is None for t in tests):
        return None
    return lambda r: _or(*(t(r) for t in tests))


def keep_ids(rows: list[dict], column: str, kind: str, payload,
             logical_type: str | None) -> list[int] | None:
    """Sorted ids of the rowgroups whose `column` row may match one
    normalized predicate, or None when the probe cannot prune (every
    rowgroup is then a candidate). An empty logical type means "none
    known" for the typed tests, as in the Column form."""
    test = _pred_test(kind, payload, logical_type)
    if test is None:
        return None
    return sorted({r["rowgroup_id"] for r in rows
                   if r["column"] == column and test(r) is True})


def keep_ids_any(rows: list[dict], preds) -> list[int] | None:
    """Keep-set of an OR of normalized predicates: the union of each
    branch's keep-set, or None when any branch cannot prune."""
    out: set = set()
    for col, kind, payload, lt in preds:
        ids = keep_ids(rows, col, kind, payload, lt)
        if ids is None:
            return None
        out.update(ids)
    return sorted(out)


def _capped(ids: list[int] | None) -> list[int] | None:
    return None if ids is None or len(ids) > _ISIN_CAP else ids
