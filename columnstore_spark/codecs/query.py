"""Query on the encoded form — the reference's segment probes.

- ``query_value(payload, logical, v)`` -> list of (start, length) row
  ranges where the column equals ``v``: the reference's
  ``Decode(value)`` / ``QueryByValue`` inverted-index probe
  (`/root/reference/Outcompute.ColumnStore/Encodings/DefaultEncoding.cs:84-158`,
  `DictionaryEncoding.cs:157-210`, `Segments/ColumnSegment.cs:38-92` —
  result shape = ``RangeQueryResult(start,end)`` runs, not values).
- ``query_window(payload, logical, start, length)`` -> Arrow array of
  the row window: ``Decode(start,len)`` / ``QueryByRange``
  (`DefaultEncoding.cs:160-231`, `DictionaryEncoding.cs:212-267`,
  `ColumnSegment.cs:95-157`).

Fast paths operate on the compressed body without expansion:
- constant: the whole segment matches or nothing does.
- dict_rle: match the dictionary (one comparison per distinct value —
  the reference's key->bitmap trick `DictionaryEncoding.cs:174-203`),
  then scan run ranges; windows clip runs without expanding
  (early-exit + clip, `DictionaryEncoding.cs:243-258`).
- fsst: windows and gathers expand only the codes that cover the
  requested rows' bytes (`fsst.gather`), nulls or not.
Everything else decodes vectorized and scans the equality mask. In the
distributed engine these kernels sit BEHIND manifest pruning
(plans/pruning.py): segments whose min/max/distinct stats exclude the
predicate are never read at all.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import constant, dictrle, fsst
from . import values as V
from .segment import ARROW_IPC_CODEC_ID, decode_segment, read_frame, to_arrow

# frame grammar has exactly one reader (segment.read_frame)
_parse_frame = read_frame


def _mask_to_ranges(mask: np.ndarray) -> list[tuple[int, int]]:
    """Boolean row mask -> [(start, length)] runs of True."""
    if mask.size == 0 or not mask.any():
        return []
    m = mask.astype(np.int8)
    diff = np.diff(m, prepend=0, append=0)
    starts = np.flatnonzero(diff == 1)
    ends = np.flatnonzero(diff == -1)
    return [(int(s), int(e - s)) for s, e in zip(starts, ends)]


def _dict_runs(body: memoryview, logical: str):
    """dict_rle body -> (uniques, run_idx, run_starts, run_len); the
    body grammar itself is parsed by dictrle.parse_runs (one reader,
    shared with decode)."""
    uniques, run_idx, run_len = dictrle.parse_runs(body, logical)
    n_runs = run_idx.size
    starts = np.zeros(n_runs, dtype=np.int64)
    if n_runs > 1:
        np.cumsum(run_len[:-1], out=starts[1:])
    return uniques, run_idx, starts, run_len


def _decimal_probe_unscaled(logical: str, value):
    """Rescale a decimal probe to the stored unscaled-int domain.
    Returns None when the probe can't be represented at the column's
    scale (then nothing can match)."""
    from decimal import Decimal, InvalidOperation

    scale = int(logical.rsplit("_", 1)[1])
    try:
        d = Decimal(value).scaleb(scale)
    except (InvalidOperation, ValueError, TypeError):
        return None
    if d != d.to_integral_value():
        return None
    unscaled = int(d)
    # out-of-int64 probes can't exist in a decimal64 column — no match
    # (not an OverflowError from np.int64() downstream)
    if not -(1 << 63) <= unscaled < (1 << 63):
        return None
    return unscaled


_NO_HITS = np.empty(0, dtype=np.int64)


def _dict_key_hits(uniques, logical: str, value) -> np.ndarray:
    """Indices of EVERY dictionary slot equal to the probe. A float
    dictionary can hold 0.0 and -0.0 as distinct slots that compare
    equal — all of them must hit, not just the first. Mistyped probes
    return no hits (same contract as the generic decoded-path probe),
    never raise."""
    if logical in V.VAR_LOGICAL:
        arr = V.var_chunk_to_arrow(uniques, logical)
        try:
            mask = pc.equal(arr, pa.scalar(value, type=arr.type))
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError,
                ValueError, TypeError):
            return _NO_HITS
        return np.flatnonzero(np.asarray(pc.fill_null(mask, False)))
    if logical.startswith("decimal64_"):
        # stored form is the unscaled int64; rescale the probe instead
        # of truncating it (Decimal('1.23') must hit 123 at scale 2)
        unscaled = _decimal_probe_unscaled(logical, value)
        if unscaled is None:
            return _NO_HITS
        return np.flatnonzero(uniques == np.int64(unscaled))
    try:
        cast = np.asarray(value, dtype=uniques.dtype)
    except (TypeError, ValueError, OverflowError):
        return _NO_HITS
    if uniques.dtype.kind == "M":
        # datetime64[ns].item() returns an int (never equal to the
        # datetime probe); do the lossy-cast check in the numpy domain
        # at the probe's own unit instead
        try:
            probe = np.datetime64(value)
        except (TypeError, ValueError):
            return _NO_HITS
        if cast != probe:  # unit truncation (sub-precision probe)
            return _NO_HITS
    elif cast.item() != value:
        # a lossy cast (7.5 -> 7) must report no-match, not a false hit
        return _NO_HITS
    return np.flatnonzero(uniques == cast)


def query_value(payload: bytes | memoryview, logical: str,
                value) -> list[tuple[int, int]]:
    """Row ranges where the segment equals `value` (non-null probe)."""
    codec, n, validity, body = _parse_frame(payload)

    if validity is None and codec == constant.CODEC_ID:
        arr = decode_segment(payload, logical)
        if n and arr[0].as_py() == value:
            return [(0, n)]
        return []

    if validity is None and codec == dictrle.CODEC_ID:
        uniques, run_idx, starts, run_len = _dict_runs(body, logical)
        keys = _dict_key_hits(uniques, logical, value)
        if keys.size == 0:
            return []
        hit = np.isin(run_idx, keys)
        return [(int(s), int(ln)) for s, ln
                in zip(starts[hit], run_len[hit])]

    # generic: decode vectorized, scan equality mask (nulls never match;
    # a probe unrepresentable in the column's type matches nothing)
    arr = decode_segment(payload, logical)
    mask = _generic_eq_mask(arr, value)
    return [] if mask is None else _mask_to_ranges(mask)


def _generic_eq_mask(arr: pa.Array, value) -> np.ndarray | None:
    """Equality mask of a decoded array against one probe, under the
    same representability contract as the dictionary probe: None when
    the probe can't be represented in the column's type (then nothing
    matches); nulls never match."""
    try:
        needle = pa.scalar(value, type=arr.type)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, ValueError):
        return None
    # pa.scalar silently truncates (7.5 -> int 7): a numeric probe that
    # doesn't round-trip is unrepresentable in the column -> no match
    if (isinstance(value, (int, float)) and not isinstance(value, bool)
            and needle.as_py() != value):
        return None
    mask = pc.fill_null(pc.equal(arr, needle), False)
    return np.asarray(mask)


def query_values(payload: bytes | memoryview, logical: str,
                 values) -> list[tuple[int, int]]:
    """Row ranges where the segment equals ANY of `values` — the
    IN-list probe, one pass over the encoded form. Null probes are
    dropped (SQL: `x IN (..., NULL)` never evaluates true); an empty
    effective list matches nothing.

    Same fast-path structure as `query_value` (which it generalizes):
    the dictionary is tested once per probe value and the matching
    runs are emitted without expansion; generic codecs decode ONCE and
    OR the per-value equality masks. The reference's per-value
    `QueryByValue` (`ColumnSegment.cs:38-92`) composed across a probe
    batch without re-reading the segment."""
    probes = [v for v in values if v is not None]
    if not probes:
        return []
    codec, n, validity, body = _parse_frame(payload)

    if validity is None and codec == constant.CODEC_ID:
        arr = decode_segment(payload, logical)
        if n and any(arr[0].as_py() == v for v in probes):
            return [(0, n)]
        return []

    if validity is None and codec == dictrle.CODEC_ID:
        uniques, run_idx, starts, run_len = _dict_runs(body, logical)
        keys = np.unique(np.concatenate(
            [_dict_key_hits(uniques, logical, v) for v in probes]))
        if keys.size == 0:
            return []
        hit = np.isin(run_idx, keys)
        return [(int(s), int(ln)) for s, ln
                in zip(starts[hit], run_len[hit])]

    arr = decode_segment(payload, logical)
    mask: np.ndarray | None = None
    for v in probes:
        m = _generic_eq_mask(arr, v)
        if m is not None:
            mask = m if mask is None else (mask | m)
    return [] if mask is None else _mask_to_ranges(mask)


def query_contains(payload: bytes | memoryview, logical: str,
                   needle: str) -> list[tuple[int, int]]:
    """Row ranges where the STRING segment contains `needle` (SQL
    LIKE '%needle%') — the text-search staple over the encoded form.
    Dictionary segments substring-test each DISTINCT value once and
    emit the matching runs without expanding a row (a low-cardinality
    column pays NDV tests regardless of row count); other codecs
    decode this one column and run Arrow's vectorized
    `match_substring`. Byte-level containment of valid UTF-8 in valid
    UTF-8 equals codepoint containment (UTF-8 is self-synchronizing),
    so the result matches Spark's `contains` exactly; nulls never
    match. An empty needle matches every non-null row (LIKE '%%')."""
    if logical != "string":
        raise ValueError("query_contains needs a string column; got "
                         f"{logical!r}")
    codec, n, validity, body = _parse_frame(payload)

    if validity is None and codec == constant.CODEC_ID:
        arr = decode_segment(payload, logical)
        if n and needle in arr[0].as_py():
            return [(0, n)]
        return []

    if validity is None and codec == dictrle.CODEC_ID:
        uniques, run_idx, starts, run_len = _dict_runs(body, logical)
        arr = V.var_chunk_to_arrow(uniques, logical)
        key_mask = np.asarray(pc.fill_null(
            pc.match_substring(arr, needle), False))
        hit = key_mask[run_idx]
        return [(int(s), int(ln)) for s, ln
                in zip(starts[hit], run_len[hit])]

    arr = decode_segment(payload, logical)
    mask = pc.fill_null(pc.match_substring(arr, needle), False)
    return _mask_to_ranges(np.asarray(mask))


def query_nulls(payload: bytes | memoryview,
                logical: str) -> list[tuple[int, int]]:
    """Row ranges where the segment IS NULL — answered from the frame's
    validity bitmap alone for every scalar codec (nulls are hoisted to
    the frame header at encode time, so no body byte is read); nested
    Arrow-IPC segments carry nulls inside the stream body and decode
    this one column to read its validity. A frame without the
    has-nulls flag holds no nulls by construction."""
    codec, n, validity, _body = _parse_frame(payload)
    if validity is not None:
        return _mask_to_ranges(~validity)
    if codec == ARROW_IPC_CODEC_ID:
        arr = decode_segment(payload, logical)
        if arr.null_count == 0:
            return []
        return _mask_to_ranges(np.asarray(pc.is_null(arr)))
    return []


def value_counts(payload: bytes | memoryview, logical: str):
    """Distinct values + exact counts of one segment, WITHOUT row
    expansion on the compressed fast paths — the encoded-domain
    aggregation the reference's dictionary layout makes free
    (`DictionaryEncoding.cs:174-203` keys->ranges: the dictionary IS
    the distinct set, the run lengths ARE the counts).

    - dict_rle: bincount run lengths per code — never materializes a
      row.
    - constant: one (value, n_valid) pair.
    - everything else: vectorized decode of this one column, then
      Arrow value_counts (still never widens beyond the column).

    Returns (values: pa.Array, counts: np.ndarray[int64], n_nulls);
    values/counts are None for an all-null segment.
    """
    codec, n, validity, body = _parse_frame(payload)
    n_nulls = 0 if validity is None else int(n - validity.sum())
    n_valid = n - n_nulls
    if n_valid == 0:
        return None, None, n_nulls
    if codec == dictrle.CODEC_ID:
        uniques, run_idx, run_len = dictrle.parse_runs(body, logical)
        k = (uniques.size if isinstance(uniques, V.VarChunk)
             else len(uniques))
        # float64 accumulation is exact for counts below 2^53
        counts = np.bincount(run_idx, weights=run_len.astype(np.float64),
                             minlength=k).astype(np.int64)
        return to_arrow(uniques, None, logical, k), counts, n_nulls
    if codec == constant.CODEC_ID:
        vals = to_arrow(constant.decode(body, 1, logical), None, logical, 1)
        return vals, np.array([n_valid], dtype=np.int64), n_nulls
    arr = decode_segment(payload, logical)
    vc = pc.value_counts(arr.drop_null())
    return (vc.field("values"),
            vc.field("counts").to_numpy(zero_copy_only=False), n_nulls)


def group_codes(payload: bytes | memoryview, logical: str):
    """One segment -> (distinct values, per-ROW group codes) — the
    row-aligned companion to `value_counts` that grouped aggregation
    needs: code[i] identifies row i's group (−1 = SQL NULL group), and
    `values[code]` is its value. dict_rle segments never materialize a
    value: the stored run stream IS the code stream
    (`DictionaryEncoding.cs:174-203` — the dictionary as a free
    grouping index), expanded to row positions with one np.repeat of
    int codes. Other codecs decode this one column and
    dictionary-encode it.

    Returns (values: pa.Array | None, codes: np.ndarray[int64] of
    length n_rows); values is None for an all-null segment (every code
    is −1).
    """
    codec, n, validity, body = _parse_frame(payload)
    n_valid = n if validity is None else int(validity.sum())
    if n_valid == 0:
        return None, np.full(n, -1, dtype=np.int64)
    if codec == dictrle.CODEC_ID:
        uniques, run_idx, run_len = dictrle.parse_runs(body, logical)
        k = (uniques.size if isinstance(uniques, V.VarChunk)
             else len(uniques))
        valid_codes = np.repeat(run_idx, run_len)
        if validity is None:
            return to_arrow(uniques, None, logical, k), valid_codes
        codes = np.full(n, -1, dtype=np.int64)
        codes[validity] = valid_codes
        return to_arrow(uniques, None, logical, k), codes
    if codec == constant.CODEC_ID:
        vals = to_arrow(constant.decode(body, 1, logical), None, logical, 1)
        if validity is None:
            return vals, np.zeros(n, dtype=np.int64)
        codes = np.full(n, -1, dtype=np.int64)
        codes[validity] = 0
        return vals, codes
    arr = decode_segment(payload, logical)
    d = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    d = d.dictionary_encode()
    codes = (d.indices.fill_null(-1)
             .to_numpy(zero_copy_only=False).astype(np.int64))
    return d.dictionary, codes


def _widened_bounds(dtype_kind: str, lo, hi, logical: str):
    """Convert range bounds into the stored domain, WIDENED (lo down,
    hi up): the caller re-applies the exact predicate on the decoded
    rows, so over-selection is safe and under-selection impossible.
    Returns (lo_w, hi_w) or None when no sound conversion exists
    (callers then fall back to the whole segment)."""
    import datetime as dt
    import math
    from decimal import ROUND_CEILING, ROUND_FLOOR, Decimal, InvalidOperation

    def _num(v, up: bool):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, (int, np.integer)):
            return int(v)
        if isinstance(v, (float, np.floating)):
            if v != v:
                return None
            if math.isinf(v):
                # an open-ended bound: any int beyond every storable
                # value (python ints are unbounded; the int-dtype clamp
                # below narrows it to the dtype's range)
                return (1 << 127) if v > 0 else -(1 << 127)
            if abs(v) >= 2.0 ** 53:
                # Spark evaluates the predicate in the DOUBLE domain,
                # where int64s this large collapse onto shared doubles
                # (2^54-1 rounds UP to 2^54): widen past the adjacent
                # double so every int that ROUNDS onto the bound stays
                # inside the superset the exact re-filter narrows
                v = math.nextafter(float(v),
                                   math.inf if up else -math.inf)
            return math.ceil(v) if up else math.floor(v)
        return None

    if logical.startswith("decimal64_"):
        scale = int(logical.rsplit("_", 1)[1])
        try:
            dlo = Decimal(lo).scaleb(scale).to_integral_value(ROUND_FLOOR)
            dhi = Decimal(hi).scaleb(scale).to_integral_value(ROUND_CEILING)
            # int() inside the try: Decimal('Infinity') (a float('inf')
            # bound) raises OverflowError here -> full-segment fallback
            return int(dlo), int(dhi)
        except (InvalidOperation, ValueError, TypeError, OverflowError):
            return None
    if logical.startswith("timestamp_") or logical == "date32":
        # handled at the Arrow layer (pa.scalar on datetime/date);
        # decoded arrays are tz-naive UTC, so normalize aware probes
        def _naive(x):
            if isinstance(x, dt.datetime) and x.tzinfo is not None:
                return x.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return x
        if isinstance(lo, (dt.date, dt.datetime)) and \
                isinstance(hi, (dt.date, dt.datetime)):
            return _naive(lo), _naive(hi)
        return None
    if dtype_kind in "iu":
        lo_w, hi_w = _num(lo, up=False), _num(hi, up=True)
        if lo_w is None or hi_w is None:
            return None
        return lo_w, hi_w
    if dtype_kind == "f":
        try:
            lo_w, hi_w = float(lo), float(hi)
        except (TypeError, ValueError):
            return None
        if lo_w != lo_w or hi_w != hi_w:
            return None
        return lo_w, hi_w
    return None


def query_range(payload: bytes | memoryview, logical: str,
                lo, hi) -> list[tuple[int, int]]:
    """Row ranges where lo <= value <= hi MAY hold — a conservative
    SUPERSET (bounds widened toward the outside; unconvertible probes
    return the whole segment). Callers re-apply the exact predicate on
    the gathered rows; nulls never match.

    Fast path: dict_rle null-free segments test the dictionary only
    (one comparison pair per distinct value) and emit the runs of
    in-range keys without expanding."""
    codec, n, validity, body = _parse_frame(payload)
    full = [(0, n)] if n else []

    if validity is None and codec == dictrle.CODEC_ID:
        uniques, run_idx, starts, run_len = _dict_runs(body, logical)
        if logical in V.VAR_LOGICAL:
            if not (isinstance(lo, str) and isinstance(hi, str)
                    and logical == "string"
                    and lo.isascii() and hi.isascii()):
                return full  # byte order != UTF-16 order beyond ASCII
            arr = V.var_chunk_to_arrow(uniques, logical)
            key_mask = np.asarray(
                pc.and_(pc.greater_equal(arr, pa.scalar(lo)),
                        pc.less_equal(arr, pa.scalar(hi))))
        else:
            b = _widened_bounds(np.dtype(uniques.dtype).kind, lo, hi,
                                logical)
            if b is None:
                return full
            lo_w, hi_w = b
            info = (np.iinfo(uniques.dtype)
                    if np.dtype(uniques.dtype).kind in "iu" else None)
            if info is not None:
                if hi_w < info.min or lo_w > info.max:
                    return []
                lo_w = max(lo_w, info.min)
                hi_w = min(hi_w, info.max)
            key_mask = (uniques >= uniques.dtype.type(lo_w)) & \
                       (uniques <= uniques.dtype.type(hi_w))
        hit = key_mask[run_idx]
        return [(int(s), int(ln)) for s, ln
                in zip(starts[hit], run_len[hit])]

    # generic: decode vectorized, widened-bounds mask
    arr = decode_segment(payload, logical)
    kind = "f" if pa.types.is_floating(arr.type) else (
        "i" if (pa.types.is_integer(arr.type) or pa.types.is_decimal(
            arr.type)) else "o")
    if pa.types.is_timestamp(arr.type) or pa.types.is_date(arr.type):
        b = _widened_bounds("o", lo, hi, logical)
    elif pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        b = ((lo, hi) if isinstance(lo, str) and isinstance(hi, str)
             and lo.isascii() and hi.isascii() else None)
    elif logical.startswith("decimal64_") or logical.startswith(
            "decimal128_"):
        from decimal import Decimal, InvalidOperation
        try:
            dlo, dhi = Decimal(lo), Decimal(hi)
        except (InvalidOperation, ValueError, TypeError):
            b = None
        else:
            if dlo.is_nan() or dhi.is_nan():
                b = None
            else:
                # open-ended (infinite) bounds clamp to the decimal
                # type's extremes so the mask path still narrows
                # instead of falling back to the whole segment
                _, p, s = logical.split("_")
                ext = Decimal(10 ** int(p) - 1).scaleb(-int(s))
                if dlo.is_infinite():
                    dlo = -ext if dlo < 0 else ext
                if dhi.is_infinite():
                    dhi = -ext if dhi < 0 else ext
                b = (dlo, dhi)
    else:
        b = _widened_bounds(kind, lo, hi, logical)
    if b is None:
        return full
    lo_w, hi_w = b
    if (pa.types.is_integer(arr.type)
            and isinstance(lo_w, int) and isinstance(hi_w, int)):
        # same dtype clamp as the dict path: an open-ended bound's
        # +/-2^127 sentinel must narrow to the stored range, not
        # overflow pa.scalar into the full-segment fallback
        info = np.iinfo(arr.type.to_pandas_dtype())
        if hi_w < info.min or lo_w > info.max:
            return []
        lo_w, hi_w = max(lo_w, info.min), min(hi_w, info.max)
    try:
        slo = pa.scalar(lo_w, type=arr.type)
        shi = pa.scalar(hi_w, type=arr.type)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, ValueError):
        return full
    mask = pc.and_(pc.greater_equal(arr, slo), pc.less_equal(arr, shi))
    mask = pc.fill_null(mask, False)
    return _mask_to_ranges(np.asarray(mask))


def _empty(payload: bytes | memoryview, logical: str) -> pa.Array:
    """0-row array of the segment's type WITHOUT decoding the body —
    callers probing many segments must not pay a full decode per
    non-matching segment just to build an empty slice. Nested logicals
    keep the decode-slice fallback (their arrow type lives in the IPC
    body, and _pa_type's scalar mapping doesn't cover them)."""
    if logical.startswith("nested:"):
        return decode_segment(payload, logical).slice(0, 0)
    from .segment import _pa_type
    return pa.array([], type=_pa_type(logical))


def gather_ranges(payload: bytes | memoryview, logical: str,
                  ranges: list[tuple[int, int]]) -> pa.Array:
    """Concatenated rows of `ranges` [(start, len), ...] from one
    segment — the reference's QueryByValue composition: ranges found on
    one column are materialized from the others
    (`ColumnSegment.QueryByRange` per range, `ColumnSegment.cs:95-157`).
    Bit-identical to the concatenated slices of `decode_segment`.

    Two codecs gather without expanding the segment: dict_rle null-free
    segments clip runs per range (the window fast path), and FSST
    segments, with or without nulls, expand only the codes that cover
    the ranges' bytes (`fsst.gather`). Everything else decodes the
    segment ONCE and gathers slices — never once per range."""
    if not ranges:
        return _empty(payload, logical)
    codec, n, validity, body = _parse_frame(payload)
    if validity is None and codec == dictrle.CODEC_ID:
        # parse the frame ONCE (a probe can yield one range per run —
        # re-running the dictionary decode per range would make this
        # O(n_ranges x dict_size)); clip runs per range off the shared
        # parse
        runs = _dict_runs(body, logical)
        parts = [p.combine_chunks() if isinstance(p, pa.ChunkedArray) else p
                 for p in (_dict_window(runs, logical, s, ln, n)
                           for s, ln in ranges)]
        return parts[0] if len(parts) == 1 else pa.concat_arrays(parts)
    if codec == fsst.CODEC_ID:
        return _fsst_gather(body, n, validity, logical, ranges)
    arr = decode_segment(payload, logical)
    if len(ranges) == 1:
        s, ln = ranges[0]
        return arr.slice(s, ln)
    return pa.concat_arrays([arr.slice(s, ln) for s, ln in ranges])


def _fsst_gather(body: memoryview, n: int, validity: np.ndarray | None,
                 logical: str, ranges: list[tuple[int, int]]) -> pa.Array:
    """Row ranges (within its `n` rows) of an FSST segment. The body
    stores only the non-null values: a row range maps to the value
    range between its two validity prefix counts, and the ranges'
    validity bits are reattached around the gathered values."""
    if validity is None:
        return V.var_chunk_to_arrow(fsst.gather(body, n, ranges), logical)
    before = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(validity, out=before[1:])
    vals = fsst.gather(body, int(before[-1]),
                       [(int(before[s]), int(before[s + ln] - before[s]))
                        for s, ln in ranges])
    sel = np.concatenate([validity[s:s + ln] for s, ln in ranges])
    return to_arrow(vals, sel, logical, int(sel.size))


def query_window(payload: bytes | memoryview, logical: str,
                 start: int, length: int) -> pa.Array:
    """The row window [start, start+length) of the segment."""
    codec, n, validity, body = _parse_frame(payload)
    start = max(0, start)
    length = max(0, min(length, n - start))
    if length == 0:
        return _empty(payload, logical)

    if validity is None and codec == dictrle.CODEC_ID:
        return _dict_window(_dict_runs(body, logical), logical,
                            start, length, n)
    if codec == fsst.CODEC_ID:
        return _fsst_gather(body, n, validity, logical, [(start, length)])

    return decode_segment(payload, logical).slice(start, length)


def _dict_window(runs, logical: str, start: int, length: int,
                 n: int) -> pa.Array:
    """Rows [start, start+length) off an already-parsed dict_rle frame:
    clip runs to the window without expanding the whole segment
    (the reference's early-exit + clip, DictionaryEncoding.cs:243-258)."""
    uniques, run_idx, starts, run_len = runs
    start = max(0, start)
    length = max(0, min(length, n - start))
    end = start + length
    lo = int(np.searchsorted(starts, start, side="right")) - 1
    hi = int(np.searchsorted(starts, end, side="left"))
    idx = run_idx[lo:hi]
    s = starts[lo:hi].copy()
    ln = run_len[lo:hi].copy()
    ln = np.minimum(s + ln, end) - np.maximum(s, start)
    codes = np.repeat(idx, ln)
    if logical in V.VAR_LOGICAL:
        return V.var_chunk_to_arrow(uniques, logical).take(pa.array(codes))
    # route through the shared reassembly so parametrized logicals
    # (decimal64_* unscaled ints) come back as their Arrow type,
    # matching decode_segment's output exactly
    return to_arrow(uniques[codes], None, logical, int(codes.size))
