"""Segment framing — codec registry, null handling, Arrow interop.

Payload grammar (shared by every codec, mirroring the reference's
codec-id-prefix convention `ReaderWriterExtensions.WriteEncodingId`,
`/root/reference/Outcompute.ColumnStore/ReaderWriterExtensions.cs:7-26`):

    varint codec_id
    varint n_rows
    u8 flags                      bit0 = has_nulls
    [if has_nulls] validity bitmap, ceil(n_rows/8) bytes, LSB-first
                   (bit i set = row i valid — Arrow validity convention,
                   the null-capable analogue of the reference's KeyWrapper
                   `ColumnSegmentBuilder.cs:37-67`)
    codec body over the non-null values only

Decode verifies the codec id like the reference's
`CheckEncodingId` (`DictionaryEncoding.cs:278-286`): unknown id -> error.
"""

from __future__ import annotations

import hashlib
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from . import alp, bitpack, chooser, constant, dictrle, forpack, fsst, plain, sequential
from . import values as V
from .stats import SegmentStats, _exact_sum_i64, _exact_sum_u64, collect

FLAG_HAS_NULLS = 1

SPLIT128_CODEC_ID = 30  # wide decimals: two int64 word columns
ARROW_IPC_CODEC_ID = 31  # nested types: Arrow IPC stream body

CODEC_NAMES = {
    plain.CODEC_ID: "plain",
    dictrle.CODEC_ID: "dict_rle",
    constant.CODEC_ID: "constant",
    sequential.CODEC_ID: "sequential",
    forpack.FOR_CODEC_ID: "for_bitpack",
    forpack.DELTA_CODEC_ID: "delta_bitpack",
    fsst.CODEC_ID: "fsst",
    alp.CODEC_ID: "alp",
    SPLIT128_CODEC_ID: "decimal_split",
    ARROW_IPC_CODEC_ID: "arrow_ipc",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}


# ---------------------------------------------------------------------------
# Arrow <-> physical chunk conversion
# ---------------------------------------------------------------------------

_PA_LOGICAL = {
    pa.int8(): "int8", pa.int16(): "int16", pa.int32(): "int32",
    pa.int64(): "int64", pa.uint8(): "uint8", pa.uint16(): "uint16",
    pa.uint32(): "uint32", pa.uint64(): "uint64",
    pa.float32(): "float32", pa.float64(): "float64", pa.bool_(): "bool",
}


def _is_nested(t: pa.DataType) -> bool:
    return (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t) or pa.types.is_map(t)
            or pa.types.is_struct(t))


def logical_of(arr: pa.Array) -> str:
    t = arr.type
    if _is_nested(t):
        # nested logicals carry the Spark DDL so decode can rebuild the
        # schema from manifest metadata alone (`nested:array<double>`)
        from pyspark.sql.pandas.types import from_arrow_type

        return f"nested:{from_arrow_type(t).simpleString()}"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp_{t.unit}"
    if pa.types.is_date32(t):
        return "date32"
    if pa.types.is_decimal(t):
        # decimal256 would be silently mis-read by the 16-byte-stride
        # extractors below — reject it outright (round-1 advice)
        if not pa.types.is_decimal128(t):
            raise TypeError(
                f"unsupported decimal width {t} (precision <= 38 only)")
        if t.precision > 18:
            return f"decimal128_{t.precision}_{t.scale}"
        return f"decimal64_{t.precision}_{t.scale}"
    if t in _PA_LOGICAL:
        return _PA_LOGICAL[t]
    raise TypeError(f"unsupported arrow type {t}")


def _pa_type(logical: str, original: pa.DataType | None = None) -> pa.DataType:
    if logical == "string":
        return pa.large_utf8()
    if logical == "binary":
        return pa.large_binary()
    if logical.startswith("timestamp_"):
        return pa.timestamp(logical.split("_", 1)[1])
    if logical == "date32":
        return pa.date32()
    if logical.startswith("decimal64_") or logical.startswith("decimal128_"):
        _, p, s = logical.split("_")
        return pa.decimal128(int(p), int(s))
    for t, name in _PA_LOGICAL.items():
        if name == logical:
            return t
    raise TypeError(f"unsupported logical {logical}")


def _decimal_words(dense: pa.Array) -> np.ndarray:
    """decimal128 array -> (n, 2) int64 words [lo, hi] (little-endian
    128-bit two's complement: value = hi * 2^64 + uint64(lo))."""
    buf = dense.buffers()[1]
    words = np.frombuffer(buf, dtype="<i8", count=2 * len(dense),
                          offset=dense.offset * 16)
    return words.reshape(-1, 2).copy()


def _decimal_to_unscaled(dense: pa.Array) -> np.ndarray:
    """decimal128 array -> unscaled int64 (precision <= 18 guaranteed:
    the 128-bit two's-complement value is a sign extension of its low
    word, so the little-endian low int64 IS the value)."""
    return np.ascontiguousarray(_decimal_words(dense)[:, 0])


def _unscaled_to_decimal(vals: np.ndarray, typ: pa.DataType,
                         validity: np.ndarray | None,
                         n: int) -> pa.Array:
    words = np.empty((len(vals), 2), dtype=np.int64)
    words[:, 0] = vals
    words[:, 1] = vals >> 63  # sign extension high word
    return _words_to_decimal(words, typ, validity, n)


def _words_to_decimal(words: np.ndarray, typ: pa.DataType,
                      validity: np.ndarray | None,
                      n: int) -> pa.Array:
    """(n_valid, 2) int64 [lo, hi] words -> decimal128 Arrow array."""
    full = np.zeros((n, 2), dtype=np.int64)
    if validity is None:
        full[:] = words
    else:
        full[validity] = words
    bufs = [None, pa.py_buffer(np.ascontiguousarray(full).tobytes())]
    null_count = 0
    if validity is not None:
        bufs[0] = pa.py_buffer(
            np.packbits(validity, bitorder="little").tobytes())
        null_count = int(n - validity.sum())
    return pa.Array.from_buffers(typ, n, bufs, null_count=null_count)


def from_arrow(arr: pa.Array) -> tuple[str, object, np.ndarray | None]:
    """-> (logical, non-null values as FixedChunk/VarChunk, validity or None)."""
    logical = logical_of(arr)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_timestamp(arr.type) and arr.type.tz is not None:
        # session-tz metadata only; the epoch values are already UTC
        arr = arr.cast(pa.timestamp(arr.type.unit))
    validity = None
    if arr.null_count:
        validity = np.asarray(arr.is_valid())
        dense = arr.drop_null()
    else:
        dense = arr
    if logical in V.VAR_LOGICAL:
        target = pa.large_utf8() if logical == "string" else pa.large_binary()
        if dense.type != target:
            dense = dense.cast(target)
        vals = V.var_chunk_from_arrow(dense)
    elif logical.startswith("decimal64_"):
        vals = _decimal_to_unscaled(dense)
    elif logical.startswith("decimal128_"):
        vals = _decimal_words(dense)
    elif logical.startswith("timestamp_") or logical == "date32":
        vals = dense.to_numpy(zero_copy_only=False)
        vals = vals.astype(V.FIXED_LOGICAL[logical])
    elif logical == "bool":
        vals = dense.to_numpy(zero_copy_only=False).astype(np.bool_)
    else:
        vals = dense.to_numpy(zero_copy_only=False).astype(
            V.FIXED_LOGICAL[logical])
    return logical, vals, validity


def to_arrow(vals, validity: np.ndarray | None, logical: str, n: int) -> pa.Array:
    """Re-assemble a (possibly null-bearing) Arrow array from decoded values."""
    if logical in V.VAR_LOGICAL:
        if validity is None:
            return V.var_chunk_to_arrow(vals, logical)
        full_lengths = np.zeros(n, dtype=np.int64)
        full_lengths[validity] = vals.lengths
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(full_lengths, out=off[1:])
        vbuf = pa.py_buffer(np.packbits(validity, bitorder="little").tobytes())
        typ = pa.large_utf8() if logical == "string" else pa.large_binary()
        return pa.Array.from_buffers(
            typ, n, [vbuf, pa.py_buffer(off.tobytes()), pa.py_buffer(vals.blob)],
            null_count=int(n - validity.sum()))
    if logical.startswith("decimal64_"):
        return _unscaled_to_decimal(vals, _pa_type(logical), validity, n)
    if logical.startswith("decimal128_"):
        return _words_to_decimal(vals, _pa_type(logical), validity, n)
    if validity is None:
        return pa.array(vals, type=_pa_type(logical))
    full = np.zeros(n, dtype=vals.dtype)
    full[validity] = vals
    return pa.array(full, type=_pa_type(logical), mask=~validity)


# ---------------------------------------------------------------------------
# Encode / decode one segment
# ---------------------------------------------------------------------------

_ENCODERS = {
    plain.CODEC_ID: plain.encode,
    dictrle.CODEC_ID: dictrle.encode,
    constant.CODEC_ID: constant.encode,
    sequential.CODEC_ID: sequential.encode,
    forpack.FOR_CODEC_ID: forpack.encode_for,
    forpack.DELTA_CODEC_ID: forpack.encode_delta,
    fsst.CODEC_ID: fsst.encode,
    alp.CODEC_ID: alp.encode,
}
_DECODERS = {
    plain.CODEC_ID: plain.decode,
    dictrle.CODEC_ID: dictrle.decode,
    constant.CODEC_ID: constant.decode,
    sequential.CODEC_ID: sequential.decode,
    forpack.FOR_CODEC_ID: forpack.decode_for,
    forpack.DELTA_CODEC_ID: forpack.decode_delta,
    fsst.CODEC_ID: fsst.decode,
    alp.CODEC_ID: alp.decode,
}


# ---------------------------------------------------------------------------
# Wide decimals (18 < p <= 38): the 128-bit unscaled value is split into
# lo/hi int64 word columns, each routed through the ordinary int64 codec
# family (chooser included). Matches the reference's full-`decimal`
# TestModel coverage (`Outcompute.ColumnStore.Tests/TestModel.cs`,
# exercised throughout `DeltaRowGroupTests.cs`) without widening the
# fast kernels: real-world wide decimals have a constant/low-cardinality
# hi word (sign extension), which the constant/dict codecs erase, and a
# FoR/delta-friendly lo word. All int64 word arithmetic is mod-2^64
# self-consistent, so full-range words round-trip exactly.
#
# Body grammar: for each of (lo, hi):  varint codec_id; varint len; body
# ---------------------------------------------------------------------------


def _encode_word(w: np.ndarray, mode: str) -> bytes:
    st = collect(w, "int64", int(w.size), 0)
    codec, _ = chooser.choose(st, "int64", w, mode)
    if codec == dictrle.CODEC_ID:
        body = dictrle.encode(w, "int64", codes=st.codes, uniques=st.uniques)
    else:
        body = _ENCODERS[codec](w, "int64")
    return bitpack.write_varint(codec) + bitpack.write_varint(len(body)) + body


def _encode_split128(words: np.ndarray, logical: str,
                     mode: str = chooser.MODE_SIZE) -> bytes:
    lo = np.ascontiguousarray(words[:, 0])
    hi = np.ascontiguousarray(words[:, 1])
    return _encode_word(lo, mode) + _encode_word(hi, mode)


def _decode_split128(body: memoryview, n: int, logical: str) -> np.ndarray:
    out = np.empty((n, 2), dtype=np.int64)
    pos = 0
    for col in range(2):
        codec, pos = bitpack.read_varint(body, pos)
        ln, pos = bitpack.read_varint(body, pos)
        if codec not in _DECODERS or codec == SPLIT128_CODEC_ID:
            raise ValueError(f"unknown word codec id {codec}")
        out[:, col] = _DECODERS[codec](body[pos:pos + ln], n, "int64")
        pos += ln
    return out


_DECODERS[SPLIT128_CODEC_ID] = _decode_split128


def _int128(row: np.ndarray) -> int:
    """[lo, hi] int64 words -> signed 128-bit Python int."""
    return (int(row[1]) << 64) | (int(row[0]) & 0xFFFFFFFFFFFFFFFF)


def _collect_decimal128(words: np.ndarray, n_total: int,
                        n_nulls: int) -> SegmentStats:
    """Exact stats over (n, 2) word pairs (vectorized: void-view unique,
    two-word run detection, lexsort min/max — no per-row Python)."""
    n = int(words.shape[0])
    raw = 16 * n
    if n == 0:
        return SegmentStats(n_total, n_nulls, 0, 0, None, None, raw)
    pairs = np.ascontiguousarray(words).view(
        [("lo", "<i8"), ("hi", "<i8")]).reshape(-1)
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        change[1:] = (words[1:] != words[:-1]).any(axis=1)
    # 128-bit two's-complement order = (hi signed, lo unsigned) lexicographic
    order = np.lexsort((words[:, 0].view(np.uint64), words[:, 1]))
    mn, mx = _int128(words[order[0]]), _int128(words[order[-1]])
    in64 = -(1 << 63) <= mn and mx <= (1 << 63) - 1
    return SegmentStats(
        n_rows=n_total, n_nulls=n_nulls,
        n_distinct=int(np.unique(pairs).size),
        n_runs=int(change.sum()),
        # unscaled-int reprs, matching the decimal64 manifest convention
        min_repr=str(mn),
        max_repr=str(mx),
        raw_bytes=raw,
        # typed bounds only when the unscaled range fits the manifest's
        # int64 columns; wider segments fall back to no-op pruning
        min_num=mn if in64 else None,
        max_num=mx if in64 else None,
        # exact unscaled sum: hi words signed * 2^64 + lo words unsigned
        sum_repr=str((_exact_sum_i64(words[:, 1]) << 64)
                     + _exact_sum_u64(words[:, 0].view(np.uint64))))


# ---------------------------------------------------------------------------
# Nested types (array/map/struct): the Arrow IPC body codec. The
# reference's DefaultEncoding explicitly covers "complex types, including
# heap based object graphs" via the Orleans serializer
# (`/root/reference/Outcompute.ColumnStore/Encodings/DefaultEncoding.cs:6-11`);
# here the child buffers (offsets + values + validity) ship as one Arrow
# IPC stream — zero per-row work, bit-exact round-trip for any nested
# shape, nulls carried natively by the IPC validity bitmaps.
# ---------------------------------------------------------------------------


def _ipc_bytes(arr: pa.Array) -> bytes:
    import io

    batch = pa.record_batch([arr], names=["v"])
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue()


def _ipc_read(body: bytes | memoryview) -> pa.Array:
    # py_buffer accepts the memoryview ZERO-COPY (and keeps the backing
    # payload alive); bytes(body) would memcpy the whole IPC stream on
    # every nested-segment decode
    with pa.ipc.open_stream(pa.py_buffer(body)) as r:
        tbl = r.read_all()
    return tbl.column(0).combine_chunks()


def _encode_nested(arr: pa.Array, logical: str) -> EncodedSegment:
    import pyarrow.compute as pc

    n = len(arr)
    n_nulls = int(arr.null_count)
    # canonical body: serialize once, read back (compacts slice offsets
    # from upstream batch splitting), re-serialize — makes the payload
    # and its checksum independent of the input array's buffer layout
    body = _ipc_bytes(_ipc_read(_ipc_bytes(arr)))
    try:
        ndv = int(pc.count_distinct(arr.drop_null()).as_py())
    except pa.ArrowNotImplementedError:
        ndv = 0  # not all nested types support hashing
    st = SegmentStats(n_rows=n, n_nulls=n_nulls, n_distinct=ndv,
                      n_runs=0, min_repr=None, max_repr=None,
                      raw_bytes=int(arr.nbytes))
    payload = (bitpack.write_varint(ARROW_IPC_CODEC_ID)
               + bitpack.write_varint(n) + bytes([0]) + body)
    h = _Crc32()
    h.update(body)
    return EncodedSegment(payload=payload, codec_id=ARROW_IPC_CODEC_ID,
                          logical=logical, stats=st,
                          checksum=h.hexdigest())


@dataclass
class EncodedSegment:
    payload: bytes
    codec_id: int
    logical: str
    stats: SegmentStats
    checksum: str  # "crc32:XXXXXXXX" over the canonical raw repr
    #               (legacy manifests carry bare-hex sha256; verify
    #                dispatches on the prefix)


class _Crc32:
    """hashlib-shaped CRC32 accumulator. CRC32 is the corruption-
    detection choice parquet itself makes for page checksums; it
    streams ~2x faster than this box's SHA-NI sha256 and the checksum
    was 25% of single-core encode time. The manifest value is
    prefix-tagged so old sha256 manifests keep verifying."""

    __slots__ = ("v",)

    def __init__(self) -> None:
        self.v = 0

    def update(self, b) -> None:
        self.v = zlib.crc32(b, self.v)

    def hexdigest(self) -> str:
        return f"crc32:{self.v:08x}"


def _hasher(algo: str):
    return _Crc32() if algo == "crc32" else hashlib.sha256()


def _algo_of(expected: str) -> str:
    return "crc32" if expected.startswith("crc32:") else "sha256"


def _raw_checksum(vals, validity: np.ndarray | None, logical: str,
                  algo: str = "crc32") -> str:
    h = _hasher(algo)
    if validity is not None:
        h.update(np.packbits(validity, bitorder="little").tobytes())
    if logical in V.VAR_LOGICAL:
        h.update(vals.lengths.astype("<i8").tobytes())
        h.update(vals.blob)
    else:
        h.update(np.ascontiguousarray(vals).tobytes())
    return h.hexdigest()


def encode_segment(arr: pa.Array, mode: str = chooser.MODE_SIZE,
                   codec: int | None = None) -> EncodedSegment:
    """Encode one Arrow column chunk into a framed segment payload."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if _is_nested(arr.type):
        return _encode_nested(arr, logical_of(arr))
    logical, vals, validity = from_arrow(arr)
    n = len(arr)
    n_nulls = int(n - validity.sum()) if validity is not None else 0
    if logical.startswith("decimal128_"):
        st = _collect_decimal128(vals, n, n_nulls)
        codec = SPLIT128_CODEC_ID
        body = _encode_split128(vals, logical, mode)
    else:
        st = collect(vals, logical, n, n_nulls)
        trained = None
        if codec is None:
            codec, trained = chooser.choose(st, logical, vals, mode)
        if codec == dictrle.CODEC_ID:
            body = dictrle.encode(vals, logical,
                                  codes=st.codes, uniques=st.uniques)
        elif trained is not None:
            body = _ENCODERS[codec](vals, logical, trained=trained)
        else:
            body = _ENCODERS[codec](vals, logical)
    flags = FLAG_HAS_NULLS if validity is not None else 0
    head = [bitpack.write_varint(codec), bitpack.write_varint(n), bytes([flags])]
    if validity is not None:
        head.append(np.packbits(validity, bitorder="little").tobytes())
    payload = b"".join(head) + body
    st.codes = st.uniques = None  # drop transient artifacts
    return EncodedSegment(payload=payload, codec_id=codec, logical=logical,
                          stats=st, checksum=_raw_checksum(vals, validity, logical))


def read_frame(payload: bytes | memoryview):
    """Framed payload -> (codec, n_rows, validity or None, body). The
    ONE reader of the segment frame grammar — decode_segment and the
    encoded-query fast paths (codecs/query.py) both ride it. IPC
    frames (nested types) always write flags=0: their nulls live
    inside the Arrow stream body."""
    body = memoryview(payload)
    codec, pos = bitpack.read_varint(body)
    n, pos = bitpack.read_varint(body, pos)
    flags = body[pos]
    pos += 1
    validity = None
    if flags & FLAG_HAS_NULLS:
        nb = (n + 7) // 8
        validity = np.unpackbits(
            np.frombuffer(body, dtype=np.uint8, count=nb, offset=pos),
            count=n, bitorder="little").astype(bool)
        pos += nb
    return codec, n, validity, body[pos:]


def decode_segment(payload: bytes | memoryview, logical: str) -> pa.Array:
    """Inverse of encode_segment: framed payload -> Arrow array."""
    codec, n, validity, body = read_frame(payload)
    if codec == ARROW_IPC_CODEC_ID:
        return _ipc_read(body)
    if codec not in _DECODERS:
        raise ValueError(f"unknown codec id {codec}")
    n_valid = n if validity is None else int(validity.sum())
    vals = _DECODERS[codec](body, n_valid, logical)
    return to_arrow(vals, validity, logical, n)


def verify_checksum(payload: bytes, logical: str, expected: str) -> bool:
    algo = _algo_of(expected)
    arr = decode_segment(payload, logical)
    if _is_nested(arr.type):
        # nested checksums hash the canonical IPC body; re-serializing
        # the decoded (already-canonical) array reproduces it exactly
        h = _hasher(algo)
        h.update(_ipc_bytes(arr))
        return h.hexdigest() == expected
    logical2, vals, validity = from_arrow(arr)
    return _raw_checksum(vals, validity, logical2, algo=algo) == expected
