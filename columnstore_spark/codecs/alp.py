"""ALP codec (id 13) — adaptive lossless floating-point compression.

The reference's encoding family covers ints (sequential), low-cardinality
(dictionary) and "everything else" (default/plain,
`/root/reference/Outcompute.ColumnStore/Encodings/DefaultEncoding.cs:6-11`);
its `double?` TestModel columns therefore always pay 8 bytes/value. Most
real-world doubles are decimals in disguise (prices, scores, sensor
readings with fixed precision), and the public ALP scheme (Afroozeh &
Boncz, "ALP: Adaptive Lossless floating-Point Compression", VLDB 2023)
exploits that: scale by a per-vector power of ten, round to int64, and
verify BIT-EXACT reconstruction — values that survive ride the integer
FoR/bit-pack path, values that don't are stored verbatim as patched
exceptions. Lossless by construction: the encoder only keeps the integer
form for values it has already round-tripped bitwise.

Body grammar::

    varint zigzag(k)          # decimal exponent, v ~= d / 10^k
    varint n_exceptions
    varint len(pos_bytes); pos_bytes   # delta-varint exception positions
    raw exception values      # n_exceptions * itemsize, little-endian
    FoR body                  # forpack.encode_for of the int64 stream
                              # (exception slots hold the valid minimum)

Reconstruction uses ONE vectorized expression — ``d / 10**k`` for
``k >= 0``, ``d * 10**-k`` for ``k < 0`` — and the encoder verifies with
the *same* expression, so encode/decode rounding is identical by
construction (``test_alp.py`` fuzzes this with hypothesis).
"""

from __future__ import annotations

import numpy as np

from . import bitpack, forpack
from . import values as V
# zigzag helpers shared with the FoR family: ONE spelling of the
# wire-format-critical scalar codec (forpack owns it; alp's header
# varints and its embedded encode_for body must never fork)
from .forpack import _unzz1 as _unzz
from .forpack import _zz1 as _zz

CODEC_ID = 13

FLOAT_LOGICAL = {"float32", "float64"}

# 10^0 .. 10^17 are all exactly representable in float64? No — but they
# need not be: the verify step compares bit patterns, so an inexact
# power only shrinks the survivor set, never corrupts it.
_MAX_K = 17          # |k| bound for the exponent search
_SAMPLE = 1024       # selection sample size
_I64_SAFE = float(1 << 62)  # |scaled| bound before the int64 cast

_POW10 = 10.0 ** np.arange(0, _MAX_K + 1)


def _reconstruct(d: np.ndarray, k: int) -> np.ndarray:
    """The ONE reconstruction expression shared by encode-verify and
    decode. float64 in, float64 out."""
    f = d.astype(np.float64)
    return f / _POW10[k] if k >= 0 else f * _POW10[-k]


def _try_exponent(v64: np.ndarray, orig_bits: np.ndarray, k: int,
                  out_dtype: np.dtype) -> tuple[np.ndarray, np.ndarray]:
    """-> (d int64, ok bool mask) for candidate exponent k."""
    with np.errstate(invalid="ignore", over="ignore"):
        scaled = v64 * _POW10[k] if k >= 0 else v64 / _POW10[-k]
        in_range = np.abs(scaled) < _I64_SAFE  # False for NaN/inf too
    d = np.where(in_range, scaled, 0.0)
    d = np.rint(d).astype(np.int64)
    rec = _reconstruct(d, k)
    if out_dtype == np.float32:
        rec_bits = rec.astype(np.float32).view(np.uint32)
    else:
        rec_bits = rec.view(np.uint64)
    ok = in_range & (rec_bits == orig_bits)
    return d, ok


def _bits_of(vals: np.ndarray) -> np.ndarray:
    return vals.view(np.uint32 if vals.dtype == np.float32 else np.uint64)


def _select_exponent(vals: np.ndarray) -> int | None:
    """Pick the decimal exponent on a sample by ESTIMATED ENCODED SIZE
    (exception bytes + packed int width), the paper's selection
    criterion — a perfect-survivor k with a wide int range (e.g. k=0 on
    12000, 34000, ...) loses to k=-3 packing d=12, 34. None if no
    exponent rescues at least half the sample."""
    if vals.size > _SAMPLE:
        idx = np.linspace(0, vals.size - 1, _SAMPLE).astype(np.int64)
        sample = vals[idx]
    else:
        sample = vals
    v64 = sample.astype(np.float64)
    bits = _bits_of(sample)
    itemsize = sample.dtype.itemsize
    best_k, best_est = None, None
    for k in list(range(0, _MAX_K + 1)) + list(range(-1, -_MAX_K - 1, -1)):
        d, ok = _try_exponent(v64, bits, k, sample.dtype)
        n_ok = int(ok.sum())
        if n_ok * 2 < sample.size:
            continue
        dv = d[ok]
        width = bitpack.bits_needed(int(dv.max()) - int(dv.min()))
        est = ((sample.size - n_ok) * (itemsize + 2)
               + bitpack.packed_size(sample.size, width))
        if best_est is None or est < best_est:
            best_k, best_est = k, est
    return best_k


def _analyze(vals: np.ndarray) -> tuple[int, np.ndarray, np.ndarray] | None:
    """-> (k, d int64 with exceptions filled, exception mask) or None."""
    if vals.size == 0:
        return None
    k = _select_exponent(vals)
    if k is None:
        return None
    d, ok = _try_exponent(vals.astype(np.float64), _bits_of(vals), k,
                          vals.dtype)
    exc = ~ok
    if ok.any():
        # fill exception slots with the valid min: zero FoR width cost
        d[exc] = d[ok].min()
    return k, d, exc


def encode(vals: np.ndarray, logical: str, trained=None) -> bytes:
    """`trained`: the analysis `estimate` made of THIS array (the
    chooser passes it on, so an array is analyzed once); else analyze
    here. Unlike FSST's merges it is input-specific."""
    res = trained if trained is not None else _analyze(vals)
    if res is None:
        raise ValueError("ALP not applicable; chooser must not pick it")
    k, d, exc = res
    pos = np.flatnonzero(exc).astype(np.uint64)
    deltas = np.diff(pos, prepend=np.uint64(0)) if pos.size else pos
    pos_bytes = bitpack.varint_encode_array(deltas)
    exc_raw = np.ascontiguousarray(
        vals[exc], dtype=V.FIXED_LOGICAL[logical]).tobytes()
    return (bitpack.write_varint(_zz(k))
            + bitpack.write_varint(int(pos.size))
            + bitpack.write_varint(len(pos_bytes)) + pos_bytes
            + exc_raw
            + forpack.encode_for(d, "int64"))


def decode(body: memoryview, n: int, logical: str) -> np.ndarray:
    zz_k, p = bitpack.read_varint(body)
    k = _unzz(zz_k)
    n_exc, p = bitpack.read_varint(body, p)
    pos_len, p = bitpack.read_varint(body, p)
    deltas, _ = bitpack.varint_decode_array(body[p:p + pos_len], n_exc)
    p += pos_len
    dt = np.dtype(V.FIXED_LOGICAL[logical])
    exc_vals = np.frombuffer(body, dtype=dt, count=n_exc, offset=p)
    p += n_exc * dt.itemsize
    d = forpack.decode_for(body[p:], n, "int64")
    out = _reconstruct(d, k)
    if logical == "float32":
        out = out.astype(np.float32)
    if n_exc:
        pos = np.cumsum(deltas.astype(np.int64))
        out[pos] = exc_vals
    return out


def estimate(vals: np.ndarray, logical: str) -> tuple[int, tuple] | None:
    """-> (exact encoded size, the analysis to `encode` with), or None
    when ALP can't beat half-exact on the sample."""
    res = _analyze(vals)
    if res is None:
        return None
    k, d, exc = res
    n_exc = int(exc.sum())
    itemsize = np.dtype(V.FIXED_LOGICAL[logical]).itemsize
    lo, hi = int(d.min()), int(d.max())
    # varints: k (<=3 B), n_exc (<=5 B), pos_len (<=5 B); positions ~2 B/exc
    return (13 + 2 * n_exc + n_exc * itemsize
            + forpack.estimate_for_size(int(d.size), lo, hi)), res


def estimate_size(vals: np.ndarray, logical: str) -> int | None:
    """The exact encoded size alone (the chooser's candidate
    arithmetic), or None when ALP does not apply."""
    est = estimate(vals, logical)
    return None if est is None else est[0]
