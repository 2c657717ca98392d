"""FSST codec — per-segment symbol-table text compression, codec id 20.

Fills the reference's empty string specialization
(`/root/reference/Outcompute.ColumnStore/Segments/Specialized/StringColumnSegmentBuilder.cs:9-11`)
with the FSST idea (Boncz, Neumann, Leis: "FSST: Fast Random Access String
Compression", VLDB 2020): a small per-segment symbol table maps frequent
byte sequences to single-byte codes.

Our variant learns the table by byte-pair merging (BPE) on a bounded
sample, then applies the merges with C-speed ``bytes.replace`` passes:

1. Bytes >= 0x80 are stripped out-of-band (positions delta-varint +
   literal bytes), leaving a 7-bit "low stream". That frees code points
   0x80..0xFF for up to 128 symbols with no escape byte, and makes
   ``bytes.replace`` application collision-free by construction.
2. Merges are applied in training order; later merges may reference
   earlier codes, so symbols grow beyond 2 bytes (tree expansion).
3. Decode reverses the merges (replace code -> pair, reverse order, also
   C-speed), then re-inserts the high bytes at their stored positions.

ASCII-dominant text (transcripts) pays nothing for step 1; high-byte-heavy
text inflates and the codec chooser's trial estimate routes it to
plain/dict instead.

Random access (`gather`, the FSST paper's point): a row range [s, e) of the
stored values is the byte span [off[s], off[e]) of the full blob
(`off` = prefix sum of the per-value lengths). Subtracting the high
bytes stored before each end (a binary search of the high positions)
gives the same span in the low stream. A prefix sum of each code's
expanded length over the code stream (`_expand_table` lens) locates the
codes that cover that low span, also by binary search. Only those codes
are expanded; the partial codes at either end are trimmed, and the high
bytes whose positions fall inside the span are re-inserted. The prefix
sum also gives the stream's total expanded length, so a gather checks
it against the stored n_low just as a full decode does.

Body grammar (after shared segment framing):
    varint n_merges;  2*n_merges bytes of (left, right) code pairs
    varint n_high;    delta-varint high positions; n_high literal bytes
    varint n_low_raw (pre-merge low-stream length)
    varint len(enc);  enc bytes (the code stream)
    per-value byte lengths (varint stream, n values)
"""

from __future__ import annotations

import numpy as np

from . import bitpack
from . import values as V

CODEC_ID = 20

MAX_MERGES = 128  # codes 0x80..0xFF
# training converges on far less data than the ratio estimate needs:
# 16 KiB learns the same ~110 merges at the same (measured: marginally
# better) ratio as 64 KiB while costing 2.8x less — train() makes one
# bincount+replace pass over the sample per ACCEPTED merge, so sample
# bytes multiply directly into the text kernel's dominant cost
TRAIN_SAMPLE_BYTES = 1 << 14  # 16 KiB
ESTIMATE_SAMPLE_BYTES = 1 << 16  # 64 KiB (ratio-extrapolation sample)
MIN_PAIR_COUNT = 4


def train(sample: bytes, max_merges: int = MAX_MERGES) -> list[tuple[int, int]]:
    """Learn BPE merges over a low-stream sample (all bytes < 0x80).

    Early-stops when the best pair saves < ~0.2% of the sample: each
    accepted merge costs one C-level pass over the FULL blob at apply
    time, so near-zero-gain merges are pure slowdown (the speed half of
    the reference's Size/Speed tradeoff, `Encoding.cs:70-75`).

    The trainer's own replace residual is deliberately NOT exposed as
    a size estimate: its exhaustive sequential replaces compress
    repetitive data 20-50% better than the rounds-based encoder
    achieves, so `estimate` trial-applies the REAL encoder
    instead — do not wire the residual back into the chooser.
    """
    merges: list[tuple[int, int]] = []
    blob = bytes(sample)  # sample may be a zero-copy memoryview slice
    min_count = max(MIN_PAIR_COUNT, len(sample) >> 9)
    for _ in range(max_merges):
        if len(blob) < 2:
            break
        codes = np.frombuffer(blob, dtype=np.uint8)
        pair_ids = codes[:-1].astype(np.int32) * np.int32(256) + codes[1:]
        counts = np.bincount(pair_ids, minlength=65536)
        best = int(counts.argmax())
        if counts[best] < min_count:
            break
        a, b = best >> 8, best & 0xFF
        new_code = 0x80 + len(merges)
        merges.append((a, b))
        blob = blob.replace(bytes([a, b]), bytes([new_code]))
    return merges


def _apply_merges(low: bytes, merges: list[tuple[int, int]]) -> bytes:
    """Apply the merge rules to the full low stream, vectorized.

    Parallel-BPE rounds: every round finds ALL rule matches at once
    (numpy table lookup over adjacent pairs), resolves overlaps by
    dropping a candidate whose left neighbor is also a candidate
    (approximate leftmost-greedy; chains resolve in later rounds), and
    compacts. Versus per-rule ``bytes.replace`` passes this removes the
    per-match C overhead (~0.5us x ~1 match per 5 bytes) — the text
    kernel's hot loop. Output is any valid code stream: decode is pure
    substitution, so which of the legal merges happened is immaterial.
    """
    if not merges:
        return low
    # ONE packed lookup per pair: table[pair] = prio << 8 | code, with
    # prio 255 (no rule) in the high byte. Everything stays
    # uint8/uint16 — the kernels are DRAM-bandwidth bound under
    # concurrent workers, so temporary bytes per element matter more
    # than instruction count.
    table = np.full(65536, 0xFF00, dtype=np.uint16)
    for i, (a, b) in enumerate(merges):
        table[(a << 8) | b] = (i << 8) | (0x80 + i)
    arr = np.frombuffer(low, dtype=np.uint8).copy()
    rounds = 0
    while arr.size >= 2 and rounds < 64:
        pairs = arr[:-1].astype(np.uint16)
        pairs <<= 8
        pairs |= arr[1:]
        pc = table[pairs]
        p = pc >> 8
        # keep a match only if it beats both neighbor matches (ties:
        # left wins) — no two kept matches share a byte, and the
        # highest-frequency-first order the table was trained under is
        # approximated by the merge-index priority
        keep = p != 0xFF
        keep[1:] &= p[1:] < p[:-1]
        keep[:-1] &= p[:-1] <= p[1:]
        kept = np.flatnonzero(keep)
        if kept.size < 8:
            break
        arr[kept] = (pc[kept] & 0xFF).astype(np.uint8)
        keep_next = np.ones(arr.size, dtype=bool)
        keep_next[kept + 1] = False  # drop each kept pair's 2nd byte
        arr = arr[keep_next]
        rounds += 1
    return arr.tobytes()


def _expand_table(merges: list[tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    """Fully-expanded symbol per code: merges compose (a rule's sides
    may be earlier codes), so expanding the table ONCE turns decode
    into a table gather instead of one pass per rule.

    -> (lens int64[256], tab uint8[256, L]): literals expand to
    themselves (len 1), code 0x80+i to its full byte string."""
    syms: dict[int, bytes] = {}
    for i, (a, b) in enumerate(merges):
        ea = syms[a] if a >= 0x80 else bytes([a])
        eb = syms[b] if b >= 0x80 else bytes([b])
        syms[0x80 + i] = ea + eb
    width = max((len(s) for s in syms.values()), default=1)
    lens = np.ones(256, dtype=np.int64)
    tab = np.zeros((256, width), dtype=np.uint8)
    tab[:, 0] = np.arange(256, dtype=np.uint16).astype(np.uint8)
    for c, s in syms.items():
        lens[c] = len(s)
        tab[c, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    return lens, tab


def _expand(codes: np.ndarray, lens: np.ndarray,
            tab: np.ndarray) -> np.ndarray:
    """Expand `codes` (uint8) to their full symbols in one vectorized
    gather-scatter: output offsets from a cumsum of per-code expanded
    lengths, then one scatter pass per symbol-byte position (passes =
    longest expanded symbol, typically ~8 — not one C pass per rule).
    -> uint8 array of the concatenated symbols."""
    out_lens = lens[codes]
    pos = np.empty(codes.size + 1, dtype=np.int64)
    pos[0] = 0
    np.cumsum(out_lens, out=pos[1:])
    out = np.empty(pos[-1], dtype=np.uint8)
    starts = pos[:-1]
    out[starts] = tab[codes, 0]  # every code writes byte 0
    # shrink the survivor set as symbols run out of bytes: total
    # scatter work is sum(expanded lengths) = output size, not
    # passes x input size
    idx = np.flatnonzero(out_lens > 1)
    j = 1
    while idx.size:
        out[starts[idx] + j] = tab[codes[idx], j]
        j += 1
        idx = idx[out_lens[idx] > j]
    return out


def _reverse_merges(enc: bytes, merges: list[tuple[int, int]]) -> bytes:
    """Expand a whole code stream back to the low stream.

    Substitution is context-free, so this decodes any legal code stream
    regardless of how the encoder chose among overlapping matches.
    """
    if not merges or not enc:
        return enc
    lens, tab = _expand_table(merges)
    return _expand(np.frombuffer(enc, dtype=np.uint8), lens, tab).tobytes()


def _split_high(blob: bytes) -> tuple[bytes, np.ndarray, bytes]:
    """-> (low stream bytes<0x80, high positions, high bytes)."""
    arr = np.frombuffer(blob, dtype=np.uint8)
    mask = arr >= 0x80
    if not mask.any():
        return blob, np.empty(0, dtype=np.int64), b""
    high_pos = np.flatnonzero(mask)
    return arr[~mask].tobytes(), high_pos, arr[mask].tobytes()


def _merge_high(low: bytes, high_pos: np.ndarray, high: bytes) -> bytes:
    if high_pos.size == 0:
        return low
    n = len(low) + high_pos.size
    out = np.empty(n, dtype=np.uint8)
    mask = np.zeros(n, dtype=bool)
    mask[high_pos] = True
    out[high_pos] = np.frombuffer(high, dtype=np.uint8)
    out[~mask] = np.frombuffer(low, dtype=np.uint8)
    return out.tobytes()


def encode(vals: "V.VarChunk", logical: str,
           max_merges: int = MAX_MERGES,
           trained: list[tuple[int, int]] | None = None) -> bytes:
    """`trained`: the merges `estimate` learned on this chunk (the
    chooser passes them on, so a chunk trains once); else train here.
    Any merge table is valid for any input."""
    low, high_pos, high = _split_high(vals.blob)
    if trained is not None:
        merges = trained
    else:
        merges = train(low[:TRAIN_SAMPLE_BYTES], max_merges)
    enc = _apply_merges(low, merges)
    deltas = np.diff(high_pos, prepend=0).astype(np.uint64) if high_pos.size else high_pos
    out = [
        bitpack.write_varint(len(merges)),
        bytes(c for ab in merges for c in ab),
        bitpack.write_varint(int(high_pos.size)),
        bitpack.varint_encode_array(deltas) if high_pos.size else b"",
        high,
        bitpack.write_varint(len(low)),
        bitpack.write_varint(len(enc)),
        enc,
        bitpack.varint_encode_array(vals.lengths.astype(np.uint64)),
    ]
    return b"".join(out)


def _parse(body: memoryview, n: int):
    """Body -> (merges, high positions, high bytes, n_low, code stream,
    per-value lengths): the one reader of the body grammar, shared by
    `decode` and `gather`."""
    n_merges, pos = bitpack.read_varint(body)
    merge_bytes = bytes(body[pos:pos + 2 * n_merges])
    merges = [(merge_bytes[2 * i], merge_bytes[2 * i + 1]) for i in range(n_merges)]
    pos += 2 * n_merges
    n_high, pos = bitpack.read_varint(body, pos)
    high_pos = np.empty(0, dtype=np.int64)
    high = b""
    if n_high:
        deltas, consumed = bitpack.varint_decode_array(body[pos:], n_high)
        pos += consumed
        high_pos = np.cumsum(deltas.astype(np.int64))
        high = bytes(body[pos:pos + n_high])
        pos += n_high
    n_low, pos = bitpack.read_varint(body, pos)
    n_enc, pos = bitpack.read_varint(body, pos)
    enc = bytes(body[pos:pos + n_enc])
    pos += n_enc
    lengths, _ = bitpack.varint_decode_array(body[pos:], n)
    return merges, high_pos, high, n_low, enc, lengths.astype(np.int64)


def _check_low(got: int, n_low: int) -> None:
    """Integrity: the code stream must expand to the stored low-stream
    length (a truncated or corrupt stream does not)."""
    if got != n_low:
        raise ValueError(f"fsst decode: low stream {got} != {n_low}")


def decode(body: memoryview, n: int, logical: str) -> "V.VarChunk":
    merges, high_pos, high, n_low, enc, lengths = _parse(body, n)
    low = _reverse_merges(enc, merges)
    _check_low(len(low), n_low)
    blob = _merge_high(low, high_pos, high)
    return V.VarChunk(lengths=lengths, blob=blob)


def _firsts(counts: np.ndarray) -> np.ndarray:
    """Where each of pieces of `counts` elements starts once they are
    concatenated (the exclusive prefix sum)."""
    out = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=out[1:])
    return out


def _spans(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + c)`` over the pairs, vectorized."""
    return (np.arange(int(counts.sum()), dtype=np.int64)
            + np.repeat(starts - _firsts(counts), counts))


def gather(body: memoryview, n: int,
           ranges: list[tuple[int, int]]) -> "V.VarChunk":
    """Values [start, start+len) of each `ranges` entry (indices into the
    body's `n` stored values), concatenated — random access without
    expanding the rest of the code stream (see the module docstring).
    Bit-identical to slicing `decode`'s output, and it keeps decode's
    integrity check: a code stream whose total expanded length is not
    the stored `n_low` raises ValueError."""
    merges, high_pos, high, n_low, enc, lengths = _parse(body, n)
    lens, tab = _expand_table(merges)
    codes = np.frombuffer(enc, dtype=np.uint8)
    # pos[c]: low-stream offset where code c's expansion starts
    pos = np.empty(codes.size + 1, dtype=np.int64)
    pos[0] = 0
    np.cumsum(lens[codes], out=pos[1:])
    _check_low(int(pos[-1]), n_low)
    s = np.array([r[0] for r in ranges], dtype=np.int64)
    e = s + np.array([r[1] for r in ranges], dtype=np.int64)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    b0, b1 = off[s], off[e]  # byte spans in the full blob
    h0 = np.searchsorted(high_pos, b0)  # high bytes before each span
    h1 = np.searchsorted(high_pos, b1)
    l0, l1 = b0 - h0, b1 - h1  # the same spans in the low stream
    # codes c0..c1-1 cover [l0, l1): expand them, then trim the partial
    # codes at either end
    c0 = np.searchsorted(pos, l0, side="right") - 1
    c1 = np.maximum(np.searchsorted(pos, l1, side="left"), c0)
    expanded = _expand(codes[_spans(c0, c1 - c0)], lens, tab)
    piece = _firsts(pos[c1] - pos[c0])  # each span's expansion
    low = expanded[_spans(piece + l0 - pos[c0], l1 - l0)]
    # re-insert the high bytes inside each span at their output offsets
    hidx = _spans(h0, h1 - h0)
    out_pos = high_pos[hidx] + np.repeat(_firsts(b1 - b0) - b0, h1 - h0)
    hi = np.frombuffer(high, dtype=np.uint8)[hidx].tobytes()
    return V.VarChunk(lengths=lengths[_spans(s, e - s)],
                      blob=_merge_high(low.tobytes(), out_pos, hi))


def estimate(vals: "V.VarChunk",
             sample_bytes: int = ESTIMATE_SAMPLE_BYTES,
             max_merges: int = MAX_MERGES
             ) -> tuple[int, list[tuple[int, int]]]:
    """-> (estimated encoded size, the trained merges to `encode` with).

    Trial-encode with the REAL encoder over the full estimate
    sample and extrapolate the ratio to the blob. Training still reads
    only its 16 KiB slice (the cheap half); the trial apply covers the
    whole 64 KiB sample because merges trained on a head slice
    compress that slice ~20% better than the rest of the data on
    id-like columns — a train-slice-only ratio reads optimistic, and
    so does the trainer's own replace residual (see train()). The
    low:high byte mix is counted over the sample without extracting
    the high bytes."""
    blob = vals.blob
    if len(blob) == 0:
        return 16, []
    if len(blob) > sample_bytes:
        # two-region sample: a pure prefix over-represents the blob's
        # head (sorted id-like columns compress their first 64 KiB far
        # better than their middle — measured 1.2-1.5x optimistic), so
        # half the sample comes from the midpoint. max(half, ...):
        # for blobs just past sample_bytes the naive midpoint would
        # overlap the head region and double-weight head bytes
        half = sample_bytes // 2
        mid = max(half, (len(blob) - half) // 2)
        sample = bytes(blob[:half]) + bytes(blob[mid:mid + half])
    else:
        sample = blob[:sample_bytes]
    arr = np.frombuffer(sample, dtype=np.uint8)
    mask = arr < 0x80
    low = arr[mask].tobytes() if not mask.all() else bytes(sample)
    merges = train(low[:TRAIN_SAMPLE_BYTES], max_merges)
    # trial-apply over the sample's FULL low stream (not just the
    # train slice): merges trained on a 16 KiB head compress that
    # head better than the rest of the data, so a train-slice-only
    # ratio reads ~20% optimistic on id-like columns
    trial_low = low
    enc = _apply_merges(trial_low, merges)
    # per-byte output estimate: the real encoder's ratio on the low
    # stream, plus 2 bytes per high byte (position varint + literal),
    # weighted by the sample's observed low/high mix
    low_frac = len(low) / max(len(sample), 1)
    low_ratio = len(enc) / max(len(trial_low), 1)
    ratio = low_frac * low_ratio + (1.0 - low_frac) * 2.0
    lens_bytes = int(bitpack.varint_nbytes(vals.lengths.astype(np.uint64)).sum())
    return int(len(blob) * ratio) + lens_bytes + 2 * len(merges) + 16, merges
