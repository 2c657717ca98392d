"""Codec auto-selection — the reference's designed-but-empty
``Encoder<T>.EncodeForSize/EncodeForSpeed``
(`/root/reference/Outcompute.ColumnStore/Encodings/Encoding.cs:35-75`,
bodies empty at 61-67) made concrete.

The reference documents each codec's applicability:
- Default/plain: "very high cardinality" (`DefaultEncoding.cs:6-11`)
- Dictionary:    "low value cardinality" (`DictionaryEncoding.cs:6-11`)
- Sequential:    "small unmanaged types" (`SequentialEncoding.cs:3-7`)

We turn those into exact arithmetic: every candidate codec's encoded size
is computable from the segment stats (cardinality, run histogram, value
range, delta range, blob sample ratio) *without* encoding, so the chooser
picks the byte-minimal codec per (segment, column) — the reference's
``Compression.Size`` intent. ``Compression.Speed`` restricts to cheap
codecs; ``Compression.None`` forces plain.
"""

from __future__ import annotations

import numpy as np

from . import alp, constant, dictrle, forpack, fsst, plain
from . import values as V
from .stats import SegmentStats

MODE_NONE = "none"    # reference Compression.None
MODE_SIZE = "size"    # reference Compression.Size
MODE_SPEED = "speed"  # reference Compression.Speed

# text below this average length rarely benefits from a symbol table
_FSST_MIN_AVG_LEN = 12.0
_FSST_MIN_BLOB = 4096


def choose(st: SegmentStats, logical: str, vals,
           mode: str = MODE_SIZE) -> tuple[int, object]:
    """Return (codec id, trained state) for this segment. The state is
    what the winner's trial estimate learned on `vals` — FSST's merges,
    ALP's analysis — for its `encode(..., trained=)`, so a chunk is
    trained once; None for every other codec."""
    if mode == MODE_NONE or st.n_rows == st.n_nulls or st.n_distinct == 0:
        return plain.CODEC_ID, None
    if st.n_distinct == 1:
        return constant.CODEC_ID, None

    # plain's candidate must be its EXACT written size: for var columns
    # write_var spends ~1 B/value on varint lengths, not the 4 B/value
    # Arrow-offset equivalent raw_bytes reports — scoring plain at
    # raw_bytes let FSST "win" arbitrations it actually lost
    if logical in V.VAR_LOGICAL and isinstance(vals, V.VarChunk):
        plain_size = V.var_encoded_size(vals)
    else:
        plain_size = st.raw_bytes  # fixed width: write_fixed == raw
    candidates: dict[int, int] = {plain.CODEC_ID: plain_size}
    trained: dict[int, object] = {}
    candidates[dictrle.CODEC_ID] = dictrle.estimate_size(
        st.n_rows - st.n_nulls, st.n_distinct, st.n_runs,
        st.dict_raw_bytes, st.max_run_len)

    if logical in V.INT_LOGICAL and st.int_min is not None:
        n = st.n_rows - st.n_nulls
        candidates[forpack.FOR_CODEC_ID] = forpack.estimate_for_size(
            n, st.int_min, st.int_max)
        if st.delta_min is not None:
            candidates[forpack.DELTA_CODEC_ID] = forpack.estimate_delta_size(
                n, st.delta_min, st.delta_max)

    if (mode == MODE_SIZE and logical in alp.FLOAT_LOGICAL
            and isinstance(vals, np.ndarray)):
        # MODE_SIZE only: the trial is O(n) like FSST's ("Speed
        # restricts to cheap codecs"). No cardinality gate: the exact
        # size arithmetic arbitrates ALP vs dict (a 10k-distinct
        # 4-decimal column packs to ~14 bits/value under ALP, beating
        # the dictionary)
        est = alp.estimate(vals, logical)
        if est is not None:
            candidates[alp.CODEC_ID], trained[alp.CODEC_ID] = est

    if (mode == MODE_SIZE and logical in V.VAR_LOGICAL
            and isinstance(vals, V.VarChunk)
            and st.avg_len >= _FSST_MIN_AVG_LEN
            and len(vals.blob) >= _FSST_MIN_BLOB
            # high-cardinality text only: low-cardinality is dict's job
            and st.n_distinct > (st.n_rows - st.n_nulls) // 4):
        candidates[fsst.CODEC_ID], trained[fsst.CODEC_ID] = (
            fsst.estimate(vals))

    winner = min(candidates.items(), key=lambda kv: (kv[1], kv[0]))[0]
    return winner, trained.get(winner)
