"""Differential tests of FSST random access (`fsst.gather`, reached
through `query.gather_ranges` and `query.query_window`): for any text
segment encoded with the FSST codec — high bytes, empty strings and
nulls included — and any set of row ranges, the gather equals the
concatenated slices of the full decode, value for value and type for
type. A code stream that does not expand to the stored low-stream
length raises ValueError on both paths."""

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from columnstore_spark.codecs import fsst
from columnstore_spark.codecs.query import gather_ranges, query_window
from columnstore_spark.codecs.segment import decode_segment, encode_segment

MAX_N = 80

# repeated words so the trainer learns merges (multi-byte symbols),
# mixed with high-byte words, empty strings and arbitrary text
WORDS = ["the ", "turn ", "tool", "assistant", "héllo ", "日本語", "",
         "éé", "abcabcabc", "\U0001f600 "]
TEXT = st.one_of(
    st.lists(st.sampled_from(WORDS), max_size=8).map("".join),
    st.text(max_size=12))
STRS = st.lists(st.one_of(st.none(), TEXT), max_size=MAX_N)
BINS = st.lists(st.one_of(st.none(), st.binary(max_size=10),
                          st.sampled_from([b"\x80\xff\x00", b"abab",
                                           b"xyzxyz" * 3])),
                max_size=MAX_N)


@st.composite
def ranges_for(draw, n: int) -> list[tuple[int, int]]:
    """1-5 row ranges over n rows: random ones, the two edges, or a run
    of adjacent ranges between sorted cut points."""
    shape = draw(st.sampled_from(["random", "edges", "adjacent"]))
    if shape == "edges":
        k = draw(st.integers(0, n))
        return [(0, k), (n - k, k)]
    if shape == "adjacent":
        cuts = sorted(draw(st.lists(st.integers(0, n), max_size=4))
                      + [0, n])
        return [(a, b - a) for a, b in zip(cuts, cuts[1:])] or [(0, 0)]
    starts = draw(st.lists(st.integers(0, n), min_size=1, max_size=5))
    return [(s, draw(st.integers(0, n - s))) for s in starts]


def _segment(vals, typ):
    seg = encode_segment(pa.array(vals, type=typ), codec=fsst.CODEC_ID)
    assert seg.codec_id == fsst.CODEC_ID
    return seg


def _check_gather(data, vals, typ):
    seg = _segment(vals, typ)
    full = decode_segment(seg.payload, seg.logical)
    assert full.to_pylist() == vals
    ranges = data.draw(ranges_for(len(vals)))
    got = gather_ranges(seg.payload, seg.logical, ranges)
    want = pa.concat_arrays([full.slice(s, ln) for s, ln in ranges])
    assert got.type == want.type
    assert got.equals(want), (ranges, got, want)
    assert got.to_pylist() == [v for s, ln in ranges
                               for v in vals[s:s + ln]]


@settings(max_examples=150, deadline=None)
@given(STRS, st.data())
def test_gather_strings_equals_decode_slices(vals, data):
    _check_gather(data, vals, pa.large_utf8())


@settings(max_examples=60, deadline=None)
@given(BINS, st.data())
def test_gather_binary_equals_decode_slices(vals, data):
    _check_gather(data, vals, pa.large_binary())


@settings(max_examples=100, deadline=None)
@given(STRS, st.integers(-3, MAX_N + 3), st.integers(-3, MAX_N + 3))
def test_window_equals_decode_slice(vals, start, length):
    seg = _segment(vals, pa.large_utf8())
    full = decode_segment(seg.payload, seg.logical)
    s = max(0, start)
    want = full.slice(s, max(0, min(length, len(vals) - s)))
    got = query_window(seg.payload, seg.logical, start, length)
    assert got.type == want.type
    assert got.equals(want)


def test_gather_of_a_trained_segment_expands_few_codes():
    """A segment large enough to train its full symbol table: every
    single-row gather and a gather of all rows equal the decode."""
    vals = [f"turn {i} of the conversation: héllo wörld " * (i % 5)
            if i % 7 else None for i in range(400)]
    seg = _segment(vals, pa.large_utf8())
    full = decode_segment(seg.payload, seg.logical)
    for i in range(len(vals)):
        assert gather_ranges(seg.payload, seg.logical,
                             [(i, 1)]).equals(full.slice(i, 1))
    assert gather_ranges(seg.payload, seg.logical,
                         [(0, len(vals))]).equals(full)


def test_truncated_code_stream_raises():
    """A code stream one code short of what the stored low-stream length
    needs raises ValueError from the decode and from every gather."""
    vals = ["abcabcabc héllo " * 3] * 50 + [None, ""]
    real = fsst._apply_merges
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fsst, "_apply_merges",
                   lambda low, merges: real(low, merges)[:-1])
        seg = _segment(vals, pa.large_utf8())
    with pytest.raises(ValueError, match="low stream"):
        decode_segment(seg.payload, seg.logical)
    for ranges in ([(0, 1)], [(10, 5), (40, 2)], [(51, 1)]):
        with pytest.raises(ValueError, match="low stream"):
            gather_ranges(seg.payload, seg.logical, ranges)
    with pytest.raises(ValueError, match="low stream"):
        query_window(seg.payload, seg.logical, 3, 4)
