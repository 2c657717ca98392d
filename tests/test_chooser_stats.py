"""Chooser + stats unit tests.

Mirrors the reference's stats asserts (`ColumnSegmentBuilderTests.cs:69-95`,
`DeltaRowGroupTests.cs:90-175`) and pins the chooser's profile->codec map
(the concrete version of the unfinished `Encoder.EncodeForSize`,
`Encoding.cs:61-67`; see FIXTURES.md F2/F4).
"""

import random

import numpy as np
import pyarrow as pa
import pytest

from columnstore_spark.codecs import CODEC_IDS, chooser, encode_segment
from columnstore_spark.codecs.segment import from_arrow
from columnstore_spark.codecs.stats import collect


def _stats(arr):
    logical, vals, validity = from_arrow(arr)
    n = len(arr)
    n_nulls = int(n - validity.sum()) if validity is not None else 0
    return collect(vals, logical, n, n_nulls), logical, vals


@pytest.mark.parametrize("arr,expected_codec", [
    (pa.array(np.ones(100000, dtype=np.int32)), "constant"),
    # long runs: dict+RLE (100 runs) beats delta bit-pack (1 bit x 100k)
    (pa.array((np.arange(100000) // 1000).astype(np.int32)), "dict_rle"),
    (pa.array(np.arange(100000, dtype=np.int32)), "delta_bitpack"),
    (pa.array(["user", "assistant", "system", "tool"] * 25000), "dict_rle"),
    (pa.array(["Value"] * 100000), "constant"),
])
def test_chooser_expected_codec(arr, expected_codec):
    seg = encode_segment(arr)
    assert seg.codec_id == CODEC_IDS[expected_codec]


def test_chooser_prose_picks_fsst():
    rng = np.random.RandomState(42)
    words = ["conversation", "assistant", "the", "tool", "spark", "encode"]
    texts = [" ".join(rng.choice(words, size=rng.randint(30, 90)))
             + f" uniq{i}" for i in range(20000)]
    seg = encode_segment(pa.array(texts))
    assert seg.codec_id == CODEC_IDS["fsst"]


def test_chooser_never_loses_to_plain_by_much():
    """The reference's dict worst case blows up 2x (`DictionaryEncodingTests.cs:131`);
    our chooser must never pick a codec that loses to plain."""
    rng = np.random.RandomState(5)
    cases = [
        pa.array(rng.randint(-2**60, 2**60, 50000, dtype=np.int64)),
        pa.array(rng.randn(50000)),
        pa.array([rng.bytes(40) for _ in range(5000)], type=pa.binary()),
    ]
    for arr in cases:
        seg = encode_segment(arr)
        assert len(seg.payload) <= seg.stats.raw_bytes * 1.01 + 64


def test_stats_mixed_type_table():
    """FIXTURES.md F4 — the reference TestModel stats
    (`DeltaRowGroupTests.cs:115-133`): exact (n_distinct, n_nulls)."""
    cols = {
        "prop1": (pa.array([1, 2, 3, 4, 5, 6], type=pa.int32()), 6, 0),
        "prop2": (pa.array(["A", "A", "A", "B", "B", "B"]), 2, 0),
        "prop4": (pa.array([1.1, None, 2.2, None, 3.3, None]), 3, 3),
        "prop5": (pa.array([None, "AAA", None, "BBB", None, "BBB"]), 2, 3),
    }
    for name, (arr, ndv, nnulls) in cols.items():
        st, _, _ = _stats(arr)
        assert st.n_rows == 6, name
        assert st.n_distinct == ndv, name       # over non-null values
        assert st.n_nulls == nnulls, name


def test_stats_runs_and_minmax():
    arr = pa.array([1, 1, 1, 2, 3, 4, 1, 1, 1, 5, 6, 7, 1, 1, 1],
                   type=pa.int32())
    st, _, _ = _stats(arr)
    assert st.n_runs == 9  # [1x3][2][3][4][1x3][5][6][7][1x3]
    assert st.min_repr == "1" and st.max_repr == "7"


def test_mode_none_forces_plain():
    arr = pa.array(["a"] * 1000)
    seg = encode_segment(arr, mode=chooser.MODE_NONE)
    assert seg.codec_id == CODEC_IDS["plain"]


def test_chooser_scores_plain_at_exact_written_size():
    """plain's candidate must be write_var's EXACT size (varint length
    stream, ~1 B/short value), not the 4 B/value Arrow-offset raw
    convention — pre-fix FSST could 'win' an arbitration against a
    plain payload that was actually smaller AND cheaper."""
    import random
    import string

    import pyarrow as pa

    from columnstore_spark.codecs import chooser, plain
    from columnstore_spark.codecs import values as V
    from columnstore_spark.codecs.stats import collect

    random.seed(7)
    strs = ["".join(random.choices(string.ascii_letters, k=12))
            for _ in range(2000)]
    chunk = V.var_chunk_from_arrow(
        pa.array(strs, type=pa.large_utf8()))
    assert V.var_encoded_size(chunk) == len(plain.encode(chunk, "string"))
    st = collect(chunk, "string", n_total=2000, n_nulls=0)
    cid, _ = chooser.choose(st, "string", chunk, mode=chooser.MODE_SIZE)
    assert cid == plain.CODEC_ID  # incompressible text: plain wins


def _texts(seed: int, n: int = 3000) -> pa.Array:
    rng = random.Random(seed)
    words = ["the", "assistant", "replied", "with", "tool", "output",
             "error", "result", "message", "function", "returned"]
    return pa.array([" ".join(rng.choices(words, k=6)) + f" #{i}"
                     for i in range(n)], type=pa.large_utf8())


def _decimals(seed: int, n: int = 3000) -> pa.Array:
    rng = np.random.default_rng(seed)
    return pa.array(np.round(rng.uniform(0, 500, n), 2))


def test_trained_state_travels_with_the_chunk(monkeypatch):
    """choose() hands the winner's trial state (FSST merges, ALP
    analysis) to its encode: a chunk trains exactly once, and
    estimating one chunk before encoding another leaves the output
    byte-identical to a fresh encode."""
    from columnstore_spark.codecs import alp, chooser, fsst
    from columnstore_spark.codecs import values as V
    from columnstore_spark.codecs.segment import encode_segment
    from columnstore_spark.codecs.stats import collect

    b_text, b_flt = _texts(2), _decimals(2)
    fresh = [encode_segment(b_text), encode_segment(b_flt)]
    assert [s.codec_id for s in fresh] == [fsst.CODEC_ID, alp.CODEC_ID]

    a_text = V.var_chunk_from_arrow(_texts(1))
    a_flt = _decimals(1).to_numpy()
    assert fsst.estimate(a_text)[1]
    assert alp.estimate(a_flt, "float64") is not None
    assert chooser.choose(collect(a_text, "string", 3000, 0), "string",
                          a_text)[0] == fsst.CODEC_ID
    assert [encode_segment(b_text).payload,
            encode_segment(b_flt).payload] == [s.payload for s in fresh]

    calls = []
    for mod, name in ((fsst, "train"), (alp, "_analyze")):
        orig = getattr(mod, name)
        monkeypatch.setattr(mod, name, lambda *a, _o=orig, _n=name, **k: (
            calls.append(_n), _o(*a, **k))[1])
    assert encode_segment(b_text).payload == fresh[0].payload
    assert encode_segment(b_flt).payload == fresh[1].payload
    assert calls == ["train", "_analyze"]
