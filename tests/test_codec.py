"""Delta + FOR posting codec round-trip properties (SURVEY §7.2 stage 2)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gazetteer_search_spark.index import codec


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500),
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(values):
    ids = np.unique(np.array(values, dtype=np.int64))
    base = int(ids[0])
    buf = codec.delta_for_encode(ids, base)
    out = codec.delta_for_decode(buf, len(ids), base)
    assert np.array_equal(out, ids)


def test_single_byte_values_compact():
    arr = np.arange(100, dtype=np.int64)
    # all < 128 -> 7 bits each, plus the one width byte
    assert len(codec.for_encode(arr)) == 1 + (100 * 7 + 7) // 8


def test_delta_compression_wins():
    # dense sorted ids: deltas are tiny -> 2 bits per id vs 64 raw
    ids = np.arange(10_000, dtype=np.int64) * 3 + 1_000_000_000
    buf = codec.ids_encode(ids, int(ids[0]))
    assert len(buf) < 10_000 * 2


def test_f64_roundtrip():
    vals = np.array([0.0, 1.5, -2.25, 1e300], dtype=np.float64)
    assert np.array_equal(codec.f64_decode(codec.f64_encode(vals), 4), vals)


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), min_size=0, max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_for_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    buf = codec.for_encode(arr)
    out = codec.for_decode(buf, len(values))
    assert np.array_equal(out, arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**60), min_size=1, max_size=300),
)
@settings(max_examples=150, deadline=None)
def test_ids_dispatch_roundtrip(values):
    """The public ids_* / tfs_* names every reader and writer calls."""
    ids = np.unique(np.array(values, dtype=np.int64))
    base = int(ids[0]) - 1
    buf = codec.ids_encode(ids, base)
    out = codec.ids_decode(buf, len(ids), base)
    assert np.array_equal(out, ids)
    tfs = np.array([v % 97 + 1 for v in values], dtype=np.int64)
    assert np.array_equal(
        codec.tfs_decode(codec.tfs_encode(tfs), len(tfs)), tfs
    )


def test_for_all_zero_and_empty():
    assert codec.for_encode(np.zeros(0, np.int64)) == b"\x00"
    assert codec.for_decode(b"\x00", 0).size == 0
    z = np.zeros(7, np.int64)
    assert np.array_equal(codec.for_decode(codec.for_encode(z), 7), z)


def test_for_wide_values_near_int64():
    # segment docIDs carry the bit-61 generation namespace — widths near 64
    arr = np.array([(1 << 62) + 3, (1 << 62) + 4, (1 << 62) + 900], np.int64)
    assert np.array_equal(codec.for_decode(codec.for_encode(arr), 3), arr)


def test_for_smaller_and_faster_shape():
    # clustered near-uniform deltas: FOR beats a 7-bit varbyte layout on
    # size (no continuation bits) — the layout argument for FOR. The
    # varbyte size is computed here: ceil(bit_length / 7) bytes per delta.
    rng = np.random.RandomState(3)
    ids = np.cumsum(rng.randint(1, 2000, 128).astype(np.int64))
    base = int(ids[0]) - 1
    deltas = np.diff(ids, prepend=base)
    varbyte_len = sum(max(1, -(-int(d).bit_length() // 7)) for d in deltas)
    assert len(codec.ids_encode(ids, base)) < varbyte_len
