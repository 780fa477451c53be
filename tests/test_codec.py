"""Varint/delta codec property tests (randomized round-trips, after
SURVEY.md §5 adopted strategy #3)."""

import tracemalloc

import numpy as np
import pytest

from hadoopsearchengine_spark.kernel import codec
from tests import codec_reference as ref

try:
    from hypothesis import given, settings, strategies as st
    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


def test_empty():
    assert codec.encode_varints(np.array([], dtype=np.uint64)) == b""
    assert codec.decode_varints(b"").size == 0


def test_known_values():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**35, 2**62],
                    dtype=np.uint64)
    assert np.array_equal(codec.decode_varints(codec.encode_varints(vals)), vals)
    # single-byte encoding for < 128
    assert codec.encode_varints(np.array([5], dtype=np.uint64)) == b"\x05"
    assert codec.encode_varints(np.array([128], dtype=np.uint64)) == b"\x80\x01"


def test_random_roundtrips():
    rng = np.random.default_rng(7)
    for _ in range(30):
        n = int(rng.integers(1, 3000))
        bits = int(rng.integers(1, 63))
        vals = rng.integers(0, 2**bits, size=n, dtype=np.uint64)
        assert np.array_equal(
            codec.decode_varints(codec.encode_varints(vals)), vals)


def test_delta_roundtrip_and_monotonic_check():
    rng = np.random.default_rng(11)
    ids = np.unique(rng.integers(0, 10**12, size=4000))
    assert np.array_equal(codec.decode_deltas(codec.encode_deltas(ids)), ids)
    with pytest.raises(ValueError):
        codec.encode_deltas(np.array([3, 3]))
    with pytest.raises(ValueError):
        codec.encode_deltas(np.array([5, 4]))


def test_positions_roundtrip():
    rng = np.random.default_rng(13)
    counts = rng.integers(1, 12, size=500)
    pos = np.concatenate([
        np.sort(rng.choice(10000, size=c, replace=False)) for c in counts])
    buf = codec.encode_positions(pos, counts)
    assert np.array_equal(codec.decode_positions(buf, counts), pos)


def test_positions_roundtrip_with_zero_count_docs():
    """tf=0 posting rows (anchor-/meta-only hits) own no positions: zero
    counts anywhere — including leading/trailing — must round-trip."""
    rng = np.random.default_rng(17)
    counts = rng.integers(0, 5, size=200)
    counts[0] = 0
    counts[-1] = 0
    pos = np.concatenate([
        np.sort(rng.choice(10000, size=c, replace=False))
        for c in counts]) if counts.sum() else np.array([], dtype=np.int64)
    buf = codec.encode_positions(pos, counts)
    assert np.array_equal(codec.decode_positions(buf, counts), pos)
    # all-zero counts: empty payload, empty decode
    z = np.zeros(5, dtype=np.int64)
    assert codec.decode_positions(
        codec.encode_positions(np.array([], dtype=np.int64), z), z).size == 0


if HAVE_HYP:
    @given(st.lists(st.integers(min_value=0, max_value=2**63 - 1),
                    min_size=0, max_size=500))
    @settings(max_examples=50, deadline=None)
    def test_hypothesis_varint(vals):
        arr = np.array(vals, dtype=np.uint64)
        assert np.array_equal(
            codec.decode_varints(codec.encode_varints(arr)), arr)


def test_bitpack_roundtrips():
    rng = np.random.default_rng(21)
    for _ in range(40):
        n = int(rng.integers(0, 3000))
        bits = int(rng.integers(1, 63))
        vals = rng.integers(0, 2**bits, size=n, dtype=np.uint64)
        assert np.array_equal(codec.decode_bitpack(
            codec.encode_bitpack(vals)), vals)
    # wide values -> raw fallback
    wide = np.array([2**63 + 5, 1], dtype=np.uint64)
    assert np.array_equal(codec.decode_bitpack(codec.encode_bitpack(wide)),
                          wide)
    assert codec.decode_bitpack(codec.encode_bitpack(
        np.array([], dtype=np.uint64))).size == 0


def test_best_codec_picks_smaller_and_roundtrips():
    rng = np.random.default_rng(22)
    # small uniform gaps: bitpack should win (constant width beats 1B/value
    # only when width < 8 bits)
    gaps = rng.integers(1, 30, size=4000, dtype=np.uint64)
    buf = codec.encode_best(gaps)
    assert buf[0] == 0x42, "bitpack should win on 5-bit gaps"
    assert np.array_equal(codec.decode_best(buf), gaps)
    # skewed values with rare large outliers: varint wins
    vals = np.ones(1000, dtype=np.uint64)
    vals[::100] = 2**40
    buf2 = codec.encode_best(vals)
    assert buf2[0] == 0x56, "varint should win under rare wide outliers"
    assert np.array_equal(codec.decode_best(buf2), vals)
    assert codec.decode_best(b"").size == 0


if HAVE_HYP:
    @given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                    min_size=0, max_size=300))
    @settings(max_examples=40, deadline=None)
    def test_hypothesis_best_codec(vals):
        arr = np.array(vals, dtype=np.uint64)
        assert np.array_equal(codec.decode_best(codec.encode_best(arr)), arr)


REF_NS = (0, 1, 7, 8, 9, 63, 64, 65, 1000)


def _assert_same(got, want):
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, want)


def test_bitpack_matches_reference_every_width():
    """Every packed width 1..63 (57-63 put a value across two words at most
    offsets) and the raw 255 path, at n around the 8-value byte and 64-bit
    word boundaries, with each width's largest value present."""
    rng = np.random.default_rng(31)
    for width in range(1, 65):
        top = (1 << width) - 1
        for n in REF_NS:
            vals = rng.integers(0, top, size=n, dtype=np.uint64,
                                endpoint=True)
            vals[::5] = top
            buf = codec.encode_bitpack(vals)
            assert buf[0] == (width if width < 64 else 255) or n == 0
            _assert_same(codec.decode_bitpack(buf), ref.decode_bitpack(buf))
            _assert_same(codec.decode_bitpack(buf), vals)
            tagged = codec.encode_best(vals)
            _assert_same(codec.decode_best(tagged), ref.decode_best(tagged))


def test_varints_match_reference():
    """All-single-byte streams (the widen path), mixed lengths, and values
    up to 2**64-1 (ten-byte varints)."""
    rng = np.random.default_rng(32)
    for n in REF_NS:
        small = rng.integers(0, 128, size=n, dtype=np.uint64)
        mixed = rng.integers(0, 128, size=n, dtype=np.uint64)
        mixed[::3] = rng.integers(0, 2**21, size=mixed[::3].size,
                                  dtype=np.uint64)
        wide = rng.integers(0, 2**64 - 1, size=n, dtype=np.uint64,
                            endpoint=True)
        wide[::4] = 2**64 - 1
        wide[1::4] = 0
        for vals in (small, mixed, wide):
            buf = codec.encode_varints(vals)
            _assert_same(codec.decode_varints(buf), ref.decode_varints(buf))
            _assert_same(codec.decode_varints(buf), vals)
            tagged = b"\x56" + buf
            _assert_same(codec.decode_best(tagged), ref.decode_best(tagged))


def test_bitpack_decode_peak_memory():
    """A benchmark position block's shape: 30,000 width-11 values. The
    decode's traced peak stays below 12x the output; the bit-matrix
    decode peaks near 25x."""
    vals = np.random.default_rng(33).integers(
        0, 2**11, size=30_000, dtype=np.uint64)
    vals[0] = 2**11 - 1
    buf = codec.encode_bitpack(vals)
    tracemalloc.start()
    try:
        out = codec.decode_bitpack(buf)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    _assert_same(out, vals)
    assert peak < 12 * out.nbytes, peak / out.nbytes
