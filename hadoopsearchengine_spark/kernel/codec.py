"""Posting-payload codec: delta + LEB128 varint, numpy-vectorized.

Re-expresses the reference's compressed posting storage (varint "escaped
items", reference MyStuff.h:270-371; 6-byte packed hits,
DyableSort/CompileLookupIndex/HitTypeWordDivision.h:88-105) as a vectorized
kernel: sorted doc ids are delta-encoded (first value absolute) and the gap /
tf / position streams are LEB128-packed or fixed-width bit-packed, whichever
is smaller. No per-element Python loops: encode is O(total_bytes) numpy
array ops (the hot path inside ``applyInPandas`` at build time). Decode, the
hot path of the query scorer, works a machine word at a time: a bit-packed
value is cut out of the two little-endian uint64 words it touches, and a
varint stream with no multi-byte value is a plain byte widen. Decoders take
``bytes`` or a ``memoryview`` and slice it without copying.

Pure numpy; shared verbatim with the oracle.
"""

from __future__ import annotations

import numpy as np

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]
# typed scalars: a Python int operand costs numpy a value-based cast per call
_CONT = np.uint8(0x80)
_PAYLOAD = np.uint8(0x7F)
_ONE, _SIX, _63 = np.uint64(1), np.uint64(6), np.uint64(63)


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array -> bytes. Vectorized."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b""
    nbytes = np.ones(arr.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (arr >= t).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    total = int(offsets[-1] + nbytes[-1])
    out = np.zeros(total, dtype=np.uint8)
    max_b = int(nbytes.max())
    for j in range(max_b):
        mask = nbytes > j
        vals = (arr[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        byte = vals.astype(np.uint8)
        cont = (nbytes[mask] - 1) > j
        byte[cont] |= 0x80
        out[offsets[mask] + j] = byte
    return out.tobytes()


def decode_varints(buf) -> np.ndarray:
    """Inverse of encode_varints -> uint64 array. Vectorized: a stream with
    no continuation bit set is a plain byte widen; otherwise each value
    starts from its first byte's payload, and pass j ORs in the j-th byte of
    the values longer than j bytes (one pass per extra byte of the longest
    value; posting streams rarely need more than one)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = (b < _CONT).nonzero()[0]  # terminator byte of each value
    if ends.size == b.size:
        return b.astype(np.uint64)  # every value is one byte
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = (b[starts] & _PAYLOAD).astype(np.uint64)
    multi = (ends > starts).nonzero()[0]
    j = 0
    while multi.size:
        j += 1
        at = starts[multi] + j
        out[multi] |= ((b[at] & _PAYLOAD).astype(np.uint64)
                       << np.uint64(7 * j))
        multi = multi[ends[multi] > at]
    return out


def _read_count(buf, i: int) -> tuple[int, int]:
    """The LEB128 value at ``buf[i]`` -> (value, index just past it)."""
    n = shift = 0
    while True:
        byte = buf[i]
        i += 1
        n |= (byte & 0x7F) << shift
        if byte < 0x80:
            return n, i
        shift += 7


def encode_deltas(sorted_ids: np.ndarray) -> bytes:
    """Delta-encode a strictly-increasing int array (first value absolute),
    then pack with the best-of codec (tagged varint or FOR-bitpack, whichever
    is smaller for this stream). Matches the reference's doc-gap layout with
    the PForDelta-family packing the north star names."""
    arr = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    if arr.size == 0:
        return b""
    gaps = np.empty_like(arr)
    gaps[0] = arr[0]
    np.subtract(arr[1:], arr[:-1], out=gaps[1:])
    if arr.size > 1 and gaps[1:].min() <= 0:
        raise ValueError("doc ids must be strictly increasing")
    return encode_best(gaps.astype(np.uint64))


def decode_deltas(buf: bytes) -> np.ndarray:
    """Inverse of encode_deltas -> int64 array of absolute ids."""
    return np.cumsum(decode_best(buf).view(np.int64))


def encode_tfs(tfs: np.ndarray) -> bytes:
    """tf stream: best-of codec (tfs are tiny -> bitpack usually wins)."""
    return encode_best(np.ascontiguousarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return decode_best(buf)


def encode_positions(positions_concat: np.ndarray, counts: np.ndarray) -> bytes:
    """Pack the concatenated per-doc position lists. Positions within each doc
    are delta-encoded (first absolute) so typical values stay 1-byte."""
    pos = np.ascontiguousarray(positions_concat, dtype=np.int64)
    if pos.size == 0:
        return b""
    deltas = np.empty_like(pos)
    deltas[0] = pos[0]
    np.subtract(pos[1:], pos[:-1], out=deltas[1:])
    # reset the delta chain at each doc boundary (store absolute first pos);
    # zero-count docs (tf=0 anchor-/meta-only posting rows) own no positions
    # and must not contribute a boundary (their "start" aliases the next
    # doc's — or falls past the end for trailing zeros)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    starts = starts[counts > 0]
    deltas[starts] = pos[starts]
    return encode_best(deltas.astype(np.uint64))


def decode_positions(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions -> concatenated absolute positions.
    ``counts`` (positions per doc) may be of any numeric dtype holding
    whole numbers, e.g. the float tf array a scorer already decoded."""
    deltas = decode_best(buf).view(np.int64)
    if deltas.size == 0:
        return deltas
    out = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    # the global cumsum carries across doc boundaries; subtract, per element,
    # the cumsum value just before its doc's start
    prefix = np.concatenate(([0], out))[starts]
    correction = np.repeat(prefix, counts.astype(np.int64))
    return out - correction


# -- FOR/bit-packed codec (the PForDelta family; north-star names
#    "varint/PForDelta-compressed" payloads). Frame-of-reference + fixed
#    bit-width packing, numpy-vectorized; an alternative to LEB128 for dense
#    gap/tf streams. Layout: [width:1B][n:varint][packed little-endian bits]
#    with width=255 marking a raw 8-byte fallback. Value i occupies bits
#    [i*width, (i+1)*width) of the payload read as little-endian uint64
#    words, so decode gathers, per value, the word holding its first bit and
#    the next one, and shifts the value out of the pair: width <= 63 means
#    no value touches a third word. --


def encode_bitpack(values: np.ndarray) -> bytes:
    """Fixed-width bit-pack a uint64 array (frame of reference = 0; callers
    delta-encode first). Vectorized via np.unpackbits on the byte matrix."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    n = arr.size
    if n == 0:
        return b"\x00" + encode_varints(np.array([0], dtype=np.uint64))
    mx = int(arr.max())
    width = max(1, mx.bit_length())
    header = bytes([width if width < 64 else 255]) + encode_varints(
        np.array([n], dtype=np.uint64))
    if width >= 64:
        return header + arr.tobytes()
    # bits[i, j] = bit j of value i (LSB first)
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((arr[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    flat = bits.reshape(-1)
    pad = (-flat.size) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, dtype=np.uint8)])
    packed = np.packbits(flat, bitorder="little")
    return header + packed.tobytes()


def decode_bitpack(buf) -> np.ndarray:
    """Inverse of encode_bitpack, a word at a time (see the layout note)."""
    width = buf[0]
    n, start = _read_count(buf, 1)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if width == 255:
        return np.frombuffer(buf, dtype=np.uint64, count=n, offset=start)
    nbytes = (n * width + 7) // 8
    # payload as words, plus one zero word so the pair read of the last
    # value never runs off the end
    words = np.zeros((nbytes + 7) // 8 + 1, dtype="<u8")
    words.view(np.uint8)[:nbytes] = np.frombuffer(
        buf, dtype=np.uint8, count=nbytes, offset=start)
    bit = np.arange(0, n * width, width, dtype=np.uint64)  # first bits
    word = (bit >> _SIX).astype(np.intp)
    bit &= _63  # offset of the first bit within its word
    out = words[word]
    out >>= bit
    word += 1
    high = words[word]
    del word
    # bits from the next word land above the 64 - bit low ones; the shift
    # is split in two so bit == 0 shifts by 64 (to zero) without overflow
    high <<= _ONE
    np.subtract(_63, bit, out=bit)
    high <<= bit
    out |= high
    out &= np.uint64((1 << width) - 1)
    return out


def encode_best(values: np.ndarray) -> bytes:
    """Pick the smaller of varint vs bitpack, tagged with a 1-byte marker
    (0x56 'V' varint, 0x42 'B' bitpack). Decoders dispatch on the tag."""
    v = encode_varints(values)
    b = encode_bitpack(values)
    if len(v) <= len(b):
        return b"\x56" + v
    return b"\x42" + b


def decode_best(buf: bytes) -> np.ndarray:
    if not buf:
        return np.empty(0, dtype=np.uint64)
    view = memoryview(buf)
    tag, rest = view[0], view[1:]
    if tag == 0x56:
        return decode_varints(rest)
    if tag == 0x42:
        return decode_bitpack(rest)
    raise ValueError(f"unknown codec tag {tag}")
