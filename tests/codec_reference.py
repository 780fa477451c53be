"""Reference posting decoders for the codec tests: straightforward forms of
the shipped kernels in ``hadoopsearchengine_spark.kernel.codec``.

``decode_bitpack`` unpacks every value into an ``(n, width)`` bit matrix and
sums it back; ``decode_varints`` scatters each byte's payload into its value
with ``np.add.at``. Both are slow and memory-hungry but easy to check by eye,
so the tests pin the shipped word-at-a-time decoders to them."""

from __future__ import annotations

import numpy as np


def decode_varints(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_term = (b & 0x80) == 0  # terminator byte of each value
    # group id per byte: number of terminators strictly before this byte
    group = np.concatenate(([0], np.cumsum(is_term)[:-1])).astype(np.int64)
    n_vals = int(is_term.sum())
    # position of byte within its group
    starts = np.concatenate(([0], np.flatnonzero(is_term)[:-1] + 1))
    pos_in_group = np.arange(b.size, dtype=np.int64) - starts[group]
    payload = (b & 0x7F).astype(np.uint64) << (7 * pos_in_group).astype(np.uint64)
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, group, payload)
    return out


def decode_bitpack(buf: bytes) -> np.ndarray:
    width = buf[0]
    rest = np.frombuffer(buf, dtype=np.uint8, offset=1)
    end = 0
    while rest[end] & 0x80:
        end += 1
    n = int(decode_varints(rest[:end + 1].tobytes())[0])
    payload = rest[end + 1:]
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if width == 255:
        return np.frombuffer(payload.tobytes(), dtype=np.uint64, count=n)
    flat = np.unpackbits(payload, bitorder="little")[: n * width]
    bits = flat.reshape(n, width).astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    return (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)


def decode_best(buf: bytes) -> np.ndarray:
    if not buf:
        return np.empty(0, dtype=np.uint64)
    tag, rest = buf[0], buf[1:]
    if tag == 0x56:
        return decode_varints(rest)
    if tag == 0x42:
        return decode_bitpack(rest)
    raise ValueError(f"unknown codec tag {tag}")


def decode_deltas(buf: bytes) -> np.ndarray:
    return np.cumsum(decode_best(buf).astype(np.int64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return decode_best(buf)


def decode_positions(buf: bytes, counts: np.ndarray) -> np.ndarray:
    deltas = decode_best(buf).astype(np.int64)
    if deltas.size == 0:
        return deltas
    out = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    prefix = np.concatenate(([0], out))[starts]
    return out - np.repeat(prefix, counts.astype(np.int64))
