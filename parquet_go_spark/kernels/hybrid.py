"""Parquet RLE/bit-packed hybrid stream codec, numpy-vectorized.

Wire format (reference: ``hybrid_encoder.go`` / ``hybrid_decoder.go``):
each run starts with a uvarint header ``h``; ``h&1 == 1`` means a
bit-packed run of ``8*(h>>1)`` values (``(h>>1)*width`` bytes follow),
``h&1 == 0`` means an RLE run of ``h>>1`` copies of one value stored in
``ceil(width/8)`` little-endian bytes.

The reference *writer* emits exactly one bit-packed run covering the whole
stream, padded with zeros to a multiple of 8 (``hybrid_encoder.go:55-70``);
:func:`encode_bp` reproduces those bytes bit-for-bit. :func:`encode_rle`
is this engine's extension (the north-star "plain RLE" mode for runny
low-cardinality columns): pure RLE runs, still decodable by the reference
decoder (``hybrid_decoder.go:142-165`` accepts both run kinds).

A ``width == 0`` stream is empty on the wire — the reference writes nothing
at all, not even the optional 4-byte size prefix (``hybrid_encoder.go:91-94``),
and the decoder synthesizes zeros (``hybrid_decoder.go:81-84``).
"""

from __future__ import annotations

import struct

import numpy as np

from . import bitpack
from .varint import read_uvarint, uvarint, uvarint_array

__all__ = [
    "encode_bp",
    "encode_rle",
    "encode_auto",
    "with_size_prefix",
    "decode",
    "decode_sized",
    "rle_size",
    "bp_size",
]


def encode_bp(values: np.ndarray, width: int) -> bytes:
    """Reference-identical writer: one bit-packed run, zero-padded to x8."""
    if width == 0:
        return b""
    n = len(values)
    padded = n if n % 8 == 0 else n + (8 - n % 8)
    if padded != n:
        values = np.concatenate(
            [values.astype(np.uint64, copy=False), np.zeros(padded - n, dtype=np.uint64)]
        )
    header = uvarint(((padded // 8) << 1) | 1)
    return header + bitpack.pack(values, width)


def bp_size(count: int, width: int) -> int:
    if width == 0:
        return 0
    padded = count if count % 8 == 0 else count + (8 - count % 8)
    return len(uvarint(((padded // 8) << 1) | 1)) + (padded // 8) * width


def _runs(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run-length split -> (run_values, run_lengths)."""
    n = len(values)
    if n == 0:
        return values[:0], np.empty(0, dtype=np.int64)
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(values[1:], values[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    lengths = np.diff(np.append(starts, n))
    return values[starts], lengths


def encode_rle(values: np.ndarray, width: int) -> bytes:
    """Pure-RLE hybrid stream: one RLE run per value run (engine extension)."""
    if width == 0 or len(values) == 0:
        return b""
    rv, rl = _runs(values)
    vsize = (width + 7) // 8
    headers, hlens = uvarint_array((rl.astype(np.uint64) << np.uint64(1)))
    # value bytes: little-endian, vsize bytes each
    vals = rv.astype(np.uint64, copy=False)
    shifts = np.arange(vsize, dtype=np.uint64) * np.uint64(8)
    vbytes = ((vals[:, None] >> shifts) & np.uint64(0xFF)).astype(np.uint8)
    # interleave header[i] + value[i]
    total = int(hlens.sum()) + len(rv) * vsize
    out = np.empty(total, dtype=np.uint8)
    seg_len = hlens + vsize
    seg_start = np.concatenate([[0], np.cumsum(seg_len)[:-1]])
    # scatter headers
    hsrc_start = np.concatenate([[0], np.cumsum(hlens)[:-1]])
    idx = np.repeat(seg_start, hlens) + (
        np.arange(len(headers)) - np.repeat(hsrc_start, hlens)
    )
    out[idx] = headers
    # scatter values
    vidx = (seg_start + hlens)[:, None] + np.arange(vsize)
    out[vidx.ravel()] = vbytes.ravel()
    return out.tobytes()


def rle_size(values: np.ndarray, width: int) -> int:
    """Exact byte size :func:`encode_rle` would produce, from the run
    lengths alone: a run's uvarint header ``len << 1`` takes
    ``max(1, ceil(bit_length / 7))`` bytes, i.e. one byte plus one per
    7-bit boundary ``2**(7k)`` it reaches."""
    if width == 0 or len(values) == 0:
        return 0
    _, rl = _runs(values)
    vsize = (width + 7) // 8
    headers = rl << 1
    size = len(rl) * (1 + vsize)
    bound = 1 << 7
    top = int(headers.max())
    while bound <= top:
        size += int(np.count_nonzero(headers >= bound))
        bound <<= 7
    return size


def encode_auto(values: np.ndarray, width: int) -> bytes:
    """Pick the smaller of the BP-only and pure-RLE stream."""
    if width == 0:
        return b""
    if rle_size(values, width) < bp_size(len(values), width):
        return encode_rle(values, width)
    return encode_bp(values, width)


def with_size_prefix(stream: bytes, width: int) -> bytes:
    """V1 level framing: 4-byte LE size prefix (absent when width==0)."""
    if width == 0:
        return b""
    return struct.pack("<I", len(stream)) + stream


def decode(buf: bytes, width: int, count: int) -> np.ndarray:
    """Decode ``count`` values from a hybrid stream -> uint64 array."""
    if width == 0 or count == 0:
        return np.zeros(count, dtype=np.uint64)
    out = np.empty(count, dtype=np.uint64)
    pos = 0
    filled = 0
    vsize = (width + 7) // 8
    mv = memoryview(buf).cast("B")  # normalize signed buffer views
    while filled < count:
        h, pos = read_uvarint(mv, pos)
        if h & 1:  # bit-packed run of 8*(h>>1) values
            groups = h >> 1
            if groups == 0:
                raise ValueError("empty bit-packed run")
            nbytes = groups * width
            vals = bitpack.unpack(np.frombuffer(mv, np.uint8, nbytes, pos), width, groups * 8)
            pos += nbytes
            take = min(groups * 8, count - filled)
            out[filled : filled + take] = vals[:take]
            filled += take
        else:  # RLE run
            run = h >> 1
            if run == 0:
                raise ValueError("empty RLE run")
            v = 0
            for i in range(vsize):
                v |= mv[pos + i] << (8 * i)
            pos += vsize
            if width < 64 and v >= (1 << width):
                raise ValueError("RLE run value too large for bit width")
            take = min(run, count - filled)
            out[filled : filled + take] = v
            filled += take
    return out


def decode_sized(buf: bytes, width: int, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    """Decode a size-prefixed (V1) stream; returns (values, new_pos)."""
    if width == 0:
        return np.zeros(count, dtype=np.uint64), pos
    try:
        (size,) = struct.unpack_from("<I", buf, pos)
    except struct.error as e:  # truncated stream: surface as a decode error
        raise ValueError(f"hybrid stream truncated at size prefix: {e}") from e
    pos += 4
    vals = decode(bytes(memoryview(buf)[pos : pos + size]), width, count)
    return vals, pos + size
