"""PLAIN encoders/decoders for every Parquet physical type, vectorized.

Byte-identical to the reference: raw little-endian values for fixed-width
types (``type_int32.go:11-53``, ``type_float.go:12-55``), LSB-first
bit-packed booleans padded to a whole byte (``type_boolean.go:71-98``),
and 4-byte LE length-prefixed buffers for variable byte arrays
(``type_bytearray.go:57-96``).

Variable-length (string/binary) columns are represented throughout this
engine as ``(lengths: int64[n], data: uint8[sum lengths])`` — the Arrow
layout minus the offsets' first zero — so every kernel is a flat numpy
pass with no per-value Python.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "encode_bool",
    "decode_bool",
    "encode_fixed",
    "decode_fixed",
    "encode_byte_array",
    "decode_byte_array",
    "encode_fixed_byte_array",
    "decode_fixed_byte_array",
    "interleave",
]

_DTYPES = {
    "int32": np.dtype("<i4"),
    "int64": np.dtype("<i8"),
    "float": np.dtype("<f4"),
    "double": np.dtype("<f8"),
}


def encode_bool(values: np.ndarray) -> bytes:
    """PLAIN boolean: LSB-first bit-packed, zero-padded to a byte."""
    return np.packbits(values.astype(bool), bitorder="little").tobytes()


def decode_bool(buf, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    nbytes = (count + 7) // 8
    bits = np.unpackbits(np.frombuffer(buf, np.uint8, nbytes, pos), bitorder="little")
    return bits[:count].astype(bool), pos + nbytes


def encode_fixed(values: np.ndarray, kind: str) -> bytes:
    """PLAIN int32/int64/float/double: raw LE values."""
    return np.ascontiguousarray(values.astype(_DTYPES[kind], copy=False)).tobytes()


def decode_fixed(buf, count: int, kind: str, pos: int = 0) -> tuple[np.ndarray, int]:
    dt = _DTYPES[kind]
    vals = np.frombuffer(buf, dt, count, pos)
    return vals, pos + count * dt.itemsize


def interleave(seg_a: np.ndarray, len_a: np.ndarray, seg_b: np.ndarray, len_b: np.ndarray) -> np.ndarray:
    """Interleave two streams of variable segments: a0 b0 a1 b1 ... -> uint8."""
    n = len(len_a)
    total = int(len_a.sum() + len_b.sum())
    out = np.empty(total, dtype=np.uint8)
    pair = len_a + len_b
    start = np.concatenate([[0], np.cumsum(pair)[:-1]])
    a_src = np.concatenate([[0], np.cumsum(len_a)[:-1]])
    idx = np.repeat(start, len_a) + (np.arange(int(len_a.sum())) - np.repeat(a_src, len_a))
    out[idx] = seg_a
    b_src = np.concatenate([[0], np.cumsum(len_b)[:-1]])
    idx = np.repeat(start + len_a, len_b) + (np.arange(int(len_b.sum())) - np.repeat(b_src, len_b))
    out[idx] = seg_b
    return out


def encode_byte_array(lengths: np.ndarray, data: np.ndarray) -> bytes:
    """PLAIN BYTE_ARRAY: per value 4-byte LE length + raw bytes."""
    n = len(lengths)
    if n == 0:
        return b""
    lengths = lengths.astype(np.int64, copy=False)
    total = int(lengths.sum())
    out = np.empty(total + 4 * n, dtype=np.uint8)
    ends = np.cumsum(lengths) + 4 * np.arange(1, n + 1, dtype=np.int64)
    dst_starts = ends - lengths
    lens32 = lengths.astype("<u4").view(np.uint8).reshape(n, 4)
    lp = dst_starts - 4
    for j in range(4):
        out[lp + j] = lens32[:, j]
    if total:
        if total // n >= 32:
            # long segments: n memcpy slices beat building a gather index
            src_starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
            for d, s, l in zip(dst_starts.tolist(), src_starts.tolist(), lengths.tolist()):
                out[d : d + l] = data[s : s + l]
        else:
            # short segments: shift every data byte by 4*(seg_index+1)
            seg_starts = np.cumsum(lengths)[:-1]
            # zero-length tails can start at == total: no data bytes follow
            seg_starts = seg_starts[seg_starts < total]
            bump = np.bincount(seg_starts, minlength=total).astype(np.int64) * 4
            shift = np.cumsum(bump) + 4
            out[np.arange(total, dtype=np.int64) + shift] = data
    return out.tobytes()


def decode_byte_array(buf, count: int, pos: int = 0) -> tuple[np.ndarray, np.ndarray, int]:
    """-> (lengths, data, new_pos).

    The header chain (start_{i+1} = start_i + 4 + len(start_i)) is
    sequential. From 64 values up, :func:`_fast_header_scan` tries two
    vectorized resolutions: a uniform stride (every value as long as the
    first, verified with one gather), then a scan for zero bytes 2-3 that
    every header of a value under 64 KiB carries, with the candidate
    chain verified in one vector op. When neither fits (fewer than 64
    values, values of 64 KiB or more, NUL-dense payloads),
    :func:`_walk_headers` reads the headers one value at a time in
    Python. The headers are then dropped with one boolean mask over the
    contiguous region."""
    if count == 0:
        return np.empty(0, np.int64), np.empty(0, np.uint8), pos
    mv = np.frombuffer(buf, np.uint8)
    lengths = starts = None
    if count >= 64:
        lengths, starts = _fast_header_scan(mv, count, pos)
    if lengths is None:
        lengths, starts = _walk_headers(mv, count, pos)
    total = int(lengths.sum())
    p = int(starts[-1] + lengths[-1])
    if total:
        # values are contiguous with fixed 4-byte header gaps: dropping
        # headers via one boolean compress beats per-segment gathers
        region = mv[pos:p]
        mask = np.ones(p - pos, dtype=bool)
        hdr = starts - 4 - pos
        for j in range(4):
            mask[hdr + j] = False
        data = region[mask]
    else:
        data = np.empty(0, np.uint8)
    return lengths, data, p


def _u32_at(mv: np.ndarray, p: np.ndarray) -> np.ndarray:
    return (
        mv[p].astype(np.int64)
        | mv[p + 1].astype(np.int64) << 8
        | mv[p + 2].astype(np.int64) << 16
        | mv[p + 3].astype(np.int64) << 24
    )


def _fast_header_scan(mv: np.ndarray, count: int, pos: int):
    """Vectorized header-chain resolution; returns (lengths, starts) or
    (None, None) when the input doesn't fit a fast path (the sequential
    walk then decides).

    Path A — uniform lengths: candidate positions form an arithmetic
    progression; one gather verifies every header. Covers fixed-width
    payloads (hashes, digests).

    Path B — zero-pattern candidates: every header of a value < 64 KiB
    carries 0x00 at bytes 2-3, so candidate headers are found with one
    vectorized compare; the chain (start_{i+1} = start_i + 4 + len_i) is
    then verified in one vector op. Covers text/url/html columns, whose
    values rarely contain NUL pairs. Any false candidate inside a value
    (or a length >= 64 KiB) fails verification -> conservative fallback.
    """
    n = len(mv) - pos
    if n < 4 * count:
        raise ValueError("plain byte_array stream truncated")
    l0 = int(_u32_at(mv, np.array([pos]))[0])
    # Path A: assume uniform length l0, verify
    stride = 4 + l0
    last = pos + (count - 1) * stride
    if last + 4 + l0 <= len(mv):
        cand = pos + np.arange(count, dtype=np.int64) * stride
        if (_u32_at(mv, cand) == l0).all():
            return np.full(count, l0, dtype=np.int64), cand + 4
    # Path B: zero-bytes-at-2,3 candidates
    if l0 >= 1 << 16:
        return None, None
    seg = mv[pos:]
    zz = (seg[2 : n - 1] == 0) & (seg[3:n] == 0)
    cand = np.flatnonzero(zz).astype(np.int64)  # candidate header positions (rel)
    if len(cand) > max(16 * count, 1024):
        return None, None  # zero-dense binary payload: walk instead
    # adjacent-candidate prune: the byte before a real header reads as
    # [data, len, 0, 0] and always lands at (header - 1); drop any
    # candidate immediately followed by another (real headers follow at
    # distance >= 4 unless a value starts with NUL — then the exact chain
    # check below fails and the walk takes over)
    if len(cand) > 1:
        adj = np.zeros(len(cand), dtype=bool)
        adj[:-1] = (cand[1:] - cand[:-1]) == 1
        cand = cand[~adj]
    m = len(cand)
    if m < count - 1:
        return None, None
    lens_c = _u32_at(seg, cand)
    nxt = cand + 4 + lens_c
    # prune: a non-terminal real header's successor is always a candidate;
    # false candidates (e.g. the last data byte before a header reads as
    # [data, len, 0, 0]) jump to random positions and die here
    idx = np.minimum(np.searchsorted(cand, nxt), m - 1)
    keep = cand[idx] == nxt
    surv = np.flatnonzero(keep)
    if len(surv) < count - 1:
        return None, None
    first = surv[: count - 1]
    sel = cand[first]
    lens_sel = lens_c[first]
    # exact chain verification: immune to heuristic false positives
    if sel[0] != 0 or not (sel[1:] == sel[:-1] + 4 + lens_sel[:-1]).all():
        return None, None
    # the terminal header has no successor candidate: read it directly
    last_pos = int(sel[-1] + 4 + lens_sel[-1])
    if last_pos + 4 > n:
        raise ValueError("plain byte_array stream truncated")
    last_len = int(_u32_at(seg, np.array([last_pos]))[0])
    if last_pos + 4 + last_len > n:
        raise ValueError("plain byte_array stream truncated")
    lengths = np.concatenate([lens_sel, [last_len]])
    starts = np.concatenate([sel, [last_pos]]) + pos + 4
    return lengths, starts


def _walk_headers(mv: np.ndarray, count: int, pos: int):
    """Sequential header walk (data-dependent chain): exact for every
    input; used for tiny counts and as the fallback when the vectorized
    scan cannot prove the chain."""
    import struct

    b = mv  # numpy arrays support the buffer protocol
    unpack = struct.unpack_from
    lengths = np.empty(count, dtype=np.int64)
    starts = np.empty(count, dtype=np.int64)
    p = pos
    limit = len(b)
    for i in range(count):
        if p + 4 > limit:
            raise ValueError("plain byte_array stream truncated")
        l = unpack("<I", b, p)[0]
        lengths[i] = l
        starts[i] = p + 4
        p += 4 + l
    if p > limit:
        raise ValueError("plain byte_array stream truncated")
    return lengths, starts


def encode_fixed_byte_array(data: np.ndarray) -> bytes:
    """PLAIN FIXED_LEN_BYTE_ARRAY: raw concatenated bytes."""
    return np.ascontiguousarray(data, dtype=np.uint8).tobytes()


def decode_fixed_byte_array(buf, count: int, length: int, pos: int = 0) -> tuple[np.ndarray, np.ndarray, int]:
    total = count * length
    data = np.frombuffer(buf, np.uint8, total, pos)
    return np.full(count, length, dtype=np.int64), data, pos + total
