"""Slow, per-value transliteration of the reference encoders' *semantics*
(fraugster/parquet-go), used purely as a test oracle for byte-exactness of
the vectorized kernels. Deliberately written value-at-a-time, mirroring the
Go control flow (hybrid_encoder.go, deltabp_encoder.go, type_*.go), so the
two implementations share no code paths.
"""

from __future__ import annotations

import struct

MAXINT32 = 2**31 - 1


def put_uvarint(v: int) -> bytes:
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def put_varint(v: int) -> bytes:
    ux = (v << 1) ^ (v >> 63) if v >= 0 else (((v << 1) ^ (v >> 63)) & (2**64 - 1))
    ux = ((v << 1) ^ (v >> 63)) & (2**64 - 1)
    return put_uvarint(ux)


def pack8(vals, width: int) -> bytes:
    """pack8int{32,64}_N equivalent: 8 values -> width bytes, LSB-first."""
    if width == 0:
        return b""
    bitstream = 0
    for i, v in enumerate(vals):
        bitstream |= (v & ((1 << width) - 1)) << (i * width)
    return bitstream.to_bytes(width, "little")


def hybrid_encode_bp(values, width: int) -> bytes:
    """hybrid_encoder.go: single bit-packed run, padded to x8 with zeros."""
    if width == 0:
        return b""
    vals = list(values)
    while len(vals) % 8 != 0:
        vals.append(0)
    out = put_uvarint(((len(vals) // 8) << 1) | 1)
    for i in range(0, len(vals), 8):
        out += pack8(vals[i : i + 8], width)
    return out


def hybrid_encode_bp_sized(values, width: int) -> bytes:
    if width == 0:
        return b""
    body = hybrid_encode_bp(values, width)
    return struct.pack("<I", len(body)) + body


def deltabp_encode(values, bits: int, block_size: int = 128, mini_blocks: int = 4) -> bytes:
    """deltabp_encoder.go transliteration (both 32/64: minDelta init MaxInt32)."""
    mask = (1 << bits) - 1
    sign = 1 << (bits - 1)

    def wrap(x):  # two's-complement wrap to `bits`
        x &= mask
        return x - (1 << bits) if x & sign else x

    mbv = block_size // mini_blocks
    vals = [int(v) for v in values]
    n = len(vals)
    out = put_uvarint(block_size) + put_uvarint(mini_blocks) + put_uvarint(n)
    out += put_varint(vals[0] if n else 0)
    if n == 0:
        return out

    body = bytearray()

    def flush(deltas, min_delta):
        nonlocal body
        adj = [wrap(d - min_delta) for d in deltas]
        body += put_varint(min_delta)
        widths = []
        packed = []
        for i in range(0, len(adj), mbv):
            end = min(i + mbv, len(adj))
            mx = adj[i] & mask
            buf = [0] * mbv
            for j in range(i, end):
                u = adj[j] & mask
                if u > mx:
                    mx = u
                buf[j - i] = adj[j]
            bw = mx.bit_length()
            widths.append(bw)
            data = b""
            for j in range(0, mbv, 8):
                data += pack8(buf[j : j + 8], bw)
            packed.append(data)
        while len(widths) < mini_blocks:
            widths.append(0)
        body += bytes(widths)
        for p in packed:
            body += p

    deltas = []
    min_delta = MAXINT32
    prev = vals[0]
    for v in vals[1:]:
        d = wrap(v - prev)
        prev = v
        deltas.append(d)
        if d < min_delta:
            min_delta = d
        if len(deltas) == block_size:
            flush(deltas, min_delta)
            deltas = []
            min_delta = MAXINT32
    if n == 1 or deltas:
        flush(deltas, min_delta)
    return out + bytes(body)


def plain_bool(values) -> bytes:
    vals = [1 if v else 0 for v in values]
    while len(vals) % 8 != 0:
        vals.append(0)
    out = b""
    for i in range(0, len(vals), 8):
        out += pack8(vals[i : i + 8], 1)
    return out


def plain_byte_array(byte_values) -> bytes:
    out = b""
    for v in byte_values:
        out += struct.pack("<i", len(v)) + bytes(v)
    return out


def delta_length_byte_array(byte_values) -> bytes:
    lens = [len(v) for v in byte_values]
    out = deltabp_encode(lens, 32)
    for v in byte_values:
        out += bytes(v)
    return out


def _prefix(b1: bytes, b2: bytes) -> int:
    l = min(len(b1), len(b2))
    for i in range(l):
        if b1[i] != b2[i]:
            return i
    return l


def delta_byte_array(byte_values) -> bytes:
    prev = b""
    prefixes = []
    suffixes = []
    for v in byte_values:
        v = bytes(v)
        p = _prefix(prev, v)
        prefixes.append(p)
        suffixes.append(v[p:])
        prev = v
    return deltabp_encode(prefixes, 32) + delta_length_byte_array(suffixes)


def dict_indices(indices, dict_size: int) -> bytes:
    bw = dict_size.bit_length()
    return bytes([bw]) + hybrid_encode_bp(indices, bw)


def hybrid_decode(buf: bytes, width: int, count: int) -> list:
    """hybrid_decoder.go: one run per loop step. A uvarint header ``h``;
    ``h & 1`` opens a bit-packed run of ``h >> 1`` groups of 8 values
    (``(h >> 1) * width`` bytes, all of which must be present), else an
    RLE run of ``h >> 1`` copies of one ``ceil(width/8)``-byte LE value.
    Empty runs, a value wider than ``width`` and a stream that ends before
    ``count`` values raise; bytes after the ``count``-th value are never
    read."""
    if width == 0 or count == 0:
        return [0] * count
    out: list = []
    pos = 0
    while len(out) < count:
        h = shift = 0
        while True:
            if pos >= len(buf):
                raise ValueError("truncated uvarint")
            byte = buf[pos]
            pos += 1
            h |= (byte & 0x7F) << shift
            if byte < 0x80:
                break
            shift += 7
            if shift >= 70:
                raise ValueError("uvarint too long")
        h &= 2**64 - 1
        if h & 1:
            groups = h >> 1
            if groups == 0:
                raise ValueError("empty bit-packed run")
            if pos + groups * width > len(buf):
                raise ValueError("bit-packed run truncated")
            for g in range(groups):
                bits = int.from_bytes(buf[pos : pos + width], "little")
                pos += width
                out += [(bits >> (i * width)) & ((1 << width) - 1) for i in range(8)]
        else:
            run = h >> 1
            if run == 0:
                raise ValueError("empty RLE run")
            vsize = (width + 7) // 8
            if pos + vsize > len(buf):
                raise ValueError("RLE run value truncated")
            v = int.from_bytes(buf[pos : pos + vsize], "little")
            pos += vsize
            if width < 64 and v >= 1 << width:
                raise ValueError("RLE run value too large for bit width")
            out += [v] * min(run, count - len(out))
    return out[:count]
