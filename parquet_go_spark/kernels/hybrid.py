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

Decode cost: :func:`decode` walks the first 16 runs, and a rest too short
to hold 128 more, one at a time as the reference does, so the writers'
single bit-packed run and a level stream of a few runs pay no setup.
Past that scalar prefix it takes no Python step per run: O(stream bytes) numpy work, plus O(stream bytes) per level
of the pointer-doubling walk of the run chain (log2 of the run count
levels), plus the values written. It reads only the bytes the count can
reach, at most ``(10 + ceil(width/8))`` per value plus one last run, so
bytes past the count's end (a dictionary page's rest) cost nothing. Foreign writers (pyarrow) mix short
RLE and bit-packed runs, and a dictionary column of 1-7-value runs has
one run per ~4 values. So the cost of a hostile stream is bounded by its
length: 2 MiB of one-group bit-packed runs (8M values) decodes in ~0.6 s
and 2 MiB of one-value RLE runs in ~0.2 s on a 4-vCPU host, inside the
2 s bound on parsing untrusted bytes (``tests/test_hostile_timing.py``);
the run-at-a-time walk took 67 s and 2.4 s.
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


# The scalar walker decodes the first _PREFIX_RUNS runs, and any rest too
# short to hold _TAIL_RUNS runs (a run takes a header byte and at least
# ceil(width/8) more): the vectorized walk's fixed cost (~60 numpy calls)
# is worth ~100 short runs walked one at a time.
_PREFIX_RUNS = 16
_TAIL_RUNS = 128
_NONE = np.empty(0, np.uint64)  # an out of no values: _run checks a run, writes nothing


def decode(buf, width: int, count: int) -> np.ndarray:
    """Decode ``count`` values from a hybrid stream -> uint64 array."""
    if width == 0 or count == 0:
        return np.zeros(count, dtype=np.uint64)
    out = np.empty(count, dtype=np.uint64)
    mv = memoryview(buf).cast("B")  # normalize signed buffer views
    vsize = (width + 7) // 8
    tail = len(mv) - _TAIL_RUNS * (1 + vsize)  # past it, too few bytes left
    pos = filled = 0
    for _ in range(_PREFIX_RUNS):
        pos, filled = _run(mv, pos, width, vsize, out, filled)
        if filled == count:
            return out
    while pos > tail:
        pos, filled = _run(mv, pos, width, vsize, out, filled)
        if filled == count:
            return out
    _decode_rest(mv, pos, width, out[filled:])
    return out


def _run(mv, pos: int, width: int, vsize: int, out: np.ndarray, filled: int) -> tuple[int, int]:
    """Decode the one run whose header sits at ``pos`` into
    ``out[filled:]`` -> (next run's pos, new filled)."""
    h, pos = read_uvarint(mv, pos)
    n = h >> 1
    if h & 1:  # bit-packed run of n groups of 8 values
        if n == 0:
            raise ValueError("empty bit-packed run")
        nbytes = n * width
        if nbytes > len(mv) - pos:
            raise ValueError("bit-packed run truncated")
        take = min(8 * n, len(out) - filled)
        out[filled : filled + take] = bitpack.unpack(np.frombuffer(mv, np.uint8, nbytes, pos), width, take)
        return pos + nbytes, filled + take
    if n == 0:  # RLE run of n copies of one value
        raise ValueError("empty RLE run")
    end = pos + vsize
    if end > len(mv):
        raise ValueError("RLE run value truncated")
    v = int.from_bytes(mv[pos:end], "little")
    if v >> width and width < 64:
        raise ValueError("RLE run value too large for bit width")
    stop = min(filled + n, len(out))
    out[filled:stop] = v
    return end, stop


def _decode_rest(mv, base: int, width: int, out: np.ndarray) -> None:
    """Fill ``out`` from the runs starting at ``base``, with no Python
    step per run: read a header candidate at every byte, follow the run
    chain from ``base`` by pointer doubling, then fill every RLE run with
    one ``np.repeat`` and unpack every bit-packed run with one
    :func:`bitpack.unpack` over their concatenated (group-aligned)
    payloads. Raises what :func:`_run` would raise on the first bad run
    the count reaches."""
    need = len(out)
    vsize = (width + 7) // 8
    # only the bytes the count can reach are read: the runs that leave
    # the count short hold at most need - 1 values, each in at most
    # 10 + vsize bytes (a one-value RLE run; a bit-packed group of 8 takes
    # at most 10 + width), so the run that completes the count starts
    # within (10 + vsize) * (need - 1) bytes and reads at most a header and
    # an RLE value or ceil(need / 8) groups more. A bit-packed run that
    # ends past this window can only be that last run, and is checked
    # against the whole stream below
    full = len(mv) - base
    n = min(full, (10 + vsize) * (need - 1) + 10 + max(vsize, (need + 7) // 8 * width))
    cut = n < full
    b = np.frombuffer(mv, np.uint8, n, base)
    # a header's run length is capped at lim: past it a bit-packed run
    # overruns the stream and an RLE run fills the count, so lim * width
    # and every position stay inside the index type
    lim = max(n, need) + 1
    it = np.int32 if lim < 1 << 24 else np.int64
    # every byte read as a header: its length hlen and h (its value) for
    # headers of up to 4 bytes. run: bytes i .. i+k-1 are all
    # continuation bytes (>= 0x80), so byte i+k belongs to the header
    more = b >= 0x80
    low = b & np.uint8(0x7F)
    run = more.copy()
    hlen = run.astype(np.uint8) + np.uint8(1)
    h = low.astype(it)
    for k in range(1, 4):
        m = max(n - k, 0)
        h[:m] |= (low[k:] * run[:m]).astype(it) << (7 * k)
        run[:m] &= more[k:]
        hlen += run
    # the few headers of 5 to 10 bytes (11: too long), exact in uint64; a
    # header cut off by the stream's end reads its last byte again and
    # stays too long for the stream
    arg = np.minimum(h >> 1, lim)  # the run's group or value count
    long = np.flatnonzero(run)
    if len(long):
        hv = h[long].astype(np.uint64)
        ln, cont = hlen[long], run[long]
        for k in range(4, 10):
            byte = b[np.minimum(long + k, n - 1)]
            hv |= ((byte & np.uint8(0x7F)) * cont).astype(np.uint64) << np.uint64(7 * k)
            cont &= byte >= 0x80
            ln += cont
        hlen[long] = ln
        arg[long] = np.minimum(hv >> np.uint64(1), np.uint64(lim)).astype(it)
    # (masked selects over these unpredictable masks cost ~7x the
    # arithmetic form, so bp and ok select by multiplication)
    bp = (b & np.uint8(1)).view(bool)  # h & 1 is the first byte's low bit
    nxt = (arg * width - vsize) * bp + (np.arange(n, dtype=it) + vsize)
    nxt += hlen
    fits = nxt <= n
    ok = hlen <= 10
    if not cut:
        ok &= fits
    # jump[i]: the next run's header after a header at i; a bad header
    # and the stream's (or window's) end go to the sink n. Pointer
    # doubling gathers jump by itself once per level, so it holds numpy's
    # index type
    jump = np.empty(n + 1, np.intp)
    jump[:n] = (nxt - n) * (ok & fits)
    jump[n] = 0
    jump += n
    del more, run, low, h, nxt
    chain = np.zeros(1, np.intp)  # the chain's first 2**k headers
    while chain[-1] != n:
        chain = np.concatenate([chain, jump[chain]])
        if chain[-1] != n:
            jump = jump[jump]
    heads = chain[: np.searchsorted(chain, n)]
    bad = heads[-1] if len(heads) and not ok[heads[-1]] else n  # the chain's end
    heads = heads[: len(heads) - int(bad < n)]
    is_bp, arg = bp[heads], arg[heads]
    cnt = np.minimum(np.where(is_bp, arg * 8, arg), need)
    cum = np.cumsum(cnt, dtype=np.int64)
    # runs up to the one that completes the count; all of them when the
    # count runs past the chain's end
    kept = min(int(np.searchsorted(cum, need)) + 1, len(heads))
    heads, is_bp, arg, cnt = heads[:kept], is_bp[:kept], arg[:kept], cnt[:kept]
    rle = heads[~is_bp]
    vpos = rle + hlen[rle]
    v = np.zeros(len(rle), np.uint64)
    for k in range(vsize):
        v |= b[vpos + k].astype(np.uint64) << np.uint64(8 * k)
    # the first bad run the count reaches raises, as in _run
    err = arg == 0
    if width < 64:
        err[~is_bp] |= (v >> np.uint64(width)) != 0
    if err.any():
        _run(mv, base + int(heads[int(np.argmax(err))]), width, vsize, _NONE, 0)
    if not kept or cum[kept - 1] < need:
        _run(mv, base + int(bad), width, vsize, _NONE, 0)
        raise ValueError("hybrid stream ended early")  # _run raised already
    last = int(heads[-1])
    if cut and is_bp[-1] and last + int(hlen[last]) + int(arg[-1]) * width > n:
        _run(mv, base + last, width, vsize, _NONE, 0)  # its payload's end, exact
    take = cnt.copy()
    take[-1] -= cum[kept - 1] - need
    n_bp = int(take[is_bp].sum())
    if n_bp:
        seg = np.zeros(n + 1, np.int8)  # +1 / -1 at each payload's ends
        starts = heads[is_bp] + hlen[heads[is_bp]]
        seg[starts] = 1
        # the groups the count takes: a last run may hold more
        seg[starts + (take[is_bp] + 7) // 8 * width] = -1
        payload = b[np.cumsum(seg[:n], dtype=np.int8).view(bool)]
        vals = bitpack.unpack(payload, width, n_bp)
    if n_bp == need:
        out[:] = vals
    elif not n_bp:
        out[:] = np.repeat(v, take[~is_bp])
    else:
        in_bp = np.repeat(is_bp, take)
        out[in_bp] = vals
        out[~in_bp] = np.repeat(v, take[~is_bp])


def decode_sized(buf: bytes, width: int, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    """Decode a size-prefixed (V1) stream; returns (values, new_pos)."""
    if width == 0:
        return np.zeros(count, dtype=np.uint64), pos
    try:
        (size,) = struct.unpack_from("<I", buf, pos)
    except struct.error as e:  # truncated stream: surface as a decode error
        raise ValueError(f"hybrid stream truncated at size prefix: {e}") from e
    pos += 4
    return decode(memoryview(buf).cast("B")[pos : pos + size], width, count), pos + size
