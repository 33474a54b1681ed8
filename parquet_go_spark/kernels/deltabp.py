"""DELTA_BINARY_PACKED int32/int64 codec, numpy-vectorized, byte-identical
to the reference encoder (``deltabp_encoder.go``) with its writer constants
blockSize=128, miniBlockCount=4 (``chunk_writer.go:52-58,68-74``).

Wire format:
  uvarint(blockSize) uvarint(miniBlockCount) uvarint(valuesCount)
  zigzag-varint(firstValue)
  then per block of 128 deltas:
    zigzag-varint(minDelta) | 4 x uint8 miniblock bit widths (zero-padded)
    | packed miniblocks (only those containing data, each padded to 32
      values -> exactly 4*bw bytes)

Reference quirks reproduced bit-for-bit:
  * ``minDelta`` starts at ``math.MaxInt32`` for BOTH the 32- and 64-bit
    encoders (``deltabp_encoder.go:50,209``), so a 64-bit block whose
    deltas are all > 2^31-1 keeps minDelta = 2147483647.
  * deltas and ``delta - minDelta`` use wrapping two's-complement
    arithmetic; bit widths are computed on the unsigned cast
    (``deltabp_encoder.go:58-96``).
  * a single-value stream emits one "empty" block:
    zigzag(MaxInt32) + four zero width bytes (``deltabp_encoder.go:140-145``).
  * an empty stream is just the header with valuesCount=0, firstValue=0.
"""

from __future__ import annotations

import numpy as np

from . import bitpack
from .varint import read_uvarint, read_varint, uvarint, varint, varint_array

__all__ = ["encode", "decode", "BLOCK_SIZE", "MINI_BLOCKS", "MINI_BLOCK_VALUES"]

BLOCK_SIZE = 128
MINI_BLOCKS = 4
MINI_BLOCK_VALUES = BLOCK_SIZE // MINI_BLOCKS  # 32
_GO_MAXINT32 = 2147483647


def _bit_length_u64(m: np.ndarray) -> np.ndarray:
    """Exact per-element bit_length of a uint64 array (binary CLZ)."""
    m = m.copy()
    bw = np.zeros(m.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        t = m >> np.uint64(shift)
        hit = t > 0
        bw[hit] += shift
        m[hit] = t[hit]
    bw[m > 0] += 1
    return bw


def _scatter_var(out: np.ndarray, starts: np.ndarray, lengths: np.ndarray, src: np.ndarray):
    """Copy variable-length contiguous src segments to out[starts[i]:...]."""
    if len(starts) == 0:
        return
    src_starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    idx = np.repeat(starts, lengths) + (np.arange(len(src)) - np.repeat(src_starts, lengths))
    out[idx] = src


def encode(values: np.ndarray, bits: int) -> bytes:
    """Encode int32 (bits=32) or int64 (bits=64) values."""
    sdt = np.int32 if bits == 32 else np.int64
    udt = np.uint32 if bits == 32 else np.uint64
    v = values.astype(sdt, copy=False)
    n = len(v)
    first = int(v[0]) if n else 0
    header = uvarint(BLOCK_SIZE) + uvarint(MINI_BLOCKS) + uvarint(n) + varint(first)
    if n == 0:
        return header
    if n == 1:
        return header + varint(_GO_MAXINT32) + b"\x00" * MINI_BLOCKS

    with np.errstate(over="ignore"):
        deltas = v[1:] - v[:-1]  # wrapping
    nd = n - 1
    nblocks = -(-nd // BLOCK_SIZE)
    pad = nblocks * BLOCK_SIZE - nd
    if pad:
        # sentinel = MaxInt32 so padded slots never win the min (it's the
        # reference's init value, also correct for the int64 quirk)
        deltas = np.concatenate([deltas, np.full(pad, _GO_MAXINT32, dtype=sdt)])
    blocks = deltas.reshape(nblocks, BLOCK_SIZE)
    mins = np.minimum(blocks.min(axis=1), sdt(_GO_MAXINT32))
    with np.errstate(over="ignore"):
        adj = (blocks - mins[:, None]).view(udt)
    adj_flat = adj.reshape(-1).astype(np.uint64)
    adj_flat[nd:] = 0  # zero the padding (reference pads miniblocks with 0)

    mb = adj_flat.reshape(nblocks * MINI_BLOCKS, MINI_BLOCK_VALUES)
    present = (np.arange(nblocks * MINI_BLOCKS) * MINI_BLOCK_VALUES) < nd
    bw = _bit_length_u64(mb.max(axis=1))
    bw[~present] = 0

    min_bytes, min_lens = varint_array(mins.astype(np.int64))
    bw_u8 = bw.reshape(nblocks, MINI_BLOCKS).astype(np.uint8)
    mb_sizes = np.where(present, bw * (MINI_BLOCK_VALUES // 8), 0)
    blk_data = mb_sizes.reshape(nblocks, MINI_BLOCKS).sum(axis=1)
    blk_total = min_lens + MINI_BLOCKS + blk_data
    blk_start = np.concatenate([[0], np.cumsum(blk_total)[:-1]])

    out = np.empty(int(blk_total.sum()), dtype=np.uint8)
    _scatter_var(out, blk_start, min_lens, min_bytes)
    bw_idx = (blk_start + min_lens)[:, None] + np.arange(MINI_BLOCKS)
    out[bw_idx.ravel()] = bw_u8.ravel()

    # per-miniblock target offsets
    mb_off_in_blk = np.concatenate(
        [np.zeros((nblocks, 1), dtype=np.int64), np.cumsum(mb_sizes.reshape(nblocks, MINI_BLOCKS), axis=1)[:, :-1]],
        axis=1,
    )
    mb_targets = (
        np.repeat(blk_start + min_lens + MINI_BLOCKS, MINI_BLOCKS) + mb_off_in_blk.ravel()
    )
    for w in np.unique(bw[present]):
        w = int(w)
        sel = present & (bw == w)
        if w == 0:
            continue
        packed = np.frombuffer(bitpack.pack(mb[sel].ravel(), w), dtype=np.uint8)
        seg = w * (MINI_BLOCK_VALUES // 8)
        tgt = mb_targets[sel]
        idx = tgt[:, None] + np.arange(seg)
        out[idx.ravel()] = packed
    return header + out.tobytes()


def decode(buf, pos: int, bits: int, max_count: int | None = None) -> tuple[np.ndarray, int]:
    """Decode one delta-BP stream starting at ``pos``.

    Returns ``(values, new_pos)`` where new_pos is the first byte after the
    stream (consuming trailing miniblock padding exactly like the reference
    decoder, ``deltabp_decoder.go:146-164``).

    ``max_count`` bounds the stream's declared value count; page decoders
    pass the page's value count, so a forged count fails before anything
    is allocated. Counts above 2^28 are rejected regardless (forbp's cap).
    """
    sdt = np.int32 if bits == 32 else np.int64
    mv = memoryview(buf).cast("B")  # normalize signed buffer views
    block_size, pos = read_uvarint(mv, pos)
    mini_blocks, pos = read_uvarint(mv, pos)
    if block_size <= 0 or mini_blocks <= 0 or block_size % mini_blocks != 0:
        raise ValueError("delta-bp: invalid block structure")
    # allocation governor (forbp's discipline): a forged header claiming
    # a ~68M-value block with one miniblock drove a ~550 MB unpack
    # scratch and minutes of work out of an 11-byte buffer before any
    # bound failed. Real writers use 128/4 (the reference) up to a few
    # thousand values per block; 2^20 is far past every known writer.
    if block_size > 1 << 20 or mini_blocks > 4096:
        raise ValueError(
            f"delta-bp: implausible block structure {block_size}/{mini_blocks}"
        )
    mbv = block_size // mini_blocks
    if mbv % 8 != 0:
        raise ValueError("delta-bp: miniblock values not multiple of 8")
    count, pos = read_uvarint(mv, pos)
    # count governor: zero-width blocks cost ~2 bytes per block_size
    # values, so a 67-byte forged stream declared 30M values
    if count > 1 << 28 or (max_count is not None and count > max_count):
        raise ValueError(f"delta-bp: implausible count {count}")
    first, pos = read_varint(mv, pos)
    if count == 0:
        return np.empty(0, dtype=sdt), pos
    nd = count - 1
    if nd == 0:
        # single value: consume the empty flush block (minDelta + widths)
        _, pos = read_varint(mv, pos)
        pos += mini_blocks
        return np.array([first], dtype=sdt), pos
    # pass 1: walk block headers, record (width, offset) per present miniblock
    min_deltas = []
    counts = []
    mb_widths = []
    mb_offsets = []
    got = 0
    while got < nd:
        mind, pos = read_varint(mv, pos)
        widths = np.frombuffer(mv, np.uint8, mini_blocks, pos)
        pos += mini_blocks
        in_block = min(nd - got, block_size)
        present = -(-in_block // mbv)
        for m in range(present):
            w = int(widths[m])
            if w > bits:
                raise ValueError(f"delta-bp: width {w} exceeds type bits {bits}")
            mb_widths.append(w)
            mb_offsets.append(pos)
            pos += w * (mbv // 8)
        if pos > len(mv):
            raise ValueError("delta-bp: truncated miniblock data")
        min_deltas.append(mind)
        counts.append(in_block)
        got += in_block
    # pass 2: batch-unpack miniblocks grouped by width
    raw = np.frombuffer(mv, np.uint8)
    mbw = np.array(mb_widths, dtype=np.int64)
    mbo = np.array(mb_offsets, dtype=np.int64)
    n_mb = len(mbw)
    adj_mb = np.empty((n_mb, mbv), dtype=np.uint64)
    for w in np.unique(mbw):
        w = int(w)
        sel = np.flatnonzero(mbw == w)
        if w == 0:
            adj_mb[sel] = 0
            continue
        seg = w * (mbv // 8)
        src = mbo[sel][:, None] + np.arange(seg)
        packed = raw[src.ravel()]
        vals = bitpack.unpack(packed, w, len(sel) * mbv)
        adj_mb[sel] = vals.reshape(len(sel), mbv)
    # drop per-block tail padding: block b contributes counts[b] deltas
    counts_arr = np.array(counts, dtype=np.int64)
    present_per_block = -(-counts_arr // mbv)
    mb_block = np.repeat(np.arange(len(counts_arr)), present_per_block)
    mb_start_in_block = (
        np.arange(n_mb) - np.repeat(np.concatenate([[0], np.cumsum(present_per_block)[:-1]]), present_per_block)
    ) * mbv
    flat = adj_mb.reshape(-1)
    pos_in_block = mb_start_in_block[:, None] + np.arange(mbv)
    keep = (pos_in_block < counts_arr[mb_block][:, None]).reshape(-1)
    adj = flat[keep]
    with np.errstate(over="ignore"):
        deltas = adj.astype(np.uint64) + np.repeat(
            np.array(min_deltas, dtype=np.int64).astype(np.uint64), counts
        )
        if bits == 32:
            deltas = deltas.astype(np.uint32)
        vals = np.empty(count, dtype=deltas.dtype)
        mask = 0xFFFFFFFF if bits == 32 else 0xFFFFFFFFFFFFFFFF
        vals[0] = first & mask
        vals[1:] = deltas
        vals = np.cumsum(vals, dtype=deltas.dtype)
    return vals.view(sdt), pos
