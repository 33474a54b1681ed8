"""Frame-of-reference + bit-pack codec for int32/int64 streams.

The north-star pairs "frame-of-reference + delta-binary-packed" for
timestamp columns. DELTA_BINARY_PACKED (``deltabp.py``, matching the
reference's ``deltabp_encoder.go``) applies frame-of-reference to the
*deltas*; this kernel applies it to the *values* directly: subtract the
stream minimum, bit-pack the non-negative residuals at the minimal width.

Why keep both:
  * sorted / near-monotonic data (warc_ts): delta-BP wins on size
    (residuals are tiny), FOR wins on decode speed — reconstruction is
    ``unpack + add``; no prefix-sum over the whole stream.
  * clustered-but-unsorted data (timestamps bucketed by crawl batch,
    ids within a partition range): deltas alternate sign and carry the
    full spread, while ``max-min`` stays small — FOR wins on size too.
The chunk selector estimates both and picks per column chunk.

Wire format (one stream per page, self-delimiting):
  uvarint(count) | zigzag-varint(reference = min value)
  | u8 bit width | bit-packed (value - reference), LSB-first,
    padded to a multiple of 8 values (pad bits decode then drop).

All arithmetic is wrapping two's-complement so INT32_MIN/INT64_MIN
extremes round-trip exactly (width degrades to the full 32/64 bits —
never wrong, merely incompressible).
"""

from __future__ import annotations

import numpy as np

from ..limits import MAX_ROWS
from . import bitpack
from .varint import read_uvarint, read_varint, uvarint, varint

__all__ = ["encode", "decode", "estimate_size"]


def _dtypes(bits: int):
    if bits == 32:
        return np.int32, np.uint32
    return np.int64, np.uint64


def encode(values: np.ndarray, bits: int) -> bytes:
    """Encode int32 (bits=32) or int64 (bits=64) values."""
    sdt, udt = _dtypes(bits)
    v = values.astype(sdt, copy=False)
    n = len(v)
    if n == 0:
        return uvarint(0)
    ref = int(v.min())
    with np.errstate(over="ignore"):
        adj = (v - sdt(ref)).view(udt).astype(np.uint64)
    width = int(adj.max()).bit_length()
    pad = (-n) % 8
    if pad:
        adj = np.concatenate([adj, np.zeros(pad, np.uint64)])
    return uvarint(n) + varint(ref) + bytes([width]) + bitpack.pack(adj, width)


def decode(buf, pos: int, bits: int, max_count: int | None = None) -> tuple[np.ndarray, int]:
    """Decode one FOR stream starting at ``pos`` -> (values, new_pos).
    ``max_count`` bounds the declared count (see ``deltabp.decode``)."""
    sdt, _udt = _dtypes(bits)
    mv = memoryview(buf).cast("B")  # normalize signed buffer views
    n, pos = read_uvarint(mv, pos)
    if n > MAX_ROWS or (max_count is not None and n > max_count):
        # allocation governor: a width-0 stream stores no packed bytes,
        # so a forged count would otherwise allocate unbounded zeros
        raise ValueError(f"for_bp: implausible count {n}")
    if n == 0:
        return np.empty(0, dtype=sdt), pos
    ref, pos = read_varint(mv, pos)
    width = mv[pos]
    pos += 1
    if width > bits:
        raise ValueError(f"for_bp: width {width} exceeds type bits {bits}")
    nbytes = ((n + 7) // 8) * width
    if pos + nbytes > len(mv):
        raise ValueError("for_bp: truncated stream")
    mask = (1 << bits) - 1
    if width == 0:
        # constant column: every value IS the reference — fill directly
        # instead of adding ref to n zeros through a uint64 intermediate
        # (a legitimate width-0 page can carry tens of millions of
        # values in a handful of bytes; the generic path materialized
        # 8-byte zeros + add + cast, ~10 s at 139M values vs ~0.1 s)
        out = np.full(n, ref & mask, dtype=np.uint32 if bits == 32 else np.uint64)
        return out.view(sdt), pos
    vals = bitpack.unpack(np.frombuffer(mv, np.uint8, nbytes, pos), width, n)
    pos += nbytes
    with np.errstate(over="ignore"):
        out = vals + np.uint64(ref & mask)
        if bits == 32:
            out = out.astype(np.uint32)
    return out.view(sdt), pos


def estimate_size(values: np.ndarray, bits: int) -> int:
    """Exact encoded size without materializing the stream (one min/max
    pass): the selector uses this — FOR size is closed-form."""
    n = len(values)
    if n == 0:
        return 1
    sdt, _udt = _dtypes(bits)
    v = values.astype(sdt, copy=False)
    lo, hi = int(v.min()), int(v.max())
    spread = (hi - lo) & ((1 << bits) - 1)  # wrapping, Python-int exact
    width = spread.bit_length()
    return len(uvarint(n)) + len(varint(lo)) + 1 + ((n + 7) // 8) * width
