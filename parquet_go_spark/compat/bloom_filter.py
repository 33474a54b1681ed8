"""Parquet BloomFilter interop (parquet-format BloomFilter.md): write
split-block bloom filters into real ``.parquet`` files and probe any
writer's filters during scan planning.

The spec mandates XXH64 (seed 0) over plain-encoded values feeding a
split-block filter (SBBF) of 256-bit blocks. The SBBF block math is
shared with the engine's manifest blooms (``kernels/bloom.py`` — same
salt constants, same block selection); the spec-mandated column hash
is the KMV sketch's (``kernels/kmv.hash_column_values``) and this
module supplies the file plumbing:
``BloomFilterHeader`` thrift (numBytes + SplitBlock/XxHash/Uncompressed
unions) at ``ColumnMetaData.bloom_filter_offset`` (field 14, length in
field 15), bitset following the header.

This is the equality-prune tier row-group Statistics can't provide on
hash-scattered high-cardinality keys (every row group spans the whole
key range) — the real-Parquet analogue of the engine's manifest bloom
tier. The reference stops at min/max stats (parquet-go v0.12 has no
bloom filters); parquet-format's published design fills the gap.
"""

from __future__ import annotations

import struct as _s

import numpy as np

from ..core.prune import PLAIN_FORMATS, point_key
from ..kernels.bloom import BLOOM_BLOCK_BYTES, bloom_build, bloom_might_contain
from ..kernels.kmv import hash_column_values
from ..kernels.xxhash64 import xxh64
from ..limits import MAX_BLOOM_BYTES
from .parquet_reader import PHYSICAL_TYPES
from .thrift_compact import read_struct
from .thrift_writer import write_struct

__all__ = [
    "bloom_bytes_for_column",
    "bloom_header_bytes",
    "read_bloom_bitset",
    "bloom_probe_file",
    "hash_probe_value",
    "bits_per_value_for_fpp",
]

# ColumnMetaData thrift field ids (parquet.thrift)
CM_BLOOM_OFFSET = 14
CM_BLOOM_LENGTH = 15


def bits_per_value_for_fpp(fpp: float) -> int:
    """SBBF sizing: one bit set per block word (k = 8) gives
    fpp ~= (1 - e^(-8n/m))^8, so m = -8n / ln(1 - fpp^(1/8)) bits."""
    import math

    fpp = min(max(fpp, 1e-6), 0.5)
    return max(1, int(math.ceil(-8.0 / math.log(1.0 - fpp ** (1.0 / 8.0)))))


def bloom_bytes_for_column(col, fpp: float = 0.01) -> bytes | None:
    """SBBF bitset over a chunk's distinct values, sized from the
    observed distinct-hash count at ``fpp``; None for ``bool``, which
    has no bloom semantics. The hashes are the spec's XXH64 (seed 0) over
    each non-null value's PLAIN encoding."""
    if col.ptype == "bool":
        return None
    distinct = np.unique(hash_column_values(col))
    return bloom_build(
        distinct,
        ndv=max(len(distinct), 1),
        bits_per_value=bits_per_value_for_fpp(fpp),
        cap_bytes=1 << 22,
    )


def bloom_header_bytes(nbytes: int) -> bytes:
    """thrift BloomFilterHeader: numBytes + the three singleton unions
    (SplitBlockAlgorithm, XxHash, Uncompressed)."""
    return write_struct(
        {
            1: ("i32", nbytes),
            2: ("struct", {1: ("struct", {})}),
            3: ("struct", {1: ("struct", {})}),
            4: ("struct", {1: ("struct", {})}),
        }
    )


def read_bloom_bitset(buf, cmeta: dict) -> bytes | None:
    """ColumnMetaData -> SBBF bitset bytes, or None when the chunk has no
    filter / an unsupported algorithm-hash-compression combination.
    Forged headers raise before allocating (memory-governor contract)."""
    off = cmeta.get(CM_BLOOM_OFFSET)
    if off is None:
        return None
    mv = memoryview(buf).cast("B")  # normalize signed buffer views
    if not 0 <= off < len(mv):
        raise ValueError("implausible bloom_filter_offset")
    hdr, pos = read_struct(mv, off)
    nbytes = hdr.get(1, -1)
    # only the spec combination is probeable: block SBBF + XXH64 + raw
    if (
        1 not in hdr.get(2, {})
        or 1 not in hdr.get(3, {})
        or 1 not in hdr.get(4, {})
    ):
        return None
    if not (
        0 < nbytes <= MAX_BLOOM_BYTES
        and nbytes % BLOOM_BLOCK_BYTES == 0
        and pos + nbytes <= len(mv)
    ):
        raise ValueError("implausible bloom filter header")
    return bytes(mv[pos : pos + nbytes])


def hash_probe_value(value, ptype: int) -> int | None:
    """XXH64 of one predicate literal's PLAIN encoding, by the column's
    physical type id; None = no point-lookup proof
    (``core.prune.point_key``) — the caller must not prune."""
    key = point_key(value, PHYSICAL_TYPES.get(ptype))
    if key is None:
        return None
    try:
        return xxh64(key if isinstance(key, bytes) else _s.pack(PLAIN_FORMATS[ptype], key))
    except (KeyError, _s.error):
        return None


def bloom_probe_file(path: str, cmeta: dict, value) -> bool:
    """True ⇒ the chunk MIGHT contain ``value``; False ⇒ provably absent.
    Reads only the filter's bytes (one bounded pread), never data pages —
    safe to call during driver-side scan planning."""
    off = cmeta.get(CM_BLOOM_OFFSET)
    if off is None:
        return True
    h = hash_probe_value(value, cmeta[1])
    if h is None:
        return True
    ln = cmeta.get(CM_BLOOM_LENGTH)
    import os

    size = os.path.getsize(path)
    if not 0 <= off < size:
        return True  # malformed offset: keep (scan will surface errors)
    with open(path, "rb") as fh:
        fh.seek(off)
        region = fh.read(min(ln or (MAX_BLOOM_BYTES + 64), size - off))
    try:
        bits = read_bloom_bitset(region, {CM_BLOOM_OFFSET: 0, 1: cmeta[1]})
    except ValueError:
        return True
    if bits is None:
        return True
    return bloom_might_contain(bits, h)
