"""Split-block bloom filters (SBBF) for manifest-level equality pruning.

Parquet-format's bloom filter scheme (BloomFilter.md: 256-bit blocks of
eight 32-bit words, one bit per word per value, multiply-shift block
selection) re-expressed as vectorized numpy over the engine's null-
stripped column buffers.  The reference repo does not implement bloom
filters (parquet-go v0.12 stops at min/max stats); this is the point-
lookup complement the north rule's 10^12-row table needs: min/max on a
``url`` column is useless when every value shares the ``https://`` prefix,
while a per-chunk bloom lets ``url = ?`` probes skip every partition that
provably lacks the key.  Stored per (partition, column) in the manifest,
so pruning needs zero data-file reads.

Hashing uses :func:`pandas.util.hash_array` (SipHash-1-3 with pandas'
fixed default key for str/bytes, a splitmix-style scramble for ints):
deterministic across processes and Python versions, vectorized in C, and
str/bytes agnostic (``"a"`` and ``b"a"`` hash identically), so the probe
side can hash a plain Python literal the same way the build side hashed
the column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from ..core.prune import point_key

__all__ = [
    "bloom_build",
    "bloom_might_contain",
    "hash_column",
    "hash_scalar",
    "BLOOM_BLOCK_BYTES",
]

BLOOM_BLOCK_BYTES = 32  # 256-bit block = eight uint32 words

# parquet-format BloomFilter.md salt constants (public spec)
_SALT = np.array(
    [
        0x47B6137B,
        0x44974D91,
        0x8824AD5B,
        0xA2B7289D,
        0x705495C7,
        0x2DF1424B,
        0x9EFC4947,
        0x5C6BFB31,
    ],
    dtype=np.uint32,
)


def _block_and_masks(hashes: np.ndarray, nblocks: int) -> tuple[np.ndarray, np.ndarray]:
    """(block index[n], per-word bit masks[n, 8]) for 64-bit hashes."""
    h = hashes.astype(np.uint64, copy=False)
    hi = h >> np.uint64(32)
    block = ((hi * np.uint64(nblocks)) >> np.uint64(32)).astype(np.int64)
    lo = (h & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    with np.errstate(over="ignore"):
        bits = (lo[:, None] * _SALT[None, :]) >> np.uint32(27)
    masks = np.uint32(1) << bits
    return block, masks


def bloom_build(
    hashes: np.ndarray, ndv: int, bits_per_value: int = 16, cap_bytes: int = 1 << 17
) -> bytes:
    """Build an SBBF over 64-bit value hashes.

    ``ndv`` sizes the filter (distinct-value estimate; any overestimate
    just costs bytes).  ``cap_bytes`` bounds the serialized size — when
    the cap bites, the filter stays correct (no false negatives ever) and
    only its false-positive rate degrades.
    """
    need = max(1, -(-max(1, int(ndv)) * bits_per_value // 256))
    nblocks = max(1, min(need, cap_bytes // BLOOM_BLOCK_BYTES))
    words = np.zeros((nblocks, 8), dtype=np.uint32)
    if len(hashes):
        block, masks = _block_and_masks(np.asarray(hashes), nblocks)
        cols = np.broadcast_to(np.arange(8), masks.shape)
        rows = np.broadcast_to(block[:, None], masks.shape)
        np.bitwise_or.at(words, (rows, cols), masks)
    return words.tobytes()


def bloom_might_contain(filter_bytes: bytes, hash64: int) -> bool:
    """False ⇒ the value is provably absent from the chunk."""
    words = np.frombuffer(filter_bytes, dtype=np.uint32).reshape(-1, 8)
    block, masks = _block_and_masks(np.array([hash64], dtype=np.uint64), len(words))
    return bool(np.all(words[block[0]] & masks[0] == masks[0]))


def _hash_objects(obj: np.ndarray) -> np.ndarray:
    return pd.util.hash_array(obj, categorize=False).astype(np.uint64)


def hash_column(col) -> np.ndarray | None:
    """64-bit hashes of a ColumnData's non-null values, or None when the
    physical type has no useful equality-probe semantics (floats, bools)
    or the column is nested."""
    ptype = getattr(col, "ptype", None)
    if ptype in ("int32", "int64"):
        return _hash_objects(col.values.astype(np.int64, copy=False))
    if ptype == "bytes":
        n = len(col.lengths)
        # 64-bit offsets: a single chunk's byte column can exceed the 2 GiB
        # int32 range at scale, and an overflowed offset table would build
        # garbage hashes — i.e. possible false negatives => wrong pruning
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(col.lengths, out=offsets[1:])
        arr = pa.Array.from_buffers(
            pa.large_binary(),
            n,
            [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(col.data.tobytes())],
        )
        return _hash_objects(arr.to_pandas().to_numpy())
    if ptype == "flba":
        w = col.type_length
        n = len(col.data) // w if w else 0
        arr = pa.Array.from_buffers(
            pa.binary(w), n, [None, pa.py_buffer(col.data.tobytes())]
        )
        return _hash_objects(arr.to_pandas().to_numpy())
    return None


def hash_scalar(value, ptype: str) -> int | None:
    """Hash one probe literal the way :func:`hash_column` hashed the
    column; None when it gives no point-lookup proof
    (``core.prune.point_key``: flba blooms hash raw storage bytes, so
    only a bytes probe compares) or the type has no bloom."""
    key = point_key(value, ptype)
    if key is None or ptype not in ("int32", "int64", "bytes", "flba"):
        return None
    arr = np.array([key], dtype=np.int64 if isinstance(key, int) else object)
    return int(_hash_objects(arr)[0])
