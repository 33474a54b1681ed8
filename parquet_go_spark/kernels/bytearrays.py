"""DELTA_LENGTH_BYTE_ARRAY and DELTA_BYTE_ARRAY codecs, vectorized.

Reference wire formats:
  * DELTA_LENGTH (``type_bytearray.go:98-187``): one DELTA_BINARY_PACKED
    int32 stream of all lengths (blockSize=128, miniBlocks=4,
    ``type_bytearray.go:174-187``), then the concatenated raw bytes.
  * DELTA (incremental, ``type_bytearray.go:189-292``): one delta-BP int32
    stream of shared-prefix lengths vs the previous value (first value's
    prefix vs the empty string = 0, ``helpers.go:234-246``), then the
    DELTA_LENGTH encoding of the suffixes.

Columns arrive as ``(lengths, data)`` flat arrays (Arrow layout), so the
prefix computation is a single segmented numpy compare of each value
against its predecessor — no per-row Python.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

from . import deltabp

__all__ = [
    "encode_delta_length",
    "decode_delta_length",
    "common_prefix_lengths",
    "encode_delta",
    "decode_delta",
    "train_zdict",
    "ZdictPlan",
    "plan_zdict",
    "choose_zdict_codec",
    "encode_zdict",
    "decode_zdict",
]


# --------------------------------------------------- trained-dict DEFLATE
def train_zdict(lengths: np.ndarray, data: np.ndarray, cap: int = 1 << 13) -> bytes:
    """Train a per-chunk preset dictionary for DEFLATE: up to 16
    contiguous 512-byte slices evenly spaced through the value stream
    (contiguous substrings, not strided bytes — DEFLATE matches
    substrings). The dictionary pays off on small chunks and at page
    starts, before the 32 KiB window warms up; it is the sandbox-available
    analogue of a trained zstd dictionary."""
    total = int(lengths.sum())
    if total <= cap:
        return b""  # stream smaller than a useful dict: window covers it
    n_slices = max(1, cap // 512)
    starts = np.linspace(0, total - 512, n_slices).astype(np.int64)
    return b"".join(bytes(data[s : s + 512]) for s in starts)


_ZSTD = pa.Codec("zstd", compression_level=3)


def _sample_stream(raw) -> bytes:
    """The probe material for every side-by-side codec/level comparison
    (a head-only probe mischose whole chunks; see encode_zdict): the
    whole stream up to 256 KiB, 8 disjoint strided 32 KiB slices up to
    1 MiB, and 4 strided 16 KiB slices (64 KiB) above that, where DEFLATE
    must win by 10% and a quarter-size sample still separates the
    codecs."""
    n = len(raw)
    if n <= 1 << 18:
        return bytes(raw)
    k, w = (8, 1 << 15) if n <= 1 << 20 else (4, 1 << 14)
    step = n // k
    return b"".join(bytes(raw[i * step : i * step + w]) for i in range(k))


def choose_zdict_codec(
    lengths: np.ndarray, data: np.ndarray, zdict: bytes = b"", probe: dict | None = None
) -> int:
    """Value-stream codec for the zdict layout: 0 = DEFLATE (+ trained
    dict), 1 = zstd-3. Sampled side-by-side; measured on web text, zstd-3
    compresses at ~330 MB/s/core vs DEFLATE-6's ~20 and DEFLATE-1's
    ~105, with a ratio between the two — so on large streams (where
    encode throughput is the scaling budget) DEFLATE must save >= 10% to
    justify its cost, while on small streams (speed irrelevant, trained
    dict at its most useful) the smaller output simply wins.

    The sample (:func:`_sample_stream`) is the whole stream up to 256 KiB,
    8 strided 32 KiB slices (256 KiB) up to 1 MiB, and 4 strided 16 KiB
    slices (64 KiB) above 1 MiB: inside the 10% margin a quarter-size
    sample decides the same codec at a quarter of the probe's cost.

    The probe must NOT hand DEFLATE the trained dict when the stream is
    strided-sampled: every slice of the sample is a window START, and a
    dict only helps DEFLATE at a window start, so a dicted probe
    over-represents the dict's benefit once per slice (~8x at 8 slices)
    vs the contiguous stream.
    That bias sent an 18.7 MB text chunk to DEFLATE-6 at 24 MB/s when
    zstd-3 was 10x faster AND smaller on the full stream (r5 profile).
    When the sample IS the whole stream the dicted probe is exact.

    One probe per chunk: the chunk encoders take this decision through
    :func:`plan_zdict`, over the chunk's whole column, and never probe a
    prefix or a page. When ``probe`` is given and the DEFLATE side ran at
    level 6 without a dict, ``probe["deflate6"]`` receives that sample's
    compressed size, which :func:`choose_deflate_level` reuses."""
    import zlib as _z

    raw = np.ascontiguousarray(data, dtype=np.uint8)
    s = _sample_stream(raw)
    lvl = 6 if len(data) <= 1 << 25 else 1
    probe_dict = zdict if (zdict and len(raw) <= 1 << 18) else b""
    co = (
        _z.compressobj(lvl, _z.DEFLATED, 15, 9, 0, probe_dict)
        if probe_dict
        else _z.compressobj(lvl)
    )
    d_len = len(co.compress(s) + co.flush())
    if probe is not None and lvl == 6 and not probe_dict:
        probe["deflate6"] = d_len
    z_len = len(_ZSTD.compress(s, asbytes=True))
    margin = 0.9 if len(data) > 1 << 20 else 1.0
    return 0 if d_len <= margin * z_len else 1


def choose_deflate_level(data, deflate6: int | None = None) -> int:
    """DEFLATE level policy (throughput-first at scale): tiny streams
    take 6 (microseconds), > 32 MiB always take 1 (level 6 costs
    seconds per task for a minority size win), in between a strided
    sampled side-by-side picks 6 only when it saves >= 20%. Hoisted to
    ONE probe per chunk by :func:`plan_zdict` (every page inherits via
    ``level=``), the same per-chunk-hint shape as ``choose_zdict_codec``
    and the ALP (e, rb) search — the probe costs two compress passes over
    :func:`_sample_stream`'s sample, which dominated per-page encode on
    DEFLATE chunks.
    ``deflate6`` is the strided sample's DEFLATE-6 size when the caller
    already compressed it (the codec probe's undicted pass); the probe
    then runs only the level-1 pass."""
    import zlib as _z

    raw = np.ascontiguousarray(data, dtype=np.uint8)
    n = len(raw)
    if n <= 1 << 16:
        return 6
    if n > 1 << 25:
        return 1
    s = _sample_stream(raw)
    if deflate6 is None:
        deflate6 = len(_z.compress(s, 6))
    return 6 if deflate6 <= 0.8 * len(_z.compress(s, 1)) else 1


class ZdictPlan(NamedTuple):
    """One chunk's zdict decision: the trained DEFLATE preset dictionary
    (``b""`` under zstd, whose pages never consult it), the value-stream
    codec (0 = DEFLATE, 1 = zstd-3) and the DEFLATE level (None under
    zstd)."""

    zdict: bytes
    codec: int
    level: int | None


def plan_zdict(lengths: np.ndarray, data: np.ndarray) -> ZdictPlan:
    """Probe a chunk's zdict layout once: train the dict, pick the codec
    on the whole column (strided sample) and, only when DEFLATE wins, the
    level — sharing the codec probe's DEFLATE-6 pass when both compressed
    the same undicted sample. The selector calls this once per chunk and
    hands the plan to the chunk encoder; a forced ``encoding="zdict"``
    calls it from the encoder. Every page inherits the plan."""
    zdict = train_zdict(lengths, data)
    probe: dict = {}
    if choose_zdict_codec(lengths, data, zdict, probe) == 1:
        return ZdictPlan(b"", 1, None)
    return ZdictPlan(zdict, 0, choose_deflate_level(data, probe.get("deflate6")))


def encode_zdict(
    lengths: np.ndarray,
    data: np.ndarray,
    zdict: bytes = b"",
    level: int | None = None,
    codec: int | None = None,
) -> bytes:
    """Delta-length layout with the value bytes entropy-coded:
      uvarint raw_len | uvarint comp_len | byte codec | <compressed values>
      | delta-BP int32 lengths stream
    codec 0 = DEFLATE under an optional per-chunk trained dictionary,
    codec 1 = zstd-3 (no dictionary; pyarrow's codec exposes no dict API).
    The codec-selector picks this encoding when entropy coding the values
    beats the lightweight codecs even after the block-compression stage;
    :func:`plan_zdict` picks the dict, entropy coder and level once per
    chunk, and every page inherits them via ``zdict``/``codec=``/``level=``;
    ``codec=None`` and ``level=None`` probe this one stream instead.

    DEFLATE ``level=None`` adapts per stream from STRIDED disjoint
    samples (a head-only probe mischose whole chunks: one
    unrepresentative first page sent a 240 MB html stream to level 6 at
    ~6 MB/s — 20 s for one chunk — while sibling chunks took level 1 at
    ~200 MB/s, a 30x bimodal task skew that sank the N->4N scaling run).
    Policy is throughput-first at scale: streams > 32 MiB always take
    level 1 (level 6 on a large chunk costs seconds per task for a
    minority size win); smaller streams take level 6 only when a sampled
    side-by-side shows it saving >= 20% over level 1. Both codecs'
    streams are self-describing, so decode never needs the choice."""
    import zlib as _z

    from .varint import uvarint

    # buffer-protocol view, never a bytes copy: the value stream is the
    # job's dominant byte volume and an extra pass over it is pure DRAM
    # traffic (the scaling bench's scarcest resource)
    raw = np.ascontiguousarray(data, dtype=np.uint8)
    raw_len = len(raw)
    if codec is None:
        codec = choose_zdict_codec(lengths, data, zdict)
    if codec == 1:
        comp = _ZSTD.compress(memoryview(raw), asbytes=True)
    else:
        if level is None:
            level = choose_deflate_level(raw)
        co = _z.compressobj(level, _z.DEFLATED, 15, 9, 0, zdict) if zdict else _z.compressobj(level)
        comp = co.compress(memoryview(raw)) + co.flush()
    lens = deltabp.encode(lengths.astype(np.int32, copy=False), 32)
    return bytes(uvarint(raw_len) + uvarint(len(comp)) + bytes([codec]) + comp + lens)


def decode_zdict(
    buf, pos: int = 0, zdict: bytes = b"", max_count: int | None = None
) -> tuple[np.ndarray, np.ndarray, int]:
    """-> (lengths, data, new_pos). ``max_count`` bounds the value count
    (see ``deltabp.decode``)."""
    import zlib as _z

    from .varint import read_uvarint

    mv = memoryview(buf).cast("B")  # normalize signed buffer views
    raw_len, pos = read_uvarint(mv, pos)
    comp_len, pos = read_uvarint(mv, pos)
    if pos >= len(mv):
        raise ValueError("zdict stream truncated")
    codec = mv[pos]
    pos += 1
    if codec > 1:
        raise ValueError(f"zdict stream has unknown codec {codec}")
    comp = bytes(mv[pos : pos + comp_len])
    if codec == 1:
        try:
            raw = _ZSTD.decompress(comp, raw_len, asbytes=True)
        except Exception as e:  # pyarrow raises OSError on corrupt frames
            raise ValueError(f"zdict zstd stream corrupt: {e}") from e
    else:
        try:
            do = _z.decompressobj(15, zdict) if zdict else _z.decompressobj()
            raw = do.decompress(comp, raw_len)
        except _z.error as e:
            raise ValueError(f"zdict deflate stream corrupt: {e}") from e
    if len(raw) != raw_len:
        raise ValueError("zdict stream truncated")
    pos += comp_len
    lengths, pos = deltabp.decode(buf, pos, 32, max_count)
    lengths = lengths.astype(np.int64)
    if int(lengths.sum()) != raw_len:
        raise ValueError("zdict length stream inconsistent")
    return lengths, np.frombuffer(raw, np.uint8), pos


def encode_delta_length(lengths: np.ndarray, data: np.ndarray) -> bytes:
    lens = deltabp.encode(lengths.astype(np.int32, copy=False), 32)
    return lens + np.ascontiguousarray(data, dtype=np.uint8).tobytes()


def decode_delta_length(
    buf, pos: int = 0, max_count: int | None = None
) -> tuple[np.ndarray, np.ndarray, int]:
    """-> (lengths, data, new_pos). ``max_count`` bounds the value count
    (see ``deltabp.decode``)."""
    lengths, pos = deltabp.decode(buf, pos, 32, max_count)
    lengths = lengths.astype(np.int64)
    total = int(lengths.sum())
    data = np.frombuffer(buf, np.uint8, total, pos)
    return lengths, data, pos + total


_HEAD = 32  # leading bytes of every value compared in one gather
_HEAD_PAIRS = 1 << 16  # pairs per head gather: bounds its scratch to ~4 MiB


def _segmented_prefix(data: np.ndarray, a: np.ndarray, b: np.ndarray, cmp_len: np.ndarray) -> np.ndarray:
    """Shared prefix of the byte runs ``data[a[i]:]`` and ``data[b[i]:]``
    over their first ``cmp_len[i] > 0`` bytes: one elementwise compare of
    every byte, first mismatch per run by ``np.minimum.reduceat``."""
    seg_starts = np.concatenate([[0], np.cumsum(cmp_len)[:-1]])
    within = np.arange(int(cmp_len.sum())) - np.repeat(seg_starts, cmp_len)
    neq = data[np.repeat(a, cmp_len) + within] != data[np.repeat(b, cmp_len) + within]
    miss = np.where(neq, within, np.iinfo(np.int64).max)
    return np.minimum(np.minimum.reduceat(miss, seg_starts), cmp_len)


def common_prefix_lengths(lengths: np.ndarray, data: np.ndarray) -> np.ndarray:
    """prefix[i] = shared prefix length of value i with value i-1 (prefix[0]=0).

    The first 32 bytes of every value (fewer when no pair is that long)
    are gathered as rows of one sliding-window view of the stream, and
    each row is compared with the next; the first mismatch, capped at the
    shorter value's length, is the prefix. Only pairs still equal after
    32 bytes go on to a segmented compare of their tails, so the cost is
    per pair, not per shared byte.
    """
    n = len(lengths)
    out = np.zeros(n, dtype=np.int64)
    if n <= 1:
        return out
    lengths = lengths.astype(np.int64, copy=False)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    cmp_len = np.minimum(lengths[:-1], lengths[1:])  # for pairs (i-1, i)
    head = min(_HEAD, int(cmp_len.max()))
    if head == 0:
        return out
    win = np.lib.stride_tricks.sliding_window_view(data, head)  # no copy
    pref = out[1:]
    for lo in range(0, n - 1, _HEAD_PAIRS):
        hi = min(lo + _HEAD_PAIRS, n - 1)
        rows = starts[lo : hi + 1]
        g = win[np.minimum(rows, len(win) - 1)]
        late = np.flatnonzero(rows >= len(win))
        if len(late):
            # values starting within the stream's last ``head`` bytes: gather
            # with clipped indices (bytes past a value are capped away below)
            g[late] = data[np.minimum(rows[late, None] + np.arange(head), len(data) - 1)]
        neq = g[:-1] != g[1:]
        first = neq.argmax(axis=1)
        first[~neq[np.arange(hi - lo), first]] = head  # no mismatch in the head
        pref[lo:hi] = np.minimum(first, cmp_len[lo:hi])
    tail = np.flatnonzero(pref == head)
    tail = tail[cmp_len[tail] > head]
    if len(tail):
        pref[tail] += _segmented_prefix(
            data, starts[tail] + head, starts[tail + 1] + head, cmp_len[tail] - head
        )
    return out


def encode_delta(lengths: np.ndarray, data: np.ndarray) -> bytes:
    """DELTA_BYTE_ARRAY: prefix lens (delta-BP) + suffixes (delta-length)."""
    n = len(lengths)
    if n == 0:
        return deltabp.encode(np.empty(0, np.int32), 32) + encode_delta_length(
            np.empty(0, np.int64), np.empty(0, np.uint8)
        )
    prefixes = common_prefix_lengths(lengths, data)
    suffix_lens = lengths - prefixes
    # gather suffix bytes
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    total = int(suffix_lens.sum())
    src = np.repeat(starts + prefixes, suffix_lens) + (
        np.arange(total)
        - np.repeat(np.concatenate([[0], np.cumsum(suffix_lens)[:-1]]), suffix_lens)
    )
    suffix_data = data[src] if total else np.empty(0, dtype=np.uint8)
    head = deltabp.encode(prefixes.astype(np.int32), 32)
    return head + encode_delta_length(suffix_lens, suffix_data)


def decode_delta(buf, pos: int = 0, max_count: int | None = None) -> tuple[np.ndarray, np.ndarray, int]:
    """-> (lengths, data, new_pos). Sequential prefix chains resolved in
    O(n) total work by materializing values front-to-back per "carry depth"
    is unnecessary: each output byte is either copied from the suffix
    stream or transitively from an earlier suffix byte. We resolve the
    indirection with pointer-chasing over at most ``log2(n)`` rounds."""
    prefixes, pos = deltabp.decode(buf, pos, 32, max_count)
    prefixes = prefixes.astype(np.int64)
    suffix_lens, suffix_data, pos = decode_delta_length(buf, pos, max_count)
    n = len(prefixes)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.uint8), pos
    if len(suffix_lens) != n:
        raise ValueError("delta byte array: prefix/suffix count mismatch")
    lengths = prefixes + suffix_lens
    # a prefix reaching past the previous value would make a byte its own
    # source: the pointer chase below would never finish
    if prefixes[0] != 0 or prefixes.min() < 0 or (prefixes[1:] > lengths[:-1]).any():
        raise ValueError("delta byte array: prefix longer than the previous value")
    out_starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    total = int(lengths.sum())
    # source index per output byte: suffix bytes map to the suffix stream,
    # prefix bytes map to the previous value's bytes (same offset).
    src = np.empty(total, dtype=np.int64)  # index into `out` (negative-1 means filled)
    filled = np.zeros(total, dtype=bool)
    out = np.empty(total, dtype=np.uint8)
    # fill suffix bytes directly
    suf_src = np.concatenate([[0], np.cumsum(suffix_lens)[:-1]])
    tgt = np.repeat(out_starts + prefixes, suffix_lens) + (
        np.arange(int(suffix_lens.sum())) - np.repeat(suf_src, suffix_lens)
    )
    out[tgt] = suffix_data
    filled[tgt] = True
    # prefix bytes point at previous value's identical offset
    prev_starts = np.concatenate([[0], out_starts[:-1]])
    ptgt = np.repeat(out_starts, prefixes) + (
        np.arange(int(prefixes.sum())) - np.repeat(np.concatenate([[0], np.cumsum(prefixes)[:-1]]), prefixes)
    )
    within = ptgt - np.repeat(out_starts, prefixes)
    src[ptgt] = np.repeat(prev_starts, prefixes) + within
    # resolve pointer chains to their suffix-byte roots by jump doubling:
    # chain depth halves every round -> log2(max depth) passes.
    pending = ptgt
    while len(pending):
        hop = src[pending]
        not_root = ~filled[hop]
        if not not_root.any():
            break
        upd = pending[not_root]
        src[upd] = src[hop[not_root]]
        pending = upd
    if len(ptgt):
        out[ptgt] = out[src[ptgt]]
    return lengths, out, pos
