"""Column-chunk encoder/decoder: the engine's analogue of the reference's
``writeChunk`` (``chunk_writer.go:154-317``) — page cutting, the exact
dictionary-vs-fallback decision, the extended codec auto-selector, and a
compact binary chunk container (our stand-in for thrift page headers;
stats and lineage live in the manifest instead of the footer).

Chunk container layout (little-endian, all varints = LEB128):
  magic "PGSC" | version u8 | ptype u8 | encoding u8 | compression u8
  | flags u8 (bit0 = has dict, bit1 = has codec dict, bit2 = page CRCs,
              bit3 = page stats)
  | uvarint num_rows | uvarint null_count
  [ if flba: uvarint type_length ]
  [ if dict: uvarint dict_count | uvarint raw_len | uvarint comp_len
             | compressed PLAIN-encoded uniques ]
  [ if codec dict: uvarint len | trained DEFLATE dictionary ]
  | uvarint num_pages
  | per page: uvarint rows | uvarint nulls | uvarint raw_len
              | uvarint comp_len [ | u32 crc of compressed bytes ]
              [ | page stats: u8 present-bits | per bound uvarint len + utf8 ]
              | compressed (def-levels V1 + values)

Per-page CRC32 (flags bit2, reference ``WithCRC`` / ``page_v1.go:210-214``
validated at ``chunk_reader.go:173-177``) localizes corruption to a page;
the whole-chunk CRC in the manifest stays the job-level integrity check.
Page stats (flags bit3) are the Parquet ColumnIndex analogue: prune-safe
min/max bounds readable from the header walk alone (``chunk_page_index``),
so a predicate can skip whole pages without decompressing them
(``decode_chunk(row_sel=...)``).

The per-page payload byte layout (def levels with 4-byte size prefix, then
the value stream) matches the reference's uncompressed page-V1 block
(``page_v1.go:162-222``), so the size gate compares like for like.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from ..kernels import bitpack  # noqa: F401  (re-exported for selectors)
from ..kernels import alp, bytearrays, bytestreamsplit, deltabp, dictenc, forbp, fsst, hybrid, levels, plain
from ..kernels.varint import read_uvarint, uvarint
from .columns import ColumnData, gather_segments

__all__ = [
    "encode_chunk",
    "decode_chunk",
    "chunk_page_index",
    "chunk_dict_values",
    "ENCODINGS",
    "DICT_MAX",
    "ChunkMeta",
    "bound_str",
]

MAGIC = b"PGSC"
VERSION = 1
# decode-side allocation cap (reference WithMaximumMemorySize, alloc.go)
MAX_DECODE_ROWS = 1 << 28
DICT_MAX = 32767  # math.MaxInt16, type_dict.go:101 / chunk_writer.go:188,200
DEFAULT_PAGE = 1 << 20  # data_store.go:149-154

PTYPES = {"bool": 0, "int32": 1, "int64": 2, "float": 3, "double": 4, "bytes": 5, "flba": 6}
PTYPES_R = {v: k for k, v in PTYPES.items()}

ENCODINGS = {
    "plain": 0,
    "rle_dict": 1,  # dict page + hybrid index stream
    "delta_bp": 3,
    "delta_length": 4,
    "delta_bytes": 5,
    "fsst": 6,
    "bss": 7,
    "rle_bool": 8,
    "zdict": 9,  # delta-length layout, DEFLATE values + trained dict
    "for_bp": 10,  # frame-of-reference + bit-pack (north-star ts pairing)
    "alp": 11,  # adaptive lossless floats (VLDB'24), digits ride for_bp
}
ENCODINGS_R = {v: k for k, v in ENCODINGS.items()}

COMPRESSIONS = {"none": 0, "zlib": 1, "snappy": 2, "zstd": 3, "lz4": 4}
COMPRESSIONS_R = {v: k for k, v in COMPRESSIONS.items()}

_FIXED_KIND = {"int32": "int32", "int64": "int64", "float": "float", "double": "double"}


def _compress(payload: bytes, compression: str) -> bytes:
    if compression == "none":
        return payload
    if compression == "zlib":
        return zlib.compress(payload, 6)
    codec = pa.Codec(compression)
    return codec.compress(payload, asbytes=True)


def _decompress(payload: bytes, compression: str, raw_len: int) -> bytes:
    if compression == "none":
        return payload
    if compression == "zlib":
        return zlib.decompress(payload)
    return pa.Codec(compression).decompress(payload, raw_len, asbytes=True)


@dataclass
class ChunkMeta:
    ptype: str
    encoding: str
    compression: str
    num_rows: int
    null_count: int
    distinct: int
    raw_bytes: int
    encoded_bytes: int
    num_pages: int
    crc32: int
    min_value: object = None
    max_value: object = None

    def as_dict(self) -> dict:
        _s = bound_str
        return {
            "ptype": self.ptype,
            "encoding": self.encoding,
            "compression": self.compression,
            "num_rows": self.num_rows,
            "null_count": self.null_count,
            "distinct": self.distinct,
            "raw_bytes": self.raw_bytes,
            "encoded_bytes": self.encoded_bytes,
            "num_pages": self.num_pages,
            "crc32": self.crc32,
            "min_str": _s(self.min_value),
            "max_str": _s(self.max_value, is_max=True),
        }


# ------------------------------------------------------------- chunk stats
def bound_str(v, is_max=False) -> str | None:
    """Prune-safe string bound for a typed min/max value.

    Manifest and page bounds are compared as strings on the prune path
    (decode_job ``_le``): non-UTF8 bytes -> None (pruning disabled,
    conservative); long strings -> truncated prefix for min (a valid
    lower bound) and truncate-and-increment for max (Parquet's
    convention: the incremented prefix upper-bounds every string sharing
    the original prefix)."""
    if v is None:
        return None
    if isinstance(v, bytes):
        try:
            s = v.decode("utf-8")
        except UnicodeDecodeError as err:
            # a multibyte char split at the truncation cap (or any
            # non-UTF8 tail): the clean head is still a valid
            # prefix, and UTF-8 byte order == codepoint order, so
            # head (for min) / incremented head (for max) remain
            # prune-safe bounds; an empty head disables pruning
            s = v[: err.start].decode("utf-8")
            if not s:
                return None
            return _increment_str(s[:64]) if is_max else s[:64]
        if len(s) <= 64:
            return s
        return _increment_str(s[:64]) if is_max else s[:64]
    return str(v)


def _increment_str(p: str) -> str | None:
    """Smallest-effort strict upper bound for every string starting with
    ``p``: increment the last incrementable codepoint (skipping the
    surrogate gap). None when no such bound exists (all chars at max)."""
    for i in range(len(p) - 1, -1, -1):
        nc = ord(p[i]) + 1
        if 0xD800 <= nc <= 0xDFFF:
            nc = 0xE000
        if nc <= 0x10FFFF:
            return p[:i] + chr(nc)
    return None


def _extreme_bytes(
    data: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    cand: np.ndarray,
    want_min: bool,
    cap: int = 280,
) -> bytes:
    """Lexicographic min/max over candidate byte strings that tie on
    their first 8 bytes: compare successive 8-byte big-endian keys,
    narrowing the candidate set each round.

    Exact up to ``cap`` prefix bytes. Past the cap (boilerplate columns
    where thousands of multi-KB values share hundreds of bytes) the
    result degrades to a prune-safe BOUND instead of an exact value:
    min -> the shortest surviving candidate truncated to the tied prefix
    (a prefix of the true min, hence a valid lower bound); max -> the
    tied prefix with its last non-0xFF byte incremented (Parquet's
    truncate-and-increment: a strict upper bound for every string
    sharing the prefix). Every consumer (manifest ``as_dict`` truncates
    to 64 chars anyway; the Parquet footer writes bounds, not values)
    needs only bound semantics, and ``cap`` = 280 > 4 bytes/char * 64
    chars + 8 keeps the 64-char manifest strings byte-identical to the
    exact computation. Exactness beyond the cap was pure waste: ~66% of
    html-column encode time went to resolving KB-deep ties."""
    if len(cand) > 1:
        offj = np.arange(8)
        pw = np.array([1 << (8 * (7 - i)) for i in range(8)], dtype=np.uint64)
        off = 8  # first 8 bytes already tied
        limit = len(data)
        skip = 64  # fast-skip width, doubles while prefixes stay shared
        mode_skip = False
        while len(cand) > 1:
            if off >= cap:
                if want_min:
                    i = int(cand[np.argmin(lens[cand])])
                    return bytes(data[starts[i] : starts[i] + min(int(lens[i]), off)])
                i = int(cand[np.argmax(lens[cand])])
                p = bytearray(data[starts[i] : starts[i] + min(int(lens[i]), off)])
                while p and p[-1] == 0xFF:
                    p.pop()
                if p:
                    p[-1] += 1
                    return bytes(p)
                cap = 1 << 62  # all-0xFF prefix: no increment exists, go exact
            rem = lens[cand] - off
            exhausted = rem <= 0
            if exhausted.all():
                break
            if exhausted.any():
                # an exhausted candidate is byte-equal to the survivors up
                # to its own end ⇒ it is a strict PREFIX of every longer
                # tied value. For min the shortest prefix IS the minimum
                # (resolve by the length tie-break below); for max the
                # prefixes are strictly smaller — drop them, which also
                # unblocks fast-skip (a short candidate otherwise gates
                # `(rem >= skip).all()` forever, forcing 8-byte rounds
                # through kilobyte boilerplate prefixes)
                if want_min:
                    cand = cand[exhausted]
                    break
                cand = cand[~exhausted]
                rem = rem[~exhausted]
                if len(cand) == 1:
                    break
            # fast-skip: boilerplate columns (html headers, url scheme)
            # share prefixes for hundreds of bytes; once a key round fails
            # to narrow (identical window everywhere), leap whole blocks
            # with one vectorized compare, doubling the block width
            if mode_skip and (rem >= skip).all():
                p0 = int(starts[cand[0]] + off)
                ref = data[p0 : p0 + skip]
                # rem >= skip for every candidate ⇒ the window is inside
                # each value ⇒ indices stay in bounds without padding
                blk = data[(starts[cand] + off)[:, None] + np.arange(skip)]
                if (blk == ref[None, :]).all():
                    off += skip
                    skip = min(skip * 2, 1 << 16)
                    continue
                mode_skip = False
                skip = 64
            # masked lanes (offj >= rem) may index past the value into a
            # neighbor or past the buffer end: clamp in-bounds and zero
            # them — no whole-buffer pad copy (this ran 3x per chunk on a
            # 268 MB html column before)
            pos = np.minimum((starts[cand] + off)[:, None] + offj, limit - 1)
            b = data[pos].astype(np.uint64)
            b *= offj[None, :] < rem[:, None]
            keys = b @ pw
            sel = keys.min() if want_min else keys.max()
            new = cand[keys == sel]
            mode_skip = len(new) == len(cand)  # no narrowing: shared window
            cand = new
            off += 8
        if len(cand) > 1:
            # byte-equal up to the shorter length: length breaks the tie
            ln = lens[cand]
            cand = cand[ln == (ln.min() if want_min else ln.max())]
    i = int(cand[0])
    return bytes(data[starts[i] : starts[i] + lens[i]])


def column_minmax(col: ColumnData) -> tuple[object, object]:
    """Typed chunk min/max (reference O13, ``stats.go:9-225``),
    vectorized. Bytes: big-endian first-8-byte keys narrow the
    candidates, ties resolved by progressive 8-byte key comparison with
    no candidate-count cap (shared-prefix columns like urls stay
    correct); ties deeper than ~280 prefix bytes return prune-safe
    truncated bounds instead of exact values (see ``_extreme_bytes``).
    FLBA decimals compare as signed integers: widths <= 8 via one
    vectorized signed key, widths 9-16 (decimal128 carriers) via a
    signed-high/unsigned-low two-limb compare; only widths > 16 report
    no stats."""
    if col.num_values == 0:
        return None, None
    if col.ptype == "bool":
        v = col.values
        return bool(v.min()), bool(v.max())
    if col.ptype == "flba":
        w = col.type_length
        if w > 16:
            return None, None  # wider than a decimal128 carrier: no stats
        vals = col.data.reshape(col.num_values, w).astype(np.int64)
        if w > 8:
            # signed big-endian compare in two limbs: hi = leading w-8
            # bytes as a signed int (carries the sign), lo = trailing 8
            # bytes unsigned; (hi, lo) orders exactly like the full value
            k = w - 8
            pwh = np.array([1 << (8 * (k - 1 - i)) for i in range(k)], dtype=np.int64)
            pwl = np.array([1 << (8 * (7 - i)) for i in range(8)], dtype=np.uint64)
            with np.errstate(over="ignore"):
                hi_limb = vals[:, :k] @ pwh
                lo_limb = vals[:, k:].astype(np.uint64) @ pwl
            if k < 8:
                wrap = np.int64(1) << np.int64(8 * k - 1)
                hi_limb = np.where(
                    hi_limb >= wrap, hi_limb - (np.int64(1) << np.int64(8 * k)), hi_limb
                )
            # k == 8 (w == 16): the int64 matmul already wrapped two's complement
            h_lo = hi_limb.min()
            h_hi = hi_limb.max()
            lo = (int(h_lo) << 64) + int(lo_limb[hi_limb == h_lo].min())
            hi = (int(h_hi) << 64) + int(lo_limb[hi_limb == h_hi].max())
        else:
            pw = np.array([1 << (8 * (w - 1 - i)) for i in range(w)], dtype=np.int64)
            with np.errstate(over="ignore"):
                u = vals @ pw
            if w < 8:
                wrap = np.int64(1) << np.int64(8 * w - 1)
                u = np.where(u >= wrap, u - (np.int64(1) << np.int64(8 * w)), u)
            # w == 8: the int64 matmul already wrapped into two's complement
            lo, hi = int(u.min()), int(u.max())
        if col.logical.startswith("decimal128("):
            import decimal as _dec

            _p, s = (int(x) for x in col.logical[len("decimal128(") : -1].split(","))
            return _dec.Decimal(lo).scaleb(-s), _dec.Decimal(hi).scaleb(-s)
        return lo, hi
    if col.ptype != "bytes":
        v = col.values
        if col.ptype in ("float", "double"):
            # Parquet stats convention: NaN never enters min/max (it is
            # unordered — a 'nan' bound would poison every prune compare);
            # all-NaN chunks carry no bounds at all
            finite = v[~np.isnan(v)]
            if finite.size == 0:
                return None, None
            return finite.min().item(), finite.max().item()
        return v.min().item(), v.max().item()
    # bytes: Arrow's C++ lexicographic min_max over a ZERO-COPY
    # large_binary view (offsets from the cumulative lengths, data
    # buffer as-is) — exact at memcmp speed, 5-50x the numpy
    # key-narrowing below, which survives only as the fallback. The
    # old 280-byte exactness cap is gone: C++ comparisons short-circuit
    # at the first differing byte, so KB-deep shared prefixes cost one
    # prefix walk per comparison, not per-round Python work.
    try:
        import pyarrow.compute as pc

        n = col.num_values
        offsets = np.zeros(n + 1, np.int64)
        np.cumsum(col.lengths, out=offsets[1:])
        arr = pa.Array.from_buffers(
            pa.large_binary(),
            n,
            [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(col.data))],
        )
        mm = pc.min_max(arr)
        return mm["min"].as_py(), mm["max"].as_py()
    except Exception:
        pass
    lens = col.lengths
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    data = col.data
    off = np.arange(8)
    if len(data) == 0:
        keys = np.zeros(len(lens), dtype=np.uint64)
    else:
        # clamped gather + mask instead of padding a copy of the whole
        # value buffer (268 MB/chunk on html columns)
        pos = np.minimum(starts[:, None] + off, len(data) - 1)
        vals = data[pos] * (off[None, :] < lens[:, None])
        pw = np.array([1 << (8 * (7 - i)) for i in range(8)], dtype=np.uint64)  # big-endian
        keys = vals.astype(np.uint64) @ pw
    lo_key, hi_key = keys.min(), keys.max()
    lo = _extreme_bytes(col.data, starts, lens, np.flatnonzero(keys == lo_key), True)
    hi = _extreme_bytes(col.data, starts, lens, np.flatnonzero(keys == hi_key), False)
    return lo, hi


# --------------------------------------------------------------- factorize
def _factorize(col: ColumnData) -> tuple[np.ndarray, ColumnData | np.ndarray, int]:
    """First-occurrence factorization (reference dict order,
    chunk_writer.go:191-209). Returns (codes_int32, uniques, n_distinct)."""
    if col.ptype == "flba":
        w = col.type_length
        arr = pa.Array.from_buffers(
            pa.binary(w), col.num_values, [None, pa.py_buffer(np.ascontiguousarray(col.data))]
        )
        d = arr.dictionary_encode()
        codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int32)
        uq = d.dictionary
        udata = np.frombuffer(uq.buffers()[1], np.uint8, len(uq) * w)
        uniques = ColumnData(
            "flba", np.ones(len(uq), bool), data=np.asarray(udata), type_length=w
        )
        return codes, uniques, len(uq)
    if col.ptype == "bytes":
        offsets = np.concatenate([[0], np.cumsum(col.lengths)]).astype(np.int64)
        arr = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(),
            len(col.lengths),
            [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(col.data))],
        )
        d = arr.dictionary_encode()
        codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int32)
        uq = d.dictionary
        uq_l = uq.cast(pa.large_binary())
        uoff = np.frombuffer(uq_l.buffers()[1], dtype=np.int64, count=len(uq_l) + 1)
        ubuf = uq_l.buffers()[2]
        udata = np.frombuffer(ubuf, dtype=np.uint8, count=int(uoff[-1])) if ubuf else np.empty(0, np.uint8)
        uniques = ColumnData("bytes", np.ones(len(uq), bool), lengths=np.diff(uoff), data=udata)
        return codes, uniques, len(uq)
    import pandas as pd

    view = col.values
    if col.ptype in ("float", "double"):
        view = view.view(np.int32 if col.ptype == "float" else np.int64)
    codes, uq_view = pd.factorize(view, use_na_sentinel=False)
    uniques = np.asarray(uq_view).view(col.values.dtype)
    return codes.astype(np.int32), uniques, len(uniques)


def _encode_dict_values(uniques, ptype: str) -> bytes:
    if ptype == "bytes":
        return plain.encode_byte_array(uniques.lengths, uniques.data)
    if ptype == "flba":
        return plain.encode_fixed_byte_array(uniques.data)
    return plain.encode_fixed(uniques, _FIXED_KIND[ptype])


# -------------------------------------------------------------- page logic
def _page_boundaries(col: ColumnData, max_page: int) -> list[tuple[int, int]]:
    """Row ranges per page, cutting at ~max_page estimated bytes
    (estimateSize semantics, data_store.go:138-154: plain value bytes +
    level bytes)."""
    n = col.num_rows
    if n == 0:
        return [(0, 0)]
    if col.ptype == "bytes":
        per_value = np.zeros(n, dtype=np.int64)
        per_value[col.validity] = col.lengths + 4
    elif col.ptype == "flba":
        per_value = np.where(col.validity, col.type_length, 0).astype(np.int64)
    else:
        itemsize = {"bool": 1, "int32": 4, "int64": 8, "float": 4, "double": 8}[col.ptype]
        per_value = np.where(col.validity, itemsize, 0).astype(np.int64)
    est = np.cumsum(per_value + 1)  # +1 ~ level byte overhead upper bound /8 rounded
    bounds = []
    start = 0
    base = 0
    while start < n:
        cut = int(np.searchsorted(est, base + max_page, side="left")) + 1
        cut = min(max(cut, start + 1), n)
        bounds.append((start, cut))
        base = est[cut - 1]
        start = cut
    return bounds


_PAGE_STATS_MAX_LEN = 1 << 12  # bounds are <= 64 chars (<= 260 UTF-8 bytes)


def _page_slice_column(col: ColumnData, vstart: int, vend: int, dlo: int, dhi: int) -> ColumnData:
    """A ColumnData view of one page's non-null values (validity all-true:
    nulls never contribute to bounds)."""
    nvals = vend - vstart
    valid = np.ones(nvals, dtype=bool)
    if col.ptype == "bytes":
        return ColumnData("bytes", valid, lengths=col.lengths[vstart:vend], data=col.data[dlo:dhi])
    if col.ptype == "flba":
        return ColumnData(
            "flba", valid, data=col.data[dlo:dhi], type_length=col.type_length, logical=col.logical
        )
    return ColumnData(col.ptype, valid, values=col.values[vstart:vend], logical=col.logical)


def _encode_page_stats(col: ColumnData, vstart: int, vend: int, dlo: int, dhi: int) -> bytes:
    """Serialized prune-safe min/max for one page: present-bits byte
    (bit0 = min, bit1 = max) then uvarint-length-prefixed UTF-8 bound
    strings (same ``bound_str`` semantics as the manifest columns)."""
    if vend <= vstart:
        return b"\x00"
    page = _page_slice_column(col, vstart, vend, dlo, dhi)
    mn, mx = column_minmax(page)
    smn, smx = bound_str(mn), bound_str(mx, is_max=True)
    out = bytearray([(1 if smn is not None else 0) | (2 if smx is not None else 0)])
    for s in (smn, smx):
        if s is not None:
            b = s.encode("utf-8")
            out += uvarint(len(b))
            out += b
    return bytes(out)


def _read_page_stats(mv, pos: int) -> tuple[str | None, str | None, int]:
    """Parse one page-stats record; returns (min_str, max_str, new_pos)."""
    present = mv[pos]
    pos += 1
    vals: list[str | None] = [None, None]
    for i in range(2):
        if present & (1 << i):
            ln, pos = read_uvarint(mv, pos)
            if ln > _PAGE_STATS_MAX_LEN or pos + ln > len(mv):
                raise ValueError("implausible page stats length")
            vals[i] = bytes(mv[pos : pos + ln]).decode("utf-8")
            pos += ln
    return vals[0], vals[1], pos


# ------------------------------------------------------------ value codecs
def _chunk_fsst_table(col: ColumnData):
    """Train one symbol table per chunk on a strided string sample (pages
    reuse it — training per page would redo the dominant cost and a
    prefix sample misrepresents heterogeneous columns)."""
    from .columns import gather_segments

    total = int(col.lengths.sum())
    if total <= 1 << 17:
        return fsst.train(col.lengths, col.data)
    n_strs = len(col.lengths)
    starts = np.concatenate([[0], np.cumsum(col.lengths)[:-1]])
    avg = total / max(n_strs, 1)
    k = max(2, min(n_strs, int((1 << 16) / max(avg, 1))))
    idx = np.unique(np.linspace(0, n_strs - 1, k).astype(np.int64))
    lens = col.lengths[idx]
    data = gather_segments(col.data, starts[idx], lens)
    return fsst.train(lens, data)


def _encode_values(enc: str, col: ColumnData, vlo: int, vhi: int, dlo: int, dhi: int, codes, dict_size: int, index_mode: str, hint=None) -> bytes:
    """Encode values [vlo, vhi) (bytes [dlo, dhi)). ``hint`` is the
    chunk's probe result for ``enc`` (FSST table, zdict plan or ALP
    parameters; see ``selector.choose_encoding``)."""
    if enc == "rle_dict":
        return dictenc.encode_indices(codes[vlo:vhi].astype(np.uint64), dict_size, mode=index_mode)
    if col.ptype == "flba":
        w = col.type_length
        data = col.data[dlo:dhi]
        if enc == "plain":
            return plain.encode_fixed_byte_array(data)
        if enc == "bss":
            # byte-stream-split generalizes to any fixed width: transpose
            # the (n, w) byte matrix so same-significance bytes stream
            # together (compresses like the float case)
            k = (dhi - dlo) // w if w else 0
            return np.ascontiguousarray(data.reshape(k, w).T).tobytes()
        if enc == "delta_bytes":
            k = (dhi - dlo) // w if w else 0
            return bytearrays.encode_delta(np.full(k, w, np.int64), data)
        raise ValueError(f"bad flba encoding {enc}")
    if col.ptype == "bytes":
        lens = col.lengths[vlo:vhi]
        data = col.data[dlo:dhi]
        if enc == "plain":
            return plain.encode_byte_array(lens, data)
        if enc == "delta_length":
            return bytearrays.encode_delta_length(lens, data)
        if enc == "delta_bytes":
            return bytearrays.encode_delta(lens, data)
        if enc == "fsst":
            return fsst.encode_column(lens, data, hint)
        if enc == "zdict":
            return bytearrays.encode_zdict(lens, data, hint.zdict, level=hint.level, codec=hint.codec)
        raise ValueError(f"bad bytes encoding {enc}")
    vals = col.values[vlo:vhi]
    if enc == "plain":
        if col.ptype == "bool":
            return plain.encode_bool(vals)
        return plain.encode_fixed(vals, _FIXED_KIND[col.ptype])
    if enc == "rle_bool":
        return hybrid.with_size_prefix(hybrid.encode_auto(vals.astype(np.uint64), 1), 1)
    if enc == "delta_bp":
        return deltabp.encode(vals, 32 if col.ptype == "int32" else 64)
    if enc == "for_bp":
        return forbp.encode(vals, 32 if col.ptype == "int32" else 64)
    if enc == "bss":
        return bytestreamsplit.encode(vals)
    if enc == "alp":
        return alp.encode(vals, hint=hint)
    raise ValueError(f"bad encoding {enc} for {col.ptype}")


def _decode_values(enc: str, ptype: str, payload: bytes, pos: int, nvals: int, dict_vals, type_length: int = 0, codec_dict: bytes = b""):
    """-> (values_repr, pos). values_repr: ndarray or (lengths, data)."""
    if enc == "rle_dict":
        bw = payload[pos]
        pos += 1
        idx = hybrid.decode(bytes(memoryview(payload)[pos:]), bw, nvals).astype(np.int64)
        if ptype == "bytes":
            u_lens, u_data = dict_vals
            if len(idx) == 0:
                return (np.empty(0, np.int64), np.empty(0, np.uint8)), len(payload)
            starts = np.concatenate([[0], np.cumsum(u_lens)[:-1]]) if len(u_lens) else u_lens
            lens = u_lens[idx]
            return (lens, gather_segments(u_data, starts[idx], lens)), len(payload)
        if ptype == "flba":
            w = type_length
            ds = len(dict_vals) // w if w else 0
            if len(idx) == 0:
                return np.empty(0, np.uint8), len(payload)
            return dict_vals.reshape(ds, w)[idx].reshape(-1), len(payload)
        return dict_vals[idx], len(payload)
    if ptype == "flba":
        w = type_length
        if enc == "plain":
            _lens, data, pos = plain.decode_fixed_byte_array(payload, nvals, w, pos)
            return np.asarray(data), pos
        if enc == "bss":
            total = nvals * w
            data = np.frombuffer(payload, np.uint8, total, pos)
            return np.ascontiguousarray(data.reshape(w, nvals).T).reshape(-1), pos + total
        if enc == "delta_bytes":
            _lens, data, pos = bytearrays.decode_delta(payload, pos, nvals)
            return np.asarray(data), pos
        raise ValueError(f"bad flba encoding {enc}")
    if ptype == "bytes":
        if enc == "plain":
            lens, data, pos = plain.decode_byte_array(payload, nvals, pos)
        elif enc == "delta_length":
            lens, data, pos = bytearrays.decode_delta_length(payload, pos, nvals)
        elif enc == "delta_bytes":
            lens, data, pos = bytearrays.decode_delta(payload, pos, nvals)
        elif enc == "fsst":
            lens, data, pos = fsst.decode_column(payload, pos, nvals)
        elif enc == "zdict":
            lens, data, pos = bytearrays.decode_zdict(payload, pos, codec_dict, nvals)
        else:
            raise ValueError(enc)
        return (lens, data), pos
    if enc == "plain":
        if ptype == "bool":
            vals, pos = plain.decode_bool(payload, nvals, pos)
        else:
            vals, pos = plain.decode_fixed(payload, nvals, _FIXED_KIND[ptype], pos)
        return vals, pos
    if enc == "rle_bool":
        vals, pos = hybrid.decode_sized(payload, 1, nvals, pos)
        return vals.astype(bool), pos
    if enc == "delta_bp":
        vals, pos = deltabp.decode(payload, pos, 32 if ptype == "int32" else 64, nvals)
        return vals, pos
    if enc == "for_bp":
        vals, pos = forbp.decode(payload, pos, 32 if ptype == "int32" else 64)
        return vals, pos
    if enc == "bss":
        dt = {"int32": np.int32, "int64": np.int64, "float": np.float32, "double": np.float64}[ptype]
        vals, pos = bytestreamsplit.decode(payload, nvals, np.dtype(dt), pos)
        return vals, pos
    if enc == "alp":
        vals, pos = alp.decode(payload, pos, nvals, np.float32 if ptype == "float" else np.float64)
        return vals, pos
    raise ValueError(enc)


# ------------------------------------------------------------------ encode
def encode_chunk(
    col: ColumnData,
    profile: str = "auto",
    compression: str = "none",
    max_page: int = DEFAULT_PAGE,
    level_mode: str | None = None,
    encoding: str | None = None,
    page_crc: bool = False,
    page_stats: bool = False,
) -> tuple[bytes, ChunkMeta]:
    """Encode one column chunk. ``profile``:
    * ``"reference"`` — the exact reference decision (chunk_writer.go:
      174-227): dictionary unless boolean or distinct > 32767, else the
      column's fallback PLAIN; BP-only hybrid streams everywhere.
    * ``"auto"`` — extended selector (selector.py): sampled-size choice
      among all applicable codecs; RLE hybrid runs where smaller.
    ``encoding`` forces a specific codec (bypasses the selector), the
    analogue of the reference's per-column configured encoding
    (``schema.go:519-558``).

    ``page_stats=True`` (flags bit3) writes prune-safe min/max bounds
    into every page header — the Parquet ColumnIndex analogue (the
    reference stores page stats in ``data_store.go:166-179`` but nothing
    reads them; parquet-format's PageIndex.md is the public design this
    follows). ``chunk_page_index`` reads them back without decompressing
    any page, and ``decode_chunk(row_sel=...)`` decodes only the pages a
    predicate's surviving row ranges touch."""
    from .selector import choose_encoding  # local import to avoid cycle

    if type(col).__name__ == "ListData":
        from .listchunk import encode_list_chunk  # local: avoid cycle

        return encode_list_chunk(
            col,
            profile=profile,
            compression=compression,
            max_page=max_page,
            level_mode=level_mode,
            encoding=encoding,
        )
    if type(col).__name__ == "StructData":
        from .structchunk import encode_struct_chunk  # local: avoid cycle

        return encode_struct_chunk(
            col,
            profile=profile,
            compression=compression,
            max_page=max_page,
            level_mode=level_mode,
            encoding=encoding,
        )

    if level_mode is None:
        level_mode = "bp" if profile == "reference" else "auto"
    index_mode = "bp" if profile == "reference" else "auto"

    codes = dict_size = None
    uniques = None
    distinct = -1
    enc = None
    sel_aux = None
    if encoding is not None:
        enc = encoding
        if enc == "rle_dict":
            codes, uniques, distinct = _factorize(col)
            if distinct > DICT_MAX:
                raise ValueError(f"forced rle_dict but {distinct} distinct > {DICT_MAX}")
            dict_size = distinct
        else:
            dict_size = 0
    elif profile == "reference":
        if col.ptype != "bool" and col.num_values > 0:
            codes, uniques, distinct = _factorize(col)
            if distinct <= DICT_MAX:
                enc = "rle_dict"
                dict_size = distinct
            else:
                enc = "plain"
        else:
            if col.ptype == "bool":
                enc = "plain"
            else:
                # all-null non-bool chunk stays on the dict path with an
                # empty dictionary (TestWriteEmptyDict, readwrite_test.go:534)
                enc = "rle_dict"
                codes = np.empty(0, dtype=np.int32)
                uniques, distinct, dict_size = None, 0, 0
    else:
        enc, codes, uniques, distinct, dict_size, sel_aux = choose_encoding(col, compression)

    bounds = _page_boundaries(col, max_page)
    # one probe per CHUNK (pages inherit the hint): the selector's, or
    # the same probe when the encoding is forced
    hint = sel_aux
    if hint is None:
        if enc == "alp" and col.ptype in ("float", "double"):
            # pages verify the (e, rb) hint and re-search only on
            # divergence (kernels/alp.py choose_params)
            hint = alp.choose_params(col.values)
        elif enc == "fsst":
            hint = _chunk_fsst_table(col)
        elif enc == "zdict":
            hint = bytearrays.plan_zdict(col.lengths, col.data)
    codec_dict = b""
    if enc == "zdict":
        # zstd pages never consult the trained dict, so the plan stores none
        codec_dict = hint.zdict
        # the value stream is already entropy-coded: a second block-
        # compression pass over the pages re-reads and re-writes the
        # chunk's dominant byte volume for ~no size win (snappy over
        # zstd/DEFLATE output is ~1.0x) — skip it; the container stores
        # compression per chunk, so decode needs no special case
        compression = "none"

    out = bytearray()
    out += MAGIC
    flags = (
        (1 if enc == "rle_dict" else 0)
        | (2 if codec_dict else 0)
        | (4 if page_crc else 0)
        | (8 if page_stats else 0)
    )
    out += bytes([VERSION, PTYPES[col.ptype], ENCODINGS[enc], COMPRESSIONS[compression], flags])
    out += uvarint(col.num_rows)
    out += uvarint(col.num_rows - col.num_values)
    if col.ptype == "flba":
        out += uvarint(col.type_length)
    if enc == "rle_dict":
        dict_payload = (
            _encode_dict_values(uniques, col.ptype) if uniques is not None and dict_size else b""
        )
        dcomp = _compress(dict_payload, compression)
        out += uvarint(dict_size)
        out += uvarint(len(dict_payload))
        out += uvarint(len(dcomp))
        out += dcomp
    if codec_dict:
        # per-chunk trained compression dictionary, stored once and shared
        # by every page's zdict stream
        out += uvarint(len(codec_dict))
        out += codec_dict
    out += uvarint(len(bounds))

    # precompute byte offsets for bytes-typed pages
    if col.ptype == "bytes":
        vcum = np.concatenate([[0], np.cumsum(col.lengths)]).astype(np.int64)
    vstart = 0
    for row_lo, row_hi in bounds:
        validity = col.validity[row_lo:row_hi]
        nvals = int(validity.sum())
        vend = vstart + nvals
        if col.ptype == "bytes":
            dlo, dhi = int(vcum[vstart]), int(vcum[vend])
        elif col.ptype == "flba":
            dlo, dhi = vstart * col.type_length, vend * col.type_length
        else:
            dlo = dhi = 0
        lvl = levels.encode_def_levels(validity, mode=level_mode)
        vals = _encode_values(enc, col, vstart, vend, dlo, dhi, codes, dict_size or 0, index_mode, hint)
        payload = lvl + vals
        comp = _compress(payload, compression)
        out += uvarint(row_hi - row_lo)
        out += uvarint((row_hi - row_lo) - nvals)
        out += uvarint(len(payload))
        out += uvarint(len(comp))
        if page_crc:
            # per-page checksum of the compressed bytes (page_v1.go:210-214)
            out += zlib.crc32(comp).to_bytes(4, "little")
        if page_stats:
            out += _encode_page_stats(col, vstart, vend, dlo, dhi)
        out += comp
        vstart = vend

    blob = bytes(out)
    mn, mx = column_minmax(col)
    meta = ChunkMeta(
        ptype=col.ptype,
        encoding=enc,
        compression=compression,
        num_rows=col.num_rows,
        null_count=col.num_rows - col.num_values,
        distinct=distinct,
        raw_bytes=col.raw_bytes,
        encoded_bytes=len(blob),
        num_pages=len(bounds),
        crc32=zlib.crc32(blob),
        min_value=mn,
        max_value=mx,
    )
    return blob, meta


# ------------------------------------------------------------------ decode
def chunk_dict_values(blob) -> set | None:
    """The chunk's complete dictionary as a set of Python values, read
    from the header region alone (no data page is touched or
    decompressed). A ``rle_dict`` chunk routes EVERY non-null value
    through the dictionary, so this is the chunk's exact distinct set —
    the parquet-mr DictionaryFilter proof (``compat/dict_filter.py``)
    applied to the native container: an ``==``/``IN`` probe that misses
    the set excludes the chunk with zero false positives, where min/max
    cannot and blooms are only probabilistic. ``None`` for non-dict or
    nested chunks (conservative: no proof, no prune). Values normalize
    to bytes (bytes/flba), int (int32/int64), float (float/double)."""
    mv = memoryview(blob).cast("B")  # normalize signed buffer views
    if len(mv) < 9 or bytes(mv[:4]) != MAGIC:
        return None
    en, cp, flags = mv[6], mv[7], mv[8]
    if ENCODINGS_R.get(en) != "rle_dict" or not flags & 1:
        return None
    ptype = PTYPES_R[mv[5]]
    compression = COMPRESSIONS_R[cp]
    pos = 9
    num_rows, pos = read_uvarint(mv, pos)
    null_count, pos = read_uvarint(mv, pos)
    if num_rows > MAX_DECODE_ROWS or null_count > num_rows:
        raise ValueError("implausible chunk header")
    type_length = 0
    if ptype == "flba":
        type_length, pos = read_uvarint(mv, pos)
        if type_length == 0 or type_length > 1 << 16:
            raise ValueError(f"implausible flba type_length {type_length}")
    dict_size, pos = read_uvarint(mv, pos)
    raw_len, pos = read_uvarint(mv, pos)
    comp_len, pos = read_uvarint(mv, pos)
    if dict_size > DICT_MAX + 1 or pos + comp_len > len(mv) or raw_len > comp_len * 1024 + (1 << 20):
        raise ValueError("implausible dict header")
    if dict_size == 0:
        return set()
    payload = _decompress(bytes(mv[pos : pos + comp_len]), compression, raw_len)
    if ptype == "bytes":
        lens, data, _ = plain.decode_byte_array(payload, dict_size)
        offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        raw = bytes(np.ascontiguousarray(data))
        return {raw[offs[i] : offs[i + 1]] for i in range(dict_size)}
    if ptype == "flba":
        _l, data, _ = plain.decode_fixed_byte_array(payload, dict_size, type_length)
        raw = bytes(np.ascontiguousarray(data))
        return {raw[i * type_length : (i + 1) * type_length] for i in range(dict_size)}
    if ptype not in _FIXED_KIND:  # forged: dict on a type that never has one
        return None
    vals, _ = plain.decode_fixed(payload, dict_size, _FIXED_KIND[ptype])
    return set(vals.tolist())


def chunk_page_index(blob) -> list[dict] | None:
    """Per-page ``{"row_lo", "row_hi", "min_str", "max_str", "nulls"}`` from the
    header walk alone — no page is decompressed (the Parquet PageIndex /
    ColumnIndex analogue).  ``None`` when the chunk was written without
    ``page_stats`` or is a nested container (no page stats there)."""
    mv = memoryview(blob).cast("B")  # normalize signed buffer views
    if bytes(mv[:4]) != MAGIC or len(mv) < 9:
        return None
    flags = mv[8]
    if not flags & 8:
        return None
    ptype = PTYPES_R[mv[5]]
    pos = 9
    num_rows, pos = read_uvarint(mv, pos)
    _nulls, pos = read_uvarint(mv, pos)
    if num_rows > MAX_DECODE_ROWS:
        raise ValueError("implausible chunk header")
    if ptype == "flba":
        _tl, pos = read_uvarint(mv, pos)
    if flags & 1:
        _ds, pos = read_uvarint(mv, pos)
        _rl, pos = read_uvarint(mv, pos)
        comp_len, pos = read_uvarint(mv, pos)
        if pos + comp_len > len(mv):
            raise ValueError("implausible dict header")
        pos += comp_len
    if flags & 2:
        cd_len, pos = read_uvarint(mv, pos)
        pos += cd_len
    num_pages, pos = read_uvarint(mv, pos)
    if num_pages > len(mv):
        raise ValueError("implausible page count")
    out = []
    cursor = 0
    for _ in range(num_pages):
        rows, pos = read_uvarint(mv, pos)
        _pn, pos = read_uvarint(mv, pos)
        _rl, pos = read_uvarint(mv, pos)
        comp_len, pos = read_uvarint(mv, pos)
        if flags & 4:
            pos += 4
        mn, mx, pos = _read_page_stats(mv, pos)
        if rows > num_rows or pos + comp_len > len(mv):
            raise ValueError("implausible page header")
        out.append(
            {
                "row_lo": cursor,
                "row_hi": cursor + rows,
                "min_str": mn,
                "max_str": mx,
                "nulls": _pn,
                # the bound-ordering family the prune compare must use
                # (numeric vs lexicographic) is the column's, not the
                # probe's — carried per page for decode_job._page_excludes
                "ptype": ptype,
            }
        )
        cursor += rows
        pos += comp_len
    return out


def _page_row_mask(row_sel, cursor: int, rows: int) -> np.ndarray | None:
    """Bool mask over one page's rows for global row ranges ``row_sel``;
    None when the page is entirely outside every range (skip it)."""
    mask = None
    for lo, hi in row_sel:
        a, b = max(lo - cursor, 0), min(hi - cursor, rows)
        if a < b:
            if mask is None:
                mask = np.zeros(rows, dtype=bool)
            mask[a:b] = True
    return mask


def decode_chunk(blob, logical: str = "", row_sel=None):
    """Decode a chunk container back to ColumnData.

    ``row_sel`` = sorted, non-overlapping global row ranges
    ``[(row_lo, row_hi), ...]``: only pages overlapping a range are
    decompressed and decoded (the rest are seeked past), and decoded
    pages are trimmed to the exact ranges — so two columns of the same
    partition decoded with the same ``row_sel`` stay row-aligned even
    though their page boundaries differ.  Nested containers (PGSL/PGSS)
    do not support ``row_sel``; callers fall back to a full decode plus
    an Arrow-level take."""
    mv = memoryview(blob).cast("B")  # normalize signed buffer views
    if bytes(mv[:4]) == b"PGSL":
        from .listchunk import decode_list_chunk  # local: avoid cycle

        if row_sel is not None:
            raise ValueError("row_sel is unsupported for nested (list) chunks")
        return decode_list_chunk(blob, logical=logical)
    if bytes(mv[:4]) == b"PGSS":
        from .structchunk import decode_struct_chunk  # local: avoid cycle

        if row_sel is not None:
            raise ValueError("row_sel is unsupported for nested (struct) chunks")
        return decode_struct_chunk(blob, logical=logical)
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad chunk magic")
    version, pt, en, cp, flags = mv[4], mv[5], mv[6], mv[7], mv[8]
    if version != VERSION:
        raise ValueError(f"bad chunk version {version}")
    ptype = PTYPES_R[pt]
    enc = ENCODINGS_R[en]
    compression = COMPRESSIONS_R[cp]
    pos = 9
    num_rows, pos = read_uvarint(mv, pos)
    null_count, pos = read_uvarint(mv, pos)
    # memory governor analogue (reference alloc.go, O12): cap the
    # allocations a header can demand before touching numpy — RLE packs
    # millions of rows into a few bytes legitimately, so the bound is an
    # absolute allocation budget, not blob-relative
    if num_rows > MAX_DECODE_ROWS or null_count > num_rows:
        raise ValueError(f"implausible chunk header: rows={num_rows} nulls={null_count}")
    type_length = 0
    if ptype == "flba":
        type_length, pos = read_uvarint(mv, pos)
        if type_length == 0 or type_length > 1 << 16:
            raise ValueError(f"implausible flba type_length {type_length}")
    dict_vals = None
    if flags & 1:
        dict_size, pos = read_uvarint(mv, pos)
        raw_len, pos = read_uvarint(mv, pos)
        comp_len, pos = read_uvarint(mv, pos)
        if dict_size > DICT_MAX + 1 or comp_len > len(mv) or raw_len > comp_len * 1024 + (1 << 20):
            raise ValueError("implausible dict header")
        dict_payload = _decompress(bytes(mv[pos : pos + comp_len]), compression, raw_len)
        pos += comp_len
        if ptype == "bytes":
            u_lens, u_data, _ = plain.decode_byte_array(dict_payload, dict_size)
            dict_vals = (u_lens, u_data)
        elif ptype == "flba":
            _ul, dict_vals, _ = plain.decode_fixed_byte_array(dict_payload, dict_size, type_length)
            dict_vals = np.asarray(dict_vals)
        else:
            dict_vals, _ = plain.decode_fixed(dict_payload, dict_size, _FIXED_KIND[ptype])
    codec_dict = b""
    if flags & 2:
        cd_len, pos = read_uvarint(mv, pos)
        if cd_len > 1 << 20:
            raise ValueError("implausible codec dict length")
        codec_dict = bytes(mv[pos : pos + cd_len])
        pos += cd_len
    num_pages, pos = read_uvarint(mv, pos)
    validity_parts = []
    value_parts = []
    len_parts = []
    data_parts = []
    if num_pages > len(mv):
        raise ValueError("implausible page count")
    row_cursor = 0
    for page_i in range(num_pages):
        rows, pos = read_uvarint(mv, pos)
        nulls, pos = read_uvarint(mv, pos)
        raw_len, pos = read_uvarint(mv, pos)
        comp_len, pos = read_uvarint(mv, pos)
        want_crc = None
        if flags & 4:
            want_crc = int.from_bytes(mv[pos : pos + 4], "little")
            pos += 4
        if flags & 8:
            _mn, _mx, pos = _read_page_stats(mv, pos)
        if rows > num_rows or nulls > rows or pos + comp_len > len(mv) or raw_len > (comp_len + 64) * 1024:
            raise ValueError("implausible page header")
        if row_sel is not None:
            mask = _page_row_mask(row_sel, row_cursor, rows)
            row_cursor += rows
            if mask is None:
                pos += comp_len  # seek past: never decompressed
                continue
        else:
            mask = None
            row_cursor += rows
        comp_bytes = bytes(mv[pos : pos + comp_len])
        if want_crc is not None and zlib.crc32(comp_bytes) != want_crc:
            raise ValueError(
                f"page {page_i} CRC mismatch: corruption localized to this page"
            )
        payload = _decompress(comp_bytes, compression, raw_len)
        pos += comp_len
        # untrusted-bytes contract: a corrupt payload that slips past the
        # header plausibility checks must still surface as ValueError,
        # never a kernel-level IndexError/OverflowError
        try:
            validity, ppos = levels.decode_def_levels(payload, rows, 0)
            nvals = rows - nulls
            repr_, _ = _decode_values(enc, ptype, payload, ppos, nvals, dict_vals, type_length, codec_dict)
        except ValueError:
            raise
        except (IndexError, KeyError, OverflowError, EOFError, TypeError) as e:
            # TypeError included: a forged header claiming rle_dict with
            # the dict-page flag CLEAR leaves dict_vals=None, and the
            # kernels then unpack/index None — still corrupt bytes, still
            # the documented ValueError contract
            raise ValueError(f"corrupt page {page_i} payload: {e}") from e
        if mask is not None:
            vmask = mask[validity]  # selected positions among non-null values
            validity = validity[mask]
            if ptype == "bytes":
                lens, data = repr_
                lens = np.asarray(lens)
                sel_lens = lens[vmask]
                starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
                repr_ = (sel_lens, gather_segments(np.asarray(data), starts[vmask], sel_lens))
            elif ptype == "flba":
                repr_ = np.asarray(repr_).reshape(nvals, type_length)[vmask].reshape(-1)
            else:
                repr_ = np.asarray(repr_)[vmask]
        validity_parts.append(validity)
        if ptype == "bytes":
            len_parts.append(repr_[0])
            data_parts.append(repr_[1])
        else:
            value_parts.append(repr_)
    validity = np.concatenate(validity_parts) if validity_parts else np.empty(0, bool)
    if ptype == "bytes":
        lengths = np.concatenate(len_parts) if len_parts else np.empty(0, np.int64)
        data = np.concatenate(data_parts) if data_parts else np.empty(0, np.uint8)
        return ColumnData(ptype, validity, lengths=lengths.astype(np.int64), data=data, logical=logical or "binary")
    if ptype == "flba":
        data = np.concatenate(value_parts) if value_parts else np.empty(0, np.uint8)
        return ColumnData(
            ptype, validity, data=data, type_length=type_length, logical=logical or f"fixed_size_binary[{type_length}]"
        )
    dt = {"bool": np.bool_, "int32": np.int32, "int64": np.int64, "float": np.float32, "double": np.float64}[ptype]
    values = (
        np.concatenate([v.astype(dt, copy=False).view(dt) if v.dtype != dt else v for v in value_parts])
        if value_parts
        else np.empty(0, dt)
    )
    if values.dtype != dt:
        values = values.view(dt) if values.dtype.itemsize == np.dtype(dt).itemsize else values.astype(dt)
    return ColumnData(ptype, validity, values=values, logical=logical or ptype)
