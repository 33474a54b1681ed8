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
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..kernels import bitpack  # noqa: F401  (re-exported for selectors)
from ..kernels import levels
from ..kernels.varint import read_uvarint, uvarint
from . import codecs
from .codecs import DICT_MAX
from .columns import ColumnData, gather_segments
from .prune import rows_in_ranges, value_set

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

    Manifest and page bounds are parsed back by the column's ptype on the
    prune path (``core.prune.pgsc_zone``; bytes compare as str): non-UTF8
    bytes -> None (pruning disabled, conservative); long strings ->
    truncated prefix for min (a valid lower bound) and
    truncate-and-increment for max (Parquet's convention: the incremented
    prefix upper-bounds every string sharing the original prefix)."""
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


def column_minmax(col: ColumnData) -> tuple[object, object]:
    """Typed chunk min/max (reference O13, ``stats.go:9-225``),
    vectorized. Bytes: exact lexicographic bounds from Arrow's C++
    ``min_max`` over a zero-copy view of the chunk.
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
    # buffer as-is). C++ comparisons short-circuit at the first
    # differing byte, so KB-deep shared prefixes cost one prefix walk
    # per comparison.
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
            if ln > codecs.MAX_PAGE_STATS_LEN or pos + ln > len(mv):
                raise ValueError("implausible page stats length")
            vals[i] = bytes(mv[pos : pos + ln]).decode("utf-8")
            pos += ln
    return vals[0], vals[1], pos


# ------------------------------------------------------------------ encode
def encode_chunk(
    col: "ColumnData | pa.Array",
    profile: str = "auto",
    compression: str = "none",
    max_page: int = DEFAULT_PAGE,
    level_mode: str | None = None,
    encoding: str | None = None,
    page_crc: bool = False,
    page_stats: bool = False,
) -> tuple[bytes, ChunkMeta]:
    """Encode one column chunk; a nested Arrow column (list, map or
    struct, as ``from_arrow`` leaves it) becomes a PGSL/PGSS container
    around the chunks of its elements or fields. ``profile``:
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
    predicate's surviving row ranges touch. A nested column's element
    chunks carry ``page_crc``, never ``page_stats`` (nobody seeks them)."""
    from .selector import choose_encoding  # local import to avoid cycle

    if isinstance(col, pa.Array):  # nested: from_arrow keeps it Arrow
        from .listchunk import encode_list_chunk  # local: avoid cycle
        from .structchunk import encode_struct_chunk

        encode_nested = encode_struct_chunk if pa.types.is_struct(col.type) else encode_list_chunk
        return encode_nested(
            col,
            profile=profile,
            compression=compression,
            max_page=max_page,
            level_mode=level_mode,
            encoding=encoding,
            page_crc=page_crc,
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
    hint = sel_aux if sel_aux is not None else codecs.chunk_hint(enc, col)
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
            codecs.encode_dictionary(uniques, col.ptype) if uniques is not None and dict_size else b""
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
        vals = codecs.encode_values(enc, col, vstart, vend, dlo, dhi, codes, dict_size or 0, index_mode, hint)
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
@dataclass
class _Header:
    """A PGSC header parsed through the page count; ``pos`` is the first
    page header's offset."""

    ptype: str
    enc: str
    compression: str
    flags: int
    num_rows: int
    type_length: int
    dict_size: int
    dict_raw_len: int
    dict_comp: memoryview
    codec_dict: bytes
    num_pages: int
    pos: int

    def dictionary(self):
        """The decoded dictionary (``codecs.decode_dictionary`` shape)."""
        with codecs.as_value_error("dictionary"):
            payload = _decompress(bytes(self.dict_comp), self.compression, self.dict_raw_len)
        return codecs.decode_dictionary(payload, self.dict_size, self.ptype, self.type_length)


def _read_header(mv) -> _Header:
    """Parse and bound a PGSC header (magic already checked). The caps
    are the memory governor analogue (reference alloc.go, O12): RLE packs
    millions of rows into a few bytes legitimately, so the bounds are
    absolute allocation budgets from ``codecs``, not blob-relative."""
    with codecs.as_value_error("chunk header"):
        version, pt, en, cp, flags = mv[4], mv[5], mv[6], mv[7], mv[8]
        if version != VERSION:
            raise ValueError(f"bad chunk version {version}")
        ptype, enc, compression = PTYPES_R[pt], ENCODINGS_R[en], COMPRESSIONS_R[cp]
    pos = 9
    num_rows, pos = read_uvarint(mv, pos)
    null_count, pos = read_uvarint(mv, pos)
    if num_rows > codecs.MAX_ROWS or null_count > num_rows:
        raise ValueError(f"implausible chunk header: rows={num_rows} nulls={null_count}")
    type_length = 0
    if ptype == "flba":
        type_length, pos = read_uvarint(mv, pos)
        if not 0 < type_length <= codecs.MAX_TYPE_LENGTH:
            raise ValueError(f"implausible flba type_length {type_length}")
    dict_size = raw_len = comp_len = 0
    if flags & 1:
        dict_size, pos = read_uvarint(mv, pos)
        raw_len, pos = read_uvarint(mv, pos)
        comp_len, pos = read_uvarint(mv, pos)
        if dict_size > DICT_MAX + 1 or pos + comp_len > len(mv) or raw_len > codecs.MAX_RAW_PAGE:
            raise ValueError("implausible dict header")
    dict_comp = mv[pos : pos + comp_len]
    pos += comp_len
    codec_dict = b""
    if flags & 2:
        cd_len, pos = read_uvarint(mv, pos)
        if cd_len > codecs.MAX_CODEC_DICT:
            raise ValueError("implausible codec dict length")
        codec_dict = bytes(mv[pos : pos + cd_len])
        pos += cd_len
    num_pages, pos = read_uvarint(mv, pos)
    if num_pages > len(mv):
        raise ValueError("implausible page count")
    return _Header(
        ptype, enc, compression, flags, num_rows, type_length,
        dict_size, raw_len, dict_comp, codec_dict, num_pages, pos,
    )


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
    if ENCODINGS_R.get(mv[6]) != "rle_dict" or not mv[8] & 1 or PTYPES_R.get(mv[5]) == "bool":
        return None  # bool: forged, a dictionary on a type that never has one
    return value_set(_read_header(mv).dictionary())


def chunk_page_index(blob) -> list[dict] | None:
    """Per-page ``{"row_lo", "row_hi", "min_str", "max_str", "nulls"}`` from the
    header walk alone — no page is decompressed (the Parquet PageIndex /
    ColumnIndex analogue).  ``None`` when the chunk was written without
    ``page_stats`` or is a nested container (no page stats there)."""
    mv = memoryview(blob).cast("B")  # normalize signed buffer views
    if bytes(mv[:4]) != MAGIC or len(mv) < 9 or not mv[8] & 8:
        return None
    h = _read_header(mv)
    pos = h.pos
    out = []
    cursor = 0
    for _ in range(h.num_pages):
        rows, pos = read_uvarint(mv, pos)
        _pn, pos = read_uvarint(mv, pos)
        _rl, pos = read_uvarint(mv, pos)
        comp_len, pos = read_uvarint(mv, pos)
        if h.flags & 4:
            pos += 4
        mn, mx, pos = _read_page_stats(mv, pos)
        if rows > h.num_rows or pos + comp_len > len(mv):
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
                # probe's — carried per page for core.prune.pgsc_zone
                "ptype": h.ptype,
            }
        )
        cursor += rows
        pos += comp_len
    return out


def decode_chunk(blob, logical: str = "", row_sel=None, depth: int = 0):
    """Decode a chunk container back to ColumnData, or a nested (PGSL /
    PGSS) container straight to an Arrow array.

    ``row_sel`` = sorted, non-overlapping global row ranges
    ``[(row_lo, row_hi), ...]``: only pages overlapping a range are
    decompressed and decoded (the rest are seeked past), and decoded
    pages are trimmed to the exact ranges — so two columns of the same
    partition decoded with the same ``row_sel`` stay row-aligned even
    though their page boundaries differ.  Nested containers (PGSL/PGSS)
    do not support ``row_sel``; callers fall back to a full decode plus
    an Arrow-level take. ``depth`` counts the nested containers around
    this one, against ``codecs.MAX_NESTING``."""
    mv = memoryview(blob).cast("B")  # normalize signed buffer views
    if bytes(mv[:4]) in (b"PGSL", b"PGSS"):
        from .listchunk import decode_list_chunk  # local: avoid cycle
        from .structchunk import decode_struct_chunk

        if row_sel is not None:
            raise ValueError("row_sel is unsupported for nested chunks")
        if depth >= codecs.MAX_NESTING:
            raise ValueError(f"chunk nesting deeper than {codecs.MAX_NESTING} levels")
        decode_nested = decode_list_chunk if bytes(mv[:4]) == b"PGSL" else decode_struct_chunk
        return decode_nested(blob, logical=logical, depth=depth)
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad chunk magic")
    h = _read_header(mv)
    ptype, flags = h.ptype, h.flags
    dict_vals = h.dictionary() if flags & 1 else None
    pos = h.pos
    validity_parts, value_parts, len_parts, data_parts = [], [], [], []
    row_cursor = 0
    for page_i in range(h.num_pages):
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
        if rows > h.num_rows or nulls > rows or pos + comp_len > len(mv) or raw_len > codecs.MAX_RAW_PAGE:
            raise ValueError("implausible page header")
        mask = None
        if row_sel is not None:
            mask = rows_in_ranges(np.arange(row_cursor, row_cursor + rows), row_sel)
        row_cursor += rows
        if mask is not None and not mask.any():
            pos += comp_len  # seek past: never decompressed
            continue
        comp_bytes = bytes(mv[pos : pos + comp_len])
        if want_crc is not None and zlib.crc32(comp_bytes) != want_crc:
            raise ValueError(
                f"page {page_i} CRC mismatch: corruption localized to this page"
            )
        pos += comp_len
        nvals = rows - nulls
        with codecs.as_value_error(f"page {page_i} payload"):
            payload = _decompress(comp_bytes, h.compression, raw_len)
            validity, ppos = levels.decode_def_levels(payload, rows, 0)
        if int(validity.sum()) != nvals:
            raise ValueError(f"page {page_i}: def levels disagree with its null count")
        repr_ = codecs.decode_values(h.enc, ptype, payload, ppos, nvals, dict_vals, h.type_length, h.codec_dict)
        if mask is not None:
            vmask = mask[validity]  # selected positions among non-null values
            validity = validity[mask]
            if isinstance(repr_, tuple):
                lens, data = repr_
                starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
                repr_ = (lens[vmask], gather_segments(data, starts[vmask], lens[vmask]))
            else:
                repr_ = repr_[vmask]
        validity_parts.append(validity)
        if isinstance(repr_, tuple):
            len_parts.append(repr_[0])
            data_parts.append(repr_[1])
        else:
            value_parts.append(repr_)
    validity = np.concatenate(validity_parts) if validity_parts else np.empty(0, bool)
    if ptype in ("bytes", "flba"):
        lengths = np.concatenate(len_parts) if len_parts else np.empty(0, np.int64)
        data = np.concatenate(data_parts) if data_parts else np.empty(0, np.uint8)
        if ptype == "flba":
            w = h.type_length
            return ColumnData(ptype, validity, data=data, type_length=w, logical=logical or f"fixed_size_binary[{w}]")
        return ColumnData(ptype, validity, lengths=lengths, data=data, logical=logical or "binary")
    dt = {"bool": np.bool_, "int32": np.int32, "int64": np.int64, "float": np.float32, "double": np.float64}[ptype]
    values = np.concatenate(value_parts) if value_parts else np.empty(0, dt)
    return ColumnData(ptype, validity, values=values, logical=logical or ptype)
