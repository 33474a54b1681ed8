"""Decode real Parquet files with this engine's kernels — the golden
interop layer (analogue of the reference's apache/parquet-testing suite,
``parquet_test.go:11-60``): pages written by another implementation
(pyarrow's C++ writer in tests) must decode bit-identically through our
hybrid / dict / delta / plain kernels.

Supports the encodings this engine implements: PLAIN (0),
RLE_DICTIONARY (8) / PLAIN_DICTIONARY (2), DELTA_BINARY_PACKED (5),
DELTA_LENGTH_BYTE_ARRAY (6), DELTA_BYTE_ARRAY (7),
BYTE_STREAM_SPLIT (9, incl. the 2.11 int/FLBA extension); data page V1 + V2,
dictionary pages, UNCOMPRESSED/SNAPPY/ZSTD/GZIP codecs.

One page walker (:func:`read_leaf_levels`) decodes every leaf, flat or
nested, REQUIRED or OPTIONAL, from V1 or V2 pages, through the codec
dispatch both containers share (``core/codecs.py``); ``read_column`` is
its flat (validity, values) view. ``read_column_arrow`` decodes any leaf
path — nested lists (any depth, 3-level or legacy shape) and optional
structs — by running the Dremel record assembly over the rep/def level
streams (reference ``data_store.go`` / ``schema.go:585-647`` semantics):
repetition levels split element boundaries per depth, definition levels
distinguish null list / empty list / null element. In a single-leaf
read, struct nesting folds into null propagation (the leaf comes back
wrapped in its list dimensions only); ``read_field_arrow`` assembles a
whole top-level field of ANY shape — struct, map, list, mixed — from all
of its leaves' level streams, and ``read_table_arrow`` serves complete
files, parsing the footer once. Forged pages raise ``ValueError``.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from ..core import codecs
from ..core.columns import gather_segments
from ..kernels import hybrid
from .thrift_compact import read_struct

__all__ = ["read_column", "file_meta"]

PHYSICAL_TYPES = {0: "bool", 1: "int32", 2: "int64", 3: "int96", 4: "float", 5: "double", 6: "bytes", 7: "flba"}


def _decompress(payload: bytes, codec: int, raw_len: int) -> bytes:
    if codec == 0:
        return payload
    if codec == 1:  # SNAPPY
        return pa.Codec("snappy").decompress(payload, raw_len, asbytes=True)
    if codec == 2:  # GZIP
        return zlib.decompress(payload, 31)
    if codec == 6:  # ZSTD
        return pa.Codec("zstd").decompress(payload, raw_len, asbytes=True)
    raise ValueError(f"unsupported codec {codec}")


def _plausible(cond: bool, msg: str) -> None:
    """Memory-governor check (reference alloc tracker analogue,
    ``alloc.go``): forged headers must raise, not allocate."""
    if not cond:
        raise ValueError(f"implausible parquet page: {msg}")


def file_meta(buf: bytes) -> dict:
    if buf[:4] != b"PAR1" or buf[-4:] != b"PAR1":
        raise ValueError("not a parquet file")
    flen = int.from_bytes(buf[-8:-4], "little")
    meta, _ = read_struct(memoryview(buf).cast("B")[-8 - flen : -8], 0)
    return meta


def file_kv_metadata(meta: dict) -> dict[str, str]:
    """File-level key-value metadata (FileMetaData field 5; the
    reference's ``WithMetaData``, ``file_writer.go:99-103``). Works on
    any writer's footer — pyarrow, Spark, ours."""
    return {
        kv[1].decode(): (kv.get(2) or b"").decode(errors="replace")
        for kv in meta.get(5, [])
        if 1 in kv
    }


def column_kv_metadata(meta: dict, column: str, row_group: int = 0) -> dict[str, str]:
    """Per-column-chunk key-value metadata (ColumnMetaData field 8; the
    reference's ``WithRowGroupMetaDataForColumnPath``,
    ``file_writer.go:196-226``). ``column`` matches the full dotted
    path_in_schema or its root component (nested leaves inherit the
    column's map in our writer). Raises KeyError on an unknown column."""
    for cc in meta[4][row_group][1]:
        cm = cc[3]
        path = ".".join(p.decode() for p in cm[3])
        if path == column or path.split(".", 1)[0] == column:
            return {
                kv[1].decode(): (kv.get(2) or b"").decode(errors="replace")
                for kv in cm.get(8, [])
                if 1 in kv
            }
    raise KeyError(column)


# ---------------------------------------------------------------------------
# Nested leaves: schema tree, generic level decode, Dremel assembly
# ---------------------------------------------------------------------------

_REQUIRED, _OPTIONAL, _REPEATED = 0, 1, 2


def schema_leaf_info(meta: dict) -> dict[str, dict]:
    """Per-leaf info, dotted path -> {type, type_length, utf8, max_def,
    max_rep, d_leaf, lists: [(rep_depth, d_elem, d_present|None), ...],
    path}: the leaves of :func:`schema_tree`.

    ``d_elem`` is the cumulative definition level at the repeated node
    (``def >= d_elem`` ⇒ at least one element); ``d_present`` is the
    level at which the list itself is defined (None when the enclosing
    group is required / legacy-repeated ⇒ never null, only empty).
    """
    return {node["path"]: node["leaf"] for node in _node_leaves(schema_tree(meta))}


def _levels(stream, max_level: int, nv: int) -> np.ndarray:
    """One rep or def level stream; none exists when the max level is 0."""
    if max_level == 0:
        return np.zeros(nv, dtype=np.int64)
    return hybrid.decode(stream, max_level.bit_length(), nv).view(np.int64)


def _levels_v1(payload, nv: int, max_rep: int, max_def: int):
    """V1 rep then def level streams, each a 4-byte size + hybrid, present
    only when the respective max is > 0 (a REQUIRED flat column has none)."""
    pos = 0
    out = []
    for max_level in (max_rep, max_def):
        stream = b""
        if max_level > 0:
            size = int.from_bytes(bytes(payload[pos : pos + 4]), "little")
            stream = payload[pos + 4 : pos + 4 + size]
            pos += 4 + size
        out.append(_levels(stream, max_level, nv))
    return out[0], out[1], pos


def _read_page(mv, pos: int, codec: int, info: dict, dict_vals):
    """Decode the page at ``pos`` -> (next_pos, page_type, nv, out): ``out``
    is the decoded dictionary for a dictionary page, else (rep, def,
    values) with values holding only the fully-defined entries."""
    ptype = PHYSICAL_TYPES[info["type"]]
    max_rep, max_def = info["max_rep"], info["max_def"]
    hdr, pos = read_struct(mv, pos)
    page_type, raw_len, comp_len = hdr[1], hdr[2], hdr[3]
    _plausible(0 <= comp_len <= len(mv) - pos, "compressed size exceeds file")
    _plausible(0 <= raw_len <= codecs.MAX_RAW_PAGE, "decompressed size")
    raw_page = bytes(mv[pos : pos + comp_len])
    pos += comp_len
    if page_type == 2:  # dictionary page
        payload = _decompress(raw_page, codec, raw_len)
        return pos, 2, 0, codecs.decode_dictionary(payload, hdr[7][1], ptype, info["type_length"])
    if page_type == 0:  # data page V1: levels inside the compressed body
        nv, enc = hdr[5][1], hdr[5][2]
        _plausible(0 <= nv <= codecs.MAX_PAGE_VALUES, "page value count")
        payload = _decompress(raw_page, codec, raw_len)
        rep, deflv, ppos = _levels_v1(payload, nv, max_rep, max_def)
    elif page_type == 3:
        # data page V2: the level streams sit OUTSIDE the compressed
        # region (page_v2.go:173-190 semantics)
        dph = hdr[8]
        nv, enc, dl_len, rl_len = dph[1], dph[4], dph[5], dph[6]
        ppos = rl_len + dl_len
        _plausible(0 <= nv <= codecs.MAX_PAGE_VALUES, "page value count")
        _plausible(0 <= rl_len and 0 <= dl_len and ppos <= comp_len, "level stream lengths")
        body = raw_page[ppos:]
        if dph.get(7, True):
            body = _decompress(body, codec, raw_len - ppos)
        payload = raw_page[:ppos] + body
        rep = _levels(payload[:rl_len], max_rep, nv)
        deflv = _levels(payload[rl_len:ppos], max_def, nv)
    else:
        raise ValueError(f"unsupported page type {page_type}")
    n_present = int((deflv == max_def).sum())
    values = codecs.decode_values(
        codecs.parquet_encoding(enc), ptype, payload, ppos, n_present, dict_vals, info["type_length"]
    )
    return pos, page_type, nv, (rep, deflv, values)


def _chunk_pages(buf, mv, rg: dict, cc: dict, info: dict, row_ranges) -> tuple[list, list | None]:
    """Walk one column chunk's pages -> ([(rep, def, values)] per data
    page, row ids per page when the OffsetIndex page-seeked, else None)."""
    cmeta = cc[3]
    dict_vals = None
    pages: list = []

    def page_at(pos: int) -> tuple[int, int, int]:
        nonlocal dict_vals
        pos, page_type, nv, out = _read_page(mv, pos, cmeta[4], info, dict_vals)
        if page_type == 2:
            dict_vals = out
        else:
            pages.append(out)
        return pos, page_type, nv

    locs = None
    if row_ranges is not None and info["max_rep"] == 0:
        from .page_index import read_offset_index

        locs = read_offset_index(buf, cc)
    if not locs:
        pos = min(cmeta.get(11, cmeta[9]), cmeta[9])
        end = pos + cmeta[7]
        seen = 0
        while seen < cmeta[5] and pos < end:
            pos, _pt, nv = page_at(pos)
            seen += nv
        return pages, None
    # page-seek: only pages whose row span overlaps a range
    rows: list = []
    firsts = [loc[2] for loc in locs] + [int(rg[3])]
    if 11 in cmeta and cmeta[11] < cmeta[9]:
        _, pt, _ = page_at(cmeta[11])
        _plausible(pt == 2, "dictionary_page_offset points at a data page")
    r_starts = np.array([r[0] for r in row_ranges], dtype=np.int64)
    r_ends = np.array([r[1] for r in row_ranges], dtype=np.int64)
    for i, loc in enumerate(locs):
        lo, hi = firsts[i], firsts[i + 1]
        # page [lo, hi) overlaps some surviving range?
        j = int(np.searchsorted(r_ends, lo, side="right"))
        if j >= len(r_starts) or r_starts[j] >= hi:
            continue
        _, pt, nv = page_at(loc[0])
        _plausible(pt in (0, 3) and nv == hi - lo, "OffsetIndex row spans disagree with page headers")
        rows.append(np.arange(lo, hi, dtype=np.int64))
    return pages, rows


def _concat(parts: list, empty_dtype) -> np.ndarray:
    """The pages' arrays end to end: a one-page chunk's own array."""
    if len(parts) == 1:
        return parts[0]
    return np.concatenate(parts) if parts else np.empty(0, empty_dtype)


def _leaf_levels(buf, meta: dict, info: dict, row_groups=None, row_ranges=None):
    """:func:`read_leaf_levels` over an already parsed footer."""
    if row_ranges is not None and (row_groups is None or len(row_groups) != 1):
        raise ValueError("row_ranges requires exactly one selected row group")
    ptype = PHYSICAL_TYPES[info["type"]]
    max_def = info["max_def"]
    mv = memoryview(buf).cast("B")
    pages: list = []
    page_rows = None  # row ids of the pages an OffsetIndex seek decoded
    with codecs.as_value_error(f"column chunk {'.'.join(info['path'])}"):
        for rgi, rg in enumerate(meta[4]):
            if row_groups is not None and rgi not in row_groups:
                continue
            for cc in rg[1]:
                if [p.decode() for p in cc[3][3]] == info["path"]:
                    chunk_pages, page_rows = _chunk_pages(buf, mv, rg, cc, info, row_ranges)
                    pages += chunk_pages
    rep = _concat([p[0] for p in pages], np.int64)
    deflv = _concat([p[1] for p in pages], np.int64)
    if ptype in ("bytes", "flba"):
        lens = _concat([p[2][0] for p in pages], np.int64)
        data = _concat([p[2][1] for p in pages], np.uint8)
        values = (lens, data)
    else:
        values = _concat([p[2] for p in pages], np.float64)
    if row_ranges is not None:
        from ..core.prune import rows_in_ranges

        if page_rows is not None:
            rows = np.concatenate(page_rows) if page_rows else np.empty(0, np.int64)
        else:
            # every level position belongs to the row opened by the last
            # rep == 0 position at or before it
            rows = np.cumsum(rep == 0) - 1
        keep_pos = rows_in_ranges(rows, row_ranges)
        vmask = keep_pos[deflv == max_def]
        rep, deflv = rep[keep_pos], deflv[keep_pos]
        if ptype in ("bytes", "flba"):
            # the kept values stay in value order, so each run of them is
            # one contiguous byte span
            starts_v = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=starts_v[1:])
            edge = np.diff(vmask.astype(np.int8), prepend=np.int8(0), append=np.int8(0))
            lo, hi = starts_v[edge == 1], starts_v[edge == -1]
            values = (lens[vmask], gather_segments(data, lo, hi - lo))
        else:
            values = values[vmask]
    return rep, deflv, values, info


def read_leaf_levels(
    buf: bytes,
    column: str,
    row_groups: list[int] | None = None,
    row_ranges: list[tuple[int, int]] | None = None,
):
    """Decode one leaf path (dotted for nesting, e.g. ``tags.list.element``)
    entirely with this engine's kernels.

    -> (rep_levels, def_levels, values, info) where values is an ndarray
    or (lengths, data) for byte leaves, holding only fully-defined entries.

    ``row_ranges`` (requires exactly one selected row group): decode only
    the rows inside the given sorted, non-overlapping ``[lo, hi)`` ranges
    (relative to the row group's first row). Flat leaves (max_rep == 0)
    additionally PAGE-SEEK via the chunk's OffsetIndex when the writer
    emitted one — excluded pages' bytes are never read or decompressed
    (parquet-format PageIndex.md). Nested leaves decode every page and
    trim; either way, every leaf of a field lands on the exact same row
    set, so Dremel assembly stays aligned across leaves."""
    meta = file_meta(buf)
    leaves = schema_leaf_info(meta)
    if column not in leaves:
        raise KeyError(f"{column!r}; leaves: {sorted(leaves)}")
    return _leaf_levels(buf, meta, leaves[column], row_groups, row_ranges)


def read_column(buf: bytes, column: str, row_groups: list[int] | None = None):
    """Decode one flat column (REQUIRED or OPTIONAL, V1 or V2 pages)
    entirely with this engine's kernels.

    -> (validity bool[n], values ndarray | (lengths, data)), values
    holding the non-null entries only."""
    _rep, deflv, values, info = read_leaf_levels(buf, column, row_groups)
    return deflv == info["max_def"], values


# ConvertedType ids (parquet.thrift)
_CT_DECIMAL, _CT_DATE = 5, 6
_CT_TS_MILLIS, _CT_TS_MICROS = 9, 10
_CT_INTS = {15: pa.int8(), 16: pa.int16(), 17: pa.int32(), 18: pa.int64()}
_CT_UINTS = {11: pa.uint8(), 12: pa.uint16(), 13: pa.uint32(), 14: pa.uint64()}


def _validity(mask) -> tuple:
    """(validity buffer, null count) of a slot mask; None: no nulls."""
    if mask is None:
        return None, 0
    return pa.py_buffer(np.packbits(mask, bitorder="little").tobytes()), int((~mask).sum())


def _unscaled_to_decimal128(ints: np.ndarray, precision: int, scale: int, mask) -> pa.Array:
    """int64 unscaled values -> decimal128 (16-byte LE two's complement)."""
    n = len(ints)
    buf = np.zeros((n, 2), dtype="<i8")
    buf[:, 0] = ints
    buf[:, 1] = ints >> 63  # sign extension
    validity, nulls = _validity(mask)
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), n, [validity, pa.py_buffer(buf.tobytes())], null_count=nulls
    )


def _flba_to_decimal128(data: np.ndarray, w: int, n: int, precision, scale, sel, mask) -> pa.Array:
    """width-w big-endian two's complement bytes -> decimal128: the rows
    ``sel`` (all when None) fill the ``mask`` slots (all when None)."""
    vals = data.reshape(-1, w) if len(data) else data.reshape(0, max(w, 1))
    rows = vals if sel is None else vals[sel]
    be = np.zeros((n, 16), dtype=np.uint8)
    if len(rows):
        be_rows = be if mask is None else be[mask]
        be_rows[:, 16 - w :] = rows
        be_rows[:, : 16 - w] = np.where(rows[:, :1] >= 128, 0xFF, 0)
        if mask is not None:
            be[mask] = be_rows
    le = be[:, ::-1]
    validity, nulls = _validity(mask)
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale),
        n,
        [validity, pa.py_buffer(np.ascontiguousarray(le).tobytes())],
        null_count=nulls,
    )


def _leaf_arrow(positions, deflv, values, info) -> pa.Array:
    """Leaf slots (one level-position each) -> Arrow array with nulls,
    typed by the leaf's logical annotation (DATE, TIMESTAMP, DECIMAL,
    sized ints) when one is declared."""
    ptype = PHYSICAL_TYPES[info["type"]]
    ct = info.get("converted")
    n = len(positions)
    n_vals = len(values[0] if ptype in ("bytes", "flba") else values)
    if n and n == len(deflv) == n_vals:
        # dense: every level position is a slot holding a value (a flat
        # leaf with no nulls), so the values are already in slot order
        mask = sel = None
    else:
        full = deflv == info["d_leaf"]  # global mask: positions carrying a value
        mask = full[positions]
        sel = (np.cumsum(full) - 1)[positions][mask]  # value index of each present slot
    if ptype == "flba" and ct == _CT_DECIMAL and info["type_length"] <= 16:
        return _flba_to_decimal128(
            np.asarray(values[1], np.uint8), info["type_length"], n, info["precision"], info["scale"], sel, mask
        )
    if ptype in ("bytes", "flba"):
        lens, data = values
        if sel is None:
            out_lens, buf_data = lens, data
        else:
            starts = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            out_lens = np.zeros(n, dtype=np.int64)
            out_lens[mask] = lens[sel]
            # all slots present: values already in slot order
            buf_data = data if mask.all() else gather_segments(data, starts[sel], lens[sel])
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(out_lens, out=offsets[1:])
        validity, nulls = _validity(mask)
        cls = pa.utf8() if info["utf8"] else pa.binary()
        return pa.Array.from_buffers(
            cls,
            n,
            [
                validity,
                pa.py_buffer(offsets.astype(np.int32).tobytes()),
                pa.py_buffer(np.asarray(buf_data, np.uint8).tobytes()),
            ],
            null_count=nulls,
        )
    np_vals = np.asarray(values)
    if sel is None:
        out = np_vals
    else:
        # all-null leaf: the placeholder dtype must remain castable to the
        # logical type (pyarrow rejects double->date32/timestamp); int64
        # covers every temporal/int converted type, float64 the rest
        if np_vals.size:
            empty_dt = np_vals.dtype
        elif ptype == "int96" or ct in (_CT_DATE, _CT_TS_MICROS, _CT_TS_MILLIS) or ct in _CT_INTS or ct in _CT_UINTS:
            empty_dt = np.int64 if ptype != "int32" else np.int32
        else:
            empty_dt = np.float64
        out = np.zeros(n, dtype=empty_dt)
        if np_vals.size:
            out[mask] = np_vals[sel]
    if ct == _CT_DECIMAL and ptype in ("int32", "int64"):
        return _unscaled_to_decimal128(
            out.astype(np.int64), info["precision"], info["scale"], mask
        )
    arr = pa.array(out) if mask is None else pa.array(out, mask=~mask)
    if ptype == "int96":
        return arr.cast(pa.timestamp("ns"))
    if ct == _CT_DATE and ptype == "int32":
        return arr.cast(pa.date32())
    if ct == _CT_TS_MICROS and ptype == "int64":
        return arr.cast(pa.timestamp("us"))
    if ct == _CT_TS_MILLIS and ptype == "int64":
        return arr.cast(pa.timestamp("ms"))
    if ct in _CT_INTS and ptype == "int32":
        return arr.cast(_CT_INTS[ct])
    if ct in _CT_UINTS and ptype in ("int32", "int64"):
        t = _CT_UINTS[ct]
        if t.bit_width == arr.type.bit_width:
            return arr.view(t)  # reinterpret the stored two's complement
        return arr.cast(t, safe=False)
    return arr


def _split_slots(starts, ends, rep, r):
    """Split each [start, end) slot at element boundaries of depth ``r``.
    A position starts a new element of the depth-``r`` list iff
    ``rep <= r`` (rep == r continues that list with a new element; rep < r
    additionally starts new ancestors). Returns (child_starts, child_ends,
    counts_per_slot)."""
    bounds = np.flatnonzero(rep <= r)
    if len(bounds) == len(rep):
        lo, hi = starts, ends  # innermost list: every position is an element
    else:
        lo = np.searchsorted(bounds, starts, side="left")
        hi = np.searchsorted(bounds, ends, side="left")
    counts = (hi - lo).astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), counts
    # fully vectorized gather (this sits on the Dremel assembly hot
    # path): element j of slot i maps to bounds[lo[i] + j]
    run_first = np.cumsum(counts) - counts  # output offset of each slot's run
    idx = np.arange(total, dtype=np.int64) - np.repeat(run_first, counts) + np.repeat(lo, counts)
    child_starts = bounds[idx]
    # child ends: the next boundary within the same slot run, else the
    # slot end — runs are adjacent, so shifting covers the interior and
    # each run's LAST position is overwritten with its slot's end
    child_ends = np.empty(total, dtype=np.int64)
    child_ends[:-1] = child_starts[1:]
    nonempty = counts > 0
    child_ends[np.cumsum(counts)[nonempty] - 1] = np.asarray(ends, dtype=np.int64)[nonempty]
    return child_starts, child_ends, counts


def row_slots(rep: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Top-level slot windows ``[starts, ends)`` of a level stream: one
    per record, each starting at ``rep == 0``. No levels, no slots."""
    starts = np.flatnonzero(rep == 0)
    ends = (
        np.concatenate([starts[1:], [len(rep)]])
        if len(starts)
        else np.empty(0, np.int64)
    )
    return starts, ends


def wrap_list(starts, ends, rep, deflv, r: int, d_elem: int, d_present: int | None):
    """One list dimension of Dremel assembly, the only one in the engine:
    slot windows ``[starts, ends)`` into one leaf's ``rep``/``deflv``
    level streams -> (child_starts, child_ends, offsets int64[n+1],
    validity). ``r`` is the list's repetition depth, ``def >= d_elem``
    means the slot holds elements, ``def >= d_present`` that the list is
    there at all (``d_present`` None: never null, only empty). The Parquet
    reader's list and map fields and the PGSL chunk decoder
    (``core/listchunk.py``, r=1, d_elem=2, d_present=1) all wrap here."""
    has = deflv[starts] >= d_elem
    valid = np.ones(len(starts), dtype=bool) if d_present is None else deflv[starts] >= d_present
    # slots with elements expand; null/empty slots contribute none
    child_starts, child_ends, counts = _split_slots(starts[has], ends[has], rep, r)
    sizes = np.zeros(len(starts), dtype=np.int64)
    sizes[has] = counts
    offsets = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    return child_starts, child_ends, offsets, valid


def list_array(offsets: np.ndarray, valid: np.ndarray, child: pa.Array, is_map: bool = False) -> pa.Array:
    """Arrow list (or map, over a key/value struct ``child``) from
    :func:`wrap_list`'s offsets and validity. Past 2^31 entries int32
    offsets would silently wrap: a list becomes a large_list, and a map
    (int32 offsets by the Arrow spec) raises instead."""
    wide = int(offsets[-1]) > 0x7FFFFFFF
    if is_map:
        if wide:
            raise ValueError(
                f"map chunk has {int(offsets[-1])} entries: exceeds "
                "Arrow's int32 map offsets; encode with more partitions"
            )
        keys = child.field(0)
        if keys.null_count:
            raise ValueError("map keys must be non-null")
        # null map rows via null offsets (MapArray.from_arrays has no mask)
        off_mask = np.append(~valid, False) if not valid.all() else None
        return pa.MapArray.from_arrays(
            pa.array(offsets.astype(np.int32), type=pa.int32(), mask=off_mask), keys, child.field(1)
        )
    mask = pa.array(~valid) if not valid.all() else None
    if wide:
        return pa.LargeListArray.from_arrays(pa.array(offsets, type=pa.int64()), child, mask=mask)
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32), type=pa.int32()), child, mask=mask)


def read_column_arrow(
    buf: bytes,
    column: str,
    row_groups: list[int] | None = None,
    row_ranges: list[tuple[int, int]] | None = None,
) -> pa.Array:
    """Decode a (possibly nested) leaf path into an Arrow array via
    Dremel assembly: lists at every repeated depth (null / empty / n
    elements), nulls at the leaf. Optional struct ancestors fold into
    null propagation. ``column`` may be the top-level field name (its
    single leaf is resolved) or the full dotted leaf path."""
    meta = file_meta(buf)
    nodes = {node["path"]: node for node in _node_leaves(schema_tree(meta))}
    if column not in nodes:
        cands = [k for k in nodes if k.split(".")[0] == column]
        if len(cands) != 1:
            raise KeyError(f"{column!r}; leaves: {sorted(nodes)}")
        column = cands[0]
    leaves = {path: node["leaf"] for path, node in nodes.items()}
    # assembling from the leaf's own node wraps only its list dimensions
    return _field_arrow(buf, meta, leaves, nodes[column], row_groups, row_ranges)


def read_table_arrow(
    buf: bytes,
    columns: list[str] | None = None,
    row_groups: list[int] | None = None,
    row_ranges: list[tuple[int, int]] | None = None,
    meta: dict | None = None,
) -> pa.Table:
    """Decode a whole Parquet file into an Arrow table through this
    engine's kernels (reference ``file_reader.go`` NextRow loop, but
    columnar and whole-file). Every field shape assembles: flat scalars,
    lists of any depth, structs, maps, and their mixtures — single-leaf
    fields via :func:`read_column_arrow`, multi-leaf fields via the
    full Dremel tree assembly (:func:`read_field_arrow`).

    ``row_ranges`` (with exactly one row group selected) materializes
    only those rows, page-seeking flat columns through the OffsetIndex
    when the writer emitted one — the PageIndex read path. ``meta`` is
    the file's parsed footer when the caller has it already."""
    meta = file_meta(buf) if meta is None else meta
    tree = schema_tree(meta)
    leaves = {node["path"]: node["leaf"] for node in _node_leaves(tree)}
    nodes = {c["name"]: c for c in tree["children"] if _node_leaves(c)}
    names = list(nodes)
    if columns is not None:
        missing = [c for c in columns if c not in nodes]
        if missing:
            raise KeyError(f"columns not in file: {missing}; have {sorted(nodes)}")
        names = list(dict.fromkeys(columns))
    # _field_arrow serves every shape, including the single-leaf struct
    # that read_column_arrow would fold down to its leaf
    arrays = [_field_arrow(buf, meta, leaves, nodes[n], row_groups, row_ranges) for n in names]
    if row_ranges is not None:
        rg_rows = int(meta[4][row_groups[0]][3])
        n_rows = sum(min(hi, rg_rows) - lo for lo, hi in row_ranges if lo < rg_rows)
    elif row_groups is not None:
        n_rows = sum(int(meta[4][i][3]) for i in row_groups)
    else:
        n_rows = int(meta[3]) if 3 in meta else (len(arrays[0]) if arrays else 0)
    if not arrays:
        return pa.table({})
    for name, arr in zip(names, arrays):
        if len(arr) != n_rows:
            raise ValueError(f"column {name}: {len(arr)} rows, footer says {n_rows}")
    return pa.Table.from_arrays(arrays, names=names)


def leaf_arrow_type(info: dict) -> pa.DataType:
    """The Arrow type :func:`read_column_arrow` will produce for a leaf,
    derived from the footer alone (physical type + converted-type
    annotation + list nesting) — lets a driver plan a distributed scan
    without reading any data pages."""
    ptype = PHYSICAL_TYPES[info["type"]]
    ct = info.get("converted")
    if ct == _CT_DECIMAL and (
        (ptype == "flba" and info["type_length"] <= 16) or ptype in ("int32", "int64")
    ):
        base: pa.DataType = pa.decimal128(info["precision"], info["scale"])
    elif ptype == "bytes" or ptype == "flba":
        base = pa.utf8() if info["utf8"] else pa.binary()
    elif ptype == "int96":
        base = pa.timestamp("ns")
    elif ptype == "int32":
        if ct == _CT_DATE:
            base = pa.date32()
        elif ct in _CT_INTS:
            base = _CT_INTS[ct]
        elif ct in _CT_UINTS:
            base = _CT_UINTS[ct]
        else:
            base = pa.int32()
    elif ptype == "int64":
        if ct == _CT_TS_MICROS:
            base = pa.timestamp("us")
        elif ct == _CT_TS_MILLIS:
            base = pa.timestamp("ms")
        elif ct in _CT_UINTS:
            base = _CT_UINTS[ct]
        else:
            base = pa.int64()
    elif ptype == "float":
        base = pa.float32()
    elif ptype == "double":
        base = pa.float64()
    else:  # bool
        base = pa.bool_()
    for _ in info["lists"]:
        base = pa.list_(base)
    return base


def file_meta_path(path: str) -> dict:
    """Footer-only read of an on-disk Parquet file: two tail preads
    (8-byte trailer, then the thrift footer) — never the data pages.
    The driver-side planning primitive for a distributed scan."""
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(size - 8)
        tail = f.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"{path}: not a parquet file")
        flen = int.from_bytes(tail[:4], "little")
        _plausible(0 <= flen <= size - 8, "footer length exceeds file")
        f.seek(size - 8 - flen)
        fb = f.read(flen)
    meta, _ = read_struct(memoryview(fb).cast("B"), 0)
    return meta


# --- full-field assembly (struct / map / mixed nesting) ----------------------

_CT_MAP, _CT_MAP_KV, _CT_LIST = 1, 2, 3


def schema_tree(meta: dict) -> dict:
    """Walk the flattened schema (num_children spans) into a nested tree
    with per-node cumulative levels — the group structure needed to
    re-assemble struct/map fields (reference ``schema.go:585-647`` group
    handling); :func:`schema_leaf_info` lists its leaves."""
    elems = meta[2]
    pos = 1

    def walk_one(path: tuple, d: int, r: int, lists: tuple, parent_opt: bool) -> dict:
        nonlocal pos
        if len(path) >= codecs.MAX_NESTING:
            raise ValueError(f"schema nesting deeper than {codecs.MAX_NESTING} groups")
        el = elems[pos]
        pos += 1
        rep_t = el.get(3, _REQUIRED)
        name = el[4].decode()
        d2, r2, lists2 = d, r, lists
        if rep_t != _REQUIRED:
            d2 += 1
        if rep_t == _REPEATED:
            r2 += 1
            # null-vs-empty: the level below d_elem belongs to the
            # enclosing group only when that group is optional
            d_present = d2 - 1 if parent_opt else None
            lists2 = lists + ((r2, d2, d_present),)
        node: dict = {
            "name": name,
            "d": d2,
            "r": r2,
            "lists": list(lists2),
            "optional": rep_t == _OPTIONAL,
            "repeated": rep_t == _REPEATED,
            "converted": el.get(6),
            "path": ".".join(path + (name,)),
        }
        if 1 in el:  # leaf (has a physical type)
            node["leaf"] = {
                "type": el[1],
                "type_length": el.get(2, 0),
                "utf8": el.get(6) == 0,  # ConvertedType UTF8
                "converted": el.get(6),
                "scale": el.get(7),
                "precision": el.get(8),
                "max_def": d2,
                "max_rep": r2,
                "d_leaf": d2,
                "lists": list(lists2),
                "path": list(path) + [name],
            }
        else:
            node["children"] = [
                walk_one(path + (name,), d2, r2, lists2, rep_t == _OPTIONAL)
                for _ in range(el.get(5, 0))
            ]
        return node

    return {
        "name": "",
        "children": [walk_one((), 0, 0, (), False) for _ in range(elems[0].get(5, 0))],
    }


def _node_leaves(node: dict) -> list[dict]:
    if "leaf" in node:
        return [node]
    out = []
    for c in node["children"]:
        out.extend(_node_leaves(c))
    return out


def _list_element_node(node: dict) -> dict:
    """Element node of a LIST-annotated group, honouring the
    parquet-format backward-compat rules (2-level legacy shapes)."""
    rep = node["children"][0]
    if "leaf" in rep:
        return rep  # 2-level: repeated leaf IS the element
    if len(rep["children"]) != 1:
        return rep  # legacy: repeated group with several fields = struct element
    if rep["name"] == "array" or rep["name"].endswith("_tuple"):
        return rep
    return rep["children"][0]  # canonical 3-level


def _wrap_leaves(node: dict, state: dict, streams: dict, dim: tuple) -> tuple[dict, np.ndarray, np.ndarray]:
    """Move every leaf of ``node`` one list dimension ``dim`` down ->
    (new state, offsets, validity); the leaves share the list's shape, so
    the first one's offsets and validity serve the field."""
    new_state, shape = {}, None
    for lf in _node_leaves(node):
        p = lf["path"]
        child_starts, child_ends, offsets, valid = wrap_list(*state[p], streams[p][0], streams[p][1], *dim)
        new_state[p] = (child_starts, child_ends)
        shape = shape or (offsets, valid)
    return new_state, *shape


def _assemble(node: dict, state: dict, consumed: int, streams: dict) -> pa.Array:
    """Recursive Dremel assembly of a schema subtree into Arrow.
    ``state``: leaf path -> (starts, ends) slot windows into that leaf's
    level streams; ``consumed``: list dims already wrapped above."""
    lists = node["lists"]
    if consumed < len(lists):
        new_state, offsets, valid = _wrap_leaves(node, state, streams, lists[consumed])
        return list_array(offsets, valid, _assemble(node, new_state, consumed + 1, streams))
    if "leaf" in node:
        rep, deflv, values, _info = streams[node["path"]]
        starts, _ = state[node["path"]]
        return _leaf_arrow(starts, deflv, values, node["leaf"])
    ct = node.get("converted")
    if ct == _CT_LIST and len(node["children"]) == 1 and node["children"][0]["repeated"]:
        return _assemble(_list_element_node(node), state, consumed, streams)
    if (
        ct in (_CT_MAP, _CT_MAP_KV)
        and len(node["children"]) == 1
        and node["children"][0]["repeated"]
        and len(node["children"][0].get("children", [])) == 2
    ):
        kv = node["children"][0]
        # kv's list dim wraps here so the entries come back as a MapArray
        new_state, offsets, valid = _wrap_leaves(kv, state, streams, kv["lists"][consumed])
        entries = _assemble_group_as_struct(kv, new_state, consumed + 1, streams, kv)
        return list_array(offsets, valid, entries, is_map=True)
    return _assemble_group_as_struct(node, state, consumed, streams, node)


def _assemble_group_as_struct(
    node: dict, state: dict, consumed: int, streams: dict, _ctx: dict
) -> pa.Array:
    leaves = _node_leaves(node)
    rp = leaves[0]["path"]
    s0, _ = state[rp]
    def0 = streams[rp][1]
    if node["optional"]:
        valid = def0[s0] >= node["d"]
        mask = pa.array(~valid)
    else:
        mask = None
    children = [_assemble(c, state, consumed, streams) for c in node["children"]]
    return pa.StructArray.from_arrays(
        children, names=[c["name"] for c in node["children"]], mask=mask
    )


def read_field_arrow(
    buf: bytes,
    field: str,
    row_groups: list[int] | None = None,
    row_ranges: list[tuple[int, int]] | None = None,
) -> pa.Array:
    """Assemble a TOP-LEVEL field of any shape — scalar, list, struct,
    map, or mixed nesting — into one Arrow array through the Dremel
    level streams. The multi-leaf complement to
    :func:`read_column_arrow` (reference record assembly,
    ``schema.go:283-312`` / ``file_reader.go:258-272``, but columnar).

    ``row_ranges`` trims every leaf to the same exact row set BEFORE
    assembly (page-seeking flat leaves via the OffsetIndex when one is
    present), so the assembled field holds exactly the ranged rows."""
    meta = file_meta(buf)
    tree = schema_tree(meta)
    node = next((c for c in tree["children"] if c["name"] == field), None)
    if node is None:
        raise KeyError(f"{field!r}; fields: {[c['name'] for c in tree['children']]}")
    return _field_arrow(buf, meta, schema_leaf_info(meta), node, row_groups, row_ranges)


def _field_arrow(buf, meta: dict, leaves: dict, node: dict, row_groups, row_ranges) -> pa.Array:
    """:func:`read_field_arrow` over an already parsed footer."""
    streams, state = {}, {}
    for lf in _node_leaves(node):
        rep, deflv, values, info = _leaf_levels(buf, meta, leaves[lf["path"]], row_groups, row_ranges)
        streams[lf["path"]] = (rep, deflv, values, info)
        state[lf["path"]] = row_slots(rep)
    return _assemble(node, state, 0, streams)


def field_arrow_type(node: dict, consumed: int = 0) -> pa.DataType:
    """Footer-only Arrow type for a :func:`schema_tree` node — what
    :func:`read_field_arrow` will produce, so a distributed scan can
    plan struct/map/list schemas without touching data pages."""
    lists = node["lists"]
    if consumed < len(lists):
        return pa.list_(field_arrow_type(node, consumed + 1))
    if "leaf" in node:
        info = dict(node["leaf"])
        info["lists"] = []  # dims already wrapped by the tree recursion
        return leaf_arrow_type(info)
    ct = node.get("converted")
    kids = node["children"]
    if ct == _CT_LIST and len(kids) == 1 and kids[0]["repeated"]:
        return field_arrow_type(_list_element_node(node), consumed)
    if (
        ct in (_CT_MAP, _CT_MAP_KV)
        and len(kids) == 1
        and kids[0]["repeated"]
        and len(kids[0].get("children", [])) == 2
    ):
        kv = kids[0]
        return pa.map_(
            field_arrow_type(kv["children"][0], consumed + 1),
            field_arrow_type(kv["children"][1], consumed + 1),
        )
    return pa.struct(
        [pa.field(c["name"], field_arrow_type(c, consumed)) for c in kids]
    )
