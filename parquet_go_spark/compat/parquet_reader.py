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

``read_column`` serves flat leaves; ``read_column_arrow`` decodes any
leaf path — nested lists (any depth, 3-level or legacy shape) and
optional structs — by running the Dremel record assembly over the
rep/def level streams (reference ``data_store.go`` /
``schema.go:585-647`` semantics): repetition levels split element
boundaries per depth, definition levels distinguish null list / empty
list / null element. In a single-leaf read, struct nesting folds into
null propagation (the leaf comes back wrapped in its list dimensions
only); ``read_field_arrow`` assembles a whole top-level field of ANY
shape — struct, map, list, mixed — from all of its leaves' level
streams, and ``read_table_arrow`` serves complete files.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from ..kernels import bytearrays, bytestreamsplit, deltabp, hybrid, int96, plain
from .thrift_compact import read_struct

__all__ = ["read_column", "file_meta"]

_PHYS = {0: "bool", 1: "int32", 2: "int64", 3: "int96", 4: "float", 5: "double", 6: "bytes", 7: "flba"}


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



_MAX_PAGE_VALUES = 1 << 27  # governor: 128M level positions per page
_MAX_RAW_PAGE = 1 << 30  # governor: 1 GiB decompressed page


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


def _schema_leaves(meta: dict) -> dict[str, dict]:
    """name -> {type, type_length} for flat leaf columns."""
    out = {}
    for el in meta[2][1:]:  # skip root
        if 1 in el:  # has a physical type => leaf
            out[el[4].decode()] = {"type": el[1], "type_length": el.get(2, 0)}
    return out


def _decode_values(enc: int, ptype: str, payload, pos: int, nvals: int, dict_vals, type_length: int):
    mv = memoryview(payload)
    if enc in (2, 8):  # PLAIN_DICTIONARY / RLE_DICTIONARY index stream
        bw = mv[pos]
        idx = hybrid.decode(bytes(mv[pos + 1 :]), bw, nvals).astype(np.int64)
        if ptype in ("bytes", "flba"):
            u_lens, u_data = dict_vals
            starts = np.concatenate([[0], np.cumsum(u_lens)[:-1]]) if len(u_lens) else u_lens
            from ..core.columns import gather_segments

            lens = u_lens[idx]
            return (lens, gather_segments(u_data, starts[idx], lens))
        return dict_vals[idx]
    if enc == 0:  # PLAIN
        if ptype == "bytes":
            lens, data, _ = plain.decode_byte_array(payload, nvals, pos)
            return (lens, data)
        if ptype == "flba":
            lens, data, _ = plain.decode_fixed_byte_array(payload, nvals, type_length, pos)
            return (lens, data)
        if ptype == "bool":
            vals, _ = plain.decode_bool(payload, nvals, pos)
            return vals
        if ptype == "int96":
            vals, _ = int96.decode_plain_nanos(payload, nvals, pos)
            return vals
        vals, _ = plain.decode_fixed(payload, nvals, ptype, pos)
        return vals
    if enc == 5:  # DELTA_BINARY_PACKED
        vals, _ = deltabp.decode(payload, pos, 32 if ptype == "int32" else 64, nvals)
        return vals
    if enc == 6:  # DELTA_LENGTH_BYTE_ARRAY
        lens, data, _ = bytearrays.decode_delta_length(payload, pos, nvals)
        return (lens, data)
    if enc == 7:  # DELTA_BYTE_ARRAY
        lens, data, _ = bytearrays.decode_delta(payload, pos, nvals)
        return (lens, data)
    if enc == 9:  # BYTE_STREAM_SPLIT (fixed-width transpose)
        if ptype == "flba":
            total = nvals * type_length
            raw = np.frombuffer(mv, np.uint8, total, pos).reshape(type_length, nvals)
            data = np.ascontiguousarray(raw.T).reshape(-1)
            return (np.full(nvals, type_length, dtype=np.int64), data)
        np_t = {"int32": np.int32, "int64": np.int64, "float": np.float32, "double": np.float64}
        if ptype not in np_t:
            raise ValueError(f"BYTE_STREAM_SPLIT on unsupported type {ptype}")
        vals, _ = bytestreamsplit.decode(mv, nvals, np.dtype(np_t[ptype]), pos)
        return vals
    raise ValueError(f"unsupported encoding {enc}")


def read_column(buf: bytes, column: str, row_groups: list[int] | None = None):
    """Decode one flat column entirely with this engine's kernels.

    -> (validity bool[n], values ndarray | (lengths, data))."""
    meta = file_meta(buf)
    leaves = _schema_leaves(meta)
    if column not in leaves:
        raise KeyError(column)
    ptype = _PHYS[leaves[column]["type"]]
    type_length = leaves[column]["type_length"]
    validity_parts, value_parts, len_parts, data_parts = [], [], [], []
    for _rgi, rg in enumerate(meta[4]):
        if row_groups is not None and _rgi not in row_groups:
            continue
        for cc in rg[1]:
            cmeta = cc[3]
            if [p.decode() for p in cmeta[3]] != [column]:
                continue
            codec = cmeta[4]
            n_values = cmeta[5]
            start = min(cmeta.get(11, cmeta[9]), cmeta[9])
            end = start + cmeta[7]
            mv = memoryview(buf).cast("B")
            pos = start
            dict_vals = None
            seen = 0
            while seen < n_values and pos < end:
                hdr, pos = read_struct(mv, pos)
                page_type = hdr[1]
                raw_len, comp_len = hdr[2], hdr[3]
                _plausible(0 <= comp_len <= len(mv) - pos, "compressed size exceeds file")
                _plausible(0 <= raw_len <= _MAX_RAW_PAGE, "decompressed size")
                raw_page = bytes(mv[pos : pos + comp_len])
                pos += comp_len
                if page_type == 3:
                    # V2: rep/def level streams sit OUTSIDE the compressed
                    # region (page_v2.go:173-190 semantics)
                    dph2 = hdr[8]
                    lvl_len = dph2[5] + dph2[6]
                    is_comp = dph2.get(7, True)
                    body = (
                        _decompress(raw_page[lvl_len:], codec, raw_len - lvl_len)
                        if is_comp
                        else raw_page[lvl_len:]
                    )
                    payload = raw_page[:lvl_len] + body
                else:
                    payload = _decompress(raw_page, codec, raw_len)
                if page_type == 2:  # dictionary page
                    dph = hdr[7]
                    dn = dph[1]
                    _plausible(0 <= dn <= len(payload), "dictionary count")
                    if ptype == "bytes":
                        u_lens, u_data, _ = plain.decode_byte_array(payload, dn)
                        dict_vals = (u_lens, u_data)
                    elif ptype == "flba":
                        u_lens, u_data, _ = plain.decode_fixed_byte_array(
                            payload, dn, type_length
                        )
                        dict_vals = (u_lens, u_data)
                    else:
                        dict_vals, _ = (
                            int96.decode_plain_nanos(payload, dn)
                            if ptype == "int96"
                            else plain.decode_fixed(payload, dn, ptype)
                        )
                    continue
                if page_type == 0:  # data page V1
                    dph = hdr[5]
                    nv = dph[1]
                    _plausible(0 <= nv <= _MAX_PAGE_VALUES, "page value count")
                    enc = dph[2]
                    # def levels: RLE with 4-byte size prefix, bit width 1
                    validity, ppos = _def_levels_v1(payload, nv)
                    repr_ = _decode_values(
                        enc, ptype, payload, ppos, int(validity.sum()), dict_vals, type_length
                    )
                elif page_type == 3:  # data page V2
                    dph = hdr[8]
                    nv, nnulls = dph[1], dph[2]
                    _plausible(0 <= nv <= _MAX_PAGE_VALUES and 0 <= nnulls <= nv, "page value count")
                    enc = dph[4]
                    dl_len, rl_len = dph[5], dph[6]
                    lv = payload[rl_len : rl_len + dl_len]
                    if dl_len:
                        validity = hybrid.decode(lv, 1, nv).astype(bool)
                    else:
                        validity = np.ones(nv, dtype=bool)
                    repr_ = _decode_values(
                        enc, ptype, payload, rl_len + dl_len, nv - nnulls, dict_vals, type_length
                    )
                else:
                    raise ValueError(f"unsupported page type {page_type}")
                validity_parts.append(validity)
                if ptype in ("bytes", "flba"):
                    len_parts.append(repr_[0])
                    data_parts.append(repr_[1])
                else:
                    value_parts.append(repr_)
                seen += nv
    validity = np.concatenate(validity_parts) if validity_parts else np.empty(0, bool)
    if ptype in ("bytes", "flba"):
        lens = np.concatenate(len_parts) if len_parts else np.empty(0, np.int64)
        data = np.concatenate(data_parts) if data_parts else np.empty(0, np.uint8)
        return validity, (lens.astype(np.int64), data)
    return validity, (np.concatenate(value_parts) if value_parts else np.empty(0))


def _def_levels_v1(payload, nv: int):
    """V1 def-level stream for a flat column: 4-byte LE size + hybrid
    (bit width 1). A required column has... pyarrow always writes the
    stream for optional columns; for required ones max_def=0 and no
    stream exists — callers pass columns written as optional."""
    size = int.from_bytes(bytes(payload[:4]), "little")
    lv = payload[4 : 4 + size]
    validity = hybrid.decode(lv, 1, nv).astype(bool)
    return validity, 4 + size


# ---------------------------------------------------------------------------
# Nested leaves: schema tree, generic level decode, Dremel assembly
# ---------------------------------------------------------------------------

_REQUIRED, _OPTIONAL, _REPEATED = 0, 1, 2


def schema_leaf_info(meta: dict) -> dict[str, dict]:
    """Walk the flattened schema (num_children spans) into per-leaf info:

    dotted path -> {type, type_length, utf8, max_def, max_rep, d_leaf,
    lists: [(rep_depth, d_elem, d_present|None), ...]}.

    ``d_elem`` is the cumulative definition level at the repeated node
    (``def >= d_elem`` ⇒ at least one element); ``d_present`` is the
    level at which the list itself is defined (None when the enclosing
    group is required / legacy-repeated ⇒ never null, only empty).
    """
    elems = meta[2]
    out: dict[str, dict] = {}
    pos = 1  # skip root

    def walk(n_children: int, path: tuple, d: int, r: int, lists: tuple, parent_opt: bool):
        nonlocal pos
        for _ in range(n_children):
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
            if 1 in el:  # leaf (has a physical type)
                out[".".join(path + (name,))] = {
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
                walk(el.get(5, 0), path + (name,), d2, r2, lists2, rep_t == _OPTIONAL)

    walk(elems[0].get(5, 0), (), 0, 0, (), False)
    return out


def _levels_v1(payload, nv: int, max_rep: int, max_def: int):
    """Rep then def level streams (each 4-byte size + hybrid), present
    only when the respective max is > 0."""
    pos = 0
    if max_rep > 0:
        size = int.from_bytes(bytes(payload[pos : pos + 4]), "little")
        rep = hybrid.decode(payload[pos + 4 : pos + 4 + size], max_rep.bit_length(), nv)
        pos += 4 + size
    else:
        rep = np.zeros(nv, dtype=np.int64)
    if max_def > 0:
        size = int.from_bytes(bytes(payload[pos : pos + 4]), "little")
        deflv = hybrid.decode(payload[pos + 4 : pos + 4 + size], max_def.bit_length(), nv)
        pos += 4 + size
    else:
        deflv = np.zeros(nv, dtype=np.int64)
    return np.asarray(rep, np.int64), np.asarray(deflv, np.int64), pos


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
    if row_ranges is not None and (row_groups is None or len(row_groups) != 1):
        raise ValueError("row_ranges requires exactly one selected row group")
    info = leaves[column]
    ptype = _PHYS[info["type"]]
    type_length = info["type_length"]
    max_def, max_rep = info["max_def"], info["max_rep"]
    rep_parts, def_parts, value_parts, len_parts, data_parts = [], [], [], [], []
    rows_parts: list[np.ndarray] = []
    page_seeked = False
    mv = memoryview(buf).cast("B")
    for _rgi, rg in enumerate(meta[4]):
        if row_groups is not None and _rgi not in row_groups:
            continue
        for cc in rg[1]:
            cmeta = cc[3]
            if [p.decode() for p in cmeta[3]] != info["path"]:
                continue
            codec = cmeta[4]
            n_values = cmeta[5]
            start = min(cmeta.get(11, cmeta[9]), cmeta[9])
            end = start + cmeta[7]
            dict_vals = None
            seen = 0

            def walk_page(pos: int) -> tuple[int, int]:
                """Decode ONE page at ``pos``; appends to the stream parts
                (or sets the dictionary). -> (new_pos, page_type, nv)."""
                nonlocal dict_vals
                hdr, pos = read_struct(mv, pos)
                page_type = hdr[1]
                raw_len, comp_len = hdr[2], hdr[3]
                _plausible(0 <= comp_len <= len(mv) - pos, "compressed size exceeds file")
                _plausible(0 <= raw_len <= _MAX_RAW_PAGE, "decompressed size")
                raw_page = bytes(mv[pos : pos + comp_len])
                pos += comp_len
                if page_type == 3:
                    dph2 = hdr[8]
                    lvl_len = dph2[5] + dph2[6]
                    is_comp = dph2.get(7, True)
                    body = (
                        _decompress(raw_page[lvl_len:], codec, raw_len - lvl_len)
                        if is_comp
                        else raw_page[lvl_len:]
                    )
                    payload = raw_page[:lvl_len] + body
                else:
                    payload = _decompress(raw_page, codec, raw_len)
                if page_type == 2:  # dictionary page
                    dph = hdr[7]
                    dn = dph[1]
                    _plausible(0 <= dn <= len(payload), "dictionary count")
                    if ptype == "bytes":
                        u_lens, u_data, _ = plain.decode_byte_array(payload, dn)
                        dict_vals = (u_lens, u_data)
                    elif ptype == "flba":
                        u_lens, u_data, _ = plain.decode_fixed_byte_array(
                            payload, dn, type_length
                        )
                        dict_vals = (u_lens, u_data)
                    else:
                        dict_vals, _ = (
                            int96.decode_plain_nanos(payload, dn)
                            if ptype == "int96"
                            else plain.decode_fixed(payload, dn, ptype)
                        )
                    return pos, page_type, 0
                if page_type == 0:  # data page V1
                    dph = hdr[5]
                    nv, enc = dph[1], dph[2]
                    _plausible(0 <= nv <= _MAX_PAGE_VALUES, "page value count")
                    rep, deflv, ppos = _levels_v1(payload, nv, max_rep, max_def)
                elif page_type == 3:  # data page V2
                    dph = hdr[8]
                    nv = dph[1]
                    _plausible(0 <= nv <= _MAX_PAGE_VALUES, "page value count")
                    enc = dph[4]
                    dl_len, rl_len = dph[5], dph[6]
                    if rl_len:
                        rep = np.asarray(
                            hybrid.decode(payload[:rl_len], max_rep.bit_length(), nv), np.int64
                        )
                    else:
                        rep = np.zeros(nv, dtype=np.int64)
                    if dl_len:
                        deflv = np.asarray(
                            hybrid.decode(
                                payload[rl_len : rl_len + dl_len], max_def.bit_length(), nv
                            ),
                            np.int64,
                        )
                    else:
                        deflv = np.zeros(nv, dtype=np.int64)
                    ppos = rl_len + dl_len
                else:
                    raise ValueError(f"unsupported page type {page_type}")
                n_present = int((deflv == max_def).sum())
                repr_ = _decode_values(
                    enc, ptype, payload, ppos, n_present, dict_vals, info["type_length"]
                )
                rep_parts.append(rep)
                def_parts.append(deflv)
                if ptype in ("bytes", "flba"):
                    len_parts.append(np.asarray(repr_[0], np.int64))
                    data_parts.append(np.asarray(repr_[1], np.uint8))
                else:
                    value_parts.append(repr_)
                return pos, page_type, nv

            locs = None
            if row_ranges is not None and max_rep == 0:
                from .page_index import read_offset_index

                locs = read_offset_index(buf, cc)
            if locs:
                # page-seek: only pages whose row span overlaps a range
                n_rg_rows = int(rg[3])
                firsts = [loc[2] for loc in locs] + [n_rg_rows]
                if 11 in cmeta and cmeta[11] < cmeta[9]:
                    _, pt, _ = walk_page(cmeta[11])
                    _plausible(pt == 2, "dictionary_page_offset points at a data page")
                r_starts = np.array([r[0] for r in row_ranges], dtype=np.int64)
                r_ends = np.array([r[1] for r in row_ranges], dtype=np.int64)
                for i, loc in enumerate(locs):
                    lo, hi = firsts[i], firsts[i + 1]
                    # page [lo, hi) overlaps some surviving range?
                    j = int(np.searchsorted(r_ends, lo, side="right"))
                    if j >= len(r_starts) or r_starts[j] >= hi:
                        continue
                    _, pt, nv = walk_page(loc[0])
                    _plausible(
                        pt in (0, 3) and nv == hi - lo,
                        "OffsetIndex row spans disagree with page headers",
                    )
                    rows_parts.append(np.arange(lo, hi, dtype=np.int64))
                page_seeked = True
            else:
                pos = start
                while seen < n_values and pos < end:
                    pos, _pt, nv = walk_page(pos)
                    seen += nv
    rep = np.concatenate(rep_parts) if rep_parts else np.empty(0, np.int64)
    deflv = np.concatenate(def_parts) if def_parts else np.empty(0, np.int64)
    if ptype in ("bytes", "flba"):
        lens = np.concatenate(len_parts) if len_parts else np.empty(0, np.int64)
        data = np.concatenate(data_parts) if data_parts else np.empty(0, np.uint8)
        values = (lens, data)
    else:
        values = np.concatenate(value_parts) if value_parts else np.empty(0)
    if row_ranges is not None:
        from .page_index import rows_in_ranges

        if page_seeked:
            rows = (
                np.concatenate(rows_parts) if rows_parts else np.empty(0, np.int64)
            )
        else:
            # every level position belongs to the row opened by the last
            # rep == 0 position at or before it
            rows = np.cumsum(rep == 0) - 1
        keep_pos = rows_in_ranges(rows, row_ranges)
        vmask = keep_pos[deflv == max_def]
        rep, deflv = rep[keep_pos], deflv[keep_pos]
        if ptype in ("bytes", "flba"):
            lens, data = values
            from ..core.columns import gather_segments

            starts_v = (
                np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
                if len(lens)
                else np.empty(0, np.int64)
            )
            values = (lens[vmask], gather_segments(data, starts_v[vmask], lens[vmask]))
        else:
            values = values[vmask]
    return rep, deflv, values, info


# ConvertedType ids (parquet.thrift)
_CT_DECIMAL, _CT_DATE = 5, 6
_CT_TS_MILLIS, _CT_TS_MICROS = 9, 10
_CT_INTS = {15: pa.int8(), 16: pa.int16(), 17: pa.int32(), 18: pa.int64()}
_CT_UINTS = {11: pa.uint8(), 12: pa.uint16(), 13: pa.uint32(), 14: pa.uint64()}


def _unscaled_to_decimal128(ints: np.ndarray, precision: int, scale: int, mask) -> pa.Array:
    """int64 unscaled values -> decimal128 (16-byte LE two's complement)."""
    n = len(ints)
    buf = np.zeros((n, 2), dtype="<i8")
    buf[:, 0] = ints
    buf[:, 1] = ints >> 63  # sign extension
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale),
        n,
        [pa.py_buffer(np.packbits(mask, bitorder="little").tobytes()), pa.py_buffer(buf.tobytes())],
        null_count=int((~mask).sum()),
    )


def _flba_to_decimal128(data: np.ndarray, w: int, n_present: int, precision, scale, positions, value_idx, mask) -> pa.Array:
    """width-w big-endian two's complement bytes -> decimal128."""
    vals = data.reshape(n_present, w) if n_present else data.reshape(0, max(w, 1))
    n = len(positions)
    be = np.zeros((n, 16), dtype=np.uint8)
    if n_present:
        sel = vals[value_idx[positions][mask]]
        be_rows = be[mask]
        be_rows[:, 16 - w :] = sel
        be_rows[:, : 16 - w] = np.where(sel[:, :1] >= 128, 0xFF, 0)
        be[mask] = be_rows
    le = be[:, ::-1]
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale),
        n,
        [pa.py_buffer(np.packbits(mask, bitorder="little").tobytes()), pa.py_buffer(np.ascontiguousarray(le).tobytes())],
        null_count=int((~mask).sum()),
    )


def _leaf_arrow(positions, deflv, values, info) -> pa.Array:
    """Leaf slots (one level-position each) -> Arrow array with nulls,
    typed by the leaf's logical annotation (DATE, TIMESTAMP, DECIMAL,
    sized ints) when one is declared."""
    ptype = _PHYS[info["type"]]
    d_leaf = info["d_leaf"]
    ct = info.get("converted")
    full = deflv == d_leaf  # global mask: positions carrying a value
    value_idx = np.cumsum(full) - 1  # value index at each position
    mask = full[positions]
    if ptype == "flba" and ct == _CT_DECIMAL and info["type_length"] <= 16:
        lens, data = values
        return _flba_to_decimal128(
            np.asarray(data, np.uint8),
            info["type_length"],
            int(full.sum()),
            info["precision"],
            info["scale"],
            positions,
            value_idx,
            mask,
        )
    if ptype in ("bytes", "flba"):
        lens, data = values
        starts = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=starts[1:])
        out_lens = np.where(mask, lens[value_idx[positions]], 0)
        offsets = np.zeros(len(positions) + 1, dtype=np.int64)
        np.cumsum(out_lens, out=offsets[1:])
        if mask.all():
            # contiguous fast path: values already in slot order
            buf_data = data
        else:
            from ..core.columns import gather_segments

            sel = value_idx[positions][mask]
            buf_data = gather_segments(data, starts[sel], lens[sel])
        cls = pa.utf8() if info["utf8"] else pa.binary()
        return pa.Array.from_buffers(
            cls,
            len(positions),
            [
                pa.py_buffer(np.packbits(mask, bitorder="little").tobytes()),
                pa.py_buffer(offsets.astype(np.int32).tobytes()),
                pa.py_buffer(np.asarray(buf_data, np.uint8).tobytes()),
            ],
            null_count=int((~mask).sum()),
        )
    np_vals = np.asarray(values)
    # all-null leaf: the placeholder dtype must remain castable to the
    # logical type (pyarrow rejects double->date32/timestamp); int64
    # covers every temporal/int converted type, float64 the rest
    if np_vals.size:
        empty_dt = np_vals.dtype
    elif ptype == "int96" or ct in (_CT_DATE, _CT_TS_MICROS, _CT_TS_MILLIS) or ct in _CT_INTS or ct in _CT_UINTS:
        empty_dt = np.int64 if ptype != "int32" else np.int32
    else:
        empty_dt = np.float64
    out = np.zeros(len(positions), dtype=empty_dt)
    if np_vals.size:
        out[mask] = np_vals[value_idx[positions][mask]]
    if ct == _CT_DECIMAL and ptype in ("int32", "int64"):
        return _unscaled_to_decimal128(
            out.astype(np.int64), info["precision"], info["scale"], mask
        )
    arr = pa.array(out, mask=~mask)
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
    leaves = schema_leaf_info(meta)
    if column not in leaves:
        cands = [k for k in leaves if k == column or k.split(".")[0] == column]
        if len(cands) != 1:
            raise KeyError(f"{column!r}; leaves: {sorted(leaves)}")
        column = cands[0]
    rep, deflv, values, info = read_leaf_levels(buf, column, row_groups, row_ranges)
    # top-level rows: one slot per rep==0 run
    starts = np.flatnonzero(rep == 0)
    ends = np.concatenate([starts[1:], [len(rep)]]) if len(starts) else np.empty(0, np.int64)

    def build(starts, ends, list_idx) -> pa.Array:
        if list_idx == len(info["lists"]):
            return _leaf_arrow(starts, deflv, values, info)
        r, d_elem, d_present = info["lists"][list_idx]
        has_elems = deflv[starts] >= d_elem
        valid = np.ones(len(starts), dtype=bool) if d_present is None else deflv[starts] >= d_present
        # slots with elements expand; null/empty slots contribute none
        e_starts, e_ends, counts = _split_slots(starts[has_elems], ends[has_elems], rep, r)
        child = build(e_starts, e_ends, list_idx + 1)
        sizes = np.zeros(len(starts), dtype=np.int64)
        sizes[has_elems] = counts
        offsets = np.zeros(len(starts) + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        return pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)), child, mask=pa.array(~valid)
        )

    return build(starts, ends, 0)


def table_fields(meta: dict) -> list[tuple[str, list[str]]]:
    """Top-level field name -> its leaf paths, in schema order."""
    leaves = schema_leaf_info(meta)
    order: list[str] = []
    by_top: dict[str, list[str]] = {}
    for path in leaves:
        top = path.split(".")[0]
        if top not in by_top:
            by_top[top] = []
            order.append(top)
        by_top[top].append(path)
    return [(t, by_top[t]) for t in order]


def read_table_arrow(
    buf: bytes,
    columns: list[str] | None = None,
    row_groups: list[int] | None = None,
    row_ranges: list[tuple[int, int]] | None = None,
) -> pa.Table:
    """Decode a whole Parquet file into an Arrow table through this
    engine's kernels (reference ``file_reader.go`` NextRow loop, but
    columnar and whole-file). Every field shape assembles: flat scalars,
    lists of any depth, structs, maps, and their mixtures — single-leaf
    fields via :func:`read_column_arrow`, multi-leaf fields via the
    full Dremel tree assembly (:func:`read_field_arrow`).

    ``row_ranges`` (with exactly one row group selected) materializes
    only those rows, page-seeking flat columns through the OffsetIndex
    when the writer emitted one — the PageIndex read path."""
    meta = file_meta(buf)
    fields = table_fields(meta)
    if columns is not None:
        known = {t for t, _ in fields}
        missing = [c for c in columns if c not in known]
        if missing:
            raise KeyError(f"columns not in file: {missing}; have {sorted(known)}")
        fields = [(t, ls) for t, ls in fields if t in set(columns)]
        fields.sort(key=lambda f: columns.index(f[0]))
    names, arrays = [], []
    for top, _leaf_paths in fields:
        # read_field_arrow serves every shape, including the single-leaf
        # struct that read_column_arrow would fold down to its leaf
        names.append(top)
        arrays.append(read_field_arrow(buf, top, row_groups, row_ranges))
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
    ptype = _PHYS[info["type"]]
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
    """Nested schema tree with per-node cumulative levels — the group
    structure :func:`schema_leaf_info` flattens away, needed to
    re-assemble struct/map fields (reference ``schema.go:585-647``
    group handling)."""
    elems = meta[2]
    pos = 1

    def walk_one(path: tuple, d: int, r: int, lists: tuple, parent_opt: bool) -> dict:
        nonlocal pos
        el = elems[pos]
        pos += 1
        rep_t = el.get(3, _REQUIRED)
        name = el[4].decode()
        d2, r2, lists2 = d, r, lists
        if rep_t != _REQUIRED:
            d2 += 1
        if rep_t == _REPEATED:
            r2 += 1
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
        if 1 in el:  # leaf
            node["leaf"] = {
                "type": el[1],
                "type_length": el.get(2, 0),
                "utf8": el.get(6) == 0,
                "converted": el.get(6),
                "scale": el.get(7),
                "precision": el.get(8),
                "max_def": d2,
                "max_rep": r2,
                "d_leaf": d2,
                "lists": list(lists2),
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


def _assemble(node: dict, state: dict, consumed: int, streams: dict) -> pa.Array:
    """Recursive Dremel assembly of a schema subtree into Arrow.
    ``state``: leaf path -> (starts, ends) slot windows into that leaf's
    level streams; ``consumed``: list dims already wrapped above."""
    lists = node["lists"]
    if consumed < len(lists):
        r, d_elem, d_present = lists[consumed]
        leaves = _node_leaves(node)
        rp = leaves[0]["path"]
        rep0, def0 = streams[rp][0], streams[rp][1]
        s0, e0 = state[rp]
        has = def0[s0] >= d_elem
        valid = (
            np.ones(len(s0), dtype=bool) if d_present is None else def0[s0] >= d_present
        )
        new_state = {}
        counts = None
        for lf in leaves:
            p = lf["path"]
            repL, defL = streams[p][0], streams[p][1]
            s, e = state[p]
            hasL = defL[s] >= d_elem
            es, ee, cnt = _split_slots(s[hasL], e[hasL], repL, r)
            new_state[p] = (es, ee)
            if counts is None:
                counts = cnt
        child = _assemble(node, new_state, consumed + 1, streams)
        sizes = np.zeros(len(s0), dtype=np.int64)
        sizes[has] = counts
        offsets = np.zeros(len(s0) + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        return pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)), child, mask=pa.array(~valid)
        )
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
        # kv's list dim: wrap manually so we can emit a MapArray
        r, d_elem, d_present = kv["lists"][consumed]
        leaves = _node_leaves(kv)
        rp = leaves[0]["path"]
        rep0, def0 = streams[rp][0], streams[rp][1]
        s0, _ = state[rp]
        has = def0[s0] >= d_elem
        valid = (
            np.ones(len(s0), dtype=bool) if d_present is None else def0[s0] >= d_present
        )
        new_state = {}
        counts = None
        for lf in leaves:
            p = lf["path"]
            repL, defL = streams[p][0], streams[p][1]
            s, e = state[p]
            hasL = defL[s] >= d_elem
            es, ee, cnt = _split_slots(s[hasL], e[hasL], repL, r)
            new_state[p] = (es, ee)
            if counts is None:
                counts = cnt
        entries = _assemble_group_as_struct(kv, new_state, consumed + 1, streams, kv)
        sizes = np.zeros(len(s0), dtype=np.int64)
        sizes[has] = counts
        offsets = np.zeros(len(s0) + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        off_mask = np.append(~valid, False)
        keys = entries.field(0)
        if keys.null_count:
            raise ValueError("map keys must be non-null")
        return pa.MapArray.from_arrays(
            pa.array(offsets.astype(np.int32), mask=off_mask),
            keys,
            entries.field(1),
        )
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
    leaves = _node_leaves(node)
    streams, state = {}, {}
    for lf in leaves:
        rep, deflv, values, info = read_leaf_levels(buf, lf["path"], row_groups, row_ranges)
        streams[lf["path"]] = (rep, deflv, values, info)
        starts = np.flatnonzero(rep == 0)
        ends = (
            np.concatenate([starts[1:], [len(rep)]])
            if len(starts)
            else np.empty(0, np.int64)
        )
        state[lf["path"]] = (starts, ends)
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
