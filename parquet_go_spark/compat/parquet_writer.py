"""Write REAL Parquet files from this engine's kernels — the write-side
interop layer (analogue of the reference's dockerized cross-impl harness,
``compatibility/run_tests.bash``: write with parquet-go, read with
parquet-mr; here: write with these kernels, read with pyarrow/DuckDB).

V1 data pages, flat optional columns, reference-default layout:
dictionary unless distinct > 32767 (``chunk_writer.go:174-227``), else
the column's fallback encoding; def levels as length-prefixed RLE/BP
hybrid; SNAPPY/ZSTD/GZIP/UNCOMPRESSED codecs; 1 MiB page cuts; multiple
row groups (``WithMaxRowGroupSize``, ``file_writer.go:114-118``); and
per-chunk column statistics (min_value/max_value/null_count/
distinct_count) in ColumnMetaData, matching the reference's stats
emission (``chunk_writer.go:283-314``, ``stats.go:9-225``) so downstream
engines can prune on our files.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa

from ..core.chunk import DICT_MAX, _encode_dict_values, _factorize, _page_boundaries, column_minmax
from ..core.columns import ColumnData, from_arrow, one_chunk
from ..kernels import bytearrays, deltabp, dictenc, hybrid, int96, levels, plain
from .thrift_writer import write_struct

__all__ = ["write_parquet"]

MAGIC = b"PAR1"

_PQ_TYPE = {"bool": 0, "int32": 1, "int64": 2, "float": 4, "double": 5, "bytes": 6}
_CODEC = {"none": 0, "snappy": 1, "gzip": 2, "zstd": 6}
# parquet encoding ids
E_PLAIN = 0
E_RLE = 3
E_DELTA_BP = 5
E_DELTA_LEN = 6
E_DELTA_BA = 7
E_RLE_DICT = 8


def _kv_structs(kv: dict[str, str]) -> list[dict]:
    """KeyValue thrift structs, key-sorted like the reference
    (``chunk_writer.go:279-281``)."""
    return [{1: ("binary", str(k)), 2: ("binary", str(v))} for k, v in sorted(kv.items())]


def _compress(payload: bytes, codec: str) -> bytes:
    if codec == "none":
        return payload
    if codec == "gzip":
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(payload) + co.flush()
    return pa.Codec(codec).compress(payload, asbytes=True)


def _encode_page_values(enc: int, col: ColumnData, vlo, vhi, dlo, dhi, codes, dict_size):
    if enc == E_RLE_DICT:
        return dictenc.encode_indices(codes[vlo:vhi].astype(np.uint64), dict_size, mode="auto")
    if col.ptype == "bytes":
        lens = col.lengths[vlo:vhi]
        data = col.data[dlo:dhi]
        if enc == E_PLAIN:
            return plain.encode_byte_array(lens, data)
        if enc == E_DELTA_LEN:
            return bytearrays.encode_delta_length(lens, data)
        if enc == E_DELTA_BA:
            return bytearrays.encode_delta(lens, data)
    else:
        vals = col.values[vlo:vhi]
        if enc == E_PLAIN:
            return plain.encode_bool(vals) if col.ptype == "bool" else plain.encode_fixed(vals, col.ptype)
        if enc == E_DELTA_BP:
            return deltabp.encode(vals, 32 if col.ptype == "int32" else 64)
    raise ValueError(f"encoding {enc} for {col.ptype}")


def _choose(col: ColumnData, encoding: str | None):
    """-> (encoding, factorization). The factorization ``(codes, uniques,
    distinct)`` is set for dictionary chunks: the writer reuses the one
    the choice computed instead of factorizing the column again."""
    if encoding:
        enc = {
            "plain": E_PLAIN,
            "delta_bp": E_DELTA_BP,
            "delta_length": E_DELTA_LEN,
            "delta_bytes": E_DELTA_BA,
            "rle_dict": E_RLE_DICT,
        }[encoding]
        return enc, (_factorize(col) if enc == E_RLE_DICT else None)
    if col.ptype == "bool" or col.num_values == 0:
        return E_PLAIN, None
    fact = _factorize(col)
    return (E_RLE_DICT, fact) if fact[2] <= DICT_MAX else (E_PLAIN, None)


def _stats_bytes(v, ptype: str) -> bytes:
    """Parquet plain-encoded single value for the Statistics struct."""
    if ptype == "bool":
        return b"\x01" if v else b"\x00"
    if ptype == "int32":
        return struct.pack("<i", int(v))
    if ptype == "int64":
        return struct.pack("<q", int(v))
    if ptype == "float":
        return struct.pack("<f", float(v))
    if ptype == "double":
        return struct.pack("<d", float(v))
    return bytes(v)  # byte arrays: raw bytes


def _index_bound(v, ptype: str, is_max: bool, cap: int = 64) -> bytes | None:
    """ColumnIndex bound for one page: plain-encoded value, with long
    byte values truncated per the spec's convention (min: plain prefix =
    valid lower bound; max: truncate-and-increment = strict upper bound;
    an all-0xFF prefix has no safe increment -> no bound, stored as
    b'' which readers treat as unknown)."""
    if v is None:
        return None
    b = _stats_bytes(v, ptype)
    if ptype != "bytes" or len(b) <= cap:
        return b
    if not is_max:
        return b[:cap]
    p = bytearray(b[:cap])
    while p and p[-1] == 0xFF:
        p.pop()
    if not p:
        return None
    p[-1] += 1
    return bytes(p)


def _record_page(
    pidx: list | None,
    col: ColumnData,
    offset: int,
    size: int,
    first_row: int,
    n_rows: int,
    vstart: int,
    vend: int,
    dlo: int,
    dhi: int,
) -> None:
    """Append one data page's ColumnIndex/OffsetIndex record."""
    if pidx is None:
        return
    from ..core.chunk import _page_slice_column

    nvals = vend - vstart
    if nvals:
        mn, mx = column_minmax(_page_slice_column(col, vstart, vend, dlo, dhi))
    else:
        mn = mx = None
    pidx.append(
        {
            "offset": offset,
            "size": size,
            "first_row": first_row,
            "min": _index_bound(mn, col.ptype, False),
            "max": _index_bound(mx, col.ptype, True),
            "null_count": n_rows - nvals,
            "null_page": nvals == 0,
        }
    )


def _statistics_struct(col: ColumnData, distinct: int):
    """thrift Statistics (parquet.thrift): 3=null_count, 4=distinct_count,
    5=max_value, 6=min_value. Reference parity: chunk_writer.go:283-290
    + stats.go minMax/nullCount/distinctCount."""
    mn, mx = column_minmax(col)
    st = {3: ("i64", col.num_rows - col.num_values)}
    if distinct >= 0:
        st[4] = ("i64", distinct)
    if mn is not None:
        st[5] = ("binary", _stats_bytes(mx, col.ptype))
        st[6] = ("binary", _stats_bytes(mn, col.ptype))
    return st


_ENC_NAMES = {
    E_PLAIN: "plain",
    E_RLE_DICT: "rle_dict",
    E_DELTA_BP: "delta_bp",
    E_DELTA_LEN: "delta_length",
    E_DELTA_BA: "delta_bytes",
}


def _write_dict_page(
    out: bytearray, uniques, dict_size: int, ptype: str, compression: str, crc: bool
) -> tuple[int, int, int]:
    """Emit one DICTIONARY_PAGE (shared by the flat and nested chunk
    writers — previously two hand-maintained copies); returns
    (dict_offset, raw_bytes_added, comp_bytes_added)."""
    payload = _encode_dict_values(uniques, ptype)
    comp = _compress(payload, compression)
    dict_hdr = {
        1: ("i32", 2),  # DICTIONARY_PAGE
        2: ("i32", len(payload)),
        3: ("i32", len(comp)),
        7: ("struct", {1: ("i32", dict_size), 2: ("i32", E_PLAIN)}),
    }
    if crc:  # page_dict.go:124-128
        c = zlib.crc32(comp)
        dict_hdr[4] = ("i32", c - (1 << 32) if c >= 1 << 31 else c)
    hdr = write_struct(dict_hdr)
    dict_offset = len(out)
    out += hdr + comp
    return dict_offset, len(payload) + len(hdr), len(comp) + len(hdr)


def _write_chunk(out: bytearray, col: ColumnData, name: str, enc_name: str | None, compression: str, codec: int, max_page: int, page_version: int = 1, crc: bool = False, pidx: list | None = None, as_int96: bool = False):
    """Write one column chunk (dict page + data pages) into ``out``;
    returns (col_chunk_struct, meta_row). ``as_int96`` writes an INT64-
    micros timestamp column as legacy PLAIN INT96 (type_int96.go:11-66 /
    int96_time.go:17-50 inverse) for Impala/Hive-era readers: 12-byte
    nanos-of-day + Julian-day values, no dictionary, no min/max stats
    (INT96 ordering is undefined by the spec, so stats carry only the
    null count)."""
    enc, fact = (E_PLAIN, None) if as_int96 else _choose(col, enc_name)
    codes = uniques = None
    dict_size = 0
    distinct = -1
    if enc == E_RLE_DICT:
        codes, uniques, dict_size = fact
        distinct = dict_size
    chunk_start = len(out)
    dict_offset = None
    encodings_used = {E_RLE}
    total_raw = total_comp = 0
    if enc == E_RLE_DICT and dict_size:
        dict_offset, raw_add, comp_add = _write_dict_page(
            out, uniques, dict_size, col.ptype, compression, crc
        )
        total_raw += raw_add
        total_comp += comp_add
        encodings_used.add(E_PLAIN)
    data_offset = len(out)
    encodings_used.add(enc)
    vstart = 0
    n_data_pages = 0
    vcum = (
        np.concatenate([[0], np.cumsum(col.lengths)]).astype(np.int64)
        if col.ptype == "bytes"
        else None
    )
    for row_lo, row_hi in _page_boundaries(col, max_page):
        validity = col.validity[row_lo:row_hi]
        nvals = int(validity.sum())
        vend = vstart + nvals
        dlo, dhi = (int(vcum[vstart]), int(vcum[vend])) if vcum is not None else (0, 0)
        if as_int96:
            vals = int96.encode_plain(col.values[vstart:vend])
        else:
            vals = _encode_page_values(enc, col, vstart, vend, dlo, dhi, codes, dict_size)
        if page_version == 2:
            # V2: def levels (no size prefix) OUTSIDE the compressed
            # region; byte length in the header (page_v2.go:111-125,
            # 173-190, 237-245)
            lvl = hybrid.encode_auto(validity.astype("uint64"), 1)
            comp = _compress(vals, compression)
            page_bytes = bytes(lvl) + comp
            hdr_fields = {
                1: ("i32", 3),  # DATA_PAGE_V2
                2: ("i32", len(lvl) + len(vals)),
                3: ("i32", len(lvl) + len(comp)),
                8: (
                    "struct",
                    {
                        1: ("i32", row_hi - row_lo),
                        2: ("i32", (row_hi - row_lo) - nvals),
                        3: ("i32", row_hi - row_lo),
                        4: ("i32", enc),
                        5: ("i32", len(lvl)),
                        6: ("i32", 0),
                        7: ("bool", compression != "none"),
                    },
                ),
            }
            raw_add = len(lvl) + len(vals)
        else:
            lvl = levels.encode_def_levels(validity, mode="auto")
            body = bytes(lvl) + vals
            comp = _compress(body, compression)
            page_bytes = comp
            hdr_fields = {
                1: ("i32", 0),  # DATA_PAGE
                2: ("i32", len(body)),
                3: ("i32", len(comp)),
                5: (
                    "struct",
                    {
                        1: ("i32", row_hi - row_lo),
                        2: ("i32", enc),
                        3: ("i32", E_RLE),
                        4: ("i32", E_RLE),
                    },
                ),
            }
            raw_add = len(body)
        if crc:
            # page CRC32 in the header (WithCRC, page_v1.go:210-214 /
            # page_v2.go:224-228), over the page bytes following it
            c = zlib.crc32(page_bytes)
            hdr_fields[4] = ("i32", c - (1 << 32) if c >= 1 << 31 else c)
        hdr = write_struct(hdr_fields)
        _record_page(
            pidx, col, len(out), len(hdr) + len(page_bytes),
            row_lo, row_hi - row_lo, vstart, vend, dlo, dhi,
        )
        out += hdr + page_bytes
        total_raw += raw_add + len(hdr)
        total_comp += len(page_bytes) + len(hdr)
        vstart = vend
        n_data_pages += 1
    # PageEncodingStats (field 13): lets readers prove every data page
    # is dictionary-encoded and use the dict page as the exact distinct
    # set (parquet-mr DictionaryFilter)
    enc_stats = []
    if dict_offset is not None:
        enc_stats.append({1: ("i32", 2), 2: ("i32", E_PLAIN), 3: ("i32", 1)})
    enc_stats.append(
        {1: ("i32", 3 if page_version == 2 else 0), 2: ("i32", enc), 3: ("i32", n_data_pages)}
    )
    meta = {
        1: ("i32", 3 if as_int96 else _PQ_TYPE[col.ptype]),
        2: ("list", ("i32", sorted(encodings_used))),
        3: ("list", ("binary", [name])),
        4: ("i32", codec),
        5: ("i64", col.num_rows),
        6: ("i64", total_raw),
        7: ("i64", total_comp),
        9: ("i64", data_offset),
        12: (
            "struct",
            {3: ("i64", col.num_rows - col.num_values)}
            if as_int96
            else _statistics_struct(col, distinct),
        ),
        13: ("list", ("struct", enc_stats)),
    }
    if dict_offset is not None:
        meta[11] = ("i64", dict_offset)
    col_chunk = {2: ("i64", chunk_start), 3: ("struct", meta)}
    meta_row = {
        "column": name,
        "ptype": "int96" if as_int96 else col.ptype,
        "encoding": _ENC_NAMES[enc],
        "num_rows": col.num_rows,
        "null_count": col.num_rows - col.num_values,
        "raw_bytes": col.raw_bytes,
        "encoded_bytes": total_comp,
    }
    return col_chunk, meta_row


def _is_nested(t: pa.DataType) -> bool:
    return (
        pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_struct(t) or pa.types.is_map(t)
    )


def _leaf_schema_elem(name: str, t: pa.DataType, optional: bool, as_int96: bool = False) -> dict:
    if as_int96:
        # legacy layout: physical INT96, NO converted/logical type
        # (readers infer timestamp-nanos from the physical type alone)
        return {1: ("i32", 3), 3: ("i32", 1 if optional else 0), 4: ("binary", name)}
    col0 = from_arrow(pa.array([], type=t))
    el = {
        1: ("i32", _PQ_TYPE[col0.ptype]),
        3: ("i32", 1 if optional else 0),
        4: ("binary", name),
    }
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        el[6] = ("i32", 0)  # UTF8
    elif pa.types.is_timestamp(t):
        el[6] = ("i32", 10)  # TIMESTAMP_MICROS
    elif pa.types.is_date32(t):
        # DATE rides physical INT32; omitting the annotation silently
        # read the column back as plain int32 in every engine
        el[6] = ("i32", 6)  # DATE
    return el


def _schema_elems_for(name: str, t: pa.DataType, optional: bool = True) -> list[dict]:
    """Flattened SchemaElements for one (possibly nested) field, in the
    canonical 3-level LIST / key_value MAP shapes the reader and other
    engines expect (schema.go:585-647 construction)."""
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [
            {3: ("i32", 1 if optional else 0), 4: ("binary", name), 5: ("i32", 1), 6: ("i32", 3)},
            {3: ("i32", 2), 4: ("binary", "list"), 5: ("i32", 1)},
            *_schema_elems_for("element", t.value_type, t.value_field.nullable),
        ]
    if pa.types.is_map(t):
        return [
            {3: ("i32", 1 if optional else 0), 4: ("binary", name), 5: ("i32", 1), 6: ("i32", 1)},
            {3: ("i32", 2), 4: ("binary", "key_value"), 5: ("i32", 2)},
            _leaf_schema_elem("key", t.key_type, optional=False),
            *_schema_elems_for("value", t.item_type, t.item_field.nullable),
        ]
    if pa.types.is_struct(t):
        elems = [{3: ("i32", 1 if optional else 0), 4: ("binary", name), 5: ("i32", t.num_fields)}]
        for i in range(t.num_fields):
            f = t.field(i)
            elems.extend(_schema_elems_for(f.name, f.type, f.nullable))
        return elems
    return [_leaf_schema_elem(name, t, optional)]


def _write_chunk_nested(
    out: bytearray,
    arr: pa.Array,
    spec: dict,
    enc_name: str | None,
    compression: str,
    codec: int,
    max_page: int,
    crc: bool,
    pidx: list | None = None,
    page_version: int = 1,
):
    """Write one NESTED leaf chunk; pages cut on row boundaries so every
    page starts at rep == 0. V1 pages carry size-prefixed rep + def
    hybrid streams inside the compressed body; ``page_version=2`` puts
    the (unprefixed) level streams OUTSIDE the compressed region with
    their byte lengths in the header — previously V2 was silently
    downgraded to V1 for nested columns."""
    from .shred import shred_leaf

    rep, deflv, leaf, row_counts, has = shred_leaf(arr, spec)
    max_rep, max_def = spec["max_rep"], spec["max_def"]
    col = from_arrow(leaf)  # all-defined leaf values
    enc, fact = _choose(col, enc_name)
    codes = uniques = None
    dict_size = 0
    distinct = -1
    if enc == E_RLE_DICT:
        codes, uniques, dict_size = fact
        distinct = dict_size
    chunk_start = len(out)
    dict_offset = None
    encodings_used = {E_RLE, enc}
    total_raw = total_comp = 0
    if enc == E_RLE_DICT and dict_size:
        dict_offset, raw_add, comp_add = _write_dict_page(
            out, uniques, dict_size, col.ptype, compression, crc
        )
        total_raw += raw_add
        total_comp += comp_add
        encodings_used.add(E_PLAIN)
    data_offset = len(out)
    n_data_pages = 0
    # row-aligned page cuts by estimated leaf bytes per row
    per_pos_bytes = 8.0 if col.ptype != "bytes" else max(
        1.0, (col.data.nbytes / max(len(leaf), 1))
    )
    row_bytes = row_counts * per_pos_bytes + 2 * row_counts  # values + levels
    cuts = [0]
    acc = 0.0
    for i, b in enumerate(row_bytes):
        acc += float(b)
        if acc >= max_page and i + 1 < len(row_bytes):
            cuts.append(i + 1)
            acc = 0.0
    cuts.append(len(row_counts))
    pos_edges = np.zeros(len(row_counts) + 1, dtype=np.int64)
    np.cumsum(row_counts, out=pos_edges[1:])
    has_cum = np.zeros(len(has) + 1, dtype=np.int64)
    np.cumsum(has, out=has_cum[1:])
    vcum = (
        np.concatenate([[0], np.cumsum(col.lengths)]).astype(np.int64)
        if col.ptype == "bytes"
        else None
    )
    for lo_row, hi_row in zip(cuts[:-1], cuts[1:]):
        plo, phi = int(pos_edges[lo_row]), int(pos_edges[hi_row])
        if plo == phi and lo_row != 0:
            continue
        vlo, vhi = int(has_cum[plo]), int(has_cum[phi])
        dlo, dhi = (int(vcum[vlo]), int(vcum[vhi])) if vcum is not None else (0, 0)
        vals = _encode_page_values(enc, col, vlo, vhi, dlo, dhi, codes, dict_size)
        if page_version == 2:
            # V2: raw (unprefixed) rep then def streams OUTSIDE the
            # compressed region, byte lengths in header fields 6/5
            rep_lvl = (
                hybrid.encode_auto(rep[plo:phi].astype(np.uint64), max_rep.bit_length())
                if max_rep > 0
                else b""
            )
            def_lvl = (
                hybrid.encode_auto(deflv[plo:phi].astype(np.uint64), max_def.bit_length())
                if max_def > 0
                else b""
            )
            comp = _compress(vals, compression)
            page_bytes = bytes(rep_lvl) + bytes(def_lvl) + comp
            hdr_fields = {
                1: ("i32", 3),  # DATA_PAGE_V2
                2: ("i32", len(rep_lvl) + len(def_lvl) + len(vals)),
                3: ("i32", len(page_bytes)),
                8: (
                    "struct",
                    {
                        1: ("i32", phi - plo),  # num_values = level positions
                        2: ("i32", (phi - plo) - (vhi - vlo)),
                        3: ("i32", hi_row - lo_row),  # top-level rows
                        4: ("i32", enc),
                        5: ("i32", len(def_lvl)),
                        6: ("i32", len(rep_lvl)),
                        7: ("bool", compression != "none"),
                    },
                ),
            }
            raw_add = len(rep_lvl) + len(def_lvl) + len(vals)
        else:
            lvl = b""
            if max_rep > 0:
                lvl += hybrid.with_size_prefix(
                    hybrid.encode_auto(rep[plo:phi].astype(np.uint64), max_rep.bit_length()),
                    max_rep.bit_length(),
                )
            if max_def > 0:
                lvl += hybrid.with_size_prefix(
                    hybrid.encode_auto(deflv[plo:phi].astype(np.uint64), max_def.bit_length()),
                    max_def.bit_length(),
                )
            body = lvl + vals
            page_bytes = _compress(body, compression)
            hdr_fields = {
                1: ("i32", 0),  # DATA_PAGE
                2: ("i32", len(body)),
                3: ("i32", len(page_bytes)),
                5: (
                    "struct",
                    {
                        1: ("i32", phi - plo),  # num_values = level positions
                        2: ("i32", enc),
                        3: ("i32", E_RLE),
                        4: ("i32", E_RLE),
                    },
                ),
            }
            raw_add = len(body)
        if crc:
            c = zlib.crc32(page_bytes)
            hdr_fields[4] = ("i32", c - (1 << 32) if c >= 1 << 31 else c)
        hdr = write_struct(hdr_fields)
        # null_count counts NULL LEAF SLOTS (level positions below
        # max_def), not null rows — phi-plo positions, vhi-vlo present
        _record_page(
            pidx, col, len(out), len(hdr) + len(page_bytes),
            lo_row, phi - plo, vlo, vhi, dlo, dhi,
        )
        out += hdr + page_bytes
        total_raw += raw_add + len(hdr)
        total_comp += len(page_bytes) + len(hdr)
        n_data_pages += 1
    n_positions = int(pos_edges[-1])
    enc_stats = []
    if dict_offset is not None:
        enc_stats.append({1: ("i32", 2), 2: ("i32", E_PLAIN), 3: ("i32", 1)})
    enc_stats.append(
        {1: ("i32", 3 if page_version == 2 else 0), 2: ("i32", enc), 3: ("i32", n_data_pages)}
    )
    meta = {
        1: ("i32", _PQ_TYPE[col.ptype]),
        2: ("list", ("i32", sorted(encodings_used))),
        3: ("list", ("binary", spec["path"])),
        4: ("i32", codec),
        5: ("i64", n_positions),
        6: ("i64", total_raw),
        7: ("i64", total_comp),
        9: ("i64", data_offset),
        12: ("struct", {3: ("i64", n_positions - len(leaf))}),
        13: ("list", ("struct", enc_stats)),
    }
    if dict_offset is not None:
        meta[11] = ("i64", dict_offset)
    col_chunk = {2: ("i64", chunk_start), 3: ("struct", meta)}
    meta_row = {
        "column": ".".join(spec["path"]),
        "ptype": col.ptype,
        "encoding": _ENC_NAMES[enc],
        "num_rows": len(arr),
        "null_count": n_positions - len(leaf),
        "raw_bytes": total_raw,
        "encoded_bytes": total_comp,
    }
    return col_chunk, meta_row


def write_parquet(
    table: pa.Table,
    compression: str = "none",
    encodings: dict[str, str] | None = None,
    max_page: int = 1 << 20,
    max_row_group: int | None = None,
    page_version: int = 1,
    crc: bool = False,
    page_index: bool = False,
    bloom_columns: list[str] | None = None,
    bloom_fpp: float = 0.01,
    kv_metadata: dict[str, str] | None = None,
    column_kv: dict[str, dict[str, str]] | None = None,
    creator: str = "parquet_go_spark",
    file_version: int = 1,
    return_meta: bool = False,
    int96_columns: list[str] | None = None,
):
    """pa.Table -> Parquet file bytes (flat or nested schema: lists at
    any depth, structs with faithful null propagation, maps — emitted in
    the canonical 3-level LIST / key_value MAP shapes via the Dremel
    shredder in ``shred.py``).

    ``max_row_group``: rows per row group (None = one group, matching the
    reference's unbounded default; ``WithMaxRowGroupSize`` analogue).
    ``page_version``: 1 (default) or 2 — V2 keeps levels outside the
    compressed region (``page_v2.go``). ``crc=True`` writes per-page
    CRC32 into page headers (``WithCRC``).
    ``page_index=True`` appends a parquet-format PageIndex
    (ColumnIndex + OffsetIndex per chunk, PageIndex.md layout: all
    ColumnIndexes then all OffsetIndexes between the last row group and
    the footer) so readers — ours and foreign engines — can prune at
    page granularity; bounds use the spec's truncate-and-increment
    convention for long byte values.
    ``bloom_columns`` writes parquet-format split-block bloom filters
    (BloomFilter.md: XXH64 over plain-encoded values, SBBF bitset behind
    a BloomFilterHeader at ColumnMetaData.bloom_filter_offset) for the
    named FLAT columns, sized from each chunk's distinct count at
    ``bloom_fpp`` — the equality-prune tier min/max can't provide on
    hash-scattered keys.
    ``kv_metadata`` writes file-level key-value metadata into
    FileMetaData (reference ``WithMetaData``, ``file_writer.go:99-103``);
    ``column_kv`` = {column: {k: v}} writes per-column-chunk key-value
    metadata into every row group's ColumnMetaData for that column
    (reference ``WithRowGroupMetaDataForColumnPath``,
    ``file_writer.go:196-226``; for a nested column each leaf chunk
    carries the map). Both are emitted key-sorted like the reference
    (``chunk_writer.go:279-281``).
    ``return_meta=True`` -> (bytes, [{column, encoding, raw/comp bytes}]).
    """
    from .bloom_filter import bloom_bytes_for_column, bloom_header_bytes
    from .page_index import column_index_struct, offset_index_struct
    from .shred import leaf_specs

    metas: list[dict] = []
    out = bytearray(MAGIC)
    codec = _CODEC[compression]
    schema_elems = [{4: ("binary", "schema"), 5: ("i32", table.num_columns)}]
    nested_specs: dict[str, list] = {}
    n_leaves = 0
    for i, name in enumerate(table.column_names):
        t = table.schema.field(i).type
        if _is_nested(t):
            nested_specs[name] = leaf_specs(name, t)
            schema_elems.extend(_schema_elems_for(name, t))
            n_leaves += len(nested_specs[name])
        else:
            schema_elems.append(
                _leaf_schema_elem(name, t, optional=True, as_int96=name in (int96_columns or ()))
            )
            n_leaves += 1

    if int96_columns:
        for name in int96_columns:
            if name not in table.column_names or _is_nested(table.schema.field(name).type):
                raise ValueError(f"int96_columns must name flat columns, got {name!r}")
            if not pa.types.is_timestamp(table.schema.field(name).type):
                raise ValueError(f"int96_columns expects timestamp columns, got {name!r}")
            if bloom_columns and name in bloom_columns:
                raise ValueError(f"bloom filters over INT96 column {name!r} unsupported")

    if bloom_columns:
        unknown = set(bloom_columns) - set(table.column_names)
        nested = set(bloom_columns) & set(nested_specs)
        if unknown or nested:
            raise ValueError(
                f"bloom_columns must name flat columns; unknown={sorted(unknown)}"
                f" nested={sorted(nested)}"
            )
    if column_kv:
        unknown = set(column_kv) - set(table.column_names)
        if unknown:
            raise ValueError(f"column_kv names unknown columns: {sorted(unknown)}")
    n_rows = table.num_rows
    group_rows = max_row_group or max(n_rows, 1)
    row_groups = []
    chunk_pages: list[tuple[dict, list]] = []  # (cc struct, page records)
    bloom_jobs: list[tuple[dict, bytes]] = []  # (ColumnMetaData struct, bitset)
    off = 0
    while off == 0 or off < n_rows:
        part = table.slice(off, min(group_rows, n_rows - off) if n_rows else 0)
        col_chunks = []
        for name in table.column_names:
            if name in nested_specs:
                arr = one_chunk(part.column(name))
                for spec in nested_specs[name]:
                    pidx: list | None = [] if page_index else None
                    cc, mrow = _write_chunk_nested(
                        out, arr, spec, (encodings or {}).get(name), compression, codec,
                        max_page, crc, pidx, page_version=page_version,
                    )
                    if page_index:
                        chunk_pages.append((cc, pidx))
                    if column_kv and name in column_kv:
                        cc[3][1][8] = ("list", ("struct", _kv_structs(column_kv[name])))
                    col_chunks.append(cc)
                    mrow["row_group"] = len(row_groups)
                    metas.append(mrow)
                continue
            col = from_arrow(part.column(name))
            as96 = name in (int96_columns or ())
            # INT96 ordering is undefined -> no page-index bounds either
            pidx = [] if page_index and not as96 else None
            cc, mrow = _write_chunk(
                out, col, name, (encodings or {}).get(name), compression, codec, max_page,
                page_version, crc, pidx, as_int96=as96,
            )
            if page_index:
                chunk_pages.append((cc, pidx))
            if bloom_columns and name in bloom_columns:
                bits = bloom_bytes_for_column(col, fpp=bloom_fpp)
                if bits is not None:
                    bloom_jobs.append((cc[3][1], bits))
            if column_kv and name in column_kv:
                cc[3][1][8] = ("list", ("struct", _kv_structs(column_kv[name])))
            col_chunks.append(cc)
            mrow["row_group"] = len(row_groups)
            metas.append(mrow)
        row_groups.append(
            {
                1: ("list", ("struct", col_chunks)),
                # spec: total_byte_size is the UNCOMPRESSED total
                # (ColumnMetaData field 6) — engines budget memory and
                # splits from it; the compressed sum only matched by
                # accident when compression='none'
                2: ("i64", sum(c[3][1][6][1] for c in col_chunks)),
                3: ("i64", part.num_rows),
            }
        )
        off += max(part.num_rows, 1)
        if n_rows == 0:
            break
    # bloom filters: header + bitset per indexed chunk, offsets into
    # ColumnMetaData fields 14/15 (spec places them after the data,
    # before the footer; exact position is carried by the offsets)
    for cmeta_struct, bits in bloom_jobs:
        hdr = bloom_header_bytes(len(bits))
        cmeta_struct[14] = ("i64", len(out))
        cmeta_struct[15] = ("i32", len(hdr) + len(bits))
        out += hdr + bits
    # PageIndex region: between the last row group and the footer, all
    # ColumnIndex structs first, then all OffsetIndexes (parquet-mr
    # layout); each ColumnChunk records its spans (fields 6/7 and 4/5)
    for cc, pages in chunk_pages:
        if not pages:
            continue
        ci = write_struct(column_index_struct(pages))
        cc[6] = ("i64", len(out))
        cc[7] = ("i32", len(ci))
        out += ci
    for cc, pages in chunk_pages:
        if not pages:
            continue
        oi = write_struct(offset_index_struct(pages))
        cc[4] = ("i64", len(out))
        cc[5] = ("i32", len(oi))
        out += oi
    # creator / file_version = the reference's WithCreator (file_writer.go
    # CreatedBy) and FileVersion options
    fmeta = {
        1: ("i32", int(file_version)),
        2: ("list", ("struct", schema_elems)),
        3: ("i64", table.num_rows),
        4: ("list", ("struct", row_groups)),
        6: ("binary", creator),
        **({5: ("list", ("struct", _kv_structs(kv_metadata)))} if kv_metadata else {}),
        # ColumnOrder TYPE_ORDER per column: readers only trust
        # min_value/max_value when the footer declares the sort order
        7: ("list", ("struct", [{1: ("struct", {})} for _ in range(n_leaves)])),
    }
    footer = write_struct(fmeta)
    out += footer
    out += len(footer).to_bytes(4, "little")
    out += MAGIC
    if return_meta:
        return bytes(out), metas
    return bytes(out)
