"""List-column chunks: Dremel repetition/definition levels around an
inner element chunk.

Level semantics follow the reference's shredding for
``optional group (LIST) { repeated group list { optional element } }``
(``schema.go:585-614``, ``recursiveAddColumnData`` ``schema.go:837-891``,
level math ``recursiveFix`` ``schema.go:667-693``): max_rep=1, max_def=3;
per entry d=0 null list, d=1 empty list, d=2 null element, d=3 element
present; r=0 starts a row, r=1 continues it. Level streams are RLE/BP
hybrid with bit width ``bits.Len16(max)`` (rep: 1, def: 2) and a 4-byte
size prefix (``helpers.go:262-292``).

The engine has one Dremel layer, shared with the real-Parquet container:
the encoder takes its levels, validity and elements from
``compat/shred.shred_list`` (shred's list step over the element as one
opaque leaf; maps as key/value entries); the decoder rebuilds the list
with ``compat/parquet_reader.row_slots`` / ``wrap_list`` / ``list_array``.

Container:
  magic "PGSL" | version u8
  | uvarint num_rows | uvarint row_null_count | uvarint n_entries
  | uvarint rep_len | rep stream | uvarint def_len | def stream
  | inner element chunk blob (PGSC container — any codec, dict, pages,
    compression and stats apply to the flattened elements unchanged)
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from ..compat.parquet_reader import list_array, row_slots, wrap_list
from ..compat.shred import shred_list
from ..kernels import hybrid
from ..kernels.varint import read_uvarint, uvarint
from .chunk import ChunkMeta, decode_chunk, encode_chunk
from .columns import from_arrow, to_arrow

__all__ = ["encode_list_chunk", "decode_list_chunk", "LIST_MAGIC"]

LIST_MAGIC = b"PGSL"
LIST_VERSION = 1


def encode_list_chunk(
    arr: pa.Array,
    profile: str = "auto",
    compression: str = "none",
    **kw,
) -> tuple[bytes, ChunkMeta]:
    rep, dlev, valid, elems = shred_list(arr)
    rep_s = hybrid.with_size_prefix(hybrid.encode_auto(rep, 1), 1)
    def_s = hybrid.with_size_prefix(hybrid.encode_auto(dlev, 2), 2)
    inner, meta = encode_chunk(from_arrow(elems), profile=profile, compression=compression, **kw)
    num_rows = len(arr)
    null_rows = num_rows - int(valid.sum())
    out = bytearray()
    out += LIST_MAGIC
    out += bytes([LIST_VERSION])
    out += uvarint(num_rows)
    out += uvarint(null_rows)
    out += uvarint(len(rep))
    out += uvarint(len(rep_s))
    out += rep_s
    out += uvarint(len(def_s))
    out += def_s
    out += inner
    blob = bytes(out)
    meta = ChunkMeta(
        ptype=f"list<{meta.ptype}>",
        encoding=meta.encoding,
        compression=compression,
        num_rows=num_rows,
        null_count=null_rows,
        distinct=meta.distinct,
        raw_bytes=meta.raw_bytes + num_rows // 2,
        encoded_bytes=len(blob),
        num_pages=meta.num_pages,
        crc32=zlib.crc32(blob),
        min_value=meta.min_value,
        max_value=meta.max_value,
    )
    return blob, meta


def decode_list_chunk(blob, logical: str = "", depth: int = 0) -> pa.Array:
    mv = memoryview(blob).cast("B")  # normalize signed buffer views
    if bytes(mv[:4]) != LIST_MAGIC:
        raise ValueError("bad list chunk magic")
    if mv[4] != LIST_VERSION:
        raise ValueError("bad list chunk version")
    pos = 5
    num_rows, pos = read_uvarint(mv, pos)
    _null_rows, pos = read_uvarint(mv, pos)
    n_entries, pos = read_uvarint(mv, pos)
    rep_len, pos = read_uvarint(mv, pos)
    rep, _ = hybrid.decode_sized(mv[pos : pos + rep_len], 1, n_entries, 0)
    pos += rep_len
    def_len, pos = read_uvarint(mv, pos)
    dlev, _ = hybrid.decode_sized(mv[pos : pos + def_len], 2, n_entries, 0)
    pos += def_len
    elem_logical = ""
    if logical.startswith("map<"):
        elem_logical = ""  # the struct child chunk stores its own field logicals
    elif logical.startswith("list<") or logical.startswith("large_list<"):
        elem_logical = logical.split("<", 1)[1].rsplit(">", 1)[0]
        if elem_logical.startswith("item:") or elem_logical.startswith("element:"):
            elem_logical = elem_logical.split(":", 1)[1].strip()
    elem = to_arrow(decode_chunk(mv[pos:], logical=elem_logical, depth=depth + 1))
    rep, dlev = np.asarray(rep, np.int64), np.asarray(dlev, np.int64)
    starts, ends = row_slots(rep)
    if len(starts) != num_rows or (n_entries and rep[0] != 0):
        raise ValueError(f"list levels hold {len(starts)} rows, header says {num_rows}")
    elem_starts, _, offsets, valid = wrap_list(starts, ends, rep, dlev, 1, 2, 1)
    if (
        len(elem_starts) != len(elem)
        or int((dlev >= 2).sum()) != len(elem)
        or not np.array_equal(dlev[elem_starts] == 3, np.asarray(elem.is_valid()))
    ):
        raise ValueError(f"list levels hold {len(elem_starts)} entries, element chunk {len(elem)}")
    return list_array(offsets, valid, elem, is_map=logical.startswith("map<"))
