"""Struct-column chunks: one definition-level stream for the struct's own
presence, then per-field child chunks encoded over the valid parent rows
only.

This is the recursive layering of the reference's group shredding
(``recursiveAddColumnData``/``recursiveAddColumnNil``, ``schema.go:
774-891``; level math ``recursiveFix`` ``schema.go:667-693``): a nil group
appends levels but no child values, so each child stream holds exactly the
entries where the parent is present. Children may themselves be lists,
maps, or structs — any depth nests through the same three containers
(PGSC leaf / PGSL list / PGSS struct), mirroring the Dremel fixtures the
reference tests (``data_store_test.go:104-390``, ``readwrite_test.go:
144-533``).

The column stays Arrow end to end. The encoder filters each field to the
valid parents (the counterpart of ``compat/shred.py``'s ``field`` step,
which drops the values under a null struct); list and map fields go
through ``core/listchunk.py``, whose levels come from ``compat/shred.py``
and whose lists ``compat/parquet_reader.wrap_list`` rebuilds. The decoder
checks that every field holds exactly the valid parents.

Container:
  magic "PGSS" | version u8
  | uvarint num_rows | uvarint null_count
  | uvarint def_len | def stream (validity, bw=1, size-prefixed hybrid)
  | uvarint n_fields
  | per field: uvarint name_len | name
               | uvarint logical_len | logical (arrow type string)
               | uvarint blob_len | child chunk blob
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from ..kernels import levels
from ..kernels.varint import read_uvarint, uvarint
from .chunk import ChunkMeta, decode_chunk, encode_chunk
from .columns import from_arrow, logical_of, to_arrow

__all__ = ["encode_struct_chunk", "decode_struct_chunk", "STRUCT_MAGIC"]

STRUCT_MAGIC = b"PGSS"
STRUCT_VERSION = 1


def encode_struct_chunk(
    arr: pa.Array,
    profile: str = "auto",
    compression: str = "none",
    **kw,
) -> tuple[bytes, ChunkMeta]:
    num_rows = len(arr)
    validity = np.ones(num_rows, dtype=bool) if arr.null_count == 0 else arr.is_valid().to_numpy(zero_copy_only=False)
    vmask = None if validity.all() else pa.array(validity)
    def_s = levels.encode_def_levels(validity, mode="auto")
    null_count = num_rows - int(validity.sum())
    out = bytearray()
    out += STRUCT_MAGIC
    out += bytes([STRUCT_VERSION])
    out += uvarint(num_rows)
    out += uvarint(null_count)
    out += uvarint(len(def_s))
    out += def_s
    out += uvarint(arr.type.num_fields)
    total_raw = 0
    n_pages = 0
    # flatten() corrects for the struct's offset; children carry the
    # valid parents only
    for field, child in zip(arr.type, arr.flatten()):
        col = from_arrow(child if vmask is None else child.filter(vmask))
        blob, cmeta = encode_chunk(col, profile=profile, compression=compression, **kw)
        nb = field.name.encode()
        lb = logical_of(col).encode()
        out += uvarint(len(nb))
        out += nb
        out += uvarint(len(lb))
        out += lb
        out += uvarint(len(blob))
        out += blob
        total_raw += cmeta.raw_bytes
        n_pages += cmeta.num_pages
    blob = bytes(out)
    meta = ChunkMeta(
        ptype="struct",
        encoding="struct",
        compression=compression,
        num_rows=num_rows,
        null_count=null_count,
        distinct=-1,
        raw_bytes=total_raw + num_rows // 8,
        encoded_bytes=len(blob),
        num_pages=n_pages,
        crc32=zlib.crc32(blob),
    )
    return blob, meta


def decode_struct_chunk(blob, logical: str = "", depth: int = 0) -> pa.Array:
    mv = memoryview(blob).cast("B")  # normalize signed buffer views
    if bytes(mv[:4]) != STRUCT_MAGIC:
        raise ValueError("bad struct chunk magic")
    if mv[4] != STRUCT_VERSION:
        raise ValueError("bad struct chunk version")
    pos = 5
    num_rows, pos = read_uvarint(mv, pos)
    null_count, pos = read_uvarint(mv, pos)
    if null_count > num_rows:
        raise ValueError("implausible struct header")
    def_len, pos = read_uvarint(mv, pos)
    validity, _ = levels.decode_def_levels(mv[pos : pos + def_len], num_rows, 0)
    validity = np.asarray(validity, dtype=bool)
    pos += def_len
    n_valid = int(validity.sum())
    if n_valid != num_rows - null_count:
        raise ValueError(f"struct def levels hold {n_valid} valid rows, header says {num_rows - null_count}")
    n_fields, pos = read_uvarint(mv, pos)
    if n_fields > len(mv):
        raise ValueError("implausible field count")
    names, children = [], []
    for _ in range(n_fields):
        nl, pos = read_uvarint(mv, pos)
        name = bytes(mv[pos : pos + nl]).decode()
        pos += nl
        ll, pos = read_uvarint(mv, pos)
        child_logical = bytes(mv[pos : pos + ll]).decode()
        pos += ll
        bl, pos = read_uvarint(mv, pos)
        child = to_arrow(decode_chunk(mv[pos : pos + bl], logical=child_logical, depth=depth + 1))
        pos += bl
        if len(child) != n_valid:
            raise ValueError(f"struct field {name!r} holds {len(child)} rows, def levels {n_valid} valid parents")
        names.append(name)
        children.append(child)
    if n_valid == num_rows:
        return pa.StructArray.from_arrays(children, names=names)
    # expand valid-rows-only children back to full length (null at
    # invalid parent slots) via take-with-null-indices
    idx = pa.array((np.cumsum(validity) - 1).astype(np.int64), mask=~validity)
    children = [c.take(idx) for c in children]
    return pa.StructArray.from_arrays(children, names=names, mask=pa.array(~validity))
