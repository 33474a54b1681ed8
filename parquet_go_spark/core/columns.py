"""Column representation bridging Arrow/pandas batches and the codec
kernels: every flat column becomes (validity, values) where values are
either a fixed-width numpy array or a (lengths, data) flat byte pair — the
same "non-null values + def levels" split the reference's ColumnStore keeps
(``data_store.go:96-136``: nulls only append levels, never values).
Nested columns stay Arrow arrays end to end.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

__all__ = [
    "ColumnData",
    "from_arrow",
    "to_arrow",
    "logical_of",
    "is_nested",
    "split_fields",
    "PHYSICAL",
    "gather_segments",
]


def gather_segments(src: np.ndarray, starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenate src[starts[i] : starts[i]+lengths[i]] segments."""
    total = int(lengths.sum())
    n = len(lengths)
    if total == 0 or n == 0:
        return np.empty(0, dtype=src.dtype)
    if total // n >= 32:
        # long segments: python slice loop = n memcpys, beats index build
        out = np.empty(total, dtype=src.dtype)
        dst = np.concatenate([[0], np.cumsum(lengths)[:-1]])
        for d, s, l in zip(dst.tolist(), starts.tolist(), lengths.tolist()):
            out[d : d + l] = src[s : s + l]
        return out
    idx = np.repeat(starts, lengths) + (
        np.arange(total) - np.repeat(np.concatenate([[0], np.cumsum(lengths)[:-1]]), lengths)
    )
    return src[idx]

# physical types (SURVEY.md §1.2); int96 kept only as a decode-compat shim
PHYSICAL = ("bool", "int32", "int64", "float", "double", "bytes", "flba")


def decimal_width(precision: int) -> int:
    """Minimal FLBA byte width holding ±(10^precision - 1) in two's
    complement — the reference's DECIMAL carrier sizing
    (``type_bytearray.go:328-333``, parquet-format DECIMAL spec)."""
    w = 1
    limit = 10**precision - 1
    while (1 << (8 * w - 1)) <= limit:
        w += 1
    return w

_ARROW_TO_PHYS = {
    pa.bool_(): "bool",
    pa.int8(): "int32",
    pa.int16(): "int32",
    pa.int32(): "int32",
    pa.date32(): "int32",
    pa.int64(): "int64",
    pa.float32(): "float",
    pa.float64(): "double",
    pa.string(): "bytes",
    pa.large_string(): "bytes",
    pa.binary(): "bytes",
    pa.large_binary(): "bytes",
}

_NUMPY_OF = {
    "bool": np.bool_,
    "int32": np.int32,
    "int64": np.int64,
    "float": np.float32,
    "double": np.float64,
}


@dataclass
class ColumnData:
    """Flat, null-stripped column: the unit the chunk encoder consumes."""

    ptype: str  # physical type
    validity: np.ndarray  # bool[n_rows]; True = non-null
    values: np.ndarray | None = None  # fixed kinds: non-null values
    lengths: np.ndarray | None = None  # bytes kind: per-value byte lengths
    data: np.ndarray | None = None  # bytes/flba kind: concatenated bytes
    logical: str = ""  # original Arrow type string (for reassembly)
    type_length: int = 0  # flba kind: fixed byte width per value

    @property
    def num_rows(self) -> int:
        return len(self.validity)

    @property
    def num_values(self) -> int:
        return int(self.validity.sum())

    @property
    def raw_bytes(self) -> int:
        """Uncompressed payload size (the GB measured by the bench)."""
        if self.ptype == "bytes":
            return int(self.lengths.sum()) + len(self.validity) // 8
        if self.ptype == "flba":
            return self.num_values * self.type_length + len(self.validity) // 8
        return self.num_values * np.dtype(_NUMPY_OF[self.ptype]).itemsize


def logical_of(col: "ColumnData | pa.Array") -> str:
    """The ``logical`` tag :func:`~.chunk.decode_chunk` takes to rebuild
    ``col``: a flat column's own tag, a nested column's Arrow type."""
    return col.logical if isinstance(col, ColumnData) else str(col.type)


def is_nested(t: pa.DataType) -> bool:
    """List, large list, map or struct: the column kinds the nested chunk
    containers (PGSL/PGSS) encode straight from Arrow."""
    return pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_map(t) or pa.types.is_struct(t)


def split_fields(s: str) -> list[str]:
    """Split a type-parameter list on top-level commas only
    (bracket-aware: 'a: int64, b: struct<c: string, d: int64>' -> 2)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    if tail:
        parts.append(tail)
    return parts


def _phys_of(t: pa.DataType) -> str:
    if t in _ARROW_TO_PHYS:
        return _ARROW_TO_PHYS[t]
    if pa.types.is_timestamp(t):
        return "int64"
    if pa.types.is_decimal(t) or pa.types.is_fixed_size_binary(t):
        return "flba"
    if pa.types.is_dictionary(t):
        return _phys_of(t.value_type)
    raise TypeError(f"unsupported arrow type {t}")


def one_chunk(arr: "pa.Array | pa.ChunkedArray") -> pa.Array:
    """Materialize a (possibly chunked) Arrow array as ONE Array without
    paying combine_chunks' unconditional buffer copy in the common
    1-chunk case (pyarrow concatenates even a single chunk — a full
    memcpy of every buffer)."""
    if isinstance(arr, pa.ChunkedArray):
        return arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    return arr


def _offsets_view(barr: pa.Array, odt) -> np.ndarray:
    """Zero-copy view of a variable-length binary array's offsets at
    their native width.

    The Arrow spec permits a LENGTH-0 array to carry an empty (or
    absent) offsets buffer; Spark's Java writer emits exactly that for
    the string child of an all-empty list column, while pyarrow's own
    constructors always materialize the leading 0 — so the pytest
    fixtures never see it, only live Spark jobs with empty partitions
    do. Synthesize the single zero offset for that legal layout; any
    OTHER short buffer is corruption and np.frombuffer raises."""
    n = len(barr)
    if n == 0:
        # any single offset value describes an empty array, and the
        # array's own offset is not trustworthy here: flatten() over an
        # empty-offsets parent yields a length-0 slice whose offset is
        # read from past the buffer (garbage, possibly negative)
        return np.zeros(1, dtype=odt)
    return np.frombuffer(barr.buffers()[1], dtype=odt, count=n + 1 + barr.offset)[barr.offset :]


def from_arrow(arr: pa.Array | pa.ChunkedArray) -> "ColumnData | pa.Array":
    """Arrow array -> ColumnData (vectorized, zero-copy where possible).
    A nested (list/map/struct) column stays one Arrow array: the PGSL and
    PGSS chunk encoders shred it themselves (``core/listchunk.py``,
    ``core/structchunk.py``)."""
    # combine_chunks COPIES every buffer even when there is exactly one
    # chunk (pyarrow concatenates unconditionally) — 0.5 s of pure
    # memcpy+fault on an 80 MB html column, ~45% of single-core chunk
    # encode. A 1-chunk column unwraps zero-copy (one_chunk).
    arr = one_chunk(arr)
    if is_nested(arr.type):
        return arr
    if pa.types.is_dictionary(arr.type):
        arr = arr.cast(arr.type.value_type)
    ptype = _phys_of(arr.type)
    n = len(arr)
    validity = np.ones(n, dtype=bool) if arr.null_count == 0 else arr.is_valid().to_numpy(zero_copy_only=False)
    logical = str(arr.type)
    if ptype == "flba":
        if pa.types.is_decimal(arr.type):
            # decimal128 -> minimal-width big-endian two's complement, the
            # reference's FLBA DECIMAL carrier (type_bytearray.go:328-333)
            w = decimal_width(arr.type.precision)
            buf = arr.buffers()[1]
            if buf is None:  # length-0 arrays may omit the data buffer
                buf = b""
            raw = np.frombuffer(buf, np.uint8, 16 * (n + arr.offset))[16 * arr.offset :]
            be = raw.reshape(n, 16)[:, ::-1]  # LE int128 -> BE bytes
            data = np.ascontiguousarray(be[validity][:, 16 - w :]).reshape(-1)
        else:  # fixed_size_binary
            w = arr.type.byte_width
            buf = arr.buffers()[1]
            if buf is None:
                buf = b""
            raw = np.frombuffer(buf, np.uint8, w * (n + arr.offset))[w * arr.offset :]
            data = np.ascontiguousarray(raw.reshape(n, w)[validity]).reshape(-1)
        return ColumnData("flba", validity, data=data, type_length=w, logical=logical)
    if ptype == "bytes":
        # read the offsets buffer at its NATIVE width (int32 for
        # binary/string, int64 for large_*) — the old normalizing
        # cast(large_binary) rewrote offsets AND data of every bytes
        # column (~0.44 s of a 1.8 s single-core 120k-row pages encode,
        # the marshaling share NOTES_r4 §9 flagged); exotic layouts
        # (binary_view, dictionary-nested) still take the cast fallback
        if pa.types.is_binary(arr.type) or pa.types.is_string(arr.type):
            barr, odt = arr, np.int32
        elif pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type):
            barr, odt = arr, np.int64
        else:
            barr, odt = arr.cast(pa.large_binary()), np.int64
        offsets = _offsets_view(barr, odt)
        dbuf = barr.buffers()[2]
        data_all = (
            np.frombuffer(dbuf, dtype=np.uint8, count=len(dbuf)) if dbuf is not None else np.empty(0, np.uint8)
        )
        lens_all = np.diff(offsets)
        lens = lens_all[validity]
        if validity.all() or not lens_all[~validity].any():
            # zero-copy view: with no nulls the buffer IS the value
            # stream; with zero-LENGTH null slots (how parquet readers
            # and Spark's Arrow batches always materialize them) the
            # uncompacted buffer is byte-identical to the compacted one
            # — skipping drop_null's full-buffer gather saved 0.45 s on
            # a 323 MB html column with 2% nulls (pure DRAM traffic)
            data = data_all[offsets[0] : offsets[-1]]
        else:
            # null slots carry stale bytes (hand-built buffers): strip
            # via Arrow's C++ gather — drop_null rebuilds compact
            # offsets+data in one native pass — the python-loop
            # gather_segments here cost ~0.2 s per 120k-row web-text
            # column, ~25% of single-core chunk encode
            nn = barr.drop_null()
            noff = _offsets_view(nn, odt)
            ndbuf = nn.buffers()[2]
            data = (
                np.frombuffer(ndbuf, dtype=np.uint8, count=len(ndbuf))[noff[0] : noff[-1]]
                if ndbuf is not None
                else np.empty(0, np.uint8)
            )
        return ColumnData(ptype, validity, lengths=lens.astype(np.int64), data=data, logical=logical)
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.timestamp("us"))
        logical = "timestamp[us]"
        arr = arr.cast(pa.int64())
    elif pa.types.is_date32(arr.type):
        arr = arr.cast(pa.int32())
    if arr.null_count:
        zero = False if ptype == "bool" else 0
        vals = arr.fill_null(zero).to_numpy(zero_copy_only=False)
    else:
        vals = arr.to_numpy(zero_copy_only=False)
    vals = np.asarray(vals).astype(_NUMPY_OF[ptype], copy=False)
    # a boolean-mask index copies even when the mask is all-true; on a
    # null-free fixed-width column the Arrow buffer view itself is the
    # value stream (kernels never mutate ColumnData arrays in place)
    values = vals if validity.all() else np.ascontiguousarray(vals[validity])
    return ColumnData(ptype, validity, values=values, logical=logical)


def to_arrow(col: "ColumnData | pa.Array") -> pa.Array:
    """ColumnData -> Arrow array of the original logical type; a nested
    column (decoded straight to Arrow) passes through."""
    if not isinstance(col, ColumnData):
        return col
    n = col.num_rows
    mask = ~col.validity  # pyarrow mask: True = null
    if col.ptype == "flba":
        w = col.type_length
        nv = col.num_values
        vals = col.data.reshape(nv, w)
        vbuf = pa.py_buffer(np.packbits(col.validity, bitorder="little"))
        if col.logical.startswith("decimal128("):
            p, s = (int(x) for x in col.logical[len("decimal128(") : -1].split(","))
            be16 = np.zeros((nv, 16), np.uint8)
            be16[:, 16 - w :] = vals
            neg = (vals[:, 0] & 0x80) != 0
            be16[neg, : 16 - w] = 0xFF  # sign-extend
            full = np.zeros((n, 16), np.uint8)
            full[col.validity] = be16[:, ::-1]  # BE -> LE int128
            return pa.Array.from_buffers(
                pa.decimal128(p, s), n, [vbuf, pa.py_buffer(full)], null_count=int(mask.sum())
            )
        full = np.zeros((n, w), np.uint8)
        full[col.validity] = vals
        return pa.Array.from_buffers(
            pa.binary(w), n, [vbuf, pa.py_buffer(full)], null_count=int(mask.sum())
        )
    if col.ptype == "bytes":
        lens_all = np.zeros(n, dtype=np.int64)
        lens_all[col.validity] = col.lengths
        offsets = np.concatenate([[0], np.cumsum(lens_all)])
        # build the TARGET type straight from buffers instead of the old
        # large_binary -> cast -> cast chain: each cast rewrote offsets
        # and data — redundant copies on the decode hot path
        small = int(offsets[-1]) <= 0x7FFFFFFF
        if col.logical == "string" and small:
            pa_t, odt = pa.string(), np.int32
        elif col.logical == "binary" and small:
            pa_t, odt = pa.binary(), np.int32
        elif col.logical in ("string", "large_string"):
            pa_t, odt = pa.large_string(), np.int64
        else:
            pa_t, odt = pa.large_binary(), np.int64
        arr = pa.Array.from_buffers(
            pa_t,
            n,
            [
                pa.py_buffer(np.packbits(col.validity, bitorder="little")),
                pa.py_buffer(offsets.astype(odt, copy=False)),
                pa.py_buffer(np.ascontiguousarray(col.data)),
            ],
            null_count=int(mask.sum()),
        )
        if pa.types.is_string(pa_t) or pa.types.is_large_string(pa_t):
            # the cast chain validated UTF-8 as a side effect; from_buffers
            # does not, and invalid bytes from a corrupt page or codec bug
            # must fail HERE, not deep inside a downstream shuffle. One
            # validation scan (~2.6 GB/s), zero buffer rewrites.
            arr.validate(full=True)
        return arr
    vals_all = np.zeros(n, dtype=_NUMPY_OF[col.ptype])
    vals_all[col.validity] = col.values
    if col.logical.startswith("timestamp"):
        return pa.array(vals_all, mask=mask).cast(pa.int64()).cast(pa.timestamp("us"))
    if col.logical == "date32[day]":
        return pa.array(vals_all.astype(np.int32), mask=mask).cast(pa.date32())
    pa_type = {
        "bool": pa.bool_(),
        "int32": pa.int32(),
        "int64": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
    }[col.ptype]
    if col.logical in ("int8", "int16"):
        pa_type = {"int8": pa.int8(), "int16": pa.int16()}[col.logical]
        vals_all = vals_all.astype(col.logical)
    return pa.array(vals_all, type=pa_type, mask=mask)
