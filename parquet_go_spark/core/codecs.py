"""The one codec dispatch of both containers: every value stream the
native ``PGSC`` chunk and the real-Parquet reader/writer encode or decode
goes through :func:`encode_values` / :func:`decode_values`, and every
dictionary through :func:`encode_dictionary` / :func:`decode_dictionary`
(the reference picks a page's value decoder at one point too,
``getValuesDecoder``, ``chunk_reader.go:106-159``).

Encodings are named by their ``PGSC`` name; :data:`PARQUET_ENCODINGS`
maps Parquet's encoding ids onto the names it shares. Kernels are called
through their module attributes at call time, never held in a table, so a
wrapper installed on a kernel module sees every call.

Decoded values have one shape per physical type: an ndarray of the
type's dtype for fixed-width types (``int96`` as int64 epoch-nanos), and
``(lengths int64, data uint8)`` for ``bytes`` and ``flba``.

Untrusted-bytes contract, applied at this boundary for every page of both
containers: count-declaring kernels get ``max_count=nvals``; the decoded
value count must equal ``nvals``; byte lengths must be >= 0 and sum to
the data length; and kernel-level failures surface as ``ValueError``.
The governors (allocation caps, defined in ``limits`` and re-exported
here) are the only ones the chunk and page decoders of either container
use; kernels keep their own caps on stream structure.
"""

from __future__ import annotations

import zlib
from contextlib import contextmanager

import numpy as np

from ..kernels import alp, bytearrays, bytestreamsplit, deltabp, dictenc, forbp, fsst, hybrid, int96, plain
from ..limits import (  # noqa: F401  (the governors, re-exported)
    MAX_BLOOM_BYTES,
    MAX_CODEC_DICT,
    MAX_DICT_REGION,
    MAX_NESTING,
    MAX_PAGE_STATS_LEN,
    MAX_PAGE_VALUES,
    MAX_RAW_PAGE,
    MAX_ROWS,
    MAX_THRIFT_DEPTH,
    MAX_TYPE_LENGTH,
)
from .columns import ColumnData, gather_segments

__all__ = [
    "encode_values",
    "decode_values",
    "encode_dictionary",
    "decode_dictionary",
    "chunk_hint",
    "parquet_encoding",
    "as_value_error",
    "PARQUET_ENCODINGS",
    "PARQUET_IDS",
]

DICT_MAX = 32767  # dictionary entries a writer emits: math.MaxInt16, type_dict.go:101

# ----------------------------------------------------- Parquet encoding ids
PARQUET_ENCODINGS = {
    0: "plain",
    2: "rle_dict",  # PLAIN_DICTIONARY (legacy writers)
    8: "rle_dict",  # RLE_DICTIONARY
    5: "delta_bp",
    6: "delta_length",
    7: "delta_bytes",
    9: "bss",
}
# name -> the id writers emit (rle_dict: RLE_DICTIONARY, listed after 2)
PARQUET_IDS = {name: eid for eid, name in PARQUET_ENCODINGS.items()}
PARQUET_RLE = 3  # the RLE/bit-packed hybrid: Parquet's level-stream encoding

# kernel failures on forged bytes; decompression errors included
KERNEL_ERRORS = (IndexError, KeyError, OverflowError, EOFError, TypeError, OSError, zlib.error)


@contextmanager
def as_value_error(what: str):
    """Parse untrusted bytes: a kernel-level failure becomes the one
    documented error type, ``ValueError``."""
    try:
        yield
    except KERNEL_ERRORS as e:
        raise ValueError(f"corrupt {what}: {e!r}") from e


def parquet_encoding(eid: int) -> str:
    """Parquet encoding id -> codec name; ValueError when unsupported."""
    name = PARQUET_ENCODINGS.get(eid)
    if name is None:
        raise ValueError(f"unsupported parquet encoding {eid}")
    return name


_DTYPES = {"int32": np.int32, "int64": np.int64, "float": np.float32, "double": np.float64}


def _int_bits(ptype: str) -> int:
    if ptype not in ("int32", "int64"):
        raise ValueError(f"integer encoding on {ptype}")
    return 32 if ptype == "int32" else 64


def _float_dtype(ptype: str):
    if ptype not in ("float", "double"):
        raise ValueError(f"float encoding on {ptype}")
    return np.float32 if ptype == "float" else np.float64


# ------------------------------------------------------------------ encode
def encode_values(
    enc: str,
    col: ColumnData,
    vlo: int,
    vhi: int,
    dlo: int = 0,
    dhi: int = 0,
    codes=None,
    dict_size: int = 0,
    index_mode: str = "auto",
    hint=None,
    ptype: str | None = None,
) -> bytes:
    """Encode the non-null values [vlo, vhi) of ``col`` (bytes [dlo, dhi)
    for byte types). ``rle_dict`` encodes ``codes[vlo:vhi]`` against a
    dictionary of ``dict_size`` entries with hybrid mode ``index_mode``.
    ``hint`` is the chunk's probe result for ``enc`` (FSST table, zdict
    plan or ALP parameters; see ``selector.choose_encoding``). ``ptype``
    overrides the column's physical type (``int96`` writes int64 micros
    as legacy INT96)."""
    ptype = ptype or col.ptype
    if enc == "rle_dict":
        return dictenc.encode_indices(codes[vlo:vhi].astype(np.uint64), dict_size, mode=index_mode)
    if ptype == "flba":
        w = col.type_length
        data = col.data[dlo:dhi]
        if enc == "plain":
            return plain.encode_fixed_byte_array(data)
        if enc == "bss":
            # byte-stream-split of any fixed width: same-significance
            # bytes stream together (compresses like the float case)
            return bytestreamsplit.encode(data, w)
        if enc == "delta_bytes":
            return bytearrays.encode_delta(np.full((dhi - dlo) // w, w, np.int64), data)
    elif ptype == "bytes":
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
    else:
        vals = col.values[vlo:vhi]
        if enc == "plain":
            if ptype == "bool":
                return plain.encode_bool(vals)
            if ptype == "int96":
                return int96.encode_plain(vals)
            return plain.encode_fixed(vals, ptype)
        if enc == "rle_bool" and ptype == "bool":
            return hybrid.with_size_prefix(hybrid.encode_auto(vals.astype(np.uint64), 1), 1)
        if enc == "delta_bp":
            return deltabp.encode(vals, _int_bits(ptype))
        if enc == "for_bp":
            return forbp.encode(vals, _int_bits(ptype))
        if enc == "bss" and ptype in _DTYPES:
            return bytestreamsplit.encode(vals)
        if enc == "alp":
            return alp.encode(vals, hint=hint)
    raise ValueError(f"encoding {enc} cannot carry {ptype}")


def chunk_hint(enc: str, col: ColumnData):
    """The probe a chunk forced to ``enc`` runs once and hands to every
    page (the selector returns the same hint for the encoding it picks):
    ALP parameters, which pages verify and re-search only on divergence;
    the FSST symbol table; or the zdict plan. None for other encodings."""
    if enc == "alp" and col.ptype in ("float", "double"):
        return alp.choose_params(col.values)
    if enc == "fsst":
        return _fsst_table(col)
    if enc == "zdict":
        return bytearrays.plan_zdict(col.lengths, col.data)
    return None


def _fsst_table(col: ColumnData):
    """Train one symbol table per chunk on a strided string sample (pages
    reuse it — training per page would redo the dominant cost and a
    prefix sample misrepresents heterogeneous columns)."""
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


def encode_dictionary(uniques, ptype: str) -> bytes:
    """A dictionary's values, PLAIN-encoded (both containers' dictionary
    page). ``uniques``: ColumnData for byte types, else an ndarray."""
    if ptype == "bytes":
        return plain.encode_byte_array(uniques.lengths, uniques.data)
    if ptype == "flba":
        return plain.encode_fixed_byte_array(uniques.data)
    return plain.encode_fixed(uniques, ptype)


# ------------------------------------------------------------------ decode
def _decode(enc, ptype, payload, pos, nvals, dict_vals, w, codec_dict):
    if enc == "rle_dict":
        if dict_vals is None:
            raise ValueError("dictionary-encoded page without a dictionary")
        idx, _ = dictenc.decode_indices(payload, nvals, pos)
        if ptype == "flba":
            ds = len(dict_vals[1]) // w
            return dict_vals[1].reshape(ds, w)[idx].reshape(-1)
        if ptype == "bytes":
            u_lens, u_data = dict_vals
            starts = np.zeros(len(u_lens), np.int64)
            np.cumsum(u_lens[:-1], out=starts[1:])
            lens = u_lens[idx]
            return lens, gather_segments(u_data, starts[idx], lens)
        return dict_vals[idx]
    if ptype == "flba":
        if enc == "plain":
            return plain.decode_fixed_byte_array(payload, nvals, w, pos)[1]
        if enc == "bss":
            vals, _ = bytestreamsplit.decode(payload, nvals, np.dtype((np.void, w)), pos)
            return vals.view(np.uint8)
        if enc == "delta_bytes":
            return bytearrays.decode_delta(payload, pos, nvals)[1]
    elif ptype == "bytes":
        if enc == "plain":
            return plain.decode_byte_array(payload, nvals, pos)[:2]
        if enc == "delta_length":
            return bytearrays.decode_delta_length(payload, pos, nvals)[:2]
        if enc == "delta_bytes":
            return bytearrays.decode_delta(payload, pos, nvals)[:2]
        if enc == "fsst":
            return fsst.decode_column(payload, pos, nvals)[:2]
        if enc == "zdict":
            return bytearrays.decode_zdict(payload, pos, codec_dict, nvals)[:2]
    elif enc == "plain":
        if ptype == "bool":
            return plain.decode_bool(payload, nvals, pos)[0]
        if ptype == "int96":
            return int96.decode_plain_nanos(payload, nvals, pos)[0]
        return plain.decode_fixed(payload, nvals, ptype, pos)[0]
    elif enc == "rle_bool" and ptype == "bool":
        return hybrid.decode_sized(payload, 1, nvals, pos)[0].astype(bool)
    elif enc == "delta_bp":
        return deltabp.decode(payload, pos, _int_bits(ptype), nvals)[0]
    elif enc == "for_bp":
        return forbp.decode(payload, pos, _int_bits(ptype), nvals)[0]
    elif enc == "bss" and ptype in _DTYPES:
        return bytestreamsplit.decode(payload, nvals, _DTYPES[ptype], pos)[0]
    elif enc == "alp":
        return alp.decode(payload, pos, nvals, _float_dtype(ptype))[0]
    raise ValueError(f"encoding {enc} cannot carry {ptype}")


def decode_values(
    enc: str,
    ptype: str,
    payload,
    pos: int,
    nvals: int,
    dict_vals=None,
    type_length: int = 0,
    codec_dict: bytes = b"",
):
    """Decode one page's ``nvals`` non-null values starting at ``pos`` of
    ``payload``: an ndarray, or ``(lengths, data)`` for byte types.
    ``dict_vals`` is the chunk's :func:`decode_dictionary` result (for
    ``rle_dict``), ``codec_dict`` its trained zdict dictionary."""
    if ptype == "flba" and not 0 < type_length <= MAX_TYPE_LENGTH:
        raise ValueError(f"implausible flba type_length {type_length}")
    with as_value_error(f"{enc} {ptype} page"):
        out = _decode(enc, ptype, payload, pos, nvals, dict_vals, type_length, codec_dict)
        if ptype == "flba":
            if len(out) != nvals * type_length:
                raise ValueError(f"{enc} page: {len(out)} bytes for {nvals} values of width {type_length}")
            return np.full(nvals, type_length, np.int64), out
        if ptype == "bytes":
            lens, data = out
            lens = np.asarray(lens, np.int64)
            if len(lens) != nvals or (nvals and lens.min() < 0) or int(lens.sum()) != len(data):
                raise ValueError(f"{enc} page: value lengths disagree with the page")
            return lens, np.asarray(data, np.uint8)
        if len(out) != nvals:
            raise ValueError(f"{enc} page: {len(out)} values, the page declares {nvals}")
        return out


def decode_dictionary(payload, count: int, ptype: str, type_length: int = 0):
    """A PLAIN dictionary page's ``count`` values, shaped like
    :func:`decode_values` output (every entry takes >= 1 byte)."""
    if not 0 <= count <= len(payload):
        raise ValueError(f"implausible dictionary count {count} for {len(payload)} bytes")
    return decode_values("plain", ptype, payload, 0, count, type_length=type_length)
