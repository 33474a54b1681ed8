"""Decoder fuzzing (reference test layer 5: go-fuzz on every decoder —
``hybrid_fuzz.go``, ``deltabp_fuzz.go``, ``types_fuzz.go``,
``reader_fuzz.go``). Decoders must reject or decode arbitrary bytes —
never hang, crash the interpreter, or allocate absurdly."""

from __future__ import annotations

import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from parquet_go_spark.core.chunk import MAGIC, decode_chunk, encode_chunk
from parquet_go_spark.core.columns import ColumnData, to_arrow
from parquet_go_spark.kernels import deltabp, forbp, fsst, hybrid

ACCEPTABLE = (ValueError, IndexError, KeyError, OverflowError, EOFError, MemoryError)


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=0, max_size=256))
def test_fuzz_chunk_decoder(buf):
    try:
        decode_chunk(MAGIC + buf)
    except ACCEPTABLE:
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=0, max_size=256))
def test_fuzz_list_chunk_decoder(buf):
    try:
        to_arrow(decode_chunk(b"PGSL" + buf, logical="list<int64>"))
    except ACCEPTABLE:
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(max_size=128), st.integers(0, 32), st.integers(0, 512))
def test_fuzz_hybrid_decoder(buf, bw, count):
    try:
        hybrid.decode(buf, bw, count)
    except ACCEPTABLE:
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(max_size=256), st.sampled_from([32, 64]))
def test_fuzz_deltabp_decoder(buf, bits):
    try:
        deltabp.decode(buf, 0, bits)
    except ACCEPTABLE:
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(max_size=256), st.sampled_from([32, 64]))
def test_fuzz_forbp_decoder(buf, bits):
    try:
        forbp.decode(buf, 0, bits)
    except ACCEPTABLE:
        pass


@settings(max_examples=100, deadline=5000)
@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300),
    st.sampled_from([32, 64]),
)
def test_property_forbp_roundtrip(vals, bits):
    import numpy as np

    arr = np.array(vals, dtype=np.int64)
    if bits == 32:
        arr = arr.astype(np.int32)
    out, pos = forbp.decode(forbp.encode(arr, bits), 0, bits)
    assert pos == len(forbp.encode(arr, bits))
    np.testing.assert_array_equal(out, arr)


@settings(max_examples=150, deadline=2000)
@given(st.binary(max_size=256))
def test_fuzz_fsst_decoder(buf):
    try:
        fsst.decode_column(buf, 0)
    except ACCEPTABLE:
        pass


# ---- round-trip properties over random well-formed columns ----
@settings(max_examples=60, deadline=5000)
@given(
    st.lists(st.one_of(st.none(), st.integers(-(2**62), 2**62)), max_size=200),
    st.sampled_from(["auto", "reference"]),
)
def test_property_int64_roundtrip(vals, profile):
    validity = np.array([v is not None for v in vals], dtype=bool)
    values = np.array([v for v in vals if v is not None], dtype=np.int64)
    col = ColumnData("int64", validity, values=values, logical="int64")
    blob, _ = encode_chunk(col, profile=profile)
    dec = decode_chunk(blob)
    assert np.array_equal(dec.validity, validity)
    assert np.array_equal(dec.values, values)


@settings(max_examples=60, deadline=5000)
@given(st.lists(st.one_of(st.none(), st.binary(max_size=40)), max_size=120))
def test_property_bytes_roundtrip(vals):
    validity = np.array([v is not None for v in vals], dtype=bool)
    nn = [v for v in vals if v is not None]
    lengths = np.array([len(v) for v in nn], dtype=np.int64)
    data = np.frombuffer(b"".join(nn), dtype=np.uint8)
    col = ColumnData("bytes", validity, lengths=lengths, data=data, logical="binary")
    blob, _ = encode_chunk(col)
    dec = decode_chunk(blob)
    assert np.array_equal(dec.validity, validity)
    assert np.array_equal(dec.lengths, lengths)
    assert np.array_equal(dec.data, data)


@pytest.mark.parametrize("enc", ["plain", "delta_length", "delta_bytes", "fsst"])
def test_forced_encoding_roundtrip_empty_strings(enc):
    vals = [b"", b"a", b"", b"", b"abc" * 30, b""]
    validity = np.ones(len(vals), dtype=bool)
    lengths = np.array([len(v) for v in vals], dtype=np.int64)
    data = np.frombuffer(b"".join(vals), dtype=np.uint8)
    col = ColumnData("bytes", validity, lengths=lengths, data=data, logical="binary")
    blob, _ = encode_chunk(col, encoding=enc)
    dec = decode_chunk(blob)
    assert np.array_equal(dec.lengths, lengths)
    assert np.array_equal(dec.data, data)


# ---- round-2 containers: struct / flba / zdict / page-CRC ----
@settings(max_examples=150, deadline=2000)
@given(st.binary(max_size=300))
def test_fuzz_struct_chunk_decoder(buf):
    from parquet_go_spark.core.structchunk import STRUCT_MAGIC, decode_struct_chunk

    try:
        decode_struct_chunk(STRUCT_MAGIC + b"\x01" + buf)
    except ACCEPTABLE:
        pass
    try:
        to_arrow(decode_chunk(STRUCT_MAGIC + b"\x01" + buf, logical="struct"))
    except ACCEPTABLE:
        pass


@settings(max_examples=150, deadline=2000)
@given(st.binary(max_size=300))
def test_fuzz_flba_chunk_decoder(buf):
    # ptype 6 = flba; random headers must never crash outside ValueError
    try:
        decode_chunk(MAGIC + b"\x01\x06" + buf)
    except ACCEPTABLE:
        pass


@settings(max_examples=150, deadline=2000)
@given(st.binary(max_size=300))
def test_fuzz_zdict_stream_decoder(buf):
    import zlib as _z

    from parquet_go_spark.kernels import bytearrays

    try:
        bytearrays.decode_zdict(buf, 0)
    except ACCEPTABLE + (_z.error,):
        pass


@settings(max_examples=60, deadline=5000)
@given(st.lists(st.one_of(st.none(), st.binary(min_size=3, max_size=3)), max_size=100))
def test_property_flba_roundtrip(vals):
    validity = np.array([v is not None for v in vals], dtype=bool)
    nn = b"".join(v for v in vals if v is not None)
    col = ColumnData(
        "flba", validity, data=np.frombuffer(nn, np.uint8), type_length=3, logical=""
    )
    for kw in ({}, {"page_crc": True}, {"compression": "zlib"}):
        blob, _ = encode_chunk(col, **kw)
        dec = decode_chunk(blob)
        assert dec.type_length == 3
        assert np.array_equal(dec.validity, validity)
        assert bytes(dec.data) == nn


@settings(max_examples=40, deadline=5000)
@given(st.lists(st.one_of(st.none(), st.binary(max_size=30)), max_size=100))
def test_property_zdict_roundtrip(vals):
    validity = np.array([v is not None for v in vals], dtype=bool)
    nn = [v for v in vals if v is not None]
    lengths = np.array([len(v) for v in nn], dtype=np.int64)
    data = np.frombuffer(b"".join(nn), dtype=np.uint8)
    col = ColumnData("bytes", validity, lengths=lengths, data=data, logical="binary")
    blob, _ = encode_chunk(col, encoding="zdict", page_crc=True)
    dec = decode_chunk(blob)
    assert np.array_equal(dec.lengths, lengths)
    assert np.array_equal(dec.data, data)


# ---------------------------------------------------------------------------
# Interop Parquet reader corruption fuzzing (reference ``reader_fuzz.go``:
# a real file with flipped/truncated bytes must raise, not hang or
# over-allocate — the governors in compat/parquet_reader.py enforce the
# allocation side).

def _interop_fixture() -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 64
    tbl = pa.table(
        {
            "s": pa.array([f"url-{i % 7}" for i in range(n)]),
            "i": pa.array(list(range(n)), type=pa.int64()),
            "ls": pa.array([[i, i + 1] if i % 5 else None for i in range(n)],
                           type=pa.list_(pa.int32())),
        }
    )
    buf = io.BytesIO()
    pq.write_table(tbl, buf, compression="snappy", version="2.6")
    return buf.getvalue()


# any raise is a controlled rejection (the governor guards allocation;
# corrupted thrift shapes surface as Type/Attribute errors) — the
# contract is: never hang, never crash the interpreter, never over-allocate
_INTEROP_ACCEPTABLE = ACCEPTABLE + (
    zlib.error,
    TypeError,
    AttributeError,
    NotImplementedError,
    OSError,
)


@settings(max_examples=120, deadline=5000)
@given(st.data())
def test_fuzz_parquet_reader_corruption(data):
    import pyarrow.lib

    from parquet_go_spark.compat.parquet_reader import (
        file_meta,
        read_column,
        read_column_arrow,
    )

    base = _interop_fixture()
    mode = data.draw(st.sampled_from(["flip", "truncate", "splice"]))
    raw = bytearray(base)
    if mode == "flip":
        # flip up to 8 bytes anywhere (headers, levels, payload, footer)
        for _ in range(data.draw(st.integers(1, 8))):
            off = data.draw(st.integers(0, len(raw) - 1))
            raw[off] ^= data.draw(st.integers(1, 255))
    elif mode == "truncate":
        cut = data.draw(st.integers(0, len(raw) - 1))
        raw = raw[:cut] + raw[-4:]  # keep trailing magic so parsing starts
    else:  # splice random bytes into the middle
        off = data.draw(st.integers(4, len(raw) - 4))
        blob = data.draw(st.binary(min_size=1, max_size=64))
        raw = raw[:off] + bytearray(blob) + raw[off:]
    buf = bytes(raw)
    try:
        meta = file_meta(buf)
        for col in ("s", "i"):
            read_column(buf, col)
        read_column_arrow(buf, "ls.list.element")
        assert isinstance(meta, dict)
    except _INTEROP_ACCEPTABLE:
        pass
    except pyarrow.lib.ArrowException:
        pass  # codec-level rejection (snappy/zstd) is an acceptable failure


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=0, max_size=256))
def test_fuzz_bloom_header_reader(buf):
    """Forged BloomFilterHeaders must raise ValueError or report
    absent/unsupported (None) — never allocate from a lying numBytes or
    crash uncontrolled (compat/bloom_filter.py governor)."""
    from parquet_go_spark.compat.bloom_filter import read_bloom_bitset

    try:
        out = read_bloom_bitset(buf, {14: 0, 1: 6})
        assert out is None or isinstance(out, bytes)
    except (ValueError, KeyError, IndexError, TypeError):
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=0, max_size=256), st.integers(0, 7))
def test_fuzz_page_index_structs(buf, ptype):
    """Garbage ColumnIndex/OffsetIndex regions parse to a controlled
    rejection or a well-typed result, and pruning over them never
    crashes (it may only KEEP more than necessary)."""
    from parquet_go_spark.compat.page_index import (
        read_column_index,
        read_offset_index,
    )

    cc = {4: 0, 5: len(buf), 6: 0, 7: len(buf), 3: {1: ptype}}
    for fn in (read_offset_index, read_column_index):
        try:
            fn(buf, cc)
        except (ValueError, KeyError, IndexError, TypeError):
            pass


@settings(max_examples=100, deadline=4000)
@given(st.lists(st.binary(min_size=0, max_size=80), min_size=0, max_size=40),
       st.integers(0, 2**31 - 1))
def test_property_xxh64_vectorized_matches_scalar(vals, seed):
    import numpy as np

    from parquet_go_spark.kernels.xxhash64 import xxh64, xxh64_column

    lens = np.array([len(v) for v in vals], dtype=np.int64)
    data = np.frombuffer(b"".join(vals), dtype=np.uint8)
    hv = xxh64_column(lens, data, seed=seed)
    assert [int(h) for h in hv] == [xxh64(v, seed) for v in vals]
