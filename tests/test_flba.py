"""FIXED_LEN_BYTE_ARRAY chunk ptype: decimal and fixed-size-binary
carriers (reference ``type_bytearray.go:328-333``, ``data_store.go:
339-344``; DECIMAL minimal-width big-endian two's complement per the
parquet-format spec)."""

from __future__ import annotations

from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.core.chunk import column_minmax, decode_chunk, encode_chunk
from parquet_go_spark.core.columns import ColumnData, decimal_width, from_arrow, logical_of, to_arrow


def _rt(arr: pa.Array, **kw) -> tuple[pa.Array, object]:
    cd = from_arrow(arr)
    blob, meta = encode_chunk(cd, **kw)
    out = to_arrow(decode_chunk(blob, logical=logical_of(cd)))
    return out, meta


DEC = pa.array(
    [Decimal("123.45"), None, Decimal("-99.01"), Decimal("0.00"), Decimal("9999999999.99")],
    type=pa.decimal128(12, 2),
)


def test_decimal_width_matches_parquet_convention():
    # parquet-format: precision -> minimal FLBA bytes
    assert [decimal_width(p) for p in (1, 2, 3, 4, 9, 10, 18, 19, 38)] == [
        1, 1, 2, 2, 4, 5, 8, 9, 16,
    ]


@pytest.mark.parametrize("enc", [None, "plain", "rle_dict", "bss", "delta_bytes"])
def test_decimal_roundtrip_encodings(enc):
    kw = {"encoding": enc} if enc else {}
    out, _ = _rt(DEC, **kw)
    assert out.equals(DEC)


@pytest.mark.parametrize("profile", ["auto", "reference"])
@pytest.mark.parametrize("compression", ["none", "zlib", "zstd"])
def test_decimal_roundtrip_profiles(profile, compression):
    out, _ = _rt(DEC, profile=profile, compression=compression)
    assert out.equals(DEC)


def test_wide_decimal_w16():
    a = pa.array(
        [Decimal("123456789012345678901234.5678"), None, Decimal("-1.0000")],
        type=pa.decimal128(28, 4),
    )
    out, meta = _rt(a)
    assert out.equals(a)
    # w > 8: two-limb signed compare yields exact stats
    assert meta.min_value == Decimal("-1.0000")
    assert meta.max_value == Decimal("123456789012345678901234.5678")


@pytest.mark.parametrize("width", [9, 12, 16])
def test_wide_flba_minmax_matches_bigendian_signed(width):
    # randomized cross-check against int.from_bytes(..., signed=True):
    # the two-limb vectorized compare must order exactly like the full
    # big-endian two's-complement integer, sign included
    rng = np.random.default_rng(width)
    raw = rng.integers(0, 256, size=(1500, width), dtype=np.uint8)
    raw[:40, 0] |= 0x80  # guarantee negatives
    vals = [int.from_bytes(bytes(r), "big", signed=True) for r in raw]
    cd = ColumnData(
        "flba",
        np.ones(len(vals), bool),
        data=raw.reshape(-1).copy(),
        type_length=width,
    )
    mn, mx = column_minmax(cd)
    assert (mn, mx) == (min(vals), max(vals))


def test_decimal_minmax_signed():
    cd = from_arrow(DEC)
    mn, mx = column_minmax(cd)
    assert (mn, mx) == (Decimal("-99.01"), Decimal("9999999999.99"))
    d = encode_chunk(cd)[1].as_dict()
    assert d["min_str"] == "-99.01" and d["max_str"] == "9999999999.99"


def test_decimal_randomized_and_multipage():
    rng = np.random.default_rng(3)
    vals = [Decimal(int(x)).scaleb(-3) for x in rng.integers(-(10**11), 10**11, 5000)]
    vals[7] = None
    a = pa.array(vals, type=pa.decimal128(15, 3))
    out, meta = _rt(a, max_page=4096)
    assert out.equals(a)
    assert meta.num_pages > 1
    assert meta.ptype == "flba"


def test_fixed_size_binary_roundtrip():
    a = pa.array([b"abcd", None, b"zzzz", b"\x00\x01\x02\x03"], type=pa.binary(4))
    out, _ = _rt(a)
    assert out.equals(a)


def test_decimal_all_null_and_empty():
    for a in (pa.array([None, None], type=pa.decimal128(5, 1)), pa.array([], type=pa.decimal128(5, 1))):
        out, _ = _rt(a)
        assert out.equals(a)


def test_decimal_in_list_and_struct():
    la = pa.array([[Decimal("1.5")], None, []], type=pa.list_(pa.decimal128(6, 1)))
    out, _ = _rt(la)
    assert out.equals(la)
    sa = pa.array(
        [{"d": Decimal("2.50")}, None], type=pa.struct([("d", pa.decimal128(8, 2))])
    )
    out2, _ = _rt(sa)
    assert out2.equals(sa)
