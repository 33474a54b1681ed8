"""Chunk-layer tests: round-trips over every type/encoding, the reference
dict decision (32,767 boundary, all-null dict path, boolean never dict),
page cutting, and FIXTURES.md §F2 edge cases."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.core import chunk as chunk_mod
from parquet_go_spark.core import from_arrow, to_arrow
from parquet_go_spark.core.chunk import decode_chunk, encode_chunk

RNG = np.random.default_rng(11)


def roundtrip(arr: pa.Array, **kw):
    col = from_arrow(arr)
    blob, meta = encode_chunk(col, **kw)
    out = decode_chunk(blob, logical=col.logical)
    back = to_arrow(out)
    assert back.cast(arr.type).equals(arr), f"mismatch (meta={meta.as_dict()})"
    return meta


@pytest.mark.parametrize("profile", ["reference", "auto"])
@pytest.mark.parametrize("compression", ["none", "zlib"])
def test_roundtrip_all_types(profile, compression):
    n = 5000
    arrays = [
        pa.array(RNG.integers(-(2**31), 2**31, n), type=pa.int32()),
        pa.array(RNG.integers(-(2**62), 2**62, n), type=pa.int64()),
        pa.array(RNG.normal(size=n).astype(np.float32)),
        pa.array(RNG.normal(size=n)),
        pa.array(RNG.integers(0, 2, n).astype(bool)),
        pa.array([f"s{i % 97}" for i in range(n)]),
        pa.array([bytes([i % 251]) * (i % 37) for i in range(n)], type=pa.binary()),
    ]
    for arr in arrays:
        # add some nulls
        mask = RNG.integers(0, 20, n) == 0
        arr = pa.array(arr.to_pylist(), type=arr.type, mask=mask)
        roundtrip(arr, profile=profile, compression=compression)


def test_reference_dict_decision_boundary():
    # exactly 32767 distinct -> dict; 32768 -> fallback (chunk_writer.go:188-206)
    vals = np.arange(32767, dtype=np.int64)
    meta = roundtrip(pa.array(np.concatenate([vals, vals])), profile="reference")
    assert meta.encoding == "rle_dict" and meta.distinct == 32767
    vals = np.arange(32768, dtype=np.int64)
    meta = roundtrip(pa.array(np.concatenate([vals, vals])), profile="reference")
    assert meta.encoding == "plain"


def test_boolean_never_dict():
    arr = pa.array([True] * 1000)
    meta = roundtrip(arr, profile="reference")
    assert meta.encoding == "plain"
    meta = roundtrip(arr, profile="auto")
    assert meta.encoding in ("plain", "rle_bool")


def test_all_null_chunk_keeps_dict_path():
    # TestWriteEmptyDict (readwrite_test.go:534-569): 1000 nulls, empty dict
    arr = pa.array([None] * 1000, type=pa.string())
    for profile in ("reference", "auto"):
        meta = roundtrip(arr, profile=profile)
        assert meta.encoding == "rle_dict" and meta.distinct == 0
        assert meta.null_count == 1000


def test_empty_chunk():
    arr = pa.array([], type=pa.int64())
    meta = roundtrip(arr, profile="auto")
    assert meta.num_rows == 0


def test_single_value_chunk():
    # single-value delta stream fix (CHANGELOG v0.8.0)
    arr = pa.array([42], type=pa.int64())
    for profile in ("reference", "auto"):
        roundtrip(arr, profile=profile)


def test_const_column_degenerate_runs():
    arr = pa.array([7] * 10000, type=pa.int32())
    meta = roundtrip(arr, profile="auto")
    # one distinct value -> dict with bw=1 indices or delta; must be tiny
    assert meta.encoded_bytes < 500


@pytest.mark.parametrize("compression", ["none", "zlib", "snappy", "zstd", "lz4"])
@pytest.mark.parametrize("encoding", ["plain", "bss"])
def test_constant_column_roundtrips_for_every_codec(compression, encoding):
    """A constant int64 column compresses far past 1024:1 under zstd (200k
    rows -> ~140 bytes); the page bound comes from the one raw-page
    governor, so every page the writer emits reads back."""
    roundtrip(pa.array(np.full(200_000, 7, np.int64)), encoding=encoding, compression=compression)


def test_nan_inf_doubles():
    vals = [float("nan"), float("inf"), float("-inf"), 0.0, -0.0, 1e-308] * 100
    arr = pa.array(vals, type=pa.float64())
    col = from_arrow(arr)
    for profile in ("reference", "auto"):
        blob, _ = encode_chunk(col, profile=profile)
        out = decode_chunk(blob, logical=col.logical)
        np.testing.assert_array_equal(
            out.values.view(np.uint64), col.values.view(np.uint64)
        )  # bit-identical incl. NaN payloads


def test_timestamps_pick_delta_bp():
    base = 1_600_000_000_000_000
    ts = base + np.cumsum(RNG.integers(0, 3_600_000_000, 20000))
    arr = pa.array(ts, type=pa.timestamp("us"))
    meta = roundtrip(arr, profile="auto")
    assert meta.encoding == "delta_bp"
    assert meta.encoded_bytes < 0.6 * 8 * len(ts)


def test_low_cardinality_lang_picks_dict():
    langs = RNG.choice(np.array(["en", "de", "fr", "zh", "es"]), size=20000)
    langs = np.sort(langs)  # runny, like partition-clustered lang columns
    arr = pa.array(langs)
    meta = roundtrip(arr, profile="auto")
    assert meta.encoding == "rle_dict"
    # runny low-cardinality: RLE index runs must crush it
    assert meta.encoded_bytes < 3000


def test_sorted_urls_pick_shared_structure_coding():
    # sorted shared-prefix urls: the selector must exploit the shared
    # structure — prefix coding (delta_bytes), symbol tables (fsst), or
    # entropy coding (zdict; its zstd path measures 20x here vs
    # delta_bytes' 13x, so it legitimately wins the sample compare)
    urls = sorted(f"https://site{i % 11}.example.com/path/{i:07d}" for i in range(20000))
    arr = pa.array(urls)
    meta = roundtrip(arr, profile="auto")
    assert meta.encoding in ("delta_bytes", "fsst", "zdict")
    assert meta.encoded_bytes < 0.1 * meta.raw_bytes


def test_multi_page_chunks():
    # force multiple 64KiB pages
    arr = pa.array(RNG.integers(0, 2**60, 60000), type=pa.int64())
    col = from_arrow(arr)
    blob, meta = encode_chunk(col, profile="auto", max_page=1 << 16)
    assert meta.num_pages > 3
    out = decode_chunk(blob, logical=col.logical)
    np.testing.assert_array_equal(out.values, col.values)


def test_every_20th_null_pattern():
    vals = np.arange(5000, dtype=np.int64)
    mask = np.zeros(5000, dtype=bool)
    mask[::20] = True
    arr = pa.array(vals, mask=mask)
    for profile in ("reference", "auto"):
        roundtrip(arr, profile=profile)


def test_size_gate_vs_reference_profile():
    """auto profile must never exceed the reference encoding's bytes
    (BASELINE.md size gate) on representative columns."""
    cols = {
        "lang": pa.array(np.sort(RNG.choice(np.array(["en", "de", "fr"]), 30000))),
        "ts": pa.array(
            1_600_000_000_000_000 + np.cumsum(RNG.integers(0, 3_600_000_000, 30000)),
            type=pa.timestamp("us"),
        ),
        "ints": pa.array(RNG.integers(0, 1000, 30000), type=pa.int64()),
    }
    for name, arr in cols.items():
        col = from_arrow(arr)
        _, ref_meta = encode_chunk(col, profile="reference")
        _, auto_meta = encode_chunk(col, profile="auto")
        assert auto_meta.encoded_bytes <= ref_meta.encoded_bytes, (
            name,
            auto_meta.as_dict(),
            ref_meta.as_dict(),
        )


def test_page_crc_roundtrip_and_corruption():
    """Per-page CRC32 (reference WithCRC, page_v1.go:210-214 /
    chunk_reader.go:173-177): intact pages decode, a flipped byte inside
    one page is caught and localized."""
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
    from parquet_go_spark.core.columns import from_arrow, to_arrow

    rng = np.random.default_rng(11)
    arr = pa.array(rng.integers(0, 1 << 40, 20000))
    cd = from_arrow(arr)
    blob, meta = encode_chunk(cd, max_page=8192, page_crc=True)
    assert meta.num_pages > 2
    assert to_arrow(decode_chunk(blob, logical=cd.logical)).equals(arr)
    # flip one byte in the middle of the last page's data region
    bad = bytearray(blob)
    bad[-10] ^= 0xFF
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CRC mismatch"):
        decode_chunk(bytes(bad), logical=cd.logical)
    # without page_crc the same chunk layout has no CRC fields
    blob2, _ = encode_chunk(cd, max_page=8192, page_crc=False)
    assert len(blob2) < len(blob)


def test_page_crc_through_encode_table_flag():
    from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
    from parquet_go_spark.core.columns import from_arrow, to_arrow
    import pyarrow as pa

    arr = pa.array(["alpha", None, "beta"] * 200)
    cd = from_arrow(arr)
    for comp in ("none", "zlib"):
        blob, _ = encode_chunk(cd, compression=comp, page_crc=True)
        assert to_arrow(decode_chunk(blob, logical=cd.logical)).equals(arr)
