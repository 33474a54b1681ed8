"""List-column (Dremel rep/def level) chunk tests — SURVEY.md §1.3:
max_rep=1 / max_def=3 single-level lists over every element type, the
level streams' exact values, and edge cases (null list, empty list, null
elements, empty table)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
from parquet_go_spark.core.columns import from_arrow, to_arrow
from parquet_go_spark.kernels import hybrid
from parquet_go_spark.kernels.varint import read_uvarint

CASES = {
    "floats": pa.array([[1.0, 2.5], [], None, [3.25], [None, 4.5, 5.0]], type=pa.list_(pa.float32())),
    "ints": pa.array([list(range(i)) for i in range(20)] + [None, []], type=pa.list_(pa.int64())),
    "strings": pa.array([["ab", "c"], None, [], ["def", None, ""]], type=pa.list_(pa.string())),
    "allnull": pa.array([None, None, None], type=pa.list_(pa.int32())),
    "allempty": pa.array([[], [], []], type=pa.list_(pa.int64())),
    "empty": pa.array([], type=pa.list_(pa.float64())),
    "bools": pa.array([[True], [False, True], None], type=pa.list_(pa.bool_())),
}


@pytest.mark.parametrize("name", sorted(CASES))
@pytest.mark.parametrize("profile", ["auto", "reference"])
def test_list_roundtrip(name, profile):
    arr = CASES[name]
    cd = from_arrow(arr)
    blob, meta = encode_chunk(cd, profile=profile)
    out = to_arrow(decode_chunk(blob, logical=str(arr.type)))
    assert out.cast(arr.type).equals(arr), (name, profile)
    assert meta.num_rows == len(arr)
    assert meta.null_count == arr.null_count


@pytest.mark.parametrize("compression", ["zlib", "snappy"])
def test_list_roundtrip_compressed(compression):
    arr = CASES["strings"]
    cd = from_arrow(arr)
    blob, _ = encode_chunk(cd, compression=compression)
    out = to_arrow(decode_chunk(blob, logical=str(arr.type)))
    assert out.cast(arr.type).equals(arr)


def test_levels_exact():
    # [[a, null], null, [], [b]] ->
    # entries: (r0,d3)(r1,d2) | (r0,d0) | (r0,d1) | (r0,d3)
    arr = pa.array([[1, None], None, [], [2]], type=pa.list_(pa.int64()))
    blob, _ = encode_chunk(from_arrow(arr))
    mv = memoryview(blob)
    pos = 5
    num_rows, pos = read_uvarint(mv, pos)
    null_rows, pos = read_uvarint(mv, pos)
    n_entries, pos = read_uvarint(mv, pos)
    assert (num_rows, null_rows, n_entries) == (4, 1, 5)
    rep_len, pos = read_uvarint(mv, pos)
    rep, _ = hybrid.decode_sized(mv[pos : pos + rep_len], 1, n_entries, 0)
    def_len, pos = read_uvarint(mv, pos + rep_len)
    dlev, _ = hybrid.decode_sized(mv[pos : pos + def_len], 2, n_entries, 0)
    assert np.asarray(rep).tolist() == [0, 1, 0, 0, 0]
    assert np.asarray(dlev).tolist() == [3, 2, 0, 1, 3]
    out = decode_chunk(blob, logical=str(arr.type))
    assert out.is_valid().to_pylist() == [True, False, True, True]
    assert out.value_lengths().fill_null(0).to_pylist() == [2, 0, 0, 1]
    assert out.flatten().is_valid().to_pylist() == [True, False, True]


def test_large_list_roundtrip():
    rng = np.random.default_rng(7)
    data = [rng.standard_normal(64).astype(np.float32).tolist() for _ in range(3000)]
    arr = pa.array(data, type=pa.list_(pa.float32()))
    cd = from_arrow(arr)
    blob, meta = encode_chunk(cd, profile="auto")
    out = to_arrow(decode_chunk(blob, logical=str(arr.type)))
    assert out.cast(arr.type).equals(arr)
    # level streams must be tiny: rep is RLE-friendly, def is constant
    assert meta.encoded_bytes < 3000 * 64 * 4 * 1.05


def test_page_crc_reaches_the_element_chunk():
    """``page_crc`` reaches a list's element chunk: its flags byte has
    bit 2 set, and one flipped byte of an element page fails the decode."""
    arr = pa.array([[1, 2], [3]], type=pa.list_(pa.int64()))
    blob, _ = encode_chunk(from_arrow(arr), page_crc=True)
    inner = blob.index(b"PGSC")
    # magic, version, ptype, encoding, compression, then the flags byte
    assert blob[inner + 8] & 4
    assert decode_chunk(blob, logical="list<int64>").to_pylist() == [[1, 2], [3]]
    bad = bytearray(blob)
    bad[-1] ^= 0xFF  # the last byte of the element chunk's last page
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_chunk(bytes(bad), logical="list<int64>")
