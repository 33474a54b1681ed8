"""Golden interop tests (reference ``parquet_test.go`` analogue): files
written by pyarrow's C++ Parquet writer decode bit-identically through
this engine's kernels via the compat reader."""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.compat.parquet_reader import read_column


def _write(table, **kw) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, **kw)
    return buf.getvalue()


def _col(table, name):
    return table.column(name).combine_chunks()


RNG = np.random.default_rng(11)
N = 5000
TBL = pa.table(
    {
        "i32": pa.array(RNG.integers(-(2**31), 2**31, N, dtype=np.int64).astype(np.int32), type=pa.int32()),
        "i64": pa.array(RNG.integers(-(2**62), 2**62, N), type=pa.int64()),
        "f64": pa.array(RNG.standard_normal(N), type=pa.float64()),
        "s": pa.array([f"prefix-{i % 97}-{i}" for i in range(N)], type=pa.string()),
        "lowcard": pa.array([f"val{i % 7}" for i in range(N)], type=pa.string()),
    }
)


def _check_fixed(buf, name, arr):
    validity, vals = read_column(buf, name)
    assert validity.all()
    got = vals
    want = arr.to_numpy(zero_copy_only=False)
    if got.dtype != want.dtype:
        got = got.view(want.dtype) if got.dtype.itemsize == want.dtype.itemsize else got
    assert np.array_equal(got, want), name


def _check_bytes(buf, name, arr):
    validity, (lens, data) = read_column(buf, name)
    assert validity.all()
    joined = b"".join(v.as_py().encode() for v in arr)
    assert bytes(data.tobytes()) == joined
    assert lens.tolist() == [len(v.as_py().encode()) for v in arr]


@pytest.mark.parametrize("version", ["1.0", "2.4"])
@pytest.mark.parametrize("compression", ["NONE", "SNAPPY", "ZSTD"])
def test_dictionary_pages(version, compression):
    buf = _write(TBL, use_dictionary=True, compression=compression, data_page_version="1.0", version=version)
    _check_bytes(buf, "lowcard", _col(TBL, "lowcard"))
    _check_fixed(buf, "i32", _col(TBL, "i32"))
    _check_fixed(buf, "f64", _col(TBL, "f64"))


def test_plain_pages():
    buf = _write(TBL, use_dictionary=False, compression="NONE", data_page_version="1.0")
    for c in ("i32", "i64", "f64"):
        _check_fixed(buf, c, _col(TBL, c))
    _check_bytes(buf, "s", _col(TBL, "s"))


def test_delta_binary_packed():
    buf = _write(
        TBL,
        use_dictionary=False,
        compression="NONE",
        column_encoding={"i32": "DELTA_BINARY_PACKED", "i64": "DELTA_BINARY_PACKED"},
    )
    _check_fixed(buf, "i32", _col(TBL, "i32"))
    _check_fixed(buf, "i64", _col(TBL, "i64"))


def test_delta_byte_array_encodings():
    buf = _write(
        TBL,
        use_dictionary=False,
        compression="NONE",
        column_encoding={"s": "DELTA_BYTE_ARRAY", "lowcard": "DELTA_LENGTH_BYTE_ARRAY"},
    )
    _check_bytes(buf, "s", _col(TBL, "s"))
    _check_bytes(buf, "lowcard", _col(TBL, "lowcard"))


def test_data_page_v2():
    buf = _write(TBL, use_dictionary=True, compression="SNAPPY", data_page_version="2.0")
    _check_bytes(buf, "lowcard", _col(TBL, "lowcard"))
    _check_fixed(buf, "i64", _col(TBL, "i64"))


def test_nulls_roundtrip():
    arr = pa.array([None if i % 5 == 0 else i for i in range(1000)], type=pa.int64())
    t = pa.table({"x": arr})
    buf = _write(t, use_dictionary=False, compression="NONE")
    validity, vals = read_column(buf, "x")
    assert validity.tolist() == [i % 5 != 0 for i in range(1000)]
    assert vals.tolist() == [i for i in range(1000) if i % 5 != 0]


@pytest.mark.parametrize("compression", ["NONE", "SNAPPY"])
def test_byte_stream_split_pages(compression):
    """pyarrow BYTE_STREAM_SPLIT pages (float/double + the 2.11 int
    extension) decode through our kernels."""
    cols = ["f64", "i32", "i64"]
    tbl = pa.table(
        {
            "f64": TBL.column("f64"),
            "i32": TBL.column("i32"),
            "i64": TBL.column("i64"),
            "f32": pa.array(RNG.standard_normal(N).astype(np.float32), type=pa.float32()),
        }
    )
    buf = _write(
        tbl,
        version="2.6",
        use_dictionary=False,
        compression=compression,
        column_encoding={c: "BYTE_STREAM_SPLIT" for c in cols + ["f32"]},
    )
    for c in cols + ["f32"]:
        _check_fixed(buf, c, _col(tbl, c))


def test_byte_stream_split_flba():
    fixed = pa.array([bytes([i % 251, (i * 7) % 251, i % 13]) for i in range(N)],
                     type=pa.binary(3))
    tbl = pa.table({"fx": fixed})
    buf = _write(
        tbl, version="2.6", use_dictionary=False,
        column_encoding={"fx": "BYTE_STREAM_SPLIT"},
    )
    validity, (lens, data) = read_column(buf, "fx")
    assert validity.all()
    assert lens.tolist() == [3] * N
    assert bytes(data.tobytes()) == b"".join(v.as_py() for v in fixed)


@pytest.mark.parametrize("version", ["1.0", "2.0"])
@pytest.mark.parametrize("use_dictionary", [True, False])
def test_required_flat_columns(version, use_dictionary):
    """A REQUIRED flat column has no def-level stream (max_def = 0); V1
    pages are pyarrow's default and used to fail as a misread level
    stream."""
    tbl = pa.table(
        {"i": pa.array(RNG.integers(0, 50, N)), "s": pa.array([f"v{i % 13}" for i in range(N)])},
        schema=pa.schema([pa.field("i", pa.int64(), nullable=False), pa.field("s", pa.string(), nullable=False)]),
    )
    buf = _write(tbl, data_page_version=version, use_dictionary=use_dictionary)
    _check_fixed(buf, "i", _col(tbl, "i"))
    _check_bytes(buf, "s", _col(tbl, "s"))


def _one_page_file(table, column: str, encoding: str):
    from parquet_go_spark.compat.parquet_reader import file_meta
    from parquet_go_spark.compat.parquet_writer import write_parquet

    buf = write_parquet(table, encodings={column: encoding})
    return bytearray(buf), file_meta(buf)[4][0][1][0][3]


def test_forged_pages_raise_value_error():
    """Forged Parquet pages surface as ValueError, never a kernel's
    IndexError, Arrow's 'Negative offsets' or a header KeyError."""
    from parquet_go_spark.compat.parquet_reader import read_table_arrow
    from parquet_go_spark.kernels import bytearrays, dictenc

    n = 64
    # a dictionary index past the end of a one-entry dictionary
    buf, _ = _one_page_file(pa.table({"s": pa.array(["a"] * n)}), "s", "rle_dict")
    good = dictenc.encode_indices(np.zeros(n, np.uint64), 1, mode="auto")
    bad = dictenc.encode_indices(np.ones(n, np.uint64), 1, mode="auto")
    assert len(good) == len(bad) and buf.count(good) == 1
    with pytest.raises(ValueError):
        read_table_arrow(bytes(buf.replace(good, bad)))
    # a negative DELTA_LENGTH_BYTE_ARRAY length (the lengths still sum right)
    buf, _ = _one_page_file(pa.table({"s": pa.array(["abc", "def"])}), "s", "delta_length")
    good = bytearrays.encode_delta_length(np.array([3, 3]), np.frombuffer(b"abcdef", np.uint8))
    bad = bytearrays.encode_delta_length(np.array([-1, 7]), np.frombuffer(b"abcdef", np.uint8))
    assert len(good) == len(bad) and buf.count(good) == 1
    with pytest.raises(ValueError):
        read_table_arrow(bytes(buf.replace(good, bad)))
    # a V1 page header whose data_page_header (field 5) reads as field 6
    buf, cmeta = _one_page_file(pa.table({"i": pa.array(range(n))}), "i", "plain")
    pos = cmeta[9]
    for _ in range(3):  # fields 1-3: i32 header byte, zigzag varint
        pos += 1
        while buf[pos] & 0x80:
            pos += 1
        pos += 1
    assert buf[pos] == 0x2C  # field delta 2, type struct
    buf[pos] = 0x3C
    with pytest.raises(ValueError):
        read_table_arrow(bytes(buf))


def test_read_table_parses_the_footer_once(monkeypatch):
    from parquet_go_spark.compat import parquet_reader

    tbl = pa.table({
        "a": pa.array(range(10)),
        "l": pa.array([[i, i] for i in range(10)]),
        "st": pa.array([{"x": i, "y": str(i)} for i in range(10)]),
    })
    buf = _write(tbl)
    calls = []
    real = parquet_reader.file_meta
    monkeypatch.setattr(parquet_reader, "file_meta", lambda b: calls.append(1) or real(b))
    trees = []
    real_tree = parquet_reader.schema_tree
    monkeypatch.setattr(parquet_reader, "schema_tree", lambda m: trees.append(1) or real_tree(m))
    assert parquet_reader.read_table_arrow(buf).equals(tbl)
    assert len(calls) == 1 and len(trees) == 1


def test_pruned_row_group_read_parses_the_footer_once(monkeypatch, tmp_path):
    """A pruned ``read_row_group`` parses the footer once and hands it to
    both the page-index prune and the decode."""
    from parquet_go_spark.compat import parquet_reader
    from parquet_go_spark.spark import parquet_source

    path = str(tmp_path / "f.parquet")
    tbl = pa.table({"a": pa.array(range(4000)), "s": pa.array([str(i) for i in range(4000)])})
    pq.write_table(tbl, path, write_page_index=True, data_page_size=1024)
    schema = parquet_source.parquet_scan_schema(path)
    calls = []
    real = parquet_reader.file_meta
    counted = lambda b: calls.append(1) or real(b)  # noqa: E731
    monkeypatch.setattr(parquet_reader, "file_meta", counted)
    monkeypatch.setattr(parquet_source, "file_meta", counted)
    got = parquet_source.read_row_group(path, 0, schema, [("a", ">=", 3990)])
    assert len(calls) == 1
    assert 3990 in got.column("a").to_pylist() and got.num_rows < 4000
