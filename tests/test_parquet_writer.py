"""Write-side golden interop (reference ``compatibility/run_tests.bash``
analogue): Parquet files assembled from this engine's kernels must read
back bit-identically in pyarrow and DuckDB."""

from __future__ import annotations

import io

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.compat.parquet_writer import write_parquet

RNG = np.random.default_rng(5)
N = 3000
TBL = pa.table(
    {
        "i32": pa.array(RNG.integers(-(2**31), 2**31, N).astype(np.int32), type=pa.int32()),
        "i64": pa.array(RNG.integers(-(2**62), 2**62, N), type=pa.int64()),
        "f64": pa.array(RNG.standard_normal(N), type=pa.float64()),
        "s": pa.array([None if i % 9 == 0 else f"sv-{i % 50}-{i}" for i in range(N)], type=pa.string()),
        "low": pa.array([f"v{i % 5}" for i in range(N)], type=pa.string()),
        "b": pa.array((RNG.integers(0, 2, N) == 1).tolist(), type=pa.bool_()),
    }
)


def _readback_equal(buf: bytes, t: pa.Table) -> bool:
    got = pq.read_table(io.BytesIO(buf))
    return all(
        got.column(c).cast(t.column(c).type).combine_chunks().equals(t.column(c).combine_chunks())
        for c in t.column_names
    )


@pytest.mark.parametrize("comp", ["none", "snappy", "zstd", "gzip"])
def test_pyarrow_readback(comp):
    assert _readback_equal(write_parquet(TBL, compression=comp), TBL)


def test_forced_delta_encodings_readback():
    buf = write_parquet(
        TBL,
        encodings={"i32": "delta_bp", "i64": "delta_bp", "s": "delta_bytes", "low": "delta_length"},
    )
    assert _readback_equal(buf, TBL)
    # the footer must advertise those encodings
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    encs = {md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i).encodings for i in range(md.num_columns)}
    assert "DELTA_BINARY_PACKED" in encs["i32"]
    assert "DELTA_BYTE_ARRAY" in encs["s"]


def test_multi_page_readback():
    assert _readback_equal(write_parquet(TBL, max_page=4096), TBL)


def test_duckdb_readback(tmp_path):
    p = str(tmp_path / "ours.parquet")
    with open(p, "wb") as f:
        f.write(write_parquet(TBL, compression="snappy"))
    con = duckdb.connect()
    n, d_low, s_nulls = con.sql(
        f"SELECT count(*), count(DISTINCT low), count(*) - count(s) FROM '{p}'"
    ).fetchone()
    assert (n, d_low, s_nulls) == (N, 5, sum(1 for i in range(N) if i % 9 == 0))
    vals = con.sql(f"SELECT s FROM '{p}' ORDER BY i64 LIMIT 5").fetchall()
    order = np.argsort(TBL.column("i64").to_numpy())
    want = [(TBL.column("s")[int(i)].as_py(),) for i in order[:5]]
    assert vals == want


def test_empty_and_all_null():
    t = pa.table(
        {
            "x": pa.array([None] * 100, type=pa.int64()),
            "y": pa.array([None] * 100, type=pa.string()),
        }
    )
    assert _readback_equal(write_parquet(t), t)
    t0 = pa.table({"x": pa.array([], type=pa.int64())})
    assert _readback_equal(write_parquet(t0), t0)


def test_multi_row_group():
    # WithMaxRowGroupSize analogue (file_writer.go:114-118): 1200 rows at
    # 500/group -> 3 groups, content identical
    t = pa.table(
        {
            "a": pa.array([5, None, -3, 17] * 300, type=pa.int64()),
            "s": pa.array(["zeta", "alpha", None, "mid"] * 300),
        }
    )
    buf = write_parquet(t, max_row_group=500)
    f = pq.ParquetFile(io.BytesIO(buf))
    assert f.num_row_groups == 3
    assert [f.metadata.row_group(i).num_rows for i in range(3)] == [500, 500, 200]
    assert _readback_equal(buf, t)


def test_footer_statistics_readback():
    # chunk_writer.go:283-314 / stats.go parity: min/max/null/distinct in
    # ColumnMetaData, trusted by pyarrow (ColumnOrder declared) and DuckDB
    t = pa.table(
        {
            "a": pa.array([5, None, -3, 17] * 300, type=pa.int64()),
            "s": pa.array(["zeta", "alpha", None, "mid"] * 300),
            "f": pa.array([1.5, -2.5, 0.0, None] * 300, type=pa.float64()),
        }
    )
    buf = write_parquet(t, max_row_group=500)
    f = pq.ParquetFile(io.BytesIO(buf))
    for rg in range(f.num_row_groups):
        st = f.metadata.row_group(rg).column(0).statistics
        assert st.has_min_max and (st.min, st.max) == (-3, 17)
        assert st.null_count == st.num_values / 3  # every 4th row null
        assert st.distinct_count == 3
        ss = f.metadata.row_group(rg).column(1).statistics
        assert (ss.min, ss.max) == ("alpha", "zeta")
        sf = f.metadata.row_group(rg).column(2).statistics
        assert (sf.min, sf.max) == (-2.5, 1.5)


def test_footer_statistics_duckdb(tmp_path):
    t = pa.table({"a": pa.array([7, 1, None, 9], type=pa.int64())})
    p = str(tmp_path / "stats.parquet")
    with open(p, "wb") as f:
        f.write(write_parquet(t))
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT stats_min_value, stats_max_value, stats_null_count"
        f" FROM parquet_metadata('{p}')"
    ).fetchall()
    assert rows == [("1", "9", 1)]


def test_v2_pages_and_page_crc():
    # V2 data pages (levels outside the compressed region, page_v2.go) and
    # per-page CRC (WithCRC): pyarrow reads both, verifies checksums, and
    # flags corruption anywhere in the file
    t = pa.table({"a": pa.array([f"value-{i % 50}" for i in range(5000)])})
    for pv in (1, 2):
        for comp in ("none", "snappy"):
            buf = write_parquet(t, compression=comp, page_version=pv, crc=True)
            back = pq.read_table(io.BytesIO(buf), page_checksum_verification=True)
            assert back.column("a").to_pylist() == t.column("a").to_pylist()
        clean = write_parquet(t, page_version=pv, crc=True)
        for spot in (60, len(clean) // 2, len(clean) - 300):
            bad = bytearray(clean)
            bad[spot] ^= 0xFF
            with pytest.raises(Exception):
                pq.read_table(io.BytesIO(bytes(bad)), page_checksum_verification=True)


def test_each_chunk_factorizes_once(monkeypatch):
    # the dictionary choice's factorization is the one the chunk writes:
    # one factorize per non-bool chunk (flat and nested), none for bool
    from parquet_go_spark.compat import parquet_writer as pw

    calls = []
    orig = pw._factorize

    def counted(col):
        calls.append(col.ptype)
        return orig(col)

    monkeypatch.setattr(pw, "_factorize", counted)
    nested = TBL.append_column("lst", pa.array([[i % 7, i % 3] for i in range(N)], pa.list_(pa.int32())))
    buf = write_parquet(nested, compression="snappy")
    assert sorted(calls) == sorted(["int32", "int64", "double", "bytes", "bytes", "int32"])
    assert pq.read_table(io.BytesIO(buf)).equals(nested)
    calls.clear()
    write_parquet(TBL, encodings={"low": "rle_dict", "i32": "plain"})
    assert calls.count("bytes") == 2 and "int32" not in calls
