"""INT96 shim (type_int96.go / int96_time.go parity) and chunk min/max
stats (stats.go parity) tests."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.core.chunk import column_minmax, encode_chunk
from parquet_go_spark.core.columns import from_arrow
from parquet_go_spark.kernels import int96


def test_int96_roundtrip():
    rng = np.random.default_rng(3)
    micros = rng.integers(-(2**54), 2**54, size=10_000).astype(np.int64)
    micros = np.concatenate([micros, [0, 1, -1, 86400_000_000, -86400_000_000]])
    enc = int96.encode_plain(micros)
    assert len(enc) == len(micros) * 12
    dec, pos = int96.decode_plain(enc, len(micros))
    assert pos == len(enc)
    assert np.array_equal(dec, micros)


def test_int96_epoch_layout():
    # 1970-01-01 00:00:00 -> julian day 2440588, nanos 0 (int96_time.go:17)
    enc = int96.encode_plain(np.array([0], dtype=np.int64))
    assert enc[:8] == b"\x00" * 8
    assert int.from_bytes(enc[8:], "little") == 2440588


def test_minmax_fixed():
    col = from_arrow(pa.array([5, None, -3, 17, 0], type=pa.int64()))
    assert column_minmax(col) == (-3, 17)
    col = from_arrow(pa.array([2.5, float("nan"), -1.0], type=pa.float64()))
    mn, mx = column_minmax(col)
    assert np.isnan(mn) or mn == -1.0  # NaN propagation matches numpy min


def test_minmax_bytes_ties_and_prefixes():
    vals = [b"abc", b"ab", b"abcdefghXY", b"abcdefghAA", b"zz", None, b""]
    col = from_arrow(pa.array(vals, type=pa.binary()))
    mn, mx = column_minmax(col)
    assert mn == b""
    assert mx == b"zz"
    vals2 = [b"prefix__________tail_b", b"prefix__________tail_a"]
    mn2, mx2 = column_minmax(from_arrow(pa.array(vals2, type=pa.binary())))
    assert (mn2, mx2) == (vals2[1], vals2[0])


def test_minmax_bytes_huge_tie_set():
    # >4096 values sharing an 8-byte prefix (the url case): min/max must
    # still be exact — the old first-4096-candidates cap silently dropped
    # the true extremes when they sorted past the cap.
    n = 6000
    vals = [b"https://site-%05d.example/x" % i for i in range(n)]
    vals[-1] = b"https://aaaaa"  # true min, last by position
    vals[-2] = b"https://zzzzz"  # true max, second-to-last
    col = from_arrow(pa.array(vals, type=pa.binary()))
    assert column_minmax(col) == (b"https://aaaaa", b"https://zzzzz")


def test_minmax_bytes_prefix_length_ties():
    # byte-equal up to shorter length: shorter is the min, longer the max
    vals = [b"x" * 40, b"x" * 39, b"x" * 41, b"x" * 40]
    col = from_arrow(pa.array(vals, type=pa.binary()))
    assert column_minmax(col) == (b"x" * 39, b"x" * 41)
    # genuine zero bytes vs exhausted values
    vals2 = [b"abcdefgh", b"abcdefgh\x00\x00", b"abcdefgh\x00\x01"]
    assert column_minmax(from_arrow(pa.array(vals2, type=pa.binary()))) == (
        b"abcdefgh",
        b"abcdefgh\x00\x01",
    )


def test_meta_bounds_prune_safe():
    # long strings: min truncated (lower bound), max truncate-and-increment
    # (upper bound); non-UTF8 -> None (pruning disabled)
    long_lo = "a" * 100
    long_hi = "b" * 100
    col = from_arrow(pa.array([long_lo, long_hi], type=pa.string()))
    _, meta = encode_chunk(col)
    d = meta.as_dict()
    assert d["min_str"] == "a" * 64
    assert d["min_str"] <= long_lo
    assert d["max_str"] == "b" * 63 + "c"
    assert d["max_str"] > long_hi  # a true upper bound despite truncation
    bad = from_arrow(pa.array([b"\xff\xfe" * 40], type=pa.binary()))
    _, meta2 = encode_chunk(bad)
    d2 = meta2.as_dict()
    assert d2["min_str"] is None and d2["max_str"] is None


def test_minmax_all_null():
    col = from_arrow(pa.array([None, None], type=pa.string()))
    assert column_minmax(col) == (None, None)


def test_meta_carries_minmax():
    col = from_arrow(pa.array(["m", "a", "z", None], type=pa.string()))
    _, meta = encode_chunk(col)
    d = meta.as_dict()
    assert d["min_str"] == "a" and d["max_str"] == "z"


def test_minmax_bytes_deep_ties_return_prune_safe_bounds():
    # boilerplate column: thousands of multi-KB values sharing a long
    # prefix. Past the exactness cap the result degrades to bounds:
    # min <= every value, max >= every value, and the 64-char manifest
    # strings match what the exact computation would store.
    base = b"<div class='content'>" + b"lorem ipsum " * 60  # ~740 shared bytes
    vals = [base + (b"tail-%04d" % (i % 7)) + b"y" * (i % 50) for i in range(3000)]
    col = from_arrow(pa.array(vals, type=pa.binary()))
    mn, mx = column_minmax(col)
    assert mn <= min(vals) and mx >= max(vals)
    from parquet_go_spark.core.chunk import ChunkMeta

    meta = ChunkMeta("bytes", "plain", "none", 1, 0, 1, 1, 1, 1, 0, mn, mx)
    d = meta.as_dict()
    exact_min, exact_max = min(vals).decode(), max(vals).decode()
    assert d["min_str"] == exact_min[:64]
    inc = exact_max[:64]
    assert d["max_str"] is not None and d["max_str"] > inc[:63]


def test_minmax_multibyte_split_at_cap_stays_prune_safe():
    # a 2-byte UTF-8 char straddling the truncation cap: the stored
    # bounds must decode the clean head and stay conservative
    base = ("é" * 200).encode()  # 400 bytes of 2-byte chars
    vals = [base + b"a" * i for i in range(1200)]
    col = from_arrow(pa.array(vals, type=pa.binary()))
    mn, mx = column_minmax(col)
    assert mn <= min(vals) and mx >= max(vals)
    from parquet_go_spark.core.chunk import ChunkMeta

    d = ChunkMeta("bytes", "plain", "none", 1, 0, 1, 1, 1, 1, 0, mn, mx).as_dict()
    # bounds either disabled (None) or valid as strings
    if d["min_str"] is not None:
        assert d["min_str"] <= min(vals).decode()
    if d["max_str"] is not None:
        assert d["max_str"] >= max(vals).decode()[:64]


def test_int96_write_shim_reads_back_in_three_engines(spark, tmp_path):
    """VERDICT r2 #9: the write-side INT96 inverse (int96_time.go:17-50)
    behind write_parquet(int96_columns=...). pyarrow, Spark's JVM
    reader, and this engine's own kernel scan must all read the
    timestamps back identically."""
    import io

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_go_spark.compat.parquet_writer import write_parquet

    n = 5000
    rng = np.random.default_rng(9)
    micros = rng.integers(0, 2_000_000_000_000_000, n)  # ~2033
    micros[::97] = 0
    ts = pa.array(pd.to_datetime(micros, unit="us"), type=pa.timestamp("us"))
    t = pa.table({"k": pa.array(np.arange(n), type=pa.int64()), "ts": ts})
    buf = write_parquet(t, compression="snappy", int96_columns=["ts"], max_page=8192)

    # footer: physical INT96, PLAIN only
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    cmeta = md.row_group(0).column(1)
    assert cmeta.physical_type == "INT96"
    assert "PLAIN" in cmeta.encodings and "PLAIN_DICTIONARY" not in cmeta.encodings

    # pyarrow read-back (INT96 surfaces as timestamp[ns])
    got = pq.read_table(io.BytesIO(buf))
    assert got.column("ts").cast(pa.timestamp("us")).combine_chunks().equals(
        t.column("ts").combine_chunks()
    )

    # Spark JVM read-back
    p = tmp_path / "i96.parquet"
    p.write_bytes(buf)
    sp = spark.read.parquet(str(p)).orderBy("k").toPandas()
    want = t.to_pandas().sort_values("k").reset_index(drop=True)
    assert (sp["ts"].to_numpy("datetime64[us]") == want["ts"].to_numpy("datetime64[us]")).all()

    # our own kernel reader
    from parquet_go_spark.compat.parquet_reader import file_meta, read_column_arrow

    ours = read_column_arrow(buf, "ts")
    assert ours.cast(pa.timestamp("us")).to_pylist() == t.column("ts").to_pylist()


def test_int96_write_rejects_non_timestamp_and_nested(tmp_path):
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.compat.parquet_writer import write_parquet

    t = pa.table({"i": pa.array(np.arange(5), type=pa.int64())})
    with pytest.raises(ValueError, match="timestamp"):
        write_parquet(t, int96_columns=["i"])
    with pytest.raises(ValueError, match="flat"):
        write_parquet(t, int96_columns=["nope"])


def test_bytes_minmax_arrow_path_matches_numpy_fallback():
    """Bytes min/max is Arrow C++ ``min_max`` over a zero-copy view, the
    only path. It must equal Python's exact lexicographic min/max on
    tie-heavy shapes: shared url prefixes, values that prefix each other,
    empty and 0xFF values, and ties deeper than 280 bytes."""
    import parquet_go_spark.core.chunk as C

    cases = [
        [b"https://site%d.example/%d" % (i % 7, i) for i in range(3000)],
        [b"x" * 40, b"x" * 39, b"x" * 41],
        [b"", b"\x00", b"\xff" * 5, b"a"],
        [(b"shared-prefix-" * 40) + bytes([i % 3]) for i in range(500)],
    ]
    for vals in cases:
        col = from_arrow(pa.array(vals, type=pa.binary()))
        got = C.column_minmax(col)
        assert got == (min(vals), max(vals))
