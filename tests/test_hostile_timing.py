"""Hostile-bytes TIMING battery: every entry point that parses
untrusted bytes must reject adversarial inputs FAST — the bloom-header
fuzz found a 6-byte input that parsed for ~38 s before failing, and a
crash-only contract would have called that a pass. Each crafted input
here must finish (raise or return) in under 2 s wall.

Patterns per entry point: giant declared collection sizes, maximal
varints, deep nesting, huge declared lengths/counts, repeated headers.
Deterministic inputs (no hypothesis) so the pins are stable.
"""

from __future__ import annotations

import struct
import time

import pytest


def _fast(fn, *args, budget_s: float = 2.0):
    t = time.time()
    try:
        fn(*args)
    except Exception:
        pass
    wall = time.time() - t
    assert wall < budget_s, f"{fn.__name__} took {wall:.1f}s on hostile input"


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def test_thrift_hostile_battery():
    from parquet_go_spark.compat.thrift_compact import read_struct

    batteries = [
        # giant bool map (the original finding)
        b"+\x90\xee\xf1A!",
        # giant bool list
        bytes([0x19, 0xF1]) + _varint(1 << 40) + b"\x01\x02",
        # giant i64 list
        bytes([0x19, 0xF6]) + _varint(1 << 40) + b"\x02\x02",
        # giant map of i32->i32
        bytes([0x1B]) + _varint(1 << 40) + bytes([0x55]) + b"\x02\x02",
        # deep nesting
        bytes([0x1C]) * 10000,
        # giant binary length (slice clamps, must not allocate 1 TB)
        bytes([0x18]) + _varint(1 << 40) + b"xx",
        # maximal varint field id
        bytes([0x05]) + b"\xff" * 64 + b"\x01",
    ]
    for buf in batteries:
        _fast(read_struct, buf, 0)


def test_partition_file_hostile_battery():
    from parquet_go_spark.spark.encode_job import parse_partition_file

    big = _varint(1 << 50)
    batteries = [
        b"",
        b"PGS1" + _varint(1 << 40),  # giant column count
        b"PGS1" + _varint(3) + _varint(1 << 40) + b"name",  # giant name len
        b"PGS1" + _varint(1) + _varint(4) + b"col_" + big,  # giant blob len
        b"\xff" * 4096,
    ]
    for buf in batteries:
        _fast(parse_partition_file, buf, {"col_"})


def test_chunk_decoder_hostile_battery():
    from parquet_go_spark.core.chunk import chunk_page_index, decode_chunk

    big = _varint(1 << 50)
    batteries = [
        b"PGSC" + b"\x01" * 64,
        b"PGSC\x01\x02\x00\x00" + big + big + big,
        b"PGSC" + b"\xff" * 256,
    ]
    for buf in batteries:
        _fast(decode_chunk, buf)
        _fast(chunk_page_index, buf)


def test_parquet_footer_hostile_battery():
    from parquet_go_spark.compat.parquet_reader import file_meta

    def footer(payload: bytes) -> bytes:
        return b"PAR1" + payload + struct.pack("<I", len(payload)) + b"PAR1"

    batteries = [
        footer(b"+\x90\xee\xf1A!"),                 # bool-map bomb as footer
        footer(bytes([0x1C]) * 5000),               # nesting bomb
        footer(bytes([0x19, 0xF6]) + _varint(1 << 40) + b"\x02"),
        b"PAR1" + b"\x00" * 64 + struct.pack("<I", 1 << 30) + b"PAR1",  # lying length
    ]
    for buf in batteries:
        _fast(file_meta, buf)


def test_media_container_hostile_battery():
    from parquet_go_spark.ops.multimodal import decode_bmp, decode_ppm, decode_wav

    batteries_wav = [
        # RIFF with a giant chunk size (walk must not spin)
        b"RIFF" + struct.pack("<I", 1 << 31) + b"WAVE" + (b"fmt " + struct.pack("<I", 1 << 31)) * 4,
        b"RIFF\xff\xff\xff\xffWAVE" + b"\x00" * 64,
    ]
    for buf in batteries_wav:
        _fast(decode_wav, buf)
    _fast(decode_bmp, b"BM" + struct.pack("<IHHI", 0, 0, 0, 54) + struct.pack("<Iii", 40, 1 << 30, 1 << 30) + b"\x00" * 64)
    _fast(decode_ppm, b"P6\n" + b"9" * 64 + b"\n255\n")


def test_deltabp_hostile_battery():
    """Second fuzz-surfaced slow-parse: an 11-byte header declaring a
    ~68M-value block with one miniblock allocated ~550 MB of unpack
    scratch and ran minutes before an IndexError. Block structure now
    governs at 2^20 values / 4096 miniblocks (the reference writes
    128/4), widths beyond the type bits reject, and truncated miniblock
    data fails at the header walk."""
    from parquet_go_spark.kernels import deltabp

    batteries = [
        b"\x88\x86\xe0 \x01\x03Wl\xac\xc2\xeb",                 # the finding
        _varint(1 << 30) + _varint(1) + _varint(100) + b"\x02" + b"\xff" * 8,
        _varint(128) + _varint(4) + _varint(1 << 40) + b"\x02" + b"\x00" * 16,
        _varint(128) + _varint(4) + _varint(100) + b"\x02\x02" + b"\x63" * 4 + b"\x00" * 8,  # width 99
    ]
    for buf in batteries:
        _fast(deltabp.decode, buf, 0, 32)
        _fast(deltabp.decode, buf, 0, 64)


def _hybrid_calls(stream: bytes, count: int):
    """Every entry point over one width-1 hybrid stream."""
    from parquet_go_spark.kernels import dictenc, hybrid

    return [
        (hybrid.decode, stream, 1, count),
        (lambda b, c: dictenc.decode_indices(b, c)[0], b"\x01" + stream, count),
        (lambda b, c: hybrid.decode_sized(b, 1, c)[0], struct.pack("<I", len(stream)) + stream, count),
    ]


def test_hybrid_hostile_battery():
    """2 MiB of one-group bit-packed runs (1M runs, 8M values) and of
    one-value RLE runs: the run-at-a-time decode took 67 s and 2.4 s.
    Every entry point over the hybrid stream must walk them in bounded
    time. A small count followed by a 4 MiB tail of valid-looking runs
    (a dictionary page's index stream runs to the page's end) must read
    only the bytes the count reaches: bounded time and bounded memory,
    and a last bit-packed run reaching into the tail is still checked
    against the whole stream."""
    import tracemalloc

    import numpy as np

    streams = [
        (b"\x03\x55" * (1 << 20), 8 << 20, [1, 0]),  # width 1: 0x55 = 1,0,1,0,...
        (b"\x02\x01" * (1 << 20), 1 << 20, [1]),
    ]
    for stream, count, pattern in streams:
        for fn, *args in _hybrid_calls(stream, count):
            t = time.time()
            out = fn(*args)
            assert time.time() - t < 2.0, f"{len(stream)}-byte stream took {time.time() - t:.1f}s"
            assert np.array_equal(out, np.resize(np.array(pattern, out.dtype), count))

    runs = b"\x02\x01" * 200  # 200 one-value RLE runs, past the scalar prefix
    tail = b"\x03\x55" * (2 << 20)
    big_bp = bytes([0x81, 0x80, 0x80, 0x04])  # uvarint (1 << 22) << 1 | 1: 4 MiB of width-1 groups
    cases = [
        (runs + tail, 200, [1] * 200),
        (runs + tail, 205, [1] * 200 + [1, 0, 1, 0, 1]),  # ends inside the first tail run
        (runs + big_bp + b"\x55" * (1 << 22), 203, [1] * 200 + [1, 0, 1]),
        (runs + big_bp + b"\x55" * ((1 << 22) - 1), 203, None),  # that run truncated by one byte
    ]
    for stream, count, want in cases:
        for fn, *args in _hybrid_calls(stream, count):
            tracemalloc.start()
            t = time.time()
            try:
                out = fn(*args)
            except ValueError as e:
                out = e
            wall = time.time() - t
            peak = tracemalloc.get_traced_memory()[1]
            tracemalloc.stop()
            assert wall < 2.0, f"count {count} over {len(stream)} bytes took {wall:.1f}s"
            assert peak < 1 << 20, f"count {count} over {len(stream)} bytes peaked at {peak} bytes"
            if want is None:
                assert isinstance(out, ValueError) and "bit-packed run truncated" in str(out)
            else:
                assert np.array_equal(out, want)


def test_forbp_width0_large_count_is_fast_and_constant():
    """A width-0 FOR stream legitimately encodes a huge constant column
    in a handful of bytes; the decode must fill directly (the generic
    zeros+add+cast path took ~10 s at 139M values). Budget is generous
    because the 0.5 GB output allocation is real."""
    import numpy as np

    from parquet_go_spark.kernels import forbp

    t = time.time()
    out, _pos = forbp.decode(b"\x90\xe2\xc8B\xe8\xcf@\x00", 0, 32)
    assert time.time() - t < 8.0
    assert len(out) == 139_604_240 and (out[:1000] == out[0]).all() and (out[-1000:] == out[0]).all()


def test_thrift_depth_counts_through_collections():
    """The depth governor counted only struct nesting: a list-of-list
    chain recursed once per byte into Python's RecursionError. Collection
    elements now read one level deeper, so the governor's ValueError
    fires."""
    from parquet_go_spark.compat.thrift_compact import read_struct

    for bomb in (
        b"\x19" * 2001 + b"\x10\x00",                        # list of lists
        b"\x1a" * 2001 + b"\x10\x00",                        # set of sets
        b"\x1b" + b"\x01\x5b\x02" * 2000 + b"\x00",          # map of i32 -> map
    ):
        t = time.time()
        with pytest.raises(ValueError, match="nesting depth"):
            read_struct(bomb, 0)
        assert time.time() - t < 2.0


def _bounded(fn, *args, budget_s: float = 2.0, hang_s: int = 20):
    """Call ``fn`` expecting ValueError within ``budget_s``; a call that
    spins (a pointer chase with a cycle) is interrupted at ``hang_s`` so
    the failure does not stall the suite."""
    import signal

    def _hang(_sig, _frame):
        raise TimeoutError(f"{fn.__name__} still running after {hang_s}s")

    old = signal.signal(signal.SIGALRM, _hang)
    signal.alarm(hang_s)
    t = time.time()
    try:
        with pytest.raises(ValueError) as info:
            fn(*args)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert time.time() - t < budget_s
    return info


def _parquet_page_swap(table, column: str, encoding: str, old: bytes, new: bytes) -> bytes:
    """Our writer's uncompressed file with the one occurrence of ``old``
    (a page's value stream) replaced by ``new`` zero-padded to the same
    length: page sizes stay valid and readers ignore the trailing pad."""
    from parquet_go_spark.compat.parquet_writer import write_parquet

    buf = write_parquet(table, encodings={column: encoding})
    assert buf.count(old) == 1 and len(new) <= len(old)
    return buf.replace(old, new + b"\x00" * (len(old) - len(new)))


def test_deltabp_count_governor():
    """ADVICE's finding: 29 zero-width blocks of 2^20 values (2 bytes
    each) made a 67-byte stream declare 30,000,001 values — ~9 s and
    ~1.4 GB to decode. A page decoder bounds the count by the page's
    value count, and no stream may declare more than 2^28 values."""
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.compat.parquet_reader import read_table_arrow
    from parquet_go_spark.core.codecs import decode_values, parquet_encoding
    from parquet_go_spark.kernels import deltabp

    forged = _varint(1 << 20) + _varint(1) + _varint(30_000_001) + b"\x00" + b"\x00\x00" * 29
    assert len(forged) == 67
    t = time.time()
    with pytest.raises(ValueError, match="count"):
        deltabp.decode(forged, 0, 32, max_count=1000)
    with pytest.raises(ValueError, match="count"):
        decode_values("delta_bp", "int32", forged, 0, 1000)
    assert time.time() - t < 2.0
    # the same stream as a Parquet DELTA_BINARY_PACKED (id 5) page of 1000 values
    vals = (np.arange(1000, dtype=np.int32) * 7919) % 1000
    assert parquet_encoding(5) == "delta_bp"
    buf = _parquet_page_swap(
        pa.table({"x": pa.array(vals)}), "x", "delta_bp", deltabp.encode(vals, 32), forged
    )
    assert "count" in str(_bounded(read_table_arrow, buf).value)
    # beyond 2^28 is rejected with no page bound at all (forbp's cap)
    huge = _varint(128) + _varint(4) + _varint((1 << 28) + 1) + b"\x00" + b"\x00" * 5
    with pytest.raises(ValueError, match="count"):
        deltabp.decode(huge, 0, 64)
    # a real stream decodes under a bound equal to its count
    vals = np.arange(1000, dtype=np.int32) * 3
    out, _ = deltabp.decode(deltabp.encode(vals, 32), 0, 32, max_count=1000)
    np.testing.assert_array_equal(out, vals)


def _pgsc_chunk(ptype: int, enc: int, rows: int, values: bytes) -> bytes:
    """A one-page, no-null, uncompressed PGSC chunk around a value stream."""
    import numpy as np

    from parquet_go_spark.kernels import levels

    payload = levels.encode_def_levels(np.ones(rows, bool)) + values
    page = _varint(rows) + _varint(0) + _varint(len(payload)) + _varint(len(payload)) + payload
    return b"PGSC" + bytes([1, ptype, enc, 0, 0]) + _varint(rows) + _varint(0) + _varint(1) + page


def test_delta_bytes_prefix_past_previous_value_is_rejected():
    """A DELTA_BYTE_ARRAY prefix longer than the previous value made a
    byte its own source, and the decoder's pointer chase never returned:
    a 3-row PGSC chunk (prefixes [0, 0, 1], suffix lengths [1, 0, 1])
    spun in decode_chunk, and so did a Parquet page forged the same way."""
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.compat.parquet_reader import read_table_arrow
    from parquet_go_spark.core.chunk import decode_chunk
    from parquet_go_spark.kernels import bytearrays, deltabp

    def stream(prefixes, suffix_lens, suffixes: bytes) -> bytes:
        return deltabp.encode(np.array(prefixes, np.int32), 32) + bytearrays.encode_delta_length(
            np.array(suffix_lens, np.int64), np.frombuffer(suffixes, np.uint8)
        )

    forged = stream([0, 0, 1], [1, 0, 1], b"ab")
    _bounded(decode_chunk, _pgsc_chunk(5, 5, 3, forged))  # bytes, delta_bytes
    vals = [b"x" * 20, b"y" * 20, b"z" * 20]
    good = bytearrays.encode_delta(np.array([20, 20, 20], np.int64), np.frombuffer(b"".join(vals), np.uint8))
    buf = _parquet_page_swap(pa.table({"s": pa.array(vals)}), "s", "delta_bytes", good, forged)
    _bounded(read_table_arrow, buf)
    # a first prefix != 0 has no previous value to borrow from
    with pytest.raises(ValueError, match="prefix"):
        bytearrays.decode_delta(stream([1, 0, 0], [1, 1, 1], b"abc"))


def test_forbp_page_count_is_bounded_by_the_page():
    """A 28-byte PGSC for_bp chunk claiming 3 rows declared a width-0
    stream of 268,435,440 values, gigabytes of output decoded into a
    column whose validity and values disagreed. The page's value count
    now bounds the stream."""
    from parquet_go_spark.core.chunk import decode_chunk

    forged = _varint(268_435_440) + _varint(0) + b"\x00"  # count, zigzag ref, width 0
    blob = _pgsc_chunk(2, 10, 3, forged)  # int64, for_bp
    assert len(blob) == 28
    assert "count" in str(_bounded(decode_chunk, blob).value)


def _raises_value_error_fast(fn, *args, budget_s: float = 2.0):
    t = time.time()
    with pytest.raises(ValueError, match="nesting"):
        fn(*args)
    wall = time.time() - t
    assert wall < budget_s, f"{fn.__name__} took {wall:.1f}s on hostile input"


def test_stacked_list_headers_hit_the_nesting_cap():
    """500 zero-row PGSL headers stacked around one leaf chunk (9 KB):
    every header recursed into decode_chunk until Python's
    RecursionError; the nesting cap turns it into a ValueError."""
    import pyarrow as pa

    from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
    from parquet_go_spark.core.columns import from_arrow

    blob, _ = encode_chunk(from_arrow(pa.array([], type=pa.list_(pa.int64()))))
    inner, _ = encode_chunk(from_arrow(pa.array([], type=pa.int64())))
    header = blob[: len(blob) - len(inner)]
    assert blob.endswith(inner) and header.startswith(b"PGSL")
    forged = header * 500 + inner
    assert len(forged) < 10_000
    _raises_value_error_fast(decode_chunk, forged)


def test_parquet_footer_group_chain_hits_the_nesting_cap():
    """A 16 KB Parquet file whose footer chains 2000 single-child groups
    above one leaf: schema_tree recursed once per group into Python's
    RecursionError; the nesting cap turns it into a ValueError."""
    from parquet_go_spark.compat.parquet_reader import read_table_arrow
    from parquet_go_spark.compat.thrift_writer import write_struct

    groups = [{3: ("i32", 1), 4: ("binary", "g"), 5: ("i32", 1)} for _ in range(2000)]
    schema = [{4: ("binary", "schema"), 5: ("i32", 1)}, *groups, {1: ("i32", 1), 3: ("i32", 1), 4: ("binary", "x")}]
    footer = write_struct({1: ("i32", 1), 2: ("list", ("struct", schema)), 3: ("i64", 0), 4: ("list", ("struct", []))})
    buf = b"PAR1" + footer + struct.pack("<I", len(footer)) + b"PAR1"
    assert len(buf) < 20_000
    _raises_value_error_fast(read_table_arrow, buf)
