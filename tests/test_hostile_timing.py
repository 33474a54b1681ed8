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


def test_deltabp_count_governor():
    """ADVICE's finding: 29 zero-width blocks of 2^20 values (2 bytes
    each) made a 67-byte stream declare 30,000,001 values — ~9 s and
    ~1.4 GB to decode. A page decoder bounds the count by the page's
    value count, and no stream may declare more than 2^28 values."""
    import numpy as np

    from parquet_go_spark.core.chunk import _decode_values
    from parquet_go_spark.kernels import deltabp

    forged = _varint(1 << 20) + _varint(1) + _varint(30_000_001) + b"\x00" + b"\x00\x00" * 29
    assert len(forged) == 67
    t = time.time()
    with pytest.raises(ValueError, match="count"):
        deltabp.decode(forged, 0, 32, max_count=1000)
    with pytest.raises(ValueError, match="count"):
        _decode_values("delta_bp", "int32", forged, 0, 1000, None)
    assert time.time() - t < 2.0
    # beyond 2^28 is rejected with no page bound at all (forbp's cap)
    huge = _varint(128) + _varint(4) + _varint((1 << 28) + 1) + b"\x00" + b"\x00" * 5
    with pytest.raises(ValueError, match="count"):
        deltabp.decode(huge, 0, 64)
    # a real stream decodes under a bound equal to its count
    vals = np.arange(1000, dtype=np.int32) * 3
    out, _ = deltabp.decode(deltabp.encode(vals, 32), 0, 32, max_count=1000)
    np.testing.assert_array_equal(out, vals)
