"""Kernel byte-exactness + round-trip tests (SURVEY.md §5 layers 1 & 3).

Mirrors the reference's unit matrix: every bit width 0-32/0-64 with random
bounded data (hybrid_test.go:14-61), unbounded delta data
(deltabp_test.go:12-51), plus the edge fixtures from FIXTURES.md §F3.
Golden oracle: tests/ref_emulator.py, a per-value transliteration of the Go
encoders sharing no code with the vectorized kernels.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from parquet_go_spark.kernels import bitpack, bytearrays, deltabp, dictenc, hybrid, levels, plain

import ref_emulator as ref

RNG = np.random.default_rng(42)


def bounded(width: int, n: int) -> np.ndarray:
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    return RNG.integers(0, 2 ** min(width, 63), size=n, dtype=np.uint64) & (
        np.uint64((2**width - 1) & (2**64 - 1))
    )


# ---------------------------------------------------------------- bitpack
@pytest.mark.parametrize("width", range(0, 65))
def test_bitpack_roundtrip(width):
    n = 8 * 41
    vals = bounded(width, n)
    packed = bitpack.pack(vals, width)
    assert len(packed) == bitpack.packed_size(n, width)
    out = bitpack.unpack(packed, width, n)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("width", range(0, 33))
def test_bitpack_matches_reference_kernels(width):
    vals = bounded(width, 8 * 5)
    packed = bitpack.pack(vals, width)
    golden = b"".join(
        ref.pack8(list(map(int, vals[i : i + 8])), width) for i in range(0, len(vals), 8)
    )
    assert packed == golden


# ----------------------------------------------------------------- hybrid
@pytest.mark.parametrize("width", list(range(0, 33)))
def test_hybrid_bp_byte_identical(width):
    # replicates buildData sizes from hybrid_test.go (scaled down)
    for n in (0, 1, 7, 8, 13, 8 * 103 + 5):
        vals = bounded(width, n)
        got = hybrid.encode_bp(vals, width)
        want = ref.hybrid_encode_bp(list(map(int, vals)), width)
        assert got == want, f"width={width} n={n}"
        out = hybrid.decode(got, width, n)
        np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("width", [1, 3, 8, 15, 17, 32])
def test_hybrid_rle_roundtrip(width):
    # runny data: the plain-RLE extension must round-trip and beat BP size
    runs = RNG.integers(0, 2**min(width, 31), size=60, dtype=np.uint64)
    lengths = RNG.integers(1, 50, size=60)
    vals = np.repeat(runs, lengths)
    enc = hybrid.encode_rle(vals, width)
    assert len(enc) == hybrid.rle_size(vals, width)
    out = hybrid.decode(enc, width, len(vals))
    np.testing.assert_array_equal(out, vals)
    assert hybrid.decode(hybrid.encode_auto(vals, width), width, len(vals)).tolist() == vals.tolist()


# run lengths whose uvarint header (len << 1) sits at the 7/14/21-bit
# byte boundaries: 63/64, 8191/8192, 2^20 - 1 / 2^20
_HEADER_EDGES = [1, 2, 63, 64, 65, 8191, 8192, 8193, (1 << 20) - 1, 1 << 20]


@given(
    width=st.integers(0, 64),
    runs=st.lists(
        st.tuples(st.integers(0, (1 << 64) - 1), st.one_of(st.sampled_from(_HEADER_EDGES), st.integers(1, 300))),
        min_size=0,
        max_size=12,
    ),
)
@settings(max_examples=150, deadline=None)
def test_hybrid_rle_size_is_exact(width, runs):
    # rle_size counts header bytes from the run lengths alone; it must
    # equal the encoder's output length for every width and run shape
    mask = (1 << width) - 1
    vals = np.concatenate(
        [np.full(n, v & mask, np.uint64) for v, n in runs] or [np.empty(0, np.uint64)]
    )
    assert hybrid.rle_size(vals, width) == len(hybrid.encode_rle(vals, width))


def test_hybrid_rle_size_header_edges():
    for n in _HEADER_EDGES:
        for width in (0, 1, 9, 64):
            vals = np.concatenate([np.zeros(n, np.uint64), np.ones(3, np.uint64)]) if width else np.zeros(n, np.uint64)
            assert hybrid.rle_size(vals, width) == len(hybrid.encode_rle(vals, width)), (n, width)


def test_hybrid_rle_value_too_large_rejected():
    # hybrid_decoder.go:126-128
    bad = bytes([2 << 1]) + bytes([0xFF])  # RLE run of 2, value 255, width 3
    with pytest.raises(ValueError):
        hybrid.decode(bad, 3, 2)


def test_hybrid_width0_is_empty_and_decodes_zero():
    vals = np.zeros(100, dtype=np.uint64)
    assert hybrid.encode_bp(vals, 0) == b""
    assert hybrid.with_size_prefix(hybrid.encode_bp(vals, 0), 0) == b""
    np.testing.assert_array_equal(hybrid.decode(b"", 0, 100), vals)


# ---------------------------------------------------------------- deltabp
def build_delta_data(bits: int, n: int) -> np.ndarray:
    # replicates buildDataDelta (deltabp_test.go:12-19): full-range randoms
    info = np.iinfo(np.int32 if bits == 32 else np.int64)
    return RNG.integers(info.min, info.max, size=n, dtype=np.int64, endpoint=True)


@pytest.mark.parametrize("bits", [32, 64])
@pytest.mark.parametrize(
    "n", [0, 1, 2, 7, 31, 32, 33, 127, 128, 129, 255, 256, 257, 8 * 129 + 5]
)
def test_deltabp_byte_identical(bits, n):
    vals = build_delta_data(bits, n)
    if bits == 32:
        vals = vals.astype(np.int32)
    got = deltabp.encode(vals, bits)
    want = ref.deltabp_encode(list(map(int, vals)), bits)
    assert got == want, f"bits={bits} n={n}"
    out, pos = deltabp.decode(got, 0, bits)
    assert pos == len(got)
    np.testing.assert_array_equal(out, vals)


def test_deltabp_sorted_small_deltas():
    vals = np.cumsum(RNG.integers(0, 3600, size=5000)).astype(np.int64) * 1_000_000
    enc = deltabp.encode(vals, 64)
    assert enc == ref.deltabp_encode(list(map(int, vals)), 64)
    out, _ = deltabp.decode(enc, 0, 64)
    np.testing.assert_array_equal(out, vals)
    # FOR+delta on sorted micros timestamps must beat PLAIN comfortably
    assert len(enc) < 0.6 * 8 * len(vals)


def test_deltabp_int64_min_delta_quirk():
    # all deltas > MaxInt32: reference keeps minDelta = MaxInt32
    vals = np.array([0, 2**40, 2**41, 2**41 + 2**40], dtype=np.int64)
    got = deltabp.encode(vals, 64)
    assert got == ref.deltabp_encode(list(map(int, vals)), 64)
    out, _ = deltabp.decode(got, 0, 64)
    np.testing.assert_array_equal(out, vals)


def test_deltabp_overflow_full_range():
    # delta overflow semantics (deltabp_encoder.go:58-63): INT_MIN/INT_MAX mix
    for bits, lo, hi in [(32, -(2**31), 2**31 - 1), (64, -(2**63), 2**63 - 1)]:
        vals = np.array([lo, hi, lo, 0, hi, hi, lo, lo, 1, -1], dtype=np.int64)
        if bits == 32:
            vals = vals.astype(np.int32)
        got = deltabp.encode(vals, bits)
        assert got == ref.deltabp_encode(list(map(int, vals)), bits)
        out, _ = deltabp.decode(got, 0, bits)
        np.testing.assert_array_equal(out, vals)


# ------------------------------------------------------------------ plain
def test_plain_bool():
    for n in (0, 1, 8, 13, 1000):
        vals = RNG.integers(0, 2, size=n).astype(bool)
        got = plain.encode_bool(vals)
        assert got == ref.plain_bool(list(vals))
        out, _ = plain.decode_bool(got, n)
        np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("kind,dt", [("int32", np.int32), ("int64", np.int64), ("float", np.float32), ("double", np.float64)])
def test_plain_fixed_roundtrip(kind, dt):
    if kind in ("float", "double"):
        vals = RNG.normal(size=1000).astype(dt)
        vals[:6] = [np.nan, np.inf, -np.inf, 0.0, -0.0, np.finfo(dt).tiny]
    else:
        info = np.iinfo(dt)
        vals = RNG.integers(info.min, info.max, size=1000, dtype=dt, endpoint=True)
    enc = plain.encode_fixed(vals, kind)
    assert enc == vals.astype(vals.dtype.newbyteorder("<")).tobytes()
    out, _ = plain.decode_fixed(enc, len(vals), kind)
    np.testing.assert_array_equal(out.view(dt), vals)


def _make_binary(n, max_len=40, with_empty=True):
    lens = RNG.integers(0 if with_empty else 1, max_len, size=n).astype(np.int64)
    data = RNG.integers(0, 256, size=int(lens.sum()), dtype=np.uint8)
    return lens, data


def _to_list(lens, data):
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    return [bytes(data[s : s + l]) for s, l in zip(starts, lens)]


def test_plain_byte_array():
    lens, data = _make_binary(500)
    got = plain.encode_byte_array(lens, data)
    assert got == ref.plain_byte_array(_to_list(lens, data))
    ol, od, _ = plain.decode_byte_array(got, len(lens))
    np.testing.assert_array_equal(ol, lens)
    np.testing.assert_array_equal(od, data)


def test_plain_byte_array_fast_paths():
    """The vectorized header-scan fast paths (uniform stride, zero-pattern
    candidates with adjacent/chain pruning) and the sequential-walk
    fallback must agree on every input shape."""
    cases = []
    # text-like, no NULs (zero-pattern path), count >= 64
    lens = RNG.integers(1, 60, size=5000).astype(np.int64)
    cases.append((lens, RNG.integers(32, 127, int(lens.sum()), dtype=np.uint8)))
    # uniform length with arbitrary bytes (arithmetic path)
    lu = np.full(2000, 16, np.int64)
    cases.append((lu, RNG.integers(0, 256, int(lu.sum()), dtype=np.uint8)))
    # zero-dense binary (walk fallback)
    lb = RNG.integers(0, 60, size=3000).astype(np.int64)
    cases.append((lb, RNG.integers(0, 2, int(lb.sum()), dtype=np.uint8)))
    # values containing the candidate pattern + >64KiB lengths + empties
    vals = [b"ab\x00\x00cd", b"x" * 70000, b"", b"\x00" * 9] * 40
    lv = np.array([len(v) for v in vals], np.int64)
    cases.append((lv, np.frombuffer(b"".join(vals), np.uint8)))
    # values starting with NUL right after a header (adjacent-prune trap)
    vals2 = [b"\x00tail", b"norm"] * 200
    l2 = np.array([len(v) for v in vals2], np.int64)
    cases.append((l2, np.frombuffer(b"".join(vals2), np.uint8)))
    for lens_i, data_i in cases:
        enc = plain.encode_byte_array(lens_i, data_i)
        ol, od, pos = plain.decode_byte_array(enc, len(lens_i))
        np.testing.assert_array_equal(ol, lens_i)
        np.testing.assert_array_equal(od, data_i)
        assert pos == len(enc)
        # trailing junk after the count-th value must be ignored
        ol2, od2, pos2 = plain.decode_byte_array(enc + b"\x07" * 11, len(lens_i))
        np.testing.assert_array_equal(ol2, lens_i)
        assert pos2 == len(enc)


def test_plain_byte_array_truncation_raises():
    lens = RNG.integers(1, 60, size=500).astype(np.int64)
    data = RNG.integers(32, 127, int(lens.sum()), dtype=np.uint8)
    enc = plain.encode_byte_array(lens, data)
    import pytest as _pytest

    for cut in (len(enc) - 1, len(enc) // 2, 3):
        with _pytest.raises(ValueError):
            plain.decode_byte_array(enc[:cut], len(lens))


def test_delta_length_byte_array():
    for n in (0, 1, 2, 500):
        lens, data = _make_binary(n)
        got = bytearrays.encode_delta_length(lens, data)
        assert got == ref.delta_length_byte_array(_to_list(lens, data))
        ol, od, pos = bytearrays.decode_delta_length(got)
        assert pos == len(got)
        np.testing.assert_array_equal(ol, lens)
        np.testing.assert_array_equal(od, data)


def test_delta_byte_array_sorted_urls():
    # FIXTURES.md F2 `sorted_urls`: shared prefixes exercise prefix coding
    urls = sorted(
        f"https://example{i % 7}.com/section/{i % 13:03d}/page{i:06d}.html".encode()
        for i in range(2000)
    )
    lens = np.array([len(u) for u in urls], dtype=np.int64)
    data = np.frombuffer(b"".join(urls), dtype=np.uint8)
    got = bytearrays.encode_delta(lens, data)
    assert got == ref.delta_byte_array(urls)
    ol, od, pos = bytearrays.decode_delta(got)
    assert pos == len(got)
    np.testing.assert_array_equal(ol, lens)
    np.testing.assert_array_equal(od, data)
    # prefix coding must crush sorted URLs vs plain
    assert len(got) < 0.4 * (int(lens.sum()) + 4 * len(urls))


def test_delta_byte_array_random():
    for n in (0, 1, 2, 300):
        lens, data = _make_binary(n)
        got = bytearrays.encode_delta(lens, data)
        assert got == ref.delta_byte_array(_to_list(lens, data))
        ol, od, _ = bytearrays.decode_delta(got)
        np.testing.assert_array_equal(ol, lens)
        np.testing.assert_array_equal(od, data)


def test_common_prefix_lengths():
    vals = [b"", b"abc", b"abd", b"abd", b"x", b"", b"zz"]
    lens = np.array([len(v) for v in vals], dtype=np.int64)
    data = np.frombuffer(b"".join(vals), dtype=np.uint8)
    got = bytearrays.common_prefix_lengths(lens, data)
    want = []
    prev = b""
    for v in vals:
        want.append(ref._prefix(prev, v))
        prev = v
    assert got.tolist() == want


# ------------------------------------------------------------------- dict
@pytest.mark.parametrize("dict_size", [0, 1, 2, 3, 255, 256, 32767])
def test_dict_indices_byte_identical(dict_size):
    n = 777
    idx = (
        RNG.integers(0, max(dict_size, 1), size=n, dtype=np.int64)
        if dict_size
        else np.empty(0, dtype=np.int64)
    )
    got = dictenc.encode_indices(idx, dict_size, mode="bp")
    assert got == ref.dict_indices(list(map(int, idx)), dict_size)
    out, _ = dictenc.decode_indices(got, len(idx))
    np.testing.assert_array_equal(out, idx)
    assert dictenc.index_bit_width(dict_size) == int(dict_size).bit_length()


def test_dict_empty_dictionary_stream():
    # all-null chunk: dict with 0 values -> single 0x00 bit-width byte
    got = dictenc.encode_indices(np.empty(0, dtype=np.int64), 0)
    assert got == b"\x00"


# ----------------------------------------------------------------- levels
def test_def_levels_flat_nullable():
    for n in (0, 1, 20, 1000):
        validity = RNG.integers(0, 10, size=n) > 0  # ~10% nulls
        got = levels.encode_def_levels(validity, mode="bp")
        want = ref.hybrid_encode_bp_sized([1 if v else 0 for v in validity], 1)
        assert got == want
        out, pos = levels.decode_def_levels(got, n)
        assert pos == len(got)
        np.testing.assert_array_equal(out, validity)


def test_def_levels_every_20th_null():
    # FIXTURES.md F2 `nullable_mixed`
    validity = np.ones(1000, dtype=bool)
    validity[::20] = False
    for mode in ("bp", "rle", "auto"):
        got = levels.encode_def_levels(validity, mode=mode)
        out, _ = levels.decode_def_levels(got, 1000)
        np.testing.assert_array_equal(out, validity)
