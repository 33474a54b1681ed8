"""The selector's probe kernels are exact: ``deltabp.estimate_size`` is
the length ``deltabp.encode`` writes, ``common_prefix_lengths`` is the
per-pair shared prefix, and the zdict codec probe samples the stated
number of bytes in each stream regime."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from parquet_go_spark.kernels import bytearrays, deltabp

_INFO = {32: np.iinfo(np.int32), 64: np.iinfo(np.int64)}


@st.composite
def _streams(draw):
    """(values, bits): runs of edge values (INT_MIN/INT_MAX, 0, +-1) or
    arbitrary values, at lengths around the block edges."""
    bits = draw(st.sampled_from([32, 64]))
    info = _INFO[bits]
    n = draw(st.one_of(st.sampled_from([0, 1, 2, 129]), st.integers(0, 700)))
    edge = st.sampled_from([int(info.min), int(info.max), 0, 1, -1])
    anyv = st.integers(int(info.min), int(info.max))
    out: list[int] = []
    while len(out) < n:
        v = draw(st.one_of(edge, anyv))
        out += [v] * draw(st.integers(1, 200))
    return np.array(out[:n], dtype=np.int32 if bits == 32 else np.int64), bits


@settings(max_examples=300, deadline=None)
@given(_streams())
@example((np.array([], np.int64), 64))
@example((np.array([7], np.int32), 32))
@example((np.array([np.iinfo(np.int32).min, np.iinfo(np.int32).max], np.int32), 32))
def test_deltabp_estimate_size_is_the_encoded_length(case):
    values, bits = case
    assert deltabp.estimate_size(values, bits) == len(deltabp.encode(values, bits))


@pytest.mark.parametrize("n", [0, 1, 2, 129])
@pytest.mark.parametrize("bits", [32, 64])
def test_deltabp_estimate_size_edges(n, bits):
    info = _INFO[bits]
    dt = np.int32 if bits == 32 else np.int64
    for values in (
        np.arange(n, dtype=dt),
        np.where(np.arange(n) % 2 == 0, info.min, info.max).astype(dt),  # widest deltas
        np.full(n, info.max, dt),
        np.repeat(np.array([info.min, info.max], dt), (n + 1) // 2)[:n],
    ):
        assert deltabp.estimate_size(values, bits) == len(deltabp.encode(values, bits))


def test_deltabp_estimate_size_maxint32_min_delta_quirk():
    # every delta of these int64 blocks exceeds 2^31-1: minDelta stays at
    # MaxInt32 (the reference's initial value) and the widths follow it
    values = np.arange(0, 3_000_000_000 * 300, 3_000_000_000, dtype=np.int64)
    enc = deltabp.encode(values, 64)
    assert deltabp.estimate_size(values, 64) == len(enc)
    assert np.array_equal(deltabp.decode(enc, 0, 64)[0], values)


def _naive_prefixes(strs: list[bytes]) -> list[int]:
    out = [0] if strs else []
    for a, b in zip(strs, strs[1:]):
        k = 0
        while k < min(len(a), len(b)) and a[k] == b[k]:
            k += 1
        out.append(k)
    return out


def _prefixes(strs: list[bytes]) -> list[int]:
    lens = np.array([len(s) for s in strs], np.int64)
    data = np.frombuffer(b"".join(strs), np.uint8)
    return bytearrays.common_prefix_lengths(lens, data).tolist()


@pytest.mark.parametrize(
    "strs",
    [
        [],
        [b"only"],
        [b""],
        [b"", b"", b"a", b"", b"ab"],
        [b"same value"] * 5,
        [b"x" * 40 + b"a", b"x" * 40 + b"b", b"x" * 40, b"x" * 33, b"x" * 100],
        [b"https://example.org/section/long-path/" + bytes([c]) * 3 for c in b"aab"],
    ],
    ids=["none", "one", "one-empty", "empties", "identical", "past-32", "urls"],
)
def test_common_prefix_lengths_cases(strs):
    assert _prefixes(strs) == _naive_prefixes(strs)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.binary(max_size=80), max_size=40),
    st.binary(min_size=0, max_size=70),
)
def test_common_prefix_lengths_matches_naive(tails, stem):
    # a shared stem makes long common prefixes, past the 32-byte head
    strs = [stem[: len(t) % (len(stem) + 1)] + t for t in tails]
    assert _prefixes(strs) == _naive_prefixes(strs)


@pytest.mark.parametrize(
    "size, sampled",
    [(1 << 18, 1 << 18), ((1 << 18) + 1, 1 << 18), (1 << 20, 1 << 18), ((1 << 20) + 1, 1 << 16)],
)
def test_zdict_probe_sample_size_per_regime(size, sampled):
    # whole stream <= 256 KiB, 256 KiB of strided slices up to 1 MiB and
    # a quarter of that (64 KiB) above 1 MiB, where DEFLATE needs a 10% win
    raw = np.arange(size, dtype=np.int64).astype(np.uint8)
    assert len(bytearrays._sample_stream(raw)) == sampled
