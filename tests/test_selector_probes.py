"""One-probe contract of the auto selector: every per-chunk probe (the
zdict plan's dict/codec/level, the FSST symbol table) runs at most once
per ``encode_chunk``, and the encoder writes exactly what the selector
planned."""

from __future__ import annotations

import zlib
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.core import chunk, selector
from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
from parquet_go_spark.core.columns import from_arrow, to_arrow
from parquet_go_spark.kernels import bytearrays, fsst
from parquet_go_spark.kernels.varint import read_uvarint

PROBES = [
    (bytearrays, "choose_zdict_codec"),
    (bytearrays, "choose_deflate_level"),
    (fsst, "train"),
]


@pytest.fixture(scope="module")
def pages_sample() -> pa.Table:
    """3000 hash-scattered page rows: the shape of one salted partition
    of the pages table (lang runs broken up, as after the exchange)."""
    from parquet_go_spark.spark.pages_table import _gen_block

    ids = (np.arange(3000, dtype=np.int64) * 2654435761) % 1_000_000
    t = pa.Table.from_pandas(_gen_block(ids), preserve_index=False)
    # Spark hands the encoder microsecond timestamps
    return t.cast(t.schema.set(1, pa.field("warc_ts", pa.timestamp("us"))))


@pytest.fixture
def probe_calls(monkeypatch) -> Counter:
    calls: Counter = Counter()
    for mod, name in PROBES:
        fn = getattr(mod, name)

        def counted(*a, _fn=fn, _name=name, **k):
            calls[_name] += 1
            return _fn(*a, **k)

        monkeypatch.setattr(mod, name, counted)
    return calls


def _zdict_page_codecs(monkeypatch, blob, logical) -> list[int]:
    """Codec byte of every zdict page stream the decoder reads."""
    codecs = []
    orig = bytearrays.decode_zdict

    def spy(buf, pos=0, *a, **k):
        mv = memoryview(buf).cast("B")
        _, p = read_uvarint(mv, pos)
        _, p = read_uvarint(mv, p)
        codecs.append(mv[p])
        return orig(buf, pos, *a, **k)

    monkeypatch.setattr(bytearrays, "decode_zdict", spy)
    decode_chunk(blob, logical=logical)
    monkeypatch.setattr(bytearrays, "decode_zdict", orig)
    return codecs


def test_pages_choices_roundtrip_and_match_plan(pages_sample, monkeypatch):
    want = {"url": "zdict", "warc_ts": "delta_bp", "html": "zdict", "text": "zdict", "lang": "zdict"}
    for name, arr in zip(pages_sample.column_names, pages_sample.columns):
        arr = arr.combine_chunks()
        cd = from_arrow(arr)
        hints = []
        orig = selector.choose_encoding

        def spy(*a, **k):
            out = orig(*a, **k)
            hints.append(out[-1])
            return out

        monkeypatch.setattr(selector, "choose_encoding", spy)
        blob, meta = encode_chunk(cd, profile="auto", compression="snappy", page_stats=True)
        monkeypatch.setattr(selector, "choose_encoding", orig)
        assert meta.encoding == want[name], name
        assert to_arrow(decode_chunk(blob, logical=cd.logical)).equals(arr), name
        if meta.encoding == "zdict":
            (plan,) = hints
            assert isinstance(plan, bytearrays.ZdictPlan)
            codecs = _zdict_page_codecs(monkeypatch, blob, cd.logical)
            assert codecs and set(codecs) == {plan.codec}, name
            # the trained dict is stored (flags bit 2) exactly when DEFLATE
            assert bool(blob[8] & 2) == (plan.codec == 0 and bool(plan.zdict))


def test_each_probe_runs_at_most_once_per_chunk(pages_sample, probe_calls):
    for name in pages_sample.column_names:
        cd = from_arrow(pages_sample.column(name).combine_chunks())
        probe_calls.clear()
        encode_chunk(cd, profile="auto", compression="snappy", page_stats=True)
        assert all(v <= 1 for v in probe_calls.values()), (name, probe_calls)
        if cd.ptype == "bytes":
            assert probe_calls["choose_zdict_codec"] == 1, name


def test_fsst_candidate_trains_once(probe_calls):
    # near-random base64 strings: zstd cannot halve them, so FSST stays
    # a candidate, trains once, and its table serves every later encode
    rng = np.random.default_rng(3)
    alphabet = np.frombuffer(b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/", np.uint8)
    lens = rng.integers(20, 200, size=4000).astype(np.int64)
    data = alphabet[rng.integers(0, 64, size=int(lens.sum()))]
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    arr = pa.Array.from_buffers(pa.binary(), len(lens), [None, pa.py_buffer(offsets), pa.py_buffer(data)])
    cd = from_arrow(arr)
    for comp in ("snappy", "none"):
        probe_calls.clear()
        blob, _ = encode_chunk(cd, profile="auto", compression=comp)
        assert probe_calls["train"] == 1, probe_calls
        assert probe_calls["choose_zdict_codec"] == 1, probe_calls
        assert to_arrow(decode_chunk(blob)).equals(arr)


@pytest.mark.parametrize("encoding", ["zdict", "fsst"])
def test_forced_encoding_probes_once(pages_sample, probe_calls, encoding):
    arr = pages_sample.column("text").combine_chunks()
    cd = from_arrow(arr)
    blob, meta = encode_chunk(cd, encoding=encoding, compression="snappy")
    assert meta.encoding == encoding
    assert all(v <= 1 for v in probe_calls.values()), probe_calls
    assert probe_calls["train" if encoding == "fsst" else "choose_zdict_codec"] == 1
    assert to_arrow(decode_chunk(blob, logical=cd.logical)).equals(arr)


def test_forced_zdict_uses_the_plan(pages_sample):
    cd = from_arrow(pages_sample.column("url").combine_chunks())
    plan = bytearrays.plan_zdict(cd.lengths, cd.data)
    blob, _ = encode_chunk(cd, encoding="zdict")
    # a single-page chunk: its value stream is the plan's encoding
    assert len(cd.data) < chunk.DEFAULT_PAGE
    want = bytearrays.encode_zdict(cd.lengths, cd.data, plan.zdict, level=plan.level, codec=plan.codec)
    assert want in blob


def test_level_probe_shares_the_codec_probe_pass():
    # a 512 KiB stream: the codec probe's DEFLATE-6 pass compresses the
    # same strided sample, undicted, that the level probe would
    rng = np.random.default_rng(1)
    words = np.array([f"w{i}" for i in range(300)])
    raw = " ".join(rng.choice(words, 140_000)).encode()[: 1 << 19]
    data = np.frombuffer(raw, np.uint8)
    lens = np.array([len(data)], np.int64)
    probe: dict = {}
    bytearrays.choose_zdict_codec(lens, data, bytearrays.train_zdict(lens, data), probe)
    sample = bytearrays._sample_stream(data)
    assert probe["deflate6"] == len(zlib.compress(sample, 6))
    assert bytearrays.choose_deflate_level(data, probe["deflate6"]) == bytearrays.choose_deflate_level(data)
    # small streams probe WITH the dict: nothing to share
    small: dict = {}
    bytearrays.choose_zdict_codec(lens, data[: 1 << 17], bytearrays.train_zdict(lens, data[: 1 << 17]), small)
    assert "deflate6" not in small


def test_plan_zdict_shape():
    rng = np.random.default_rng(2)
    words = np.array([f"token{i}" for i in range(50)])
    raw = " ".join(rng.choice(words, 20_000)).encode()
    data = np.frombuffer(raw, np.uint8)
    lens = np.array([len(data)], np.int64)
    plan = bytearrays.plan_zdict(lens, data)
    if plan.codec == 1:
        assert plan == bytearrays.ZdictPlan(b"", 1, None)
    else:
        assert plan.zdict == bytearrays.train_zdict(lens, data) and plan.level in (1, 6)
    enc = bytearrays.encode_zdict(lens, data, plan.zdict, level=plan.level, codec=plan.codec)
    out_lens, out, _ = bytearrays.decode_zdict(enc, zdict=plan.zdict)
    assert bytes(out) == raw and np.array_equal(out_lens, lens)
