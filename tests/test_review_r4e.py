"""Round-4 fifth review batch: map null-slot shredding, dict-probe
type safety, CLI --where robustness, forged-ColumnIndex bounds."""

from __future__ import annotations

from pathlib import Path

import pytest

REPO_ROOT = str(Path(__file__).resolve().parents[1])

pytestmark = pytest.mark.spark


def test_map_shred_null_slot_with_nondegenerate_offsets():
    """A null map slot whose offsets still span entries (legal Arrow)
    must contribute NOTHING to the leaf/level streams — previously its
    key/value entries leaked in while counts said 0, corrupting the
    written column."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_go_spark.compat.parquet_writer import write_parquet
    from parquet_go_spark.compat.shred import _list_parts

    import numpy as np

    # construct a map whose NULL slot has non-degenerate offsets
    # (offsets [0,2,4] but slot 1 null — legal Arrow; produced by masked
    # construction, kernels, foreign IPC)
    keys = pa.array(["a", "b", "c", "d"])
    items = pa.array([1, 2, 3, 4], type=pa.int64())
    entries = pa.StructArray.from_arrays([keys, items], names=["key", "value"])
    mt = pa.map_(pa.string(), pa.int64())
    validity = pa.py_buffer(np.packbits([True, False], bitorder="little").tobytes())
    offbuf = pa.py_buffer(np.array([0, 2, 4], np.int32).tobytes())
    arr = pa.Array.from_buffers(mt, 2, [validity, offbuf], null_count=1, children=[entries])
    # (no to_pylist here: pyarrow 16's MapScalar aborts on scalar access
    # of from_buffers-built maps — unrelated to what's under test)
    valid, sizes, flat = _list_parts(arr)
    assert list(valid) == [True, False] and list(sizes) == [2, 0]
    assert len(flat) == 2, flat  # null slot's entries NEVER leak
    # end-to-end through the writer: read-back identical in pyarrow
    t = pa.table({"m": arr})
    back = pq.read_table(io.BytesIO(write_parquet(t)))
    assert back.column("m").to_pylist() == [[("a", 1), ("b", 2)], None]


def test_dict_probe_numeric_value_on_string_column_keeps_chunk(tmp_path):
    """An int/float probe on a byte_array dictionary must be
    inconclusive (keep), never bytes(123)=123 NULs (a guaranteed miss
    that falsely excluded chunks containing the string '123')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_go_spark.compat.dict_filter import dict_probe_file
    from parquet_go_spark.compat.parquet_reader import file_meta

    t = pa.table({"url": pa.array(["123", "456", "123"])})
    p = str(tmp_path / "d.parquet")
    pq.write_table(t, p, use_dictionary=True, compression="none")
    buf = open(p, "rb").read()
    cmeta = file_meta(buf)[4][0][1][0][3]
    assert dict_probe_file(p, cmeta, (123,)) is True  # int probe: keep
    assert dict_probe_file(p, cmeta, (1.5,)) is True  # float probe: keep (no crash)
    assert dict_probe_file(p, cmeta, ("123",)) is True  # present
    assert dict_probe_file(p, cmeta, ("zzz",)) is False  # provably absent


def test_cli_where_on_curate_and_unknown_op(spark, tmp_path, capsys):
    """curate --where must accept repeatable col:op:value flags (a
    non-append default crashed parsing char-by-char), unknown ops must be
    rejected up front rather than pruning without re-applying, and every
    op of core.prune (strict '<' too) must return the exact rows."""
    import json
    import subprocess
    import sys

    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.encode_job import encode_table

    docs = spark.createDataFrame(
        [(i, f"text {i} " * 30, "en" if i % 2 else "fr", f"h{i%3}") for i in range(60)],
        "doc_id long, text string, lang string, source string",
    )
    src = str(tmp_path / "src")
    encode_table(docs, src, key_col="doc_id", partitions=2).collect()
    mf.commit_snapshot(src, "encode")
    out = str(tmp_path / "cur")
    r = subprocess.run(
        [sys.executable, "-m", "parquet_go_spark", "--cpus", "4", "curate",
         "--enc", src, "--out", out, "--min-ttr", "0.0", "--max-punct", "1.0",
         "--where", "lang:==:en"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    info = json.loads(r.stdout.strip().splitlines()[-1])
    assert info["rows_out"] <= 30  # only lang=en docs entered
    # unknown op: clean rejection, not silent extra rows
    r2 = subprocess.run(
        [sys.executable, "-m", "parquet_go_spark", "--cpus", "4", "decode",
         "--enc", src, "--out", str(tmp_path / "x"), "--where", "doc_id:~:5"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=300,
    )
    assert r2.returncode != 0
    assert "not supported" in (r2.stderr + r2.stdout)
    # strict '<' is one of core.prune's ops: pruned, then re-applied exactly
    lt = str(tmp_path / "lt")
    r3 = subprocess.run(
        [sys.executable, "-m", "parquet_go_spark", "--cpus", "4", "decode",
         "--enc", src, "--out", lt, "--where", "doc_id:<:5"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=300,
    )
    assert r3.returncode == 0, r3.stderr[-2000:]
    import pyarrow.parquet as pq

    assert sorted(pq.read_table(lt).column("doc_id").to_pylist()) == [0, 1, 2, 3, 4]


def test_forged_column_index_bound_is_unknown_not_crash():
    from parquet_go_spark.core.prune import decode_stat

    assert decode_stat(b"\x01\x02", 1) is None  # 2 bytes for INT32
    assert decode_stat(b"\x01", 5) is None  # 1 byte for DOUBLE
    assert decode_stat(b"\x01\x00\x00\x00", 1) == 1  # well-formed still decodes
