"""Reusable randomized differential soak over the codec matrix — the
committed form of the round-5 16.5k-iteration campaign (NOTES_r5.md
"Late-round soak"), so the evidence is reproducible on any tree:

    python tools/soak_codecs.py --iters 3000 --nested-iters 1000 --seed 1

Each flat iteration draws a random column (ptype × null density ×
value shape incl. NaN/±Inf/-0.0/denormals/extremes × length), a random
applicable encoding (forced or selector), block codec, page size, and
crc/stats flags, then runs encode_chunk → decode_chunk and compares
IEEE-BIT-exact (Arrow equals treats NaN != NaN — the first soak run's
false alarms). Nested iterations compose random list/map/struct trees
to depth 3 (null parents, empty lists, random SLICES for nonzero
offsets) through the native containers. Parquet iterations write with
this engine and read with pyarrow, then write with pyarrow and read with
this engine. Exits nonzero on the first mismatch with a reproducer line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_go_spark.core import from_arrow, to_arrow  # noqa: E402
from parquet_go_spark.core.columns import logical_of  # noqa: E402
from parquet_go_spark.core.chunk import decode_chunk, encode_chunk  # noqa: E402

ENCODINGS = {
    "int32": [None, "plain", "delta_bp", "for_bp", "bss", "rle_dict"],
    "int64": [None, "plain", "delta_bp", "for_bp", "bss", "rle_dict"],
    "float32": [None, "plain", "bss", "rle_dict"],
    "float64": [None, "plain", "bss", "alp", "rle_dict"],
    "bool": [None, "plain", "rle_bool"],
    "bytes": [None, "plain", "delta_length", "delta_bytes", "fsst", "zdict", "rle_dict"],
}
COMPRESSIONS = ["none", "zlib", "snappy", "zstd", "lz4"]
PAGES = [256, 4096, 1 << 20]
LENGTHS = [0, 1, 2, 7, 100, 1000, 5000]
NULL_DENSITIES = [0.0, 0.02, 0.5, 0.98]


def _rand_values(rng: np.random.Generator, ptype: str, n: int):
    if ptype in ("int32", "int64"):
        bits = 31 if ptype == "int32" else 62
        kind = rng.integers(4)
        if kind == 0:
            v = rng.integers(-(2**bits), 2**bits, n)
        elif kind == 1:  # tiny range -> dict/RLE-friendly
            v = rng.integers(0, 5, n)
        elif kind == 2:  # sorted-ish -> delta-friendly
            v = np.sort(rng.integers(0, 10**6, n)) + rng.integers(-3, 4, n)
        else:  # extremes
            v = rng.choice(
                np.array([-(2**bits), 2**bits - 1, 0, -1, 1], dtype=np.int64), n
            )
        t = pa.int32() if ptype == "int32" else pa.int64()
        return pa.array(v.astype(np.int64), type=t)
    if ptype in ("float32", "float64"):
        v = rng.normal(size=n)
        specials = np.array([np.nan, np.inf, -np.inf, -0.0, 5e-324, 1e308])
        mask = rng.random(n) < 0.1
        v[mask] = rng.choice(specials, mask.sum())
        if ptype == "float32":
            return pa.array(v.astype(np.float32))
        return pa.array(v)
    if ptype == "bool":
        return pa.array(rng.integers(0, 2, n).astype(bool))
    vocab = [b"", b"x", b"shared-prefix/" + bytes(rng.integers(97, 123, 8)), bytes(rng.integers(0, 256, 40))]
    vals = []
    for _ in range(n):
        k = rng.integers(4)
        if k == 0:
            vals.append(vocab[rng.integers(len(vocab))])
        else:
            vals.append(bytes(rng.integers(0, 256, rng.integers(0, 64))))
    return pa.array(vals, type=pa.binary())


def _with_nulls(rng, arr: pa.Array, density: float) -> pa.Array:
    if density <= 0 or len(arr) == 0:
        return arr
    mask = rng.random(len(arr)) < density
    return pa.array(
        [None if m else v for m, v in zip(mask.tolist(), arr.to_pylist())], type=arr.type
    )


def _bits_equal(a: pa.Array, b: pa.Array) -> bool:
    if a.type != b.type:
        b = b.cast(a.type)
    if len(a) != len(b) or not a.is_null().equals(b.is_null()):
        return False
    if pa.types.is_floating(a.type):
        an = np.asarray(a.fill_null(0.0))
        bn = np.asarray(b.fill_null(0.0))
        view = np.uint32 if an.dtype == np.float32 else np.uint64
        return an.view(view).tobytes() == bn.view(view).tobytes()
    return a.equals(b)


def soak_flat(iters: int, seed: int) -> int:
    rng = np.random.default_rng(seed)
    fails = 0
    for it in range(iters):
        ptype = list(ENCODINGS)[rng.integers(len(ENCODINGS))]
        n = int(rng.choice(LENGTHS))
        arr = _with_nulls(rng, _rand_values(rng, ptype, n), float(rng.choice(NULL_DENSITIES)))
        enc = ENCODINGS[ptype][rng.integers(len(ENCODINGS[ptype]))]
        kw = dict(
            compression=str(rng.choice(COMPRESSIONS)),
            max_page=int(rng.choice(PAGES)),
            page_crc=bool(rng.integers(2)),
            page_stats=bool(rng.integers(2)),
        )
        if enc is not None:
            kw["encoding"] = enc
        else:
            kw["profile"] = "reference" if rng.integers(4) == 0 else "auto"
        try:
            col = from_arrow(arr)
            blob, _meta = encode_chunk(col, **kw)
            back = to_arrow(decode_chunk(blob, logical=col.logical))
            ok = _bits_equal(arr, back)
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"it": it, "ptype": ptype, "enc": enc, "kw": kw, "err": repr(e)}))
            fails += 1
            continue
        if not ok:
            print(json.dumps({"it": it, "ptype": ptype, "enc": enc, "kw": kw, "err": "MISMATCH"}))
            fails += 1
        if (it + 1) % 500 == 0:
            print(f"# flat {it + 1}/{iters} fails={fails}", flush=True)
    return fails


def _rand_nested(rng, depth: int, n: int) -> pa.Array:
    if depth <= 0 or rng.random() < 0.4:
        ptype = list(ENCODINGS)[rng.integers(len(ENCODINGS))]
        return _with_nulls(rng, _rand_values(rng, ptype, n), float(rng.choice([0.0, 0.1, 0.5])))
    kind = rng.integers(3)
    if kind == 0:  # list
        lens = rng.integers(0, 4, n)
        child = _rand_nested(rng, depth - 1, int(lens.sum()))
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), child)
        return _with_nulls_nested(rng, arr)
    if kind == 1:  # struct
        a = _rand_nested(rng, depth - 1, n)
        b = _rand_nested(rng, depth - 1, n)
        arr = pa.StructArray.from_arrays([a, b], ["a", "b"])
        return _with_nulls_nested(rng, arr)
    lens = rng.integers(0, 3, n)
    total = int(lens.sum())
    keys = pa.array([f"k{i}" for i in rng.integers(0, 50, total)], type=pa.string())
    items = _rand_nested(rng, depth - 1, total)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.MapArray.from_arrays(pa.array(offsets, pa.int32()), keys, items)


def _with_nulls_nested(rng, arr: pa.Array) -> pa.Array:
    if len(arr) == 0 or rng.random() < 0.5:
        return arr
    idx = rng.integers(0, len(arr), max(1, len(arr) // 10))
    mask = np.zeros(len(arr), bool)
    mask[idx] = True
    try:
        return pa.array(
            [None if m else v for m, v in zip(mask.tolist(), arr.to_pylist())], type=arr.type
        )
    except Exception:  # map-of-struct etc. may not rebuild from pylist
        return arr


def _norm(v):
    """Recursively map floats to IEEE bit patterns so NaN == NaN."""
    import struct as _struct

    if isinstance(v, float):
        return _struct.pack("<d", v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


def soak_nested(iters: int, seed: int) -> int:
    rng = np.random.default_rng(seed + 777)
    fails = 0
    for it in range(iters):
        n = int(rng.choice([0, 1, 5, 60, 400]))
        try:
            arr = _rand_nested(rng, 3, n)
            if rng.random() < 0.3 and len(arr) > 2:  # nonzero-offset slice
                lo = int(rng.integers(0, len(arr) // 2))
                arr = arr.slice(lo, int(rng.integers(1, len(arr) - lo)))
            col = from_arrow(arr)
            blob, _ = encode_chunk(
                col,
                compression=str(rng.choice(COMPRESSIONS)),
                max_page=int(rng.choice(PAGES)),
            )
            back = to_arrow(decode_chunk(blob, logical=logical_of(col)))
            combined = pa.chunked_array([arr]).combine_chunks()
            # NaN-safe structural compare: to_pylist equality is False
            # for any NaN leaf (nan != nan) — normalize floats to their
            # IEEE bit patterns first (the original soak's false-alarm
            # class)
            if _norm(back.cast(combined.type).to_pylist()) != _norm(combined.to_pylist()):
                raise AssertionError("MISMATCH")
        except AssertionError as e:
            print(json.dumps({"nested_it": it, "n": n, "err": repr(e)}))
            fails += 1
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"nested_it": it, "n": n, "err": repr(e)}))
            fails += 1
        if (it + 1) % 200 == 0:
            print(f"# nested {it + 1}/{iters} fails={fails}", flush=True)
    return fails


def soak_parquet(iters: int, seed: int) -> int:
    """Real-Parquet interop leg: random (flat or nested) tables through
    this engine's write_parquet, read back with PYARROW (the foreign
    reader is the oracle), compared NaN-safe. Random row-group sizes,
    page versions, compressions, and page-index/crc flags."""
    import io

    import pyarrow.parquet as pq

    from parquet_go_spark.compat.parquet_writer import write_parquet

    rng = np.random.default_rng(seed + 31337)
    fails = 0
    for it in range(iters):
        n = int(rng.choice([0, 1, 7, 200, 1500]))
        ncols = int(rng.integers(1, 4))
        cols = {}
        for c in range(ncols):
            if rng.random() < 0.35:
                arr = _rand_nested(rng, 2, n)
            else:
                ptype = list(ENCODINGS)[rng.integers(len(ENCODINGS))]
                arr = _with_nulls(
                    rng, _rand_values(rng, ptype, n), float(rng.choice(NULL_DENSITIES))
                )
            cols[f"c{c}"] = arr
        tbl = pa.table(cols)
        kw = dict(
            compression=str(rng.choice(["none", "snappy", "zstd", "gzip"])),
            max_page=int(rng.choice(PAGES)),
            max_row_group=int(rng.choice([0, 3, 100, 0])) or None,
            page_version=int(rng.choice([1, 2])),
            crc=bool(rng.integers(2)),
            page_index=bool(rng.integers(2)),
        )
        try:
            buf = write_parquet(tbl, **kw)
            back = pq.read_table(io.BytesIO(buf))
            ok = _norm(back.to_pylist()) == _norm(tbl.to_pylist())
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"pq_it": it, "n": n, "kw": kw, "err": repr(e)}))
            fails += 1
            continue
        if not ok:
            print(json.dumps({"pq_it": it, "n": n, "kw": kw, "err": "MISMATCH"}))
            fails += 1
        if (it + 1) % 200 == 0:
            print(f"# parquet {it + 1}/{iters} fails={fails}", flush=True)
    return fails


def soak_parquet_foreign(iters: int, seed: int) -> int:
    """The reverse interop leg: PYARROW writes random flat tables whose
    columns repeat each value 1-20 times (dictionary pages whose index
    streams mix bit-packed and RLE runs, which this engine's writer never
    emits), with nulls, V1 and V2 data pages and small pages; this
    engine's ``read_table_arrow`` reads them back, compared NaN-safe."""
    import io

    import pyarrow.parquet as pq

    from parquet_go_spark.compat.parquet_reader import read_table_arrow

    rng = np.random.default_rng(seed + 4242)
    fails = 0
    for it in range(iters):
        n = int(rng.choice([1, 7, 200, 1500, 5000]))
        cols = {}
        for c in range(int(rng.integers(1, 4))):
            ptype = str(rng.choice(["int32", "int64", "float32", "float64", "bytes"]))
            runs = rng.integers(1, 21, n)
            distinct = _rand_values(rng, ptype, len(runs))
            arr = distinct.take(pa.array(np.repeat(np.arange(len(runs)), runs)[:n]))
            cols[f"c{c}"] = _with_nulls(rng, arr, float(rng.choice(NULL_DENSITIES)))
        tbl = pa.table(cols)
        kw = dict(
            compression=str(rng.choice(["none", "snappy", "zstd", "gzip"])),
            data_page_version=str(rng.choice(["1.0", "2.0"])),
            data_page_size=int(rng.choice([256, 4096, 1 << 20])),
            row_group_size=int(rng.choice([100, 1000, 1 << 20])),
        )
        try:
            sink = io.BytesIO()
            pq.write_table(tbl, sink, use_dictionary=True, **kw)
            back = read_table_arrow(sink.getvalue())
            ok = _norm(back.to_pylist()) == _norm(tbl.to_pylist())
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"pqf_it": it, "n": n, "kw": kw, "err": repr(e)}))
            fails += 1
            continue
        if not ok:
            print(json.dumps({"pqf_it": it, "n": n, "kw": kw, "err": "MISMATCH"}))
            fails += 1
        if (it + 1) % 200 == 0:
            print(f"# parquet-foreign {it + 1}/{iters} fails={fails}", flush=True)
    return fails


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=2000)
    ap.add_argument("--nested-iters", type=int, default=500)
    ap.add_argument("--parquet-iters", type=int, default=500)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    f1 = soak_flat(args.iters, args.seed)
    f2 = soak_nested(args.nested_iters, args.seed)
    f3 = soak_parquet(args.parquet_iters, args.seed)
    f3 += soak_parquet_foreign(args.parquet_iters, args.seed)
    print(
        json.dumps(
            {
                "flat_iters": args.iters,
                "nested_iters": args.nested_iters,
                "parquet_iters": args.parquet_iters,
                "seed": args.seed,
                "failures": f1 + f2 + f3,
            }
        )
    )
    return 1 if (f1 + f2 + f3) else 0


if __name__ == "__main__":
    raise SystemExit(main())
