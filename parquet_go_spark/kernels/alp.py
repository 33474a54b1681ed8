"""ALP — Adaptive Lossless floating-Point compression (Afroozeh & Boncz,
"ALP: Adaptive Lossless floating-Point Compression", VLDB 2024), decimal
scheme. Most real-world floats are decimals: ``v == round(v * 10^e) /
10^e`` bit-exactly for some small ``e``. The digit stream is then a
bounded-range integer column and rides the existing frame-of-reference +
bit-pack kernel (``kernels/forbp.py``); values the decimal scheme cannot
reproduce bit-for-bit (noise, NaN, ±Inf, > 2^62 digits) are patched
exceptions stored raw.

The reference has no float codec beyond PLAIN (``type_float.go`` /
``type_double.go``); this extends the north-star lightweight-codec
family to float/double columns (prices, scores, coordinates), where
BYTE_STREAM_SPLIT only helps the downstream block compressor.

When the decimal scheme would drown in exceptions (true random reals —
embedding vectors, sensor noise), the encoder switches to the paper's
companion **ALP-RD** ("real doubles"): split each value's IEEE bits at a
searched cut point into a <=16-bit LEFT part (sign + exponent + top
mantissa — few distinct patterns, dictionary-coded) and an
incompressible RIGHT part stored bit-packed verbatim. Byte-plane
transforms + block codecs get ~0% on such data (zstd leaves these
embeddings at 0.93 of raw); ALP-RD's cut is bit-aligned, not
byte-aligned, so it still removes the exponent redundancy.

Wire format (all LE) — first byte selects the scheme:
  scheme 0 (decimal):
    u8=0, u8 e (0..18), u32 n_exc, u32*n_exc positions,
    raw*n_exc exception values, forbp int64 digit stream
    (exceptions carry a filler digit)
  scheme 1 (RD):
    u8=1, u8 rb (right width), u16 dict_len,
    u16*dict_len left dictionary (frequency-ordered),
    u32 n_exc, u32*n_exc positions, u16*n_exc raw left parts
    (exception codes point at dict slot 0),
    bitpack(codes, ceil(log2(dict_len))), bitpack(rights, rb)

Decode of scheme 0 is division by the exactly-representable double
``10^e`` (correctly rounded, e <= 18 < 2^53), the same expression the
encoder verifies against — round-trips are bit-identical BY CONSTRUCTION
for every input, including -0.0 and every NaN payload (verification
compares IEEE bit patterns, not float equality). Scheme 1 is a pure
bit-level reshuffle: always exact.
"""

from __future__ import annotations

import struct

import numpy as np

from . import bitpack, forbp

__all__ = ["encode", "decode", "estimate_size", "choose_params"]

_MAX_E = 18
_SAMPLE = 1024
_RD_DICT_MAX = 256  # paper: left dictionary capped at 8-bit codes


def _decode_expr(digits: np.ndarray, e: int, dtype: np.dtype) -> np.ndarray:
    scale = 10.0**e  # exact double for e <= 22
    out = digits.astype(np.float64) / scale
    if dtype == np.dtype(np.float32):
        return out.astype(np.float32)
    return out


def _digits_and_exceptions(values: np.ndarray, e: int):
    """(int64 digits, exception mask) for exponent ``e`` — exception =
    decode would not reproduce the input bits."""
    v64 = values.astype(np.float64)
    with np.errstate(invalid="ignore", over="ignore"):
        scaled = np.rint(v64 * (10.0**e))
    ok = np.isfinite(scaled) & (np.abs(scaled) < float(1 << 62))
    digits = np.zeros(len(values), np.int64)
    digits[ok] = scaled[ok].astype(np.int64)
    dec = _decode_expr(digits, e, values.dtype)
    ibits = np.uint32 if values.dtype == np.dtype(np.float32) else np.uint64
    exact = dec.view(ibits) == values.view(ibits)
    return digits, ~(ok & exact)


def _choose_e(values: np.ndarray) -> int:
    """Smallest exponent minimizing (exceptions, digit range) on a
    strided sample — the ALP paper's (e, f) search collapsed to one
    scan because our digit stream is FOR-encoded (the frame absorbs
    any common power-of-ten factor's magnitude, so only the exception
    count and bit width matter)."""
    n = len(values)
    sample = values[:: max(n // _SAMPLE, 1)][:_SAMPLE]
    best_e, best_cost = 0, float("inf")
    for e in range(_MAX_E + 1):
        digits, exc = _digits_and_exceptions(sample, e)
        good = digits[~exc]
        if len(good):
            spread = int(good.max()) - int(good.min())
            bits = int(spread).bit_length()
        else:
            bits = 64
        itemsize = values.dtype.itemsize
        cost = len(sample) * bits / 8.0 + int(exc.sum()) * (itemsize + 4)
        if cost < best_cost - 1e-9:
            best_e, best_cost = e, cost
    return best_e


def _rd_bounds(dtype: np.dtype) -> tuple[int, int, int]:
    """(total_bits, rb_min, rb_max): left part capped at 16 bits."""
    if dtype == np.dtype(np.float32):
        return 32, 16, 31
    return 64, 48, 63


def _rd_choose_rb(values: np.ndarray) -> int:
    """Cut-point search on a sample: minimize code+right+exception bits
    (paper's ALP-RD split search, left <= 16 bits, dict <= 256)."""
    total, lo, hi = _rd_bounds(values.dtype)
    ibits = np.uint32 if total == 32 else np.uint64
    n = len(values)
    sample = values[:: max(n // _SAMPLE, 1)][:_SAMPLE]
    bits = sample.view(ibits).astype(np.uint64)
    best_rb, best_cost = lo, float("inf")
    for rb in range(lo, hi + 1):
        left = bits >> np.uint64(rb)
        _uniq, counts = np.unique(left, return_counts=True)
        order = np.argsort(counts)[::-1]
        kept = counts[order][:_RD_DICT_MAX]
        n_exc = int(counts.sum() - kept.sum())
        code_bits = max(int(len(kept) - 1).bit_length(), 1)
        cost = len(sample) * (code_bits + rb) / 8.0 + n_exc * 6
        if cost < best_cost - 1e-9:
            best_rb, best_cost = rb, cost
    return best_rb


def _pad8(a: np.ndarray) -> np.ndarray:
    pad = (-len(a)) % 8
    if pad:
        return np.concatenate([a, np.zeros(pad, a.dtype)])
    return a


def _encode_rd(values: np.ndarray, rb: int | None = None) -> bytes:
    total, _lo, _hi = _rd_bounds(values.dtype)
    ibits = np.uint32 if total == 32 else np.uint64
    if rb is None:
        rb = _rd_choose_rb(values)
    bits = values.view(ibits).astype(np.uint64)
    left = (bits >> np.uint64(rb)).astype(np.uint16)  # left width <= 16
    right = bits & np.uint64((1 << rb) - 1)
    uniq, counts = np.unique(left, return_counts=True)
    order = np.argsort(counts)[::-1]
    dict_lefts = uniq[order][:_RD_DICT_MAX]
    code_of = np.full(1 << 16, -1, np.int32)
    code_of[dict_lefts] = np.arange(len(dict_lefts), dtype=np.int32)
    codes = code_of[left]
    exc = codes < 0
    pos = np.flatnonzero(exc).astype(np.uint32)
    codes[exc] = 0  # decoder overwrites from the raw left parts
    code_bits = max(int(len(dict_lefts) - 1).bit_length(), 1)
    out = bytearray()
    out.append(1)
    out.append(rb)
    out += struct.pack("<H", len(dict_lefts))
    out += dict_lefts.astype("<u2").tobytes()
    out += struct.pack("<I", len(pos))
    out += pos.tobytes()
    out += left[exc].astype("<u2").tobytes()
    out += bitpack.pack(_pad8(codes.astype(np.uint64)), code_bits)
    out += bitpack.pack(_pad8(right), rb)
    return bytes(out)


def _decode_rd(payload, pos: int, nvals: int, dtype: np.dtype) -> tuple[np.ndarray, int]:
    total, lo, hi = _rd_bounds(dtype)
    rb = payload[pos + 1]
    if not (lo <= rb <= hi):
        raise ValueError(f"alp-rd: bad right width {rb}")
    pos += 2
    (dict_len,) = struct.unpack_from("<H", payload, pos)
    pos += 2
    if not (1 <= dict_len <= _RD_DICT_MAX):
        raise ValueError(f"alp-rd: bad dictionary size {dict_len}")
    dict_lefts = np.frombuffer(payload, "<u2", dict_len, pos)
    pos += 2 * dict_len
    (n_exc,) = struct.unpack_from("<I", payload, pos)
    pos += 4
    if n_exc > nvals:
        raise ValueError(f"alp-rd: {n_exc} exceptions > {nvals} values")
    exc_pos = np.frombuffer(payload, np.uint32, n_exc, pos)
    pos += 4 * n_exc
    exc_left = np.frombuffer(payload, "<u2", n_exc, pos)
    pos += 2 * n_exc
    padded = -(-nvals // 8) * 8
    code_bits = max(int(dict_len - 1).bit_length(), 1)
    need = bitpack.packed_size(padded, code_bits)
    if pos + need > len(payload):
        raise ValueError("alp-rd: truncated code stream")
    codes = bitpack.unpack(np.frombuffer(payload, np.uint8, need, pos), code_bits, padded)[:nvals]
    pos += need
    need = bitpack.packed_size(padded, rb)
    if pos + need > len(payload):
        raise ValueError("alp-rd: truncated right stream")
    right = bitpack.unpack(np.frombuffer(payload, np.uint8, need, pos), rb, padded)[:nvals]
    pos += need
    if (codes >= dict_len).any() or (n_exc and exc_pos.max(initial=0) >= nvals):
        raise ValueError("alp-rd: code or exception position out of range")
    left = dict_lefts[codes.astype(np.int64)].astype(np.uint64)
    if n_exc:
        left[exc_pos] = exc_left.astype(np.uint64)
    bits = (left << np.uint64(rb)) | right.astype(np.uint64)
    if dtype == np.dtype(np.float32):
        return bits.astype(np.uint32).view(np.float32), pos
    return bits.view(np.float64), pos


def _decimal_cost(values: np.ndarray, e: int) -> float:
    """Sampled bytes/value for the decimal scheme at exponent ``e``."""
    n = len(values)
    sample = values[:: max(n // _SAMPLE, 1)][:_SAMPLE]
    if not len(sample):
        return 0.0
    digits, exc = _digits_and_exceptions(sample, e)
    good = digits[~exc]
    bits = max(int(int(good.max()) - int(good.min())).bit_length(), 1) if len(good) else 64
    return bits / 8.0 + float(exc.mean()) * (values.dtype.itemsize + 4)


def _rd_cost(values: np.ndarray, rb: int) -> float:
    """Sampled bytes/value for the RD scheme at right width ``rb``."""
    n = len(values)
    sample = values[:: max(n // _SAMPLE, 1)][:_SAMPLE]
    if not len(sample):
        return 0.0
    total, _lo, _hi = _rd_bounds(values.dtype)
    ibits = np.uint32 if total == 32 else np.uint64
    left = sample.view(ibits).astype(np.uint64) >> np.uint64(rb)
    _u, counts = np.unique(left, return_counts=True)
    kept = counts[np.argsort(counts)[::-1]][:_RD_DICT_MAX]
    exc_rate = 1.0 - float(kept.sum()) / len(sample)
    code_bits = max(int(len(kept) - 1).bit_length(), 1)
    return (code_bits + rb) / 8.0 + exc_rate * 6


def choose_params(values: np.ndarray) -> dict:
    """Chunk-level parameter search (VERDICT r2 #4): run the full
    exponent scan and RD cut-point scan ONCE per chunk and hand the
    result to every page via ``encode(hint=...)``. Pages verify the
    hint with two cost probes plus neighbor checks and re-search only
    on failure — a heterogeneous page never gets a bad codec, a
    homogeneous chunk (the normal case) pays the search once."""
    return {"e": _choose_e(values), "rb": _rd_choose_rb(values)}


def encode(values: np.ndarray, hint: dict | None = None) -> bytes:
    if values.dtype not in (np.dtype(np.float32), np.dtype(np.float64)):
        raise ValueError(f"alp encodes float32/float64, got {values.dtype}")
    n = len(values)
    # exception positions are u32 in both schemes; page sizing keeps
    # chunks far below this, but make the invariant explicit
    if n >= 1 << 32:
        raise ValueError(f"alp page too large for u32 exception positions: {n} values")
    if hint is not None and n:
        e, rb = int(hint["e"]), int(hint["rb"])
        dc, rc = _decimal_cost(values, e), _rd_cost(values, rb)
        _total, rb_lo, rb_hi = _rd_bounds(values.dtype)
        if rc < dc:
            # verify the hinted cut is still locally optimal here
            for nb in (rb - 1, rb + 1):
                if rb_lo <= nb <= rb_hi and _rd_cost(values, nb) < rc * 0.95:
                    rb = _rd_choose_rb(values)  # page diverged: re-search
                    break
            return _encode_rd(values, rb)
        for nb in (e - 1, e + 1):
            if 0 <= nb <= _MAX_E and _decimal_cost(values, nb) < dc * 0.95:
                e = _choose_e(values)  # page diverged: re-search
                break
    else:
        e = _choose_e(values)
        if n and _rd_cost(values, _rd_choose_rb(values)) < _decimal_cost(values, e):
            # paper's scheme switch: reals that aren't decimals go ALP-RD
            return _encode_rd(values)
    digits, exc = _digits_and_exceptions(values, e)
    pos = np.flatnonzero(exc).astype(np.uint32)
    # filler keeps the FOR frame tight (paper: first non-exception digit)
    valid = digits[~exc]
    if len(pos) and len(valid):
        digits[exc] = valid[0]
    out = bytearray()
    out.append(0)
    out.append(e)
    out += struct.pack("<I", len(pos))
    out += pos.tobytes()
    out += values[exc].tobytes()
    out += forbp.encode(digits, 64)
    return bytes(out)


def decode(payload, pos: int, nvals: int, dtype) -> tuple[np.ndarray, int]:
    dtype = np.dtype(dtype)
    scheme = payload[pos]
    if scheme == 1:
        return _decode_rd(payload, pos, nvals, dtype)
    if scheme != 0:
        raise ValueError(f"alp: unknown scheme {scheme}")
    pos += 1
    e = payload[pos]
    pos += 1
    if e > _MAX_E:
        raise ValueError(f"alp: bad exponent {e}")
    (n_exc,) = struct.unpack_from("<I", payload, pos)
    pos += 4
    if n_exc > nvals:
        raise ValueError(f"alp: {n_exc} exceptions > {nvals} values")
    exc_pos = np.frombuffer(payload, np.uint32, n_exc, pos)
    pos += 4 * n_exc
    exc_vals = np.frombuffer(payload, dtype, n_exc, pos)
    pos += dtype.itemsize * n_exc
    digits, pos = forbp.decode(payload, pos, 64, nvals)
    if len(digits) < nvals or (n_exc and exc_pos.max(initial=0) >= nvals):
        raise ValueError("alp: truncated digit stream or bad exception position")
    vals = _decode_expr(digits[:nvals], e, dtype)
    if n_exc:
        vals[exc_pos] = exc_vals
    return vals, pos


def estimate_size(values: np.ndarray, params: dict | None = None) -> float:
    """Sample-based size estimate for the selector (same shape as the
    kernels' other closed-form estimates): min of the decimal and RD
    schemes, matching what encode() would pick. Pass ``params`` from
    ``choose_params`` to reuse an already-run search."""
    n = len(values)
    if n == 0:
        return 6.0
    p = params if params is not None else choose_params(values)
    per_val = min(_decimal_cost(values, p["e"]), _rd_cost(values, p["rb"]))
    return 10.0 + n * per_val
