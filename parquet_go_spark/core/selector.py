"""Per-column-chunk codec auto-selection.

The reference's only decision is dictionary-vs-fallback at 32,767 distinct
values (``chunk_writer.go:174-227``, ``type_dict.go:101-103``). The north
star extends it: choose among {RLE_DICTIONARY (BP or RLE index runs),
plain RLE, FSST, DELTA_BINARY_PACKED (frame-of-reference on deltas),
DELTA_LENGTH/DELTA_BYTE_ARRAY, BYTE_STREAM_SPLIT, PLAIN} using sampled
cardinality / run-length / prefix statistics and sample encodings.

The selection is cost-aware: each candidate's estimated output bytes are
scaled by a relative CPU-cost penalty so an expensive codec (FSST) only
wins when its size advantage is real. The reference decision is the
strict special case ``profile="reference"`` in chunk.py.

One-probe contract: every expensive per-chunk probe runs at most once
per chunk — the zdict plan (trained dict, entropy coder and DEFLATE
level, from ``bytearrays.plan_zdict`` over the whole column), the FSST
symbol table and the ALP parameter search. Its result is the candidate's
``hint``: the sample re-estimates reuse it, and ``encode_chunk`` hands the
chosen encoding's hint to every page instead of probing again (ALP
pages only re-search when a page diverges from the hint).
"""

from __future__ import annotations

import numpy as np

from ..kernels import alp, bytearrays, deltabp, dictenc, forbp, hybrid
from .columns import ColumnData

__all__ = ["choose_encoding", "COST_PENALTY"]

DICT_MAX = 32767
SAMPLE_VALUES = 1 << 16
SAMPLE_BYTES = 1 << 17

# relative CPU-cost penalty per codec (fraction of size advantage it must
# beat); tuned for the vectorized kernels' measured MB/s on this engine.
COST_PENALTY = {
    "plain": 0.0,
    "rle_bool": 0.0,
    "rle_dict": 0.03,
    "delta_bp": 0.03,
    "for_bp": 0.01,  # encode/decode are one pack/unpack pass, no prefix-sum
    "delta_length": 0.02,
    "delta_bytes": 0.08,
    "bss": 0.02,
    "fsst": 0.60,
    "zdict": 0.20,  # DEFLATE ~75-250 MB/s/core vs snappy's ~500
    "alp": 0.04,  # one rint/verify pass + the for_bp pack
}


def _sample_distinct_ratio(col: ColumnData, k: int = 4096) -> float:
    n = col.num_values
    if n == 0:
        return 0.0
    k = min(k, n)
    if col.ptype == "flba":
        w = col.type_length
        vals = col.data[: k * w].reshape(k, w).astype(np.uint64)
        pw = np.array([1 << (8 * (i % 8)) for i in range(w)], dtype=np.uint64)
        h = (vals * pw[None, :]).sum(axis=1, dtype=np.uint64)
        return len(np.unique(h)) / k
    if col.ptype == "bytes":
        # hash length + first 8 + last 8 bytes as a cheap distinct proxy;
        # a weak proxy (length+first byte) collides on long near-unique
        # columns and triggers a pointless full factorize
        lens = col.lengths[:k].astype(np.int64)
        starts = np.concatenate([[0], np.cumsum(col.lengths)[:-1]])[:k].astype(np.int64)
        ends = starts + lens
        hi = int(ends.max()) if k else 0
        pad = np.concatenate([col.data[:hi], np.zeros(8, np.uint8)])
        off = np.arange(8)
        pw = np.array([1 << (8 * i) for i in range(8)], dtype=np.uint64)
        fidx = starts[:, None] + off
        fvals = pad[fidx] * (off[None, :] < lens[:, None])
        h1 = fvals.astype(np.uint64) @ pw
        lidx = np.maximum(ends[:, None] - 8 + off, starts[:, None])
        h2 = pad[lidx].astype(np.uint64) @ pw
        h = h1 * np.uint64(0x9E3779B97F4A7C15) ^ h2 ^ lens.astype(np.uint64)
        return len(np.unique(h)) / k
    return len(np.unique(col.values[:k])) / k


def choose_encoding(col: ColumnData, compression: str = "none"):
    """-> (encoding, codes, uniques, distinct, dict_size, hint).

    ``hint`` is the chosen encoding's chunk-level probe result, or None:
    the FSST symbol table (trained on the full column or a strided
    sample), the zdict :class:`~..kernels.bytearrays.ZdictPlan` or the
    ALP parameters. Every probe runs once per chunk: the sample
    re-estimates below and the chunk encoder reuse the same hint, so
    FSST trains once and the zdict dict, codec and level are each
    decided once."""
    from .chunk import _compress, _factorize

    n = col.num_values
    if n == 0:
        if col.ptype == "bool":
            return "plain", None, None, 0, 0, None
        return "rle_dict", np.empty(0, np.int32), None, 0, 0, None

    if col.ptype == "bool":
        u = col.values.astype(np.uint64)
        rle = hybrid.rle_size(u, 1) + 4
        plain_sz = (n + 7) // 8
        return ("rle_bool" if rle < plain_sz else "plain"), None, None, min(2, n), 0, None

    # dictionary candidacy: skip the full factorize when a sample shows
    # near-unique data (the reference pays the map anyway; we don't)
    codes = uniques = None
    distinct = -1
    dict_size = 0
    est: dict[str, float] = {}
    sample_ratio = _sample_distinct_ratio(col)
    if sample_ratio < 0.9 or n <= 8192:
        codes, uniques, distinct = _factorize(col)
        if distinct <= DICT_MAX:
            dict_size = distinct
            bw = dictenc.index_bit_width(dict_size)
            idx_u = codes.astype(np.uint64)
            idx_stream = min(hybrid.bp_size(n, bw), hybrid.rle_size(idx_u, bw)) + 1
            # dict page size is exactly computable — never encode it here
            if uniques is None or not dict_size:
                dict_page = 0
            elif col.ptype == "bytes":
                dict_page = int(uniques.lengths.sum()) + 4 * dict_size
            else:
                dict_page = dict_size * (4 if col.ptype in ("int32", "float") else 8)
            est["rle_dict"] = dict_page + idx_stream

    hints: dict = {}  # per-candidate chunk hint: probed once, reused by every encode
    zdict_penalty = COST_PENALTY["zdict"]
    z_sample = (-1, b"")  # (value count, encoding) of the zdict prefix sample
    if col.ptype == "bytes":
        total = int(col.lengths.sum())
        est["plain"] = total + 4 * n
        # delta_length: lengths stream is cheap to encode exactly
        lens_enc = deltabp.encode(col.lengths.astype(np.int32), 32)
        est["delta_length"] = total + len(lens_enc)
        # zdict: entropy coding of the value stream under the chunk's
        # one plan (dict, codec, level — probed on the whole column),
        # estimated on a byte-capped prefix sample (the ratio is
        # positionally stable on one column's data)
        if total >= 4096:
            plan = hints["zdict"] = bytearrays.plan_zdict(col.lengths, col.data)
            zk = min(n, int(np.searchsorted(np.cumsum(col.lengths), SAMPLE_BYTES)) + 1)
            z_total = int(col.lengths[:zk].sum())
            z_enc = bytearrays.encode_zdict(
                col.lengths[:zk], col.data[:z_total], plan.zdict, level=plan.level, codec=plan.codec
            )
            # zstd-3 runs at ~330 MB/s/core (vs DEFLATE's 20-105), so
            # when it wins the codec the encoding's CPU-cost penalty
            # drops accordingly
            if plan.codec == 1:
                zdict_penalty = 0.08
            z_sample = (zk, z_enc)
            est["zdict"] = (
                len(z_enc) / max(z_total + 4 * zk, 1) * (total + 4 * n) + len(plan.zdict)
            )
        # delta_bytes: prefix savings measured on a byte-capped prefix
        # sample (prefix sharing is positionally local, so a contiguous
        # sample is unbiased) plus the cost of both delta-BP length streams
        if total <= 4 * SAMPLE_BYTES:
            s_k, s_total = n, total
        else:
            s_k = min(n, int(np.searchsorted(np.cumsum(col.lengths), 4 * SAMPLE_BYTES)) + 1)
            s_total = int(col.lengths[:s_k].sum())
        prefixes = bytearrays.common_prefix_lengths(col.lengths[:s_k], col.data[:s_total])
        saved = int(prefixes.sum() * (total / max(s_total, 1)))
        if saved > total // 20:
            pfx_enc = deltabp.encode(prefixes.astype(np.int32), 32)
            sfx_enc = deltabp.encode((col.lengths[:s_k] - prefixes).astype(np.int32), 32)
            scale = n / max(s_k, 1)
            est["delta_bytes"] = (total - saved) + int((len(pfx_enc) + len(sfx_enc)) * scale)
        # fsst: train on one strided string sample, estimate on a DISJOINT
        # strided sample — a prefix estimate overlaps the training strings
        # and overstates the ratio badly on heterogeneous columns.
        # Budgets scale with chunk size so the selector's fixed cost stays
        # a bounded fraction of the encode itself on small chunks.
        # Skip candidacy outright when the entropy-coded estimate is
        # already strong: FSST's table (<=255 symbols of <=8 bytes)
        # tops out well under what it would need to overcome its 0.60
        # cost penalty from there, and train+trial-encode is the
        # selector's single most expensive probe (~40% of selector time
        # on web-text chunks). Against slow DEFLATE (penalty 0.20) FSST
        # stays a candidate below 4x; against zstd-3 (penalty 0.08) it
        # must be ~1.5x smaller still, which only happens when zstd
        # itself does poorly — below ~2x.
        # Candidacy also needs enough bytes to amortize the probe's fixed
        # kernel cost (symbol-table construction + two strided gathers is
        # ~60 ms regardless of sample size — on a 64 KiB chunk that is
        # pure selector tax, on a 64 MiB production chunk it is noise).
        z_gate = total / (2 if zdict_penalty == 0.08 else 4)
        if total >= 1 << 18 and est.get("zdict", float("inf")) > z_gate:
            from ..kernels import fsst as _fsst

            sample_bytes = int(min(SAMPLE_BYTES, max(total // 8, 4096)))
            train_bytes = int(min(1 << 16, max(total // 16, 4096)))
            n_strs = len(col.lengths)
            starts = np.concatenate([[0], np.cumsum(col.lengths)[:-1]])
            if total <= 2 * sample_bytes:
                table = hints["fsst"] = _fsst.train(col.lengths, col.data, sample_bytes=train_bytes)
                s_enc = _fsst.encode_column(col.lengths, col.data, table)
                est["fsst"] = float(len(s_enc))
            else:
                from .columns import gather_segments

                avg = total / max(n_strs, 1)
                k = max(2, min(n_strs // 2, int(sample_bytes / max(avg, 1))))
                idx = np.linspace(0, n_strs - 1, 2 * k).astype(np.int64)
                idx_a, idx_b = np.unique(idx[0::2]), np.unique(idx[1::2])
                lens_a, lens_b = col.lengths[idx_a], col.lengths[idx_b]
                data_a = gather_segments(col.data, starts[idx_a], lens_a)
                data_b = gather_segments(col.data, starts[idx_b], lens_b)
                b_total = int(lens_b.sum())
                if b_total > 0:
                    table = hints["fsst"] = _fsst.train(lens_a, data_a, sample_bytes=train_bytes)
                    s_enc = _fsst.encode_column(lens_b, data_b, table)
                    est["fsst"] = len(s_enc) / b_total * total
    elif col.ptype == "flba":
        est["plain"] = n * col.type_length
        if compression != "none":
            est["bss"] = n * col.type_length * 0.999  # wins only via compression
    else:
        itemsize = 4 if col.ptype in ("int32", "float") else 8
        est["plain"] = n * itemsize
        if col.ptype in ("int32", "int64"):
            bits = 32 if col.ptype == "int32" else 64
            k = min(n, SAMPLE_VALUES)
            s_enc = deltabp.encode(col.values[:k], bits)
            est["delta_bp"] = len(s_enc) / max(k * itemsize, 1) * n * itemsize
            # frame-of-reference on values: closed-form exact size (one
            # min/max pass over the full column — no sample encode needed)
            est["for_bp"] = forbp.estimate_size(col.values, bits)
        if compression != "none" and col.ptype in ("float", "double", "int64", "int32"):
            est["bss"] = n * itemsize * 0.999  # wins only via compression, below
        if col.ptype in ("float", "double"):
            # ALP (VLDB'24): decimal-representable floats become a FOR'd
            # digit stream; the sample estimate prices exceptions in, so
            # noise columns never rank it. The parameter search runs
            # once here and rides sel_aux to every page as the chunk
            # hint (encode verifies per page, re-searches on divergence)
            hints["alp"] = alp.choose_params(col.values)
            est["alp"] = alp.estimate_size(col.values, hints["alp"])

    if compression != "none":
        # re-estimate the top candidates on compressed sample encodings
        from .chunk import _encode_values

        ranked = sorted(est, key=est.get)[:3]
        if "bss" not in ranked and "bss" in est:
            ranked.append("bss")
        for e in ranked:
            try:
                k = min(n, 8192)
                if col.ptype == "bytes":
                    # byte-capped sample: 8192 long strings could be tens of MB
                    k = min(k, int(np.searchsorted(np.cumsum(col.lengths), SAMPLE_BYTES)) + 1)
                    dhi = int(col.lengths[:k].sum())
                    if e == "zdict" and k == z_sample[0]:
                        enc_s = z_sample[1]  # the same prefix, already encoded above
                    else:
                        enc_s = _encode_values(e, col, 0, k, 0, dhi, codes, dict_size, "auto", hints.get(e))
                    raw_s = dhi + 4 * k
                elif col.ptype == "flba":
                    dhi = k * col.type_length
                    enc_s = _encode_values(e, col, 0, k, 0, dhi, codes, dict_size, "auto", hints.get(e))
                    raw_s = dhi
                else:
                    enc_s = _encode_values(e, col, 0, k, 0, 0, codes, dict_size, "auto", hints.get(e))
                    raw_s = k * (4 if col.ptype in ("int32", "float") else 8)
                comp_s = len(_compress(enc_s, compression))
                est[e] = comp_s / max(raw_s, 1) * est.get("plain", raw_s)
            except Exception:
                pass

    penalty = dict(COST_PENALTY, zdict=zdict_penalty)
    best = min(est, key=lambda e: est[e] * (1.0 + penalty[e]))
    if best != "rle_dict":
        codes = uniques = None
        dict_size = 0
    return best, codes, uniques, distinct, dict_size, hints.get(best)
