"""FSST (Fast Static Symbol Table) string compression, numpy-vectorized.

No reference implementation exists in fraugster/parquet-go (README.md:44
region lists only the standard encodings); this follows the published FSST
design (Boncz, Neumann, Leis: "FSST: Fast Random Access String
Compression", VLDB 2020): a table of up to 255 symbols of 1-8 bytes, each
replaced by a 1-byte code; byte 255 escapes a literal. The table is
trained bottom-up over a sample in a few generations by pairing adjacent
parsed symbols and keeping the top candidates by gain = count * length.

Everything is vectorized:
  * candidate matching uses 8-byte little-endian windows (`uint64` keys)
    against per-length sorted key tables (np.searchsorted);
  * the inherently sequential greedy parse (next token starts where the
    previous match ended) is resolved with pointer doubling: the "visited"
    set of the jump chain is computed in O(log n) numpy passes;
  * symbols never cross string boundaries, so one global parse handles the
    whole concatenated column and per-string lengths fall out of a
    bincount.

Column wire format (this engine's own, FSST has no Parquet layout):
  uvarint(symbol_count) | per symbol: 1 byte len + bytes
  | DELTA_BINARY_PACKED int32 stream of per-string compressed lengths
  | compressed bytes.
"""

from __future__ import annotations

import numpy as np

from . import deltabp
from .varint import read_uvarint, uvarint

__all__ = ["train", "encode_column", "decode_column", "SymbolTable"]

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_LEN = 8
_POW = np.array([1 << (8 * i) for i in range(8)], dtype=np.uint64)
_MASKS = [np.uint64(0)] + [np.uint64((1 << (8 * l)) - 1) for l in range(1, 8)] + [np.uint64(0xFFFFFFFFFFFFFFFF)]
_MASKS_ARR = np.array(_MASKS, dtype=np.uint64)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


class SymbolTable:
    """Sorted per-length key tables + code lookup + decode matrix."""

    def __init__(self, symbols: list[bytes]):
        self.symbols = symbols[:MAX_SYMBOLS]
        self.keys_by_len: dict[int, np.ndarray] = {}
        self.codes_by_len: dict[int, np.ndarray] = {}
        by_len: dict[int, list[tuple[int, int]]] = {}
        for code, s in enumerate(self.symbols):
            k = int.from_bytes(s.ljust(8, b"\0"), "little")
            by_len.setdefault(len(s), []).append((k, code))
        for l, pairs in by_len.items():
            pairs.sort()
            self.keys_by_len[l] = np.array([p[0] for p in pairs], dtype=np.uint64)
            self.codes_by_len[l] = np.array([p[1] for p in pairs], dtype=np.int32)
        # decode side
        n = len(self.symbols)
        self.sym_matrix = np.zeros((n + 1, MAX_LEN), dtype=np.uint8)
        self.sym_lens = np.ones(n + 1, dtype=np.int64)
        for code, s in enumerate(self.symbols):
            self.sym_matrix[code, : len(s)] = np.frombuffer(s, np.uint8)
            self.sym_lens[code] = len(s)
        # match accelerators: direct tables for L=1/2, and a 2-byte-prefix
        # gate giving the max symbol length starting with those two bytes
        # (so the per-length searches only touch gated positions).
        self.code1 = np.full(256, -1, dtype=np.int32)
        self.code2 = np.full(65536, -1, dtype=np.int32)
        self.gate2 = np.zeros(65536, dtype=np.uint8)
        for code, s in enumerate(self.symbols):
            if len(s) == 1:
                self.code1[s[0]] = code
            else:
                f2 = s[0] | (s[1] << 8)
                if len(s) == 2:
                    self.code2[f2] = code
                self.gate2[f2] = max(self.gate2[f2], len(s))

    def serialize(self) -> bytes:
        out = bytearray(uvarint(len(self.symbols)))
        for s in self.symbols:
            out.append(len(s))
            out += s
        return bytes(out)

    @classmethod
    def deserialize(cls, buf, pos: int) -> tuple["SymbolTable", int]:
        n, pos = read_uvarint(buf, pos)
        syms = []
        for _ in range(n):
            l = buf[pos]
            pos += 1
            syms.append(bytes(memoryview(buf)[pos : pos + l]))
            pos += l
        return cls(syms), pos


def _windows64(data: np.ndarray) -> np.ndarray:
    """uint64 little-endian 8-byte window starting at each position."""
    n = len(data)
    padded = np.concatenate([data, np.zeros(8, dtype=np.uint8)])
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(8):
        acc |= padded[j : j + n].astype(np.uint64) << np.uint64(8 * j)
    return acc


def _boundary_dist(lengths: np.ndarray) -> np.ndarray:
    """nb[i] = bytes remaining in i's string (so matches don't cross)."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(lengths)
    out = np.repeat(ends, lengths) - np.arange(total)
    return out


_MATCH_CHUNK = 1 << 19  # keep temporaries cache-resident (memory-bound box)


def _match(data: np.ndarray, nb: np.ndarray, table: SymbolTable) -> tuple[np.ndarray, np.ndarray]:
    """Longest-match per position -> (match_len, code); code -1 = literal.

    Chunked so the ~20 intermediate arrays stay in LLC instead of DRAM."""
    n = len(data)
    match_len = np.ones(n, dtype=np.int8)
    code = np.full(n, -1, dtype=np.int16)
    for lo in range(0, n, _MATCH_CHUNK):
        hi = min(lo + _MATCH_CHUNK, n)
        # overlap 7 bytes so windows at the tail see the next chunk
        dslice = data[lo : min(hi + 7, n)]
        ml, cd = _match_block(dslice, hi - lo, nb[lo:hi], table)
        match_len[lo:hi] = ml
        code[lo:hi] = cd
    return match_len, code


def _match_block(data: np.ndarray, n: int, nb: np.ndarray, table: SymbolTable):
    match_len = np.ones(n, dtype=np.int8)
    code = np.full(n, -1, dtype=np.int16)
    if n == 0:
        return match_len, code
    win = _windows64(data)[:n]
    # gated candidates for symbols of length >= 3
    f2 = (win & _MASKS[2]).astype(np.uint32)
    gate = table.gate2[f2]
    cand = np.flatnonzero((gate >= 3) & (nb >= 3))
    for L in range(MAX_LEN, 2, -1):
        keys = table.keys_by_len.get(L)
        if keys is None or len(keys) == 0 or len(cand) == 0:
            continue
        sub = cand[(gate[cand] >= L) & (nb[cand] >= L) & (code[cand] == -1)]
        if len(sub) == 0:
            continue
        kL = win[sub] & _MASKS[L]
        idx = np.minimum(np.searchsorted(keys, kL), len(keys) - 1)
        hit = keys[idx] == kL
        hs = sub[hit]
        match_len[hs] = L
        code[hs] = table.codes_by_len[L][idx[hit]]
    # L=2 / L=1 via direct tables
    c2 = table.code2[f2]
    hit2 = (c2 >= 0) & (nb >= 2) & (code == -1)
    match_len[hit2] = 2
    code[hit2] = c2[hit2]
    c1 = table.code1[data[:n]]
    hit1 = (c1 >= 0) & (code == -1)
    code[hit1] = c1[hit1]
    return match_len, code


def train(lengths: np.ndarray, data: np.ndarray, sample_bytes: int = 1 << 16, generations: int = 4) -> SymbolTable:
    """Build a symbol table from a prefix sample of the column."""
    total = int(lengths.sum())
    if total == 0:
        return SymbolTable([])
    # sample whole strings up to sample_bytes
    ends = np.cumsum(lengths)
    k = int(np.searchsorted(ends, min(sample_bytes, total)))
    k = max(1, min(k + 1, len(lengths)))
    s_lens = lengths[:k]
    s_data = data[: int(s_lens.sum())]
    nb = _boundary_dist(s_lens)
    win = _windows64(s_data)
    s_starts = np.concatenate([[0], np.cumsum(s_lens)[:-1]])[s_lens > 0]
    s_ends = s_starts + s_lens[s_lens > 0]
    table = SymbolTable([])
    for _ in range(generations):
        mlen, _code = _match(s_data, nb, table)
        tokens, _vis = _chain_tokens(mlen, s_starts, s_ends)
        tlens = mlen[tokens]
        # candidates: multi-byte parsed symbols + merged adjacent pairs
        # (single bytes counted separately via bincount — exact and O(n))
        cand_keys = []
        cand_lens = []
        multi = tlens > 1
        cand_keys.append(win[tokens[multi]] & _MASKS_ARR[tlens[multi]])
        cand_lens.append(tlens[multi])
        if len(tokens) > 1:
            plen = tlens[:-1] + tlens[1:]
            ok = (plen <= MAX_LEN) & (nb[tokens[:-1]] >= plen)
            ppos = tokens[:-1][ok]
            pl = plen[ok]
            cand_keys.append(win[ppos] & _MASKS_ARR[pl])
            cand_lens.append(pl)
        ck = np.concatenate(cand_keys)
        cl = np.concatenate(cand_lens).astype(np.uint64)
        if len(ck):
            # count distinct (len, key) pairs via a 64-bit composite hash:
            # one uint64 sort instead of a void-dtype axis sort (~10x); a
            # collision merely merges two candidate counts (training is a
            # heuristic, correctness is unaffected)
            h = ck * _GOLD ^ cl
            _, idx, counts = np.unique(h, return_index=True, return_counts=True)
            ukey = ck[idx]
            ulen = cl[idx].astype(np.int64)
            gain = counts * ulen
        else:
            ukey = np.empty(0, np.uint64)
            ulen = np.empty(0, np.int64)
            gain = np.empty(0, np.int64)
        bc = np.bincount(s_data, minlength=256)
        all_gain = np.concatenate([gain, bc])
        all_len = np.concatenate([ulen, np.ones(256, dtype=np.int64)])
        all_key = np.concatenate([ukey, np.arange(256, dtype=np.uint64)])
        if len(all_gain) > MAX_SYMBOLS:
            # top-255 via argpartition, then a stable order among them
            cand = np.argpartition(-all_gain, MAX_SYMBOLS - 1)[:MAX_SYMBOLS]
            order = cand[np.argsort(-all_gain[cand], kind="stable")]
        else:
            order = np.argsort(-all_gain, kind="stable")
        syms = [
            int(all_key[i]).to_bytes(8, "little")[: int(all_len[i])]
            for i in order
            if all_gain[i] > 1
        ]
        table = SymbolTable(syms)
    return table


def _chain_tokens(step: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Token positions following i -> i + step[i] independently per string.
    Returns (token_positions, visited_mask).

    Two strategies, picked by shape: a cursor lockstep over all strings
    (total work = token count — wins when strings are short and many) and
    pointer doubling over the whole buffer (log2(max chain) full passes —
    wins when a few long strings would make the cursor loop iterate
    thousands of times over tiny arrays)."""
    n = len(step)
    n_strs = len(starts)
    max_len = int((ends - starts).max()) if n_strs else 0
    # cursor iterations ~ max tokens per string (up to max_len when
    # literals dominate) over arrays of ~n_strs elements; doubling does
    # ~log2(max_len) passes over all n elements. Long strings + few of
    # them -> doubling; short strings + many -> cursor.
    avg_len = n / max(n_strs, 1)
    if max_len > 2048 and avg_len > 1024:
        return _orbit_tokens(step, starts, max_len)
    visited = np.zeros(n, dtype=bool)
    cur = starts.astype(np.int64, copy=True)
    end = ends.astype(np.int64, copy=False)
    keep = cur < end
    cur, end = cur[keep], end[keep]
    while len(cur):
        visited[cur] = True
        cur = cur + step[cur]
        m = cur < end
        cur, end = cur[m], end[m]
    return np.flatnonzero(visited), visited


def _orbit_tokens(step: np.ndarray, starts: np.ndarray, max_chain: int) -> tuple[np.ndarray, np.ndarray]:
    """Pointer-doubling variant: O(log2(max_chain)) passes over the whole
    buffer. Chains never cross string boundaries, so seeding every string
    start bounds the depth by the longest string."""
    n = len(step)
    visited = np.zeros(n + 1, dtype=bool)
    visited[starts] = True
    jump = np.empty(n + 1, dtype=np.int64)
    jump[:n] = np.minimum(np.arange(n, dtype=np.int64) + step, n)
    jump[n] = n
    rounds = max(1, int(np.ceil(np.log2(max(max_chain, 2)))) + 1)
    for _ in range(rounds):
        visited[jump[visited]] = True
        jump = jump[jump]
    vis = visited[:n]
    return np.flatnonzero(vis), vis


def _per_segment_counts(mask: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """Count of True positions inside each [bounds[i], bounds[i+1])."""
    csum = np.concatenate([[0], np.cumsum(mask, dtype=np.int64)])
    return csum[bounds[1:]] - csum[bounds[:-1]]


def _parse_tokens(lengths: np.ndarray, data: np.ndarray, table: SymbolTable):
    nb = _boundary_dist(lengths)
    mlen, code = _match(data, nb, table)
    nz = lengths > 0
    all_starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    starts = all_starts[nz]
    ends = starts + lengths[nz]
    tokens, visited = _chain_tokens(mlen, starts, ends)
    return tokens, visited, mlen, code


def encode_column(lengths: np.ndarray, data: np.ndarray, table: SymbolTable | None = None) -> bytes:
    if table is None:
        table = train(lengths, data)
    head = table.serialize()
    n_str = len(lengths)
    if int(lengths.sum()) == 0:
        comp_lens = np.zeros(n_str, dtype=np.int32)
        return head + deltabp.encode(comp_lens, 32)
    tokens, visited, mlen, code = _parse_tokens(lengths, data, table)
    tcode = code[tokens]
    is_lit = tcode < 0
    bounds = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int64)
    tok_per_str = _per_segment_counts(visited, bounds)
    if not is_lit.any():
        # common case (all bytes covered by symbols): 1 byte per token
        out = tcode.astype(np.uint8)
        comp_lens = tok_per_str
    else:
        lit_mask = np.zeros(len(visited), dtype=bool)
        lit_mask[tokens[is_lit]] = True
        comp_lens = tok_per_str + _per_segment_counts(lit_mask, bounds)
        out_len = np.where(is_lit, 2, 1)
        starts = np.concatenate([[0], np.cumsum(out_len)[:-1]])
        out = np.empty(int(out_len.sum()), dtype=np.uint8)
        out[starts[~is_lit]] = tcode[~is_lit].astype(np.uint8)
        lit_starts = starts[is_lit]
        out[lit_starts] = ESCAPE
        out[lit_starts + 1] = data[tokens[is_lit]]
    return head + deltabp.encode(comp_lens.astype(np.int32), 32) + out.tobytes()


def decode_column(buf, pos: int = 0, max_count: int | None = None) -> tuple[np.ndarray, np.ndarray, int]:
    """-> (lengths, data, new_pos). ``max_count`` bounds the string
    count (see ``deltabp.decode``)."""
    table, pos = SymbolTable.deserialize(buf, pos)
    comp_lens32, pos = deltabp.decode(buf, pos, 32, max_count)
    comp_lens = comp_lens32.astype(np.int64)
    total_c = int(comp_lens.sum())
    cdata = np.frombuffer(buf, np.uint8, total_c, pos)
    pos += total_c
    n_str = len(comp_lens)
    if total_c == 0:
        return np.zeros(n_str, dtype=np.int64), np.empty(0, dtype=np.uint8), pos
    step = np.where(cdata == ESCAPE, 2, 1).astype(np.int8)
    bounds = np.concatenate([[0], np.cumsum(comp_lens)]).astype(np.int64)
    nz = comp_lens > 0
    starts = bounds[:-1][nz]
    tokens, _visited = _chain_tokens(step, starts, starts + comp_lens[nz])
    tbyte = cdata[tokens]
    is_esc = tbyte == ESCAPE
    sym = np.where(is_esc, len(table.symbols), tbyte).astype(np.int64)
    if (~is_esc & (tbyte >= len(table.symbols))).any():
        raise ValueError("fsst: code out of range")
    out_lens_tok = np.where(is_esc, 1, table.sym_lens[sym])
    # assemble output: first byte of every token vectorized, then one
    # scatter pass per extra byte offset (symbols are <= 8 bytes, and the
    # >1-byte subset shrinks fast) — avoids an (n_tokens, 8) gather matrix
    first = table.sym_matrix[sym, 0]
    if is_esc.any():
        first = np.where(is_esc, cdata[np.minimum(tokens + 1, total_c - 1)], first)
    out_starts = np.concatenate([[0], np.cumsum(out_lens_tok)[:-1]])
    out = np.empty(int(out_lens_tok.sum()), dtype=np.uint8)
    out[out_starts] = first
    max_sym = int(table.sym_lens.max()) if len(table.symbols) else 1
    for j in range(1, max_sym):
        sel = out_lens_tok > j
        if not sel.any():
            break
        out[out_starts[sel] + j] = table.sym_matrix[sym[sel], j]
    # per-string original lengths: scatter each token's output length to
    # its compressed position, then one prefix sum over segment bounds
    pos_len = np.zeros(total_c, dtype=np.int64)
    pos_len[tokens] = out_lens_tok
    csum = np.concatenate([[0], np.cumsum(pos_len)])
    lengths = csum[bounds[1:]] - csum[bounds[:-1]]
    return lengths, out, pos
