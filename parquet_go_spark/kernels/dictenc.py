"""RLE_DICTIONARY index stream (reference: ``type_dict.go:135-165``,
``page_v1.go:184-191``).

Layout: 1 byte bit width = ``bits.Len(len(dictValues))`` — note this is the
bit length of the dictionary *size* (one more bit than strictly needed when
the size is a power of two), reproduced exactly — then a hybrid stream of
the indices with no size prefix.

``encode_indices`` with ``mode="bp"`` is byte-identical to the reference
writer (single bit-packed run); ``mode="auto"`` may emit RLE runs instead
when smaller (north-star "plain RLE" extension — still decodable by the
reference's ``hybridDecoder``).
"""

from __future__ import annotations

import numpy as np

from . import hybrid

__all__ = ["index_bit_width", "encode_indices", "decode_indices"]


def index_bit_width(dict_size: int) -> int:
    return int(dict_size).bit_length()


def encode_indices(indices: np.ndarray, dict_size: int, mode: str = "bp") -> bytes:
    bw = index_bit_width(dict_size)
    if mode == "bp":
        body = hybrid.encode_bp(indices, bw)
    elif mode == "rle":
        body = hybrid.encode_rle(indices, bw)
    else:
        body = hybrid.encode_auto(indices, bw)
    return bytes([bw]) + body


def decode_indices(buf, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    bw = buf[pos]
    if bw > 32:
        raise ValueError(f"invalid dict index bit width {bw}")
    pos += 1
    vals = hybrid.decode(memoryview(buf)[pos:], bw, count)
    # consumed size is not framed here; callers must frame the stream (our
    # chunk container length-prefixes each page payload, like thrift
    # page headers do for the reference). Indices of <= 32 bits view as
    # int64, numpy's index type, so the dictionary gather converts nothing
    return vals.view(np.int64), pos
