"""Parquet PageIndex interop: ColumnIndex / OffsetIndex (parquet-format
PageIndex.md), read and pruned-scan side.

The reference computes page statistics (``data_store.go:166-179``) but
never serializes or reads them (``README.md:47``); this module closes the
loop at the real-Parquet layer: parse the ColumnIndex/OffsetIndex thrift
structures any modern writer (parquet-cpp/pyarrow ``write_page_index``,
parquet-mr) appends between the last row group and the footer, turn them
into surviving ROW RANGES per predicate, and let the kernel scan decode
only the pages those ranges touch. This is the page-granularity analogue
of the engine's own ``page_stats=True`` container flag — but against
foreign files.

Pruning contract: ``core.prune`` (conservative). Bounds may be truncated
by the writer (truncate-and-increment on max per the spec), so a stored
min is a valid lower bound and a stored max a valid upper bound.
"""

from __future__ import annotations

from ..core import prune as pz
from .thrift_compact import read_struct
from .thrift_writer import write_struct

__all__ = [
    "read_offset_index",
    "read_column_index",
    "page_prune_ranges",
    "offset_index_struct",
    "column_index_struct",
]

# ColumnChunk thrift field ids (parquet.thrift)
_CC_OFFSET_INDEX_OFFSET = 4
_CC_OFFSET_INDEX_LENGTH = 5
_CC_COLUMN_INDEX_OFFSET = 6
_CC_COLUMN_INDEX_LENGTH = 7


def read_offset_index(buf, cc: dict) -> list[tuple[int, int, int]] | None:
    """ColumnChunk -> [(page_offset, compressed_page_size, first_row_index)]
    per DATA page (dictionary pages are not indexed), or None when the
    writer emitted no OffsetIndex for this chunk."""
    off, ln = cc.get(_CC_OFFSET_INDEX_OFFSET), cc.get(_CC_OFFSET_INDEX_LENGTH)
    if off is None or ln is None:
        return None
    st, _ = read_struct(memoryview(buf).cast("B")[off : off + ln], 0)
    return [(loc[1], loc[2], loc[3]) for loc in st.get(1, [])]


def read_column_index(buf, cc: dict) -> dict | None:
    """ColumnChunk -> {null_pages, min_values, max_values, null_counts}
    (lists aligned with the OffsetIndex page list), or None."""
    off, ln = cc.get(_CC_COLUMN_INDEX_OFFSET), cc.get(_CC_COLUMN_INDEX_LENGTH)
    if off is None or ln is None:
        return None
    st, _ = read_struct(memoryview(buf).cast("B")[off : off + ln], 0)
    return {
        "null_pages": st.get(1, []),
        "min_values": st.get(2, []),
        "max_values": st.get(3, []),
        "boundary_order": st.get(4, 0),
        "null_counts": st.get(5),
    }


def page_prune_ranges(
    buf, meta: dict, rg_idx: int, prune: list[tuple]
) -> list[tuple[int, int]] | None:
    """Surviving row ranges (relative to the row group's first row) after
    applying every predicate against the row group's ColumnIndex +
    OffsetIndex (``core.prune.page_ranges``), or None when no predicate
    column carries an index (no page-level narrowing possible; read
    everything). A page flagged in ``null_pages`` is all-null; a leaf
    whose bounds do not order like its values (``unordered_leaf``)
    prunes on its null pages only."""
    rg = meta[4][rg_idx]
    n_rows = int(rg[3])

    def pages_of(col: str):
        cc = pz.footer_chunk(rg, col)
        if cc is None:
            return None
        oi = read_offset_index(buf, cc)
        ci = read_column_index(buf, cc)
        if not oi or not ci or len(ci["min_values"]) != len(oi):
            return None
        ptype = None if pz.unordered_leaf(pz.footer_leaf(meta.get(2), col)) else cc[3][1]
        nulls = ci["null_pages"]
        firsts = [loc[2] for loc in oi] + [n_rows]
        out = []
        for i in range(len(oi)):
            rows = firsts[i + 1] - firsts[i]
            all_null = i < len(nulls) and nulls[i]
            zone = pz.Zone(
                pz.decode_stat(ci["min_values"][i], ptype),
                pz.decode_stat(ci["max_values"][i], ptype),
                rows if all_null else None,
                rows,
            )
            out.append((firsts[i], firsts[i + 1], zone))
        return out

    return pz.page_ranges(prune, pages_of)


# --------------------------------------------------------------- write side


def offset_index_struct(pages: list[dict]) -> dict:
    """Per-chunk page records -> thrift OffsetIndex struct fields.
    ``pages``: [{offset, size, first_row, ...}] in page order; ``size``
    includes the page header (spec: compressed_page_size covers header +
    page)."""
    locs = [
        {
            1: ("i64", p["offset"]),
            2: ("i32", p["size"]),
            3: ("i64", p["first_row"]),
        }
        for p in pages
    ]
    return {1: ("list", ("struct", locs))}


def column_index_struct(pages: list[dict]) -> dict:
    """Per-chunk page records -> thrift ColumnIndex struct fields.
    ``pages``: [{null_page: bool, min: bytes|None, max: bytes|None,
    null_count: int}]. Pages with unknown bounds that are not all-null
    store empty byte bounds with null_page=False — readers must treat
    undecodable bounds as 'keep' (``core.prune.decode_stat`` -> None does)."""
    return {
        1: ("list", ("bool", [bool(p["null_page"]) for p in pages])),
        2: ("list", ("binary", [p["min"] or b"" for p in pages])),
        3: ("list", ("binary", [p["max"] or b"" for p in pages])),
        4: ("i32", 0),  # BoundaryOrder.UNORDERED (always safe)
        5: ("list", ("i64", [int(p["null_count"]) for p in pages])),
    }
