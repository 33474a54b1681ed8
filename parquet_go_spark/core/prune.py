"""One zone-map prune evaluator for both containers.

A prune unit is a PGSC partition (one manifest row per column), a PGSC
page (``chunk.chunk_page_index``), a Parquet row group (footer
Statistics) or a Parquet ColumnIndex page. Each container turns its own
statistics into a :class:`Zone` and keeps its IO (bloom and dictionary
reads); this module alone decides whether a predicate
``(column, op, value)`` provably misses a unit.

Contract: conservative. A unit is dropped only on proof that none of its
rows satisfies the predicate under Spark SQL semantics; anything unknown
keeps it, and callers re-apply the exact filter. The reference writes
min/max statistics but never reads them (``README.md:47``).
"""

from __future__ import annotations

import decimal
import operator
import struct as _s
from collections.abc import Callable
from typing import NamedTuple

import numpy as np

# The comparison ops, each with the Python operator of the zone test
# below (and of the CLI's ``--where`` re-apply on Spark columns) and the
# ``pyarrow.compute`` function of the exact Arrow re-apply
# (``maintenance.delete_where``): an op the prune tiers accept is one the
# delete path and the CLI apply.
COMPARE = {
    "==": (operator.eq, "equal"),
    "<": (operator.lt, "less"),
    "<=": (operator.le, "less_equal"),
    ">": (operator.gt, "greater"),
    ">=": (operator.ge, "greater_equal"),
}
OPS = frozenset({*COMPARE, "in", "notnull"})
POINT_OPS = ("==", "in")
_NUMBER = (int, float, decimal.Decimal)
PLAIN_FORMATS = {1: "<i", 2: "<q", 4: "<f", 5: "<d"}  # Parquet physical type id -> struct
# ConvertedType DECIMAL (stats hold unscaled values), TIMESTAMP_MILLIS
# (probes are epoch micros) and UINT_8..UINT_64 (stats decode signed):
# physical bounds that do not compare like the probes
_UNORDERED_CONVERTED = frozenset({5, 9, 11, 12, 13, 14})


class Zone(NamedTuple):
    """Bounds and null count of one prune unit: ``lo``/``hi`` are typed
    Python values (numbers or str) or None when unknown; ``null_count``
    is None when the unit does not record it."""

    lo: object
    hi: object
    null_count: int | None
    rows: int | None


# ----------------------------------------------------------------- adapters


def _parse_bound(s: str | None, ptype: str | None):
    """A PGSC bound string (``chunk.bound_str``) -> typed value: exact int,
    float, Decimal for flba (decimal and integer carriers), str for
    bytes, bool; anything else or unparseable is unknown."""
    if s is None:
        return None
    try:
        if ptype in ("int32", "int64"):
            return int(s)
        if ptype in ("float", "double"):
            return float(s)
        if ptype == "flba":
            d = decimal.Decimal(s)
            return d if d.is_finite() else None
    except (ValueError, ArithmeticError):
        return None
    if ptype == "bool":
        return {"True": True, "False": False}.get(s)
    return s if ptype == "bytes" else None


def pgsc_zone(stats: dict, nulls: int, rows: int) -> Zone:
    """Zone of a PGSC manifest row or ``chunk_page_index`` page (both
    carry ``ptype``, ``min_str`` and ``max_str``)."""
    lo, hi = (_parse_bound(stats[k], stats["ptype"]) for k in ("min_str", "max_str"))
    return Zone(lo, hi, nulls, rows)


def decode_stat(raw: bytes | None, ptype: int):
    """Plain-encoded Statistics/ColumnIndex bound -> comparable Python
    value. None, empty (a writer with no safe truncated bound stores
    b''), malformed (wrong byte length) and non-UTF8 byte bounds all mean
    'unknown'."""
    if raw is None or len(raw) == 0:
        return None
    try:
        if ptype == 0:
            return bool(raw[0])
        if ptype in PLAIN_FORMATS:
            return _s.unpack(PLAIN_FORMATS[ptype], raw)[0]
        if ptype == 6:
            return bytes(raw).decode()
    except (_s.error, UnicodeDecodeError):
        return None
    return None


def footer_chunk(rg: dict, col: str) -> dict | None:
    """The row group's ColumnChunk of TOP-LEVEL column ``col``, or None.
    Leaf paths are never joined with '.': a top-level column named
    ``a.b`` is not the struct leaf a→b."""
    want = [col.encode("utf-8", "surrogatepass")]
    for cc in rg[1]:
        md = cc.get(3)
        if md is not None and md.get(3) == want:
            return cc
    return None


def footer_leaf(schema: list | None, col: str) -> dict | None:
    """The SchemaElement (FileMetaData field 2) of TOP-LEVEL column
    ``col`` — the logical type its footer and ColumnIndex bounds are
    read under — or None."""
    want = col.encode("utf-8", "surrogatepass")
    i = 1
    for _ in range((schema[0].get(5) or 0) if schema else 0):
        if schema[i].get(4) == want:
            return schema[i]
        todo = 1  # step past this child's subtree
        while todo:
            todo += (schema[i].get(5) or 0) - 1
            i += 1
    return None


def unordered_leaf(leaf: dict | None) -> bool:
    """True when a Parquet leaf's physical bounds do not compare like
    the probes: decimals (unscaled), unsigned integers (decoded signed)
    and timestamps in a unit other than the microseconds a timestamp
    probe carries. Such a leaf gets no bounds and no point-lookup key."""
    lt = (leaf or {}).get(10) or {}
    return (
        (leaf or {}).get(6) in _UNORDERED_CONVERTED
        or 5 in lt
        or (10 in lt and lt[10].get(2) is False)
        or (8 in lt and 2 not in (lt[8].get(2) or {}))
    )


def footer_zone(md: dict, leaf: dict | None = None) -> Zone:
    """Zone of a ColumnMetaData from its Statistics (field 12), read
    under the column's SchemaElement ``leaf`` (``unordered_leaf``: null
    count only). Byte arrays trust only the ordered min_value/max_value
    (fields 6/5): old parquet-mr wrote the legacy min/max (2/1) in
    signed-byte order (PARQUET-686), and its CorruptStatistics rule
    ignores them."""
    st = md.get(12) or {}
    ptype = None if unordered_leaf(leaf) else md[1]  # decode_stat(_, None): unknown
    if ptype in (6, 7):
        lo, hi = st.get(6), st.get(5)
    else:
        lo, hi = st.get(6, st.get(2)), st.get(5, st.get(1))
    return Zone(decode_stat(lo, ptype), decode_stat(hi, ptype), st.get(3), md.get(5))


# ------------------------------------------------------------ the one rule


def _ordered(v):
    """``v`` as an orderable number or str (bytes compare as their UTF-8
    text: UTF-8 byte order is codepoint order); None for NaN, None and
    anything else — no ordering proof."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (bytes, bytearray, memoryview)):
        try:
            v = bytes(v).decode()
        except UnicodeDecodeError:
            return None
    return v if isinstance(v, (str, *_NUMBER)) and v == v else None


def excludes(zone: Zone, op: str, value) -> bool:
    """True when no row of the unit can satisfy ``(op, value)``.

    - An all-null unit excludes every op.
    - A None or NaN bound or probe gives no proof, nor does a probe of
      the other type family (number vs str/bytes).
    - ``>``/``>=`` against float bounds give no proof: Spark orders NaN
      above every number, and writers leave NaN out of min/max.
    - ``in`` is excluded when every member is excluded as ``==``."""
    if op not in OPS:
        return False
    if zone.null_count is not None and zone.rows is not None and zone.null_count >= zone.rows:
        return True
    if op == "in":
        return all(excludes(zone, "==", v) for v in value)
    v = _ordered(value)
    if op == "notnull" or v is None:
        return False
    lo, hi = (
        b if b is not None and isinstance(b, str) == isinstance(v, str) else None
        for b in map(_ordered, zone[:2])
    )
    if op == "==":
        return (lo is not None and v < lo) or (hi is not None and v > hi)
    if op in ("<", "<="):
        bound = lo
    elif isinstance(hi, float):
        return False
    else:
        bound = hi
    # no row can pass when even the unit's most favourable bound fails
    return bound is not None and not COMPARE[op][0](bound, v)


# ------------------------------------------------- point-lookup membership


def point_key(value, ptype: str | None):
    """An ``==``/``in`` probe as the value a bloom or dictionary of
    physical type ``ptype`` holds; None = no point-lookup proof. Byte
    columns take str/bytes probes, flba only raw bytes (its blooms and
    dictionaries hold storage bytes: ``bytes(5)`` is five NUL bytes, not
    the number 5), numeric columns only numbers. NaN and ±0.0 never
    prove absence: Spark has NaN = NaN and -0.0 = 0.0, blooms hash bits."""
    if isinstance(value, np.generic):
        value = value.item()
    if isinstance(value, (bytes, bytearray, memoryview)):
        return bytes(value) if ptype in ("bytes", "flba") else None
    if isinstance(value, str):
        try:
            return value.encode() if ptype == "bytes" else None
        except UnicodeEncodeError:
            return None
    if isinstance(value, bool) or not isinstance(value, _NUMBER):
        return None
    if ptype in ("int32", "int64"):
        try:
            i = int(value)
        except (ValueError, OverflowError, ArithmeticError):
            return None
        return i if i == value and -(1 << 63) <= i < 1 << 63 else None
    if ptype not in ("float", "double"):
        return None
    f = float(value)
    if f != f or f == 0.0:
        return None
    with np.errstate(over="ignore"):
        return float(np.float32(f)) if ptype == "float" else f


def point_excluded(
    zone: Zone | None,
    op: str,
    value,
    ptype: str | None,
    bloom: Callable[[object], bool] | None = None,
    dictionary: Callable[[], "set | None"] | None = None,
) -> bool:
    """Point-lookup proof for an ``==``/``in`` predicate (other ops:
    False): every member is excluded by one tier, cheapest first —
    min/max (``zone``), ``bloom(key)`` (False = provably absent), then
    ``dictionary()`` (called at most once: the unit's complete
    distinct-value set, or None when unknown)."""
    if op not in POINT_OPS:
        return False
    d = None
    for v in (value,) if op == "==" else value:
        if zone is not None and excludes(zone, "==", v):
            continue
        k = point_key(v, ptype)
        if k is None:
            return False
        if bloom is not None and not bloom(k):
            continue
        if dictionary is not None:
            d, dictionary = dictionary(), None
        if d is None or k in d:
            return False
    return True


def value_set(decoded) -> set:
    """A decoded dictionary (ndarray, or ``(lengths, data)`` for byte
    types) -> the set of Python values ``point_key`` produces."""
    if isinstance(decoded, tuple):
        lens, data = decoded
        offs = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        raw = bytes(data)
        return {raw[offs[i] : offs[i + 1]] for i in range(len(lens))}
    return set(decoded.tolist())


# ------------------------------------------------------------ row ranges


def merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Coalesce sorted [lo, hi) ranges that touch or overlap."""
    out: list[tuple[int, int]] = []
    for lo, hi in ranges:
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def intersect_ranges(a: list[tuple[int, int]], b: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Intersection of two sorted non-overlapping range lists."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo < hi:
            out.append((lo, hi))
        if a[i][1] <= b[j][1]:
            i += 1
        else:
            j += 1
    return out


def rows_in_ranges(rows: np.ndarray, ranges: list[tuple[int, int]]) -> np.ndarray:
    """Boolean mask: row index inside any [lo, hi) range (sorted,
    non-overlapping)."""
    if not ranges:
        return np.zeros(len(rows), dtype=bool)
    starts = np.array([r[0] for r in ranges], dtype=np.int64)
    ends = np.array([r[1] for r in ranges], dtype=np.int64)
    idx = np.searchsorted(starts, rows, side="right") - 1
    ok = idx >= 0
    out = np.zeros(len(rows), dtype=bool)
    out[ok] = rows[ok] < ends[idx[ok]]
    return out


def page_ranges(
    prune: list[tuple], pages_of: Callable[[str], "list[tuple[int, int, Zone]] | None"]
) -> list[tuple[int, int]] | None:
    """Row ranges no predicate can exclude. ``pages_of(column)`` gives
    the column's pages as ``(row_lo, row_hi, zone)`` in row order, or
    None without a page index. Predicates AND together, so per-column
    survivors intersect; None when no predicate column has a page index."""
    ranges = None
    for col, op, value in prune:
        pages = pages_of(col)
        if pages is None:
            continue
        keep = merge_ranges([(lo, hi) for lo, hi, z in pages if not excludes(z, op, value)])
        ranges = keep if ranges is None else intersect_ranges(ranges, keep)
    return ranges


# ---------------------------------------------------------------- planning


def fan_out(fn: Callable, items: list) -> list:
    """``[fn(x) for x in items]`` through a thread pool of up to 32:
    planning is IO-bound (manifest reads, footer and index preads), so
    latency is max(pread) x len/32, not the sum. Order is kept."""
    if len(items) <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(32, len(items))) as ex:
        return list(ex.map(fn, items))
