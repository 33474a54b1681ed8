"""Minimal Thrift compact-protocol reader — just enough to parse Parquet
footers and page headers (the reference links a generated thrift package;
we read the same wire format directly). Spec: thrift compact protocol;
struct fields are (field-id delta << 4 | type) headers, ints are zigzag
ULEB128, strings length-prefixed, lists (size << 4 | elem type).
"""

from __future__ import annotations

__all__ = ["read_struct", "read_uvarint"]

T_STOP = 0
T_TRUE = 1
T_FALSE = 2
T_BYTE = 3
T_I16 = 4
T_I32 = 5
T_I64 = 6
T_DOUBLE = 7
T_BINARY = 8
T_LIST = 9
T_SET = 10
T_MAP = 11
T_STRUCT = 12


def read_uvarint(buf, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _read_value(buf, pos: int, vtype: int, depth: int = 0):
    if vtype == T_TRUE:
        return True, pos
    if vtype == T_FALSE:
        return False, pos
    if vtype == T_BYTE:
        return buf[pos], pos + 1
    if vtype in (T_I16, T_I32, T_I64):
        u, pos = read_uvarint(buf, pos)
        return _zigzag(u), pos
    if vtype == T_DOUBLE:
        import struct as _s

        if pos + 8 > len(buf):
            raise ValueError("thrift compact: truncated double")
        return _s.unpack("<d", bytes(buf[pos : pos + 8]))[0], pos + 8
    if vtype == T_BINARY:
        ln, pos = read_uvarint(buf, pos)
        return bytes(buf[pos : pos + ln]), pos + ln
    if vtype in (T_LIST, T_SET, T_MAP):
        # a collection nests like a struct: its elements read one level
        # deeper, so forged list-of-list chains hit the same governor
        depth += 1
        if depth > _MAX_DEPTH:
            raise ValueError("thrift compact: implausible nesting depth")
    if vtype in (T_LIST, T_SET):
        hdr = buf[pos]
        pos += 1
        size = hdr >> 4
        etype = hdr & 0x0F
        if size == 15:
            size, pos = read_uvarint(buf, pos)
        _check_size(buf, pos, size)
        if etype in (T_TRUE, T_FALSE):
            # bool COLLECTION elements take one byte each (1=true,
            # 2=false) — unlike field-context bools, whose value lives
            # in the type id
            out = [buf[pos + i] == T_TRUE for i in range(size)]
            return out, pos + size
        out = []
        for _ in range(size):
            v, pos = _read_elem(buf, pos, etype, depth)
            out.append(v)
        return out, pos
    if vtype == T_STRUCT:
        return read_struct(buf, pos, depth + 1)
    if vtype == T_MAP:
        size, pos = read_uvarint(buf, pos)
        if size == 0:
            return {}, pos
        _check_size(buf, pos, size)
        kv = buf[pos]
        pos += 1
        ktype, vt = kv >> 4, kv & 0x0F
        out = {}
        for _ in range(size):
            k, pos = _read_elem(buf, pos, ktype, depth)
            v, pos = _read_elem(buf, pos, vt, depth)
            out[k] = v
        return out, pos
    raise ValueError(f"thrift compact: unsupported type {vtype}")


def _check_size(buf, pos: int, size: int) -> None:
    """Forged-header governor: every collection element consumes at
    least one byte, so a declared size beyond the remaining buffer is a
    lie. Without this, a 6-byte buffer declaring a 137M-entry bool map
    spun ~38 s of zero-byte element reads before finally walking off
    the end (bools used to consume nothing — see ``_read_elem``)."""
    if size < 0 or size > len(buf) - pos:
        raise ValueError("thrift compact: implausible collection size")


def _read_elem(buf, pos: int, etype: int, depth: int = 0):
    """Collection-context value read: bools are one byte here (compact
    protocol encodes bool list/set/map elements as 0x01/0x02), unlike
    struct-field context where the value rides the type id."""
    if etype in (T_TRUE, T_FALSE):
        return buf[pos] == T_TRUE, pos + 1
    return _read_value(buf, pos, etype, depth)


_MAX_DEPTH = 100  # parquet metadata nests ~10 deep; a forged buffer of
# 0x1C bytes would otherwise recurse once per byte into Python's
# RecursionError — an uncontrolled failure, unlike the governor's
# ValueError


def read_struct(buf, pos: int, depth: int = 0) -> tuple[dict, int]:
    """-> ({field_id: value}, new_pos). Nested structs become dicts."""
    if depth > _MAX_DEPTH:
        raise ValueError("thrift compact: implausible nesting depth")
    out: dict = {}
    fid = 0
    while True:
        hdr = buf[pos]
        pos += 1
        if hdr == T_STOP:
            return out, pos
        delta = hdr >> 4
        vtype = hdr & 0x0F
        if delta:
            fid += delta
        else:
            u, pos = read_uvarint(buf, pos)
            fid = _zigzag(u)
        v, pos = _read_value(buf, pos, vtype, depth)
        out[fid] = v
