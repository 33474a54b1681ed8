"""Recursive nested types: struct / map / list<list> / mixed depth.

Reference parity: Dremel shredding+assembly over nested, repeated, and map
schemas (``schema.go:585-647`` NewListColumn/NewMapColumn, Dremel paper
fixtures ``data_store_test.go:104-390``, nested round-trip matrix
``readwrite_test.go:144-533``, empty-dict/all-null edge
``readwrite_test.go:534-569``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
from parquet_go_spark.core.columns import from_arrow, logical_of, to_arrow
from parquet_go_spark.kernels.varint import read_uvarint


def _rt(arr: pa.Array, **kw) -> pa.Array:
    cd = from_arrow(arr)
    blob, meta = encode_chunk(cd, **kw)
    dec = decode_chunk(blob, logical=logical_of(cd))
    out = to_arrow(dec)
    if out.type != arr.type:
        out = out.cast(arr.type)
    return out


STRUCT_T = pa.struct([("a", pa.int64()), ("b", pa.string())])
DEEP_T = pa.struct([("a", pa.int64()), ("inner", pa.struct([("c", pa.string())]))])

CASES = [
    pa.array([{"a": 1, "b": "x"}, None, {"a": 3, "b": None}], type=STRUCT_T),
    pa.array([{"a": 1, "inner": {"c": "u"}}, {"a": 2, "inner": None}, None], type=DEEP_T),
    pa.array([{"k1": 1, "k2": 2}, None, {}, {"k3": None}], type=pa.map_(pa.string(), pa.int64())),
    pa.array([[[1, 2], [3]], None, [[], [4, None]], []], type=pa.list_(pa.list_(pa.int64()))),
    pa.array([[{"a": 1}, {"a": None}], None, []], type=pa.list_(pa.struct([("a", pa.int64())]))),
    pa.array(
        [{"xs": [1, 2], "n": "p"}, {"xs": None, "n": None}, None],
        type=pa.struct([("xs", pa.list_(pa.int64())), ("n", pa.string())]),
    ),
    pa.array(
        [{"a": [{"z": 1.5}], "b": []}, None, {"c": [{"z": None}, {"z": 2.0}]}],
        type=pa.map_(pa.string(), pa.list_(pa.struct([("z", pa.float64())]))),
    ),
    # reference edge cases: all-null parents, zero rows, empty children
    pa.array([None, None], type=STRUCT_T),
    pa.array([], type=pa.map_(pa.string(), pa.int64())),
    pa.array([None, [], [[]], [None]], type=pa.list_(pa.list_(pa.string()))),
]


@pytest.mark.parametrize("arr", CASES, ids=lambda a: str(a.type)[:48])
def test_nested_roundtrip(arr):
    assert _rt(arr).equals(arr)


@pytest.mark.parametrize("profile", ["auto", "reference"])
@pytest.mark.parametrize("compression", ["none", "zlib"])
def test_nested_roundtrip_profiles(profile, compression):
    arr = CASES[6]
    assert _rt(arr, profile=profile, compression=compression).equals(arr)


def test_nested_randomized_deep():
    rng = np.random.default_rng(7)
    n = 2000
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.1:
            rows.append(None)
        else:
            n_keys = int(rng.integers(0, 4))
            rows.append(
                {
                    f"k{int(rng.integers(0, 9))}": (
                        None
                        if rng.random() < 0.2
                        else [
                            {"z": None if rng.random() < 0.3 else float(rng.random())}
                            for _ in range(int(rng.integers(0, 3)))
                        ]
                    )
                    for _ in range(n_keys)
                }
            )
    t = pa.map_(pa.string(), pa.list_(pa.struct([("z", pa.float64())])))
    arr = pa.array(rows, type=t)
    assert _rt(arr).equals(arr)


def test_struct_children_strip_null_parents():
    # a null struct must contribute no child entries (Dremel: nil group
    # appends levels only, schema.go:790-835)
    arr = pa.array([{"a": 1}, None, {"a": 3}], type=pa.struct([("a", pa.int64())]))
    blob, meta = encode_chunk(from_arrow(arr))
    assert meta.num_rows == 3 and meta.null_count == 1
    ((name, logical, child),) = _struct_fields(blob)
    assert (name, logical) == ("a", "int64")
    assert decode_chunk(child).num_rows == 2  # only valid parents
    assert decode_chunk(child).values.tolist() == [1, 3]


def _struct_fields(blob: bytes) -> list[tuple[str, str, bytes]]:
    """(name, logical, child chunk) of each field of a PGSS container."""
    mv = memoryview(blob)
    pos = 5
    for _ in range(2):  # num_rows, null_count
        _, pos = read_uvarint(mv, pos)
    def_len, pos = read_uvarint(mv, pos)
    n_fields, pos = read_uvarint(mv, pos + def_len)
    out = []
    for _ in range(n_fields):
        parts = []
        for _ in range(3):
            n, pos = read_uvarint(mv, pos)
            parts.append(bytes(mv[pos : pos + n]))
            pos += n
        out.append((parts[0].decode(), parts[1].decode(), parts[2]))
    return out


def test_struct_multipage_children():
    vals = [{"a": i, "b": "s" * 50} for i in range(5000)]
    vals[17] = None
    arr = pa.array(vals, type=STRUCT_T)
    cd = from_arrow(arr)
    blob, meta = encode_chunk(cd, max_page=4096)
    assert meta.num_pages > 2  # children actually page
    assert to_arrow(decode_chunk(blob, logical=logical_of(cd))).equals(arr)


def test_sliced_struct_offset_correct():
    base = pa.array(
        [{"a": i, "b": str(i)} for i in range(100)], type=STRUCT_T
    )
    sl = base.slice(25, 50)
    assert _rt(sl).equals(sl)


def test_sliced_map_offset_correct():
    base = pa.array([{f"k{i}": i} for i in range(100)], type=pa.map_(pa.string(), pa.int64()))
    sl = base.slice(10, 30)
    assert _rt(sl).equals(sl)


def _pgss(validity: list[bool], child: pa.Array) -> bytes:
    """A PGSS container with one int64 field ``a`` holding ``child``."""
    from parquet_go_spark.kernels import levels
    from parquet_go_spark.kernels.varint import uvarint

    blob, _ = encode_chunk(from_arrow(child))
    def_s = levels.encode_def_levels(np.array(validity), mode="auto")
    out = b"PGSS\x01" + uvarint(len(validity)) + uvarint(validity.count(False))
    out += uvarint(len(def_s)) + def_s + uvarint(1)
    for part in (b"a", b"int64", blob):
        out += uvarint(len(part)) + part
    return out


@pytest.mark.parametrize(
    "validity, n_child",
    [([True] * 3, 1), ([True] * 3, 5), ([True, False, True], 3)],
    ids=["short-child", "long-child", "null-parent-extra-child"],
)
def test_forged_struct_child_count_raises(validity, n_child):
    # the def levels say how many parents are valid; a child holding
    # any other count is corrupt (it decoded to 1 or 5 rows, or lost
    # its third value, without an error)
    forged = _pgss(validity, pa.array(range(n_child), type=pa.int64()))
    with pytest.raises(ValueError, match="valid parents"):
        decode_chunk(forged, logical="struct")
    good = _pgss(validity, pa.array(range(validity.count(True)), type=pa.int64()))
    assert len(decode_chunk(good, logical="struct")) == 3


def test_forged_list_entry_count_raises():
    # list<struct> levels of 3 entries over the 6-entry element chunk of
    # another list: the extra entries used to be cut off silently
    t = pa.list_(pa.struct([("a", pa.int64())]))
    three, _ = encode_chunk(from_arrow(pa.array([[{"a": i} for i in range(3)]], type=t)))
    six, _ = encode_chunk(from_arrow(pa.array([[{"a": i} for i in range(6)]], type=t)))
    forged = three[: three.index(b"PGSS")] + six[six.index(b"PGSS") :]
    with pytest.raises(ValueError, match="entries"):
        decode_chunk(forged, logical=str(t))
    assert decode_chunk(three, logical=str(t)).to_pylist() == [[{"a": 0}, {"a": 1}, {"a": 2}]]


def test_row_slots_of_no_levels_is_empty():
    # a chunk with no rows has no slot windows at all: one empty end per
    # empty start, never a stray window ending at 0
    from parquet_go_spark.compat.parquet_reader import row_slots

    starts, ends = row_slots(np.empty(0, np.int64))
    assert len(starts) == len(ends) == 0
    starts, ends = row_slots(np.array([0, 1, 0, 0, 1]))
    assert starts.tolist() == [0, 2, 3] and ends.tolist() == [2, 3, 5]


@pytest.mark.parametrize(
    "arr",
    [
        pa.array([], type=pa.list_(pa.int64())),
        pa.array([], type=pa.map_(pa.string(), pa.int64())),
        pa.StructArray.from_arrays(
            [pa.array([[1], [2, 3]], type=pa.list_(pa.int64()))], names=["l"], mask=pa.array([True, True])
        ),
        pa.array([[], None, []], type=pa.list_(pa.list_(pa.string()))),
    ],
    ids=["zero-row-list", "zero-row-map", "list-under-all-null-struct", "list-list-no-inner-rows"],
)
def test_zero_row_inner_lists_roundtrip(arr):
    # every one of these holds a PGSL chunk with no rows
    assert _rt(arr).equals(arr)
