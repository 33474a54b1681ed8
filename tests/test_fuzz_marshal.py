"""Differential fuzz of the Arrow marshaling layer (from_arrow/to_arrow).

The round-5 layout campaign showed the real hazard class is Arrow
LAYOUTS, not values: Spark's Java writer emits buffer shapes pyarrow's
constructors never produce (empty offsets buffers on length-0 arrays),
and sliced views shift every buffer read. This fuzz drives
from_arrow -> chunk -> to_arrow over randomized nested data with randomized
layout transforms — slicing, validity, empty rows, and a Java-style
"strip the offsets buffer of every length-0 varlen array" rebuild —
and checks value equality against pyarrow's own reading of the array.
Each column goes through a whole chunk round trip: nested columns stay
Arrow in from_arrow, so their layouts meet the PGSL/PGSS encoders.

Complements tests/test_fuzz.py (byte-level decoder fuzzing, the
reference's go-fuzz layer) with structure-level fuzzing the reference
doesn't need (Go owns its buffers; we borrow Spark's).
"""

from __future__ import annotations

import datetime
import decimal

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
from parquet_go_spark.core.columns import from_arrow, logical_of, to_arrow


def _roundtrip(arr: pa.Array) -> pa.Array:
    col = from_arrow(arr)
    blob, _ = encode_chunk(col)
    return to_arrow(decode_chunk(blob, logical=logical_of(col)))

# ---------------------------------------------------------------- strategies

_scalars = {
    "int64": st.one_of(st.none(), st.integers(-(2**62), 2**62)),
    "double": st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
    "string": st.one_of(st.none(), st.text(max_size=8)),
    "binary": st.one_of(st.none(), st.binary(max_size=8)),
    "bool": st.one_of(st.none(), st.booleans()),
    "decimal": st.one_of(
        st.none(),
        st.integers(-(10**7 - 1), 10**7 - 1).map(lambda i: decimal.Decimal(i).scaleb(-2)),
    ),
    "ts": st.one_of(
        st.none(),
        st.integers(0, 2**40).map(
            lambda us: datetime.datetime(2000, 1, 1) + datetime.timedelta(microseconds=us)
        ),
    ),
}

_pa_types = {
    "int64": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
    "bool": pa.bool_(),
    "decimal": pa.decimal128(9, 2),
    "ts": pa.timestamp("us"),
}


def _column_strategy():
    base = st.sampled_from(sorted(_scalars))

    def build(kind):
        elem_vals, elem_t = _scalars[kind], _pa_types[kind]
        flat = st.tuples(st.just(elem_vals), st.just(elem_t))
        as_list = st.tuples(
            st.just(st.one_of(st.none(), st.lists(elem_vals, max_size=4))),
            st.just(pa.list_(elem_t)),
        )
        as_list_list = st.tuples(
            st.just(st.one_of(st.none(), st.lists(st.lists(elem_vals, max_size=3), max_size=3))),
            st.just(pa.list_(pa.list_(elem_t))),
        )
        as_struct = st.tuples(
            st.just(st.one_of(st.none(), st.fixed_dictionaries({"x": elem_vals}))),
            st.just(pa.struct([("x", elem_t)])),
        )
        return st.one_of(flat, as_list, as_list_list, as_struct)

    return base.flatmap(build)


def _strip_empty_offsets(arr: pa.Array) -> pa.Array:
    """Rebuild ``arr`` with Java-writer layouts: every length-0
    varlen array loses its offsets buffer (replaced with an empty
    one), recursively."""
    t = arr.type
    if len(arr) == 0 and (pa.types.is_string(t) or pa.types.is_binary(t)):
        return pa.Array.from_buffers(t, 0, [None, pa.py_buffer(b""), pa.py_buffer(b"")])
    if pa.types.is_list(t):
        child = _strip_empty_offsets(arr.flatten()) if len(arr) else arr.values.slice(0, 0)
        if len(arr) == 0:
            return pa.Array.from_buffers(t, 0, [None, pa.py_buffer(b"")], children=[child])
        offs = pa.array(
            np.concatenate([[0], np.cumsum([len(x) if x is not None else 0 for x in arr.to_pylist()])]).astype(
                np.int32
            )
        )
        mask = pa.array([x is None for x in arr.to_pylist()])
        return pa.ListArray.from_arrays(offs, child, mask=mask if arr.null_count else None)
    return arr


# ------------------------------------------------------------------- tests


@settings(max_examples=120, deadline=10000)
@given(st.data())
def test_marshal_roundtrip_random_layouts(data):
    vals_st, t = data.draw(_column_strategy())
    vals = data.draw(st.lists(vals_st, max_size=12))
    arr = pa.array(vals, type=t)

    # random slice (possibly empty, possibly full)
    if len(arr) and data.draw(st.booleans()):
        start = data.draw(st.integers(0, len(arr)))
        length = data.draw(st.integers(0, len(arr) - start))
        arr = arr.slice(start, length)

    want = arr.to_pylist()
    got = _roundtrip(arr).to_pylist()
    assert got == want


@settings(max_examples=60, deadline=10000)
@given(st.data())
def test_marshal_roundtrip_java_stripped_layouts(data):
    """Same differential, but length-0 varlen arrays are rebuilt WITHOUT
    materialized offsets (the Spark Java layout)."""
    kind = data.draw(st.sampled_from(["string", "binary"]))
    elem_vals, elem_t = _scalars[kind], _pa_types[kind]
    vals = data.draw(
        st.lists(st.one_of(st.none(), st.lists(elem_vals, max_size=3)), max_size=6)
    )
    arr = pa.array(vals, type=pa.list_(elem_t))
    stripped = _strip_empty_offsets(arr)
    assert _roundtrip(stripped).to_pylist() == arr.to_pylist()

    # and nested one level deeper, all-empty
    ll = pa.array([[] for _ in range(len(vals))], type=pa.list_(pa.list_(elem_t)))
    got = _roundtrip(_strip_empty_offsets(ll)).to_pylist()
    assert got == ll.to_pylist()


@settings(max_examples=80, deadline=10000)
@given(st.data())
def test_marshal_roundtrip_map_columns(data):
    keys = data.draw(st.lists(st.text(max_size=4), unique=True, max_size=4))
    rows = data.draw(
        st.lists(
            st.one_of(st.none(), st.just(None), st.just(keys)).map(
                lambda ks: None if ks is None else {k: len(k) for k in ks}
            ),
            max_size=8,
        )
    )
    arr = pa.array(rows, type=pa.map_(pa.string(), pa.int64()))
    if len(arr) and data.draw(st.booleans()):
        start = data.draw(st.integers(0, len(arr)))
        arr = arr.slice(start, data.draw(st.integers(0, len(arr) - start)))
    got = _roundtrip(arr).to_pylist()
    want = arr.to_pylist()
    norm = lambda r: None if r is None else sorted(r)
    assert [norm(dict(r) if r is not None else None) for r in got] == [
        norm(r if r is None else dict(r)) for r in want
    ]
