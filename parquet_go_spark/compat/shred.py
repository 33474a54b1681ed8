"""Dremel shredding of Arrow nested columns into parquet rep/def levels
(the write-side inverse of ``parquet_reader``'s assembly; reference
semantics: ``data_store.go`` level emission, ``schema.go:585-647``
LIST/MAP construction).

For one leaf of a nested column this produces the flat level streams a
parquet data page needs:

* ``def``   — depth of the deepest defined node at each position
* ``rep``   — depth of the list whose element starts at each position
* ``leaf``  — the fully-defined leaf values, in position order

plus the flattened schema-element chain for the footer.  Nesting handled:
lists at any depth (canonical 3-level output), structs (faithful null
propagation — a null struct is written as the struct being undefined, not
as a struct of nulls), and maps (canonical ``key_value`` shape, required
keys).  Everything is numpy segment arithmetic over Arrow offsets — no
per-row Python on the data path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

__all__ = ["leaf_specs", "shred_leaf", "shred_list"]


def leaf_specs(name: str, typ: pa.DataType, nullable: bool = True):
    """Enumerate the leaves of a (possibly nested) column.

    -> list of {"path": [..], "steps": [..], "max_def", "max_rep",
    "leaf_type", "leaf_optional"}; steps drive :func:`shred_leaf`.
    """
    out = []

    def walk(t: pa.DataType, path, steps, d, r, optional):
        d2 = d + (1 if optional else 0)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            walk(
                t.value_type,
                path + ["list", "element"],
                steps + [("list", d2, r + 1)],
                d2 + 1,  # repeated group increment
                r + 1,
                t.value_field.nullable,
            )
        elif pa.types.is_map(t):
            base = d2 + 1  # repeated key_value increment
            out.append(
                {
                    "path": path + ["key_value", "key"],
                    "steps": steps + [("map", d2, r + 1, 0), ("leaf", base, False)],
                    "max_def": base,
                    "max_rep": r + 1,
                    "leaf_type": t.key_type,
                    "leaf_optional": False,
                    "d_leaf": base,
                }
            )
            walk(
                t.item_type,
                path + ["key_value", "value"],
                steps + [("map", d2, r + 1, 1)],
                base,
                r + 1,
                t.item_field.nullable,
            )
        elif pa.types.is_struct(t):
            for i in range(t.num_fields):
                f = t.field(i)
                walk(
                    f.type,
                    path + [f.name],
                    steps + [("field", i, d2)],
                    d2,
                    r,
                    f.nullable,
                )
        else:
            out.append(
                {
                    "path": list(path),
                    "steps": steps + [("leaf", d2, optional)],
                    "max_def": d2,
                    "max_rep": r,
                    "leaf_type": t,
                    "leaf_optional": optional,
                    "d_leaf": d2,
                }
            )

    walk(typ, [name], [], 0, 0, nullable)
    return out


# ---------------------------------------------------------------------------
# Recursive shredder
# ---------------------------------------------------------------------------


def _valid_mask(arr: pa.Array) -> np.ndarray:
    return ~np.asarray(pc.is_null(arr))


def _list_parts(arr: pa.Array):
    """(validity, sizes int64, flattened elements of non-null lists)."""
    valid = _valid_mask(arr)
    if len(arr) == 0:
        # Spark's Java writer may omit the offsets buffer of a length-0
        # list/map entirely (Arrow-legal; pyarrow never builds this) —
        # .offsets/.flatten() read PAST it and return a child slice with
        # a garbage offset. Take the empty element stream structurally.
        if pa.types.is_map(arr.type):
            elems = pa.StructArray.from_arrays(
                [arr.keys.slice(0, 0), arr.items.slice(0, 0)], names=["key", "value"]
            )
        else:
            elems = arr.values.slice(0, 0)
        return valid, np.zeros(0, np.int64), elems
    if pa.types.is_map(arr.type):
        # rebuild the list WITH the map's validity: a null map slot may
        # carry non-degenerate offsets (legal Arrow), and flattening
        # without the mask leaked its key/value entries into the leaf
        # and level streams while counts said 0 — corrupted shredding
        # a SLICED map chunk (row-group split of a 1-chunk column) hands
        # over offsets as a buffer-offset view, which from_arrays rejects
        # when combined with a mask ("Null bitmap with offsets slice not
        # supported") — rebase them into a fresh zero-offset array; the
        # values (arr.keys/arr.items are always the FULL children, which
        # the slice-adjusted offset VALUES index into) stay zero-copy
        offsets = arr.offsets
        if offsets.offset:
            offsets = pa.array(np.asarray(offsets, dtype=np.int32), type=pa.int32())
        st = pa.ListArray.from_arrays(
            offsets,
            pa.StructArray.from_arrays(
                [arr.keys, arr.items], names=["key", "value"]
            ),
            mask=pa.array(~valid),
        )
        sizes = np.diff(np.asarray(arr.offsets, dtype=np.int64))
        sizes = np.where(valid, sizes, 0)
        return valid, sizes, st.flatten()
    sizes = np.asarray(pc.fill_null(pc.list_value_length(arr), 0), dtype=np.int64)
    return valid, sizes, arr.flatten()


def _leaf_levels(arr: pa.Array, d_leaf: int, optional: bool):
    """Levels of a leaf step -> (def_, rep, counts, valid)."""
    n = len(arr)
    valid = _valid_mask(arr)
    if not optional and not valid.all():
        raise ValueError("nulls in a required leaf (map key)")
    def_ = np.where(valid, d_leaf, d_leaf - 1).astype(np.int64) if optional else np.full(
        n, d_leaf, dtype=np.int64
    )
    return def_, np.zeros(n, dtype=np.int64), np.ones(n, dtype=np.int64), valid


def _wrap_levels(valid, sizes, cdef, crep, ccounts, chas, d_group: int, r_child: int):
    """One list step over its elements' levels -> (def_, rep, counts, has)."""
    # per-slot element ranges
    k0 = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=k0[1:])
    # mark every element start with this list's rep depth (slot firsts
    # get overwritten by the caller) and find the child-position offset
    # at each slot boundary; every slot spans >= 1 position, so equal
    # lengths mean one position per element
    if len(ccounts) == len(cdef):
        crep[:] = r_child
        slot_pos = k0
    else:
        # element position ranges (contiguous): starts from ccounts
        cstarts = np.zeros(len(ccounts) + 1, dtype=np.int64)
        np.cumsum(ccounts, out=cstarts[1:])
        crep[cstarts[:-1]] = r_child
        slot_pos = cstarts[k0]
    pos_counts = np.diff(slot_pos)
    empty = sizes == 0
    # insert one placeholder position per empty/null slot (np.insert's
    # placement, with the index arithmetic done once for all three)
    ins_at = slot_pos[:-1][empty]
    ins_pos = ins_at + np.arange(len(ins_at))
    at_child = np.ones(len(cdef) + len(ins_pos), dtype=bool)
    at_child[ins_pos] = False
    def_ = np.empty(len(at_child), dtype=np.int64)
    def_[at_child] = cdef
    def_[ins_pos] = np.where(valid[empty], d_group, d_group - 1)
    rep = np.zeros(len(at_child), dtype=np.int64)
    rep[at_child] = crep
    has = np.zeros(len(at_child), dtype=bool)
    has[at_child] = chas
    counts = np.where(empty, 1, pos_counts).astype(np.int64)
    return def_, rep, counts, has


def _shred(arr: pa.Array, steps, d: int, r: int):
    """-> (def_, rep, counts, has_value, leaf)

    def_/rep/has_value are per level-position; counts[i] = positions of
    slot i (slot positions are contiguous, in slot order); leaf holds the
    values for positions where has_value (def == max_def)."""
    step = steps[0]

    if step[0] == "leaf":
        _, d_leaf, optional = step
        def_, rep, counts, valid = _leaf_levels(arr, d_leaf, optional)
        return def_, rep, counts, valid, arr.drop_null() if optional else arr

    if step[0] in ("list", "map"):
        valid, sizes, flat = _list_parts(arr)
        if step[0] == "map":
            _, d_group, r_child, which = step
            flat = flat.field(which)
        else:
            _, d_group, r_child = step
        cdef, crep, ccounts, chas, leaf = _shred(flat, steps[1:], d_group + 1, r_child)
        return (*_wrap_levels(valid, sizes, cdef, crep, ccounts, chas, d_group, r_child), leaf)

    if step[0] == "field":
        _, idx, d_struct = step
        child = arr.field(idx)
        cdef, crep, ccounts, chas, leaf = _shred(child, steps[1:], d_struct, r)
        null_slots = ~_valid_mask(arr)
        if not null_slots.any():
            return cdef, crep, ccounts, chas, leaf
        # faithful struct nulls: replace each null slot's positions with a
        # single position at def = d_struct - 1 (struct undefined)
        cstarts = np.zeros(len(ccounts) + 1, dtype=np.int64)
        np.cumsum(ccounts, out=cstarts[1:])
        pos_slot = np.repeat(np.arange(len(ccounts)), ccounts)
        keep = ~null_slots[pos_slot]
        # drop leaf values carried under null structs
        leaf_keep = keep[chas] if len(chas) else np.empty(0, bool)
        leaf = leaf.filter(pa.array(leaf_keep)) if len(leaf) else leaf
        cdef, crep, chas = cdef[keep], crep[keep], chas[keep]
        kept_counts = np.where(null_slots, 0, ccounts)
        kept_starts = np.zeros(len(kept_counts) + 1, dtype=np.int64)
        np.cumsum(kept_counts, out=kept_starts[1:])
        ins_at = kept_starts[:-1][null_slots]
        def_ = np.insert(cdef, ins_at, d_struct - 1)
        rep = np.insert(crep, ins_at, 0)
        has = np.insert(chas, ins_at, False)
        counts = np.where(null_slots, 1, ccounts).astype(np.int64)
        return def_, rep, counts, has, leaf

    raise ValueError(f"unknown shred step {step!r}")  # pragma: no cover


def shred_leaf(arr: pa.Array, spec: dict):
    """Shred one leaf of a nested column.

    -> (rep, def_, leaf_values: pa.Array, row_counts: int64[n_rows], has)
    where row_counts[i] is the number of level positions row i spans
    (page cuts must respect these boundaries) and has marks positions
    carrying a leaf value (def == max_def)."""
    def_, rep, counts, has, leaf = _shred(arr, spec["steps"], 0, 0)
    _start_rows(rep, counts)
    assert has.sum() == len(leaf)
    return rep, def_, leaf, counts, has


def shred_list(arr: pa.Array):
    """One list level over its elements as a single opaque optional leaf
    (steps ``("list", 1, 1), ("leaf", 3, True)``: max rep 1, max def 3)
    -> (rep, def_, validity, elements). The elements (a map's key/value
    entries) come back whole, nulls kept, for an inner chunk to encode."""
    valid, sizes, elems = _list_parts(arr)
    def_, rep, counts, _has = _wrap_levels(valid, sizes, *_leaf_levels(elems, 3, True), 1, 1)
    _start_rows(rep, counts)
    return rep, def_, valid, elems


def _start_rows(rep: np.ndarray, counts: np.ndarray) -> None:
    """Top-level slot firsts start new records (rep 0)."""
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    if len(counts):
        rep[starts[:-1]] = 0
