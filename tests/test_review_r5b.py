"""Round-5 review batch 5: pinned regressions for the ops/winnow,
ops/text, and floor findings (same discipline as test_review_r4{c,d,e}
and test_review_r5 — every fix lands with the test that would have
caught it).

Covered here: null doc_id must not crash the winnowing UDF, the
duplicate-span pipeline must execute the fingerprint UDF once (window
min!=max instead of distinct+count+semi-join), langid must return one
row per input document (NULL prediction instead of a silent drop),
text ops must accept non-identifier column names (backtick quoting in
F.expr), and floor must handle tuple annotations (variadic schema,
tuple round-trip, FloorTypeError on heterogeneous tuples) without
re-resolving type hints per row."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from parquet_go_spark import floor
from parquet_go_spark.ops.text import langid_ngram, text_quality, token_stats
from parquet_go_spark.ops.winnow import duplicate_spans, winnowing_fingerprints


# ------------------------------------------- winnow: null id must not crash
def test_winnow_null_doc_id_skipped(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (None, "same text here"), (2, None)],
        "doc_id long, text string",
    )
    out = winnowing_fingerprints(df).toPandas()
    # the null-id and null-text rows are skipped, never a worker crash
    assert set(out["doc_id"].unique()) == {1}
    assert len(out) > 0


# ------------------- winnow: ONE fingerprint pass in the duplicate_spans plan
def test_duplicate_spans_single_fingerprint_pass(spark):
    shared = "a long shared passage that is duplicated across two documents " * 3
    df = spark.createDataFrame(
        [
            (1, "unique prefix one. " + shared),
            (2, "another prefix entirely. " + shared),
            (3, "completely unrelated text with no duplication at all in it"),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(df)
    plan = spans._jdf.queryExecution().executedPlan().toString()
    # the previous distinct+count+semi-join shape ran the winnowing
    # mapInPandas twice (probe side + dup-fp subtree); the window
    # min!=max shape runs it once
    assert plan.count("MapInPandas") == 1, plan
    got = spans.toPandas().sort_values("doc_id")
    assert set(got["doc_id"]) == {1, 2}
    assert (got["span_len"] >= 32).all()


# -------------------------- langid: one row per input doc, NULL when unmatched
def test_langid_keeps_unclassifiable_docs(spark):
    rows = []
    for i in range(40):
        rows.append((i, "the cat and the dog sit in the house near the door", "en"))
        rows.append((100 + i, "der hund und die katze sitzen in dem haus an der tur", "de"))
    rows.append((5000, None, "en"))  # null text
    rows.append((5001, "日本語のテキストです", "ja"))  # no profile overlap
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = langid_ngram(df).toPandas().set_index("doc_id")
    # one row per input document — nothing silently dropped
    assert len(out) == len(rows)
    assert out.loc[5000, "lang_pred"] is None and out.loc[5000, "correct"] is None
    assert out.loc[5001, "lang_pred"] is None and out.loc[5001, "correct"] is None
    # classified docs still predict correctly
    assert out.loc[0, "lang_pred"] == "en" and bool(out.loc[0, "correct"])
    assert out.loc[100, "lang_pred"] == "de" and bool(out.loc[100, "correct"])


# -------------------------- text ops: non-identifier column names must parse
def test_text_ops_accept_non_identifier_column_names(spark):
    df = spark.createDataFrame(
        [(1, "hello world. the end"), (2, "a b c")],
        ["doc id", "my text"],
    )
    ts = token_stats(df, text_col="my text", id_col="doc id").toPandas()
    assert ts.loc[ts["doc id"] == 1, "n_word_tokens"].iloc[0] == 4
    tq = text_quality(df, text_col="my text", id_col="doc id").toPandas()
    assert (tq["n_tokens"] > 0).all()


# --------------------------------------------------------- floor: tuples
def test_floor_variadic_tuple_schema_and_roundtrip():
    @dataclasses.dataclass(frozen=True)
    class Rec:
        xs: tuple[int, ...]
        ys: tuple[str]

    st = floor.schema_for(Rec)
    assert st["xs"].dataType.elementType.typeName() == "long"
    assert st["ys"].dataType.elementType.typeName() == "string"
    back = floor._from_row({"xs": [1, 2, 3], "ys": ["a"]}, Rec)
    # tuple-annotated fields come back tuples: equality + hashability hold
    assert back == Rec(xs=(1, 2, 3), ys=("a",))
    assert isinstance(back.xs, tuple) and isinstance(back.ys, tuple)
    assert hash(back) == hash(Rec(xs=(1, 2, 3), ys=("a",)))


def test_floor_heterogeneous_tuple_raises_floor_type_error():
    @dataclasses.dataclass
    class Bad:
        pair: tuple[int, str]

    with pytest.raises(floor.FloorTypeError, match="heterogeneous tuple"):
        floor.schema_for(Bad)


def test_floor_hints_cached_per_class():
    @dataclasses.dataclass
    class R:
        a: int

    floor._hints.cache_clear()
    floor._from_row({"a": 1}, R)
    floor._from_row({"a": 2}, R)
    info = floor._hints.cache_info()
    assert info.misses == 1 and info.hits >= 1


# ---------- from_arrow: Arrow-legal EMPTY offsets buffer on length-0 arrays
def test_from_arrow_empty_offsets_buffer_java_layout():
    """Spark's Java Arrow writer emits a ZERO-byte offsets buffer for a
    length-0 string/binary array (the child of an all-empty list column
    in any empty or lists-all-empty partition). pyarrow always
    materializes the leading 0, so only live Spark jobs hit this —
    found by a floor.Writer flush crashing with 'buffer is smaller than
    requested size' (core/columns.py from_arrow bytes branch)."""
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.core.columns import from_arrow, to_arrow

    empty_str = pa.Array.from_buffers(
        pa.string(), 0, [None, pa.py_buffer(b""), pa.py_buffer(b"")]
    )
    col = from_arrow(empty_str)
    assert len(col.validity) == 0 and col.data.size == 0
    assert to_arrow(col).equals(pa.array([], type=pa.string()).cast(to_arrow(col).type))

    # the same layout nested as a list child — the exact crash shape
    offs = pa.py_buffer(np.asarray([0, 0], np.int32).tobytes())
    lst = pa.Array.from_buffers(
        pa.list_(pa.string()), 1, [None, offs], children=[empty_str]
    )
    from parquet_go_spark.core.chunk import decode_chunk, encode_chunk

    blob, _ = encode_chunk(from_arrow(lst))
    assert decode_chunk(blob, logical=str(lst.type)).to_pylist() == [[]]

    # length-0 decimal / fixed_size_binary may omit the data buffer
    empty_dec = pa.Array.from_buffers(pa.decimal128(7, 2), 0, [None, None])
    assert from_arrow(empty_dec).data.size == 0
    empty_flb = pa.Array.from_buffers(pa.binary(4), 0, [None, None])
    assert from_arrow(empty_flb).data.size == 0


# ---------------- parquet scan: legacy binary stats must not range-prune
def _rg(md12, ptype, num_values=10):
    return {1: [{3: {1: ptype, 3: [b"c"], 5: num_values, 12: md12}}]}


def test_rg_prune_ignores_legacy_binary_minmax():
    """Old parquet-mr computed BYTE_ARRAY min/max (legacy Statistics
    fields 1/2) with SIGNED byte ordering (PARQUET-686) — range-pruning
    strings on them wrongly drops row groups. Only the ordered
    min_value/max_value (fields 5/6) may prune byte arrays; numeric
    legacy stats are still honored (signed order == numeric order)."""
    import struct

    from parquet_go_spark.spark.parquet_source import _rg_excluded

    # legacy-only string stats claiming [b, d]: must NOT exclude 'a'
    legacy = _rg({1: b"d", 2: b"b"}, ptype=6)
    assert not _rg_excluded(legacy, [("c", "==", "a")])
    # ordered v2 string stats DO prune
    ordered = _rg({5: b"d", 6: b"b"}, ptype=6)
    assert _rg_excluded(ordered, [("c", "==", "a")])
    assert not _rg_excluded(ordered, [("c", "==", "c")])
    # numeric legacy stats still prune
    num = _rg({1: struct.pack("<q", 20), 2: struct.pack("<q", 10)}, ptype=2)
    assert _rg_excluded(num, [("c", "==", 5)])
    assert not _rg_excluded(num, [("c", "==", 15)])
