"""One zone-map prune evaluator (``core/prune.py``) behind all four prune
units: PGSC manifest rows and pages, Parquet footer Statistics and
ColumnIndex pages. The same bounds and predicate must get the same
decision from every unit, and no unit holding a matching row may be
dropped (Spark SQL semantics: NaN = NaN, NaN sorts above every number,
-0.0 = 0.0)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from parquet_go_spark.compat.page_index import (
    column_index_struct,
    offset_index_struct,
    page_prune_ranges,
)
from parquet_go_spark.compat.parquet_reader import file_meta, file_meta_path
from parquet_go_spark.compat.parquet_writer import write_parquet
from parquet_go_spark.compat.thrift_writer import write_struct
from parquet_go_spark.core.chunk import bound_str
from parquet_go_spark.spark import decode_job, parquet_source
from parquet_go_spark.spark.decode_job import _surviving_ranges, surviving_partitions
from parquet_go_spark.spark.encode_job import encode_columns_to_partition, parse_partition_file
from parquet_go_spark.spark.parquet_source import file_prunes, plan_scan_tasks

NAN = float("nan")

# ------------------------------------------------ one decision, four units

_PGSC_TYPE = {"int": "int64", "float": "double", "str": "bytes"}
_PARQUET_TYPE = {"int": (2, "<q"), "float": (5, "<d"), "str": (6, None)}


def _plain(kind: str, v) -> bytes | None:
    if v is None:
        return None
    fmt = _PARQUET_TYPE[kind][1]
    return v.encode() if fmt is None else struct.pack(fmt, v)


def _manifest_row_excluded(zone, pred, monkeypatch) -> bool:
    kind, lo, hi, nulls, rows = zone
    row = {
        "column": "c",
        "ptype": _PGSC_TYPE[kind],
        "min_str": bound_str(lo),
        "max_str": bound_str(hi, is_max=True),
        "null_count": nulls,
        "num_rows": rows,
        "encoding": "plain",
        "bloom": None,
    }
    monkeypatch.setattr(decode_job.mf, "committed_partitions", lambda d: {0})
    monkeypatch.setattr(decode_job.mf, "read_partition_manifest", lambda d, pid: [row])
    return surviving_partitions("unused", [pred]) == []


def _pgsc_page_excluded(zone, pred, monkeypatch) -> bool:
    kind, lo, hi, nulls, rows = zone
    page = {
        "row_lo": 0,
        "row_hi": rows,
        "min_str": bound_str(lo),
        "max_str": bound_str(hi, is_max=True),
        "nulls": nulls,
        "ptype": _PGSC_TYPE[kind],
    }
    monkeypatch.setattr(decode_job, "chunk_page_index", lambda blob: [page])
    ranges, _ = _surviving_ranges([pred], {"c": b""})
    return ranges == []


def _footer_excluded(zone, pred) -> bool:
    kind, lo, hi, nulls, rows = zone
    stats = {3: nulls}
    if lo is not None:
        stats[6] = _plain(kind, lo)
    if hi is not None:
        stats[5] = _plain(kind, hi)
    md = {1: _PARQUET_TYPE[kind][0], 3: [b"c"], 5: rows, 12: stats}
    return parquet_source._rg_excluded({1: [{3: md}]}, [pred])


def _column_index_excluded(zone, pred) -> bool:
    kind, lo, hi, nulls, rows = zone
    page = {
        "offset": 0,
        "size": 1,
        "first_row": 0,
        "null_page": nulls >= rows,
        "min": _plain(kind, lo),
        "max": _plain(kind, hi),
        "null_count": nulls,
    }
    oi = write_struct(offset_index_struct([page]))
    ci = write_struct(column_index_struct([page]))
    md = {1: _PARQUET_TYPE[kind][0], 3: [b"c"], 5: rows}
    cc = {3: md, 4: 0, 5: len(oi), 6: len(oi), 7: len(ci)}
    return page_prune_ranges(oi + ci, {4: [{1: [cc], 3: rows}]}, 0, [pred]) == []


_INT = ("int", 10, 20, 0, 5)
_FLOAT = ("float", 1.5, 2.5, 0, 5)
_STR = ("str", "b", "d", 0, 5)
# (zone, [(op, probe, excluded)])
CASES = {
    "int": (_INT, [
        ("==", 5, True), ("==", 15, False), ("==", 25, True),
        ("in", (5, 25), True), ("in", (5, 15), False),
        ("<", 10, True), ("<", 11, False), ("<=", 9, True), ("<=", 10, False),
        (">", 20, True), (">", 19, False), (">=", 21, True), (">=", 20, False),
        ("notnull", None, False),
    ]),
    "float_with_nan": (_FLOAT, [
        ("==", 1.0, True), ("==", 2.0, False), ("==", NAN, False),
        ("in", (1.0, 3.0), True), ("in", (1.0, NAN), False),
        ("<", 1.5, True), ("<=", 1.0, True), ("<=", NAN, False),
        # NaN rows may hide behind finite bounds and match > / >=
        (">", 3.0, False), (">=", 3.0, False),
        ("notnull", None, False),
    ]),
    "nan_bound": (("float", NAN, 2.5, 0, 5), [
        ("==", 3.0, True), ("==", 1.0, False), ("<=", 1.0, False), ("<", 0.0, False),
    ]),
    "string": (_STR, [
        ("==", "a", True), ("==", "c", False), ("==", b"e", True),
        ("in", ("a", "e"), True), ("in", ("a", "c"), False),
        ("<", "b", True), ("<", "c", False), ("<=", "a", True),
        (">", "d", True), (">", "c", False), (">=", "e", True), (">=", "d", False),
        ("notnull", None, False),
    ]),
    "all_null": (("int", None, None, 5, 5), [
        ("==", 15, True), ("in", (15,), True), ("<", 15, True), ("<=", 15, True),
        (">", 15, True), (">=", 15, True), ("notnull", None, True),
    ]),
    "missing_bound": (("int", None, 20, 0, 5), [
        ("==", 5, False), ("==", 25, True), ("<", 5, False), ("<=", 5, False),
        (">", 20, True), (">=", 25, True), ("in", (5, 25), False),
    ]),
    "cross_type_int": (_INT, [
        ("==", "5", False), ("in", ("5", "25"), False), ("<", "5", False),
        ("<=", "5", False), (">", "25", False), (">=", "25", False),
    ]),
    "cross_type_str": (_STR, [
        ("==", 1, False), ("in", (1, 100), False), ("<", 1, False),
        ("<=", 1, False), (">", 100, False), (">=", 100, False),
    ]),
}
_ROWS = [
    (name, zone, op, v, want) for name, (zone, preds) in CASES.items() for op, v, want in preds
]


@pytest.mark.parametrize(
    "name,zone,op,value,want", _ROWS, ids=[f"{r[0]}-{r[2]}-{r[3]!r}" for r in _ROWS]
)
def test_one_decision_for_every_unit(name, zone, op, value, want, monkeypatch):
    pred = ("c", op, value)
    got = {
        "manifest_row": _manifest_row_excluded(zone, pred, monkeypatch),
        "pgsc_page": _pgsc_page_excluded(zone, pred, monkeypatch),
        "footer_statistics": _footer_excluded(zone, pred),
        "column_index_page": _column_index_excluded(zone, pred),
    }
    assert got == dict.fromkeys(got, want)


# ------------------------------------------------------------------ pins


def _nan_dict_column() -> pa.Table:
    return pa.table({"d": pa.array([1.0, NAN, 2.0, NAN] * 50, type=pa.float64())})


@pytest.mark.parametrize("pred", [("d", "==", NAN), ("d", "in", (NAN,)), ("d", "in", (5.0, NAN))])
def test_nan_lookup_keeps_pgsc_dictionary_partition(tmp_path, pred):
    """Spark SQL has NaN = NaN: the rle_dict chunk holds NaN, so a NaN
    point lookup must keep the partition (a set never finds NaN)."""
    out = str(tmp_path)
    encode_columns_to_partition(_nan_dict_column(), ["d"], out, 0, encodings={"d": "rle_dict"})
    assert decode_job._read_chunk_dict(out, 0, "d") is not None
    assert surviving_partitions(out, [pred]) == [0]


@pytest.mark.parametrize("writer", ["ours", "pyarrow"])
@pytest.mark.parametrize("pred", [("d", "==", NAN), ("d", "in", (NAN,)), ("d", "in", (5.0, NAN))])
def test_nan_lookup_keeps_parquet_dictionary_row_group(tmp_path, writer, pred):
    p = tmp_path / "nan.parquet"
    if writer == "ours":
        p.write_bytes(write_parquet(_nan_dict_column()))
    else:
        pq.write_table(_nan_dict_column(), p, use_dictionary=True)
    assert plan_scan_tasks([str(p)], [pred]) == [(str(p), 0)]


@pytest.fixture
def dotted_file(tmp_path):
    """Top-level ``a.b`` = [5, 6, 7] next to a struct ``a`` whose leaf
    a→b holds 100..102: the leaf path joins to the same 'a.b'."""
    t = pa.table(
        {
            "a.b": pa.array([5, 6, 7], type=pa.int64()),
            "a": pa.array([{"b": 100}, {"b": 101}, {"b": 102}]),
        }
    )
    p = str(tmp_path / "dotted.parquet")
    pq.write_table(t, p)
    return p


def test_dotted_top_level_name_plans_its_own_stats(dotted_file):
    assert plan_scan_tasks([dotted_file], [("a.b", "==", 5)]) == [(dotted_file, 0)]
    assert plan_scan_tasks([dotted_file], [("a.b", "==", 100)]) == []


def test_dotted_top_level_name_file_prunes(dotted_file):
    assert file_prunes([dotted_file], [("a.b", "==", 5)]) == [dotted_file]
    assert file_prunes([dotted_file], [("a.b", "==", 100)]) == []


@pytest.fixture
def short_stat_file(tmp_path, monkeypatch):
    """A footer whose INT32 Statistics bounds are 2 bytes long (no
    dictionary, so only the statistics could exclude)."""
    p = str(tmp_path / "short.parquet")
    pq.write_table(pa.table({"i": pa.array([1, 2, 3], type=pa.int32())}), p, use_dictionary=False)
    meta = file_meta_path(p)
    stats = meta[4][0][1][0][3][12]
    stats[5] = stats[6] = b"\x01\x02"
    monkeypatch.setattr(parquet_source, "file_meta_path", lambda f: meta)
    return p


def test_short_footer_stat_keeps_row_group_in_plan(short_stat_file):
    assert plan_scan_tasks([short_stat_file], [("i", "==", 7)]) == [(short_stat_file, 0)]


def test_short_footer_stat_keeps_file(short_stat_file):
    assert file_prunes([short_stat_file], [("i", "==", 7)]) == [short_stat_file]


# ----------------------------------------------------- soundness property


def _spark_match(x, op: str, v) -> bool:
    """Spark SQL comparison semantics for one non-null value."""
    if op == "notnull":
        return True
    if op == "in":
        return any(_spark_match(x, "==", m) for m in v)
    if isinstance(x, float):
        # NaN = NaN and NaN sorts above every number; -0.0 = 0.0
        key = lambda f: (1, 0.0) if math.isnan(f) else (0, f)  # noqa: E731
        x, v = key(x), key(float(v))
    return {
        "==": x == v, "<": x < v, "<=": x <= v, ">": x > v, ">=": x >= v,
    }[op]


_OPS = ["==", "in", "<", "<=", ">", ">=", "notnull"]
_FLOATS = st.sampled_from([NAN, 0.0, -0.0, 1.5, -2.0, 3.25, 1e300, -1e300]) | st.floats(-50, 50)
_KINDS = {
    "int": (st.integers(-(1 << 40), 1 << 40) | st.integers(-20, 20), pa.int64()),
    "float": (_FLOATS, pa.float64()),
    "str": (st.text("abcé", max_size=4), pa.string()),
}


@st.composite
def _column_and_preds(draw):
    kind = draw(st.sampled_from(sorted(_KINDS)))
    values, typ = _KINDS[kind]
    col = draw(st.lists(st.none() | values, min_size=1, max_size=16))
    preds = []
    for _ in range(draw(st.integers(1, 3))):
        op = draw(st.sampled_from(_OPS))
        # probe from the column half the time, so matches are common
        present = [x for x in col if x is not None] or [None]
        probe = lambda: draw(st.sampled_from(present) | values)  # noqa: E731
        if op == "in":
            v = tuple(p for p in (probe() for _ in range(draw(st.integers(1, 3)))) if p is not None)
        else:
            v = None if op == "notnull" else probe()
        if op == "notnull" or v not in (None, ()):
            preds.append(("c", op, v))
    return kind, pa.array(col, type=typ), preds


def _matching_rows(arr: pa.Array, preds) -> list[int]:
    vals = arr.to_pylist()
    return [
        i
        for i, x in enumerate(vals)
        if x is not None and all(_spark_match(x, op, v) for _, op, v in preds)
    ]


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(case=_column_and_preds(), dict_enc=st.booleans())
def test_pgsc_units_holding_a_match_survive(tmp_path_factory, case, dict_enc):
    kind, arr, preds = case
    hits = _matching_rows(arr, preds)
    out = str(tmp_path_factory.mktemp("pgsc"))
    encode_columns_to_partition(
        pa.table({"c": arr}),
        ["c"],
        out,
        0,
        page_stats=True,
        max_page=64,
        bloom_columns=["c"],
        encodings={"c": "rle_dict"} if dict_enc else None,
    )
    if hits:
        assert surviving_partitions(out, preds) == [0]
    with open(f"{out}/part-00000.bin", "rb") as f:
        ranges, _ = _surviving_ranges(preds, parse_partition_file(f.read(), {"c"}))
    if ranges is not None:
        covered = np.zeros(len(arr), dtype=bool)
        for lo, hi in ranges:
            covered[lo:hi] = True
        assert covered[hits].all(), (ranges, hits)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(case=_column_and_preds())
def test_parquet_units_holding_a_match_survive(tmp_path_factory, case):
    kind, arr, preds = case
    hits = _matching_rows(arr, preds)
    p = tmp_path_factory.mktemp("pq") / "t.parquet"
    table = pa.table({"c": arr})
    p.write_bytes(
        write_parquet(table, max_row_group=8, max_page=32, page_index=True, bloom_columns=["c"])
    )
    tasks = plan_scan_tasks([str(p)], preds)
    meta = file_meta(p.read_bytes())
    starts = np.cumsum([0] + [int(rg[3]) for rg in meta[4]])
    for i in range(len(meta[4])):
        rg_hits = [h - starts[i] for h in hits if starts[i] <= h < starts[i + 1]]
        if not rg_hits:
            continue
        assert (str(p), i) in tasks
        ranges = page_prune_ranges(p.read_bytes(), meta, i, preds)
        if ranges is not None:
            assert all(any(lo <= h < hi for lo, hi in ranges) for h in rg_hits), (ranges, rg_hits)
    if hits:
        assert file_prunes([str(p)], preds) == [str(p)]


# ----------------------------------- bounds read under the logical type


def _both_tiers_keep(path: str, pred) -> None:
    """Neither the row-group tier (footer Statistics) nor the ColumnIndex
    tier excludes the file's one row group."""
    buf = open(path, "rb").read()
    meta = file_meta(buf)
    assert plan_scan_tasks([path], [pred]) == [(path, 0)]
    ranges = page_prune_ranges(buf, meta, 0, [pred])
    assert ranges is None or ranges == [(0, int(meta[4][0][3]))]


@pytest.mark.parametrize("pred", [("u", "==", 3_000_000_000), ("u", ">=", 2_000_000_000)])
def test_uint32_bounds_keep_their_row_group(tmp_path, pred):
    # the stats are the uint32 bits; decoded signed, 3e9 reads as negative
    p = str(tmp_path / "u.parquet")
    pq.write_table(
        pa.table({"u": pa.array([1, 3_000_000_000], pa.uint32())}), p, write_page_index=True
    )
    _both_tiers_keep(p, pred)


@pytest.mark.parametrize("op", ["==", ">="])
def test_millisecond_timestamp_bounds_keep_their_row_group(tmp_path, op):
    # the stats are epoch millis; a pushed-down timestamp is epoch micros
    import datetime as dt

    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from parquet_go_spark.spark.datasource import _filter_to_prune

    t0 = dt.datetime(2021, 1, 1)
    p = str(tmp_path / "ms.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([t0, t0 + dt.timedelta(days=1)], pa.timestamp("ms"))}),
        p,
        coerce_timestamps="ms",
        write_page_index=True,
    )
    (pred,) = _filter_to_prune({"==": EqualTo, ">=": GreaterThanOrEqual}[op](("ts",), t0))
    _both_tiers_keep(p, pred)


@pytest.mark.spark
def test_int32_decimal_bounds_keep_their_row_group(spark, tmp_path):
    # Spark stores decimal(5,2) as INT32 with unscaled stats {150, 225}
    import decimal
    import glob

    out = str(tmp_path / "dec")
    spark.createDataFrame(
        [(decimal.Decimal("1.50"),), (decimal.Decimal("2.25"),)], "d decimal(5,2)"
    ).coalesce(1).write.parquet(out)
    (p,) = glob.glob(f"{out}/*.parquet")
    assert file_meta_path(p)[4][0][1][0][3][1] == 1  # physical INT32
    _both_tiers_keep(p, ("d", "==", decimal.Decimal("2.25")))
