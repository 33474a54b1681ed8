"""Parquet PageIndex interop (compat/page_index.py): parse the
ColumnIndex / OffsetIndex any modern writer appends (pyarrow
``write_page_index=True``), prune row groups to surviving PAGES, decode
only those pages' bytes; and emit the same structures from our own
real-Parquet writer (``write_parquet(page_index=True)``) so foreign
engines can prune on our files. The reference computes page stats
(``data_store.go:166-179``) but never reads them (``README.md:47``);
parquet-format PageIndex.md is the public design both sides follow."""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.compat.page_index import (
    page_prune_ranges,
    read_column_index,
    read_offset_index,
)
from parquet_go_spark.compat.parquet_reader import file_meta, read_table_arrow
from parquet_go_spark.compat.parquet_writer import write_parquet
from parquet_go_spark.core.prune import rows_in_ranges

N = 20_000


def _table() -> pa.Table:
    rng = np.random.default_rng(7)
    return pa.table(
        {
            "k": pa.array(np.arange(N, dtype=np.int64)),
            "s": pa.array([f"url-{i:08d}" for i in range(N)]),
            "f": pa.array(rng.standard_normal(N)),
            "tags": pa.array(
                [[f"t{i % 5}", f"u{i % 3}"] if i % 7 else None for i in range(N)]
            ),
        }
    )


def _pa_bytes(t: pa.Table, **kw) -> bytes:
    buf = io.BytesIO()
    pq.write_table(t, buf, write_page_index=True, data_page_size=4096, **kw)
    return buf.getvalue()


def _expect(t: pa.Table, n: int, ranges) -> pa.Table:
    return t.filter(pa.array(rows_in_ranges(np.arange(n), ranges)))


@pytest.fixture(scope="module")
def table():
    return _table()


@pytest.fixture(scope="module")
def pa_file(table):
    return _pa_bytes(table, row_group_size=N)


class TestReadForeignIndex:
    def test_range_prune_matches_page_boundaries(self, table, pa_file):
        meta = file_meta(pa_file)
        ranges = page_prune_ranges(pa_file, meta, 0, [("k", "<=", 500)])
        assert ranges and ranges[0][0] == 0 and ranges[-1][1] < N
        out = read_table_arrow(pa_file, None, [0], ranges)
        assert out.equals(_expect(table, N, ranges))

    def test_string_predicate(self, table, pa_file):
        meta = file_meta(pa_file)
        r = page_prune_ranges(pa_file, meta, 0, [("s", ">=", "url-00019000")])
        assert r and r[0][0] > 0
        out = read_table_arrow(pa_file, ["s", "k"], [0], r)
        assert out.equals(_expect(table.select(["s", "k"]), N, r))

    def test_predicates_intersect(self, table, pa_file):
        meta = file_meta(pa_file)
        r = page_prune_ranges(
            pa_file, meta, 0, [("k", ">=", 3000), ("k", "<=", 3100)]
        )
        lo, hi = r[0][0], r[-1][1]
        assert lo <= 3000 and hi >= 3101 and (hi - lo) < N // 2
        out = read_table_arrow(pa_file, None, [0], r)
        assert out.equals(_expect(table, N, r))

    def test_equality_point_lookup(self, table, pa_file):
        meta = file_meta(pa_file)
        r = page_prune_ranges(pa_file, meta, 0, [("k", "==", 12345)])
        out = read_table_arrow(pa_file, None, [0], r)
        assert out.equals(_expect(table, N, r))
        assert 12345 in out.column("k").to_pylist()

    def test_second_row_group_ranges_are_relative(self, table):
        b = _pa_bytes(table, row_group_size=8192)
        meta = file_meta(b)
        r = page_prune_ranges(b, meta, 1, [("k", "<=", 9000)])
        assert r and r[-1][1] < 8192  # relative to the row group
        out = read_table_arrow(b, None, [1], r)
        assert out.equals(_expect(table.slice(8192, 8192), 8192, r))

    def test_v2_zstd_pages(self, table):
        b = _pa_bytes(
            table, row_group_size=N, compression="zstd", data_page_version="2.0"
        )
        meta = file_meta(b)
        r = page_prune_ranges(b, meta, 0, [("k", "==", 12345)])
        out = read_table_arrow(b, None, [0], r)
        assert out.equals(_expect(table, N, r))

    def test_excluded_page_bytes_never_touched(self, table, pa_file):
        """Proof of skip: corrupt every byte of an excluded page; the
        pruned read still returns exact results."""
        meta = file_meta(pa_file)
        r = page_prune_ranges(pa_file, meta, 0, [("k", "<=", 500)])
        cc = meta[4][0][1][0]  # column k
        locs = read_offset_index(pa_file, cc)
        bad = bytearray(pa_file)
        off, size, _first = locs[-1]  # last page: provably excluded
        bad[off + 5 : off + size] = b"\x00" * (size - 5)
        out = read_table_arrow(bytes(bad), None, [0], r)
        assert out.equals(_expect(table, N, r))

    def test_no_index_means_no_narrowing(self, table):
        buf = io.BytesIO()
        pq.write_table(table, buf, write_page_index=False, data_page_size=4096)
        b = buf.getvalue()
        assert page_prune_ranges(b, file_meta(b), 0, [("k", "<=", 5)]) is None

    def test_empty_survivor_set(self, table, pa_file):
        meta = file_meta(pa_file)
        r = page_prune_ranges(pa_file, meta, 0, [("k", ">=", N + 50)])
        assert r == []
        out = read_table_arrow(pa_file, None, [0], r)
        assert out.num_rows == 0 and out.column_names == table.column_names

    def test_in_list_keeps_only_member_pages(self, table, pa_file):
        meta = file_meta(pa_file)
        r = page_prune_ranges(pa_file, meta, 0, [("k", "in", (100, 12_500))])
        covered = sum(hi - lo for lo, hi in r)
        assert covered < N // 2
        out = read_table_arrow(pa_file, None, [0], r)
        assert out.equals(_expect(table, N, r))
        got = set(out.column("k").to_pylist())
        assert {100, 12_500} <= got

    def test_notnull_drops_all_null_pages(self):
        # byte-estimate page cuts never isolate an all-null run next to
        # values (nulls encode to ~0 bytes), so the clean page-level
        # notnull case is the all-null column: every page is a null
        # page and IsNotNull prunes the chunk to nothing
        t = pa.table(
            {
                "k": pa.array(range(600), type=pa.int64()),
                "v": pa.array([None] * 600, type=pa.float64()),
            }
        )
        b = write_parquet(t, max_page=1200, page_index=True)
        meta = file_meta(b)
        assert page_prune_ranges(b, meta, 0, [("v", "notnull", None)]) == []
        # a partially-null chunk stays un-narrowed (conservative)
        t2 = pa.table(
            {
                "v": pa.array(
                    [None] * 450 + [float(i) for i in range(150)],
                    type=pa.float64(),
                )
            }
        )
        b2 = write_parquet(t2, max_page=1200, page_index=True)
        m2 = file_meta(b2)
        r2 = page_prune_ranges(b2, m2, 0, [("v", "notnull", None)])
        assert r2 == [(0, 600)]
        out = read_table_arrow(b2, None, [0], r2)
        assert out.equals(t2)

    def test_nested_column_row_aligned(self, table, pa_file):
        """tags (list leaf, no page seek) must land on the same rows as
        the page-seeked flat columns."""
        meta = file_meta(pa_file)
        r = page_prune_ranges(pa_file, meta, 0, [("k", ">=", 19_000)])
        out = read_table_arrow(pa_file, ["k", "tags"], [0], r)
        exp = _expect(table.select(["k", "tags"]), N, r)
        assert out.equals(exp)


class TestWriteIndex:
    @pytest.fixture(scope="class")
    def our_file(self, table):
        return write_parquet(
            table,
            compression="snappy",
            max_page=16_384,
            max_row_group=8192,
            page_index=True,
        )

    def test_pyarrow_sees_index(self, table, our_file):
        md = pq.ParquetFile(io.BytesIO(our_file)).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                assert col.has_column_index and col.has_offset_index
        assert pq.ParquetFile(io.BytesIO(our_file)).read().equals(table)

    def test_duckdb_reads_indexed_file(self, our_file, tmp_path):
        duckdb = pytest.importorskip("duckdb")
        p = tmp_path / "ours.parquet"
        p.write_bytes(our_file)
        n, lo, hi = duckdb.sql(
            f"select count(*), min(k), max(k) from read_parquet('{p}')"
        ).fetchall()[0]
        assert (n, lo, hi) == (N, 0, N - 1)

    def test_offset_index_spans_match_pages(self, our_file):
        meta = file_meta(our_file)
        rg = meta[4][0]
        for cc in rg[1]:
            locs = read_offset_index(our_file, cc)
            ci = read_column_index(our_file, cc)
            assert locs and ci and len(ci["min_values"]) == len(locs)
            assert locs[0][2] == 0
            # offsets strictly increase and sizes cover the gap exactly
            for (o1, s1, r1), (o2, _s2, r2) in zip(locs, locs[1:]):
                assert o1 + s1 == o2 and r1 < r2

    def test_self_prune_roundtrip(self, table, our_file):
        meta = file_meta(our_file)
        r = page_prune_ranges(our_file, meta, 1, [("k", ">=", 15_000)])
        assert r and r[0][0] > 0
        out = read_table_arrow(our_file, None, [1], r)
        assert out.equals(_expect(table.slice(8192, 8192), 8192, r))

    def test_proof_of_skip_on_our_file(self, table, our_file):
        meta = file_meta(our_file)
        r = page_prune_ranges(our_file, meta, 1, [("k", ">=", 15_000)])
        cc_k = meta[4][1][1][0]
        locs = read_offset_index(our_file, cc_k)
        bad = bytearray(our_file)
        off, size, _ = locs[0]  # first page of rg1: rows 8192.., excluded
        bad[off + 5 : off + size] = b"\xff" * (size - 5)
        out = read_table_arrow(bytes(bad), None, [1], r)
        assert out.equals(_expect(table.slice(8192, 8192), 8192, r))

    def test_long_byte_bounds_truncate_and_increment(self):
        vals = [("boiler-" * 20) + f"{i:08d}" for i in range(400)]
        t = pa.table({"s": pa.array(vals)})
        b = write_parquet(t, max_page=4096, page_index=True)
        meta = file_meta(b)
        ci = read_column_index(b, meta[4][0][1][0])
        for mn, mx in zip(ci["min_values"], ci["max_values"]):
            assert len(mn) <= 64 and len(mx) <= 64
        # truncated bounds are still valid bounds for every page's values
        locs = read_offset_index(b, meta[4][0][1][0])
        firsts = [loc[2] for loc in locs] + [len(vals)]
        for i, (mn, mx) in enumerate(zip(ci["min_values"], ci["max_values"])):
            page_vals = [v.encode() for v in vals[firsts[i] : firsts[i + 1]]]
            assert mn <= min(page_vals) and mx >= max(page_vals)

    def test_null_page_and_null_counts(self):
        nulls, vals = 450, 150
        t = pa.table(
            {
                "k": pa.array(list(range(nulls + vals)), type=pa.int64()),
                "v": pa.array(
                    [None] * nulls + [float(i) for i in range(vals)],
                    type=pa.float64(),
                ),
            }
        )
        b = write_parquet(t, max_page=1200, page_index=True)
        meta = file_meta(b)
        cc_v = [c for c in meta[4][0][1] if c[3][3] == [b"v"]][0]
        ci = read_column_index(b, cc_v)
        oi = read_offset_index(b, cc_v)
        firsts = [loc[2] for loc in oi] + [nulls + vals]
        assert sum(ci["null_counts"]) == nulls
        for i in range(len(oi)):
            lo, hi = firsts[i], firsts[i + 1]
            exp_nulls = max(0, min(hi, nulls) - lo)
            assert ci["null_counts"][i] == exp_nulls
            assert ci["null_pages"][i] == (exp_nulls == hi - lo)
        # a fully-null column marks every page null and prunes to nothing
        t2 = pa.table(
            {
                "k": pa.array(list(range(300)), type=pa.int64()),
                "v": pa.array([None] * 300, type=pa.float64()),
            }
        )
        b2 = write_parquet(t2, max_page=1200, page_index=True)
        m2 = file_meta(b2)
        cc2 = [c for c in m2[4][0][1] if c[3][3] == [b"v"]][0]
        ci2 = read_column_index(b2, cc2)
        assert ci2["null_pages"] and all(ci2["null_pages"])
        assert page_prune_ranges(b2, m2, 0, [("v", "==", 10.0)]) == []

    def test_v2_pages_with_index_roundtrip(self, table):
        """Our V2 data pages and the PageIndex coexist: prune + decode
        exact, pyarrow reads the file."""
        b = write_parquet(
            table.select(["k", "s"]),
            compression="zstd",
            page_version=2,
            max_page=16_384,
            max_row_group=8192,
            page_index=True,
        )
        assert pq.ParquetFile(io.BytesIO(b)).read().equals(table.select(["k", "s"]))
        meta = file_meta(b)
        r = page_prune_ranges(b, meta, 0, [("k", "<=", 300)])
        assert r and r[-1][1] < 8192
        out = read_table_arrow(b, None, [0], r)
        exp = _expect(table.slice(0, 8192).select(["k", "s"]), 8192, r)
        assert out.equals(exp)

    def test_nested_leaf_index_prunes(self, table, our_file):
        """The tags leaf carries an index too (null counts over level
        positions); pruning on k with tags selected stays exact."""
        meta = file_meta(our_file)
        cc_t = [
            c
            for c in meta[4][0][1]
            if [p.decode() for p in c[3][3]][0] == "tags"
        ][0]
        ci = read_column_index(our_file, cc_t)
        assert ci and all(n >= 0 for n in ci["null_counts"])
        r = page_prune_ranges(our_file, meta, 0, [("k", "<=", 100)])
        out = read_table_arrow(our_file, ["k", "tags"], [0], r)
        exp = _expect(table.slice(0, 8192).select(["k", "tags"]), 8192, r)
        assert out.equals(exp)


class TestDistributedScan:
    def test_scan_uses_page_tier(self, spark, table, tmp_path):
        """read_parquet_table(prune=...) narrows to pages inside each
        row-group task and stays exact after re-filter."""
        d = tmp_path / "pq"
        d.mkdir()
        for k in range(2):
            buf = io.BytesIO()
            pq.write_table(
                table.slice(k * 10_000, 10_000).select(["k", "s", "f"]),
                buf,
                write_page_index=True,
                data_page_size=4096,
                row_group_size=5000,
            )
            (d / f"part-{k}.parquet").write_bytes(buf.getvalue())
        from parquet_go_spark.spark.parquet_source import read_parquet_table

        df = read_parquet_table(
            spark, str(d), columns=["k", "s"], prune=[("k", ">=", 19_500)]
        )
        rows = df.where("k >= 19500").collect()
        assert sorted(r["k"] for r in rows) == list(range(19_500, 20_000))
        # conservative superset, but far fewer than the full 20k rows
        total = df.count()
        assert 500 <= total <= 4096

    def test_scan_without_index_still_exact(self, spark, table, tmp_path):
        d = tmp_path / "pq2"
        d.mkdir()
        buf = io.BytesIO()
        pq.write_table(
            table.select(["k", "f"]), buf, write_page_index=False
        )
        (d / "part-0.parquet").write_bytes(buf.getvalue())
        from parquet_go_spark.spark.parquet_source import read_parquet_table

        df = read_parquet_table(spark, str(d), prune=[("k", "<=", 100)])
        assert df.where("k <= 100").count() == 101


@pytest.mark.parametrize("nulls", [False, True])
@pytest.mark.parametrize("foreign", [False, True])
@pytest.mark.parametrize("page_index", [False, True])
def test_disjoint_row_ranges_match_the_table(nulls, foreign, page_index):
    # ranges that cut through pages, read page-seeked (OffsetIndex) or
    # trimmed from whole pages; flat columns without nulls keep the
    # kept rows' bytes as whole spans, columns with nulls gather them
    rng = np.random.default_rng(11)
    n = 3000
    missing = rng.random(n) < (0.2 if nulls else 0.0)
    t = pa.table(
        {
            "s": pa.array([None if m else f"v{i % 97}" * (i % 4) for i, m in enumerate(missing)]),
            "i": pa.array(rng.integers(0, 50, n), mask=missing),
        }
    )
    if foreign:
        buf = io.BytesIO()
        pq.write_table(t, buf, write_page_index=page_index, data_page_size=512)
        b = buf.getvalue()
    else:
        b = write_parquet(t, page_index=page_index, max_page=512)
    ranges = [(0, 1), (40, 700), (701, 702), (1500, 2100), (2999, 3000)]
    assert read_table_arrow(b, None, [0], ranges).equals(_expect(t, n, ranges))
