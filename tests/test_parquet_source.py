"""Distributed real-Parquet source (spark/parquet_source.py): files
written by pyarrow/Spark decode through our kernels, row groups packed
by bytes into shuffle-free tasks, with footer-only planning and
footer-stats file pruning (reference read side ``file_reader.go`` /
``file_meta.go:14-74`` at cluster scale)."""

from __future__ import annotations

import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.compat.parquet_reader import (
    file_meta_path,
    read_table_arrow,
)
from parquet_go_spark.spark.parquet_source import (
    file_prunes,
    parquet_scan_schema,
    read_parquet_table,
)

N = 300


def _mixed_table() -> pa.Table:
    return pa.table(
        {
            "i": pa.array([i if i % 9 else None for i in range(N)], type=pa.int64()),
            "s": pa.array([f"w{i % 11}" if i % 7 else None for i in range(N)]),
            "f": pa.array([i / 3.0 for i in range(N)], type=pa.float64()),
            "b": pa.array([i % 2 == 0 for i in range(N)]),
            "ts": pa.array([i * 1_000_000 for i in range(N)], type=pa.timestamp("us")),
            "d": pa.array([18000 + i for i in range(N)], type=pa.date32()),
            "dec": pa.array(
                [decimal.Decimal(i).scaleb(-2) for i in range(N)],
                type=pa.decimal128(9, 2),
            ),
            "ls": pa.array(
                [[i, i + 1] if i % 5 else (None if i % 10 else []) for i in range(N)],
                type=pa.list_(pa.int32()),
            ),
        }
    )


@pytest.fixture(scope="module")
def pq_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pqsrc")
    t = _mixed_table()
    # three files with disjoint i-ranges so footer stats can prune
    for k in range(3):
        pq.write_table(
            t.slice(k * 100, 100), d / f"part-{k}.parquet",
            compression="snappy", version="2.6",
        )
    return str(d)


def test_read_table_arrow_matches_pyarrow(pq_dir):
    f = sorted(glob.glob(pq_dir + "/*.parquet"))[0]
    buf = open(f, "rb").read()
    got = read_table_arrow(buf)
    exp = pq.read_table(f)
    assert got.to_pylist() == exp.to_pylist()


def test_scan_schema_footer_only(pq_dir):
    f = sorted(glob.glob(pq_dir + "/*.parquet"))[0]
    schema = parquet_scan_schema(f)
    assert [n for n, _, _ in schema] == ["i", "s", "f", "b", "ts", "d", "dec", "ls"]
    ddls = dict((n, ddl) for n, _, ddl in schema)
    assert ddls["dec"] == "decimal(9,2)"
    assert ddls["ls"] == "array<int>"
    assert ddls["ts"] == "timestamp"


def test_distributed_scan_matches_pyarrow(spark, pq_dir):
    df = read_parquet_table(spark, pq_dir)
    exp = pq.read_table(pq_dir).sort_by("f").to_pylist()
    got = sorted(df.collect(), key=lambda r: r["f"])
    assert len(got) == N
    for g, e in zip(got, exp):
        assert g["i"] == e["i"] and g["s"] == e["s"] and g["ls"] == e["ls"]
        assert g["dec"] == e["dec"] and g["d"] == e["d"]


def test_projection_and_column_order(spark, pq_dir):
    df = read_parquet_table(spark, pq_dir, columns=["s", "i"])
    assert df.columns == ["s", "i"]
    assert df.count() == N
    with pytest.raises(KeyError):
        read_parquet_table(spark, pq_dir, columns=["nope"])


def test_footer_stats_prune_files(pq_dir):
    files = sorted(glob.glob(pq_dir + "/*.parquet"))
    # i ranges: [0,99], [100,199], [200,299] per file
    assert len(file_prunes(files, [("i", ">=", 250)])) == 1
    assert len(file_prunes(files, [("i", "==", 150)])) == 1
    assert len(file_prunes(files, [("i", "==", -1)])) == 0
    # unknown column / missing stats: conservative keep
    assert len(file_prunes(files, [("zzz", "==", 1)])) == 3


def test_pruned_scan_still_exact(spark, pq_dir):
    df = read_parquet_table(spark, pq_dir, prune=[("i", ">=", 250)])
    got = df.where("i >= 250").agg({"i": "sum"}).collect()[0][0]
    exp = sum(i for i in range(250, N) if i % 9)
    assert got == exp


def test_string_stats_prune(pq_dir):
    files = sorted(glob.glob(pq_dir + "/*.parquet"))
    # every file holds w0..w10 => no string predicate can drop a file
    assert len(file_prunes(files, [("s", "==", "w5")])) == 3
    assert len(file_prunes(files, [("s", "==", "zzz")])) == 0


def test_struct_map_scan(spark, tmp_path):
    n = 120
    t = pa.table(
        {
            "x": pa.array(list(range(n)), type=pa.int64()),
            "st": pa.array(
                [
                    {"a": i, "b": f"u{i}", "xs": [i, i + 1]} if i % 3 else None
                    for i in range(n)
                ],
                type=pa.struct(
                    [("a", pa.int64()), ("b", pa.string()), ("xs", pa.list_(pa.int32()))]
                ),
            ),
            "mp": pa.array(
                [{f"k{j}": j * i for j in range(i % 4)} if i % 5 else None for i in range(n)],
                type=pa.map_(pa.string(), pa.int64()),
            ),
        }
    )
    f = tmp_path / "s.parquet"
    pq.write_table(t, f, compression="zstd")
    schema = parquet_scan_schema(str(f))
    assert dict((nm, ddl) for nm, _, ddl in schema) == {
        "x": "bigint",
        "st": "struct<a:bigint,b:string,xs:array<int>>",
        "mp": "map<string,bigint>",
    }
    buf = open(f, "rb").read()
    got = read_table_arrow(buf)
    assert got.to_pylist() == t.to_pylist()
    df = read_parquet_table(spark, str(f))
    rows = sorted(df.collect(), key=lambda r: r["x"])
    for i, r in enumerate(rows):
        exp_st = t.column("st")[i].as_py()
        got_st = None if r["st"] is None else r["st"].asDict()
        if exp_st is not None:
            exp_st = dict(exp_st)
        assert got_st == exp_st
        exp_mp = t.column("mp")[i].as_py()
        assert r["mp"] == (None if exp_mp is None else dict(exp_mp))


def test_footer_only_planning_reads_tail(pq_dir):
    f = sorted(glob.glob(pq_dir + "/*.parquet"))[0]
    meta = file_meta_path(f)
    assert int(meta[3]) == 100  # num_rows from the footer alone


def test_missing_dir_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_parquet_table(spark, str(tmp_path / "nothing"))


def test_row_group_granular_tasks_and_pruning(spark, tmp_path):
    from parquet_go_spark.spark.parquet_source import plan_scan_tasks

    f = tmp_path / "big.parquet"
    t = pa.table({"i": pa.array(range(1000), type=pa.int64())})
    pq.write_table(t, f, row_group_size=100)  # 10 row groups, one file
    tasks = plan_scan_tasks([str(f)], None)
    assert len(tasks) == 10  # a big file fans out, it doesn't pin one task
    # rg-level stats pruning: only the last row group can hold i >= 950
    pruned = plan_scan_tasks([str(f)], [("i", ">=", 950)])
    assert pruned == [(str(f), 9)]
    df = read_parquet_table(spark, str(f), prune=[("i", ">=", 950)])
    got = df.where("i >= 950").agg({"i": "sum"}).collect()[0][0]
    assert got == sum(range(950, 1000))


def test_scan_packs_row_groups_in_plan_order_without_exchange(spark, tmp_path):
    from parquet_go_spark.spark.parquet_source import plan_scan_tasks

    for k in range(2):  # 2 files x 16 row groups of 50 rows
        t = pa.table({"i": pa.array(range(k * 800, (k + 1) * 800), type=pa.int64())})
        pq.write_table(t, tmp_path / f"part-{k}.parquet", row_group_size=50)
    tasks = plan_scan_tasks(sorted(glob.glob(str(tmp_path / "*.parquet"))), None)
    assert len(tasks) == len(tasks.nbytes) == 32 and min(tasks.nbytes) > 0
    df = read_parquet_table(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # 32 small row groups share the slots' tasks instead of one task each
    assert df.rdd.getNumPartitions() < len(tasks)
    # rows come back in (file, row group) order
    assert [r.i for r in df.collect()] == list(range(1600))
    # a lookup whose prune leaves one row group runs one task
    one = read_parquet_table(spark, str(tmp_path), prune=[("i", "==", 1234)])
    assert one.rdd.getNumPartitions() == 1
    assert [r.i for r in one.where("i = 1234").collect()] == [1234]
