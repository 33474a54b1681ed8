"""One scan plan (``decode_job.plan_scan``) and one partition decode
(``decode_job.decode_partition``) behind every reader of an encoded
table: ``decode_table``, ``read_changes``, the ``pgs`` batch reader with
and without pushdown, the ``pgs`` stream reader and the maintenance
scans. Every reader lists only committed partitions and applies the
same delete sidecars, null fill and CRC check. The engine's own scans
(``decode_table``, the maintenance scans, ``read_parquet_table``) share
one task shape too, ``decode_job.scan_units``: units packed by bytes
under Spark's split rule, one task per group, no shuffle."""

from __future__ import annotations

import os
import shutil

import pytest
import pyspark.sql.functions as F

from parquet_go_spark.spark import manifest as mf
from parquet_go_spark.spark.datasource import PGSDataSource
from parquet_go_spark.spark.decode_job import decode_table, pack_scan_units, read_changes
from parquet_go_spark.spark.encode_job import encode_table
from parquet_go_spark.spark.maintenance import _scan_key_positions, delete_keys, delete_where
from parquet_go_spark.spark.pages_table import pages_df

pytestmark = pytest.mark.spark


@pytest.fixture(autouse=True)
def _pgs(spark):
    spark.dataSource.register(PGSDataSource)


def _rows(df) -> list:
    return sorted(df.collect(), key=lambda r: r["url"])


def _evolved_table(spark, d: str) -> tuple[int, int]:
    """300 base rows, then an ``evolve_schema`` append of 100 rows that
    adds ``score``; returns the two snapshot seqs."""
    encode_table(pages_df(spark, 300, partitions=1), d, key_col="url", partitions=3).collect()
    s0 = mf.commit_snapshot(d, "encode")["seq"]
    appended = (
        pages_df(spark, 100, partitions=1)
        .withColumn("url", F.concat(F.lit("https://b/"), F.col("url")))
        .withColumn("score", F.lit(1.0))
    )
    encode_table(
        appended, d, key_col="url", partitions=2, append=True, evolve_schema=True
    ).collect()
    return s0, mf.commit_snapshot(d, "append")["seq"]


def test_uncommitted_partition_file_is_never_read(spark, tmp_path):
    d = str(tmp_path / "enc")
    encode_table(pages_df(spark, 400, partitions=1), d, key_col="url", partitions=4).collect()
    mf.commit_snapshot(d, "encode")
    # a crash between the data write and its manifest commit leaves a
    # data file that no manifest names
    shutil.copy(os.path.join(d, "part-00000.bin"), os.path.join(d, "part-00007.bin"))
    assert decode_table(spark, d).count() == 400
    assert decode_table(spark, d, prune=[("lang", "notnull", None)]).count() == 400
    assert spark.read.format("pgs").load(d).count() == 400
    assert decode_table(spark, d, validate_crc=True).count() == 400


def test_mor_and_cow_delete_agree_on_an_evolved_column(spark, tmp_path):
    d = str(tmp_path / "mor")
    _evolved_table(spark, d)
    cow = str(tmp_path / "cow")
    shutil.copytree(d, cow)
    pred = [("score", "==", 1.0), ("url", "notnull", None)]
    assert delete_where(spark, d, pred, mode="mor")["rows_deleted"] == 100
    assert delete_where(spark, cow, pred, mode="cow")["rows_deleted"] == 100
    left = _rows(decode_table(spark, d))
    assert len(left) == 300
    assert left == _rows(decode_table(spark, cow))


def test_strict_greater_than_excludes_the_partition_holding_the_bound(spark, tmp_path):
    d = str(tmp_path / "enc")
    df = spark.range(0, 400, 1, 1).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    encode_table(df, d, key_col="k", layout="range", partitions=4).collect()
    mf.commit_snapshot(d, "encode")
    tops = {
        pid: int(r["max_str"])
        for pid in mf.committed_partitions(d)
        for r in mf.read_partition_manifest(d, pid)
        if r["column"] == "k"
    }
    pid = min(tops, key=tops.get)
    # proof of skip: a read of this partition's bytes would fail
    with open(os.path.join(d, f"part-{pid:05d}.bin"), "r+b") as f:
        f.write(b"\0" * 16)
    got = spark.read.format("pgs").option("pushdown", "true").load(d).where(F.col("k") > tops[pid])
    assert sorted(r.k for r in got.collect()) == list(range(tops[pid] + 1, 400))


def test_every_reader_serves_the_same_rows(spark, tmp_path):
    d = str(tmp_path / "enc")
    s0, _ = _evolved_table(spark, d)
    urls = [r.url for r in decode_table(spark, d, columns=["url"]).collect()]
    base = sorted(u for u in urls if not u.startswith("https://b/"))
    new = sorted(u for u in urls if u.startswith("https://b/"))
    delete_where(spark, d, [("url", "in", tuple(base[:3] + new[:3]))], mode="mor")
    delete_keys(d, "url", base[3:6] + new[3:6])
    assert mf.list_delete_files(d) and mf.list_eq_delete_files(d)

    current = _rows(decode_table(spark, d))
    assert len(current) == 400 - 12
    for as_of in (None, s0):
        want = _rows(decode_table(spark, d, as_of=as_of))
        assert len(want) == (len(current) if as_of is None else 300)
        assert _rows(decode_table(spark, d, as_of=as_of, validate_crc=True)) == want
        for pushdown in ("true", "false"):
            reader = spark.read.format("pgs").option("pushdown", pushdown)
            if as_of is not None:
                reader = reader.option("as_of", as_of)
            assert _rows(reader.load(d).where(F.col("url").isNotNull())) == want
        # the appended partitions are the only ones that carry ``score``
        changes = [r for r in want if r["score"] is not None]
        assert _rows(read_changes(spark, d, s0, as_of)) == changes

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("pgs")
        .load(d)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _rows(spark.read.parquet(sink)) == current


def test_pack_scan_units_follows_sparks_split_rule():
    mb = 1 << 20
    # split = min(256 MB, max(4 MB, 8 * (3 + 4) MB / 4)) = 14 MB: pairs
    assert pack_scan_units([3 * mb] * 8, 256 * mb, 4 * mb, 4) == [
        range(0, 2), range(2, 4), range(4, 6), range(6, 8)
    ]
    assert pack_scan_units([3 * mb], 256 * mb, 4 * mb, 4) == [range(0, 1)]
    assert pack_scan_units([], 256 * mb, 4 * mb, 4) == []
    # maxPartitionBytes caps the split: each 100 MB unit is its own task
    assert pack_scan_units([100 * mb] * 3, 128 * mb, 4 * mb, 1) == [
        range(0, 1), range(1, 2), range(2, 3)
    ]
    # a unit larger than the split is never cut, and never shares
    assert pack_scan_units([mb, 50 * mb, mb], 16 * mb, 4 * mb, 4) == [
        range(0, 1), range(1, 2), range(2, 3)
    ]


def test_engine_scans_run_without_exchange_or_file_scan(spark, tmp_path):
    d = str(tmp_path / "enc")
    encode_table(pages_df(spark, 400, partitions=1), d, key_col="url", partitions=4).collect()
    mf.commit_snapshot(d, "encode")
    fields = mf.read_table_schema(d)
    for df in (
        decode_table(spark, d),
        decode_table(spark, d, prune=[("lang", "notnull", None)]),
        _scan_key_positions(spark, d, fields, "url", sorted(mf.committed_partitions(d))),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "binaryfile" not in plan.lower(), plan
        assert "Range" in plan, plan
    assert decode_table(spark, d).count() == 400


def test_decode_table_returns_rows_in_partition_order(spark, tmp_path):
    d = str(tmp_path / "enc")
    df = spark.range(0, 600, 1, 3).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    encode_table(df, d, key_col="k", layout="range", sort_within="k", partitions=6).collect()
    mf.commit_snapshot(d, "encode")
    lows = [
        int(r["min_str"])
        for pid in sorted(mf.committed_partitions(d))
        for r in mf.read_partition_manifest(d, pid)
        if r["column"] == "k"
    ]
    assert lows == sorted(lows)  # ascending pid = ascending key range
    assert [r.k for r in decode_table(spark, d).collect()] == list(range(600))
