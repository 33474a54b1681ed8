"""delete_where: predicate-scoped deletes that rewrite ONLY the
partitions the manifest stats cannot clear — the take-down operation."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

pytestmark = pytest.mark.spark


def _seq_pages(spark, n=2000):
    from parquet_go_spark.spark.pages_table import pages_df

    return pages_df(spark, n, partitions=1).withColumn(
        "seq", (F.abs(F.xxhash64("url")) % 100000).cast("bigint")
    )


def test_delete_rewrites_only_candidate_partitions(spark, tmp_path):
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.maintenance import delete_where

    df = _seq_pages(spark)
    d = str(tmp_path / "enc")
    # range layout: the delete predicate provably misses most partitions
    encode_table(df, d, key_col="seq", layout="range", partitions=8, compression="snappy").collect()
    mf.commit_snapshot(d, "encode")
    before = {
        pid: os.path.getmtime(os.path.join(d, f"part-{pid:05d}.bin")) for pid in range(8)
    }
    expect_deleted = df.filter(F.col("seq") <= 5000).count()
    res = delete_where(spark, d, [("seq", "<=", 5000)])
    assert res["rows_deleted"] == expect_deleted
    assert res["candidates"] <= 2  # stats cleared the rest
    got = decode_table(spark, d)
    assert got.count() == 2000 - expect_deleted
    assert got.filter(F.col("seq") <= 5000).count() == 0
    # non-candidate partition files were never touched
    untouched = [
        pid
        for pid in range(8)
        if os.path.getmtime(os.path.join(d, f"part-{pid:05d}.bin")) == before[pid]
    ]
    assert len(untouched) >= 8 - res["candidates"]
    # rewritten partitions kept their block codec (entropy-coded chunks
    # legitimately record "none" — no double compression)
    man = mf.read_partition_manifest(d, 0)
    assert {r["compression"] for r in man} <= {"snappy", "none"}
    assert any(r["compression"] == "snappy" for r in man)
    # snapshot trail records the delete
    snaps = mf.read_snapshots(d)
    assert snaps[-1]["operation"] == "delete"
    assert snaps[-1]["config"]["rows_deleted"] == expect_deleted
    # idempotent: nothing left to delete
    res2 = delete_where(spark, d, [("seq", "<=", 5000)])
    assert res2["rows_deleted"] == 0


def test_delete_null_semantics_and_in(spark, tmp_path):
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.maintenance import delete_where

    df = _seq_pages(spark, 600)
    d = str(tmp_path / "enc")
    encode_table(df, d, key_col="url", partitions=4).collect()
    n_null = df.filter(F.col("lang").isNull()).count()
    n_de_fr = df.filter(F.col("lang").isin("de", "fr")).count()
    res = delete_where(spark, d, [("lang", "in", ("de", "fr"))])
    assert res["rows_deleted"] == n_de_fr
    got = decode_table(spark, d)
    # null lang never matches an IN predicate (SQL semantics) — kept
    assert got.filter(F.col("lang").isNull()).count() == n_null
    assert got.filter(F.col("lang").isin("de", "fr")).count() == 0
    assert got.count() == 600 - n_de_fr


def test_delete_unknown_op_rejected(spark, tmp_path):
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.maintenance import delete_where

    df = _seq_pages(spark, 100)
    d = str(tmp_path / "enc")
    encode_table(df, d, partitions=2).collect()
    with pytest.raises(Exception, match="not supported"):
        delete_where(spark, d, [("seq", "!=", 1)])


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("op", ["<", ">"])
def test_delete_strict_ops(spark, tmp_path, op, mode):
    # the strict ops every prune tier accepts delete too, and the bound
    # itself survives
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.maintenance import delete_where

    df = _seq_pages(spark, 400)
    d = str(tmp_path / "enc")
    encode_table(df, d, key_col="seq", layout="range", partitions=4).collect()
    seqs = sorted(r["seq"] for r in df.select("seq").collect())
    pivot = seqs[len(seqs) // 2]
    hit = F.col("seq") < pivot if op == "<" else F.col("seq") > pivot
    want = df.filter(hit).count()
    res = delete_where(spark, d, [("seq", op, pivot)], mode=mode)
    assert res["rows_deleted"] == want > 0
    got = decode_table(spark, d)
    assert got.filter(hit).count() == 0
    assert got.filter(F.col("seq") == pivot).count() == seqs.count(pivot)
    assert got.count() == 400 - want


def test_merge_into_upserts(spark, tmp_path):
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.maintenance import merge_into

    df = _seq_pages(spark, 1000).withColumn("rid", F.abs(F.xxhash64("url")) % 10**9)
    d = str(tmp_path / "enc")
    encode_table(df, d, key_col="rid", partitions=4, bloom_columns=["rid"]).collect()
    mf.commit_snapshot(d, "encode")
    pre_seq = mf.read_snapshots(d)[-1]["seq"]

    # source batch: update 100 existing rows, insert 50 new ones
    updates = df.limit(100).withColumn("lang", F.lit("xx"))
    inserts = (
        _seq_pages(spark, 50)
        .withColumn("rid", (F.abs(F.xxhash64("url")) % 10**9) + F.lit(2 * 10**9))
        .withColumn("url", F.concat(F.lit("https://new/"), F.col("url")))
    )
    src = updates.unionByName(inserts)
    res = merge_into(spark, d, src, key="rid", bloom_columns=["rid"])
    assert res["rows_replaced"] == 100
    assert res["src_keys"] == 150

    got = decode_table(spark, d)
    assert got.count() == 1050  # 1000 - 100 + 150
    assert got.filter(F.col("lang") == "xx").count() == 100
    assert got.filter(F.col("url").startswith("https://new/")).count() == 50
    # no duplicate keys survived the merge
    assert got.select("rid").distinct().count() == 1050
    # the delete rewrote partitions in place, so the pre-merge snapshot
    # is tombstoned: as_of raises instead of returning rewritten bytes
    with pytest.raises(ValueError, match="invalidated"):
        decode_table(spark, d, as_of=pre_seq)
    snaps = mf.read_snapshots(d)
    assert snaps[-1]["operation"] == "merge"
    # burned seqs are never reused: merge snapshot seq > tombstoned seq
    assert snaps[-1]["seq"] > pre_seq
