"""Streaming CDC upserts through the one stream sink:
``writeStream.format("pgs").option("upsert_key", "url")``. Each
micro-batch commits its rows and the equality sidecars that kill the
older versions of its keys in one snapshot — the table is never read or
rewritten on the hot path, and a replayed batch is a no-op through the
sink's ``stream_batch_id`` marker."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

from parquet_go_spark.spark import manifest as mf

pytestmark = pytest.mark.spark


def _table(spark, tmp_path, n=300):
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.pages_table import pages_df

    df = pages_df(spark, n, partitions=1)
    d = str(tmp_path / "enc")
    encode_table(df, d, key_col="url", partitions=3, bloom_columns=["url"]).collect()
    mf.commit_snapshot(d, "encode")
    return df, d


def _drive(spark, d, src, schema, ckpt, tasks=2):
    """Upsert every file under ``src`` into ``d``, one file per batch."""
    from parquet_go_spark.spark.datasource import PGSDataSource

    spark.dataSource.register(PGSDataSource)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .repartition(tasks, "url")
        .writeStream.format("pgs")
        .option("path", d)
        .option("upsert_key", "url")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def _upsert(spark, d, changes_df, tmp_path, tasks=2):
    src = str(tmp_path / "src")
    changes_df.coalesce(1).write.mode("append").parquet(src)
    return _drive(spark, d, src, changes_df.schema, str(tmp_path / "ckpt"), tasks)


def _markers(d):
    return [s["config"] for s in mf.read_snapshots(d) if "stream_batch_id" in s["config"]]


def test_upsert_stream_merges_changes(spark, tmp_path):
    from parquet_go_spark.spark.decode_job import decode_table

    df, d = _table(spark, tmp_path)
    updates = df.limit(25).withColumn("lang", F.lit("up"))
    q = _upsert(spark, d, updates, tmp_path)
    got = decode_table(spark, d)
    assert got.count() == 300
    assert got.filter(F.col("lang") == "up").count() == 25
    (cfg,) = _markers(d)  # the whole batch is ONE snapshot
    assert cfg["stream_batch_id"] == 0 and cfg["stream_txn"] == str(q.id)
    assert mf.read_snapshots(d)[-1]["operation"] == "stream-upsert"


def test_upsert_stream_replay_is_noop(spark, tmp_path):
    """A batch Spark re-runs after a crash (its commit-log entry lost) is
    dropped by the marker; a fresh checkpoint re-applies the same changes
    with the same result."""
    from parquet_go_spark.spark.decode_job import decode_table

    df, d = _table(spark, tmp_path, n=200)
    updates = df.limit(10).withColumn("lang", F.lit("v2"))
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    updates.coalesce(1).write.parquet(src)
    _drive(spark, d, src, updates.schema, ckpt)
    n_snaps = len(mf.read_snapshots(d))
    for name in ("0", ".0.crc"):  # crash before the commit log entry
        os.remove(os.path.join(ckpt, "commits", name))
    _drive(spark, d, src, updates.schema, ckpt)
    assert len(mf.read_snapshots(d)) == n_snaps  # the replay committed nothing
    assert len(_markers(d)) == 1
    got = decode_table(spark, d)
    assert got.count() == 200
    assert got.filter(F.col("lang") == "v2").count() == 10
    # a fresh checkpoint is a new query: its batch 0 applies again
    _drive(spark, d, src, updates.schema, str(tmp_path / "ckpt2"))
    assert len({m["stream_txn"] for m in _markers(d)}) == 2
    got = decode_table(spark, d)
    assert got.count() == 200
    assert got.filter(F.col("lang") == "v2").count() == 10
    assert not [p for p in os.listdir(mf.deletes_dir(d)) if ".tmp" in p]


def test_upsert_stream_inserts_new_keys(spark, tmp_path):
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.pages_table import pages_df

    df, d = _table(spark, tmp_path, n=150)
    # 400..449 of a larger corpus: urls the table has never seen
    fresh = (
        pages_df(spark, 450, partitions=1)
        .withColumn("rn", F.monotonically_increasing_id())
        .filter(F.col("rn") >= 400)
        .drop("rn")
        .withColumn("lang", F.lit("new"))
    )
    _upsert(spark, d, fresh, tmp_path)
    got = decode_table(spark, d)
    assert got.filter(F.col("lang") == "new").count() == 50
    assert got.count() == 200
    assert mf.list_eq_delete_files(d) == []  # no pre-batch partition holds a new key


def test_upsert_stream_keeps_null_keys_as_inserts(spark, tmp_path):
    from parquet_go_spark.spark.decode_job import decode_table

    df, d = _table(spark, tmp_path, n=100)
    unkeyed = df.limit(3).withColumn("url", F.lit(None).cast("string"))
    changes = df.limit(5).withColumn("lang", F.lit("up")).unionByName(unkeyed)
    _upsert(spark, d, changes, tmp_path)
    got = decode_table(spark, d)
    assert got.count() == 103
    assert got.filter(F.col("url").isNull()).count() == 3
    assert got.filter(F.col("lang") == "up").count() == 5


def test_upsert_stream_old_versions_dead_and_as_of_sees_them(spark, tmp_path):
    """Three batches over four tasks: every key updated ends with ONE
    row holding its last change; a reader pinned to the pre-stream
    snapshot still reads the old versions; each batch stages at most one
    sidecar per task that held keyed rows."""
    from pyspark.sql.functions import spark_partition_id

    from parquet_go_spark.spark.decode_job import decode_table

    df, d = _table(spark, tmp_path)
    pre = mf.read_snapshots(d)[-1]["seq"]
    src = str(tmp_path / "src")
    keyed_tasks = []
    for i, (lo, hi) in enumerate([(0, 40), (20, 60), (50, 51)]):
        batch = (
            df.withColumn("rn", F.monotonically_increasing_id())
            .filter((F.col("rn") >= lo) & (F.col("rn") < hi))
            .drop("rn")
            .withColumn("lang", F.lit(f"b{i}"))
        )
        old = set(os.listdir(src)) if os.path.isdir(src) else set()
        batch.coalesce(1).write.mode("append").parquet(src)
        for name in set(os.listdir(src)) - old:  # the file source replays by mtime
            os.utime(os.path.join(src, name), (1e9 + i, 1e9 + i))
        parts = batch.repartition(4, "url").select(spark_partition_id()).distinct().count()
        keyed_tasks.append(parts)
    _drive(spark, d, src, df.schema, str(tmp_path / "ckpt"), tasks=4)
    got = decode_table(spark, d)
    assert got.count() == 300
    assert got.groupBy("url").count().filter("count > 1").count() == 0
    langs = {r["lang"] for r in got.filter(F.col("lang").startswith("b")).collect()}
    assert langs == {"b0", "b1", "b2"}
    assert got.filter(F.col("lang") == "b0").count() == 20
    assert got.filter(F.col("lang") == "b1").count() == 39
    assert got.filter(F.col("lang") == "b2").count() == 1
    old = decode_table(spark, d, as_of=pre)
    assert old.count() == 300 and old.filter(F.col("lang").startswith("b")).count() == 0
    markers = sorted(_markers(d), key=lambda m: m["stream_batch_id"])
    assert [m["stream_batch_id"] for m in markers] == [0, 1, 2]
    for m, n in zip(markers, keyed_tasks):
        assert 1 <= len(m.get("eq_sidecars", [])) <= n <= m["tasks"]
    assert len(mf.list_eq_delete_files(d)) == sum(len(m["eq_sidecars"]) for m in markers)
