"""Catalyst-native streaming encode sink: ``df.writeStream.format("pgs")``
(DataSourceStreamArrowWriter) — staged two-phase commit, exactly-once
batch replay, and the end-to-end multi-batch drive."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.spark import manifest as mf
from parquet_go_spark.spark.datasource import _PGSStreamWriter


def _batch(lo: int, hi: int) -> pa.RecordBatch:
    return pa.record_batch(
        {
            "url": pa.array([f"u{i}" for i in range(lo, hi)]),
            "n": pa.array(np.arange(lo, hi, dtype=np.int64)),
        }
    )


def _mk_writer(tmp_path) -> tuple[_PGSStreamWriter, str]:
    d = str(tmp_path / "enc")
    os.makedirs(d, exist_ok=True)
    mf.write_table_schema(
        d, [{"name": "url", "ddl": "string"}, {"name": "n", "ddl": "bigint"}]
    )
    return _PGSStreamWriter(d, ["url", "n"], {"compression": "snappy"}, txn="q1"), d


def test_stream_sink_two_phase_commit_and_replay(tmp_path):
    w, d = _mk_writer(tmp_path)
    # phase 1: staged files are invisible (no part-*.bin, no manifest)
    m0 = w.write(iter([_batch(0, 100)]))
    m1 = w.write(iter([_batch(100, 250)]))
    assert not glob.glob(os.path.join(d, "part-*.bin"))
    assert not mf.committed_partitions(d)
    assert os.path.exists(os.path.join(d, m0.stage_name))
    # phase 2: commit renames + manifests + snapshot marker
    w.commit([m0, m1], batchId=0)
    assert len(mf.committed_partitions(d)) == 2
    assert not glob.glob(os.path.join(d, "stage-*.tmp"))
    rows = sum(
        max(r["num_rows"] for r in mf.read_partition_manifest(d, pid))
        for pid in mf.committed_partitions(d)
    )
    assert rows == 250
    snaps = mf.read_snapshots(d)
    assert snaps[-1]["config"]["stream_batch_id"] == 0
    # REPLAY of batch 0 (crash between commit and checkpoint advance):
    # fresh staged files, same batch id -> cleaned up, no second
    # snapshot, row count unchanged
    r0 = w.write(iter([_batch(0, 100)]))
    r1 = w.write(iter([_batch(100, 250)]))
    w.commit([r0, r1], batchId=0)
    assert len(mf.committed_partitions(d)) == 2
    assert not glob.glob(os.path.join(d, "stage-*.tmp"))
    markers = [
        s["config"]["stream_batch_id"]
        for s in mf.read_snapshots(d)
        if "stream_batch_id" in s.get("config", {})
    ]
    assert markers == [0]
    # next batch appends new partition ids past the claim
    m2 = w.write(iter([_batch(250, 300)]))
    w.commit([m2], batchId=1)
    assert len(mf.committed_partitions(d)) == 3
    assert sorted(
        s["config"]["stream_batch_id"]
        for s in mf.read_snapshots(d)
        if "stream_batch_id" in s.get("config", {})
    ) == [0, 1]


def test_stream_sink_abort_leaves_nothing_visible(tmp_path):
    w, d = _mk_writer(tmp_path)
    m = w.write(iter([_batch(0, 50)]))
    w.abort([m, None], batchId=0)
    assert not glob.glob(os.path.join(d, "stage-*.tmp"))
    assert not mf.committed_partitions(d)
    assert not mf.read_snapshots(d)


def test_stream_sink_txn_scopes_batch_ids(tmp_path):
    """Two queries (distinct stream_txn) both at batch 0 must not read
    each other's markers as replays."""
    _, d = _mk_writer(tmp_path)
    wa = _PGSStreamWriter(d, ["url", "n"], {}, txn="qa")
    wb = _PGSStreamWriter(d, ["url", "n"], {}, txn="qb")
    wa.commit([wa.write(iter([_batch(0, 10)]))], batchId=0)
    wb.commit([wb.write(iter([_batch(10, 30)]))], batchId=0)
    rows = sum(
        max(r["num_rows"] for r in mf.read_partition_manifest(d, pid))
        for pid in mf.committed_partitions(d)
    )
    assert rows == 30  # qb's batch 0 was NOT discarded as qa's replay


@pytest.mark.spark
def test_stream_sink_end_to_end(spark, tmp_path):
    """readStream(parquet) -> writeStream.format('pgs') with
    availableNow: multi-batch ingest of pages-shaped rows (timestamp and
    binary columns), table decodes to the full input with every url
    unique across batches, snapshot log carries one marker per batch,
    streamWriter bootstraps the table schema."""
    from parquet_go_spark.spark.datasource import PGSDataSource
    from parquet_go_spark.spark.decode_job import decode_table

    spark.dataSource.register(PGSDataSource)
    src = str(tmp_path / "src")
    for i in range(3):  # three files -> three micro-batches
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "concat('u', id) as url",
            "id as n",
            "timestamp_seconds(id) as warc_ts",
            "encode(concat('<html>', id), 'utf-8') as html",
        ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "enc")
    q = (
        spark.readStream.schema("url string, n bigint, warc_ts timestamp, html binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("pgs")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("compression", "zstd")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = decode_table(spark, out)
    assert got.columns == ["url", "n", "warc_ts", "html"]
    assert got.count() == 300
    assert got.select("url").distinct().count() == 300
    assert got.agg({"n": "sum"}).first()[0] == sum(range(300))
    checks = got.selectExpr(
        "sum(cast(unix_seconds(warc_ts) = n as int)) as ts_ok",
        "sum(cast(cast(html as string) = concat('<html>', n) as int)) as html_ok",
    ).first()
    assert (checks["ts_ok"], checks["html_ok"]) == (300, 300)
    bids = sorted(
        s["config"]["stream_batch_id"]
        for s in mf.read_snapshots(out)
        if "stream_batch_id" in s.get("config", {})
    )
    assert bids == list(range(len(bids))) and len(bids) >= 2
    assert not glob.glob(os.path.join(out, "stage-*.tmp"))


class _DriverDied(Exception):
    pass


def _crash_mid_commit(w: _PGSStreamWriter, batch_id: int, msgs, monkeypatch) -> None:
    """What an attempt that died after its renames, manifests and sidecar
    publishes but BEFORE its snapshot leaves behind: the real commit, cut
    at the snapshot seal."""

    def crash(*args, **kwargs):
        raise _DriverDied

    with monkeypatch.context() as m:
        m.setattr(mf, "commit_snapshot", crash)
        with pytest.raises(_DriverDied):
            w.commit(msgs, batchId=batch_id)


def _table_rows(d: str, as_of: int | None = None) -> list[tuple]:
    from parquet_go_spark.spark.decode_job import decode_partition, open_partition, plan_scan

    plan, out = plan_scan(d, as_of=as_of), []
    for pid in plan.pids:
        b = decode_partition(d, pid, open_partition(d, pid), plan)
        if b is not None:
            out += zip(b.column("url").to_pylist(), b.column("n").to_pylist())
    return sorted(out)


def test_stream_sink_mid_commit_crash_replay_with_fewer_tasks(tmp_path, monkeypatch):
    """Crash window: attempt 1 renamed+manifested 2 partitions then died
    before its snapshot; the replay delivers the batch in ONE task. The
    replay's commit must sweep the claimed-but-unfilled tail ids, or the
    crashed attempt's second partition would double-count its rows.
    The upsert case ends exact too: the crashed attempt's published
    sidecars are scoped like the replay's, to the pre-batch snapshot, and
    the replay republishes under the same job-derived names, sweeping the
    ones it does not fill."""
    w, d = _mk_writer(tmp_path)
    attempt = [w.write(iter([_batch(0, 100)])), w.write(iter([_batch(100, 250)]))]
    _crash_mid_commit(w, 0, attempt, monkeypatch)
    assert len(mf.committed_partitions(d)) == 2
    # replay arrives as ONE task carrying the whole batch
    r = w.write(iter([_batch(0, 250)]))
    w.commit([r], batchId=0)
    pids = mf.committed_partitions(d)
    assert len(pids) == 1  # the stale tail pid was swept
    rows = sum(
        max(x["num_rows"] for x in mf.read_partition_manifest(d, pid)) for pid in pids
    )
    assert rows == 250

    d = str(tmp_path / "upsert")
    mf.write_table_schema(d, [{"name": "url", "ddl": "string"}, {"name": "n", "ddl": "bigint"}])
    u = _PGSStreamWriter(d, ["url", "n"], {"bloom_columns": ["url"]}, txn="q1", upsert_key="url")
    u.commit([u.write(iter([_batch(0, 50)])), u.write(iter([_batch(50, 100)]))], batchId=0)
    changed = [
        pa.record_batch({"url": b["url"], "n": pa.array(np.full(len(b), -1))})
        for b in (_batch(0, 25), _batch(25, 60))
    ]
    _crash_mid_commit(u, 1, [u.write(iter([b])) for b in changed], monkeypatch)
    u.commit([u.write(iter(changed))], batchId=1)
    want = sorted([(f"u{i}", -1) for i in range(60)] + [(f"u{i}", i) for i in range(60, 100)])
    assert _table_rows(d) == want
    assert not glob.glob(os.path.join(mf.deletes_dir(d), "*.tmp"))
    # the replay replaced the crashed attempt's sidecars: every sidecar on
    # disk is one a snapshot lists
    listed = [n for s in mf.read_snapshots(d) for n in s["config"].get("eq_sidecars", [])]
    assert mf.list_eq_delete_files(d) == sorted(listed)


def test_stream_sink_replay_keeps_sidecars_a_snapshot_pinned(tmp_path, monkeypatch):
    """Another query seals a snapshot between the crash and the replay;
    that snapshot pins the crashed attempt's sidecars, so the replay
    keeps them and publishes its own beside them, and time travel to it
    still reads."""
    d = str(tmp_path)
    mf.write_table_schema(d, [{"name": "url", "ddl": "string"}, {"name": "n", "ddl": "bigint"}])
    u = _PGSStreamWriter(d, ["url", "n"], {}, txn="q1", upsert_key="url")
    u.commit([u.write(iter([_batch(0, 100)]))], batchId=0)
    changed = [
        pa.record_batch({"url": b["url"], "n": pa.array(np.full(len(b), -1))})
        for b in (_batch(0, 25), _batch(25, 60))
    ]
    _crash_mid_commit(u, 1, [u.write(iter([b])) for b in changed], monkeypatch)
    other = _PGSStreamWriter(d, ["url", "n"], {}, txn="q2")
    other.commit([other.write(iter([_batch(500, 510)]))], batchId=0)
    mid = mf.latest_snapshot(d)["seq"]
    pinned = mf.snapshot_sidecars(d, mid)[1]
    assert len(pinned) == 2
    u.commit([u.write(iter(changed))], batchId=1)
    assert set(pinned) < set(mf.list_eq_delete_files(d))
    assert len(_table_rows(d, as_of=mid)) == 110


def test_job_sidecars_keep_the_numbered_index(tmp_path):
    """Job-named sidecars sit beside ``write_eq_delete_file``'s numbered
    ones without breaking its index parse; republishing a job with fewer
    sidecars sweeps the rest of its names."""
    d = str(tmp_path)
    stage = [mf.stage_eq_delete_file(d, "k", [v], [0], f"{v}.eq.tmp") for v in "ab"]
    names = mf.publish_job_eq_delete_files(d, "stream-q-batch-0", stage)
    assert mf.write_eq_delete_file(d, "k", ["c"], [0]) == "eq-0000.parquet"
    assert mf.write_eq_delete_file(d, "k", ["d"], [0]) == "eq-0001.parquet"
    stage = [mf.stage_eq_delete_file(d, "k", ["e"], [0], "e.eq.tmp")]
    assert mf.publish_job_eq_delete_files(d, "stream-q-batch-0", stage) == names[:1]
    assert mf.list_eq_delete_files(d) == sorted(["eq-0000.parquet", "eq-0001.parquet", names[0]])
    assert mf.read_eq_delete_file(d, names[0])["values"] == ["e"]


def test_stream_sink_txn_defaults_to_the_query_id(tmp_path):
    """Two queries on one table, each with a fresh checkpoint (Spark
    writes a new query id to its ``metadata``), both commit batch 0:
    neither is dropped as the other's replay. Spark hands the sink its
    checkpoint as the lower-cased ``checkpointlocation`` option."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from parquet_go_spark.spark.datasource import PGSDataSource

    d = str(tmp_path / "enc")
    schema = StructType([StructField("url", StringType()), StructField("n", LongType())])
    for i, (lo, hi) in enumerate([(0, 10), (10, 30)]):
        ckpt = tmp_path / f"ckpt{i}"
        ckpt.mkdir()
        (ckpt / "metadata").write_text(json.dumps({"id": f"query-{i}"}))
        w = PGSDataSource({"path": d, "checkpointlocation": str(ckpt)}).streamWriter(schema, False)
        w.commit([w.write(iter([_batch(lo, hi)]))], batchId=0)
    assert _table_rows(d) == sorted((f"u{i}", i) for i in range(30))
    assert {s["config"]["stream_txn"] for s in mf.read_snapshots(d)} == {"query-0", "query-1"}
    with pytest.raises(ValueError, match="checkpointLocation"):  # no query identity to scope by
        PGSDataSource({"path": d}).streamWriter(schema, False)
