"""``session.freeze_task_heap``: every engine task body starts by moving
the worker's heap into the permanent generation, so the pyspark daemon's
``gc.collect()`` after the task walks only what the task allocated. It
does nothing outside a Spark task."""

from __future__ import annotations

import gc

import pytest

pytestmark = pytest.mark.spark


def test_freeze_task_heap_freezes_inside_a_task_only(spark):
    from parquet_go_spark.spark.session import freeze_task_heap

    before = gc.get_freeze_count()
    freeze_task_heap()
    assert gc.get_freeze_count() == before  # the driver is no task

    def freeze_counts(batches):
        import gc

        import pyarrow as pa

        from parquet_go_spark.spark.session import freeze_task_heap

        for _ in batches:
            pass
        keep = [[] for _ in range(100)]  # tracked objects the freeze must take
        before = gc.get_freeze_count()
        freeze_task_heap()
        after = gc.get_freeze_count()
        yield pa.RecordBatch.from_pydict({"before": [before], "after": [after], "kept": [len(keep)]})

    rows = (
        spark.range(2, numPartitions=2)
        .mapInArrow(freeze_counts, "before long, after long, kept long")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r["after"] >= r["before"] + r["kept"]


def test_stream_writer_freezes_before_reading_its_batches(spark, tmp_path):
    """``writeStream.format("pgs")``'s task body freezes the heap before
    it touches a batch, like every other engine task body."""
    from parquet_go_spark.spark import manifest as mf

    enc = str(tmp_path / "enc")
    mf.write_table_schema(enc, [{"name": "url", "ddl": "string"}, {"name": "n", "ddl": "bigint"}])

    def write_probe(batches):
        import gc

        import pyarrow as pa

        from parquet_go_spark.spark.datasource import _PGSStreamWriter

        for _ in batches:
            pass
        keep = [[] for _ in range(100)]  # tracked objects the freeze must take
        before = gc.get_freeze_count()
        at_read = []

        def rows():
            at_read.append(gc.get_freeze_count())
            yield pa.record_batch({"url": pa.array(["u0"]), "n": pa.array([0], pa.int64())})

        for key in (None, "url"):  # the upsert path reads its batches first
            _PGSStreamWriter(enc, ["url", "n"], {}, txn="heap", upsert_key=key).write(rows())
        yield pa.RecordBatch.from_pydict({"before": [before] * 2, "at_read": at_read, "kept": [len(keep)] * 2})

    rows = spark.range(1, numPartitions=1).mapInArrow(write_probe, "before long, at_read long, kept long").collect()
    assert len(rows) == 2
    assert all(r["at_read"] >= r["before"] + r["kept"] for r in rows)
