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
