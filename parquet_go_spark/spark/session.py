"""SparkSession construction tuned for the encode pipeline.

Scale posture (SURVEY.md §4): AQE on (skew-join + partition coalescing),
Arrow-batched Python UDF transfer, shuffle partitions sized to cores, and
glibc malloc tuned in the Python workers — this sandbox (and container
fleets generally) fault in fresh pages very slowly, so workers must reuse
arena memory instead of mmap/munmap-ing every large numpy temporary.

Every engine task body starts with :func:`freeze_task_heap`. PySpark's
daemon runs a full ``gc.collect()`` in the worker after every task
(``pyspark/daemon.py``), and the JVM waits on it before the worker takes
its next task: Spark reports the wait as "time to start Python workers".
Without a freeze that collection walks every object the worker holds,
mostly module state from imports: ~76k objects and ~23 ms on a 4-vCPU
host after one pages encode task. Freezing at task start moves what
already exists into the permanent generation, so the collection after
the task walks only what the task allocated. The previous task's
garbage is already gone by then: the daemon collected it before handing
over the next task.
"""

from __future__ import annotations

import gc
import os

from pyspark import TaskContext
from pyspark.sql import SparkSession

# keep freed pages in the worker's arena: first-touch page faults are the
# dominant cost for large numpy temporaries in sandboxed containers
WORKER_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def freeze_task_heap() -> None:
    """Inside a Spark task, ``gc.freeze()`` the worker's heap (see the
    module docstring); anywhere else (the driver, a local call) nothing."""
    if TaskContext.get() is not None:
        gc.freeze()


def get_spark(
    app: str = "parquet-go-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # Encode-dedicated jobs want ONE Arrow batch per partition: the
    # chunk encoder needs each column contiguous, and a 1-chunk column
    # takes from_arrow's zero-copy view while a multi-batch partition
    # pays a full concat (pa.ChunkedArray.combine_chunks memcpy) first.
    # Peak task memory is bounded by partition bytes either way (the
    # whole partition is materialized before encoding), so sizing
    # batches >= rows-per-partition removes a copy without changing the
    # memory envelope. 65536 is a general-purpose default.
    if arrow_batch_rows is None:  # explicit 0 means "unlimited" to Spark
        arrow_batch_rows = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH_ROWS", "65536"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Catalyst push filters into the Python DataSource (spark/datasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # scan-split size: smaller splits give even waves per core at low
        # parallelism (the N vs 4N scaling config pins 64m — the classic
        # HDFS/Iceberg block size); the local[32] default keeps bigger
        # splits so the fixed per-task Python cost stays amortized: ~70 ms
        # of slot time per task on a 4-vCPU host (tools/task_overhead.py)
        # before freeze_task_heap cut the pyspark daemon's per-task
        # gc.collect(); without parquet_go_spark/_zipcache.py every task
        # start would also re-read pyspark.zip's directory (~280 ms)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "256m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        # shuffle/spill on fast local storage (tmpfs in the sandbox —
        # the stand-in for per-executor NVMe)
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in WORKER_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
        os.environ.setdefault(k, v)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
