"""Fixed cost of one Python task: the JVM→Python worker hand-off that every
vectorized UDF pays before its first batch.

    python tools/task_overhead.py [--cores 4] [--reps 3]

Runs drain-only ``mapInArrow`` jobs of 4, 16 and 64 one-row tasks on
``get_spark`` (the function starts like every engine task body: it
imports the engine and calls ``freeze_task_heap``, then drains its
input) and prints each job's best wall plus the ms per
task from the 16→64 slope, so the per-job constant cancels out. With
``cores`` slots the slope is ``cores × wall / task``: it is the time one
slot spends per task, not the job's wall per task. The timed jobs start
once the clean-window canary (``perfbench/canary.py``, the gate of
``bench.py``) reads clean; its reading is printed with the result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TASKS = (4, 16, 64)


def _drain(batches):
    import pyarrow as pa

    from parquet_go_spark.spark.session import freeze_task_heap

    freeze_task_heap()  # what every engine task body runs first
    n = sum(b.num_rows for b in batches)
    yield pa.RecordBatch.from_pydict({"n": [n]})


def job_wall_s(spark, tasks: int) -> float:
    t = time.perf_counter()
    rows = spark.range(tasks, numPartitions=tasks).mapInArrow(_drain, "n long").collect()
    wall = time.perf_counter() - t
    assert sum(r["n"] for r in rows) == tasks
    return wall


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cores", type=int, default=None, help="local[N] slots (default SPARK_GRAFT_CPUS)")
    ap.add_argument("--reps", type=int, default=3, help="timed runs per job size; the best is kept")
    args = ap.parse_args(argv)

    # workers must import the engine from this checkout, wherever we run from
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    from bench import CANARY_THRESHOLD_MS, LEG_WAIT_S
    from parquet_go_spark.spark.session import get_spark
    from perfbench.canary import wait_clean

    spark = get_spark(app="task-overhead", cores=args.cores)
    cores = spark.sparkContext.defaultParallelism
    try:
        job_wall_s(spark, 2 * cores)  # start the workers
        canary_ms = wait_clean(CANARY_THRESHOLD_MS, LEG_WAIT_S)
        walls = {n: min(job_wall_s(spark, n) for _ in range(args.reps)) for n in TASKS}
    finally:
        spark.stop()
    lo, hi = TASKS[1], TASKS[2]
    slot_ms = (walls[hi] - walls[lo]) / (hi - lo) * cores * 1e3
    print(json.dumps({
        "cores": cores,
        "job_wall_s": {str(n): round(w, 3) for n, w in walls.items()},
        "ms_per_task": round(slot_ms, 1),
        "canary_ms": round(canary_ms, 2),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
