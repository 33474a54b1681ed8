#!/usr/bin/env python
"""Two-parallelism scaling run (north rule evidence): the identical encode
job on the identical deterministic input at local[N] and local[4N] cores
(sandbox stand-in for N vs 4N executors — one fresh JVM per level), and
the scaling efficiency = throughput(4N) / (4 * throughput(N)).

Writes BENCH_SCALING.json and prints a summary line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(cpus: int, rows: int) -> dict:
    """One fresh-process bench run at ``cpus`` cores (bench.py gates its
    own encode reps on the clean-window canary)."""
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_BENCH_ROWS": str(rows),
            "SPARK_GRAFT_BENCH_ONLY": "encode",
            # identical task graph at both levels: fix the partition count
            "SPARK_GRAFT_BENCH_PARTITIONS": os.environ.get(
                "SPARK_GRAFT_BENCH_PARTITIONS", "64"
            ),
        }
    )
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(
            f"--- bench.py produced no JSON at {cpus} cores (rc={out.returncode})\n"
            f"--- stdout tail:\n{out.stdout[-2000:]}\n--- stderr tail:\n{out.stderr[-4000:]}\n"
        )
        raise RuntimeError(f"bench run at {cpus} cores failed")
    return json.loads(lines[-1])


def run_levels(n: int, rows: int, repeats: int = 4) -> tuple[dict, dict, list]:
    """INTERLEAVED best-of-N: (N-core run, 4N-core run) pairs
    back-to-back, so a multi-minute co-tenant burst degrades both
    levels rather than silently sinking one phase (phase-ordered runs
    measured 0.41 'efficiency' purely from a burst that covered the
    whole 4N phase). Each leg's canary reading is the one its best
    encode rep reported."""
    lo = hi = None
    trace = []
    for i in range(repeats):
        a = run_once(n, rows)
        b = run_once(4 * n, rows)
        trace.append(
            {
                "rep": i,
                "gbps_n": a["encode_gbps"],
                "gbps_4n": b["encode_gbps"],
                "probe_ms_n": a["encode_best_rep_canary_ms"],
                "probe_ms_4n": b["encode_best_rep_canary_ms"],
            }
        )
        if lo is None or a["encode_gbps"] > lo["encode_gbps"]:
            lo = a
        if hi is None or b["encode_gbps"] > hi["encode_gbps"]:
            hi = b
    return lo, hi, trace


def main() -> None:
    # defaults = the passing configuration (see BASELINE.md): N=1 vs 4
    # cores, 1.6M rows (~5.6 GB raw), identical 16-partition task graph
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
    rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "1600000"))
    os.environ.setdefault("SPARK_GRAFT_BENCH_PARTITIONS", "16")
    # 64 MB scan splits (HDFS/Iceberg block default) at BOTH levels: the
    # input stage's 7x256m splits ran as 2 ragged waves on 4 cores,
    # idling 3 cores through the second wave; ~22 even splits remove the
    # tail. Identical config at both levels — split sizing, not graph
    # change (the encode stage keeps its fixed 16 partitions).
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "64m")
    # one Arrow batch per encode partition (1.6M rows / 16 partitions =
    # 100k rows): a 1-batch column takes from_arrow's zero-copy view,
    # while 64k-row batches forced a full-partition concat
    # (combine_chunks memcpy, ~5.6 GB of pure DRAM traffic at N=1).
    # Task memory is unchanged — the encode task materializes the whole
    # partition either way.
    os.environ.setdefault("SPARK_GRAFT_ARROW_BATCH_ROWS", "131072")
    # per-executor-local-storage stand-in: shuffle + job I/O on tmpfs (a
    # real N->4N cluster scales disks with executors; this VM has one
    # shared virtio disk, which otherwise caps the measurement)
    if os.path.isdir("/dev/shm") and "SPARK_GRAFT_LOCAL_DIR" not in os.environ:
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/pgs_spark_local"
        os.environ.setdefault("SPARK_GRAFT_TMPDIR", "/dev/shm")
    # pre-generate the input once (full cores) at a DETERMINISTIC path
    # keyed by the row count, reused across bench invocations (a mkdtemp
    # per run leaked a 1.4 GB tmpfs fixture every time)
    if "SPARK_GRAFT_PAGES_DIR" not in os.environ:
        base = os.environ.get("SPARK_GRAFT_TMPDIR") or "/tmp"
        pages_dir = os.path.join(base, f"pgs_scale_pages_{rows}", "pages")
        if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
            gen = (
                "import os; from parquet_go_spark.spark.session import get_spark;"
                "from parquet_go_spark.spark.pages_table import pages_df;"
                f"spark = get_spark();"
                f"pages_df(spark, {rows}).write.mode('overwrite').parquet({pages_dir!r})"
            )
            env = dict(os.environ)
            env["PYTHONPATH"] = HERE + os.pathsep + env.get("PYTHONPATH", "")
            subprocess.run([sys.executable, "-c", gen], env=env, check=True, timeout=3600)
        os.environ["SPARK_GRAFT_PAGES_DIR"] = pages_dir
    lo, hi, trace = run_levels(n, rows)
    eff = hi["encode_gbps"] / (4 * lo["encode_gbps"])
    # transparency: the same-rep paired efficiency (both legs back-to-back
    # in one host window) alongside the headline best-leg aggregate — when
    # the two disagree, the per-rep canary probes say which windows were
    # degraded (a dirty 4N leg deflates the aggregate; a dirty N leg
    # inflates its own rep's pair)
    for t in trace:
        t["eff_pair"] = round(t["gbps_4n"] / (4 * t["gbps_n"]), 4)
    result = {
        "reps": trace,
        "rows": rows,
        "n_cores": n,
        "4n_cores": 4 * n,
        "gbps_n": lo["encode_gbps"],
        "gbps_4n": hi["encode_gbps"],
        "rows_per_s_n": lo["encode_rows_per_s"],
        "rows_per_s_4n": hi["encode_rows_per_s"],
        "encode_sec_n": lo["queries"]["encode_pages"],
        "encode_sec_4n": hi["queries"]["encode_pages"],
        "compression_ratio": hi["compression_ratio"],
        "scaling_efficiency": round(eff, 4),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    with open(os.path.join(HERE, "BENCH_SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
