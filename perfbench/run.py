#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload pages_write --seed 1 --seconds 25 --trace 0

Runs from the root of a source checkout. ``--trace 0`` measures the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs the same
operations with the layers' functions wrapped (``perfbench/tracing.py``)
and reports the per-layer metrics. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it is a JSON report with the clean-window
canary readings, sample counts and, for traced runs, the ledger file.
Everything the run writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LOOKUP_KEYS = 40  # seeded lookup keys drawn per run (warm-up and traced), 3 of 4 present
TRACE_LOOKUPS = 20  # lookups in the traced sequence
CANARY_THRESHOLD_MS = 2.0  # clean-window gate: canary reading to wait for
CANARY_MAX_WAIT_S = 5  # and the longest wait before running anyway


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _parents() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    return parent


def _descendants() -> list[int]:
    """Pids of every live process below this one."""
    parent = _parents()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _is_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"perfbench.traced_daemon" in cmd


def worker_peak_rss_mb(slots: int) -> float:
    """Median peak RSS (VmHWM) of the Spark Python workers (the processes
    the pyspark daemon forked) that ran the parallel tasks: the ``slots``
    largest. The daemon can fork more workers than slots, as when a task
    starts before a finished task's worker is back in the pool. How many
    extra workers a run makes, and how little they ran, changes from run
    to run, and a median over every worker moves with it. The largest
    alone follows whichever worker got the biggest partitions."""
    parent = _parents()
    peaks = []
    for pid in _descendants():
        if not (_is_daemon(pid) and _is_daemon(parent.get(pid, -1))):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024)
        except OSError:
            continue
    return statistics.median(sorted(peaks)[-slots:]) if peaks else 0.0


class Bench:
    """One benchmark run: session, inputs, operations, checks."""

    def __init__(self, workload, seed: int, seconds: int, trace: bool, settings: dict):
        import numpy as np

        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.settings = settings
        self.slots = min(settings["max_slots"], os.cpu_count() or 1)
        base = os.path.join(ROOT, ".bench_work")
        self.work = os.path.join(base, f"{workload.name}-{seed}-{os.getpid()}")
        self.trace_dir = os.path.join(base, f"trace-{workload.name}-{seed}")
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.rec = None
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {"write": [], "scan": []}
        self.table_dir = None
        self.table_raw = 0
        self.table_stored = 0
        self.lookup_walls: dict[str, float] = {}  # traced lookups, by phase tag
        self.report: dict = {}
        if trace:
            shutil.rmtree(self.trace_dir, ignore_errors=True)
            os.makedirs(self.trace_dir)

    # ------------------------------------------------------------ session
    def start_session(self, slots: int) -> float:
        from parquet_go_spark.spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp and ROOT not in pp.split(os.pathsep) else "")
        os.environ["SPARK_DRIVER_MEM"] = self.settings["driver_memory"]
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        extra = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.files.maxPartitionBytes": self.settings["max_partition_bytes"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.environ["PERFBENCH_TRACE_DIR"] = self.trace_dir
            extra["spark.python.daemon.module"] = "perfbench.traced_daemon"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app="perfbench",
            cores=slots,
            arrow_batch_rows=self.settings["arrow_batch_rows"],
            extra=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and its JVM, wait for every child process to end and
        remove the run's data (the trace directory stays)."""
        try:
            self.stop_session()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
            deadline = time.monotonic() + 30
            while _descendants() and time.monotonic() < deadline:
                time.sleep(0.2)
            for pid in _descendants():
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            shutil.rmtree(self.work, ignore_errors=True)

    # --------------------------------------------------------- operations
    def op(self, phase: str, i: int, fn, traced: bool = False):
        """Run one operation -> (wall seconds, result); result is None and
        the operation counts as failed when it raised. The trace tags are
        set for this operation's jobs only: whatever runs after it (checks,
        the reference encode) is untraced."""
        sc = self.spark.sparkContext
        tag = f"{phase}#{i}"
        sc.setLocalProperty("perfbench.phase", tag)
        sc.setLocalProperty("perfbench.trace", "1" if traced else "0")
        if self.rec is not None:
            self.rec.phase = tag if traced else None
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            _log(f"{tag} raised:\n{traceback.format_exc()}")
            return time.perf_counter() - t0, None
        finally:
            sc.setLocalProperty("perfbench.trace", None)
            sc.setLocalProperty("perfbench.phase", None)
            if self.rec is not None:
                self.rec.phase = None
        return time.perf_counter() - t0, out

    def fail(self, what: str) -> None:
        self.failed += 1
        _log(f"output check failed: {what}")

    def do_write(self, i: int, traced: bool = False, phase: str = "write") -> float | None:
        out = os.path.join(self.work, "tables", f"{phase}{i}")
        wall, man = self.op(phase, i, lambda: self.wl.write(self.spark, self.inp, out), traced)
        if man is None:
            return None
        raw = sum(r["raw_bytes"] for r in man)
        if not self.wl.check_write(man, self.inp, out, self.rng):
            self.fail(f"{phase}#{i}: written table does not match its input")
        # later scans and lookups read the newest table
        if self.table_dir and self.table_dir != out:
            shutil.rmtree(self.table_dir, ignore_errors=True)
        self.table_dir = out
        self.table_raw = raw
        self.table_stored = sum(r["encoded_bytes"] for r in man)
        return raw / wall / 1e9

    def do_scan(self, i: int, traced: bool = False) -> float | None:
        wall, ok = self.op("scan", i, lambda: self.wl.scan(self.spark, self.table_dir) or True, traced)
        return None if ok is None else self.table_raw / wall / 1e9

    def do_lookup(self, i: int, traced: bool = False) -> float | None:
        k = (self.key_offset + i) % len(self.inp.keys)
        key = self.inp.keys[k]
        wall, rows = self.op("lookup", i, lambda: self.wl.lookup(self.spark, self.table_dir, key), traced)
        if rows is None:
            return None
        if traced:
            self.lookup_walls[f"lookup#{i}"] = wall * 1000
        want = self.wl.expected_rows(self.inp, key)
        if self.wl.got_rows(rows) != want or bool(want) != self.inp.present[k]:
            self.fail(f"lookup#{i} {key!r}: {len(rows)} rows, expected {len(want)}")
        return wall * 1000

    def check_scan(self) -> bool:
        """Full-table row count and order-independent checksum equal the
        input's (one verification read of the table the scans read)."""
        from perfbench.workloads import table_checksum

        got = table_checksum(self.wl.read(self.spark, self.table_dir))
        want = table_checksum(self.spark.read.parquet(self.inp.path))
        return got == want

    # -------------------------------------------------------------- setup
    def setup(self) -> float:
        """Session start (with the seeded input generated alongside it,
        as a user's job would read an existing table), then a warm-up:
        two writes, a scan and two lookups, checked like any other
        operation but not sampled, so worker processes exist, the package is imported in
        them and the JVM has compiled the plans before timing starts."""
        import threading

        made: dict = {}

        def make() -> None:
            try:
                made["inp"] = self.wl.make_input(self.seed, self.work, LOOKUP_KEYS)
            except Exception as e:  # re-raised below, in the main thread
                made["err"] = e

        t0 = time.perf_counter()
        gen = threading.Thread(target=make)
        gen.start()
        self.report["session_start_s"] = self.start_session(self.slots)
        gen.join()
        if "err" in made:
            raise made["err"]
        self.inp = made["inp"]
        self.key_offset = int(self.rng.integers(len(self.inp.keys)))
        self.report["input_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        # writes keep speeding up over the first few (JIT, worker heaps
        # growing to their working set): two before timing
        self.report["warmup_write_gbps"] = [self.do_write(i, phase="warmup") for i in range(2)]
        self.do_scan(-1)
        self.do_lookup(-1)
        self.do_lookup(-2)
        self.report["warmup_s"] = time.perf_counter() - t1
        return time.perf_counter() - t0

    # ------------------------------------------------------- measurement
    def measure(self) -> dict[str, float]:
        """Closed loop, one client, in rounds of the workload's writes and
        then its scans. Operations go on until the run's seconds are spent
        and each has its least number of samples (``min_rounds`` rounds'
        worth); past the deadline only the operations short of their least
        run. Both are thus sampled all through the run, and a run overshoots
        its seconds by at most one operation. Lookups are not timed here:
        see the README."""
        fns = {"write": self.do_write, "scan": self.do_scan}
        least = {p: n * self.wl.min_rounds for p, n in zip(fns, self.wl.per_round)}
        done = dict.fromkeys(fns, 0)
        order = [p for p, n in zip(fns, self.wl.per_round) for _ in range(n)]
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end or any(done[p] < least[p] for p in fns):
            for phase in order:
                if time.perf_counter() >= t_end and done[phase] >= least[phase]:
                    continue
                v = fns[phase](done[phase])
                done[phase] += 1
                if v is not None:
                    self.samples[phase].append(v)
        if not self.check_scan():
            self.fail("scan checksum differs from the input's")
            self.failed += len(self.samples["scan"]) - 1
        return {
            "write_gbps": statistics.median(self.samples["write"]),
            "scan_gbps": statistics.median(self.samples["scan"]),
            "stored_bytes_per_raw_byte": self.table_stored / self.table_raw,
        }

    # ------------------------------------------------------------- trace
    def truncated_plans(self) -> dict[str, float]:
        """Wall of the write job cut after the scan, after the salted
        exchange and after the JVM->Python Arrow hop (a mapInArrow that
        drains its input), each to the noop sink, median of 2; a layer's
        time is the difference. On the native container the read job is
        cut the same way: binaryFile scan, then the hop."""
        from pyspark.sql import functions as F

        from perfbench.workloads import drain

        df = self.spark.read.parquet(self.inp.path)
        ex = df.repartition(self.wl.partitions, F.xxhash64(F.col(self.wl.key), F.lit(0x5A17)))
        plans = {"scan": df, "exchange": ex, "hop": ex.mapInArrow(drain, df.schema)}
        paths = sorted(glob.glob(os.path.join(self.table_dir, "part-*.bin")))
        if paths:
            files = self.spark.read.format("binaryFile").load(paths).select("path", "content")
            plans.update(read_scan=files, read_hop=files.mapInArrow(drain, files.schema))
        walls: dict[str, list[float]] = {k: [] for k in plans}
        for _ in range(2):
            for k, plan in plans.items():
                t0 = time.perf_counter()
                plan.write.format("noop").mode("overwrite").save()
                walls[k].append(time.perf_counter() - t0)
        w = {k: statistics.median(v) for k, v in walls.items()}
        m = {
            "spark.scan_s": w["scan"],
            "spark.exchange_s": w["exchange"] - w["scan"],
            "spark.arrow_hop_s": w["hop"] - w["exchange"],
            "_job_floor_s": w["hop"],
        }
        if paths:
            m["spark.read.scan_s"] = w["read_scan"]
            m["spark.read.arrow_hop_s"] = w["read_hop"] - w["read_scan"]
        return m

    def traced_run(self) -> dict[str, float]:
        """Fixed operation sequence with the layers traced: the write three
        times untraced and three times traced (the overhead), one traced
        scan and a fixed number of traced lookups; then the truncated
        plans and, on pages_write, size_vs_reference and the one-slot
        scaling ledger."""
        from perfbench.ledger import SpanSet, layer_metrics, scaling_ledger
        from perfbench.tracing import load_spans

        untraced, traced = [], []
        # ABBA order, so drift and the first write after warm-up hit both sides
        for rep, is_traced in enumerate((False, True, True, False, False, True)):
            t0 = time.perf_counter()
            self.do_write(rep, traced=is_traced)
            (traced if is_traced else untraced).append(time.perf_counter() - t0)
        self.do_scan(0, traced=True)
        if not self.check_scan():
            self.fail("scan checksum differs from the input's")
        for i in range(TRACE_LOOKUPS):
            self.do_lookup(i, traced=True)
        m = self.truncated_plans()
        if self.wl.name == "pages_write":
            m["core.selector.size_vs_reference"] = self.size_vs_reference()
        ss = SpanSet(load_spans(self.trace_dir, self.rec.spans))
        m.update(layer_metrics(ss, self.table_raw * len(traced)))
        m["spark.task_skew"] = ss.task_skew("write")
        m.update(self.lookup_metrics(ss))
        m["lookup_p50_ms"] = statistics.median(self.lookup_walls.values())
        # share of the traced writes' slot time that the spans account for;
        # the untraced write plan (scan, exchange, Arrow hop) is reported
        # beside it, as a share of the write wall, not added in: it runs
        # inside the same tasks as the spans
        self_s = sum(ss.self_s(s) for s in ss.where("write"))
        m["trace.coverage"] = self_s / (sum(traced) * self.slots)
        m["trace.plan_floor_share"] = m.pop("_job_floor_s") / statistics.median(traced)
        m["trace.overhead"] = statistics.median(traced) / statistics.median(untraced) - 1
        m["trace.spans"] = float(len(ss.spans))
        if self.wl.name == "pages_write":
            b4 = {k: v / len(traced) for k, v in ss.busy_by_layer("write").items()}
            wall1, b1 = self.one_slot_write()
            m.update(
                scaling_ledger(
                    b4, statistics.median(traced), b1, wall1, self.slots, self.table_raw
                )
            )
        self.rec.out_dir = self.trace_dir
        self.rec.flush()  # driver spans join the workers' span files
        return m

    def lookup_metrics(self, ss) -> dict[str, float]:
        """Prune planning time and waste ratios of the traced lookups."""
        from perfbench.ledger import SEQUENCE

        m = {}
        plans = {}
        for name, key in (
            ("spark.decode_job.surviving_partitions", "spark.decode_job"),
            ("spark.parquet_source.plan_scan_tasks", "spark.parquet_source"),
        ):
            ss_l = [s for s in ss.where("lookup") if s["name"] == name]
            if ss_l:
                ms = [(s["t1"] - s["t0"]) / 1e6 for s in ss_l]
                plans[key] = {s["phase"]: (s["t1"] - s["t0"]) / 1e6 for s in ss_l}
                m[f"{name}_ms"] = statistics.mean(ms)
                unit = "partitions" if key == "spark.decode_job" else "row_groups"
                m[f"{key}.{unit}_read_per_lookup"] = statistics.mean(s["count"] for s in ss_l)
        n_lookups = len(self.lookup_walls) or 1
        pages = sum(
            1
            for s in ss.where("lookup", worker=True)
            if s["name"] == "kernels.levels.decode_def_levels"
        )
        m["core.chunk.pages_read_per_lookup"] = pages / n_lookups
        for key, per in plans.items():
            jobs = [w - per.get(tag, 0.0) for tag, w in self.lookup_walls.items()]
            m[f"{key}.lookup_job_ms"] = statistics.median(jobs)
        for name in ("compat.parquet_reader.file_meta", "compat.page_index.page_prune_ranges"):
            d = [(s["t1"] - s["t0"]) / 1e6 for s in ss.where(SEQUENCE) if s["name"] == name]
            if d:
                m[f"{name}_ms"] = statistics.mean(d)
        return m

    def size_vs_reference(self) -> float:
        """Auto-profile bytes over reference-profile bytes on the same
        partitions (untimed, untraced)."""
        import dataclasses

        ref = dataclasses.replace(self.wl, options=dict(self.wl.options, profile="reference"))
        out = os.path.join(self.work, "tables", "reference")
        man = ref.write(self.spark, self.inp, out)
        stored = sum(r["encoded_bytes"] for r in man)
        shutil.rmtree(out, ignore_errors=True)
        return self.table_stored / stored

    def one_slot_write(self) -> tuple[float, dict[str, float]]:
        """The same traced write at one task slot (a fresh SparkContext in
        the same JVM) -> (wall, busy seconds per layer)."""
        from perfbench.ledger import SpanSet
        from perfbench.tracing import load_spans

        self.stop_session()
        self.start_session(1)
        self.do_write(0, phase="warmup1")  # forks the workers, imports the package
        t0 = time.perf_counter()
        self.do_write(0, traced=True, phase="scale1")
        wall1 = time.perf_counter() - t0
        ss1 = SpanSet(load_spans(self.trace_dir))
        return wall1, ss1.busy_by_layer("scale1")


def _mem_gb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 2**20


def metric_block(values: dict[str, float], names: list[dict]) -> dict[str, dict]:
    """The result's ``metrics``: exactly the named metrics, each with its
    unit; a layer the workload never called reads 0."""
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(ROOT, "perfbench", "settings.json")) as f:
            settings = json.load(f)
        sys.path.insert(0, ROOT)
        import parquet_go_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except (OSError, ValueError, ImportError) as e:
        _log(f"cannot run here: {e}")
        return 2
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()

    from perfbench.canary import probe_ms, wait_clean

    canary_before = wait_clean(CANARY_THRESHOLD_MS, CANARY_MAX_WAIT_S)
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), settings)
    try:
        if args.trace:
            from perfbench.tracing import Recorder, install

            bench.rec = Recorder()
            install(bench.rec)
        setup_s = bench.setup()
        if args.trace:
            values = bench.traced_run()
            values["spark.session.start_s"] = bench.report["session_start_s"]
            names = spec["per_layer"]
        else:
            values = bench.measure()
            values["setup_s"] = setup_s
            values["worker_peak_rss_mb"] = worker_peak_rss_mb(bench.slots)
            names = spec["end_to_end"]
    finally:
        bench.close()
    metrics = metric_block(values, names)
    bench.report.update(
        workload=args.workload,
        seed=args.seed,
        host={"nproc": os.cpu_count(), "slots": bench.slots, "mem_gb": _mem_gb(), **settings},
        canary_ms_before=canary_before,
        canary_ms_after=probe_ms(),
        samples={k: [round(x, 4) for x in v] for k, v in bench.samples.items()},
    )
    if args.trace:
        ledger = os.path.join(bench.trace_dir, "ledger.json")
        with open(ledger, "w") as f:
            json.dump({"report": bench.report, "values": values}, f, indent=1, sort_keys=True)
        bench.report["ledger"] = os.path.relpath(ledger, ROOT)
    print(json.dumps(bench.report, default=float))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
