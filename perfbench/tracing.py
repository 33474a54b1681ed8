"""Span recorder for the traced benchmark run.

The package under test carries no instruments, so the traced run wraps
the layers' public functions from outside: every target function is
replaced, in every loaded ``parquet_go_spark`` module that binds it, by a
wrapper that records one span per call (name, start, end, parent, task
id, phase, bytes handled). Calls are per chunk, page or task, never per
value.

Driver side, ``install`` runs in the benchmark process and spans are
recorded while ``Recorder.phase`` is set. Worker side, the benchmark's
own daemon (``perfbench.traced_daemon``) installs the same wrappers
before pyspark forks its workers; a worker records only inside tasks
whose job carries the local property ``perfbench.trace=1`` and takes the
phase from ``perfbench.phase``. Spans stay in memory and a worker
appends them to ``spans-<pid>.jsonl`` when its outermost span closes (one
write per task-level call); the benchmark merges every file when the
run ends.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import pkgutil
import sys
import threading
import time
import types

PKG = "parquet_go_spark"

# (module, function, span name); span name defaults to module.function
# with the package prefix dropped
LAYER_TARGETS = [
    ("core.columns", "from_arrow", None),
    ("core.columns", "to_arrow", None),
    ("core.selector", "choose_encoding", None),
    ("core.chunk", "encode_chunk", None),
    ("core.chunk", "decode_chunk", None),
    ("core.chunk", "column_minmax", None),
    ("core.chunk", "chunk_page_index", None),
    ("core.chunk", "_compress", "core.chunk.block_compress"),
    ("core.chunk", "_decompress", "core.chunk.block_decompress"),
    ("spark.encode_job", "encode_columns_to_partition", None),
    ("spark.encode_job", "write_partition_file", None),
    ("spark.encode_job", "parse_partition_file", None),
    ("spark.manifest", "commit_partition", None),
    ("spark.decode_job", "surviving_partitions", None),
    ("spark.decode_job", "decode_blobs_to_batch", None),
    ("spark.parquet_source", "plan_scan_tasks", None),
    ("compat.parquet_writer", "write_parquet", None),
    ("compat.parquet_writer", "_compress", "compat.parquet_writer.block_compress"),
    ("compat.parquet_reader", "read_table_arrow", None),
    ("compat.parquet_reader", "file_meta", None),
    ("compat.parquet_reader", "_decompress", "compat.parquet_reader.block_decompress"),
    ("compat.page_index", "page_prune_ranges", None),
    ("compat.bloom_filter", "bloom_bytes_for_column", None),
    ("compat.bloom_filter", "bloom_probe_file", None),
]

# every public function of these kernel modules is a kernel entry point;
# varint/bitpack/xxhash64 are per-value or inner helpers and stay unwrapped
KERNEL_MODULES = [
    "alp",
    "bloom",
    "bytearrays",
    "bytestreamsplit",
    "deltabp",
    "dictenc",
    "forbp",
    "fsst",
    "hybrid",
    "int96",
    "kmv",
    "levels",
    "plain",
]

# scalar helpers called per page with no array work
SKIP = {"kernels.dictenc.index_bit_width", "kernels.hybrid.bp_size"}


def nbytes(obj, depth: int = 2) -> int:
    """Bytes held by an array, buffer or column, or by tuples/lists of them
    (two levels deep)."""
    if isinstance(obj, (tuple, list)):
        return sum(nbytes(o, depth - 1) for o in obj) if depth else 0
    for attr in ("nbytes", "raw_bytes"):  # numpy/Arrow arrays; ColumnData
        n = getattr(obj, attr, None)
        if isinstance(n, int):
            return n
    if isinstance(obj, (bytes, bytearray, memoryview)):
        return len(obj)
    size = getattr(obj, "size", None)  # pa.Buffer
    return size if isinstance(size, int) and hasattr(obj, "to_pybytes") else 0


class Recorder:
    """Spans of one process. ``phase`` set ⇒ driver-side recording on;
    ``worker=True`` ⇒ recording follows the running task's local
    properties instead."""

    def __init__(self, out_dir: str | None = None, worker: bool = False):
        self.out_dir = out_dir
        self.worker = worker
        self.phase: str | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _context(self) -> tuple[str | None, int]:
        if not self.worker:
            return self.phase, -1
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is None or tc.getLocalProperty("perfbench.trace") != "1":
            return None, -1
        return tc.getLocalProperty("perfbench.phase") or "", tc.taskAttemptId()

    def call(self, name: str, fn, args, kwargs):
        phase, task = self._context()
        if phase is None:
            return fn(*args, **kwargs)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else -1
        stack.append(sid)
        t0 = time.perf_counter_ns()
        out = None
        try:
            out = fn(*args, **kwargs)
            return out
        finally:
            t1 = time.perf_counter_ns()
            stack.pop()
            if "decode" in name or "decompress" in name:
                moved = nbytes(out)
            else:
                moved = nbytes(args) + nbytes(list(kwargs.values()))
            # the chosen codec, for calls that return (encoding, ...)
            label = out[0] if isinstance(out, tuple) and out and isinstance(out[0], str) else None
            self.spans.append(
                {
                    "pid": os.getpid(),
                    "id": sid,
                    "parent": parent,
                    "name": name,
                    "t0": t0,
                    "t1": t1,
                    "task": task,
                    "phase": phase,
                    "bytes": moved,
                    "count": len(out) if isinstance(out, list) else -1,
                    "label": label,
                }
            )
            if self.worker and not stack:
                self.flush()

    def flush(self) -> None:
        """Append the pending spans to this process's span file."""
        if not self.spans or not self.out_dir:
            return
        path = os.path.join(self.out_dir, f"spans-{os.getpid()}.jsonl")
        with open(path, "a") as f:
            f.write("".join(json.dumps(s) + "\n" for s in self.spans))
        self.spans = []


def _wrap(rec: Recorder, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return rec.call(name, fn, args, kwargs)

    traced.__perfbench_original__ = fn
    return traced


def targets() -> list[tuple[str, str, str]]:
    """(module, function, span name) for every wrapped function."""
    out = [(m, f, n or f"{m}.{f}") for m, f, n in LAYER_TARGETS]
    for short in KERNEL_MODULES:
        mod = importlib.import_module(f"{PKG}.kernels.{short}")
        for attr, obj in sorted(vars(mod).items()):
            if (
                not attr.startswith("_")
                and f"kernels.{short}.{attr}" not in SKIP
                and getattr(obj, "__module__", "") == mod.__name__
                and isinstance(obj, types.FunctionType)
            ):
                out.append((f"kernels.{short}", attr, f"kernels.{short}.{attr}"))
    return out


def install(rec: Recorder) -> int:
    """Wrap every target in every loaded package module that binds it;
    returns the number of bindings replaced. Idempotent."""
    for sub in ("core", "kernels", "compat", "spark"):
        pkg = importlib.import_module(f"{PKG}.{sub}")
        for info in pkgutil.iter_modules(pkg.__path__, f"{PKG}.{sub}."):
            importlib.import_module(info.name)
    replaced = 0
    for mod_name, attr, span in targets():
        mod = sys.modules[f"{PKG}.{mod_name}"]
        orig = getattr(mod, attr)
        if hasattr(orig, "__perfbench_original__"):
            continue
        wrapper = _wrap(rec, span, orig)
        for name, m in list(sys.modules.items()):
            if m is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, wrapper)
                    replaced += 1
    return replaced


def load_spans(out_dir: str, extra: list[dict] | None = None) -> list[dict]:
    spans = list(extra or [])
    for path in sorted(glob.glob(os.path.join(out_dir, "spans-*.jsonl"))):
        with open(path) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def self_times(spans: list[dict]) -> dict[tuple[int, int], int]:
    """(pid, id) -> self time in ns: the span's duration minus the part of
    its interval that its child spans cover."""
    children: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault((s["pid"], s["parent"]), []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        key = (s["pid"], s["id"])
        covered = 0
        end = s["t0"]
        for a, b in sorted(children.get(key, [])):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[key] = (s["t1"] - s["t0"]) - covered
    return out


def ancestors(spans: list[dict]) -> dict[tuple[int, int], list[str]]:
    """(pid, id) -> names of the span's enclosing spans, innermost first."""
    by_key = {(s["pid"], s["id"]): s for s in spans}
    out = {}
    for key, s in by_key.items():
        names = []
        p = s["parent"]
        while p >= 0:
            ps = by_key.get((s["pid"], p))
            if ps is None:
                break
            names.append(ps["name"])
            p = ps["parent"]
        out[key] = names
    return out
