"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import ledger, tracing
from perfbench.run import ROOT, TRACE_LOOKUPS, Bench, metric_block
from perfbench.workloads import WORKLOADS

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(ROOT, "perfbench", "settings.json")) as f:
    SETTINGS = json.load(f)


# ------------------------------------------------------------ percentiles
def test_reported_percentile_has_ten_samples_beyond():
    """The lookup median (statistics.median over the traced lookups, as
    run.py reports it) leaves >= 10 samples above it."""
    xs = [float(i) for i in range(TRACE_LOOKUPS)]
    assert sum(x > statistics.median(xs) for x in xs) >= 10


# -------------------------------------------------------------- self time
def _span(i, parent, t0, t1, pid=1, name="x"):
    return {"pid": pid, "id": i, "parent": parent, "t0": t0, "t1": t1, "name": name}


def test_self_time_is_span_minus_children():
    spans = [
        _span(0, -1, 0, 100),
        _span(1, 0, 10, 30),
        _span(2, 0, 25, 50),  # overlaps span 1: the union counts once
        _span(3, 0, 90, 120),  # runs past the parent: clipped at 100
        _span(4, 1, 12, 18),  # grandchild: only its parent loses it
        _span(0, -1, 0, 40, pid=2),  # same id in another process
    ]
    st = tracing.self_times(spans)
    assert st[(1, 0)] == 100 - (50 - 10) - (100 - 90)
    assert st[(1, 1)] == 20 - 6
    assert st[(1, 2)] == 25
    assert st[(1, 4)] == 6
    assert st[(2, 0)] == 40


def test_ancestors_mark_selector_probes():
    spans = [
        _span(0, -1, 0, 10, name="core.chunk.encode_chunk"),
        _span(1, 0, 1, 5, name=ledger.SELECTOR),
        _span(2, 1, 2, 3, name="kernels.deltabp.encode"),
        _span(3, 0, 6, 8, name="kernels.deltabp.encode"),
    ]
    ss = ledger.SpanSet([dict(s, phase="write#0", task=1, bytes=8) for s in spans])
    m = ledger.layer_metrics(ss, raw_bytes_written=16)
    assert m["kernels.deltabp.encode.probe_s"] == pytest.approx(1e-9)
    assert m["kernels.deltabp.encode_s"] == pytest.approx(2e-9)
    assert m["core.selector.probe_bytes_per_raw_byte"] == 0.5


def test_scaling_gap_sums_to_wall_over_kernel_ideal():
    b1 = dict.fromkeys(ledger.LAYERS, 1.0)
    b4 = dict.fromkeys(ledger.LAYERS, 1.5)
    wall1, wall4, slots = 10.0, 4.0, 4
    m = ledger.scaling_ledger(b4, wall4, b1, wall1, slots, raw_bytes=10**9)
    gaps = sum(v for k, v in m.items() if k.startswith("scaling.gap."))
    assert gaps == pytest.approx(wall4 - b1["kernels"] / slots)


# ------------------------------------------------------------ trace tags
class _FakeContext:
    """The part of SparkContext that ``Bench.op`` uses."""

    def __init__(self):
        self.props: dict[str, str] = {}

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


@pytest.mark.parametrize("fails", [False, True])
def test_jobs_after_a_traced_op_are_untraced(fails):
    """A traced operation tags only its own jobs: once it returns (or
    raises), the next job (an output check, the reference encode) carries
    no trace tag, so a worker records no spans for it."""
    bench = Bench(WORKLOADS["pages_write"], 1, 1, False, SETTINGS)
    bench.spark = _FakeSpark()
    props = bench.spark.sparkContext.props
    seen = {}

    def fn():
        seen.update(props)
        if fails:
            raise RuntimeError("operation failed")
        return 1

    bench.op("scan", 0, fn, traced=True)
    assert seen == {"perfbench.trace": "1", "perfbench.phase": "scan#0"}
    assert props.get("perfbench.trace") != "1"
    assert props.get("perfbench.phase") is None


def test_layer_totals_count_only_the_traced_sequence():
    spans = [
        dict(_span(0, -1, 0, 10, name="kernels.deltabp.encode"), phase="write#0"),
        dict(_span(1, -1, 0, 30, name="kernels.deltabp.encode"), phase="warmup1#0"),
        dict(_span(2, -1, 0, 50, name="kernels.deltabp.encode"), phase="scale1#0"),
        dict(_span(3, -1, 0, 70, name="kernels.deltabp.encode"), phase=""),
    ]
    ss = ledger.SpanSet([dict(s, task=1, bytes=8) for s in spans])
    m = ledger.layer_metrics(ss, raw_bytes_written=16)
    assert m["kernels.deltabp.encode_s"] == pytest.approx(10e-9)
    assert m["kernels.deltabp.encode_bytes"] == 8


# ---------------------------------------------------------- metric names
def test_printed_names_are_exactly_benchmark_names():
    for group in ("end_to_end", "per_layer"):
        names = SPEC[group]
        block = metric_block({"not.a.metric": 1.0}, names)
        assert list(block) == [m["name"] for m in names]
        assert all(set(v) == {"value", "unit"} for v in block.values())


# names the ledger computes rather than reads off one traced function
DERIVED = {
    "spark.session.start_s",
    "spark.scan_s",
    "spark.exchange_s",
    "spark.arrow_hop_s",
    "spark.read.scan_s",
    "spark.read.arrow_hop_s",
    "spark.task_skew",
    "core.selector.probes_s",
    "core.selector.probe_bytes_per_raw_byte",
    "core.selector.size_vs_reference",
    "core.chunk.encode_self_s",
    "core.chunk.decode_self_s",
    "core.chunk.pages_read_per_lookup",
    "lookup_p50_ms",
    "spark.decode_job.partitions_read_per_lookup",
    "spark.decode_job.lookup_job_ms",
    "spark.parquet_source.row_groups_read_per_lookup",
    "spark.parquet_source.lookup_job_ms",
    "trace.coverage",
    "trace.plan_floor_share",
    "trace.overhead",
}


def test_per_layer_names_come_from_traced_functions():
    spans = {name for _, _, name in tracing.targets()}
    for m in SPEC["per_layer"]:
        n = m["name"]
        if n in DERIVED or n.startswith(("scaling.", "core.selector.chunks.")):
            continue
        for suffix in (".probe_s", "_s", "_bytes", "_ms"):
            if n.endswith(suffix) and n[: -len(suffix)] in spans:
                break
        else:
            pytest.fail(f"{n} names no traced function")


def test_settings_are_host_and_spark_settings():
    assert set(SETTINGS) == {"max_slots", "driver_memory", "arrow_batch_rows", "max_partition_bytes"}


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert max(bounds.values()) <= 0.25
    assert bounds["setup_s"] == max(bounds.values())
    names = [m["name"] for g in ("end_to_end", "per_layer") for m in SPEC[g]]
    assert len(names) == len(set(names))
