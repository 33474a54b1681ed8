"""Statistics and the per-layer ledger built from traced spans."""

from __future__ import annotations

import statistics

from .tracing import ancestors, self_times

SELECTOR = "core.selector.choose_encoding"

# the operations of the traced sequence; spans tagged otherwise (warm-up,
# the one-slot write) stay out of the layer totals
SEQUENCE = ("write", "scan", "lookup")

# scaling-ledger layers; a span belongs to the first layer whose test
# matches (kernels and block codec calls under the selector are probes,
# which count as selector work)
LAYERS = ["marshal", "selector", "kernels", "block_codec", "chunk_self", "file_write", "task_other"]


def layer_of(name: str, under_selector: bool) -> str:
    if name == SELECTOR or under_selector:
        return "selector"
    if name.startswith("core.columns."):
        return "marshal"
    if name.startswith("kernels."):
        return "kernels"
    if name.endswith("block_compress") or name.endswith("block_decompress"):
        return "block_codec"
    if name.startswith("core.chunk."):
        return "chunk_self"
    if name in ("spark.encode_job.write_partition_file", "spark.manifest.commit_partition"):
        return "file_write"
    return "task_other"


class SpanSet:
    """Traced spans with self times and selector ancestry resolved."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.self_ns = self_times(spans)
        anc = ancestors(spans)
        self.under_selector = {k: SELECTOR in a for k, a in anc.items()}

    def where(self, phase: str | tuple[str, ...] | None = None, worker: bool | None = None):
        phases = (phase,) if isinstance(phase, str) else phase
        for s in self.spans:
            if phases is not None and s["phase"].split("#")[0] not in phases:
                continue
            if worker is not None and (s["task"] >= 0) != worker:
                continue
            yield s

    def self_s(self, s: dict) -> float:
        return self.self_ns[(s["pid"], s["id"])] / 1e9

    def probe(self, s: dict) -> bool:
        return self.under_selector[(s["pid"], s["id"])]

    def busy_by_layer(self, phase: str) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.where(phase, worker=True):
            out[layer_of(s["name"], self.probe(s))] += self.self_s(s)
        return out

    def task_skew(self, phase: str) -> float:
        """Median over the phase's operations of slowest / median task busy
        time (sum of a task's outermost spans)."""
        per_op: dict[str, dict[int, float]] = {}
        for s in self.where(phase, worker=True):
            if s["parent"] < 0:
                op = per_op.setdefault(s["phase"], {})
                op[s["task"]] = op.get(s["task"], 0.0) + (s["t1"] - s["t0"]) / 1e9
        ratios = [
            max(t.values()) / statistics.median(t.values()) for t in per_op.values() if t
        ]
        return statistics.median(ratios) if ratios else 0.0


def layer_metrics(ss: SpanSet, raw_bytes_written: int) -> dict[str, float]:
    """Self time and bytes per traced span name over the sequence's
    operations, kernels split into selector probes (``.probe``) and final
    calls; plus selector totals and the codec mix."""
    m: dict[str, float] = {}
    probe_bytes = 0
    spans = list(ss.where(SEQUENCE))
    for s in spans:
        name = s["name"]
        if name.startswith("kernels.") and ss.probe(s):
            name += ".probe"
            probe_bytes += s["bytes"]
        elif name.endswith("block_compress") and ss.probe(s):
            name += ".probe"
            probe_bytes += s["bytes"]
        m[f"{name}_s"] = m.get(f"{name}_s", 0.0) + ss.self_s(s)
        m[f"{name}_bytes"] = m.get(f"{name}_bytes", 0.0) + s["bytes"]
        if name == SELECTOR and s.get("label"):
            key = f"core.selector.chunks.{s['label']}"
            m[key] = m.get(key, 0.0) + 1
    m["core.selector.probes_s"] = sum(
        ss.self_s(s) for s in spans if ss.probe(s) and s["name"] != SELECTOR
    )
    m["core.selector.probe_bytes_per_raw_byte"] = (
        probe_bytes / raw_bytes_written if raw_bytes_written else 0.0
    )
    m["core.chunk.encode_self_s"] = m.get("core.chunk.encode_chunk_s", 0.0)
    m["core.chunk.decode_self_s"] = m.get("core.chunk.decode_chunk_s", 0.0)
    return m


def scaling_ledger(
    b4: dict[str, float], wall4: float, b1: dict[str, float], wall1: float, slots: int, raw_bytes: int
) -> dict[str, float]:
    """Where the gap between ``slots`` x one core's kernel throughput and
    the measured multi-slot write goes, per layer, for one write of the
    same input at 1 and at ``slots`` task slots; ``b1``/``b4`` are busy
    seconds per layer (``SpanSet.busy_by_layer``) of one write.

    With B_l(s) a layer's busy time at s slots and U(s) = s*W(s) - sum B_l(s)
    the slot time outside every traced span (JVM scan, exchange, Arrow
    hop, scheduling, idle slots), the measured wall exceeds the kernels-
    only ideal K(1)/slots by exactly
        sum over non-kernel layers B_l(slots)/slots
        + (B_kernels(slots) - B_kernels(1))/slots + U(slots)/slots,
    which is what ``scaling.gap.<layer>_s`` reports."""
    u4 = slots * wall4 - sum(b4.values())
    u1 = wall1 - sum(b1.values())
    m = {
        "scaling.wall_ratio": wall1 / wall4,
        "scaling.write_gbps_1slot": raw_bytes / wall1 / 1e9,
        "scaling.write_gbps": raw_bytes / wall4 / 1e9,
        "scaling.kernels_1slot_gbps": raw_bytes / b1["kernels"] / 1e9 if b1["kernels"] else 0.0,
    }
    for layer in LAYERS:
        m[f"scaling.{layer}.busy_ratio"] = b4[layer] / b1[layer] if b1[layer] else 0.0
        gap = (b4[layer] - b1[layer]) if layer == "kernels" else b4[layer]
        m[f"scaling.gap.{layer}_s"] = gap / slots
    m["scaling.untraced.busy_ratio"] = u4 / u1 if u1 else 0.0
    m["scaling.gap.untraced_s"] = u4 / slots
    return m
