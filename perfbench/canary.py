"""Clean-window gate: a fixed single-thread DEFLATE workload whose time
tracks co-tenant contention (steal, memory bandwidth, frequency) on a
shared host. A run starts only once the canary runs at clean speed."""

from __future__ import annotations

import time
import zlib

_BUF = (b"the quick brown fox jumps over the lazy dog " * 4096)[: 1 << 18]


def probe_ms() -> float:
    """Milliseconds for one DEFLATE-6 pass over 256 KiB of text."""
    t0 = time.perf_counter()
    zlib.compress(_BUF, 6)
    return (time.perf_counter() - t0) * 1000


def wait_clean(threshold_ms: float, max_wait_s: float, poll_s: float = 2.0) -> float:
    """Block (bounded) until the canary reads below ``threshold_ms``;
    returns the last reading."""
    deadline = time.monotonic() + max_wait_s
    p = probe_ms()
    while p >= threshold_ms and time.monotonic() < deadline:
        time.sleep(poll_s)
        p = probe_ms()
    return p
