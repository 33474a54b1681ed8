"""The traced benchmark (``perfbench/run.py --trace 1``) wraps package
functions by name and fails to install when one is missing: every target
it names must stay a module attribute."""

from __future__ import annotations

import importlib

from perfbench.tracing import PKG, targets


def test_every_trace_target_resolves():
    missing = [
        f"{mod}.{attr}"
        for mod, attr, _span in targets()
        if not hasattr(importlib.import_module(f"{PKG}.{mod}"), attr)
    ]
    assert not missing, f"perfbench trace targets missing from the package: {missing}"
