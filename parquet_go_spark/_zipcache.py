"""Keep an unchanged zip archive's directory across ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.12 that makes every ``zipimporter`` re-parse
its archive's whole central directory, and a worker importing pyspark
from ``pyspark.zip`` holds one importer per package inside it: ~16 full
parses, ~0.2 s, per task. Here an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the last read; a changed,
new or missing archive goes through the stock method. Python 3.12 made
the re-read lazy itself (gh-103200), so ``install`` does nothing there.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stat stamp of its last read


def install() -> None:
    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            _stamps.pop(self.archive, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
