"""PySpark daemon entry point for the traced run.

Spark starts it as ``python -m perfbench.traced_daemon`` when the session
sets ``spark.python.daemon.module``. It installs the span wrappers once,
then hands over to pyspark's own daemon, so every forked worker inherits
the wrapped package. Spans go to ``$PERFBENCH_TRACE_DIR``.
"""

from __future__ import annotations

import os

if __name__ == "__main__":
    from perfbench.tracing import Recorder, install

    install(Recorder(out_dir=os.environ["PERFBENCH_TRACE_DIR"], worker=True))

    from pyspark.daemon import manager

    manager()
