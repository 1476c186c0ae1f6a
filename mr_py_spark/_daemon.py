"""Pre-fork PySpark worker daemon (``spark.python.daemon.module`` of the
sessions ``session.get_spark`` builds).

PySpark's stock daemon (``pyspark.daemon``) forks every Python worker
from a process that has imported almost nothing. Each new worker then
imports numpy, pandas, pyarrow, the Arrow serializers and this package
during its first task, and until the package (with ``_zipimport``) is
imported there, every cached ``zipimporter`` re-reads its archive at
the start of a task. After every task of a reused worker the daemon's
loop also runs a full ``gc.collect()``, which walks that whole
import-time heap again.

This module pays for that once per session, before
``pyspark.daemon.manager()`` starts forking: it imports all of the
above, then moves every live object into the permanent generation
(``gc.freeze()``) so that the workers' collections skip it.

Forking is only safe from a single-threaded process. Importing pyarrow
starts jemalloc's background purge thread unless
``JE_ARROW_MALLOC_CONF`` turns it off, so that is set before the
imports. If a thread is alive all the same (an OpenBLAS pool sized
above one thread, say), or the thread count cannot be read, the process
replaces itself with the stock daemon, which forks before importing
anything heavy.

The JVM starts it as ``python -m mr_py_spark._daemon`` with the package
root on the workers' ``PYTHONPATH``; ``session.get_spark`` sets both.
"""

from __future__ import annotations

import gc
import os
import sys


def main() -> None:
    os.environ.setdefault("JE_ARROW_MALLOC_CONF", "background_thread:false")
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    import mr_py_spark  # noqa: F401  (installs the zip import cache)
    from pyspark import daemon

    try:
        threads = len(os.listdir("/proc/self/task"))
    except OSError:  # no /proc: the count cannot be checked
        threads = None
    if threads != 1:
        print(
            f"mr_py_spark._daemon: {threads} threads after the preload; "
            "starting the stock pyspark.daemon instead",
            file=sys.stderr,
        )
        sys.stderr.flush()
        os.execv(sys.executable, [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]])
    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
