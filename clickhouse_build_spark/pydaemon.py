"""Python worker daemon with preloaded heavy modules.

PySpark forks every Python worker from a per-executor daemon process
(``pyspark.daemon``). The stock daemon imports almost nothing, so each
forked worker pays the full ``import pandas`` + ``import numpy`` cost
(~2-3 s of CPU each) the first time it runs an Arrow kernel — and with
32 cores forking at once, the first ``mapInPandas`` stage of a session
burns ~100 s of CPU (measured: 3.4 s/task x 32 tasks) before any real
work. Worse, idle workers are reaped between sparse Python stages, so
a long mixed workload (the bench's 105 queries, mostly JVM-only) pays
the import storm again at every Python-stage cluster.

Importing the heavy modules HERE — in the daemon, before it starts
forking — makes every worker inherit them already-initialized via
copy-on-write fork memory: the import cost is paid once per executor,
not once per worker per reap cycle.

Per-task cost: PySpark's worker calls ``importlib.invalidate_caches()``
before EVERY task (``setup_spark_files`` in ``pyspark/worker_util.py``).
In Python 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-parse its archive's whole central
directory: pyspark.zip once per cached importer (one per package
imported from it), plus the spark-core jar that sits on the worker path
(5,359 entries, no ``.py`` file in it) — about 26.7k directory entries
per task. :func:`install_zip_stat_hook` makes that re-read conditional
on the archive having changed (its stat stamp: mtime, size, inode), and
the daemon seeds the stamps before it forks, so a task pays a few
``stat`` calls instead. On a 4-vCPU host a no-op ``mapInPandas`` task
took 0.20-0.21 s of worker CPU without the hook, 0.07-0.08 s with it.

Wired up via ``spark.python.daemon.module`` (session.py). The daemon
protocol itself is unchanged — this module delegates straight to
``pyspark.daemon.manager``.
"""

import importlib
import os
import zipimport

# Preload before the fork server starts: workers inherit these via COW.
import hashlib  # noqa: F401
import zlib  # noqa: F401

import numpy  # noqa: F401
import pandas  # noqa: F401

try:  # Arrow serialization path used by every pandas-UDF exchange
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
except ImportError:  # pragma: no cover - pyarrow ships with this repo
    pass

from pyspark.daemon import manager


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_zip_stat_hook() -> None:
    """Re-read a zip archive's directory on ``invalidate_caches()`` only
    when the archive's stat stamp changed since this importer last read
    it. A missing archive always takes the stock path."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and getattr(self, "_dir_stamp", None) == stamp:
            return
        reread(self)
        self._dir_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install_zip_stat_hook()
    importlib.invalidate_caches()  # seed every importer's stamp pre-fork
    manager()
