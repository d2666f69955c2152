"""PySpark worker daemon that does not re-parse unchanged zip archives.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that archives added with
``SparkContext.addPyFile`` become importable.  On CPython < 3.12 that
makes every cached ``zipimport.zipimporter`` re-read its whole archive
directory in pure Python.  A worker holds about sixteen of them
(``pyspark.zip`` and its sub-package importers, the py4j zip, the
spark-core jar Spark puts on the worker path), about 28k entries, so
each task paid ~0.22 CPU-s (4-vCPU Xeon VM) before its first row, even
with no rows.

``get_spark`` names this module in ``spark.python.daemon.module``.  It
replaces ``zipimporter.invalidate_caches`` with a version that re-reads
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs
from the signature recorded at that importer's last read, then runs the
stock ``pyspark.daemon`` manager; forked workers inherit the wrapper.
A rewritten archive is still re-read, and a new ``addPyFile`` archive
still gets a new importer, so imports see exactly what they saw before.

Before the manager forks any worker, the daemon also loads what a
worker needs for an Arrow task: importing ``pyspark.daemon`` loads the
worker module, and the daemon adds ``numpy``, ``pandas`` and
``pyarrow`` (PySpark's Arrow eval path checks the pandas version, so a
worker imports pandas though no engine code uses it); then it runs
``gc.collect()`` and ``gc.freeze()``.  A reused worker runs a full
``gc.collect()`` after every task; without the freeze each one walked
the ~73k objects of that stack.  Forked workers inherit the stack in the
collector's permanent generation, so the collection walks only what the
worker created since (under 1k objects after tiling and zonal tasks):
an identity ``mapInArrow`` over 32 tasks fell from 16.4 to 1.3 ms of
Python CPU per task, and the Python workers' CPU in a tile_io benchmark
pass from 2.3-2.4 to 0.9-1.0 s (4-vCPU VM, passes 2-4 of one session).
The engine's own modules are not preloaded: workers import them from
their PYTHONPATH and ``addPyFile`` archives as before.  OpenBLAS starts
its threads at ``import numpy``, before the fork; its own fork handlers
leave BLAS working in the workers.

Run with ``python -m ukis_pysat_spark.pydaemon`` (Spark does this).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_SIG_ATTR = "_upss_stat_sig"
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stat_sig(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stat signature changed since this importer's last read.
    The signature is taken BEFORE the read, so a write racing the read
    leaves a stale signature and forces another read later; an archive
    that cannot be stat'ed goes to the stock method every time."""
    sig = _stat_sig(self.archive)
    if sig is not None and getattr(self, _SIG_ATTR, None) == sig:
        return
    _stock_invalidate(self)
    setattr(self, _SIG_ATTR, sig)


def install() -> bool:
    """Put ``invalidate_if_changed`` on ``zipimporter`` and read every
    cached archive once to record its signature.  From CPython 3.12
    ``invalidate_caches`` only drops the cached directory (the next
    lookup in that archive reads it), so there this changes nothing and
    returns False."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()
    return True


def installed() -> bool:
    """True when this process's zipimporters skip unchanged archives."""
    return zipimport.zipimporter.invalidate_caches is invalidate_if_changed


if __name__ == "__main__":
    # install from the importable module, not from __main__, so that
    # code in the workers can ask pydaemon.installed()
    from ukis_pysat_spark import pydaemon

    pydaemon.install()
    import gc

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon  # imports pyspark.worker

    gc.collect()
    gc.freeze()
    daemon.manager()
