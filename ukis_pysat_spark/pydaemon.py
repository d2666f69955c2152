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
    from pyspark import daemon

    daemon.manager()
