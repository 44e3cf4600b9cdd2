"""Worker-side fix for PySpark's per-task zip-directory re-read.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
On CPython that reaches ``zipimport.zipimporter.invalidate_caches`` for
every zipimporter in ``sys.path_importer_cache``, and each one re-reads
its archive's whole central directory. A worker that imports pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) holds one
zipimporter per imported sub-package path — 16 in a query worker — so
each task parses the same unchanged directory 16 times: ~0.2 s of a
~0.25 s floor that every Python stage task pays, whatever its function
does.

:func:`install` replaces that method, in PySpark worker processes only,
with one that re-reads an archive only when its ``(st_mtime_ns,
st_size, st_ino)`` differs from the last read; otherwise the importer
takes the cached directory. An archive rewritten or replaced in place
is still re-read, so the ``invalidate_caches`` contract holds.

The package ``__init__`` calls :func:`install`, so it takes effect in
any worker that unpickles a function referring to a konlspark global —
every konlspark Python stage does — from that worker's next task on.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat signature at its last directory read
_read_sig: dict = {}


def _stat_sig(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    sig = _stat_sig(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and cached is not None \
            and _read_sig.get(self.archive) == sig:
        self._files = cached
        return
    # stat before the read: a rewrite racing the read changes the
    # signature, so the next call reads again
    _stock_invalidate(self)
    _read_sig[self.archive] = sig


def install() -> bool:
    """Install :func:`_invalidate_caches` if this process is a PySpark
    worker (the worker factory sets ``PYTHON_WORKER_FACTORY_SECRET``);
    the driver and plain imports are left untouched. Returns whether
    it is installed."""
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
