"""Spark's Python worker daemon with two per-task costs taken out.

``get_spark`` names this module as ``spark.python.daemon.module`` in
local mode; ``session.py`` has the measurements. Before it runs
PySpark's own ``pyspark.daemon.manager()`` it

- makes ``zipimport.zipimporter.invalidate_caches`` re-read an archive
  only when the archive changed on disk. Every task's
  ``importlib.invalidate_caches()`` otherwise re-reads the directory of
  pyspark.zip once per zip-imported pyspark package on CPython 3.11
  and 3.12;
- freezes the heap the daemon imported, so the ``gc.collect()`` after
  each task in a forked worker does not walk it again.

Importing this module changes nothing.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads ``self.archive``
    only when its inode, size or mtime differs from the last read. A
    failed ``stat`` falls through to the stock re-read, every time."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is None or getattr(self, "_archive_key", None) != key:
        _stock_invalidate(self)
        self._archive_key = key


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # imports the worker module too

    importlib.invalidate_caches()  # one read per importer, before fork
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    # Run as ``python -m``, this file is ``__main__``; run the package's
    # copy so the installed method names this module.
    importlib.import_module(__spec__.name).main()
