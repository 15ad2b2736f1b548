"""Stat-guarded ``zipimport.zipimporter.invalidate_caches``.

A reused pyspark worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimporter`` re-read the whole central directory of its archive;
a pandas-UDF worker holds 16 importers, 12 of them one per package
directory of ``pyspark.zip`` (1,328 entries), so without this guard every
Python task pays ≈0.2 s of CPU re-parsing archives that have not changed.

The guard stamps an importer with ``(st_mtime_ns, st_size)`` of its archive
when it reads the directory and re-reads only when the stamp differs. When
the archive cannot be stat'ed, or it changed, the original method runs, so
``invalidate_caches`` keeps its meaning. Only ``os`` and ``zipimport`` are
imported: this module runs at package import, in every worker.
"""

import os
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def install():
    """Wrap ``zipimporter.invalidate_caches`` once per process (idempotent)."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # taken before the read: a change during it re-reads next time
        if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
            return
        original(self)
        self._archive_stamp = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
