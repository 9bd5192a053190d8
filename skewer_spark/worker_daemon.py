"""PySpark worker daemon that stops each task from re-parsing zip archives.

``get_spark`` names this module in ``spark.python.daemon.module``, so
Spark starts it with ``python -m skewer_spark.worker_daemon`` in place
of ``pyspark.daemon``. The driver never imports it.

Why: PySpark calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py``, after the task's includes are added to
``sys.path``). On CPython 3.11 ``zipimporter.invalidate_caches`` re-reads
the whole central directory of its archive in pure Python
(``zipimport._read_directory``), and a worker holds about 16 such
importers: most over ``pyspark.zip`` (about 1.3k entries), two over the
``spark-core`` jar (about 5.4k entries) and one over the py4j zip. That
is about 224 ms of CPU per task before the task reads a row; with the
guard below the call takes about 0.09 ms (4-vCPU x86 VM, Python 3.11.7,
Spark 4.1.2).

The guard keeps invalidation's meaning: an archive is re-read when its
``(st_mtime_ns, st_size)`` differs from the stamp taken at its last
read, so a rewritten zip is still picked up. The stamp is kept per
archive, so the importers that share one archive share one read. Making
the method a no-op would instead leave a worker importing from a stale
directory after a ``--py-files`` zip is replaced.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_ORIGINAL_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp at the last read, directory read under it);
# process-wide, like zipimport's own _zip_directory_cache it guards
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stat stamp moved since the last read."""
    stamp = _stamp(self.archive)
    seen = _read_at.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    # stamp taken BEFORE the read: a write racing the read leaves a
    # stale stamp, so the next call reads again rather than too little
    _ORIGINAL_INVALIDATE(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = (stamp, self._files)
    else:
        _read_at.pop(self.archive, None)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # stamp every importer once, before the daemon forks its workers
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
