"""PySpark worker daemon that re-reads a zip archive only when it changed.

Set as ``spark.python.daemon.module`` by ``session.get_spark`` on
``local[...]`` masters (see ``session.python_worker_conf``). Every Python
task starts with ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``). On CPython 3.11 that makes each
``zipimporter`` re-read its archive's whole central directory. A worker
holds about 16 of them over ``pyspark.zip`` (one per imported subpackage),
and each read parses all 1,328 entries: 150-200 ms per task before any UDF
code runs.

The guard below wraps ``zipimporter.invalidate_caches``: an archive whose
``(st_mtime_ns, st_size, st_ino)`` is the one recorded at its last read in
this process is not read again; the importer only picks up the directory
another importer of the same archive may have re-read since. A zip that is
added or rewritten still gets read. The patch is made in the daemon before
it forks, so every worker inherits it, then the stock
``pyspark.daemon.manager()`` runs.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: archive path -> (st_mtime_ns, st_size, st_ino) at its last read here
_read_at: dict[str, tuple[int, int, int] | None] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _guarded_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory read while
    the archive is unchanged since its last read in this process."""
    key = _archive_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and key == _read_at.get(self.archive) and files is not None:
        self._files = files  # another importer of this archive may have re-read it
        return
    _stock_invalidate(self)
    _read_at[self.archive] = key


_guarded_invalidate.zip_stat_guard = True


def zip_guard_installed() -> bool:
    """Whether this process's zipimporters run the guard."""
    return getattr(zipimport.zipimporter.invalidate_caches, "zip_stat_guard", False)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate
    import pyspark.daemon

    # one read per archive now, so no forked worker pays for the first one
    importlib.invalidate_caches()
    pyspark.daemon.manager()
