"""PySpark worker daemon for the sessions ``get_spark`` launches on a local
master: ``pyspark.daemon`` with zip-archive invalidation made cheap.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task.
CPython's ``zipimport.zipimporter.invalidate_caches`` answers by re-reading
the whole central directory of its archive, and a worker holds about 16
such importers (``pyspark.zip`` once per imported sub-package, the
spark-core jar twice): 150-300 ms of fixed cost per task before a kernel
runs, measured with Spark 4.1 and CPython 3.11 on a 4-core host. This module replaces that method with one that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` has changed since the last read,
then runs the stock ``pyspark.daemon.manager()``. The workers it forks
inherit the wrapper and the warm directory cache, so a rewritten archive is
still re-indexed on the next task, and an unchanged one costs one ``stat``.

Used through ``spark.python.daemon.module``; see ``diive_spark.session``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reindex = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size) before its last read, directory)
_indexed: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.

    The stamp is taken before the read, so an archive rewritten during the
    read carries a stale stamp and is read again next time."""
    stamp = _stamp(self.archive)
    seen = _indexed.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reindex(self)
    if stamp is None:
        _indexed.pop(self.archive, None)
    else:
        _indexed[self.archive] = (stamp, self._files)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # index every archive once here, not once per forked worker
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run under the importable name, so a worker's wrapper reports this module
    from diive_spark._pydaemon import main as _main

    _main()
