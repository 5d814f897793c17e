"""PySpark worker daemon that stops each task from re-reading zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.12 (gh-103200), ``zipimport.zipimporter.invalidate_caches`` eagerly
re-reads its archive's whole central directory. A reused worker holds
about 16 zip importers on ``pyspark.zip``, the py4j zip and the
spark-core jar, so every Python task re-parsed about 27k zip entries
before its UDF ran: 0.55-0.61 s of a 0.74-0.81 s task, measured with
cProfile on warm workers.

On Python < 3.12 this daemon replaces that method with one that re-reads
an archive only when its ``(st_mtime_ns, st_size)`` differs from the one
seen at its last read. A changed archive is still re-read, and new Spark
files and pyFiles are new paths with new importers. Before forking any
worker it re-reads each archive already open once, to record its stamp,
so no forked worker re-reads on its first task either. Then it runs
``pyspark.daemon.manager()`` unchanged. On Python >= 3.12 it only runs
``manager()``.

``get_spark`` sets ``spark.python.daemon.module`` to this module. Python
workers must therefore be able to import ``crawlspark`` (the repo root on
``PYTHONPATH`` or the working directory), which the crawl's own UDFs,
pickled by reference to ``crawlspark.*``, already require. Otherwise the
daemon does not start and every Python UDF fails with ``No module named
'crawlspark'``; ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}`` restores the stock daemon. The module imports only
the stdlib and ``pyspark.daemon``: nothing that may start a thread
before the daemon forks.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read;
# keyed like zipimport._zip_directory_cache, so a worker's many importers
# on one archive (one per package directory) share one stamp
_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the file changed."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a change during it shows up next call
    _stamps[self.archive] = stamp
    _reread(self)


def main() -> None:
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        importlib.invalidate_caches()  # stamp every open archive pre-fork
    manager()


if __name__ == "__main__":
    # Run the importable copy, so the patched method reports this
    # module's name rather than ``__main__``.
    from crawlspark._pydaemon import main as _main

    _main()
