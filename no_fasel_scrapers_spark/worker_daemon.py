"""The Python daemon the engine's local sessions fork their workers from.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), so that files added with
``addPyFile`` become importable.  On CPython 3.11 that makes every
``zipimporter`` re-parse its archive's central directory: each of the
~16 importers that point into Spark's 1,328-entry ``pyspark.zip`` reads
the whole directory again, about 0.2 CPU-s per task, although the archive
never changes.  This module is Spark's stock daemon with one change:
an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the read the importer holds, or
when ``os.stat`` fails.  A new or rewritten archive is still re-read, and
its new members are importable after the next invalidation.

``session.get_spark`` selects this module through
``spark.python.daemon.module`` for ``local`` masters.  The daemon's port
handshake goes over stdout, so nothing here writes to it.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Makes ``zipimporter.invalidate_caches`` re-read only changed
    archives, for this process and the workers it forks.

    Each importer keeps its own directory (``_files``).  The wrapper
    records, per archive, the stamp taken just before its latest
    directory read and the directory that read returned.  An importer is
    current when the archive's stamp still equals that read's stamp; it
    then takes that directory, which it may not hold yet: after a
    rewrite, the first importer re-reads and the others of the same
    archive adopt the new directory instead of each parsing it again.
    The stamp is taken before the read, so a rewrite racing the read
    leaves a stamp that no longer matches, and the next call re-reads."""
    stock_read = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    reads: dict[str, tuple[tuple[int, int], dict]] = {}

    def read_directory(archive):
        stamp = _stamp(archive)
        files = stock_read(archive)
        if stamp is not None:
            reads[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        read = reads.get(self.archive)
        if stamp is None or read is None or read[0] != stamp:
            stock_invalidate(self)  # re-reads through read_directory
        else:
            self._files = read[1]
            zipimport._zip_directory_cache[self.archive] = read[1]

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    # the archives on sys.path were read before install(): read them once
    # here, so every forked worker starts with their stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
