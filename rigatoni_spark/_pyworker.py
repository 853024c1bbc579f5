"""Python worker daemon for engine sessions.

``get_spark`` points ``spark.python.daemon.module`` here. The module runs
``pyspark.daemon.manager()`` unchanged; the only difference is one patch
installed first, which every forked worker inherits.

pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at
the start of every Python task. Before CPython 3.13 (gh-103200),
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory on each call, for every zip-backed ``sys.path`` and
package-path entry: ``pyspark.zip``, the py4j zip and the spark-core jar,
0.15-0.23 s of CPU per task (PySpark 4.1.2, CPython 3.11, 4-core x86 VM).
The patch skips that re-read while the archive's
``(st_mtime_ns, st_size)`` still matches the stamp taken when it was last
read, the same staleness rule ``FileFinder`` applies to directories, so
an archive rewritten in place is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def install() -> bool:
    """Install the stamp check in this process; False (and no change) on
    CPython >= 3.13."""
    if sys.version_info >= (3, 13):
        return False
    # archive path -> (st_mtime_ns, st_size) when its directory was last read
    stamps: dict[str, tuple[int, int]] = {}
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def stamped_read_directory(archive):
        # stat before reading: a rewrite during the read leaves a stamp
        # that is already stale, so the next check re-reads
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        cached = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if (
            cached is not None
            and stamp is not None
            and stamp == stamps.get(self.archive)
        ):
            self._files = cached
            return
        invalidate(self)

    zipimport._read_directory = stamped_read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # archives read before the patch (the interpreter's own imports) have
    # no stamp; read each once now so the first task does not
    for archive in list(zipimport._zip_directory_cache):
        try:
            zipimport._zip_directory_cache[archive] = stamped_read_directory(archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(archive, None)
    return True


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
