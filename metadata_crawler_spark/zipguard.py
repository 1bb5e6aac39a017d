"""Skip the zip-directory re-read a Python-worker task pays at start-up.

Every pyspark Python-worker task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's whole
central directory, once per importer, whether or not the archive changed.
A crawl worker holds about 22 importers (pyspark.zip, the Spark core jar,
py4j and this package's shipped zip), so a task parses about 27k directory
entries before its first Arrow batch: most of a small task's fixed cost.

:func:`install` guards that method: an importer re-reads only when its
archive's ``os.stat`` stamp ``(st_mtime_ns, st_size, st_ino)`` differs from
the stamp taken before its last re-read, so a rewritten archive is still
re-read. Importing the package installs it, and every pandas UDF is pickled
by reference to the package, so a worker installs it on its first task.
CPython 3.13 made the method lazy itself (it drops the cached directory and
re-reads on the next lookup); there :func:`install` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _guard(reread):
    def invalidate_caches(self) -> None:
        """Re-read the archive's directory only if the archive changed
        since this importer last read it (or has gone)."""
        stamp = _stamp(self.archive)
        if stamp is None or getattr(self, "_dir_stamp", None) != stamp:
            reread(self)
            self._dir_stamp = stamp

    invalidate_caches.__wrapped__ = reread
    return invalidate_caches


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` (CPython < 3.13; idempotent)."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches.__module__ == __name__:
        return
    cls.invalidate_caches = _guard(cls.invalidate_caches)
