"""Spark's Python daemon, with zip directories re-read only on change.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython before 3.13 that makes every ``zipimporter`` re-read its
archive's central directory: the workers import pyspark from
``pyspark.zip`` (13 importers, 1,328 entries) and also carry the Spark
core jar (5,359 entries) on their path, about 0.2 s per task before any
user code runs. Run as the daemon (``session.get_spark`` sets
``spark.python.daemon.module`` to this module), it keeps a directory
already read while the archive's ``os.stat`` is unchanged, re-reads it as
before when the archive is rewritten or replaced, and then hands over to
``pyspark.daemon.manager()``. Workers are forked from the daemon and
inherit the patch. Importing this module changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def keep_unchanged_zip_directories() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process: re-read an
    archive's directory only when its stat differs from the one taken
    just before this process last read it (or it was never read here)."""
    original = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple | None] = {}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            # another importer of the same archive may have re-read it
            self._files = files
            return
        read_at[self.archive] = key
        original(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # from 3.13 on, invalidate_caches no longer re-reads eagerly
    if sys.version_info < (3, 13):
        keep_unchanged_zip_directories()
    from pyspark.daemon import manager

    manager()
