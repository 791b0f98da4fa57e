"""Python worker daemon for pond_spark sessions (``get_spark`` sets
``spark.python.daemon.module`` to this module).

Before every task a pyspark worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). Up to CPython 3.12 that makes every
cached ``zipimporter`` re-read its archive's central directory, and a
reused worker holds about 16 of them over pyspark.zip and the py4j zip:
about 250 ms of CPU per task before the task's function runs. CPython
3.13 made the call lazy. On older versions :func:`install` re-reads an
archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs from
the stat taken when it was last read, or when the stat fails; a zip
that changes on disk is still re-read. Workers forked from the daemon
inherit the patch.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process and the
    workers it forks; a no-op from CPython 3.13."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    read: dict = {}  # archive -> (stat key, directory) of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        seen = read.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        read[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    # alter_sys keeps sys.argv[1], the worker module Spark passes
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
