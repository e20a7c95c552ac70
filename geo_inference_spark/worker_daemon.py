"""Python worker daemon of this engine's sessions: ``pyspark.daemon``
after one import-system patch.

The pyspark worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``). Below Python 3.13 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory, so a worker importing pyspark from ``pyspark.zip``
re-reads its ~1,600 entries once per importer: ~200 ms of each task's
``pythonInitTime`` on a 4 vCPU host, ~15 ms with this patch.
The patch re-reads an archive only when its ``os.stat`` changed since
the last read; ``--py-files`` zips that are rewritten still reload.
The daemon seeds the stamps once, so its forked workers inherit them.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its (size, mtime_ns, inode) differs from the last read (an
    in-place rewrite keeping all three goes unseen); if the stat fails,
    fall back to the stock method. No-op on Python >= 3.13, whose
    zipimporter re-reads lazily."""
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_size, st.st_mtime_ns, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files  # another importer of the archive may have re-read it
            return
        # stamp before the read: a rewrite during the read re-reads next time
        stock(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    patch_zipimport()
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
