"""Start-up hook for the test session's Python workers.

``conftest.spark`` puts this directory on the workers' PYTHONPATH, so
the PySpark daemon imports this module when it starts and every worker
it forks inherits the patch below.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.12, each ``zipimporter`` re-reads its
archive's central directory there, at once. A worker holds one
zipimporter per package directory it imported from ``pyspark.zip``
(16 for a pandas UDF), so every task re-parses the 1,300-entry
directory 16 times: about 0.2 s of CPU, which on the suite's tiny
frames is most of what a pandas-UDF task costs. Python 3.12 re-reads
lazily instead. Here the directory is re-read only when the archive's
size or mtime changed, so an import still sees a rewritten archive.
"""

import os
import sys

if sys.version_info < (3, 12):
    import zipimport

    _read_directory = zipimport.zipimporter.invalidate_caches
    _stamps = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (
            stamp is not None
            and files is not None
            and _stamps.get(self.archive) == stamp
        ):
            self._files = files
            return
        _read_directory(self)
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
