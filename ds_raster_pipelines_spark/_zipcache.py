"""Stat-keyed ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and on 3.11/3.12 each zip importer then re-reads its archive's whole
central directory: ~0.2 s per task across the pyspark, py4j and spark-core
archives on a worker's path. Here an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` changed since it was last read, so a zip
rewritten in place is still picked up. 3.13 made the call lazy itself.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _reread = zipimport.zipimporter.invalidate_caches
    _seen: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        hit = _seen.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        _reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _seen[self.archive] = (key, self._files)
        else:
            _seen.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
