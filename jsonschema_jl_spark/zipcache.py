"""Read a zip archive's directory once per change, not once per task.

pyspark's worker starts every task with `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`).  On Python 3.10-3.12 each
`zipimport.zipimporter` answers that by re-reading its archive's whole
central directory; a worker holds ~16 of them over the 1,328-entry
`pyspark.zip`, so every task paid 150-300 ms before its first row.
`install` makes that re-read conditional: an importer reuses the directory
last read from the archive while its `(st_mtime_ns, st_size, st_ino)` is
unchanged.  A changed, missing or unreadable archive takes the stdlib path,
so invalidation still picks up a rewritten archive.  Python 3.13 made the
stdlib method lazy, and there `install` does nothing.

The package `__init__` calls `install`, so it is active in every Python
worker that unpickles an engine UDF.  That worker's next task reads each
archive once more; later tasks read none until an archive changes.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Patch `zipimporter.invalidate_caches` once per process."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(stdlib, "__wrapped__"):
        return
    # archive -> (stat key taken before the read, directory it read)
    read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}

    @functools.wraps(stdlib)
    def invalidate_caches(self) -> None:
        # stat BEFORE reading: an archive rewritten during the read leaves
        # an old key beside the new directory, which forces one more read
        key = _stat_key(self.archive)
        seen = read_at.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        stdlib(self)
        if key is not None and self._files:
            read_at[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
