"""PySpark's worker daemon, minus the per-task re-read of zip archives.

`pyspark.worker.main` calls `importlib.invalidate_caches()` before every
task. On CPython 3.11 and 3.12 that makes every `zipimporter` re-read
its archive's whole central directory; a warm worker holds about 16
importers over `pyspark.zip` (1,328 entries), which came to ≈0.2 CPU s
per task before it read a row on a 4-core host. Here an archive is read again only when
its `(st_ino, st_size, st_mtime_ns)` differs from the last read of it;
a missing archive takes the original path. CPython 3.13 already reads
lazily; there the patch records nothing and always calls the original.

Run as `python -m cloud_native_mapreduce_spark.worker_daemon` (Spark's
`spark.python.daemon.module`, set by `session.get_spark` on local
masters); the forked workers inherit the patch.
"""

import functools
import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_original = getattr(_original, "__wrapped__", _original)  # patch once
_read = {}  # archive -> (stat key, directory) of its last read


@functools.wraps(_original)
def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _original(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    last = _read.get(self.archive)
    if last and last[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _original(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files:  # None after a failed read, and on 3.13, which reads lazily
        _read[self.archive] = key, files


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
