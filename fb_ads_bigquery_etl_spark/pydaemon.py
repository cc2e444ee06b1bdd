"""Python-worker daemon of the engine's sessions (`spark.python.daemon.module`).

Every Python-worker task calls `importlib.invalidate_caches()` so that
archives `addPyFile` drops into the Spark files dir become importable.
On Python 3.11 that makes each cached `zipimporter` re-read its whole
archive directory, and a worker holds one per package it imported from
`pyspark.zip` and the spark-core jar: 0.1-0.3 s of every task. Under
this daemon a zipimporter re-reads its archive only when the archive's
(mtime, size) differs from what the last read of it saw; a new archive
still gets a new importer, which reads it when created. Then pyspark's
own daemon runs, taking the worker module from argv[1] as usual.

Imports nothing heavy: executors start it with `python -m`, so it must
be importable wherever workers run, like the UDF helpers and source
classes pickled by reference."""

import os
import zipimport

_read_directory = zipimport._read_directory
_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> (mtime_ns, size) at its last directory read: the twin of
# zipimport's process-wide `_zip_directory_cache`
_stamps: dict = {}


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def read_directory(archive):
    stamp = _stamp(archive)  # taken first: a write during the read shows next time
    files = _read_directory(archive)
    _stamps[archive] = stamp
    return files


def invalidate_caches(self):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # the archive's last read is still current
    else:  # re-read; a missing archive goes as the stdlib has it
        _invalidate_caches(self)


if __name__ == "__main__":
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    pyspark.daemon.manager()
