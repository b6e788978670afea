"""pyspark's worker daemon, with zip archives re-read only when they change.

pyspark's worker calls `importlib.invalidate_caches()` once per task
(`worker_util.setup_spark_files`). Before Python 3.13 every
`zipimport.zipimporter` then re-reads its archive's whole directory, and
a worker holds over a dozen of them on `pyspark.zip` and two on the
spark-core jar: 130-250 ms of every Python task on a 4-CPU host. Here
`zipimporter.invalidate_caches` re-reads an archive only when its
(st_size, st_mtime_ns) differs from the last read; directories are
still invalidated, and an archive that is rewritten is still re-read.
Python 3.13 reads archives lazily, so there nothing is patched.

Spark starts this module as `python -m sanef_worker_daemon <worker
module>` when `spark.python.daemon.module` names it, the same extension
point as Spark's own coverage daemon. `session.get_spark` sets that for
local masters and puts this file's directory on the workers' PYTHONPATH;
the directory holds only this file, so the workers still get the
package itself only from the zip the driver ships.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_size, st_mtime_ns) at the last read, its directory)
_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read `self.archive` unless it is unchanged since the last read;
    an unchanged archive's importers all share that read's directory."""
    stamp = _stamp(self.archive)
    last = _read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _reread(self)
    _read[self.archive] = (stamp, self._files)


def remember_loaded() -> None:
    """Record the archives the existing importers have read, so they are
    not read again until they change."""
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter) and importer.archive not in _read:
            files = zipimport._zip_directory_cache.get(importer.archive)
            stamp = _stamp(importer.archive)
            if files is not None and stamp is not None:
                _read[importer.archive] = (stamp, files)


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    remember_loaded()
    daemon.manager()
