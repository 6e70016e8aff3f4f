"""Python worker daemon: ``pyspark.daemon`` minus the per-task zip re-reads.

``get_spark`` points ``spark.python.daemon.module`` here. Every Python task,
even on a reused worker, runs ``importlib.invalidate_caches()`` (in
``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory at once: the workers' ``sys.path`` holds ``pyspark.zip``
and the Spark core jar, so a task re-read them 14 times, 0.15-0.26 s of
CPU on a 4-vCPU VM before the UDF ran. Here, before the daemon forks its
workers, the re-read is skipped while the archive's ``(st_mtime_ns,
st_size)`` still equals the stamp taken just before its last read; a
rewritten archive, or one first seen after a new ``addPyFile``, is read as
before. CPython 3.13 reads lazily, so there the stock daemon runs unpatched.

Reading the saving: on a reused worker PySpark stamps the task's boot time
when the *previous* task ends, so the ``pythonInitTime`` SQL metric mostly
counts idle time between tasks (36.6 s summed over the 6 tasks of a 1.16 s
``multimodal_png``). The saving shows in ``pythonTotalTime`` instead.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives."""
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    last_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}

    def _read_directory(archive):
        stamp = _stamp(archive)  # taken first: a write during the read re-reads
        files = read_directory(archive)
        last_read[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        stamp, files = last_read.get(self.archive, (None, None))
        if stamp is None or stamp != _stamp(self.archive):
            return invalidate(self)
        self._files = zipimport._zip_directory_cache[self.archive] = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        skip_unchanged_zip_rereads()
    from pyspark import daemon

    daemon.manager()
