"""PySpark daemon for local sessions: Spark's own daemon, minus the
per-task re-read of every zip archive on the workers' path.

Every Python task (an RDD ``map``, an Arrow/pandas UDF, an ``rdd``
subtask of a :class:`~ayeaye_spark.core.model.PartitionedModel`) starts
in ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()`` so that files shipped with
``SparkContext.addPyFile`` become importable.  That call reaches one
``zipimport.zipimporter`` per package directory imported from
``pyspark.zip`` (16 in a worker that has run an Arrow UDF), and on
CPython 3.11 each of them eagerly re-reads the archive's central
directory (1,328 entries).  The worker pays that on every task, before
it touches a row: on a 4-core VM a warm one-element ``rdd.map`` takes a
median of 0.29 s under Spark's daemon and 0.11 s under this one
(``scripts/python_task_latency.py``).

This module changes one thing in the forked workers:
:func:`gated_invalidate_caches` re-reads an archive's directory only when
the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp
taken before its last read; otherwise it reuses the shared
``zipimport._zip_directory_cache`` entry.  A rewritten archive is still
re-read (a module added to it becomes importable) and a deleted one
still reads as empty, so ``addPyFile`` keeps working.  Everything else
is ``pyspark.daemon.manager()``.

Spark starts it as ``python -m ayeaye_spark.core.pyworker <worker
module>`` when ``spark.python.daemon.module`` names it, which
:func:`ayeaye_spark.core.session.get_spark` does for ``local[...]``
masters.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread_directory = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size, st_ino) stat'ed just before the
#: archive's directory was last (re-)read; process-wide, like the
#: ``zipimport._zip_directory_cache`` it guards
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def gated_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is unchanged on disk."""
    archive = self.archive
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _stamps.get(archive) == stamp:
        if hasattr(self, "_files"):  # CPython <= 3.11 keeps a per-importer copy
            self._files = cached
        return
    _reread_directory(self)
    if stamp is None:
        _stamps.pop(archive, None)
    else:
        _stamps[archive] = stamp


def main() -> None:
    # patched before the fork, so every worker inherits it
    zipimport.zipimporter.invalidate_caches = gated_invalidate_caches
    # imports pyspark.worker (and the zipimporters it needs) in the daemon
    from pyspark import daemon

    # stamp every archive once here, so forked workers start with no re-read
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
