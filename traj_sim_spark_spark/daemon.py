"""Python worker daemon: PySpark's daemon with archive-stamped zip importers.

``session.get_session`` sets ``spark.python.daemon.module`` to this module,
so Spark starts every Python worker pool with ``python -m
traj_sim_spark_spark.daemon``. It installs one patch and then runs
``pyspark.daemon.manager()`` unchanged; the forked workers inherit the
patch. (``spark.python.worker.module`` cannot carry it: the daemon only
honours worker modules whose names start with ``pyspark``.)

Why: before every task PySpark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``). On
Python 3.11 that makes each cached ``zipimport.zipimporter`` re-read the
whole central directory of its archive. A worker holds 16: 12 over the
1,328-entry ``pyspark.zip``, 2 over the py4j zip and 2 over the
5,359-entry ``spark-core`` jar, all on the workers' ``PYTHONPATH``. That
took 0.2-0.5 s per task with four tasks running at once.

The patch: ``zipimporter.invalidate_caches`` records the archive's
``(st_mtime_ns, st_size)`` and re-reads the directory, through the stdlib
method, only when that stamp changed or the ``stat`` fails. This is the
validity test CPython's ``FileFinder`` applies to a directory (its
mtime). An unchanged archive has an unchanged directory; a rewritten
archive is re-read as before. Archives shipped with ``addPyFile`` are new
``sys.path`` entries with new importers, so they are read when first
used.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive directory only when the archive changed."""
    # stat before reading: a rewrite between the two leaves an old stamp
    # beside the new directory, which costs one more read, never a stale one
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _stdlib_invalidate(self)
    self._archive_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the patch names this package's module
    # rather than ``__main__``
    from traj_sim_spark_spark.daemon import main as _main

    _main()
