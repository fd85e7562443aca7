"""PySpark worker daemon that loads the extraction stack once.

``pipeline.session_conf`` names this module as Spark's Python daemon.
Spark starts it once per executor, and it forks every Python worker.
PySpark's own daemon imports only ``pyspark``, so each worker it forks
imports pandas, pyarrow and this package again, at about 0.5 s of CPU
and a private heap per worker. Here they are imported before the first
fork, and ``gc.freeze`` moves them out of the cyclic collector's
generations: the workers inherit them copy-on-write, and no worker
collection (PySpark runs a full one after every task) walks, and so
copies, the inherited pages. Importing this module starts no daemon
and patches nothing.

pandas stays although no package map uses it: pyarrow 16.1's
``pa.array`` imports it on first call, even for numpy input, so every
Arrow worker loads it. Unpreloaded (4-core VM), 2-job ``ocr_mixed``
worker peak RSS rose from 197-199 to 210-215 MB.

Every task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` then re-reads its archive's central directory: about
26.7k entries a task for ``pyspark.zip`` (12 importers) and the
``spark-core`` jar (twice on the workers' path), some 0.2 s of CPU
before the task's function is called. :func:`_reread_changed_zips_only`
keeps the meaning of the invalidation, a rewritten archive is read
again, at the cost of one ``stat`` per importer and task.
"""

import gc
import os
import sys
import zipimport

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.daemon

from . import extract, pipeline  # noqa: F401
from .operators import pdf  # noqa: F401


def _stamp(path: str):
    """(st_mtime_ns, st_size) of ``path``; None when it cannot be read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reread_changed_zips_only() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (mtime, size) stamp differs from the one of its last read in
    this process, and stamp the archives of the importers in
    ``sys.path_importer_cache`` without re-reading them: they were read
    when their importers were made, in this process.

    One read serves every importer of an archive: each takes the
    archive's directory from ``zipimport``'s shared cache, as a new
    importer does. The stamp is taken before the read, so an archive
    rewritten during a read is read again next time. An archive that
    cannot be stat'ed is always re-read, which empties its importers
    as before."""
    reread = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    read_at = {finder.archive: _stamp(finder.archive)
               for finder in sys.path_importer_cache.values()
               if isinstance(finder, zipimport.zipimporter)}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or read_at.get(self.archive) != stamp:
            reread(self)
            read_at[self.archive] = stamp
        self._files = cache.get(self.archive, {})

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # before the fork, but without re-reading any archive here: a
    # variant that re-read them raised near_dups worker peak RSS from
    # 127.5 to 135.8 MB (4-core VM, 3 runs)
    _reread_changed_zips_only()
    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()
