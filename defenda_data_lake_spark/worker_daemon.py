"""Python worker daemon: pyspark's own ``pyspark.daemon.manager()``, minus
two fixed per-task costs.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  Under CPython 3.11 that makes every ``zipimporter`` re-parse
its archive's central directory, and a worker holds one importer per
package imported from ``pyspark.zip`` (14-16 of them over its 1,328
entries).  The replacement below re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read, so a
rewritten or newly shipped ``addPyFile`` zip still loads as before.

The daemon also runs ``gc.collect()`` after every task of a reused
worker.  A worker's first task imports pandas and pyarrow, and that
collection then walks their objects again after every task.  Freezing
what survives the first task (``gc.freeze``) takes them out of the
collector's reach; garbage made by later tasks is still collected.

On a 4-core host a task that does no work used about 250 ms of CPU with
four workers running, 45 ms with the archive check alone (38 ms of it
the collection), and 3 ms with both.

``session.get_spark`` selects this module with
``spark.python.daemon.module``.
"""

import gc
import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def freeze_after_first_task(main):
    """Wrap pyspark's ``worker_main`` so a worker freezes the objects that
    survive its first task."""
    frozen = False

    def worker_main(infile, outfile):
        nonlocal frozen
        try:
            return main(infile, outfile)
        finally:
            if not frozen:
                frozen = True
                gc.collect()
                gc.freeze()

    return worker_main


def install() -> None:
    """Patch ``zipimporter`` and read each archive once, in the daemon, so
    forked workers start with every archive already stamped."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon

    from defenda_data_lake_spark.worker_daemon import freeze_after_first_task, install

    install()
    if os.environ.get("SPARK_REUSE_WORKER"):
        pyspark.daemon.worker_main = freeze_after_first_task(pyspark.daemon.worker_main)
    pyspark.daemon.manager()
