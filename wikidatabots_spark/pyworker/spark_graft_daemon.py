"""The PySpark daemon, with zip archives re-read only when they change.

``session.get_spark`` starts the Python daemon from this module
(``spark.python.daemon.module``) and puts this file's directory on the
workers' ``PYTHONPATH``. It lives in a directory of its own, outside any
package, so importing it does not run ``wikidatabots_spark/__init__.py``
(which pulls in ``pyspark.sql`` and the operators), and Python workers
still do not import this package.

Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB,
1,328 entries) and hold one ``zipimporter`` per package directory they
imported from it, 14-16 of them. Before each task,
``pyspark/worker_util.py:setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.10 to 3.12,
``zipimporter.invalidate_caches`` re-reads the whole zip directory right
away, so every task parsed about 21k zip entries in pure Python: 0.1-0.3 s
of CPU, whatever the task ran. Python 3.13 only drops the cache and re-reads
it when next needed, so there the method is left alone.

With the wrapper below, an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the one taken just before
its last read. An importer whose archive is unchanged since that read takes
the directory it gave, so the 14-16 importers of one archive share one read.
An archive added with ``addPyFile`` is read on first use as before, and an
archive replaced on disk is re-read. Workers are forked from the daemon, so
every worker inherits the wrapper and the daemon's reads.

Before it serves, the daemon also moves every object it holds into the
collector's permanent generation (``gc.freeze``, the fork-server use the
``gc`` docs describe). A reused worker runs ``gc.collect()`` after each task
(``pyspark/daemon.py:manager``); the daemon's objects, about half of a
worker's 73k after its first Arrow task, are then left out of each
collection, which fell from 33-38 to 13-16 ms on a 4-core VM.

The module imports nothing else: the daemon's pages are shared with every
worker it forks, and a daemon that preloaded pandas or pyarrow would count
them once per process in a summed resident size.
"""

import gc
import os
import sys
import zipimport

from pyspark import daemon

# archive path -> (stamp taken before the read, the directory it gave)
_reads = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install():
    """Wrap ``zipimporter.invalidate_caches`` (Python < 3.13 only) and read
    each archive already imported from once more, so processes forked
    afterwards start with current directories.

    Returns whether the wrapper was installed.
    """
    if sys.version_info >= (3, 13):
        return False
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stat before reading: an archive rewritten during the read keeps
        # the old stamp and is read again on the next call
        stamp = _stamp(self.archive)
        last = _reads.get(self.archive)
        if stamp is not None and last is not None and last[0] == stamp:
            self._files = last[1]
            return
        reread(self)
        _reads[self.archive] = stamp, self._files

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    return True


if __name__ == "__main__":
    install()
    gc.freeze()
    daemon.manager()
