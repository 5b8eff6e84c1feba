"""Python worker daemon: ``pyspark.daemon`` with lazy zip-directory caches.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, reused
workers included.  On CPython < 3.13 each ``zipimport.zipimporter``
answers by re-reading its archive's central directory at once; a worker
holds about 16 of them (``pyspark.zip``, the py4j zip, the spark-core
jar), so every task parses ~28k zip entries before it runs any engine
code.  CPython 3.13 made invalidation lazy: it drops the cached
directory, and the next lookup reads it again.  This module backports
that behaviour into the daemon, which every forked worker inherits, and
then runs the stock daemon loop.  ``session.get_spark`` selects it
through Spark's ``spark.python.daemon.module`` conf.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self):
    """CPython 3.13's ``zipimporter._get_files``: the archive's directory,
    read on first use after an invalidation."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def lazy_zip_directories() -> None:
    """Make every ``zipimporter`` (existing ones too) read ``_files``
    through the shared directory cache, and invalidation only drop it.
    ``__init__`` still assigns ``_files`` after filling the cache, so the
    setter has nothing to keep."""
    zipimport.zipimporter._files = property(_get_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        lazy_zip_directories()
    from pyspark import daemon

    daemon.manager()
