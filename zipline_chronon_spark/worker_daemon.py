"""Spark Python worker daemon whose zip importers keep their directory.

Run by Spark as ``python -m zipline_chronon_spark.worker_daemon pyspark.worker``
(``spark.python.daemon.module``). Every task starts with pyspark calling
``importlib.invalidate_caches()``, and CPython 3.11's ``zipimporter`` answers
that by re-reading its archive's central directory: once per cached importer,
about 16 per worker for ``pyspark.zip``. An archive on ``sys.path`` is not
rewritten while a worker lives, so these importers skip the re-read. An archive
added later (``addPyFile``) gets a new importer, which reads its directory when
it is created; directory finders are still invalidated on every task. Forked
workers inherit both changes. Imports nothing heavy before the fork.
"""

import sys
import zipimport


class KeptZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def keep_zip_directories() -> None:
    sys.path_hooks[:] = [KeptZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[path] = KeptZipImporter(path)


if __name__ == "__main__":
    keep_zip_directories()
    from pyspark import daemon

    daemon.manager()
