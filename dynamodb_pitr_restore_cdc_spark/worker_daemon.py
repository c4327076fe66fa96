"""Python worker daemon: `pyspark.daemon` with its startup archives parsed once.

Spark starts it as `python -m <this module>` (`spark.python.daemon.module`,
set by `session.get_spark`). Every task's `setup_spark_files` calls
`importlib.invalidate_caches()`, which on Python 3.11 makes each cached
zip importer re-read its archive's whole central directory: pyspark.zip
(1,328 entries, one importer per imported subpackage), the py4j zip and
the spark-core jar, 16 importers on a reused worker. Those archives
cannot change under a running worker, so their importers skip the
re-read; archives a task adds (`addPyFile`, `--py-files`) keep the stock
importer. A no-op 4-task `mapInArrow` job took 0.35-0.50 s with stock
workers and 0.14-0.23 s with this daemon, about what a JVM-only job
takes (local[4] on a 4-vCPU host).

Imports only the stdlib and `pyspark.daemon`: an import error here
breaks every Python stage.
"""

import os
import sys
import zipimport

_STARTUP = tuple(p for p in sys.path if os.path.isfile(p))


class _StartupArchive(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def _in_startup_archive(path):
    return any(path == a or path.startswith(a + os.sep) for a in _STARTUP)


def _startup_archive(path):
    if not _in_startup_archive(path):
        raise ImportError(path)
    return _StartupArchive(path)


if __name__ == "__main__":
    sys.path_hooks.insert(0, _startup_archive)
    for _path in list(filter(_in_startup_archive, sys.path_importer_cache)):
        del sys.path_importer_cache[_path]  # stock importers `python -m` made
    from pyspark.daemon import manager

    manager()
