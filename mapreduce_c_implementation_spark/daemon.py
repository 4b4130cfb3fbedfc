"""The Python worker daemon the session runs (``spark.python.daemon.module``):
``pyspark.daemon`` with one change, inherited by every worker it forks.

Each Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Under CPython 3.11 that
makes every ``zipimporter`` on the worker's path re-read its archive's
central directory: ``pyspark.zip`` (one importer per imported
subpackage) and the spark-core jar, thousands of entries per task.
Those archives never change while a worker lives, so here a zip
importer's ``invalidate_caches`` does nothing.  Directory finders
(``FileFinder``) are left as they are, so files Spark ships to the
workers later are still found.
"""

import zipimport

from pyspark import daemon


def keep_zip_directory(self) -> None:
    """A zip importer's ``invalidate_caches``: the archive is unchanged."""


zipimport.zipimporter.invalidate_caches = keep_zip_directory

if __name__ == "__main__":
    daemon.manager()
