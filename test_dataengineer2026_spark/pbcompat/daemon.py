"""Spark Python worker daemon with CPython 3.13's lazy zip invalidation.

``get_session`` sets ``spark.python.daemon.module`` to this module, so
the JVM starts ``python -m test_dataengineer2026_spark.pbcompat.daemon``
in place of ``python -m pyspark.daemon``. It patches ``zipimport`` and
then runs ``pyspark.daemon`` as ``__main__``, unchanged.

Why: a reused Python worker calls ``importlib.invalidate_caches()`` at
the start of every task (``setup_spark_files`` in
``pyspark/worker_util.py``). Before Python 3.13, every zipimporter in
``sys.path_importer_cache`` answers that by re-reading its archive's
central directory at once: a worker holds about a dozen over
``pyspark.zip`` and a few over py4j and the spark-core JAR, so each
task re-parses thousands of zip entries, tenths of a second of CPU,
before it reads a row. Python 3.13 made this lazy (``zipimport.py``):
``invalidate_caches`` only drops the archive's entry from
``_zip_directory_cache``, and the directory is read again by the next
lookup that misses it. ``install`` backports exactly that.

The patch runs once, in the daemon, before it forks: every worker
inherits it, first task included, and the driver is left alone. It is
not a ``sitecustomize``: the one hook all workers honour is the
protobuf shim's directory on ``PYTHONPATH``, and putting that there
for every session would load the shim into every worker and every
other interpreter the session starts.

For the same reason the daemon imports pandas and pyarrow before it
forks: each worker inherits them instead of importing them on its
first Arrow task.
"""

from __future__ import annotations

import runpy
import sys
import zipimport


def _files(self):
    """Python 3.13's ``zipimporter._get_files``: the archive's cached
    directory, read again after an invalidation dropped it."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._zip_directory_cache[self.archive] = (
                zipimport._read_directory(self.archive)
            )
        except zipimport.ZipImportError:
            files = {}
        return files


def _keep_files(self, files):
    # Pre-3.13 ``__init__`` assigns ``self._files`` after filling the
    # cache itself and before ``self.archive`` exists. Keeping the
    # instance attribute leaves the importer whole for the stock code.
    self.__dict__["_files"] = files


def _invalidate_caches(self):
    """Python 3.13's ``zipimporter.invalidate_caches``."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Give ``zipimport.zipimporter`` Python 3.13's lazy invalidation.
    A no-op on Python 3.13 and later, and when already installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or isinstance(vars(cls).get("_files"), property):
        return
    # A data descriptor on the class wins over the ``_files`` instance
    # attribute of importers created before the patch.
    cls._files = property(_files, _keep_files)
    cls.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
