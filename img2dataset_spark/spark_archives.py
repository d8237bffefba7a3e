"""Spark's own archives are read once per Python worker, not once per task.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py``, ``setup_spark_files``), so that files
shipped with ``--py-files`` or ``addPyFile`` become importable.  Up to
CPython 3.12, ``zipimport.zipimporter.invalidate_caches`` answers by
re-reading the archive's whole central directory.  A worker that runs
engine UDFs holds one zip importer per package path it imported from
(16 here) over ``pyspark.zip`` (1,328 entries), the py4j source zip and
the ``spark-core`` jar (5,359 entries), so every task paid 125-250 ms
before its UDF ran.  3.13 only drops the cached directory, to be read
again on the next lookup.

The override below skips that work for Spark's archives alone: basename
``pyspark.zip``, ``py4j-*-src.zip`` or ``spark-*.jar``.  That is safe
because these archives are part of the Spark installation the worker
was started from and never change under a running worker; a new Spark
version starts new workers.  Every other archive keeps the stdlib
behaviour, so a user's ``--py-files`` zip that is replaced between tasks
is still re-read.

Importing the package installs it.  cloudpickle imports the modules of
the engine's UDF closures by reference, so it runs in every worker that
unpickles one of them, before that worker's next task.
"""

from __future__ import annotations

import fnmatch
import os
import zipimport

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-*.jar")


def is_spark_archive(path: str) -> bool:
    """True for an archive that ships with Spark itself."""
    name = os.path.basename(path)
    return any(fnmatch.fnmatchcase(name, pat) for pat in _SPARK_ARCHIVES)


_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """zipimporter.invalidate_caches, a no-op for Spark's own archives."""
    if not is_spark_archive(self.archive):
        _stdlib_invalidate_caches(self)


zipimport.zipimporter.invalidate_caches = _invalidate_caches
