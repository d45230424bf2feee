"""Python worker daemon that imports the installed, byte-compiled pyspark.

With ``SPARK_HOME`` set, Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``
and ``py4j-*-src.zip`` ahead of ``PYTHONPATH`` on every Python worker.
Those zips hold only ``.py`` sources and zipimport cannot cache bytecode,
so each daemon start compiles ``pyspark.daemon`` and ``pyspark.worker``
again: about 1 s of every new session's first Python query.  Warm workers
pay too: every task calls ``importlib.invalidate_caches()``, which makes
each zipimporter re-read its archive's directory (about 0.13 s per task on
a 4-CPU host).

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Run as ``__main__``, it drops each zip whose package is also installed
further down ``sys.path`` with an identical ``version.py``, then runs
pyspark's own daemon; the workers fork from it and inherit its path.  When
a zip has no installed twin, or the versions differ, that zip stays where
Spark put it and the workers import from it as before.

It imports only the standard library, because it runs before pyspark is
importable from the right place.  The one requirement is that this package
is importable on the executors, which every UDF here already needs.
"""

from __future__ import annotations

import os
import re
import sys
import zipimport
from importlib.machinery import PathFinder

# Spark's source zips, by the package each holds.
_SPARK_ZIP = re.compile(r"(pyspark)\.zip|(py4j)-.+-src\.zip")


def _zipped_package(entry: str) -> str | None:
    m = _SPARK_ZIP.fullmatch(os.path.basename(entry))
    return m and (m[1] or m[2])


def _installed_twin(entry: str, package: str, rest: list[str]) -> bool:
    """Whether ``rest`` holds ``package`` with the same ``version.py`` as the zip."""
    spec = PathFinder.find_spec(package, rest)
    if spec is None or not spec.origin:
        return False
    try:
        zipped = zipimport.zipimporter(entry).get_data(f"{package}/version.py")
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read() == zipped
    except (OSError, zipimport.ZipImportError):
        return False


def worker_path(path: list[str]) -> list[str]:
    """``path`` without each Spark zip whose package is installed elsewhere
    on it at the same version; the other entries keep their order."""
    zips = {e: p for e in path if (p := _zipped_package(e))}
    rest = [e for e in path if e not in zips]
    drop = {e for e, p in zips.items() if _installed_twin(e, p, rest)}
    return [e for e in path if e not in drop]


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    from pyspark import daemon

    daemon.manager()
