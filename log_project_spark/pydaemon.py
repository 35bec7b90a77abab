"""The Python worker daemon, importing the installed pyspark.

Spark starts its worker daemon as `python -m <spark.python.daemon.module>`
with `$SPARK_HOME/python/lib/pyspark.zip`, `py4j-*.zip` and the
spark-core jar on `PYTHONPATH`. The zip holds sources only, so every
daemon compiles pyspark (and its pandas/Arrow serializers) from source,
and every task's `importlib.invalidate_caches()` re-reads the directory
of each archive a zipimporter is cached on. An installed pyspark of the
same release has bytecode in `__pycache__`. The jar holds no Python at
all (5,359 JVM entries), yet copy.py's Jython probe (`from
org.python.core import ...`) finds the namespace `org` in it, so every
worker caches two zipimporters on it.

`session.get_spark` names this module as the daemon for local masters.
It takes each bundled zip off the path when the installed copy of its
package is the same release (byte-equal `version.py`), and each `.jar`
that holds no Python module, then runs `pyspark.daemon.manager()`. A
different release keeps the path, and so the zip, unchanged. Moving an
archive to the end of the path is not enough: any import that misses
every entry (Cython modules probe for `backports_abc`, copy.py for
Jython's `org`) caches a zipimporter on it again, in every worker.

The daemon hands its port to the JVM on stdout: this module prints
nothing, and the package's `__init__` (imported first by `-m`) imports
no pyspark.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _bundled_package(entry: str) -> str | None:
    """The package a Spark-bundled zip on the path carries, else None."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _same_release(zip_entry: str, package: str, elsewhere: list[str]) -> bool:
    """The package is importable from `elsewhere` and its `version.py`
    equals the zip's byte for byte."""
    spec = PathFinder.find_spec(package, elsewhere)
    if spec is None or not spec.submodule_search_locations:
        return False
    installed = os.path.join(next(iter(spec.submodule_search_locations)), "version.py")
    try:
        with zipfile.ZipFile(zip_entry) as z:
            bundled = z.read(f"{package}/version.py")
        with open(installed, "rb") as f:
            return f.read() == bundled
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def _python_free_jar(entry: str) -> bool:
    """A `.jar` on the path that holds no Python module (no .py or .pyc
    entry), so importing from it can only waste a zipimporter; an
    unreadable jar is not judged and stays."""
    if not entry.endswith(".jar"):
        return False
    try:
        with zipfile.ZipFile(entry) as z:
            return not any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return False


def installed_first(path: list[str]) -> list[str]:
    """`path` without each bundled pyspark/py4j zip whose package is
    found, as the same release, among the other entries, and without
    each `.jar` that holds no Python module; the rest keeps its order,
    and a zip without such an installed copy stays."""
    others = [e for e in path if _bundled_package(e) is None]
    return [
        e for e in path
        if not _python_free_jar(e)
        and ((pkg := _bundled_package(e)) is None or not _same_release(e, pkg, others))
    ]


if __name__ == "__main__":
    kept = installed_first(sys.path)
    # `-m` cached a zipimporter on each archive while it looked for this
    # package; every task's invalidate_caches() would re-read its directory
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept
    from pyspark import daemon

    daemon.manager()
