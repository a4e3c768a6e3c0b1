"""Python worker daemon that imports pyspark from a directory.

``get_spark`` sets ``spark.python.daemon.module`` to this module. Spark
starts it once per Python executable; it forks one worker per task.

Spark puts three archives on the worker's ``sys.path``: ``pyspark.zip``,
the py4j source zip and the spark-core jar (5,359 entries, no Python
module). Every task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 that
makes each cached ``zipimporter`` re-read its archive's whole directory
in pure Python: about 0.25 s of CPU per task, whether the task does work
or not. When every module the archives hold is also importable from a
directory, and the directory pyspark has the archive's version, the
archives leave ``sys.path`` before pyspark is imported. The workers then
run the same pyspark from site-packages, and the per-task call only
resets directory finders. Otherwise the daemon keeps the stock path.

Run as ``python -m data_pipelines_worker_spark.worker_daemon``, the
package's ``__init__`` is imported first, so it must import no pyspark.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder


def _archive_modules(archive: str) -> tuple[set[str], bytes | None]:
    """Top-level module names in ``archive`` and its ``pyspark/version.py``,
    read with ``zipfile`` so no ``zipimporter`` is created."""
    with zipfile.ZipFile(archive) as z:
        names = z.namelist()
        version = z.read("pyspark/version.py") if "pyspark/version.py" in names else None
    tops = {n.split("/", 1)[0].split(".", 1)[0] for n in names if n.endswith((".py", ".pyc"))}
    return tops, version


def worker_path(path: list[str]) -> list[str]:
    """``path`` without its archive (file) entries, or ``path`` unchanged
    when an archive holds a module no directory entry provides, or a pyspark
    whose ``version.py`` differs from the directory one's."""
    dirs = [p for p in path if not os.path.isfile(p)]
    for archive in (p for p in path if os.path.isfile(p)):
        try:
            tops, version = _archive_modules(archive)
        except (OSError, zipfile.BadZipFile):
            return path
        for top in tops:
            spec = PathFinder.find_spec(top, dirs)
            if spec is None:
                return path
            if top == "pyspark" and (version is None or _dir_version(spec) != version):
                return path
    return dirs


def _dir_version(spec) -> bytes | None:
    for location in spec.submodule_search_locations or ():
        try:
            with open(os.path.join(location, "version.py"), "rb") as f:
                return f.read()
        except OSError:
            pass
    return None


def main() -> None:
    sys.path[:] = worker_path(sys.path)
    # a zipimporter left in the cache would still be refreshed per task
    for entry, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[entry]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
