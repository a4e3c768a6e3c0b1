"""The Python worker daemon imports pyspark from a directory, so the
per-task ``importlib.invalidate_caches()`` re-reads no zip archive; it keeps
Spark's stock path when that pyspark is missing or of another version."""

from __future__ import annotations

import zipfile

from data_pipelines_worker_spark import worker_daemon


def test_worker_imports_pyspark_from_a_directory(spark):
    # defined here so cloudpickle ships it by value: the test module itself
    # is not importable in the worker
    def worker_state(it):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            zipimporters = [
                k
                for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)
            ]
            yield pd.DataFrame(
                {"pyspark_file": [pyspark.__file__], "zipimporters": [len(zipimporters)]}
            )

    row = (
        spark.range(1)
        .coalesce(1)
        .mapInPandas(worker_state, "pyspark_file string, zipimporters long")
        .collect()[0]
    )
    assert ".zip" not in row.pyspark_file and ".jar" not in row.pyspark_file
    assert row.zipimporters == 0


def _archive(path, version: str | None, modules=("pyspark/__init__.py",)):
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(m, "")
        if version is not None:
            z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def _dir_pyspark(root, version: str):
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(root)


def test_archives_dropped_when_a_directory_pyspark_matches(tmp_path):
    site = _dir_pyspark(tmp_path / "site", "4.1.2")
    zipped = _archive(tmp_path / "pyspark.zip", "4.1.2")
    jar = _archive(tmp_path / "core.jar", None, modules=("org/apache/Spark.class",))
    assert worker_daemon.worker_path([zipped, jar, site]) == [site]


def test_archives_kept_without_a_directory_pyspark(tmp_path):
    empty = tmp_path / "site"
    empty.mkdir()
    path = [_archive(tmp_path / "pyspark.zip", "4.1.2"), str(empty)]
    assert worker_daemon.worker_path(path) == path


def test_archives_kept_when_the_directory_pyspark_differs(tmp_path):
    site = _dir_pyspark(tmp_path / "site", "4.0.0")
    path = [_archive(tmp_path / "pyspark.zip", "4.1.2"), site]
    assert worker_daemon.worker_path(path) == path


def test_archives_kept_when_an_archive_module_has_no_directory_copy(tmp_path):
    site = _dir_pyspark(tmp_path / "site", "4.1.2")
    path = [
        _archive(tmp_path / "pyspark.zip", "4.1.2"),
        _archive(tmp_path / "py4j.zip", None, modules=("py4j/__init__.py",)),
        site,
    ]
    assert worker_daemon.worker_path(path) == path
