"""Local Python workers import pyspark from the interpreter, not from
Spark's archives (image_ocr_spark/workerd.py)."""

import os

import pyspark

from image_ocr_spark.workerd import ARCHIVE_SUFFIXES, strip_archives


def _package(root, name):
    os.makedirs(os.path.join(root, name))
    open(os.path.join(root, name, "__init__.py"), "w").close()


def test_worker_imports_the_drivers_pyspark(spark):
    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        zips = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pylist(
            [{"file": worker_pyspark.__file__, "path": sys.path, "zips": zips}]
        )

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInArrow(probe, "file string, path array<string>, zips array<string>")
        .collect()
    )
    assert len(rows) == 2
    archived = any(
        part.endswith(ARCHIVE_SUFFIXES) for part in pyspark.__file__.split(os.sep)
    )
    for row in rows:
        assert row.file == pyspark.__file__
        if not archived:
            assert not [p for p in row.path if p.endswith(ARCHIVE_SUFFIXES)]
            # each task's invalidate_caches() re-reads every cached one
            assert row.zips == []


def test_strip_archives_needs_pyspark_and_py4j_outside_them(tmp_path):
    site = str(tmp_path / "site")
    archives = [str(tmp_path / "pyspark.zip"), str(tmp_path / "spark-core.jar")]
    path = [archives[0], site, archives[1]]
    _package(site, "py4j")
    # pyspark only inside the archives: the path stays as Spark built it
    assert strip_archives(path) == path
    _package(site, "pyspark")
    assert strip_archives(path) == [site]


def test_daemon_needs_package_on_worker_path(tmp_path, monkeypatch):
    """get_spark selects workerd only when a worker can import this
    package: from the driver's cwd, PYTHONPATH or site-packages."""
    from image_ocr_spark import session

    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert session._worker_finds_package()
    monkeypatch.chdir(tmp_path)
    assert not session._worker_finds_package()
