"""Per-task zip-importer refresh in the Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task.
On CPython < 3.13 each zip importer then re-reads its archive's central
directory; importing the engine package makes that refresh re-read an
archive only when it changed on disk (``ds_raster_pipelines_spark._zipcache``).
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import ds_raster_pipelines_spark  # noqa: F401  (installs the refresh)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ refreshes zip importers lazily"
)


def _count_reads(monkeypatch) -> list:
    reads: list = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))
    return reads


@pytest.fixture
def zipped_module(tmp_path, monkeypatch):
    """(archive path, module name): a one-module zip on sys.path, imported."""
    name = f"zc_probe_{tmp_path.name.replace('-', '_')}"
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module(name)
    yield archive, name
    sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


def test_unchanged_archive_is_not_reread(zipped_module, monkeypatch):
    importlib.invalidate_caches()  # the first refresh reads each archive once
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zipped_module, monkeypatch):
    archive, name = zipped_module
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as zf:  # rewritten in place: same inode
        zf.writestr(f"{name}.py", "VALUE = 22  # changed\n")
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert str(archive) in reads
    assert importlib.reload(sys.modules[name]).VALUE == 22


def test_spark_worker_refresh_reads_nothing(spark):
    """Inside a Python worker, after the task imports the engine package,
    the refresh PySpark runs before each task reads no archive directory."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import ds_raster_pipelines_spark  # noqa: F401

        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"zips": [zips], "reads": [len(reads)]})

    rows = spark.range(4).mapInArrow(probe, "zips long, reads long").collect()
    if not any(r["zips"] for r in rows):
        pytest.skip("the Python workers import nothing from zip archives")
    assert [r["reads"] for r in rows] == [0] * len(rows)
