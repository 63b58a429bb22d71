from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture
def drop_toolchain(monkeypatch, tmp_path):
    """Calling it loses the toolchain for the rest of the test: no ``cc``
    on PATH, an empty kernel cache and a build not yet tried."""
    import collections

    from ds_raster_pipelines_spark import native

    def drop():
        monkeypatch.setenv("PATH", str(tmp_path))
        monkeypatch.setattr(native, "_CACHE_ROOT", str(tmp_path / "kernels"))
        monkeypatch.setattr(native, "_lib", None)
        monkeypatch.setattr(native, "_lib_tried", False)
        monkeypatch.setattr(native, "build_error", None)
        monkeypatch.setattr(native, "fallbacks", collections.Counter())

    return drop


class _Kernel:
    """Stands in for a DataFrame: ``mapInArrow`` hands back the kernel
    itself, so it runs on hand-built Arrow batches in this process."""

    def select(self, *cols):
        return self

    def mapInArrow(self, kernel, schema):
        return kernel


@pytest.fixture
def kernel_frame():
    """A DataFrame stand-in that turns an operator into its Arrow kernel:
    the kernel then runs in the test process, where ``drop_toolchain``
    reaches it (a Spark worker loads the native library again)."""
    return _Kernel()


@pytest.fixture(scope="session")
def spark():
    from ds_raster_pipelines_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s


SF = "/root/testdata/sf0.001"
