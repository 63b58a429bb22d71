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
    """Stands in for a DataFrame: after ``mapInArrow`` it is callable as the
    kernel, so the kernel runs on hand-built Arrow batches in this process.
    A ``groupBy().agg()`` after the kernel (the final aggregate of a
    map-side partial) is left out: over one batch the partial is the
    answer."""

    columns: tuple = ()

    def select(self, *cols):
        return self

    selectExpr = select

    def mapInArrow(self, kernel, schema):
        self.kernel = kernel
        return self

    def groupBy(self, *cols):
        return self

    def agg(self, *aggs):
        return self

    def __call__(self, batches):
        return self.kernel(batches)


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
