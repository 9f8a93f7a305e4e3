"""Tests for ``paraslice_spark.pyworker``: a PySpark worker re-reads a zip
archive's directory on ``importlib.invalidate_caches()`` only when the
archive changed since that importer last read it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from paraslice_spark import pyworker

below_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 only drops the zip cache"
)


@pytest.fixture
def on_worker(monkeypatch):
    """This process posing as a PySpark worker; the zipimporter method is
    restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory ``zipimport`` reads, in call order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@below_313
def test_unchanged_archive_is_not_reread(tmp_path, on_worker, reads):
    archive = str(tmp_path / "unchanged.zip")
    _write_zip(archive, {"pyworker_unchanged": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    pyworker.install()
    imp.invalidate_caches()  # first call after the patch: no stamp yet
    reads.clear()
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == []
    assert imp.find_spec("pyworker_unchanged") is not None


@below_313
@pytest.mark.parametrize("how", ["in_place", "replaced"])
def test_changed_archive_is_reread(tmp_path, monkeypatch, on_worker, reads, how):
    archive = str(tmp_path / f"{how}.zip")
    old, new = f"pyworker_{how}_old", f"pyworker_{how}_new"
    _write_zip(archive, {old: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(old).X == 1
        pyworker.install()
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads
        if how == "in_place":
            _write_zip(archive, {old: "X = 1\n", new: "Y = 2\n"})
        else:
            _write_zip(archive + ".tmp", {old: "X = 1\n", new: "Y = 2\n"})
            os.replace(archive + ".tmp", archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(new).Y == 2
    finally:
        for name in (old, new):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@below_313
def test_missing_archive_falls_back_to_the_original(tmp_path, on_worker, reads):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"pyworker_gone": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    pyworker.install()
    imp.invalidate_caches()
    os.remove(archive)
    reads.clear()
    imp.invalidate_caches()
    assert reads == [archive]  # the original's read fails and empties the importer
    assert imp.find_spec("pyworker_gone") is None


def test_install_outside_a_worker_is_a_noop(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


@below_313
def test_install_is_idempotent(on_worker):
    original = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched is not original
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is patched


@pytest.mark.skipif(sys.version_info < (3, 13), reason="CPython < 3.13 re-reads the zip")
def test_install_is_a_noop_on_313(on_worker):
    original = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


@below_313
def test_cp_fit_workers_skip_unchanged_archives(spark):
    """After a CP-ALS fit every Python worker carries the patch, and a
    task-start ``importlib.invalidate_caches()`` reads no archive."""
    from tests.test_tensor import _planted_coords

    from paraslice_spark.operators.tensor import parafac

    parafac(spark, _planted_coords(spark, seed=11), max_iter=2, n_parts=4)

    def probe(_):
        import importlib
        import sys
        import zipimport

        import paraslice_spark  # noqa: F401  installs the patch in a fresh worker

        importlib.invalidate_caches()  # stamps importers made before the patch
        real, calls = zipimport._read_directory, []
        zipimport._read_directory = lambda a: (calls.append(a), real(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        patched = hasattr(zipimport.zipimporter.invalidate_caches, "reads_changed_only")
        yield len(calls), len(zips), patched

    n = spark.sparkContext.defaultParallelism
    got = spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
    assert len(got) == n
    for n_reads, n_zips, patched in got:
        assert (n_reads, patched) == (0, True)
        assert n_zips > 0  # the pyspark / shipped-package zips are on the path


def test_files_added_after_the_patch_are_importable(spark, tmp_path):
    sc = spark.sparkContext
    n = sc.defaultParallelism
    sc.parallelize(range(n), n).map(lambda _: __import__("paraslice_spark") and 0).collect()
    (tmp_path / "pyworker_added_py.py").write_text("VALUE = 3\n")
    _write_zip(tmp_path / "pyworker_added.zip", {"pyworker_added_zip": "VALUE = 4\n"})
    sc.addPyFile(str(tmp_path / "pyworker_added_py.py"))
    sc.addPyFile(str(tmp_path / "pyworker_added.zip"))

    def values(_):
        import pyworker_added_py
        import pyworker_added_zip

        return pyworker_added_py.VALUE, pyworker_added_zip.VALUE

    assert sc.parallelize(range(n), n).map(values).collect() == [(3, 4)] * n
