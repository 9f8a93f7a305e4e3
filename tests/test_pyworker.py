"""Tests for ``paraslice_spark.pyworker``: a PySpark worker re-reads a zip
archive's directory on ``importlib.invalidate_caches()`` only when the
archive changed since that importer last read it, and every Python kernel
of the package goes through ``by_ref`` so its workers get that patch."""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import pathlib
import sys
import typing
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.core.files import SparkFiles
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.typehints import infer_group_pandas_eval_type_from_func
from pyspark.util import PythonEvalType

import paraslice_spark
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


@pytest.fixture(scope="module")
def fresh_workers(spark):
    """Python workers that no earlier test has run code in.  PySpark keeps
    one worker pool per distinct worker environment, so an extra entry in
    ``sc.environment`` gives the DataFrames built while it is set a pool of
    their own; a worker there imports ``paraslice_spark`` only if the task's
    code does."""
    env = spark.sparkContext.environment
    env["PARASLICE_TEST_WORKER_POOL"] = uuid.uuid4().hex
    try:
        yield spark
    finally:
        env.pop("PARASLICE_TEST_WORKER_POOL", None)


def _kernel_probe():
    """A closure, pickled by value and importing nothing of this package,
    that reports from inside a worker task ``"<archive reads> <zip
    importers> <patched>"`` for a second ``importlib.invalidate_caches()``."""

    def probe() -> str:
        import importlib
        import sys
        import zipimport

        importlib.invalidate_caches()  # stamps importers made before the patch
        real, calls = zipimport._read_directory, []
        zipimport._read_directory = lambda a: (calls.append(a), real(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        patched = hasattr(zipimport.zipimporter.invalidate_caches, "reads_changed_only")
        return f"{len(calls)} {n_zips} {patched}"

    return probe


# One builder per kernel family: each wraps a kernel around the probe with
# ``by_ref`` and returns the collected rows, one ``r`` per kernel call.


def _scalar(spark, n, probe, tmp_path):
    def kernel(ids):
        return pd.Series([probe()] * len(ids))

    udf = pandas_udf(pyworker.by_ref(kernel), "string")
    assert udf.evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF
    return spark.range(0, n, 1, n).select(udf("id").alias("r")).collect()


def _grouped_agg(spark, n, probe, tmp_path):
    def kernel(ids: pd.Series) -> str:
        return probe()

    udaf = pandas_udf(pyworker.by_ref(kernel), "string")
    assert udaf.evalType == PythonEvalType.SQL_GROUPED_AGG_PANDAS_UDF
    return spark.range(0, n, 1, n).groupBy("id").agg(udaf("id").alias("r")).collect()


def _grouped_map(spark, n, probe, tmp_path):
    def kernel(pdf):
        return pd.DataFrame({"r": [probe()]})

    return spark.range(0, n, 1, n).groupBy("id").applyInPandas(
        pyworker.by_ref(kernel), "r string"
    ).collect()


def _map(spark, n, probe, tmp_path):
    def kernel(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"r": [probe()]})

    return spark.range(0, n, 1, n).mapInPandas(pyworker.by_ref(kernel), "r string").collect()


def _grouped_map_with_state(spark, n, probe, tmp_path):
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "src")
    spark.range(0, n, 1, n).write.parquet(src)

    def kernel(key, pdfs, state):
        for _ in pdfs:
            pass
        yield pd.DataFrame({"r": [probe()]})

    stream = spark.readStream.schema("id long").parquet(src).groupBy("id")
    stateful = stream.applyInPandasWithState(
        pyworker.by_ref(kernel), "r string", "n long", "update", GroupStateTimeout.NoTimeout
    )
    name = "pyworker_state_" + uuid.uuid4().hex[:8]
    q = (
        stateful.writeStream.format("memory").queryName(name).outputMode("update")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    try:
        return spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)


@below_313
@pytest.mark.parametrize(
    "family", [_scalar, _grouped_agg, _grouped_map, _map, _grouped_map_with_state],
    ids=["pandas_udf", "pandas_udaf", "applyInPandas", "mapInPandas", "applyInPandasWithState"],
)
def test_by_ref_kernels_skip_unchanged_archives(fresh_workers, tmp_path, family):
    """A kernel behind ``by_ref`` runs in a worker that carries the patch
    even when nothing else in the task imports the package: its second
    ``importlib.invalidate_caches()`` reads no archive."""
    spark = fresh_workers
    n = spark.sparkContext.defaultParallelism
    got = [r["r"].split() for r in family(spark, n, _kernel_probe(), tmp_path)]
    assert len(got) >= n
    for n_reads, n_zips, patched in got:
        assert (int(n_reads), patched) == (0, "True")
        assert int(n_zips) > 0  # the pyspark / shipped-package zips are on the path


def _closures() -> dict:
    """The three kernel shapes as closures, which travel by value like the
    package's kernels."""

    def plain(s):
        return s.str.lower()

    def hinted(v: pd.Series, w: pd.Series) -> float:
        return float(pd.Series(v * w).sum() / w.sum())

    def grouped_map(key, pdf):
        return pdf

    return {"plain": plain, "hinted": hinted, "grouped_map": grouped_map}


def _reading(fn, kind):
    """What PySpark reads off a kernel: positional args, resolved type
    hints and the eval type it assigns."""
    if kind == "grouped_map":
        eval_type = infer_group_pandas_eval_type_from_func(fn) or (
            PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF
        )
        eval_type = pandas_udf(fn, "id long", eval_type).evalType
    else:
        eval_type = pandas_udf(fn, "double").evalType
    return inspect.getfullargspec(fn).args, typing.get_type_hints(fn), eval_type


@pytest.mark.parametrize("kind", ["plain", "hinted", "grouped_map"])
def test_by_ref_reads_as_the_wrapped_function(spark, kind):
    """``getfullargspec`` and ``get_type_hints`` see through ``by_ref``
    (a bare partial has no positional args and no hints), so PySpark
    assigns the same eval type, before and after a cloudpickle round
    trip."""
    fn = _closures()[kind]
    want = _reading(fn, kind)
    assert want[2] == {
        "plain": PythonEvalType.SQL_SCALAR_PANDAS_UDF,
        "hinted": PythonEvalType.SQL_GROUPED_AGG_PANDAS_UDF,
        "grouped_map": PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF,
    }[kind]
    wrapped = pyworker.by_ref(fn)
    assert _reading(wrapped, kind) == want
    shipped = cloudpickle.loads(cloudpickle.dumps(wrapped))
    assert _reading(shipped, kind) == want
    assert shipped.func is pyworker._call  # the trampoline travels by reference


def _plan_nodes(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_by_ref_keeps_the_python_plan_nodes(spark, tmp_path):
    """One consumer per kernel family still plans its own Python node."""
    from tests.conftest import SF_SMALL

    from paraslice_spark.functions.udfs import weighted_mean_by_group
    from paraslice_spark.registry import QUERIES
    from paraslice_spark.sources.io import load_tables
    from paraslice_spark.streaming import streams

    for name, node in [
        ("udf_pandas_vectorized", "ArrowEvalPython"),
        ("udf_grouped_map", "FlatMapGroupsInPandas"),
        ("udf_udtf_tokenize", "MapInPandas"),
    ]:
        assert node in _plan_nodes(QUERIES[name](spark, SF_SMALL)), name
    events = load_tables(spark, SF_SMALL)["events"]
    assert "ArrowAggregatePython" in _plan_nodes(weighted_mean_by_group(events))
    events.write.parquet(str(tmp_path / "events"))
    stream = streams.events_file_stream(spark, str(tmp_path / "events"))
    name = "pyworker_plan_" + uuid.uuid4().hex[:8]
    q = streams.run_to_memory(streams.running_count_per_user(stream), name, "update")
    try:
        assert "FlatMapGroupsInPandasWithState" in q._jsq.explainInternal(False)
    finally:
        spark.catalog.dropTempView(name)


#: PySpark entry points that ship a Python function to workers
_KERNEL_CALLS = {"pandas_udf", "udf", "mapInPandas", "applyInPandas", "applyInPandasWithState"}


def _callee(node) -> str | None:
    f = node.func if isinstance(node, ast.Call) else node
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _is_by_ref(node) -> bool:
    return isinstance(node, ast.Call) and _callee(node) == "by_ref"


def test_every_python_kernel_ships_by_ref():
    """Every function the package hands to a Python-kernel entry point is
    ``by_ref(...)`` or a module-level function (pickled by reference), so no
    kernel's workers fall back to re-reading every zip archive per task."""
    root = pathlib.Path(paraslice_spark.__file__).parent
    sites, bad = 0, []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        top_level = {
            n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        decorator_calls = set()
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            decos = node.decorator_list
            for i, d in enumerate(decos):
                if _callee(d) in _KERNEL_CALLS:
                    decorator_calls.add(id(d))
                    sites += 1
                    below = decos[i + 1] if i + 1 < len(decos) else None
                    if not (isinstance(below, ast.Name) and below.id == "by_ref"):
                        bad.append(f"{path.name}:{node.lineno} @{_callee(d)} {node.name}")
        for node in ast.walk(tree):
            if (
                not isinstance(node, ast.Call)
                or id(node) in decorator_calls
                or _callee(node) not in _KERNEL_CALLS
            ):
                continue
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg in ("f", "func")), None
            )
            sites += 1
            if not (_is_by_ref(fn) or (isinstance(fn, ast.Name) and fn.id in top_level)):
                bad.append(f"{path.name}:{node.lineno} {_callee(node)}({ast.unparse(fn)})")
    assert sites >= 28  # the walk reaches the package's kernels
    assert bad == []
