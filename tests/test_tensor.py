"""Property tests for CP-ALS (SURVEY §5.2 layer 2, §2.5 T1-T8)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from paraslice_spark.operators.tensor import (
    build_slices,
    parafac,
    tensor_build_coords,
    tensor_shape,
)
from tests.conftest import SF_SMALL


def _planted_coords(spark, si=12, sj=6, sk=10, rank=3, seed=7, noise=0.0):
    """Dense rank-`rank` tensor from seeded factors, plus ``noise`` times
    Gaussian noise, as a coords DataFrame."""
    rng = np.random.default_rng(seed)
    A = rng.standard_normal((si, rank))
    B = rng.standard_normal((sj, rank))
    C = rng.standard_normal((sk, rank))
    X = np.einsum("ir,jr,kr->ijk", A, B, C)
    if noise:
        X = X + noise * rng.standard_normal(X.shape)
    rows = [
        (i, j, k, float(X[i, j, k]))
        for i in range(si)
        for j in range(sj)
        for k in range(sk)
    ]
    return spark.createDataFrame(rows, schema="i long, j long, k long, v double")


def test_planted_factor_recovery(spark):
    coords = _planted_coords(spark)
    model = parafac(spark, coords, rank=3, max_iter=40, seed=1)
    assert model.fit >= 0.999, model.fit_trace


def test_fit_monotone_nondecreasing(spark):
    coords = _planted_coords(spark, seed=11)
    model = parafac(spark, coords, rank=3, max_iter=15, seed=2)
    diffs = np.diff(model.fit_trace)
    assert (diffs >= -1e-9).all(), model.fit_trace


def test_invariants_lambda_sorted_norms_unit_shapes(spark):
    coords = _planted_coords(spark, seed=13)
    model = parafac(spark, coords, rank=3, max_iter=10, seed=3)
    assert (np.diff(model.lam) <= 1e-12).all()  # λ descending
    for fac, dim in ((model.A, 12), (model.B, 6), (model.C, 10)):
        assert fac.shape == (dim, 3)
        np.testing.assert_allclose(np.linalg.norm(fac, axis=0), 1.0, atol=1e-9)


def test_same_seed_reproducible(spark):
    coords = _planted_coords(spark, seed=17)
    m1 = parafac(spark, coords, rank=2, max_iter=8, seed=5, n_parts=4)
    m2 = parafac(spark, coords, rank=2, max_iter=8, seed=5, n_parts=4)
    np.testing.assert_allclose(m1.lam, m2.lam, rtol=1e-12)
    np.testing.assert_allclose(m1.A, m2.A, rtol=1e-10)
    assert m1.fit == pytest.approx(m2.fit, rel=1e-12)


@pytest.mark.parametrize("variant", ["parafac", "parafac_distributed"])
def test_max_iter_below_one_rejected(spark, variant):
    """A run needs at least one sweep to have a model to return."""
    from paraslice_spark.operators import tensor

    coords = _planted_coords(spark, seed=17)
    with pytest.raises(ValueError, match="max_iter"):
        getattr(tensor, variant)(spark, coords, max_iter=0)


def test_slices_cover_tensor_exactly(spark):
    coords = tensor_build_coords(spark, SF_SMALL)
    shape = tensor_shape(coords)
    slabs = build_slices(coords, shape, n_parts=4)
    total = slabs.map(lambda it: float(it[1].sum())).sum()
    slabs.unpersist()
    want = coords.groupBy().sum("v").first()[0]
    assert total == pytest.approx(want, rel=1e-9)


def test_distributed_planted_factor_recovery(spark):
    """VERDICT r01 #9 done-criterion: distributed-A path recovers a planted
    rank-3 tensor with the factor spread over >1 partition, and the mode-0
    factor never materializes on the driver as a single matrix."""
    from paraslice_spark.operators.tensor import dist_factors_a_df, parafac_distributed

    coords = _planted_coords(spark, si=24, sj=6, sk=10, seed=7)
    model = parafac_distributed(spark, coords, rank=3, max_iter=40, seed=1, n_parts=4)
    assert model.fit >= 0.999, model.fit_trace
    assert model.a_blocks.getNumPartitions() > 1
    # blocks partition the row space exactly
    ids = sorted(model.a_blocks.flatMap(lambda t: [int(i) for i in t[0]]).collect())
    assert ids == list(range(24))
    # columns normalized + λ descending, like the driver-local model
    sq = model.a_blocks.map(lambda t: (t[1] ** 2).sum(axis=0)).sum()
    np.testing.assert_allclose(np.sqrt(sq), 1.0, atol=1e-9)
    assert (np.diff(model.lam) <= 1e-12).all()
    # factor export is a distributed DataFrame with one row per mode-0 index
    fa = dist_factors_a_df(spark, model)
    assert fa.columns == ["row_idx", "r0", "r1", "r2"]
    assert fa.count() == 24


def test_distributed_matches_driver_local_lambdas(spark):
    """On an exactly-rank-3 tensor both paths converge to the tensor's true
    component weights (CP uniqueness) — λs agree across implementations."""
    from paraslice_spark.operators.tensor import parafac_distributed

    coords = _planted_coords(spark, seed=23)
    local = parafac(spark, coords, rank=3, max_iter=40, seed=3)
    dist = parafac_distributed(spark, coords, rank=3, max_iter=40, seed=4, n_parts=3)
    assert dist.fit >= 0.999 and local.fit >= 0.999
    np.testing.assert_allclose(dist.lam, local.lam, rtol=1e-3)


def _numpy_cp_als(X, rank, sweeps, seed, draw_a):
    """Dense CP-ALS reference: full-tensor MTTKRPs, modes updated A, B, C in
    order with unit-norm columns, fit from the explicit reconstruction.
    Same seeded init as the engine: ``draw_a`` draws the (unused) initial A
    first, as parafac does."""
    rng = np.random.default_rng(seed)
    if draw_a:
        rng.standard_normal((X.shape[0], rank))
    unit = lambda f: f / np.linalg.norm(f, axis=0)  # noqa: E731
    B = unit(rng.standard_normal((X.shape[1], rank)))
    C = unit(rng.standard_normal((X.shape[2], rank)))
    trace = []
    for _ in range(sweeps):
        A = unit(np.einsum("ijk,jr,kr->ir", X, B, C) @ np.linalg.pinv((B.T @ B) * (C.T @ C)))
        B = unit(np.einsum("ijk,ir,kr->jr", X, A, C) @ np.linalg.pinv((A.T @ A) * (C.T @ C)))
        C = np.einsum("ijk,ir,jr->kr", X, A, B) @ np.linalg.pinv((A.T @ A) * (B.T @ B))
        lam = np.linalg.norm(C, axis=0)
        C = C / lam
        Xhat = np.einsum("ir,jr,kr->ijk", A * lam, B, C)
        trace.append(1.0 - np.linalg.norm(X - Xhat) / np.linalg.norm(X))
    return trace


@pytest.mark.parametrize("variant", ["parafac", "parafac_distributed"])
def test_fit_trace_matches_numpy_reference(spark, variant):
    """Both variants run the textbook ALS sweep: the fused two-job loop,
    the driver-side rescaling of A and the Gram-identity fit reproduce a
    dense numpy reference sweep by sweep.  The noise keeps the fit away
    from 1, where the Gram identity's cancellation would dominate."""
    from paraslice_spark.operators import tensor

    shape = (20, 6, 7)
    coords = _planted_coords(spark, *shape, seed=31, noise=0.5)
    X = _dense_from(coords, shape)
    fn = getattr(tensor, variant)
    model = fn(spark, coords, rank=3, tol=0.0, max_iter=5, seed=8, n_parts=3)
    if variant == "parafac_distributed":
        model.a_blocks.unpersist()
    want = _numpy_cp_als(X, 3, 5, seed=8, draw_a=variant == "parafac")
    assert model.n_iter == 5
    np.testing.assert_allclose(model.fit_trace, want, rtol=0, atol=1e-9)


def _jobs_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_two_jobs_per_sweep(spark):
    """Every Spark job costs a fixed scheduling floor, so the job count is
    the CP-ALS cost model: on a DataFrame that is not a bare parquet scan,
    one shape job, then two aggregates per sweep; the distributed variant
    adds one job that materializes a_blocks."""
    from paraslice_spark.operators.tensor import parafac_distributed

    sc = spark.sparkContext
    coords = _planted_coords(spark, seed=37)
    _, n = _jobs_in_group(
        sc, "cp-jobs-local", lambda: parafac(spark, coords, tol=0.0, max_iter=3, n_parts=3)
    )
    assert n == 1 + 2 * 3
    model, n = _jobs_in_group(
        sc, "cp-jobs-dist",
        lambda: parafac_distributed(spark, coords, tol=0.0, max_iter=3, n_parts=3),
    )
    model.a_blocks.unpersist()
    assert n == 1 + 2 * 3 + 1


def _write_parquet(coords, path, **kw) -> str:
    """Write a coords frame to one parquet file through pyarrow, so the row
    groups and statistics are set by ``kw`` (``pq.write_table`` options)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(coords.toPandas(), preserve_index=False), path, **kw)
    return str(path)


def _aggregated_shape(coords):
    row = coords.agg(*[F.max(c) + 1 for c in "ijk"]).first()
    return tuple(int(v) for v in row)


def _one_file(spark, tmp_path, coords):
    return spark.read.parquet(_write_parquet(coords, tmp_path / "c.parquet", row_group_size=50))


def _three_files(spark, tmp_path, coords):
    rows = coords.orderBy("i", "j", "k").toPandas()
    (tmp_path / "d").mkdir()
    for n, part in enumerate((rows[:100], rows[100:400], rows[400:])):
        part.to_parquet(tmp_path / "d" / f"p{n}.parquet", index=False)
    return spark.read.parquet(str(tmp_path / "d"))


def _selected(spark, tmp_path, coords):
    return _one_file(spark, tmp_path, coords).select("i", "j", "k", "v")


def _filtered(spark, tmp_path, coords):
    return _one_file(spark, tmp_path, coords).where("v > 0")


def _from_sql(spark, tmp_path, coords):
    _one_file(spark, tmp_path, coords).createOrReplaceTempView("footer_coords")
    return spark.sql("SELECT i, j, k, v FROM footer_coords")


def _no_statistics(spark, tmp_path, coords):
    return spark.read.parquet(
        _write_parquet(coords, tmp_path / "c.parquet", write_statistics=False)
    )


def _unopenable(spark, tmp_path, coords):
    df = _one_file(spark, tmp_path, coords)
    df.inputFiles = lambda: ["nosuchscheme://host/c.parquet"]  # the driver cannot open it
    return df


def _json(spark, tmp_path, coords):
    coords.write.json(str(tmp_path / "j"))
    return spark.read.schema("i long, j long, k long, v double").json(str(tmp_path / "j"))


@pytest.mark.parametrize(
    "make, from_footer",
    [
        (_one_file, True),
        (_three_files, True),
        (_selected, False),
        (_filtered, False),
        (_from_sql, False),
        (_no_statistics, False),
        (_unopenable, False),
        (_json, False),
    ],
)
def test_shape_from_footer_matches_aggregate(spark, tmp_path, make, from_footer):
    """A bare parquet scan is sized from its footers with no Spark job;
    any other frame, footers without statistics or a file the driver
    cannot open fall back to the aggregate.  Both give the aggregate's
    shape."""
    from paraslice_spark.sources.io import parquet_footers

    coords = make(spark, tmp_path, _planted_coords(spark, si=13, sj=7, sk=9, seed=43))
    assert (parquet_footers(coords, ("i", "j", "k")) is not None) == from_footer
    shape, jobs = _jobs_in_group(
        spark.sparkContext, f"shape-{make.__name__}", lambda: tensor_shape(coords)
    )
    assert shape == _aggregated_shape(coords)
    assert jobs == (0 if from_footer else 1)


def test_parquet_coords_run_only_the_sweep_jobs(spark, tmp_path):
    """On a bare parquet scan the shape comes from the footer, so a call
    runs two jobs per sweep and nothing else (plus the distributed
    variant's a_blocks job)."""
    from paraslice_spark.operators.tensor import parafac_distributed

    sc = spark.sparkContext
    coords = spark.read.parquet(
        _write_parquet(_planted_coords(spark, seed=37), tmp_path / "c.parquet")
    )
    _, n = _jobs_in_group(
        sc, "cp-jobs-local-parquet",
        lambda: parafac(spark, coords, tol=0.0, max_iter=3, n_parts=3),
    )
    assert n == 2 * 3
    model, n = _jobs_in_group(
        sc, "cp-jobs-dist-parquet",
        lambda: parafac_distributed(spark, coords, tol=0.0, max_iter=3, n_parts=3),
    )
    model.a_blocks.unpersist()
    assert n == 2 * 3 + 1


@pytest.mark.parametrize("variant", ["parafac", "parafac_distributed"])
def test_parquet_and_in_memory_coords_fit_identically(spark, tmp_path, variant):
    """Where the shape comes from changes nothing downstream: the same
    tensor read from parquet gives the same fit trace, bit for bit."""
    from paraslice_spark.operators import tensor

    coords = _planted_coords(spark, seed=47, noise=0.3)
    on_disk = spark.read.parquet(_write_parquet(coords, tmp_path / "c.parquet"))
    fn = getattr(tensor, variant)
    models = [fn(spark, c, rank=3, tol=0.0, max_iter=3, seed=5, n_parts=3)
              for c in (coords, on_disk)]
    if variant == "parafac_distributed":
        for m in models:
            m.a_blocks.unpersist()
    assert models[0].fit_trace == models[1].fit_trace


@pytest.mark.parametrize("source", ["frame", "parquet"])
def test_negative_coordinate_rejected(spark, tmp_path, source):
    """A negative index would wrap round numpy's indexing and overwrite
    another cell of the slab; the shape step refuses it instead."""
    coords = _planted_coords(spark, seed=53).union(
        spark.createDataFrame([(1, -1, 0, 99.0)], "i long, j long, k long, v double")
    )
    if source == "parquet":
        coords = spark.read.parquet(_write_parquet(coords, tmp_path / "c.parquet"))
    with pytest.raises(ValueError, match="0-based"):
        tensor_shape(coords)
    with pytest.raises(ValueError, match="0-based"):
        parafac(spark, coords, max_iter=1)


@pytest.mark.parametrize("source", ["frame", "parquet"])
def test_empty_coords_rejected(spark, tmp_path, source):
    coords = spark.createDataFrame([], "i long, j long, k long, v double")
    if source == "parquet":
        coords = spark.read.parquet(_write_parquet(coords, tmp_path / "c.parquet"))
    with pytest.raises(ValueError, match="coords is empty"):
        tensor_shape(coords)
    with pytest.raises(ValueError, match="coords is empty"):
        parafac(spark, coords, max_iter=1)


@pytest.fixture
def broadcasts(spark, monkeypatch):
    """Every broadcast the test creates, PySpark's own included (it
    broadcasts any pickled task command above 1 MiB)."""
    sc = spark.sparkContext
    made = []
    real_broadcast = sc.broadcast

    def broadcast(value):
        made.append(real_broadcast(value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", broadcast)
    return made


@pytest.mark.parametrize("variant", ["parafac", "parafac_distributed"])
def test_early_stop_releases_slabs_and_broadcasts(spark, broadcasts, variant):
    """After a ``tol`` stop nothing the loop persisted stays behind except
    the distributed model's own a_blocks, and the small factors rode in
    the task closures, so there is no broadcast to release."""
    from paraslice_spark.operators import tensor

    sc = spark.sparkContext
    coords = _planted_coords(spark, seed=41)
    before = set(sc._jsc.getPersistentRDDs())
    model = getattr(tensor, variant)(spark, coords, tol=1.0, max_iter=10, n_parts=3)
    after = set(sc._jsc.getPersistentRDDs())
    assert model.n_iter == 2  # the first sweep that can compare fits stops
    assert broadcasts == []
    if variant == "parafac_distributed":
        assert after - before == {model.a_blocks.id()}
        model.a_blocks.unpersist()
    else:
        assert after - before == set()


def test_fixture_tensor_decomposes(spark):
    coords = tensor_build_coords(spark, SF_SMALL)
    model = parafac(spark, coords, rank=3, max_iter=10, seed=42)
    assert 0.0 < model.fit <= 1.0
    assert model.n_iter >= 2
    assert model.shape[1] == 5  # 5 event types


def _dense_from(spark_coords, shape):
    X = np.zeros(shape)
    for r in spark_coords.collect():
        X[r["i"], r["j"], r["k"]] = r["v"]
    return X


def test_tucker_factors_orthonormal(spark):
    from paraslice_spark.operators.tensor import tucker_hosvd

    coords = _planted_coords(spark, seed=3)
    m = tucker_hosvd(spark, coords, ranks=(3, 3, 3))
    assert np.allclose(m.B.T @ m.B, np.eye(3), atol=1e-10)
    assert np.allclose(m.C.T @ m.C, np.eye(3), atol=1e-10)
    # distributed A: gram of collected rows must be orthonormal too
    blocks = m.a_rows.collect()
    A = np.concatenate([rows for _, rows in blocks])
    assert np.allclose(A.T @ A, np.eye(3), atol=1e-8)


def test_tucker_full_rank_reconstructs_exactly(spark):
    """With untruncated ranks, HOSVD is an orthogonal change of basis —
    reconstruction must reproduce the tensor to float round-off."""
    from paraslice_spark.operators.tensor import tucker_hosvd

    si, sj, sk = 12, 6, 10
    coords = _planted_coords(spark, si=si, sj=sj, sk=sk, seed=5)
    X = _dense_from(coords, (si, sj, sk))
    m = tucker_hosvd(spark, coords, ranks=(si, sj, sk))
    ids = np.concatenate([i for i, _ in m.a_rows.collect()])
    A = np.concatenate([rows for _, rows in m.a_rows.collect()])
    # reorder rows into slice order
    A_full = np.zeros_like(A)
    A_full[ids] = A
    Xhat = np.einsum("ip,pqr,jq,kr->ijk", A_full, m.core, m.B, m.C)
    assert np.allclose(Xhat, X, atol=1e-8), np.abs(Xhat - X).max()


def test_tucker_energy_monotone_in_rank(spark):
    from paraslice_spark.operators.tensor import tucker_hosvd

    coords = _planted_coords(spark, seed=13)
    energies = [
        tucker_hosvd(spark, coords, ranks=(r, r, r)).energy for r in (1, 2, 3)
    ]
    total = float((_dense_from(coords, (12, 6, 10)) ** 2).sum())
    assert energies[0] <= energies[1] <= energies[2] <= total * (1 + 1e-9)
    # planted rank-3 tensor: 3 Tucker ranks capture everything
    assert energies[2] >= 0.999 * total


def test_tucker_model_owns_its_persisted_rdd(spark):
    """The fitted model's a_rows is the only RDD the fit leaves persisted,
    so forgetting its memo returns executor storage to its size before the
    fit."""
    from paraslice_spark import memo
    from paraslice_spark.operators.tensor import tucker_hosvd

    jsc = spark.sparkContext._jsc
    coords = _planted_coords(spark, seed=17)
    before = set(jsc.getPersistentRDDs())
    m = memo.memo(
        spark, SF_SMALL, "tucker_leak_test", lambda: tucker_hosvd(spark, coords)
    )
    assert set(jsc.getPersistentRDDs()) - before == {m.a_rows.id()}
    memo.forget(spark, SF_SMALL, "tucker_leak_test")
    assert set(jsc.getPersistentRDDs()) - before == set()


def test_tucker_releases_its_broadcasts(spark, broadcasts):
    """Tucker ships B, C and W in its task closures, so it makes no
    broadcast that could outlive the fit, and recomputing a_rows after it
    is unpersisted still finds them."""
    from paraslice_spark.operators.tensor import tucker_hosvd

    m = tucker_hosvd(spark, _planted_coords(spark, seed=19))
    assert broadcasts == []
    want = m.a_rows.collect()
    m.a_rows.unpersist()  # the next action recomputes from the coords
    got = m.a_rows.collect()
    assert [i.tolist() for i, _ in got] == [i.tolist() for i, _ in want]
    for (_, a), (_, b) in zip(got, want):
        np.testing.assert_array_equal(a, b)


def test_build_slices_ships_module_level_kernels(spark, tmp_path, monkeypatch):
    """The slab-build kernels of both readers are pickled by reference, so
    the slab stages' Python workers import the package and with it the
    worker set-up patch (``paraslice_spark.pyworker``)."""
    import pickle

    from pyspark import RDD

    coords = _planted_coords(spark, seed=23)
    shipped = []
    real_arrow, real_parts = type(coords).mapInArrow, RDD.mapPartitions

    def map_in_arrow(self, func, *args, **kwargs):
        shipped.append(func)
        return real_arrow(self, func, *args, **kwargs)

    def map_partitions(self, f, *args, **kwargs):
        shipped.append(f)
        return real_parts(self, f, *args, **kwargs)

    monkeypatch.setattr(type(coords), "mapInArrow", map_in_arrow)
    monkeypatch.setattr(RDD, "mapPartitions", map_partitions)
    build_slices(coords, tensor_shape(coords), n_parts=2, persist=False)
    assert [f.func.__name__ for f in shipped] == ["_to_slices", "_reassemble"]
    for f in shipped:
        pickle.dumps(f)  # the stdlib pickles functions only by reference

    # the parquet reader: two partial-bound kernels and the partition function
    real_partition_by = RDD.partitionBy

    def partition_by(self, n, func, *args, **kwargs):
        shipped.append(func)
        return real_partition_by(self, n, func, *args, **kwargs)

    monkeypatch.setattr(RDD, "partitionBy", partition_by)
    shipped.clear()
    on_disk = spark.read.parquet(_write_parquet(coords, tmp_path / "c.parquet"))
    build_slices(on_disk, tensor_shape(on_disk), n_parts=2, persist=False)
    names = [getattr(f, "func", f).__name__ for f in shipped]
    assert names == ["_read_groups", "_partition_id", "_slab_of_blocks"]
    for f in shipped:
        pickle.dumps(f)


def test_tucker_declared_query_runs(spark):
    from paraslice_spark.registry import QUERIES

    df = QUERIES["tucker_hosvd_core"](spark, SF_SMALL)
    rows = df.collect()
    assert len(rows) == 27  # 3x3x3 core
    assert all(r["core_abs"] >= 0 for r in rows)


# --------------------------------------------------------------------------
# The two slab readers (build_slices)
# --------------------------------------------------------------------------

_HASH_VALUES = {
    "short": [0, 1, -1, -(2**15), 2**15 - 1],
    "int": [0, 1, -1, -(2**31), 2**31 - 1],
    "long": [0, 1, -1, -(2**31), 2**31 - 1, 2**31, -(2**63), 2**63 - 1],
}


@pytest.mark.parametrize("dtype", sorted(_HASH_VALUES))
def test_spark_partition_matches_spark_hash(spark, dtype):
    """The parquet reader's numpy Murmur3 sends every value to the
    partition Spark's ``repartition(n, "i")`` picks, ``pmod(hash(i), n)``."""
    from paraslice_spark.operators.tensor import _spark_partition

    edges = _HASH_VALUES[dtype]
    lo, hi = min(edges), max(edges)
    rng = np.random.default_rng(59)
    values = edges + [int(x) for x in rng.integers(lo, hi, 500, endpoint=True)]
    ns = (1, 2, 3, 4, 7, 8)
    rows = (
        spark.createDataFrame([(x,) for x in values], f"x {dtype}")
        .select("x", *[F.expr(f"pmod(hash(x), {n})") for n in ns])
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype={"short": np.int16, "int": np.int32}.get(dtype, np.int64))
    for c, n in enumerate(ns, start=1):
        want = np.array([r[c] for r in rows])
        np.testing.assert_array_equal(_spark_partition(x, n, dtype == "long"), want)


def _shuffled_coords(si=40, sj=3, sk=5, seed=61):
    """A dense tensor's coords in seeded random row order, so each slice's
    rows spread over row groups and files."""
    rng = np.random.default_rng(seed)
    i, j, k = (a.ravel() for a in np.indices((si, sj, sk)))
    order = rng.permutation(len(i))
    return i[order], j[order], k[order], rng.standard_normal(len(i))


def _coords_table(i, j, k, v, int_type):
    import pyarrow as pa

    return pa.table({"i": pa.array(i, int_type), "j": pa.array(j, int_type),
                     "k": pa.array(k, int_type), "v": pa.array(v, pa.float64())})


def _row_groups(spark, tmp_path, int_type):
    import pyarrow.parquet as pq

    path = str(tmp_path / "c.parquet")
    pq.write_table(_coords_table(*_shuffled_coords(), int_type), path, row_group_size=70)
    assert pq.read_metadata(path).num_row_groups > 1
    return spark.read.parquet(path)


def _int32_row_groups(spark, tmp_path):
    import pyarrow as pa

    return _row_groups(spark, tmp_path, pa.int32())


def _int64_row_groups(spark, tmp_path):
    import pyarrow as pa

    return _row_groups(spark, tmp_path, pa.int64())


def _three_files_one_empty(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = _coords_table(*_shuffled_coords(), pa.int32())
    for n, (lo, hi) in enumerate(((0, 250), (250, 250), (250, table.num_rows))):
        pq.write_table(table.slice(lo, hi - lo), str(tmp_path / f"p{n}.parquet"), row_group_size=90)
    return spark.read.parquet(str(tmp_path))


def _partition_slabs(slabs):
    """Each partition's slab as (ids, X bytes), in partition order."""
    return [[(ids.tolist(), x.tobytes()) for ids, x in part] for part in slabs.glom().collect()]


@pytest.fixture
def arrow_calls(spark, monkeypatch):
    """Every ``mapInArrow`` call, i.e. every slab build by the DataFrame reader."""
    frame = type(spark.range(1))
    calls = []
    real = frame.mapInArrow

    def map_in_arrow(self, *args, **kwargs):
        calls.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInArrow", map_in_arrow)
    return calls


@pytest.mark.parametrize("n_parts", [1, 3, 8])
@pytest.mark.parametrize("make", [_int32_row_groups, _int64_row_groups, _three_files_one_empty])
def test_parquet_and_dataframe_slabs_identical(spark, tmp_path, arrow_calls, make, n_parts):
    """The parquet reader puts the same slices in the same partitions as
    the DataFrame reader's hash shuffle, in the same order, byte for byte."""
    coords = make(spark, tmp_path)
    shape = tensor_shape(coords)
    from_parquet = _partition_slabs(build_slices(coords, shape, n_parts, persist=False))
    assert arrow_calls == []
    projected = coords.select("i", "j", "k", "v")  # not a bare scan: the DataFrame reader
    from_frame = _partition_slabs(build_slices(projected, shape, n_parts, persist=False))
    assert len(arrow_calls) == 1
    assert from_parquet == from_frame
    assert len(from_parquet) == n_parts
    assert sorted(i for part in from_parquet for ids, _ in part for i in ids) == list(range(shape[0]))


def _decimal_value(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from decimal import Decimal

    i, j, k, v = _shuffled_coords()
    table = _coords_table(i, j, k, v, pa.int32()).set_column(
        3, "v", pa.array([Decimal(f"{x:.3f}") for x in v], pa.decimal128(9, 3))
    )
    pq.write_table(table, str(tmp_path / "c.parquet"))
    return spark.read.parquet(str(tmp_path / "c.parquet"))


def _null_i(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    i, j, k, v = _shuffled_coords()
    table = _coords_table(i, j, k, v, pa.int32()).set_column(
        0, "i", pa.array([None] + i[1:].tolist(), pa.int32())
    )
    pq.write_table(table, str(tmp_path / "c.parquet"))
    return spark.read.parquet(str(tmp_path / "c.parquet"))


@pytest.mark.parametrize(
    "make", [_selected, _filtered, _from_sql, _decimal_value, _null_i]
)
def test_slab_build_falls_back_to_dataframe(spark, tmp_path, arrow_calls, make):
    """Only a bare parquet scan with null-free integer ``i``/``j``/``k`` and
    a non-decimal numeric ``v`` skips the DataFrame reader."""
    if make in (_selected, _filtered, _from_sql):
        coords = make(spark, tmp_path, _planted_coords(spark, seed=67))
    else:
        coords = make(spark, tmp_path)
    build_slices(coords, (40, 3, 5), n_parts=3, persist=False)
    assert len(arrow_calls) == 1


def test_parquet_slab_build_runs_no_sql(spark, tmp_path):
    """Building from parquet starts no SQL execution and its jobs read no
    input through the JVM: the row groups go straight to Python tasks.
    The DataFrame reader's scan stage reads the file in the JVM."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    store = sc._jsc.sc().statusStore()

    def build(coords, group):
        shape = tensor_shape(coords)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = sql.executionsCount()
        _jobs_in_group(
            sc, group, lambda: build_slices(coords, shape, n_parts=3, persist=False).count()
        )
        stages = [
            s for j in sc.statusTracker().getJobIdsForGroup(group)
            for s in sc.statusTracker().getJobInfo(j).stageIds
        ]
        read = sum(store.lastStageAttempt(s).inputBytes() for s in stages)
        return sql.executionsCount() - before, read

    coords = _int32_row_groups(spark, tmp_path)
    assert build(coords, "slabs-parquet") == (0, 0)
    assert build(coords.select("i", "j", "k", "v"), "slabs-frame")[1] > 0


@pytest.mark.parametrize("n_parts", [1, 3])
@pytest.mark.parametrize("source", ["frame", "parquet"])
def test_duplicate_cells_are_summed(spark, tmp_path, source, n_parts):
    """Rows naming the same (i, j, k) cell add up in the slab, the SUM rule
    of tensor_build_coords, instead of the shuffle order picking one."""
    rows = [
        (i, j, k, float(1 + i + j + k)) for i in range(6) for j in range(3) for k in range(4)
    ] + [(2, 1, 3, 100.0)]
    coords = spark.createDataFrame(rows, "i long, j long, k long, v double")
    if source == "parquet":
        coords = spark.read.parquet(_write_parquet(coords, tmp_path / "c.parquet"))
    slabs = build_slices(coords, tensor_shape(coords), n_parts, persist=False)
    assert slabs.map(lambda it: float(it[1].sum())).sum() == sum(r[3] for r in rows) == 532.0
