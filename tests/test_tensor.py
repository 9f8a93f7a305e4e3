"""Property tests for CP-ALS (SURVEY §5.2 layer 2, §2.5 T1-T8)."""

from __future__ import annotations

import numpy as np
import pytest

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
    the CP-ALS cost model: one shape job, then two aggregates per sweep;
    the distributed variant adds one job that materializes a_blocks."""
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


@pytest.mark.parametrize("variant", ["parafac", "parafac_distributed"])
def test_early_stop_releases_slabs_and_broadcasts(spark, monkeypatch, variant):
    """After a ``tol`` stop nothing the loop persisted or broadcast stays
    behind except the distributed model's own a_blocks."""
    from pyspark.broadcast import Broadcast

    from paraslice_spark.operators import tensor

    sc = spark.sparkContext
    made, released = [], set()
    real_broadcast, real_unpersist = sc.broadcast, Broadcast.unpersist

    def broadcast(value):
        made.append(real_broadcast(value))
        return made[-1]

    def unpersist(self, blocking=False):
        released.add(id(self))
        return real_unpersist(self, blocking)

    monkeypatch.setattr(sc, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    coords = _planted_coords(spark, seed=41)
    before = set(sc._jsc.getPersistentRDDs())
    model = getattr(tensor, variant)(spark, coords, tol=1.0, max_iter=10, n_parts=3)
    after = set(sc._jsc.getPersistentRDDs())
    assert model.n_iter == 2  # the first sweep that can compare fits stops
    assert made and all(id(b) in released for b in made)
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


def test_tucker_declared_query_runs(spark):
    from paraslice_spark.registry import QUERIES

    df = QUERIES["tucker_hosvd_core"](spark, SF_SMALL)
    rows = df.collect()
    assert len(rows) == 27  # 3x3x3 core
    assert all(r["core_abs"] >= 0 for r in rows)
