"""The operations a workload runs, each split into construct, materialize and
an output check that runs outside the timed region.

Queries go through ``registry.QUERIES[name](spark, sf_dir)`` (construct)
and ``DataFrame.toPandas()`` (materialize), so the rows that were timed are
the rows that get checked.  Tensor fits go through
``operators.tensor.parafac`` / ``parafac_distributed`` on the coords
DataFrame read from the generated parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

#: ALS initialisation seed passed to both fit variants.
ALS_SEED = 7
#: Floor on parafac's reported fit at the workload's iteration count.
FIT_FLOOR = 0.98
#: Largest allowed gap between the reported fit and a numpy recomputation.
FIT_TOL = 1e-6


@dataclass
class Op:
    name: str
    module: str
    construct: Callable[[Any], Any]
    materialize: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    release: Callable[[Any], None] = field(default=lambda result: None)


def _rows_problem(cols, rows, want_cols, want_rows) -> str | None:
    if cols != want_cols:
        return f"columns differ: got {cols}, expected {want_cols}"
    if rows != want_rows:
        bad = next((i for i, (a, b) in enumerate(zip(rows, want_rows)) if a != b), None)
        return f"rows differ: got {len(rows)}, expected {len(want_rows)}, first mismatch at {bad}"
    return None


def query_ops(names, data_dir: str, expected: dict[str, dict]) -> list[Op]:
    """One op per declared query.  A query with a DuckDB oracle must match
    the oracle's canonical rows; one without (the ANN / embedding-dedup
    queries) must return the same rows on every execution of the run."""
    from paraslice_spark.registry import QUERIES
    from tests.oracle_harness import canonical_rows

    def make(name: str) -> Op:
        fn = QUERIES[name]
        want = expected.get(name)
        first_seen: dict[str, tuple] = {}

        def check(pdf) -> str | None:
            cols, rows = canonical_rows(pdf)
            rows = [list(r) for r in rows]
            if want is not None:
                return _rows_problem(cols, rows, want["cols"], want["rows"])
            ref = first_seen.setdefault("rows", (cols, rows))
            return _rows_problem(cols, rows, *ref)

        return Op(
            name=name,
            module=fn.__module__.removeprefix("paraslice_spark."),
            construct=lambda spark: fn(spark, data_dir),
            materialize=lambda df: df.toPandas(),
            check=check,
        )

    return [make(n) for n in names]


def recomputed_fit(x: np.ndarray, a: np.ndarray, b: np.ndarray, c: np.ndarray, lam: np.ndarray) -> float:
    xhat = np.einsum("ir,jr,kr->ijk", a * lam, b, c)
    return float(1.0 - np.linalg.norm(x - xhat) / np.linalg.norm(x))


def tensor_ops(spec, data_dir: str, cores: int, with_layers: bool) -> list[Op]:
    """Both CP-ALS variants at the workload's iteration count.  The traced
    run adds the 1-iteration fits (seconds per iteration is the difference)
    and a bare slab build."""
    from paraslice_spark.operators.tensor import (
        build_slices, parafac, parafac_distributed, tensor_shape,
    )

    path = os.path.join(data_dir, "coords.parquet")
    x = np.load(os.path.join(data_dir, "tensor.npy"))

    def read(spark):
        return spark, spark.read.parquet(path)

    def fit_op(variant: str, iters: int) -> Op:
        dist = variant == "parafac_distributed"
        fn = parafac_distributed if dist else parafac

        def materialize(ctx):
            spark, coords = ctx
            return fn(spark, coords, rank=spec.rank, tol=0.0, max_iter=iters,
                      seed=ALS_SEED, n_parts=cores)

        def check(model) -> str | None:
            if dist:
                a = np.zeros((x.shape[0], spec.rank))
                for ids, block in model.a_blocks.collect():
                    a[ids] = block
            else:
                a = model.A
            fit = recomputed_fit(x, a, model.B, model.C, model.lam)
            if model.n_iter != iters:
                return f"ran {model.n_iter} iterations, asked for {iters}"
            if abs(fit - model.fit) > FIT_TOL:
                return f"reported fit {model.fit!r} but factors give {fit!r}"
            if not dist and iters == spec.iters and model.fit < FIT_FLOOR:
                return f"fit {model.fit:.6f} below {FIT_FLOOR}"
            return None

        def release(model) -> None:
            if dist:
                model.a_blocks.unpersist()

        return Op(f"{variant}@{iters}", "operators.tensor", read, materialize, check, release)

    ops = [fit_op("parafac", spec.iters), fit_op("parafac_distributed", spec.iters)]
    if with_layers:
        ops += [fit_op("parafac", 1), fit_op("parafac_distributed", 1)]

        def slab_build(ctx):
            _, coords = ctx
            shape = tensor_shape(coords)
            slabs = build_slices(coords, shape, cores)
            return shape, slabs, slabs.count()

        def slab_check(res) -> str | None:
            shape, _, n = res
            return None if tuple(shape) == x.shape and n > 0 else f"slabs {shape} x {n}"

        ops.append(Op("slab_build", "operators.tensor", read, slab_build, slab_check,
                      lambda res: res[1].unpersist()))
    return ops


def failing_op(kind: str) -> Op:
    """An operation that fails on purpose, for the self-test: ``raise``
    raises during materialize, ``wrong`` returns a result its check rejects."""

    def materialize(_):
        if kind == "raise":
            raise RuntimeError("injected failure")
        return None

    return Op(f"injected_{kind}", "injected", lambda spark: None, materialize,
              lambda result: "injected wrong result")
