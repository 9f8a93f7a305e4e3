"""Tensor / PARAFAC operators (SURVEY §2.5 T1-T8): distributed CP-ALS.

The reference system's core capability (slice-distributed CANDECOMP/PARAFAC
per Aggour/Gittens/Yener, IEEE BigData 2018 — reference checkout empty, see
SURVEY §0; semantics follow the published CP-ALS algorithm). Re-expressed
Spark-first:

- **T1** builds a deterministic 3-way tensor relationally from ``events``
  (user × event_type × hour → sum(value)) — declared with a SQL oracle.
- **T2** partitions coordinates into dense mode-0 slice slabs: one RDD
  element = ``(slice_ids, np.ndarray(m, J, K))`` per partition — the
  reference's namesake layout, BLAS-friendly, cached across iterations.
  Slice ``i`` lives in partition ``pmod(Murmur3(i), n_parts)``, Spark's
  hash partitioning, and rows naming one cell are summed.  Two readers
  build byte-identical slabs: a bare parquet scan with plain, null-free
  integer coordinates is read by Python tasks straight from its row
  groups, which hash ``i`` themselves and ship one packed block per
  (row group, slab partition) — no SQL plan, no row shuffle in the JVM;
  any other frame goes through ``repartition`` and ``mapInArrow``
  (:func:`build_slices` says why that reader stays).
- **T3-T6** per-sweep kernels, two aggregate jobs over the resident slabs
  (each Spark job has a fixed scheduling cost, so sweep time is a job
  count): job 1 runs the partition-local mode-0 update (each slab owns its
  rows of A) and returns ΣAᵀA and the mode-1 MTTKRP partial, with ‖X‖²
  folded into sweep 1; job 2 returns the mode-2 partial, recomputing the A
  rows from the slab rather than storing a second slab copy.  Network
  carries O(dim×R), never O(IJK); the driver does the R×R Gram/pinv solves,
  folds A's column normalization into the Gram (Ã = A·D⁻¹), and uses the
  cheap-fit identity ``‖X−X̂‖² = ‖X‖² − 2⟨M2, C̃⟩ + λᵀ(ÃᵀÃ∘BᵀB∘CᵀC)λ``
  (no reconstruction).
- **T7/T8** one ALS loop (``_cp_als``) behind ``parafac`` (A collected to
  the driver) and ``parafac_distributed`` (A stays row-partitioned) +
  factor export joined back to natural keys.

100 TB discipline (SURVEY §2.5): raw tensor data stays partitioned for the
whole run; only factors (O(max_dim×R)) and Grams (O(R²)) cross the
cluster/driver boundary.  The small factors ride in the task closures as
default arguments, never in a ``sc.broadcast`` of ours: PySpark itself
ships any pickled command above ``spark.broadcast.UDFCompressionThreshold``
(1 MiB) as a broadcast, so a large factor still travels once per executor,
and nothing is left to unpersist.  A bare parquet scan of the coords is
sized from its footer statistics, read once per call for the shape and
the slab reader, so a call runs no Spark job before the sweeps
(:func:`tensor_shape`).

Python-task floor: each task of these short stages first runs PySpark's
worker set-up, whose ``importlib.invalidate_caches()`` re-reads every zip
archive on the worker's path on CPython < 3.13 (0.16-0.43 s per task on
PySpark 4.1.2 / CPython 3.11.7, 4-core box).
:mod:`paraslice_spark.pyworker` skips the re-read for unchanged archives
once a worker has imported the package, so every CP-ALS stage ships code
pickled by reference: the slab-build kernels are module-level functions
bound with ``functools.partial``, and the sweep closures call
:func:`_a_rows`.  Unpickling either imports the package.  The general rule
for a kernel that is a closure is :func:`paraslice_spark.pyworker.by_ref`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from itertools import groupby
from operator import itemgetter

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)

from paraslice_spark.memo import memo
from paraslice_spark.registry import query
from paraslice_spark.sources.io import ParquetFooters, load_tables, parquet_footers

_HOUR_US = 3_600_000_000

#: SQL twin of the T1 dense-index cell table — the ONE CTE chain shared by
#: the tensor_slices and tensor_mode_skew_profile oracles (single-source
#: rule: both probes must mean the same cells or a builder edit would
#: desynchronize them while each still passed its own oracle).
_CELLS_SQL = """
    e AS (
      SELECT user_id, event_type,
             epoch_us(date_trunc('microseconds', ts)) // 3600000000 AS hour_abs,
             CAST(round(value * 1000000) AS BIGINT) AS vmic
      FROM events
    ),
    idx AS (
      SELECT vmic,
             dense_rank() OVER (ORDER BY user_id) - 1   AS i,
             dense_rank() OVER (ORDER BY event_type) - 1 AS j,
             dense_rank() OVER (ORDER BY hour_abs) - 1   AS k
      FROM e
    ),
    cells AS (
      SELECT i, j, k, CAST(SUM(vmic) AS BIGINT) AS vm
      FROM idx GROUP BY i, j, k
    )
"""


@query(
    "tensor_build_coords",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(date_trunc('microseconds', ts)) // 3600000000 AS hour_abs,
             CAST(round(value * 1000000) AS BIGINT) AS vmic
      FROM events
    ),
    idx AS (
      SELECT user_id, event_type, hour_abs, vmic,
             dense_rank() OVER (ORDER BY user_id) - 1   AS i,
             dense_rank() OVER (ORDER BY event_type) - 1 AS j,
             dense_rank() OVER (ORDER BY hour_abs) - 1   AS k
      FROM e
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, CAST(k AS BIGINT) AS k,
           CAST(SUM(vmic) AS DOUBLE) / 1000000.0 AS v
    FROM idx GROUP BY i, j, k
    """,
)
def tensor_build_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: coordinate tensor (i=user, j=event_type, k=hour) with dense
    0-based indices and exact micro-unit value sums.

    The dense_rank dictionaries are fine at fixture scale; at 100 TB the
    dimension dictionaries come from ``distinct → monotonically increasing
    id broadcast maps`` instead of a global window — same output contract.
    """
    ev = load_tables(spark, sf_dir)["events"]

    e = ev.select(
        "user_id",
        "event_type",
        # integer `div`, never float `/` (io.py:51 rule) — bit-exact on int64
        F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hour_abs"),
        F.round(F.col("value") * 1000000).cast("long").alias("vmic"),
    )

    # dictionary-encode each dimension on its DISTINCT values (tiny), then
    # broadcast-join back — a global window over the fact rows would funnel
    # everything through one partition (measured 3×3s at sf0.1; unusable at
    # 100 TB). dense_rank over the distinct set ≡ dense_rank over the facts.
    def dim_map(col: str, alias: str):
        return e.select(col).distinct().select(
            col,
            (F.dense_rank().over(Window.orderBy(col)) - 1).cast("long").alias(alias),
        )

    idx = (
        e.join(F.broadcast(dim_map("user_id", "i")), "user_id")
        .join(F.broadcast(dim_map("event_type", "j")), "event_type")
        .join(F.broadcast(dim_map("hour_abs", "k")), "hour_abs")
    )
    return idx.groupBy("i", "j", "k").agg(
        (F.sum("vmic").cast("double") / 1000000.0).alias("v")
    )


#: Columns of a coords frame, in the order the slab kernels take them.
_COORDS = ("i", "j", "k", "v")
#: Spark types of a coordinate column the parquet reader hashes itself:
#: ``True`` where Spark's Murmur3 hashes the value as a long.
_HASHED_AS_LONG = {ByteType: False, ShortType: False, IntegerType: False, LongType: True}
_VALUE_TYPES = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)


def _footers(coords: DataFrame) -> ParquetFooters | None:
    return parquet_footers(coords, _COORDS[:3], _COORDS[3:])


def tensor_shape(coords: DataFrame) -> tuple[int, int, int]:
    """Dense dims ``max + 1`` per mode of 0-based coords.

    A bare parquet scan is sized from its footer statistics with no Spark
    job (:func:`~paraslice_spark.sources.io.parquet_footers`); any other
    frame, or one whose footers lack the statistics, runs one aggregate.
    Either way the minima come along, because a negative index would wrap
    round numpy's indexing in the slab scatter and land in another cell.
    Raises ``ValueError`` for empty coords and for a negative coordinate."""
    return _shape(coords, _footers(coords))


def _shape(coords: DataFrame, footers: ParquetFooters | None) -> tuple[int, int, int]:
    if footers is None:
        row = coords.agg(*[F.min(c) for c in _COORDS[:3]], *[F.max(c) for c in _COORDS[:3]]).first()
        lo, hi = list(row[:3]), list(row[3:])
    else:
        lo, hi = footers.lo, footers.hi
    if None in hi:
        raise ValueError("tensor_shape: coords is empty, no (i, j, k) cell to size a tensor from")
    if min(lo) < 0:
        raise ValueError(
            f"tensor_shape: coords must be 0-based, got min (i, j, k) = {tuple(int(v) for v in lo)}"
        )
    return tuple(int(v) + 1 for v in hi)


def _scatter(i, j, k, v, sj: int, sk: int) -> tuple[np.ndarray, np.ndarray]:
    """T2 scatter, the one kernel both slab readers share: one partition's
    coordinates as ``(ids, X)``, ``ids`` its sorted distinct slice ids and
    ``X[t]`` the dense J×K slice ``ids[t]``.

    Rows that share an ``(i, j, k)`` cell are summed, the SUM rule of
    :func:`tensor_build_coords`; a cell no row names holds 0.0.  The sum
    starts from 0.0, so a single ``-0.0`` value is stored as ``0.0``."""
    ids, inv = np.unique(i, return_inverse=True)
    cell = (inv * sj + j.astype(np.int64)) * sk + k
    X = np.bincount(cell, weights=v, minlength=len(ids) * sj * sk)
    return ids.astype(np.int64), X.reshape(len(ids), sj, sk)


def _to_slices(batches, sj: int, sk: int):
    """T2 Arrow kernel of the DataFrame reader: scatter one partition's
    coordinate batches into its slab, emitted as ``(id, payload)`` batches
    of ≤64 slices."""
    import pyarrow as pa

    cols: list[list[np.ndarray]] = [[] for _ in _COORDS]
    for b in batches:
        for c, name in zip(cols, _COORDS):
            c.append(b.column(name).to_numpy(zero_copy_only=False))
    if not cols[0]:
        return
    ids, slab = _scatter(*map(np.concatenate, cols), sj, sk)
    for lo in range(0, len(ids), 64):
        hi = min(lo + 64, len(ids))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids[lo:hi], type=pa.int64()),
                pa.array(
                    [slab[t].tobytes() for t in range(lo, hi)],
                    type=pa.binary(),
                ),
            ],
            names=["id", "payload"],
        )


def _reassemble(rows, sj: int, sk: int):
    """T2 RDD kernel of the DataFrame reader: stack one partition's
    ``(id, payload)`` rows into the batched slab ``(ids, X)``."""
    ids: list[int] = []
    mats: list[np.ndarray] = []
    for r in rows:
        ids.append(r[0])
        mats.append(
            np.frombuffer(bytes(r[1]), dtype=np.float64).reshape(sj, sk)
        )
    if ids:
        yield np.asarray(ids, dtype=np.int64), np.stack(mats)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix(h: np.ndarray, word: np.ndarray) -> np.ndarray:
    k = _rotl(word * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    return _rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def _spark_partition(x: np.ndarray, n_parts: int, as_long: bool) -> np.ndarray:
    """Spark's ``pmod(hash(x), n_parts)`` for an integer column, i.e. the
    partition ``repartition(n_parts, x)`` sends each value to: Murmur3
    x86_32 with seed 42 (``Murmur3_x86_32.hashInt`` for byte, short and
    int columns, ``hashLong`` for long ones), vectorized over uint32."""
    if as_long:
        w = x.astype(np.int64).view(np.uint64)
        h = _mix(_mix(np.uint32(42), w.astype(np.uint32)), (w >> np.uint64(32)).astype(np.uint32))
        h ^= np.uint32(8)
    else:
        h = _mix(np.uint32(42), x.astype(np.int32).view(np.uint32))
        h ^= np.uint32(4)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return np.mod(h.view(np.int32).astype(np.int64), n_parts)


def _read_groups(groups, n_parts: int, as_long: bool):
    """T2 kernel of the parquet reader: read this task's row groups with
    pyarrow, one at a time, and cut each into the rows of every slab
    partition (:func:`_spark_partition` of ``i``), emitted as
    ``(partition, (i, j, k, v))`` records."""
    import pyarrow.parquet as pq
    from pyarrow import fs

    for uri, items in groupby(groups, key=itemgetter(0)):
        filesystem, path = fs.FileSystem.from_uri(uri)
        with pq.ParquetFile(path, filesystem=filesystem) as f:
            for _, g in items:
                table = f.read_row_group(g, columns=list(_COORDS))
                cols = [table.column(c).to_numpy() for c in _COORDS]
                part = _spark_partition(cols[0], n_parts, as_long)
                order = np.argsort(part, kind="stable")
                cut = np.searchsorted(part[order], np.arange(n_parts + 1))
                for p in range(n_parts):
                    if cut[p] < cut[p + 1]:
                        rows = order[cut[p] : cut[p + 1]]
                        yield p, tuple(c[rows] for c in cols)


def _partition_id(p: int) -> int:
    return p


def _slab_of_blocks(records, sj: int, sk: int):
    """T2 kernel of the parquet reader: scatter one slab partition's
    coordinate blocks into its batched slab ``(ids, X)``."""
    blocks = [block for _, block in records]
    if blocks:
        yield _scatter(*(np.concatenate(c) for c in zip(*blocks)), sj, sk)


def _parquet_hash(coords: DataFrame, footers: ParquetFooters | None) -> bool | None:
    """How the parquet reader hashes ``i`` (``True``: as a long), or
    ``None`` when the slabs must come from the DataFrame: the coords are not
    a bare parquet scan with footer statistics, ``i``/``j``/``k`` are not
    plain integer columns free of nulls, or ``v`` is not a plain number."""
    if footers is None or footers.nulls != [0, 0, 0]:
        return None
    types = {f.name: type(f.dataType) for f in coords.schema.fields}
    if any(types.get(c) not in _HASHED_AS_LONG for c in _COORDS[:3]):
        return None
    if types.get("v") not in _VALUE_TYPES:
        return None
    return _HASHED_AS_LONG[types["i"]]


def build_slices(
    coords: DataFrame,
    shape: tuple[int, int, int],
    n_parts: int = 8,
    persist: bool = True,
):
    """T2: coords -> RDD of BATCHED slabs: one element per partition,
    ``(ids: np.ndarray(m,), X: np.ndarray(m, J, K))`` — all mode-0 slices
    of that partition stacked into one dense block.

    Batching is the reference's key layout trick (SURVEY §1.1): per-slice
    Python/serialization overhead disappears and every MTTKRP becomes a
    single batched BLAS call per partition (measured ~3× per-iteration
    speed-up over slice-at-a-time at sf0.1). Slabs stay resident
    (MEMORY_AND_DISK) across all ALS iterations; hash-partitioning on the
    slice id spreads a skewed mode uniformly.  Rows that name the same
    cell are summed (:func:`_scatter`).

    Two readers build the same slabs.  Slice ``i`` lands in partition
    ``pmod(Murmur3(i, 42), n_parts)``, Spark's ``repartition(n_parts, "i")``,
    and each slab lists its slices in ascending id, so both readers give
    byte-identical slabs in the same partitions:

    - **parquet**: when ``coords`` is a bare parquet scan whose footers
      record integer statistics and no null for ``i``/``j``/``k``, with
      plain integer ``i``/``j``/``k`` and a non-decimal numeric ``v``,
      Python tasks read the row groups with pyarrow, hash ``i``
      themselves (:func:`_spark_partition`) and send one packed
      coordinate block per (row group, slab partition) through
      ``partitionBy``: no SQL plan, no file scan in the JVM and no row
      handed over one by one.  The executors must be able to open the
      files the driver listed.
    - **DataFrame**: any other frame (a projection, filter or SQL view, a
      computed tensor such as :func:`tensor_build_coords`, another format)
      goes through ``repartition(n_parts, "i")`` and a ``mapInArrow``
      scatter (:func:`_to_slices`), then one pickled row per slice
      through ``.rdd`` (:func:`_reassemble`).  Output batches are chunked
      ≤64 slices so no RecordBatch approaches Arrow's 2 GiB int32-offset
      binary limit.  This reader stays for computed coords: packing per
      target partition inside ``mapInArrow`` and then ``partitionBy``,
      instead of the row shuffle, made the slab build slower on every
      input measured (0.57–0.75 s → 0.65–1.01 s on 4 cores; ROADMAP
      direction 3), because the rows still reach Python one Arrow batch
      at a time through the JVM.
    """
    return _slabs(coords, shape, n_parts, persist, _footers(coords))


def _shape_and_slabs(coords: DataFrame, n_parts: int, persist: bool = True):
    """:func:`tensor_shape` and :func:`build_slices` on one footer read."""
    footers = _footers(coords)
    shape = _shape(coords, footers)
    return shape, _slabs(coords, shape, n_parts, persist, footers)


def _slabs(
    coords: DataFrame,
    shape: tuple[int, int, int],
    n_parts: int,
    persist: bool,
    footers: ParquetFooters | None,
):
    _, sj, sk = shape
    as_long = _parquet_hash(coords, footers)
    if as_long is None:
        packed = (
            coords.select(*_COORDS)
            .repartition(n_parts, "i")
            .mapInArrow(partial(_to_slices, sj=sj, sk=sk), "id long, payload binary")
        )
        # .rdd here is partition-preserving (no shuffle); each RDD partition
        # reassembles exactly one slab group.
        rdd = packed.rdd.mapPartitions(partial(_reassemble, sj=sj, sk=sk))
    else:
        sc = coords.sparkSession.sparkContext
        groups = footers.row_groups
        rdd = (
            sc.parallelize(groups, max(1, min(len(groups), sc.defaultParallelism)))
            .mapPartitions(partial(_read_groups, n_parts=n_parts, as_long=as_long))
            .partitionBy(n_parts, _partition_id)
            .mapPartitions(partial(_slab_of_blocks, sj=sj, sk=sk))
        )
    # persist=False for single-pass consumers (tensor_slices) — only the
    # ALS loop re-reads slabs.
    if persist:
        rdd = rdd.persist(StorageLevel.MEMORY_AND_DISK)
    return rdd


def _solve(mttkrp: np.ndarray, gram_prod: np.ndarray) -> np.ndarray:
    """T4: factor update — driver-local R×R pseudo-inverse."""
    return mttkrp @ np.linalg.pinv(gram_prod)


def _normalize(factor: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """T5: column-normalize, return (normalized, column norms λ)."""
    lam = np.linalg.norm(factor, axis=0)
    lam[lam == 0] = 1.0
    return factor / lam, lam


def _a_rows(x: np.ndarray, B: np.ndarray, C: np.ndarray, pinv: np.ndarray):
    """T3 mode-0 update of one batched slab X (m×J×K): its raw rows of A,
    ``((X·C) ∘ B).sum_j @ pinv((BᵀB)∘(CᵀC))``.  Each slab owns exactly its
    mode-0 rows, so the update reads no other slab.  Returns ``(X·C, A rows)``
    so the caller can reuse X·C for the mode-1 partial."""
    xc = x @ C  # (m, J, R)
    return xc, (xc * B[None, :, :]).sum(axis=1) @ pinv


def _aggregate(rdd, zero, seq, comb, numel: int):
    # partials are small: a flat aggregate (one stage) beats the tree's
    # extra combiner stage. The tree matters when the partials are MB-sized
    # and the driver would otherwise ingest n_parts of them.
    if numel <= 1_000_000:
        return rdd.aggregate(zero, seq, comb)
    return rdd.treeAggregate(zero, seq, comb, depth=2)


@dataclass
class CPModel:
    """T7 output: driver-local factors (O(dim×R) each) + fit trace."""

    A: np.ndarray
    B: np.ndarray
    C: np.ndarray
    lam: np.ndarray
    fit: float
    n_iter: int
    fit_trace: list = field(default_factory=list)
    shape: tuple = ()


@dataclass
class CPModelDist:
    """T7-dist output: mode-0 factor stays row-partitioned on the cluster —
    ``a_blocks`` is an RDD of ``(ids, A_block)`` (normalized, λ-ordered
    columns); only B, C, λ and the fit trace are driver-local."""

    a_blocks: object  # RDD[(np.ndarray(m,), np.ndarray(m, R))]
    B: np.ndarray
    C: np.ndarray
    lam: np.ndarray
    fit: float
    n_iter: int
    fit_trace: list = field(default_factory=list)
    shape: tuple = ()


def _cp_als(
    coords: DataFrame,
    rank: int,
    tol: float,
    max_iter: int,
    seed: int,
    n_parts: int,
    distributed: bool,
) -> CPModel | CPModelDist:
    """T3-T7: the CP-ALS loop behind :func:`parafac` and
    :func:`parafac_distributed`.

    Every sweep runs two aggregate jobs over the persisted slabs, since each
    Spark job carries a fixed scheduling cost that dwarfs the numpy work:

    1. each slab computes its raw A rows (:func:`_a_rows`) and returns the
       Gram ΣAᵀA and the mode-1 partial M1 = Σ (X·C)∘A — plus ‖X‖² in sweep
       1, and the A rows themselves when A is driver-local;
    2. each slab recomputes its A rows from X with the same B, C and pinv
       and returns the mode-2 partial M2 = Σ (Xᵀ·B)∘A — one (m,J,K)@(K,R)
       matmul instead of a second, persisted copy of the slabs.

    A is never normalized in place: its column scales D = sqrt(diag(AᵀA))
    are divided out of the Gram and the partials on the driver (Ã = A·D⁻¹
    ⇒ M̃ = M·D⁻¹), algebraically the normalized update.  The fit uses the
    Gram identity ‖X−X̂‖² = ‖X‖² − 2⟨M2, C̃⟩ + λᵀ(ÃᵀÃ∘BᵀB∘CᵀC)λ — no
    reconstruction pass."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be at least 1, got {max_iter}")
    shape, slabs = _shape_and_slabs(coords, n_parts)
    si, sj, sk = shape

    rng = np.random.default_rng(seed)
    if not distributed:
        rng.standard_normal((si, rank))  # unused initial A: keeps B, C per seed
    B, _ = _normalize(rng.standard_normal((sj, rank)))
    C, _ = _normalize(rng.standard_normal((sk, rank)))
    a_dim = 0 if distributed else si  # rows of A collected by job 1

    norm_x_sq = 0.0
    fit_prev, fit, trace = 0.0, 0.0, []
    for it in range(1, max_iter + 1):
        pinv = np.linalg.pinv((B.T @ B) * (C.T @ C))

        def seq1(acc, item, _p=pinv, _B=B, _C=C, _first=it == 1):
            gram, m1, nx, a_acc = acc
            ids, x = item
            xc, a = _a_rows(x, _B, _C, _p)
            if a_dim:
                a_acc[ids] = a
            if _first:
                nx += float((x**2).sum())
            return gram + a.T @ a, m1 + (xc * a[:, None, :]).sum(axis=0), nx, a_acc

        zero = (np.zeros((rank, rank)), np.zeros((sj, rank)), 0.0, np.zeros((a_dim, rank)))
        gram_raw, m1, nx, a_raw = _aggregate(
            slabs, zero, seq1, lambda p, q: tuple(u + v for u, v in zip(p, q)),
            (rank + sj + a_dim) * rank,
        )
        if it == 1:
            norm_x_sq = nx

        d = np.sqrt(np.diag(gram_raw))
        d[d == 0] = 1.0
        gram_a = gram_raw / np.outer(d, d)  # ÃᵀÃ
        B_new, _ = _normalize(_solve(m1 / d, gram_a * (C.T @ C)))

        def seq2(acc, item, _p=pinv, _B=B, _C=C, _B2=B_new):
            _ids, x = item
            _, a = _a_rows(x, _B, _C, _p)
            return acc + ((np.swapaxes(x, 1, 2) @ _B2) * a[:, None, :]).sum(axis=0)

        m2 = _aggregate(slabs, np.zeros((sk, rank)), seq2, np.add, sk * rank) / d
        c_raw = _solve(m2, gram_a * (B_new.T @ B_new))
        a_args = (B, C, pinv)  # this sweep's A rows: _a_rows(x, *a_args)[1]
        B = B_new
        C, lam = _normalize(c_raw)

        # T6 cheap fit: ⟨X,X̂⟩ = Σ M2∘C̃ ;  ‖X̂‖² = λᵀ(ÃᵀÃ∘BᵀB∘CᵀC)λ
        inner = float((m2 * c_raw).sum())
        norm_model_sq = float(lam @ ((gram_a * (B.T @ B) * (C.T @ C)) @ lam))
        resid_sq = max(0.0, norm_x_sq - 2.0 * inner + norm_model_sq)
        fit = 1.0 - np.sqrt(resid_sq) / np.sqrt(norm_x_sq)
        trace.append(fit)

        if it > 1 and abs(fit - fit_prev) < tol:
            break
        fit_prev = fit

    # canonical order: components by λ descending (deterministic tiebreak
    # not needed — λ ties have measure zero with random init)
    order = np.argsort(-lam)
    done = dict(
        B=B[:, order], C=C[:, order], lam=lam[order],
        fit=float(fit), n_iter=it, fit_trace=trace, shape=shape,
    )
    if distributed:
        a_blocks = slabs.map(
            lambda t: (t[0], (_a_rows(t[1], *a_args)[1] / d)[:, order])
        ).persist(StorageLevel.MEMORY_AND_DISK)
        a_blocks.count()  # materialize before releasing the slabs
        slabs.unpersist()
        return CPModelDist(a_blocks=a_blocks, **done)
    slabs.unpersist()
    return CPModel(A=(a_raw / d)[:, order], **done)


def parafac(
    spark: SparkSession,
    coords: DataFrame,
    rank: int = 3,
    tol: float = 1e-6,
    max_iter: int = 25,
    seed: int = 42,
    n_parts: int = 8,
) -> CPModel:
    """T7: CP-ALS with every factor driver-local (SURVEY §3.3 lifecycle).

    Control never leaves the driver; each sweep is two aggregate jobs over
    the resident slabs (see :func:`_cp_als`), with the factors down in the
    task closures and O(dim×R) partials up.  On a bare parquet scan the
    shape comes from the footers, so those are the only jobs.  The mode-0
    update is partition-local and the first job also carries A's rows to
    the driver.  ‖X‖² rides sweep 1's first job — no separate pass.  Fit
    uses the Gram identity — no reconstruction pass."""
    return _cp_als(coords, rank, tol, max_iter, seed, n_parts, distributed=False)


# --------------------------------------------------------------------------
# Distributed-A CP-ALS (VERDICT r01 #9, docs/SCALE.md §CP-ALS extension)
# --------------------------------------------------------------------------
#
# When the mode-0 dimension is huge (10^8 users), the I×R factor A no longer
# fits the driver or a broadcast.  The slab layout makes the fix natural:
# mode-0 MTTKRP writes only acc[ids] and modes 1/2 read only A[ids] — each
# slab ever touches exactly its own rows of A.  So A lives row-partitioned
# WITH the slabs: the mode-0 update is fully partition-local (zero shuffle),
# and the network carries only the R×R Gram AᵀA, the J×R / K×R partials,
# and the (tiny) B/C factors in the task closures.  The A rows are
# recomputed from the slabs where needed instead of being stored, so the
# only persisted RDDs are the slabs and, at the end, the exported
# ``a_blocks``.


def parafac_distributed(
    spark: SparkSession,
    coords: DataFrame,
    rank: int = 3,
    tol: float = 1e-6,
    max_iter: int = 25,
    seed: int = 42,
    n_parts: int = 8,
) -> CPModelDist:
    """T7-dist: CP-ALS with the mode-0 factor row-partitioned (never on the
    driver, never shipped to the tasks).  Same two aggregate jobs per
    sweep, closure-shipped B and C, kernels and fit identity as
    :func:`parafac`; no per-sweep copy of the slabs is stored.  One final
    map over the slabs persists the normalized A rows as ``a_blocks`` (the
    caller unpersists them), the one job beyond the sweeps on a bare
    parquet scan."""
    return _cp_als(coords, rank, tol, max_iter, seed, n_parts, distributed=True)


def dist_factors_a_df(spark: SparkSession, model: CPModelDist, scale: int = 4) -> DataFrame:
    """T8-dist: row-partitioned mode-0 factor -> DataFrame WITHOUT any
    driver collect (flatMap over the blocks; rows stay on executors)."""
    rank = len(model.lam)

    def rows(t):
        ids, a = t
        return [
            (int(ids[m]), *[float(round(a[m, r], scale)) for r in range(rank)])
            for m in range(len(ids))
        ]

    schema = "row_idx long, " + ", ".join(f"r{r} double" for r in range(rank))
    return spark.createDataFrame(model.a_blocks.flatMap(rows), schema=schema)


def factors_to_df(spark: SparkSession, factor: np.ndarray, scale: int = 6) -> DataFrame:
    """Factor matrix -> DataFrame (row_idx, r0..r{R-1}) rounded for stable
    display (declared rows-only: float reduction order varies ~1e-12)."""
    rank = factor.shape[1]
    rows = [
        (int(i), *[float(round(factor[i, r], scale)) for r in range(rank)])
        for i in range(factor.shape[0])
    ]
    schema = "row_idx long, " + ", ".join(f"r{r} double" for r in range(rank))
    return spark.createDataFrame(rows, schema=schema)


# the declared tensor queries share one coords build + one ALS run per
# session+sf
def _coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        sf_dir,
        "tensor_coords",
        lambda: tensor_build_coords(spark, sf_dir).cache(),
    )


def _fitted(spark: SparkSession, sf_dir: str) -> CPModel:
    return memo(
        spark,
        sf_dir,
        "cp_model",
        lambda: parafac(spark, _coords(spark, sf_dir), rank=3, max_iter=10, seed=42),
    )


@query(
    "tensor_slices",
    oracle=f"""
    WITH {_CELLS_SQL}
    SELECT CAST(i AS BIGINT) AS slice_id,
           COUNT(CASE WHEN vm <> 0 THEN 1 END) AS nnz,
           CAST(SUM(vm) AS BIGINT) AS checksum_micro
    FROM cells GROUP BY i
    """,
)
def tensor_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 declared probe: one row per mode-0 slice with nnz + exact
    micro-unit checksum (validates the slab partitioning end-to-end).

    Hash-oracled since r6 (VERDICT r5 item #7): the slab LAYOUT is
    engine-internal, but the declared per-slice (nnz, checksum) contract is
    layout-independent — a recursive dense_rank + µ-unit cell-sum rollup in
    DuckDB.  The checksum rounds each dense cell back to its integer µ-unit
    value BEFORE summing (v = vm/1e6 round-trips exactly through float64),
    so the sum is integer-exact on both engines — summing doubles first and
    rounding once would drift ~1 µ-unit at 1e11 magnitudes.

    Slice metadata goes executor→DataFrame via ``createDataFrame(rdd)`` and
    sorts relationally — nothing is collected to the driver (VERDICT r02
    "What's wrong" #3: the old O(I)-row driver collect was a driver OOM at
    the 1e8-slice scale the distributed-A path targets)."""
    coords = _coords(spark, sf_dir)
    _, slabs = _shape_and_slabs(coords, n_parts=8, persist=False)
    meta = slabs.flatMap(
        lambda it: [
            (
                int(it[0][m]),
                int((it[1][m] != 0).sum()),
                int(np.round(it[1][m] * 1e6).sum()),
            )
            for m in range(len(it[0]))
        ]
    )
    # small declared output + persist=False upstream: orderBy's range-
    # partitioner sampling pass would execute the slab pipeline twice
    # (ADVICE r4) — single-partition sort instead (house pattern).
    return (
        spark.createDataFrame(meta, schema="slice_id long, nnz long, checksum_micro long")
        .repartition(1)
        .sortWithinPartitions("slice_id")
    )


@query("parafac_cp_als")  # rows-only: float reduction order ~1e-12 variance
def parafac_cp_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 declared: run seeded CP-ALS on the T1 tensor; emit per-component
    λ + fit summary (fixed seed + fixed partitioning → stable row count and
    near-identical values)."""
    model = _fitted(spark, sf_dir)
    rows = [
        (r, float(round(model.lam[r], 4)), float(round(model.fit, 4)), model.n_iter)
        for r in range(len(model.lam))
    ]
    return spark.createDataFrame(
        rows, schema="component long, lam double, fit double, n_iter long"
    )


def _fitted_dist(spark: SparkSession, sf_dir: str) -> CPModelDist:
    return memo(
        spark,
        sf_dir,
        "cp_model_dist",
        lambda: parafac_distributed(
            spark, _coords(spark, sf_dir), rank=3, max_iter=10, seed=42
        ),
    )


@query("parafac_cp_als_dist")  # rows-only: float reduction order ~1e-12 variance
def parafac_cp_als_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7-dist declared: distributed-A CP-ALS on the T1 tensor — mode-0
    factor never leaves the cluster; summary mirrors parafac_cp_als."""
    model = _fitted_dist(spark, sf_dir)
    rows = [
        (r, float(round(model.lam[r], 4)), float(round(model.fit, 4)), model.n_iter)
        for r in range(len(model.lam))
    ]
    return spark.createDataFrame(
        rows, schema="component long, lam double, fit double, n_iter long"
    )


@query("parafac_factors_a")  # rows-only
def parafac_factors_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 declared: mode-0 factor joined back to natural keys (user_id)."""
    ev = load_tables(spark, sf_dir)["events"]

    model = _fitted(spark, sf_dir)
    fa = factors_to_df(spark, model.A, scale=4)
    users = ev.select("user_id").distinct().select(
        "user_id",
        (F.dense_rank().over(Window.orderBy("user_id")) - 1).cast("long").alias("row_idx"),
    )
    return users.join(F.broadcast(fa), "row_idx").select("user_id", "r0", "r1", "r2")


@dataclass
class TuckerModel:
    """Tucker/HOSVD output: small-mode factors + core driver-local
    (O(J·r2 + K·r3 + r1·r2·r3)); the BIG mode-0 factor stays DISTRIBUTED
    as a persisted RDD of (ids, A_rows) — it is O(I·r1), data-sized at
    scale (the caller unpersists it)."""

    a_rows: "object"  # RDD[(ids: np.ndarray, rows: np.ndarray(m, r1))]
    B: np.ndarray  # (J, r2), orthonormal columns
    C: np.ndarray  # (K, r3), orthonormal columns
    core: np.ndarray  # (r1, r2, r3)
    sigma: np.ndarray  # (r1,) mode-0 singular values of the projected tensor
    energy: float  # ||core||² = captured energy
    shape: tuple = ()
    ranks: tuple = ()


def tucker_hosvd(
    spark: SparkSession,
    coords: DataFrame,
    ranks: tuple[int, int, int] = (3, 3, 3),
    n_parts: int = 8,
) -> TuckerModel:
    """TUCKER DECOMPOSITION via sequentially-truncated HOSVD over the CP
    engine's slab layout (beyond the reference's CP surface; standard
    public algorithm — De Lathauwer et al. 2000, STHOSVD variant
    Vannieuwenhoven et al. 2012).

    Scale shape (the CP-ALS discipline applied to Tucker):
    1. SMALL-mode Grams in one slab pass: G1 = Σᵢ XᵢXᵢᵀ (J×J) and
       G2 = Σᵢ XᵢᵀXᵢ (K×K) — J, K are bounded dims (event types, hours);
       driver eigh gives orthonormal B, C.
    2. Project every slab into the (r2, r3) subspace: Yᵢ = BᵣᵀXᵢCᵣ,
       flattened to (m, r2·r3) — the TALL-SKINNY matrix whose left
       singular vectors are the mode-0 factor.  Y stays distributed.
    3. Tall-skinny SVD via ONE more aggregate: M = YᵀY is (r2r3 × r2r3)
       — the ONLY thing the big mode ever sends the driver; eigh(M) gives
       W, σ² and A = Y·W·Σ⁻¹ per-partition (never materialized globally).
    4. core = AᵀY = Σ·Wᵀ reshaped (r1, r2, r3) — free, no extra pass.

    Driver traffic: J² + K² + (r2r3)² + r1·r2·r3 floats TOTAL, independent
    of I.  The big factor A is returned as distributed (ids, rows) blocks,
    exactly like CPModelDist's distributed-A variant."""
    shape, slabs = _shape_and_slabs(coords, n_parts)
    si, sj, sk = shape
    r1, r2, r3 = (min(ranks[0], si), min(ranks[1], sj), min(ranks[2], sk))

    def gram_seq(acc, item):
        _, x = item  # (m, J, K)
        acc[0] += np.einsum("mjk,mlk->jl", x, x)
        acc[1] += np.einsum("mjk,mjl->kl", x, x)
        return acc

    g1, g2 = slabs.aggregate(
        [np.zeros((sj, sj)), np.zeros((sk, sk))],
        gram_seq,
        lambda a, b: [a[0] + b[0], a[1] + b[1]],
    )
    w1, v1 = np.linalg.eigh(g1)
    w2, v2 = np.linalg.eigh(g2)
    B = v1[:, np.argsort(w1)[::-1][:r2]]  # (J, r2)
    C = v2[:, np.argsort(w2)[::-1][:r3]]  # (K, r3)

    def project(part, _B=B, _C=C):
        for ids, x in part:
            # (m,J,K) -> (m,r2,r3) -> (m, r2*r3)
            y = np.einsum("jp,mjk,kq->mpq", _B, x, _C)
            yield ids, y.reshape(len(ids), -1)

    y_rdd = slabs.mapPartitions(project, preservesPartitioning=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    m_dim = r2 * r3
    M = y_rdd.aggregate(
        np.zeros((m_dim, m_dim)),
        lambda acc, item: acc + item[1].T @ item[1],
        lambda a, b: a + b,
    )
    wm, vm = np.linalg.eigh(M)
    order = np.argsort(wm)[::-1][:r1]
    lam = np.clip(wm[order], 0.0, None)
    W = vm[:, order]  # (r2r3, r1)
    sigma = np.sqrt(lam)
    inv_sigma = np.where(sigma > 0, 1.0 / np.where(sigma > 0, sigma, 1.0), 0.0)

    def a_rows(part, _W=W * inv_sigma[None, :]):
        for ids, y in part:
            yield ids, y @ _W  # (m, r1) — A rows for these slices

    # the model owns the only persisted RDD: materialize the A rows, then
    # drop the projection they were computed from (the a_blocks pattern);
    # B, C and W ride in the closures, so a recompute of a_rdd's lineage
    # needs nothing else kept alive
    a_rdd = y_rdd.mapPartitions(a_rows, preservesPartitioning=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a_rdd.count()
    y_rdd.unpersist()
    core = (np.diag(sigma) @ W.T).reshape(r1, r2, r3)
    slabs.unpersist()
    return TuckerModel(
        a_rows=a_rdd,
        B=B,
        C=C,
        core=core,
        sigma=sigma,
        energy=float((sigma**2).sum()),
        shape=shape,
        ranks=(r1, r2, r3),
    )


def _tucker_fitted(spark: SparkSession, sf_dir: str) -> TuckerModel:
    """Fitted Tucker model per session+sf: repeated declared-query runs
    reuse the slab build + both aggregate passes."""
    return memo(
        spark,
        sf_dir,
        "tucker_model",
        lambda: tucker_hosvd(spark, _coords(spark, sf_dir), ranks=(3, 3, 3)),
    )


@query("tucker_hosvd_core")  # rows-only: eigh basis signs are LAPACK-internal
def tucker_hosvd_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tucker/HOSVD over the events tensor, declared via its core tensor
    coordinates + captured-energy column (the rank-reduction summary a
    Tucker consumer reads first).  Rows-only: eigenvector SIGN/rotation is
    LAPACK-internal (not cross-engine-reproducible), but |core| entries
    and energy are property-tested in tests/test_tensor.py (orthonormal
    factors, exact full-rank reconstruction, monotone captured energy)."""
    model = _tucker_fitted(spark, sf_dir)
    r1, r2, r3 = model.ranks
    rows = [
        (int(p), int(q), int(r), float(round(abs(model.core[p, q, r]), 4)),
         float(round(model.energy, 2)))
        for p in range(r1)
        for q in range(r2)
        for r in range(r3)
    ]
    return spark.createDataFrame(
        rows, "p int, q int, r int, core_abs double, energy double"
    )


@query(
    "tensor_mode_skew_profile",
    oracle=f"""
    WITH {_CELLS_SQL},
    cm AS MATERIALIZED (
      -- MATERIALIZED: the three-mode UNION references the cell table three
      -- times; inlined, DuckDB re-runs the dense_rank index pipeline per
      -- branch (~3x oracle cost — the CTE-inlining trap, ADVICE r9)
      SELECT i, j, k FROM cells WHERE vm <> 0),
    s AS (
      SELECT mode, idx, CAST(COUNT(*) AS BIGINT) AS nnz FROM (
        SELECT 'i' AS mode, i AS idx FROM cm
        UNION ALL SELECT 'j', j FROM cm
        UNION ALL SELECT 'k', k FROM cm)
      GROUP BY 1, 2),
    h AS (SELECT mode, nnz, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM s GROUP BY 1, 2),
    f AS (
      SELECT mode, nnz, cnt,
             SUM(cnt) OVER (PARTITION BY mode ORDER BY nnz) AS cum,
             SUM(cnt) OVER (PARTITION BY mode) AS n,
             SUM(nnz * cnt) OVER (PARTITION BY mode) AS tot
      FROM h)
    SELECT mode, CAST(MAX(n) AS BIGINT) AS n_slices,
           CAST(MAX(tot) AS BIGINT) AS total_nnz,
           MIN(nnz) AS min_nnz, MAX(nnz) AS max_nnz,
           CAST(SUM(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
                         THEN nnz END) AS BIGINT) AS med_nnz,
           MAX(nnz) * 1000000 // CAST(MAX(tot) AS BIGINT) AS top_slice_ppm
    FROM f GROUP BY mode ORDER BY mode
    """,
)
def tensor_mode_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLICE-SKEW PROFILE of the T1 tensor, ALL THREE MODES — the
    measurement PARAslice exists for (Aggour/Gittens/Yener target
    *skewed* dense tensors; slice partitioning is chosen because slice
    mass is unbalanced): per mode, the nnz-per-slice distribution
    (count, min/median/max, and the heaviest slice's ppm share of all
    nonzeros).  This is the number a slab partitioner reads to size
    partitions BEFORE building slabs — tensor_slices then validates
    the chosen mode-0 layout slice by slice; same nnz definition
    (vm ≠ 0 on the dense-index cell table), single-sourced SQL.

    EXACT INTEGERS throughout: the median is nearest-rank selection
    over the per-mode (nnz, count) HISTOGRAM (hist_selection_frame —
    windows touch distinct nnz values only, never slices, never
    cells), the ppm an integer division with non-negative operands.

    Scale shape: one pass over the memoized coords cache (shared with
    every other tensor query), a 3× mode stack that map-combines to
    per-(mode, slice) counts — O(slices) rows into the histogram,
    O(distinct nnz) into the windows, 3 output rows."""
    from paraslice_spark.operators.aggregates import (
        hist_at_rank,
        hist_selection_frame,
    )

    c = _coords(spark, sf_dir)
    nz = c.where(F.round(F.col("v") * 1000000).cast("long") != 0)
    s = (
        nz.selectExpr("stack(3, 'i', i, 'j', j, 'k', k) AS (mode, idx)")
        .groupBy("mode", "idx")
        .agg(F.count(F.lit(1)).alias("nnz"))
    )
    h = s.groupBy("mode", "nnz").agg(F.count(F.lit(1)).alias("cnt"))
    f = hist_selection_frame(h, "mode", "nnz").withColumn(
        "tot", F.sum(F.col("nnz") * F.col("cnt")).over(
            Window.partitionBy("mode")
        )
    )
    return (
        f.groupBy("mode")
        .agg(
            F.max("n").cast("long").alias("n_slices"),
            F.max("tot").cast("long").alias("total_nnz"),
            F.min("nnz").alias("min_nnz"),
            F.max("nnz").alias("max_nnz"),
            hist_at_rank("nnz", "(n + 1) div 2").cast("long").alias("med_nnz"),
            F.expr("max(nnz) * 1000000 div max(tot)").alias("top_slice_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("mode")
    )


@query(
    "tensor_unfold_gram_type",
    oracle="""
    WITH c AS MATERIALIZED (
      SELECT user_id, event_type,
             epoch_us(date_trunc('microseconds', ts)) // 3600000000 AS h,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cm
      FROM events GROUP BY 1, 2, 3
      HAVING SUM(CAST(round(value * 100) AS BIGINT)) <> 0)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(a.cm * b.cm) AS BIGINT) AS gram_c2
    FROM c a JOIN c b ON a.user_id = b.user_id AND a.h = b.h
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def tensor_unfold_gram_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT UNFOLDING GRAM of the event tensor along the type mode —
    G = X₍type₎ · X₍type₎ᵀ over the (user, hour) fiber pairs: the |J|×|J|
    Gram matrix ALS's normal equations need (SURVEY §2.5), computed
    RELATIONALLY and hash-oracled — the one tensor-algebra core that CAN
    be exact, next to the rows-only float factorizations (the
    calibration-pair discipline: parafac_cp_als consumes grams like
    this; here the arithmetic itself is driver-checkable).  Diagonal =
    per-type energy, off-diagonal = co-activity of two types in the
    same (user, hour) cell.

    CENTS, NOT MICROS: cell values quantize to exact cents before the
    products — cm ≤ ~10⁶ keeps Σ cm·cm' under ~10¹⁷ at sf0.1 and
    int64-safe to ~100× (DuckDB's HUGEINT sum is the overflow canary;
    past that rescale to whole units).  The micro-unit tensor's
    products would overflow immediately at 10¹⁸/pair.

    Scale shape: one map-combined agg to the sparse (user, type, hour)
    cell table (zero cells dropped — they contribute nothing), then a
    key-to-key SELF-JOIN on (user, hour): one shuffle, both sides
    co-partitioned, ≤|J| rows per key so the fanout is ≤|J|² per fiber
    — the relational MTTKRP economics — collapsing straight into a
    |J|² ≤ 25-row map-combined agg."""
    ev = load_tables(spark, sf_dir)["events"]
    c = (
        ev.groupBy(
            "user_id",
            "event_type",
            F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("h"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cm"))
        .where(F.col("cm") != 0)
    )
    a = c.select(
        "user_id", "h", F.col("event_type").alias("type_a"), F.col("cm").alias("cma")
    )
    b = c.select(
        "user_id", "h", F.col("event_type").alias("type_b"), F.col("cm").alias("cmb")
    )
    return (
        a.join(b, ["user_id", "h"])
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("cma") * F.col("cmb")).alias("gram_c2"),
        )
        .repartition(1)
        .sortWithinPartitions("type_a", "type_b")
    )


@query(
    "tensor_hosvd_energy_audit",
    oracle="""
    WITH c AS MATERIALIZED (
      SELECT user_id AS iu, event_type AS jt,
             epoch_us(date_trunc('microseconds', ts)) // 3600000000 AS kh,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cm
      FROM events GROUP BY 1, 2, 3
      HAVING SUM(CAST(round(value * 100) AS BIGINT)) <> 0),
    sl AS MATERIALIZED (
      SELECT mode, idx, CAST(SUM(e2) AS BIGINT) AS e FROM (
        SELECT 'i' AS mode, CAST(iu AS VARCHAR) AS idx, cm * cm AS e2 FROM c
        UNION ALL SELECT 'j', jt, cm * cm FROM c
        UNION ALL SELECT 'k', CAST(kh AS VARCHAR), cm * cm FROM c)
      GROUP BY 1, 2),
    w AS (
      SELECT mode, e,
             row_number() OVER (PARTITION BY mode ORDER BY e DESC, idx)
               AS rn,
             CAST(SUM(e) OVER (PARTITION BY mode ORDER BY e DESC, idx)
                  AS BIGINT) AS cum,
             CAST(SUM(e) OVER (PARTITION BY mode) AS BIGINT) AS tot,
             COUNT(*) OVER (PARTITION BY mode) AS n
      FROM sl)
    SELECT mode,
           CAST(MAX(n) AS BIGINT) AS n_slices,
           MAX(tot) AS total_c2,
           MAX(CASE WHEN rn = 1 THEN e END) AS max_slice_c2,
           ROUND(CAST(MAX(CASE WHEN rn = 1 THEN e END) AS DOUBLE)
                 / MAX(tot), 6) AS top_share,
           CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN rn END)
                AS BIGINT) AS r50,
           CAST(MIN(CASE WHEN cum * 10 >= tot * 9 THEN rn END)
                AS BIGINT) AS r90
    FROM w GROUP BY mode ORDER BY mode
    """,
)
def tensor_hosvd_energy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOSVD ENERGY-CONCENTRATION AUDIT, ALL THREE MODES — the exact
    rank-selection table a Tucker user reads BEFORE running
    tucker_hosvd_core (which is rows-only: LAPACK eigenvector signs),
    putting a hash-graded query next to the float factorization the way
    tensor_unfold_gram_type does for ALS (VERDICT r12 #5's suggested
    tensor direction).

    Per mode, each slice's energy E_a = Σ cm² over its cells is exactly
    the a-th DIAGONAL of that mode's unfolding Gram X₍ₘ₎X₍ₘ₎ᵀ, and the
    slice axes form an orthonormal (standard) basis — so the sorted
    cumulative slice energies are a LOWER bound on what rank-r HOSVD
    captures, making r50/r90 (slices needed for ≥50 %/≥90 % of total
    energy, exact nearest-rank integer selection) UPPER bounds on the
    Tucker rank needed per mode.  trace(G) = Σ all cells cm² is
    mode-independent (Parseval over the standard basis): total_c2 MUST
    be equal across the three output rows — a cross-mode invariant the
    hash oracle pins for free and the fuzz asserts.

    EXACT INTEGERS: cents cells (the unfold-gram rule — micro units
    would overflow at the first product); cm² ≤ ~3e9, total_c2 ≈ 5e12
    at sf0.1, and the 90 % threshold comparison cum·10 ≥ tot·9 stays
    int64-safe to ~10⁴× that (DuckDB's HUGEINT is the overflow canary;
    past that rescale to whole units).  The only float is the
    top_share display division → ROUND(,6).

    Scale shape: one map-combined agg to the sparse cell table, a 3×
    mode stack collapsing to per-(mode, slice) energies — O(slices)
    rows — then per-mode windows over slices and a 3-row output; the
    scan is the only data-proportional stage."""
    ev = load_tables(spark, sf_dir)["events"]
    c = (
        ev.groupBy(
            "user_id",
            "event_type",
            F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("kh"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cm"))
        .where(F.col("cm") != 0)
    )
    sl = (
        c.selectExpr(
            "stack(3, 'i', cast(user_id as string),"
            " 'j', event_type,"
            " 'k', cast(kh as string)) AS (mode, idx)",
            "cm * cm AS e2",
        )
        .groupBy("mode", "idx")
        .agg(F.sum("e2").alias("e"))
    )
    wo = Window.partitionBy("mode").orderBy(F.desc("e"), "idx")
    wp = Window.partitionBy("mode")
    # lazy exactness guard (ADVICE r13): the r90 comparison cum·10 ≥ tot·9
    # needs tot·10 to stay int64.  ANSI mode would throw on the overflow,
    # but a non-ANSI session would wrap SILENTLY — so the bound is
    # asserted in-plan (haar idiom: null on success, folds into tot as
    # +0, unprunable; Spark dedupes the repeated window expression).
    tot_guard = F.assert_true(
        F.sum("e").over(wp) <= F.lit((2**63 - 1) // 10),
        F.lit(
            "tensor_hosvd_energy_audit: total energy exceeds the int64 "
            "window for the cum*10 threshold; rescale the cell values"
        ),
    )
    w = sl.select(
        "mode",
        "e",
        F.row_number().over(wo).alias("rn"),
        F.sum("e").over(wo).alias("cum"),
        (
            F.sum("e").over(wp)
            + F.coalesce(tot_guard.cast("long"), F.lit(0))
        ).alias("tot"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return (
        w.groupBy("mode")
        .agg(
            F.max("n").cast("long").alias("n_slices"),
            F.max("tot").alias("total_c2"),
            F.max(F.when(F.col("rn") == 1, F.col("e"))).alias("max_slice_c2"),
            F.round(
                F.max(F.when(F.col("rn") == 1, F.col("e"))).cast("double")
                / F.max("tot"),
                6,
            ).alias("top_share"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(tot + 1) div 2"), F.col("rn")
                )
            ).cast("long").alias("r50"),
            F.min(
                F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("rn"))
            ).cast("long").alias("r90"),
        )
        .repartition(1)
        .sortWithinPartitions("mode")
    )
