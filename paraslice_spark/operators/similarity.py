"""Similarity & dedup over embeddings/documents (SURVEY §2.11 L2-L4,
L9-L10 + SimHash / embedding near-dup).

Scale doctrine (SURVEY §7.3): brute-force cosine is the declared *baseline*
(broadcast the tiny query side, never the corpus); the 100 TB paths are the
LSH variants (bucket-join candidate generation, exact re-rank on candidates
only) and banded SimHash (equi-join on 16-bit bands — pure shuffle, no
pairwise scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from paraslice_spark.functions.canon import md5_u32, md5_u32_sql, rnd
from paraslice_spark.memo import _free_local_checkpoint, memo
from paraslice_spark.pyworker import by_ref
from paraslice_spark.registry import query
from paraslice_spark.sources.io import load_tables, spread_scan

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_TOP_K = 5


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _l2_dist(a, b):
    """Exact Euclidean distance — THE metric similarity_lsh_ann ranks by
    and similarity_ann_recall's lsh truth side must rank by; shared so the
    audit can never silently compare mixed metrics (r8 review)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _emb_base_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eagerly-checkpointed (vec_id, emb-as-double) base shared by the ANN
    queries that re-read it for quantizer fit + assignment + verify passes
    — one bounded materialization per (session, sf) instead of one naked
    per-invocation persist per consumer (the ADVICE r6 leak class)."""

    def build() -> DataFrame:
        e = load_tables(spark, sf_dir)["embeddings"]
        base = e.select("vec_id", _as_double(F.col("embedding")).alias("emb"))
        # every downstream Arrow kernel (signatures, quantization,
        # assignment) runs on this base's partitions.  Hash placement is
        # deterministic; all hash-oracled consumers are row-local or
        # integer-exact (partition-order-proof), and the float k-means fits
        # feed rows-only queries with fixed top-k row counts — see
        # OPTIMIZATION_r16.md
        return spread_scan(base, 2000, "vec_id").localCheckpoint(eager=True)

    return memo(spark, sf_dir, "emb_base", build)


@query(
    "similarity_topk_cosine",
    oracle=f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM base
          WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.q_emb, e.emb)
                   / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                      * sqrt(list_dot_product(e.emb, e.emb))), 6) AS cos
      FROM q CROSS JOIN base e
      WHERE e.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: exact cosine top-k — brute-force baseline. The query side (5
    vectors) is broadcast; the corpus is scanned once, never shuffled for
    the join; ranking happens on the ROUNDED cosine so cross-engine last-bit
    noise cannot flip the top-k boundary."""
    # r15: ride the shared eager checkpoint — the plan referenced the
    # embeddings parquet twice (query + corpus side), re-running the
    # array→double projection per reference; every other ANN path
    # already shares this base (guide §2.4)
    base = _emb_base_cached(spark, sf_dir)
    q = base.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    cos = rnd(
        _dot(F.col("q_emb"), F.col("emb")) / (_norm(F.col("q_emb")) * _norm(F.col("emb"))), 6
    )
    scored = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("q_id", "neighbor_id", "cos")
    )


@query("similarity_lsh_ann")  # rows-only: LSH bucketing is model-internal
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: approximate NN via random-hyperplane bucketing — set-based, ONE
    plan for ANY number of query keys (VERDICT r01 "What's wrong" #2
    replaced the r1 driver-side approxNearestNeighbors loop: O(k) Spark
    jobs + a ``first()`` collect per key — wrong shape for a query batch).

    BucketedRandomProjectionLSH (seeded) hashes corpus and query set in
    one ``transform``; candidate generation is an equi-join on
    (hash_table, bucket) with the tiny query side broadcast; exact
    Euclidean distance re-ranks candidates only; window top-k per q_id.
    At 100 TB the corpus is scanned once, never cross-joined, and the
    plan is identical for 5 keys or 5 million (the broadcast becomes a
    shuffle join then — Catalyst's choice, same logical plan).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # r15: ride the shared eager checkpoint — this query referenced the
    # embeddings parquet FOUR times (vec→hashed twice via the q_keys/cand
    # fan-out, plus qe and ne), re-projecting array→double per reference
    # and re-running the LSH transform per hashed consumer (guide §2.4)
    base = _emb_base_cached(spark, sf_dir)
    vec = base.select("vec_id", array_to_vector("emb").alias("features"))
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=42
    ).fit(vec)
    # one transform hashes everyone; each hash is a 1-element vector ->
    # (table, bucket) long pairs usable as join keys
    hashed = (
        model.transform(vec)
        .select("vec_id", F.posexplode("hashes").alias("table", "h"))
        .select(
            "vec_id", "table", vector_to_array("h")[0].cast("long").alias("bucket")
        )
        # tiny (vec_id, table, bucket) long triples; the checkpoint stops
        # the q_keys/cand fan-out from running the LSH transform twice
        .localCheckpoint(eager=False)
    )
    q_keys = hashed.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "table", "bucket"
    )
    # candidates carry IDs only through the distinct shuffle (vector
    # payloads join back after — same discipline as the near-dup pipelines)
    cand = (
        hashed.join(F.broadcast(q_keys), ["table", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = base.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    ne = base.select(F.col("vec_id").alias("neighbor_id"), "emb")
    dist = _l2_dist(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("q_id").orderBy("dist", "neighbor_id")
    return (
        cand.join(F.broadcast(qe), "q_id")
        .join(ne, "neighbor_id")
        .select("q_id", "neighbor_id", rnd(dist, 6).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("q_id", "neighbor_id", "dist")
    )


_IVF_NLIST = 16  # coarse-quantizer cells
_IVF_NPROBE = 4  # cells probed per query
_IVF_ITERS = 2  # Lloyd refinement sweeps


def _ivf_centroids(base: DataFrame, n_list: int, n_iters: int, seed: int):
    """Fit the IVF coarse quantizer: deterministic hash-ordered sample of
    ``n_list`` corpus vectors + a few distributed Lloyd sweeps.

    Per sweep: ONE corpus pass (Arrow-batched argmax-cosine assignment) +
    a (cell, dim) avg agg whose result is O(n_list × dim) — the only data
    that ever reaches the driver.  Unit-normalized centroids (spherical
    k-means: cosine assignment ⇔ dot with unit centroids)."""
    import numpy as np

    rows = (
        base.select("vec_id", "emb")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .limit(n_list)
        .collect()
    )
    cents = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in rows])
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    dim = cents.shape[1]
    for _ in range(n_iters):
        assign = _ivf_assign_udf(cents, 1)
        sums = (
            base.select(assign(F.col("emb")).alias("cells"), F.posexplode("emb"))
            .select(F.col("cells")[0].alias("cell"), F.col("pos").alias("d"), F.col("col").alias("x"))
            .groupBy("cell", "d")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their old centroid
        acc = np.zeros((len(cents), dim))
        cnt = np.zeros(len(cents))
        for r in sums:
            acc[r["cell"], r["d"]] += r["s"]
            cnt[r["cell"]] = r["n"]
        mask = cnt > 0
        new[mask] = acc[mask] / cnt[mask, None]
        new /= np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        cents = new
    return cents


def _ivf_centroids_cached(spark: SparkSession, sf_dir: str):
    """The IVF quantizer fit, memoized per (session, sf): O(n_list×dim)
    numpy shared by the IVF-flat and IVF-PQ queries."""
    return memo(
        spark,
        sf_dir,
        "ivf_centroids",
        lambda: _ivf_centroids(
            _emb_base_cached(spark, sf_dir), _IVF_NLIST, _IVF_ITERS, seed=4242
        ),
    )


def _ivf_assign_udf(cents, n_probe: int):
    """pandas UDF: embedding -> the ``n_probe`` nearest cell ids (by cosine
    against unit centroids) — one BLAS matmul per Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(emb):
        m = np.stack(emb.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cents.T  # (n, n_list)
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series(list(top.astype(np.int64)))

    return pandas_udf(by_ref(fn), "array<long>")


@query("similarity_ivf_ann")  # rows-only: quantizer cells are model-internal
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4b: ANN via an IVF-flat index (the second scale path next to LSH).

    Spherical-k-means coarse quantizer (``_ivf_centroids``); every corpus
    vector is assigned to its nearest cell (1 Arrow pass), queries probe
    their ``n_probe`` nearest cells, and the exact cosine re-rank runs on
    the probed cells only — at 100 TB that is a ~n_probe/n_list fraction of
    the corpus per query, reached by equi-join on the cell id, never a
    cross-join.  IDs-only through the candidate shuffle; vectors join back
    once for the verify (house discipline).  Recall is property-tested with
    planted near-duplicates (tests/test_similarity.py)."""
    base = _emb_base_cached(spark, sf_dir)
    cents = _ivf_centroids_cached(spark, sf_dir)

    assigned = base.select(
        "vec_id", _ivf_assign_udf(cents, 1)(F.col("emb"))[0].alias("cell")
    )
    probes = (
        base.where(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.explode(_ivf_assign_udf(cents, _IVF_NPROBE)(F.col("emb"))).alias("cell"),
        )
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = base.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    ne = base.select(F.col("vec_id").alias("neighbor_id"), "emb")
    cos = rnd(
        _dot(F.col("q_emb"), F.col("emb")) / (_norm(F.col("q_emb")) * _norm(F.col("emb"))), 6
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cand.join(F.broadcast(qe), "q_id")
        .join(ne, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("q_id", "neighbor_id", "cos")
    )


_PQ_M = 8  # product-quantizer subspaces (dim 64 -> 8-dim subvectors)
_PQ_KS = 16  # codewords per subspace (4-bit codes)
_PQ_SAMPLE = 512  # training sample for the codebooks
_PQ_ITERS = 4  # Lloyd sweeps per subspace (driver-local, on the sample)
_PQ_SHORTLIST = 8 * _TOP_K  # ADC shortlist re-ranked exactly


def _pq_codebooks(base: DataFrame, cents, m: int, ks: int, sample: int, seed: int):
    """Fit per-subspace PQ codebooks on the RESIDUALS (x/||x|| − cell
    centroid) of a deterministic hash-ordered sample.  Driver-local numpy on
    O(sample × dim) — bounded like the Lloyd sweep in ``_ivf_centroids``;
    the full corpus is never collected."""
    import numpy as np

    rows = (
        base.select("vec_id", "emb")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    x = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in rows])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    resid = x - cents[np.argmax(x @ cents.T, axis=1)]
    dim = x.shape[1]
    sub = dim // m
    books = np.zeros((m, ks, sub))
    for mm in range(m):
        s = resid[:, mm * sub : (mm + 1) * sub]
        c = s[:ks].copy()  # deterministic init: first ks sample residuals
        for _ in range(_PQ_ITERS):
            d = ((s[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)
            for k in range(ks):
                if (a == k).any():
                    c[k] = s[a == k].mean(0)
        books[mm] = c
    return books


def _pq_encode_udf(cents, books):
    """pandas UDF: embedding -> [cell, code_0 … code_{M-1}] (one BLAS pass
    per Arrow batch; codes are 4-bit ints in a long array)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m, ks, sub = books.shape

    def fn(emb):
        x = np.stack(emb.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cell = np.argmax(x @ cents.T, axis=1)
        resid = x - cents[cell]
        out = np.empty((len(x), 1 + m), dtype=np.int64)
        out[:, 0] = cell
        for mm in range(m):
            s = resid[:, mm * sub : (mm + 1) * sub]
            d = ((s[:, None, :] - books[mm][None, :, :]) ** 2).sum(-1)
            out[:, 1 + mm] = d.argmin(1)
        return pd.Series(list(out))

    return pandas_udf(by_ref(fn), "array<long>")


@query("similarity_ivfpq_ann")  # rows-only: quantizer/codebooks model-internal
def similarity_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4c: IVF-PQ-lite ANN (Jégou et al., TPAMI'11 — public algorithm),
    the memory-bound scale path next to IVF-flat.

    Index = coarse cell + M×4-bit product-quantization codes of the
    RESIDUAL — ~3 bytes/vector instead of dim×4, so at 100 TB the candidate
    scoring stage shuffles compact codes, never float vectors.  Query path:
    probe n_probe cells (equi-join), score candidates by ADC (asymmetric
    distance: per-(query, cell) lookup tables over codebook entries, one
    vectorized numpy gather per Arrow batch), keep a 4k shortlist per
    query, and exact-cosine re-rank ONLY the shortlist against the true
    vectors.  IDs+codes through every shuffle; full vectors touched once at
    re-rank (house discipline).  Recall property-tested with planted
    near-duplicates (tests/test_similarity.py).  On the i.i.d.
    near-orthogonal fixture, measured recall@5 vs exact is 8/25 against
    IVF-flat's 12/25 ceiling at the same n_probe — the expected ADC loss at
    32-bit codes on unclustered noise; planted true near-dups are recovered
    at rank 1."""
    import numpy as np

    base = _emb_base_cached(spark, sf_dir)
    cents = _ivf_centroids_cached(spark, sf_dir)
    books = memo(
        spark,
        sf_dir,
        "pq_codebooks",
        lambda: _pq_codebooks(base, cents, _PQ_M, _PQ_KS, _PQ_SAMPLE, seed=99),
    )
    m, ks, sub = books.shape

    enc = _pq_encode_udf(cents, books)(F.col("emb"))
    codes = base.select(
        "vec_id", enc[0].alias("cell"), F.slice(enc, 2, m).alias("codes")
    )
    # query-side: residual LUTs for every (query, probed cell): n_q × n_probe
    # tables of (M, ks) squared sub-distances — tiny, shipped in the UDF
    # closure (at many-query scale this becomes a broadcast-joined table).
    q_rows = base.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "emb").collect()
    luts: dict[tuple[int, int], "np.ndarray"] = {}
    probe_pairs = []
    for r in q_rows:
        qv = np.asarray(r["emb"], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        cells = np.argsort(-(cents @ qv))[:_IVF_NPROBE]
        for c in cells:
            resid = qv - cents[c]
            lut = np.stack(
                [
                    ((books[mm] - resid[mm * sub : (mm + 1) * sub]) ** 2).sum(-1)
                    for mm in range(m)
                ]
            )
            luts[(int(r["vec_id"]), int(c))] = lut
            probe_pairs.append((int(r["vec_id"]), int(c)))
    probes = spark.createDataFrame(probe_pairs, "q_id long, cell long")

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    lut_keys = {k: i for i, k in enumerate(sorted(luts))}
    lut_arr = np.stack([luts[k] for k in sorted(luts)])  # (n_lut, M, ks)

    # NB: no type hints — pandas_udf hint inference can't resolve the
    # locally-imported pd name (CLAUDE.md trap)
    @pandas_udf("double")
    @by_ref
    def adc(q_id, cell, codes):
        idx = np.array([lut_keys[(q, c)] for q, c in zip(q_id, cell)])
        cm = np.stack(codes.to_numpy()).astype(np.int64)  # (n, M)
        d = lut_arr[idx[:, None], np.arange(m)[None, :], cm].sum(1)
        return pd.Series(d)

    shortlist = (
        codes.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cell", "codes")
        .withColumn("adc", adc("q_id", "cell", "codes"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("adc", "neighbor_id")
            ),
        )
        .where(F.col("rn") <= _PQ_SHORTLIST)
        .select("q_id", "neighbor_id")
    )
    qe = base.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    ne = base.select(F.col("vec_id").alias("neighbor_id"), "emb")
    cos = rnd(
        _dot(F.col("q_emb"), F.col("emb")) / (_norm(F.col("q_emb")) * _norm(F.col("emb"))), 6
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        shortlist.join(F.broadcast(qe), "q_id")
        .join(ne, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("q_id", "neighbor_id", "cos")
    )


#: Cohort mode for similarity_ann_recall (VERDICT r11 #1, made the
#: DEFAULT in r13 per VERDICT r12 #2): the cosine ground truth is computed
#: LINEARLY — a hash-ordered cohort of at most N query vectors broadcast
#: onto ONE corpus scan with a per-query top-k window — instead of riding
#: the full O(n²·dim) exact k-NN graph.  Env unset → cohort of
#: _N_QUERIES (every declared query vector: output row-for-row identical
#: to the graph path, tested, but the graph is structurally never built —
#: the shape a 100 TB corpus needs).  Set to a positive int to shrink the
#: cohort further; set to 0 to opt BACK into the memoized-graph truth
#: (fixture-scale testing only, where 7 other consumers share the build).
_ANN_COHORT_ENV = "PARASLICE_ANN_RECALL_COHORT"


def _ann_recall_cohort_n() -> int:
    import os

    raw = os.environ.get(_ANN_COHORT_ENV)
    if raw is None or raw == "":
        return _N_QUERIES
    try:
        n = int(raw)
    except ValueError as exc:  # fail at parse, not inside the query plan
        raise ValueError(
            f"{_ANN_COHORT_ENV}={raw!r}: expected an integer — a positive "
            "cohort size, or 0 to opt back into the memoized-graph truth"
        ) from exc
    if n < 0:
        # -1 is NOT 'unlimited' here: negative would silently take the
        # O(n²) graph branch, the exact shape the default exists to
        # avoid at scale (r13 review finding #5)
        raise ValueError(
            f"{_ANN_COHORT_ENV}={n}: must be >= 0 "
            "(0 = memoized-graph truth; unset = full query cohort)"
        )
    return n


@query("similarity_ann_recall")  # rows-only: quantizers/buckets model-internal
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN CALIBRATION AUDIT (VERDICT r7 "missing" #4) — the recall@k table
    a user reads BEFORE trusting any approximate index at the next
    scale-up, completing the r7 exact-vs-sketch theme (CMS top-k error,
    Bloom FP accounting, MinHash estimate error) for the ANN family.

    For each declared ANN path the retrieved top-5 candidate set is scored
    against the EXACT top-k ground truth in that path's OWN metric:
    ivf/ivfpq rank by cosine → truth is the memoized exact k-NN graph
    (``_knn_graph_cached``, k = _KNN_K) restricted to the query ids; lsh
    ranks by Euclidean distance → truth is one corpus scan against the
    broadcast query rows (the brute-force baseline shape, O(n·|Q|) with
    |Q| = 5).  recall = |truth ∩ retrieved| / |truth| — an EXACT audit of
    approximate indexes, like dedup_minhash_estimate_error.  Rows-only by
    design: bucket boundaries/centroids/codebooks are model-internal, so
    the retrieved sets are not SQL-reproducible; the declared value is the
    audit itself plus recall-floor property tests
    (tests/test_similarity.py).  At 100 TB every input here is already
    bounded: the graph is memoized, the truth scan is one corpus pass, and
    the three ANN plans are the declared ones.

    Cohort truth is the DEFAULT (VERDICT r11 #1 introduced it opt-in;
    VERDICT r12 #2 flipped it): the audit hash-orders the query ids
    (md5-u32, the house rule), keeps at most ``PARASLICE_ANN_RECALL_COHORT``
    of them (unset → _N_QUERIES, i.e. every query), and computes the
    cosine truth the way the L2 truth always was: broadcast cohort × ONE
    corpus scan × per-query top-k window — linear in the corpus, graph
    never built (structurally: _knn_graph_cached is not called; plan- and
    monkeypatch-asserted).  With the full cohort the output matches the
    graph path row-for-row (tested).  ``PARASLICE_ANN_RECALL_COHORT=0``
    opts back into the memoized-graph truth — a fixture-scale
    convenience where 7 other consumers already share the graph build,
    never the shape to run against a 100 TB corpus."""
    base = _emb_base_cached(spark, sf_dir)
    cohort_n = _ann_recall_cohort_n()
    qe = base.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    if cohort_n > 0:
        qe = (
            qe.orderBy(md5_u32("q_id"), "q_id")
            .limit(cohort_n)
            .localCheckpoint(eager=False)  # feeds both truth scans + filters
        )
        ne_cos = base.select(F.col("vec_id").alias("neighbor_id"), "emb")
        den = _norm(F.col("q_emb")) * _norm(F.col("emb"))
        cosx = F.when(den == 0, F.lit(0.0)).otherwise(
            rnd(_dot(F.col("q_emb"), F.col("emb")) / den, 6)
        )
        wc = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
        truth_cos = (
            ne_cos.crossJoin(F.broadcast(qe))
            .where(F.col("neighbor_id") != F.col("q_id"))
            .select("q_id", "neighbor_id", cosx.alias("cos"))
            .withColumn("rn", F.row_number().over(wc))
            .where(F.col("rn") <= _KNN_K)
            .select("q_id", "neighbor_id")
        )
    else:
        truth_cos = (
            _knn_graph_cached(spark, sf_dir)
            .where(F.col("vec_id") < _N_QUERIES)
            .select(F.col("vec_id").alias("q_id"), "neighbor_id")
        )
    dist = _l2_dist(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("q_id").orderBy("dist", "neighbor_id")
    truth_l2 = (
        base.select(F.col("vec_id").alias("neighbor_id"), "emb")
        .crossJoin(F.broadcast(qe))
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KNN_K)
        .select("q_id", "neighbor_id")
    )
    audits = []
    for method, got, truth in (
        ("ivf", similarity_ivf_ann(spark, sf_dir), truth_cos),
        ("ivfpq", similarity_ivfpq_ann(spark, sf_dir), truth_cos),
        ("lsh", similarity_lsh_ann(spark, sf_dir), truth_l2),
    ):
        j = truth.join(
            got.select("q_id", "neighbor_id").withColumn("hit", F.lit(1)),
            ["q_id", "neighbor_id"],
            "left",
        )
        audits.append(
            j.agg(
                F.lit(method).alias("method"),
                F.lit(_KNN_K).alias("k"),
                F.count(F.lit(1)).alias("n_truth"),
                F.count("hit").alias("n_hits"),
                F.round(
                    F.count("hit").cast("double") / F.count(F.lit(1)), 6
                ).alias("recall"),
            )
        )
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.repartition(1).sortWithinPartitions("method")


_SHINGLE_K = 8
_N_SIG = 16  # minhash signature length
_BANDS = 4  # 4 bands × 4 rows

#: MinHash permutation family: sig_i = min over shingles of
#: (A_i·h + B_i) mod P, with h = first 8 md5 hex digits of the shingle as a
#: uint32 (the house cross-engine integer-hash pattern — see
#: sample_temperature / dedup_simhash_bands) and P = 2^31−1 (Mersenne
#: prime).  A_i < P and h < 2^32 keep A_i·h + B_i ≤ 9.17e18 < 2^63 − 1, so
#: the arithmetic is overflow-free int64 on BOTH engines (DuckDB BIGINT
#: errors on overflow; Spark would wrap silently — neither happens).
#: Constants are fixed literals (seeded once, offline) so the DuckDB oracle
#: rebuilds the signatures digit-for-digit.
_MH_P = 2147483647
_MH_AB: tuple[tuple[int, int], ...] = (
    (2058367755, 1250378731), (1328920189, 372282286),
    (35052690, 260070992), (1425365892, 920539464),
    (409468654, 638079615), (1652464807, 2033713062),
    (1010120343, 873091422), (910172515, 1362467471),
    (1577225783, 708511551), (1389507383, 1784693824),
    (2003597556, 347112816), (2133395955, 1638263921),
    (1962772767, 908613595), (1364526543, 932472842),
    (1976978008, 656157898), (1457334632, 212322978),
)


def _minhash_oracle(threshold: float = 0.8) -> str:
    """DuckDB twin of the FULL minhash pipeline: shingles → md5-affine
    signatures → band agreement (all-pairs oracle-side; the Spark plan
    blocks via the band equi-join) → exact Jaccard ≥ threshold."""
    rows = _N_SIG // _BANDS
    sig_cols = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_MH_P}) AS s{i}"
        for i, (a, b) in enumerate(_MH_AB)
    )
    band_conds = "\n        OR ".join(
        "(" + " AND ".join(f"a.s{b * rows + r} = b.s{b * rows + r}" for r in range(rows)) + ")"
        for b in range(_BANDS)
    )
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, i.i, {_SHINGLE_K}) AS s
      FROM documents CROSS JOIN LATERAL
        (SELECT unnest(range(1, greatest(length(text) - {_SHINGLE_K - 2}, 2))) AS i) i
    ),
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 8))::UBIGINT::BIGINT AS h
          FROM sh),
    sig AS (SELECT doc_id,
             {sig_cols}
            FROM h GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {band_conds}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT c.doc_a, c.doc_b,
           ROUND(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE ROUND(i.i * 1.0 / (sa.n + sb.n - i.i), 6) >= {threshold}
    ORDER BY c.doc_a, c.doc_b
    """


def shingle_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, distinct 8-char shingle array) — array-native, no python."""
    return docs.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {_SHINGLE_K - 1}, 1)),"
                f" i -> substring({text_col}, i, {_SHINGLE_K}))"
            )
        ).alias("shingles"),
    )


def _minhash_signatures(sh: DataFrame, n_sig: int = _N_SIG) -> DataFrame:
    """(doc_id, sig0..sig{n_sig-1}) md5-affine MinHash signatures.

    Cross-engine md5-affine permutations (see _MH_AB) instead of
    xxhash64, so the DuckDB oracle rebuilds every signature exactly.
    md5 runs once per DISTINCT shingle, not per occurrence (this corpus:
    13k distinct vs 1.35M occurrences at sf0.1 — the shared-vocabulary
    ratio; measured 2.40 → 1.3 s).  The dictionary is broadcast while it
    fits (bounded by vocabulary size, not corpus size); at dictionary
    scales beyond executor memory swap to a plain shuffle join — same
    shape _ngram_pairs uses for its gram ids."""
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    gram_h = (
        exploded.select("s")
        .distinct()
        .withColumn("h", F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long"))
    )
    return exploded.join(F.broadcast(gram_h), "s").groupBy("doc_id").agg(
        *[
            F.min((F.lit(a_) * F.col("h") + F.lit(b_)) % F.lit(_MH_P)).alias(f"sig{i}")
            for i, (a_, b_) in enumerate(_MH_AB[:n_sig])
        ]
    )


def _minhash_band_candidates(
    sigs: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs agreeing on ALL rows of some band —
    the LSH blocking equi-join (never an all-pairs comparison)."""
    key_cols = [f"k{r}" for r in range(rows_per_band)]
    band_vals = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"sig{b * rows_per_band + r}").alias(f"k{r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", *[f"bb.{k}" for k in key_cols])
    a = band_vals.select(F.col("doc_id").alias("doc_a"), "band", *key_cols)
    b = band_vals.select(F.col("doc_id").alias("doc_b"), "band", *key_cols)
    return (
        a.join(b, ["band", *key_cols])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    docs: DataFrame, threshold: float = 0.8, n_sig: int = _N_SIG, bands: int = _BANDS
) -> DataFrame:
    """L2 core: shingle → minhash → band → bucket-join → exact verify.

    Hand-built banded MinHash (not ml-lib's approxSimilarityJoin, whose
    bucket-collision candidates explode to ~O(n²) on corpora with shared
    vocabulary — measured unbounded at sf0.1). Here a pair becomes a
    candidate only when ALL rows of some band agree (P = 1-(1-J^r)^b, so
    random J≈0.2 pairs are ~0.6% candidates while J≥0.9 near-dups are
    ~99%), and the exact shingle-Jaccard runs on candidates only. Every
    step is a shuffle-safe groupBy/equi-join — the 100 TB shape.
    """
    # sh feeds the signature agg AND both sides of the verify join (self-join
    # sides share no common subplan, the CLAUDE.md trap). Non-eager
    # localCheckpoint: one materialization at first action, NO cache-manager
    # entry (a naked persist here leaked an InMemoryRelation per call that
    # callers could never release), blocks freed when the frame drops.
    sh = shingle_docs(docs).localCheckpoint(eager=False)
    sigs = _minhash_signatures(sh, n_sig)
    return _minhash_verified_pairs(sh, sigs, threshold, n_sig, bands)


def _minhash_verified_pairs(
    sh: DataFrame, sigs: DataFrame, threshold: float, n_sig: int, bands: int
) -> DataFrame:
    """Band-block + exact-Jaccard verify from prebuilt (shingles,
    signatures) — shared by the generic entry point above and the
    memoized declared query."""
    rows_per_band = n_sig // bands
    candidates = _minhash_band_candidates(sigs, bands, rows_per_band)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", rnd(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        # small declared output: single-partition sort, not orderBy (house
        # trap — range-partitioner sampling re-executes the pipeline)
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


def _minhash_base_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Eagerly-checkpointed (shingles, signatures) shared by
    dedup_minhash_pairs, dedup_minhash_estimate_error and
    dedup_method_agreement (ADVICE r6 persist-hygiene: memoize, don't leak
    naked persists): the shingle explode + md5 dictionary + 16-transform
    agg run once per session per SF instead of once per consumer per
    invocation."""

    def build() -> tuple[DataFrame, DataFrame]:
        # spread the shingle explode + md5 dictionary + 16-transform map
        # (integer-exact md5-affine signatures: partition-order-proof)
        docs = spread_scan(load_tables(spark, sf_dir)["documents"], 500, "doc_id")
        sh = shingle_docs(docs).localCheckpoint(eager=True)
        sigs = _minhash_signatures(sh, _N_SIG).localCheckpoint(eager=True)
        return sh, sigs

    return memo(spark, sf_dir, "minhash_base", build)


@query("dedup_minhash_pairs", oracle=_minhash_oracle())
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 declared: near-dup pairs at shingle-Jaccard ≥ 0.8.

    HASH-ORACLED since r6 (previously rows-only): signatures switched from
    xxhash64 to md5-affine permutations (``_MH_AB`` — one md5 per shingle,
    16 overflow-free (A·h+B) mod 2^31−1 transforms), so the DuckDB oracle
    reconstructs the signatures, the band agreement, and the exact-Jaccard
    verify digit-for-digit.  The oracle models the SAME banding the Spark
    plan blocks on (all-pairs oracle-side), so the declared
    candidates ∩ J ≥ 0.8 output is fully hash-graded; banding recall
    (P = 1−(1−J⁴)⁴ ≈ 87% at J = 0.8, ~100% at the corpus's J ≈ 1.0
    near-dups) stays property-tested with planted duplicates in
    tests/test_similarity.py.  The r4-regenerated corpus has ~25 real
    J ≥ 0.8 pairs at sf0.01, so the grade is non-vacuous.  Shingles and
    signatures come from the memoized per-(session, sf) checkpoint shared
    with dedup_minhash_estimate_error."""
    sh, sigs = _minhash_base_cached(spark, sf_dir)
    return _minhash_verified_pairs(sh, sigs, 0.8, _N_SIG, _BANDS)


def _minhash_estimate_oracle() -> str:
    """DuckDB twin of the estimator-calibration table: same signatures and
    band blocking as _minhash_oracle, but every CANDIDATE is scored with
    both the sketch estimate (matching positions / n_sig) and the exact
    Jaccard, plus the absolute error."""
    rows = _N_SIG // _BANDS
    sig_cols = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_MH_P}) AS s{i}"
        for i, (a, b) in enumerate(_MH_AB)
    )
    band_conds = "\n        OR ".join(
        "(" + " AND ".join(f"a.s{b * rows + r} = b.s{b * rows + r}" for r in range(rows)) + ")"
        for b in range(_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(_N_SIG)
    )
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, i.i, {_SHINGLE_K}) AS s
      FROM documents CROSS JOIN LATERAL
        (SELECT unnest(range(1, greatest(length(text) - {_SHINGLE_K - 2}, 2))) AS i) i
    ),
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 8))::UBIGINT::BIGINT AS h
          FROM sh),
    sig AS (SELECT doc_id,
             {sig_cols}
            FROM h GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ({matches}) AS n_match
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {band_conds}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT c.doc_a, c.doc_b,
           ROUND(n_match / {_N_SIG}.0, 6) AS est_jaccard,
           ROUND(COALESCE(i.i, 0) * 1.0 / (sa.n + sb.n - COALESCE(i.i, 0)),
                 6) AS exact_jaccard,
           ROUND(ABS(n_match / {_N_SIG}.0
                     - COALESCE(i.i, 0) * 1.0
                       / (sa.n + sb.n - COALESCE(i.i, 0))), 6) AS abs_err
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    ORDER BY c.doc_a, c.doc_b
    """


@query("dedup_minhash_estimate_error", oracle=_minhash_estimate_oracle())
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH CALIBRATION for the MinHash dedup path: every band-blocked
    candidate pair scored with BOTH the 16-permutation estimate
    (matching signature positions / 16) and the exact shingle Jaccard,
    plus |error| — the table that tells an operator whether their
    (n_sig, bands) budget is tight enough for the dedup threshold before
    they spend a 100 TB pass (E[err] ~ sqrt(J(1-J)/n_sig); the fixture's
    J ≈ 1 near-dups estimate at ~0 error, band-collision noise shows up
    as high-|err| rows at low exact J).

    Same scale shape as dedup_minhash_pairs (signatures via the broadcast
    md5 dictionary, banded equi-join blocking, exact verify only on
    candidates); the estimate adds one 16-column comparison per
    candidate.  est−exact subtracts two deterministic doubles (n/16 is
    exactly representable; exact J is one division of ints) → ROUND(,6)
    engine-stable.  Candidates with NO shared shingle (pure permutation
    collision) stay rows with exact_jaccard 0 — the oracle LEFT JOINs
    its intersection table for the same reason."""
    rows_per_band = _N_SIG // _BANDS
    sh, sigs = _minhash_base_cached(spark, sf_dir)
    candidates = _minhash_band_candidates(sigs, _BANDS, rows_per_band)
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(_N_SIG)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(_N_SIG)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_N_SIG)
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    est = F.col("n_match") / float(_N_SIG)
    exact = inter / union
    return (
        candidates.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_match"))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            rnd(est, 6).alias("est_jaccard"),
            rnd(exact, 6).alias("exact_jaccard"),
            rnd(F.abs(est - exact), 6).alias("abs_err"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


_NGJ_T = 0.6  # bigram-set Jaccard threshold (planted dups ≥0.9, noise <0.15)

#: the exact pair query as an embeddable DuckDB subquery (shared by the
#: dedup_ngram_jaccard oracle and the dedup_groups recursive-CTE oracle)
_NGJ_PAIRS_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    g AS (SELECT DISTINCT doc_id, words[i.i] || ' ' || words[i.i + 1] AS gram
          FROM w CROSS JOIN LATERAL (SELECT unnest(range(1, len(words))) AS i) i),
    s AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
              FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
    WHERE ROUND(i * 1.0 / (sa.n + sb.n - i), 6) >= {_NGJ_T}
"""


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """EXACT word-bigram set-Jaccard pairs at J ≥ _NGJ_T (unsorted), plus
    the persisted intermediates the caller must unpersist once the pair
    table is materialized.

    Scale path is PPJoin-style prefix filtering (Xiao et al., WWW'08 —
    public algorithm), which keeps the result EXACT: order each doc's grams
    by ascending corpus frequency (rarest first, ties by gram), keep only
    the first n - ceil(t*n) + 1 as its "prefix"; any pair with J ≥ t must
    share a prefix gram, so the candidate join runs on the prefix inverted
    index, then the exact intersection verifies candidates only. Every step
    is an equi-join/groupBy shuffle — no all-pairs scan anywhere."""
    # spread the bigram explode map phase (exact gram counts + value-ordered
    # gid assignment: partition-order-proof)
    d = spread_scan(load_tables(spark, sf_dir)["documents"], 500, "doc_id")
    words = F.split("text", " ")
    nw = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, nw - 1),
        F.slice(words, 2, nw - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    g0 = d.select("doc_id", F.explode(F.array_distinct(bigrams)).alias("gram"))
    # Dense integer gram ids: string bigrams never leave this stage, so the
    # candidate join and the verify intersections run on bigint arrays (~2×
    # cheaper than string hashing, measured).  ids must be DETERMINISTIC
    # FROM DATA, not monotonically_increasing_id (ADVICE r4): prefix
    # exactness needs one consistent global gram order, and an executor
    # loss recomputing an mi_id-built table can reassign ids per partition
    # and silently drop true pairs.  Bucketed row_number gives a unique
    # reproducible id with no global window: gid = bucket<<40 | rank-in-
    # bucket, bucket = hash(gram) mod 1024 (window partitions stay small at
    # any corpus size; rank < 2^40 per bucket is unreachable).
    gid = (
        g0.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("b", F.pmod(F.xxhash64("gram"), F.lit(1024)))
        .withColumn("rn", F.row_number().over(Window.partitionBy("b").orderBy("gram")))
        .withColumn("gid", F.shiftleft(F.col("b"), 40) + F.col("rn"))
        .drop("b", "rn")
    )
    # persist: feeds 3 subplans and self-join sides share no common subplan
    # (CLAUDE.md trap).
    g = g0.join(gid, "gram").select("doc_id", "gid", "df").persist()
    garr = g.groupBy("doc_id").agg(F.collect_list("gid").alias("grams")).persist()
    probe_len = (F.col("n") - F.ceil(F.lit(_NGJ_T) * F.col("n")) + 1).cast("int")
    prefix = (
        g.withColumn(
            "rn", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gid"))
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .where(F.col("rn") <= probe_len)
        .select("doc_id", "gid", "rn", "n")
        .persist()
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), "gid", F.col("rn").alias("pa"), F.col("n").alias("na")
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), "gid", F.col("rn").alias("pb"), F.col("n").alias("nb")
    )
    # PPJoin length + positional filters (both exact): J>=t forces
    # t*max(na,nb) <= min(na,nb), and a first prefix match at positions
    # (pa, pb) caps the achievable overlap at min(na-pa, nb-pb)+1, which must
    # still reach alpha = ceil(t/(1+t)*(na+nb)). Row-local predicates, stay
    # in codegen, cut the hot-gram candidate blowup ~3x on shared-vocab
    # corpora before the distinct shuffle.
    alpha = F.ceil(F.lit(_NGJ_T / (1 + _NGJ_T)) * (F.col("na") + F.col("nb")))
    cand = (
        pa.join(pb, "gid")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("na", "nb") >= F.ceil(F.lit(_NGJ_T) * F.greatest("na", "nb")))
            & (F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")) + 1 >= alpha)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ga = garr.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("g_a"))
    gb = garr.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = (F.size("g_a") + F.size("g_b")).cast("double") - inter
    # verify joins broadcast the per-doc gid arrays (O(corpus) rows of ~n_gram
    # ints — at a corpus too big for that, AQE/statistics demote these to the
    # usual sort-merge; candidates still carry IDs only either way).
    pairs = (
        cand.join(F.broadcast(ga), "doc_a")
        .join(F.broadcast(gb), "doc_b")
        .select("doc_a", "doc_b", rnd(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= _NGJ_T)
    )
    return pairs, [g, garr, prefix]


def _ngram_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted exact pair table: dedup_ngram_jaccard, dedup_groups and
    the other ngram consumers share one pair computation per session+sf."""

    def build() -> DataFrame:
        pairs, temps = _ngram_pairs(spark, sf_dir)
        p = pairs.persist()
        p.count()  # force the pair table NOW so the inputs can release
        for t in temps:  # ADVICE r4: g/garr/prefix otherwise stay pinned
            t.unpersist()  # in executor storage for the whole suite run
        return p

    return memo(spark, sf_dir, "ngram_pairs", build)


@query(
    "dedup_ngram_jaccard",
    oracle=_NGJ_PAIRS_SQL + "    ORDER BY doc_a, doc_b",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2b: EXACT n-gram Jaccard near-dup pairs — the deterministic member
    of the dedup family (MinHash/SimHash are its probabilistic
    accelerations), hash-matched against a naive all-pairs oracle.  Plan in
    :func:`_ngram_pairs`.  Final order via single-partition sort, NOT
    orderBy: range-partitioner sampling would re-execute the whole verify
    plan for a few-hundred-row result."""
    return (
        _ngram_pairs_cached(spark, sf_dir)
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


@query(
    "dedup_edit_distance",
    oracle=f"""
    WITH cand AS (SELECT doc_a, doc_b FROM ({_NGJ_PAIRS_SQL})),
    t AS (SELECT doc_id, text FROM documents)
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           ROUND(1.0 - levenshtein(a.text, b.text)
                 / GREATEST(len(a.text), len(b.text)), 6) AS edit_sim
    FROM cand c
    JOIN t a ON a.doc_id = c.doc_a
    JOIN t b ON b.doc_id = c.doc_b
    ORDER BY doc_a, doc_b
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE refinement of the near-dup candidates — the precision
    stage a dedup pipeline runs after set-similarity blocking: exact
    Levenshtein (JVM built-in, O(len²) per pair) is affordable only on the
    already-blocked pair table, never corpus-wide.  Reuses the memoized
    exact n-gram pair table as the candidate set, joins the two text
    payloads back by id (texts move only for candidate pairs — the same
    IDs-only-through-shuffles discipline as the pair pipeline), and emits
    the distance plus a length-normalized similarity.  Spark and DuckDB
    agree on Levenshtein exactly (same unit-cost dynamic program)."""
    pairs = _ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    d = load_tables(spark, sf_dir)["documents"]
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    ed = F.levenshtein("text_a", "text_b")
    sim = rnd(
        F.lit(1.0)
        - ed.cast("double") / F.greatest(F.length("text_a"), F.length("text_b")),
        6,
    )
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", ed.cast("long").alias("edit_dist"), sim.alias("edit_sim"))
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


#: component-assignment oracle shared by dedup_groups (hash-to-min) and
#: dedup_groups_star (large-star/small-star): DuckDB recursive reachability
#: closure + MIN per source — algorithm-independent ground truth.
_GROUPS_ORACLE = f"""
    WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({_NGJ_PAIRS_SQL})),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(src, node) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
    ),
    rep AS (SELECT src AS doc_id, MIN(node) AS rep_id FROM reach GROUP BY src)
    SELECT doc_id, rep_id,
           COUNT(*) OVER (PARTITION BY rep_id) AS group_size
    FROM rep ORDER BY doc_id
    """


@query("dedup_groups", oracle=_GROUPS_ORACLE)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e: duplicate-GROUP assignment — every doc mapped to the canonical
    (minimum) doc_id of its connected component in the exact J ≥ 0.6 pair
    graph.  This is the step a real dedup pipeline needs beyond pairs: pick
    one representative per cluster, drop the rest.

    Spark plan: min-label propagation ("hash-to-min") to a fixpoint — labels
    start as each node's own id; each round every node takes the min of its
    label and its neighbors' labels (one equi-join + groupBy per round, all
    shuffles on ids only).  Rounds needed = graph diameter; near-dup
    clusters are near-cliques (diameter ≤ 2-3), so this converges in 2-3
    rounds where the general-purpose large-star/small-star alternation
    (Kiveris et al., MapReduce & Beyond '14) would pay its constant-factor
    overhead for no benefit.  Labels live only on EDGE-PARTICIPATING nodes
    (the dup graph is ≪ the corpus; isolated docs rejoin as their own rep
    at the end), and convergence is detected from sum(lbl) — min-labels
    decrease monotonically, so an unchanged checksum IS the fixpoint: one
    tiny agg per round instead of a join-diff, and only that scalar ever
    reaches the driver.  Oracle: DuckDB recursive reachability closure +
    MIN per source."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    labels = _components_cached(
        spark, sf_dir, "all",
        lambda: _min_label_components(
            _ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )
    w = Window.partitionBy("rep_id")
    return (
        docs.join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("rep_id"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query("dedup_groups_star", oracle=_GROUPS_ORACLE)
def dedup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e HIGH-DIAMETER twin of dedup_groups: identical output contract
    (doc_id, rep_id, group_size — hash-matched against the same recursive-
    CTE oracle), computed with the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm) instead of min-label propagation.

    Why both: hash-to-min needs diameter-many rounds (fine for near-clique
    dup groups), while large-star/small-star halves path lengths every
    alternation — O(log² n) rounds on ANY graph shape, so chain-shaped
    near-dup graphs (doc A ~ B ~ C without A ~ C, common under transitive
    paraphrase chains) can't blow the round count at 100 TB.  Every round
    is two groupBy-min + id-only equi-joins; edges stay canonical (u < v)
    and deduped, so state never exceeds the (already ≪ corpus) pair graph."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    labels = _components_cached(
        spark, sf_dir, "star",
        lambda: _star_components(
            _ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )
    w = Window.partitionBy("rep_id")
    return (
        docs.join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("rep_id"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "dedup_group_size_histogram",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({_NGJ_PAIRS_SQL})),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(src, node) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
    ),
    rep AS (SELECT src AS doc_id, MIN(node) AS rep_id FROM reach GROUP BY src),
    g AS (SELECT rep_id, COUNT(*) AS group_size FROM rep GROUP BY rep_id)
    SELECT CAST(group_size AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(group_size * COUNT(*) AS BIGINT) AS n_docs
    FROM g GROUP BY group_size ORDER BY group_size
    """,
)
def dedup_group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e REPORTING twin: the duplicate-CLUSTER SIZE distribution — the
    first number a dedup run is judged by ("how much of the corpus sits
    in clusters of size k?").  Size-1 groups are the unique docs; the
    tail sizes are what a containment-attack or template flood looks
    like.

    Reuses the memoized min-label components verbatim (zero extra graph
    work when dedup_groups already ran this session), then two
    cardinality-bounded aggs: rep_id → size, size → group count.  All
    shuffles are on ids/longs; output rows ≤ max cluster size."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    labels = _components_cached(
        spark, sf_dir, "all",
        lambda: _min_label_components(
            _ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )
    sizes = (
        docs.join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(F.coalesce("lbl", "doc_id").alias("rep_id"))
        .groupBy("rep_id")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    return (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .select(
            "group_size",
            "n_groups",
            (F.col("group_size") * F.col("n_groups")).alias("n_docs"),
        )
        .repartition(1)
        .sortWithinPartitions("group_size")
    )


def _star_components(pairs: DataFrame) -> DataFrame:
    """Large-star/small-star alternation -> (node, lbl) star edges where lbl
    is the component minimum.  Edge set is kept canonical (u < v, distinct)
    between rounds; converged when an alternation returns the same set (two
    tiny actions per round: a count and an is-empty set-diff — at the
    fixpoint every edge already points at the component root, so both maps
    reproduce the input).  Only edge-participating nodes appear, matching
    :func:`_min_label_components`'s contract."""
    # Lineage discipline: each alternation's plan embeds the previous
    # round's plan ~12× (adj reads e twice, mins re-reads adj, …), so plain
    # persist() grows the logical plan EXPONENTIALLY across rounds — the
    # driver OOMs just rendering the cache-name plan string by round 3
    # (observed on a vanilla 1g-driver session).  localCheckpoint(eager)
    # materializes AND truncates lineage each round — the GraphX pattern
    # for iterative graph state.  Trade-off (documented): checkpointed
    # rounds can't recompute on executor loss; at cluster scale use
    # reliable checkpoint() to HDFS instead — same call shape.
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"), F.greatest("doc_a", "doc_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    while True:
        # LARGE-STAR: every node x links its strictly-larger neighbors to
        # min(N(x) ∪ {x}) — adjacency is both orientations of e.
        adj = e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
            e.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        mins = adj.groupBy("x").agg(F.min("y").alias("mn"))
        large = (
            adj.join(mins, "x")
            .where(F.col("y") > F.col("x"))
            .select(F.col("y").alias("a"), F.least("mn", "x").alias("b"))
        )
        e1 = (
            large.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # SMALL-STAR: orient edges big→small; every node x links its
        # ≤-neighbors and itself to min(N≤(x) ∪ {x}) (= min smaller nbr).
        m2 = e1.groupBy(F.col("v").alias("x")).agg(F.min("u").alias("mn"))
        members = e1.join(m2, e1["v"] == m2["x"]).select(
            F.col("u").alias("a"), F.col("mn").alias("b")
        )
        centers = m2.select(F.col("x").alias("a"), F.col("mn").alias("b"))
        e2 = (
            members.unionByName(centers)
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n2 = e2.count()
        converged = n2 == n_prev and e2.subtract(e).isEmpty()
        # e2 is materialized and the convergence diff (the last reader of
        # e) has run: release the superseded round's checkpoint blocks so
        # executor storage holds ONE edge copy, not one per round
        # (ADVICE r5 unpersist hygiene).
        _free_local_checkpoint(e)
        _free_local_checkpoint(e1)
        e = e2
        n_prev = n2
        if converged:
            break
    # fixpoint edges are stars centered at the component min: v -> u = root
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("lbl")).persist()
    labels.count()
    _free_local_checkpoint(e)  # labels cache is materialized; drop the edges
    return labels


def _components_cached(spark: SparkSession, sf_dir: str, scope: str, labels_fn) -> DataFrame:
    """Persisted component-label table per (session, sf_dir, scope).
    dedup_groups and pipeline_curriculum label DIFFERENT pair graphs
    (curriculum semi-joins pairs to its quality/lang survivors), hence the
    scope tag.  Memoizing keeps executor storage at one tiny (node, lbl)
    table per scope instead of leaking a fresh persisted labels table per
    call (ADVICE r4 — bench calls each query 3×)."""
    return memo(spark, sf_dir, f"labels:{scope}", labels_fn)


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected pair list -> (node, lbl)
    where lbl is the component's minimum node id.  Only edge-participating
    nodes appear; see dedup_groups for the algorithm + convergence notes."""
    edges = (
        pairs.select(F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr"))
        .union(pairs.select(F.col("doc_b").alias("node"), F.col("doc_a").alias("nbr")))
        .persist()
    )
    labels = (
        edges.select("node").distinct().withColumn("lbl", F.col("node")).persist()
    )
    prev = labels.agg(F.sum("lbl")).first()[0] or 0
    while True:
        nbr_lbl = (
            edges.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .select("node", "lbl")
        )
        new_labels = (
            labels.unionByName(nbr_lbl).groupBy("node").agg(F.min("lbl").alias("lbl")).persist()
        )
        tot = new_labels.agg(F.sum("lbl")).first()[0] or 0
        labels.unpersist()
        labels = new_labels
        if tot == prev:
            break
        prev = tot
    edges.unpersist()
    return labels


@query(
    "dedup_simhash_bands",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::UBIGINT AS hi,
               ('0x' || substr(md5(w), 9, 8))::UBIGINT AS lo
        FROM tok
    ),
    bits AS (
        SELECT doc_id, bb.b AS b,
               CASE WHEN bb.b < 32 THEN (lo >> bb.b) & 1
                    ELSE (hi >> (bb.b - 32)) & 1 END AS bit
        FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bb
    ),
    votes AS (
        SELECT doc_id, b, SUM(bit) AS cnt, COUNT(*) AS n
        FROM bits GROUP BY 1, 2
    ),
    sim AS (
        SELECT doc_id,
          SUM(CASE WHEN 2*cnt > n AND b // 16 = 0 THEN 1 << (b % 16) ELSE 0 END) AS b0,
          SUM(CASE WHEN 2*cnt > n AND b // 16 = 1 THEN 1 << (b % 16) ELSE 0 END) AS b1,
          SUM(CASE WHEN 2*cnt > n AND b // 16 = 2 THEN 1 << (b % 16) ELSE 0 END) AS b2,
          SUM(CASE WHEN 2*cnt > n AND b // 16 = 3 THEN 1 << (b % 16) ELSE 0 END) AS b3
        FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INT)
               AS hamming
    FROM sim a JOIN sim b
      ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with banded blocking — the pure-SQL scale path.

    64-bit SimHash per doc from per-token bit votes; candidate pairs via
    equi-join on any of four 16-bit bands (shuffle join, no pairwise scan),
    then exact Hamming distance filter via bit_count(xor).

    Threshold = 3 = n_bands − 1, so the band blocking is EXHAUSTIVE by
    pigeonhole (a pair differing in ≤ 3 bits must agree on ≥ 1 of the 4
    16-bit bands): the blocked Spark plan provably equals the unblocked
    all-pairs semantics, and the oracle needs no blocking model — its
    all-pairs join is oracle-only.  (r2-r4 declared hamming ≤ 16
    rows-only; that band was blocking-DEPENDENT — at hamming 5-6 this
    corpus already has band-miss pairs — and emitted 160k pairs at sf0.1,
    ~3% of all pairs: not a near-dup semantics anyone would ship.)

    The token hash is the first 16 md5 hex digits as (hi<<32)|lo — the
    house cross-engine integer-hash pattern (see sample_temperature) —
    NOT xxhash64, precisely so the DuckDB oracle can rebuild the
    simhashes bit-for-bit and hash-grade the full pair output.
    """
    sim = _simhash_table_cached(spark, sf_dir)
    # one exploded (band_idx, band_val) relation + a single self equi-join —
    # the same blocking as 4 unioned joins at half the plan size. Join key
    # includes the band index so different bands never cross-match.
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "bucket"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "bucket"
    )
    pairs = a.join(b, ["band", "bucket"]).where(F.col("doc_a") < F.col("doc_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        # hamming is row-local: filter BEFORE the pair-distinct so the
        # dedup shuffle carries only qualifying pairs, not every blocked
        # candidate (hot buckets on a degenerate vocab)
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= 3)
        .dropDuplicates(["doc_a", "doc_b"])
        # small declared output: single-partition sort, not orderBy (the
        # range-partitioner sampling pass would re-run the band join)
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


def _method_agreement_oracle() -> str:
    """Composed from the three pair pipelines' REGISTERED oracles (single
    source of truth: a threshold change in any family automatically flows
    into this audit) — DuckDB runs them as subqueries."""
    from paraslice_spark.registry import ORACLES

    mh, ng, sh = (
        ORACLES["dedup_minhash_pairs"],
        ORACLES["dedup_ngram_jaccard"],
        ORACLES["dedup_simhash_bands"],
    )
    return f"""
    WITH pairs AS MATERIALIZED (
      -- MATERIALIZED is load-bearing: pairs is referenced twice below and
      -- DuckDB inlines CTEs by default, which would run all three
      -- pipelines TWICE — at sf0.1 the doubled ngram spill exhausted the
      -- container disk (measured r8)
      SELECT 'minhash' AS m, doc_a, doc_b FROM ({mh})
      UNION ALL SELECT 'ngram', doc_a, doc_b FROM ({ng})
      UNION ALL SELECT 'simhash', doc_a, doc_b FROM ({sh})),
    c AS (SELECT m, COUNT(*) AS n FROM pairs GROUP BY 1),
    x AS (SELECT a.m AS method_a, b.m AS method_b, COUNT(*) AS nb
          FROM pairs a JOIN pairs b
            ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b AND a.m < b.m
          GROUP BY 1, 2)
    SELECT ca.m AS method_a, cb.m AS method_b,
           CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
           CAST(COALESCE(x.nb, 0) AS BIGINT) AS n_both,
           ROUND(CAST(COALESCE(x.nb, 0) AS DOUBLE)
                 / NULLIF(ca.n + cb.n - COALESCE(x.nb, 0), 0), 6)
             AS agreement
    FROM c ca
    JOIN c cb ON ca.m < cb.m
    LEFT JOIN x ON x.method_a = ca.m AND x.method_b = cb.m
    ORDER BY method_a, method_b
    """


@query("dedup_method_agreement", oracle=_method_agreement_oracle())
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP METHOD CROSS-CALIBRATION — pairwise agreement (set Jaccard of
    the detected PAIR sets) between the three near-dup detectors: MinHash
    (shingle-Jaccard ≥ 0.8), exact n-gram Jaccard, and SimHash
    (hamming ≤ 3).  The r7 self-auditing theme applied ACROSS methods:
    before trusting one family's sketch at 100 TB, measure how its pair
    decisions rank against the others on the same corpus — low agreement
    between the probabilistic members and the exact member localizes
    which sketch's thresholds drifted.

    Every input is a declared, individually hash-oracled pipeline riding
    its memoized per-(session, sf) base (zero rebuild when those queries
    already ran), and the oracle is COMPOSED from their registered oracle
    SQL — the two sides cannot desynchronize.  All agreement work happens
    on the few-dozen-row pair tables: one tagged union, two tiny aggs,
    one self-join keyed on the pair."""
    tagged = None
    for m, df in (
        ("minhash", dedup_minhash_pairs(spark, sf_dir)),
        ("ngram", dedup_ngram_jaccard(spark, sf_dir)),
        ("simhash", dedup_simhash_bands(spark, sf_dir)),
    ):
        t = df.select(F.lit(m).alias("m"), "doc_a", "doc_b")
        tagged = t if tagged is None else tagged.unionByName(t)
    # few-dozen-row pair union feeds counts + the agreement self-join —
    # materialize once (house multi-consumer pattern)
    tagged = tagged.localCheckpoint(eager=False)
    c = tagged.groupBy("m").agg(F.count(F.lit(1)).alias("n"))
    a = tagged.select(F.col("m").alias("method_a"), "doc_a", "doc_b")
    b = tagged.select(F.col("m").alias("method_b"), "doc_a", "doc_b")
    x = (
        a.join(b, ["doc_a", "doc_b"])
        .where(F.col("method_a") < F.col("method_b"))
        .groupBy("method_a", "method_b")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    ca = c.select(F.col("m").alias("method_a"), F.col("n").alias("n_a"))
    cb = c.select(F.col("m").alias("method_b"), F.col("n").alias("n_b"))
    nb = F.coalesce(F.col("nb"), F.lit(0))
    return (
        ca.join(cb, F.col("method_a") < F.col("method_b"))
        .join(x, ["method_a", "method_b"], "left")
        .select(
            "method_a",
            "method_b",
            "n_a",
            "n_b",
            nb.alias("n_both"),
            F.round(
                nb.cast("double")
                / F.nullif(F.col("n_a") + F.col("n_b") - nb, F.lit(0)),
                6,
            ).alias("agreement"),
        )
        .repartition(1)
        .sortWithinPartitions("method_a", "method_b")
    )


def _simhash_table_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eagerly-checkpointed (doc_id, simhash) table — the tokenize +
    64-bit-vote stage runs once per session per SF instead of a naked
    persist per invocation."""
    return memo(
        spark,
        sf_dir,
        "simhash_table",
        lambda: _simhash_table(spark, sf_dir).localCheckpoint(eager=True),
    )


def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash per doc from md5-derived per-token
    bit votes (see dedup_simhash_bands docstring for the contract)."""
    # spread the tokenize + md5 + lane-pack map phase (integer bit-vote
    # sums: partition-order-proof)
    d = spread_scan(load_tables(spark, sf_dir)["documents"], 500, "doc_id")
    words = F.explode(F.split("text", " "))
    hexs = F.md5("w")
    h64 = F.shiftleft(F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long"), 32).bitwiseOR(
        F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    )
    tok = d.select("doc_id", words.alias("w")).select("doc_id", h64.alias("h"))
    # bit-vote counts, lane-packed: bit b set ⇔ 2·count_b > n_tokens, so we
    # only need per-bit set-counts + the token count.  Packing four 16-bit
    # counter lanes per long shrinks the pre-agg row from 64 columns to 16
    # (measured ~2× on the vote stage); capacity is 65535 tokens/doc — far
    # above fixture docs (~100) — switch to 8 longs × 32-bit lanes for
    # longer documents.
    packed = [
        sum(
            [
                F.shiftleft(
                    F.shiftright(F.col("h"), 4 * g + p).bitwiseAND(F.lit(1)), 16 * p
                )
                for p in range(4)
            ],
            F.lit(0).cast("long"),
        ).alias(f"g{g}")
        for g in range(16)
    ]
    votes = (
        tok.select("doc_id", *packed)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"g{g}").alias(f"g{g}") for g in range(16)],
        )
    )

    def lane(g: int, p: int):
        return F.shiftrightunsigned(F.col(f"g{g}"), 16 * p).bitwiseAND(F.lit(0xFFFF))

    sim = votes.select(
        "doc_id",
        # bit 63 can't be a python literal (1<<63 overflows JVM long);
        # shiftleft builds each bit mask JVM-side with two's-complement wrap
        sum(
            [
                F.when(
                    lane(g, p) * 2 > F.col("n"),
                    F.shiftleft(F.lit(1).cast("long"), 4 * g + p),
                ).otherwise(F.lit(0).cast("long"))
                for g in range(16)
                for p in range(4)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    # the band self-join consumer materializes this via the memoized
    # localCheckpoint above (Spark shares no common subplan across
    # self-join sides; uncheckpointed, tokenize + vote would run twice).
    return sim


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_bits: int = 32,
    bands: int = 4,
    base: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane signatures → banded
    bucket join → exact cosine verify on candidates only.

    Hyperplanes are seeded-deterministic. Sign bits agree with probability
    1−θ/π; 8-bit bands pass ~0.4% of random (near-orthogonal) pairs per
    band while cos≥0.95 pairs match a band with ~43% (≈90% over 4 bands)
    and exact duplicates always match. (The first cut used 4-bit bands:
    ~25% of ALL pairs became candidates — measured 5.5s at sf0.1 — band
    width is the knob that makes LSH actually prune.) Same 100 TB shape as
    MinHash: shuffle joins only, no pairwise scan; verify is one Arrow
    batch matmul over candidates.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(4242)
    planes = rng.standard_normal((n_bits, 64))
    bits_per_band = n_bits // bands
    pack = (1 << np.arange(bits_per_band)).astype(np.int64)

    def buckets_fn(emb):  # (pd.Series) -> pd.Series; no hints: pd is a
        # function-local import and string hints resolve in module globals
        # one Arrow batch -> one BLAS matmul: (n,64)@(64,n_bits) sign bits,
        # packed into per-band bucket ids (n, bands)
        m = np.stack(emb.to_numpy())
        bits = (m @ planes.T) > 0  # (n, n_bits)
        out = np.stack(
            [bits[:, b * bits_per_band : (b + 1) * bits_per_band] @ pack for b in range(bands)],
            axis=1,
        )
        return pd.Series(list(out))

    buckets_udf = pandas_udf(by_ref(buckets_fn), "array<long>")
    # base feeds the signature UDF and both verify-join sides; the declared
    # query passes the memoized _emb_base_cached checkpoint, generic/test
    # callers fall back to a per-call non-eager localCheckpoint (one
    # materialization, no cache-manager entry — see shingle note above).
    if base is None:
        emb = _as_double(F.col("embedding"))
        base = embeddings.select("vec_id", emb.alias("emb")).localCheckpoint(
            eager=False
        )
    # band_vals feeds both self-join sides (ids+bucket only — 3 longs/row)
    band_vals = (
        base.select("vec_id", F.posexplode(buckets_udf("emb")))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
        .localCheckpoint(eager=False)
    )
    a = band_vals.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
    b = band_vals.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
    def cos_fn(ea, eb):  # two pd.Series of arrays -> pd.Series of doubles
        ma, mb = np.stack(ea.to_numpy()), np.stack(eb.to_numpy())
        dots = (ma * mb).sum(axis=1)
        na = np.sqrt((ma * ma).sum(axis=1))
        nb = np.sqrt((mb * mb).sum(axis=1))
        return pd.Series(np.round(dots / (na * nb), 6))

    cos_udf = pandas_udf(by_ref(cos_fn), "double")
    # distinct on the ID pair only (hashing 2×64-double payloads through the
    # dedup shuffle would dominate at scale), then join the vectors back
    # once for the verify — same shape as minhash_near_dup_pairs
    candidates = (
        a.select("vec_a", "band", "bucket")
        .join(b.select("vec_b", "band", "bucket"), ["band", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = base.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
    eb = base.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    # r15 (guide §2.4 + house trap): a final .orderBy on this few-row
    # result plans a rangepartitioning exchange whose partitioner SAMPLES
    # its input — re-executing the whole candidates+verify subtree once
    # before the sort pass runs it again.  repartition(1) +
    # sortWithinPartitions gives the identical sorted output in ONE
    # execution (the result is near-dup pairs: tiny by construction).
    return (
        candidates.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos_udf("emb_a", "emb_b").alias("cos"))
        .where(F.col("cos") >= threshold)
        .repartition(1)
        .sortWithinPartitions("vec_a", "vec_b")
    )


@query("dedup_embedding_cosine")  # rows-only: LSH signatures engine-internal
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cos ≥ 0.9. Fixture embeddings are
    i.i.d.-random (near-orthogonal), so zero pairs on fixtures is the
    correct answer; recall is property-tested with planted duplicates.
    The vector base rides the memoized _emb_base_cached checkpoint shared
    with the IVF/IVF-PQ queries."""
    return embedding_near_dup_pairs(
        load_tables(spark, sf_dir)["embeddings"],
        base=_emb_base_cached(spark, sf_dir),
    )


@query(
    "multimodal_join",
    oracle="""
    WITH j AS (
      SELECT d.doc_id, d.lang, e.label, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    dims AS (
      SELECT doc_id, label, i.i AS dim,
             CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS vmic
      FROM j CROSS JOIN LATERAL (SELECT unnest(range(1, 65)) AS i) i
    ),
    centroid AS (
      SELECT label, dim,
             CAST(SUM(vmic) AS DOUBLE) / 1000000.0 / COUNT(*) AS c
      FROM dims GROUP BY label, dim
    )
    SELECT d.doc_id, d.label,
           ROUND(SUM((CAST(d.vmic AS DOUBLE) / 1000000.0 - c.c)
                     * (CAST(d.vmic AS DOUBLE) / 1000000.0 - c.c)), 4) AS sq_dist
    FROM dims d JOIN centroid c ON d.label = c.label AND d.dim = c.dim
    GROUP BY d.doc_id, d.label
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: bind text docs to their embedding vectors (doc_id = vec_id) and
    compute each vector's squared distance to its label centroid.

    Centroids are exact (int64 micro-unit sums / count); the distance sum
    runs over posexploded dims in both engines, rounded(4). Quantizing to
    micro-units makes the metric identical across engines. At scale: one
    shuffle on (label, dim) for centroids (tiny result, broadcast back),
    one shuffle on doc for the distance agg.
    """
    t = load_tables(spark, sf_dir)
    j = t["documents"].join(
        t["embeddings"], F.col("doc_id") == F.col("vec_id")
    ).select("doc_id", "label", "embedding")
    dims = j.select(
        "doc_id",
        "label",
        F.posexplode(F.col("embedding")),
    ).select(
        "doc_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("col").cast("double") * 1000000).cast("long").alias("vmic"),
    )
    centroid = dims.groupBy("label", "dim").agg(
        (F.sum("vmic").cast("double") / 1000000.0 / F.count(F.lit(1))).alias("c")
    )
    v = F.col("vmic").cast("double") / 1000000.0
    return (
        dims.join(F.broadcast(centroid), ["label", "dim"])
        .groupBy("doc_id", "label")
        .agg(rnd(F.sum((v - F.col("c")) * (v - F.col("c"))), 4).alias("sq_dist"))
    )


@query(
    "embedding_label_stats",
    oracle="""
    WITH base AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT label, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(round(sqrt(list_dot_product(emb, emb))
                                     * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 4) AS avg_norm,
           CAST(SUM(CAST(round(emb[1] * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS sum_dim1
    FROM base GROUP BY label
    """,
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10: per-label vector sanity stats. Per-row norms quantized to int64
    micro-units before the cross-row sum, so group sums are exact and
    order-independent on both engines."""
    e = load_tables(spark, sf_dir)["embeddings"]
    emb = _as_double(F.col("embedding"))
    norm_mic = F.round(_norm(emb) * 1000000).cast("long")
    dim1_mic = F.round(F.element_at(emb, 1) * 1000000).cast("long")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(norm_mic).cast("double") / 1000000.0 / F.count(F.lit(1)), 4).alias(
            "avg_norm"
        ),
        (F.sum(dim1_mic).cast("double") / 1000000.0).alias("sum_dim1"),
    )


@query(
    "embedding_gram_matrix",
    oracle="""
    WITH base AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    prods AS (
        SELECT ii.i AS i, jj.j AS j,
               CAST(round(emb[ii.i + 1] * emb[jj.j + 1] * 1000000) AS BIGINT)
                 AS p
        FROM base
        CROSS JOIN (SELECT unnest(range(64)) AS i) ii
        CROSS JOIN (SELECT unnest(range(64)) AS j) jj
        WHERE ii.i <= jj.j
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(SUM(p) AS BIGINT) AS gram_micro
    FROM prods GROUP BY i, j
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed GRAM MATRIX (X^T X upper triangle) over the embedding
    corpus — the one-pass precursor to PCA / whitening / covariance in an
    embedding pipeline.

    Scale shape: one mapInPandas pass accumulates a dim×dim int64 partial
    per PARTITION (numpy chunked outer products), so the only shuffle is
    n_partitions × dim(dim+1)/2 tiny rows into a final sum — the classic
    partial-aggregate pattern for matrix sums; nothing reaches the driver.
    Exactness: every per-row product is quantized half-away-from-zero to
    int64 micro-units BEFORE summation (the house micros_units rule), so
    partial sums are associative integers and the DuckDB twin — the same
    round(x*1e6) per product — matches bit-for-bit regardless of row or
    partition order.  numpy's rint (banker's) is deliberately NOT used.

    r16 heavy-arm fix: rides the shared `_emb_base_cached` checkpoint
    (scale-adaptively partitioned) — the chunked numpy outer-product
    pass ran as ONE task on the single-file scan at any SF (sf1
    isolated best 1.77 s before); partial sums are associative
    integers, so the partition count cannot move the declared values."""
    import numpy as np
    import pandas as pd

    base = _emb_base_cached(spark, sf_dir).select("emb")
    dim = 64
    iu, ju = np.triu_indices(dim)

    def partial_gram(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            m = np.stack([np.asarray(v) for v in pdf["emb"]])
            seen = True
            for lo in range(0, len(m), 256):
                chunk = m[lo : lo + 256]
                outer = np.einsum("ni,nj->nij", chunk, chunk) * 1e6
                acc += (np.sign(outer) * np.floor(np.abs(outer) + 0.5)).astype(
                    np.int64
                ).sum(axis=0)
        if seen:
            yield pd.DataFrame(
                {"i": iu.astype("int64"), "j": ju.astype("int64"), "p": acc[iu, ju]}
            )

    partials = base.mapInPandas(by_ref(partial_gram), "i long, j long, p long")
    return partials.groupBy("i", "j").agg(F.sum("p").alias("gram_micro"))


@query(
    "embedding_label_centroid_sim",
    oracle="""
    WITH u AS (
      SELECT label, ii.i AS pos,
             CAST(round(CAST(embedding AS DOUBLE[])[ii.i + 1] * 100)
                  AS BIGINT) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i) ii),
    s AS (SELECT label, pos, CAST(SUM(c) AS BIGINT) AS s FROM u GROUP BY 1, 2),
    n AS (SELECT label, CAST(SUM(s*s) AS BIGINT) AS nsq FROM s GROUP BY 1),
    d AS (SELECT a.label AS label_a, b.label AS label_b,
                 CAST(SUM(a.s*b.s) AS BIGINT) AS dot
          FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
          GROUP BY 1, 2)
    SELECT d.label_a, d.label_b,
           ROUND(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.nsq AS DOUBLE))
                    * sqrt(CAST(nb.nsq AS DOUBLE))), 6) AS cos
    FROM d
    JOIN n na ON na.label = d.label_a
    JOIN n nb ON nb.label = d.label_b
    ORDER BY label_a, label_b
    """,
)
def embedding_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-CENTROID SIMILARITY MATRIX — pairwise cosine between class
    mean embeddings, the class-confusability report an embedding pipeline
    reads before trusting labels for stratified sampling or curriculum
    ordering (two labels whose centroids sit at cos ≈ 1 are one class).

    Exactness via the SUM-VECTOR identity: cos of two mean vectors equals
    cos of the corresponding SUM vectors (the 1/n factors cancel), so no
    division ever touches the vectors — per-row values quantize to int64
    CENTI-units (round(x*100): coarser than the micro rule, keeping every
    pairwise dot of label-sum vectors exact int64 to ~1e8 rows/label;
    quantization perturbs the audited direction by O(1e-2/‖x‖) which is
    noise at rank-10 granularity), all sums/dots are exact integers, and
    the two sqrt + one division are the only IEEE ops → ROUND(,6) is
    engine-deterministic (the similarity_signlsh_ann precedent).

    Scale shape: ONE posexplode pass → (label, dim) hash agg (10×64 rows
    out of any corpus size — the gram-matrix partial-agg regime), then
    all pair work happens on the 640-row sum table: broadcast self-join
    on dim, 45-pair dot agg, two broadcast norm attaches.  The corpus is
    scanned exactly once.

    r16 heavy-arm fix: the posexplode + (label, dim) partial agg ran
    1-task on the single-file scan at any SF; spread by `spread_scan`
    like the `_emb_base_cached` memo (needs `label`, so the raw scan is
    spread rather than riding the vec-only memo — no spread at fixture
    SFs, keeping those plans byte-identical)."""
    e = spread_scan(load_tables(spark, sf_dir)["embeddings"], 2000, "vec_id")
    s = (
        e.select("label", F.posexplode(_as_double(F.col("embedding"))))
        .select(
            "label",
            "pos",
            F.round(F.col("col") * 100).cast("long").alias("c"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("c").alias("s"))
        # 640-row sum table feeds both pair-join sides and the norms —
        # one corpus scan, not three
        .localCheckpoint(eager=False)
    )
    nsq = s.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("nsq"))
    a = s.select(F.col("label").alias("label_a"), "pos", F.col("s").alias("sa"))
    b = s.select(F.col("label").alias("label_b"), "pos", F.col("s").alias("sb"))
    d = (
        a.join(F.broadcast(b), "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na = nsq.select(F.col("label").alias("label_a"), F.col("nsq").alias("na"))
    nb = nsq.select(F.col("label").alias("label_b"), F.col("nsq").alias("nb"))
    return (
        d.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            rnd(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            ).alias("cos"),
        )
        .repartition(1)
        .sortWithinPartitions("label_a", "label_b")
    )


_KNN_K = 3  # neighbors per vector in the k-NN graph
_KNN_BLOCKS = 8  # block grid side: B² matmul tiles


_KNN_ORACLE = f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
      FROM base a CROSS JOIN base b
      WHERE a.vec_id != b.vec_id
    )
    SELECT vec_id, neighbor_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {_KNN_K}
    """


def _knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builder for the EXACT k-NN GRAPH over the whole corpus (every vector's top-k cosine
    neighbors, k = _KNN_K) — the all-pairs member of the similarity
    family, used for dedup clustering and curriculum neighborhoods.

    Spark plan is a BLOCK-TILE matmul (the SUMMA shape): vectors hash into
    _KNN_BLOCKS blocks, the B×B tile grid is a crossJoin of two B-row
    block tables (each tile row carries two ~n/B vector slabs), and one
    Arrow batch per tile runs a numpy (n/B × dim)@(dim × n/B) matmul with
    a per-row partial top-k.  Row traffic is O(B·n) slab rows + O(n·B·k)
    candidate rows — never the O(n²) score matrix — and at 100 TB you
    raise B so each tile fits an executor core.  The per-tile cut keeps
    top-k plus everything within 2e-6 of the tile k-th score, so the final
    Spark-side window on ROUND(cos, 6) reproduces the oracle's
    rounded-then-rank semantics exactly (a candidate below the margin
    cannot round into contention; F.round half-away matches DuckDB ROUND,
    numpy's banker's rounding is never used for the declared values)."""
    import numpy as np
    import pandas as pd

    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.select("vec_id", _as_double(F.col("embedding")).alias("emb"))
    packed = (
        base.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(_KNN_BLOCKS)))
        .groupBy("blk")
        .agg(F.collect_list("vec_id").alias("ids"), F.collect_list("emb").alias("embs"))
    )
    lhs = packed.select(
        F.col("blk").alias("bl"), F.col("ids").alias("ids_l"), F.col("embs").alias("embs_l")
    )
    rhs = packed.select(
        F.col("blk").alias("br"), F.col("ids").alias("ids_r"), F.col("embs").alias("embs_r")
    )
    tiles = lhs.crossJoin(rhs).repartition(_KNN_BLOCKS * _KNN_BLOCKS)

    def tile_topk(batches):
        for pdf in batches:
            out_v, out_n, out_c = [], [], []
            for ids_l, embs_l, ids_r, embs_r in zip(
                pdf["ids_l"], pdf["embs_l"], pdf["ids_r"], pdf["embs_r"]
            ):
                il = np.asarray(ids_l, dtype=np.int64)
                ir = np.asarray(ids_r, dtype=np.int64)
                L = np.stack([np.asarray(v) for v in embs_l])
                R = np.stack([np.asarray(v) for v in embs_r])
                # Zero-norm guard (ADVICE r5): an all-zero embedding must
                # score cos=0 against everything, not poison its row with
                # NaN (np.partition sorts NaN last -> kth=NaN -> keep mask
                # all-False -> the row's neighbors silently vanish).
                nl = np.linalg.norm(L, axis=1, keepdims=True)
                nr = np.linalg.norm(R, axis=1, keepdims=True)
                nl[nl == 0.0] = 1.0
                nr[nr == 0.0] = 1.0
                Ln = L / nl
                Rn = R / nr
                cos = Ln @ Rn.T
                cos[il[:, None] == ir[None, :]] = -np.inf  # exclude self
                for row in range(len(il)):
                    c = cos[row]
                    k = min(_KNN_K, int(np.isfinite(c).sum()))
                    if k <= 0:
                        continue
                    kth = np.partition(c, -k)[-k]
                    keep = np.flatnonzero(c >= kth - 2e-6)
                    out_v.extend([int(il[row])] * len(keep))
                    out_n.extend(int(x) for x in ir[keep])
                    out_c.extend(float(x) for x in c[keep])
            yield pd.DataFrame({"vec_id": out_v, "neighbor_id": out_n, "cos": out_c})

    cand = tiles.mapInPandas(by_ref(tile_topk), "vec_id long, neighbor_id long, cos double")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_r"), "neighbor_id")
    return (
        cand.withColumn("cos_r", rnd(F.col("cos"), 6))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KNN_K)
        .select("vec_id", "neighbor_id", F.col("cos_r").alias("cos"))
    )


def _knn_graph_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed k-NN edge table.  The graph is consumed by several
    declared queries (similarity_knn_graph itself, graph_pagerank_knn and
    the graph_* family), so the tile matmul runs once per session+sf; the
    localCheckpoint also truncates pagerank's iteration lineage at a
    materialized base."""

    def build() -> DataFrame:
        # The build leaves the tile grid's B² (=64) partitions on an
        # O(n·k)-row edge table; re-key the CHECKPOINT by vec_id at the
        # session's shuffle-partition count (conf-tuned: 32 locally,
        # 200+ on a cluster — scale-honest for an edge table that grows
        # with the corpus) so the 8 downstream consumers scan
        # appropriately-sized partitions already hashed on their join/
        # agg key.  (Most of the r12 consumer win came from the
        # _knn_uedges_cached layer below; this re-key makes the
        # checkpoint itself conf-sized rather than tile-grid-sized.)
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return (
            _knn_graph(spark, sf_dir)
            .repartition(n_shuffle, F.col("vec_id"))
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "knn_graph", build)


def _knn_uedges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed CANONICAL UNDIRECTED edge table (u < v, distinct) of
    the kNN graph — the second memoization layer (added r12 after the
    task-latency diagnosis): SIX graph consumers re-derived the same
    canonicalize/symmetrize+distinct SHUFFLE from the edge checkpoint on
    every materialization, and LPA's 3-round plan compiled it three times
    inside one action.  At 100 TB this is also the production shape —
    materialize the undirected edge list once, serve every analytics query
    from it."""

    def build() -> DataFrame:
        knn = _knn_graph_cached(spark, sf_dir)
        return (
            knn.select(
                F.least("vec_id", "neighbor_id").alias("u"),
                F.greatest("vec_id", "neighbor_id").alias("v"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "knn_uedges", build)


def _knn_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized directed (s, t) edge view off the canonical memo —
    both directions of a (u < v)-distinct table are distinct by
    construction, so this is a NARROW union of two checkpoint scans
    (no shuffle, nothing to memoize)."""
    e = _knn_uedges_cached(spark, sf_dir)
    return e.select(F.col("u").alias("s"), F.col("v").alias("t")).unionByName(
        e.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )


@query("similarity_knn_graph", oracle=_KNN_ORACLE)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT k-NN GRAPH, declared surface — plan, margin analysis, and the
    100 TB block-tile story in :func:`_knn_graph`; the edge table is
    memoized per session+sf because graph_pagerank_knn consumes the same
    graph (plan-shape assertions in tests/test_plans.py exercise the
    uncached builder)."""
    return _knn_graph_cached(spark, sf_dir)


@query(
    "pipeline_curriculum",
    oracle=f"""
    WITH RECURSIVE
    s3 AS (
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source, text,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                     AS rn
            FROM documents
            WHERE len(string_split(text, ' ')) >= 20
              AND len(replace(text, ' ', '')) * 1.0
                    / len(string_split(text, ' ')) <= 12.0
              AND lang = 'en'
        ) WHERE rn = 1
    ),
    p AS (
        SELECT doc_a, doc_b FROM ({_NGJ_PAIRS_SQL})
        WHERE doc_a IN (SELECT doc_id FROM s3)
          AND doc_b IN (SELECT doc_id FROM s3)
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM p
              UNION ALL SELECT doc_b, doc_a FROM p),
    reach(src, node) AS (
        SELECT doc_id, doc_id FROM s3
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
    ),
    rep AS (SELECT src AS doc_id, MIN(node) AS rep_id FROM reach GROUP BY src)
    SELECT s3.doc_id, lang, source
    FROM s3 JOIN rep ON rep.doc_id = s3.doc_id
    WHERE rep.rep_id = s3.doc_id
      AND md5(CAST(s3.doc_id AS VARCHAR))
            < CASE WHEN CAST(substr(source, 4) AS INT) < 10
                   THEN '8' ELSE '4' END
    ORDER BY s3.doc_id
    """,
)
def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curriculum build — the composition the
    individual L-ops exist for, declared as ONE hash-matched query:

    1. quality gate: ≥20 words and avg word length ≤12 (pure codegen
       predicates, pushed to the scan),
    2. language gate: lang = 'en',
    3. exact dedup: min doc_id per md5(text) (one shuffle on the hash),
    4. near-dup removal: keep only component REPRESENTATIVES of the exact
       J ≥ 0.6 graph — the memoized pair table is reused and restricted to
       surviving endpoints (edge (a,b) survives iff both docs survive, so
       filtering the full-corpus pairs yields exactly the filtered-corpus
       graph), components via :func:`_min_label_components`,
    5. reproducible stratified downsample: md5(doc_id) threshold per source
       bucket (50% for src0-9, 25% for the rest) — pure function of the
       row key, stable across engines/runs/repartitions.

    At 100 TB every stage is a scan-filter, one hash-shuffle, or an
    id-only equi-join; document text never moves after stage 3."""
    d = load_tables(spark, sf_dir)["documents"]
    words = F.split("text", " ")
    nw = F.size(words)
    awl = F.length(F.regexp_replace("text", " ", "")).cast("double") / nw
    s12 = d.where((nw >= 20) & (awl <= 12.0) & (F.col("lang") == "en"))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s3 = (
        s12.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )
    ids = s3.select("doc_id")

    def _pairs() -> DataFrame:
        return (
            _ngram_pairs_cached(spark, sf_dir)
            .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
            .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
            .select("doc_a", "doc_b")
        )

    labels = _components_cached(
        spark, sf_dir, "curriculum", lambda: _min_label_components(_pairs())
    )
    reps = (
        s3.join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .where(F.coalesce("lbl", F.col("doc_id")) == F.col("doc_id"))
    )
    rate = F.when(F.substring("source", 4, 10).cast("int") < 10, "8").otherwise("4")
    return (
        reps.where(F.md5(F.col("doc_id").cast("string")) < rate)
        .select("doc_id", "lang", "source")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


_PR_ITERS = 5  # fixed PageRank iterations (declared contract, both engines)


def _pr_oracle() -> str:
    """Unrolled-iteration DuckDB twin of graph_pagerank_knn: rebuild the
    exact k-NN edges (the similarity_knn_graph oracle), then 5 integer
    fixed-point PageRank rounds.  `//` (DuckDB) and `div` (Spark) agree on
    the all-positive operands here, so every iterate is bit-identical."""
    edges = f"""
    base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
      FROM base a CROSS JOIN base b
      WHERE a.vec_id != b.vec_id
    ),
    e AS (
      SELECT vec_id AS src, neighbor_id AS dst FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {_KNN_K}
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    steps = "".join(
        f""",
    s{i} AS (SELECT e.dst, SUM(r{i - 1}.r // {_KNN_K}) AS sm
             FROM e JOIN r{i - 1} ON r{i - 1}.node = e.src GROUP BY 1),
    r{i} AS (SELECT node, 150000 + COALESCE((85 * sm) // 100, 0) AS r
             FROM nodes LEFT JOIN s{i} ON s{i}.dst = node)"""
        for i in range(1, _PR_ITERS + 1)
    )
    return (
        "WITH "
        + edges
        + steps
        + f"""
    SELECT node AS vec_id, CAST(r AS DOUBLE) / 1000000.0 AS pagerank
    FROM r{_PR_ITERS} ORDER BY r DESC, node"""
    )


@query("graph_pagerank_knn", oracle=_pr_oracle())
def graph_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK CENTRALITY over the exact k-NN graph — the iterative graph
    member of the similarity family (data-pruning pipelines rank corpus
    items by neighborhood centrality; PageRank on the kNN digraph is the
    standard formulation, Page et al. 1999).

    Cross-engine determinism: ranks are INT64 MICRO-UNITS, never floats —
    r₀ = 10⁶, each round r' = 0.15·10⁶ + 0.85·Σ(r div k) with `div`/`//`
    integer division (identical on positive operands) and exact integer
    sums, so all five iterates are bit-equal in both engines and the
    declared (vec_id, pagerank) table hash-matches.

    Scale shape: the edge list comes from the block-tile kNN (row traffic
    O(B·n + n·B·k), see similarity_knn_graph); each round is one equi-join
    (contributions, keyed src) + one groupBy(dst) + a left join back onto
    the node list — all id/long-only shuffles keyed on the same column, so
    a cluster co-partitions them.  LINEAGE NOTE (vs the dedup_groups_star
    checkpoint discipline): the iteration count is FIXED and the whole
    rank table is consumed by ONE action, so the five rounds chain into a
    single linear ~15-join plan evaluated once — no convergence probes
    re-execute upstream stages, and the memoized knn localCheckpoint is
    the materialized base that keeps the lineage rooted shallow.
    Per-round eager checkpoints (10 extra driver actions on tiny rank
    tables) measured 2.55 → chained is the cheaper AND simpler shape;
    checkpointing becomes necessary only if _PR_ITERS grows enough to
    strain the optimizer (~dozens of rounds) or a convergence test adds
    mid-loop actions.  Out-degree is exactly k for every node by
    construction, so there are no dangling-mass corrections, and nodes
    with no in-edges settle at 0.15."""
    knn = _knn_graph_cached(spark, sf_dir)
    e = knn.select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
    nodes = e.select(F.col("src").alias("node")).distinct()
    r = nodes.withColumn("r", F.lit(1000000).cast("long"))
    for _ in range(_PR_ITERS):
        sums = (
            e.join(r, r["node"] == e["src"])
            .select("dst", F.expr(f"r div {_KNN_K}").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("sm"))
        )
        r = nodes.join(sums, sums["dst"] == nodes["node"], "left").select(
            "node",
            (
                F.lit(150000) + F.coalesce(F.expr("(85 * sm) div 100"), F.lit(0))
            ).alias("r"),
        )
    out = (
        r.select(
            F.col("node").alias("vec_id"),
            (F.col("r").cast("double") / 1000000.0).alias("pagerank"),
        )
        .repartition(1)
        .sortWithinPartitions(F.desc("pagerank"), "vec_id")
    )
    return out


_SL_PLANES_N = 32  # sign-LSH hyperplanes: 4 bands x 8 bits
_SL_BANDS = 4


def _sign_planes(n_planes: int = _SL_PLANES_N, dim: int = 64) -> list[list[int]]:
    """±1 hyperplane matrix derived from md5 — a fixed public constant both
    engines can state literally (no RNG to replicate).  Random ±1 entries
    are a valid sign-LSH family (Achlioptas 2003 sparse projections /
    Charikar 2002 simhash): sign(Σ ±v_i) agrees across a pair with
    probability 1 − θ/π, same as Gaussian planes."""
    import hashlib

    return [
        [
            1
            if (int(hashlib.md5(f"plane{p}dim{i}".encode()).hexdigest(), 16) & 1) == 0
            else -1
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


_SL_PLANES = _sign_planes()


def _sl_plane_mat():
    """±1 plane matrix as int64 numpy (lazy: keeps numpy import out of
    module import for executors that only need other operators)."""
    import numpy as np

    return np.asarray(_SL_PLANES, dtype=np.int64)


def _signlsh_oracle() -> str:
    bit_exprs = ",\n       ".join(
        f"CASE WHEN list_dot_product(mv, {_SL_PLANES[p]}) > 0"
        f" THEN 1 ELSE 0 END AS bit{p}"
        for p in range(_SL_PLANES_N)
    )
    bucket_exprs = ",\n       ".join(
        "(" + " + ".join(f"bit{b * 8 + j} * {1 << j}" for j in range(8)) + f") AS bk{b}"
        for b in range(_SL_BANDS)
    )
    band_match = " OR ".join(f"q.bk{b} = c.bk{b}" for b in range(_SL_BANDS))
    return f"""
    WITH m AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x*1000000) AS BIGINT)) AS mv
      FROM embeddings),
    bits AS (SELECT vec_id, mv, {bit_exprs} FROM m),
    sig AS (SELECT vec_id, mv, list_dot_product(mv, mv) AS sd,
       {bucket_exprs} FROM bits),
    cand AS (
      SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.mv, c.mv)
                   / (sqrt(q.sd) * sqrt(c.sd)), 6) AS cos
      FROM sig q JOIN sig c
        ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
       AND ({band_match}))
    SELECT q_id, neighbor_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM cand
    ) WHERE rn <= {_TOP_K}
    ORDER BY q_id, neighbor_id
    """


@query("similarity_signlsh_ann", oracle=_signlsh_oracle())
def similarity_signlsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGN-LSH ANN, fully HASH-ORACLED — the deterministic member of the
    ANN family (similarity_lsh_ann / _ivf_ann / _ivfpq_ann stay rows-only
    because their bucketing is ml-lib- or float-iteration-internal; this
    one's entire model is a stated md5 constant, so DuckDB rebuilds
    buckets, candidates, and scores digit-for-digit).

    Determinism stack (the r5 simhash/minhash playbook applied to
    embeddings): (1) micro-unit int64 quantization of the vectors
    (F.round half-away = DuckDB round; lossless bound: |x| ≤ 0.58 → |m| ≤
    6e5, 64-dim dot ≤ 2.3e13 ≪ 2^53, so even a double-accumulating
    engine sums EXACT integers); (2) ±1 planes make each signature bit a
    strict integer-sum sign; (3) the re-rank cosine divides two
    deterministic doubles (exact-int dot, sqrt of exact-int self-dot) —
    one IEEE op each, bit-identical cross-engine, then ROUND 6.

    Plan: micro-unit quantization + self-dots are codegen; the 32 plane
    dots are ONE int64 numpy matmul per Arrow batch (a literal-heavy
    zip_with/aggregate form was tried first and measured 5.2 s at sf0.1 —
    expression COMPILATION, not data, was the cost; the kernel form is
    1.1 s and bit-identical because everything stays integer).  No
    shuffle before the bands; the 4×8-bit band buckets of the query rows
    (vec_id < {N}) broadcast; candidates = band equi-collision
    (IDs only through the distinct), vectors join back for the re-rank,
    window top-k per query.  Corpus scanned once, never cross-joined —
    the oracle's all-pairs form is the spec, not the plan.  Recall at
    this band width is the honest tradeoff (near-orthogonal pairs
    collide ~1.5%/query; planted near-dups collide ~always — recall
    property-tested in tests/test_similarity.py).

    r16 heavy-arm fix: the corpus rides the shared `_emb_base_cached`
    checkpoint (scale-adaptively partitioned) instead of the raw
    single-file scan, so the quantization + Arrow matmul kernel
    parallelize at data-bound SFs; `emb` is the same float→double cast
    the kernel applied itself, so signatures are bit-identical."""
    return signlsh_ann(
        _emb_base_cached(spark, sf_dir).select(
            "vec_id", F.col("emb").alias("embedding")
        )
    )


def signlsh_ann(e: DataFrame) -> DataFrame:
    """Core sign-LSH ANN over any (vec_id, embedding) DataFrame — split out
    so tests can plant near-duplicate vectors (analysis on the declared
    query's docstring)."""
    mv = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double") * 1000000).cast("long"))
    base = e.select("vec_id", mv.alias("mv"))

    def dot(a, b):  # exact int64 dot of two micro-unit arrays
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def buckets_fn(mv_series):  # pd.Series of int64 arrays -> band buckets
        # ONE integer matmul per Arrow batch replaces 32 zip_with/aggregate
        # expression trees (the literal-heavy codegen form measured 5.2 s
        # at sf0.1 — dominated by expression compilation, not data).  All
        # int64: bit-exact by construction, same numbers as the oracle.
        import numpy as np
        import pandas as pd

        m = np.stack(mv_series.to_numpy()).astype(np.int64)
        bits = (m @ _sl_plane_mat().T) > 0  # (n, 32) integer-dot signs
        pack = (1 << np.arange(8)).astype(np.int64)
        out = np.stack(
            [bits[:, b * 8 : (b + 1) * 8] @ pack for b in range(_SL_BANDS)],
            axis=1,
        )
        return pd.Series(list(out))

    from pyspark.sql.functions import pandas_udf

    buckets_udf = pandas_udf(by_ref(buckets_fn), "array<long>")
    # r15 (guide §4/§2.4): sig fans out four ways (corpus bands, query
    # bands, q-side and n-side re-rank) — without a checkpoint each
    # consumer re-scanned the source and re-ran the quantization (4×)
    # and the Arrow buckets kernel (2×).  One scan + one kernel pass
    # remain; the checkpoint carries the micro-unit vectors the re-rank
    # needs anyway.
    sig = base.select(
        "vec_id",
        "mv",
        dot(F.col("mv"), F.col("mv")).alias("sd"),
        buckets_udf("mv").alias("bks"),
    ).localCheckpoint(eager=False)
    bands = sig.select(
        "vec_id", F.posexplode("bks").alias("band", "bucket")
    )
    q_bands = bands.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "band", "bucket"
    )
    cand = (
        bands.join(F.broadcast(q_bands), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qs = sig.select(
        F.col("vec_id").alias("q_id"), F.col("mv").alias("q_mv"), F.col("sd").alias("q_sd")
    )
    ns = sig.select(
        F.col("vec_id").alias("neighbor_id"), F.col("mv").alias("n_mv"), F.col("sd").alias("n_sd")
    )
    cos = rnd(
        dot(F.col("q_mv"), F.col("n_mv"))
        / (F.sqrt(F.col("q_sd")) * F.sqrt(F.col("n_sd"))),
        6,
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cand.join(F.broadcast(qs), "q_id")
        .join(ns, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("q_id", "neighbor_id", "cos")
        .repartition(1)
        .sortWithinPartitions("q_id", "neighbor_id")
    )


#: the band-width sweep grid — (band_bits, n_bands) partitions of the SAME
#: 32-plane sign-LSH signature (4-bit bands are permissive, 16-bit strict);
#: packed bucket layout: widths in grid order, bands in order (14 buckets)
_SL_SWEEP = ((4, 8), (8, 4), (16, 2))


def _sl_sweep_oracle() -> str:
    bit_exprs = ",\n       ".join(
        f"CASE WHEN list_dot_product(mv, {_SL_PLANES[p]}) > 0"
        f" THEN 1 ELSE 0 END AS bit{p}"
        for p in range(_SL_PLANES_N)
    )
    bucket_exprs = ",\n       ".join(
        "(" + " + ".join(f"bit{b * w + j} * {1 << j}" for j in range(w)) + f") AS bk{w}_{b}"
        for w, nb in _SL_SWEEP
        for b in range(nb)
    )
    cands = ",\n    ".join(
        f"cand{w} AS MATERIALIZED (\n"
        f"      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id\n"
        f"      FROM sig q JOIN sig c\n"
        f"        ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id\n"
        f"       AND ("
        + " OR ".join(f"q.bk{w}_{b} = c.bk{w}_{b}" for b in range(nb))
        + "))"
        for w, nb in _SL_SWEEP
    )
    arms = "\n          UNION ALL ".join(
        f"SELECT CAST({w} AS BIGINT) AS band_bits,"
        f" CAST({nb} AS BIGINT) AS n_bands,"
        f" CAST(COUNT(*) AS BIGINT) AS n_candidates,"
        f" CAST((SELECT COUNT(*) FROM cand{w} t"
        f" JOIN truth USING (q_id, neighbor_id)) AS BIGINT) AS n_hits"
        f" FROM cand{w}"
        for w, nb in _SL_SWEEP
    )
    return f"""
    WITH m AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x*1000000) AS BIGINT)) AS mv
      FROM embeddings),
    bits AS (SELECT vec_id, mv, {bit_exprs} FROM m),
    sig AS MATERIALIZED (
      SELECT vec_id, mv, list_dot_product(mv, mv) AS sd,
       {bucket_exprs} FROM bits),
    truth AS MATERIALIZED (
      SELECT q_id, neighbor_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND(list_dot_product(q.mv, c.mv)
                                / (sqrt(q.sd) * sqrt(c.sd)), 6) DESC,
                          c.vec_id) AS rn
        FROM sig q JOIN sig c
          ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
      ) WHERE rn <= {_TOP_K}),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
                  CAST(COUNT(DISTINCT q_id) AS BIGINT) AS nq FROM truth),
    {cands}
    SELECT band_bits, n_bands, n_candidates, nq, n_truth, n_hits,
           n_hits * 1000000 // GREATEST(n_truth, 1) AS recall_ppm,
           n_candidates // GREATEST(nq, 1) AS cand_per_query
    FROM ({arms}), nt
    ORDER BY band_bits
    """


def _sl_sweep_sig(e: DataFrame) -> DataFrame:
    """Un-checkpointed signature frame of the band sweep: vec, micro-unit
    vector, exact self-dot, and all 14 packed band buckets from ONE int64
    numpy matmul per Arrow batch — split out so the plan test can assert
    the single-scan/no-Exchange shape the query's localCheckpoint hides."""
    mv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1000000).cast("long")
    )
    base = e.select("vec_id", mv.alias("mv"))

    def sweep_buckets_fn(mv_series):  # int64 matmul -> all 14 band buckets
        import numpy as np
        import pandas as pd

        m = np.stack(mv_series.to_numpy()).astype(np.int64)
        bits = (m @ _sl_plane_mat().T) > 0
        cols = []
        for w, nb in _SL_SWEEP:
            pack = (1 << np.arange(w)).astype(np.int64)
            for b in range(nb):
                cols.append(bits[:, b * w : (b + 1) * w] @ pack)
        return pd.Series(list(np.stack(cols, axis=1)))

    from pyspark.sql.functions import pandas_udf

    buckets_udf = pandas_udf(by_ref(sweep_buckets_fn), "array<long>")
    sd = F.aggregate(
        F.zip_with(F.col("mv"), F.col("mv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return base.select(
        "vec_id", "mv", sd.alias("sd"), buckets_udf("mv").alias("bks")
    )


@query("similarity_signlsh_band_sweep", oracle=_sl_sweep_oracle())
def similarity_signlsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGN-LSH BAND-WIDTH CALIBRATION SWEEP (VERDICT r11 #6) — the
    recall-vs-candidate-cost table behind the ANN knob: re-band the SAME
    32-plane signature three ways (8×4-bit permissive, 4×8-bit = the
    declared similarity_signlsh_ann config, 2×16-bit strict) and price
    each against the EXACT top-5 cosine truth of the 5 query vectors
    in one pass — candidate pairs, truth hits, recall (ppm), candidates
    per query.  The delay-sweep discipline applied to L4's band knob:
    the number a 100 TB operator owner reads before picking band width.
    Measured (sf0.01 / sf0.1 recall): 4-bit 0.68 / 0.72 at ~200 / ~835
    candidates per query, 8-bit 0.08 / 0.0 at ~10 / ~40, 16-bit 0.0 at
    ~0 — and the magnitudes MATCH the Charikar collision formula on this
    corpus (truth neighbors are near-orthogonal, cos ≈ 0.4-0.5 → θ ≈
    60° → per-band collision (1−θ/π)^w: ~0.83 expected recall for 8×4,
    ~0.07 for 4×8), so the table says what it should: on a corpus with
    NO planted near-dups, widening bands collapses recall before it
    saves candidates — pick width only after measuring the similarity
    regime you actually serve.

    FULLY HASH-ORACLED via the similarity_signlsh_ann determinism stack
    (micro-unit int64 quantization → exact integer plane dots → strict
    sign bits; truth cosine = one IEEE division of deterministic doubles,
    ROUND 6): buckets, candidates, truth, and every count are
    digit-for-digit reproducible in DuckDB.  Counts are exact integers;
    recall/candidate ratios are non-negative integer divisions (house
    div contract).

    Scale shape: the corpus is scanned ONCE into an eager-checkpointed
    signature table (vec, self-dot, all 14 band buckets from ONE int64
    numpy matmul per Arrow batch — the signlsh kernel lesson); the three
    sweep arms are band-bucket equi-joins against the broadcast
    5-query bucket rows (candidate generation, never a pairwise scan),
    truth is the broadcast-query BNLJ over the same checkpoint (linear,
    the bounded-cohort rule from similarity_ann_recall), and everything
    downstream aggregates O(candidates) rows.  At 100 TB each arm stays
    a shuffle on (band, bucket) — band width is exactly the knob this
    table calibrates."""
    def dot(a, b):  # exact int64 dot of two micro-unit arrays
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # ONE corpus pass feeds truth + all sweep arms — over the shared
    # `_emb_base_cached` checkpoint (r16: scale-adaptively partitioned, so
    # the signature matmul parallelizes at data-bound SFs; the raw
    # single-file scan ran it 1-task)
    sig = _sl_sweep_sig(
        _emb_base_cached(spark, sf_dir).select(
            "vec_id", F.col("emb").alias("embedding")
        )
    ).localCheckpoint(eager=True)

    qs = sig.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("mv").alias("q_mv"),
        F.col("sd").alias("q_sd"),
    )
    corpus = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("mv").alias("n_mv"),
        F.col("sd").alias("n_sd"),
    )
    cos = rnd(
        dot(F.col("q_mv"), F.col("n_mv"))
        / (F.sqrt(F.col("q_sd")) * F.sqrt(F.col("n_sd"))),
        6,
    )
    wt = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    truth = (
        corpus.join(F.broadcast(qs), F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") <= _TOP_K)
        .select("q_id", "neighbor_id")
    ).localCheckpoint(eager=True)  # tiny (q*k rows), consumed twice

    bands = sig.select("vec_id", F.posexplode("bks").alias("bi", "bucket"))
    q_bands = bands.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "bi", "bucket"
    )
    width = F.lit(None).cast("long")
    off = 0
    for w, nb in _SL_SWEEP:  # bucket index -> its sweep arm's band width
        width = F.when(
            (F.col("bi") >= off) & (F.col("bi") < off + nb), F.lit(w).cast("long")
        ).otherwise(width)
        off += nb
    cand = (
        bands.join(F.broadcast(q_bands), ["bi", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            width.alias("band_bits"),
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    counts = cand.groupBy("band_bits").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    hits = (
        cand.join(F.broadcast(truth), ["q_id", "neighbor_id"])
        .groupBy("band_bits")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    grid_pairs = ", ".join(f"{w}L, {nb}L" for w, nb in _SL_SWEEP)
    grid = truth.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.countDistinct("q_id").alias("nq"),
    ).selectExpr(
        "n_truth",
        "nq",
        f"stack({len(_SL_SWEEP)}, {grid_pairs}) AS (band_bits, n_bands)",
    )
    j = (
        grid.join(F.broadcast(counts), "band_bits", "left")
        .join(F.broadcast(hits), "band_bits", "left")
        .select(
            "band_bits",
            "n_bands",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            "nq",
            "n_truth",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
    )
    return (
        j.select(
            "band_bits",
            "n_bands",
            "n_candidates",
            "nq",
            "n_truth",
            "n_hits",
            F.expr("n_hits * 1000000 div greatest(n_truth, 1)").alias("recall_ppm"),
            F.expr("n_candidates div greatest(nq, 1)").alias("cand_per_query"),
        )
        .repartition(1)
        .sortWithinPartitions("band_bits")
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
      FROM base a CROSS JOIN base b
      WHERE a.vec_id != b.vec_id
    ),
    knn AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {{k}}
    ),
    e AS (
      SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
                      GREATEST(vec_id, neighbor_id) AS v
      FROM knn
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """.replace("{k}", str(_KNN_K)),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNT over the exact k-NN graph — the clustering-structure
    diagnostic of the similarity family (triangles/edges ≈ how clique-like
    the neighborhoods are; a corpus of near-dup clusters scores high, a
    uniform random corpus near zero).

    Exact and integer-deterministic: undirected-canonicalize the kNN edge
    set (u < v, distinct), then the standard two-join enumeration — each
    triangle {{a<b<c}} is counted exactly once as e(a,b) ⋈ e(b,c) ⋈
    e(a,c).  The canonical u<v orientation IS the degree-ordering trick
    of the node-iterator algorithm (Schank & Wagner 2005): every join
    fans out only along each node's higher-id adjacency, bounding the
    intermediate at Σ d⁺(v)² instead of Σ d(v)².  Edge count rides along
    for the density ratio.  Edges come from the memoized kNN table; all
    three join sides are the same id-pair table (n·k rows — at 100 TB
    this is the op you run AFTER blocking, never on raw pairs).  The
    canonical edge set is NOT persisted (ADVICE r6: a persist here
    registered a never-released InMemoryRelation per invocation): each
    of the four consumers recomputes the cheap select+distinct from the
    kNN table's localCheckpoint, which already bounds recomputation."""
    e = _knn_uedges_cached(spark, sf_dir)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.crossJoin(F.broadcast(edges))


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH e AS MATERIALIZED (
      -- the SHARED exact-kNN spec (single-source rule, like
      -- graph_knn_jaccard / graph_degree_assortativity — r13 review
      -- finding #4: an inlined copy would silently diverge if the spec
      -- ever changes), canonicalized undirected
      SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
                      GREATEST(vec_id, neighbor_id) AS v
      FROM ({_KNN_ORACLE})
    ),
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1),
    tpn AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) tr,
        LATERAL (VALUES (tr.a), (tr.b), (tr.c)) AS nx(node)
      GROUP BY 1),
    nd AS MATERIALIZED (
      SELECT deg.node, deg.d, COALESCE(tpn.t, 0) AS t
      FROM deg LEFT JOIN tpn ON tpn.node = deg.node),
    gsum AS (
      SELECT CAST(SUM(t) AS BIGINT) AS sum_t3,
             CAST(SUM(d * (d - 1)) AS BIGINT) AS sum_dd,
             CAST(COUNT(CASE WHEN d < 2 THEN 1 END) AS BIGINT) AS n_lt2
      FROM nd)
    SELECT LEAST(9, (20 * t) // (d * (d - 1))) AS lcc_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(t) AS BIGINT) AS sum_tri,
           ROUND(CAST(2 * SUM(t) AS DOUBLE) / SUM(d * (d - 1)), 6)
             AS pooled_lcc,
           ROUND(CAST(2 * MAX(gsum.sum_t3) AS DOUBLE) / MAX(gsum.sum_dd), 6)
             AS transitivity,
           MAX(gsum.n_lt2) AS n_deg_lt2
    FROM nd, gsum
    WHERE d >= 2
    GROUP BY 1 ORDER BY 1
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT HISTOGRAM over the exact k-NN graph
    — the per-node refinement of graph_triangle_count's global ratio
    (Watts–Strogatz lcc(v) = 2·t(v)/(d(v)(d(v)−1))): which fraction of
    the corpus sits in clique-like neighborhoods (near-dup clusters)
    vs tree-like ones.  The missing classic next to degree
    distribution / triangles / assortativity / k-core.

    INTEGER-ONLY BUCKETING: per node, t(v) comes from unpivoting the
    canonical-triangle enumeration (each {{a<b<c}} counted once, then
    credited to its 3 corners) and d(v) from the undirected edge
    table, so lcc's decile bucket is LEAST(9, 20·t div d(d−1)) —
    exact integer division, no float bucket-edge can disagree across
    engines.  Per bucket the declared ratio is the POOLED lcc
    2·Σt/Σd(d−1) (one division of exact int64 sums — never a float
    average over nodes, whose summation order would be engine-
    dependent).  Global transitivity 2·Σt(v)/Σd(d−1) = 6T/Σd(d−1)
    rides along as a constant column, with the deg<2 node count
    (lcc undefined there; excluded from buckets, counted honestly).

    Scale shape: rides the memoized canonical u<v edge table
    (_knn_uedges_cached — built once, 7+ consumers); the triangle
    join fans out along higher-id adjacency only (the Schank–Wagner
    bound, as in graph_triangle_count), the unpivot is O(3·T), and
    everything downstream is per-node then per-bucket aggs — ≤10
    output rows."""
    e = _knn_uedges_cached(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tpn = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .selectExpr("stack(3, a, b, c) AS (node)")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    nd = deg.join(tpn, "node", "left").select(
        "node", "d", F.coalesce(F.col("t"), F.lit(0)).alias("t")
    )
    glob = nd.agg(
        F.sum("t").alias("sum_t3"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("sum_dd"),
        F.count(F.when(F.col("d") < 2, 1)).alias("n_lt2"),
    )
    return (
        nd.where(F.col("d") >= 2)
        .crossJoin(F.broadcast(glob))
        .groupBy(
            F.least(
                F.lit(9), F.expr("(20 * t) div (d * (d - 1))")
            ).alias("lcc_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("t").alias("sum_tri"),
            F.round(
                (F.lit(2) * F.sum("t")).cast("double")
                / F.sum(F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("pooled_lcc"),
            F.round(
                (F.lit(2) * F.max("sum_t3")).cast("double") / F.max("sum_dd"),
                6,
            ).alias("transitivity"),
            F.max("n_lt2").alias("n_deg_lt2"),
        )
        .repartition(1)
        .sortWithinPartitions("lcc_bucket")
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
      FROM base a CROSS JOIN base b
      WHERE a.vec_id != b.vec_id
    ),
    knn AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {_KNN_K}
    ),
    e AS (
      SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
                      GREATEST(vec_id, neighbor_id) AS v
      FROM knn
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY 1
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1 ORDER BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the undirected kNN graph — the first thing
    you plot when judging a similarity graph's health (out-degree is k by
    construction, so the spread here is pure IN-degree variance: hubs =
    vectors many others consider near).  Canonical u<v edges from the
    memoized kNN table, one explode-both-endpoints agg, a histogram agg —
    all integer, O(n·k) rows through the shuffles."""
    e = _knn_uedges_cached(spark, sf_dir)
    nodes = e.select(F.col("u").alias("node")).unionAll(
        e.select(F.col("v").alias("node"))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .repartition(1)
        .sortWithinPartitions("degree")
    )


@query(
    "graph_knn_jaccard",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
                      GREATEST(vec_id, neighbor_id) AS v
      FROM ({_KNN_ORACLE})
    ),
    adj AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v, u FROM e),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY 1),
    inter AS (
      SELECT e.u, e.v, COUNT(*) AS n_common
      FROM e JOIN adj a ON a.node = e.u
             JOIN adj b ON b.node = e.v AND b.nbr = a.nbr
      GROUP BY 1, 2)
    SELECT e.u AS u, e.v AS v,
           CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
           ROUND(CAST(COALESCE(n_common, 0) AS DOUBLE)
                 / (du.d + dv.d - COALESCE(n_common, 0)), 6) AS jaccard
    FROM e LEFT JOIN inter ON inter.u = e.u AND inter.v = e.v
           JOIN deg du ON du.node = e.u
           JOIN deg dv ON dv.node = e.v
    ORDER BY u, v
    """,
)
def graph_knn_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-EDGE NEIGHBORHOOD JACCARD on the undirected kNN graph — the
    structural-similarity score SNN clustering and link prediction start
    from: |N(u) ∩ N(v)| / |N(u) ∪ N(v)| for every edge.  n_common is
    also the triangle support of the edge (graph_triangle_count's sum
    = Σ n_common / 3 — a free cross-check).

    Scale shape: common neighbors come from ONE adjacency self-join
    keyed on the shared neighbor id (each 2-path (u, nbr, v) counted at
    its center — never a per-node set materialization), so intermediates
    are bounded by Σ d(nbr)² like the triangle join.  Degrees are a
    2-row-per-edge agg; jaccard = one IEEE division of exact ints →
    ROUND(,6) engine-stable.  All shuffles carry id pairs only; edges
    come from the memoized kNN localCheckpoint (no persist — the
    ADVICE r6 hygiene rule)."""
    # e feeds three subplans directly and three more through adj (no
    # shared subplan): the shared per-session canonical-edge checkpoint
    # serves all six (one materialization per session, not per call)
    e = _knn_uedges_cached(spark, sf_dir)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    inter = (
        e.join(
            adj.select(F.col("node").alias("u"), F.col("nbr").alias("cn")),
            "u",
        )
        .join(
            adj.select(F.col("node").alias("v"), F.col("nbr").alias("cn")),
            ["v", "cn"],
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nc = F.coalesce("n_common", F.lit(0))
    return (
        e.join(inter, ["u", "v"], "left")
        .join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            nc.cast("long").alias("n_common"),
            F.round(
                nc.cast("double") / (F.col("du") + F.col("dv") - nc), 6
            ).alias("jaccard"),
        )
        .repartition(1)
        .sortWithinPartitions("u", "v")
    )


def knn_label_propagation(
    spark: SparkSession, sf_dir: str, iters: int = 3
) -> DataFrame:
    """SYNCHRONOUS LABEL PROPAGATION over the undirected kNN graph
    (Raghavan et al. 2007) — the community-detection member of the graph
    family (pagerank = centrality, triangles/jaccard = cohesion, LPA =
    partitioning).  Each round every node adopts its neighborhood's MODE
    label, ties broken (count DESC, label ASC) so the result is fully
    deterministic — no RNG, no visit order.

    Scale shape: state is one (node, label) long pair; each round is one
    equi-join onto the (memoized, checkpointed) symmetrized edge list +
    one count agg + one per-node top-1 window — all keyed on node ids,
    co-partitionable, the same chained-linear-plan contract as
    graph_pagerank_knn (fixed iteration count, single consuming action,
    no convergence probes).  Test-only: community assignments are
    engine-internal (a DuckDB twin would re-implement the whole loop);
    invariants live in tests/test_graph_lpa.py."""
    edges = _knn_sym_edges(spark, sf_dir)
    labels = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for i in range(iters):
        nbr = edges.join(
            labels.select(F.col("node").alias("t"), "lbl"), "t"
        ).select(F.col("s").alias("node"), "lbl")
        # r15 optimization (guide §2.3 — shuffle fewer bytes, drop the
        # sort): the per-node mode used to be a row_number Window over
        # the (node, lbl) counts — a second exchange PLUS a per-partition
        # sort, with every (node, lbl) row crossing the wire.  The
        # tie-break (count DESC, label ASC) is order-isomorphic to the
        # single int64 score cnt·2³² − lbl (labels are node ids, guarded
        # < 2³² in-plan; cnt ≤ degree ≪ 2³¹ so no overflow), so the
        # argmax becomes a plain max(long) — a fully hash-aggregable,
        # map-side-combinable aggregate: each node crosses the wire as
        # ONE long and no sort runs at all.  (A max_by over the struct
        # (cnt, −lbl) computes the same thing but its struct buffer
        # forces SortAggregate — measured and rejected in r15-opt.)
        # Decode: cnt = ceil(sc/2³²) = (sc + 2³²−1) div 2³² (sc > 0, so
        # operands stay non-negative — the house div rule), lbl follows.
        # The domain guard rides the plan via the haar span-guard idiom:
        # assert_true is null on success, folds into the score as +0.
        two32 = F.lit(4294967296).cast("long")
        lbl_guard = F.assert_true(
            (F.col("lbl") >= 0) & (F.col("lbl") < two32),
            F.lit(
                "knn_label_propagation: label outside the [0, 2^32) "
                "encode window; widen the score encoding"
            ),
        )
        score = (
            F.col("cnt") * two32
            - F.col("lbl")
            + F.coalesce(lbl_guard.cast("long"), F.lit(0).cast("long"))
        )
        labels = (
            nbr.groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(F.max(score).alias("sc"))
            .select(
                "node",
                F.expr(
                    "((sc + 4294967295) div 4294967296) * 4294967296 - sc"
                ).alias("lbl"),
            )
        )
        # flatten lineage every few rounds (ADVICE r7, the bpe-loop idiom):
        # analysis/compile cost otherwise grows linearly on an ever-deeper
        # plan.  Non-eager — blocks materialize only under the consuming
        # action and are auto-released with the session.
        if (i + 1) % 3 == 0 and i + 1 < iters:
            labels = labels.localCheckpoint(eager=False)
    return labels


_LPA_ITERS = 3


def _lpa_oracle() -> str:
    """DuckDB twin of the FULL 3-round LPA loop (VERDICT r11 #3): the
    iteration count is a fixed literal, so the loop unrolls to three
    chained mode-label CTEs — no recursion, no loop re-implementation
    hazard.  Edges restate the engine's symmetrize-then-distinct rule on
    the proven _KNN_ORACLE spec; each round is the engine's exact mode
    rule (COUNT per (node, nbr-label), tie-break count DESC then label
    ASC).  knn/edges are MATERIALIZED (multi-ref — the inlining trap)."""
    rounds = "".join(
        f"""
    l{i} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, lbl) AS rn
        FROM (SELECT e.s AS node, p.lbl, COUNT(*) AS cnt
              FROM edges e JOIN l{i - 1} p ON p.node = e.t
              GROUP BY 1, 2))
      WHERE rn = 1),"""
        for i in range(1, _LPA_ITERS + 1)
    )
    return f"""
    WITH knn AS MATERIALIZED (
      SELECT vec_id, neighbor_id FROM ({_KNN_ORACLE})),
    edges AS MATERIALIZED (
      SELECT DISTINCT s, t FROM (
        SELECT vec_id AS s, neighbor_id AS t FROM knn
        UNION ALL
        SELECT neighbor_id AS s, vec_id AS t FROM knn)),
    l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM edges),{rounds}
    sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
              FROM l{_LPA_ITERS} GROUP BY lbl)
    SELECT community_size,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(community_size * COUNT(*) AS BIGINT) AS n_nodes
    FROM sizes GROUP BY community_size
    ORDER BY community_size
    """


@query("graph_lpa_communities", oracle=_lpa_oracle())
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA COMMUNITY-SIZE HISTOGRAM — the declared report card of
    :func:`knn_label_propagation` (the dedup_group_size_histogram shape
    applied to the community structure): how many communities of each
    size does 3-round label propagation find on the exact kNN graph?
    The number a user reads to pick between near-dup components (sparse,
    transitive) and LPA communities (denser neighborhoods) for curriculum
    bucketing.

    HASH-ORACLED as of r12 (VERDICT r11 #3 — previously rows-only): with
    a FIXED iteration count the loop is finitely unrollable, so the
    DuckDB twin chains three mode-label CTEs over the _KNN_ORACLE edge
    spec (:func:`_lpa_oracle`) — integer labels, exact counts, the
    count-DESC/label-ASC tie-break; nothing float touches the declared
    values (the k-core recursive-CTE precedent, minus the recursion).
    Determinism invariants (mode tie-breaks, iteration stability,
    no-rescan plan shape) stay in tests/test_graph_lpa.py.
    Scale: two cardinality-bounded aggs over the (node, lbl) pairs on
    top of the memoized kNN base."""
    labels = knn_label_propagation(spark, sf_dir, iters=3)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        sizes.groupBy("community_size")
        .agg(F.count(F.lit(1)).alias("n_communities"))
        .select(
            "community_size",
            "n_communities",
            (F.col("community_size") * F.col("n_communities")).alias("n_nodes"),
        )
        .repartition(1)
        .sortWithinPartitions("community_size")
    )


#: embedding_cosine_histogram sample rule + geometry (shared with tests).
#: Fixed-SIZE hash-ordered sample (VERDICT r11 #1): the r8 original used a
#: fixed-RATE modulus sample (vec_id % 10), whose pair sketch grows
#: QUADRATICALLY with the corpus; ordering by the house md5-u32 hash and
#: taking the first K keeps the sketch O(K²) at any corpus size (Spark
#: plans the cut as TakeOrderedAndProject — per-partition top-K, linear,
#: no full sort shuffle).  Ties (u32 collisions) break on vec_id, so both
#: engines pick the identical set.
_COSHIST_K = 200  # sample size: C(200,2) = 19 900 pairs at ANY corpus
_COSHIST_BINS = 10  # bin width 0.1 over [-1, 1] -> bins 0..20


def _coshist_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The histogram's fixed-size sample, pre-checkpoint (split out so the
    plan test can assert the TakeOrderedAndProject cut — the query's own
    localCheckpoint hides the subtree behind an ExistingRDD scan).

    The micro-unit projection sits BELOW the orderBy/limit on purpose:
    projections placed above a limit get pushed between the limit and the
    sort (PushProjectionThroughLimit), breaking Spark's
    ``Limit(Sort(Project))`` special-limits pattern and degrading the cut
    to a global range-partitioned Sort + CollectLimit (measured here);
    with a single Project under the Sort the planner emits
    TakeOrderedAndProject — per-partition top-K, no Exchange.

    r16 heavy-arm fix: the sample cut rides the shared
    `_emb_base_cached` checkpoint (scale-adaptively partitioned), so the
    below-the-limit micro projection + self-dot run parallel per
    partition instead of 1-task on the single-file scan."""
    e = _emb_base_cached(spark, sf_dir).select(
        "vec_id", F.col("emb").alias("embedding")
    )
    vm = F.transform(
        F.col("embedding"),
        lambda x: F.round(x * 1000000).cast("long"),
    )
    slim = e.select("vec_id", vm.alias("vm")).withColumn(
        "s",
        F.aggregate(
            F.zip_with("vm", "vm", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return slim.orderBy(md5_u32("vec_id"), "vec_id").limit(_COSHIST_K)


@query(
    "embedding_cosine_histogram",
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS vm
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY {md5_u32_sql('vec_id')}, vec_id
            LIMIT {_COSHIST_K})),
    n AS (SELECT vec_id,
                 CAST(list_dot_product(vm, vm) AS BIGINT) AS s
          FROM base),
    p AS (
      SELECT ROUND(CAST(CAST(list_dot_product(a.vm, b.vm) AS BIGINT)
                        AS DOUBLE)
                   / (sqrt(CAST(na.s AS DOUBLE)) * sqrt(CAST(nb.s AS DOUBLE))),
                   6) AS cos
      FROM base a JOIN base b ON a.vec_id < b.vec_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nb ON nb.vec_id = b.vec_id)
    SELECT CAST(FLOOR((cos + 1.0) * {_COSHIST_BINS}) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MIN(cos) AS min_cos, MAX(cos) AS max_cos
    FROM p GROUP BY 1
    """,
)
def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE-COSINE DISTRIBUTION of the embedding corpus (deterministic
    fixed-size hash-ordered sample, K = _COSHIST_K) — the calibration
    table you read BEFORE choosing any similarity threshold.  The
    documented r6 lesson made a declared artifact:
    dedup_embedding_cosine@0.9 is vacuous on this corpus because the max
    pairwise cosine is ~0.51 — this histogram is where that number comes
    from, per 0.1-wide bin with exact pair counts and the bin's min/max.

    Determinism: int64 MICRO-UNIT dots (64-dim micro products stay under
    2^53, so even a double accumulator sums exact integers — the
    signlsh/pagerank precedent), one IEEE division per pair, ROUND(,6);
    binning FLOORs the already-identical rounded double, so bins can
    never straddle engines.

    Scale shape (VERDICT r11 #1): the sample is fixed-SIZE — order by
    md5-u32(vec_id) and take the first K (TakeOrderedAndProject: one
    corpus scan with a per-partition top-K, never a full sort shuffle) —
    so the pair sketch is O(K²) = 19 900 pairs at ANY corpus size.  The
    r8 original sampled at a fixed RATE (vec_id % 10), which kept 10% of
    100 TB and made the sketch quadratic in the corpus; K is now the only
    knob and it prices the sketch, not the data.  The K-row sample
    localCheckpoints once and broadcasts onto its own pair self-join; all
    arithmetic is codegen array work; output is <= 21 rows."""
    base = _coshist_sample(spark, sf_dir).localCheckpoint(
        eager=False  # feeds both self-join sides
    )
    a = base.select(
        F.col("vec_id").alias("ida"), F.col("vm").alias("va"),
        F.col("s").alias("sa"),
    )
    b = base.select(
        F.col("vec_id").alias("idb"), F.col("vm").alias("vb"),
        F.col("s").alias("sb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = rnd(
        dot.cast("double")
        / (F.sqrt(F.col("sa").cast("double")) * F.sqrt(F.col("sb").cast("double"))),
        6,
    )
    pairs = (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
        .select(cos.alias("cos"))
    )
    return pairs.groupBy(
        F.floor((F.col("cos") + 1.0) * _COSHIST_BINS).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("cos").alias("min_cos"),
        F.max("cos").alias("max_cos"),
    )


@query(
    "embedding_int8_quant_audit",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS vm
      FROM embeddings),
    m AS (SELECT vec_id, vm,
                 CAST(list_max(list_transform(vm, x -> abs(x))) AS BIGINT)
                   AS maxabs
          FROM base),
    el AS (
      SELECT vec_id, maxabs, i.i AS i, vm[i.i + 1] AS v,
             CAST(round(CAST(127 * vm[i.i + 1] AS DOUBLE) / maxabs)
                  AS BIGINT) AS q
      FROM m CROSS JOIN (SELECT unnest(range(64)) AS i) i
      WHERE maxabs > 0)
    SELECT vec_id,
           CAST(maxabs AS DOUBLE) / 1000000.0 AS maxabs,
           COUNT(CASE WHEN q != 0 THEN 1 END) AS nnz_q,
           CAST(SUM(abs(q)) AS BIGINT) AS l1_q,
           CAST(SUM((i + 1) * q) AS BIGINT) AS checksum,
           CAST(SUM(abs(127 * v - q * maxabs)) AS BIGINT) AS err_sum,
           ROUND(CAST(CAST(SUM(abs(127 * v - q * maxabs)) AS BIGINT)
                      AS DOUBLE) / 8128000000.0, 9) AS mean_abs_err
    FROM el GROUP BY vec_id, maxabs
    """,
)
def embedding_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 SCALAR QUANTIZATION with an exact distortion audit — the
    4x-compression step an embedding store applies before ANN serving,
    in the r7/r8 house contract (sketch next to its exact error):
    per vector, symmetric absmax scaling q_i = round(127·x_i/absmax),
    plus the EXACT integer residual sum(|127·x_i − q_i·absmax|) (in
    127·micro units — every term exact int64, order-free) and its
    per-dim mean in original units (ONE division by the constant
    127·10⁶·64).  nnz/l1/position-weighted checksum pin the quantized
    vector itself (the text_hashed_features contract).

    Determinism: inputs quantize to int64 micros first; 127·v is exact;
    the single rounding of an identical IEEE quotient is half-away on
    both engines; everything after is integer.

    Scale shape: pure per-row array codegen (explode-free on the Spark
    side — transform/aggregate over the 64-wide array), one pass, no
    shuffle, no model state; at 100 TB this is a map stage fused into
    whatever writes the serving shards.

    r16 heavy-arm fix: rides the shared `_emb_base_cached` checkpoint
    (scale-adaptively partitioned) — the direct single-file scan ran
    the per-row folds 1-task at any SF (sf1 isolated best 2.81 s);
    memo emb is the identical float→double cast."""
    e = _emb_base_cached(spark, sf_dir)
    vm = F.transform(
        F.col("emb"),
        lambda x: F.round(x * 1000000).cast("long"),
    )
    base = e.select("vec_id", vm.alias("vm")).withColumn(
        "maxabs_mic", F.array_max(F.transform("vm", F.abs))
    ).where(F.col("maxabs_mic") > 0)
    q = F.transform(
        "vm",
        lambda x: F.round((127 * x).cast("double") / F.col("maxabs_mic")).cast(
            "long"
        ),
    )
    qd = base.withColumn("q", q)
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    err_sum = isum(
        F.zip_with(
            "vm", "q", lambda v, qq: F.abs(127 * v - qq * F.col("maxabs_mic"))
        )
    )
    return qd.select(
        "vec_id",
        (F.col("maxabs_mic").cast("double") / 1000000.0).alias("maxabs"),
        F.size(F.filter("q", lambda x: x != 0)).cast("long").alias("nnz_q"),
        isum(F.transform("q", F.abs)).alias("l1_q"),
        isum(
            F.zip_with(
                F.sequence(F.lit(1), F.size("q")), "q", lambda i, x: i * x
            )
        ).alias("checksum"),
        err_sum.alias("err_sum"),
        rnd(err_sum.cast("double") / 8128000000.0, 9).alias("mean_abs_err"),
    )


#: quantization bit widths the sweep prices: symmetric absmax scalar
#: quantization at L = 2^(b-1) - 1 levels per sign — ternary (the
#: BitNet-style 1.58-bit regime), int4, and the int8 the per-vector
#: audit above ships
_QB_SWEEP = ((2, 1), (4, 7), (8, 127))


def _quant_bits_oracle() -> str:
    arms = []
    for b, lv in _QB_SWEEP:
        err = (
            f"abs({lv} * x - CAST(round(CAST({lv} * x AS DOUBLE) / s) "
            f"AS BIGINT) * s)"
        )
        arms.append(
            f"SELECT CAST({b} AS BIGINT) AS bits,"
            f" CAST({lv} AS BIGINT) AS levels,"
            f" CAST(SUM(list_sum(list_transform(mv, x -> {err})))"
            f"   AS BIGINT) AS sum_abs_units,"
            f" CAST(SUM(list_sum(list_transform(mv, x -> {err} * {err})))"
            f"   AS BIGINT) AS sse_units"
            f" FROM m"
        )
    arm_sql = "\n      UNION ALL ".join(arms)
    return f"""
    WITH m AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x*1000000) AS BIGINT)) AS mv,
             list_max(list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> abs(CAST(round(x*1000000) AS BIGINT)))) AS s
      FROM embeddings
      WHERE list_max(list_transform(
              CAST(embedding AS DOUBLE[]),
              x -> abs(CAST(round(x*1000000) AS BIGINT)))) > 0),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(SUM(list_sum(list_transform(mv, x -> abs(x))))
                   AS BIGINT) AS l1_mv,
                 CAST(SUM(list_sum(list_transform(mv, x -> x * x)))
                   AS BIGINT) AS energy_mv
          FROM m),
    arms AS ({arm_sql})
    SELECT bits, levels, n_vecs, l1_mv, energy_mv, sum_abs_units,
           sse_units,
           ROUND(CAST(sum_abs_units AS DOUBLE) /
                 (levels * CAST(l1_mv AS DOUBLE)), 6) AS rel_l1,
           ROUND(sqrt(CAST(sse_units AS DOUBLE)) /
                 (levels * sqrt(CAST(energy_mv AS DOUBLE))), 6) AS rel_rmse
    FROM arms, c
    ORDER BY bits
    """


@query("embedding_quant_bits_sweep", oracle=_quant_bits_oracle())
def embedding_quant_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTIZATION BIT-WIDTH CALIBRATION SWEEP — the storage/recall knob
    of the embedding serving store priced in one pass: symmetric absmax
    scalar quantization at ternary (2-bit, L=1 — the BitNet-style
    1.58-bit regime), int4 (L=7), and int8 (L=127, the per-vector
    embedding_int8_quant_audit config), each scored with EXACT integer
    distortion totals (Σ|L·v − q·s| and Σ(L·v − q·s)² in L·micro units —
    the int8 audit's no-dequant-rounding trick, every term exact int64:
    |L·v − q·s| ≤ s/2 bounds the squared sum < 3e16 at sf0.1,
    independent of L) plus relative L1 and RMSE distortion.

    DETERMINISM: micro-unit int64 vectors; q = round of ONE IEEE
    quotient of exact ints (half-away in both engines, negative-safe);
    everything after is integer until the two declared ratios — each
    one division (and one sqrt chain) of exact-int-cast doubles, then
    ROUND 6 (casting the same int64 to double is the same IEEE nearest
    in both engines, so magnitudes beyond 2^53 stay hash-safe).
    All-zero vectors are excluded (s=0 has no quantization), mirrored
    in both engines.

    Measured (sf0.1): rel_rmse 0.718 / 0.108 / 0.0059 for 2/4/8 bits.
    Between int4 and int8 the ratio is 18.3 ≈ L₈/L₄ = 127/7 — the 1/L
    uniform-noise law holds exactly — but TERNARY is 6.6x worse than
    the law predicts from int4 (0.72 vs ~0.5 even for uniform data):
    these embeddings concentrate near zero, so one threshold at s/2
    rounds most mass to 0.  That distribution effect is precisely what
    this table exists to surface — the 1.58-bit regime needs its own
    recall study on YOUR vectors, not a noise-law extrapolation.

    Scale shape: ZERO-SHUFFLE MAP + one global agg — all three widths
    are per-row array codegen inside ONE embeddings pass (no explode,
    no join, no model state), then a 3-row stack; at 100 TB this fuses
    into whatever writes the serving shards, exactly like the int8
    audit it generalizes.

    r16 heavy-arm fix: ride the shared `_emb_base_cached` checkpoint —
    the direct single-file scan ran the ~8 per-row integer array folds
    as ONE task at any SF (extended sf1 arm: 10.6 s at 32 cores, c8/c32
    ratio 0.59 — serial-bound); the memo is spread by `spread_scan`
    when the scan reads in too few tasks, so the fold map parallelizes
    while fixture-SF outputs stay hash-identical (memo emb is the same
    float→double cast this query applied itself)."""
    e = _emb_base_cached(spark, sf_dir)
    vm = F.transform(
        F.col("emb"),
        lambda x: F.round(x * 1000000).cast("long"),
    )
    base = (
        e.select(vm.alias("mv"))
        .withColumn("s", F.array_max(F.transform("mv", F.abs)))
        .where(F.col("s") > 0)
    )
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )

    def err(lv):  # per-element |L·v − q·s| in L·micro units, exact int64
        return lambda x: F.abs(
            lv * x
            - F.round((lv * x).cast("double") / F.col("s")).cast("long")
            * F.col("s")
        )

    aggs = [
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(isum(F.transform("mv", F.abs))).alias("l1_mv"),
        F.sum(isum(F.transform("mv", lambda x: x * x))).alias("energy_mv"),
    ]
    for b, lv in _QB_SWEEP:
        ecol = F.transform("mv", err(lv))
        aggs.append(F.sum(isum(ecol)).alias(f"a{b}"))
        aggs.append(
            F.sum(isum(F.transform(ecol, lambda y: y * y))).alias(f"q{b}")
        )
    t = base.agg(*aggs)
    pairs = ", ".join(
        f"CAST({b} AS BIGINT), CAST({lv} AS BIGINT), a{b}, q{b}"
        for b, lv in _QB_SWEEP
    )
    return (
        t.selectExpr(
            "n_vecs",
            "l1_mv",
            "energy_mv",
            f"stack({len(_QB_SWEEP)}, {pairs})"
            " AS (bits, levels, sum_abs_units, sse_units)",
        )
        .select(
            "bits",
            "levels",
            "n_vecs",
            "l1_mv",
            "energy_mv",
            "sum_abs_units",
            "sse_units",
            rnd(
                F.col("sum_abs_units").cast("double")
                / (F.col("levels") * F.col("l1_mv").cast("double")),
                6,
            ).alias("rel_l1"),
            rnd(
                F.sqrt(F.col("sse_units").cast("double"))
                / (F.col("levels") * F.sqrt(F.col("energy_mv").cast("double"))),
                6,
            ).alias("rel_rmse"),
        )
        .repartition(1)
        .sortWithinPartitions("bits")
    )


def knn_kcore_decomposition(
    spark: SparkSession, sf_dir: str, max_k: int = 16
) -> DataFrame:
    """K-CORE DECOMPOSITION of the undirected kNN graph — iterative peel
    (Matula & Beck '83 in DataFrame form): for k = 2, 3, ... repeatedly
    delete nodes with degree < k until a fixpoint; a node's core number
    is the largest k whose fixpoint retains it.  The density member of
    the graph family (pagerank = centrality, LPA = partitioning,
    triangles = cohesion, k-core = engagement shells — data-pruning
    pipelines keep the dense core of a similarity graph).

    Scale shape: the peel round is one groupBy(degree) + one semi-join
    — id-only shuffles on the memoized checkpointed edge list; each
    inner fixpoint converges when the node count stops falling (a
    single scalar to the driver — the dedup_groups checksum idiom), and
    lineage stays flat by re-rooting the surviving edge set on a
    localCheckpoint per k (the bpe_train_merges loop idiom, superseded
    rounds freed).  Test-only: core numbers are loop-internal (a DuckDB
    twin would re-implement the peel); invariants in
    tests/test_graph_kcore.py."""
    edges = _knn_sym_edges(spark, sf_dir)
    core = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "core", F.lit(1)
    )
    prev_edges = edges
    for k in range(2, max_k + 1):
        # inner fixpoint: peel degree-<k nodes until stable
        cur = prev_edges
        n_prev = None
        while True:
            deg = cur.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.where(F.col("d") >= k).select("s")
            n = keep.count()
            if n == 0:
                cur = None
                break
            if n_prev is not None and n == n_prev:
                break
            n_prev = n
            nxt = (
                cur.join(keep, "s", "left_semi")
                .join(keep.select(F.col("s").alias("t")), "t", "left_semi")
                .localCheckpoint(eager=True)
            )
            if cur is not prev_edges:
                _free_local_checkpoint(cur)
            cur = nxt
        if cur is None:
            break
        survivors = cur.select("s").distinct()
        core = (
            core.join(
                survivors.select(F.col("s").alias("node")).withColumn(
                    "in_core", F.lit(True)
                ),
                "node",
                "left",
            )
            .select(
                "node",
                F.when(F.col("in_core"), F.lit(k)).otherwise(F.col("core")).alias(
                    "core"
                ),
            )
            .localCheckpoint(eager=True)
        )
        if prev_edges is not edges:
            _free_local_checkpoint(prev_edges)
        prev_edges = cur
    return core


# --- co-purchase k-core peel trace -----------------------------------------

_KCORE_KS = (2, 3, 4)  # peel thresholds declared in the trace
_KCORE_MIN_SUPPORT = 2  # co-order count for a part pair to be an edge


def _kcore_recursive_cte(k: int) -> str:
    """One per-k recursive CTE for the synchronous-peel oracle.

    The recursive term re-derives the surviving node set from the working
    table (the previous round's rows) and emits it ONLY when it strictly
    shrank — at a fixpoint the emitted row set is empty and the recursion
    terminates, so ``aliveK`` holds exactly the strictly-shrinking round
    snapshots including the fixpoint itself (verified against a from-
    scratch Python peel on multi-round path graphs and on the
    empties-to-zero case)."""
    return f"""
    alive{k}(r, node) AS (
        SELECT 0 AS r, s AS node FROM kedges GROUP BY s
      UNION ALL
        SELECT r + 1 AS r, node FROM (
          SELECT MAX(w.r) OVER () AS r, d.node,
                 COUNT(*) OVER () AS n_surv,
                 (SELECT COUNT(*) FROM alive{k}) AS n_prev
          FROM (
            SELECT e.s AS node, COUNT(*) AS deg
            FROM kedges e
            JOIN alive{k} w1 ON e.s = w1.node
            JOIN alive{k} w2 ON e.t = w2.node
            GROUP BY e.s
            HAVING COUNT(*) >= {k}
          ) d, (SELECT DISTINCT r FROM alive{k}) w
        ) WHERE n_surv < n_prev
    )"""


_KCORE_TRACE_ORACLE = f"""
    WITH RECURSIVE
    o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pp AS MATERIALIZED (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM o a JOIN o b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SUPPORT}
    ),
    kedges AS MATERIALIZED (
      SELECT s, t FROM pp UNION ALL SELECT t, s FROM pp
    ),
    {','.join(_kcore_recursive_cte(k) for k in _KCORE_KS)},
    tr AS (
      {' UNION ALL '.join(
          f"SELECT {k} AS k, r, node FROM alive{k}" for k in _KCORE_KS)}
    ),
    al AS (SELECT k, r, COUNT(*) AS n_alive FROM tr GROUP BY 1, 2),
    ec AS (
      SELECT a1.k, a1.r, COUNT(*) AS n_dir
      FROM tr a1
      JOIN kedges e ON e.s = a1.node
      JOIN tr a2 ON a2.k = a1.k AND a2.r = a1.r AND a2.node = e.t
      GROUP BY 1, 2
    )
    SELECT CAST(al.k AS INT) AS k, CAST(al.r AS INT) AS round,
           CAST(al.n_alive AS BIGINT) AS n_alive,
           CAST(COALESCE(ec.n_dir, 0) // 2 AS BIGINT) AS n_edges
    FROM al LEFT JOIN ec ON ec.k = al.k AND ec.r = al.r
    ORDER BY k, round
    """


@query("graph_copurchase_kcore_trace", oracle=_KCORE_TRACE_ORACLE)
def graph_copurchase_kcore_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE PEEL TRACE of the co-purchase graph — the iterative graph
    algorithm declared with a FULL hash oracle: parts are nodes, an edge
    means two parts co-occur in >= _KCORE_MIN_SUPPORT distinct orders (the
    market_basket_pairs substrate), and for each k in _KCORE_KS the
    synchronous peel (remove every node of degree < k, repeat) is run to
    its fixpoint.  The declared output is the DECAY CURVE — one row per
    (k, round) while the alive set strictly shrinks: surviving node and
    edge counts.  The trace is the useful analytics artifact (how fast the
    graph's casual fringe evaporates vs its dense core) and, unlike a
    membership set, it is non-vacuous at every SF even where a core
    empties or the whole graph survives round 0.

    The DuckDB twin runs the SAME synchronous peel as one recursive CTE
    per k: the complement of the usual trick — the recursive term re-peels
    the working table and emits only strict shrinks, so it terminates at
    the fixpoint instead of looping on it.  kedges is MATERIALIZED because
    anything referenced from a recursive term re-executes PER ITERATION
    when inlined (house trap, CLAUDE.md).

    Scale shape: the pair build fans out only within order baskets
    (Σ|basket|², baskets <= 7 lines — linear in orders); the symmetric
    edge list is checkpointed once and every peel round is one
    groupBy(k, s) degree count plus two id-only semi-joins on it.  All
    three k-peels advance in ONE tagged state table per round (k is a
    state column), so the driver loop runs max-rounds-over-k times, not
    sum; per round ONE O(|ks|)-row stats collect reaches the driver —
    alive count, node count and Σdegree per k, the last of which IS the
    previous round's edge count (same rows, grouped by endpoint), so no
    separate edge-count branch or round-0 snapshot job exists — and each
    round re-roots lineage on a lazy localCheckpoint materialized by the
    next round's collect, with superseded blocks freed on a two-round
    lag (the bpe_train_merges idiom).  At 100 TB the state is the
    (already aggregated, support-thresholded) pair graph, orders of
    magnitude smaller than the fact table, and rounds are O(log n) in
    practice."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # r15 optimization (guide §2.4, the market_basket_pairs idiom): one
    # map-combined collect_set per order replaces the former distinct +
    # two-sided self-join — the ≤7-part basket array generates its own
    # pairs, so the fact table pays ONE exchange instead of three.
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    p = (
        baskets.select("ps", F.explode("ps").alias("s"))
        .select("s", F.explode("ps").alias("t"))
        .where(F.col("s") < F.col("t"))
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _KCORE_MIN_SUPPORT)
        .select("s", "t")
    )
    edges = p.unionByName(p.select(F.col("t").alias("s"), F.col("s").alias("t")))
    state = (
        edges.withColumn(
            "k", F.explode(F.array(*[F.lit(k) for k in _KCORE_KS]))
        )
        .select("k", "s", "t")
        .localCheckpoint(eager=False)
    )
    # r15 optimization, third pass (guide §2.2 shuffle fewer stages +
    # §1.2 one action/round): each round's EDGE count is DEFERRED one
    # round — SUM(d) over round r+1's degree aggregate counts exactly the
    # rows round r's nxt.groupBy(k) used to count (state(r) grouped by
    # endpoint instead of globally), and COUNT(*) of round 1's degree
    # groups is the round-0 alive set, so ONE 3-column-per-k stats
    # collect per round replaces the former keep-count + nxt-count union
    # branches AND the round-0 snapshot job, and the keep branch's
    # duplicate degree exchange disappears from the plan (the lazy
    # checkpoint compiles its own copy; the old counts plan compiled a
    # second).  Because the stats collect now PRECEDES nxt's compilation,
    # dead ks are filtered out BEFORE the semi-joins — dropped rows never
    # ride a checkpoint at all.  Checkpoint frees move to a TWO-round
    # lag: round r's collect is what materializes state(r-1), whose
    # pipeline still reads state(r-2)'s blocks (keep(r-1) broadcasts are
    # built from a degree aggregate over state(r-2)).
    trace: list[tuple[int, int, int, int]] = []
    prev_alive: dict[int, int] = {}
    pending: dict[int, tuple[int, int]] = {}  # k -> (round, n_alive) rows
    r = 0
    first = True
    older: DataFrame | None = None  # freed after the NEXT round's collect
    newer = state
    # try/finally: outstanding checkpoints must be released on EVERY exit —
    # empty-edge graphs break out of round 1, and a mid-loop failure must
    # not strand blocks (review finding)
    try:
        while True:
            r += 1
            deg = state.groupBy("k", "s").agg(F.count(F.lit(1)).alias("d"))
            stats = (
                deg.groupBy("k")
                .agg(
                    F.count(F.lit(1)).alias("n_nodes"),
                    F.count_if(F.col("d") >= F.col("k")).alias("n_keep"),
                    F.sum("d").alias("n_dir"),
                )
                .collect()
            )
            if older is not None:
                _free_local_checkpoint(older)
                older = None
            n_nodes = {int(rw["k"]): int(rw["n_nodes"]) for rw in stats}
            alive_now = {int(rw["k"]): int(rw["n_keep"]) for rw in stats}
            n_dir = {int(rw["k"]): int(rw["n_dir"]) for rw in stats}
            if first:
                for k in sorted(n_nodes):
                    trace.append((k, 0, n_nodes[k], n_dir[k] // 2))
                prev_alive = dict(n_nodes)
                first = False
            # flush round r-1's rows now that their edge count arrived
            # (.get: a live k whose survivors lost every edge has no
            # degree row this round — its state genuinely has 0 edges)
            for k, (rr, al) in pending.items():
                trace.append((k, rr, al, n_dir.get(k, 0) // 2))
            # a k continues only while its alive set strictly shrank and is
            # nonempty — mirrors the oracle's emit-on-shrink recursion
            live_ks = [
                k for k, n_prev in prev_alive.items()
                if 0 < alive_now.get(k, 0) < n_prev
            ]
            if not live_ks:
                break
            pending = {k: (r, alive_now[k]) for k in live_ks}
            prev_alive = {k: alive_now[k] for k in live_ks}
            src = state
            keep = deg.where(F.col("d") >= F.col("k")).select("k", "s")
            if len(live_ks) < len(n_nodes):
                live = F.col("k").isin(live_ks)
                src = src.where(live)
                keep = keep.where(live)
            nxt = (
                src.join(keep, ["k", "s"], "left_semi")
                .join(
                    keep.select("k", F.col("s").alias("t")), ["k", "t"], "left_semi"
                )
                .localCheckpoint(eager=False)
            )
            older, newer = newer, nxt
            state = nxt
    finally:
        if older is not None:
            _free_local_checkpoint(older)
        _free_local_checkpoint(newer)
    out = spark.createDataFrame(
        trace, "k int, round int, n_alive long, n_edges long"
    )
    return out.repartition(1).sortWithinPartitions("k", "round")


# --- duplicate-group representative selection --------------------------------


def _keep_best_ranked_sql() -> str:
    """Shared CTE block (g / w / ranked): near-dup components joined to
    the WORDS_SQL quality metric and ranked by the keep-best rule
    (max words, min doc_id) — the single source for dedup_keep_best's
    and pipeline_dedup_dataset's oracles."""
    from paraslice_spark.operators.text import WORDS_SQL
    from paraslice_spark.registry import ORACLES

    return f"""
    g AS MATERIALIZED (
      -- MATERIALIZED: the recursive reachability closure inside would
      -- otherwise re-run per downstream reference (house trap)
      SELECT doc_id, rep_id FROM ({ORACLES["dedup_groups"]})
      WHERE group_size >= 2
    ),
    w AS MATERIALIZED (
      -- pipeline_dedup_dataset references w twice (ranked + base);
      -- inlined, DuckDB re-tokenizes the corpus per reference
      SELECT doc_id, len({WORDS_SQL}) AS words FROM documents),
    ranked AS (
      SELECT g.rep_id, g.doc_id, w.words,
             row_number() OVER (PARTITION BY g.rep_id
                                ORDER BY w.words DESC, g.doc_id) AS rn
      FROM g JOIN w USING (doc_id)
    )"""


def _keep_best_oracle() -> str:
    """Composed from the shared keep-best ranking block (single source of
    truth: a change to the component rule, the tokenizer, or the ranking
    flows into this audit automatically)."""
    return f"""
    WITH {_keep_best_ranked_sql()}
    SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS keep_doc_id,
           CAST(MAX(CASE WHEN rn = 1 THEN words END) AS BIGINT)
             AS keep_words,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rn > 1 THEN words ELSE 0 END) AS BIGINT)
             AS words_dropped
    FROM ranked GROUP BY rep_id ORDER BY rep_id
    """


def _doc_words_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, words) via the shared tokenizer — Spark twin of the w CTE."""
    from paraslice_spark.operators.text import doc_words

    return load_tables(spark, sf_dir)["documents"].select(
        "doc_id", F.size(doc_words()).cast("long").alias("words")
    )


def _keep_best_ranked(
    spark: SparkSession, sf_dir: str, d: DataFrame | None = None
) -> DataFrame:
    """Spark twin of :func:`_keep_best_ranked_sql`: (rep_id, doc_id,
    words, rn) over the memoized near-dup components.  Pass a prepared
    (checkpointed) words frame via ``d`` when the caller also consumes
    it, so the corpus is tokenized once."""
    labels = _components_cached(
        spark, sf_dir, "all",
        lambda: _min_label_components(
            _ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )
    if d is None:
        d = _doc_words_frame(spark, sf_dir)
    j = labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("rep_id")
    ).join(d, "doc_id")
    w = Window.partitionBy("rep_id").orderBy(F.desc("words"), "doc_id")
    return j.withColumn("rn", F.row_number().over(w))


@query("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-GROUP RESOLUTION — the step after detection that an
    actual training-data pipeline ships: within every near-dup component
    (the dedup_groups J >= 0.6 clusters), KEEP the highest-quality member
    (max word count, min doc_id tiebreak) and account for what was
    dropped: docs removed and words saved per group.  The words_dropped
    column is the number dataset curators report ("dedup removed X% of
    tokens").

    Scale shape: components come from the memoized min-label fixpoint
    (_components_cached — ids only), the quality metric joins on doc_id
    (one shuffle, text never moves), and the representative pick is a
    per-group window whose partitions are dup-cluster-sized (bounded by
    the largest near-dup cluster, not the corpus).  Oracle composed from
    the shared keep-best ranking block."""
    # every labeled node sits in a >= 2 component by construction (labels
    # exist only for edge-participating docs) — the oracle's size filter
    r = _keep_best_ranked(spark, sf_dir)
    return (
        r.groupBy("rep_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("words"))).alias("keep_words"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
            F.sum(F.when(F.col("rn") > 1, F.col("words")).otherwise(F.lit(0))).alias(
                "words_dropped"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("rep_id")
    )


def _dedup_dataset_oracle() -> str:
    """Composed from the registered dedup_groups closure, the shared
    keep-best ranking rule, WORDS_SQL, and SPLIT_LABEL_SQL — the full
    curation pipeline verified from four single-source fragments."""
    from paraslice_spark.functions.canon import SPLIT_LABEL_SQL

    return f"""
    WITH {_keep_best_ranked_sql()},
    dropped AS (SELECT doc_id FROM ranked WHERE rn > 1),
    base AS (
      -- single unambiguous doc_id column for the shared split fragment
      SELECT d.doc_id AS doc_id, w.words,
             dr.doc_id IS NOT NULL AS dr
      FROM documents d
      JOIN w ON w.doc_id = d.doc_id
      LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    )
    SELECT {SPLIT_LABEL_SQL} AS split,
           CAST(COUNT(CASE WHEN NOT dr THEN 1 END) AS BIGINT)
             AS n_docs_kept,
           CAST(COUNT(CASE WHEN dr THEN 1 END) AS BIGINT) AS n_docs_dropped,
           CAST(SUM(CASE WHEN NOT dr THEN words ELSE 0 END) AS BIGINT)
             AS words_kept,
           CAST(SUM(CASE WHEN dr THEN words ELSE 0 END) AS BIGINT)
             AS words_dropped
    FROM base
    GROUP BY 1 ORDER BY split
    """


@query("pipeline_dedup_dataset", oracle=_dedup_dataset_oracle())
def pipeline_dedup_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CURATION CAPSTONE — dedup-resolve, split, account: drop every
    near-dup group member except the keep-best representative
    (dedup_keep_best's rule), assign the deterministic train/val/test
    split, and report per-split kept/dropped doc and word totals — the
    dataset card a pipeline publishes after dedup.  The whole query is
    COMPOSED from single-source fragments (dedup_groups closure,
    keep-best ranking, WORDS_SQL tokenizer, SPLIT_LABEL_SQL), so a
    change to any rule flows into this audit automatically.

    Scale shape: components ride the memoized label fixpoint (ids only);
    the dropped set is dup-graph-sized, broadcast onto the corpus-wide
    split scan; words come from the same map-side projection as the
    split label — one corpus scan, one broadcast, one 3-row hash agg."""
    from paraslice_spark.functions.canon import split_label

    # tokenize once: the words frame feeds BOTH the ranking and the
    # split accounting (no common subplan in Catalyst otherwise)
    d = _doc_words_frame(spark, sf_dir).localCheckpoint(eager=False)
    dropped = (
        _keep_best_ranked(spark, sf_dir, d)
        .where(F.col("rn") > 1)
        .select("doc_id")
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        d.join(F.broadcast(dropped), "doc_id", "left")
        .select(
            split_label().alias("split"),
            "words",
            F.coalesce("is_dropped", F.lit(False)).alias("dr"),
        )
        .groupBy("split")
        .agg(
            F.count(F.when(~F.col("dr"), 1)).alias("n_docs_kept"),
            F.count(F.when(F.col("dr"), 1)).alias("n_docs_dropped"),
            F.sum(F.when(~F.col("dr"), F.col("words")).otherwise(F.lit(0))).alias(
                "words_kept"
            ),
            F.sum(F.when(F.col("dr"), F.col("words")).otherwise(F.lit(0))).alias(
                "words_dropped"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("split")
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH e AS MATERIALIZED (
      -- MATERIALIZED: e is referenced twice (and adj/deg fan out further);
      -- DuckDB inlines multi-referenced CTEs, so the bare form re-runs the
      -- whole _KNN_ORACLE pipeline per reference (the dedup_method_agreement
      -- disk-exhaustion trap, CLAUDE.md / ADVICE r9)
      SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
                      GREATEST(vec_id, neighbor_id) AS v
      FROM ({_KNN_ORACLE})
    ),
    adj AS MATERIALIZED (
            SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v, u FROM e),
    deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    p AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj a JOIN deg du ON du.node = a.node
                 JOIN deg dv ON dv.node = a.nbr),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM p)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           m // 2 AS n_edges,
           ROUND(CAST(m * sxy - sx * sx AS DOUBLE)
                 / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the undirected kNN graph — the Pearson
    correlation of endpoint degrees over all directed edge stubs
    (Newman 2002): do hubs link to hubs (r > 0, social-network-like)
    or to leaves (r < 0, star-like)?  The one-number summary next to
    graph_degree_distribution's full histogram, from the SAME memoized
    edge table.

    EXACT-INTEGER FORM: over the 2|E| directed stubs the x and y
    marginals coincide, so r = (M·Σxy − (Σx)²) / (M·Σxx − (Σx)²) —
    all four sums exact int64 (degrees ≤ n, stub terms ≤ M·d² ≈ 10¹⁰
    at any realistic k), ONE IEEE division, ROUND(,6) — the same
    n-scaled-moment discipline as the autocorr/overdispersion family.

    Scale shape: canonical u<v edges from the memoized kNN graph
    (built once per session+sf), degrees one map-combined agg, the
    stub table joins the degree dim TWICE by node key (both
    broadcast-able — |nodes| rows), then a 1-row rollup.  O(n·k) rows
    end to end; nothing quadratic."""
    e = _knn_uedges_cached(spark, sf_dir)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    p = (
        adj.join(F.broadcast(deg), "node")
        .select(F.col("d").alias("x"), "nbr")
        .join(
            F.broadcast(deg.select(F.col("node").alias("nbr"), F.col("d").alias("y"))),
            "nbr",
        )
    )
    s = p.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    m, sx, sxx, sxy = (F.col(k) for k in ("m", "sx", "sxx", "sxy"))
    return s.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.expr("m div 2").alias("n_edges"),
        F.round(
            (m * sxy - sx * sx).cast("double")
            / (m * sxx - sx * sx).cast("double"),
            6,
        ).alias("assortativity"),
    )


# ---- incremental index-maintenance audit (r10) -------------------------

_QA_DIMS = 8  # leading embedding dims the scalar sign-quantizer thresholds
_QA_OFF = 16_000_000  # micro-unit offset keeping floor-div operands >= 0
#: domain bound the offset encodes: |x| <= 16.0 per component (fixture max
#: |x| ~ 0.53; anything unit-ish is orders of magnitude inside the bound)


def _qa_oracle() -> str:
    d_rng = range(_QA_DIMS)
    sb = ",\n             ".join(
        f"CAST(SUM(CASE WHEN vec_id <= cutoff THEN mv[{d + 1}] END)"
        f" AS BIGINT) AS sb{d}"
        for d in d_rng
    )
    sfull = ",\n             ".join(
        f"CAST(SUM(mv[{d + 1}]) AS BIGINT) AS sf{d}" for d in d_rng
    )
    cell_b = " + ".join(
        f"(CASE WHEN mv[{d + 1}] * n_b > sb{d} THEN {1 << d} ELSE 0 END)"
        for d in d_rng
    )
    cell_f = " + ".join(
        f"(CASE WHEN mv[{d + 1}] * n_f > sf{d} THEN {1 << d} ELSE 0 END)"
        for d in d_rng
    )
    shift = ", ".join(
        f"abs((sf{d} + n_f * {_QA_OFF}) // n_f"
        f" - (sb{d} + n_b * {_QA_OFF}) // n_b)"
        for d in d_rng
    )
    return f"""
    WITH m AS (
      SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x*1000000) AS BIGINT)) AS mv
      FROM embeddings),
    cut AS (SELECT CAST(MAX(vec_id) * 4 // 5 AS BIGINT) AS cutoff FROM m),
    st AS MATERIALIZED (
      SELECT CAST(COUNT(CASE WHEN vec_id <= cutoff THEN 1 END) AS BIGINT)
               AS n_b,
             CAST(COUNT(*) AS BIGINT) AS n_f,
             {sb},
             {sfull}
      FROM m, cut),
    cells AS (
      SELECT vec_id <= cutoff AS is_base,
             {cell_b} AS cell_b,
             {cell_f} AS cell_f
      FROM m, cut, st),
    occ AS (
      SELECT cell_b,
             COUNT(CASE WHEN is_base THEN 1 END) AS nb,
             COUNT(CASE WHEN NOT is_base THEN 1 END) AS ni,
             COUNT(CASE WHEN is_base AND cell_b <> cell_f THEN 1 END)
               AS moved
      FROM cells GROUP BY 1),
    o AS (
      SELECT COUNT(CASE WHEN nb > 0 THEN 1 END) AS cells_base,
             CAST(COUNT(*) AS BIGINT) AS cells_after,
             COUNT(CASE WHEN nb = 0 THEN 1 END) AS cells_created,
             CAST(SUM(CASE WHEN nb > 0 THEN ni ELSE 0 END) AS BIGINT)
               AS inc_into_existing,
             CAST(SUM(moved) AS BIGINT) AS n_base_moved
      FROM occ)
    SELECT n_b AS n_base, n_f - n_b AS n_inc, n_base_moved,
           n_base_moved * 1000000 // n_b AS moved_ppm,
           greatest({shift}) AS max_mean_shift_micro,
           cells_base, cells_after, cells_created, inc_into_existing
    FROM st, o
    """


@query("similarity_quantizer_append_audit", oracle=_qa_oracle())
def similarity_quantizer_append_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL ANN INDEX APPEND AUDIT (VERDICT r9 next-round #4) —
    dedup_incremental_audit's append-stability pattern applied to the
    SIMILARITY path: replay the last ~20% of vec_ids as an append batch
    against an index built on the first 80% and answer the two questions
    an ANN-index operator asks before a retrain window: (a) where do the
    appended vectors LAND (occupancy drift — new cells opened, appends
    absorbed by existing cells), and (b) what would RETRAINING the
    quantizer on base+append change (assignment drift — how many base
    vectors would move cells, and how far the per-dimension means shift).

    The quantizer under audit is a DATA-DEPENDENT scalar sign quantizer:
    cell = Σ_d [m_d · n > s_d] · 2^d over the 8 leading dims, where
    (s_d, n) are the indexed corpus's per-dim micro-unit sums — i.e.
    each bit thresholds a dimension at the corpus MEAN, the 1-bit
    scalar-quantization cell rule.  Unlike the k-means IVF cells
    (similarity_ivf_ann, rows-only — float Lloyd iterations are
    model-internal), this quantizer's entire state is two integers per
    dim, so cells under BASE parameters and RETRAINED parameters are
    both exactly SQL-expressible and the whole audit HASH-ORACLES —
    the tensor_unfold_gram_type resolution applied to ANN maintenance.

    EXACT INTEGERS throughout: micro-unit quantization at birth (the
    signlsh bound: |m| ≤ 16e6 by the documented |x| ≤ 16 domain, so
    m·n and Σm stay < 2^63 to n = 5.7e13 vectors); the bit test
    m_d·n > s_d multiplies instead of dividing; mean shift uses the
    offset-floor-div identity (s + n·OFF) div n = OFF + floor(s/n) so
    both engines floor on provably non-negative operands (the DuckDB
    `//` vs Spark `div` negative-operand trap, CLAUDE.md).

    Measured signal (sf0.001/0.01/0.1): moved_ppm 102500/82500/22500 —
    a 20% append moves 2-10% of base assignments under retrain, the
    drift that decides retrain cadence; cells_created 15/16/0 (all 256
    cells occupied by sf0.1 — a true saturation statement);
    inc_into_existing = every append at sf0.1.  Non-vacuous at every SF.

    Scale shape: quantizer state is ONE map-combined agg (2 + 2·8
    int64s) broadcast back as a 1-row frame; cell assignment is pure
    codegen (8 compare-and-add terms — deliberately NOT the 32-plane
    matmul shape, no Python in the path); the audit rolls up through a
    ≤256-key map-combined groupBy then a 1-row rollup.  The corpus is
    scanned twice (stats, cells) with no window, no join wider than a
    1-row broadcast, nothing ordered — at 100 TB this is two columnar
    passes over 8 of 64 dims.

    r16 heavy-arm fix: both columnar passes read the shared
    `_emb_base_cached` checkpoint (scale-adaptively partitioned) instead
    of re-scanning the single-file source twice 1-task each (sf1
    isolated best 2.13 s before); memo emb is the identical
    float→double cast."""
    e = _emb_base_cached(spark, sf_dir)
    mv = F.transform(
        F.col("emb"),
        lambda x: F.round(x * 1000000).cast("long"),
    )
    base = e.select("vec_id", mv.alias("mv"))
    cut = base.agg(
        F.expr("CAST(max(vec_id) * 4 div 5 AS BIGINT)").alias("cutoff")
    )
    b = base.crossJoin(F.broadcast(cut))
    is_base = F.col("vec_id") <= F.col("cutoff")
    stat_aggs = [
        F.count(F.when(is_base, F.lit(1))).alias("n_b"),
        F.count(F.lit(1)).alias("n_f"),
    ]
    for d in range(_QA_DIMS):
        m_d = F.col("mv")[d]
        stat_aggs.append(F.sum(F.when(is_base, m_d)).alias(f"sb{d}"))
        stat_aggs.append(F.sum(m_d).alias(f"sf{d}"))
    st = b.agg(*stat_aggs)

    def cell(n_col: str, s_prefix: str):
        bits = [
            F.when(
                F.col("mv")[d] * F.col(n_col) > F.col(f"{s_prefix}{d}"),
                F.lit(1 << d),
            ).otherwise(F.lit(0))
            for d in range(_QA_DIMS)
        ]
        out = bits[0]
        for x in bits[1:]:
            out = out + x
        return out.cast("long")

    cells = b.crossJoin(F.broadcast(st)).select(
        is_base.alias("is_base"),
        cell("n_b", "sb").alias("cell_b"),
        cell("n_f", "sf").alias("cell_f"),
    )
    occ = cells.groupBy("cell_b").agg(
        F.count(F.when(F.col("is_base"), F.lit(1))).alias("nb"),
        F.count(F.when(~F.col("is_base"), F.lit(1))).alias("ni"),
        F.count(
            F.when(
                F.col("is_base") & (F.col("cell_b") != F.col("cell_f")),
                F.lit(1),
            )
        ).alias("moved"),
    )
    o = occ.agg(
        F.count(F.when(F.col("nb") > 0, F.lit(1))).alias("cells_base"),
        F.count(F.lit(1)).alias("cells_after"),
        F.count(F.when(F.col("nb") == 0, F.lit(1))).alias("cells_created"),
        F.sum(F.when(F.col("nb") > 0, F.col("ni")).otherwise(F.lit(0))).alias(
            "inc_into_existing"
        ),
        F.sum("moved").alias("n_base_moved"),
    )
    shift = F.greatest(
        *[
            F.abs(
                F.expr(f"(sf{d} + n_f * {_QA_OFF}L) div n_f")
                - F.expr(f"(sb{d} + n_b * {_QA_OFF}L) div n_b")
            )
            for d in range(_QA_DIMS)
        ]
    )
    return st.crossJoin(F.broadcast(o)).select(
        F.col("n_b").alias("n_base"),
        (F.col("n_f") - F.col("n_b")).alias("n_inc"),
        "n_base_moved",
        F.expr("n_base_moved * 1000000 div n_b").alias("moved_ppm"),
        shift.alias("max_mean_shift_micro"),
        "cells_base",
        "cells_after",
        "cells_created",
        "inc_into_existing",
    )


# ------------------------------------------------- §2.13 dim truncation
#: Matryoshka-style truncation audit knobs: prefix widths swept, the
#: fixed probe cohort (first EMB_TRUNC_PROBES vec_ids — the
#: similarity_topk_cosine cohort convention), and the top-k depth.
EMB_TRUNC_WIDTHS = (8, 16, 32, 64)
EMB_TRUNC_PROBES = 8
EMB_TRUNC_K = 5


def _emb_trunc_oracle() -> str:
    widths = ", ".join(f"({w})" for w in EMB_TRUNC_WIDTHS)
    return f"""
    WITH base AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS vm
      FROM embeddings),
    vml AS MATERIALIZED (
      SELECT vec_id, i, vm[i] AS vmic
      FROM base CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) r),
    widths AS MATERIALIZED (
      SELECT * FROM (VALUES {widths}) AS t(w)),
    energy AS MATERIALIZED (
      SELECT w, CAST(SUM(CASE WHEN i <= w THEN vmic * vmic ELSE 0 END)
                     AS BIGINT) AS e
      FROM vml CROSS JOIN widths GROUP BY 1),
    etot AS (SELECT e AS et FROM energy WHERE w = 64),
    pairs AS MATERIALIZED (
      SELECT q.vec_id AS q_id, c.vec_id AS v_id, widths.w,
             CAST(SUM(CASE WHEN q.i <= widths.w
                           THEN q.vmic * c.vmic ELSE 0 END) AS BIGINT) AS dp,
             CAST(SUM(CASE WHEN q.i <= widths.w
                           THEN q.vmic * q.vmic ELSE 0 END) AS BIGINT) AS qq,
             CAST(SUM(CASE WHEN q.i <= widths.w
                           THEN c.vmic * c.vmic ELSE 0 END) AS BIGINT) AS vv
      FROM vml q JOIN vml c ON q.i = c.i AND c.vec_id != q.vec_id
      CROSS JOIN widths
      WHERE q.vec_id < {EMB_TRUNC_PROBES}
      GROUP BY 1, 2, 3),
    top5 AS MATERIALIZED (
      SELECT w, q_id, v_id FROM (
        SELECT w, q_id, v_id,
               ROW_NUMBER() OVER (
                 PARTITION BY w, q_id
                 ORDER BY CASE WHEN qq = 0 OR vv = 0 THEN -2.0
                               ELSE CAST(dp AS DOUBLE)
                                    / (sqrt(CAST(qq AS DOUBLE))
                                       * sqrt(CAST(vv AS DOUBLE))) END DESC,
                          v_id) AS rn
        FROM pairs
      ) WHERE rn <= {EMB_TRUNC_K}),
    truth AS MATERIALIZED (
      SELECT q_id, v_id FROM top5 WHERE w = 64),
    tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS truth_k FROM truth),
    ov AS (
      SELECT a.w, CAST(COUNT(t.v_id) AS BIGINT) AS topk_hits
      FROM top5 a LEFT JOIN truth t
        ON t.q_id = a.q_id AND t.v_id = a.v_id
      GROUP BY 1)
    SELECT en.w AS width, en.e AS energy,
           ROUND(CAST(en.e AS DOUBLE) / CAST(etot.et AS DOUBLE), 6)
             AS energy_frac,
           ov.topk_hits, tn.truth_k,
           ROUND(CAST(ov.topk_hits AS DOUBLE) / tn.truth_k, 6)
             AS topk_overlap_frac
    FROM energy en, etot, tn
    JOIN ov ON ov.w = en.w
    ORDER BY en.w
    """


@query("embedding_dim_truncation_audit", oracle=_emb_trunc_oracle())
def embedding_dim_truncation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMBEDDING DIMENSION-TRUNCATION (MATRYOSHKA) AUDIT — extends the
    embeddings family (quant-bits sweep, int8 audit) with the OTHER
    compression axis a 100 TB vector pipeline prices before shipping:
    keep only the first w dimensions.  For each prefix width in
    {EMB_TRUNC_WIDTHS}: the exact energy retained (Σ over the corpus of
    the first-w squared micro-units — int64-exact in both engines, the
    fraction one deterministic IEEE division), and the retrieval cost:
    top-{EMB_TRUNC_K} cosine neighbors of the {EMB_TRUNC_PROBES}-probe
    cohort under truncated dimensions, overlapped against the full-width
    truth (the w=64 arm overlaps itself — a built-in 1.0 pin; random
    8-dim prefixes on this corpus land well below it, the measured
    argument that energy alone overstates truncation quality).

    Determinism contract (the signlsh/int64-micros rule family):
    micro-unit values round(x·1e6) are int64; every dot/norm is an
    exact int64 conditional sum (max |Σ| « 2^63; products ≤ 1e12);
    cosine = one cast-sqrt-multiply-divide chain of correctly-rounded
    IEEE ops on exact integers — bit-identical across engines — with a
    -2.0 sentinel for zero-norm prefixes so ordering never sees NaN;
    ranking ties break by neighbor id.  Scale shape: the probe cohort
    is a broadcast {EMB_TRUNC_PROBES}×64 sliver joined once against the
    exploded corpus (one linear scan, groupBy (q, v) with ALL widths as
    conditional sums in a single aggregate — the zero-extra-shuffle
    sweep idiom), then a per-(width, probe) top-k window over
    O(probes·corpus) scored pairs; energies ride the same exploded
    frame in one conditional agg."""
    base = _emb_base_cached(spark, sf_dir)
    vml = base.select(
        "vec_id", F.posexplode("emb").alias("i0", "v")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("v") * 1000000).cast("long").alias("vmic"),
    ).localCheckpoint(eager=False)  # consumed by energy + both join sides
    en = (
        vml.agg(
            *[
                F.sum(
                    F.when(
                        F.col("i") <= w, F.col("vmic") * F.col("vmic")
                    ).otherwise(F.lit(0))
                ).alias(f"e{w}")
                for w in EMB_TRUNC_WIDTHS
            ]
        )
        .selectExpr(
            "stack("
            + str(len(EMB_TRUNC_WIDTHS))
            + ", "
            + ", ".join(f"{w}L, e{w}" for w in EMB_TRUNC_WIDTHS)
            + ") AS (w, e)",
            # lazy exactness guard (the ADVICE r13 binseg rule, applied at
            # birth): a non-ANSI session would wrap the int64 energy sum
            # SILENTLY past ~1.4M vectors (n·64·~1e12 per term) — assert
            # the bound in-plan (null on success, folds into et as +0)
            "e64 + coalesce(cast(assert_true("
            f"e64 <= {2**62}, "
            "'embedding_dim_truncation_audit: corpus energy exceeds the "
            "int64 window; rescale micros') AS BIGINT), 0L) AS et",
        )
    )
    q = vml.where(F.col("vec_id") < EMB_TRUNC_PROBES).select(
        F.col("vec_id").alias("q_id"),
        F.col("i").alias("qi"),
        F.col("vmic").alias("qmic"),
    )
    pairs = (
        vml.join(F.broadcast(q), (F.col("i") == F.col("qi"))
                 & (F.col("vec_id") != F.col("q_id")))
        .groupBy("q_id", F.col("vec_id").alias("v_id"))
        .agg(
            *[
                agg
                for w in EMB_TRUNC_WIDTHS
                for agg in (
                    F.sum(
                        F.when(
                            F.col("i") <= w,
                            F.col("qmic") * F.col("vmic"),
                        ).otherwise(F.lit(0))
                    ).alias(f"dp{w}"),
                    F.sum(
                        F.when(
                            F.col("i") <= w,
                            F.col("qmic") * F.col("qmic"),
                        ).otherwise(F.lit(0))
                    ).alias(f"qq{w}"),
                    F.sum(
                        F.when(
                            F.col("i") <= w,
                            F.col("vmic") * F.col("vmic"),
                        ).otherwise(F.lit(0))
                    ).alias(f"vv{w}"),
                )
            ]
        )
    )
    scored = pairs.selectExpr(
        "q_id",
        "v_id",
        "stack("
        + str(len(EMB_TRUNC_WIDTHS))
        + ", "
        + ", ".join(
            f"{w}L, dp{w}, qq{w}, vv{w}" for w in EMB_TRUNC_WIDTHS
        )
        + ") AS (w, dp, qq, vv)",
    ).select(
        "w", "q_id", "v_id",
        F.when(
            (F.col("qq") == 0) | (F.col("vv") == 0), F.lit(-2.0)
        )
        .otherwise(
            F.col("dp").cast("double")
            / (
                F.sqrt(F.col("qq").cast("double"))
                * F.sqrt(F.col("vv").cast("double"))
            )
        )
        .alias("cos"),
    )
    win = Window.partitionBy("w", "q_id").orderBy(
        F.desc("cos"), F.asc("v_id")
    )
    top5 = (
        scored.select(
            "w", "q_id", "v_id", F.row_number().over(win).alias("rn")
        )
        .where(F.col("rn") <= EMB_TRUNC_K)
        .select("w", "q_id", "v_id")
        .localCheckpoint(eager=False)  # truth + all arms read it
    )
    truth = top5.where(F.col("w") == 64).select(
        F.col("q_id").alias("t_q"), F.col("v_id").alias("t_v")
    )
    tn = truth.agg(F.count(F.lit(1)).alias("truth_k"))
    ov = (
        top5.join(
            F.broadcast(truth),
            (F.col("q_id") == F.col("t_q")) & (F.col("v_id") == F.col("t_v")),
            "left",
        )
        .groupBy("w")
        .agg(F.count(F.col("t_v")).alias("topk_hits"))
    )
    return (
        en.join(F.broadcast(ov), "w")
        .crossJoin(F.broadcast(tn))
        .select(
            F.col("w").alias("width"),
            F.col("e").alias("energy"),
            F.round(
                F.col("e").cast("double") / F.col("et").cast("double"), 6
            ).alias("energy_frac"),
            "topk_hits",
            "truth_k",
            F.round(
                F.col("topk_hits").cast("double") / F.col("truth_k"), 6
            ).alias("topk_overlap_frac"),
        )
        .repartition(1)
        .sortWithinPartitions("width")
    )
