"""Property tests for near-dup pipelines: recall/precision vs brute-force
ground truth, with planted near-duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from paraslice_spark.operators.similarity import minhash_near_dup_pairs, shingle_docs
from paraslice_spark.sources.io import load_tables
from tests.conftest import SF_SMALL


def _brute_force_pairs(docs, threshold=0.8):
    """Ground truth: exact shingle-Jaccard over the full cross product."""
    sh = shingle_docs(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return {
        (r["doc_a"], r["doc_b"])
        for r in a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(inter / union >= threshold)
        .collect()
    }


def _planted(spark):
    """20 fixture docs + 3 near-duplicate copies (one word appended)."""
    base = (
        load_tables(spark, SF_SMALL)["documents"]
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(20)
    )
    dups = base.where(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extrat")).alias("text"),
    )
    return base.unionByName(dups)


def test_minhash_matches_brute_force_on_planted(spark):
    docs = _planted(spark).cache()
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_near_dup_pairs(docs, 0.8).collect()}
    want = _brute_force_pairs(docs, 0.8)
    assert {(0, 10000), (1, 10001), (2, 10002)} <= want  # plants are real dups
    # exact-verify step ⇒ precision 1.0; banded LSH ⇒ recall vs ground truth
    assert got <= want
    assert len(got) >= len(want) - 0, (got, want)  # full recall on this corpus


def test_embedding_neardup_finds_planted_pairs(spark):
    from paraslice_spark.operators.similarity import embedding_near_dup_pairs

    base = load_tables(spark, SF_SMALL)["embeddings"].limit(50).cache()
    try:
        # plant 5 exact-duplicate vectors under new ids (cos = 1.0)
        dups = base.where(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
        )
        emb = base.unionByName(dups)
        pairs = {(r["vec_a"], r["vec_b"]) for r in embedding_near_dup_pairs(emb, 0.9).collect()}
        assert {(i, i + 10000) for i in range(5)} <= pairs, pairs
        # random 64-dim vectors are near-orthogonal: no spurious cos>=0.9 pairs
        assert pairs == {(i, i + 10000) for i in range(5)}, pairs
    finally:
        base.unpersist()


def test_ivf_ann_finds_planted_near_duplicates(spark, tmp_path):
    """IVF recall on planted near-identical vectors: a copy of each query
    vector (tiny noise) must land in the query's probed cells and win the
    exact re-rank at cos ≈ 1."""
    import numpy as np

    from paraslice_spark.operators.similarity import similarity_ivf_ann

    base = load_tables(spark, SF_SMALL)["embeddings"]
    rows = base.where(F.col("vec_id") < 5).collect()
    rng = np.random.default_rng(7)
    planted = [
        (
            int(r["vec_id"]) + 10000,
            [float(x) + float(e) for x, e in
             zip(r["embedding"], rng.normal(0, 1e-3, len(r["embedding"])))],
            r["label"],
        )
        for r in rows
    ]
    aug = base.select(
        "vec_id", _f_to_double("embedding").alias("embedding"), "label"
    ).unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>, label string")
    )
    # run the declared query against a dir where only `embeddings` differs
    # (load_tables reads every fixture table, so link the rest across)
    import os

    from paraslice_spark.sources.io import TABLES

    sfdir = str(tmp_path / "sf_aug")
    os.makedirs(sfdir)
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_SMALL}/{t}.parquet", f"{sfdir}/{t}.parquet")
    aug.coalesce(1).write.parquet(f"{sfdir}/embeddings.parquet")
    got = similarity_ivf_ann(spark, sfdir).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["neighbor_id"], r["cos"]))
    for q in range(5):
        top = sorted(by_q[q], key=lambda t: -t[1])[0]
        assert top[0] == q + 10000 and top[1] >= 0.999, (q, by_q[q])
        assert len(by_q[q]) <= 5


def _f_to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def test_minhash_matches_brute_force_on_fixtures(spark):
    # .cache() registers the raw documents scan in the session's cache
    # manager, which would silently substitute InMemoryRelation into EVERY
    # later plan containing that scan (breaking pushdown plan assertions in
    # any test order where this runs first) — always unpersist on the way out
    docs = load_tables(spark, SF_SMALL)["documents"].cache()
    try:
        got = {(r["doc_a"], r["doc_b"]) for r in minhash_near_dup_pairs(docs, 0.8).collect()}
        want = _brute_force_pairs(docs, 0.8)
        assert got == want, (got ^ want)
    finally:
        docs.unpersist()


def test_ivfpq_ann_finds_planted_near_duplicates(spark, tmp_path):
    """IVF-PQ recall on planted near-identical vectors: the copy shares the
    query's cell, its residual PQ codes are (near-)identical, so ADC puts it
    at the top of the shortlist and the exact re-rank scores it cos ≈ 1."""
    import numpy as np

    from paraslice_spark.operators.similarity import similarity_ivfpq_ann

    base = load_tables(spark, SF_SMALL)["embeddings"]
    rows = base.where(F.col("vec_id") < 5).collect()
    rng = np.random.default_rng(11)
    planted = [
        (
            int(r["vec_id"]) + 10000,
            [float(x) + float(e) for x, e in
             zip(r["embedding"], rng.normal(0, 1e-3, len(r["embedding"])))],
            r["label"],
        )
        for r in rows
    ]
    aug = base.select(
        "vec_id", _f_to_double("embedding").alias("embedding"), "label"
    ).unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>, label string")
    )
    import os

    from paraslice_spark.sources.io import TABLES

    sfdir = str(tmp_path / "sf_aug_pq")
    os.makedirs(sfdir)
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_SMALL}/{t}.parquet", f"{sfdir}/{t}.parquet")
    aug.coalesce(1).write.parquet(f"{sfdir}/embeddings.parquet")
    got = similarity_ivfpq_ann(spark, sfdir).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["neighbor_id"], r["cos"]))
    for q in range(5):
        top = sorted(by_q[q], key=lambda t: -t[1])[0]
        assert top[0] == q + 10000 and top[1] >= 0.999, (q, by_q[q])
        assert len(by_q[q]) <= 5


def test_knn_graph_survives_zero_norm_embedding(spark, tmp_path):
    """ADVICE r5 guard: an all-zero embedding must keep its k neighbor rows
    (cos = 0 against everything) instead of silently vanishing via NaN
    propagation in the tile top-k kernel."""
    import math
    import os

    from paraslice_spark.operators.similarity import _KNN_K
    from paraslice_spark.registry import QUERIES
    from paraslice_spark.sources.io import TABLES

    base = load_tables(spark, SF_SMALL)["embeddings"]
    dim = len(base.first()["embedding"])
    zeroed = base.select(
        "vec_id",
        F.when(
            F.col("vec_id") == 0,
            F.array(*[F.lit(0.0).cast("float") for _ in range(dim)]),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    )
    sfdir = str(tmp_path / "sf_zero_pq")
    os.makedirs(sfdir)
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_SMALL}/{t}.parquet", f"{sfdir}/{t}.parquet")
    zeroed.coalesce(1).write.parquet(f"{sfdir}/embeddings.parquet")
    got = QUERIES["similarity_knn_graph"](spark, sfdir).collect()
    mine = [r for r in got if r["vec_id"] == 0]
    assert len(mine) == _KNN_K, mine  # row not dropped
    assert all(math.isfinite(r["cos"]) and abs(r["cos"]) < 1e-9 for r in mine), mine


def test_signlsh_ann_finds_planted_near_duplicates(spark):
    """Recall property for the hash-oracled sign-LSH ANN: an exact copy of
    each query vector shares every signature band with it, so it MUST
    surface as the top-1 neighbor at cos = 1.0."""
    from paraslice_spark.operators.similarity import signlsh_ann

    base = load_tables(spark, SF_SMALL)["embeddings"]
    dups = base.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    out = signlsh_ann(base.unionByName(dups)).collect()
    top1 = {}
    for r in out:
        if r["q_id"] not in top1 or r["cos"] > top1[r["q_id"]][1]:
            top1[r["q_id"]] = (r["neighbor_id"], r["cos"])
    for q in range(5):
        nid, cos = top1[q]
        assert nid == q + 10000 and cos == 1.0, (q, top1[q])


def test_knn_graph_invariant_to_block_count(spark, monkeypatch):
    """The declared kNN result must be identical for any tile-grid size —
    B is a pure physical knob (the 100 TB scaling lever); if changing it
    moved a declared value, the margin/rounding analysis would be wrong."""
    import paraslice_spark.operators.similarity as sim

    base = sim._knn_graph(spark, SF_SMALL)
    rows_8 = {tuple(r) for r in base.collect()}
    monkeypatch.setattr(sim, "_KNN_BLOCKS", 3)
    rows_3 = {tuple(r) for r in sim._knn_graph(spark, SF_SMALL).collect()}
    assert rows_8 == rows_3 and rows_8


def test_signlsh_ann_invariant_to_partitioning(spark):
    """Sign-LSH output is a pure function of the data: repartitioning the
    input must not move a single declared row (integer signatures + exact
    int dots leave no accumulation-order freedom)."""
    from paraslice_spark.operators.similarity import signlsh_ann

    e = load_tables(spark, SF_SMALL)["embeddings"]
    a = {tuple(r) for r in signlsh_ann(e).collect()}
    b = {tuple(r) for r in signlsh_ann(e.repartition(17)).collect()}
    assert a == b and a


def test_ann_recall_audit_floors_and_contract(spark):
    """similarity_ann_recall (VERDICT r7 #4): the audit table carries one
    row per ANN path with an exact truth denominator (|Q| x k), hit counts
    bounded by it, and per-method recall floors measured on this fixture
    (sf0.001: ivf 0.73 / ivfpq 0.67 / lsh 0.93 — floors set well below so
    the test pins the contract, not the noise)."""
    from paraslice_spark.operators.similarity import _KNN_K, _N_QUERIES
    from paraslice_spark.registry import QUERIES

    rows = {
        r["method"]: r
        for r in QUERIES["similarity_ann_recall"](spark, SF_SMALL).collect()
    }
    assert set(rows) == {"ivf", "ivfpq", "lsh"}
    floors = {"ivf": 0.4, "ivfpq": 0.25, "lsh": 0.6}
    for m, r in rows.items():
        assert r["k"] == _KNN_K
        assert r["n_truth"] == _N_QUERIES * _KNN_K
        assert 0 <= r["n_hits"] <= r["n_truth"]
        assert abs(r["recall"] - r["n_hits"] / r["n_truth"]) < 1e-6
        assert r["recall"] >= floors[m], (m, r["recall"])


def test_ann_recall_default_cohort_never_builds_knn_graph(spark, monkeypatch):
    """Cohort truth is the DEFAULT (VERDICT r12 #2): with the env UNSET the
    cosine truth comes from one broadcast-cohort corpus scan —
    STRUCTURALLY never the O(n²) exact k-NN graph (its builder is
    monkeypatched to raise) — and matches the opt-back graph path
    (PARASLICE_ANN_RECALL_COHORT=0) row-for-row."""
    import paraslice_spark.operators.similarity as sim
    from paraslice_spark.registry import QUERIES

    monkeypatch.setenv(sim._ANN_COHORT_ENV, "0")  # legacy graph truth
    want = sorted(
        tuple(r)
        for r in QUERIES["similarity_ann_recall"](spark, SF_SMALL).collect()
    )
    monkeypatch.delenv(sim._ANN_COHORT_ENV)

    def boom(*a, **k):  # the full-graph path must be unreachable
        raise AssertionError("default path built the O(n²) kNN graph")

    monkeypatch.setattr(sim, "_knn_graph_cached", boom)
    df = QUERIES["similarity_ann_recall"](spark, SF_SMALL)
    got = sorted(tuple(r) for r in df.collect())
    assert got == want and got


def test_ann_recall_default_plan_has_no_pair_join(spark, monkeypatch):
    """The DEFAULT plan's only corpus-wide join shape is a
    BroadcastNestedLoopJoin of the corpus scan against the broadcast
    cohort — no tile-matmul MapInPandas, no CartesianProduct (the
    'bounded queries × full corpus = linear' claim, plan-asserted with
    the env unset, i.e. exactly what a 100 TB run gets)."""
    import paraslice_spark.operators.similarity as sim
    from paraslice_spark.registry import QUERIES
    from tests.test_plans import plan

    monkeypatch.setattr(
        sim, "_knn_graph_cached",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("graph built")),
    )
    monkeypatch.delenv(sim._ANN_COHORT_ENV, raising=False)
    p = plan(QUERIES["similarity_ann_recall"](spark, SF_SMALL))
    assert "MapInPandas" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p
    # a shrunken cohort keeps the same linear shape
    monkeypatch.setenv(sim._ANN_COHORT_ENV, "3")
    p = plan(QUERIES["similarity_ann_recall"](spark, SF_SMALL))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" in p, p


def test_emb_base_partitions_scale_adaptive(spark, tmp_path):
    """r16: the embeddings base repartitions by footer row count (~2000
    rows/partition, capped at shuffle partitions) so the Arrow kernel
    stages parallelize on big corpora; at the fixture SFs the count is 1
    and the plan stays byte-identical to the pre-r16 shape."""
    from paraslice_spark.operators.similarity import _emb_base_partitions

    import pyarrow as pa
    import pyarrow.parquet as pq

    assert _emb_base_partitions(spark, SF_SMALL) == 1
    assert _emb_base_partitions(spark, "/root/testdata/sf0.1") == 1
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # a 6k-row single-file corpus targets 3 partitions — strictly between 1
    # and the test cap (8), so this cannot be satisfied by the fallback
    pq.write_table(
        pa.table({"vec_id": list(range(6000))}),
        str(tmp_path / "embeddings.parquet"),
    )
    assert _emb_base_partitions(spark, str(tmp_path)) == 3 != cap
    # a corpus past the cap clamps to it
    pq.write_table(
        pa.table({"vec_id": list(range(2000 * (cap + 5)))}),
        str(tmp_path / "embeddings.parquet"),
    )
    assert _emb_base_partitions(spark, str(tmp_path)) == cap
    # an unreadable footer (missing file, or not parquet) falls back to 1,
    # never raises: the caller then keeps its plan unspread
    assert _emb_base_partitions(spark, str(tmp_path / "missing")) == 1
    (tmp_path / "embeddings.parquet").write_bytes(b"not a parquet file")
    assert _emb_base_partitions(spark, str(tmp_path)) == 1
