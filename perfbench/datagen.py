"""Seeded input generation for the benchmark.

Everything the engine reads in a benchmark run is made here from the
workload's seed and scale, written under the checkout's ``.perfbench_data/``
and reused by later runs with the same seed:

- a fixture-shaped star-schema corpus (region, nation, customer, supplier,
  part, orders, lineitem, events, documents, embeddings; one parquet file
  per table, same column names and types as the repo's test fixtures);
- for tensor workloads, a dense planted rank-R CP tensor written as
  ``(i, j, k, v)`` parquet plus the dense array for the numpy fit check;
- the expected canonical rows of every checked query, computed once from
  its DuckDB oracle twin with the repo's ``tests/oracle_harness`` rules.

Run as a child process (``python3 perfbench/datagen.py <workload> <seed>
[--scale tiny]``) so its memory never counts towards the benchmark
driver's peak RSS.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

DATA_ROOT = os.path.join(ROOT, ".perfbench_data")

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "fr", "de", "es")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def data_dir(spec: workloads.Spec, seed: int) -> str:
    return os.path.join(DATA_ROOT, f"{spec.data_key}-seed{seed}")


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int)) + 1
    days = lo_d + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; about one in twenty is a near-duplicate of an
    earlier one (two words changed, ``dup`` inserted) so every dedup
    family has pairs to find."""
    texts: list[str] = []
    for d in range(n):
        if d > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, d))].split(" ")
            for pos in rng.integers(0, len(words), 2):
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    lang = rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(LANGS, lang),
        "source": pa.array([f"src{d % 20}" for d in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors with a weak per-label direction; about one in fifty is
    a slightly perturbed copy of an earlier vector (near-duplicates)."""
    label = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vec = rng.standard_normal((n, dim)) / np.sqrt(dim) + 0.07 * centers[label]
    dups = np.flatnonzero(rng.random(n) < 0.02)
    dups = dups[dups > 0]
    src = (rng.random(len(dups)) * dups).astype(np.int64)
    vec[dups] = vec[src] + 0.01 * rng.standard_normal((len(dups), dim)) / np.sqrt(dim)
    label[dups] = label[src]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vec.ravel(), type=pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": emb,
        "label": pa.array(label.astype(np.int32)),
    })


def corpus(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.1 has 600k
    lineitem rows), drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, type=pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], type=pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part)
    names = np.asarray([f"{a} {b}" for a in ADJECTIVES for b in NOUNS], dtype=object)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, type=pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], type=pa.string()),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
            type=pa.string(),
        ),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": _pick(("F", "O", "P"), rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(("A", "N", "R"), rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(("F", "O"), rng.integers(0, 2, n_line)),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], type=pa.string()),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


#: Seed of the planted CP model.  CP-ALS from the benchmark's fixed
#: initialisation reaches fit 0.99 on this model in two sweeps at both the
#: full and the tiny shape; most other models stall in a local minimum
#: (fit 0.4-0.9), which would make the fit floor depend on the seed.
MODEL_SEED = 7


def planted_tensor(shape: tuple[int, int, int], rank: int, seed: int) -> np.ndarray:
    """Dense rank-``rank`` CP tensor plus 1 % Gaussian noise.  The model
    (factors with orthonormal mode-1 and mode-2 columns and distinct
    weights) is fixed; ``seed`` draws the mode-0 row order and the noise."""
    model = np.random.default_rng(MODEL_SEED)
    si, sj, sk = shape
    a = model.standard_normal((si, rank)) * np.linspace(2.0, 1.0, rank)
    b = np.linalg.qr(model.standard_normal((sj, rank)))[0]
    c = np.linalg.qr(model.standard_normal((sk, rank)))[0]
    rng = np.random.default_rng(seed)
    x = np.einsum("ir,jr,kr->ijk", a[rng.permutation(si)], b, c)
    x += 0.01 * x.std() * rng.standard_normal(x.shape)
    return x


def _expected_rows(spec: workloads.Spec, out: str) -> dict[str, dict]:
    import paraslice_spark.operators  # noqa: F401  (registers the queries)
    from paraslice_spark.registry import ORACLES
    from tests.oracle_harness import canonical_rows, duck_con

    expected = {}
    with duck_con(out) as con:
        for name in spec.queries:
            if name in ORACLES:
                cols, rows = canonical_rows(con.sql(ORACLES[name]).fetchdf())
                expected[name] = {"cols": cols, "rows": [list(r) for r in rows]}
    return expected


def expected_path(spec: workloads.Spec, seed: int) -> str:
    """Expected rows are per workload: two workloads can share a corpus."""
    return os.path.join(data_dir(spec, seed), f"expected-{spec.name}.json")


def generate(spec: workloads.Spec, seed: int) -> str:
    """Write the inputs for (spec, seed) unless already complete; return
    the directory.  ``meta.json`` is written last and marks a complete
    corpus or tensor; the expected-rows file is written atomically."""
    out = data_dir(spec, seed)
    if not os.path.exists(os.path.join(out, "meta.json")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        meta: dict = {"seed": seed, "tables": {}}
        if spec.kind == "queries":
            for name, tbl in corpus(spec.sf, seed).items():
                path = os.path.join(out, f"{name}.parquet")
                pq.write_table(tbl, path)
                meta["tables"][name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
        else:
            x = planted_tensor(spec.shape, spec.rank, seed)
            np.save(os.path.join(out, "tensor.npy"), x)
            i, j, k = (a.ravel().astype(np.int32) for a in np.indices(x.shape))
            path = os.path.join(out, "coords.parquet")
            pq.write_table(pa.table({"i": i, "j": j, "k": k, "v": x.ravel()}), path)
            meta["tables"]["coords"] = {"rows": int(x.size), "bytes": os.path.getsize(path)}
            meta["shape"] = list(spec.shape)
        _write_json(os.path.join(out, "meta.json"), meta)
    if spec.kind == "queries" and not os.path.exists(expected_path(spec, seed)):
        _write_json(expected_path(spec, seed), _expected_rows(spec, out))
    return out


def _write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".tmp", path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("seed", type=int)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    print(generate(workloads.spec(args.workload, args.scale), args.seed))


if __name__ == "__main__":
    main()
