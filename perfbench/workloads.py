"""Workload definitions: what each benchmark workload runs and at what size.

Imported by both the benchmark driver and the input generator, so it must
stay free of Spark imports.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

#: TPC-H-shaped flagship queries (operators/flagship.py): q6 is a pure
#: scan-filter-aggregate, q5 joins six tables, q18 aggregates lineitem per
#: order before its join, and q21 adds EXISTS / NOT EXISTS self-joins.  No
#: Python UDF and no memo runs in them.
TPCH_QUERIES = (
    "q5_local_supplier_volume", "q6_forecast_revenue", "q18_large_orders",
    "q21_waiting_suppliers",
)

#: LLM-data-pipeline queries.  dedup_ngram_jaccard and text_decontaminate
#: each pay for a memo (n-gram pairs, decontamination pairs); the emb_base
#: memo has two consumers, so whichever of dedup_embedding_cosine and
#: similarity_topk_cosine runs second in a pass should hit it; the two UDF
#: queries start Python workers on every execution.
PIPELINE_QUERIES = (
    "dedup_ngram_jaccard", "text_decontaminate", "dedup_embedding_cosine",
    "similarity_topk_cosine", "udf_grouped_map", "udf_scalar_py",
)


@dataclass(frozen=True)
class Spec:
    name: str
    kind: str  # "queries" or "tensor"
    sf: float = 0.0
    queries: tuple[str, ...] = ()
    shape: tuple[int, int, int] = (0, 0, 0)
    rank: int = 5
    iters: int = 2

    @property
    def data_key(self) -> str:
        if self.kind == "queries":
            return f"corpus-sf{self.sf:g}"
        return "tensor-{}x{}x{}-r{}".format(*self.shape, self.rank)


WORKLOADS = {
    s.name: s
    for s in (
        Spec(
            name="queries_sf0.02",
            kind="queries",
            sf=0.02,
            queries=TPCH_QUERIES + PIPELINE_QUERIES,
        ),
        Spec(
            name="cp_als_dense",
            kind="tensor",
            shape=(1000, 16, 32),
            rank=5,
            iters=2,
        ),
    )
}

#: Self-test sizes: the same workloads at sf0.001 and on a ~10^4-cell tensor.
TINY = {"queries": {"sf": 0.001}, "tensor": {"shape": (20, 16, 32)}}


def spec(name: str, scale: str = "full") -> Spec:
    s = WORKLOADS[name]
    return replace(s, **TINY[s.kind]) if scale == "tiny" else s
