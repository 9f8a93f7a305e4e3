"""Per-layer metrics of a traced run, named after the repo's modules.

Each metric is a per-pass value: the first pass where the name says so,
otherwise the median over the traced warm passes.  What each layer should
move (end-to-end metric, workload):

- ``session``: ``setup_s`` on both workloads;
- ``sources``: ``warm_pass_s`` and ``query_p90_s`` on queries (the TPC-H
  joins scan most of the bytes); ``setup_s`` on cp_als_dense;
- ``operators`` construct time and jobs: ``first_pass_s`` on queries
  (memo builds); ``warm_construct_jobs`` is 0 when every memo hits;
- ``functions`` (Python workers): ``first_pass_s`` and ``warm_pass_s`` on
  queries; 0 on cp_als_dense, whose Python work runs on the RDD path;
- ``spark`` floor counts (stages, tasks, idle cores) and compute/shuffle:
  ``warm_pass_s`` on both;
- ``tensor``: ``first_pass_s``, ``warm_pass_s`` and ``jvm_peak_rss_mb`` on
  cp_als_dense only.
"""

from __future__ import annotations

import statistics
from collections import Counter

MODULES = (
    "operators.flagship", "operators.similarity", "operators.text",
    "functions.udfs", "operators.tensor",
)
MB = 2.0**20

#: Every per-layer metric of the report, with its unit.
UNITS = {
    "session.get_session_s": "s",
    "sources.load_tables_s": "s",
    "sources.files_read_mb": "MB",
    "sources.scan_rows": "count",
    "sources.scan_metadata_s": "s",
    "sources.single_task_scan_stages": "count",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.warm_construct_s": "s",
    "operators.warm_construct_jobs": "count",
    **{f"{m}.construct_s": "s" for m in MODULES},
    "functions.py_start_s": "s",
    "functions.py_init_s": "s",
    "functions.py_run_s": "s",
    "functions.py_sent_mb": "MB",
    "functions.py_returned_mb": "MB",
    "functions.first_pass_py_start_s": "s",
    "functions.first_pass_py_init_s": "s",
    "functions.first_pass_py_run_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.deserialize_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.idle_core_frac": "fraction",
    "spark.first_pass_jobs": "count",
    "spark.first_pass_stages": "count",
    "spark.first_pass_executor_run_s": "s",
    "spark.first_pass_idle_core_frac": "fraction",
    "tensor.slab_build_s": "s",
    "tensor.jobs_per_iter": "count",
    "tensor.tasks_per_iter": "count",
    "tensor.iter_executor_run_s": "s",
    "tensor.iter_python_s": "s",
    "tensor.als_iter_s": "s",
    "tensor.als_iter_dist_s": "s",
    "trace.overhead_s": "s",
}

#: The per-layer metrics of the result line (BENCHMARK.json's per_layer).
#: Every workload emits each of them, so a time that is 0 by construction on
#: some workload (Python-worker time on tpch, ALS time off cp_als_dense,
#: time that Spark reports as 0 here) stays in the report only.
RESULT = (
    "session.get_session_s", "sources.load_tables_s", "sources.files_read_mb",
    "sources.scan_rows", "sources.single_task_scan_stages",
    "operators.construct_s", "operators.construct_jobs",
    "operators.warm_construct_s", "operators.warm_construct_jobs",
    "functions.py_sent_mb", "functions.py_returned_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.deserialize_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.idle_core_frac", "spark.first_pass_jobs", "spark.first_pass_stages",
    "spark.first_pass_executor_run_s", "spark.first_pass_idle_core_frac",
    "tensor.jobs_per_iter", "tensor.tasks_per_iter", "trace.overhead_s",
)


def _counters(rec: dict, phases=("construct", "materialize")) -> Counter:
    c: Counter = Counter()
    for ph in phases:
        c.update(rec.get(ph, {}))
    return c


def _pass_counters(recs: list[dict], phases=("construct", "materialize")) -> Counter:
    c: Counter = Counter()
    for r in recs:
        c.update(_counters(r, phases))
    return c


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def _spark(c: Counter, wall_s: float, cores: int) -> dict:
    run_s = c["run_ms"] / 1e3
    return {
        "jobs": c["jobs"], "stages": c["stages"], "tasks": c["tasks"],
        "failed_tasks": c["failed_tasks"], "executor_run_s": run_s,
        "executor_cpu_s": c["cpu_ns"] / 1e9, "deserialize_s": c["deserialize_ms"] / 1e3,
        "gc_s": c["gc_ms"] / 1e3, "shuffle_write_mb": c["shuffle_write_bytes"] / MB,
        "shuffle_read_mb": c["shuffle_read_bytes"] / MB,
        "shuffle_fetch_wait_s": c["fetch_wait_ms"] / 1e3, "spill_mb": c["spill_bytes"] / MB,
        "idle_core_frac": 1.0 - run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def _per_iter(spec, recs: list[dict], variant: str) -> dict:
    """Per-iteration cost of ``variant``: (fit at N − fit at 1) / (N − 1)."""
    n = spec.iters
    by_op = {r["op"]: r for r in recs}
    hi, lo = by_op.get(f"{variant}@{n}"), by_op.get(f"{variant}@1")
    if hi is None or lo is None or n < 2:
        return {}
    d = _counters(hi)
    d.subtract(_counters(lo))
    return {k: v / (n - 1) for k, v in d.items()}


def layer_metrics(spec, setups, passes, cores: int) -> dict:
    first = passes[0]
    warm_traced = [p for p in passes[1:] if p[0]["traced"]]
    warm_plain = [p for p in passes[1:] if not p[0]["traced"]]
    v: dict[str, float] = {}

    v["session.get_session_s"] = _median(s["get_session_s"] for s in setups)
    v["sources.load_tables_s"] = _median(s["load_s"] for s in setups)

    def warm(fn) -> float:
        return _median(fn(p) for p in warm_traced)

    v["sources.files_read_mb"] = warm(lambda p: _pass_counters(p)["scan_bytes"] / MB)
    v["sources.scan_rows"] = warm(lambda p: _pass_counters(p)["scan_rows"])
    v["sources.scan_metadata_s"] = warm(lambda p: _pass_counters(p)["scan_metadata_ms"] / 1e3)
    v["sources.single_task_scan_stages"] = warm(
        lambda p: _pass_counters(p)["single_task_scan_stages"])

    v["operators.construct_s"] = sum(r.get("construct_s", 0.0) for r in first)
    v["operators.construct_jobs"] = _pass_counters(first, ("construct",))["jobs"]
    v["operators.warm_construct_s"] = warm(lambda p: sum(r.get("construct_s", 0.0) for r in p))
    v["operators.warm_construct_jobs"] = warm(lambda p: _pass_counters(p, ("construct",))["jobs"])
    for m in MODULES:
        v[f"{m}.construct_s"] = sum(r.get("construct_s", 0.0) for r in first if r["module"] == m)

    py = {"py_start_s": ("py_start_ms", 1e3), "py_init_s": ("py_init_ms", 1e3),
          "py_run_s": ("py_run_ms", 1e3), "py_sent_mb": ("py_sent_bytes", MB),
          "py_returned_mb": ("py_returned_bytes", MB)}
    first_c = _pass_counters(first)
    for name, (key, div) in py.items():
        v[f"functions.{name}"] = warm(lambda p, k=key, d=div: _pass_counters(p)[k] / d)
    for name in ("py_start_s", "py_init_s", "py_run_s"):
        key, div = py[name]
        v[f"functions.first_pass_{name}"] = first_c[key] / div

    def wall(p) -> float:
        return sum(r["wall_s"] for r in p)

    for name in _spark(Counter(), 1.0, cores):
        v[f"spark.{name}"] = warm(lambda p, n=name: _spark(_pass_counters(p), wall(p), cores)[n])
    first_spark = _spark(first_c, wall(first), cores)
    for name in ("jobs", "stages", "executor_run_s", "idle_core_frac"):
        v[f"spark.first_pass_{name}"] = first_spark[name]

    v["tensor.slab_build_s"] = _median(
        r["wall_s"] for p in passes[1:] for r in p if r["op"] == "slab_build" and r["ok"])
    it = [_per_iter(spec, p, "parafac") for p in warm_traced]
    it = [d for d in it if d]
    v["tensor.jobs_per_iter"] = _median(d["jobs"] for d in it)
    v["tensor.tasks_per_iter"] = _median(d["tasks"] for d in it)
    v["tensor.iter_executor_run_s"] = _median(d["run_ms"] / 1e3 for d in it)
    v["tensor.iter_python_s"] = _median((d["run_ms"] - d["cpu_ns"] / 1e6) / 1e3 for d in it)

    def fit_s(op: str) -> float:
        return _median(r["wall_s"] for p in passes[1:] for r in p if r["op"] == op and r["ok"])

    if spec.kind == "tensor" and spec.iters > 1:
        for variant, key in (("parafac", "als_iter_s"), ("parafac_distributed", "als_iter_dist_s")):
            hi, lo = fit_s(f"{variant}@{spec.iters}"), fit_s(f"{variant}@1")
            v[f"tensor.{key}"] = (hi - lo) / (spec.iters - 1)
    else:
        v["tensor.als_iter_s"] = v["tensor.als_iter_dist_s"] = 0.0

    v["trace.overhead_s"] = _median(map(wall, warm_traced)) - _median(map(wall, warm_plain))
    return {k: {"value": float(v[k]), "unit": u} for k, u in UNITS.items()}
