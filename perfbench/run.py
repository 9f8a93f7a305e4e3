"""paraslice_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The run

1. generates the workload's inputs from the seed (cached on disk per seed,
   outside every timed region; see ``datagen.py``);
2. sets up ``SETUP_REPS`` times — ``session.get_session`` plus
   ``sources.io.load_tables`` plus one warm-up action — stopping the
   session in between, and keeps the last session;
3. runs a first pass over the workload's operations in a seed-shuffled
   order, then warm passes in the same session (each in a new
   seed-shuffled order) until the warm passes have taken ``--seconds``;
4. checks every output of every execution against its expected value,
   outside the timed region;
5. prints a report line, writes the full report (with spans when traced)
   under ``.perfbench_out/``, and prints the result as the last stdout line.

Load model: a closed loop with one client — one Python process with one
operation in flight — on ``local[nproc]``.  The package is driven only
through its public functions and timed from outside.

With ``--trace 1`` the first pass and every second warm pass are traced,
the result carries the per-layer metrics (``layers.py``), and the tracing
overhead is the traced minus the untraced warm-pass time.

An operation that raises or returns a wrong result counts as failed: it
counts in ``fail_frac``, the pass it belongs to gives no pass time, the
result says ``"correct": false`` and the exit code is 1.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

import layers
import workloads
from datagen import data_dir, expected_path
from ops import failing_op, query_ops, tensor_ops
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
TMP_DIR = os.path.join(ROOT, ".perfbench_tmp")

#: Set-ups per run.  The first also starts the JVM and is always the
#: slowest, so the median needs four more to stay off the tail.
SETUP_REPS = 5
#: Stop starting new passes once a run has been measuring this long, so a
#: run stays under three minutes on a slow machine.
PASS_BUDGET_S = 100.0
#: Driver heap.  The engine's 8 GiB default is sized for a dedicated box;
#: the heap is also the initial heap and is touched at start-up, so the
#: JVM's peak RSS is the heap plus what grows off-heap, not a reading of
#: when the garbage collector happened to expand the heap.
DRIVER_MEM = "1g"

#: End-to-end metrics of the result line (BENCHMARK.json's end_to_end).
#: The per-operation percentiles stay in the report only: one run has 10 to
#: 20 warm latencies in two groups (fast pipeline queries, slower joins), so
#: its p50 falls in the gap between the groups and its p90 is one of the two
#: slowest executions; both jump from run to run far more than pass times.
E2E_RESULT = (
    "setup_s", "first_pass_s", "warm_pass_s", "jvm_peak_rss_mb", "py_driver_peak_rss_mb",
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "jvm_peak_rss_mb": "MB",
    "py_driver_peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="paraslice_spark benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001 corpus / ~10^4-cell tensor, for the self-test")
    ap.add_argument("--inject", choices=("raise", "wrong"), default=None,
                    help="add an operation that fails on purpose (self-test)")
    return ap.parse_args(argv)


def require_checkout() -> None:
    """Refuse to run outside a checkout of the repository."""
    missing = [p for p in ("paraslice_spark/__init__.py", "tests/oracle_harness.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a paraslice_spark checkout (missing {', '.join(missing)})")


def configure_env(cores: int) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    os.makedirs(TMP_DIR, exist_ok=True)
    os.environ["TMPDIR"] = TMP_DIR
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = TMP_DIR
    # -XX:-UsePerfData: no hsperfdata directory under /tmp
    java_opts = f"-Djava.io.tmpdir={TMP_DIR} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{java_opts}' pyspark-shell"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own launcher JVM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PARASLICE_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)


def prepare_inputs(spec, seed: int, scale: str) -> tuple[str, dict, dict]:
    """Generate the inputs in a child process (its memory stays out of the
    driver's peak RSS) unless a finished copy is on disk.  Returns the data
    directory, its metadata and the expected query rows."""
    out = data_dir(spec, seed)
    expected = expected_path(spec, seed) if spec.kind == "queries" else None
    meta = os.path.join(out, "meta.json")
    if not os.path.exists(meta) or (expected and not os.path.exists(expected)):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), spec.name, str(seed),
             "--scale", scale],
            check=True, stdout=subprocess.DEVNULL, cwd=ROOT,
        )
    with open(meta) as fh:
        meta = json.load(fh)
    if expected is None:
        return out, meta, {}
    with open(expected) as fh:
        return out, meta, json.load(fh)


def cpu_sample() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def setup(spec, data_dir: str) -> tuple[object, list[dict]]:
    from paraslice_spark.session import get_session
    from paraslice_spark.sources.io import load_tables

    times = []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session("perfbench")
        t1 = time.perf_counter()
        if spec.kind == "queries":
            tables = load_tables(spark, data_dir)
            t2 = time.perf_counter()
            tables["lineitem"].count()
        else:
            coords = spark.read.parquet(os.path.join(data_dir, "coords.parquet"))
            t2 = time.perf_counter()
            coords.count()
        t3 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        times.append({"get_session_s": t1 - t0, "load_s": t2 - t1,
                      "warmup_s": t3 - t2, "total_s": t3 - t0})
    return spark, times


def run_pass(pass_no: int, ops, order, spark, tracer, traced: bool) -> list[dict]:
    """Run every op once, in ``order``.  Each record holds construct and
    materialize seconds, the check's verdict and, when traced, counters."""
    t = tracer if traced else Tracer()
    recs = []
    for idx in order:
        op = ops[idx]
        trace_id = 1000 * pass_no + int(idx)
        rec = {"op": op.name, "module": op.module, "pass": pass_no, "traced": traced}
        result, problem = None, None
        try:
            with t.phase(trace_id, "construct", rec):
                obj = op.construct(spark)
            with t.phase(trace_id, "materialize", rec):
                result = op.materialize(obj)
        except Exception as exc:  # an op failure is data, not a crash
            problem = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["wall_s"] = rec.get("construct_s", 0.0) + rec.get("materialize_s", 0.0)
        if problem is None:
            try:
                problem = op.check(result)
            except Exception as exc:
                problem = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            finally:
                op.release(result)
        rec["ok"] = problem is None
        if problem:
            rec["problem"] = problem
        t.record_op(trace_id, op.name, rec)
        recs.append(rec)
    return recs


def noise_probes(spark) -> dict:
    """bench.py's scheduler probes, with fewer tasks and repeats so they
    fit a short run: ms per empty task and ms per tiny shuffle stage."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext

    def empty() -> float:
        t0 = time.perf_counter()
        sc.parallelize(range(8), 8).count()
        return (time.perf_counter() - t0) / 8

    def chain(stages: int = 3) -> float:
        t0 = time.perf_counter()
        x = spark.range(1000)
        for i in range(stages):
            x = x.groupBy((F.col("id") % (100 - i)).alias("id")).agg(F.count(F.lit(1)).alias("c")).select("id")
        x.count()
        return (time.perf_counter() - t0) / stages

    return {"ms_per_empty_task": empty() * 1e3, "ms_per_shuffle_stage": chain() * 1e3}


def pass_time(recs: list[dict]) -> float | None:
    """Wall time of a complete pass; None when any op in it failed."""
    return sum(r["wall_s"] for r in recs) if all(r["ok"] for r in recs) else None


def percentile_summary(values: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond it,
    and the sample count."""
    out = {"samples": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        tail = next((q for q in (99, 95, 90, 75, 50) if len(values) * (100 - q) / 100 >= 10), None)
        if tail is not None:
            out[f"p{tail}"] = statistics.quantiles(values, n=100, method="inclusive")[tail - 1]
    return out


def warm_untraced(passes: list[list[dict]]) -> list[list[dict]]:
    return [p for p in passes[1:] if not p[0]["traced"]]


def end_to_end(setups, passes, jvm_mb: float, py_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics (untraced passes only) and their sample
    counts.  A pass with a failed operation gives no pass time."""
    warm = warm_untraced(passes)
    warm_times = [t for t in map(pass_time, warm) if t is not None]
    warm_ops = [r["wall_s"] for p in warm for r in p if r["ok"]]
    first_t = pass_time(passes[0])
    p90 = statistics.quantiles(warm_ops, n=10, method="inclusive")[8] if len(warm_ops) > 1 else None
    values = {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "first_pass_s": first_t,
        "warm_pass_s": statistics.median(warm_times) if warm_times else None,
        "query_p50_s": statistics.median(warm_ops) if warm_ops else None,
        "query_p90_s": p90,
        "jvm_peak_rss_mb": jvm_mb,
        "py_driver_peak_rss_mb": py_mb,
    }
    samples = {
        "setup_s": len(setups), "first_pass_s": int(first_t is not None),
        "warm_pass_s": len(warm_times), "query_p50_s": len(warm_ops),
        "query_p90_s": len(warm_ops), "jvm_peak_rss_mb": 1, "py_driver_peak_rss_mb": 1,
    }
    return values, samples


def main(argv=None) -> int:
    args = parse_args(argv)
    require_checkout()
    cores = len(os.sched_getaffinity(0))
    configure_env(cores)

    spec = workloads.spec(args.workload, args.scale)
    clock = [time.perf_counter()]

    def lap() -> float:
        clock.append(time.perf_counter())
        return clock[-1] - clock[-2]

    phases = {}
    data_dir, meta, expected = prepare_inputs(spec, args.seed, args.scale)
    phases["inputs_s"] = lap()

    import paraslice_spark.operators  # noqa: F401  (registers the queries)

    phases["imports_s"] = lap()
    cpu0 = cpu_sample()
    spark, setups = setup(spec, data_dir)
    phases["setup_s"] = lap()
    try:
        if spec.kind == "queries":
            ops = query_ops(spec.queries, data_dir, expected)
        else:
            ops = tensor_ops(spec, data_dir, cores, with_layers=bool(args.trace))
        if args.inject:
            ops.append(failing_op(args.inject))
        tracer = Tracer(spark, enabled=bool(args.trace))
        rng = np.random.default_rng(args.seed)
        # Traced runs trace the first pass and every second warm pass, so
        # they make at least one traced and one untraced warm pass; the
        # untraced ones give the end-to-end metrics and the tracing overhead.
        passes = []
        t0 = time.perf_counter()
        passes.append(run_pass(0, ops, rng.permutation(len(ops)), spark, tracer, bool(args.trace)))
        t_warm = time.perf_counter()
        while True:
            n = len(passes)
            traced = bool(args.trace) and n % 2 == 0
            passes.append(run_pass(n, ops, rng.permutation(len(ops)), spark, tracer, traced))
            now = time.perf_counter()
            if now - t0 >= PASS_BUDGET_S or (now - t_warm >= args.seconds and n >= 1 + args.trace):
                break
        measured_s = time.perf_counter() - t0
        phases["measure_s"] = lap()
        probes = noise_probes(spark)
        phases["probes_s"] = lap()
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        jvm_mb = vm_hwm_mb(jvm_pid)
    finally:
        shutdown(spark)
    phases["shutdown_s"] = lap()
    cpu1 = cpu_sample()
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    values, samples = end_to_end(setups, passes, jvm_mb, py_mb)
    execs = [r for p in passes for r in p]
    failed = [r for r in execs if not r["ok"]]
    warm_ops = [r["wall_s"] for p in warm_untraced(passes) for r in p if r["ok"]]
    steal = 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    report = {
        "workload": spec.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cores": cores,
        "load_model": "closed loop, 1 client, 1 operation in flight, local[cores]",
        "inputs": meta["tables"] | ({"shape": meta["shape"]} if "shape" in meta else {}),
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k], "samples": samples[k]}
                       for k, v in values.items()},
        "query_latency_s": percentile_summary(warm_ops),
        "fail_frac": len(failed) / len(execs),
        "failures": [{k: r[k] for k in ("op", "pass", "problem")} for r in failed],
        "passes": len(passes), "measured_s": measured_s,
        "noise": {"steal_pct": steal, **probes},
        "setups": setups,
        "phases": phases,
    }
    if args.trace:
        report["per_layer"] = layers.layer_metrics(spec, setups, passes, cores)
    os.makedirs(OUT_DIR, exist_ok=True)
    out_path = os.path.join(OUT_DIR, f"{spec.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump({**report, "ops": execs, "spans": tracer.spans}, fh, default=float)
    print(json.dumps(report, default=float))

    if args.trace:
        metrics = {k: report["per_layer"][k] for k in layers.RESULT}
    else:
        metrics = {k: report["end_to_end"][k] for k in E2E_RESULT}
    result = {
        "correct": not failed,
        "attempted": len(execs),
        "failed": len(failed),
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if not failed else 1


def shutdown(spark) -> None:
    """Stop the session, then the JVM the py4j gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(2)
