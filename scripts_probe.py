"""Standalone container-mode probe (r15 idiom): tiny local[32] session,
``bench.sched_probe`` (5x Python and 5x JVM-only empty-task probe + 3x
10-stage groupBy chain) + Python-worker set-up probe + /proc/stat steal.
Clean window = steal < 0.5%, stage < 60 ms, task < ~8 ms.  The Python
empty-task probe's per-task time includes Python-worker set-up (the
``_jvm`` keys time the same 64 tasks with no Python worker):
on CPython < 3.13 PySpark's per-task ``importlib.invalidate_caches()``
re-reads every zip archive on the worker path.  The worker probe reports
that call's median cost and the zip importers it walks."""
import json
import statistics
import time

from bench import cpu_sample, sched_probe, steal_pct


def worker_setup_probe(sc, n_tasks=8, reps=5):
    """(median ms of one ``importlib.invalidate_caches()`` inside a Python
    worker task, most zip importers seen on one worker)."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            times.append(time.perf_counter() - t0)
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        yield statistics.median(times), len(zips)

    got = sc.parallelize(range(n_tasks), n_tasks).mapPartitions(probe).collect()
    return statistics.median(t for t, _ in got) * 1000, max(n for _, n in got)


def main():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("probe")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    c0 = cpu_sample()
    out = sched_probe(spark)
    py_setup_ms, py_zips = worker_setup_probe(sc)
    out.update({
        "py_worker_invalidate_caches_ms_median": round(py_setup_ms, 2),
        "py_worker_zip_importers": py_zips,
        "steal_pct": steal_pct(c0, cpu_sample()),
        "ts": time.time(),
    })
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
