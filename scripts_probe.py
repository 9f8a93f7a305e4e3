"""Standalone container-mode probe (r15 idiom): tiny local[32] session,
5x empty-task probe + 3x 10-stage groupBy chain + Python-worker set-up
probe + /proc/stat steal.
Clean window = steal < 0.5%, stage < 60 ms, task < ~8 ms.  The empty-task
probe is a Python job, so its per-task time includes Python-worker set-up:
on CPython < 3.13 PySpark's per-task ``importlib.invalidate_caches()``
re-reads every zip archive on the worker path.  The worker probe reports
that call's median cost and the zip importers it walks."""
import json
import statistics
import time


def cpu_sample():
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [int(x) for x in parts[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


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
    from pyspark.sql import SparkSession, functions as F

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
    sc.parallelize(range(64), 64).count()
    probe = []
    for _ in range(5):
        t0 = time.perf_counter()
        sc.parallelize(range(64), 64).count()
        probe.append(time.perf_counter() - t0)

    def chain():
        x = spark.range(1000)
        for i in range(10):
            x = (
                x.groupBy((F.col("id") % (100 - i)).alias("id"))
                .agg(F.count(F.lit(1)).alias("c"))
                .select("id")
            )
        x.count()

    chain()
    sprobe = []
    for _ in range(3):
        t0 = time.perf_counter()
        chain()
        sprobe.append(time.perf_counter() - t0)
    py_setup_ms, py_zips = worker_setup_probe(sc)
    c1 = cpu_sample()
    steal = 100.0 * (c1[1] - c0[1]) / (c1[0] - c0[0]) if c1[0] > c0[0] else None
    out = {
        "ms_per_empty_task_best": round(min(probe) / 64 * 1000, 2),
        "ms_per_empty_task_median": round(sorted(probe)[2] / 64 * 1000, 2),
        "ms_per_shuffle_stage_best": round(min(sprobe) / 10 * 1000, 1),
        "ms_per_shuffle_stage_median": round(sorted(sprobe)[1] / 10 * 1000, 1),
        "py_worker_invalidate_caches_ms_median": round(py_setup_ms, 2),
        "py_worker_zip_importers": py_zips,
        "steal_pct": round(steal, 3) if steal is not None else None,
        "ts": time.time(),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
