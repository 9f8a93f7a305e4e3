"""BENCH harness: run every declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON line.

Protocol matches BASELINE.md §3: one shared SparkSession, warm JVM, AQE on,
per-query wall time via a full materialization (noop sink — nothing
collected to the driver). The headline metric is suite wall-clock.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize(df) -> None:
    # noop sink: executes the whole plan, writes nothing, collects nothing
    df.write.format("noop").mode("overwrite").save()


def cpu_sample() -> tuple[int, int] | None:
    """(total_jiffies, steal_jiffies) from /proc/stat — the hypervisor
    noisy-neighbor signal.  Identical code on this container measured
    35s/62s/148s across runs (BASELINE.md §6), so every timing row should
    carry the steal evidence for its own measurement window."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(before: tuple[int, int] | None, after: tuple[int, int] | None) -> float | None:
    if before is None or after is None or after[0] <= before[0]:
        return None
    return round(100.0 * (after[1] - before[1]) / (after[0] - before[0]), 3)


#: Heavy-arm query list (VERDICT r15 #5): at sf0.1/local[32] the suite is
#: scheduling-overhead-bound (the 8-core arm beats the 32-core arm; per-query
#: core ratios <= 1 everywhere), so optimization rounds lack a parallelism
#: signal.  PARASLICE_BENCH_HEAVY=1 benches these heaviest query paths
#: data-bound at sf1 (generate once: tools/gen_heavy_sf.py), best-of-2, and
#: writes BENCH_HEAVY*.json — NEVER the canonical BENCH_LOCAL.json.
HEAVY_ARM_QUERIES = (
    "dedup_embedding_cosine", "dedup_method_agreement", "dedup_minhash_pairs",
    "dedup_ngram_jaccard", "dedup_simhash_bands",
    "events_session_watermark_audit",
    "graph_clustering_coefficient", "graph_copurchase_kcore_trace",
    "graph_degree_assortativity", "graph_knn_jaccard",
    "events_active_users", "events_haar_energy",
    "events_retention_survivorship",
    "graph_lpa_communities", "graph_pagerank_knn", "graph_triangle_count",
    "market_basket_pairs",
    "multimodal_phash_groups", "orders_backlog_profile",
    "similarity_ann_recall",
    # lineitem_spearman_qty_price is deliberately ABSENT: its declared
    # output is six exact int64 rank moments whose documented validity
    # bound (4n^3 < 2^63, docstring) ends at ~10^6 rows — at sf1 the ANSI
    # engine fails loudly with ARITHMETIC_OVERFLOW (measured; first caught
    # by this arm).  Widening to DECIMAL changes the declared output —
    # a build-round item, out of scope for an optimization round.
    "similarity_knn_graph",
    "stats_eqdepth_histogram_lineitem", "stats_partial_agg_audit",
    "stats_runtime_filter_audit", "text_decontaminate_gram_sweep",
    "udf_grouped_map",
    # Breadth extension (second tier — the next-heaviest committed-window
    # rows): each smoke-verified at sf1 first (no ANSI overflow; the binseg
    # D^2 < 2^53 and hosvd int64 in-plan assert_true guards both HOLD at
    # 10x data), completing the parallelism audit across every family with
    # >= ~1s of local mass.
    "stats_bloom_prune_audit", "stats_join_strategy_audit",
    "stats_bucket_colocation_audit", "stats_partition_sizing_audit",
    "stats_zorder_prune_audit", "stats_zonemap_prune_audit",
    "stats_compaction_waste_audit", "stats_clustering_depth_audit",
    "stats_shuffle_skew_audit",
    "supplier_scorecard", "events_anova_calendar",
    "customer_revenue_deciles", "customer_ltv_cohorts",
    "q2_min_cost_supplier", "orders_ks_price_shift",
    "pipeline_quality_filter",
    "embedding_dim_truncation_audit", "similarity_signlsh_band_sweep",
    "embedding_quant_bits_sweep",
    "events_binseg_changepoint", "tensor_hosvd_energy_audit",
)


def artifact_path(here: str, cpus: int) -> str:
    """Resolve where this run's artifact may be written.

    cpu-count guard (VERDICT r15 #1): the canonical BENCH_LOCAL.json is the
    32-core window; the driver's scaling arm re-runs bench.py at
    SPARK_GRAFT_CPUS!=32 OUT-OF-BAND and used to clobber it (four rounds
    running).  A non-32-core run writes BENCH_LOCAL.c{N}.json instead and
    never touches a canonical (cpus==32 or pre-guard legacy) artifact.
    """
    local = os.path.join(here, "BENCH_LOCAL.json")
    if cpus != 32 and os.path.exists(local):
        try:
            with open(local) as fh:
                prev_cpus = json.load(fh).get("cpus", 32)
        except (OSError, ValueError):
            prev_cpus = 32
        if prev_cpus == 32:
            return os.path.join(here, f"BENCH_LOCAL.c{cpus}.json")
    return local


def main() -> int:
    heavy = os.environ.get("PARASLICE_BENCH_HEAVY") == "1"
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        "/root/heavydata/sf1" if heavy else "/root/testdata/sf0.1",
    )
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    import paraslice_spark.operators  # noqa: F401
    from paraslice_spark.registry import QUERIES
    from paraslice_spark.session import get_session
    from paraslice_spark.sources.io import load_tables

    spark = get_session("paraslice-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, parquet footers, and the shared table cache
    tables = load_tables(spark, sf_dir)
    for t in ("lineitem", "orders", "events"):
        tables[t].cache()
    materialize(tables["lineitem"])
    materialize(tables["orders"])
    materialize(tables["events"])

    # Scheduler probe (VERDICT r12 #3): this container drifts between
    # ~2 ms/task and ~12 ms/task of PURE task-launch overhead (empty
    # tasks, zero data) at near-zero /proc/stat steal — a mode steal%
    # cannot see.  Task-count-heavy queries (iterative graph/kNN
    # consumers, Python-worker families) inflate proportionally while
    # data-bound plans don't.  Recording best/median ms-per-empty-task
    # NEXT TO the timings makes each window's drift attribution in-file.
    sc = spark.sparkContext
    sc.parallelize(range(64), 64).count()  # probe warm-up
    probe = []
    for _ in range(5):
        t0 = time.perf_counter()
        sc.parallelize(range(64), 64).count()
        probe.append(time.perf_counter() - t0)
    # Shuffle-stage probe (r15, VERDICT r14 #2 closure): the container has
    # a SECOND latency mode the empty-task probe cannot see — fixed cost
    # per SHUFFLE stage (exchange write/read + codegen per stage), measured
    # drifting 90-480 ms/tiny-stage across sessions at ~0.02 % steal and a
    # flat ~7 ms/task empty probe.  Stage-count-heavy queries (the kNN
    # consumer family: lcc = 15 post-memo stages over a 3.9k-row edge
    # table) inflate proportionally; data-bound plans don't.  A 10-stage
    # groupBy chain over 1000 rows records ms-per-shuffle-stage in-file.
    from pyspark.sql import functions as _F

    def _shuffle_chain() -> None:
        x = spark.range(1000)
        for i in range(10):
            x = (
                x.groupBy((_F.col("id") % (100 - i)).alias("id"))
                .agg(_F.count(_F.lit(1)).alias("c"))
                .select("id")
            )
        x.count()

    _shuffle_chain()  # codegen warm-up
    sprobe = []
    for _ in range(3):
        t0 = time.perf_counter()
        _shuffle_chain()
        sprobe.append(time.perf_counter() - t0)
    sched_probe = {
        "ms_per_empty_task_best": round(min(probe) / 64 * 1000, 2),
        "ms_per_empty_task_median": round(sorted(probe)[2] / 64 * 1000, 2),
        "ms_per_shuffle_stage_best": round(min(sprobe) / 10 * 1000, 1),
        "ms_per_shuffle_stage_median": round(sorted(sprobe)[1] / 10 * 1000, 1),
    }

    # best-of-N per query, matching BASELINE.md's best-of-3 protocol — this
    # container shows roaming multi-second noisy-neighbor stalls that would
    # otherwise land on one arbitrary query per run
    runs = int(os.environ.get("PARASLICE_BENCH_RUNS", "2" if heavy else "3"))
    bench_queries = (
        {n: QUERIES[n] for n in HEAVY_ARM_QUERIES} if heavy else QUERIES
    )
    times: dict[str, float] = {}
    run1: dict[str, float] = {}
    noisy: dict[str, float] = {}
    t_suite = time.perf_counter()
    cpu_suite0 = cpu_sample()
    for name, fn in sorted(bench_queries.items()):
        best = float("inf")
        cpu0 = cpu_sample()
        try:
            for i in range(runs):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                if i == 0:
                    # first-run seconds: for memoized families this carries
                    # the shared build the best-of-N replay hides (heavy-arm
                    # reading aid; file artifact only)
                    run1[name] = round(dt, 4)
                best = min(best, dt)
            times[name] = round(best, 4)
            sp = steal_pct(cpu0, cpu_sample())
            if sp is not None and sp >= 1.0:
                # the query's measurement window saw hypervisor steal —
                # its row is noise-suspect, self-documented (VERDICT r5 #7)
                noisy[name] = sp
            print(f"# {name}: {times[name]}s", file=sys.stderr)
        except Exception as exc:  # a broken query must not kill the bench
            times[name] = -1.0
            print(f"# BENCH ERROR {name}: {exc}", file=sys.stderr)
    wallclock = round(time.perf_counter() - t_suite, 4)
    # a query that raised is recorded as -1 and left out of the total, so a
    # failure would read as a faster suite: count failures as a headline
    # scalar and exit non-zero below
    n_errors = sum(1 for t in times.values() if t < 0)
    total = round(sum(t for t in times.values() if t > 0), 4)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # Shuffle-stage-normalized secondary metric (VERDICT r15 #3): the
    # container's per-shuffle-stage latency drifts 44-480 ms across windows
    # at near-zero steal, so raw seconds from different windows do not
    # compare.  Dividing each query's best time by THIS window's
    # ms_per_shuffle_stage_median yields a unitless "stage equivalents"
    # column that is comparable across container modes for
    # stage-count-bound queries (data-bound queries divide by the same
    # constant, so ordering within a window is unchanged).  Secondary
    # only — the reported primary numbers are untouched.
    stage_ms = sched_probe["ms_per_shuffle_stage_median"]
    queries_stage_norm = {
        name: round(t * 1000.0 / stage_ms, 2) if (t > 0 and stage_ms > 0) else None
        for name, t in times.items()
    }

    # stdout line (VERDICT r15 #2): the driver keeps only a TAIL of stdout,
    # so the line is printed COMPACT (no spaces) with the big per-query map
    # FIRST and the headline scalars LAST — a truncated tail still ends
    # with value/unit/sf/probes, and a full-line parse is order-agnostic.
    # shared_builds / steal detail / normalized column live only in the
    # file artifact below.
    metric = "heavy_arm_best_of_runs_sum" if heavy else "suite_best_of_runs_sum"
    stdout_line = {
        "metric": metric,
        "queries": times,
        "runs_per_query": runs,
        "wallclock_all_runs": wallclock,
        "suite_steal_pct": steal_pct(cpu_suite0, cpu_sample()),
        "sched_probe": sched_probe,
        "cpus": cpus,
        "sf": sf,
        "n_errors": n_errors,
        "unit": "sec",
        "value": total,
    }

    payload = {
        "metric": metric,
        "value": total,
        "n_errors": n_errors,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "runs_per_query": runs,
        "wallclock_all_runs": wallclock,
        "suite_steal_pct": stdout_line["suite_steal_pct"],
        "steal_suspect_queries": noisy,
        "sched_probe": sched_probe,
        "queries_stage_norm": queries_stage_norm,
        "queries_run1": run1,
        # ADVICE r6: per-query timings for memoized families are
        # run-order-dependent — the FIRST consumer (alphabetical) pays the
        # shared build; later consumers read the localCheckpoint for ~0 s.
        "shared_builds": {
            "cdc_change_log": [
                # alphabetically FIRST consumer pays the memoized
                # checkpointed change-log build (one events scan + bounds)
                "cdc_log_compaction_audit",
                "cdc_merge_classify_audit", "cdc_resurrection_audit",
                "cdc_snapshot_diff", "cdc_upsert_last_wins",
            ],
            "knn_edge_table": [
                # alphabetically FIRST consumer pays the shared build;
                # graph_clustering_coefficient (r13) now leads the family
                "graph_clustering_coefficient",
                "graph_degree_assortativity", "graph_degree_distribution",
                "graph_knn_jaccard",
                "graph_lpa_communities", "graph_pagerank_knn",
                "graph_triangle_count", "similarity_knn_graph",
                # similarity_ann_recall left r13: its default truth is now
                # the linear broadcast-cohort scan (VERDICT r12 #2), so it
                # no longer consumes the memoized kNN graph.
            ],
            "decontamination_pair_table": [
                "pipeline_dataset_build", "text_decontaminate",
            ],
            "minhash_shingles_and_signatures": [
                "dedup_method_agreement", "dedup_minhash_estimate_error",
                "dedup_minhash_pairs",
            ],
            "ngram_jaccard_pair_table": [
                "dedup_edit_distance", "dedup_group_size_histogram",
                "dedup_groups", "dedup_groups_star", "dedup_keep_best",
                "dedup_method_agreement", "dedup_ngram_jaccard",
                "pipeline_dedup_dataset",
            ],
            "simhash_table": [
                "dedup_method_agreement", "dedup_simhash_bands",
            ],
            "emb_base": [
                # the memoized embeddings array→double checkpoint
                # (_emb_base_cached, introduced r14 at 674ea62; three more
                # consumers moved onto it in r15) — alphabetically FIRST
                # consumer pays the one-time build + checkpoint
                "dedup_embedding_cosine",
                "embedding_dim_truncation_audit",
                "embedding_quant_bits_sweep",  # r16 heavy-arm continuation
                "similarity_ann_recall", "similarity_ivf_ann",
                "similarity_ivfpq_ann", "similarity_lsh_ann",
                "similarity_signlsh_ann",      # r16 heavy-arm continuation
                "similarity_signlsh_band_sweep",  # r16 heavy-arm continuation
                "similarity_topk_cosine",
            ],
            "ivf_centroids_and_pq_codebooks": [
                "similarity_ann_recall", "similarity_ivf_ann",
                "similarity_ivfpq_ann",
            ],
            "lineitem_col_histogram": [
                # r16: list completed — eqdepth + join-cardinality also ride
                # the memoized _lineitem_col_hist checkpoint
                "stats_collect_lineitem",
                "stats_eqdepth_histogram_lineitem",
                "stats_histogram_lineitem", "stats_join_cardinality_audit",
                "stats_shuffle_skew_audit",
            ],
            "watermark_prefix_frame": [
                "events_watermark_delay_sweep", "events_watermark_late_replay",
            ],
            "tensor_coords_cache": [
                "parafac_cp_als", "parafac_cp_als_dist", "parafac_factors_a",
                "tensor_mode_skew_profile", "tensor_slices",
                "tucker_hosvd_core",
            ],
            # each declared real-streaming replay executes its stream ONCE
            # per session+sf and checkpoints the ledger: its best-of-N row
            # is the checkpoint replay; the stream's own cost (~5-16 s)
            # lands in wallclock_all_runs on the first run.  The two
            # replays do NOT share a build (separate memo caches), so each
            # gets its own entry (ADVICE r11 #1).
            "session_stream_replay_result": [
                "stream_session_watermark_replay",
            ],
            "tumbling_stream_replay_result": [
                "stream_tumbling_watermark_replay",
            ],
            "update_mode_stream_replay_result": [
                "stream_update_mode_replay",
            ],
            "complete_mode_stream_replay_result": [
                "stream_complete_mode_replay",
            ],
            "session_complete_stream_replay_result": [
                "stream_session_complete_replay",
            ],
        },
    }
    print(json.dumps(stdout_line, separators=(",", ":")))
    # BENCH_r{N}.json keeps only the stdout tail, losing the front of the
    # per-query map every round (VERDICT r4 #3) — persist the full map
    # in-repo so rounds stay diffable.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        if heavy:
            # the heavy arm gets its own per-core-count artifact and can
            # never touch the canonical BENCH_LOCAL.json
            local = os.path.join(here, f"BENCH_HEAVY.c{cpus}.json")
        else:
            local = artifact_path(here, cpus)  # cpu-count guard (VERDICT r15 #1)
        # clobber guard (VERDICT r13 #5, multi-generation per ADVICE r14):
        # every overwrite first moves the existing artifact to a backup
        # stamped with ITS OWN wallclock value, so back-to-back runs (real
        # window, smoke test, driver re-run) each keep their predecessor —
        # BENCH_LOCAL.prev.<value>.json files are gitignored scratch; the
        # checklist habit (commit good windows promptly) still applies.
        if os.path.exists(local):
            try:
                with open(local) as fh:
                    prev_val = json.load(fh).get("value", "unknown")
            except (OSError, ValueError):
                prev_val = "unknown"
            os.replace(
                local, local[: -len(".json")] + f".prev.{prev_val}.json"
            )
        with open(local, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"# BENCH_LOCAL.json not written: {exc}", file=sys.stderr)
    spark.stop()
    if n_errors:
        print(f"# BENCH FAILED: {n_errors} queries raised", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
