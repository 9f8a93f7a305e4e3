"""Cluster-conf invariance: results must not depend on runtime confs.

get_session keeps AQE off locally and the driver/tests run 8-32 shuffle
partitions; a real deployment runs AQE on with ~200+ partitions.  This
pack re-executes a representative query slice under cluster confs and
asserts canonical-value equality with the default-conf run — the
conf-dependence trap class (the r3 session-timezone NTZ bug was exactly
a "works under MY confs" failure).  Queries chosen to span every shuffle
machinery AQE touches: multi-join TPC-H, skew-salted join, window funnel,
banded dedup, range join, grouping sets, and a stateful-twin stream op.
"""

from __future__ import annotations

import pytest

import paraslice_spark.operators  # noqa: F401
from paraslice_spark.registry import QUERIES
from tests.conftest import SF_SMALL
from tests.oracle_harness import canonical_rows

_CLUSTER_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "200",
}

_REPRESENTATIVES = (
    "q5_local_supplier_volume",      # 5-way star join + agg
    "q21_waiting_suppliers",         # window-collapsed EXISTS pair
    "join_salted_skew",              # static salting under AQE re-plan
    "join_time_interval",            # band-join trick
    "events_sessionized_funnel",     # sessionize + funnel windows
    "dedup_simhash_bands",           # banded self-join (memoized base)
    "agg_grouping_sets",             # expand + multi-agg
    "stream_tumbling_counts",        # streaming batch twin
    "pipeline_sequence_pack",        # bucket-partitioned running sum
    "agg_countmin_topk_error",       # sketch build + broadcast lookup
    # r8-continuation shapes:
    "customer_gini_by_nation",       # partitioned rank + fact rollup join
    "orders_ship_latency",           # fact-fact join + histogram selection
    "agg_kmv_distinct_error",        # WindowGroupLimit prune + broadcast vk
    "events_funnel_latency",         # composed funnel + histogram selection
    # r8 second-continuation shapes:
    "graph_copurchase_kcore_trace",  # driver-loop peel + lazy checkpoints
    "orders_ks_price_shift",         # two-level prefix scan + TakeOrdered
    "lineitem_spearman_qty_price",   # rank-map joins + exact moments
    "events_runs_test",              # hist median + seq-adjacency join
    # r9 shapes:
    "events_watermark_late_replay",  # 3-level prefix scan, hash buckets
    "dedup_incremental_audit",       # broadcast cutoff + conditional mins
    # r9 late additions:
    "customer_pareto_skyline",       # RANGE-frame dominance windows
    "stats_shuffle_skew_audit",      # memoized histogram + union + ranking
    "events_theil_sen_trend",        # pair join + histogram selection
    "events_attribution_last_touch", # as-of carry window + pushed IN filter
    "graph_degree_assortativity",    # memoized kNN + broadcast degree dim
    "text_novelty_curve",            # checkpointed explode + gated vocab dim
    "tensor_mode_skew_profile",      # cached coords + mode stack + hist sel
    "tensor_unfold_gram_type",       # reused-exchange self-join gram
    # r10 shapes:
    "similarity_quantizer_append_audit",  # 1-row stats broadcast + 256-key rollup
    "events_session_watermark_audit",     # time-bucket prefix scan + user windows
    "stats_join_cardinality_audit",       # memoized histogram + union + col windows
    "pipeline_release_diff",              # 256-shard then 3-key map-combined rollups
    "dedup_survivorship_bias",            # fp shuffle with min/min_by winner agg
    "agg_kmv_intersection_error",         # explode stack + WindowGroupLimit prune
    # r11 shapes:
    "events_retention_survivorship",      # checkpointed act + band broadcasts
    "sample_split_stability_audit",       # two global rank windows + hash branch
    "pipeline_shard_balance_audit",       # checkpointed cell + grid gap-fill
    "stats_sample_error_sweep",           # zero-shuffle conditional-agg sweep
    "stream_session_watermark_replay",    # REAL streaming engine replay
    "stream_tumbling_watermark_replay",   # REAL streaming engine, hash-oracled
    "pipeline_pack_waste_sweep",          # checkpointed offsets + dual ctx-sweep aggs
    # r12 shapes:
    "embedding_cosine_histogram",         # TakeOrdered fixed-size sample + BNLJ pairs
    "similarity_signlsh_band_sweep",      # checkpointed sig + 3-arm band collide
    "stream_update_mode_replay",          # REAL streaming engine, update mode
    "text_repetition_cap_sweep",          # zero-shuffle conditional-agg sweep
    "text_decontaminate_gram_sweep",      # role-partitioned gram explode + broadcast bench index (only bench side checkpointed)
    "stream_complete_mode_replay",        # REAL streaming engine, complete mode
    "embedding_quant_bits_sweep",         # zero-shuffle 3-width array codegen
    # r13 shapes:
    "stream_session_complete_replay",     # REAL engine, session x complete, snapshot sink
    "events_binseg_changepoint",          # one scan + 3-gran series windows
    "tensor_hosvd_energy_audit",          # cell agg + 3-mode stack + slice windows
    "stats_zonemap_prune_audit",          # checkpointed block base + broadcast preds
    "graph_clustering_coefficient",       # edge-memo triangle join + bucket agg
    "events_anova_calendar",              # checkpointed series + 3 factor re-aggs
    "window_distribution",                # distributed rank: range exchange + pid
                                          # offsets — boundary-placement invariance
    # r14 shapes:
    "stats_zorder_prune_audit",           # checkpointed morton grid + broadcast preds
    "stats_bloom_prune_audit",            # checkpointed (blk,ck) census + TakeOrdered
                                          # probe sample + bit joins
    "stats_compaction_waste_audit",       # checkpointed file census + dual rollups
    "embedding_dim_truncation_audit",     # emb memo + broadcast cohort +
                                          # conditional width sweep + topk windows
    "stats_clustering_depth_audit",       # checkpointed value stack + sweep-line
                                          # windows over zone boundaries
    "stats_runtime_filter_audit",         # two checkpointed scans + un-hinted
                                          # bloom-bit join (AQE promotes)
    # r15 shapes:
    "cdc_merge_classify_audit",           # log memo + two state collapses +
                                          # un-hinted key join + class spine
    "cdc_snapshot_diff",                  # full-outer key join of two collapses
    "cdc_resurrection_audit",             # key-partitioned LAG window + rollups
    "stats_bucket_colocation_audit",      # two censuses + full-outer census
                                          # merge + nested-mod sweep
    "stats_partial_agg_audit",            # 4-way stack + multi-distinct agg
    # r16 shapes:
    "stats_eqdepth_histogram_lineitem",   # distributed rank over (col, v):
                                          # range exchange + (pid, col) segment
                                          # offsets — boundary-placement invariance
)


def _clear_memo_caches() -> None:
    """Memoized per-(session, sf) bases would otherwise freeze blocks built
    under the FIRST conf regime, so the clustered run would replay frozen
    data instead of exercising its build stage under cluster confs —
    exactly the 'works under my confs' blind spot this pack guards."""
    from paraslice_spark.operators import (
        cdc,
        relational,
        reshape,
        similarity,
        tensor,
    )
    from paraslice_spark.streaming import streams

    # release the dropped frames' executor blocks (ADVICE r7) — clearing the
    # dict alone leaves eager-checkpoint storage orphaned until Python GC
    for cache in (
        cdc._cdc_log_cache,
        similarity._simhash_cache,
        similarity._mh_base_cache,  # values are (shingles, signatures) tuples
        similarity._emb_base_cache,
        similarity._knn_cache,
        similarity._knn_uedges_cache,
        relational._col_hist_cache,
        reshape._replay_wm_cache,
        tensor._coords_cache,  # .cache()d, not checkpointed → unpersist path
        streams._sswr_cache,   # checkpointed replay ledgers: the stream
        streams._stwr_cache,   # itself must re-execute under cluster confs
        streams._sumr_cache,
        streams._scmr_cache,
        streams._sscr_cache,
    ):
        for v in cache.values():
            for df in v if isinstance(v, tuple) else (v,):
                try:
                    df.unpersist()
                except Exception:
                    pass
                similarity._free_local_checkpoint(df)
        cache.clear()
    # fitted tensor models hold no DataFrame; only the distributed CP
    # model keeps executor blocks (its persisted a_blocks)
    for model in tensor._model_cache_dist.values():
        model.a_blocks.unpersist()
    for cache in (tensor._model_cache, tensor._model_cache_dist, tensor._tucker_cache):
        cache.clear()


#: queries whose pipeline rides a memoized localCheckpoint base — both
#: runs must rebuild it under their own confs
_MEMOIZED = {
    "dedup_simhash_bands",
    "events_watermark_late_replay",
    "stats_shuffle_skew_audit",
    "stats_join_cardinality_audit",
    "graph_degree_assortativity",
    "tensor_mode_skew_profile",
    "stream_session_watermark_replay",
    "stream_tumbling_watermark_replay",
    "stream_update_mode_replay",
    "stream_complete_mode_replay",
}


@pytest.mark.parametrize("name", _REPRESENTATIVES)
def test_results_invariant_under_cluster_confs(spark, name):
    if name in _MEMOIZED:
        _clear_memo_caches()
    base = canonical_rows(QUERIES[name](spark, SF_SMALL).toPandas())
    conf = spark.conf
    saved: dict[str, str | None] = {}
    for k, v in _CLUSTER_CONFS.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        if name in _MEMOIZED:
            _clear_memo_caches()
        clustered = canonical_rows(QUERIES[name](spark, SF_SMALL).toPandas())
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
        if name in _MEMOIZED:
            # drop the cluster-conf-built base so later suite consumers
            # rebuild under the session's normal confs
            _clear_memo_caches()
    assert clustered == base, f"{name}: results changed under cluster confs"


#: queries whose corpus-growing side tables route through the gated
#: session.vocab_broadcast (VERDICT r9: a forced F.broadcast of a
#: vocabulary/catalog-sized table overrides Spark's size check, so AQE
#: can never demote it at 100 TB — executor OOM).  Default is a plain
#: equi-join; PARASLICE_BROADCAST_VOCAB=1 restores the hint.  This test
#: is the hash-invariance proof the gate's docstring promises.
_VOCAB_GATED = (
    "text_tfidf",              # per-term document-frequency dim
    "text_unigram_logprob",    # per-word logprob dim
    "text_collocations_pmi",   # both unigram count dims
    "text_doc_keywords",       # the tfidf df dim
    "text_novelty_curve",      # word→first_doc dim
    "market_basket_pairs",     # per-part item-count dims (SF-linear)
)


@pytest.mark.parametrize("name", _VOCAB_GATED)
def test_vocab_broadcast_invariant(spark, name, monkeypatch):
    monkeypatch.delenv("PARASLICE_BROADCAST_VOCAB", raising=False)
    plain = canonical_rows(QUERIES[name](spark, SF_SMALL).toPandas())
    monkeypatch.setenv("PARASLICE_BROADCAST_VOCAB", "1")
    forced = canonical_rows(QUERIES[name](spark, SF_SMALL).toPandas())
    assert forced == plain, f"{name}: results depend on the vocab-broadcast gate"


@pytest.mark.parametrize("name", _VOCAB_GATED)
def test_vocab_broadcast_on_branch_plans_broadcast(spark, name, monkeypatch):
    """The gate's ON branch must actually restore the hint: under
    PARASLICE_BROADCAST_VOCAB=1 every gated query plans its vocab-dim
    join as broadcast-hash — no sort-merge join anywhere (deployments
    whose vocabulary provably fits get the zero-shuffle-dim plan back)."""
    monkeypatch.setenv("PARASLICE_BROADCAST_VOCAB", "1")
    p = (
        QUERIES[name](spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in p, f"{name}:\n{p}"
    assert "BroadcastHashJoin" in p, f"{name}:\n{p}"
