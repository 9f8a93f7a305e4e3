"""Physical-plan shape tests (SURVEY §4): the 100 TB checklist.

Correctness tests prove the numbers; these prove the *plans* — predicate
pushdown reaches the parquet scan, column pruning narrows ReadSchema, small
dims broadcast, global top-k avoids a full sort, and nothing in the hot
path leaves whole-stage codegen.
"""

from __future__ import annotations

import paraslice_spark.operators  # noqa: F401
from paraslice_spark.registry import QUERIES
from tests.conftest import SF_SMALL


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    df = QUERIES["filter_between_in_like"](spark, SF_SMALL)
    p = plan(df)
    assert "PushedFilters: [" in p
    # the BETWEEN bounds must be pushed, not evaluated post-scan only
    assert "GreaterThanOrEqual(c_acctbal,1000.0)" in p, p


def test_projection_prunes_columns(spark):
    df = QUERIES["scan_projection"](spark, SF_SMALL)
    p = plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p, p


def test_broadcast_join_is_broadcast(spark):
    df = QUERIES["join_broadcast_inner"](spark, SF_SMALL)
    p = plan(df)
    assert "BroadcastHashJoin" in p, p


def test_flagship_broadcasts_customer_and_hashjoins_fact(spark):
    df = QUERIES["q3_shipping_priority"](spark, SF_SMALL)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p, p


def test_topk_uses_take_ordered_not_global_sort(spark):
    df = QUERIES["topk_revenue"](spark, SF_SMALL)
    p = plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_semi_anti_join_rewrites(spark):
    semi = plan(QUERIES["join_semi"](spark, SF_SMALL))
    anti = plan(QUERIES["join_anti"](spark, SF_SMALL))
    assert "LeftSemi" in semi, semi
    assert "LeftAnti" in anti, anti


def test_q1_agg_is_partial_then_final_hash(spark):
    p = plan(QUERIES["agg_pricing_summary"](spark, SF_SMALL))
    # partial (map-side) + final HashAggregate pair around one exchange
    assert p.count("HashAggregate") >= 2, p
    # starred operators `*(N) ...` mark whole-stage-codegen stages
    assert "*(1)" in p, p


def test_interval_join_is_equi_not_nested_loop(spark):
    """The band-join trick must produce a hash/merge join on (user, bucket),
    never a nested-loop over the whole table."""
    p = plan(QUERIES["join_time_interval"](spark, SF_SMALL))
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p), p


def test_asof_join_is_single_window_no_join(spark):
    p = plan(QUERIES["join_asof"](spark, SF_SMALL))
    assert "Window" in p
    assert "Join" not in p, p  # union-tag formulation: zero joins


def test_subqueries_decorrelate_to_joins(spark):
    """No per-row subquery probes: Catalyst must rewrite to agg + join."""
    cor = plan(QUERIES["subquery_correlated_scalar"](spark, SF_SMALL))
    assert "HashAggregate" in cor and "Join" in cor, cor
    inq = plan(QUERIES["subquery_in"](spark, SF_SMALL))
    assert "LeftSemi" in inq, inq


def test_set_ops_rewrite_to_joins_or_aggregates(spark):
    inter = optimized(QUERIES["set_intersect"](spark, SF_SMALL))
    exc = optimized(QUERIES["set_except"](spark, SF_SMALL))
    assert "LeftSemi" in inter, inter
    assert "LeftAnti" in exc, exc


def test_curriculum_quality_filter_pushed_to_scan(spark):
    """Stage-1 quality/lang predicates must reach the documents scan — at
    100 TB the pipeline's selectivity has to apply at the reader."""
    p = plan(QUERIES["pipeline_curriculum"](spark, SF_SMALL))
    assert "PushedFilters: [" in p
    assert "EqualTo(lang,en)" in p, p


def test_salted_agg_is_two_hash_aggregate_stages(spark):
    """Salted rollup = partial+final pair per stage, two exchanges total —
    and the salt column must not survive into the final output."""
    df = QUERIES["agg_salted_skew"](spark, SF_SMALL)
    p = plan(df)
    assert p.count("HashAggregate") >= 4, p  # 2 stages x (partial+final)
    assert "salt" not in df.columns


def test_money_split_sum_aggregates_longs_not_decimals(spark):
    """The hot path (partial aggregation) must sum int64 split halves; the
    only decimal node is the final per-group recombine projection."""
    p = plan(QUERIES["agg_money_split_sum"](spark, SF_SMALL))
    import re

    partials = [ln for ln in p.splitlines() if "partial_sum" in ln]
    assert partials and not any("Decimal" in ln for ln in partials), p


def test_range_frame_partitions_by_high_cardinality_key(spark):
    p = plan(QUERIES["window_range_frame"](spark, SF_SMALL))
    assert "o_custkey" in p.split("Window")[1][:300], p


def test_dedup_groups_shuffles_ids_only(spark):
    """Component propagation must never carry text/gram payloads — the
    optimized plan's exchanges operate on id/label longs."""
    df = QUERIES["dedup_groups"](spark, SF_SMALL)
    assert [f.name for f in df.schema.fields] == ["doc_id", "rep_id", "group_size"]
    assert all(f.dataType.typeName() == "long" for f in df.schema.fields)


def test_q6_filters_pushed_to_scan(spark):
    """Q6 is THE pushdown showcase: the shipdate bounds must reach the
    parquet scan as PushedFilters, not run post-scan only."""
    p = plan(QUERIES["q6_forecast_revenue"](spark, SF_SMALL))
    assert "PushedFilters: [" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("]")[0], p


def test_q4_exists_rewrites_to_left_semi(spark):
    p = plan(QUERIES["q4_priority_late_ship"](spark, SF_SMALL))
    assert "LeftSemi" in p, p


def test_q18_broadcasts_customer(spark):
    p = plan(QUERIES["q18_large_orders"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p


def test_knn_graph_reads_tiles_not_pairs(spark):
    """The k-NN graph must ship B² block tiles through one cross join of
    two B-row aggregates — never a row-level n×n join: exactly one
    cartesian product, fed by aggregated (collect_list) block slabs."""
    from paraslice_spark.operators.similarity import _knn_graph

    p = plan(_knn_graph(spark, SF_SMALL))
    assert p.count("CartesianProduct") + p.count("BroadcastNestedLoopJoin") == 1, p
    assert "collect_list" in p, p


def test_q7_reduces_facts_before_fact_join(spark):
    """VERDICT r5 join-order fix: nation-filtered supplier/customer must
    broadcast-reduce lineitem and orders BELOW the fact⋈fact join, so at
    scale the big shuffle carries only the ~2/25-nations survivors.  In the
    optimized plan tree (parents print above children) the orderkey join
    line must sit ABOVE both broadcast-hinted dim joins, and the two-nation
    membership filter must sit on the nation relations themselves."""
    p = optimized(QUERIES["q7_volume_shipping"](spark, SF_SMALL))
    lines = p.splitlines()
    fact_idx = next(
        i
        for i, ln in enumerate(lines)
        if "Join Inner" in ln and "l_orderkey" in ln and "o_orderkey" in ln
    )
    supp_idx = next(
        i
        for i, ln in enumerate(lines)
        if "strategy=broadcast" in ln and "s_suppkey" in ln
    )
    cust_idx = next(
        i
        for i, ln in enumerate(lines)
        if "strategy=broadcast" in ln and "c_custkey" in ln
    )
    assert fact_idx < supp_idx and fact_idx < cust_idx, p
    assert p.count("IN (NATION_3,NATION_7)") >= 2, p


def test_funnel_stages_shuffle_on_user_id_only(spark):
    """Every exchange in the funnel keys on user_id (stage joins + aggs
    line up on one key); no exchange repartitions on anything else."""
    p = plan(QUERIES["events_funnel"](spark, SF_SMALL))
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_#0-9L]+)", p):
        assert m.group(1).startswith("user_id"), m.group(0)


def test_q19_envelope_predicates_reach_both_scans(spark):
    """The explicit envelope conjuncts (quantity 1-30, size 1-15, brand IN)
    must push to the parquet scans — the disjunction alone pushes nothing,
    and at 100 TB the envelope is the scan-cut."""
    p = plan(QUERIES["q19_discounted_revenue"](spark, SF_SMALL))
    pushed = [seg.split("]")[0] for seg in p.split("PushedFilters: [")[1:]]
    assert any("l_quantity" in s for s in pushed), p
    assert any("p_size" in s and "p_brand" in s for s in pushed), p


def test_q15_max_is_broadcast_not_global_sort(spark):
    """The scalar max must come back as a broadcast join over the
    per-supplier agg — no global sort, no single-partition window."""
    p = plan(QUERIES["q15_top_supplier"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "Window" not in p, p


def test_q8_reduces_facts_before_fact_join(spark):
    """q8 must follow the q7 discipline: type-filtered part, supplier+nation
    and region-restricted customer broadcast-reduce the facts BELOW the
    lineitem⋈orders join (the only data-sized shuffle)."""
    p = optimized(QUERIES["q8_market_share"](spark, SF_SMALL))
    lines = p.splitlines()
    fact_idx = next(
        i
        for i, ln in enumerate(lines)
        if "Join Inner" in ln and "l_orderkey" in ln and "o_orderkey" in ln
    )
    part_idx = next(
        i
        for i, ln in enumerate(lines)
        if "strategy=broadcast" in ln and "p_partkey" in ln
    )
    supp_idx = next(
        i
        for i, ln in enumerate(lines)
        if "strategy=broadcast" in ln and "s_suppkey" in ln
    )
    cust_idx = next(
        i
        for i, ln in enumerate(lines)
        if "strategy=broadcast" in ln and "c_custkey" in ln
    )
    assert fact_idx < part_idx and fact_idx < supp_idx and fact_idx < cust_idx, p


def test_q9_reduces_facts_before_fact_join(spark):
    """q9 must follow the q7/q8 discipline: the '%red%'-filtered part dim
    and supplier⋈nation broadcast-reduce lineitem BELOW the
    lineitem⋈orders join, so the only data-sized shuffle carries just the
    name-filtered survivors."""
    p = optimized(QUERIES["q9_product_type_profit"](spark, SF_SMALL))
    lines = p.splitlines()
    fact_idx = next(
        i
        for i, ln in enumerate(lines)
        if "Join Inner" in ln and "l_orderkey" in ln and "o_orderkey" in ln
    )
    part_idx = next(
        i
        for i, ln in enumerate(lines)
        if "strategy=broadcast" in ln and "p_partkey" in ln
    )
    supp_idx = next(
        i
        for i, ln in enumerate(lines)
        if "strategy=broadcast" in ln and "s_suppkey" in ln
    )
    assert fact_idx < part_idx and fact_idx < supp_idx, p


def test_q21_exists_pair_is_one_aggregate_no_self_joins(spark):
    """The Spark-first Q21 decorrelation replaces EXISTS + NOT EXISTS with
    one (order, supplier) aggregate + a window over l_orderkey — the plan
    must contain no semi/anti joins and every heavy exchange must lead
    with l_orderkey."""
    import re

    p = plan(QUERIES["q21_waiting_suppliers"](spark, SF_SMALL))
    assert "LeftSemi" not in p and "LeftAnti" not in p, p
    fact_keys = {
        m.group(1).split("#")[0]
        for m in re.finditer(r"Exchange hashpartitioning\(([a-zA-Z_0-9#L]+)", p)
    }
    assert fact_keys <= {"l_orderkey", "s_name"}, fact_keys


def test_q20_nested_in_decorralates_to_semi_chain(spark):
    p = plan(QUERIES["q20_bulk_shippers"](spark, SF_SMALL))
    assert p.count("LeftSemi") >= 2, p


def test_q2_min_equality_joins_back_broadcast(spark):
    """The per-part MIN must come back as a broadcast equality join over
    the offers agg (the q15 pattern keyed per part) — no window, no
    global sort before the final tiny output."""
    p = plan(QUERIES["q2_min_cost_supplier"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "Window" not in p, p


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark gram index is tiny by construction — it must broadcast;
    a sort-merge join on the gram column would shuffle the whole train
    corpus's exploded grams at 100 TB."""
    p = plan(QUERIES["text_decontaminate"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_salted_join_shuffles_on_key_plus_salt(spark):
    """The salted join must exchange on (orderkey, salt) — the whole point
    is spreading one hot key over R partitions — and the salt must never
    survive into the declared output."""
    df = QUERIES["join_salted_skew"](spark, SF_SMALL)
    p = plan(df)
    assert "SortMergeJoin" in p, p
    import re

    ex = [
        m.group(0)
        for m in re.finditer(r"Exchange hashpartitioning\([^)]*\)", p)
    ]
    assert any("salt" in e and "orderkey" in e for e in ex), ex
    assert "salt" not in df.columns


def test_q12_pushes_shipdate_band_to_scan(spark):
    """q12's 1997 ship-year band must reach the lineitem parquet scan; the
    late predicate (references both sides) stays a join residual."""
    p = plan(QUERIES["q12_late_lines_priority"](spark, SF_SMALL))
    pushed = [seg.split("]")[0] for seg in p.split("PushedFilters: [")[1:]]
    assert any("l_shipdate" in s for s in pushed), pushed


def test_q16_excludes_suppliers_via_broadcast_anti(spark):
    """q16's NOT-IN supplier exclusion must be a broadcast LEFT ANTI (the
    excluded set is a handful of rows), and countDistinct must be the
    two-phase expand (>= 2 HashAggregate pairs)."""
    p = plan(QUERIES["q16_supplier_part_counts"](spark, SF_SMALL))
    assert "LeftAnti, BuildRight" in p or ("LeftAnti" in p and "Broadcast" in p), p
    assert p.count("HashAggregate") >= 4, p


def test_audit_fk_checks_are_anti_joins(spark):
    p = plan(QUERIES["audit_constraints"](spark, SF_SMALL))
    assert p.count("LeftAnti") >= 2, p


def test_incremental_merge_sums_longs_not_decimals(spark):
    """The merge stage must combine int64 partials — a decimal or double
    partial would break the bit-identical-merge contract."""
    p = plan(QUERIES["agg_incremental_merge"](spark, SF_SMALL))
    partials = [ln for ln in p.splitlines() if "partial_sum" in ln]
    assert partials and not any("Decimal" in ln for ln in partials), p


def test_anomaly_mad_windows_run_on_histogram(spark):
    """VERDICT r6 re-plan: the exact medians must select order statistics
    from the per-(event_type, value) COUNT HISTOGRAM, never sort raw rows
    under a 5-value partition key.  Every Window node is therefore a
    cumulative/selection SUM over histogram counts (no row_number ranks
    raw events), and — the window-value form — the raw table is scanned
    and hash-aggregated EXACTLY once (the grouped-agg+join-back form
    re-ran the histogram subtree ~7x; measured 1.9 s -> 0.8 s at sf0.1)."""
    p = plan(QUERIES["events_anomaly_mad"](spark, SF_SMALL))
    assert "row_number" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("sum(" in ln for ln in wins), p
    assert p.count("Scan parquet") == 1, p


def test_repetition_profile_is_zero_shuffle(spark):
    """text_repetition_profile claims ZERO-SHUFFLE MAP: all dup-fraction
    arithmetic is per-row codegen array work — no Exchange, no Window, no
    aggregate anywhere in the physical plan."""
    p = plan(QUERIES["text_repetition_profile"](spark, SF_SMALL))
    assert "Exchange" not in p, p
    assert "Window" not in p, p
    assert "Aggregate" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_sequence_pack_windows_only_by_bucket(spark):
    """pipeline_sequence_pack claims sharded packing: the running-sum
    window partitions by the 16-value md5 bucket (never a global
    single-partition sort), and no Exchange collapses to one partition."""
    p = plan(QUERIES["pipeline_sequence_pack"](spark, SF_SMALL))
    assert "SinglePartition" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("bucket" in ln for ln in wins), p


def test_bottom_k_prunes_via_window_group_limit(spark):
    """sample_bottom_k claims the mergeable-reservoir execution shape:
    WindowGroupLimit keeps k rows per input partition BEFORE the
    per-stratum shuffle, so the exchange carries O(k * partitions) rows."""
    p = plan(QUERIES["sample_bottom_k"](spark, SF_SMALL))
    assert "WindowGroupLimit" in p, p


def test_revenue_deciles_has_no_unpartitioned_window(spark):
    """VERDICT r7 re-plan: customer_revenue_deciles reproduces the ntile
    oracle via two-level ranking — no ntile anywhere, every Window node
    partitioned (by the coarse value bucket), and no SinglePartition
    exchange feeding a data-sized sort (the final repartition(1) carries
    the 10-row output only, which Spark plans as Exchange SinglePartition
    over the aggregate — so assert on Window/ntile, the flagged shape)."""
    p = plan(QUERIES["customer_revenue_deciles"](spark, SF_SMALL))
    assert "ntile" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("bkt" in ln for ln in wins), p


def test_bloom_prefilter_broadcasts_position_set(spark):
    """text_bloom_prefilter claims the KB-sized filter side broadcasts
    (never a sort-merge join against the corpus): both the position-set
    probe and the exact-membership verify must be broadcast hash joins."""
    p = plan(QUERIES["text_bloom_prefilter"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_quality_filter_is_one_joinless_pass(spark):
    """pipeline_quality_filter claims ONE zero-join codegen pass: all four
    stage metrics are per-row array math, no Join anywhere, exactly one
    corpus scan, and the only aggregate is the 1-row conditional-count
    pair (partial + final)."""
    p = plan(QUERIES["pipeline_quality_filter"](spark, SF_SMALL))
    assert "Join" not in p, p
    assert p.count("Scan parquet") == 1, p
    assert "Window" not in p, p


def test_cusum_windows_run_on_minute_histogram(spark):
    """events_cusum_changepoint claims the histogram-on-the-time-axis
    discipline: raw events are hash-aggregated to the per-(type, minute)
    series BEFORE any window, so every Window node keys on the series
    (partitioned by event_type over minute rows), never raw events, and
    the corpus is scanned exactly once."""
    p = plan(QUERIES["events_cusum_changepoint"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("event_type" in ln for ln in wins), p
    # the window input is the minute aggregate: its sums range over y/a,
    # the per-minute totals — row_number over raw rows would show ts
    assert not any("ts_ns" in ln for ln in wins), p


def test_pack_chunk_reader_one_scan_no_join(spark):
    """pipeline_pack_chunk_reader claims bounded interval EXPANSION, not a
    chunk×doc range join: one corpus scan, a Generate(explode(sequence))
    fanout, windows keyed only by bucket, and no Join node anywhere."""
    p = plan(QUERIES["pipeline_pack_chunk_reader"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert "Join" not in p, p
    assert "SinglePartition" not in p, p
    assert "Generate explode" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("bucket" in ln for ln in wins), p


def test_pack_append_audit_windows_bucket_only(spark):
    """pipeline_pack_append_audit claims the standard sharded packing
    shape: the one layout window partitions by bucket (never a global
    sort), the cutoff is a broadcast 1-row attach, and the audit agg adds
    no extra corpus scan beyond the column-pruned max(doc_id) pass."""
    p = plan(QUERIES["pipeline_pack_append_audit"](spark, SF_SMALL))
    # the only SinglePartition exchanges allowed are 1-row global-agg
    # partials (the cutoff); no data-sized global sort may exist
    assert "rangepartitioning" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("bucket" in ln for ln in wins), p
    assert p.count("Scan parquet") == 2, p  # main + pruned max(doc_id)


def test_ltv_cohorts_windows_partitioned_and_one_scan(spark):
    """customer_ltv_cohorts claims: orders scanned once, hash-reduced to
    (customer, month) BEFORE any window, m0 via a customer-partitioned
    window (no join back), report windows partitioned by cohort — no
    unpartitioned Window or global sort anywhere in the data path."""
    p = plan(QUERIES["customer_ltv_cohorts"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all(("o_custkey" in ln) or ("m0" in ln) for ln in wins), p
    assert "rangepartitioning" not in p, p


def test_doc_chunks_is_map_side_only(spark):
    """pipeline_doc_chunks claims a pure map-side explode: split,
    sequence, slice, md5 all in one codegen stage over one scan — no
    Exchange, no Window, no Aggregate at any corpus size."""
    p = plan(QUERIES["pipeline_doc_chunks"](spark, SF_SMALL))
    assert "Exchange" not in p, p
    assert "Window" not in p, p
    assert "Aggregate" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_doc_keywords_prunes_via_window_group_limit(spark):
    """text_doc_keywords' top-3-per-doc window must plan as
    WindowGroupLimit (3 rows per doc survive the partial pass before the
    doc-keyed exchange) with the vocabulary-bounded df side broadcast."""
    p = plan(QUERIES["text_doc_keywords"](spark, SF_SMALL))
    assert "WindowGroupLimit" in p, p
    assert "BroadcastHashJoin" in p, p


def test_session_concurrency_one_user_shuffle(spark):
    """events_session_concurrency claims sessionization costs ONE shuffle:
    both stacked windows (lag marker + running sum) share a single
    user_id exchange/sort, sessions collapse to bounds BEFORE the
    interval explode, and the only other exchange is the hour rollup."""
    p = plan(QUERIES["events_session_concurrency"](spark, SF_SMALL))
    assert p.count("Exchange hashpartitioning(user_id") == 1, p
    assert "SinglePartition" not in p, p
    # bounds (min/max per session) aggregate precedes the explode
    gen = p.index("Generate explode(sequence")
    assert "HashAggregate" in p[gen:], p


def test_gini_windows_partition_by_nation(spark):
    """customer_gini_by_nation: the rank window partitions by nation
    (never a global sort — the deciles lesson), the fact collapses to
    per-customer rows before any join, and the 25-row dim broadcasts."""
    p = plan(QUERIES["customer_gini_by_nation"](spark, SF_SMALL))
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("n_name" in ln for ln in wins), p
    assert "SinglePartition" not in p, p
    assert "BroadcastExchange" in p, p


def test_cosine_histogram_broadcasts_sample(spark):
    """embedding_cosine_histogram: the fixed-size hash-ordered sample cut
    plans as TakeOrderedAndProject (per-partition top-K, never a global
    Sort+Exchange — VERDICT r11 #1; asserted on the pre-checkpoint sample
    tree, which the query's localCheckpoint hides) and broadcasts onto
    the pair self-join (never a shuffle of pair rows)."""
    from paraslice_spark.operators.similarity import _coshist_sample

    p = plan(QUERIES["embedding_cosine_histogram"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p
    ps = plan(_coshist_sample(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in ps, ps
    assert "rangepartitioning" not in ps.lower(), ps


def test_int8_quant_audit_is_map_side_only(spark):
    """embedding_int8_quant_audit claims a pure per-row array map: no
    Exchange, no Aggregate, no Generate — one pass over the memoized
    embeddings base (r16: `_emb_base_cached`, scale-adaptively
    partitioned), all codegen."""
    p = plan(QUERIES["embedding_int8_quant_audit"](spark, SF_SMALL))
    assert "Exchange" not in p, p
    assert "Aggregate(" not in p, p
    assert p.count("Scan parquet") == 0, p
    assert p.count("Scan ExistingRDD") == 1, p


def test_funnel_latency_windows_run_on_histogram(spark):
    """events_funnel_latency selects its p50/p90 from the per-(step,
    second) count histogram: every Window cumulates counts (no
    row_number over raw latencies), partitioned by step."""
    p = plan(QUERIES["events_funnel_latency"](spark, SF_SMALL))
    assert "row_number" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("sum(" in ln and "step" in ln for ln in wins), p


def test_hhi_broadcasts_part_and_never_squares_fact_rows(spark):
    """supplier_hhi_by_type: the part dim broadcasts onto the single
    fact pass; the q^2 squaring runs above the (type, supplier)
    aggregate, never on lineitem rows."""
    p = plan(QUERIES["supplier_hhi_by_type"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    # the only multiplies of the aggregated quantity live INSIDE
    # HashAggregate function lists (sum(q_c * q_c)); a regression that
    # squared fact rows would put the multiply in a Project over the scan
    mul_lines = [ln for ln in p.splitlines() if "* q_c" in ln]
    assert mul_lines and all("HashAggregate" in ln for ln in mul_lines), p


def test_ship_latency_windows_run_on_histogram(spark):
    """orders_ship_latency: selection windows cumulate histogram counts
    partitioned by priority — no row_number over raw line rows."""
    p = plan(QUERIES["orders_ship_latency"](spark, SF_SMALL))
    assert "row_number" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all(
        "sum(" in ln and "o_orderpriority" in ln for ln in wins
    ), p


def test_watermark_audit_prefix_scan_decomposition(spark):
    """events_watermark_late_audit claims the distributed prefix scan:
    the in-bucket and L1 windows are PARTITIONED (b1 / b2); the only
    unpartitioned window runs on the L2 summary — above an Aggregate
    keyed by b2, never on raw event rows."""
    import re

    p = plan(QUERIES["events_watermark_late_audit"](spark, SF_SMALL))
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 3, p
    # partitioned Window nodes print a non-empty partition-spec list
    # (..., [b1#..L], [order...]); the unpartitioned one has only the
    # order list and must be the L2 (m2) summary window
    unpart = [ln for ln in wins
              if not re.search(r"\], \[b[12]#\d+L?\], \[", ln)]
    assert len(unpart) == 1 and "m2" in unpart[0], p


def test_watermark_replay_prefix_scan_decomposition(spark):
    """The planted-disorder base keeps the same three-level shape with
    hash-derived buckets: exactly one unpartitioned Window and it runs
    on the <=256-row L2 summary (m2), never on raw event rows.  The
    DECLARED consumers (replay, delay sweep) read this frame through
    the per-(session, sf) memo, so the plan is asserted on the base
    builder itself (the memoized-base precedent)."""
    import re

    from paraslice_spark.operators.reshape import (
        _replay_arrival_frame,
        _wm_prefix_frame,
    )
    from paraslice_spark.sources.io import load_tables

    ev = load_tables(spark, SF_SMALL)["events"]
    wm, _ = _wm_prefix_frame(_replay_arrival_frame(ev), ["h", "event_id"])
    p = plan(wm)
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 3, p
    unpart = [ln for ln in wins
              if not re.search(r"\], \[b[12]#\d+L?\], \[", ln)]
    assert len(unpart) == 1 and "m2" in unpart[0], p


def test_ks_two_level_prefix_scan(spark):
    """orders_ks_price_shift claims the two-level prefix scan: the
    in-bucket cumsum windows are PARTITIONED by bkt; the only
    unpartitioned window runs on the ~55-row bucket summary (above an
    Aggregate keyed by bkt); the argmax is TakeOrderedAndProject, never
    a global Sort+Limit."""
    p = plan(QUERIES["orders_ks_price_shift"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p, p
    # the value histogram is checkpointed once — no repeated fact scans
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 2, p
    # partitioned Window nodes print partition+order lists ("], [" twice)
    part = [ln for ln in wins if ln.count("], [") == 2]
    assert len(part) == 1 and "windowspecdefinition(bkt" in part[0], p
    # the unpartitioned one cumulates bucket totals (b1/b2), not values
    unpart = [ln for ln in wins if ln.count("], [") == 1]
    assert len(unpart) == 1 and "sum(b1" in unpart[0], p
    assert "BroadcastExchange" in p, p


def test_mannwhitney_window_on_value_vocabulary(spark):
    """lineitem_mannwhitney_u claims ranks-never-touch-a-row: the
    returnflag predicate is pushed to the scan, the corpus is scanned
    once, and the single (unpartitioned, vocabulary-sized) running-count
    window consumes the post-aggregate tie histogram — no row_number, no
    raw fact columns in the window."""
    p = plan(QUERIES["lineitem_mannwhitney_u"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert "PushedFilters: [In(l_returnflag" in p, p
    assert "row_number" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    # ordered by the post-aggregate value column, never a raw fact column
    assert len(wins) == 1 and "windowspecdefinition(v#" in wins[0], p
    assert "l_quantity" not in wins[0], p


def test_autocorr_shift_join_no_windows(spark):
    """events_autocorr_minutes claims the exploded shift-JOIN lag plan:
    no Window node anywhere (lags come from a minute-id equi-join, so
    the series never funnels through one task), moment scalars broadcast,
    and the 5 lags ride one Generate explode, not five joins."""
    p = plan(QUERIES["events_autocorr_minutes"](spark, SF_SMALL))
    assert "Window [" not in p, p
    assert "BroadcastExchange" in p, p
    assert p.count("Generate explode") >= 1, p
    assert p.count("SortMergeJoin") <= 1, p


def test_backlog_windows_on_calendar_spine(spark):
    """orders_backlog_profile claims the calendar-bounded prefix scan: the
    per-order interval table is checkpointed once (no repeated fact
    scans), and the single running-sum window consumes generated day
    rows — post-aggregate counts, never order rows."""
    p = plan(QUERIES["orders_backlog_profile"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "row_number" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 1 and "windowspecdefinition(d#" in wins[0], p
    assert "o_orderkey" not in wins[0], p
    assert "Generate explode(sequence" in p, p


def test_benford_is_one_scan_digit_agg(spark):
    """orders_benford_audit claims one corpus scan collapsing to the
    9-digit histogram, the grand total broadcast back, no windows."""
    p = plan(QUERIES["orders_benford_audit"](spark, SF_SMALL))
    # the checkpointed 9-row digit histogram feeds both consumers
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "Window [" not in p, p
    assert "BroadcastExchange" in p, p


def test_ohlc_windows_partition_by_hour(spark):
    """events_ohlc_hourly: one corpus scan; both window functions
    (positional rank + bar size) partition by the bar id, never run
    globally."""
    p = plan(QUERIES["events_ohlc_hourly"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("windowspecdefinition(hour" in ln for ln in wins), p


def test_reorder_gaps_lag_partitions_by_customer(spark):
    """customer_reorder_gaps: the lag window partitions by customer
    (high-cardinality key), the customer dim broadcasts, and the
    selection windows run on the per-segment gap histogram."""
    p = plan(QUERIES["customer_reorder_gaps"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    lag = [ln for ln in wins if "lag(" in ln]
    assert len(lag) == 1 and "o_custkey" in lag[0], p
    assert all("segment" in ln for ln in wins if "lag(" not in ln), p
    assert "row_number" not in p, p


def test_psi_is_binned_conditional_agg(spark):
    """events_value_drift_psi: the checkpointed bin projection feeds the
    midpoint agg and the histogram (one fact scan), no windows, scalars
    broadcast."""
    p = plan(QUERIES["events_value_drift_psi"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "Window [" not in p, p
    assert "BroadcastExchange" in p, p


def test_tukey_fences_windows_run_on_histogram(spark):
    """The fences query claims the anomaly_mad shape: quartiles selected
    from the per-(type, value) count histogram as window values — no
    row_number over raw events, one raw-table scan, every Window a
    cumulative/selection SUM over histogram counts."""
    p = plan(QUERIES["events_tukey_fences"](spark, SF_SMALL))
    assert "row_number" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("sum(" in ln for ln in wins), p
    assert p.count("Scan parquet") == 1, p


def test_incremental_audit_has_no_window(spark):
    """dedup_incremental_audit claims the rn=1 formulation collapsed into
    per-fp conditional MINs: no Window node at all, one documents scan
    (plus the 1-row cutoff scan), and the cutoff attaches by broadcast."""
    p = plan(QUERIES["dedup_incremental_audit"](spark, SF_SMALL))
    assert "Window [" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert p.count("Scan parquet") == 2, p


def test_shard_manifest_single_pass(spark):
    """The manifest is ONE map-combined groupBy: a single scan, a single
    shuffle Exchange, no Window, no collect_list of per-doc digests."""
    p = plan(QUERIES["pipeline_shard_manifest"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert "Window [" not in p and "collect_list" not in p, p
    exch = [ln for ln in p.splitlines()
            if "Exchange" in ln and "Broadcast" not in ln]
    assert len(exch) == 1, p


def test_band_migration_no_ranking(spark):
    """Bands are absolute thresholds — no rank/ntile/Window pass anywhere
    (the deciles lesson solved by rule), and orders collapse before the
    customer-spine join."""
    p = plan(QUERIES["customer_band_migration"](spark, SF_SMALL))
    assert "Window [" not in p and "ntile" not in p, p
    assert "row_number" not in p, p


def test_stats_histogram_window_on_distinct_values(spark):
    """stats_histogram_lineitem: the min/max window runs over the
    per-(col, v) DISTINCT-value histogram (below an Aggregate), never raw
    stacked rows, and the raw table is scanned once."""
    p = plan(QUERIES["stats_histogram_lineitem"](spark, SF_SMALL))
    # the histogram base is the memoized localCheckpoint (no parquet
    # re-scan — the PSI/memo precedent)
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 1 and "min(" in wins[0] and "max(" in wins[0], p
    assert "row_number" not in p, p


def test_pareto_skyline_single_window_no_self_join(spark):
    """customer_pareto_skyline claims the sort-based skyline: the two
    dominance extremes share ONE Window node partitioned by segment
    (same spec → Catalyst fuses m1/m2), the customer dim broadcasts,
    and there is NO quadratic self-join anywhere."""
    p = plan(QUERIES["customer_pareto_skyline"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 2, p
    assert "BroadcastExchange" in p and "SortMergeJoin" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 1 and "c_mktsegment" in wins[0], p
    assert "RangeFrame, 1, unboundedfollowing" in wins[0], p
    assert "row_number" not in p, p


def test_theil_sen_windows_on_slope_histogram(spark):
    """events_theil_sen_trend claims the histogram-selection median:
    both windows consume the per-slope COUNT table (post-aggregate cnt
    column), never raw pair rows, and the whole query reads the
    checkpointed hour series (no parquet re-scan); moment scalars
    broadcast."""
    p = plan(QUERIES["events_theil_sen_trend"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 2, p
    assert all("cnt#" in w for w in wins), p
    assert "row_number" not in p, p
    assert "BroadcastExchange" in p, p


def test_skew_audit_rides_memo_windows_on_buckets(spark):
    """stats_shuffle_skew_audit claims the shared-memo shape: the
    lineitem histogram arrives via the per-session localCheckpoint
    (Scan ExistingRDD — no lineitem parquet re-scan; the only parquet
    read is orders for o_custkey), and the ranking windows run on the
    ≤256-row per-column bucket table (bc), never on raw rows."""
    p = plan(QUERIES["stats_shuffle_skew_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1 and "Scan ExistingRDD" in p, p
    assert "orders" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("col#" in w for w in wins), p
    assert all("bc#" in w or "count(1)" in w for w in wins), p


def test_attribution_one_scan_one_window_pass(spark):
    """events_attribution_last_touch claims the as-of window shape: the
    type filter is pushed to the events scan, BOTH carried-touch
    columns fuse into ONE Window node partitioned by user (same spec),
    and there is no self-join or per-purchase lookback scan."""
    p = plan(QUERIES["events_attribution_last_touch"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert "In(event_type" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 1 and "user_id" in wins[0], p
    assert "Join" not in p, p


def test_assortativity_rides_knn_memo_broadcast_degrees(spark):
    """graph_degree_assortativity claims the memoized-graph shape: no
    parquet re-scan (edges come from the per-session kNN checkpoint),
    the degree dim joins back by BROADCAST twice, no sort-merge join,
    no windows — a pure O(n·k) agg pipeline."""
    p = plan(QUERIES["graph_degree_assortativity"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert p.count("BroadcastExchange") >= 2, p
    assert "SortMergeJoin" not in p and "Window [" not in p, p


def test_novelty_curve_gated_vocab_dim(spark, monkeypatch):
    """text_novelty_curve claims the tfidf-df shape: one tokenization
    pass materialized (the word frame re-read as ExistingRDD, not
    re-exploded) and no windows or sorts anywhere.  The word→first_doc
    dim is corpus-growing, so its broadcast is GATED (vocab_broadcast,
    VERDICT r9): by default the plan must carry no unconditional hint on
    it (only the 1-row bounds broadcast remains); under
    PARASLICE_BROADCAST_VOCAB=1 the hinted broadcast-hash join returns."""
    monkeypatch.delenv("PARASLICE_BROADCAST_VOCAB", raising=False)
    p = plan(QUERIES["text_novelty_curve"](spark, SF_SMALL))
    assert "Scan ExistingRDD" in p, p
    assert "Window [" not in p and "row_number" not in p, p
    monkeypatch.setenv("PARASLICE_BROADCAST_VOCAB", "1")
    forced = plan(QUERIES["text_novelty_curve"](spark, SF_SMALL))
    assert "SortMergeJoin" not in forced, forced
    # stand-alone ON-branch guarantee (ADVICE r10 #3): the forced plan must
    # contain a broadcast-hash join outright.  A strict > on exchange count
    # is impossible at this SF — the gated default ALSO broadcasts (the
    # static planner sizes the tiny dim under the 10MB threshold, which is
    # exactly the gate's contract: planner-chosen, not hint-forced).
    assert "BroadcastHashJoin" in forced, forced
    assert forced.count("BroadcastExchange") >= p.count("BroadcastExchange"), (
        p, forced,
    )


def test_tensor_skew_windows_on_nnz_histogram(spark):
    """tensor_mode_skew_profile claims the histogram-selection shape:
    every statistic window is PARTITIONED BY mode and consumes the
    per-(mode, nnz) COUNT table (cnt/nnz columns), never cells or
    slices; no ranking pass anywhere."""
    p = plan(QUERIES["tensor_mode_skew_profile"](spark, SF_SMALL))
    assert "row_number" not in p, p
    wins = [
        ln for ln in p.splitlines()
        if "Window [" in ln and "dense_rank" not in ln
    ]
    assert len(wins) == 3 and all("mode#" in w for w in wins), p
    assert all("cnt#" in w or "_w0#" in w for w in wins), p
    # the dense_rank dictionary windows run over DISTINCT dim values only
    # (the T1 builder contract, asserted in its own test)


def test_tensor_gram_single_scan_reused_exchange(spark):
    """tensor_unfold_gram_type claims the relational-MTTKRP shape: ONE
    events scan feeding both self-join sides (Catalyst reuses the
    exchange), a key-to-key join on (user, hour) — never a cartesian —
    and no windows; the 25-row gram is a map-combined agg."""
    p = plan(QUERIES["tensor_unfold_gram_type"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert "CartesianProduct" not in p and "Window [" not in p, p
    assert "Join" in p, p


def test_eqdepth_histogram_rides_memo_windows_on_values(spark):
    """stats_eqdepth_histogram_lineitem claims the r16 distributed-rank
    shape (VERDICT r15 #6, the window_distribution idiom): no parquet
    scan (the histogram base is the per-session localCheckpoint), the
    DATA-sized cumulative window partitioned by (pid, col) — never by
    col alone, which funnels each column's whole distinct-value set
    through one task — the per-(pid, col) segment offsets/totals
    windowed over the tiny segment frame and broadcast back, no
    ranking."""
    p = plan(QUERIES["stats_eqdepth_histogram_lineitem"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "row_number" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 3, p
    # the v-ordered cumulative-mass window must carry pid in its
    # partition spec (the balanced shape); the two pid-free windows are
    # the offset/total pair over the <= P*5-row segment frame
    data_wins = [w for w in wins if "windowspecdefinition(pid#" in w]
    assert len(data_wins) == 1 and "cnt#" in data_wins[0], p
    assert "BroadcastExchange" in p, p


def test_quantizer_append_audit_pure_codegen_rollup(spark):
    """similarity_quantizer_append_audit claims the two-columnar-pass
    shape: no window anywhere, no sort-merge join (everything joins
    through 1-row broadcasts), and — deliberately — NO Python in the
    path (the 8 bit tests are codegen compare-and-add, not the signlsh
    matmul UDF)."""
    p = plan(QUERIES["similarity_quantizer_append_audit"](spark, SF_SMALL))
    assert "Window [" not in p and "row_number" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "EvalPython" not in p, p  # Batch- and Arrow- both
    assert p.count("BroadcastExchange") >= 3, p


def test_session_watermark_audit_plan_shape(spark):
    """events_session_watermark_audit claims the prefix-scan + one-user-
    shuffle shape: the only unpartitioned window runs on the L2 bucket
    summary (m2), the bucket offsets broadcast back (no sort-merge
    join anywhere), and the sessionize windows ride EXACTLY ONE
    user_id exchange."""
    import re

    p = plan(QUERIES["events_session_watermark_audit"](spark, SF_SMALL))
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 5, p
    unpart = [
        ln for ln in wins
        if not re.search(r"\], \[(b[12]|user_id)#\d+L?\], \[", ln)
    ]
    assert len(unpart) == 1 and "m2" in unpart[0], p
    assert "SortMergeJoin" not in p, p
    assert p.count("hashpartitioning(user_id") == 1, p


def test_join_cardinality_audit_rides_memo(spark):
    """stats_join_cardinality_audit claims the shared-memo shape: no
    lineitem parquet scan (the per-(col, v) histogram base is the
    per-session localCheckpoint; only the small orders agg scans
    parquet), min/max windows over distinct values partitioned by col,
    and no ranking pass anywhere."""
    p = plan(QUERIES["stats_join_cardinality_audit"](spark, SF_SMALL))
    assert "Scan ExistingRDD" in p, p
    scans = [ln for ln in p.splitlines() if "Scan parquet" in ln]
    assert all("orders" in ln for ln in scans) and len(scans) == 1, p
    assert "row_number" not in p and "ntile" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("col#" in w for w in wins), p


def test_release_diff_two_map_combined_rollups(spark):
    """pipeline_release_diff claims the manifest shape widened to 256
    shards: one documents pass into a map-combined shard rollup, then a
    3-key rollup — no window, no join beyond the 1-row cutoff
    broadcast, nothing ordered."""
    p = plan(QUERIES["pipeline_release_diff"](spark, SF_SMALL))
    assert "Window [" not in p and "Sort " not in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastExchange") == 1, p
    assert p.count("partial_count") >= 1 and p.count("HashAggregate") >= 4, p


def test_survivorship_bias_single_fp_shuffle(spark):
    """dedup_survivorship_bias claims the one-dedup-exchange shape: the
    winner AND its band come out of the same fp aggregation (min +
    min_by), so the plan has no second join back to fetch the winner's
    band, no window, and exactly one fp-keyed exchange pair (partial +
    final agg) plus the band rollup."""
    p = plan(QUERIES["dedup_survivorship_bias"](spark, SF_SMALL))
    assert "Window [" not in p and "row_number" not in p, p
    assert p.count("hashpartitioning(fp") == 1, p
    joins = [ln for ln in p.splitlines() if "Join" in ln and "Broadcast" not in ln]
    assert len(joins) <= 1, p


def test_kmv_intersection_prunes_via_window_group_limit(spark):
    """agg_kmv_intersection_error claims the bottom-k reservoir shape:
    the per-pair rank window stands alone so rk <= k plans as
    WindowGroupLimit (only k rows per input partition reach the 10-pair
    exchange), the pair frames are a map-side explode (no join builds
    them), and the sketch side broadcasts back onto the exact rollup."""
    p = plan(QUERIES["agg_kmv_intersection_error"](spark, SF_SMALL))
    # Partial prune runs map-side BEFORE the pair exchange, Final after
    assert p.count("WindowGroupLimit") == 2 and "Partial" in p, p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p
    # the pair frames are the one-materialization explode base (the
    # multi-consumer localCheckpoint idiom), not a join build
    assert "Scan ExistingRDD" in p, p


def test_retention_survivorship_single_events_pass(spark):
    """events_retention_survivorship claims the checkpointed-act shape:
    the O(users x days) distinct table is materialized once (events
    never re-scanned per consumer), bands come from a 1-row bounds
    broadcast (no rank window anywhere), and cohort sizes arrive by
    broadcast — no sort-merge join in the plan."""
    p = plan(QUERIES["events_retention_survivorship"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "Window [" not in p and "row_number" not in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastExchange") >= 2, p  # bounds + cohort sizes


def test_split_stability_two_global_windows_and_windowless_hash_branch(spark):
    """sample_split_stability_audit claims its OWN lesson as plan shape:
    the ordinal branch needs exactly TWO global (unpartitioned) rank
    windows — the full-sort evidence the docstring cites — while the
    hash branch contributes zero windows; the doc_id column feeds all
    consumers from one checkpoint (documents scanned once)."""
    p = plan(QUERIES["sample_split_stability_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wins) == 2, p
    # unpartitioned: the Window lines carry an ORDER spec but no
    # partition expressions before it (global sort is the point)
    assert all("row_number" in w for w in wins), p
    assert "SortMergeJoin" not in p, p


def test_shard_balance_single_cell_rollup(spark):
    """pipeline_shard_balance_audit claims the one-shuffle shape: the
    <=(16·langs)-row (shard, lang) cell table is checkpointed and every
    other frame (shard totals, corpus totals, grid, deviations) derives
    from it — documents scanned once, no window, no sort-merge join."""
    p = plan(QUERIES["pipeline_shard_balance_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "Window [" not in p and "SortMergeJoin" not in p, p


def test_sample_error_sweep_zero_shuffle_single_pass(spark):
    """stats_sample_error_sweep claims the delay-sweep shape: ONE parquet
    pass, all four rates as conditional aggregates in one map-combined
    global agg (zero hash exchanges), a 4-row stack after — no join, no
    window, nothing ordered upstream of the 4-row presentation sort."""
    p = plan(QUERIES["stats_sample_error_sweep"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "Window [" not in p and "Join" not in p, p
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in p, p


def test_pack_waste_sweep_single_offsets_pass(spark):
    """pipeline_pack_waste_sweep claims the sweep shape: the offsets
    layout (window + its per-bucket exchange) is built once inside the
    checkpoint; the visible plan is two map-combined aggs over the
    checkpointed frame (all four ctx values as conditional aggregates —
    no per-ctx re-scan), a 4-row broadcast combine, and nothing else —
    no parquet re-scan, no sort-merge join, no window."""
    p = plan(QUERIES["pipeline_pack_waste_sweep"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "Window [" not in p and "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_signlsh_band_sweep_plan_shape(spark):
    """similarity_signlsh_band_sweep claims: the signature frame is ONE
    pass over the memoized embeddings base (r16: `_emb_base_cached`,
    scale-adaptively partitioned so the matmul kernel parallelizes at
    data-bound SFs) with zero exchanges (quantize + self-dot codegen,
    all 14 buckets from one Arrow batch matmul — asserted on the
    pre-checkpoint tree the query's localCheckpoint hides); the declared
    plan rides checkpoints only (no parquet re-scan), every join is a
    broadcast (band-collision equi-join + the tiny grid combines), and
    pair rows are never sort-merge-joined or cartesian-producted."""
    import pyspark.sql.functions as F

    from paraslice_spark.operators.similarity import (
        _emb_base_cached,
        _sl_sweep_sig,
    )

    ps = plan(_sl_sweep_sig(
        _emb_base_cached(spark, SF_SMALL).select(
            "vec_id", F.col("emb").alias("embedding")
        )
    ))
    assert ps.count("Scan parquet") == 0, ps
    assert ps.count("Scan ExistingRDD") == 1, ps
    assert "Exchange" not in ps, ps
    assert "ArrowEvalPython" in ps, ps

    p = plan(QUERIES["similarity_signlsh_band_sweep"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0 and "Scan ExistingRDD" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_repetition_cap_sweep_zero_shuffle_single_pass(spark):
    """text_repetition_cap_sweep claims the sweep shape: ONE documents
    pass, all four caps as conditional aggregates in one map-combined
    global agg (zero hash exchanges), a 4-row stack after — no join, no
    window, and only the two needed columns read."""
    p = plan(QUERIES["text_repetition_cap_sweep"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "Window [" not in p and "Join" not in p, p
    assert "ReadSchema: struct<text:string>" in p, p


def test_decontaminate_gram_sweep_plan_shape(spark):
    """text_decontaminate_gram_sweep claims the role-partitioned shape:
    exactly TWO documents scans (tiny bench side; train side
    round-robin-repartitioned across cores before the measured-hot
    4-size explode, then STREAMING into the broadcast containment join —
    the first cut checkpointed one shared gram stream and benched 8.3 s
    at sf0.1; this shape is 2.3 s), the bench index broadcasts, and no
    sort-merge join or cartesian product anywhere."""
    from paraslice_spark.operators.text import _decon_sweep_grams
    from paraslice_spark.sources.io import load_tables

    ps = plan(_decon_sweep_grams(load_tables(spark, SF_SMALL)["documents"]))
    assert ps.count("Scan parquet") == 1, ps
    assert "Exchange" not in ps and "Join" not in ps, ps

    p = plan(QUERIES["text_decontaminate_gram_sweep"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p  # train side; bench rides its ckpt
    assert "Scan ExistingRDD" in p, p
    assert "REPARTITION_BY_NUM" in p, p  # the explode-parallelism spread
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_quant_bits_sweep_zero_shuffle_single_pass(spark):
    """embedding_quant_bits_sweep claims the int8-audit regime times
    three: ONE pass over the memoized embeddings base (r16: the shared
    `_emb_base_cached` checkpoint — scale-adaptively partitioned, so
    the per-row fold map parallelizes at data-bound SFs), all three
    widths as per-row array codegen inside one map-combined global agg
    (zero hash exchanges), a 3-row stack after — no join, no window,
    no explode, and no residual parquet scan in the consumer plan."""
    p = plan(QUERIES["embedding_quant_bits_sweep"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0, p
    assert p.count("Scan ExistingRDD") == 1, p
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "Join" not in p and "Window [" not in p, p
    # the only Generate is the 3-row presentation stack, never an explode
    assert "Generate explode" not in p, p


def test_binseg_changepoint_single_scan_tiny_tail(spark):
    """events_binseg_changepoint claims the cusum discipline at three
    granularities for ONE scan: raw events hash-aggregate once to the
    per-(type, hour) series, the 1/4/24-hour sweep re-aggregates that
    tiny series (explode AFTER the first agg, so the scan is never
    tripled), and every window partitions by (type, g) — no global
    single-partition sort before the declared 1-partition tail."""
    p = plan(QUERIES["events_binseg_changepoint"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert "Generate explode" in p, p  # the 3-granularity fan-out
    # the explode must consume the SERIES, not raw rows: in the top-down
    # plan print, the hourly partial HashAggregate sits BETWEEN the
    # explode and the scan (an explode placed directly over the scan —
    # the 3x-scan-cost regression this guards — would have no aggregate
    # in that segment; r13 review finding #2: comparing explode vs scan
    # positions alone is vacuous, every op prints above the scan)
    seg = p[p.index("Generate explode"):p.index("Scan parquet")]
    assert "HashAggregate" in seg, p
    assert "Join" not in p, p
    assert "ReadSchema: struct<ts:timestamp_ntz,event_type:string>" in p, p


def test_hosvd_energy_single_scan_slice_windows(spark):
    """tensor_hosvd_energy_audit claims one data-proportional stage: a
    single events scan map-combines to the sparse cents cell table, the
    3-mode stack collapses to per-(mode, slice) energies, and every
    window partitions by mode over SLICES (never cells) — no join, one
    scan, a 3-row tail."""
    p = plan(QUERIES["tensor_hosvd_energy_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 1, p
    assert "Join" not in p, p
    wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wins and all("mode" in ln for ln in wins), p


def test_zonemap_audit_single_scan_broadcast_preds(spark):
    """stats_zonemap_prune_audit claims one data-proportional stage: a
    single orders scan into the checkpointed (key-block, date-block,
    day) base, two map-combined aggs, and every predicate join a
    broadcast of the 4-row literal list — no SortMergeJoin, no
    row-level predicate join, no window."""
    p = plan(QUERIES["stats_zonemap_prune_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p  # base rides its checkpoint
    assert "SortMergeJoin" not in p, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_clustering_coefficient_rides_edge_memo(spark):
    """graph_clustering_coefficient claims the memoized-edge economics:
    the plan reads the canonical u<v checkpoint (Scan ExistingRDD), the
    triangle join fans out along higher-id adjacency (two joins on the
    same id-pair table), and the corpus is never rescanned (zero
    parquet scans) — the shape every kNN-graph consumer shares."""
    from paraslice_spark.operators import similarity as sim

    sim._knn_uedges_cached(spark, SF_SMALL)  # ensure the memo exists
    p = plan(QUERIES["graph_clustering_coefficient"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0, p
    assert "Scan ExistingRDD" in p, p
    assert "CartesianProduct" not in p, p


def test_anova_calendar_single_scan_series_reaggs(spark):
    """events_anova_calendar claims the binseg discipline: one events
    scan map-combines to the per-(type, hour) series checkpoint, and
    the three factor re-aggs + 5-row join all run over that tiny
    series (the checkpoint's ExistingRDD), never re-scanning parquet
    more than once and never windowing."""
    p = plan(QUERIES["events_anova_calendar"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p
    assert "Scan ExistingRDD" in p, p
    assert "Window [" not in p, p
    assert "SortMergeJoin" not in p, p


def test_window_distribution_no_global_single_partition_window(spark):
    """The r13 distributed-rank rewrite: no un-partitioned window ever
    touches the DATA (the only un-partitioned window runs over the
    <=P partition-count rows), ranks come from the range-partitioned
    checkpoint (ONE pinned physical partitioning serving all three
    consumers — structural, not ReuseExchange-dependent) +
    pid-partitioned row_number, offsets broadcast back, and
    ntile/percent_rank/cume_dist are arithmetic — the physical plan
    contains none of those window functions."""
    df = QUERIES["window_distribution"](spark, SF_SMALL)
    p = plan(df)
    assert "Scan ExistingRDD" in p, p  # the pinned range checkpoint
    assert "ntile" not in p and "percent_rank" not in p and "cume_dist" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    # every window over the data partitions by pid; the offsets window
    # (un-partitioned) runs over the tiny per-partition counts table
    data_wins = [ln for ln in p.splitlines()
                 if "Window [" in ln and "row_number" in ln]
    assert data_wins and all("pid" in ln for ln in data_wins), p


def test_zorder_audit_single_scan_broadcast_preds(spark):
    """stats_zorder_prune_audit claims the zonemap discipline: one
    orders scan into the checkpointed (d, gx, block ids) frame, the
    3-layout stack and (gx, d) rollup both riding it, every predicate
    join a broadcast of the 4-row literal list — no SortMergeJoin, no
    window, no row-level predicate join."""
    p = plan(QUERIES["stats_zorder_prune_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p
    assert "SortMergeJoin" not in p, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_bloom_audit_single_scan_no_bits_broadcast(spark):
    """stats_bloom_prune_audit: one orders scan map-combines into the
    checkpointed (blk, ck, cnt) census; the probe list is a TakeOrdered
    fixed-size hash-ordered sample (never a global sort of the data,
    never a window); the ndv-proportional block_bits side streams
    through its joins while only the O(probes·blocks) frames broadcast
    — no SortMergeJoin anywhere."""
    p = plan(QUERIES["stats_bloom_prune_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p
    assert "SortMergeJoin" not in p, p
    assert "Window [" not in p, p
    # the TakeOrdered probe sample and the (blk, ck) census live inside
    # their checkpoints — the final plan reads them as ExistingRDD
    assert "Scan ExistingRDD" in p, p
    assert "BroadcastHashJoin" in p, p


def test_compaction_audit_single_scan_two_rollups(spark):
    """stats_compaction_waste_audit: one orders scan into the
    checkpointed (month, chunk, bytes) file census, then two rollups
    against the broadcast 4-row target list joined on target — no
    SortMergeJoin, no window, nothing data-proportional after the
    census."""
    p = plan(QUERIES["stats_compaction_waste_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p
    assert "SortMergeJoin" not in p, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_trunc_audit_rides_emb_memo_broadcast_cohort(spark):
    """embedding_dim_truncation_audit claims the linear-cohort shape:
    the exploded micro frame rides its checkpoint (zero parquet scans
    once the shared embedding memo exists), the probe side broadcasts
    (one corpus-linear join, never SortMergeJoin), all four widths ride
    ONE conditional aggregate, and the only windows are the per-(width,
    probe) top-k ranks — never an un-partitioned window over data."""
    from paraslice_spark.operators import similarity as sim

    sim._emb_base_cached(spark, SF_SMALL)  # ensure the memo exists
    p = plan(QUERIES["embedding_dim_truncation_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") == 0, p
    assert "Scan ExistingRDD" in p, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    data_wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert all("q_id" in ln for ln in data_wins), p


def test_depth_audit_single_scan_tiny_sweep(spark):
    """stats_clustering_depth_audit: one orders scan into the
    checkpointed 4-way value stack, zones/dom/sweep all over
    <=4·blocks rows, the sweep window partitioned by column — no
    SortMergeJoin, no un-partitioned window, no second scan."""
    p = plan(QUERIES["stats_clustering_depth_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    data_wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert all("col" in ln for ln in data_wins), p


def test_rtf_audit_two_scans_no_forced_bits_broadcast(spark):
    """stats_runtime_filter_audit: one scan per table (both ride their
    checkpoints), the min/max arm a conditional agg against the
    broadcast 4-row stats table, the bloom arm a plain equi-join (the
    bit set is dimension-proportional — vocab de-hint rule: no forced
    broadcast; locally that's allowed to be SMJ/shuffle), no window
    anywhere."""
    p = plan(QUERIES["stats_runtime_filter_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 2, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


# ----------------------------------------------------- r15: CDC family


def test_cdc_log_builder_single_scan(spark):
    """_cdc_log (uncached builder): ONE events scan plus the broadcast
    bounds aggregate the decile cut derives from — json path + op
    mapping + micro units are all one projection, no shuffle, no
    window."""
    from paraslice_spark.operators import cdc

    p = plan(cdc._cdc_log(spark, SF_SMALL))
    assert p.count("Scan parquet") <= 2, p  # log pass + bounds agg
    assert "SortMergeJoin" not in p, p
    assert "Window [" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_cdc_consumers_ride_log_memo(spark):
    """Every CDC audit reads the memoized checkpointed change log
    (ExistingRDD) — zero parquet scans once the memo exists; the only
    data-proportional shuffles are the key-collapse groupBys / joins."""
    from paraslice_spark.operators import cdc

    cdc._cdc_log_cached(spark, SF_SMALL)  # ensure the memo exists
    for name in (
        "cdc_upsert_last_wins",
        "cdc_merge_classify_audit",
        "cdc_snapshot_diff",
        "cdc_log_compaction_audit",
        "cdc_resurrection_audit",
    ):
        p = plan(QUERIES[name](spark, SF_SMALL))
        assert p.count("Scan parquet") == 0, (name, p)
        assert "Scan ExistingRDD" in p, (name, p)


def test_cdc_merge_classify_spine_broadcast_unhinted_key_join(spark):
    """cdc_merge_classify_audit: the 5-row class spine joins via
    broadcast; the src-tgt key join is un-hinted (both sides
    data-proportional — vocab de-hint rule, SMJ allowed locally); no
    window anywhere."""
    p = plan(QUERIES["cdc_merge_classify_audit"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "Window [" not in p, p


def test_cdc_resurrection_window_key_partitioned(spark):
    """cdc_resurrection_audit: the LAG window is partitioned by the
    entity key — never an un-partitioned window over data."""
    p = plan(QUERIES["cdc_resurrection_audit"](spark, SF_SMALL))
    data_wins = [ln for ln in p.splitlines() if "Window [" in ln]
    assert data_wins, p
    assert all("ent" in ln and "item" in ln for ln in data_wins), p


def test_jsa_two_scans_spine_broadcast(spark):
    """stats_join_strategy_audit: one orders scan + one lineitem scan
    (both ride their checkpoints), the matching arm an un-hinted key
    equi-join, every spine/stat join a broadcast, no window."""
    p = plan(QUERIES["stats_join_strategy_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 2, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


# ------------------------------------------- r15: shuffle-sizing audits


def test_partition_sizing_single_scan_census_sweep(spark):
    """stats_partition_sizing_audit: ONE lineitem scan map-combines to
    the checkpointed 512-row census; every sweep arm re-aggregates the
    census against the broadcast 4-row sweep list — no SortMergeJoin,
    no window, nothing data-proportional after the census."""
    p = plan(QUERIES["stats_partition_sizing_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p
    assert "SortMergeJoin" not in p, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_bucket_colocation_one_scan_per_table(spark):
    """stats_bucket_colocation_audit: one scan per table into the two
    128-row censuses, a census-level full-outer merge (O(128), riding
    the checkpoint), sweep arms O(census) — no window."""
    p = plan(QUERIES["stats_bucket_colocation_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 2, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_partial_agg_audit_single_scan_census_rollups(spark):
    """stats_partial_agg_audit: ONE lineitem scan into the 4-way stack
    collapsed to the checkpointed quadruple census; the four rollups
    are narrow map-combined passes over the checkpoint assembled by
    broadcast joins on the 4-row key_name frame — no SortMergeJoin, no
    EXPAND multi-distinct, no window."""
    p = plan(QUERIES["stats_partial_agg_audit"](spark, SF_SMALL))
    assert p.count("Scan parquet") <= 1, p
    assert "SortMergeJoin" not in p, p
    assert "Expand" not in p, p
    assert "Window [" not in p, p
    assert "BroadcastHashJoin" in p, p
