"""Shuffle-sizing audits (SURVEY §2.13, r15 second wave).

The tuning tables behind the three knobs every 100 TB Spark job turns:
``spark.sql.shuffle.partitions`` (reducer sizing / spill headroom),
bucketed-join co-location (task balance when the shuffle is pre-paid),
and partial aggregation (is the map-side combine worth it for THIS
group key).  Each is priced from EXACT stats the engine itself only
estimates, with the house md5_u32 hash as the deterministic
cross-engine partitioner proxy (Spark's real Murmur3 placement differs
per row but has identical statistics; the audit's math is the
deliverable, pinned bit-identical in both engines).

Shared shape: census-based one-scans.  The partitioner sweeps exploit
divisibility nesting (8 | 32 | 128 | 512): ONE data-proportional
census at the finest granularity, then every coarser arm is an O(census)
re-aggregation (``pid mod P`` — exact because every sweep value divides
the finest), so the sweep costs zero extra passes.  Every spine join is
a broadcast of a <=4-row literal list (the ADVICE r14 #1 contract:
output shapes are data-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paraslice_spark.functions.canon import md5_u32, md5_u32_sql
from paraslice_spark.registry import query
from paraslice_spark.sources.io import load_tables, spread_scan

# ------------------------------------------------------------- literals
#: reducer-count sweep; every value divides PS_FINE so the census nests
PS_SWEEP = (8, 32, 128, 512)
PS_FINE = 512
#: reducer row budget for the spill estimate (rows that fit comfortably
#: in one task's hash map at this fixture's row width)
PS_ROW_BUDGET = 10000
#: bucket-count sweep for the co-located join; every value divides 128
BUK_SWEEP = (8, 32, 128)
BUK_FINE = 128
#: input-partition model for the partial-agg audit: arrival blocks of
#: PA_CHUNK orderkeys (locality arm) vs md5 row scatter over PA_NPART
#: partitions (worst-case arm)
PA_CHUNK = 512
PA_NPART = 32
#: group-key candidates priced by the partial-agg audit
PA_KEYS = ("l_orderkey", "l_partkey", "l_returnflag", "l_suppkey")


# ---------------------------------------------------- partition sizing


@query(
    "stats_partition_sizing_audit",
    oracle=f"""
    WITH census AS MATERIALIZED (
      SELECT {md5_u32_sql("CAST(l_orderkey AS VARCHAR) || ':p'")}
             % {PS_FINE} AS pid,
             CAST(COUNT(*) AS BIGINT) AS nr
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(SUM(nr) AS BIGINT) AS n FROM census),
    sweep AS MATERIALIZED (SELECT CAST(p AS BIGINT) AS p FROM (VALUES
        {", ".join(f"({p})" for p in PS_SWEEP)}) AS t(p)),
    parts AS (
      SELECT s.p, c.pid % s.p AS rpid, CAST(SUM(c.nr) AS BIGINT) AS rows_
      FROM census c CROSS JOIN sweep s GROUP BY 1, 2),
    agg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS used_parts,
             CAST(MAX(rows_) AS BIGINT) AS max_rows,
             CAST(MIN(rows_) AS BIGINT) AS min_rows_used,
             CAST(COUNT(CASE WHEN rows_ > {PS_ROW_BUDGET} THEN 1 END)
                  AS BIGINT) AS over_budget_parts,
             CAST(SUM(GREATEST(rows_ - {PS_ROW_BUDGET}, 0)) AS BIGINT)
               AS est_spill_rows
      FROM parts GROUP BY 1)
    SELECT s.p AS n_partitions, tot.n AS n_rows,
           COALESCE(a.used_parts, 0) AS used_parts,
           s.p - COALESCE(a.used_parts, 0) AS empty_parts,
           COALESCE(a.max_rows, 0) AS max_rows,
           COALESCE(a.min_rows_used, 0) AS min_rows_used,
           ROUND(CAST(tot.n AS DOUBLE) / s.p, 6) AS avg_rows,
           ROUND(CAST(COALESCE(a.max_rows, 0) * s.p AS DOUBLE) / tot.n, 6)
             AS skew_factor,
           COALESCE(a.over_budget_parts, 0) AS over_budget_parts,
           COALESCE(a.est_spill_rows, 0) AS est_spill_rows
    FROM sweep s CROSS JOIN tot
    LEFT JOIN agg a ON a.p = s.p
    ORDER BY s.p
    """,
)
def stats_partition_sizing_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHUFFLE-PARTITION SIZING SWEEP — the spark.sql.shuffle.partitions
    table: hash-partition lineitem's join key over P in {8, 32, 128,
    512} reducers and report, per P, the exact reducer-row histogram
    summary (max/min/used/empty), the skew factor (max x P / n — 1.0 is
    perfect balance; hash placement's multinomial tail keeps it above),
    and the spill estimate against a literal 10k-row task budget
    (over-budget task count + total rows past budget — the rows that
    hit disk if the budget were executor memory).  Reading the table:
    the smallest P with zero over-budget tasks is the cheapest safe
    setting; skew_factor rising with P shows the balance-vs-scheduling
    tradeoff AQE's coalescer navigates.

    EXACT INTEGERS: md5_u32 placement, nested-mod re-aggregation (every
    sweep value divides 512, so `pid mod P` on the census IS the
    repartition — zero extra passes); the two ROUND(,6) columns are
    displays.

    Scale shape: ONE lineitem scan map-combines into the checkpointed
    512-row census; every sweep arm is an O(512) re-aggregation against
    the broadcast 4-row sweep list.  At 100 TB the census is the only
    data-proportional stage and is itself a map-combined count."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # r15: a round-robin spread of the scan (sources.io.spread_scan) was
    # A/B-tested here and REJECTED — the single md5 is too light to
    # amortize the exchange's serialization (measured 2.7 s → 4.0 s); only
    # the partial-agg audit's md5+stack+census projection clears that bar.
    census = (
        li.select(
            (
                md5_u32(F.concat(F.col("l_orderkey").cast("string"),
                                 F.lit(":p")))
                % PS_FINE
            ).alias("pid")
        )
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("nr"))
        .localCheckpoint(eager=False)  # tot + the sweep arms read it
    )
    tot = census.agg(F.sum("nr").alias("n"))
    sweep = spark.createDataFrame([(p,) for p in PS_SWEEP], "p long")
    parts = (
        census.crossJoin(F.broadcast(sweep))
        .groupBy("p", (F.col("pid") % F.col("p")).alias("rpid"))
        .agg(F.sum("nr").alias("rows_"))
    )
    agg = parts.groupBy("p").agg(
        F.count(F.lit(1)).alias("used_parts"),
        F.max("rows_").alias("max_rows"),
        F.min("rows_").alias("min_rows_used"),
        F.sum(
            F.when(F.col("rows_") > PS_ROW_BUDGET, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("over_budget_parts"),
        F.sum(F.greatest(F.col("rows_") - PS_ROW_BUDGET, F.lit(0))).alias(
            "est_spill_rows"
        ),
    )
    return (
        sweep.crossJoin(F.broadcast(tot))
        .join(F.broadcast(agg), "p", "left")
        .select(
            F.col("p").alias("n_partitions"),
            F.col("n").alias("n_rows"),
            F.coalesce("used_parts", F.lit(0)).alias("used_parts"),
            (F.col("p") - F.coalesce("used_parts", F.lit(0))).alias(
                "empty_parts"
            ),
            F.coalesce("max_rows", F.lit(0)).alias("max_rows"),
            F.coalesce("min_rows_used", F.lit(0)).alias("min_rows_used"),
            F.round(F.col("n").cast("double") / F.col("p"), 6).alias(
                "avg_rows"
            ),
            F.round(
                (F.coalesce("max_rows", F.lit(0)) * F.col("p")).cast(
                    "double"
                )
                / F.col("n"),
                6,
            ).alias("skew_factor"),
            F.coalesce("over_budget_parts", F.lit(0)).alias(
                "over_budget_parts"
            ),
            F.coalesce("est_spill_rows", F.lit(0)).alias("est_spill_rows"),
        )
        .repartition(1)
        .sortWithinPartitions("n_partitions")
    )


# ------------------------------------------------- bucketed co-location


@query(
    "stats_bucket_colocation_audit",
    oracle=f"""
    WITH lc AS MATERIALIZED (
      SELECT {md5_u32_sql("CAST(l_orderkey AS VARCHAR) || ':b'")}
             % {BUK_FINE} AS b,
             CAST(COUNT(*) AS BIGINT) AS nl
      FROM lineitem GROUP BY 1),
    oc AS MATERIALIZED (
      SELECT {md5_u32_sql("CAST(o_orderkey AS VARCHAR) || ':b'")}
             % {BUK_FINE} AS b,
             CAST(COUNT(*) AS BIGINT) AS no_
      FROM orders GROUP BY 1),
    tots AS (
      SELECT (SELECT CAST(SUM(nl) AS BIGINT) FROM lc) AS n_l,
             (SELECT CAST(SUM(no_) AS BIGINT) FROM oc) AS n_o),
    sweep AS MATERIALIZED (SELECT CAST(bk AS BIGINT) AS bk FROM (VALUES
        {", ".join(f"({b})" for b in BUK_SWEEP)}) AS t(bk)),
    buckets AS (
      SELECT s.bk, f.b % s.bk AS bucket,
             CAST(SUM(COALESCE(f.nl, 0)) AS BIGINT) AS bl,
             CAST(SUM(COALESCE(f.no_, 0)) AS BIGINT) AS bo
      FROM (SELECT COALESCE(lc.b, oc.b) AS b, lc.nl, oc.no_
            FROM lc FULL OUTER JOIN oc ON lc.b = oc.b) f
      CROSS JOIN sweep s GROUP BY 1, 2),
    agg AS (
      SELECT bk, CAST(COUNT(*) AS BIGINT) AS used_buckets,
             CAST(MAX(bl + bo) AS BIGINT) AS max_task_rows,
             CAST(MIN(bl + bo) AS BIGINT) AS min_task_rows,
             CAST(MAX(bo) AS BIGINT) AS max_build_rows
      FROM buckets GROUP BY 1)
    SELECT s.bk AS n_buckets, tots.n_l AS n_fact_rows,
           tots.n_o AS n_dim_rows,
           COALESCE(a.used_buckets, 0) AS used_buckets,
           COALESCE(a.max_task_rows, 0) AS max_task_rows,
           COALESCE(a.min_task_rows, 0) AS min_task_rows,
           COALESCE(a.max_build_rows, 0) AS max_build_rows,
           ROUND(CAST(COALESCE(a.max_task_rows, 0) * s.bk AS DOUBLE)
                 / (tots.n_l + tots.n_o), 6) AS imbalance_factor,
           tots.n_l + tots.n_o AS shuffle_rows_avoided
    FROM sweep s CROSS JOIN tots
    LEFT JOIN agg a ON a.bk = s.bk
    ORDER BY s.bk
    """,
)
def stats_bucket_colocation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BUCKETED-JOIN CO-LOCATION SWEEP — the CREATE TABLE ... CLUSTERED
    BY (orderkey) INTO B BUCKETS decision table: for B in {8, 32, 128},
    hash-bucket BOTH sides of the orders-lineitem join and report the
    per-bucket task balance a bucket-co-located SortMergeJoin would see
    — max/min task input rows, the largest build side one task must
    hash, the imbalance factor (max_task x B / total — the straggler
    predictor), and the constant prize: shuffle_rows_avoided = every
    row of both tables, since a co-located join shuffles NOTHING.
    Reading the table: pick the largest B whose max_build_rows still
    fits one task's memory; imbalance rising with B is the same
    multinomial tail the partition-sizing audit prices.

    EXACT INTEGERS: md5_u32 bucket placement; both tables' censuses at
    the finest B=128, coarser arms via nested mod (8 | 32 | 128);
    buckets where only one side has rows still price correctly (FULL
    OUTER census join, COALESCE 0 — a one-sided bucket is a real task).

    Scale shape: ONE scan per table into its 128-row census, a 128-row
    full-outer census merge, and O(128 x 3) sweep arithmetic against
    the broadcast 3-row sweep list."""
    t = load_tables(spark, sf_dir)
    # r15: no spread_scan here, for the same reason as the
    # partition-sizing census (single-md5 map side — the spread exchange
    # costs more than it parallelizes; A/B-measured)
    lc = (
        t["lineitem"]
        .select(
            (
                md5_u32(F.concat(F.col("l_orderkey").cast("string"),
                                 F.lit(":b")))
                % BUK_FINE
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("nl"))
    )
    oc = (
        t["orders"]
        .select(
            (
                md5_u32(F.concat(F.col("o_orderkey").cast("string"),
                                 F.lit(":b")))
                % BUK_FINE
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("no_"))
    )
    merged = (
        lc.join(oc, "b", "full_outer")
        .select(
            "b",
            F.coalesce("nl", F.lit(0)).alias("nl"),
            F.coalesce("no_", F.lit(0)).alias("no_"),
        )
        .localCheckpoint(eager=False)  # tots + sweep arms read it
    )
    tots = merged.agg(
        F.sum("nl").alias("n_l"), F.sum("no_").alias("n_o")
    )
    sweep = spark.createDataFrame([(b,) for b in BUK_SWEEP], "bk long")
    buckets = (
        merged.crossJoin(F.broadcast(sweep))
        .groupBy("bk", (F.col("b") % F.col("bk")).alias("bucket"))
        .agg(F.sum("nl").alias("bl"), F.sum("no_").alias("bo"))
    )
    agg = buckets.groupBy("bk").agg(
        F.count(F.lit(1)).alias("used_buckets"),
        F.max(F.col("bl") + F.col("bo")).alias("max_task_rows"),
        F.min(F.col("bl") + F.col("bo")).alias("min_task_rows"),
        F.max("bo").alias("max_build_rows"),
    )
    return (
        sweep.crossJoin(F.broadcast(tots))
        .join(F.broadcast(agg), "bk", "left")
        .select(
            F.col("bk").alias("n_buckets"),
            F.col("n_l").alias("n_fact_rows"),
            F.col("n_o").alias("n_dim_rows"),
            F.coalesce("used_buckets", F.lit(0)).alias("used_buckets"),
            F.coalesce("max_task_rows", F.lit(0)).alias("max_task_rows"),
            F.coalesce("min_task_rows", F.lit(0)).alias("min_task_rows"),
            F.coalesce("max_build_rows", F.lit(0)).alias("max_build_rows"),
            F.round(
                (F.coalesce("max_task_rows", F.lit(0)) * F.col("bk")).cast(
                    "double"
                )
                / (F.col("n_l") + F.col("n_o")),
                6,
            ).alias("imbalance_factor"),
            (F.col("n_l") + F.col("n_o")).alias("shuffle_rows_avoided"),
        )
        .repartition(1)
        .sortWithinPartitions("n_buckets")
    )


# ------------------------------------------------- partial aggregation


@query(
    "stats_partial_agg_audit",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(l_orderkey AS VARCHAR) AS k_l_orderkey,
             CAST(l_partkey AS VARCHAR) AS k_l_partkey,
             CAST(l_returnflag AS VARCHAR) AS k_l_returnflag,
             CAST(l_suppkey AS VARCHAR) AS k_l_suppkey,
             l_orderkey // {PA_CHUNK} AS pid_block,
             {md5_u32_sql(
                 "CAST(l_orderkey AS VARCHAR) || ':' || "
                 "CAST(l_linenumber AS VARCHAR) || ':' || "
                 "CAST(l_partkey AS VARCHAR) || ':q'"
             )} % {PA_NPART} AS pid_hash
      FROM lineitem),
    stacked AS MATERIALIZED (
      {" UNION ALL ".join(
          f"SELECT '{k}' AS key_name, k_{k} AS gval,"
          " pid_block, pid_hash FROM base"
          for k in PA_KEYS
      )}),
    agg AS (
      SELECT key_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT gval) AS BIGINT) AS n_groups,
             CAST(COUNT(DISTINCT gval || '#' || CAST(pid_block AS VARCHAR))
                  AS BIGINT) AS out_rows_block,
             CAST(COUNT(DISTINCT gval || '#' || CAST(pid_hash AS VARCHAR))
                  AS BIGINT) AS out_rows_hashed
      FROM stacked GROUP BY 1)
    SELECT key_name, n_rows, n_groups, out_rows_block, out_rows_hashed,
           ROUND(CAST(n_rows AS DOUBLE) / out_rows_block, 6)
             AS combine_ratio_block,
           ROUND(CAST(n_rows AS DOUBLE) / out_rows_hashed, 6)
             AS combine_ratio_hashed,
           ROUND(1.0 - CAST(out_rows_block AS DOUBLE) / n_rows, 6)
             AS shuffle_reduction_block,
           ROUND(1.0 - CAST(out_rows_hashed AS DOUBLE) / n_rows, 6)
             AS shuffle_reduction_hashed
    FROM agg ORDER BY key_name
    """,
)
def stats_partial_agg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL-AGGREGATION BENEFIT AUDIT — should the map-side combine
    run for THIS group key (the decision behind Spark's
    spark.sql.aggregate.partialaggregate skip heuristic): for four
    candidate keys spanning 3 to ~15k groups, the EXACT partial-agg
    output size = #distinct (group, input-partition) pairs, under two
    placement models — arrival blocks of {PA_CHUNK} orderkeys (the
    locality a date/key-ordered parquet layout gives) and md5 row
    scatter over {PA_NPART} partitions (the worst case).  Reading the
    table: l_returnflag combines ~n/(3x32) to 1 (always combine);
    l_orderkey's hashed arm combines ~not at all (ratio -> ~1 — the
    combine is pure overhead, Spark's skip heuristic fires) while its
    block arm still combines ~4x (locality rescues the combine) — the
    measured case for keeping data clustered by the aggregation key.

    EXACT INTEGERS: group values distinct-counted under a per-key
    injective int64 encoding engine-side (native keys / ascii flag —
    r15, guide §2.3; the oracle's string rendering counts identically),
    placement ids via non-negative div / md5 mod; the four ROUND(,6)
    columns are displays.  The oracle's '#' pair separator cannot
    collide: gval strings are key renderings with no '#'.

    Scale shape: ONE lineitem scan into the 4-way stack (a deliberate
    4x row expand — the sweep's only data-proportional cost, same
    bound as reading four group-by plans would pay), then one
    multi-distinct aggregate per key_name.  Nothing else moves data."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # r15 optimization (guide §2.3 — narrower types): gval is only ever
    # DISTINCT-counted per key, so any per-key INJECTIVE encoding gives
    # identical counts — the three numeric keys ride as native int64 and
    # the single-char returnflag as ascii(), replacing the former 4×
    # string stack (≈3-4× fewer census-shuffle bytes).  key_name
    # likewise rides as a 0..3 kid and maps back to its string in the
    # 4-row final select.  The oracle still compares string renderings —
    # distinct cardinality is representation-independent.
    # ... and the md5+stack projection below (~10 us per row single-core)
    # runs before the census exchange — spread it at ~15k rows (~0.15 s)
    # per task (see sources.io.spread_scan); the spread exchange carries
    # only the five key columns.
    base = spread_scan(
        li.select(
            "l_orderkey", "l_partkey", "l_returnflag", "l_suppkey",
            "l_linenumber",
        ),
        15_000,
    ).select(
        F.col("l_orderkey").alias("g0"),
        F.col("l_partkey").alias("g1"),
        F.ascii(F.col("l_returnflag")).cast("long").alias("g2"),
        F.col("l_suppkey").alias("g3"),
        F.expr(f"l_orderkey div {PA_CHUNK}").alias("pid_block"),
        (
            md5_u32(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("l_partkey").cast("string"),
                    F.lit("q"),
                )
            )
            % PA_NPART
        ).alias("pid_hash"),
    )
    stacked = base.selectExpr(
        "stack({n}, {args}) AS (kid, gval)".format(
            n=len(PA_KEYS),
            args=", ".join(
                f"{i}, g{i}" for i in range(len(PA_KEYS))
            ),
        ),
        "pid_block",
        "pid_hash",
    )
    # quadruple census instead of a multi-distinct aggregate: Spark's
    # EXPAND plan for 3 DISTINCTs would push 4x the (already 4x-stacked)
    # rows through one wide exchange (measured 8+ s at sf0.1); the
    # census collapses duplicates with a map-side combine ONCE, then
    # each distinct rollup is a narrow map-combined pass over the
    # checkpoint — the same shape that wins at 100 TB (partial-agg'd
    # distincts, no expand multiplication).
    census = (
        stacked.groupBy("kid", "gval", "pid_block", "pid_hash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # 4 rollups read it
    )
    n_rows = census.groupBy("kid").agg(F.sum("cnt").alias("n_rows"))
    n_groups = (
        census.select("kid", "gval")
        .distinct()
        .groupBy("kid")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )
    out_b = (
        census.select("kid", "gval", "pid_block")
        .distinct()
        .groupBy("kid")
        .agg(F.count(F.lit(1)).alias("out_rows_block"))
    )
    out_h = (
        census.select("kid", "gval", "pid_hash")
        .distinct()
        .groupBy("kid")
        .agg(F.count(F.lit(1)).alias("out_rows_hashed"))
    )
    agg = (
        n_rows.join(F.broadcast(n_groups), "kid")
        .join(F.broadcast(out_b), "kid")
        .join(F.broadcast(out_h), "kid")
    )
    return (
        agg.select(
            F.element_at(
                F.array(*[F.lit(k) for k in PA_KEYS]),
                F.col("kid").cast("int") + 1,
            ).alias("key_name"),
            "n_rows",
            "n_groups",
            "out_rows_block",
            "out_rows_hashed",
            F.round(
                F.col("n_rows").cast("double") / F.col("out_rows_block"), 6
            ).alias("combine_ratio_block"),
            F.round(
                F.col("n_rows").cast("double") / F.col("out_rows_hashed"), 6
            ).alias("combine_ratio_hashed"),
            F.round(
                F.lit(1.0)
                - F.col("out_rows_block").cast("double") / F.col("n_rows"),
                6,
            ).alias("shuffle_reduction_block"),
            F.round(
                F.lit(1.0)
                - F.col("out_rows_hashed").cast("double") / F.col("n_rows"),
                6,
            ).alias("shuffle_reduction_hashed"),
        )
        .repartition(1)
        .sortWithinPartitions("key_name")
    )
