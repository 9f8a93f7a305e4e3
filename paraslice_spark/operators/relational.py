"""Scans, projections, filters (SURVEY §2.1-2.2).

All pure Catalyst: filters/projections here are authored declaratively so
predicate pushdown and column pruning reach the parquet scan (verified via
``.explain`` in tests/plans) — at 100 TB these queries read only the
row-groups and columns they need.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from paraslice_spark.functions.canon import cents, md5_u32, md5_u32_sql
from paraslice_spark.memo import memo
from paraslice_spark.registry import query
from paraslice_spark.sources.io import load_tables

# ---------------------------------------------------------------- §2.1 scans


@query(
    "scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: full parquet scan, stable order."""
    return load_tables(spark, sf_dir)["region"].orderBy("r_regionkey")


@query(
    "scan_events_ts",
    oracle="""
    SELECT event_type,
           MIN(date_trunc('microseconds', ts)) AS min_ts,
           MAX(date_trunc('microseconds', ts)) AS max_ts,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def scan_events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: schema-repaired scan of the ns-timestamp table.

    DuckDB reads ts natively at ns precision; Spark truncates to µs after
    the nanosAsLong repair, so the oracle truncates too (SURVEY §5.3).
    """
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "scan_projection",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: 2-of-16 column projection — Catalyst ColumnPruning pushes the
    ReadSchema down to the parquet reader (asserted in tests/test_plans)."""
    return load_tables(spark, sf_dir)["lineitem"].select("l_orderkey", "l_quantity")


# ------------------------------------------------- §2.2 projections / filters


@query(
    "project_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))
                * (100 + CAST(round(l_tax*100) AS BIGINT))
                AS DOUBLE) / 1000000.0 AS charge
    FROM lineitem
    """,
)
def project_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: derived arithmetic column — integer-cents exact, one double div."""
    li = load_tables(spark, sf_dir)["lineitem"]
    charge = (
        cents("l_extendedprice")
        * (100 - cents("l_discount"))
        * (100 + cents("l_tax"))
    ).cast("double") / 1000000.0
    return li.select("l_orderkey", "l_linenumber", charge.alias("charge"))


@query(
    "filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
    FROM lineitem
    WHERE (l_quantity > 30 AND l_discount <= 0.05)
       OR (l_returnflag = 'R' AND NOT (l_linestatus = 'F'))
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: AND/OR/NOT over numeric + string predicates."""
    li = load_tables(spark, sf_dir)["lineitem"]
    cond = ((F.col("l_quantity") > 30) & (F.col("l_discount") <= 0.05)) | (
        (F.col("l_returnflag") == "R") & (~(F.col("l_linestatus") == "F"))
    )
    return li.where(cond).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )


@query(
    "filter_between_in_like",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_acctbal BETWEEN 1000 AND 8000
      AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_name LIKE '%1%'
    """,
)
def filter_between_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: range, set-membership, and pattern predicates."""
    c = load_tables(spark, sf_dir)["customer"]
    return c.where(
        F.col("c_acctbal").between(1000, 8000)
        & F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        & F.col("c_name").like("%1%")
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@query(
    "filter_null_semantics",
    oracle="""
    WITH t AS (
      SELECT NULLIF(l_returnflag, 'N') AS rf, l_orderkey FROM lineitem
    )
    SELECT COUNT(*) AS n_total,
           COUNT(rf) AS n_notnull,
           COUNT(CASE WHEN rf IS NULL THEN 1 END) AS n_null,
           COUNT(CASE WHEN rf IS NOT DISTINCT FROM 'A' THEN 1 END) AS n_nullsafe_a,
           COUNT(CASE WHEN rf IS NOT DISTINCT FROM NULL THEN 1 END) AS n_nullsafe_null
    FROM t
    """,
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: isNull/isNotNull and null-safe equality (<=> vs IS NOT DISTINCT
    FROM). Fixtures carry no NULLs, so NULLIF manufactures them."""
    li = load_tables(spark, sf_dir)["lineitem"]
    t = li.select(F.nullif(F.col("l_returnflag"), F.lit("N")).alias("rf"), "l_orderkey")
    return t.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("rf").alias("n_notnull"),
        F.count(F.when(F.col("rf").isNull(), 1)).alias("n_null"),
        F.count(F.when(F.col("rf").eqNullSafe("A"), 1)).alias("n_nullsafe_a"),
        F.count(F.when(F.col("rf").eqNullSafe(F.lit(None).cast("string")), 1)).alias(
            "n_nullsafe_null"
        ),
    )


@query(
    "filter_regexp",
    oracle=r"""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE regexp_matches(p_type, '^(PROMO|STANDARD)$')
      AND regexp_matches(p_name, '(widget|bolt)$')
    """,
)
def filter_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: regex predicates (rlike ↔ regexp_matches)."""
    p = load_tables(spark, sf_dir)["part"]
    return p.where(
        F.col("p_type").rlike("^(PROMO|STANDARD)$") & F.col("p_name").rlike("(widget|bolt)$")
    ).select("p_partkey", "p_name", "p_type")


@query(
    "audit_constraints",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_quantity_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                AS BIGINT)
    UNION ALL
    SELECT 'events_ts_not_null',
           CAST((SELECT COUNT(*) FROM events WHERE ts IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'documents_doc_id_unique',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents)
                AS BIGINT)
    ORDER BY check_name
    """,
)
def audit_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY CONSTRAINT AUDIT — the expectations-style gate a
    pipeline runs before trusting a new batch: referential integrity
    (LEFT ANTI joins, ids only), domain ranges (scan-side filters),
    key uniqueness (count vs distinct), and null checks, each reduced to
    ONE violation count per named check.

    Plan shape at 100 TB: every check is an independent subtree — two
    anti joins keyed on the FK (the dim side broadcast when small), two
    scan+filter counts, two count-distinct aggs — and the union of six
    1-row results is free.  A real deployment runs this via ONE pass with
    Observation metrics where checks allow (see
    tests/test_observability.py); the declared form keeps each check
    independently readable and the whole result hash-gradeable."""
    t = load_tables(spark, sf_dir)
    one = F.count(F.lit(1))

    def count_df(name: str, df: DataFrame) -> DataFrame:
        return df.agg(one.cast("long").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    checks = [
        count_df(
            "orders_custkey_fk",
            t["orders"].join(
                F.broadcast(t["customer"].select("c_custkey")),
                F.col("o_custkey") == F.col("c_custkey"),
                "left_anti",
            ),
        ),
        count_df(
            "lineitem_orderkey_fk",
            t["lineitem"].join(
                t["orders"].select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
                "left_anti",
            ),
        ),
        count_df(
            "lineitem_quantity_range",
            t["lineitem"].where(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
            ),
        ),
        t["orders"]
        .agg((one - F.countDistinct("o_orderkey")).cast("long").alias("n_violations"))
        .select(F.lit("orders_orderkey_unique").alias("check_name"), "n_violations"),
        count_df("events_ts_not_null", t["events"].where(F.col("ts").isNull())),
        t["documents"]
        .agg((one - F.countDistinct("doc_id")).cast("long").alias("n_violations"))
        .select(F.lit("documents_doc_id_unique").alias("check_name"), "n_violations"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.repartition(1).sortWithinPartitions("check_name")


#: The 5 profiled lineitem columns in long format — the ONE stack shared
#: by stats_collect_lineitem (scalar stats) and stats_histogram_lineitem
#: (equi-width histograms) so the CBO pair profiles identical domains.
_HIST_STACK = """stack(5,
                 'l_quantity', CAST(round(l_quantity*100) AS BIGINT),
                 'l_extendedprice', CAST(round(l_extendedprice*100) AS BIGINT),
                 'l_discount', CAST(round(l_discount*100) AS BIGINT),
                 'l_partkey', l_partkey,
                 'l_suppkey', l_suppkey) AS (col, v)"""


#: SQL twin of :data:`_HIST_STACK` — the same 5-column long-format
#: expansion as a DuckDB derived table, single-sourced so the three
#: oracle consumers (stats_collect, stats_histogram, skew audit) cannot
#: drift from each other or from the Spark stack.
_HIST_STACK_SQL = """(
        SELECT 'l_quantity' AS col,
               CAST(round(l_quantity*100) AS BIGINT) AS v FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', CAST(round(l_extendedprice*100) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', CAST(round(l_discount*100) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'l_partkey', l_partkey FROM lineitem
        UNION ALL
        SELECT 'l_suppkey', l_suppkey FROM lineitem)"""


def _lineitem_col_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized per-(col, value) COUNT HISTOGRAM of the 5 profiled
    lineitem columns (NULLs kept as their own v row so null accounting
    survives).  Both stats_collect_lineitem and stats_histogram_lineitem
    are cheap rollups of this one saturating-domain frame (~60k distinct
    values per column at any corpus size), so the expensive distinct
    expansion runs ONCE per (session, sf)."""

    def build() -> DataFrame:
        li = load_tables(spark, sf_dir)["lineitem"]
        return (
            li.selectExpr(_HIST_STACK)
            .groupBy("col", "v")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "col_hist", build)


@query(
    "stats_collect_lineitem",
    oracle=f"""
    WITH s AS (
      SELECT * FROM {_HIST_STACK_SQL})
    SELECT col, CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) - COUNT(v) AS n_null,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
           MIN(v) AS min_v, MAX(v) AS max_v,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM s GROUP BY col ORDER BY col
    """,
)
def stats_collect_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style TABLE STATISTICS collection — the CBO inputs
    (row count, null count, exact NDV, min/max, sum) for the lineitem
    columns a planner cares about, in ONE long-format pass: the engine
    feature behind `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`,
    declared so the numbers themselves are oracle-checked (Spark's own
    ANALYZE writes catalog-internal state that can't be hash-compared).

    Money columns quantize to exact cents (canon rule) so min/max/sum
    are int64-exact; key columns pass through.  Since r9 the query is a
    5-row rollup of the SHARED :func:`_lineitem_col_hist` memo (one
    (col, v, cnt) histogram per (session, sf) — NULLs kept as their own
    v row, so n_null = the null row's count mass and sum_v = Σ v·cnt
    stays exact): the distinct expansion that exact NDV costs runs ONCE
    and also feeds stats_histogram_lineitem (the sketch path for 100 TB
    is agg_kmv_distinct_error/agg_approx_distinct; this query IS the
    calibration source those sketches get compared against)."""
    h = _lineitem_col_hist(spark, sf_dir)
    return (
        h.groupBy("col")
        .agg(
            F.sum("cnt").alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
            ).cast("long").alias("n_null"),
            F.count(F.when(F.col("v").isNotNull(), 1)).alias("ndv"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.sum(F.col("v") * F.col("cnt")).alias("sum_v"),
        )
        .repartition(1)
        .sortWithinPartitions("col")
    )


@query(
    "stats_histogram_lineitem",
    oracle=f"""
    WITH s AS (
      SELECT * FROM {_HIST_STACK_SQL}),
    h AS (
      SELECT col, v, COUNT(*) AS cnt FROM s
      WHERE v IS NOT NULL GROUP BY 1, 2),
    f AS (
      SELECT col, v, cnt,
             MIN(v) OVER (PARTITION BY col) AS mn,
             MAX(v) OVER (PARTITION BY col) AS mx
      FROM h)
    SELECT col,
           CAST(LEAST(9, (v - mn) * 10 // (mx - mn + 1)) AS BIGINT) AS bin,
           CAST(SUM(cnt) AS BIGINT) AS n,
           MIN(v) AS v_lo, MAX(v) AS v_hi
    FROM f GROUP BY 1, 2
    """,
)
def stats_histogram_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style EQUI-WIDTH COLUMN HISTOGRAMS — the selectivity
    model next to stats_collect_lineitem's scalar stats (the CBO pair
    behind `ANALYZE ... COMPUTE STATISTICS FOR COLUMNS`, which builds
    exactly these equi-width buckets internally): 10 bins per profiled
    column over the exact [min, max] cents/key domain, with each bin's
    observed value range (v_lo/v_hi — so empty-tail bins are visible
    as absent rows, and the planner's range estimates are checkable).

    EXACT-INTEGER BINNING: bin = least(9, (v − min)·10 div
    (max − min + 1)) — both operands provably non-negative (the house
    integer-div contract), so Spark div and DuckDB // agree.

    Scale shape: rides the SHARED :func:`_lineitem_col_hist` memo (the
    5× stack fans out map-side and hash-aggregates ONCE per (session,
    sf) into per-(col, v) counts — the saturating micro-unit domain,
    the anomaly_mad discipline); the min/max window runs over DISTINCT
    VALUES ONLY (≤ ~60k rows per column partition at any corpus size,
    never raw rows), and the final 10-bin rollup is map-combined.
    ≤ 50 output rows."""
    h = _lineitem_col_hist(spark, sf_dir).where(F.col("v").isNotNull())
    wp = Window.partitionBy("col")
    f = h.select(
        "*",
        F.min("v").over(wp).alias("mn"),
        F.max("v").over(wp).alias("mx"),
    )
    b = F.least(
        F.lit(9),
        F.expr("(v - mn) * 10 div (mx - mn + 1)"),
    )
    return (
        f.select("col", b.alias("bin"), "v", "cnt")
        .groupBy("col", "bin")
        .agg(
            F.sum("cnt").alias("n"),
            F.min("v").alias("v_lo"),
            F.max("v").alias("v_hi"),
        )
    )


@query(
    "stats_shuffle_skew_audit",
    oracle=f"""
    WITH s AS (
      SELECT * FROM {_HIST_STACK_SQL}),
    h AS MATERIALIZED (
      SELECT col, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s
      WHERE v IS NOT NULL GROUP BY 1, 2
      UNION ALL
      SELECT 'o_custkey', o_custkey, CAST(COUNT(*) AS BIGINT)
      FROM orders GROUP BY 1, 2),
    pc AS (
      SELECT col, CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS ndv,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt
      FROM h GROUP BY 1),
    bc AS (
      SELECT col, {md5_u32_sql('v')} % 256 AS b,
             CAST(SUM(cnt) AS BIGINT) AS bc
      FROM h GROUP BY 1, 2),
    f AS (
      SELECT col, bc,
             row_number() OVER (PARTITION BY col ORDER BY bc, b) AS rn,
             COUNT(*) OVER (PARTITION BY col) AS nb
      FROM bc),
    g AS (
      SELECT col, CAST(MAX(nb) AS BIGINT) AS buckets_used,
             CAST(MAX(bc) AS BIGINT) AS max_bucket,
             CAST(SUM(CASE WHEN rn = (nb + 1) // 2 THEN bc END) AS BIGINT)
               AS med_bucket
      FROM f GROUP BY 1)
    SELECT pc.col, pc.n, pc.ndv,
           pc.top_cnt * 1000000 // pc.n AS top_share_ppm,
           g.buckets_used, g.max_bucket, g.med_bucket,
           g.max_bucket * 1000 // g.med_bucket AS skew_x1000
    FROM pc JOIN g USING (col) ORDER BY col
    """,
)
def stats_shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-KEY SKEW DIAGNOSTIC — the planner-side audit that decides
    whether a key needs salting (join_salted_skew / agg_salted) or AQE
    skew handling before a 1000-executor shuffle: for each candidate
    key column, hash every value into 256 reducer buckets (the house
    md5-u32 base hash — exactly what a hash partitioner does) and
    report the heavy-hitter share plus the max/median bucket-size ratio.
    A healthy key shows skew_x1000 ≈ 1000 (max ≈ median); a low-NDV
    column like l_discount (11 values into 256 buckets) shows its
    emptiness through buckets_used, which is WHY it can't be a shuffle
    key — the audit makes the rule measurable.

    Audits the 5 profiled lineitem columns (riding the SHARED
    :func:`_lineitem_col_hist` memo — zero extra fact-table scans when
    the CBO pair already ran) plus orders.o_custkey (the classic q13
    skew key), whose per-value counts are one extra map-combined agg.

    EXACT INTEGERS throughout: bucket = md5_u32(v) % 256 (hash ≥ 0, so
    Spark % and DuckDB % agree), bucket mass = Σ cnt, the median bucket
    is a nearest-rank selection over ≤ 256 rows per column (row_number
    windows on the 256-row bucket table, never raw rows), and both
    ratios are integer divisions with provably non-negative operands
    (top_cnt·10⁶ stays int64-exact to ~9·10¹² rows per value).
    6 output rows."""
    t = load_tables(spark, sf_dir)
    h = (
        _lineitem_col_hist(spark, sf_dir)
        .where(F.col("v").isNotNull())
        .select("col", "v", "cnt")
        .unionByName(
            t["orders"]
            .groupBy(F.col("o_custkey").alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit("o_custkey").alias("col"), "v", "cnt")
        )
    )
    pc = h.groupBy("col").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("ndv"),
        F.max("cnt").alias("top_cnt"),
    )
    bc = h.groupBy(
        "col", (md5_u32(F.col("v")) % 256).alias("b")
    ).agg(F.sum("cnt").alias("bc"))
    f = bc.select(
        "col",
        "bc",
        F.row_number()
        .over(Window.partitionBy("col").orderBy("bc", "b"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("col")).alias("nb"),
    )
    g = f.groupBy("col").agg(
        F.max("nb").cast("long").alias("buckets_used"),
        F.max("bc").alias("max_bucket"),
        F.sum(
            F.when(F.col("rn") == F.expr("(nb + 1) div 2"), F.col("bc"))
        ).alias("med_bucket"),
    )
    return (
        pc.join(g, "col")
        .select(
            "col",
            "n",
            "ndv",
            F.expr("top_cnt * 1000000 div n").alias("top_share_ppm"),
            "buckets_used",
            "max_bucket",
            "med_bucket",
            F.expr("max_bucket * 1000 div med_bucket").alias("skew_x1000"),
        )
        .repartition(1)
        .sortWithinPartitions("col")
    )


@query(
    "stats_eqdepth_histogram_lineitem",
    oracle=f"""
    WITH s AS (
      SELECT * FROM {_HIST_STACK_SQL}),
    h AS (
      SELECT col, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s
      WHERE v IS NOT NULL GROUP BY 1, 2),
    f AS (
      SELECT col, v, cnt,
             SUM(cnt) OVER (PARTITION BY col ORDER BY v) - cnt AS lo,
             SUM(cnt) OVER (PARTITION BY col) AS n
      FROM h)
    SELECT col, CAST(lo * 10 // n AS BIGINT) AS bucket,
           CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS ndv,
           MIN(v) AS v_lo, MAX(v) AS v_hi
    FROM f GROUP BY 1, 2
    """,
)
def stats_eqdepth_histogram_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style EQUI-DEPTH (equi-height) COLUMN HISTOGRAMS — the
    OTHER histogram a CBO keeps (Spark's own `histogram_numeric` and
    every warehouse ANALYZE build this kind for skewed columns, where
    equi-width bins collapse): ~n/10 rows per bucket, so bucket
    BOUNDARIES carry the selectivity information.  Completes the
    planner-statistics suite next to stats_collect_lineitem (scalars),
    stats_histogram_lineitem (equi-width) and stats_shuffle_skew_audit
    (hash-bucket skew) — all four rollups of the ONE shared
    :func:`_lineitem_col_hist` memo.

    EXACT-INTEGER BUCKETING: each distinct value lands in bucket
    lo·10 div n where lo = rank mass strictly below it — non-negative
    operands (house div rule), lo < n so the bucket is provably ≤ 9
    with no clamp, and a heavy hitter spanning several depths lands
    WHOLLY in its lo-bucket (the standard compressed-histogram rule;
    visible as that bucket's n exceeding n/10 — exactly the skew
    signal equi-depth exists to expose).  Per-bucket ndv doubles as
    the planner's distinct-per-bucket estimate.

    Scale shape (r16, VERDICT r15 #6 — the window_distribution
    distributed-rank idiom): the r13-r15 form computed the cumulative
    mass with ``Window.partitionBy("col")`` — five partitions total, so
    each column's ENTIRE distinct-value set funneled through one task
    (ndv of l_partkey grows linearly with corpus size: billions of rows
    per task at 100 TB).  Now the cumulative mass is a distributed
    global prefix sum: range-repartition on (col, v) (disjoint ordered
    segments; the mass below a value is a pure function of the total
    order, so sampling-dependent boundary placement — including AQE
    coalescing — cannot change the output), per-(pid, col) segment
    sums prefix-summed into offsets (a window over ≤ P·5 rows,
    broadcast back, which also carries the per-column total n — no
    second pass over the data for totals), and a per-(pid, col) local
    cumulative sum; lo = offset + local_cumsum − cnt.  The checkpoint
    pins ONE physical partitioning for the offsets and the probe side
    (the window_distribution r13 review finding — without it the two
    branches could re-sample RangePartitioner boundaries
    independently).  The ≤ 50-row bucket rollup stays map-combined."""
    h = _lineitem_col_hist(spark, sf_dir).where(F.col("v").isNotNull())
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = (
        h.repartitionByRange(n_part, F.col("col"), F.col("v"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    seg = d.groupBy("pid", "col").agg(F.sum("cnt").alias("s"))
    w_off = (
        Window.partitionBy("col")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # over ≤ P·5 segment rows — bounded by the partition count
    offs = seg.select(
        "pid",
        "col",
        F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("off"),
        F.sum("s").over(Window.partitionBy("col")).alias("n"),
    )
    wl = Window.partitionBy("pid", "col").orderBy("v")
    f = d.join(F.broadcast(offs), ["pid", "col"]).select(
        "col",
        "v",
        "cnt",
        "n",
        (F.col("off") + F.sum("cnt").over(wl) - F.col("cnt")).alias("lo"),
    )
    return (
        f.groupBy("col", F.expr("lo * 10 div n").alias("bucket"))
        .agg(
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).alias("ndv"),
            F.min("v").alias("v_lo"),
            F.max("v").alias("v_hi"),
        )
    )


@query(
    "stats_join_cardinality_audit",
    oracle=f"""
    WITH s AS (
      SELECT * FROM {_HIST_STACK_SQL}),
    h AS MATERIALIZED (
      SELECT col, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s
      WHERE v IS NOT NULL AND col IN ('l_partkey', 'l_suppkey')
      GROUP BY 1, 2
      UNION ALL
      SELECT 'o_custkey', o_custkey, CAST(COUNT(*) AS BIGINT)
      FROM orders GROUP BY 1, 2),
    f AS (
      SELECT col, v, cnt,
             MIN(v) OVER (PARTITION BY col) AS mn,
             MAX(v) OVER (PARTITION BY col) AS mx
      FROM h),
    bk AS (
      SELECT col, LEAST(9, (v - mn) * 10 // (mx - mn + 1)) AS b,
             CAST(SUM(cnt * cnt) AS BIGINT) AS exact_b,
             CAST(SUM(cnt) AS BIGINT) AS nb,
             CAST(COUNT(*) AS BIGINT) AS ndv_b
      FROM f GROUP BY 1, 2),
    pc AS (
      SELECT col, CAST(SUM(exact_b) AS BIGINT) AS exact_pairs,
             CAST(SUM(nb) AS BIGINT) AS n,
             CAST(SUM(ndv_b) AS BIGINT) AS ndv,
             CAST(SUM(nb * nb // ndv_b) AS BIGINT) AS hist_est
      FROM bk GROUP BY 1)
    SELECT col, n, ndv, exact_pairs,
           n * n // ndv AS sr_est,
           (exact_pairs - n * n // ndv) * 1000000 // exact_pairs
             AS sr_under_ppm,
           hist_est,
           (exact_pairs - hist_est) * 1000000 // exact_pairs
             AS hist_under_ppm
    FROM pc ORDER BY col
    """,
)
def stats_join_cardinality_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOIN-CARDINALITY ESTIMATION AUDIT — the number the CBO actually
    DERIVES from the collected statistics, checked against ground
    truth: for each candidate join key, the exact self-equi-join size
    Σ cnt(v)² next to the System-R uniform estimate n²/ndv and the
    equi-width-histogram refinement Σ_b n_b²/ndv_b (per-bucket System-R
    — the estimator `ANALYZE`-fed optimizers use).  Underestimation in
    ppm is the skew penalty: by Cauchy–Schwarz both estimates are ≤
    exact, so the errors are provably non-negative integer divisions
    (the house div contract).  Completes the planner-stats suite
    (scalars → histograms → shuffle skew → the ESTIMATE they exist to
    produce) and is the exact twin of agg_cms_selfjoin_size's sketch
    estimate of the same quantity.

    Measured (sf0.01): o_custkey self-join underestimated 9.3 % by BOTH
    models (per-customer order counts are dispersed — the q13 lesson:
    uniform-key assumptions break on behavioral keys), l_partkey 3.1 %,
    l_suppkey ~0 (a 100-value domain is captured almost exactly by its
    buckets) — the audit turns "estimates are fine on TPC-H dims but
    not on customer keys" into a checked number.

    Scale shape: rides the SHARED :func:`_lineitem_col_hist` memo plus
    the same one orders agg as the skew audit; every window/rollup runs
    on distinct-value tables, never raw rows; 3 output rows.
    int64-exact to ~3·10⁹ rows per key (n² bound — beyond that profile
    a fixed-rate sample: every ratio here is sampling-rate-invariant,
    the estimates being per-value-frequency functionals)."""
    t = load_tables(spark, sf_dir)
    h = (
        _lineitem_col_hist(spark, sf_dir)
        .where(
            F.col("v").isNotNull()
            & F.col("col").isin("l_partkey", "l_suppkey")
        )
        .select("col", "v", "cnt")
        .unionByName(
            t["orders"]
            .groupBy(F.col("o_custkey").alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit("o_custkey").alias("col"), "v", "cnt")
        )
    )
    wp = Window.partitionBy("col")
    f = h.select(
        "*",
        F.min("v").over(wp).alias("mn"),
        F.max("v").over(wp).alias("mx"),
    )
    b = F.least(F.lit(9), F.expr("(v - mn) * 10 div (mx - mn + 1)"))
    bk = f.groupBy("col", b.alias("b")).agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("exact_b"),
        F.sum("cnt").alias("nb"),
        F.count(F.lit(1)).alias("ndv_b"),
    )
    pc = bk.groupBy("col").agg(
        F.sum("exact_b").alias("exact_pairs"),
        F.sum("nb").alias("n"),
        F.sum("ndv_b").alias("ndv"),
        F.sum(F.expr("nb * nb div ndv_b")).alias("hist_est"),
    )
    return pc.select(
        "col",
        "n",
        "ndv",
        "exact_pairs",
        F.expr("n * n div ndv").alias("sr_est"),
        F.expr(
            "(exact_pairs - n * n div ndv) * 1000000 div exact_pairs"
        ).alias("sr_under_ppm"),
        "hist_est",
        F.expr("(exact_pairs - hist_est) * 1000000 div exact_pairs").alias(
            "hist_under_ppm"
        ),
    )


#: the candidate hash-sample rates the sweep prices (ppm of the corpus)
_SAMPLE_RATES_PPM = (10_000, 50_000, 100_000, 250_000)


@query(
    "stats_sample_error_sweep",
    oracle=f"""
    WITH o AS MATERIALIZED (
      SELECT {md5_u32_sql('o_orderkey')} % 1000000 AS r,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_full,
                 CAST(SUM(cents) AS BIGINT) // COUNT(*) AS mean_full
          FROM o),
    rt AS (SELECT CAST(unnest([{', '.join(str(r) for r in _SAMPLE_RATES_PPM)}])
                       AS BIGINT) AS rate_ppm),
    s AS (SELECT rate_ppm,
                 COUNT(CASE WHEN r < rate_ppm THEN 1 END) AS n_samp,
                 CAST(SUM(CASE WHEN r < rate_ppm THEN cents ELSE 0 END)
                      AS BIGINT) AS sum_samp
          FROM o, rt GROUP BY 1)
    SELECT rate_ppm, n_samp,
           n_samp * 1000000 // rate_ppm AS est_rows, n_full,
           ABS(n_samp * 1000000 // rate_ppm - n_full) * 1000000 // n_full
             AS rows_err_ppm,
           sum_samp // GREATEST(n_samp, 1) AS mean_samp_cents,
           mean_full AS mean_full_cents,
           ABS(sum_samp // GREATEST(n_samp, 1) - mean_full) * 1000000
             // mean_full AS mean_err_ppm
    FROM s, f ORDER BY rate_ppm
    """,
)
def stats_sample_error_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLING-ERROR SWEEP — the calibration table behind every
    "estimate it on a sample" decision at 100 TB (the watermark
    delay-sweep discipline applied to sampling): price the candidate
    content-hash sample rates 1% / 5% / 10% / 25% against exact ground
    truth in ONE corpus pass — rows-scaled-up error and sample-mean
    error (orders total price, integer cents), both in ppm.

    The sample is the house md5_u32(o_orderkey) % 1e6 < rate rule —
    deterministic, engine-portable, append-stable (a row's membership
    never changes as the corpus grows — the sample_split_stability_audit
    argument), and uniform: md5_u32 is 32-bit so % 1e6 wraps ~4295 full
    cycles (remainder bias < 0.01% — dispersion sanity-checked, the r10
    md5-modulus trap).  Expected shape (measured): errors fall roughly
    as 1/√(rate·n) — sf0.01: mean_err ~ 1.6k-13k ppm shrinking with
    rate; an error NOT shrinking as rates grow would fingerprint a
    hash/metric correlation.

    EXACT INTEGERS: cents via round(×100) (2-decimal money double →
    lossless int64), means by floor division on non-negative operands
    (GREATEST(n,1) guards the empty sample exactly like the KMV vk
    guard), errors as |est−truth|·10⁶ div truth.

    Scale shape: ZERO shuffles beyond one map-combined global agg — all
    four rates are conditional aggregates inside ONE pass over orders
    (the delay-sweep idiom: no per-rate re-scan, no fanout join), then a
    4-row stack computes the report.  The oracle prices the same sweep
    off a 4-row cross join."""
    o = load_tables(spark, sf_dir)["orders"].select(
        (md5_u32("o_orderkey") % 1_000_000).alias("r"),
        cents("o_totalprice").alias("cents"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_full"),
        F.expr("CAST(sum(cents) AS BIGINT) div count(1)").alias("mean_full"),
    ]
    for rp in _SAMPLE_RATES_PPM:
        cond = F.col("r") < rp
        aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"n{rp}"))
        aggs.append(
            F.sum(F.when(cond, F.col("cents")).otherwise(F.lit(0))).alias(
                f"s{rp}"
            )
        )
    t = o.agg(*aggs)
    pairs = ", ".join(
        f"CAST({rp} AS BIGINT), n{rp}, s{rp}" for rp in _SAMPLE_RATES_PPM
    )
    return (
        t.selectExpr(
            "n_full",
            "mean_full",
            f"stack({len(_SAMPLE_RATES_PPM)}, {pairs})"
            " AS (rate_ppm, n_samp, sum_samp)",
        )
        .select(
            "rate_ppm",
            "n_samp",
            F.expr("n_samp * 1000000 div rate_ppm").alias("est_rows"),
            "n_full",
            F.expr(
                "abs(n_samp * 1000000 div rate_ppm - n_full) * 1000000"
                " div n_full"
            ).alias("rows_err_ppm"),
            F.expr("sum_samp div greatest(n_samp, 1)").alias(
                "mean_samp_cents"
            ),
            F.col("mean_full").alias("mean_full_cents"),
            F.expr(
                "abs(sum_samp div greatest(n_samp, 1) - mean_full)"
                " * 1000000 div mean_full"
            ).alias("mean_err_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("rate_ppm")
    )


#: zone-map audit geometry: blocks per layout, and the literal predicate
#: windows [lo_day, hi_day) shared by Spark and the oracle (epoch days,
#: computed once here so the two engines can never disagree on a bound)


def _epoch_day(y: int, m: int, d: int) -> int:
    return (_dt.date(y, m, d) - _dt.date(1970, 1, 1)).days


ZONEMAP_BLOCKS = 64
ZONEMAP_PREDS: tuple[tuple[str, int, int], ...] = (
    ("h1_1996", _epoch_day(1996, 1, 1), _epoch_day(1996, 7, 1)),
    ("h2_1997", _epoch_day(1997, 7, 1), _epoch_day(1998, 1, 1)),
    ("q1_1995", _epoch_day(1995, 1, 1), _epoch_day(1995, 4, 1)),
    ("tail_2000", _epoch_day(2000, 1, 1), _epoch_day(2002, 1, 1)),
)


@query(
    "stats_zonemap_prune_audit",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey AS k,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d
      FROM orders),
    bd AS (SELECT MIN(k) AS mnk, MAX(k) AS mxk,
                  MIN(d) AS mnd, MAX(d) AS mxd FROM base),
    tagged AS MATERIALIZED (
      SELECT d,
             (k - mnk) * {ZONEMAP_BLOCKS} // (mxk - mnk + 1) AS blk_key,
             (d - mnd) * {ZONEMAP_BLOCKS} // (mxd - mnd + 1) AS blk_date
      FROM base, bd),
    zones AS MATERIALIZED (
      SELECT layout, blk, MIN(d) AS mn_d, MAX(d) AS mx_d,
             CAST(COUNT(*) AS BIGINT) AS nrows
      FROM (SELECT 'bykey' AS layout, blk_key AS blk, d FROM tagged
            UNION ALL SELECT 'bydate', blk_date, d FROM tagged)
      GROUP BY 1, 2),
    preds AS MATERIALIZED (
      SELECT * FROM (VALUES
        {", ".join(f"('{p}', {lo}, {hi})" for p, lo, hi in ZONEMAP_PREDS)}
      ) AS t(pred_id, lo, hi)),
    m AS MATERIALIZED (
      SELECT pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matching
      FROM base, preds WHERE d >= lo AND d < hi GROUP BY 1),
    zp AS (
      SELECT z.layout, p.pred_id,
             CASE WHEN z.mx_d < p.lo OR z.mn_d >= p.hi
                  THEN 0 ELSE 1 END AS is_read,
             z.nrows
      FROM zones z, preds p)
    SELECT zp.layout, zp.pred_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(COUNT(CASE WHEN is_read = 1 THEN 1 END) AS BIGINT)
             AS blocks_read,
           CAST(COUNT(CASE WHEN is_read = 0 THEN 1 END) AS BIGINT)
             AS blocks_skipped,
           CAST(SUM(CASE WHEN is_read = 1 THEN nrows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           COALESCE(MAX(m.rows_matching), 0) AS rows_matching,
           ROUND(CAST(COUNT(CASE WHEN is_read = 1 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS read_frac,
           ROUND(CASE WHEN COALESCE(MAX(m.rows_matching), 0) = 0 THEN 0.0
                      ELSE CAST(SUM(CASE WHEN is_read = 1 THEN nrows
                                         ELSE 0 END) AS DOUBLE)
                           / MAX(m.rows_matching) END, 6) AS scan_amp
    FROM zp LEFT JOIN m ON m.pred_id = zp.pred_id
    GROUP BY zp.layout, zp.pred_id
    ORDER BY zp.layout, zp.pred_id
    """,
)
def stats_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP / DATA-LAYOUT PRUNING AUDIT (new r13 family: storage
    layout) — the table a 100 TB pipeline reads before deciding to
    re-cluster: model each layout as {ZONEMAP_BLOCKS} equal-value-width
    blocks ('bykey' = insertion-order proxy over o_orderkey; 'bydate' =
    date-clustered), keep each block's (min, max) o_orderdate — exactly
    what parquet row-group footers store — and price four literal
    date-range predicates against the zone maps: a block is skipped iff
    max < lo or min >= hi (the standard range-overlap rule on [lo, hi)).

    Declared per (layout, predicate): block counts read/skipped,
    rows_scanned (what a reader actually decompresses), rows_matching
    (layout-independent ground truth — zone-map pruning is never
    lossy, the audit's built-in correctness pin), read_frac, and
    scan_amp = scanned/matching, the read-amplification multiple that
    quantifies what date-clustering buys.  On TPC-H-shaped data
    o_orderkey is uncorrelated with o_orderdate (corr ≈ -0.0007
    measured), so 'bykey' reads ~every block while 'bydate' prunes to
    the predicate's width — the measured argument for sort-on-write.

    EXACT INTEGERS: epoch days (dates are day-grained midnights;
    NTZ-safe casts both engines), equi-width block ids via the
    non-negative `div` contract, predicate bounds literal ints shared
    from ZONEMAP_PREDS; the two ROUND(,6) displays are the only
    floats.

    Scale shape: one data-proportional orders pass into a checkpointed
    (key-block, date-block, day) base, plus the tiny min/max bounds
    aggregate that precedes it (a second narrow scan at
    checkpoint-materialization time — it must run first because the
    block grid is derived FROM the bounds; ADVICE r14 #2) — at real
    scale both the bounds and the zone table come free from parquet
    footers; here they are derived, which is the audit's test-rig part — then two map-combined aggs (≤2·{ZONEMAP_BLOCKS}
    zone rows, ≤#days daily rows) against a 4-row broadcast predicate
    list.  No window, no row-level pred join: matching counts come
    from the per-day rollup."""
    o = load_tables(spark, sf_dir)["orders"]
    epoch = F.lit(_dt.date(1970, 1, 1))
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("long")
        .alias("d"),
    )
    bd = base.agg(
        F.min("k").alias("mnk"), F.max("k").alias("mxk"),
        F.min("d").alias("mnd"), F.max("d").alias("mxd"),
    )
    tagged = base.crossJoin(F.broadcast(bd)).select(
        "d",
        F.expr(f"(k - mnk) * {ZONEMAP_BLOCKS} div (mxk - mnk + 1)").alias(
            "blk_key"
        ),
        F.expr(f"(d - mnd) * {ZONEMAP_BLOCKS} div (mxd - mnd + 1)").alias(
            "blk_date"
        ),
    ).localCheckpoint(eager=False)
    zones = (
        tagged.selectExpr(
            "stack(2, 'bykey', blk_key, 'bydate', blk_date) AS (layout, blk)",
            "d",
        )
        .groupBy("layout", "blk")
        .agg(
            F.min("d").alias("mn_d"),
            F.max("d").alias("mx_d"),
            F.count(F.lit(1)).alias("nrows"),
        )
    )
    daily = tagged.groupBy("d").agg(F.count(F.lit(1)).alias("nd"))
    preds = spark.createDataFrame(
        list(ZONEMAP_PREDS), "pred_id string, lo long, hi long"
    )
    m = (
        daily.crossJoin(F.broadcast(preds))
        .where((F.col("d") >= F.col("lo")) & (F.col("d") < F.col("hi")))
        .groupBy("pred_id")
        .agg(F.sum("nd").alias("rows_matching"))
    )
    zp = zones.crossJoin(F.broadcast(preds)).select(
        "layout",
        "pred_id",
        F.when(
            (F.col("mx_d") < F.col("lo")) | (F.col("mn_d") >= F.col("hi")),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("is_read"),
        "nrows",
    )
    return (
        zp.join(F.broadcast(m), "pred_id", "left")
        .groupBy("layout", "pred_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("is_read").alias("blocks_read"),
            F.sum(F.lit(1) - F.col("is_read")).alias("blocks_skipped"),
            F.sum(F.col("is_read") * F.col("nrows")).alias("rows_scanned"),
            F.coalesce(F.max("rows_matching"), F.lit(0)).alias(
                "rows_matching"
            ),
            F.round(
                F.sum("is_read").cast("double") / F.count(F.lit(1)), 6
            ).alias("read_frac"),
            F.round(
                F.when(
                    F.coalesce(F.max("rows_matching"), F.lit(0)) == 0,
                    F.lit(0.0),
                ).otherwise(
                    F.sum(F.col("is_read") * F.col("nrows")).cast("double")
                    / F.max("rows_matching")
                ),
                6,
            ).alias("scan_amp"),
        )
        .repartition(1)
        .sortWithinPartitions("layout", "pred_id")
    )


# ---------------------------------------------------------- §2.13 z-order
#: Z-order audit geometry: a {ZORDER_CELLS}×{ZORDER_CELLS} normalized grid
#: over (o_orderkey, o_orderdate-epoch-day); interleaving the 5-bit cell
#: coordinates gives a 10-bit Morton value, and blk = z div 16 cuts it
#: into 64 blocks that are exactly 4×4-cell-aligned squares — the same
#: block count as the zonemap sibling so the two audits price layouts on
#: one scale.  Predicates are 2-D rectangles: literal epoch-day windows
#: [dlo, dhi) × literal key-grid windows [gxlo, gxhi) over the 32-cell
#: key axis (key bounds are grid cells, not raw keys, so the predicate
#: stays SF-invariant while both engines derive identical literals).
ZORDER_GRID_BITS = 5
ZORDER_CELLS = 1 << ZORDER_GRID_BITS  # 32 cells per dimension
ZORDER_BLOCKS = 64  # z div 16 -> 8×8 blocks of 4×4 cells each
_Z_PER_BLOCK = (ZORDER_CELLS * ZORDER_CELLS) // ZORDER_BLOCKS  # 16
ZORDER_PREDS: tuple[tuple[str, int, int, int, int], ...] = (
    ("alltime_kband", _epoch_day(1995, 1, 1), _epoch_day(2002, 1, 1), 16, 20),
    ("h1_1996_k8", _epoch_day(1996, 1, 1), _epoch_day(1996, 7, 1), 8, 16),
    ("h2_1997_k24", _epoch_day(1997, 7, 1), _epoch_day(1998, 1, 1), 24, 32),
    ("y2000_kmid", _epoch_day(2000, 1, 1), _epoch_day(2001, 1, 1), 12, 20),
)


def _z_interleave(gx: str, gy: str, intdiv: str) -> str:
    """Morton bit-interleave of two {ZORDER_GRID_BITS}-bit cells as a SQL
    expression string, using ONLY integer division and modulo — the one
    integer contract proven to agree between Spark (``div``) and DuckDB
    (``//``) on the non-negative operands both coordinates are by
    construction (bitwise operators are deliberately avoided: their
    precedence differs across engines).  Bit layout MSB→LSB:
    gx4 gy4 gx3 gy3 … gx0 gy0, so z div {_Z_PER_BLOCK} is the interleave
    of (gx div 4, gy div 4) — blocks are axis-aligned 4×4 squares."""
    terms = []
    for b in range(ZORDER_GRID_BITS):
        terms.append(f"(({gx} {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"(({gy} {intdiv} {1 << b}) % 2) * {1 << (2 * b)}")
    return " + ".join(terms)


@query(
    "stats_zorder_prune_audit",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey AS k,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d
      FROM orders),
    bd AS (SELECT MIN(k) AS mnk, MAX(k) AS mxk,
                  MIN(d) AS mnd, MAX(d) AS mxd FROM base),
    grid AS MATERIALIZED (
      SELECT d,
             (k - mnk) * {ZORDER_CELLS} // (mxk - mnk + 1) AS gx,
             (d - mnd) * {ZORDER_CELLS} // (mxd - mnd + 1) AS gy,
             (k - mnk) * {ZORDER_BLOCKS} // (mxk - mnk + 1) AS blk_key,
             (d - mnd) * {ZORDER_BLOCKS} // (mxd - mnd + 1) AS blk_date
      FROM base, bd),
    tagged AS MATERIALIZED (
      SELECT d, gx, blk_key, blk_date,
             ({_z_interleave("gx", "gy", "//")}) // {_Z_PER_BLOCK} AS blk_z
      FROM grid),
    zones AS (
      SELECT layout, blk, MIN(d) AS mn_d, MAX(d) AS mx_d,
             MIN(gx) AS mn_gx, MAX(gx) AS mx_gx,
             CAST(COUNT(*) AS BIGINT) AS nrows
      FROM (SELECT 'bykey' AS layout, blk_key AS blk, d, gx FROM tagged
            UNION ALL SELECT 'bydate', blk_date, d, gx FROM tagged
            UNION ALL SELECT 'zorder', blk_z, d, gx FROM tagged)
      GROUP BY 1, 2),
    cells AS (
      SELECT gx, d, CAST(COUNT(*) AS BIGINT) AS nc
      FROM tagged GROUP BY 1, 2),
    preds AS MATERIALIZED (
      SELECT * FROM (VALUES
        {", ".join(f"('{p}', {dlo}, {dhi}, {gxlo}, {gxhi})"
                   for p, dlo, dhi, gxlo, gxhi in ZORDER_PREDS)}
      ) AS t(pred_id, dlo, dhi, gxlo, gxhi)),
    m AS MATERIALIZED (
      SELECT pred_id, CAST(SUM(nc) AS BIGINT) AS rows_matching
      FROM cells, preds
      WHERE d >= dlo AND d < dhi AND gx >= gxlo AND gx < gxhi
      GROUP BY 1),
    zp AS (
      SELECT z.layout, p.pred_id,
             CASE WHEN z.mx_d < p.dlo OR z.mn_d >= p.dhi
                       OR z.mx_gx < p.gxlo OR z.mn_gx >= p.gxhi
                  THEN 0 ELSE 1 END AS is_read,
             z.nrows
      FROM zones z, preds p)
    SELECT zp.layout, zp.pred_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(COUNT(CASE WHEN is_read = 1 THEN 1 END) AS BIGINT)
             AS blocks_read,
           CAST(COUNT(CASE WHEN is_read = 0 THEN 1 END) AS BIGINT)
             AS blocks_skipped,
           CAST(SUM(CASE WHEN is_read = 1 THEN nrows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           COALESCE(MAX(m.rows_matching), 0) AS rows_matching,
           ROUND(CAST(COUNT(CASE WHEN is_read = 1 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS read_frac,
           ROUND(CASE WHEN COALESCE(MAX(m.rows_matching), 0) = 0 THEN 0.0
                      ELSE CAST(SUM(CASE WHEN is_read = 1 THEN nrows
                                         ELSE 0 END) AS DOUBLE)
                           / MAX(m.rows_matching) END, 6) AS scan_amp
    FROM zp LEFT JOIN m ON m.pred_id = zp.pred_id
    GROUP BY zp.layout, zp.pred_id
    ORDER BY zp.layout, zp.pred_id
    """,
)
def stats_zorder_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER / MULTI-COLUMN CLUSTERING PRUNING AUDIT — the 2-D sibling
    of stats_zonemap_prune_audit (r13's storage-layout family, extended
    per VERDICT r13 #3): the table a 100 TB lakehouse reads before
    choosing `OPTIMIZE ZORDER BY (key, date)` over a single sort column.

    Three 64-block layouts over orders: 'bykey' (equi-value-width on
    o_orderkey — insertion-order proxy), 'bydate' (date-clustered), and
    'zorder' — rows laid out by the 10-bit Morton interleave of the
    5-bit normalized (key, date) grid cells, cut into 64 equal z-ranges
    (= axis-aligned 4×4-cell squares; see _z_interleave).  Every block
    keeps (min, max) of BOTH the epoch day and the key-grid cell —
    exactly the per-column min/max stats parquet footers already store —
    and four literal 2-D rectangle predicates (date window × key band)
    are priced with the standard range-overlap rule on each dimension.

    The measured story: a single-column sort prunes ONLY its own
    dimension (bykey reads ~the key band's width of blocks but every
    date; bydate the reverse — on this corpus corr(key, date) ≈ -0.01
    so the off dimension never helps), while the z-order layout prunes
    BOTH (a wd×wk rectangle reads ~wd·wk of the blocks) — e.g. the
    narrow h1_1996_k8 rectangle reads 2-3 zorder blocks vs ~6 bydate
    vs ~17 bykey, and scan_amp quantifies the difference a reader pays.
    rows_matching is layout-independent ground truth (zone pruning is
    never lossy — the built-in correctness pin, rows_scanned >=
    rows_matching in every row).

    EXACT INTEGERS throughout: epoch days, grid cells and block ids via
    the non-negative div contract, the Morton value via pure div/mod
    terms (bitwise ops avoided — engine precedence differs), literal
    predicate bounds shared from ZORDER_PREDS; the two ROUND(,6)
    displays are the only floats.

    Scale shape: one data-proportional orders pass into the
    checkpointed (d, gx, block ids) frame, plus the tiny min/max
    bounds aggregate that precedes it (a second narrow scan at
    checkpoint-materialization time — the grid cells are derived FROM
    the bounds, so it cannot ride the same pass; ADVICE r14 #2) — at
    real scale block stats and bounds come free from parquet footers;
    deriving them is the audit's test-rig part — then a
    3-layout stack into a ≤3·64-row zone table, a (gx, d) rollup
    (≤32·#days rows) for ground truth, and every predicate join a
    broadcast of the 4-row literal list.  No window, no row-level
    predicate join, no shuffle proportional to anything but the scan."""
    o = load_tables(spark, sf_dir)["orders"]
    epoch = F.lit(_dt.date(1970, 1, 1))
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("long")
        .alias("d"),
    )
    bd = base.agg(
        F.min("k").alias("mnk"), F.max("k").alias("mxk"),
        F.min("d").alias("mnd"), F.max("d").alias("mxd"),
    )
    grid = base.crossJoin(F.broadcast(bd)).select(
        "d",
        F.expr(f"(k - mnk) * {ZORDER_CELLS} div (mxk - mnk + 1)").alias("gx"),
        F.expr(f"(d - mnd) * {ZORDER_CELLS} div (mxd - mnd + 1)").alias("gy"),
        F.expr(f"(k - mnk) * {ZORDER_BLOCKS} div (mxk - mnk + 1)").alias(
            "blk_key"
        ),
        F.expr(f"(d - mnd) * {ZORDER_BLOCKS} div (mxd - mnd + 1)").alias(
            "blk_date"
        ),
    )
    # second select on MATERIALIZED column names (never sibling aliases —
    # the r8 alias-shadowing trap) so the Morton expr reads real columns
    tagged = grid.select(
        "d", "gx", "blk_key", "blk_date",
        F.expr(
            f"({_z_interleave('gx', 'gy', 'div')}) div {_Z_PER_BLOCK}"
        ).alias("blk_z"),
    ).localCheckpoint(eager=False)
    zones = (
        tagged.selectExpr(
            "stack(3, 'bykey', blk_key, 'bydate', blk_date,"
            " 'zorder', blk_z) AS (layout, blk)",
            "d", "gx",
        )
        .groupBy("layout", "blk")
        .agg(
            F.min("d").alias("mn_d"),
            F.max("d").alias("mx_d"),
            F.min("gx").alias("mn_gx"),
            F.max("gx").alias("mx_gx"),
            F.count(F.lit(1)).alias("nrows"),
        )
    )
    cells = tagged.groupBy("gx", "d").agg(F.count(F.lit(1)).alias("nc"))
    preds = spark.createDataFrame(
        list(ZORDER_PREDS),
        "pred_id string, dlo long, dhi long, gxlo long, gxhi long",
    )
    m = (
        cells.crossJoin(F.broadcast(preds))
        .where(
            (F.col("d") >= F.col("dlo")) & (F.col("d") < F.col("dhi"))
            & (F.col("gx") >= F.col("gxlo")) & (F.col("gx") < F.col("gxhi"))
        )
        .groupBy("pred_id")
        .agg(F.sum("nc").alias("rows_matching"))
    )
    zp = zones.crossJoin(F.broadcast(preds)).select(
        "layout",
        "pred_id",
        F.when(
            (F.col("mx_d") < F.col("dlo")) | (F.col("mn_d") >= F.col("dhi"))
            | (F.col("mx_gx") < F.col("gxlo"))
            | (F.col("mn_gx") >= F.col("gxhi")),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("is_read"),
        "nrows",
    )
    return (
        zp.join(F.broadcast(m), "pred_id", "left")
        .groupBy("layout", "pred_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("is_read").alias("blocks_read"),
            F.sum(F.lit(1) - F.col("is_read")).alias("blocks_skipped"),
            F.sum(F.col("is_read") * F.col("nrows")).alias("rows_scanned"),
            F.coalesce(F.max("rows_matching"), F.lit(0)).alias(
                "rows_matching"
            ),
            F.round(
                F.sum("is_read").cast("double") / F.count(F.lit(1)), 6
            ).alias("read_frac"),
            F.round(
                F.when(
                    F.coalesce(F.max("rows_matching"), F.lit(0)) == 0,
                    F.lit(0.0),
                ).otherwise(
                    F.sum(F.col("is_read") * F.col("nrows")).cast("double")
                    / F.max("rows_matching")
                ),
                6,
            ).alias("scan_amp"),
        )
        .repartition(1)
        .sortWithinPartitions("layout", "pred_id")
    )


# ----------------------------------------------------------- §2.13 bloom
#: bloom audit geometry: the date-clustered 64-block layout (a
#: time-partitioned table), block bloom filters on the UNCLUSTERED
#: o_custkey sized at BITS_PER_KEY bits per distinct key (parquet sizes
#: row-group blooms by ndv the same way), SEEDS hash functions derived
#: from the house md5_u32 base hash, and a probe set of 8 hash-ordered
#: present keys + 4 out-of-range absent keys.
BLOOM_BLOCKS = 64
BLOOM_SEEDS = (0, 1, 2)
BLOOM_BITS_PER_KEY = 10
BLOOM_PRESENT_PROBES = 8
BLOOM_ABSENT_PROBES = 4


@query(
    "stats_bloom_prune_audit",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT o_custkey AS ck,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d
      FROM orders),
    bnd AS MATERIALIZED (
      SELECT MIN(d) AS mnd, MAX(d) AS mxd, MAX(ck) AS mxck FROM base),
    bk AS MATERIALIZED (
      SELECT blk, ck, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT (d - mnd) * {BLOOM_BLOCKS} // (mxd - mnd + 1) AS blk, ck
            FROM base, bnd)
      GROUP BY 1, 2),
    blocks AS MATERIALIZED (
      SELECT blk, CAST(COUNT(*) AS BIGINT) AS ndv,
             CAST(SUM(cnt) AS BIGINT) AS nrows,
             MIN(ck) AS mn_ck, MAX(ck) AS mx_ck,
             CAST(COUNT(*) AS BIGINT) * {BLOOM_BITS_PER_KEY} AS m_blk
      FROM bk GROUP BY 1),
    block_bits AS MATERIALIZED (
      SELECT DISTINCT b.blk,
             {md5_u32_sql("CAST(ck AS VARCHAR) || ':' || CAST(s AS VARCHAR)")}
               % bl.m_blk AS bit
      FROM bk b JOIN blocks bl USING (blk)
      CROSS JOIN (VALUES {", ".join(f"({s})" for s in BLOOM_SEEDS)}) AS t(s)),
    probes AS MATERIALIZED (
      SELECT 'present' AS probe_kind, ck AS p
      FROM (SELECT ck, {md5_u32_sql("'probe:' || CAST(ck AS VARCHAR)")} AS h
            FROM (SELECT DISTINCT ck FROM bk)
            ORDER BY h, ck LIMIT {BLOOM_PRESENT_PROBES})
      UNION ALL
      SELECT 'absent', mxck + i
      FROM bnd CROSS JOIN (VALUES {", ".join(
          f"({i})" for i in range(1, BLOOM_ABSENT_PROBES + 1))}) AS t(i)),
    pb AS MATERIALIZED (
      SELECT DISTINCT pr.probe_kind, pr.p, b.blk, b.nrows, b.mn_ck, b.mx_ck,
             {md5_u32_sql("CAST(p AS VARCHAR) || ':' || CAST(s AS VARCHAR)")}
               % b.m_blk AS bit
      FROM probes pr CROSS JOIN blocks b
      CROSS JOIN (VALUES {", ".join(f"({s})" for s in BLOOM_SEEDS)}) AS t(s)),
    nbf AS (
      SELECT probe_kind, p, blk, nrows, mn_ck, mx_ck,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM pb GROUP BY 1, 2, 3, 4, 5, 6),
    mt AS (
      SELECT probe_kind, p, blk, CAST(COUNT(*) AS BIGINT) AS nhit
      FROM pb JOIN block_bits USING (blk, bit) GROUP BY 1, 2, 3),
    cont AS (
      SELECT pr.probe_kind, pr.p,
             CAST(COUNT(*) AS BIGINT) AS blocks_containing,
             CAST(SUM(bk.cnt) AS BIGINT) AS rows_matching
      FROM bk JOIN probes pr ON bk.ck = pr.p GROUP BY 1, 2),
    perpb AS (
      SELECT n.probe_kind, n.p, n.nrows,
             CASE WHEN n.p >= n.mn_ck AND n.p <= n.mx_ck
                  THEN 1 ELSE 0 END AS rz,
             CASE WHEN COALESCE(m.nhit, 0) = n.nb THEN 1 ELSE 0 END AS rb
      FROM nbf n LEFT JOIN mt m
        ON m.probe_kind = n.probe_kind AND m.p = n.p AND m.blk = n.blk)
    SELECT pp.probe_kind, pp.p AS probe_ck,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           COALESCE(MAX(c.blocks_containing), 0) AS blocks_containing,
           CAST(SUM(rz) AS BIGINT) AS blocks_read_zone,
           CAST(SUM(rb) AS BIGINT) AS blocks_read_bloom,
           CAST(SUM(rb) AS BIGINT) - COALESCE(MAX(c.blocks_containing), 0)
             AS false_pos_blocks,
           CAST(SUM(rb * nrows) AS BIGINT) AS rows_scanned_bloom,
           COALESCE(MAX(c.rows_matching), 0) AS rows_matching,
           ROUND(CAST(SUM(rz) AS DOUBLE) / COUNT(*), 6) AS read_frac_zone,
           ROUND(CAST(SUM(rb) AS DOUBLE) / COUNT(*), 6) AS read_frac_bloom
    FROM perpb pp LEFT JOIN cont c
      ON c.probe_kind = pp.probe_kind AND c.p = pp.p
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stats_bloom_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCK-LEVEL BLOOM-FILTER PRUNING AUDIT — third member of the
    storage-layout family (zonemap → zorder → bloom): the table that
    answers "do row-group bloom filters pay for point lookups on a
    column our sort order ignores?" before a 100 TB table turns them on.

    Layout: the date-clustered {BLOOM_BLOCKS}-block table (time-
    partitioned ingest).  Lookup column: o_custkey — UNCLUSTERED, so
    every block spans ~the whole key range and min/max zone maps read
    ~everything (read_frac_zone ≈ 1 for any in-range key: the measured
    uselessness).  Each block gets a bloom filter sized at
    {BLOOM_BITS_PER_KEY} bits per distinct key (m_blk = 10·ndv — the
    ndv-proportional sizing parquet uses, load factor 3/10 → theoretical
    FPR (1-e^-0.3)^3 ≈ 1.7%), with {len(BLOOM_SEEDS)} hash functions
    bit_s = md5_u32(key ':' s) mod m_blk — the house exact cross-engine
    base hash, so the ENTIRE filter (every set bit, every probe, every
    false positive) is bit-identical in Spark and DuckDB and the audit
    is fully hash-oracled, not a simulation.

    Probes: the {BLOOM_PRESENT_PROBES} present keys with the smallest
    md5_u32('probe:'||key) (hash-ordered deterministic sample, value
    tie-break) + {BLOOM_ABSENT_PROBES} absent keys just past max(key)
    (o_custkey is dense on this corpus, so in-range absents don't
    exist; out-of-range absents pin the zone maps' one win and the
    bloom's zero-match behavior).  Declared per probe: blocks actually
    containing the key, blocks a zone-map reader opens, blocks a bloom
    reader opens, false_pos_blocks = bloom-read − containing (the
    measured FPR, expect ~1 of {BLOOM_BLOCKS}), rows scanned under
    bloom pruning, true rows_matching, and both read fractions.  The
    built-in pins: bloom NEVER misses (blocks_read_bloom >=
    blocks_containing — no false negatives by construction), absent
    probes have rows_matching = 0, and zone beats bloom only on the
    out-of-range arm.

    EXACT INTEGERS: md5_u32 bits (m_blk « 2^32 keeps the mod
    meaningful — the r10 md5-domain trap), integer block ids, counts;
    the two ROUND(,6) fractions are displays.

    Scale shape: one data-proportional orders pass map-combines to the
    checkpointed (blk, ck, cnt) frame (plus the narrow min/max bounds
    aggregate that precedes it — block ids derive from the bounds;
    ADVICE r14 #2); bloom
    construction streams it through one projection+distinct (3 rows
    per distinct key, ndv-proportional like the real filter build);
    probe evaluation is a ≤{12 * len(BLOOM_SEEDS) * BLOOM_BLOCKS}-row
    broadcast against it; everything downstream is O(probes·blocks)."""
    o = load_tables(spark, sf_dir)["orders"]
    epoch = F.lit(_dt.date(1970, 1, 1))
    base = o.select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("long")
        .alias("d"),
    )
    bnd = base.agg(
        F.min("d").alias("mnd"), F.max("d").alias("mxd"),
        F.max("ck").alias("mxck"),
    )
    bk = (
        base.crossJoin(F.broadcast(bnd))
        .select(
            "ck",
            F.expr(
                f"(d - mnd) * {BLOOM_BLOCKS} div (mxd - mnd + 1)"
            ).alias("blk"),
        )
        .groupBy("blk", "ck")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    blocks = bk.groupBy("blk").agg(
        F.count(F.lit(1)).alias("ndv"),
        F.sum("cnt").alias("nrows"),
        F.min("ck").alias("mn_ck"),
        F.max("ck").alias("mx_ck"),
        (F.count(F.lit(1)) * BLOOM_BITS_PER_KEY).alias("m_blk"),
    )
    seeds = F.explode(
        F.array(*[F.lit(s) for s in BLOOM_SEEDS])
    ).alias("s")
    block_bits = (
        bk.join(F.broadcast(blocks.select("blk", "m_blk")), "blk")
        .select("blk", "ck", "m_blk", seeds)
        .select(
            "blk",
            (
                md5_u32(
                    F.concat(
                        F.col("ck").cast("string"), F.lit(":"),
                        F.col("s").cast("string"),
                    )
                )
                % F.col("m_blk")
            ).alias("bit"),
        )
        .distinct()
    )
    present = (
        bk.select("ck")
        .distinct()
        .select(
            "ck",
            md5_u32(
                F.concat(F.lit("probe:"), F.col("ck").cast("string"))
            ).alias("h"),
        )
        .orderBy("h", "ck")  # TakeOrdered top-8: the fixed-size
        .limit(BLOOM_PRESENT_PROBES)  # hash-ordered sample idiom
        .select(F.lit("present").alias("probe_kind"), F.col("ck").alias("p"))
    )
    absent = bnd.select(
        "mxck",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, BLOOM_ABSENT_PROBES + 1)])
        ).alias("i"),
    ).select(
        F.lit("absent").alias("probe_kind"),
        (F.col("mxck") + F.col("i")).cast("long").alias("p"),
    )
    # 12-row probe list consumed by three downstream joins — checkpoint so
    # the TakeOrdered sample is computed once, not once per consumer
    probes = present.unionByName(absent).localCheckpoint(eager=False)
    pb = (
        probes.crossJoin(
            F.broadcast(
                blocks.select("blk", "m_blk", "nrows", "mn_ck", "mx_ck")
            )
        )
        .select("probe_kind", "p", "blk", "m_blk", "nrows", "mn_ck", "mx_ck",
                seeds)
        .select(
            "probe_kind", "p", "blk", "nrows", "mn_ck", "mx_ck",
            (
                md5_u32(
                    F.concat(
                        F.col("p").cast("string"), F.lit(":"),
                        F.col("s").cast("string"),
                    )
                )
                % F.col("m_blk")
            ).alias("bit"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # two consumers (nbf, mt)
    )
    nbf = pb.groupBy(
        "probe_kind", "p", "blk", "nrows", "mn_ck", "mx_ck"
    ).agg(F.count(F.lit(1)).alias("nb"))
    # inner join keyed by the DATA side with the tiny probe-bit list
    # broadcast (block_bits is ndv-proportional: never broadcast it)
    mt = (
        block_bits.join(
            F.broadcast(pb.select("probe_kind", "p", "blk", "bit")),
            ["blk", "bit"],
        )
        .groupBy("probe_kind", "p", "blk")
        .agg(F.count(F.lit(1)).alias("nhit"))
    )
    cont = (
        bk.join(F.broadcast(probes), bk["ck"] == probes["p"])
        .groupBy("probe_kind", "p")
        .agg(
            F.count(F.lit(1)).alias("blocks_containing"),
            F.sum("cnt").alias("rows_matching"),
        )
    )
    perpb = nbf.join(
        F.broadcast(mt), ["probe_kind", "p", "blk"], "left"
    ).select(
        "probe_kind", "p", "nrows",
        F.when(
            (F.col("p") >= F.col("mn_ck")) & (F.col("p") <= F.col("mx_ck")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("rz"),
        F.when(F.coalesce(F.col("nhit"), F.lit(0)) == F.col("nb"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("rb"),
    )
    return (
        perpb.groupBy("probe_kind", "p")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("rz").alias("blocks_read_zone"),
            F.sum("rb").alias("blocks_read_bloom"),
            F.sum(F.col("rb") * F.col("nrows")).alias("rows_scanned_bloom"),
        )
        .join(F.broadcast(cont), ["probe_kind", "p"], "left")
        .select(
            "probe_kind",
            F.col("p").alias("probe_ck"),
            "n_blocks",
            F.coalesce("blocks_containing", F.lit(0)).alias(
                "blocks_containing"
            ),
            "blocks_read_zone",
            "blocks_read_bloom",
            (
                F.col("blocks_read_bloom")
                - F.coalesce("blocks_containing", F.lit(0))
            ).alias("false_pos_blocks"),
            "rows_scanned_bloom",
            F.coalesce("rows_matching", F.lit(0)).alias("rows_matching"),
            F.round(
                F.col("blocks_read_zone").cast("double") / F.col("n_blocks"),
                6,
            ).alias("read_frac_zone"),
            F.round(
                F.col("blocks_read_bloom").cast("double") / F.col("n_blocks"),
                6,
            ).alias("read_frac_bloom"),
        )
        .repartition(1)
        .sortWithinPartitions("probe_kind", "probe_ck")
    )


# ------------------------------------------------------ §2.13 compaction
#: compaction audit geometry: a "file" is one (ingest-chunk × month)
#: parquet object — chunk = o_orderkey div {COMPACT_CHUNK} models arrival
#: order, month is the partition column, and because arrival order is
#: uncorrelated with order date every chunk sprays a few rows into ~every
#: month: the classic streaming-ingest small-files pathology.  Row bytes
#: are an exact integer proxy (fixed overhead + the two varchar payloads).
COMPACT_CHUNK = 256
COMPACT_OPEN_B = 4096  # per-file open/footer/seek overhead, bytes
COMPACT_TARGETS = (1024, 4096, 16384, 65536)


@query(
    "stats_compaction_waste_audit",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT (YEAR(CAST(o_orderdate AS DATE)) - 1970) * 12
               + MONTH(CAST(o_orderdate AS DATE)) - 1 AS mo,
             o_orderkey // {COMPACT_CHUNK} AS chunk,
             48 + STRLEN(o_orderpriority)
                + STRLEN(o_orderstatus) AS rb
      FROM orders),
    files AS MATERIALIZED (
      SELECT mo, chunk, CAST(SUM(rb) AS BIGINT) AS fb
      FROM base GROUP BY 1, 2),
    months AS (
      SELECT mo, CAST(SUM(fb) AS BIGINT) AS mb FROM files GROUP BY 1),
    targets AS MATERIALIZED (
      SELECT * FROM (VALUES {", ".join(f"({t})" for t in COMPACT_TARGETS)})
        AS t(target_bytes)),
    f_roll AS (
      SELECT target_bytes,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(fb) AS BIGINT) AS total_bytes,
             CAST(COUNT(CASE WHEN fb < target_bytes THEN 1 END) AS BIGINT)
               AS n_small
      FROM files, targets GROUP BY 1),
    m_roll AS (
      SELECT target_bytes,
             CAST(SUM((mb + target_bytes - 1) // target_bytes) AS BIGINT)
               AS files_after
      FROM months, targets GROUP BY 1)
    SELECT f.target_bytes, f.n_files, f.total_bytes, f.n_small,
           ROUND(CAST(f.n_small AS DOUBLE) / f.n_files, 6) AS small_frac,
           m.files_after,
           ROUND(CAST(f.n_files AS DOUBLE) / m.files_after, 6)
             AS compaction_ratio,
           ROUND(CAST(f.total_bytes + f.n_files * {COMPACT_OPEN_B} AS DOUBLE)
                 / f.total_bytes, 6) AS read_amp_now,
           ROUND(CAST(f.total_bytes + m.files_after * {COMPACT_OPEN_B}
                      AS DOUBLE) / f.total_bytes, 6) AS read_amp_after
    FROM f_roll f JOIN m_roll m USING (target_bytes)
    ORDER BY f.target_bytes
    """,
)
def stats_compaction_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILES / COMPACTION-WASTE AUDIT — fourth member of the
    storage-layout family (VERDICT r13 #3's file-size suggestion): the
    table a 100 TB lakehouse reads before scheduling OPTIMIZE/compaction.

    File model: one file per (ingest chunk × month partition), chunk =
    o_orderkey div {COMPACT_CHUNK} standing in for arrival microbatches.
    Arrival order is uncorrelated with o_orderdate on this corpus, so
    each microbatch sprays a handful of rows into ~every month — the
    measured streaming-ingest pathology (files of a few rows each).
    Exact integer file bytes: Σ(48 + octet_length of the two varchar
    columns) per file.

    For each literal target size in {COMPACT_TARGETS}: the current file
    census (n_files, total_bytes, n_small = files under target,
    small_frac), the post-compaction census (files_after =
    Σ_partition ceil(partition_bytes / target) — compaction never
    crosses a partition boundary, the integer ceil via the
    non-negative (b+t-1) div t identity), compaction_ratio, and the
    read-amplification pair: read_amp_now vs read_amp_after price a
    full-table scan at {COMPACT_OPEN_B} bytes of per-file open/footer
    overhead — the number that justifies the compaction job's cost.

    EXACT INTEGERS throughout (epoch months via year/month arithmetic,
    integer ceil, byte sums); the four ROUND(,6) columns are displays.

    Scale shape: ONE orders scan map-combines to the checkpointed
    (month, chunk, bytes) file census — the only data-proportional
    stage, and at real scale this table IS the catalog/manifest, free —
    then two rollups (file-level and partition-level) against a
    broadcast 4-row target list, joined on target.  No window, no
    row-level join, nothing driver-side."""
    o = load_tables(spark, sf_dir)["orders"]
    d = F.col("o_orderdate").cast("date")
    base = o.select(
        ((F.year(d) - 1970) * 12 + F.month(d) - 1).cast("long").alias("mo"),
        F.expr(f"o_orderkey div {COMPACT_CHUNK}").alias("chunk"),
        (
            F.lit(48)
            + F.octet_length("o_orderpriority")
            + F.octet_length("o_orderstatus")
        ).cast("long").alias("rb"),
    )
    files = (
        base.groupBy("mo", "chunk")
        .agg(F.sum("rb").alias("fb"))
        .localCheckpoint(eager=False)  # two rollup consumers
    )
    months = files.groupBy("mo").agg(F.sum("fb").alias("mb"))
    targets = spark.createDataFrame(
        [(t,) for t in COMPACT_TARGETS], "target_bytes long"
    )
    f_roll = (
        files.crossJoin(F.broadcast(targets))
        .groupBy("target_bytes")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("fb").alias("total_bytes"),
            F.sum(
                F.when(F.col("fb") < F.col("target_bytes"), F.lit(1))
                .otherwise(F.lit(0))
            ).alias("n_small"),
        )
    )
    m_roll = (
        months.crossJoin(F.broadcast(targets))
        .groupBy("target_bytes")
        .agg(
            F.sum(
                F.expr("(mb + target_bytes - 1) div target_bytes")
            ).alias("files_after")
        )
    )
    return (
        f_roll.join(F.broadcast(m_roll), "target_bytes")
        .select(
            "target_bytes", "n_files", "total_bytes", "n_small",
            F.round(
                F.col("n_small").cast("double") / F.col("n_files"), 6
            ).alias("small_frac"),
            "files_after",
            F.round(
                F.col("n_files").cast("double") / F.col("files_after"), 6
            ).alias("compaction_ratio"),
            F.round(
                (
                    F.col("total_bytes")
                    + F.col("n_files") * COMPACT_OPEN_B
                ).cast("double")
                / F.col("total_bytes"),
                6,
            ).alias("read_amp_now"),
            F.round(
                (
                    F.col("total_bytes")
                    + F.col("files_after") * COMPACT_OPEN_B
                ).cast("double")
                / F.col("total_bytes"),
                6,
            ).alias("read_amp_after"),
        )
        .repartition(1)
        .sortWithinPartitions("target_bytes")
    )


# ------------------------------------------------- §2.13 clustering depth
#: clustering-depth audit: candidate sort columns examined over the
#: natural (insertion-order) 64-block layout — o_orderkey itself is the
#: perfectly-clustered control arm.
DEPTH_BLOCKS = 64
_DEPTH_COLS = ("o_orderkey", "o_custkey", "orderdate_day", "totalprice_c")


@query(
    "stats_clustering_depth_audit",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey AS k,
             o_custkey AS ck,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS tp
      FROM orders),
    bd AS (SELECT MIN(k) AS mnk, MAX(k) AS mxk FROM base),
    vals AS MATERIALIZED (
      SELECT col, blk, v FROM (
        SELECT (k - mnk) * {DEPTH_BLOCKS} // (mxk - mnk + 1) AS blk,
               ck, d, tp, k
        FROM base, bd)
      UNPIVOT (v FOR col IN (k AS 'o_orderkey', ck AS 'o_custkey',
                             d AS 'orderdate_day', tp AS 'totalprice_c'))),
    zones AS MATERIALIZED (
      SELECT col, blk, MIN(v) AS bmn, MAX(v) AS bmx
      FROM vals GROUP BY 1, 2),
    dom AS MATERIALIZED (
      SELECT col, MIN(bmn) AS mn, MAX(bmx) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(bmx - bmn + 1) AS BIGINT) AS sum_span
      FROM zones GROUP BY 1),
    ev AS (
      SELECT col, pos, CAST(SUM(delta) AS BIGINT) AS net FROM (
        SELECT col, bmn AS pos, 1 AS delta FROM zones
        UNION ALL SELECT col, bmx + 1, -1 FROM zones)
      GROUP BY 1, 2),
    sweep AS (
      SELECT col, CAST(MAX(run) AS BIGINT) AS max_depth FROM (
        SELECT col, SUM(net) OVER (PARTITION BY col ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS run
        FROM ev)
      GROUP BY 1)
    SELECT d.col AS col_name, d.n_blocks, (d.mx - d.mn + 1) AS width,
           d.sum_span,
           ROUND(CAST(d.sum_span AS DOUBLE)
                 / (d.n_blocks * (d.mx - d.mn + 1)), 6) AS avg_span_frac,
           ROUND(CAST(d.sum_span AS DOUBLE) / (d.mx - d.mn + 1), 6)
             AS point_depth,
           s.max_depth
    FROM dom d JOIN sweep s ON s.col = d.col
    ORDER BY d.col
    """,
)
def stats_clustering_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTERING-DEPTH / SORT-COLUMN-CHOICE AUDIT — fifth member of the
    storage-layout family: the table a 100 TB lakehouse reads to decide
    WHICH column the next rewrite should sort by (the zonemap audit
    prices a layout that exists; this one ranks the candidates).

    Over the natural insertion-order layout ({DEPTH_BLOCKS} equi-width
    o_orderkey blocks), each candidate column gets its per-block
    (min, max) zones and three clusteredness numbers: avg_span_frac
    (mean block span as a fraction of the column's domain — 1.0 means
    every block spans everything, 1/{DEPTH_BLOCKS} is perfect),
    point_depth (expected blocks a uniform point predicate must read =
    Σ spans / domain width), and max_depth — the EXACT worst-case
    overlap depth (Iceberg's clustering-depth metric), computed by the
    classic sweep-line: +1 at each block's min, -1 past its max, net
    deltas per coordinate, running-sum max.  o_orderkey itself is the
    control arm (depth 1 by construction); on this corpus the other
    three columns are arrival-uncorrelated so their depth ≈ n_blocks —
    the measured argument that the natural layout serves exactly one
    access path.

    EXACT INTEGERS: epoch days, lossless cents for the money column,
    integer spans/deltas/prefix sums (ties need no ordering rule —
    deltas are netted per coordinate before the running sum); the two
    ROUND(,6) columns are displays.

    Scale shape: one data-proportional orders pass into the
    checkpointed (blk, 4 values) frame (plus the narrow min/max bounds
    aggregate that precedes it — block ids derive from the bounds;
    ADVICE r14 #2), a 4-way stack into per-(col, blk) zones (≤4·{DEPTH_BLOCKS}
    rows — at real scale these come free from parquet footers), and the
    sweep windows run over ≤2 boundary rows per zone, partitioned by
    column.  Nothing after the scan is data-proportional."""
    o = load_tables(spark, sf_dir)["orders"]
    epoch = F.lit(_dt.date(1970, 1, 1))
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").cast("long").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("long")
        .alias("d"),
        cents("o_totalprice").alias("tp"),
    )
    bd = base.agg(F.min("k").alias("mnk"), F.max("k").alias("mxk"))
    vals = (
        base.crossJoin(F.broadcast(bd))
        .select(
            F.expr(f"(k - mnk) * {DEPTH_BLOCKS} div (mxk - mnk + 1)").alias(
                "blk"
            ),
            "k", "ck", "d", "tp",
        )
        .selectExpr(
            "blk",
            "stack(4, 'o_orderkey', k, 'o_custkey', ck,"
            " 'orderdate_day', d, 'totalprice_c', tp) AS (col, v)",
        )
        .localCheckpoint(eager=False)
    )
    zones = (
        vals.groupBy("col", "blk")
        .agg(F.min("v").alias("bmn"), F.max("v").alias("bmx"))
        .localCheckpoint(eager=False)  # dom + both sweep arms read it
    )
    dom = zones.groupBy("col").agg(
        F.min("bmn").alias("mn"),
        F.max("bmx").alias("mx"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("bmx") - F.col("bmn") + 1).alias("sum_span"),
    )
    ev = (
        zones.selectExpr(
            "col",
            "stack(2, bmn, 1, bmx + 1, -1) AS (pos, delta)",
        )
        .groupBy("col", "pos")
        .agg(F.sum("delta").alias("net"))
    )
    wrun = (
        Window.partitionBy("col")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sweep = (
        ev.select("col", F.sum("net").over(wrun).alias("run"))
        .groupBy("col")
        .agg(F.max("run").alias("max_depth"))
    )
    return (
        dom.join(F.broadcast(sweep), "col")
        .select(
            F.col("col").alias("col_name"),
            "n_blocks",
            (F.col("mx") - F.col("mn") + 1).alias("width"),
            "sum_span",
            F.round(
                F.col("sum_span").cast("double")
                / (F.col("n_blocks") * (F.col("mx") - F.col("mn") + 1)),
                6,
            ).alias("avg_span_frac"),
            F.round(
                F.col("sum_span").cast("double")
                / (F.col("mx") - F.col("mn") + 1),
                6,
            ).alias("point_depth"),
            "max_depth",
        )
        .repartition(1)
        .sortWithinPartitions("col_name")
    )


# ---------------------------------------------- §2.13 runtime join filter
#: runtime-filter audit: the dimension predicate windows are the zonemap
#: literals (epoch-day windows over o_orderdate); the fact side is
#: lineitem, filtered through three runtime-filter strengths.
RTF_BITS_PER_KEY = 10  # bloom sized m = 10·|key set|, ONE hash function


@query(
    "stats_runtime_filter_audit",
    oracle=f"""
    WITH preds AS MATERIALIZED (
      SELECT * FROM (VALUES
        {", ".join(f"('{p}', {lo}, {hi})" for p, lo, hi in ZONEMAP_PREDS)}
      ) AS t(pred_id, lo, hi)),
    ok AS MATERIALIZED (
      SELECT p.pred_id, o.o_orderkey AS k
      FROM orders o JOIN preds p
        ON CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' >= p.lo
       AND CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' < p.hi),
    dimstats AS MATERIALIZED (
      SELECT pred_id, CAST(COUNT(*) AS BIGINT) AS nk,
             MIN(k) AS kmin, MAX(k) AS kmax,
             CAST(COUNT(*) AS BIGINT) * {RTF_BITS_PER_KEY} AS m
      FROM ok GROUP BY 1),
    bits AS MATERIALIZED (
      SELECT DISTINCT ok.pred_id,
             {md5_u32_sql("CAST(k AS VARCHAR) || ':0'")} % d.m AS bit
      FROM ok JOIN dimstats d USING (pred_id)),
    fact AS MATERIALIZED (
      SELECT l_orderkey AS k,
             {md5_u32_sql("CAST(l_orderkey AS VARCHAR) || ':0'")} AS h
      FROM lineitem),
    nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fact FROM fact),
    exact AS (
      SELECT ok.pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matching
      FROM fact JOIN ok ON fact.k = ok.k GROUP BY 1),
    mm AS (
      SELECT d.pred_id, CAST(COUNT(CASE WHEN f.k >= d.kmin
                                         AND f.k <= d.kmax THEN 1 END)
                             AS BIGINT) AS rows_read_minmax
      FROM fact f CROSS JOIN dimstats d GROUP BY 1),
    bl AS (
      SELECT d.pred_id, CAST(COUNT(*) AS BIGINT) AS rows_read_bloom
      FROM fact f
      JOIN dimstats d ON TRUE
      JOIN bits b ON b.pred_id = d.pred_id AND b.bit = f.h % d.m
      GROUP BY 1)
    SELECT p.pred_id, COALESCE(d.nk, 0) AS n_dim_keys,
           nf.n_fact AS n_fact_rows,
           COALESCE(e.rows_matching, 0) AS rows_matching,
           COALESCE(mm.rows_read_minmax, 0) AS rows_read_minmax,
           COALESCE(bl.rows_read_bloom, 0) AS rows_read_bloom,
           COALESCE(bl.rows_read_bloom, 0) - COALESCE(e.rows_matching, 0)
             AS fp_rows_bloom,
           ROUND(CASE WHEN COALESCE(e.rows_matching, 0) = 0 THEN 0.0
                      ELSE CAST(mm.rows_read_minmax AS DOUBLE)
                           / e.rows_matching END, 6) AS amp_minmax,
           ROUND(CASE WHEN COALESCE(e.rows_matching, 0) = 0 THEN 0.0
                      ELSE CAST(COALESCE(bl.rows_read_bloom, 0) AS DOUBLE)
                           / e.rows_matching END, 6) AS amp_bloom,
           ROUND(CAST(COALESCE(e.rows_matching, 0) AS DOUBLE) / nf.n_fact, 6)
             AS selectivity
    FROM preds p CROSS JOIN nf
    LEFT JOIN dimstats d USING (pred_id)
    LEFT JOIN exact e USING (pred_id)
    LEFT JOIN mm USING (pred_id)
    LEFT JOIN bl USING (pred_id)
    ORDER BY p.pred_id
    """,
)
def stats_runtime_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME JOIN-FILTER STRENGTH AUDIT — sixth member of the storage/
    pruning family and its first TWO-TABLE one: the table that answers
    "is a min/max runtime filter enough for this star join, or do we
    need the bloom?" (Spark's InjectRuntimeFilter decision, measured).

    For each zonemap-literal date window on orders, the qualifying
    o_orderkey set is pushed into the lineitem scan at three strengths:
    (1) min/max range (what DPP/zone runtime filters ship) —
    rows_read_minmax; (2) a bloom filter over the key set, m =
    {RTF_BITS_PER_KEY}·|keys| bits, ONE md5_u32 hash (load 0.1 →
    theoretical FPR 1-e^-0.1 ≈ 9.5% of non-matching rows) —
    rows_read_bloom; (3) the exact semi-join — rows_matching.  On this
    corpus o_orderkey is date-uncorrelated, so the min/max range spans
    ~the whole key domain and prunes ~nothing (amp_minmax ≈
    1/selectivity — measured 13.4 on the 7% windows), while the bloom
    lands at amp_bloom ≈ 1 + FPR·(1−s)/s (measured 2.26 there — a 6×
    win over min/max; widen RTF_BITS_PER_KEY for tighter) — the
    measured case for bloom runtime filters on unclustered join keys.
    Built-in pins: both filters are LOSSLESS
    (rows_read_* >= rows_matching; the bloom hashes every true key into
    its own filter), and fp_rows_bloom / (n_fact - matching) is the
    measured FPR.

    EXACT INTEGERS: epoch-day literals, md5_u32 row hashes computed
    ONCE per fact row (the per-predicate bit is h mod m_pred; every
    m « 2^32 — the r10 md5-domain trap), integer counts; the three
    ROUND(,6) columns are displays.

    Scale shape: one orders scan → the per-predicate key sets (the
    build side a real runtime filter collects anyway); one lineitem
    scan computing the row hash once; the min/max arm is a conditional
    agg against a broadcast 4-row stats table; the bloom arm joins the
    hashed fact against the (pred, bit) table WITHOUT a forced
    broadcast (bit sets are dimension-proportional — the vocab de-hint
    rule; AQE promotes when they fit); the exact arm is the plain
    equi-join Spark would run anyway.  Nothing is ever driver-side."""
    t = load_tables(spark, sf_dir)
    epoch = F.lit(_dt.date(1970, 1, 1))
    preds = spark.createDataFrame(
        list(ZONEMAP_PREDS), "pred_id string, lo long, hi long"
    )
    od = F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long")
    ok = (
        t["orders"].select(F.col("o_orderkey").alias("k"), od.alias("d"))
        .join(
            F.broadcast(preds),
            (F.col("d") >= F.col("lo")) & (F.col("d") < F.col("hi")),
        )
        .select("pred_id", "k")
        .localCheckpoint(eager=False)  # dimstats + bits + exact arm
    )
    dimstats = ok.groupBy("pred_id").agg(
        F.count(F.lit(1)).alias("nk"),
        F.min("k").alias("kmin"),
        F.max("k").alias("kmax"),
        (F.count(F.lit(1)) * RTF_BITS_PER_KEY).alias("m"),
    )
    bits = (
        ok.join(F.broadcast(dimstats.select("pred_id", "m")), "pred_id")
        .select(
            "pred_id",
            (
                md5_u32(F.concat(F.col("k").cast("string"), F.lit(":0")))
                % F.col("m")
            ).alias("bit"),
        )
        .distinct()
    )
    fact = t["lineitem"].select(
        F.col("l_orderkey").alias("k"),
        md5_u32(
            F.concat(F.col("l_orderkey").cast("string"), F.lit(":0"))
        ).alias("h"),
    ).localCheckpoint(eager=False)  # three arms + the census read it
    nf = fact.agg(F.count(F.lit(1)).alias("n_fact"))
    exact = (
        fact.join(ok, "k")
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("rows_matching"))
    )
    mm = (
        fact.crossJoin(F.broadcast(dimstats))
        .groupBy("pred_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("k") >= F.col("kmin"))
                    & (F.col("k") <= F.col("kmax")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("rows_read_minmax")
        )
    )
    # the bloom arm: plain equi-join on (pred, bit) — the bit set is
    # dimension-proportional, so no forced broadcast (vocab de-hint rule)
    fb = fact.crossJoin(
        F.broadcast(dimstats.select("pred_id", "m"))
    ).select("pred_id", (F.col("h") % F.col("m")).alias("bit"))
    bl = (
        fb.join(bits, ["pred_id", "bit"])
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("rows_read_bloom"))
    )
    # the declared spine is the LITERAL predicate list (ADVICE r14 #1):
    # a window matching zero orders still emits its zero row instead of
    # silently vanishing, so the output shape is data-independent.
    return (
        preds.select("pred_id").crossJoin(F.broadcast(nf))
        .join(F.broadcast(dimstats), "pred_id", "left")
        .join(F.broadcast(exact), "pred_id", "left")
        .join(F.broadcast(mm), "pred_id", "left")
        .join(F.broadcast(bl), "pred_id", "left")
        .select(
            "pred_id",
            F.coalesce("nk", F.lit(0)).alias("n_dim_keys"),
            F.col("n_fact").alias("n_fact_rows"),
            F.coalesce("rows_matching", F.lit(0)).alias("rows_matching"),
            F.coalesce("rows_read_minmax", F.lit(0)).alias(
                "rows_read_minmax"
            ),
            F.coalesce("rows_read_bloom", F.lit(0)).alias("rows_read_bloom"),
            (
                F.coalesce("rows_read_bloom", F.lit(0))
                - F.coalesce("rows_matching", F.lit(0))
            ).alias("fp_rows_bloom"),
            F.round(
                F.when(
                    F.coalesce("rows_matching", F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    F.col("rows_read_minmax").cast("double")
                    / F.col("rows_matching")
                ),
                6,
            ).alias("amp_minmax"),
            F.round(
                F.when(
                    F.coalesce("rows_matching", F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    F.coalesce("rows_read_bloom", F.lit(0)).cast("double")
                    / F.col("rows_matching")
                ),
                6,
            ).alias("amp_bloom"),
            F.round(
                F.coalesce("rows_matching", F.lit(0)).cast("double")
                / F.col("n_fact"),
                6,
            ).alias("selectivity"),
        )
        .repartition(1)
        .sortWithinPartitions("pred_id")
    )


# ------------------------------------------------ §2.13 join-strategy cost
#: broadcast-vs-shuffle pricing literals: estimated bytes per build-side
#: row (8B key + 16B row/array overhead — the same order Spark's own
#: SizeEstimator lands on for a LongType build row), the executor count a
#: broadcast ships one copy to, and the autoBroadcastJoinThreshold sweep.
JSA_ROW_W = 24
JSA_EXEC_N = 32
#: 16 KB (forces the flip at local SFs), 1 MB, and Spark's 10 MB default
JSA_THR_BYTES = (16384, 1048576, 10485760)


@query(
    "stats_join_strategy_audit",
    oracle=f"""
    WITH preds AS MATERIALIZED (
      SELECT * FROM (VALUES
        {", ".join(f"('{p}', {lo}, {hi})" for p, lo, hi in ZONEMAP_PREDS)}
      ) AS t(pred_id, lo, hi)),
    ok AS MATERIALIZED (
      SELECT p.pred_id, o.o_orderkey AS k
      FROM orders o JOIN preds p
        ON CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' >= p.lo
       AND CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' < p.hi),
    dimn AS (SELECT pred_id, CAST(COUNT(*) AS BIGINT) AS nk
             FROM ok GROUP BY 1),
    fact AS MATERIALIZED (SELECT l_orderkey AS k FROM lineitem),
    nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fact FROM fact),
    m AS (SELECT ok.pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matching
          FROM fact JOIN ok ON fact.k = ok.k GROUP BY 1),
    thr AS (SELECT CAST(thr_bytes AS BIGINT) AS thr_bytes FROM (VALUES
        {", ".join(f"({x})" for x in JSA_THR_BYTES)}) AS t(thr_bytes))
    SELECT p.pred_id, t.thr_bytes,
           COALESCE(d.nk, 0) AS n_dim_keys,
           COALESCE(d.nk, 0) * {JSA_ROW_W} AS dim_bytes_est,
           nf.n_fact AS n_fact_rows,
           COALESCE(m.rows_matching, 0) AS rows_matching,
           COALESCE(d.nk, 0) * {JSA_EXEC_N} AS bhj_shipped_rows,
           nf.n_fact + COALESCE(d.nk, 0) AS smj_shuffled_rows,
           CASE WHEN COALESCE(d.nk, 0) * {JSA_ROW_W} <= t.thr_bytes
                THEN 'broadcast' ELSE 'shuffle' END AS chosen_strategy,
           CASE WHEN COALESCE(d.nk, 0) * {JSA_ROW_W} <= t.thr_bytes
                THEN COALESCE(d.nk, 0) * {JSA_EXEC_N}
                ELSE nf.n_fact + COALESCE(d.nk, 0) END
             AS rows_shipped_chosen,
           ROUND(CAST(COALESCE(d.nk, 0) * {JSA_EXEC_N} AS DOUBLE)
                 / (nf.n_fact + COALESCE(d.nk, 0)), 6)
             AS ship_ratio_bhj_vs_smj,
           ROUND(CAST(COALESCE(m.rows_matching, 0) AS DOUBLE) / nf.n_fact, 6)
             AS fact_selectivity
    FROM preds p CROSS JOIN thr t CROSS JOIN nf
    LEFT JOIN dimn d USING (pred_id)
    LEFT JOIN m USING (pred_id)
    ORDER BY p.pred_id, t.thr_bytes
    """,
)
def stats_join_strategy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-STRATEGY BREAK-EVEN AUDIT — the planner-decision table next
    to stats_join_cardinality_audit (estimate error) and
    stats_runtime_filter_audit (filter strength): for each zonemap date
    window on orders joined to lineitem, price BROADCAST (ship one
    build copy per executor: nk x JSA_EXEC_N rows) against
    SORT-MERGE/SHUFFLE (shuffle both sides once: n_fact + nk rows) and
    record which side an autoBroadcastJoinThreshold of 16 KB / 1 MB /
    10 MB (Spark's default) picks, from EXACT per-window stats (the
    numbers AQE only estimates).  ship_ratio < 1 means broadcast ships
    fewer rows than the shuffle would move — on this corpus (orders
    span 1995-2001, so every window is populated) the quarter window
    q1_1995 stays under the 16 KB arm while the half-year and two-year
    windows cross it and flip to shuffle (measured at sf0.01: 26 KB
    build sides), so the break-even is visible at test scale; at
    100 TB the SAME table prices the 10 MB default arm (build sides
    grow ~linearly with SF).

    EXACT INTEGERS: key counts, literal byte widths, shipped-row
    formulas; the two ROUND(,6) ratios are single IEEE divisions of
    exact integers.  The declared spine is preds x thresholds (the
    ADVICE r14 #1 contract — an empty window prices as nk = 0,
    broadcast, zero shipped rows, never a missing row).

    Scale shape: one orders scan into the checkpointed qualifying-key
    frame (broadcast 4-row predicate list), one lineitem scan into the
    checkpointed fact-key frame, the matching arm a plain un-hinted
    key equi-join (both sides data-proportional), and the 12-row
    spine assembled from broadcast O(preds) aggregates.  The audit
    itself never moves more than the two scans."""
    t = load_tables(spark, sf_dir)
    epoch = F.lit(_dt.date(1970, 1, 1))
    preds = spark.createDataFrame(
        list(ZONEMAP_PREDS), "pred_id string, lo long, hi long"
    )
    od = F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long")
    ok = (
        t["orders"].select(F.col("o_orderkey").alias("k"), od.alias("d"))
        .join(
            F.broadcast(preds),
            (F.col("d") >= F.col("lo")) & (F.col("d") < F.col("hi")),
        )
        .select("pred_id", "k")
        .localCheckpoint(eager=False)  # dimn + matching arm read it
    )
    dimn = ok.groupBy("pred_id").agg(F.count(F.lit(1)).alias("nk"))
    fact = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("k"))
        .localCheckpoint(eager=False)  # census + matching arm read it
    )
    nf = fact.agg(F.count(F.lit(1)).alias("n_fact"))
    m = (
        fact.join(ok, "k")
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("rows_matching"))
    )
    thr = spark.createDataFrame(
        [(x,) for x in JSA_THR_BYTES], "thr_bytes long"
    )
    nk0 = F.coalesce(F.col("nk"), F.lit(0))
    is_bhj = nk0 * JSA_ROW_W <= F.col("thr_bytes")
    return (
        preds.select("pred_id")
        .crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(nf))
        .join(F.broadcast(dimn), "pred_id", "left")
        .join(F.broadcast(m), "pred_id", "left")
        .select(
            "pred_id",
            "thr_bytes",
            nk0.alias("n_dim_keys"),
            (nk0 * JSA_ROW_W).alias("dim_bytes_est"),
            F.col("n_fact").alias("n_fact_rows"),
            F.coalesce("rows_matching", F.lit(0)).alias("rows_matching"),
            (nk0 * JSA_EXEC_N).alias("bhj_shipped_rows"),
            (F.col("n_fact") + nk0).alias("smj_shuffled_rows"),
            F.when(is_bhj, F.lit("broadcast"))
            .otherwise(F.lit("shuffle"))
            .alias("chosen_strategy"),
            F.when(is_bhj, nk0 * JSA_EXEC_N)
            .otherwise(F.col("n_fact") + nk0)
            .alias("rows_shipped_chosen"),
            F.round(
                (nk0 * JSA_EXEC_N).cast("double")
                / (F.col("n_fact") + nk0),
                6,
            ).alias("ship_ratio_bhj_vs_smj"),
            F.round(
                F.coalesce("rows_matching", F.lit(0)).cast("double")
                / F.col("n_fact"),
                6,
            ).alias("fact_selectivity"),
        )
        .repartition(1)
        .sortWithinPartitions("pred_id", "thr_bytes")
    )
