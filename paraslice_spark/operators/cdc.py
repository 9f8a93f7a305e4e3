"""CDC / keyed change-log maintenance audits (SURVEY §2.13, r15 family).

The tables a 100 TB lakehouse team reads around its MERGE INTO pipelines:
what did the last merge do (classify), what changed between snapshots
(diff), what does the final state look like (last-writer-wins replay),
how much would log compaction reclaim, and how often do keys resurrect
after a delete (the tombstone-retention question).

Test-rig derivation (documented, deterministic, single-sourced in
:func:`_cdc_log`): the ``events`` table is read as a CDC change stream —
entity key = (``user_id div 10`` "tenant", ``props.k`` item), op =
delete iff ``event_type == 'error'`` else upsert, payload = the
micro-unit value, version = ``event_id`` (arrival order; the fixture's
ts is monotone in event_id, verified r15, so arrival == event time
order), commit batches = event_id deciles (relative cuts so every SF and
every regenerated corpus is non-degenerate).  At sf0.01 this yields
1,500 keys with mean chain length 6.7 (max 16) and ~1k delete→upsert
resurrections — rich enough that every audit class is populated.

Engine-parity rules used throughout (see canon.py): non-negative ``div``
// ``//`` only, int64 micro-units with ONE final IEEE division, pooled
ratios (never per-row float averages), literal class spines driven by
left joins so output shapes are data-independent (the ADVICE r14 #1
contract), and every DuckDB SUM(BIGINT) cast back to BIGINT.

Scale shape (shared): ONE events scan builds the memoized checkpointed
change log per (session, sf) — all five audits ride it (the
_knn_uedges_cached precedent) — plus the narrow max(event_id) bounds
aggregate the decile cut needs (same documented trade as the zonemap
family's bounds pass).  State collapse is a groupBy on the entity key
(data-proportional shuffle, exactly the MERGE shuffle a real pipeline
pays); snapshot joins are plain un-hinted equi-joins on the key (both
sides data-proportional — the vocab de-hint rule; AQE promotes when one
fits); every class-spine join broadcasts a <=5-row literal frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from paraslice_spark.functions.canon import micros_units
from paraslice_spark.memo import memo
from paraslice_spark.registry import query
from paraslice_spark.sources.io import load_tables

# ---------------------------------------------------------------- CDC rig
#: op mapping: this event type is a delete/tombstone, everything else
#: upserts.  Single source for BOTH engines — never restate inline.
CDC_DELETE_TYPE = "error"
#: tenant granularity: entity = (user_id div CDC_TENANT_DIV, props.k)
CDC_TENANT_DIV = 10
#: commit batches = event_id deciles; T1 snapshot = batches [0, CDC_T1);
#: the incoming merge batch = batches [CDC_T1, 10).
CDC_BATCHES = 10
CDC_T1 = 8
#: chain-length histogram cap (16 is the sf0.01 max; 10+ merges the tail)
CDC_CHAIN_CAP = 10

#: shared DuckDB CTE text for the change log (verbatim in every oracle).
#: ``mx`` must be CROSS JOINed; `//` is safe — all operands >= 0.
CDC_LOG_SQL = f"""
      SELECT user_id // {CDC_TENANT_DIV} AS ent,
             CAST(json_extract(props, '$.k') AS INT) AS item,
             CASE WHEN event_type = '{CDC_DELETE_TYPE}' THEN 'delete'
                  ELSE 'upsert' END AS op,
             event_type AS etype,
             CAST(round(value * 1000000) AS BIGINT) AS value_u,
             event_id * {CDC_BATCHES} // mx.m AS batch,
             event_id AS eid
      FROM events CROSS JOIN mx
"""
CDC_MX_SQL = f"SELECT MAX(event_id) + 1 AS m FROM events"

#: shared DuckDB last-writer-wins state collapse over a log CTE named
#: ``chlog`` (filter pushed by the caller); eid is unique so arg_max is
#: deterministic.
CDC_STATE_SQL = """
      SELECT ent, item, arg_max(op, eid) AS op,
             arg_max(etype, eid) AS etype,
             arg_max(value_u, eid) AS value_u,
             CAST(COUNT(*) AS BIGINT) AS n_changes,
             MAX(eid) AS last_eid
"""


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncached change-log builder: one events scan plus the narrow
    max(event_id) bounds aggregate the decile cut derives from."""
    ev = load_tables(spark, sf_dir)["events"]
    mx = ev.agg((F.max("event_id") + 1).alias("m"))
    return ev.crossJoin(F.broadcast(mx)).select(
        F.expr(f"user_id div {CDC_TENANT_DIV}").alias("ent"),
        F.get_json_object("props", "$.k").cast("int").alias("item"),
        F.when(F.col("event_type") == CDC_DELETE_TYPE, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("event_type").alias("etype"),
        micros_units("value").alias("value_u"),
        F.expr(f"event_id * {CDC_BATCHES} div m").alias("batch"),
        F.col("event_id").alias("eid"),
    )


def _cdc_log_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized checkpointed change log per (session, sf) — five audit
    consumers ride one materialization."""
    return memo(
        spark,
        sf_dir,
        "cdc_log",
        lambda: _cdc_log(spark, sf_dir).localCheckpoint(eager=True),
    )


def _cdc_state(log: DataFrame, alive_only: bool = False) -> DataFrame:
    """Last-writer-wins collapse: one groupBy on the entity key — the
    same shuffle a real MERGE pays; eid unique -> max_by deterministic."""
    st = log.groupBy("ent", "item").agg(
        F.max_by("op", "eid").alias("op"),
        F.max_by("etype", "eid").alias("etype"),
        F.max_by("value_u", "eid").alias("value_u"),
        F.count(F.lit(1)).alias("n_changes"),
        F.max("eid").alias("last_eid"),
    )
    return st.where(F.col("op") == "upsert") if alive_only else st


def _tiny_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """Declared-output ordering for few-row results without the
    range-partitioner re-execution trap (CLAUDE.md: final .orderBy on a
    small result re-runs the upstream plan for sampling)."""
    return df.repartition(1).sortWithinPartitions(*cols)


# ------------------------------------------------- last-writer-wins state


@query(
    "cdc_upsert_last_wins",
    oracle=f"""
    WITH mx AS ({CDC_MX_SQL}),
    chlog AS ({CDC_LOG_SQL}),
    st AS ({CDC_STATE_SQL} FROM chlog GROUP BY 1, 2)
    SELECT etype AS last_event_type,
           CASE WHEN op = 'upsert' THEN 1 ELSE 0 END AS alive,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_changes) AS BIGINT) AS total_changes,
           CAST(SUM(value_u) AS DOUBLE) / 1000000.0 AS sum_last_value
    FROM st GROUP BY 1, 2 ORDER BY 1
    """,
)
def cdc_upsert_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-LOG LAST-WRITER-WINS REPLAY — the final state table a keyed
    CDC sink (compacted topic / Delta upsert target) converges to,
    profiled by final event type.  alive == 0 rows are the retained
    tombstones (op mapping makes alive a pure function of etype; both
    are emitted so the contract is visible in the output).  Tombstone
    value sums are the payloads the tombstones carried — deterministic,
    kept (a real reaper audits exactly these before dropping them).

    Scale: state collapse = one key-shuffle groupBy over the shared
    checkpointed log; the profile is a second groupBy over O(keys)."""
    st = _cdc_state(_cdc_log_cached(spark, sf_dir))
    out = st.groupBy(
        F.col("etype").alias("last_event_type"),
        F.when(F.col("op") == "upsert", F.lit(1))
        .otherwise(F.lit(0))
        .alias("alive"),
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_changes").alias("total_changes"),
        (F.sum("value_u").cast("double") / 1000000.0).alias(
            "sum_last_value"
        ),
    )
    return _tiny_sorted(out, "last_event_type")


# --------------------------------------------------------- MERGE classify

#: literal class spine — the declared shape is these 5 rows regardless of
#: what the incoming batch contains (ADVICE r14 #1 contract).
MERGE_CLASSES = ("del", "del_absent", "ins", "upd_changed", "upd_noop")


@query(
    "cdc_merge_classify_audit",
    oracle=f"""
    WITH mx AS ({CDC_MX_SQL}),
    chlog AS MATERIALIZED ({CDC_LOG_SQL}),
    tgt AS ({CDC_STATE_SQL}
      FROM (SELECT * FROM chlog WHERE batch < {CDC_T1}) t
      GROUP BY 1, 2),
    alive_tgt AS (SELECT * FROM tgt WHERE op = 'upsert'),
    src AS ({CDC_STATE_SQL}
      FROM (SELECT * FROM chlog WHERE batch >= {CDC_T1}) t
      GROUP BY 1, 2),
    cls AS (
      SELECT CASE
               WHEN t.ent IS NULL AND s.op = 'delete' THEN 'del_absent'
               WHEN t.ent IS NULL THEN 'ins'
               WHEN s.op = 'delete' THEN 'del'
               WHEN s.value_u <> t.value_u OR s.etype <> t.etype
                 THEN 'upd_changed'
               ELSE 'upd_noop'
             END AS merge_class,
             s.value_u AS s_value_u, t.value_u AS t_value_u
      FROM src s LEFT JOIN alive_tgt t
        ON s.ent = t.ent AND s.item = t.item),
    agg AS (
      SELECT merge_class, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(s_value_u) AS BIGINT) AS s_u,
             CAST(SUM(COALESCE(t_value_u, 0)) AS BIGINT) AS t_u
      FROM cls GROUP BY 1)
    SELECT sp.merge_class, COALESCE(a.n_rows, 0) AS n_rows,
           CAST(COALESCE(a.s_u, 0) AS DOUBLE) / 1000000.0 AS sum_src_value,
           CAST(COALESCE(a.t_u, 0) AS DOUBLE) / 1000000.0 AS sum_tgt_value
    FROM (VALUES {", ".join(f"('{c}')" for c in MERGE_CLASSES)})
         AS sp(merge_class)
    LEFT JOIN agg a USING (merge_class)
    ORDER BY sp.merge_class
    """,
)
def cdc_merge_classify_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO CLASSIFICATION — what would ``MERGE INTO target USING
    batch`` do, row by row: the counts a CDC pipeline logs after every
    apply.  Target = alive last-writer-wins state over batches
    [0, T1); source = batches [T1, 10) PRE-COLLAPSED per key to their
    final intent (the canonical CDC apply contract — a raw MERGE errors
    on duplicate source keys).  Classes: ``ins`` (unmatched upsert),
    ``del`` (matched delete), ``del_absent`` (delete of a key that never
    existed or was already gone — the no-op a naive pipeline miscounts),
    ``upd_changed`` vs ``upd_noop`` (matched upsert with differing vs
    identical (value, type) — noop updates are the rewrite-amplification
    a real lakehouse wants to skip).  The diff is VALUE-level: a key
    touched in the batch that lands back on its old payload counts as
    noop by design.

    Scale: two filtered collapses of the one checkpointed log, one
    un-hinted key equi-join (both sides data-proportional), and the
    5-row literal spine left-join that pins the output shape."""
    log = _cdc_log_cached(spark, sf_dir)
    tgt = _cdc_state(
        log.where(F.col("batch") < CDC_T1), alive_only=True
    ).select(
        "ent",
        "item",
        F.col("value_u").alias("t_value_u"),
        F.col("etype").alias("t_etype"),
        F.lit(1).alias("matched"),
    )
    src = _cdc_state(log.where(F.col("batch") >= CDC_T1))
    cls = src.join(tgt, ["ent", "item"], "left").select(
        F.when(
            F.col("matched").isNull() & (F.col("op") == "delete"),
            F.lit("del_absent"),
        )
        .when(F.col("matched").isNull(), F.lit("ins"))
        .when(F.col("op") == "delete", F.lit("del"))
        .when(
            (F.col("value_u") != F.col("t_value_u"))
            | (F.col("etype") != F.col("t_etype")),
            F.lit("upd_changed"),
        )
        .otherwise(F.lit("upd_noop"))
        .alias("merge_class"),
        "value_u",
        F.coalesce("t_value_u", F.lit(0)).alias("t_u"),
    )
    agg = cls.groupBy("merge_class").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value_u").alias("s_u"),
        F.sum("t_u").alias("t_u"),
    )
    spine = spark.createDataFrame(
        [(c,) for c in MERGE_CLASSES], "merge_class string"
    )
    out = spine.join(F.broadcast(agg), "merge_class", "left").select(
        "merge_class",
        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        (F.coalesce("s_u", F.lit(0)).cast("double") / 1000000.0).alias(
            "sum_src_value"
        ),
        (F.coalesce("t_u", F.lit(0)).cast("double") / 1000000.0).alias(
            "sum_tgt_value"
        ),
    )
    return _tiny_sorted(out, "merge_class")


# ---------------------------------------------------------- snapshot diff

DIFF_CLASSES = ("added", "changed", "removed", "unchanged")


@query(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH mx AS ({CDC_MX_SQL}),
    chlog AS MATERIALIZED ({CDC_LOG_SQL}),
    s1 AS (SELECT * FROM ({CDC_STATE_SQL}
      FROM (SELECT * FROM chlog WHERE batch < {CDC_T1}) q
      GROUP BY 1, 2) t WHERE op = 'upsert'),
    s2 AS (SELECT * FROM ({CDC_STATE_SQL} FROM chlog GROUP BY 1, 2) t
      WHERE op = 'upsert'),
    cls AS (
      SELECT CASE
               WHEN b.ent IS NULL THEN 'added'
               WHEN a.ent IS NULL THEN 'removed'
               WHEN a.value_u <> b.value_u OR a.etype <> b.etype
                 THEN 'changed'
               ELSE 'unchanged'
             END AS diff_class,
             COALESCE(b.value_u, 0) AS b_u, COALESCE(a.value_u, 0) AS a_u
      FROM s1 b FULL OUTER JOIN s2 a
        ON b.ent = a.ent AND b.item = a.item),
    agg AS (
      SELECT diff_class, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(b_u) AS BIGINT) AS b_u, CAST(SUM(a_u) AS BIGINT) AS a_u
      FROM cls GROUP BY 1)
    SELECT sp.diff_class, COALESCE(a.n_keys, 0) AS n_keys,
           CAST(COALESCE(a.b_u, 0) AS DOUBLE) / 1000000.0
             AS sum_value_before,
           CAST(COALESCE(a.a_u, 0) AS DOUBLE) / 1000000.0
             AS sum_value_after,
           CAST(COALESCE(a.a_u, 0) - COALESCE(a.b_u, 0) AS DOUBLE)
             / 1000000.0 AS net_value_delta
    FROM (VALUES {", ".join(f"('{c}')" for c in DIFF_CLASSES)})
         AS sp(diff_class)
    LEFT JOIN agg a USING (diff_class)
    ORDER BY sp.diff_class
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF — the validation table an incremental pipeline
    computes between table versions: alive state at T1 vs alive state at
    T2 (= full log), full-outer-joined on the key and classified
    added / removed / changed / unchanged with exact micro-unit value
    sums and the net delta.  VALUE-level semantics (a key touched
    between snapshots that lands back on its old payload is
    'unchanged'); the net_value_delta column is the single number a
    reconciliation job alerts on.

    Scale: two collapses of the one checkpointed log, one un-hinted
    full-outer key join (both sides data-proportional — exactly the
    snapshot-diff shuffle), 4-row literal spine pins the shape."""
    log = _cdc_log_cached(spark, sf_dir)
    s1 = _cdc_state(
        log.where(F.col("batch") < CDC_T1), alive_only=True
    ).select(
        "ent",
        "item",
        F.col("value_u").alias("b_value_u"),
        F.col("etype").alias("b_etype"),
    )
    s2 = _cdc_state(log, alive_only=True).select(
        "ent",
        "item",
        F.col("value_u").alias("a_value_u"),
        F.col("etype").alias("a_etype"),
    )
    cls = s1.join(s2, ["ent", "item"], "full_outer").select(
        F.when(F.col("b_etype").isNull(), F.lit("added"))
        .when(F.col("a_etype").isNull(), F.lit("removed"))
        .when(
            (F.col("a_value_u") != F.col("b_value_u"))
            | (F.col("a_etype") != F.col("b_etype")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("diff_class"),
        F.coalesce("b_value_u", F.lit(0)).alias("b_u"),
        F.coalesce("a_value_u", F.lit(0)).alias("a_u"),
    )
    agg = cls.groupBy("diff_class").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("b_u").alias("b_u"),
        F.sum("a_u").alias("a_u"),
    )
    spine = spark.createDataFrame(
        [(c,) for c in DIFF_CLASSES], "diff_class string"
    )
    out = spine.join(F.broadcast(agg), "diff_class", "left").select(
        "diff_class",
        F.coalesce("n_keys", F.lit(0)).alias("n_keys"),
        (F.coalesce("b_u", F.lit(0)).cast("double") / 1000000.0).alias(
            "sum_value_before"
        ),
        (F.coalesce("a_u", F.lit(0)).cast("double") / 1000000.0).alias(
            "sum_value_after"
        ),
        (
            (F.coalesce("a_u", F.lit(0)) - F.coalesce("b_u", F.lit(0)))
            .cast("double")
            / 1000000.0
        ).alias("net_value_delta"),
    )
    return _tiny_sorted(out, "diff_class")


# ------------------------------------------------------- log compaction


@query(
    "cdc_log_compaction_audit",
    oracle=f"""
    WITH mx AS ({CDC_MX_SQL}),
    chlog AS ({CDC_LOG_SQL}),
    chains AS (
      SELECT ent, item, CAST(COUNT(*) AS BIGINT) AS n,
             CASE WHEN arg_max(op, eid) = 'delete' THEN 1 ELSE 0 END
               AS tomb
      FROM chlog GROUP BY 1, 2)
    SELECT LEAST(n, {CDC_CHAIN_CAP}) AS chain_len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_change_rows,
           CAST(COUNT(*) AS BIGINT) AS rows_after_compaction,
           CAST(SUM(tomb) AS BIGINT) AS n_tombstones_kept,
           ROUND(CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n), 6)
             AS reclaim_frac
    FROM chains GROUP BY 1 ORDER BY 1
    """,
)
def cdc_log_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG COMPACTION RECLAIM — the sizing table behind "should we
    compact this changelog": per chain-length bucket (changes per key;
    the CDC_CHAIN_CAP=10 bucket merges the tail), how many keys, how
    many raw change rows, the one row per key compaction keeps, how many
    of those survivors are tombstones (the retention follow-up
    question), and the pooled reclaim fraction — ONE division of exact
    integer sums per bucket, never a per-row float average (the r13
    pooled-ratio rule).

    Scale: one groupBy collapse of the checkpointed log to O(keys)
    chains, then an O(keys) histogram rollup."""
    log = _cdc_log_cached(spark, sf_dir)
    chains = log.groupBy("ent", "item").agg(
        F.count(F.lit(1)).alias("n"),
        F.when(F.max_by("op", "eid") == "delete", F.lit(1))
        .otherwise(F.lit(0))
        .alias("tomb"),
    )
    out = chains.groupBy(
        F.least("n", F.lit(CDC_CHAIN_CAP)).alias("chain_len_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_change_rows"),
        F.count(F.lit(1)).alias("rows_after_compaction"),
        F.sum("tomb").alias("n_tombstones_kept"),
        F.round(
            (F.sum("n") - F.count(F.lit(1))).cast("double") / F.sum("n"), 6
        ).alias("reclaim_frac"),
    )
    return _tiny_sorted(out, "chain_len_bucket")


# -------------------------------------------------- tombstone resurrection


@query(
    "cdc_resurrection_audit",
    oracle=f"""
    WITH mx AS ({CDC_MX_SQL}),
    chlog AS ({CDC_LOG_SQL}),
    seq AS (
      SELECT ent, item, op,
             LAG(op) OVER (PARTITION BY ent, item ORDER BY eid) AS pop
      FROM chlog),
    per_key AS (
      SELECT ent, item,
             CAST(SUM(CASE WHEN pop = 'delete' AND op = 'upsert'
                           THEN 1 ELSE 0 END) AS BIGINT) AS res,
             CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END)
                  AS BIGINT) AS dels,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq GROUP BY 1, 2)
    SELECT res AS n_resurrections,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(dels) AS BIGINT) AS total_deletes,
           CAST(SUM(n) AS BIGINT) AS total_changes,
           ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS avg_chain_len
    FROM per_key GROUP BY 1 ORDER BY 1
    """,
)
def cdc_resurrection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE RESURRECTION — how often a deleted key comes back: per
    key, count delete→upsert transitions in version order (LAG over the
    key's chain), then histogram keys by resurrection count with their
    delete and change totals and the pooled mean chain length (one exact
    division).  This is the table that decides tombstone retention: keys
    that resurrect after the reaper ran come back as phantom inserts.

    Scale: one key-partitioned window over the checkpointed log (the
    same partitioning as every other collapse here — at scale one
    exchange reused), then two O(keys) rollups."""
    log = _cdc_log_cached(spark, sf_dir)
    w = Window.partitionBy("ent", "item").orderBy("eid")
    seq = log.select(
        "ent", "item", "op", F.lag("op").over(w).alias("pop")
    )
    per_key = seq.groupBy("ent", "item").agg(
        F.sum(
            F.when(
                (F.col("pop") == "delete") & (F.col("op") == "upsert"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("res"),
        F.sum(
            F.when(F.col("op") == "delete", F.lit(1)).otherwise(F.lit(0))
        ).alias("dels"),
        F.count(F.lit(1)).alias("n"),
    )
    out = per_key.groupBy(F.col("res").alias("n_resurrections")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("dels").alias("total_deletes"),
        F.sum("n").alias("total_changes"),
        F.round(
            F.sum("n").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chain_len"),
    )
    return _tiny_sorted(out, "n_resurrections")
