"""Sources: parquet scan layer with central schema repair (SURVEY §2.1).

``load_tables`` is the single entry every operator uses, so schema fixes
(events.ts ns->us) apply engine-wide exactly once. Per-(session, sf_dir)
memoization means a suite of queries reads each parquet footer once and
shares the same DataFrame lineage — at 100 TB this is also the layer where
a real deployment would swap in a catalog/metastore without touching any
operator code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paraslice_spark.session import ensure_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (application id, sf_dir) -> {table: DataFrame}. Keyed by applicationId,
# NOT id(spark): CPython reuses addresses, so an id() key can hand back
# DataFrames bound to a stopped SparkContext after a session restart.
_cache: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _session_key(spark: SparkSession) -> str:
    try:
        return spark.sparkContext.applicationId
    except Exception:
        return str(id(spark))


def scaled_scan_partitions(
    spark: SparkSession, sf_dir: str, table: str, rows_per_partition: int
) -> int:
    """Scale-adaptive partition count for a map-heavy pipeline over a
    fixture table (r16, guide §2/§6): each fixture table is ONE parquet
    file, which scans as one (openCost-bound) split at every SF — so any
    expensive map phase built directly on the scan (shingle md5, tokenize
    votes, gram explode, Arrow kernels) ran 1-task regardless of core
    count; measured flat 8-vs-32-core ratios on the sf1 heavy arm.  The
    row count comes from the parquet FOOTER (driver-side metadata read, no
    job); the result is clamped to spark.sql.shuffle.partitions — the knob
    clusters already size.  Callers skip the repartition entirely when
    this returns 1, keeping small-SF plans byte-identical.  An unreadable
    footer also gives 1: the fallback must leave the plan as it was, never
    spread an unknown (possibly tiny) table over every shuffle partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        rows = pq.ParquetFile(
            f"{sf_dir.rstrip('/')}/{table}.parquet"
        ).metadata.num_rows
    except (OSError, pa.ArrowException):
        return 1
    return max(1, min(cap, rows // rows_per_partition))


def _repair_events(df: DataFrame) -> DataFrame:
    """events.ts arrives in whatever shape this Spark build reads the parquet
    column as — normalize to TimestampType (LTZ, µs) plus raw ``ts_ns`` longs
    (SURVEY §1.2, verified recipe). Three shapes observed across environments:

    - ``bigint``: ns-epoch longs under ``nanosAsLong`` (parquet NANOS data).
    - ``timestamp_ntz``: PySpark 4.1 reads MICROS ``isAdjustedToUTC=0`` parquet
      as NTZ. ``unix_micros`` rejects NTZ (the CORRECTNESS_r03 total outage),
      and casting NTZ→LTZ depends on the session timezone, which the grading
      driver's session may set *after* this lineage is built — so derive the
      epoch via NTZ-to-NTZ ``timestampdiff`` from the NTZ epoch literal, which
      is timezone-independent and matches DuckDB's UTC interpretation exactly.
    - ``timestamp``: already LTZ; µs epoch directly.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        # integer `div`, NOT float `/`: ns-epoch (~1.7e18) exceeds double's
        # 53-bit exact range, so (ts/1000).cast("long") is off by ±1 µs
        df = df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif dtype == "timestamp_ntz":
        df = df.withColumn(
            "ts_ns",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
            * 1000,
        ).withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
    else:  # already a (LTZ) timestamp
        df = df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * 1000)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load all fixture tables from ``sf_dir`` with schemas repaired.

    Registers each as a temp view (S5) so ``spark.sql`` twins work.
    """
    key = (_session_key(spark), sf_dir.rstrip("/"))
    if key in _cache:
        return _cache[key]
    ensure_session_confs(spark)
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
        if name == "events":
            df = _repair_events(df)
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    _cache[key] = out
    return out


def spread_scan(df: DataFrame) -> DataFrame:
    """Fan a NARROW projection out to the session's parallelism before an
    expensive per-row projection (md5 hashing, wide explodes) — but only
    when the source offers fewer input splits than cores.

    Rationale (r15, optimization guide §2/§6): the local fixtures are
    single-row-group parquet files, so every map-side expression before
    the first exchange runs on ONE task regardless of
    ``spark.sql.files.maxPartitionBytes`` (a parquet row group is
    indivisible).  Measured at sf0.1: the partial-agg census build drops
    6.3 s → 2.7 s once its md5+stack projection runs on 32 tasks.  At
    real scale the scan already provides >= cores splits, the partition
    probe sees that, and this is a NO-OP — no extra pass is ever added
    to a 100 TB plan.  Callers must pass the minimal column set so the
    round-robin exchange carries keys, not payloads (guide §2.3)."""
    try:
        n_in = df.rdd.getNumPartitions()
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    if n_in >= target:
        return df
    return df.repartition(target)


def sql_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Re-register temp views for ``sf_dir`` (S5) and return the tables.

    ``load_tables`` only registers views on first load per sf_dir; a session
    that alternates sf_dirs (our tests do) needs views re-pointed before any
    ``spark.sql`` query runs.
    """
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """S4: partitioned parquet sink — the only sane sink shape at 100 TB
    (partition pruning on read; no single-file bottleneck)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


# --------------------------------------------------------------------------
# Format matrix beyond parquet (S1 companions): csv / json / orc
# --------------------------------------------------------------------------

_FORMATS = ("parquet", "orc", "csv", "json")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Sink in any supported format; partitioned when asked.

    Columnar formats (parquet/orc) are the 100 TB defaults — splittable,
    compressed, statistics for pruning.  csv/json exist for interchange:
    they serialize timestamps as ISO strings and csv drops complex types,
    so they are edge formats, not engine-internal ones.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (one of {_FORMATS})")
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if fmt == "csv":
        w = w.option("header", True)
    w.format(fmt).save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None) -> DataFrame:
    """Scan any supported format.  For csv/json pass the explicit schema
    (DDL string or StructType): schema inference costs an extra full pass
    and infers csv columns as strings — never acceptable at scale."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (one of {_FORMATS})")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    elif fmt in ("csv", "json"):
        import warnings

        warnings.warn(
            f"read_table({fmt}) without an explicit schema triggers a full "
            "inference pass and weak types — pass the schema at scale",
            stacklevel=2,
        )
        if fmt == "csv":
            r = r.option("inferSchema", True)
    if fmt == "csv":
        r = r.option("header", True)
    return r.format(fmt).load(path)
