"""UDF / UDAF / UDTF surface (SURVEY §2.12 X1-X5).

Declared queries pair each UDF with a pure-SQL twin computing the same
function, so the oracle hash checks the UDF machinery end-to-end. The
row-at-a-time Python UDF (X1) exists to *demonstrate* the slow path; every
hot-path custom op in this engine uses the Arrow-batched pandas forms
(X2-X5) — at 100 TB the ~10-100× serialization difference is the whole
game (SURVEY §2.12).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.types import DoubleType, StringType

from paraslice_spark.functions.canon import rnd
from paraslice_spark.pyworker import by_ref
from paraslice_spark.registry import query
from paraslice_spark.sources.io import load_tables


def _normalize_py(s):
    if s is None:
        return None
    # strip(' ') not strip(): SQL TRIM removes only spaces, and this UDF is
    # hash-checked against a trim() oracle twin
    return s.strip(" ").lower().replace("#", "_")


def normalize_name_py():
    """X1: deterministic string normalizer, row-at-a-time (pickled rows).

    Built lazily (udf() needs an active session to resolve types)."""
    return udf(_normalize_py, StringType())


def normalize_name_pd():
    """X2: same normalizer, Arrow-batched (vectorized pandas str ops)."""

    def norm(s: pd.Series) -> pd.Series:
        # strip(' ') to match SQL TRIM exactly (see _normalize_py)
        return s.str.strip(" ").str.lower().str.replace("#", "_", regex=False)

    return pandas_udf(by_ref(norm), StringType())


@query(
    "udf_scalar_py",
    oracle="""
    SELECT c_custkey, replace(lower(trim(c_name)), '#', '_') AS norm_name
    FROM customer
    """,
)
def udf_scalar_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"]
    return c.select("c_custkey", normalize_name_py()("c_name").alias("norm_name"))


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT c_custkey, replace(lower(trim(c_name)), '#', '_') AS norm_name
    FROM customer
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"]
    return c.select("c_custkey", normalize_name_pd()("c_name").alias("norm_name"))


@query(
    "udf_grouped_map",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CASE WHEN stddev_samp(value) OVER w IS NULL
                        OR stddev_samp(value) OVER w = 0 THEN 0.0
                      ELSE (value - avg(value) OVER w) / stddev_samp(value) OVER w
                 END, 4) AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: per-user z-score of value via applyInPandas (grouped-map Arrow
    batches; one shuffle on the group key — same cost model as a window).
    Window twin in the oracle; rounded(4) absorbs pandas-vs-SQL float paths.
    """
    ev = load_tables(spark, sf_dir)["events"]

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=1)
        mean = pdf["value"].mean()
        z = (pdf["value"] - mean) / sd if sd and sd > 0 else pdf["value"] * 0.0
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": z.round(4)}
        )

    return ev.select("event_id", "user_id", "value").groupBy("user_id").applyInPandas(
        by_ref(zscore), "event_id long, user_id long, zscore double"
    )


def weighted_mean_by_group(events: DataFrame) -> DataFrame:
    """X4: custom pandas UDAF — weighted mean of value by |value| per
    event_type (test-covered; float reduction order makes it
    non-oracle-able)."""

    def wmean(v: pd.Series, w: pd.Series) -> float:
        den = w.sum()
        return float((v * w).sum() / den) if den else 0.0

    udaf = pandas_udf(by_ref(wmean), DoubleType())
    return events.groupBy("event_type").agg(
        udaf(F.col("value"), F.abs("value")).alias("wmean")
    )


def tokenize_udtf(events_or_docs: DataFrame, col: str = "text") -> DataFrame:
    """X5: one-row→many table function via mapInPandas (UDTF shape):
    tokenizer emitting (doc_id, pos, token) — Arrow-batch in, iterator of
    frames out, fully streamed (never materializes a document set)."""

    def gen(batches):
        import numpy as np

        for pdf in batches:
            toks = pdf[col].astype(str).str.split(" ")
            lens = toks.str.len().to_numpy()
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy().repeat(lens),
                    "pos": np.concatenate([np.arange(n) for n in lens]).astype("int32"),
                    "token": np.concatenate(toks.to_numpy()),
                }
            )

    return events_or_docs.mapInPandas(by_ref(gen), "doc_id long, pos int, token string")


@query(
    "udf_udtf_tokenize",
    oracle="""
    SELECT doc_id,
           CAST(i.i - 1 AS INT) AS pos,
           string_split(text, ' ')[i.i] AS token
    FROM documents
    CROSS JOIN LATERAL (
      SELECT unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
    ) i
    """,
)
def udf_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    return tokenize_udtf(d)


def make_split_fixed_udtf():
    """X5b: a REAL Python UDTF (``@udtf``, Spark 3.5+) — and a POLYMORPHIC
    one: ``analyze()`` computes the output schema from the literal width
    argument at plan time, so ``split_fixed(text, 3)`` yields columns
    (w0, w1, w2) while ``split_fixed(text, 5)`` yields five — the dynamic-
    schema contract the legacy mapInPandas UDTF shape (tokenize_udtf)
    cannot express.  Rows stream from ``eval`` per input row; registered
    for SQL via ``spark.udtf.register`` so it composes with LATERAL.

    Built lazily (like the pandas UDFs): decorator construction touches
    type-conversion machinery best kept off module import."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import IntegerType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class SplitFixed:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not isinstance(n.value, int) or n.value < 1:
                raise ValueError("split_fixed(text, n): n must be a positive int literal")
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema.add("n_words", IntegerType()))

        def eval(self, text: str, n: int):
            words = (text or "").split(" ")
            yield tuple(words[i] if i < len(words) else None for i in range(n)) + (
                len(words),
            )

    return SplitFixed
