"""paraslice_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference system surveyed in ``SURVEY.md`` (PARAslice:
Spark-based CP tensor decomposition), extended with the relational /
streaming / LLM-data-pipeline operator surface mandated by the driver
contract (``SURVEY.md §2``).

Design rules (SURVEY §4, §7.3):

- DataFrame/SQL first; Catalyst plans everything relational.
- RDD + numpy only for the CP-ALS tensor kernel (SURVEY §2.5).
- No ``collect()``/``toPandas()`` on data-sized outputs inside the engine;
  driver-side data stays O(R^2) / O(k).
- Every declared query has a DuckDB oracle twin colocated with it via
  :mod:`paraslice_spark.registry`.
"""

from paraslice_spark import pyworker
from paraslice_spark.registry import QUERIES, ORACLES, query

pyworker.install()

__all__ = ["QUERIES", "ORACLES", "query"]
