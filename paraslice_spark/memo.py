"""Per-(session, sf_dir) memos of the engine's expensive bases (table
lineages, dedup pair tables, the embedding base, CP slabs and models):
built once, read by every later consumer, and released by ``forget`` /
``clear_all`` — so clearing covers every memo by construction.

Keys use the applicationId, NOT id(spark): CPython reuses addresses, so an
id() key can hand back DataFrames bound to a stopped SparkContext.
"""

from __future__ import annotations

import dataclasses
import time
from typing import Callable, TypeVar

from py4j.protocol import Py4JError
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

#: (application id, sf_dir, name) -> built value
_entries: dict[tuple[str, str, str], object] = {}

#: (name, sf_dir, build seconds) per completed build, in build order; a
#: build that calls another memo's build is timed including it
build_log: list[tuple[str, str, float]] = []


def _session_key(spark: SparkSession) -> str:
    try:
        return spark.sparkContext.applicationId
    except Exception:
        return str(id(spark))


def memo(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]) -> T:
    """The value ``build()`` returned for (this session, ``sf_dir``,
    ``name``), building it on first use.  Nothing is stored when
    ``build()`` raises, so the next call builds again."""
    sf = sf_dir.rstrip("/")
    key = (_session_key(spark), sf, name)
    if key not in _entries:
        t0 = time.perf_counter()
        value = build()
        build_log.append((name, sf, time.perf_counter() - t0))
        _entries[key] = value
    return _entries[key]


def forget(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Release and drop the named memos of this session and ``sf_dir`` —
    every memo of that pair when no name is given."""
    app, sf = _session_key(spark), sf_dir.rstrip("/")
    for key in [k for k in _entries if k[:2] == (app, sf)]:
        if not names or key[2] in names:
            _release(_entries.pop(key))


def clear_all(*names: str) -> None:
    """Release and drop every memo of every session and sf — only the
    named ones when names are given."""
    for key in [k for k in _entries if not names or k[2] in names]:
        _release(_entries.pop(key))


def _release(value: object) -> None:
    """Free the executor storage ``value`` holds: walk tuples, lists, dicts
    and dataclass fields; unpersist DataFrames (and free their eager
    localCheckpoint blocks) and RDDs; leave anything else alone.  A value
    of a stopped session is skipped: its blocks died with its context."""
    if isinstance(value, (DataFrame, RDD)):
        try:
            value.unpersist()
        except Py4JError:  # its SparkContext is stopped: no blocks left
            return
        if isinstance(value, DataFrame):
            _free_local_checkpoint(value)
    elif isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif isinstance(value, dict):
        for v in value.values():
            _release(v)
    elif dataclasses.is_dataclass(value) and not isinstance(value, type):
        for f in dataclasses.fields(value):
            _release(getattr(value, f.name))


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the executor blocks behind a ``localCheckpoint(eager=True)``
    DataFrame.  ``df.unpersist()`` is a NO-OP here — the blocks belong to
    the checkpointed internal RDD, not the cache manager — so we reach the
    ``LogicalRDD`` node's RDD through the analyzed plan and unpersist it
    directly (verified: getPersistentRDDs drops to 0).  Best-effort: on any
    plan-shape surprise the blocks simply age out as before (ADVICE r5)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
