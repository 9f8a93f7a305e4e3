"""sources.io.spread_scan: the one rule that spreads a scan reading in too
few tasks — footer-sized, capped at the shuffle partitions, and a no-op on
small or unknown tables and on scans that already split."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from paraslice_spark import memo
from paraslice_spark.sources.io import TABLES, load_tables, spread_scan
from tests.conftest import SF_SMALL

SF_LARGE = "/root/testdata/sf0.1"
_MAX_PART_BYTES = "spark.sql.files.maxPartitionBytes"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _parts(df) -> int:
    return df.rdd.getNumPartitions()


def _ids(spark, path: str, n: int):
    pq.write_table(pa.table({"vec_id": list(range(n))}), path)
    return spark.read.parquet(path)


def _write_split_documents(path: str, row_group_size: int = 2500) -> None:
    """40k documents (~1.7 MB), by default in 16 row groups: with a 16 KB
    maxPartitionBytes the scan reads in ~100 splits, 16 of them non-empty."""
    ids = list(range(40_000))
    text = [
        " ".join(hashlib.md5(f"{i}:{w}".encode()).hexdigest()[:8] for w in range(10))
        for i in ids
    ]
    pq.write_table(
        pa.table({"doc_id": ids, "text": text}), path, row_group_size=row_group_size
    )


@pytest.fixture
def small_splits(spark):
    """Lower maxPartitionBytes to 16 KB for the test, then restore it."""
    old = spark.conf.get(_MAX_PART_BYTES)
    spark.conf.set(_MAX_PART_BYTES, "16k")
    try:
        yield
    finally:
        spark.conf.set(_MAX_PART_BYTES, old)


def test_spread_scan_scale_adaptive(spark, tmp_path):
    """~2000 embedding rows per partition, capped at shuffle partitions;
    the fixture tables (one row group each) stay unspread."""
    for sf in (SF_SMALL, SF_LARGE):
        e = load_tables(spark, sf)["embeddings"]
        assert spread_scan(e, 2000, "vec_id") is e
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # 6k rows target 3 partitions — strictly between 1 and the test cap
    # (8), so neither the no-op nor the cap can satisfy it
    df = _ids(spark, str(tmp_path / "six.parquet"), 6000)
    assert _parts(spread_scan(df, 2000, "vec_id")) == 3 != cap
    # a table past the cap clamps to it
    df = _ids(spark, str(tmp_path / "big.parquet"), 2000 * (cap + 5))
    assert _parts(spread_scan(df, 2000, "vec_id")) == cap


def test_spread_scan_unreadable_input_is_a_no_op(spark, tmp_path):
    """A file gone since the scan was planned, or one that is not parquet,
    leaves the frame as it was, never raises."""
    path = tmp_path / "gone.parquet"
    df = _ids(spark, str(path), 6000)
    os.remove(path)
    assert spread_scan(df, 2000) is df
    (tmp_path / "ids.txt").write_text("\n".join(str(i) for i in range(6000)))
    df = spark.read.text(str(tmp_path / "ids.txt"))
    assert spread_scan(df, 2000) is df


def test_spread_scan_keeps_a_scan_that_already_splits(spark, tmp_path, small_splits):
    """The footers ask for 8 partitions, but the scan already reads in
    16 splits that hold rows: no exchange is added (a footer-only rule
    would hash-shuffle the text into 8 partitions, cutting 16 to 8)."""
    path = str(tmp_path / "documents.parquet")
    _write_split_documents(path)
    df = spark.read.parquet(path)
    assert _parts(df) >= 16
    assert spread_scan(df, 500, "doc_id") is df
    # one row group cut into as many byte-range splits still reads in one
    # task: it is spread
    one_group = str(tmp_path / "one_group.parquet")
    _write_split_documents(one_group, row_group_size=40_000)
    df = spark.read.parquet(one_group)
    assert _parts(df) >= 16
    assert _parts(spread_scan(df, 500, "doc_id")) == 8
    # and so is the 16-group file read as one split
    spark.conf.set(_MAX_PART_BYTES, "128m")
    df = spark.read.parquet(path)
    assert _parts(df) == 1
    assert _parts(spread_scan(df, 500, "doc_id")) == 8


def test_spread_scan_counts_a_spark_written_directory(spark, tmp_path):
    """A directory-form table counts the rows of every part file: 2 files
    of 3000 rows give 3 partitions (one file alone would give 1)."""
    path = str(tmp_path / "embeddings.parquet")
    spark.range(6000).withColumnRenamed("id", "vec_id").repartition(2).write.parquet(
        path
    )
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 2 and _parts(df) == 2
    assert _parts(spread_scan(df, 2000, "vec_id")) == 3


def test_spread_scan_partitioning(spark, tmp_path):
    """Hashed on the keys given, round-robin with none."""
    df = _ids(spark, str(tmp_path / "six.parquet"), 6000)
    assert "hashpartitioning(vec_id" in _plan(spread_scan(df, 2000, "vec_id"))
    assert "RoundRobinPartitioning(3)" in _plan(spread_scan(df, 2000))


def test_spread_scan_leaves_non_file_frames(spark):
    df = spark.range(10**6)
    assert spread_scan(df, 1) is df


def test_simhash_build_does_not_respread_a_split_scan(spark, tmp_path, small_splits):
    """Through a real caller: the simhash table over a documents table
    that already splits has no repartition exchange on doc_id."""
    from paraslice_spark.operators.similarity import _simhash_table

    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMALL}/{t}.parquet", tmp_path / f"{t}.parquet")
    _write_split_documents(str(tmp_path / "documents.parquet"))
    try:
        p = _plan(_simhash_table(spark, str(tmp_path)))
    finally:
        memo.forget(spark, str(tmp_path))
    assert not [
        line
        for line in p.splitlines()
        if "hashpartitioning(doc_id" in line and "REPARTITION_BY_NUM" in line
    ], p
