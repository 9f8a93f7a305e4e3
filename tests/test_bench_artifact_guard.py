"""bench.py artifact guards (VERDICT r15 #1/#2) — pure-python, no Spark,
except the sf0.001 test of the per-query timing maps.

The canonical BENCH_LOCAL.json must survive the driver's out-of-band
scaling-arm runs (SPARK_GRAFT_CPUS != 32): those runs get their own
BENCH_LOCAL.c{N}.json.  The stdout contract stays one parseable JSON line
with the headline scalars at the END (the driver stores only a tail).
"""

import importlib.util
import json
import os

import pytest

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench_module", os.path.join(_HERE, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(path, payload):
    with open(path, "w") as fh:
        json.dump(payload, fh)


def test_non_default_cpus_cannot_clobber_canonical(bench, tmp_path):
    local = tmp_path / "BENCH_LOCAL.json"
    _write(local, {"value": 156.14, "cpus": 32})
    assert bench.artifact_path(str(tmp_path), 8) == str(
        tmp_path / "BENCH_LOCAL.c8.json"
    )


def test_legacy_artifact_without_cpus_is_treated_as_canonical(bench, tmp_path):
    # pre-guard artifacts (e.g. the restored r15 156.14 window) carry no
    # "cpus" field — they are 32-core windows and must be protected too
    local = tmp_path / "BENCH_LOCAL.json"
    _write(local, {"value": 156.14})
    assert bench.artifact_path(str(tmp_path), 8) == str(
        tmp_path / "BENCH_LOCAL.c8.json"
    )


def test_default_cpus_writes_canonical(bench, tmp_path):
    _write(tmp_path / "BENCH_LOCAL.json", {"value": 156.14, "cpus": 32})
    assert bench.artifact_path(str(tmp_path), 32) == str(
        tmp_path / "BENCH_LOCAL.json"
    )


def test_non_default_cpus_with_no_existing_artifact_writes_canonical(bench, tmp_path):
    # nothing to protect — first write wins (it will be stamped with cpus,
    # so a later 8-core run still cannot clobber a 32-core artifact)
    assert bench.artifact_path(str(tmp_path), 8) == str(
        tmp_path / "BENCH_LOCAL.json"
    )


def test_non_default_cpus_may_overwrite_its_own_arm(bench, tmp_path):
    # an existing NON-canonical artifact (8-core) is fair game for another
    # non-default run — the multi-generation .prev backup still applies
    _write(tmp_path / "BENCH_LOCAL.json", {"value": 108.35, "cpus": 8})
    assert bench.artifact_path(str(tmp_path), 8) == str(
        tmp_path / "BENCH_LOCAL.json"
    )


def test_restored_canonical_artifact_in_repo_is_32_core():
    # the artifact-of-record must be a 32-core window (VERDICT r15 #1)
    with open(os.path.join(_HERE, "BENCH_LOCAL.json")) as fh:
        d = json.load(fh)
    assert d.get("cpus", 32) == 32
    assert d["value"] > 0 and len(d["queries"]) >= 298


def test_time_queries_records_every_run(bench, spark):
    """``queries_runs`` keeps all N run times per query in run order; the
    best-of-N ``queries`` headline and ``queries_run1`` derive from it."""
    from tests.conftest import SF_SMALL

    from paraslice_spark.registry import QUERIES

    names = ("q6_forecast_revenue", "udf_grouped_map", "udf_scalar_py")
    timed = bench.time_queries(spark, SF_SMALL, {n: QUERIES[n] for n in names}, 3)
    assert set(timed) == {
        "queries", "queries_runs", "queries_run1", "memo_builds", "steal_suspect_queries",
    }
    runs = timed["queries_runs"]
    assert sorted(runs) == sorted(names)
    for name in names:
        assert len(runs[name]) == 3 and all(t > 0 for t in runs[name])
        assert timed["queries"][name] == min(runs[name])
        assert timed["queries_run1"][name] == runs[name][0]
