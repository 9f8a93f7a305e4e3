"""The one memo primitive (paraslice_spark/memo.py): keying, build-once,
failure and forget semantics; coverage by construction (every memo
consumer registers through ``memo`` and ``clear_all`` releases every
executor block they built); and a guard against hand-rolled memo dicts
coming back."""

from __future__ import annotations

import ast
import gc
import pathlib
from types import SimpleNamespace

import pytest

import paraslice_spark.operators  # noqa: F401
from paraslice_spark import memo
from paraslice_spark.registry import QUERIES
from tests.conftest import SF_SMALL

PKG = pathlib.Path(memo.__file__).parent


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def fake():
    spark = _fake_spark("app-memo-unit")
    yield spark
    for sf in ("/d1", "/d2"):
        memo.forget(spark, sf)


def test_build_runs_once_and_hit_returns_same_object(fake):
    calls = []

    def build():
        calls.append(1)
        return object()

    n_log = len(memo.build_log)
    a = memo.memo(fake, "/d1/", "x", build)
    b = memo.memo(fake, "/d1", "x", build)  # trailing slash: same key
    assert a is b and calls == [1]
    assert [e[:2] for e in memo.build_log[n_log:]] == [("x", "/d1")]
    assert memo.build_log[-1][2] >= 0.0


def test_other_app_sf_or_name_misses(fake):
    a = memo.memo(fake, "/d1", "x", object)
    other_app = _fake_spark("app-memo-unit-2")
    try:
        assert memo.memo(other_app, "/d1", "x", object) is not a
    finally:
        memo.forget(other_app, "/d1")
    assert memo.memo(fake, "/d2", "x", object) is not a
    assert memo.memo(fake, "/d1", "y", object) is not a
    assert memo.memo(fake, "/d1", "x", object) is a


def test_raising_build_stores_nothing(fake):
    def boom():
        raise RuntimeError("build failed")

    n_log = len(memo.build_log)
    with pytest.raises(RuntimeError):
        memo.memo(fake, "/d1", "x", boom)
    assert len(memo.build_log) == n_log
    assert memo.memo(fake, "/d1", "x", lambda: 7) == 7


def test_forget_drops_only_the_named_memos(fake):
    x1 = memo.memo(fake, "/d1", "x", object)
    y1 = memo.memo(fake, "/d1", "y", object)
    x2 = memo.memo(fake, "/d2", "x", object)
    memo.forget(fake, "/d1", "x")
    assert memo.memo(fake, "/d1", "x", object) is not x1
    assert memo.memo(fake, "/d1", "y", object) is y1
    assert memo.memo(fake, "/d2", "x", object) is x2
    memo.forget(fake, "/d1/")  # no names: every memo of that sf
    assert memo.memo(fake, "/d1", "y", object) is not y1
    assert memo.memo(fake, "/d2", "x", object) is x2


def test_clear_all_with_names_drops_them_for_every_app_and_sf(fake):
    other_app = _fake_spark("app-memo-unit-2")
    try:
        x1 = memo.memo(fake, "/d1", "x", object)
        x2 = memo.memo(other_app, "/d2", "x", object)
        y1 = memo.memo(fake, "/d1", "y", object)
        memo.clear_all("x")
        assert memo.memo(fake, "/d1", "x", object) is not x1
        assert memo.memo(other_app, "/d2", "x", object) is not x2
        assert memo.memo(fake, "/d1", "y", object) is y1
    finally:
        memo.forget(other_app, "/d2")


#: one consumer per memo: building through these registers every memo the
#: engine has (the registry names below are pinned exactly)
_CONSUMERS = (
    "similarity_ivfpq_ann",  # emb_base, ivf_centroids, pq_codebooks
    "similarity_ivf_ann",
    "dedup_minhash_pairs",
    "dedup_groups",  # ngram_pairs, labels:all
    "dedup_groups_star",
    "pipeline_curriculum",
    "dedup_simhash_bands",
    "graph_triangle_count",  # knn_graph, knn_uedges
    "text_decontaminate",
    "cdc_snapshot_diff",
    "stats_collect_lineitem",
    "events_watermark_late_replay",
    "parafac_cp_als",  # tensor_coords, cp_model
    "parafac_cp_als_dist",
    "tucker_hosvd_core",
    "stream_session_watermark_replay",
    "stream_tumbling_watermark_replay",
    "stream_update_mode_replay",
    "stream_complete_mode_replay",
    "stream_session_complete_replay",
)

_MEMO_NAMES = {
    "tables", "emb_base", "ivf_centroids", "pq_codebooks", "minhash_base",
    "ngram_pairs", "labels:all", "labels:star", "labels:curriculum",
    "simhash_table", "knn_graph", "knn_uedges", "decon_pairs", "cdc_log",
    "col_hist", "replay_wm", "tensor_coords", "cp_model", "cp_model_dist",
    "tucker_model", "replay:sswr", "replay:stwr", "replay:sumr",
    "replay:scmr", "replay:sscr",
}


def test_clear_all_releases_every_memo(spark):
    """Nothing the memo builds persisted outlives clear_all (compared as
    id sets: earlier tests' unreferenced RDDs may be GC-cleaned meanwhile)."""
    jsc = spark.sparkContext._jsc
    memo.clear_all()
    before = set(jsc.getPersistentRDDs())
    for name in _CONSUMERS:
        QUERIES[name](spark, SF_SMALL).count()
    assert {k[2] for k in memo._entries} == _MEMO_NAMES
    assert set(jsc.getPersistentRDDs()) - before
    memo.clear_all()
    assert memo._entries == {}
    assert set(jsc.getPersistentRDDs()) - before == set()


def test_replay_memo_frees_its_inner_checkpoints(spark):
    """The replay_wm build frees the two inner checkpoints of its prefix
    frame: with Python GC off (so nothing else reclaims them),
    clear_all leaves no RDD of the build persisted."""
    jsc = spark.sparkContext._jsc
    memo.clear_all()
    before = set(jsc.getPersistentRDDs())
    gc.disable()
    try:
        QUERIES["events_watermark_late_replay"](spark, SF_SMALL).count()
        memo.clear_all()
        assert set(jsc.getPersistentRDDs()) - before == set()
    finally:
        gc.enable()


def _module_level_cache_dicts(tree: ast.Module) -> list[str]:
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, ast.Dict) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
        )
        for t in targets:
            if (
                is_dict
                and isinstance(t, ast.Name)
                and t.id.startswith("_")
                and t.id.endswith("_cache")
            ):
                found.append(t.id)
    return found


def _session_key_uses(tree: ast.Module) -> int:
    return sum(
        1
        for node in ast.walk(tree)
        if (isinstance(node, ast.Name) and node.id == "_session_key")
        or (isinstance(node, ast.Attribute) and node.attr == "_session_key")
        or (
            isinstance(node, ast.ImportFrom)
            and any(a.name == "_session_key" for a in node.names)
        )
    )


def test_no_hand_rolled_memo_outside_memo_module():
    """Every per-(session, sf) memo goes through paraslice_spark.memo: no
    other module keys by _session_key or declares a module-level
    ``_*_cache`` dict."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "memo.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PKG.parent)
        offenders += [f"{rel}: {n}" for n in _module_level_cache_dicts(tree)]
        if _session_key_uses(tree):
            offenders.append(f"{rel}: _session_key")
    assert offenders == []


def test_guard_detects_hand_rolled_memo():
    src = (
        "from paraslice_spark.memo import _session_key\n"
        "_x_cache: dict = {}\n"
        "_y_cache = dict()\n"
        "def f(spark):\n"
        "    return (_session_key(spark), 'sf')\n"
    )
    tree = ast.parse(src)
    assert _module_level_cache_dicts(tree) == ["_x_cache", "_y_cache"]
    assert _session_key_uses(tree) == 2
