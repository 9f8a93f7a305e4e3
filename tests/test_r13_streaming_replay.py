"""stream_session_complete_replay (r13): the REAL engine's session-window
complete-mode snapshot vs a from-scratch Python simulator, the DuckDB
oracle, and the session append twin.  Mirrors the r11/r12 replay bar:
fixture match, random-table ENGINE fuzz, degenerate geometry, and
cross-mode laws (same per-row late filter in every output mode)."""

from __future__ import annotations

import paraslice_spark.operators  # noqa: F401
from paraslice_spark.registry import ORACLES, QUERIES
from tests.conftest import SF_SMALL

GAP_US = 43_200_000_000


def session_complete_replay_python(
    rows, k=6, delay_ms=7_200_000, gap_us=GAP_US
):
    """From-scratch simulator of the declared session-complete replay:
    pure Python/hashlib, sharing no code with either engine.  rows =
    (event_id, ts_ns, user_id)."""
    import hashlib
    from collections import defaultdict

    def u32(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)

    recs = []
    for eid, ts_ns, uid in rows:
        # the engine only ever sees the µs-truncated parquet timestamp,
        # so the reference must truncate BEFORE deriving arrival jitter
        # (r13 review finding #3: a raw-ns arr could land a near-boundary
        # row in a different replay bucket than the engine's)
        ts_ns = ts_ns // 1000 * 1000
        h = u32(eid)
        arr = ts_ns + (h % 86_400) * 10**9
        recs.append(
            (ts_ns // 1000, ts_ns // 1_000_000, uid, arr,
             2 if h % 20 == 0 else 0)
        )
    mn = min(r[3] for r in recs)
    mx = max(r[3] for r in recs)
    tagged = [
        (min(k - 1, (arr - mn) * k // (mx - mn + 1) + strag),
         ts_us, ts_ms, uid)
        for ts_us, ts_ms, uid, arr, strag in recs
    ]
    order = sorted({b for b, *_ in tagged})
    idx = {b: i for i, b in enumerate(order)}
    m = {b: max(ts_ms for bb, _, ts_ms, _ in tagged if bb == b) for b in order}
    wm = {}
    for b in order:
        prior = [m[bb] for bb in order if idx[bb] <= idx[b] - 2]
        wm[b] = max(prior) - delay_ms if prior else None
    kept = defaultdict(list)
    dropped = 0
    for b, ts_us, _ts_ms, uid in tagged:
        # per-ROW late filter (no in-batch merge rescue), >= boundary
        if wm[b] is not None and wm[b] * 1000 >= ts_us + gap_us:
            dropped += 1
        else:
            kept[uid].append(ts_us)
    days: dict[int, list] = defaultdict(lambda: [0, set(), 0])

    def close(uid, start, n):
        d = days[start // 86_400_000_000]
        d[0] += 1
        d[1].add(uid)
        d[2] += n

    for uid, tss in kept.items():
        tss.sort()
        start, n, prev = tss[0], 0, tss[0]
        for ts in tss:
            if ts >= prev + gap_us and n:
                close(uid, start, n)
                start, n = ts, 0
            n += 1
            prev = ts
        close(uid, start, n)
    return [
        (d, ns, len(us), ne, k, dropped)
        for d, (ns, us, ne) in sorted(days.items())
    ]


def _fixture_rows():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT event_id, epoch_ns(ts), user_id FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    con.close()
    return rows


def _run_fresh(spark, sf_dir):
    from paraslice_spark import memo

    memo.clear_all("replay:sscr")
    return [
        tuple(r)
        for r in QUERIES["stream_session_complete_replay"](
            spark, sf_dir
        ).collect()
    ]


def test_session_complete_engine_matches_python(spark):
    """The REAL engine's final complete-mode snapshot rollup equals the
    from-scratch simulator on the fixture — per-row late filter, lag-2
    watermark, and no-eviction global sessionization re-derived with no
    shared code."""
    got = _run_fresh(spark, SF_SMALL)
    assert got == session_complete_replay_python(_fixture_rows())
    assert got[0][5] > 0  # the session drop path is live (non-vacuity)


def test_session_complete_deterministic_rerun(spark):
    """Two fresh replays of the same fixture produce identical ledgers
    (the snapshot sink has no memory-sink truncate race)."""
    a = _run_fresh(spark, SF_SMALL)
    b = _run_fresh(spark, SF_SMALL)
    assert a == b and a


def test_session_complete_consistent_with_append_twin(spark):
    """Cross-mode laws against the session APPEND replay: the per-row
    late filter is output-mode-independent, so both replays count the
    SAME engine drops; append emits only watermark-closed sessions, so
    its event total is bounded by complete's, and complete's event
    total is exactly the surviving rows."""
    from paraslice_spark import memo

    memo.clear_all("replay:sscr", "replay:sswr")
    comp = [
        tuple(r)
        for r in QUERIES["stream_session_complete_replay"](
            spark, SF_SMALL
        ).collect()
    ]
    app = [
        tuple(r)
        for r in QUERIES["stream_session_watermark_replay"](
            spark, SF_SMALL
        ).collect()
    ]
    assert comp and app
    assert comp[0][5] == app[0][5]  # same dropped_late in both modes
    assert sum(r[3] for r in app) <= sum(r[3] for r in comp)
    n_fixture = len(_fixture_rows())
    assert sum(r[3] for r in comp) == n_fixture - comp[0][5]
    # append's closed sessions appear on days complete also has
    assert {r[0] for r in app} <= {r[0] for r in comp}


def test_session_complete_engine_matches_oracle_on_random_tables(
    spark, tmp_path
):
    """ENGINE fuzz: random event tables replayed through the ACTUAL
    engine in complete mode must hash-match the DuckDB oracle and the
    Python simulator."""
    import datetime
    import os
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from paraslice_spark import memo
    from tests.oracle_harness import run_compare

    base_ns = int(datetime.datetime(2024, 3, 1).timestamp()) * 10**9
    for seed in range(3):
        rng = random.Random(34_000 + seed)
        n = rng.randrange(40, 400)
        rows = []
        for eid in range(1, n + 1):
            ts_ns = base_ns + rng.randrange(0, 10 * 86_400) * 10**9 \
                + rng.randrange(0, 10**9)
            rows.append((eid, ts_ns, eid % 7))
        d = tmp_path / f"sfuzz{seed}"
        os.makedirs(d)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [r[1] // 1000 for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array(["c"] * n, pa.string()),
                    "value": pa.array([1.0] * n, pa.float64()),
                    "props": pa.array(["{}"] * n, pa.string()),
                }
            ),
            str(d / "events.parquet"),
        )
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
        memo.clear_all("replay:sscr")
        problems = run_compare(
            spark,
            QUERIES["stream_session_complete_replay"],
            ORACLES["stream_session_complete_replay"],
            str(d),
        )
        assert not problems, (seed, problems)
        got = [
            tuple(r)
            for r in QUERIES["stream_session_complete_replay"](
                spark, str(d)
            ).collect()
        ]
        assert got == session_complete_replay_python(rows), seed
        memo.forget(spark, str(d))


def test_session_complete_engine_on_degenerate_geometry(spark, tmp_path):
    """3-row corpus: most arrival buckets empty (dense batch reindex),
    no lag-2 watermark ever covers a row's candidate window (nothing
    drops), and the final snapshot is the plain batch sessionization."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from paraslice_spark import memo
    from tests.oracle_harness import run_compare

    base_ns = int(datetime.datetime(2024, 3, 1).timestamp()) * 10**9
    rows = [
        (1, base_ns + 10**9, 1),
        (2, base_ns + 3_600 * 10**9, 1),     # merges with row 1 (12 h gap)
        (3, base_ns + 2 * 86_400 * 10**9, 2),
    ]
    d = tmp_path / "sdegen"
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] // 1000 for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["c"] * 3, pa.string()),
                "value": pa.array([1.0] * 3, pa.float64()),
                "props": pa.array(["{}"] * 3, pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
    memo.clear_all("replay:sscr")
    problems = run_compare(
        spark,
        QUERIES["stream_session_complete_replay"],
        ORACLES["stream_session_complete_replay"],
        str(d),
    )
    assert not problems, problems
    got = [
        tuple(r)
        for r in QUERIES["stream_session_complete_replay"](
            spark, str(d)
        ).collect()
    ]
    assert got == session_complete_replay_python(rows)
    assert sum(r[1] for r in got) == 2 and all(r[5] == 0 for r in got)
    memo.forget(spark, str(d))


def test_zero_trigger_replay_raises_contract_error(spark, tmp_path):
    """ADVICE r13: an EMPTY events table stages zero batch files, the
    replayed source fires zero triggers, foreachBatch never creates the
    snapshot dir — the harness must surface ITS contract error (naming
    the zero-trigger condition), not an opaque path-missing
    AnalysisException from spark.read.parquet."""
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest

    from paraslice_spark import memo

    d = tmp_path / "empty_events"
    os.makedirs(d)
    src = pq.read_table(f"{SF_SMALL}/events.parquet")
    pq.write_table(src.slice(0, 0), str(d / "events.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
    try:
        with _pytest.raises(RuntimeError, match="zero triggers"):
            QUERIES["stream_session_complete_replay"](spark, str(d))
    finally:
        memo.forget(spark, str(d))
