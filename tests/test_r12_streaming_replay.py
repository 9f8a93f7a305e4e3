"""stream_update_mode_replay (r12): the REAL engine's update-mode
emission ledger vs a from-scratch Python simulator, the DuckDB oracle,
and its own append-mode twin.  Mirrors the r11 tumbling-replay bar:
fixture match, random-table ENGINE fuzz, degenerate geometry, and a
cross-mode consistency law nobody can satisfy by accident."""

from __future__ import annotations

import paraslice_spark.operators  # noqa: F401
from paraslice_spark.registry import ORACLES, QUERIES
from tests.conftest import SF_SMALL


def update_replay_python(rows, k=6, delay_ms=7_200_000):
    """From-scratch simulator of the declared update-mode replay: pure
    Python/hashlib, sharing no code with either engine.  rows =
    (event_id, ts_ns, value)."""
    import hashlib

    def u32(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)

    def mic(x):
        q = int((abs(x) * 1e6 + 0.5) // 1)
        return -q if x < 0 else q

    recs = []
    for eid, ts_ns, val in rows:
        # truncate to the µs the engine actually sees in parquet before
        # deriving arrival jitter (same fix as the r13 simulator)
        ts_ns = ts_ns // 1000 * 1000
        h = u32(eid)
        arr = ts_ns + (h % 86_400) * 10**9
        recs.append(
            (eid, ts_ns, ts_ns // 1_000_000, mic(val), arr,
             2 if h % 20 == 0 else 0)
        )
    mn = min(r[4] for r in recs)
    mx = max(r[4] for r in recs)
    tagged = [
        (min(k - 1, (arr - mn) * k // (mx - mn + 1) + strag),
         ts_ns, ts_ms, vmic)
        for _, ts_ns, ts_ms, vmic, arr, strag in recs
    ]
    order = sorted({b for b, *_ in tagged})
    idx = {b: i for i, b in enumerate(order)}
    m = {b: max(ts_ms for bb, _, ts_ms, _ in tagged if bb == b) for b in order}
    wm = {}
    for b in order:
        prior = [m[bb] for bb in order if idx[bb] <= idx[b] - 2]
        wm[b] = max(prior) - delay_ms if prior else None
    emitted: dict[int, list] = {}
    drop_pairs = set()
    for b, ts_ns, ts_ms, vmic in tagged:
        hr = ts_ns // 3_600_000_000_000
        end_ms = (hr + 1) * 3_600_000
        if wm[b] is not None and wm[b] >= end_ms:
            drop_pairs.add((b, hr))
            continue
        e = emitted.setdefault(hr, [set(), 0, 0])
        e[0].add(b)
        e[1] += 1
        e[2] += vmic
    dropped = len(drop_pairs)
    return [
        (hr, len(bs), n, v, k, dropped)
        for hr, (bs, n, v) in sorted(emitted.items())
    ]


def _fixture_rows():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT event_id, epoch_ns(ts), value FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    con.close()
    return rows


def _run_fresh(spark, sf_dir):
    from paraslice_spark import memo

    memo.clear_all("replay:sumr")
    return [
        tuple(r)
        for r in QUERIES["stream_update_mode_replay"](spark, sf_dir).collect()
    ]


def test_update_replay_engine_matches_python(spark):
    """The REAL engine's update-mode ledger equals the from-scratch
    simulator on the fixture — update emission (one snapshot per
    changed window per batch, no finalize gate) re-derived with no
    shared code."""
    got = _run_fresh(spark, SF_SMALL)
    assert got == update_replay_python(_fixture_rows())
    assert got[0][5] > 0  # the drop path is live (non-vacuity)
    assert any(r[1] > 1 for r in got)  # multi-update windows exist


def test_update_replay_consistent_with_append_twin(spark):
    """Cross-mode law: every hour the APPEND twin emits (closed windows)
    must appear in the UPDATE ledger with the SAME final count and
    value sum (update's last snapshot is the closed aggregate), the
    same engine drop counter, and update must additionally carry the
    open tail append withholds."""
    from paraslice_spark import memo

    memo.clear_all("replay:sumr", "replay:stwr")
    upd = {
        r[0]: (r[2], r[3], r[5])
        for r in QUERIES["stream_update_mode_replay"](spark, SF_SMALL).collect()
    }
    app = [
        tuple(r)
        for r in QUERIES["stream_tumbling_watermark_replay"](
            spark, SF_SMALL
        ).collect()
    ]
    assert app and set(hr for hr, *_ in app) <= set(upd)
    for hr, n, v, _k, dropped in app:
        assert upd[hr] == (n, v, dropped), hr
    assert len(upd) > len(app)  # the open tail is visible in update mode


def test_update_replay_engine_matches_oracle_on_random_tables(spark, tmp_path):
    """ENGINE fuzz: random event tables replayed through the ACTUAL
    engine in update mode must hash-match the DuckDB oracle and the
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
        rng = random.Random(32_000 + seed)
        n = rng.randrange(40, 400)
        rows = []
        for eid in range(1, n + 1):
            ts_ns = base_ns + rng.randrange(0, 10 * 86_400) * 10**9 \
                + rng.randrange(0, 10**9)
            rows.append((eid, ts_ns, rng.randrange(0, 10**7) / 1e6))
        d = tmp_path / f"ufuzz{seed}"
        os.makedirs(d)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [r[1] // 1000 for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([r[0] % 7 for r in rows], pa.int64()),
                    "event_type": pa.array(["c"] * n, pa.string()),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                    "props": pa.array(["{}"] * n, pa.string()),
                }
            ),
            str(d / "events.parquet"),
        )
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
        memo.clear_all("replay:sumr")
        problems = run_compare(
            spark,
            QUERIES["stream_update_mode_replay"],
            ORACLES["stream_update_mode_replay"],
            str(d),
        )
        assert not problems, (seed, problems)
        got = [
            tuple(r)
            for r in QUERIES["stream_update_mode_replay"](
                spark, str(d)
            ).collect()
        ]
        assert got == update_replay_python(rows), seed
        memo.forget(spark, str(d))


def test_update_replay_engine_on_degenerate_geometry(spark, tmp_path):
    """3-row corpus: most arrival buckets empty (dense batch reindex),
    nothing can drop (no lag-2 watermark ever covers a window), and
    update mode must STILL emit every window — unlike append, whose
    finalize gate is the only emitter here."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from paraslice_spark import memo
    from tests.oracle_harness import run_compare

    base_ns = int(datetime.datetime(2024, 3, 1).timestamp()) * 10**9
    rows = [
        (1, base_ns + 10**9, 1.5),
        (2, base_ns + 3_600 * 10**9, 2.25),
        (3, base_ns + 2 * 3_600 * 10**9 + 5 * 10**9, 0.125),
    ]
    d = tmp_path / "degen"
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] // 1000 for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1, 2, 3], pa.int64()),
                "event_type": pa.array(["c"] * 3, pa.string()),
                "value": pa.array([r[2] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * 3, pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
    memo.clear_all("replay:sumr")
    problems = run_compare(
        spark,
        QUERIES["stream_update_mode_replay"],
        ORACLES["stream_update_mode_replay"],
        str(d),
    )
    assert not problems, problems
    got = [
        tuple(r)
        for r in QUERIES["stream_update_mode_replay"](spark, str(d)).collect()
    ]
    assert got == update_replay_python(rows)
    assert len(got) == 3 and all(r[5] == 0 for r in got)
    memo.forget(spark, str(d))


def test_gram_sweep_n2_arm_equals_production_decontaminate(spark):
    """Cross-query law (batch side, parked in this r12 file): the sweep's
    n=2 row must equal text_decontaminate's declared output — same pair
    count, same distinct train/bench doc counts — because both gate the
    identical containment rule on identical bigrams."""
    from pyspark.sql import functions as F

    sweep = {
        r["gram_n"]: r
        for r in QUERIES["text_decontaminate_gram_sweep"](
            spark, SF_SMALL
        ).collect()
    }
    prod = QUERIES["text_decontaminate"](spark, SF_SMALL)
    agg = prod.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("train_doc").alias("nt"),
        F.countDistinct("bench_doc").alias("nb"),
    ).collect()[0]
    row = sweep[2]
    assert (row["n_pairs"], row["n_train_docs"], row["n_bench_docs"]) == (
        agg["n_pairs"], agg["nt"], agg["nb"],
    )
    assert row["n_pairs"] > 0


def test_complete_replay_trilogy_laws(spark):
    """The ST8 sink-mode trilogy on one fixture: COMPLETE equals the plain
    batch aggregate with ZERO engine drops (the no-drop/no-evict pin);
    per shared hour UPDATE finals never exceed COMPLETE (update excludes
    dropped rows), strictly less somewhere (drops are live); APPEND is
    the watermark-gated subset of both."""
    from pyspark.sql import functions as F

    from paraslice_spark import memo
    from paraslice_spark.sources.io import load_tables

    memo.clear_all("replay:scmr")
    comp = {
        r[0]: (r[1], r[2], r[4])
        for r in QUERIES["stream_complete_mode_replay"](
            spark, SF_SMALL
        ).collect()
    }
    assert comp and all(d == 0 for _n, _v, d in comp.values())
    ev = load_tables(spark, SF_SMALL)["events"]
    batch = {
        r[0]: (r[1], r[2])
        for r in ev.groupBy(
            F.expr("unix_micros(ts) div 3600000000").alias("hr")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(round(value * 1000000) as long)")).alias("v"),
        )
        .collect()
    }
    assert {h: (n, v) for h, (n, v, _d) in comp.items()} == batch

    upd = {
        r[0]: (r[2], r[3])
        for r in QUERIES["stream_update_mode_replay"](spark, SF_SMALL).collect()
    }
    assert set(upd) <= set(comp)
    assert all(upd[h][0] <= comp[h][0] for h in upd)
    assert any(upd[h][0] < comp[h][0] for h in upd)  # drops are live
    app = {
        r[0]
        for r in QUERIES["stream_tumbling_watermark_replay"](
            spark, SF_SMALL
        ).collect()
    }
    assert app <= set(upd) <= set(comp)


def test_complete_replay_engine_matches_oracle_on_random_tables(spark, tmp_path):
    """ENGINE fuzz: random event tables through the ACTUAL engine in
    complete mode must hash-match the batch-aggregate oracle with zero
    drops — on inputs where the update-mode twin DOES drop."""
    import datetime
    import os
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from paraslice_spark import memo
    from tests.oracle_harness import run_compare

    base_ns = int(datetime.datetime(2024, 3, 1).timestamp()) * 10**9
    for seed in range(2):
        rng = random.Random(33_000 + seed)
        n = rng.randrange(60, 300)
        rows = []
        for eid in range(1, n + 1):
            ts_ns = base_ns + rng.randrange(0, 10 * 86_400) * 10**9 \
                + rng.randrange(0, 10**9)
            rows.append((eid, ts_ns, rng.randrange(0, 10**7) / 1e6))
        d = tmp_path / f"cfuzz{seed}"
        os.makedirs(d)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [r[1] // 1000 for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([r[0] % 7 for r in rows], pa.int64()),
                    "event_type": pa.array(["c"] * n, pa.string()),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                    "props": pa.array(["{}"] * n, pa.string()),
                }
            ),
            str(d / "events.parquet"),
        )
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
        memo.clear_all("replay:scmr")
        problems = run_compare(
            spark,
            QUERIES["stream_complete_mode_replay"],
            ORACLES["stream_complete_mode_replay"],
            str(d),
        )
        assert not problems, (seed, problems)
        memo.forget(spark, str(d))
