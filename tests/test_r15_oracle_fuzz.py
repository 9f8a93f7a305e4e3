"""Round-15 oracle fuzz: from-scratch third-engine rederivations of the
CDC/changelog family and the join-strategy audit, on RANDOM tables (the
house bar — an oracle must be right because its math is right, not
because it happens to match the fixture).

The five CDC oracles are rederived from raw event rows in pure Python
(dict-based last-writer-wins replay, chain walks, class partitions —
independent formulations of the engines' groupBy/arg_max/window SQL).
Cross-oracle LAWS are pinned on every random table: the MERGE classify
counts must agree with the snapshot diff (ins==added, del==removed,
upd_changed==changed — two different join shapes over the same log),
chain/change totals must conserve the event count, and the op contract
(alive == 0 iff final type is the delete type) must hold.  A planted
MERGE log exercises every class including upd_noop>0 with hand-computed
expected rows (the events_overdispersion lesson: engines can agree on a
wrong formula, so at least one test must know the answer a priori).

stats_join_strategy_audit is rederived with multiset-join semantics
(duplicate keys multiply — the relaxed-PK rule), with flip-monotonicity
and formula laws pinned.
"""

from __future__ import annotations

import datetime
import math
import random

import duckdb
import pytest

import paraslice_spark.operators  # noqa: F401
from paraslice_spark.operators.cdc import (
    CDC_BATCHES,
    CDC_CHAIN_CAP,
    CDC_DELETE_TYPE,
    CDC_T1,
    CDC_TENANT_DIV,
    DIFF_CLASSES,
    MERGE_CLASSES,
)
from paraslice_spark.operators.relational import (
    JSA_EXEC_N,
    JSA_ROW_W,
    JSA_THR_BYTES,
    ZONEMAP_PREDS,
)
from paraslice_spark.registry import ORACLES

_ETYPES = ("click", "view", "purchase", "signup", CDC_DELETE_TYPE)


def _rnd(x: float, n: int) -> float:
    # ROUND half-away-from-zero, matching Spark/DuckDB (Python round()
    # is banker's and diverges on exactly-dyadic ratios)
    p = 10**n
    return math.floor(abs(x) * p + 0.5) / p * (1 if x >= 0 else -1)


def _micros(v: float) -> int:
    # from-scratch twin of canon.micros_units (round half-away, int64)
    return int(math.floor(abs(v) * 1000000 + 0.5)) * (1 if v >= 0 else -1)


# ---------------------------------------------------------- CDC reference


def _cdc_log_py(events):
    """events = list[(eid, uid, etype, value)].  The rig derivation."""
    m = max(e[0] for e in events) + 1
    log = []
    for eid, uid, etype, value, k in events:
        log.append(
            {
                "ent": uid // CDC_TENANT_DIV,
                "item": k,
                "op": "delete" if etype == CDC_DELETE_TYPE else "upsert",
                "etype": etype,
                "value_u": _micros(value),
                "batch": eid * CDC_BATCHES // m,
                "eid": eid,
            }
        )
    return log


def _state_py(log, pred=None, alive_only=False):
    st = {}
    for r in log:
        if pred and not pred(r):
            continue
        key = (r["ent"], r["item"])
        cur = st.get(key)
        if cur is None:
            st[key] = dict(r, n_changes=1)
        else:
            cur["n_changes"] += 1
            if r["eid"] > cur["eid"]:
                for f in ("op", "etype", "value_u", "eid"):
                    cur[f] = r[f]
    if alive_only:
        st = {k: v for k, v in st.items() if v["op"] == "upsert"}
    return st


def upsert_last_wins_py(events):
    st = _state_py(_cdc_log_py(events))
    agg = {}
    for v in st.values():
        key = (v["etype"], 1 if v["op"] == "upsert" else 0)
        a = agg.setdefault(key, [0, 0, 0])
        a[0] += 1
        a[1] += v["n_changes"]
        a[2] += v["value_u"]
    return sorted(
        (et, al, nk, tc, su / 1000000.0)
        for (et, al), (nk, tc, su) in agg.items()
    )


def merge_classify_py(events):
    log = _cdc_log_py(events)
    tgt = _state_py(log, lambda r: r["batch"] < CDC_T1, alive_only=True)
    src = _state_py(log, lambda r: r["batch"] >= CDC_T1)
    agg = {c: [0, 0, 0] for c in MERGE_CLASSES}
    for key, s in src.items():
        t = tgt.get(key)
        if t is None:
            c = "del_absent" if s["op"] == "delete" else "ins"
        elif s["op"] == "delete":
            c = "del"
        elif s["value_u"] != t["value_u"] or s["etype"] != t["etype"]:
            c = "upd_changed"
        else:
            c = "upd_noop"
        agg[c][0] += 1
        agg[c][1] += s["value_u"]
        agg[c][2] += t["value_u"] if t is not None else 0
    return sorted(
        (c, n, su / 1000000.0, tu / 1000000.0)
        for c, (n, su, tu) in agg.items()
    )


def snapshot_diff_py(events):
    log = _cdc_log_py(events)
    s1 = _state_py(log, lambda r: r["batch"] < CDC_T1, alive_only=True)
    s2 = _state_py(log, alive_only=True)
    agg = {c: [0, 0, 0] for c in DIFF_CLASSES}
    for key in set(s1) | set(s2):
        b, a = s1.get(key), s2.get(key)
        if b is None:
            c = "added"
        elif a is None:
            c = "removed"
        elif a["value_u"] != b["value_u"] or a["etype"] != b["etype"]:
            c = "changed"
        else:
            c = "unchanged"
        agg[c][0] += 1
        agg[c][1] += b["value_u"] if b else 0
        agg[c][2] += a["value_u"] if a else 0
    return sorted(
        (c, n, bu / 1000000.0, au / 1000000.0, (au - bu) / 1000000.0)
        for c, (n, bu, au) in agg.items()
    )


def log_compaction_py(events):
    st = _state_py(_cdc_log_py(events))
    agg = {}
    for v in st.values():
        b = min(v["n_changes"], CDC_CHAIN_CAP)
        a = agg.setdefault(b, [0, 0, 0])
        a[0] += 1
        a[1] += v["n_changes"]
        a[2] += 1 if v["op"] == "delete" else 0
    return sorted(
        (b, nk, nr, nk, tomb, _rnd((nr - nk) / nr, 6))
        for b, (nk, nr, tomb) in agg.items()
    )


def resurrection_py(events):
    log = sorted(_cdc_log_py(events), key=lambda r: r["eid"])
    chains: dict = {}
    for r in log:
        chains.setdefault((r["ent"], r["item"]), []).append(r["op"])
    agg = {}
    for ops in chains.values():
        res = sum(
            1
            for i in range(1, len(ops))
            if ops[i - 1] == "delete" and ops[i] == "upsert"
        )
        a = agg.setdefault(res, [0, 0, 0])
        a[0] += 1
        a[1] += sum(1 for o in ops if o == "delete")
        a[2] += len(ops)
    return sorted(
        (res, nk, dels, n, _rnd(n / nk, 6))
        for res, (nk, dels, n) in agg.items()
    )


_CDC_NAMES = (
    "cdc_upsert_last_wins",
    "cdc_merge_classify_audit",
    "cdc_snapshot_diff",
    "cdc_log_compaction_audit",
    "cdc_resurrection_audit",
)


def _run_cdc_oracles(events, names=_CDC_NAMES):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?, ?)",
        [
            (eid, uid, et, v, '{"k": %d}' % k)
            for eid, uid, et, v, k in events
        ],
    )
    return {
        n: sorted(tuple(r) for r in con.execute(ORACLES[n]).fetchall())
        for n in names
    }


def _rand_events(rng, n, uid_max=40, k_max=8, neg=False):
    eids = rng.sample(range(n * 3), n)  # gaps: deciles must not assume density
    return [
        (
            eid,
            rng.randrange(0, uid_max),
            rng.choice(_ETYPES),
            (rng.randrange(-10**6 if neg else 1, 10**6) / 100),
            rng.randrange(0, k_max),
        )
        for eid in eids
    ]


@pytest.mark.parametrize("seed", range(6))
def test_cdc_oracles_on_random_tables(seed):
    """All five CDC oracles vs the pure-Python replay on random logs
    (gappy event_ids, negative values on odd seeds), plus the
    conservation and op-contract laws."""
    rng = random.Random(61_000 + seed)
    n = rng.randrange(2, 700)
    events = _rand_events(rng, n, neg=bool(seed % 2))
    got = _run_cdc_oracles(events)
    assert got["cdc_upsert_last_wins"] == upsert_last_wins_py(events)
    assert got["cdc_merge_classify_audit"] == merge_classify_py(events)
    assert got["cdc_snapshot_diff"] == snapshot_diff_py(events)
    assert got["cdc_log_compaction_audit"] == log_compaction_py(events)
    assert got["cdc_resurrection_audit"] == resurrection_py(events)
    # op contract: alive == 0 iff the final type is the delete type
    for et, alive, *_ in got["cdc_upsert_last_wins"]:
        assert alive == (0 if et == CDC_DELETE_TYPE else 1), (et, alive)
    # conservation: chains and resurrection rows both cover every event
    assert sum(r[2] for r in got["cdc_log_compaction_audit"]) == n
    assert sum(r[3] for r in got["cdc_resurrection_audit"]) == n


@pytest.mark.parametrize("seed", range(4))
def test_cdc_merge_diff_cross_oracle_law(seed):
    """Two DIFFERENT join shapes over the same log must agree: the MERGE
    batch inserts are exactly the diff's added keys, its matched deletes
    exactly the removed keys, its changed updates exactly the changed
    keys (value-level semantics on both sides)."""
    rng = random.Random(62_000 + seed)
    events = _rand_events(rng, rng.randrange(20, 800))
    got = _run_cdc_oracles(
        events, ("cdc_merge_classify_audit", "cdc_snapshot_diff")
    )
    mc = {r[0]: r for r in got["cdc_merge_classify_audit"]}
    df = {r[0]: r for r in got["cdc_snapshot_diff"]}
    assert mc["ins"][1] == df["added"][1]
    assert mc["del"][1] == df["removed"][1]
    assert mc["upd_changed"][1] == df["changed"][1]
    # and their value sums line up too (src value == after, tgt == before)
    assert mc["ins"][2] == df["added"][3]
    assert mc["del"][3] == df["removed"][2]
    assert mc["upd_changed"][2] == df["changed"][3]
    assert mc["upd_changed"][3] == df["changed"][2]


def test_cdc_merge_planted_all_classes():
    """A hand-built log where every MERGE class is populated and the
    expected table is known a priori (one tenant 0, items 0-5; batches
    derive from eid out of max+1=100, so eids 0-79 are the target era
    and 80-99 the batch):

      item 0: upserted@10 (v=1.0), batch re-upserts SAME value  -> upd_noop
      item 1: upserted@11 (v=2.0), batch upserts v=3.0          -> upd_changed
      item 2: upserted@12 (v=4.0), batch deletes                -> del
      item 3: never existed, batch upserts v=5.0                -> ins
      item 4: never existed, batch deletes                      -> del_absent
      item 5: deleted@13 (tombstone), batch deletes             -> del_absent
                (target is ALIVE state - a tombstoned key is absent)
    """
    up, dl = "click", CDC_DELETE_TYPE
    events = [
        (10, 0, up, 1.0, 0),
        (11, 0, up, 2.0, 1),
        (12, 0, up, 4.0, 2),
        (13, 0, dl, 9.0, 5),
        (99, 0, up, 0.5, 99),  # pins max eid: m = 100
        (80, 0, up, 1.0, 0),
        (81, 0, up, 3.0, 1),
        (82, 0, dl, 0.25, 2),
        (83, 0, up, 5.0, 3),
        (84, 0, dl, 0.125, 4),
        (85, 0, dl, 0.0625, 5),
    ]
    got = _run_cdc_oracles(events, ("cdc_merge_classify_audit",))[
        "cdc_merge_classify_audit"
    ]
    expected = sorted(
        [
            ("del", 1, 0.25, 4.0),
            ("del_absent", 2, 0.1875, 0.0),
            ("ins", 2, 5.5, 0.0),  # item 3 and the max-eid pin item 99
            ("upd_changed", 1, 3.0, 2.0),
            ("upd_noop", 1, 1.0, 1.0),
        ]
    )
    assert got == expected, got
    assert got == merge_classify_py(events)


def test_cdc_resurrection_planted_chain():
    """A planted chain upsert-delete-upsert-delete-upsert has exactly 2
    resurrections; a pure-upsert chain has 0; a delete-first chain's
    leading tombstone resurrects once."""
    up, dl = "view", CDC_DELETE_TYPE
    events = [
        # key (0, 0): u d u d u -> res 2, dels 2, n 5
        (0, 0, up, 1.0, 0), (1, 0, dl, 1.0, 0), (2, 0, up, 1.0, 0),
        (3, 0, dl, 1.0, 0), (4, 0, up, 1.0, 0),
        # key (0, 1): u u u -> res 0, dels 0, n 3
        (5, 0, up, 1.0, 1), (6, 0, up, 1.0, 1), (7, 0, up, 1.0, 1),
        # key (0, 2): d u -> res 1, dels 1, n 2
        (8, 0, dl, 1.0, 2), (9, 0, up, 1.0, 2),
    ]
    got = _run_cdc_oracles(events, ("cdc_resurrection_audit",))[
        "cdc_resurrection_audit"
    ]
    assert got == [
        (0, 1, 0, 3, 3.0),
        (1, 1, 1, 2, 2.0),
        (2, 1, 2, 5, 5.0),
    ], got
    assert got == resurrection_py(events)


@pytest.mark.parametrize(
    "events",
    [
        [(0, 0, "click", 1.25, 0)],  # n=1 upsert
        [(0, 0, CDC_DELETE_TYPE, 1.0, 0)],  # n=1 tombstone-only
        [(0, 5, CDC_DELETE_TYPE, 1.0, 3), (9, 5, CDC_DELETE_TYPE, 2.0, 3)],
        [(i, 0, CDC_DELETE_TYPE, 1.0, 0) for i in range(12)],  # all-delete
    ],
)
def test_cdc_oracles_degenerate_logs(events):
    """Degenerate logs: single change, tombstone-only keys (the alive
    state is EMPTY -> diff/merge spine rows all zero), chains past the
    bucket cap with every change a delete."""
    got = _run_cdc_oracles(events)
    assert got["cdc_upsert_last_wins"] == upsert_last_wins_py(events)
    assert got["cdc_merge_classify_audit"] == merge_classify_py(events)
    assert got["cdc_snapshot_diff"] == snapshot_diff_py(events)
    assert got["cdc_log_compaction_audit"] == log_compaction_py(events)
    assert got["cdc_resurrection_audit"] == resurrection_py(events)
    # the class spines never shrink
    assert len(got["cdc_merge_classify_audit"]) == len(MERGE_CLASSES)
    assert len(got["cdc_snapshot_diff"]) == len(DIFF_CLASSES)


# ------------------------------------------------------ join strategy


def jsa_python(orders, fact_keys):
    """From-scratch reference with multiset-join semantics: orders =
    list[(k, d)] (duplicate keys allowed and MULTIPLY through the
    matching arm — the relaxed-PK rule), fact_keys = list[int]."""
    nf = len(fact_keys)
    out = []
    for pred_id, lo, hi in ZONEMAP_PREDS:
        ok = [k for k, d in orders if lo <= d < hi]
        nk = len(ok)
        mult: dict = {}
        for k in ok:
            mult[k] = mult.get(k, 0) + 1
        m = sum(mult.get(k, 0) for k in fact_keys)
        for thr in JSA_THR_BYTES:
            bhj = nk * JSA_EXEC_N
            smj = nf + nk
            is_b = nk * JSA_ROW_W <= thr
            out.append(
                (
                    pred_id, thr, nk, nk * JSA_ROW_W, nf, m, bhj, smj,
                    "broadcast" if is_b else "shuffle",
                    bhj if is_b else smj,
                    _rnd(bhj / smj, 6),
                    _rnd(m / nf, 6),
                )
            )
    return sorted(out)


def _run_jsa_oracle(orders, fact_keys):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_orderdate TIMESTAMP)"
    )
    con.execute("CREATE TABLE lineitem(l_orderkey BIGINT)")
    epoch = datetime.datetime(1970, 1, 1)
    con.executemany(
        "INSERT INTO orders VALUES (?, ?)",
        [(k, epoch + datetime.timedelta(days=d)) for k, d in orders],
    )
    con.executemany(
        "INSERT INTO lineitem VALUES (?)", [(k,) for k in fact_keys]
    )
    return sorted(
        tuple(r)
        for r in con.execute(ORACLES["stats_join_strategy_audit"]).fetchall()
    )


@pytest.mark.parametrize("seed", range(6))
def test_jsa_oracle_on_random_tables(seed):
    """Random orders/lineitem incl. duplicate order keys and FK misses;
    laws: formula columns tie out, the chosen strategy flips at most
    once (broadcast under larger thresholds) per predicate."""
    rng = random.Random(63_000 + seed)
    no = rng.randrange(1, 300)
    orders = [
        (rng.randrange(0, 120), rng.randrange(9131, 11688))
        for _ in range(no)
    ]
    fact_keys = [rng.randrange(0, 200) for _ in range(rng.randrange(1, 500))]
    got = _run_jsa_oracle(orders, fact_keys)
    assert got == jsa_python(orders, fact_keys), seed
    by_pred: dict = {}
    for r in got:
        assert r[3] == r[2] * JSA_ROW_W and r[6] == r[2] * JSA_EXEC_N, r
        assert r[7] == r[4] + r[2], r
        assert r[9] == (r[6] if r[8] == "broadcast" else r[7]), r
        by_pred.setdefault(r[0], []).append((r[1], r[8]))
    for rows in by_pred.values():
        # once broadcast at a threshold, broadcast at every larger one
        seen_b = False
        for _, c in sorted(rows):  # ascending threshold
            if c == "broadcast":
                seen_b = True
            else:
                assert not seen_b, rows


def test_jsa_oracle_empty_window_prices_as_broadcast_zero():
    """A predicate window matching zero orders still emits its 3 spine
    rows: nk=0, broadcast at every threshold, zero shipped rows."""
    orders = [(1, 9500)]  # only q1_1995 populated
    got = _run_jsa_oracle(orders, [1, 1, 2])
    assert got == jsa_python(orders, [1, 1, 2])
    empty = [r for r in got if r[0] == "tail_2000"]
    assert len(empty) == len(JSA_THR_BYTES)
    for r in empty:
        assert r[2] == 0 and r[8] == "broadcast" and r[9] == 0, r


# -------------------------------------------- spark-side degenerate edges


def _tiny_fixture(tmp_path, name, rewrite):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMALL

    d = tmp_path / name
    os.makedirs(d)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        if t in rewrite:
            pq.write_table(pa.table(rewrite[t]), str(d / f"{t}.parquet"))
        else:
            os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


def _drop_caches(spark, d):
    from paraslice_spark import memo

    memo.forget(spark, d)


@pytest.mark.parametrize("n", [1, 2, 7])
def test_cdc_spark_tiny_events(spark, tmp_path, n):
    """SPARK side of the degenerate edges: n=1 exercises the max+1
    decile cut on a single event and the all-zero merge/diff spines;
    full hash compare against the same tiny parquet in both engines."""
    import datetime as dt

    from paraslice_spark.registry import ORACLES, QUERIES
    from tests.oracle_harness import run_compare

    rng = random.Random(64_000 + n)
    events = _rand_events(rng, n, uid_max=5, k_max=3)
    tbl = {
        "event_id": [e[0] for e in events],
        "ts": [
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=e[0])
            for e in events
        ],
        "user_id": [e[1] for e in events],
        "event_type": [e[2] for e in events],
        "value": [e[3] for e in events],
        "props": ['{"k": %d}' % e[4] for e in events],
    }
    d = _tiny_fixture(tmp_path, f"tinycdc{n}", {"events": tbl})
    try:
        for q in _CDC_NAMES:
            problems = run_compare(spark, QUERIES[q], ORACLES[q], d)
            assert not problems, (q, n, problems)
    finally:
        _drop_caches(spark, d)


def test_jsa_spark_tiny_tables(spark, tmp_path):
    """SPARK side: 3 orders (one per populated window, duplicate key
    crossing windows) x 5 lineitems with FK misses."""
    import datetime as dt

    from paraslice_spark.registry import ORACLES, QUERIES
    from tests.oracle_harness import run_compare

    orders = {
        "o_orderkey": [10, 10, 30],
        "o_custkey": [1, 2, 3],
        "o_orderstatus": ["O", "F", "P"],
        "o_totalprice": [10.0, 20.0, 30.0],
        "o_orderdate": [
            dt.datetime(1996, 2, 1),
            dt.datetime(1995, 2, 1),
            dt.datetime(2000, 6, 1),
        ],
        "o_orderpriority": ["1-URGENT", "5-LOW", "2-HIGH"],
    }
    lineitem = {"l_orderkey": [10, 10, 30, 999, 999]}
    d = _tiny_fixture(
        tmp_path, "tinyjsa", {"orders": orders, "lineitem": lineitem}
    )
    try:
        problems = run_compare(
            spark,
            QUERIES["stats_join_strategy_audit"],
            ORACLES["stats_join_strategy_audit"],
            d,
        )
        assert not problems, problems
    finally:
        _drop_caches(spark, d)


# ------------------------------------------------- shuffle-sizing audits

import hashlib

from paraslice_spark.operators.shuffle_audits import (
    BUK_FINE,
    BUK_SWEEP,
    PA_CHUNK,
    PA_KEYS,
    PA_NPART,
    PS_FINE,
    PS_ROW_BUDGET,
    PS_SWEEP,
)


def _md5_u32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def psa_python(fact_keys):
    """From-scratch partition-sizing reference: fact_keys = list[int]."""
    n = len(fact_keys)
    fine: dict = {}
    for k in fact_keys:
        pid = _md5_u32(f"{k}:p") % PS_FINE
        fine[pid] = fine.get(pid, 0) + 1
    out = []
    for p in PS_SWEEP:
        parts: dict = {}
        for pid, nr in fine.items():
            parts[pid % p] = parts.get(pid % p, 0) + nr
        rows = list(parts.values())
        spill = sum(max(r - PS_ROW_BUDGET, 0) for r in rows)
        over = sum(1 for r in rows if r > PS_ROW_BUDGET)
        out.append(
            (
                p, n, len(rows), p - len(rows), max(rows), min(rows),
                _rnd(n / p, 6), _rnd(max(rows) * p / n, 6), over, spill,
            )
        )
    return sorted(out)


def buk_python(fact_keys, dim_keys):
    """From-scratch bucket-co-location reference."""
    n_l, n_o = len(fact_keys), len(dim_keys)
    lc: dict = {}
    oc: dict = {}
    for k in fact_keys:
        b = _md5_u32(f"{k}:b") % BUK_FINE
        lc[b] = lc.get(b, 0) + 1
    for k in dim_keys:
        b = _md5_u32(f"{k}:b") % BUK_FINE
        oc[b] = oc.get(b, 0) + 1
    out = []
    for bk in BUK_SWEEP:
        buckets: dict = {}
        for b in set(lc) | set(oc):
            bb = buckets.setdefault(b % bk, [0, 0])
            bb[0] += lc.get(b, 0)
            bb[1] += oc.get(b, 0)
        tasks = [(bl + bo, bo) for bl, bo in buckets.values()]
        out.append(
            (
                bk, n_l, n_o, len(buckets),
                max(t for t, _ in tasks), min(t for t, _ in tasks),
                max(bo for _, bo in tasks),
                _rnd(max(t for t, _ in tasks) * bk / (n_l + n_o), 6),
                n_l + n_o,
            )
        )
    return sorted(out)


def paa_python(rows):
    """From-scratch partial-agg reference: rows = list[(orderkey,
    linenumber, partkey, returnflag, suppkey)]."""
    out = []
    for key in PA_KEYS:
        idx = {"l_orderkey": 0, "l_partkey": 2, "l_returnflag": 3,
               "l_suppkey": 4}[key]
        groups = set()
        pb = set()
        ph = set()
        for r in rows:
            g = str(r[idx])
            blk = r[0] // PA_CHUNK
            h = _md5_u32(f"{r[0]}:{r[1]}:{r[2]}:q") % PA_NPART
            groups.add(g)
            pb.add((g, blk))
            ph.add((g, h))
        n = len(rows)
        ob, oh = len(pb), len(ph)
        out.append(
            (
                key, n, len(groups), ob, oh,
                _rnd(n / ob, 6), _rnd(n / oh, 6),
                _rnd(1.0 - ob / n, 6), _rnd(1.0 - oh / n, 6),
            )
        )
    return sorted(out)


def _run_shuffle_oracles(li_rows, orders_keys, names):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem(l_orderkey BIGINT, l_linenumber BIGINT,"
        " l_partkey BIGINT, l_returnflag VARCHAR, l_suppkey BIGINT)"
    )
    con.executemany(
        "INSERT INTO lineitem VALUES (?, ?, ?, ?, ?)", li_rows
    )
    con.execute("CREATE TABLE orders(o_orderkey BIGINT)")
    con.executemany(
        "INSERT INTO orders VALUES (?)", [(k,) for k in orders_keys]
    )
    return {
        n: sorted(tuple(r) for r in con.execute(ORACLES[n]).fetchall())
        for n in names
    }


_SHUFFLE_NAMES = (
    "stats_partition_sizing_audit",
    "stats_bucket_colocation_audit",
    "stats_partial_agg_audit",
)


def _rand_li(rng, n):
    return [
        (
            rng.randrange(0, 50_000),
            rng.randrange(1, 8),
            rng.randrange(0, 2_000),
            rng.choice("ANR"),
            rng.randrange(0, 100),
        )
        for _ in range(n)
    ]


@pytest.mark.parametrize("seed", range(6))
def test_shuffle_audits_on_random_tables(seed):
    """All three references vs the oracles on random tables; laws:
    partition max_rows is non-increasing in P (nested mods: coarse
    partitions are unions of fine ones), conservation, and the
    partial-agg output bracket n_groups <= out <= min(n, groups x
    pids)."""
    rng = random.Random(65_000 + seed)
    li = _rand_li(rng, rng.randrange(1, 900))
    orders = [rng.randrange(0, 50_000) for _ in range(rng.randrange(1, 400))]
    got = _run_shuffle_oracles(li, orders, _SHUFFLE_NAMES)
    fact_keys = [r[0] for r in li]
    assert got["stats_partition_sizing_audit"] == psa_python(fact_keys)
    assert got["stats_bucket_colocation_audit"] == buk_python(
        fact_keys, orders
    )
    assert got["stats_partial_agg_audit"] == paa_python(li)
    ps = got["stats_partition_sizing_audit"]
    for r in ps:
        assert r[2] + r[3] == r[0], r  # used + empty == P
    maxes = [r[4] for r in ps]  # ascending P -> non-increasing max
    assert maxes == sorted(maxes, reverse=True), ps
    for r in got["stats_partial_agg_audit"]:
        _, n, g, ob, oh, *_ = r
        npids = len({row[0] // PA_CHUNK for row in li})
        assert g <= ob <= min(n, g * npids), r
        assert g <= oh <= min(n, g * PA_NPART), r


def test_partial_agg_planted_locality():
    """Planted: 400 single-line orders with keys 0..399 all land in
    arrival block 0, returnflag alternates A/B -> out_rows_block for
    l_returnflag is exactly 2 (one partial row per group), while
    l_orderkey cannot combine at all (400 groups, 400 rows, ratio 1.0
    in BOTH placements)."""
    li = [(k, 1, 7, "AB"[k % 2], 3) for k in range(400)]
    got = _run_shuffle_oracles(li, [1], ("stats_partial_agg_audit",))[
        "stats_partial_agg_audit"
    ]
    assert got == paa_python(li)
    rows = {r[0]: r for r in got}
    assert rows["l_returnflag"][3] == 2, rows["l_returnflag"]
    assert rows["l_orderkey"][3] == 400, rows["l_orderkey"]
    assert rows["l_orderkey"][5] == 1.0 and rows["l_orderkey"][6] == 1.0
    assert rows["l_returnflag"][5] == 200.0, rows["l_returnflag"]


def test_partition_sizing_spill_planted():
    """Planted: one hot hash cell.  5x the budget of rows on ONE key
    -> at every P that key's partition exceeds the budget by exactly
    (5x - budget) plus whatever shares the cell."""
    li = [(42, 1, 1, "A", 1)] * (PS_ROW_BUDGET * 5)
    got = _run_shuffle_oracles(li, [1], ("stats_partition_sizing_audit",))[
        "stats_partition_sizing_audit"
    ]
    assert got == psa_python([42] * (PS_ROW_BUDGET * 5))
    for r in got:
        assert r[8] == 1, r  # exactly one over-budget partition
        assert r[9] == PS_ROW_BUDGET * 4, r  # spill = rows past budget
        assert r[2] == 1 and r[4] == PS_ROW_BUDGET * 5, r


def test_shuffle_audits_degenerate_single_row():
    li = [(7, 1, 7, "N", 9)]
    got = _run_shuffle_oracles(li, [7], _SHUFFLE_NAMES)
    assert got["stats_partition_sizing_audit"] == psa_python([7])
    assert got["stats_bucket_colocation_audit"] == buk_python([7], [7])
    assert got["stats_partial_agg_audit"] == paa_python(li)
    for r in got["stats_partition_sizing_audit"]:
        assert r[2] == 1 and r[4] == 1 and r[9] == 0, r


def test_shuffle_audits_spark_tiny_lineitem(spark, tmp_path):
    """SPARK side: 2-row lineitem / 1-row orders tiny parquet, full
    hash compare in both engines (schema columns the audits touch plus
    the untouched rest via symlinked fixture tables)."""
    from paraslice_spark.registry import ORACLES, QUERIES
    from tests.oracle_harness import run_compare

    lineitem = {
        "l_orderkey": [3, 900],
        "l_partkey": [1, 2],
        "l_suppkey": [5, 6],
        "l_linenumber": [1, 1],
        "l_quantity": [1.0, 2.0],
        "l_extendedprice": [10.0, 20.0],
        "l_discount": [0.0, 0.1],
        "l_tax": [0.0, 0.05],
        "l_returnflag": ["A", "R"],
        "l_linestatus": ["O", "F"],
        "l_shipdate": [None, None],
    }
    orders = {
        "o_orderkey": [3],
        "o_custkey": [1],
        "o_orderstatus": ["O"],
        "o_totalprice": [10.0],
        "o_orderdate": [None],
        "o_orderpriority": ["1-URGENT"],
    }
    d = _tiny_fixture(
        tmp_path, "tinyshuf", {"lineitem": lineitem, "orders": orders}
    )
    try:
        for q in _SHUFFLE_NAMES:
            problems = run_compare(spark, QUERIES[q], ORACLES[q], d)
            assert not problems, (q, problems)
    finally:
        _drop_caches(spark, d)
