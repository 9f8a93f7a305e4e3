"""Round-13 oracle fuzz: from-scratch third-engine rederivations of the
oracles added this round, on RANDOM tables (the house bar — an oracle
must be right because its math is right, not because it happens to
match the fixture).

events_binseg_changepoint: the exact binary-segmentation split (BSS via
the D = n·S_L − n_L·S identity) is rederived in pure Python with exact
integer prefix sums; the IEEE divisions coincide because D² and every
denominator sit below 2^53 (operands exactly representable ⇒ one
correctly-rounded division in Python, Spark, and DuckDB alike).  A
planted-level-shift test checks the VALUE, not just cross-engine
agreement (the events_overdispersion lesson: both engines can agree on
a wrong formula)."""

from __future__ import annotations

import datetime
import math
import random
from collections import defaultdict

import duckdb
import pytest

import paraslice_spark.operators  # noqa: F401
from paraslice_spark.operators.reshape import BINSEG_GRANS
from paraslice_spark.registry import ORACLES


def _rnd(x: float, n: int) -> float:
    # ROUND half-away-from-zero, matching Spark/DuckDB (Python round()
    # is banker's and diverges on exactly-dyadic ratios)
    p = 10**n
    return math.floor(abs(x) * p + 0.5) / p * (1 if x >= 0 else -1)


def binseg_python(rows):
    """From-scratch reference: rows = (ts_ns, event_type).  Returns the
    declared 8-tuple per (event_type, gran)."""
    out = []
    hourly = defaultdict(int)
    for ts_ns, et in rows:
        hourly[(et, ts_ns // 3_600_000_000_000)] += 1
    types = sorted({et for et, _ in hourly})
    for et in types:
        for g in BINSEG_GRANS:
            buckets = defaultdict(int)
            for (e, hr), c in hourly.items():
                if e == et:
                    buckets[hr // g] += c
            series = sorted(buckets.items())
            n = len(series)
            tot = sum(y for _, y in series)
            sy2 = sum(y * y for _, y in series)
            if n < 2:
                continue
            best = None  # (bss, i, bucket)
            pre = 0
            for i, (bucket, y) in enumerate(series[:-1], start=1):
                pre += y
                d = n * pre - i * tot
                b = (d * d) / (n * i * (n - i))
                if best is None or b > best[0]:
                    best = (b, i, bucket)
            bss, i, bucket = best
            tss = sy2 - (tot * tot) / n
            r2 = 0.0 if sy2 * n == tot * tot else bss / tss
            out.append(
                (
                    et, g, n, tot, (bucket + 1) * g,
                    _rnd(i / n, 6), _rnd(bss / n, 6), _rnd(r2, 6),
                )
            )
    return out


def _run_oracle(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP,"
        " user_id BIGINT, event_type VARCHAR, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?, ?)",
        [
            (i + 1, datetime.datetime(1970, 1, 1)
             + datetime.timedelta(microseconds=ts_ns // 1000), 1, et, 1.0)
            for i, (ts_ns, et) in enumerate(rows)
        ],
    )
    return [tuple(r) for r in con.execute(
        ORACLES["events_binseg_changepoint"]
    ).fetchall()]


@pytest.mark.parametrize("seed", range(6))
def test_binseg_oracle_on_random_tables(seed):
    """Random event tables with deliberate boundary traps: empty hours
    (observed-bucket series), single-bucket types (no valid split —
    group must vanish), and constant series (TSS = 0 → r2 = 0)."""
    rng = random.Random(17_000 + seed)
    base_ns = int(datetime.datetime(2024, 4, 1).timestamp()) * 10**9
    rows = []
    for _ in range(rng.randrange(50, 400)):
        rows.append(
            (
                base_ns + rng.randrange(0, 6 * 86_400) * 10**9
                + rng.randrange(0, 10**9),
                rng.choice(["a", "b", "c"]),
            )
        )
    # a type confined to ONE hour: n = 1 at every granularity → no rows
    one_hr = base_ns + 3 * 86_400 * 10**9
    for _ in range(5):
        rows.append((one_hr + rng.randrange(0, 3_600) * 10**9, "solo"))
    # a constant series: exactly one event per hour for 48 h → TSS = 0
    # at g = 1 (r2 must be 0 there, not NULL/inf)
    for h in range(48):
        rows.append((base_ns + h * 3_600 * 10**9 + 500 * 10**9, "flat"))
    got = _run_oracle(rows)
    want = binseg_python(rows)
    assert got == want, seed
    assert not any(et == "solo" for et, *_ in got), seed
    flat_g1 = [r for r in got if r[0] == "flat" and r[1] == 1]
    assert flat_g1 and flat_g1[0][7] == 0.0, flat_g1


@pytest.mark.parametrize("seed", range(3))
def test_binseg_recovers_planted_changepoint(seed):
    """VALUE check: a strong planted level shift (rate 2/hour → 20/hour
    at a known day boundary) must be located exactly at every
    granularity, with r2 dominated by the split."""
    rng = random.Random(18_000 + seed)
    base = datetime.datetime(2024, 4, 1)  # UTC midnight → day-aligned
    base_ns = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**9
    cp_day = 4  # shift at the start of day 4 (hour 96)
    rows = []
    for h in range(8 * 24):
        rate = 2 if h < cp_day * 24 else 20
        for _ in range(rate):
            rows.append(
                (base_ns + h * 3_600 * 10**9
                 + rng.randrange(0, 3_600 * 10**9), "x")
            )
    got = {r[1]: r for r in _run_oracle(rows)}
    want = binseg_python(rows)
    assert sorted(got.values()) == sorted(want), seed
    cp_abs_hour = base_ns // 3_600_000_000_000 + cp_day * 24
    for g in BINSEG_GRANS:
        et, gg, n, tot, cp_hour, frac, bss, r2 = got[g]
        assert cp_hour == cp_abs_hour, (g, cp_hour, cp_abs_hour)
        assert r2 > 0.8, (g, r2)


def hosvd_energy_python(cells):
    """From-scratch reference: cells = dict[(iu, jt, kh)] -> cm (cents,
    nonzero).  Returns the declared 7-tuple per mode."""
    out = []
    for mode, pick in (
        ("i", lambda c: str(c[0])), ("j", lambda c: c[1]),
        ("k", lambda c: str(c[2])),
    ):
        sl = defaultdict(int)
        for cell, cm in cells.items():
            sl[pick(cell)] += cm * cm
        series = sorted(sl.items(), key=lambda kv: (-kv[1], kv[0]))
        tot = sum(e for _, e in series)
        n = len(series)
        cum, r50, r90, top = 0, None, None, series[0][1]
        for rn, (_idx, e) in enumerate(series, start=1):
            cum += e
            if r50 is None and cum >= (tot + 1) // 2:
                r50 = rn
            if r90 is None and cum * 10 >= tot * 9:
                r90 = rn
        out.append((mode, n, tot, top, _rnd(top / tot, 6), r50, r90))
    return out


def _run_hosvd_oracle(rows):
    """rows = (event_id, ts, user_id, event_type, value)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP,"
        " user_id BIGINT, event_type VARCHAR, value DOUBLE)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    return [tuple(r) for r in con.execute(
        ORACLES["tensor_hosvd_energy_audit"]
    ).fetchall()]


def _cents(v):
    # cents quantization, half away from zero (Spark/DuckDB round())
    return int(math.floor(abs(v) * 100 + 0.5)) * (1 if v >= 0 else -1)


def _cells_of(rows):
    cells = defaultdict(int)
    for _eid, ts, u, et, v in rows:
        hr = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp()
                 * 1_000_000) // 3_600_000_000
        cells[(u, et, hr)] += _cents(v)
    return {k: v for k, v in cells.items() if v != 0}


@pytest.mark.parametrize("seed", range(6))
def test_hosvd_energy_oracle_on_random_tables(seed):
    """Random signed-value event tables (negative values exercise the
    sign-safe cm^2 path; zero-sum cells must vanish) + the Parseval
    invariant: total_c2 identical across the three mode rows."""
    rng = random.Random(19_000 + seed)
    base = datetime.datetime(2024, 5, 1)
    rows = []
    for eid in range(1, rng.randrange(60, 400)):
        rows.append(
            (
                eid,
                base + datetime.timedelta(
                    seconds=rng.randrange(0, 4 * 86_400)),
                rng.randrange(1, 9),
                rng.choice(["a", "b", "c"]),
                rng.choice([-1, 1]) * rng.randrange(0, 10**6) / 100.0,
            )
        )
    # force at least one exactly-cancelling cell (cm = 0 -> dropped)
    t0 = base + datetime.timedelta(days=5)
    rows.append((9001, t0, 7, "z", 12.5))
    rows.append((9002, t0 + datetime.timedelta(minutes=5), 7, "z", -12.5))
    got = _run_hosvd_oracle(rows)
    cells = _cells_of(rows)
    assert got == hosvd_energy_python(cells), seed
    assert len({r[2] for r in got}) == 1, got  # Parseval across modes
    # the planted cancelling cell must be gone from the reference cells
    hr0 = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp()
              * 1_000_000) // 3_600_000_000
    assert (7, "z", hr0) not in cells


@pytest.mark.parametrize("seed", range(3))
def test_hosvd_energy_detects_planted_concentration(seed):
    """VALUE check: one user carrying ~99% of the energy must yield
    i-mode r50 = 1 and a dominant top_share, while the hour mode stays
    diffuse (r90 well above 1)."""
    rng = random.Random(20_000 + seed)
    base = datetime.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for h in range(96):  # background: tiny energy spread over hours/users
        eid += 1
        rows.append((eid, base + datetime.timedelta(hours=h), 1 + h % 5,
                     "bg", 1.0))
    for h in range(96):  # the dominant user: huge value every hour
        eid += 1
        rows.append((eid, base + datetime.timedelta(hours=h, minutes=30),
                     99, "hot", 1000.0 + rng.randrange(0, 100)))
    got = {r[0]: r for r in _run_hosvd_oracle(rows)}
    cells = _cells_of(rows)
    assert sorted(got.values()) == sorted(hosvd_energy_python(cells)), seed
    assert got["i"][5] == 1 and got["i"][4] > 0.9, got["i"]  # r50, top_share
    assert got["j"][5] == 1, got["j"]  # 'hot' type dominates too
    assert got["k"][6] > 50, got["k"]  # hours stay diffuse (uniform)


def zonemap_python(orders):
    """From-scratch reference: orders = list[(k, d)] (orderkey, epoch
    day).  Returns the declared 9-tuple per (layout, pred_id)."""
    from paraslice_spark.operators.relational import (
        ZONEMAP_BLOCKS,
        ZONEMAP_PREDS,
    )

    mnk = min(k for k, _ in orders); mxk = max(k for k, _ in orders)
    mnd = min(d for _, d in orders); mxd = max(d for _, d in orders)
    zones = defaultdict(lambda: [None, None, 0])
    for k, d in orders:
        for layout, blk in (
            ("bykey", (k - mnk) * ZONEMAP_BLOCKS // (mxk - mnk + 1)),
            ("bydate", (d - mnd) * ZONEMAP_BLOCKS // (mxd - mnd + 1)),
        ):
            z = zones[(layout, blk)]
            z[0] = d if z[0] is None else min(z[0], d)
            z[1] = d if z[1] is None else max(z[1], d)
            z[2] += 1
    out = []
    for layout in ("bydate", "bykey"):
        zs = [v for (lay, _), v in zones.items() if lay == layout]
        for pred_id, lo, hi in ZONEMAP_PREDS:
            read = [z for z in zs if not (z[1] < lo or z[0] >= hi)]
            matching = sum(1 for _, d in orders if lo <= d < hi)
            scanned = sum(z[2] for z in read)
            out.append(
                (
                    layout, pred_id, len(zs), len(read),
                    len(zs) - len(read), scanned, matching,
                    _rnd(len(read) / len(zs), 6),
                    0.0 if matching == 0 else _rnd(scanned / matching, 6),
                )
            )
    return sorted(out)


def _run_zonemap_oracle(orders):
    con = duckdb.connect()
    con.execute("CREATE TABLE orders(o_orderkey BIGINT, o_orderdate TIMESTAMP)")
    con.executemany(
        "INSERT INTO orders VALUES (?, ?)",
        [
            (k, datetime.datetime(1970, 1, 1) + datetime.timedelta(days=d))
            for k, d in orders
        ],
    )
    return sorted(
        tuple(r)
        for r in con.execute(ORACLES["stats_zonemap_prune_audit"]).fetchall()
    )


@pytest.mark.parametrize("seed", range(6))
def test_zonemap_oracle_on_random_tables(seed):
    """Random (key, day) tables — including predicates that match ZERO
    rows (scan_amp pinned to 0, not inf) — plus the losslessness pin:
    pruning never skips a matching row (rows_scanned >= rows_matching
    in every row)."""
    rng = random.Random(21_000 + seed)
    n = rng.randrange(80, 600)
    # keys dense-ish and shuffled; days spread over 1995-2001 (so some
    # predicate windows are hit and, at small n, some may be empty)
    keys = list(range(n)); rng.shuffle(keys)
    orders = [
        (keys[i], rng.randrange(9131, 11688))  # 1995-01-01 .. 2001-12-31
        for i in range(n)
    ]
    got = _run_zonemap_oracle(orders)
    assert got == zonemap_python(orders), seed
    assert all(r[5] >= r[6] for r in got), got  # never lossy


@pytest.mark.parametrize("seed", range(3))
def test_zonemap_detects_planted_clustering(seed):
    """VALUE check: when keys are assigned in DATE order (a clustered
    write), the 'bykey' layout must prune like 'bydate' — narrow
    predicates read well under half the blocks — while a shuffled key
    assignment reads every block for an interior predicate."""
    rng = random.Random(22_000 + seed)
    n = 2000
    days = sorted(rng.randrange(9131, 11688) for _ in range(n))
    clustered = [(i, days[i]) for i in range(n)]          # key follows date
    got_c = {(r[0], r[1]): r for r in _run_zonemap_oracle(clustered)}
    assert sorted(got_c.values()) == zonemap_python(clustered), seed
    for pred in ("h1_1996", "h2_1997", "q1_1995"):
        assert got_c[("bykey", pred)][7] < 0.5, got_c[("bykey", pred)]
    shuffled_keys = list(range(n)); rng.shuffle(shuffled_keys)
    shuffled = [(shuffled_keys[i], days[i]) for i in range(n)]
    got_s = {(r[0], r[1]): r for r in _run_zonemap_oracle(shuffled)}
    assert got_s[("bykey", "h1_1996")][7] == 1.0, got_s[("bykey", "h1_1996")]


@pytest.mark.parametrize("seed", range(6))
def test_clustering_coefficient_oracle_on_random_tables(seed):
    """graph_clustering_coefficient: kNN edges (the shared _KNN_ORACLE
    spec on dyadic-rational vectors — exact float64 dots), per-node
    triangle credit, the integer-division decile bucket, pooled (never
    node-averaged) ratios, and the deg<2 exclusion — all rederived from
    scratch."""
    from paraslice_spark.operators.similarity import _KNN_K

    rng = random.Random(23_000 + seed)
    dim = 8
    vecs = []
    for vid in range(rng.randrange(15, 45)):
        k = [rng.randrange(-64, 65) for _ in range(dim)]
        if not any(k):
            k[0] = 1
        vecs.append((vid, k))
    # plant a 5-clique of nearly identical vectors so high-lcc buckets
    # and the triangle path are exercised every seed
    proto = [rng.randrange(-64, 65) for _ in range(dim)]
    if not any(proto):
        proto[0] = 1
    nxt = max(v for v, _ in vecs) + 1
    for i in range(5):
        vecs.append((nxt + i, list(proto)))
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding DOUBLE[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [(vid, [x / 64.0 for x in k]) for vid, k in vecs],
    )
    got = [tuple(r) for r in con.execute(
        ORACLES["graph_clustering_coefficient"]
    ).fetchall()]

    # from-scratch: exact dyadic kNN -> canonical undirected edges
    norm2 = {vid: sum(x * x for x in k) for vid, k in vecs}
    edges = set()
    for vid, k in vecs:
        scored = []
        for wid, m in vecs:
            if wid == vid:
                continue
            dot = sum(a * b for a, b in zip(k, m))
            cos = _rnd(
                (dot / 4096.0)
                / (math.sqrt(norm2[vid] / 4096.0)
                   * math.sqrt(norm2[wid] / 4096.0)),
                6,
            )
            scored.append((-cos, wid))
        for _c, wid in sorted(scored)[:_KNN_K]:
            edges.add((min(vid, wid), max(vid, wid)))
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    # each triangle is visited once per edge; crediting the OPPOSITE
    # corner w each time gives every corner exactly one credit per
    # triangle it belongs to (3 edges -> 3 credits -> one per corner)
    tri = defaultdict(int)
    for u, v in edges:
        for w in adj[u] & adj[v]:
            tri[w] += 1
    # self-check via the handshake identity sum(t) = 3T
    T = sum(1 for a, b in edges for c in adj[a] & adj[b] if a < b < c)
    assert sum(tri.values()) == 3 * T
    sum_t3 = sum(tri.values())
    sum_dd = sum(len(adj[n]) * (len(adj[n]) - 1) for n in adj)
    n_lt2 = sum(1 for n in adj if len(adj[n]) < 2)
    buckets = defaultdict(lambda: [0, 0, 0])
    for n in adj:
        d = len(adj[n])
        if d < 2:
            continue
        t = tri.get(n, 0)
        b = min(9, (20 * t) // (d * (d - 1)))
        bb = buckets[b]
        bb[0] += 1
        bb[1] += t
        bb[2] += d * (d - 1)
    want = [
        (b, n, st, _rnd(2 * st / sdd, 6), _rnd(2 * sum_t3 / sum_dd, 6),
         n_lt2)
        for b, (n, st, sdd) in sorted(buckets.items())
    ]
    assert got == want, seed
    assert any(b >= 5 for b, *_ in got), got  # the clique shows up high


def anova_python(rows):
    """From-scratch reference: rows = (ts_ns, event_type).  Returns the
    declared 7-tuple per event_type."""
    hourly = defaultdict(int)
    for ts_ns, et in rows:
        hourly[(et, ts_ns // 3_600_000_000_000)] += 1
    out = []
    for et in sorted({e for e, _ in hourly}):
        series = [(hr, y) for (e, hr), y in hourly.items() if e == et]
        n = len(series)
        s = sum(y for _, y in series)
        sy2 = sum(y * y for _, y in series)
        if n * sy2 == s * s:
            out.append((et, n, s, len({((h % 24), (h // 24 + 4) % 7)
                                       for h, _ in series}), 0.0, 0.0, 0.0))
            continue
        gm = (s * s) / n
        sst = sy2 - gm

        def between(key):
            g = defaultdict(lambda: [0, 0])
            for h, y in series:
                gg = g[key(h)]
                gg[0] += y
                gg[1] += 1
            return sum((sg * sg) / ng for sg, ng in g.values()), len(g)

        bh, _ = between(lambda h: h % 24)
        bd, _ = between(lambda h: (h // 24 + 4) % 7)
        bc, n_cells = between(lambda h: (h % 24, (h // 24 + 4) % 7))
        out.append(
            (et, n, s, n_cells, _rnd((bh - gm) / sst, 6),
             _rnd((bd - gm) / sst, 6), _rnd((bc - gm) / sst, 6))
        )
    return out


def _run_anova_oracle(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP,"
        " user_id BIGINT, event_type VARCHAR, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?, ?)",
        [
            (i + 1, datetime.datetime(1970, 1, 1)
             + datetime.timedelta(microseconds=ts_ns // 1000), 1, et, 1.0)
            for i, (ts_ns, et) in enumerate(rows)
        ],
    )
    return [tuple(r) for r in con.execute(
        ORACLES["events_anova_calendar"]
    ).fetchall()]


@pytest.mark.parametrize("seed", range(6))
def test_anova_oracle_on_random_tables(seed):
    """Random event tables (+ a constant-series type: the exact integer
    n*sy2 == s*s guard must emit zeros, not NULL/inf) plus the nesting
    law 0 <= eta2_hod, eta2_dow <= eta2_cell <= 1 (coarser partitions
    explain no more variance than their refinement)."""
    rng = random.Random(24_000 + seed)
    base_ns = int(datetime.datetime(2024, 4, 1).timestamp()) * 10**9
    rows = []
    for _ in range(rng.randrange(100, 600)):
        rows.append(
            (
                base_ns + rng.randrange(0, 14 * 86_400) * 10**9
                + rng.randrange(0, 10**9),
                rng.choice(["a", "b"]),
            )
        )
    for h in range(30):  # constant series: one event per hour
        rows.append((base_ns + h * 3_600 * 10**9 + 10**9, "flat"))
    got = _run_anova_oracle(rows)
    assert got == anova_python(rows), seed
    flat = [r for r in got if r[0] == "flat"]
    assert flat and flat[0][4:] == (0.0, 0.0, 0.0), flat
    for r in got:
        assert -1e-9 <= r[4] <= r[6] + 1e-9 <= 1 + 1e-9, r
        assert -1e-9 <= r[5] <= r[6] + 1e-9, r


@pytest.mark.parametrize("seed", range(3))
def test_anova_detects_planted_seasonality(seed):
    """VALUE check: a strong hour-of-day pattern (20 events in working
    hours, 1 otherwise, constant across days) must put eta2_hod near 1
    and dominate eta2_dow; a weekend-only type must do the reverse."""
    rng = random.Random(25_000 + seed)
    base = datetime.datetime(2024, 4, 1)  # a Monday
    base_ns = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**9
    rows = []
    for day in range(28):
        for h in range(24):
            hr_ns = base_ns + (day * 24 + h) * 3_600 * 10**9
            n_hod = 20 if 9 <= h < 17 else 1
            for _ in range(n_hod):
                rows.append((hr_ns + rng.randrange(0, 3_600 * 10**9), "hodty"))
            n_dow = 15 if day % 7 >= 5 else 1
            for _ in range(n_dow):
                rows.append((hr_ns + rng.randrange(0, 3_600 * 10**9), "dowty"))
    got = {r[0]: r for r in _run_anova_oracle(rows)}
    assert sorted(got.values()) == sorted(anova_python(rows)), seed
    assert got["hodty"][4] > 0.8 and got["hodty"][4] > 5 * got["hodty"][5]
    assert got["dowty"][5] > 0.5 and got["dowty"][5] > 5 * got["dowty"][4]


def ntile_python(r, n, k=10):
    """Standard ntile fill rule: first n%k tiles take n//k + 1 rows."""
    q, m = n // k, n % k
    if r <= m * (q + 1):
        return (r - 1) // (q + 1) + 1
    return m + (r - 1 - m * (q + 1)) // q + 1


@pytest.mark.parametrize("n", [1, 2, 3, 7, 9, 10, 11, 19, 20, 23, 30, 101])
def test_window_distribution_oracle_on_tiny_tables(n):
    """The r13 distributed-rank rewrite of window_distribution derives
    ntile/percent_rank/cume_dist ARITHMETICALLY from the global rank;
    this pins the arithmetic against DuckDB's window functions on every
    small-n edge (n < 10 → empty tail tiles; n = 1 → pct_rank 0; n a
    multiple of 10 → uniform tiles) via the registered oracle, and
    against a from-scratch Python ntile."""
    rng = random.Random(26_000 + n)
    bals = rng.sample(range(-999999, 999999), n)
    con = duckdb.connect()
    con.execute("CREATE TABLE customer(c_custkey BIGINT, c_acctbal DOUBLE)")
    con.executemany(
        "INSERT INTO customer VALUES (?, ?)",
        [(i + 1, b / 100.0) for i, b in enumerate(bals)],
    )
    got = con.execute(ORACLES["window_distribution"]).fetchall()
    order = sorted(range(n), key=lambda i: (bals[i], i + 1))
    want = []
    for r, i in enumerate(order, start=1):
        want.append(
            (
                i + 1,
                ntile_python(r, n),
                0.0 if n == 1 else (r - 1) / (n - 1),
                r / n,
            )
        )
    assert sorted(got) == sorted(want), n


@pytest.mark.parametrize("n", [1, 3, 9, 10, 23])
def test_window_distribution_spark_small_n(spark, tmp_path, n):
    """SPARK side of the small-n edges (the distributed-rank rewrite's
    q = 0 branch is unreachable arithmetic when n < 10, and n = 1 hits
    the pct_rank guard): tiny customer tables through run_compare —
    both engines, full hash."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from paraslice_spark import memo
    from paraslice_spark.registry import QUERIES
    from tests.conftest import SF_SMALL
    from tests.oracle_harness import run_compare

    rng = random.Random(27_000 + n)
    bals = rng.sample(range(-999999, 999999), n)
    d = tmp_path / f"wd{n}"
    os.makedirs(d)
    src = pq.read_table(f"{SF_SMALL}/customer.parquet")
    keep = min(n, src.num_rows)
    tbl = src.slice(0, keep).to_pydict()
    tbl["c_custkey"] = list(range(1, keep + 1))
    tbl["c_acctbal"] = [b / 100.0 for b in bals[:keep]]
    pq.write_table(pa.table(tbl), str(d / "customer.parquet"))
    for t in ("region", "nation", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        os.symlink(f"{SF_SMALL}/{t}.parquet", str(d / f"{t}.parquet"))
    problems = run_compare(
        spark, QUERIES["window_distribution"],
        __import__("paraslice_spark.registry", fromlist=["ORACLES"]).ORACLES[
            "window_distribution"
        ],
        str(d),
    )
    assert not problems, (n, problems)
    memo.forget(spark, str(d))
