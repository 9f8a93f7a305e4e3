"""Round-14 oracle fuzz: from-scratch third-engine rederivations of the
storage-layout audit oracles added this round, on RANDOM tables (the
house bar — an oracle must be right because its math is right, not
because it happens to match the fixture).

stats_zorder_prune_audit: the Morton interleave, grid/block ids, 2-D
zone overlap rule and both ratios are rederived in pure Python (bit
ops here vs div/mod terms in the engines — independent formulations of
the same spec).  A planted-2-D-clustering test checks the VALUE: the
z-order layout must beat both single-column sorts on rectangle
predicates (the events_overdispersion lesson: engines can agree on a
wrong formula).

stats_bloom_prune_audit: the md5_u32 bit assignment, per-block
ndv-sized filters, probe membership and FPR are rederived with
hashlib directly.  Laws: blooms never miss (no false negatives),
absent probes match zero rows, measured FPR sits in the theoretical
band.

stats_compaction_waste_audit: the (month × chunk) file census and the
integer-ceil right-sizing are rederived with plain dicts; laws pin
byte conservation and files_after monotonicity in the target."""

from __future__ import annotations

import datetime
import hashlib
import math
import random
from collections import defaultdict

import duckdb
import numpy as np
import pytest

import paraslice_spark.operators  # noqa: F401
from paraslice_spark.operators.relational import (
    BLOOM_ABSENT_PROBES,
    BLOOM_BITS_PER_KEY,
    BLOOM_BLOCKS,
    BLOOM_PRESENT_PROBES,
    BLOOM_SEEDS,
    COMPACT_CHUNK,
    COMPACT_OPEN_B,
    COMPACT_TARGETS,
    ZORDER_BLOCKS,
    ZORDER_CELLS,
    ZORDER_PREDS,
)
from paraslice_spark.registry import ORACLES


def _rnd(x: float, n: int) -> float:
    # ROUND half-away-from-zero, matching Spark/DuckDB (Python round()
    # is banker's and diverges on exactly-dyadic ratios)
    p = 10**n
    return math.floor(abs(x) * p + 0.5) / p * (1 if x >= 0 else -1)


def _md5_u32(s: str) -> int:
    # from-scratch twin of canon.md5_u32 (first 8 md5 hex digits)
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _ts(d: int) -> datetime.datetime:
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(days=d)


# ---------------------------------------------------------------- zorder


def zorder_python(orders):
    """From-scratch reference: orders = list[(k, d)].  Returns the
    declared 9-tuple per (layout, pred_id), sorted."""
    mnk = min(k for k, _ in orders); mxk = max(k for k, _ in orders)
    mnd = min(d for _, d in orders); mxd = max(d for _, d in orders)
    zper = (ZORDER_CELLS * ZORDER_CELLS) // ZORDER_BLOCKS
    zones = {}
    cells = []
    for k, d in orders:
        gx = (k - mnk) * ZORDER_CELLS // (mxk - mnk + 1)
        gy = (d - mnd) * ZORDER_CELLS // (mxd - mnd + 1)
        z = 0
        for b in range(5):  # independent formulation: real bit ops
            z |= ((gx >> b) & 1) << (2 * b + 1)
            z |= ((gy >> b) & 1) << (2 * b)
        layouts = (
            ("bykey", (k - mnk) * ZORDER_BLOCKS // (mxk - mnk + 1)),
            ("bydate", (d - mnd) * ZORDER_BLOCKS // (mxd - mnd + 1)),
            ("zorder", z // zper),
        )
        cells.append((gx, d))
        for lay, blk in layouts:
            zo = zones.setdefault((lay, blk), [d, d, gx, gx, 0])
            zo[0] = min(zo[0], d); zo[1] = max(zo[1], d)
            zo[2] = min(zo[2], gx); zo[3] = max(zo[3], gx)
            zo[4] += 1
    out = []
    for lay in ("bydate", "bykey", "zorder"):
        zs = [v for (l2, _), v in zones.items() if l2 == lay]
        for pred_id, dlo, dhi, gxlo, gxhi in ZORDER_PREDS:
            read = [
                z for z in zs
                if not (z[1] < dlo or z[0] >= dhi
                        or z[3] < gxlo or z[2] >= gxhi)
            ]
            matching = sum(
                1 for gx, d in cells
                if dlo <= d < dhi and gxlo <= gx < gxhi
            )
            scanned = sum(z[4] for z in read)
            out.append(
                (
                    lay, pred_id, len(zs), len(read), len(zs) - len(read),
                    scanned, matching, _rnd(len(read) / len(zs), 6),
                    0.0 if matching == 0 else _rnd(scanned / matching, 6),
                )
            )
    return sorted(out)


def _run_zorder_oracle(orders):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_orderdate TIMESTAMP)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?)",
        [(k, _ts(d)) for k, d in orders],
    )
    return sorted(
        tuple(r)
        for r in con.execute(ORACLES["stats_zorder_prune_audit"]).fetchall()
    )


@pytest.mark.parametrize("seed", range(6))
def test_zorder_oracle_on_random_tables(seed):
    """Random (key, day) tables incl. possibly-empty predicate windows;
    the losslessness pin (rows_scanned >= rows_matching) in every row."""
    rng = random.Random(41_000 + seed)
    n = rng.randrange(2, 600)
    keys = list(range(n)); rng.shuffle(keys)
    orders = [(keys[i], rng.randrange(9131, 11688)) for i in range(n)]
    got = _run_zorder_oracle(orders)
    assert got == zorder_python(orders), seed
    assert all(r[5] >= r[6] for r in got), got


def test_zorder_oracle_single_row():
    got = _run_zorder_oracle([(7, 9500)])
    assert got == zorder_python([(7, 9500)])
    # one block per layout, read iff the (single) zone overlaps the pred
    assert all(r[2] == 1 for r in got), got


@pytest.mark.parametrize("seed", range(3))
def test_zorder_beats_single_column_sorts_on_rectangles(seed):
    """VALUE check: with keys uncorrelated to dates, the z-order layout
    must read no more blocks than EITHER single-column layout for every
    2-D rectangle predicate, and strictly fewer than the worse one on
    the narrow rectangles (the multi-column clustering argument)."""
    rng = random.Random(42_000 + seed)
    n = 4000
    keys = list(range(n)); rng.shuffle(keys)
    orders = [(keys[i], rng.randrange(9131, 11688)) for i in range(n)]
    got = {(r[0], r[1]): r for r in _run_zorder_oracle(orders)}
    assert sorted(got.values()) == zorder_python(orders), seed
    for pred_id, *_ in ZORDER_PREDS:
        zo = got[("zorder", pred_id)][3]
        bk = got[("bykey", pred_id)][3]
        bd = got[("bydate", pred_id)][3]
        assert zo <= min(bk, bd) + 1, (pred_id, zo, bk, bd)
    for pred_id in ("h1_1996_k8", "h2_1997_k24"):
        assert got[("zorder", pred_id)][3] < max(
            got[("bykey", pred_id)][3], got[("bydate", pred_id)][3]
        ), pred_id


# ----------------------------------------------------------------- bloom


def bloom_python(orders):
    """From-scratch reference: orders = list[(ck, d)].  Returns the
    declared 11-tuple per (probe_kind, probe_ck), sorted."""
    mnd = min(d for _, d in orders); mxd = max(d for _, d in orders)
    mxck = max(ck for ck, _ in orders)
    bk = defaultdict(int)
    for ck, d in orders:
        blk = (d - mnd) * BLOOM_BLOCKS // (mxd - mnd + 1)
        bk[(blk, ck)] += 1
    blocks = {}
    for (blk, ck), cnt in bk.items():
        b = blocks.setdefault(blk, [0, 0, ck, ck])  # ndv, nrows, mn, mx
        b[0] += 1; b[1] += cnt
        b[2] = min(b[2], ck); b[3] = max(b[3], ck)
    bits = defaultdict(set)
    for (blk, ck), _ in bk.items():
        m = blocks[blk][0] * BLOOM_BITS_PER_KEY
        for s in BLOOM_SEEDS:
            bits[blk].add(_md5_u32(f"{ck}:{s}") % m)
    dcks = sorted({ck for ck, _ in orders})
    present = sorted(dcks, key=lambda c: (_md5_u32(f"probe:{c}"), c))
    probes = [("present", p) for p in present[:BLOOM_PRESENT_PROBES]] + [
        ("absent", mxck + i) for i in range(1, BLOOM_ABSENT_PROBES + 1)
    ]
    out = []
    for kind, p in probes:
        containing = sum(1 for (blk, ck) in bk if ck == p)
        matching = sum(c for (blk, ck), c in bk.items() if ck == p)
        rz = rb = scanned = 0
        for blk, (ndv, nrows, mn, mx) in blocks.items():
            m = ndv * BLOOM_BITS_PER_KEY
            pbits = {_md5_u32(f"{p}:{s}") % m for s in BLOOM_SEEDS}
            if mn <= p <= mx:
                rz += 1
            if pbits <= bits[blk]:
                rb += 1
                scanned += nrows
        nb = len(blocks)
        out.append(
            (
                kind, p, nb, containing, rz, rb, rb - containing,
                scanned, matching, _rnd(rz / nb, 6), _rnd(rb / nb, 6),
            )
        )
    return sorted(out)


def _run_bloom_oracle(orders):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_custkey BIGINT, o_orderdate TIMESTAMP)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?)",
        [(ck, _ts(d)) for ck, d in orders],
    )
    return sorted(
        tuple(r)
        for r in con.execute(ORACLES["stats_bloom_prune_audit"]).fetchall()
    )


@pytest.mark.parametrize("seed", range(6))
def test_bloom_oracle_on_random_tables(seed):
    """Random (custkey, day) tables; laws: blooms never miss
    (blocks_read_bloom >= blocks_containing), absent probes match zero
    rows, present probes match at least one."""
    rng = random.Random(43_000 + seed)
    n = rng.randrange(30, 500)
    orders = [
        (rng.randrange(0, 200), rng.randrange(9131, 11688))
        for _ in range(n)
    ]
    got = _run_bloom_oracle(orders)
    assert got == bloom_python(orders), seed
    for r in got:
        assert r[5] >= r[3], r  # no false negatives
        if r[0] == "absent":
            assert r[3] == 0 and r[8] == 0, r
        else:
            assert r[8] >= 1, r


def test_bloom_oracle_single_row():
    got = _run_bloom_oracle([(5, 9500)])
    assert got == bloom_python([(5, 9500)])
    by = {(r[0], r[1]): r for r in got}
    # the one present probe is found in the one block, zero fp possible
    assert by[("present", 5)][3] == 1 and by[("present", 5)][5] == 1


def test_bloom_fpr_in_theory_band():
    """VALUE check (the overdispersion lesson): with m = 10·ndv bits and
    3 seeds the theoretical FPR is (1-e^-0.3)^3 ~ 1.7%; the measured
    false-positive fraction over all non-containing (probe, block)
    pairs must sit in a loose band around it — not 0 (bits actually
    collide) and nowhere near saturation."""
    rng = random.Random(44_000)
    orders = [
        (rng.randrange(0, 900), rng.randrange(9131, 11688))
        for _ in range(6000)
    ]
    got = bloom_python(orders)
    assert got == _run_bloom_oracle(orders)
    fp = sum(r[6] for r in got)
    trials = sum(r[2] - r[3] for r in got)  # non-containing pairs
    assert trials > 300
    assert 0 < fp / trials < 0.10, (fp, trials)


# ------------------------------------------------------------ compaction


def compaction_python(orders):
    """From-scratch reference: orders = list[(k, date, prio, status)].
    Returns the declared 9-tuple per target, sorted."""
    files = defaultdict(int)
    for k, dt, prio, status in orders:
        mo = (dt.year - 1970) * 12 + dt.month - 1
        files[(mo, k // COMPACT_CHUNK)] += (
            48 + len(prio.encode()) + len(status.encode())
        )
    months = defaultdict(int)
    for (mo, _), fb in files.items():
        months[mo] += fb
    out = []
    for t in COMPACT_TARGETS:
        nf = len(files)
        tb = sum(files.values())
        ns = sum(1 for fb in files.values() if fb < t)
        fa = sum((mb + t - 1) // t for mb in months.values())
        out.append(
            (
                t, nf, tb, ns, _rnd(ns / nf, 6), fa, _rnd(nf / fa, 6),
                _rnd((tb + nf * COMPACT_OPEN_B) / tb, 6),
                _rnd((tb + fa * COMPACT_OPEN_B) / tb, 6),
            )
        )
    return sorted(out)


def _run_compaction_oracle(orders):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_orderdate TIMESTAMP,"
        " o_orderpriority VARCHAR, o_orderstatus VARCHAR)"
    )
    con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?)", orders)
    return sorted(
        tuple(r)
        for r in con.execute(
            ORACLES["stats_compaction_waste_audit"]
        ).fetchall()
    )


_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@pytest.mark.parametrize("seed", range(6))
def test_compaction_oracle_on_random_tables(seed):
    """Random (key, timestamp, varchar, varchar) tables; laws: byte and
    file counts are target-invariant, files_after is non-increasing in
    the target, and right-sizing never leaves an empty partition."""
    rng = random.Random(45_000 + seed)
    n = rng.randrange(5, 800)
    orders = [
        (
            rng.randrange(0, 10_000),
            datetime.datetime(1995, 1, 1)
            + datetime.timedelta(days=rng.randrange(0, 2500)),
            rng.choice(_PRIOS),
            rng.choice(["O", "F", "P"]),
        )
        for _ in range(n)
    ]
    got = _run_compaction_oracle(orders)
    assert got == compaction_python(orders), seed
    assert len({r[1] for r in got}) == 1  # n_files target-invariant
    assert len({r[2] for r in got}) == 1  # total_bytes target-invariant
    fa = [r[5] for r in got]  # sorted by target ascending
    assert fa == sorted(fa, reverse=True), got
    n_months = len({
        (dt.year, dt.month) for _, dt, _, _ in orders
    })
    assert all(r[5] >= n_months for r in got), got


def test_compaction_values_on_planted_small_files():
    """VALUE check: 10 chunks × 12 months of 4 tiny rows each = 120
    files of exactly 224 bytes; at the 65536-byte target each month
    right-sizes to ONE file, so files_after = 12, compaction_ratio =
    10, and both amp numbers follow from the byte arithmetic."""
    orders = []
    for chunk in range(10):
        for mo in range(12):
            for r in range(4):
                orders.append(
                    (
                        chunk * COMPACT_CHUNK + r,
                        datetime.datetime(1995, 1 + mo, 1 + r),
                        "1-URGENT",  # 8 bytes
                        "O",  # 1 byte -> rb = 57, fb = 228
                    )
                )
    got = {r[0]: r for r in _run_compaction_oracle(orders)}
    assert sorted(got.values()) == compaction_python(orders)
    big = got[65536]
    assert big[1] == 120 and big[3] == 120 and big[4] == 1.0, big
    assert big[5] == 12 and big[6] == 10.0, big
    tb = 120 * 4 * 57
    assert big[2] == tb
    assert big[7] == _rnd((tb + 120 * COMPACT_OPEN_B) / tb, 6), big
    assert big[8] == _rnd((tb + 12 * COMPACT_OPEN_B) / tb, 6), big


# ------------------------------------------------------- dim truncation

from paraslice_spark.operators.similarity import (  # noqa: E402
    EMB_TRUNC_K,
    EMB_TRUNC_PROBES,
    EMB_TRUNC_WIDTHS,
)


def trunc_python(vecs):
    """From-scratch reference: vecs = list[(vec_id, [64 dyadic floats])].
    Returns the declared 6-tuple per width, sorted."""
    vm = {
        vid: [
            int(math.floor(abs(x * 1e6) + 0.5)) * (1 if x >= 0 else -1)
            for x in v
        ]
        for vid, v in vecs
    }
    energy = {
        w: sum(m * m for v in vm.values() for m in v[:w])
        for w in EMB_TRUNC_WIDTHS
    }
    et = energy[64]
    probes = sorted(vid for vid in vm if vid < EMB_TRUNC_PROBES)
    top = {}
    for w in EMB_TRUNC_WIDTHS:
        for q in probes:
            qv = vm[q][:w]
            qq = sum(m * m for m in qv)
            scored = []
            for vid, v in vm.items():
                if vid == q:
                    continue
                vv = sum(m * m for m in v[:w])
                dp = sum(a * b for a, b in zip(qv, v[:w]))
                cos = (
                    -2.0
                    if qq == 0 or vv == 0
                    else dp / (math.sqrt(qq) * math.sqrt(vv))
                )
                scored.append((-cos, vid))
            scored.sort()
            top[(w, q)] = {vid for _, vid in scored[:EMB_TRUNC_K]}
    truth_k = sum(len(top[(64, q)]) for q in probes)
    out = []
    for w in EMB_TRUNC_WIDTHS:
        hits = sum(len(top[(w, q)] & top[(64, q)]) for q in probes)
        out.append(
            (
                w, energy[w], _rnd(energy[w] / et, 6), hits, truth_k,
                _rnd(hits / truth_k, 6),
            )
        )
    return sorted(out)


def _run_trunc_oracle(vecs):
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", vecs)
    return sorted(
        tuple(r)
        for r in con.execute(
            ORACLES["embedding_dim_truncation_audit"]
        ).fetchall()
    )


def _dyadic_vec(rng):
    # exact in float32 AND float64 (the house dyadic-rational vector
    # spec), so the float32 parquet round-trip cannot perturb micros
    return [rng.randrange(-1023, 1024) / 1024 for _ in range(64)]


@pytest.mark.parametrize("seed", range(6))
def test_trunc_oracle_on_random_tables(seed):
    """Random dyadic-vector tables; laws: the w=64 arm overlaps itself
    exactly (frac 1.0), energy is non-decreasing in width, and every
    overlap sits in [0, 1]."""
    rng = random.Random(46_000 + seed)
    n = rng.randrange(9, 60)
    vecs = [(i, _dyadic_vec(rng)) for i in range(n)]
    got = _run_trunc_oracle(vecs)
    assert got == trunc_python(vecs), seed
    by_w = {r[0]: r for r in got}
    assert by_w[64][5] == 1.0, got
    es = [by_w[w][1] for w in sorted(EMB_TRUNC_WIDTHS)]
    assert es == sorted(es), got
    assert all(0.0 <= r[5] <= 1.0 for r in got), got


def test_trunc_detects_planted_matryoshka_structure():
    """VALUE check: a corpus with TRUE Matryoshka redundancy (the 8-dim
    head repeated 8 times, so every prefix carries the same geometry)
    must show w=8 overlap 1.0 while holding only 1/8 of the energy —
    whereas the isotropic fixture shows proportional energy but LOW
    overlap.  This pins that the overlap column measures neighbor
    preservation, not energy.  (Cosines are algebraically equal across
    widths here; random dyadic heads keep pairwise cosine gaps ~1e-2,
    far above any IEEE re-rounding of the scaled sums.)"""
    rng = random.Random(47_000)
    vecs = []
    for i in range(40):
        head = [rng.randrange(-1023, 1024) / 1024 for _ in range(8)]
        vecs.append((i, head * 8))
    got = {r[0]: r for r in _run_trunc_oracle(vecs)}
    assert sorted(got.values()) == trunc_python(vecs)
    assert got[8][5] == 1.0, got  # neighbors fully decided at w=8...
    assert got[8][2] == 0.125, got  # ...holding exactly 1/8 of the energy


# ----------------------------------------------------- clustering depth

from paraslice_spark.operators.relational import DEPTH_BLOCKS  # noqa: E402


def depth_python(orders):
    """From-scratch reference: orders = list[(k, ck, d, tp_cents)].
    Returns the declared 7-tuple per column, sorted."""
    mnk = min(r[0] for r in orders); mxk = max(r[0] for r in orders)
    cols = {"o_orderkey": 0, "o_custkey": 1, "orderdate_day": 2,
            "totalprice_c": 3}
    zones = {}
    for r in orders:
        blk = (r[0] - mnk) * DEPTH_BLOCKS // (mxk - mnk + 1)
        for cname, idx in cols.items():
            v = r[idx]
            z = zones.setdefault((cname, blk), [v, v])
            z[0] = min(z[0], v); z[1] = max(z[1], v)
    out = []
    for cname in cols:
        zs = [v for (c2, _), v in zones.items() if c2 == cname]
        mn = min(z[0] for z in zs); mx = max(z[1] for z in zs)
        width = mx - mn + 1
        sum_span = sum(z[1] - z[0] + 1 for z in zs)
        deltas = defaultdict(int)
        for z in zs:
            deltas[z[0]] += 1; deltas[z[1] + 1] -= 1
        run = depth = 0
        for pos in sorted(deltas):
            run += deltas[pos]
            depth = max(depth, run)
        out.append(
            (
                cname, len(zs), width, sum_span,
                _rnd(sum_span / (len(zs) * width), 6),
                _rnd(sum_span / width, 6), depth,
            )
        )
    return sorted(out)


def _run_depth_oracle(orders):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_custkey BIGINT,"
        " o_orderdate TIMESTAMP, o_totalprice DOUBLE)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?, ?, ?)",
        [(k, ck, _ts(d), tp / 100) for k, ck, d, tp in orders],
    )
    return sorted(
        tuple(r)
        for r in con.execute(
            ORACLES["stats_clustering_depth_audit"]
        ).fetchall()
    )


@pytest.mark.parametrize("seed", range(6))
def test_depth_oracle_on_random_tables(seed):
    """Random 4-column tables; laws: the sort column itself is the
    control arm (max_depth 1 — equi-width key blocks can never
    overlap), every depth is within [1, n_blocks], and sum_span >=
    width (the blocks jointly cover the domain)."""
    rng = random.Random(48_000 + seed)
    n = rng.randrange(2, 500)
    keys = list(range(n)); rng.shuffle(keys)
    orders = [
        (
            keys[i],
            rng.randrange(0, 300),
            rng.randrange(9131, 11688),
            rng.randrange(100, 10_000_000),
        )
        for i in range(n)
    ]
    got = _run_depth_oracle(orders)
    assert got == depth_python(orders), seed
    by = {r[0]: r for r in got}
    assert by["o_orderkey"][6] == 1, got
    for r in got:
        assert 1 <= r[6] <= r[1], r
        # every block spans at least its own single value (spans cover
        # VALUES, not the domain — sparse blocks can sum far below width)
        assert r[3] >= r[1], r


def test_depth_detects_planted_sort_order():
    """VALUE check: when rows arrive in CUSTKEY order the custkey arm
    must read as perfectly clustered (max_depth 1, span_frac ~1/64)
    while a shuffled date stays at depth ~n_blocks."""
    rng = random.Random(49_000)
    n = 2000
    cks = sorted(rng.randrange(0, 100_000) for _ in range(n))
    orders = [
        (i, cks[i], rng.randrange(9131, 11688), rng.randrange(100, 10**7))
        for i in range(n)
    ]
    got = {r[0]: r for r in _run_depth_oracle(orders)}
    assert sorted(got.values()) == depth_python(orders)
    assert got["o_custkey"][6] <= 2, got  # boundary ties at worst
    assert got["o_custkey"][4] < 0.05, got
    assert got["orderdate_day"][6] > DEPTH_BLOCKS // 2, got


# ------------------------------------------------------- runtime filter

from paraslice_spark.operators.relational import (  # noqa: E402
    RTF_BITS_PER_KEY,
    ZONEMAP_PREDS,
)


def rtf_python(orders, lineitem):
    """From-scratch reference: orders = list[(k, d)] (unique keys, the
    o_orderkey PK), lineitem = list[k].  Returns the declared 10-tuple
    per predicate — since the r15 preds-driven spine (ADVICE r14 #1) an
    empty key set emits its all-zero row instead of vanishing."""
    nf = len(lineitem)
    hs = [(k, _md5_u32(f"{k}:0")) for k in lineitem]
    out = []
    for pred_id, lo, hi in ZONEMAP_PREDS:
        ks = {k for k, d in orders if lo <= d < hi}
        if not ks:
            out.append((pred_id, 0, nf, 0, 0, 0, 0, 0.0, 0.0, 0.0))
            continue
        nk = len(ks)
        m = nk * RTF_BITS_PER_KEY
        kmin, kmax = min(ks), max(ks)
        bits = {_md5_u32(f"{k}:0") % m for k in ks}
        matching = sum(1 for k in lineitem if k in ks)
        read_mm = sum(1 for k in lineitem if kmin <= k <= kmax)
        read_bl = sum(1 for _, h in hs if h % m in bits)
        out.append(
            (
                pred_id, nk, nf, matching, read_mm, read_bl,
                read_bl - matching,
                0.0 if matching == 0 else _rnd(read_mm / matching, 6),
                0.0 if matching == 0 else _rnd(read_bl / matching, 6),
                _rnd(matching / nf, 6),
            )
        )
    return sorted(out)


def _run_rtf_oracle(orders, lineitem):
    con = duckdb.connect()
    con.execute("CREATE TABLE orders(o_orderkey BIGINT, o_orderdate TIMESTAMP)")
    con.executemany(
        "INSERT INTO orders VALUES (?, ?)",
        [(k, _ts(d)) for k, d in orders],
    )
    con.execute("CREATE TABLE lineitem(l_orderkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?)", [(k,) for k in lineitem])
    return sorted(
        tuple(r)
        for r in con.execute(
            ORACLES["stats_runtime_filter_audit"]
        ).fetchall()
    )


@pytest.mark.parametrize("seed", range(6))
def test_rtf_oracle_on_random_tables(seed):
    """Random orders (unique PK) + lineitem FK fan-out, including FK
    values with zero matches and (at small n) predicate windows with
    zero keys — those predicates emit their all-zero spine row (the
    r15 preds-driven contract), and both filters must be lossless
    (rows_read_* >= rows_matching)."""
    rng = random.Random(50_000 + seed)
    n = rng.randrange(10, 400)
    keys = rng.sample(range(100_000), n)
    orders = [(k, rng.randrange(9131, 11688)) for k in keys]
    lineitem = [
        rng.choice(keys) if rng.random() < 0.8
        else rng.randrange(100_000, 110_000)  # FK misses
        for _ in range(rng.randrange(20, 1200))
    ]
    got = _run_rtf_oracle(orders, lineitem)
    assert got == rtf_python(orders, lineitem), seed
    for r in got:
        assert r[4] >= r[3] and r[5] >= r[3], r  # lossless both arms


def test_rtf_empty_window_emits_zero_row():
    """The r15 preds-driven spine contract: orders confined to one
    window -> the other three predicates still appear, all-zero, at
    every threshold of the declared shape (regression guard for the
    ADVICE r14 #1 fix — the old shape silently dropped them)."""
    orders = [(k, 9500) for k in range(25)]  # day 9500 = h1_1996 only
    lineitem = [3, 3, 7, 99999]
    got = _run_rtf_oracle(orders, lineitem)
    assert got == rtf_python(orders, lineitem)
    assert len(got) == len(ZONEMAP_PREDS), got
    zero = [r for r in got if r[0] != "h1_1996"]
    assert all(r[1] == 0 and r[3] == 0 and r[5] == 0 for r in zero), got


def test_rtf_bloom_fpr_in_theory_band():
    """VALUE check: with one hash and load 0.1 the theoretical FPR is
    1-e^-0.1 ~ 9.5%; the measured fp fraction over non-matching fact
    rows must sit in a loose band around it."""
    rng = random.Random(51_000)
    keys = rng.sample(range(1_000_000), 3000)
    orders = [(k, rng.randrange(9131, 11688)) for k in keys]
    lineitem = [rng.choice(keys) for _ in range(4000)] + [
        rng.randrange(1_000_000, 2_000_000) for _ in range(4000)
    ]
    got = _run_rtf_oracle(orders, lineitem)
    assert got == rtf_python(orders, lineitem)
    fp = sum(r[6] for r in got)
    nonmatch = sum(r[2] - r[3] for r in got)
    assert 0.03 < fp / nonmatch < 0.20, (fp, nonmatch)


# -------------------------------------------- spark-side degenerate edges


def _tiny_fixture(tmp_path, name, rewrite):
    """A tiny sf dir: every table symlinked from SF_SMALL except the
    rewritten ones (the r13 window_distribution small-n pattern)."""
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


def _drop_cache(spark, d):
    from paraslice_spark import memo

    memo.forget(spark, d)


@pytest.mark.parametrize("n", [1, 2, 5])
def test_storage_audits_spark_tiny_orders(spark, tmp_path, n):
    """SPARK side of the degenerate edges for the four single-table
    storage audits (n=1 exercises every mx-mn+1=1 normalizer, the
    single-block sweep, and the bloom absent arm on a one-key table):
    full hash compare against the same tiny parquet in both engines."""
    import datetime as dt

    from paraslice_spark.registry import ORACLES, QUERIES
    from tests.oracle_harness import run_compare

    rng = random.Random(52_000 + n)
    keys = list(range(n)); rng.shuffle(keys)
    orders = {
        "o_orderkey": keys,
        "o_custkey": [rng.randrange(0, 50) for _ in range(n)],
        "o_orderstatus": [rng.choice(["O", "F", "P"]) for _ in range(n)],
        "o_totalprice": [rng.randrange(100, 10**7) / 100 for _ in range(n)],
        "o_orderdate": [
            dt.datetime(1970, 1, 1)
            + dt.timedelta(days=rng.randrange(9131, 11688))
            for _ in range(n)
        ],
        "o_orderpriority": [rng.choice(_PRIOS) for _ in range(n)],
    }
    d = _tiny_fixture(tmp_path, f"tiny{n}", {"orders": orders})
    try:
        for q in ("stats_zorder_prune_audit", "stats_bloom_prune_audit",
                  "stats_compaction_waste_audit",
                  "stats_clustering_depth_audit"):
            problems = run_compare(spark, QUERIES[q], ORACLES[q], d)
            assert not problems, (q, n, problems)
    finally:
        _drop_cache(spark, d)


def test_rtf_and_trunc_spark_tiny_tables(spark, tmp_path):
    """SPARK side of the two-table and embeddings audits on degenerate
    inputs: a 3-order / 5-lineitem pair (some FK misses, some empty
    predicate windows) and a 9-vector embedding corpus (fewer rows than
    the probe cohort wants + top-k deeper than the corpus)."""
    import datetime as dt

    from paraslice_spark.registry import ORACLES, QUERIES
    from tests.oracle_harness import run_compare

    rng = random.Random(53_000)
    orders = {
        "o_orderkey": [10, 20, 30],
        "o_custkey": [1, 2, 3],
        "o_orderstatus": ["O", "F", "P"],
        "o_totalprice": [10.0, 20.0, 30.0],
        "o_orderdate": [
            dt.datetime(1996, 2, 1), dt.datetime(1996, 3, 1),
            dt.datetime(2000, 6, 1),
        ],
        "o_orderpriority": ["1-URGENT", "5-LOW", "2-HIGH"],
    }
    lineitem = {"l_orderkey": [10, 10, 30, 999, 999]}
    d = _tiny_fixture(tmp_path, "tinyrtf", {"orders": orders,
                                            "lineitem": lineitem})
    try:
        problems = run_compare(
            spark, QUERIES["stats_runtime_filter_audit"],
            ORACLES["stats_runtime_filter_audit"], d,
        )
        assert not problems, problems
    finally:
        _drop_cache(spark, d)
    emb = {
        "vec_id": list(range(9)),
        "embedding": [
            np.array(_dyadic_vec(rng), dtype=np.float32) for _ in range(9)
        ],
        "label": [i % 3 for i in range(9)],
    }
    import pyarrow as pa

    emb_tbl = {
        "vec_id": emb["vec_id"],
        "embedding": pa.array(
            [v.tolist() for v in emb["embedding"]],
            type=pa.list_(pa.float32()),
        ),
        "label": emb["label"],
    }
    d2 = _tiny_fixture(tmp_path, "tinytrunc", {"embeddings": emb_tbl})
    try:
        problems = run_compare(
            spark, QUERIES["embedding_dim_truncation_audit"],
            ORACLES["embedding_dim_truncation_audit"], d2,
        )
        assert not problems, problems
    finally:
        _drop_cache(spark, d2)

