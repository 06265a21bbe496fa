"""Seeded randomized differential tests — the reference's randomized
test scheme (64Ki random rows, DPU vs native: filter_test.cc:63-78,
aggr_test.cc:37-49, join_test.cc:82-121) with DuckDB as the second
engine, over freshly generated parquet (not the fixed testdata).

Data mirrors the reference generator: uint32-range values, dense PKs,
FKs bounded to the PK range (generator.cc:46-71) so joins are 1:1."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

N = 64 * 1024
SEEDS = [7, 42, 1337]


@pytest.fixture(scope="module")
def rnd_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rnd")
    for seed in SEEDS:
        rng = np.random.default_rng(seed)
        vals = rng.integers(0, 2**32, size=N, dtype=np.uint64)
        grp = rng.integers(0, 100, size=N, dtype=np.int64)
        pq.write_table(
            pa.table({"v": vals.astype("int64"), "g": grp}),
            os.path.join(d, f"vals_{seed}.parquet"),
        )
        pk = np.arange(N, dtype=np.int64)  # dense PK (generator.cc:59-71)
        payload = rng.integers(0, 2**32, size=N, dtype=np.uint64).astype("int64")
        fk = rng.integers(0, N, size=N, dtype=np.int64)  # bounded FK
        pq.write_table(pa.table({"pk": pk, "r_val": payload}), os.path.join(d, f"right_{seed}.parquet"))
        pq.write_table(pa.table({"fk": fk, "l_val": payload[::-1].copy()}), os.path.join(d, f"left_{seed}.parquet"))
    return str(d)


@pytest.mark.parametrize("seed", SEEDS)
def test_filter_sum_differential(spark, rnd_dir, seed):
    """filter(v < 2^30) then count+sum — the reference's exact predicate
    (filter_native.cc:57-59) on random data."""
    path = os.path.join(rnd_dir, f"vals_{seed}.parquet")
    got = (
        spark.read.parquet(path)
        .where(F.col("v") < 2**30)
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .first()
    )
    exp = duckdb.sql(
        f"SELECT COUNT(*), CAST(SUM(v) AS BIGINT) FROM '{path}' WHERE v < 1073741824"
    ).fetchall()[0]
    assert (got.n, got.s) == exp


@pytest.mark.parametrize("seed", SEEDS)
def test_group_agg_differential(spark, rnd_dir, seed):
    path = os.path.join(rnd_dir, f"vals_{seed}.parquet")
    got = sorted(
        (r.g, r.n, r.s)
        for r in spark.read.parquet(path)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    )
    exp = sorted(
        duckdb.sql(
            f"SELECT g, COUNT(*), CAST(SUM(v) AS BIGINT) FROM '{path}' GROUP BY g"
        ).fetchall()
    )
    assert got == exp


@pytest.mark.parametrize("seed", SEEDS)
def test_pkfk_join_differential(spark, rnd_dir, seed):
    """PK-FK join preserves FK-side cardinality (hash_probe.c:33 assert)
    and both engines agree on the joined sums."""
    lp = os.path.join(rnd_dir, f"left_{seed}.parquet")
    rp = os.path.join(rnd_dir, f"right_{seed}.parquet")
    left = spark.read.parquet(lp)
    right = spark.read.parquet(rp)
    j = left.join(right, left.fk == right.pk, "inner")
    got = j.agg(
        F.count("*").alias("n"), F.sum("l_val").alias("sl"), F.sum("r_val").alias("sr")
    ).first()
    exp = duckdb.sql(
        f"""SELECT COUNT(*), CAST(SUM(l_val) AS BIGINT), CAST(SUM(r_val) AS BIGINT)
            FROM '{lp}' l JOIN '{rp}' r ON l.fk = r.pk"""
    ).fetchall()[0]
    assert (got.n, got.sl, got.sr) == exp
    assert got.n == N  # every FK hits exactly one PK


def test_asof_join_randomized_vs_pure_python(spark, tmp_path):
    """Randomized as-of join differential over fresh events: coarse
    timestamps force (ts, event_id) TIES, the part the fixed testdata
    rarely stresses — a same-instant signup with a LOWER event_id than
    the purchase must count, a same-instant HIGHER one must not.
    Expected labels from a pure-Python running scan over the same
    (user, ts, event_id) ordering the window declares."""
    import random
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(11)
    base = datetime(2025, 1, 1)
    rows = [
        (
            eid,
            rng.randint(0, 9),
            base + timedelta(seconds=rng.randint(0, 49)),
            rng.choice(["signup", "purchase", "click"]),
        )
        for eid in range(600)
    ]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string"
    ).write.parquet(str(tmp_path) + "/events.parquet")

    got = {
        r.event_id: r.last_signup_ts
        for r in all_queries()["asof_join"].build(spark, str(tmp_path)).collect()
    }

    expect = {}
    last = {}
    for eid, uid, ts, et in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        if et == "signup":
            last[uid] = ts
        if et == "purchase":
            expect[eid] = last.get(uid)
    assert got == expect

    # the corpus must actually contain a same-instant signup/purchase
    # pair, or the tiebreak path went unexercised
    kinds = {}
    for eid, uid, ts, et in rows:
        kinds.setdefault((uid, ts), set()).add(et)
    assert any({"signup", "purchase"} <= s for s in kinds.values()), (
        "seed produced no signup/purchase same-instant tie"
    )


def test_gap_fill_randomized_vs_pure_python(spark, tmp_path):
    """Randomized LOCF differential over fresh events: sparse random
    purchase hours leave real HOLES in the dense generated spine
    (asserted present), and each hole must carry the last observed
    hour's sum forward. Values are exact cents so the
    decimal(18,2)->double path is reproducible in pure Python."""
    import random
    from datetime import datetime, timedelta
    from decimal import Decimal

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(23)
    base = datetime(2025, 3, 1)
    rows = []
    for eid in range(500):
        minute = rng.randrange(0, 200 * 60)
        # cluster purchases into ~45 of the 200 hours so holes exist
        hour_ok = (minute // 60) % 9 in (0, 2, 5) or rng.random() < 0.05
        et = "purchase" if (hour_ok and rng.random() < 0.7) else "click"
        cents = rng.randrange(0, 10_000_00)
        rows.append((eid, base + timedelta(minutes=minute), et, cents / 100.0))
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    ).write.parquet(str(tmp_path) + "/events.parquet")

    got = {
        r.hour: (r.n_events, r.filled_value)
        for r in all_queries()["gap_fill"].build(spark, str(tmp_path)).collect()
    }

    buckets = {}
    for _eid, ts, et, value in rows:
        if et != "purchase":
            continue
        h = ts.replace(minute=0, second=0, microsecond=0)
        n, cents = buckets.get(h, (0, 0))
        buckets[h] = (n + 1, cents + round(value * 100))
    lo, hi = min(buckets), max(buckets)
    expect, last = {}, None
    h = lo
    while h <= hi:
        if h in buckets:
            n, cents = buckets[h]
            last = float(Decimal(cents) / 100)
            expect[h] = (n, last)
        else:
            expect[h] = (0, last)
        h += timedelta(hours=1)
    assert got == expect
    holes = [h for h, (n, _) in expect.items() if n == 0]
    assert len(holes) >= 20, "seed produced too few spine holes"


def test_window_range_frame_randomized_vs_pure_python(spark, tmp_path):
    """Randomized RANGE-frame differential: a tiny day range forces
    many PEER rows (same customer, same day — asserted present), where
    RANGE semantics diverge hardest from ROWS (every peer must see the
    identical frame, including peers AFTER the current row)."""
    import random
    from datetime import date, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(31)
    base = date(1970, 1, 1)
    rows = []
    for okey in range(400):
        cust = rng.randint(0, 7)
        dayn = rng.randrange(0, 90)  # 8 custs x 90 days -> peers certain
        cents = rng.randrange(0, 1_000_000)
        rows.append((okey, cust, dayn, cents / 100.0))
    spark.createDataFrame(
        [
            (okey, cust, base + timedelta(days=dayn), price)
            for okey, cust, dayn, price in rows
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderdate date, o_totalprice double",
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    got = {
        r.o_orderkey: r.cents_30d
        for r in all_queries()["window_range_frame"]
        .build(spark, str(tmp_path))
        .collect()
    }

    import math

    expect = {}
    for okey, cust, dayn, price in rows:
        cents30 = sum(
            math.floor(p * 100 + 0.5)  # the query's exact cents recipe
            for _k, c, d, p in rows
            if c == cust and dayn - 30 <= d <= dayn
        )
        expect[okey] = cents30
    assert got == expect

    peers = {}
    for _k, cust, dayn, _p in rows:
        peers[(cust, dayn)] = peers.get((cust, dayn), 0) + 1
    assert max(peers.values()) >= 2, "seed produced no same-day peers"


def test_range_join_randomized_vs_pure_python(spark, tmp_path):
    """Randomized band-join differential: events packed into a small
    (user, time) space so pairs land ON both boundaries (asserted) —
    strictly-after must exclude the same-instant pair, and the
    5-minute upper bound is INCLUSIVE."""
    import random
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(43)
    base = datetime(2025, 5, 1)
    rows = [
        (
            eid,
            rng.randint(0, 5),
            base + timedelta(seconds=60 * rng.randrange(0, 40)),  # whole minutes
        )
        for eid in range(300)
    ]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp"
    ).write.parquet(str(tmp_path) + "/events.parquet")

    got = {
        (r.ev_a, r.ev_b): r.gap_us
        for r in all_queries()["range_join"].build(spark, str(tmp_path)).collect()
    }

    expect = {}
    for ea, ua, ta in rows:
        for eb, ub, tb in rows:
            if ua == ub and tb > ta and tb <= ta + timedelta(minutes=5):
                expect[(ea, eb)] = int((tb - ta).total_seconds() * 1_000_000)
    assert got == expect

    gaps = set(expect.values())
    assert 300_000_000 in gaps, "no pair exactly ON the 5-minute bound"
    same_instant = sum(
        1
        for i, (_, ua, ta) in enumerate(rows)
        for (_, ub, tb) in rows[i + 1 :]
        if ua == ub and ta == tb
    )
    assert same_instant > 0, "no same-instant pair to prove strict lower bound"


def test_recursive_cte_randomized_vs_pure_python(spark, tmp_path):
    """Randomized recursion differential: a random SUBSET of supplier
    keys makes the implicit parent=floor(k/2) tree irregular — missing
    parents cut whole subtrees off (unreachable keys asserted
    present), so frontier sizes and recursion depth vary per seed.
    Expected per-depth aggregates from a pure-Python ascending scan
    (parent < child, so one pass assigns every reachable depth)."""
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(57)
    keys = [1] + [k for k in range(2, 400) if rng.random() < 0.6]
    spark.createDataFrame(
        [(k,) for k in keys], "s_suppkey bigint"
    ).write.parquet(str(tmp_path) + "/supplier.parquet")

    got = {
        r.depth: (r.n_nodes, r.sum_nodes)
        for r in all_queries()["recursive_cte"].build(spark, str(tmp_path)).collect()
    }

    depth = {1: 0}
    for k in sorted(keys):
        if k > 1 and k // 2 in depth:
            depth[k] = depth[k // 2] + 1
    expect = {}
    for k, d in depth.items():
        n, s = expect.get(d, (0, 0))
        expect[d] = (n + 1, s + k)
    assert got == expect

    unreachable = [k for k in keys if k not in depth]
    assert len(unreachable) >= 10, "seed cut off too few subtrees"
    assert max(depth.values()) >= 4, "tree too shallow to stress recursion"


def test_session_funnel_randomized_boundary_gaps_vs_pure_python(spark, tmp_path):
    """Randomized sessionization differential over fresh events,
    FORCING every boundary the 30-min-gap rule has (the fixed testdata
    rarely lands on any of them): a gap of EXACTLY 30 min must
    CONTINUE the session (the rule is strictly greater-than), a gap of
    30 min + 1 us must break it, same-instant ties must resolve by
    event_id for first-touch attribution, an in-session pair must span
    a 6-hour chunk boundary (the chunked rewrite's chain-merge path),
    and a session break must occur WITHIN one chunk (the local-run
    split path). Expected output from a pure-Python sessionizer over
    the same (user, tus, event_id) ordering."""
    import random
    from collections import defaultdict
    from datetime import datetime, timedelta

    from dpu_olap_spark.operators.events_analytics import (
        _SESS_CHUNK_US,
        _SESS_GAP_US,
    )
    from dpu_olap_spark.registry import all_queries

    GAP, CHUNK = _SESS_GAP_US, _SESS_CHUNK_US
    MIN = 60 * 1_000_000
    rng = random.Random(17)
    base_us = 1_736_467_200 * 1_000_000  # 2025-01-10 UTC — no DST anywhere near

    rows: list[tuple[int, int, int, str]] = []  # (eid, uid, tus, type)

    def add(uid: int, tus: int, et: str) -> None:
        rows.append((len(rows), uid, tus, et))

    # user 0: in-session pair spanning a chunk edge (5 min either side)
    k0 = base_us // CHUNK + 2
    add(0, k0 * CHUNK - 5 * MIN, "view")
    add(0, k0 * CHUNK + 5 * MIN, "click")
    add(0, k0 * CHUNK + 6 * MIN, "purchase")
    # user 1: exactly-GAP continues; GAP+1us breaks
    t0 = base_us + 3600 * 1_000_000
    add(1, t0, "view")
    add(1, t0 + GAP, "click")           # same session (strict >)
    add(1, t0 + GAP + GAP + 1, "purchase")  # gap GAP+1 -> new session
    # user 2: same-instant tie — lower event_id opens the session
    t0 = base_us + 86_400 * 1_000_000
    add(2, t0, "click")
    add(2, t0, "view")
    add(2, t0 + MIN, "purchase")
    # user 3: session break inside one chunk
    t0 = (base_us // CHUNK + 10) * CHUNK + MIN
    add(3, t0, "view")
    add(3, t0 + GAP + 2 * MIN, "view")
    # users 4..9: random walks over a boundary-heavy gap pool
    for uid in range(4, 10):
        t = base_us + rng.randint(0, 3 * 86_400) * 1_000_000
        for _ in range(rng.randint(20, 40)):
            add(uid, t, rng.choice(["view", "click", "purchase", "view", "click"]))
            t += rng.choice(
                [0, GAP, GAP + 1, GAP - 1,
                 rng.randint(1, 600) * 1_000_000,
                 rng.randint(1, 8) * 3600 * 1_000_000]
            )

    # attest every forced boundary actually occurs in the corpus
    by_user: dict[int, list[tuple[int, int, str]]] = defaultdict(list)
    for eid, uid, tus, et in rows:
        by_user[uid].append((tus, eid, et))
    seen = set()
    for evs in by_user.values():
        evs.sort()
        for (t1, _, _), (t2, _, _) in zip(evs, evs[1:]):
            d = t2 - t1
            if d == GAP:
                seen.add("exact_gap")
            if d == GAP + 1:
                seen.add("gap_plus_one")
            if d == 0:
                seen.add("tie")
            if d <= GAP and t1 // CHUNK != t2 // CHUNK:
                seen.add("chunk_crossing")
            if d > GAP and t1 // CHUNK == t2 // CHUNK:
                seen.add("intra_chunk_break")
    assert seen == {
        "exact_gap", "gap_plus_one", "tie", "chunk_crossing",
        "intra_chunk_break",
    }, f"forced boundary cases missing: {seen}"

    epoch = datetime(1970, 1, 1)
    spark.createDataFrame(
        [(eid, uid, epoch + timedelta(microseconds=tus), et)
         for eid, uid, tus, et in rows],
        "event_id bigint, user_id bigint, ts timestamp, event_type string",
    ).write.parquet(str(tmp_path) + "/events.parquet")

    expect: dict[str, list[int]] = {}

    def close(sess: list[tuple[int, int, str]]) -> None:
        first_touch = sess[0][2]
        firsts: dict[str, int] = {}
        for tus, _, et in sess:  # sorted ascending -> first hit is min
            firsts.setdefault(et, tus)
        conv = (
            "view" in firsts and "click" in firsts and "purchase" in firsts
            and firsts["click"] > firsts["view"]
            and firsts["purchase"] > firsts["click"]
        )
        a = expect.setdefault(first_touch, [0, 0, 0])
        a[0] += 1
        a[1] += 1 if conv else 0
        a[2] += len(sess)

    for evs in by_user.values():
        cur: list[tuple[int, int, str]] = []
        for ev in evs:
            if cur and ev[0] - cur[-1][0] > GAP:
                close(cur)
                cur = [ev]
            else:
                cur.append(ev)
        close(cur)

    got = {
        r.first_touch: [r.n_sessions, r.n_converted, r.n_events]
        for r in all_queries()["session_funnel"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_salted_join_randomized_all_join_types(spark):
    """Randomized differential for the salting utility itself across
    every supported join type: under a 60%-hot key, NULL keys on both
    sides, and duplicate build keys, salted_join must be multiset-
    identical to the PLAIN Spark join (salt invariance) AND to a
    pure-Python join (cross-engine truth) for inner / left / semi /
    anti. The registered salted_join query exercises only inner; this
    pins the NULL-never-matches and left-preserves-unmatched semantics
    the salt scatter/replicate must not disturb."""
    import random
    from collections import Counter

    from dpu_olap_spark.plans.skew import salted_join

    rng = random.Random(99)
    left_rows: list[tuple[int | None, int]] = []
    for i in range(4000):
        r = rng.random()
        k = 7 if r < 0.6 else (None if r < 0.65 else rng.randint(0, 50))
        left_rows.append((k, i))
    right_rows: list[tuple[int | None, int]] = []
    rid = 0
    for k in range(51):
        for _ in range(rng.randint(0, 3)):
            right_rows.append((k, 1000 + rid))
            rid += 1
    right_rows += [(None, 9000), (None, 9001), (7, 9100), (7, 9101)]

    rmap: dict[int, list[int]] = {}
    for k, v in right_rows:
        if k is not None:
            rmap.setdefault(k, []).append(v)
    # forced-case attestations: heavy skew, NULLs both sides, dup build
    assert sum(1 for k, _ in left_rows if k == 7) / len(left_rows) > 0.5
    assert any(k is None for k, _ in left_rows)
    assert any(k is None for k, _ in right_rows)
    assert len(rmap[7]) >= 2

    left = spark.createDataFrame(left_rows, "lk bigint, lv bigint")
    right = spark.createDataFrame(right_rows, "rk bigint, rv bigint")

    for how in ("inner", "left", "semi", "anti"):
        got_df = salted_join(left, right, "lk", "rk", n_salts=5, how=how)
        exp_py: Counter = Counter()
        if how in ("semi", "anti"):
            cols = ["lk", "lv"]
            for k, v in left_rows:
                matched = k is not None and k in rmap
                if (how == "semi") == matched:
                    exp_py[(k, v)] += 1
        else:
            cols = ["lk", "lv", "rv"]
            for k, v in left_rows:
                if k is not None and k in rmap:
                    for rv in rmap[k]:
                        exp_py[(k, v, rv)] += 1
                elif how == "left":
                    exp_py[(k, v, None)] += 1
        got = Counter(tuple(r) for r in got_df.select(*cols).collect())
        plain = Counter(
            tuple(r)
            for r in left.join(right, left.lk == right.rk, how)
            .select(*cols)
            .collect()
        )
        assert got == plain == exp_py, f"salted_join diverges for {how}"


def test_topk_randomized_tie_at_kth_boundary(spark, tmp_path):
    """Randomized top-k differential FORCING a price tie that straddles
    the k=10 cut — the case where the result is only deterministic
    because of the o_orderkey ASC tiebreak (TakeOrderedAndProject must
    pick the LOWER keys among equal prices). Expected rows from a
    pure-Python sort over the same composite ordering."""
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(23)
    # fillers stay strictly below the tie value so the engineered
    # dozen are the true top-12
    prices = [round(rng.uniform(100, 400), 2) for _ in range(40)]
    # force a 4-way tie spanning ranks 9..12: three distinct top prices
    # then the tie group right at the boundary
    tie = 500.50
    prices[:12] = [999.99, 998.0, 997.0, 996.0, 995.0, 994.0, 993.0, 992.0,
                   tie, tie, tie, tie]
    rng.shuffle(prices)
    rows = [
        (k, rng.randint(1, 99), float(p))
        for k, p in zip(rng.sample(range(1000, 9999), len(prices)), prices)
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    expect = sorted(rows, key=lambda r: (-r[2], r[0]))[:10]
    # the forced tie must actually straddle the cut: same price on both
    # sides of rank 10
    full = sorted(rows, key=lambda r: (-r[2], r[0]))
    assert full[9][2] == full[10][2], "tie does not straddle the k-boundary"

    got = [
        (r.o_orderkey, r.o_custkey, r.o_totalprice)
        for r in all_queries()["topk"].build(spark, str(tmp_path)).collect()
    ]
    assert got == expect


def test_percentiles_randomized_interpolation_vs_python_and_duckdb(
    spark, tmp_path
):
    """Randomized exact-percentile differential: integer quantities and
    quarter-cent prices with group sizes chosen so the (n-1)p index
    lands exactly ON an element for some groups and strictly BETWEEN
    two elements for others (both interpolation branches forced and
    attested). Expected values from a pure-Python (n-1)p interpolation
    and cross-checked against DuckDB quantile_cont."""
    import math
    import os
    import random

    import duckdb

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(31)
    rows = []
    # group sizes: 11 -> (n-1)*0.5 = 5.0 exact, (n-1)*0.9 = 9.0 exact;
    # 12 -> 5.5 and 9.9 (both fractional); 21 -> 10.0 and 18.0 exact
    for flag, n in (("A", 11), ("B", 12), ("C", 21), ("D", 14)):
        for _ in range(n):
            rows.append(
                (flag, float(rng.randint(1, 50)), rng.randint(400, 40000) * 0.25)
            )
    spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")

    def pct(vals, p):
        s = sorted(vals)
        idx = (len(s) - 1) * p
        lo = math.floor(idx)
        frac = idx - lo
        v = s[lo] if frac == 0 else s[lo] + frac * (s[lo + 1] - s[lo])
        return round(v, 4)

    branches = set()
    for _, n in (("A", 11), ("B", 12), ("C", 21), ("D", 14)):
        for p in (0.5, 0.9, 0.25):
            branches.add("exact" if ((n - 1) * p) % 1 == 0 else "interp")
    assert branches == {"exact", "interp"}, "both branches must be forced"

    by_flag: dict[str, list[tuple[float, float]]] = {}
    for flag, q, price in rows:
        by_flag.setdefault(flag, []).append((q, price))
    expect = {
        flag: (
            pct([q for q, _ in vs], 0.5),
            pct([q for q, _ in vs], 0.9),
            pct([p for _, p in vs], 0.25),
        )
        for flag, vs in by_flag.items()
    }

    got = {
        r.l_returnflag: (r.p50_qty, r.p90_qty, r.p25_price)
        for r in all_queries()["percentiles"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect

    path = os.path.join(str(tmp_path), "lineitem.parquet")
    db = {
        f: (a, b, c)
        for f, a, b, c in duckdb.sql(
            f"""SELECT l_returnflag,
                  round(quantile_cont(l_quantity, 0.5), 4),
                  round(quantile_cont(l_quantity, 0.9), 4),
                  round(quantile_cont(l_extendedprice, 0.25), 4)
                FROM read_parquet('{path}/*.parquet') GROUP BY l_returnflag"""
        ).fetchall()
    }
    assert db == expect


def test_fuzzy_join_randomized_edit_distance_boundary(spark, tmp_path):
    """Randomized fuzzy-join differential over a synthetic nation
    table whose names are random 0-4-edit corruptions of the query's
    probe strings: matches must be exactly the pairs a pure-Python
    Levenshtein DP puts at distance <= 2, and the corpus must contain
    pairs at distance exactly 2 (kept) and exactly 3 (dropped) so the
    inclusive threshold boundary is actually exercised."""
    import random

    from dpu_olap_spark.registry import all_queries

    probes = ["NATON_1", "NATIONN_5", "NTION_19", "NATION-7",
              "MATION_12", "NOWHERELAND"]
    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ_0123456789-"
    rng = random.Random(47)

    def corrupt(s: str, k: int) -> str:
        for _ in range(k):
            op = rng.choice(("sub", "ins", "del")) if len(s) > 3 else "ins"
            i = rng.randrange(len(s))
            if op == "sub":
                s = s[:i] + rng.choice(alpha.replace(s[i], "")) + s[i + 1:]
            elif op == "ins":
                s = s[:i] + rng.choice(alpha) + s[i:]
            else:
                s = s[:i] + s[i + 1:]
        return s

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    names = []
    for k in range(60):
        base = rng.choice(probes)
        names.append(corrupt(base, rng.randint(0, 4)))
    rows = [(i, n) for i, n in enumerate(dict.fromkeys(names))]
    spark.createDataFrame(rows, "n_nationkey bigint, n_name string").write.parquet(
        str(tmp_path) + "/nation.parquet"
    )

    dists = {lev(n, p) for _, n in rows for p in probes}
    assert 2 in dists and 3 in dists, (
        "corpus must hit the inclusive boundary from both sides"
    )

    expect = sorted(
        (n, p, lev(n, p)) for _, n in rows for p in probes if lev(n, p) <= 2
    )
    got = sorted(
        (r.n_name, r.probe, r.dist)
        for r in all_queries()["fuzzy_join"].build(spark, str(tmp_path)).collect()
    )
    assert got == expect


def _word(rng, i):
    return f"w{rng.randint(0, 30)}x{i % 7}"


def test_chunk_documents_randomized_stride_boundaries(spark, tmp_path):
    """Randomized chunking differential FORCING the stride boundaries:
    a document of exactly k*stride tokens must produce exactly k
    chunks (no empty trailing chunk), k*stride + 1 tokens must add a
    1-token trailing chunk, and a document of exactly CHUNK_TOKENS
    must stay a single full chunk with a second 16-token chunk
    (64 > stride). Expected rows (ids, sizes, md5 fingerprints) from
    a pure-Python slicer over the same whitespace tokens."""
    import hashlib
    import random

    from dpu_olap_spark.llm.chunking import CHUNK_STRIDE, CHUNK_TOKENS
    from dpu_olap_spark.registry import all_queries

    rng = random.Random(53)
    lengths = [rng.randint(1, 300) for _ in range(30)]
    # forced boundary lengths
    lengths += [CHUNK_STRIDE, 2 * CHUNK_STRIDE, 2 * CHUNK_STRIDE + 1,
                CHUNK_TOKENS, CHUNK_TOKENS + 1, 1]
    assert any(n % CHUNK_STRIDE == 0 for n in lengths)
    assert any(n % CHUNK_STRIDE == 1 for n in lengths)
    docs = []
    for i, n in enumerate(lengths):
        words = [_word(rng, j) for j in range(n)]
        docs.append((i, " ".join(words), "en", "webby"))
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    expect = set()
    for doc_id, text, _, _ in docs:
        t = text.split(" ")
        st = 1
        cid = 0
        while st <= len(t):
            chunk = t[st - 1 : st - 1 + CHUNK_TOKENS]
            fp = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            expect.add((doc_id, cid, len(chunk), fp))
            st += CHUNK_STRIDE
            cid += 1
    got = {
        (r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_fp)
        for r in all_queries()["chunk_documents"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect
    # the k*stride doc really produced k chunks and the k*stride+1 doc
    # produced k+1 (the empty-trailing-chunk trap)
    per_doc = {}
    for d, c, _, _ in expect:
        per_doc[d] = max(per_doc.get(d, 0), c + 1)
    i_exact = lengths.index(2 * CHUNK_STRIDE)
    i_plus = lengths.index(2 * CHUNK_STRIDE + 1)
    assert per_doc[i_exact] == 2 and per_doc[i_plus] == 3


def test_pack_sequences_randomized_budget_boundaries(spark, tmp_path):
    """Randomized packing differential FORCING the budget boundaries:
    a document of exactly PACK_BUDGET tokens (the next offset lands
    exactly on a bin multiple — exclusive-sum rule keeps it in its
    own bin), a document LONGER than the budget (spans bins but must
    not split), and multi-shard input (bins restart per (lang,
    source)). Expected bins from a pure-Python running-total walk in
    doc_id order."""
    import random

    from dpu_olap_spark.llm.chunking import PACK_BUDGET
    from dpu_olap_spark.registry import all_queries

    rng = random.Random(61)
    docs = []
    doc_id = 0
    sizes_by_shard = {}
    for lang in ("en", "de"):
        for source in ("web", "book"):
            sizes = [rng.randint(5, 120) for _ in range(25)]
            # forced: exact-budget doc first (offset of the NEXT doc is
            # exactly one budget), and an over-budget doc mid-stream
            sizes[0] = PACK_BUDGET
            sizes[7] = PACK_BUDGET + 37
            sizes_by_shard[(lang, source)] = sizes
            for n in sizes:
                docs.append(
                    (doc_id, " ".join(_word(rng, j) for j in range(n)),
                     lang, source)
                )
                doc_id += 1
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    expect = {}
    by_shard = {}
    for d, text, lang, source in docs:
        by_shard.setdefault((lang, source), []).append((d, len(text.split(" "))))
    for (lang, source), entries in by_shard.items():
        offset = 0
        for d, n in sorted(entries):
            b = offset // PACK_BUDGET
            key = (lang, source, b)
            cur = expect.setdefault(key, [0, 0, d])
            cur[0] += 1
            cur[1] += n
            cur[2] = min(cur[2], d)
            offset += n
    got = {
        (r.lang, r.source, r.bin_id): [r.n_docs, r.bin_tokens, r.first_doc_id]
        for r in all_queries()["pack_sequences"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect
    # attest the exact-budget rule: in every shard the second doc's
    # offset is exactly PACK_BUDGET, so it must OPEN bin 1 while the
    # budget-filling first doc is alone in bin 0
    for (lang, source), sizes in sizes_by_shard.items():
        assert sizes[0] == PACK_BUDGET
        assert expect[(lang, source, 0)][0] == 1


def test_hash_sample_randomized_vs_python_hashlib(spark, tmp_path):
    """Randomized content-hash sampling differential: the md5-prefix
    Bernoulli rule must select EXACTLY the keys Python's hashlib
    selects (same 'key:linenumber' preimage), and the seeded corpus
    must contain selected AND rejected rows adjacent in key space so
    the prefix test — not key locality — does the filtering."""
    import hashlib
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(67)
    rows = [
        (rng.randint(1, 10**9), ln, float(rng.randint(1, 50)))
        for _ in range(800)
        for ln in range(1, rng.randint(2, 5))
    ]
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_linenumber bigint, l_quantity double"
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")

    def picked(k, ln):
        return hashlib.md5(f"{k}:{ln}".encode()).hexdigest()[0] in ("0", "1")

    expect = sorted((k, ln, q) for k, ln, q in rows if picked(k, ln))
    assert expect, "sample came out empty"
    assert len(expect) < len(rows), "sample selected everything"
    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.l_quantity)
        for r in all_queries()["hash_sample"].build(spark, str(tmp_path)).collect()
    )
    assert got == expect


def test_date_arith_randomized_calendar_boundaries(spark, tmp_path):
    """Randomized date-arithmetic differential FORCING the calendar
    boundaries the fixed TPC-H date range rarely lands on: leap day
    (2024-02-29), Feb 28 in leap and non-leap years, every quarter
    edge (Mar 31 / Apr 1), year end, and +30-day offsets that cross a
    year boundary. Expected values from Python's datetime/calendar
    modules; also cross-checked against the registered DuckDB oracle
    shape (dayofweek aligned to Sunday=0)."""
    import calendar
    import random
    from datetime import date, datetime, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(71)
    forced = [
        date(2024, 2, 29), date(2024, 2, 28), date(2023, 2, 28),
        date(2023, 12, 31), date(2024, 1, 1), date(2024, 3, 31),
        date(2024, 4, 1), date(2024, 6, 30), date(2024, 9, 30),
        date(2024, 12, 2),  # +30 crosses into 2025
        date(1999, 12, 31), date(2000, 1, 1),
    ]
    dates = forced + [
        date(1995, 1, 1) + timedelta(days=rng.randint(0, 11_000))
        for _ in range(80)
    ]
    # keys: multiples of 7 so the query's o_orderkey % 7 = 0 filter
    # keeps every row; interleave non-multiples that must be dropped
    rows = []
    for i, d in enumerate(dates):
        rows.append((7 * (i + 1), d))
        rows.append((7 * (i + 1) + 3, d))  # filtered out
    spark.createDataFrame(rows, "o_orderkey bigint, o_orderdate date").write.parquet(
        str(tmp_path) + "/orders.parquet"
    )

    assert any(d.month == 2 and d.day == 29 for d in dates)
    assert any((d + timedelta(days=30)).year != d.year for d in dates)

    def quarter_start(d: date) -> datetime:
        return datetime(d.year, 3 * ((d.month - 1) // 3) + 1, 1)

    def last_day(d: date) -> date:
        return date(d.year, d.month, calendar.monthrange(d.year, d.month)[1])

    expect = {}
    for k, d in rows:
        if k % 7 != 0:
            continue
        expect[k] = (
            d + timedelta(days=30),
            quarter_start(d),
            last_day(d),
            (date(2000, 1, 1) - d).days,
            (d.weekday() + 1) % 7,  # Python Mon=0 -> Sunday=0 convention
        )

    got = {
        r.o_orderkey: (r.due_date, r.quarter_start, r.month_end,
                       r.days_to_y2k, r.dow)
        for r in all_queries()["date_arith"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_decontaminate_randomized_overlap_boundaries(spark, tmp_path):
    """Randomized decontamination differential FORCING the overlap
    boundaries: a corpus document sharing EXACTLY ONE distinct 3-gram
    with the eval split (minimum positive hit — must be reported), one
    sharing ALL its grams (ratio exactly 1.0), one sharing none (must
    be absent), a document of exactly NGRAM tokens (single gram), one
    of NGRAM-1 tokens (excluded entirely), and a document repeating
    the same contaminated gram (within-doc DISTINCT must count it
    once). Expected rows from a pure-Python n-gram set walk."""
    import random

    from dpu_olap_spark.llm.curation import _EVAL_MOD, _NGRAM
    from dpu_olap_spark.registry import all_queries

    rng = random.Random(83)

    def words(n, lo=0, hi=400):
        return [f"t{rng.randint(lo, hi)}" for _ in range(n)]

    docs: dict[int, list[str]] = {}
    # eval doc (id % 41 == 0) with a known vocabulary
    eval_words = ["e1", "e2", "e3", "e4", "e5", "e6"]
    docs[_EVAL_MOD] = eval_words  # grams: e1..e3, e2..e4, e3..e5, e4..e6
    # corpus docs with engineered overlap against those grams
    docs[1] = words(10) + ["e2", "e3", "e4"] + words(10)  # >= one shared gram
    docs[2] = ["e1", "e2", "e3"]                      # ALL grams shared (1.0)
    docs[3] = words(30, lo=500, hi=900)               # disjoint vocab: clean
    docs[4] = ["e4", "e5", "e6"]                      # exactly NGRAM tokens
    docs[5] = ["e4", "e5"]                            # NGRAM-1: excluded
    docs[6] = ["e1", "e2", "e3", "x9", "e1", "e2", "e3"]  # repeated gram
    next_id = 7
    for _ in range(40):
        if next_id % _EVAL_MOD == 0:
            next_id += 1
        docs[next_id] = words(rng.randint(2, 40))
        next_id += 1

    rows = [(i, " ".join(ws), "en", "web") for i, ws in docs.items()]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    def grams(ws):
        return {
            " ".join(ws[i : i + _NGRAM]) for i in range(len(ws) - _NGRAM + 1)
        } if len(ws) >= _NGRAM else set()

    eval_grams = set()
    for i, ws in docs.items():
        if i % _EVAL_MOD == 0:
            eval_grams |= grams(ws)
    expect = {}
    for i, ws in docs.items():
        if i % _EVAL_MOD == 0:
            continue
        g = grams(ws)
        hit = len(g & eval_grams)
        if hit > 0:
            expect[i] = (len(g), hit, hit / len(g))  # unrounded (r11)

    # forced-boundary attestations
    assert any(v[1] == 1 for v in expect.values()), "no exactly-one-hit doc"
    assert expect[2][2] == 1.0
    assert 3 not in expect and 5 not in expect
    assert expect[4] == (1, 1, 1.0)
    assert expect[6][1] == len(grams(docs[6]) & eval_grams)  # dup counted once

    got = {
        r.doc_id: (r.n_grams, r.n_contam, r.contam_ratio)
        for r in all_queries()["decontaminate"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_corpus_mix_randomized_budget_boundaries(spark, tmp_path):
    """Randomized budget-mix differential FORCING the exclusive-prefix
    boundary in an ordering-independent way (selection order is the
    md5 rank, which cannot be engineered directly): one source's docs
    all carry budget/4 chars, so whatever the md5 order, the 5th doc's
    exclusive prior equals the budget EXACTLY and must be dropped; a
    second source's docs carry 0.7*budget so the taken prefix must
    overshoot (the at-most-one-doc-overshoot contract); a third source
    fits entirely under budget; a fourth is one giant over-budget doc
    that must still be taken (prior 0 < budget). Expected per-source
    counts from a pure-Python md5-ordered walk."""
    import hashlib
    import random

    from dpu_olap_spark.llm.curation import _MIX_BUDGET_CHARS as B
    from dpu_olap_spark.registry import all_queries

    rng = random.Random(89)
    rows = []
    doc_id = 0

    def add(source, n_chars):
        nonlocal doc_id
        rows.append((doc_id, source, n_chars))
        doc_id += rng.randint(1, 9)  # irregular ids -> irregular md5 ranks

    for _ in range(10):
        add("exact", B // 4)
    for _ in range(6):
        add("over", int(0.7 * B))
    for _ in range(3):
        add("small", rng.randint(100, B // 4))
    add("giant", 3 * B)
    for _ in range(30):
        add("noise", rng.randint(1, B // 2))

    spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint").write.parquet(
        str(tmp_path) + "/documents.parquet"
    )

    by_source: dict[str, list[tuple[str, int, int]]] = {}
    for d, s, n in rows:
        by_source.setdefault(s, []).append(
            (hashlib.md5(str(d).encode()).hexdigest(), d, n)
        )
    expect = {}
    boundary_hit = False
    for s, entries in by_source.items():
        prior = 0
        n_docs = chars = 0
        for _, _, n in sorted(entries):
            if prior == B:
                boundary_hit = True
            if prior < B:
                n_docs += 1
                chars += n
            prior += n
        expect[s] = (n_docs, chars)
    assert boundary_hit, "no doc landed with exclusive prior == budget"
    assert expect["exact"] == (4, B)
    assert expect["over"][1] > B           # overshoot happened
    assert expect["small"] == (3, sum(n for _, _, n in by_source["small"]))
    assert expect["giant"] == (1, 3 * B)

    got = {
        r.source: (r.n_docs, r.chars_taken)
        for r in all_queries()["corpus_mix"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_stratified_sample_randomized_ceil_boundaries(spark, tmp_path):
    """Randomized stratified-sample differential FORCING the ceil
    boundaries: strata sized 1 and 4 (minimum one row kept — ceil of
    a sub-1 fraction), 5, 10, and 15 (0.2*n lands exactly ON an
    integer, the no-rounding-slack case — verified float 0.2*n ceils
    identically to exact n/5 for every n < 500, so no engine can
    diverge here), and 6 and 11 (one past the exact landing). The
    expected set is a pure-Python md5-ordered walk per stratum."""
    import hashlib
    import math
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(97)
    sizes = {"l1": 1, "l4": 4, "l5": 5, "l6": 6, "l10": 10, "l11": 11,
             "l15": 15, "lr": rng.randint(20, 60)}
    rows = []
    doc_id = 0
    for lang, n in sizes.items():
        for _ in range(n):
            rows.append((doc_id, lang, rng.choice(["web", "book"]),
                         rng.randint(50, 5000)))
            doc_id += rng.randint(1, 7)
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    # float 0.2*n and exact n/5 ceil identically across this range —
    # assert it so a future frac change re-opens the question
    from decimal import Decimal
    assert all(
        math.ceil(0.2 * n) == math.ceil(Decimal(n) / 5) for n in range(1, 500)
    )

    expect = set()
    for lang, n in sizes.items():
        entries = sorted(
            (hashlib.md5(str(d).encode()).hexdigest(), d, s, c)
            for d, lg, s, c in rows
            if lg == lang
        )
        k = math.ceil(0.2 * n)
        for _, d, s, c in entries[:k]:
            expect.add((lang, d, s, c, n))
    # boundary attestations: singleton keeps one; exact landings take
    # exactly n/5; one-past takes the extra row
    assert sum(1 for e in expect if e[0] == "l1") == 1
    assert sum(1 for e in expect if e[0] == "l15") == 3
    assert sum(1 for e in expect if e[0] == "l5") == 1
    assert sum(1 for e in expect if e[0] == "l6") == 2

    got = {
        (r.lang, r.doc_id, r.source, r.n_chars, r.n_stratum)
        for r in all_queries()["stratified_sample"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_grouped_ols_randomized_degenerate_and_floor_boundaries(spark, tmp_path):
    """Randomized per-group OLS differential FORCING the degenerate
    branches and the floor contract: a user with every event on the
    SAME day (denominator n*sxx - sx^2 == 0) and a single-event user
    must both be EXCLUDED; a perfect integer line must recover its
    slope bit-exactly; negative values must take the floor (toward
    -inf) cents path — floor(v*100) != trunc for at least one row,
    asserted — because a cast-style truncation would diverge there.
    Expected doubles from the IDENTICAL exact-integer moments and
    IEEE op order the kernel uses (float(num)/float(den), then
    (sy - slope*sx)/n)."""
    import math
    import random
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(101)
    DAY_US = 86_400_000_000
    epoch = datetime(1970, 1, 1)
    base_day = 20_200  # ~2025 in days-since-epoch
    rows = []

    def add(uid, day, value):
        tus = day * DAY_US + rng.randint(0, DAY_US - 1)
        rows.append((uid, epoch + timedelta(microseconds=tus), value))

    for _ in range(5):          # u1: all same day -> excluded
        add(1, base_day, rng.uniform(-50, 50))
    add(2, base_day + 3, 12.34)  # u2: single event -> excluded
    for i in range(6):           # u3: perfect line y_cents = 300x + 700
        add(3, base_day + i, (300 * (base_day + i) + 700) / 100.0)
    for i in range(8):           # u4: negative values force floor path
        add(4, base_day + 2 * i, -rng.uniform(0.005, 99.995))
    for uid in range(5, 12):     # random users
        for _ in range(rng.randint(2, 20)):
            add(uid, base_day + rng.randint(0, 60), rng.uniform(-100, 100))

    spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double"
    ).write.parquet(str(tmp_path) + "/events.parquet")

    # floor-vs-trunc must actually matter somewhere in u4
    assert any(
        uid == 4 and math.floor(v * 100.0) != int(v * 100.0)
        for uid, _, v in rows
    )

    moments: dict[int, list[int]] = {}
    for uid, ts, v in rows:
        tus = round((ts - epoch).total_seconds() * 1_000_000)
        x = tus // DAY_US
        y = math.floor(v * 100.0)
        s = moments.setdefault(uid, [0, 0, 0, 0, 0])
        s[0] += 1
        s[1] += x
        s[2] += y
        s[3] += x * x
        s[4] += x * y
    expect = {}
    for uid, (n, sx, sy, sxx, sxy) in moments.items():
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        if den == 0:
            continue
        slope = float(num) / float(den)
        expect[uid] = (n, slope, (float(sy) - slope * float(sx)) / n)
    assert 1 not in expect and 2 not in expect  # degenerate users excluded
    assert expect[3][1] == 300.0                # perfect line, bit-exact

    got = {
        r.user_id: (r.n_events, r.slope, r.intercept)
        for r in all_queries()["grouped_ols"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_window_nav_randomized_nulls_ties_singletons(spark, tmp_path):
    """Randomized navigation-window differential FORCING the cases the
    fixed data rarely isolates: a single-order customer (lag/lead/
    nth_value(2) all NULL, first_value = self), same-date ties broken
    by o_orderkey, and NULL prices flowing THROUGH lag/lead/nth as
    values. Expected rows from a pure-Python walk over the identical
    (date, key) ordering."""
    import random
    from datetime import date, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(103)
    rows = []
    key = 1000
    for cust in range(1, 15):
        n = 1 if cust == 1 else rng.randint(2, 12)
        d0 = date(2024, 1, 1) + timedelta(days=rng.randint(0, 300))
        for i in range(n):
            # coarse dates force same-date ties inside a customer
            d = d0 + timedelta(days=rng.randint(0, max(1, n // 2)))
            price = None if rng.random() < 0.15 else round(rng.uniform(10, 999), 2)
            rows.append((key, cust, d, price))
            key += rng.randint(1, 5)
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderdate date,"
        " o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    by_cust: dict[int, list[tuple[date, int, float | None]]] = {}
    for k, c, d, p in rows:
        by_cust.setdefault(c, []).append((d, k, p))
    # forced-case attestations
    assert len(by_cust[1]) == 1
    assert any(
        len({(d) for d, _, _ in v}) < len(v) for v in by_cust.values()
    ), "no same-date tie"
    assert any(p is None for _, _, p in sum(by_cust.values(), []))

    expect = {}
    for c, v in by_cust.items():
        v.sort(key=lambda t: (t[0], t[1]))
        for i, (_, k, p) in enumerate(v):
            expect[k] = (
                c,
                v[i - 1][2] if i > 0 else None,
                v[i + 1][2] if i + 1 < len(v) else None,
                v[0][2],
                v[1][2] if i >= 1 else None,
            )
    got = {
        r.o_orderkey: (r.o_custkey, r.prev_price, r.next_price,
                       r.first_price, r.second_price)
        for r in all_queries()["window_nav"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_reservoir_sample_randomized_group_size_boundaries(spark, tmp_path):
    """Randomized per-group reservoir differential FORCING the K
    boundary: one group smaller than K (kept whole), one exactly K,
    one exactly K+1 (exactly one row dropped — the md5-largest), and
    one much larger. Expected membership from a pure-Python md5-rank
    walk."""
    import hashlib
    import random
    from datetime import datetime, timedelta

    from dpu_olap_spark.llm.curation import _RESERVOIR_K as K
    from dpu_olap_spark.registry import all_queries

    rng = random.Random(107)
    sizes = {"view": K - 2, "click": K, "purchase": K + 1, "scroll": 10 * K}
    rows = []
    eid = 0
    base = datetime(2025, 2, 1)
    for et, n in sizes.items():
        for _ in range(n):
            rows.append((eid, rng.randint(1, 50), base + timedelta(seconds=eid),
                         et, round(rng.uniform(0, 100), 2)))
            eid += rng.randint(1, 6)
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp,"
        " event_type string, value double"
    ).write.parquet(str(tmp_path) + "/events.parquet")

    expect = set()
    dropped = {}
    for et, n in sizes.items():
        entries = sorted(
            (hashlib.md5(str(e).encode()).hexdigest(), e, u, v)
            for e, u, ts, t, v in rows
            if t == et
        )
        for _, e, u, v in entries[:K]:
            expect.add((et, e, u, v))
        dropped[et] = len(entries) - min(K, len(entries))
    assert dropped == {"view": 0, "click": 0, "purchase": 1, "scroll": 9 * K}

    got = {
        (r.event_type, r.event_id, r.user_id, r.value)
        for r in all_queries()["reservoir_sample"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_quality_sample_randomized_tier_and_hex_boundaries(spark, tmp_path):
    """Randomized tiered-retention differential FORCING every decision
    boundary: documents at exactly 1500 / 1499 chars (full-keep vs mid
    tier) and exactly 500 / 499 (mid vs short tier), plus doc_ids
    searched so their md5 first hex is exactly '7' (kept by the
    strict '< 8' mid draw), exactly '8' (dropped), and '1' vs '2'
    (short-tier keep set boundary). Expected membership from a
    pure-Python evaluation of the same CASE."""
    import hashlib
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(109)

    def h1(d):
        return hashlib.md5(str(d).encode()).hexdigest()[0]

    def find_id(start, hexc):
        d = start
        while h1(d) != hexc:
            d += 1
        return d

    rows = []
    used = set()

    def add(doc_id, n_chars):
        if doc_id in used:
            return
        used.add(doc_id)
        rows.append((doc_id, rng.choice(["web", "book"]), "en", n_chars))

    # tier-size boundaries with every relevant hex class
    for hexc in ("7", "8", "1", "2", "0", "f"):
        for n_chars in (1500, 1499, 500, 499, 10):
            add(find_id(rng.randint(1, 10**6), hexc), n_chars)
    for _ in range(60):
        add(rng.randint(1, 10**6), rng.randint(1, 4000))

    spark.createDataFrame(
        rows, "doc_id bigint, source string, lang string, n_chars bigint"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    def keep(d, n):
        if n >= 1500:
            return True
        if n >= 500:
            return h1(d) < "8"
        return h1(d) in ("0", "1")

    expect = {(d, s, lg, n) for d, s, lg, n in rows if keep(d, n)}
    # boundary attestations: a 1499-char '8'-hex doc is dropped while
    # the same-size '7'-hex doc survives; short-tier '1' kept, '2' not
    assert any(n == 1499 and h1(d) == "7" for d, _, _, n in rows)
    kept_ids = {e[0] for e in expect}
    for d, _, _, n in rows:
        if n == 1499:
            assert (d in kept_ids) == (h1(d) < "8")
        if n == 499:
            assert (d in kept_ids) == (h1(d) in ("0", "1"))
    got = {
        (r.doc_id, r.source, r.lang, r.n_chars)
        for r in all_queries()["quality_sample"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_window_dist_randomized_ntile_remainder_and_tiny_n(spark, tmp_path):
    """Randomized distribution-window differential FORCING the ntile
    remainder rule (n = 47 over 4 tiles -> the first 47%4 = 3 buckets
    take the extra row), fewer rows than tiles (n = 3 -> buckets
    1..3, bucket 4 empty), and the single-row edge where
    percent_rank's (rank-1)/(n-1) is 0/0 and both engines define it
    as 0.0. Expected values from a pure-Python walk over the same
    (price, key) total order; DuckDB cross-check via the registered
    oracle happens in the driver — here the focus is the remainder
    arithmetic."""
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(113)
    for sub, n in (("a", 47), ("b", 3), ("c", 1)):
        d = str(tmp_path) + "/" + sub
        rows = []
        key = 100
        for _ in range(n):
            rows.append((key, round(rng.uniform(10, 999), 2)))
            key += rng.randint(1, 5)
        spark.createDataFrame(
            rows, "o_orderkey bigint, o_totalprice double"
        ).write.parquet(d + "/orders.parquet")

        order = sorted(rows, key=lambda r: (r[1], r[0]))
        expect = {}
        base, extra = divmod(n, 4)
        for i, (k, _) in enumerate(order):
            # first `extra` tiles hold base+1 rows
            boundary = extra * (base + 1)
            if i < boundary:
                tile = i // (base + 1) + 1 if base + 1 else 1
            else:
                tile = extra + (i - boundary) // base + 1 if base else i + 1
            pr = 0.0 if n == 1 else i / (n - 1)  # unrounded (r11)
            expect[k] = (tile, pr, (i + 1) / n)
        got = {
            r.o_orderkey: (r.quartile, r.pct_rank, r.cume)
            for r in all_queries()["window_dist"].build(spark, d).collect()
        }
        assert got == expect, f"mismatch for n={n}"
        if n == 47:
            from collections import Counter
            c = Counter(t for t, _, _ in expect.values())
            assert c == {1: 12, 2: 12, 3: 12, 4: 11}  # remainder rule
        if n == 3:
            assert {t for t, _, _ in expect.values()} == {1, 2, 3}
        if n == 1:
            assert list(expect.values()) == [(1, 0.0, 1.0)]


def test_bm25_randomized_tie_straddles_top5_cut(spark, tmp_path):
    """Randomized BM25 differential FORCING an exact score tie that
    straddles the top-5 cut: in the probe document, two tokens are
    unique to it (df=1, the clear top-2) and five tokens share
    identical tf, dl, and df (identical scores bit-for-bit, whatever
    the op order) so ranks 3..7 are one tie group and the token-ASC
    tiebreak alone decides which three survive. Expected rows from a
    pure-Python replication of the oracle's round-before-rank
    formula over the whole corpus."""
    import math
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(127)
    docs = {}
    docs[0] = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    docs[1] = ["cc", "dd", "ee", "ff", "gg", "hh", "zz"]  # shares the tie group
    for i in range(2, 14):
        docs[i] = [f"r{rng.randint(0, 40)}" for _ in range(rng.randint(3, 30))]
    rows = [(i, " ".join(ws), "en", "web") for i, ws in docs.items()]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    # pure-Python replication of the oracle expression (k1=1.2, b=0.75)
    tf: dict[tuple[int, str], int] = {}
    dl: dict[int, int] = {}
    dfc: dict[str, set] = {}
    for i, ws in docs.items():
        dl[i] = len(ws)
        for w in ws:
            tf[(i, w)] = tf.get((i, w), 0) + 1
            dfc.setdefault(w, set()).add(i)
    n_docs = len(docs)
    avgdl = float(sum(dl.values())) / n_docs
    scored: dict[int, list[tuple[float, str]]] = {}
    for (i, w), f in tf.items():
        idf = round(math.log((float(n_docs) - len(dfc[w]) + 0.5)
                             / (len(dfc[w]) + 0.5) + 1.0), 6)
        s = round(idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl[i] / avgdl)), 6)
        scored.setdefault(i, []).append((s, w))
    expect = set()
    tie_checked = False
    for i, entries in scored.items():
        entries.sort(key=lambda t: (-t[0], t[1]))
        for s, w in entries[:5]:
            expect.add((i, w, s))
        if i == 0:
            # ranks 3..7 must be one exact tie group -> cut inside it
            vals = [s for s, _ in entries]
            assert vals[2] == vals[3] == vals[4] == vals[5] == vals[6]
            assert {w for _, w in entries[:2]} == {"aa", "bb"}
            assert {w for s, w in entries if s == vals[2]} >= {
                "cc", "dd", "ee", "ff", "gg"
            }
            tie_checked = True
    assert tie_checked

    got = {
        (r.doc_id, r.token, r.bm25)
        for r in all_queries()["bm25_scores"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_tvf_range_join_randomized_half_open_bounds(spark, tmp_path):
    """Randomized generator-relation differential FORCING the
    half-open range(0, 25) bounds: a synthetic nation table carrying
    keys exactly -1, 0, 24, 25 (plus random in/out keys) must join
    only 0 and 24 of those — 25 sits ON the exclusive upper bound and
    must be absent. Expected rows from a pure-Python range walk."""
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(131)
    keys = {-1, 0, 24, 25}
    while len(keys) < 20:
        keys.add(rng.randint(-10, 60))
    rows = [(k, f"NATION_{k}", k % 5) for k in sorted(keys)]
    spark.createDataFrame(
        rows, "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).write.parquet(str(tmp_path) + "/nation.parquet")

    expect = {
        (k, f"NATION_{k}", 2 * k) for k, _, _ in rows if 0 <= k < 25
    }
    assert (0, "NATION_0", 0) in expect and (24, "NATION_24", 48) in expect
    assert not any(k in (25, -1) for k, _, _ in expect)

    got = {
        (r.id, r.n_name, r.double_id)
        for r in all_queries()["tvf_range_join"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_set_ops_randomized_multiplicity_and_null_semantics(spark, tmp_path):
    """Randomized set-operation differential FORCING the semantics the
    fixed data cannot isolate: a key held 5x by customer and 1x by
    supplier must appear ONCE under 'both' and NOT under 'cust_only'
    (set-EXCEPT removes the key entirely — exceptAll would keep the
    surplus 4), and NULL keys on BOTH sides must intersect (set ops
    use null-safe equality, unlike joins). Expected rows from a
    pure-Python set walk."""
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(137)
    cust_keys = [9] * 5 + [11] * 3 + [None, None] + [
        rng.choice([1, 2, 3, 4, 20, 21]) for _ in range(40)
    ]
    supp_keys = [9, 30, None] + [
        rng.choice([2, 3, 22, 23]) for _ in range(20)
    ]
    spark.createDataFrame(
        [(i, k) for i, k in enumerate(cust_keys)],
        "c_custkey bigint, c_nationkey bigint",
    ).write.parquet(str(tmp_path) + "/customer.parquet")
    spark.createDataFrame(
        [(i, k) for i, k in enumerate(supp_keys)],
        "s_suppkey bigint, s_nationkey bigint",
    ).write.parquet(str(tmp_path) + "/supplier.parquet")

    cset = {k for k in cust_keys}
    sset = {k for k in supp_keys}
    expect = {("both", k) for k in cset & sset} | {
        ("cust_only", k) for k in cset - sset
    }
    # forced semantics attestations
    assert ("both", 9) in expect and ("cust_only", 9) not in expect
    assert ("both", None) in expect        # null-safe intersection
    assert ("cust_only", 11) in expect
    assert not any(k == 30 for _, k in expect)

    got = {
        (r.src, r.n)
        for r in all_queries()["set_ops"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect
    # set semantics: exactly one output row per (src, key), no dups
    rows = all_queries()["set_ops"].build(spark, str(tmp_path)).collect()
    assert len(rows) == len(got)


def test_pivot_randomized_missing_cells_and_unknown_types(spark, tmp_path):
    """Randomized pivot differential FORCING missing cells: users with
    zero events of some types must get 0 (the coalesce contract, not
    NULL or a dropped column), a user with only ONE type fills four
    zeros, and event types OUTSIDE the explicit pivot value list must
    be ignored entirely (the single-pass explicit-list contract).
    Expected counts from a pure-Python tally."""
    import random
    from datetime import datetime, timedelta

    from dpu_olap_spark.operators.advanced import EVENT_TYPES
    from dpu_olap_spark.registry import all_queries

    rng = random.Random(139)
    base = datetime(2025, 5, 1)
    rows = []
    eid = 0

    def add(uid, et):
        nonlocal eid
        rows.append((eid, uid, base + timedelta(seconds=eid), et))
        eid += 1

    for _ in range(6):
        add(1, "click")           # user 1: ONLY clicks
    add(2, "rage_quit")           # user 2: only an unlisted type
    add(2, "view")
    for uid in range(3, 12):
        for _ in range(rng.randint(1, 15)):
            add(uid, rng.choice(list(EVENT_TYPES) + ["rage_quit"]))
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string"
    ).write.parquet(str(tmp_path) + "/events.parquet")

    tally: dict[int, dict[str, int]] = {}
    for _e, uid, _ts, et in rows:
        tally.setdefault(uid, {})[et] = tally.setdefault(uid, {}).get(et, 0) + 1
    expect = {
        uid: tuple(c.get(t, 0) for t in EVENT_TYPES) for uid, c in tally.items()
    }
    assert expect[1] == (6, 0, 0, 0, 0)          # four forced zero cells
    assert expect[2] == (0, 0, 0, 0, 1)          # unlisted type ignored
    assert any("rage_quit" in c for c in tally.values())

    got = {
        r.user_id: tuple(r[f"n_{t}"] for t in EVENT_TYPES)
        for r in all_queries()["pivot"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_cross_source_overlap_randomized_prefix_boundaries(spark, tmp_path):
    """Randomized overlap-matrix differential FORCING the fingerprint
    boundaries: documents sharing exactly their first 5 tokens count
    as overlap even when everything after differs, documents sharing
    only 4 of 5 do NOT, duplicate fingerprints WITHIN one source
    collapse (distinct (fp, source) semantics), a fingerprint present
    in three sources contributes to all three pairwise cells, and
    sub-5-token documents fingerprint on their full (shorter) prefix.
    Expected matrix from a pure-Python md5 walk."""
    import hashlib
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(149)

    def tail(n):
        return [f"z{rng.randint(0, 9999)}" for _ in range(n)]

    P5 = ["p1", "p2", "p3", "p4", "p5"]
    P4 = ["p1", "p2", "p3", "p4", "q5"]          # differs at token 5
    SHORT = ["s1", "s2", "s3"]                   # sub-5-token prefix
    TRI = ["t1", "t2", "t3", "t4", "t5"]         # shared by 3 sources
    docs = [
        (0, P5 + tail(10), "web"),
        (1, P5 + tail(10), "book"),              # same 5-prefix, diff tail
        (2, P4 + tail(10), "forum"),             # only 4 shared -> no match
        (3, P5 + tail(5), "web"),                # same-source dup fp
        (4, SHORT, "web"),
        (5, SHORT, "forum"),                     # short-prefix cross match
        (6, TRI + tail(3), "web"),
        (7, TRI + tail(3), "book"),
        (8, TRI + tail(3), "forum"),
    ]
    next_id = 9
    for _ in range(40):
        docs.append((next_id, tail(rng.randint(1, 20)),
                     rng.choice(["web", "book", "forum"])))
        next_id += 1
    rows = [(i, " ".join(ws), "en", s) for i, ws, s in docs]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    fps = {
        (hashlib.md5(" ".join(ws[:5]).encode()).hexdigest(), s)
        for _, ws, s in docs
    }
    by_fp: dict[str, set] = {}
    for fp, s in fps:
        by_fp.setdefault(fp, set()).add(s)
    expect: dict[tuple[str, str], int] = {}
    for srcs in by_fp.values():
        ss = sorted(srcs)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                expect[(ss[i], ss[j])] = expect.get((ss[i], ss[j]), 0) + 1

    # forced-boundary attestations on the python side
    tri_fp = hashlib.md5(" ".join(TRI).encode()).hexdigest()
    assert by_fp[tri_fp] == {"web", "book", "forum"}
    p5_fp = hashlib.md5(" ".join(P5).encode()).hexdigest()
    assert by_fp[p5_fp] == {"web", "book"}       # doc 2's 4/5 missed it;
    # docs 0 and 3 (same source, same fp) collapsed to one 'web' entry
    short_fp = hashlib.md5(" ".join(SHORT).encode()).hexdigest()
    assert by_fp[short_fp] == {"web", "forum"}

    got = {
        (r.source_a, r.source_b): r.n_shared
        for r in all_queries()["cross_source_overlap"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_interval_arith_randomized_midnight_and_fraction_boundaries(
    spark, tmp_path
):
    """Randomized interval-arithmetic differential FORCING the clock
    boundaries: timestamps at exactly 22:30:00 (the +90-minute
    deadline lands exactly on midnight), after 22:30 (deadline
    crosses into the next day), 23:59:59.999999 (maximum fractional
    second — epoch floor must truncate, not round), and midnight
    itself (hour/minute both 0). Expected values from pure-Python
    datetime arithmetic; the event_id % 11 filter keeps every crafted
    row and drops interleaved non-multiples."""
    import random
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(151)
    base = datetime(2025, 7, 3)
    forced_times = [
        base.replace(hour=22, minute=30),                      # deadline == midnight
        base.replace(hour=23, minute=15, second=7),            # crosses midnight
        base.replace(hour=23, minute=59, second=59, microsecond=999_999),
        base,                                                  # midnight itself
        base.replace(hour=12, minute=0, second=0, microsecond=500_000),
    ]
    rows = []
    eid = 11
    for ts in forced_times:
        rows.append((eid, ts))
        eid += 11
    for _ in range(40):
        ts = base + timedelta(seconds=rng.randint(0, 5 * 86_400),
                              microseconds=rng.randint(0, 999_999))
        rows.append((eid, ts))
        eid += 11
        rows.append((eid + 3, ts))  # not % 11 — must be filtered out
        eid += 11
    spark.createDataFrame(rows, "event_id bigint, ts timestamp").write.parquet(
        str(tmp_path) + "/events.parquet"
    )

    epoch = datetime(1970, 1, 1)
    expect = {}
    for k, ts in rows:
        if k % 11 != 0:
            continue
        total_us = round((ts - epoch).total_seconds() * 1_000_000)
        # recompute exactly from components to avoid float total_seconds
        total_us = ((ts - epoch).days * 86_400 + (ts - epoch).seconds) * 1_000_000 + (
            ts - epoch
        ).microseconds
        expect[k] = (
            ts + timedelta(minutes=90),
            ts.hour,
            ts.minute,
            total_us // 1_000_000,                # floor(epoch seconds)
            datetime(2024, 6, 15, 12, 30, 0),
        )
    # forced attestations
    assert expect[11][0].hour == 0 and expect[11][0].minute == 0
    # .999999s must floor to the whole second, not round up to the next
    d = forced_times[2] - epoch
    assert expect[33][3] == d.days * 86_400 + d.seconds

    got = {
        r.event_id: (r.deadline, r.h, r.m, r.epoch_s, r.fixed_ts)
        for r in all_queries()["interval_arith"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_cohort_retention_randomized_week_boundaries(spark, tmp_path):
    """Randomized cohort-retention differential FORCING the week
    boundaries: users whose first event is a SUNDAY 23:59:59 with a
    next event MONDAY 00:00:00 (adjacent truncation weeks — offset
    exactly 1), a user active only within one Monday-to-Sunday span
    (offset 0 despite 6 calendar days elapsed), duplicate events in
    one (user, week) cell (pre-join dedup must count the user once),
    and a user whose cohort week IS a Monday midnight. Expected
    matrix from a pure-Python Monday-start truncation walk."""
    import random
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(157)
    MON = datetime(2025, 6, 2)  # a Monday
    assert MON.weekday() == 0
    rows = []
    eid = 0

    def add(uid, ts):
        nonlocal eid
        rows.append((eid, uid, ts, "view"))
        eid += 1

    add(1, MON + timedelta(days=6, hours=23, minutes=59, seconds=59))  # Sunday
    add(1, MON + timedelta(days=7))                # next Monday 00:00 -> offset 1
    add(2, MON)                                    # Monday midnight cohort
    add(2, MON + timedelta(days=6, hours=12))      # same trunc week -> offset 0
    for _ in range(4):                             # dup (user, week) events
        add(3, MON + timedelta(days=rng.randint(0, 4)))
    add(3, MON + timedelta(days=15))               # offset 2
    for uid in range(4, 12):
        t0 = MON + timedelta(days=rng.randint(0, 20),
                             seconds=rng.randint(0, 86_399))
        for _ in range(rng.randint(1, 8)):
            add(uid, t0 + timedelta(days=rng.randint(0, 40),
                                    seconds=rng.randint(0, 86_399)))
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string"
    ).write.parquet(str(tmp_path) + "/events.parquet")

    def week(ts):
        d = ts.date() - timedelta(days=ts.weekday())
        return datetime(d.year, d.month, d.day)

    firsts = {}
    for _e, uid, ts, _t in rows:
        firsts[uid] = min(firsts.get(uid, ts), ts)
    cohort = {uid: week(ts) for uid, ts in firsts.items()}
    cells = {(uid, week(ts)) for _e, uid, ts, _t in rows}
    expect: dict[tuple[datetime, int], int] = {}
    for uid, w in cells:
        key = (cohort[uid], (w - cohort[uid]).days // 7)
        expect[key] = expect.get(key, 0) + 1

    # forced attestations
    assert cohort[1] == MON and (MON + timedelta(days=7) - MON).days // 7 == 1
    assert (2, MON) in cells and len([c for c in cells if c[0] == 2]) == 1
    assert len([c for c in cells if c[0] == 3]) == 2  # dups collapsed

    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in all_queries()["cohort_retention"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def _oracle_on_tmp(sql: str, d: str):
    """Run a registered oracle against a DuckDB connection whose views
    cover only the parquet files present in a tmp dir (tests.oracle's
    _connect assumes the full testdata table set exists)."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                # Spark writes a DIRECTORY of part files; pyarrow a file
                src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM {src}")
        cur = con.execute(sql)
        cols = [c[0] for c in cur.description]
        return cur.fetchall(), cols
    finally:
        con.close()


def _edge_part_rows():
    """Forced edge strings for the scalar/string function queries, plus
    seeded random bulk.  Constraints that keep the three-way
    differential (Spark == DuckDB == Python) exact:
    - prices are multiples of 0.25 so price*2.0 is binary-exact and
      round(x, 2) is the identity in every engine;
    - non-ASCII chars are single-codepoint (é, ö) so DuckDB's
      grapheme-wise reverse equals Spark's codepoint-wise reverse;
    - brands stay ASCII so upper() agrees byte-for-byte."""
    import random

    rows = [
        # pk, name, brand, type, retailprice, size
        (1, "", "", "", 0.25, 25),            # empty strings; abs(size-25)==0
        (2, "ALLUPPER NAME", "toolongbrandXYZ", "ab", 1.25, 0),
        # ^ regexp ([a-z]+) no-match -> ''; lpad TRUNCATES >12; short substr
        (3, "héllo wörld", "b", " promo x", 2.50, -10),
        # ^ multibyte reverse/length; leading-sep split_part -> ''; negative %
        (4, "aeiou AEIOU", "exact12chars", "PROMO", 99999.75, 7),
        # ^ all-vowel translate; lpad exact length; no-separator split_part
        (5, "xyz", "brand", "a b c", 3.00, 49),  # 49 % 7 == 0
    ]
    rng = random.Random(31)
    words = ["olive", "navy", "PROMO", "brushed", "tin", "é", "", "steel"]
    for pk in range(6, 206):
        name = " ".join(rng.choice(words) for _ in range(rng.randint(0, 3)))
        brand = "".join(rng.choice("brand#") for _ in range(rng.randint(0, 16)))
        typ = " ".join(rng.choice(words) for _ in range(rng.randint(0, 2)))
        rows.append(
            (pk, name, brand, typ, rng.randint(1, 400_000) * 0.25,
             rng.randint(-50, 100))
        )
    return rows


def _write_edge_part(tmp_path, rows):
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([r[0] for r in rows], pa.int64()),
                "p_name": pa.array([r[1] for r in rows], pa.string()),
                "p_brand": pa.array([r[2] for r in rows], pa.string()),
                "p_type": pa.array([r[3] for r in rows], pa.string()),
                "p_retailprice": pa.array([r[4] for r in rows], pa.float64()),
                "p_size": pa.array([r[5] for r in rows], pa.int64()),
            }
        ),
        str(tmp_path) + "/part.parquet",
    )


def test_scalar_funcs_edge_strings_three_way(spark, tmp_path):
    """scalar_funcs on forced edge strings: empty name/brand/type,
    substr past end-of-string, size exactly 25 (abs == 0), negative
    size (SQL %: sign of the DIVIDEND — Python's % follows the divisor,
    so the expected values use math.fmod).  Spark vs the registered
    DuckDB oracle vs a pure-Python row walk."""
    import math

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = _edge_part_rows()
    _write_edge_part(tmp_path, rows)
    q = all_queries()["scalar_funcs"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {
        pk: (
            brand.upper(),
            len(name),
            typ[:5],
            price * 2.0,  # binary-exact: price is a multiple of 0.25
            abs(size - 25),
            int(math.fmod(size, 7)),
        )
        for pk, name, brand, typ, price, size in rows
    }
    got = {
        r.p_partkey: (r.brand_u, r.name_len, r.type5, r.doubled_price,
                      r.size_dev, r.size_mod)
        for r in sdf.collect()
    }
    assert got == expect

    # the forced edges actually occurred
    assert got[1] == ("", 0, "", 0.5, 0, 4)          # empty strings, abs==0
    assert got[2][2] == "ab"                          # substr past the end
    assert any(v[5] < 0 for v in got.values())        # negative dividend %
    assert any(s < 0 for *_x, s in rows)              # negative size present


def test_string_funcs2_edge_strings_three_way(spark, tmp_path):
    """string_funcs2 forced edges: regexp no-match (all-uppercase name)
    -> '' in BOTH engines, lpad truncation past 12 chars, codepoint
    reverse over multibyte é/ö, leading-separator split_part -> '',
    no-separator split_part -> whole string.  Spark vs the registered
    DuckDB oracle vs a pure-Python walk."""
    import re

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = _edge_part_rows()
    _write_edge_part(tmp_path, rows)
    q = all_queries()["string_funcs2"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    tr = str.maketrans("aeiou", "AEIOU")
    expect = {}
    for pk, name, brand, typ, _price, size in rows:
        m = re.search("([a-z]+)", name)
        expect[pk] = (
            m.group(1) if m else "",
            (brand if len(brand) >= 12 else "*" * (12 - len(brand)) + brand)[:12],
            typ.translate(tr),
            name[::-1],
            typ.split(" ")[0],
            f"{brand}#{size}",
        )
    got = {
        r.p_partkey: (r.first_word, r.brand_pad, r.type_tr, r.name_rev,
                      r.type_head, r.brand_size)
        for r in sdf.collect()
    }
    assert got == expect

    # forced edges occurred, in the corpus AND in the Spark output
    assert got[2][0] == ""                   # no-lowercase name -> no match
    assert got[2][1] == "toolongbrand"       # lpad TRUNCATES, keeps head
    assert got[3][3] == "dlröw olléh"        # multibyte codepoint reverse
    assert got[3][4] == ""                   # leading separator -> empty head
    assert got[4][4] == "PROMO"              # no separator -> whole string
    assert got[1] == ("", "************", "", "", "", "#25")  # all-empty row


def test_variant_json_path_edges_vs_oracle_and_pinned(spark, tmp_path):
    """variant_json forced path edges.  Two tiers:
    1. oracle-comparable values (ints incl. int64 min/max, JSON null,
       missing key, digit-strings, 1e3, a literal 'missing' key) run
       through the REGISTERED query and oracle on a tmp events table —
       exact agreement, plus filter-exclusion rows prove the
       event_type/modulo predicates drop rows.
    2. values OUTSIDE the oracle's domain, where the two engines'
       semantics genuinely diverge (probed, then pinned): Spark's
       try_variant_get(bigint) TRUNCATES float 3.9 -> 3 while DuckDB's
       TRY_CAST(json_extract_string(...)) ROUNDS '3.9' -> 4, and maps
       true -> 1 vs NULL.  The registered oracle is only valid because
       the testdata props hold integers; this test documents the edge."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    safe = [
        # (event_id, event_type, props) — ids % 3 == 0 and type 'click'
        (0, "click", '{"k": 7}'),
        (3, "click", '{"k": null}'),
        (6, "click", "{}"),
        (9, "click", '{"k": 9223372036854775807}'),
        (12, "click", '{"k": -9223372036854775808}'),
        (15, "click", '{"k": "12"}'),
        (18, "click", '{"k": 0}'),
        (21, "click", '{"k": -1}'),
        (24, "click", '{"k": 1e3}'),
        (27, "click", '{"k": 1, "missing": 5}'),
        # filter-exclusion rows: wrong type / wrong modulo
        (30, "view", '{"k": 999}'),
        (31, "click", '{"k": 888}'),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in safe], pa.int64()),
                "event_type": pa.array([r[1] for r in safe], pa.string()),
                "props": pa.array([r[2] for r in safe], pa.string()),
            }
        ),
        str(tmp_path) + "/events.parquet",
    )
    q = all_queries()["variant_json"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = {r.event_id: (r.k_typed, r.k_missing) for r in sdf.collect()}
    assert got == {
        0: (7, None),
        3: (None, None),       # JSON null -> NULL
        6: (None, None),       # missing key -> NULL (try semantics)
        9: (9223372036854775807, None),
        12: (-9223372036854775808, None),
        15: (12, None),        # digit-string casts in both engines
        18: (0, None),
        21: (-1, None),
        24: (1000, None),      # 1e3 normalizes to 1000 in both engines
        27: (1, 5),            # a literal "missing" key IS extracted
    }
    assert 30 not in got and 31 not in got  # filters actually excluded

    # tier 2: pinned Spark-only semantics outside the oracle's domain
    wild = [
        ("float", '{"k": 3.9}', 3),        # cast truncation, NOT rounding
        ("float_neg", '{"k": -3.9}', -3),  # truncation toward zero
        ("bool", '{"k": true}', 1),
        ("str_alpha", '{"k": "abc"}', None),
        ("nested", '{"k": {"x": 1}}', None),
        ("array", '{"k": [1]}', None),
        ("huge", '{"k": 10000000000000000000}', None),  # > int64 max
    ]
    wdf = spark.createDataFrame(
        [(lbl, p) for lbl, p, _e in wild], "label string, props string"
    )
    wgot = {
        r.label: r.b
        for r in wdf.select(
            "label",
            F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("b"),
        ).collect()
    }
    assert wgot == {lbl: e for lbl, _p, e in wild}
    # and the divergence that keeps these OUT of the SQL oracle is real:
    assert (
        duckdb.sql(
            """SELECT TRY_CAST(json_extract_string('{"k": 3.9}', '$.k') AS BIGINT)"""
        ).fetchone()[0]
        == 4  # DuckDB rounds the string '3.9'; Spark's variant cast gives 3
    )


def test_merge_upsert_many_to_many_and_key_collision(spark, tmp_path):
    """merge_upsert forced edges: a target key divisible by BOTH source
    branches' moduli (7*97), DUPLICATE target keys meeting duplicate
    update rows (the full-outer algebra fans out 2x2 — exactly what a
    transactional MERGE would reject, pinned here as the documented
    semantics of the join form), and an existing target key that
    COLLIDES with an inserted key (k + 10000000 already present), which
    a real upsert must treat as a match, not an append.  Spark vs the
    registered DuckDB oracle vs a pure-Python full-outer walk."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (o_orderkey, o_totalprice) — prices are multiples of 0.25
        (7, 100.25),              # %7 only -> updated
        (97, 200.50),             # %97 only -> existing + inserted twin
        (679, 300.75),            # 7*97: updated AND spawns insert twin
        (21, 10.00), (21, 20.00),  # DUP target key, %7: 2x2 fan-out
        (5, 50.25),               # neither -> existing passthrough
        (10000000 + 194, 999.00),  # collision target for 194's insert
        (194, 40.50),             # %97 -> insert twin k=10000194 MATCHES above
    ]
    spark.createDataFrame(rows, "o_orderkey bigint, o_totalprice double").write.parquet(
        str(tmp_path) + "/orders.parquet"
    )
    q = all_queries()["merge_upsert"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    # pure-Python full-outer join + coalesce with multiplicity
    target = [(k, p, "existing") for k, p in rows]
    updates = [(k, p + 1000.0, "updated") for k, p in rows if k % 7 == 0]
    updates += [(k + 10000000, p, "inserted") for k, p in rows if k % 97 == 0]
    expect = []
    matched_u = [False] * len(updates)
    for k, p, s in target:
        hits = [i for i, (uk, _up, _us) in enumerate(updates) if uk == k]
        if hits:
            for i in hits:
                matched_u[i] = True
                expect.append(updates[i])
        else:
            expect.append((k, p, s))
    expect += [u for i, u in enumerate(updates) if not matched_u[i]]
    got = sorted((r.o_orderkey, r.price, r.row_origin) for r in sdf.collect())
    assert got == sorted(expect)

    # the forced edges actually occurred
    origins = [r[2] for r in got]
    assert sum(1 for k, _p, s in got if k == 21 and s == "updated") == 4  # 2x2
    assert (10000194, 40.5, "inserted") in got     # collision resolved as match
    assert not any(k == 10000194 and s == "existing" for k, _p, s in got)
    assert (679, 1300.75, "updated") in got and (10000679, 300.75, "inserted") in got
    assert origins.count("existing") == 3  # keys 5, 97, 194 (the %97 row
    # itself stays 'existing' — only its +10000000 twin is an insert)


def test_gap_fill_locf_boundaries_vs_python(spark, tmp_path):
    """gap_fill forced edges: an event exactly ON an hour boundary, one
    at HH:59:59.999999, a MULTI-hour gap (LOCF must carry across
    consecutive empty hours), adjacent full hours, and a value change
    right after a gap.  Spark vs the registered DuckDB oracle vs a
    pure-Python spine walk."""
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    B = datetime(2025, 3, 1, 6, 0, 0)  # hour-exact base
    ev = [
        # (event_id, event_type, ts, value) — purchases only count
        (1, "purchase", B, 10.25),                                  # ON boundary
        (2, "purchase", B + timedelta(minutes=59, seconds=59,
                                      microseconds=999999), 4.75),  # last us
        (3, "view", B + timedelta(hours=1, minutes=5), 99.0),       # filtered out
        # hours +1..+3 EMPTY -> three-hour gap, LOCF carries 15.00
        (4, "purchase", B + timedelta(hours=4, minutes=30), 7.50),  # new value
        (5, "purchase", B + timedelta(hours=5, minutes=1), 1.25),   # adjacent hour
        (6, "purchase", B + timedelta(hours=5, minutes=2), 2.50),
        # hour +6 empty, then the last hour
        (7, "purchase", B + timedelta(hours=7, minutes=45), 0.25),
    ]
    spark.createDataFrame(
        ev, "event_id bigint, event_type string, ts timestamp, value double"
    ).write.parquet(str(tmp_path) + "/events.parquet")
    q = all_queries()["gap_fill"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    # pure-Python spine walk
    hourly: dict[datetime, list[float]] = {}
    for _i, et, ts, v in ev:
        if et == "purchase":
            hourly.setdefault(ts.replace(minute=0, second=0, microsecond=0),
                              []).append(v)
    lo, hi = min(hourly), max(hourly)
    expect = {}
    h, last = lo, None
    while h <= hi:
        vals = hourly.get(h)
        if vals:
            last = sum(vals)
            expect[h] = (len(vals), last)
        else:
            expect[h] = (0, last)
        h += timedelta(hours=1)
    got = {r.hour: (r.n_events, r.filled_value) for r in sdf.collect()}
    assert got == expect

    # forced edges occurred
    assert got[B] == (2, 15.0)                       # boundary + last-us rows
    assert [got[B + timedelta(hours=k)] for k in (1, 2, 3)] == [(0, 15.0)] * 3
    assert got[B + timedelta(hours=4)] == (1, 7.5)   # value change after gap
    assert got[B + timedelta(hours=6)] == (0, 3.75)  # gap after adjacent hours
    assert len(got) == 8                             # dense spine, no holes


def test_lateral_topn_ties_at_cut_vs_python(spark, tmp_path):
    """lateral_topn forced edges: a region where ranks 2 and 3 have
    EQUAL customer counts (name ASC alone decides who makes the top-2),
    a region with a full three-way tie, a single-nation region, and a
    region whose nations have ZERO customers (the lateral subquery is
    empty, so the region vanishes — CROSS JOIN LATERAL semantics in
    both engines).  Spark vs the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    regions = [(0, "AMERICA"), (1, "ASIA"), (2, "SOLO"), (3, "EMPTY")]
    nations = [
        (0, "ALPHA", 0), (1, "BRAVO", 0), (2, "CHARLIE", 0),  # 5,3,3: tie@2
        (3, "XRAY", 1), (4, "YANKEE", 1), (5, "ZULU", 1),     # 2,2,2: all tie
        (6, "SINGLE", 2),                                     # 1 nation
        (7, "GHOST", 3), (8, "WRAITH", 3),                    # 0 customers
    ]
    counts = {0: 5, 1: 3, 2: 3, 3: 2, 4: 2, 5: 2, 6: 4, 7: 0, 8: 0}
    customers = []
    ck = 0
    for nk, n in counts.items():
        for _ in range(n):
            customers.append((ck, nk))
            ck += 1
    pq.write_table(
        pa.table({"r_regionkey": pa.array([r[0] for r in regions], pa.int64()),
                  "r_name": pa.array([r[1] for r in regions], pa.string())}),
        str(tmp_path) + "/region.parquet",
    )
    pq.write_table(
        pa.table({"n_nationkey": pa.array([n[0] for n in nations], pa.int64()),
                  "n_name": pa.array([n[1] for n in nations], pa.string()),
                  "n_regionkey": pa.array([n[2] for n in nations], pa.int64())}),
        str(tmp_path) + "/nation.parquet",
    )
    pq.write_table(
        pa.table({"c_custkey": pa.array([c[0] for c in customers], pa.int64()),
                  "c_nationkey": pa.array([c[1] for c in customers], pa.int64())}),
        str(tmp_path) + "/customer.parquet",
    )
    q = all_queries()["lateral_topn"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = sorted((r.r_name, r.n_name, r.n_customers) for r in sdf.collect())
    assert got == [
        ("AMERICA", "ALPHA", 5), ("AMERICA", "BRAVO", 3),  # CHARLIE loses tie
        ("ASIA", "XRAY", 2), ("ASIA", "YANKEE", 2),        # ZULU loses 3-way
        ("SOLO", "SINGLE", 4),                             # top-2 of 1 is 1
    ]
    assert not any(r == "EMPTY" for r, _n, _c in got)      # empty lateral drops


def test_rollup_cube_with_real_null_group_keys(spark, tmp_path):
    """rollup_agg / cube_agg forced edge: grouping columns that contain
    REAL NULLs, so data-null group rows conflate with generated
    subtotal rows in the output (the classic ROLLUP ambiguity — the
    query surface has no GROUPING() column, so the multiset must agree
    with the same conflation in both engines, and with a pure-Python
    grouping-sets walk that reproduces it)."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    li = [
        # (l_returnflag, l_linestatus, l_quantity)
        ("A", "F", 1.25), ("A", "O", 2.50), ("A", None, 4.00),
        (None, "F", 8.25), (None, None, 16.50), ("B", "F", 32.75),
        ("B", "F", 64.00), (None, "O", 128.25),
    ]
    spark.createDataFrame(
        li, "l_returnflag string, l_linestatus string, l_quantity double"
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")
    ords = [
        # (o_orderstatus, o_orderpriority, o_totalprice)
        ("O", "1-URGENT", 1.25), ("O", None, 2.50), (None, "1-URGENT", 4.75),
        (None, None, 8.00), ("F", "2-HIGH", 16.25), (None, None, 32.50),
    ]
    spark.createDataFrame(
        ords, "o_orderstatus string, o_orderpriority string, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    def py_sets(rows, sets):
        out = []
        for keep in sets:
            groups: dict[tuple, list[float]] = {}
            for a, b, v in rows:
                key = (a if 0 in keep else None, b if 1 in keep else None)
                groups.setdefault(key, []).append(v)
            out += [(k[0], k[1], len(vs), sum(vs)) for k, vs in groups.items()]
        return sorted(out, key=repr)

    for name, rows, sets in (
        ("rollup_agg", li, [{0, 1}, {0}, set()]),
        ("cube_agg", ords, [{0, 1}, {0}, {1}, set()]),
    ):
        q = all_queries()[name]
        sdf = q.build(spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]
        orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
        sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
        oset, ocols_s = _rows_to_multiset(orows, ocols)
        assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s], name
        assert sset == oset, name
        got = sorted(((r[0], r[1], r[2], r[3]) for r in srows), key=repr)
        assert got == py_sets(rows, sets), name

    # the conflation actually occurred: lineitem's rollup output holds
    # MULTIPLE rows whose key columns are both NULL (the real
    # (NULL,NULL) data group, the NULL-flag subtotal, the grand total)
    sdf = all_queries()["rollup_agg"].build(spark, str(tmp_path))
    nn = [r for r in sdf.collect() if r[0] is None and r[1] is None]
    assert len(nn) == 3
    assert sorted(r.n_rows for r in nn) == [1, 3, 8]


def test_recursive_cte_unreachable_subtree_vs_python(spark, tmp_path):
    """recursive_cte forced edges: a MISSING intermediate node (6) cuts
    its whole subtree (12, 13, and 13's children 26, 27) out of the
    traversal even though those keys exist, and an orphan (100, parent
    50 absent) never joins.  Spark vs the registered DuckDB oracle vs a
    pure-Python BFS over parent = floor(key/2)."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    keys = [k for k in range(1, 16) if k != 6] + [13, 26, 27, 100]
    # dedupe while keeping the forced members obvious
    keys = sorted(set(keys))
    assert 6 not in keys and {13, 26, 27, 100} <= set(keys)
    pq.write_table(
        pa.table({"s_suppkey": pa.array(keys, pa.int64())}),
        str(tmp_path) + "/supplier.parquet",
    )
    q = all_queries()["recursive_cte"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    # pure-Python BFS from the root over parent = floor(k/2)
    present = set(keys)
    frontier, depth, levels = {1}, 0, {}
    while frontier:
        levels[depth] = frontier
        frontier = {k for k in present if k > 1 and k // 2 in frontier}
        depth += 1
    expect = {d: (len(ns), sum(ns)) for d, ns in levels.items()}
    got = {r.depth: (r.n_nodes, r.sum_nodes) for r in sdf.collect()}
    assert got == expect

    # the forced cut actually happened: 12/13 (children of the missing
    # 6), 26/27 (its grandchildren), and the orphan 100 all exist but
    # are unreachable, so depth 3 holds only 8..11,14,15
    reached = set().union(*levels.values())
    assert {12, 13, 26, 27, 100}.isdisjoint(reached)
    assert got[3] == (6, 8 + 9 + 10 + 11 + 14 + 15)
    assert max(got) == 3                      # nothing deeper survives


def test_listagg_stats_order_ties_and_median_vs_python(spark, tmp_path):
    """listagg_stats forced edges: two orders on the SAME date (the
    o_orderkey tie-break alone fixes the concatenation order), a
    single-order customer (median == its price), and an even-count
    customer (median interpolates the midpoint).  Spark vs the
    registered DuckDB oracle vs a pure-Python walk."""
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    D = datetime(2024, 5, 1)
    E = datetime(2024, 5, 2)
    rows = [
        # (o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice)
        # cust 50: same-date tie — keys 11 < 12 fix 'AB', not 'BA'
        (12, 50, "B", D, 10.25), (11, 50, "A", D, 20.75),
        # cust 100: single order
        (20, 100, "F", E, 300.50),
        # cust 150: even count — median midpoint of (1.25, 2.75) = 2.0
        (31, 150, "O", D, 1.25), (30, 150, "P", E, 2.75),
        # cust 151: NOT a multiple of 50 — filtered out
        (40, 151, "X", D, 9.00),
        # cust 200: odd count >1, interleaved dates
        (52, 200, "C", E, 5.25), (51, 200, "A", D, 7.75), (53, 200, "B", E, 6.50),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_orderdate timestamp, o_totalprice double",
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["listagg_stats"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    def med(xs):
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    expect = {}
    for ck in {r[1] for r in rows if r[1] % 50 == 0}:
        grp = sorted((r for r in rows if r[1] == ck), key=lambda r: (r[3], r[0]))
        expect[ck] = ("".join(r[2] for r in grp), len(grp), med([r[4] for r in grp]))
    got = {r.o_custkey: (r.status_seq, r.n_orders, r.med_price)
           for r in sdf.collect()}
    assert got == expect

    # forced edges occurred
    assert got[50] == ("AB", 2, 15.5)      # tie broken by key, not input order
    assert got[100] == ("F", 1, 300.5)     # singleton median
    assert got[150][2] == 2.0              # interpolated midpoint
    assert got[200] == ("ACB", 3, 6.5)     # date-major, key-minor ordering
    assert 151 not in got


def test_scalar_subquery_exact_boundary(spark, tmp_path):
    """scalar_subquery forced boundary: one order sits EXACTLY at
    price * n == 1.5 * sum (300 * 5 == 1.5 * 1000 — all terms
    binary-exact), so the strict > must exclude it in both engines
    while 400 qualifies."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [(1, 50.0), (2, 100.0), (3, 150.0), (4, 300.0), (5, 400.0)]
    spark.createDataFrame(rows, "o_orderkey bigint, o_totalprice double").write.parquet(
        str(tmp_path) + "/orders.parquet"
    )
    q = all_queries()["scalar_subquery"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    assert srows == [(5, 400.0)]  # 300*5 == 1500 == 1.5*1000: excluded


def test_union_by_name_alignment_and_strict_boundary(spark, tmp_path):
    """union_by_name forced edges: the supplier branch's columns are
    deliberately REVERSED (kind, entity_key) — unionByName must align
    by name, not position; a key present on BOTH sides stays duplicated
    (UNION ALL); and c_acctbal exactly 9000.0 is excluded by the strict
    >.  Spark vs the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    cust = [(1, 9500.25), (2, 9000.0), (3, 8999.75), (7, 9200.50)]
    supp = [(7,), (9,)]
    pq.write_table(
        pa.table({"c_custkey": pa.array([c[0] for c in cust], pa.int64()),
                  "c_acctbal": pa.array([c[1] for c in cust], pa.float64())}),
        str(tmp_path) + "/customer.parquet",
    )
    pq.write_table(
        pa.table({"s_suppkey": pa.array([s[0] for s in supp], pa.int64())}),
        str(tmp_path) + "/supplier.parquet",
    )
    q = all_queries()["union_by_name"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    # positional union would have produced kind='7' rows; by-name keeps
    # entity_key integral and kind in {'customer','supplier'}
    got = sorted(srows)
    assert got == [(1, "customer"), (7, "customer"), (7, "supplier"),
                   (9, "supplier")]
    assert (2, "customer") not in got      # exactly 9000.0: strict >


def test_having_filter_exact_count_boundary(spark, tmp_path):
    """having_filter forced boundary: a customer with EXACTLY 12 orders
    is kept, 11 is dropped.  Spark vs the registered DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = []
    k = 0
    for ck, n in ((1, 11), (2, 12), (3, 13), (4, 1)):
        for _ in range(n):
            rows.append((k, ck, 10.25 + k))
            k += 1
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["having_filter"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.o_custkey: r.n_orders for r in sdf.collect()}
    assert got == {2: 12, 3: 13}           # 12 kept at the boundary, 11 out


def test_in_subquery_null_outer_key_and_empty_subquery(spark, tmp_path):
    """in_subquery forced edges: a NULL o_custkey makes the IN predicate
    UNKNOWN (row filtered — three-valued logic), and an empty subquery
    (no customer above the threshold) yields ZERO rows, not an error.
    Spark vs the registered DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    cust = [(1, 6000.25), (2, 4000.50), (3, 5000.0)]  # 3: exactly at, strict >
    orders = [
        (10, 1, 100.25, "O"),     # qualifies
        (11, 2, 200.50, "O"),     # custkey below threshold
        (12, None, 300.75, "O"),  # NULL key: IN -> UNKNOWN -> dropped
        (13, 1, 400.00, "F"),     # wrong status
        (14, 3, 500.25, "O"),     # 5000.0 is NOT > 5000.0
    ]
    pq.write_table(
        pa.table({"c_custkey": pa.array([c[0] for c in cust], pa.int64()),
                  "c_acctbal": pa.array([c[1] for c in cust], pa.float64())}),
        str(tmp_path) + "/customer.parquet",
    )
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
        "o_orderstatus string",
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["in_subquery"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    assert srows == [(10, 1, 100.25)]

    # empty-subquery tier: nobody clears the threshold -> zero rows
    import shutil

    d2 = str(tmp_path) + "_empty"
    os.makedirs(d2, exist_ok=True)
    pq.write_table(
        pa.table({"c_custkey": pa.array([1, 2], pa.int64()),
                  "c_acctbal": pa.array([10.0, 20.0], pa.float64())}),
        d2 + "/customer.parquet",
    )
    shutil.copytree(str(tmp_path) + "/orders.parquet", d2 + "/orders.parquet")
    sdf2 = all_queries()["in_subquery"].build(spark, d2)
    assert sdf2.count() == 0
    orows2, _ = _oracle_on_tmp(q.oracle, d2)
    assert orows2 == []


def test_null_funcs_null_inputs_vs_python(spark, tmp_path):
    """null_funcs forced edges: NULL o_orderstatus flows through
    nullif -> coalesce to 'open' (same label as a real 'O'), NULL
    o_totalprice through greatest/least (both engines IGNORE NULL
    arguments — probed, not assumed — returning the non-null one, and
    NULL only when all arguments are) and through the CASE else-branch.
    Spark vs the registered DuckDB oracle vs pure Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (o_orderkey, o_orderstatus, o_totalprice)
        (1, "O", 100.25),
        (2, None, 200.50),        # nullif(NULL,'O') -> NULL -> 'open'
        (3, "P", 300.75),         # CASE 'P' -> price_or_null NULL
        (4, "F", None),           # greatest(NULL, 250000) -> 250000
        (5, None, None),          # everything NULL at once
        (6, "F", 250000.0),       # exactly AT the greatest/least pivot
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["null_funcs"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    P = 250000.0
    expect = {}
    for k, st, pr in rows:
        status_x = "open" if st in (None, "O") else st
        gr = max(v for v in (pr, P) if v is not None)
        le = min(v for v in (pr, P) if v is not None)
        expect[k] = (status_x, gr, le, None if st == "P" else pr)
    got = {r.o_orderkey: (r.status_x, r.floor_price, r.cap_price, r.price_or_null)
           for r in sdf.collect()}
    assert got == expect
    # forced edges occurred
    assert got[2][0] == "open" == got[1][0]   # NULL and 'O' conflate
    assert got[4] == ("F", P, P, None)        # NULL price ignored, not poisoned
    assert got[5] == ("open", P, P, None)
    assert got[6][1] == P and got[6][2] == P  # exact pivot both ways


def test_stats_agg_single_row_sample_variance_null(spark, tmp_path):
    """stats_agg forced edge: a SINGLE-row table makes the sample
    variance denominator (n-1) zero — both engines return NULL for the
    double division (probed: neither raises nor yields inf under this
    session's config), and a two-row table checks the exact algebra.
    Spark vs the registered DuckDB oracle vs Python."""
    import math

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    for tag, quantities in (("one", [5.25]), ("two", [1.25, 2.75])):
        d = str(tmp_path) + "_" + tag
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({"l_quantity": pa.array(quantities, pa.float64())}),
            d + "/lineitem.parquet",
        )
        q = all_queries()["stats_agg"]
        sdf = q.build(spark, d)
        srows = [tuple(r) for r in sdf.collect()]
        orows, ocols = _oracle_on_tmp(q.oracle, d)
        sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
        oset, ocols_s = _rows_to_multiset(orows, ocols)
        assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s], tag
        assert sset == oset, tag
        n = len(quantities)
        sq, sqq = sum(quantities), sum(x * x for x in quantities)
        if n == 1:
            expect = (1, sq / n, None, None)  # unrounded (r11)
        else:
            var = (sqq - sq * sq / n) / (n - 1)
            expect = (n, sq / n, var, math.sqrt(var))  # unrounded
        assert srows == [expect], tag
    # the n=1 case really exercised the 0-denominator branch
    assert srows[0][2] is not None  # (the LAST loop iteration is n=2)


def test_window_running_same_date_ties_vs_python(spark, tmp_path):
    """window_running forced edges: multiple orders on the SAME date
    (the o_orderkey tie-break fixes both the running-sum prefix order
    and row_number), a single-order customer, and exact-cents DECIMAL
    accumulation.  Spark vs the registered DuckDB oracle vs Python."""
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    D = datetime(2024, 7, 1)
    E = datetime(2024, 7, 2)
    rows = [
        # (o_orderkey, o_custkey, o_orderdate, o_totalprice)
        (12, 1, D, 10.25), (11, 1, D, 20.50), (13, 1, E, 30.75),  # same-date tie
        (20, 2, E, 99.99),                                        # singleton
        (31, 3, E, 5.25), (30, 3, D, 4.75),                       # input order reversed
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp, "
        "o_totalprice double",
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["window_running"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {}
    for ck in {r[1] for r in rows}:
        run = 0.0
        for seq, (ok, _c, _d, p) in enumerate(
            sorted(((r[0], r[1], r[2], r[3]) for r in rows if r[1] == ck),
                   key=lambda r: (r[2], r[0])), start=1):
            run += p
            expect[ok] = (round(run, 2), seq)
    got = {r.o_orderkey: (r.running_spend, r.order_seq) for r in sdf.collect()}
    assert got == expect
    # forced edges occurred: 11 before 12 despite input order; singleton
    assert got[11] == (20.5, 1) and got[12] == (30.75, 2)
    assert got[20] == (99.99, 1)
    assert got[30] == (4.75, 1) and got[31] == (10.0, 2)


def test_agg_collect_duplicate_keys_and_md5_vs_python(spark, tmp_path):
    """agg_collect forced edges: DUPLICATE order keys inside one group
    (array_sort keeps both), a negative key (string form '-5' must
    match in the md5 fingerprint), and a singleton group.  Spark vs the
    registered DuckDB oracle vs a hashlib.md5 recomputation."""
    import hashlib

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (o_orderkey, o_custkey) — custkeys are multiples of 10
        (5, 10), (5, 10), (7, 10), (-5, 10),  # dup key + negative key
        (42, 20),                             # singleton group
        (9, 15),                              # custkey 15: filtered out
        (3, 30), (1, 30), (2, 30),
    ]
    spark.createDataFrame(rows, "o_orderkey bigint, o_custkey bigint").write.parquet(
        str(tmp_path) + "/orders.parquet"
    )
    q = all_queries()["agg_collect"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {}
    for ck in (10, 20, 30):
        keys = sorted(r[0] for r in rows if r[1] == ck)
        expect[ck] = (
            hashlib.md5(",".join(str(k) for k in keys).encode()).hexdigest(),
            sum(keys),
            len(keys),
        )
    got = {r.o_custkey: (r.keys_md5, r.keys_sum, r.n_orders)
           for r in sdf.collect()}
    assert got == expect
    assert 15 not in got
    # the dup and the negative key are inside the fingerprint: the
    # sorted string is '-5,5,5,7' (numeric sort, not lexicographic)
    assert got[10][0] == hashlib.md5(b"-5,5,5,7").hexdigest()
    assert got[10][2] == 4


def test_json_funcs_path_edges_vs_oracle_and_pinned(spark, tmp_path):
    """json_funcs (get_json_object + string cast) forced path edges,
    mirroring the variant_json two-tier scheme: oracle-exact agreement
    on the integer/null/missing domain, then Spark-only pinned
    semantics outside it — under this session's non-ANSI casts,
    '3.9' -> 3 (truncation), 'abc' -> NULL, and a nested object
    extracts as its JSON text, which casts to NULL."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    safe = [
        # (event_id, event_type, props)
        (1, "purchase", '{"k": 7}'),
        (2, "signup", '{"k": null}'),
        (3, "purchase", "{}"),
        (4, "signup", '{"k": -12}'),
        (5, "purchase", '{"k": 9223372036854775807}'),
        (6, "click", '{"k": 999}'),   # filtered out by event_type
    ]
    pq.write_table(
        pa.table({"event_id": pa.array([r[0] for r in safe], pa.int64()),
                  "event_type": pa.array([r[1] for r in safe], pa.string()),
                  "props": pa.array([r[2] for r in safe], pa.string())}),
        str(tmp_path) + "/events.parquet",
    )
    q = all_queries()["json_funcs"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.event_id: r.prop_k for r in sdf.collect()}
    assert got == {1: 7, 2: None, 3: None, 4: -12, 5: 9223372036854775807}

    # Spark-only tier: non-ANSI string->bigint cast semantics
    wild = [
        ("float", '{"k": 3.9}', 3),
        ("float_neg", '{"k": -3.9}', -3),
        ("alpha", '{"k": "abc"}', None),
        ("nested", '{"k": {"x": 1}}', None),
        ("arr", '{"k": [1, 2]}', None),
        ("strnum", '{"k": "42"}', 42),
    ]
    wdf = spark.createDataFrame(
        [(lbl, p) for lbl, p, _e in wild], "label string, props string"
    )
    wgot = {
        r.label: r.b
        for r in wdf.select(
            "label",
            F.get_json_object("props", "$.k").cast("bigint").alias("b"),
        ).collect()
    }
    assert wgot == {lbl: e for lbl, _p, e in wild}


def test_explode_outer_empty_and_dup_tokens_vs_python(spark, tmp_path):
    """explode_outer forced edges: a document with ZERO matching tokens
    must survive as a NULL row (plain explode would drop it), repeated
    identical tokens explode to duplicate rows, consecutive separators
    produce empty tokens in BOTH engines' split, and an all-match
    document round-trips fully.  Spark vs the registered DuckDB oracle
    vs Python.  Tier 2 pins Spark's explode_outer(NULL array) -> one
    NULL row (the oracle's CASE-on-len form yields ZERO rows for a
    NULL list, so NULL text is outside the oracle's domain — the
    testdata has none)."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        # (doc_id, text) — doc_id % 25 == 0 passes the filter
        (0, "alpha beta gamma"),          # zero z-tokens -> NULL row
        (25, "zip zap zip"),              # dup token 'zip' twice
        (50, "zebra"),                    # all-match single token
        (75, "a  zb"),                    # double space -> empty token
        (100, ""),                        # empty text -> [''] -> no match
        (13, "zzz"),                      # filtered out by doc_id
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["explode_outer_demo"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = []
    for did, text in docs:
        if did % 25:
            continue
        toks = [t for t in text.split(" ") if t.startswith("z")]
        expect += [(did, t) for t in toks] or [(did, None)]
    assert sorted(srows, key=repr) == sorted(expect, key=repr)
    # forced edges occurred
    assert srows.count((25, "zip")) == 2      # duplicate token kept twice
    assert (0, None) in srows and (100, None) in srows
    assert (75, "zb") in srows and len([r for r in srows if r[0] == 75]) == 1

    # tier 2: NULL array explodes to one NULL row on the Spark side
    ndf = spark.createDataFrame([(1,)], "doc_id bigint").select(
        "doc_id", F.explode_outer(F.lit(None).cast("array<string>")).alias("tok")
    )
    assert [tuple(r) for r in ndf.collect()] == [(1, None)]


def test_map_funcs_null_values_vs_python(spark, tmp_path):
    """map_funcs forced edges: NULL map VALUES (a NULL o_orderstatus /
    o_orderpriority rides inside the map and element_at returns it as
    NULL without disturbing size or key enumeration).  Spark vs the
    registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (o_orderkey, o_orderstatus, o_orderpriority)
        (50, "O", "1-URGENT"),
        (100, None, "2-HIGH"),    # NULL value under 'status'
        (150, "F", None),         # NULL value under 'priority'
        (200, None, None),        # both NULL — map still has 2 keys
        (151, "X", "Y"),          # filtered out (not % 50)
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_orderpriority string"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["map_funcs"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = {r.o_orderkey: (r.status_val, r.priority_val, r.n_props, r.keys_csv)
           for r in sdf.collect()}
    assert got == {
        50: ("O", "1-URGENT", 2, "status,priority"),
        100: (None, "2-HIGH", 2, "status,priority"),
        150: ("F", None, 2, "status,priority"),
        200: (None, None, 2, "status,priority"),
    }


def test_variant_explode_arr_zero_and_negative_ids(spark, tmp_path):
    """variant_explode_arr forced edges: event_id 0 (all three array
    elements are 0 — only pos distinguishes the rows) and a NEGATIVE
    event_id (negative JSON numbers through the variant path).  Spark
    vs the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    ids = [0, -13, 13, 26, 7]  # 7 fails the % 13 filter
    pq.write_table(
        pa.table({"event_id": pa.array(ids, pa.int64())}),
        str(tmp_path) + "/events.parquet",
    )
    q = all_queries()["variant_explode_arr"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = sorted(
        (i, p, i * (p + 1)) for i in ids if i % 13 == 0 for p in range(3)
    )
    assert sorted(srows) == expect
    assert (0, 0, 0) in srows and (0, 2, 0) in srows   # dup elems, distinct pos
    assert (-13, 2, -39) in srows                      # negative through variant


def test_transpose_metrics_singleton_type_and_exact_cents(spark, tmp_path):
    """transpose_metrics forced edges (within the oracle's all-5-types
    domain): one event type with a SINGLE event, negative and zero
    values through the floor(x*100 + 0.5) cent conversion (all values
    binary-exact multiples of 0.25 so both engines floor identically).
    Tier 2 pins the domain restriction itself: with a type MISSING,
    Spark's transpose emits only the present types as columns (the
    oracle would still emit all five)."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        ("click", 1.25), ("click", -0.25),   # negative cents: -25
        ("error", 0.0),                      # zero value, singleton type
        ("purchase", 10.75), ("purchase", 0.25),
        ("signup", 2.50),
        ("view", 0.25), ("view", 0.25),      # duplicate values
    ]
    spark.createDataFrame(rows, "event_type string, value double").write.parquet(
        str(tmp_path) + "/events.parquet"
    )
    q = all_queries()["transpose_metrics"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = {tuple(r)[0]: tuple(r)[1:] for r in srows}
    cols = [c for c in sdf.columns][1:]
    assert cols == ["click", "error", "purchase", "signup", "view"]
    assert got["n_events"] == (2.0, 1.0, 2.0, 1.0, 2.0)
    assert got["sum_cents"] == (100.0, 0.0, 1100.0, 250.0, 50.0)

    # tier 2: a missing type narrows Spark's transposed schema
    d2 = str(tmp_path) + "_four"
    os.makedirs(d2, exist_ok=True)
    spark.createDataFrame(
        [r for r in rows if r[0] != "error"], "event_type string, value double"
    ).write.parquet(d2 + "/events.parquet")
    sdf2 = all_queries()["transpose_metrics"].build(spark, d2)
    assert [c for c in sdf2.columns][1:] == ["click", "purchase", "signup", "view"]


def test_array_funcs_short_and_empty_arrays_vs_python(spark, tmp_path):
    """array_funcs forced edges: a SHORT array (element_at index 64
    past the end -> NULL in both engines under this session's non-ANSI
    config), an EMPTY array (size 0, min/max/first NULL, zero
    positives), an all-negative vector, and a value exactly 0.0 (the
    strict > excludes it from n_positive).  Values are binary-exact
    float32 quarters so the float->double cast is value-preserving.
    Spark vs the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    vecs = {
        1: [0.25] * 63 + [-1.5],          # full 64-dim, negative last
        2: [1.25, -2.5, 3.75],            # SHORT: index 64 out of bounds
        3: [],                            # EMPTY
        4: [-0.25, -64.0],                # all negative
        5: [0.0, 0.25, -0.5],             # exact zero excluded by >
    }
    pq.write_table(
        pa.table({
            "vec_id": pa.array(sorted(vecs), pa.int64()),
            "embedding": pa.array(
                [vecs[k] for k in sorted(vecs)], pa.list_(pa.float32())
            ),
        }),
        str(tmp_path) + "/embeddings.parquet",
    )
    q = all_queries()["array_funcs"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {
        k: (
            len(v),
            v[0] if v else None,
            v[63] if len(v) >= 64 else None,
            max(v) if v else None,
            min(v) if v else None,
            sum(1 for x in v if x > 0),
        )
        for k, v in vecs.items()
    }
    got = {r.vec_id: (r.n_dims, r.first_dim, r.last_dim, r.max_dim,
                      r.min_dim, r.n_positive) for r in sdf.collect()}
    assert got == expect
    # forced edges occurred
    assert got[2][2] is None and got[2][0] == 3     # out-of-bounds -> NULL
    assert got[3] == (0, None, None, None, None, 0)  # empty array
    assert got[4][5] == 0 and got[5][5] == 1         # 0.0 not positive


def test_range_join_interval_endpoint_boundaries_vs_python(spark, tmp_path):
    """range_join forced endpoint edges: a pair EXACTLY 5 minutes apart
    is kept (closed upper bound <=), 5 minutes + 1 microsecond is
    dropped, the SAME instant is dropped (strict lower >), and a
    1-microsecond gap is kept.  Cross-user pairs at qualifying gaps
    must not match.  Spark vs the registered DuckDB oracle vs a
    pure-Python pair walk."""
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    B = datetime(2025, 4, 1, 12, 0, 0)
    FIVE = timedelta(minutes=5)
    US = timedelta(microseconds=1)
    ev = [
        # (event_id, user_id, ts)
        (1, 1, B),
        (2, 1, B + FIVE),          # exactly 5 min after 1 -> kept
        (3, 1, B + FIVE + US),     # 5 min + 1 us after 1 -> dropped
        (4, 2, B), (5, 2, B),      # same instant, same user -> dropped
        (6, 2, B + US),            # 1 us after 4/5 -> kept (twice)
        (7, 3, B + timedelta(minutes=2)),  # cross-user, in range of 1
    ]
    spark.createDataFrame(
        ev, "event_id bigint, user_id bigint, ts timestamp"
    ).write.parquet(str(tmp_path) + "/events.parquet")
    q = all_queries()["range_join"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = sorted(
        (ua, ea, eb, int((tb - ta) / US))
        for ea, ua, ta in ev
        for eb, ub, tb in ev
        if ua == ub and tb > ta and tb <= ta + FIVE
    )
    got = sorted((r.user_id, r.ev_a, r.ev_b, r.gap_us) for r in sdf.collect())
    assert got == expect
    # forced edges occurred
    assert (1, 1, 2, 300_000_000) in got            # exactly 5 min kept
    assert not any(p[1] == 1 and p[2] == 3 for p in got)  # +1 us dropped
    assert not any(p[1] == 4 and p[2] == 5 for p in got)  # same instant
    assert (2, 4, 6, 1) in got and (2, 5, 6, 1) in got    # 1 us gap, twice
    assert not any(p[1] == 1 and p[2] == 7 for p in got)  # cross-user


def test_window_range_frame_peers_and_day_boundaries_vs_python(spark, tmp_path):
    """window_range_frame forced edges: SAME-day orders are RANGE peers
    — each one's frame includes the other (the defining difference from
    a ROWS frame), a prior order exactly 30 days back is INSIDE the
    closed frame, 31 days back is outside, and a calendar gap > 30 days
    resets the rolling sum.  Spark vs the registered DuckDB oracle vs a
    pure-Python frame walk."""
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    D0 = datetime(2024, 1, 10)
    rows = [
        # (o_orderkey, o_custkey, o_orderdate, o_totalprice)
        (1, 1, D0, 10.00), (2, 1, D0, 20.00),        # same-day PEERS
        (3, 1, D0 + timedelta(days=30), 40.00),      # exactly 30d: includes 1,2
        (4, 1, D0 + timedelta(days=31), 80.00),      # 31d from D0: drops 1,2
        (5, 1, D0 + timedelta(days=90), 160.00),     # >30d gap: frame resets
        (6, 2, D0, 5.00),                            # another customer, alone
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp, "
        "o_totalprice double",
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["window_range_frame"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    days = {k: (d - datetime(1970, 1, 1)).days for k, _c, d, _p in rows}
    cents = {k: round(p * 100) for k, _c, _d, p in rows}
    expect = {
        k: sum(
            cents[k2]
            for k2, c2, _d2, _p2 in rows
            if c2 == c and days[k] - 30 <= days[k2] <= days[k]
        )
        for k, c, _d, _p in rows
    }
    got = {r.o_orderkey: r.cents_30d for r in sdf.collect()}
    assert got == expect
    # forced edges occurred
    assert got[1] == got[2] == 3000          # peers see EACH OTHER: 10+20
    assert got[3] == 7000                    # 30d back included: 10+20+40
    assert got[4] == 12000                   # 31d: only 40+80
    assert got[5] == 16000                   # gap reset: alone
    assert got[6] == 500


def test_semi_anti_join_null_keys_and_threshold_vs_python(spark, tmp_path):
    """semi_join / anti_join forced edges: a NULL c_custkey row never
    matches (semi DROPS it, anti KEEPS it — NOT EXISTS over a
    never-true predicate), an order with a NULL o_custkey matches
    nobody, and a customer whose only large order sits EXACTLY at the
    strict > threshold counts as having none.  Spark vs the registered
    DuckDB oracles vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    cust = [(1, "big"), (2, "edge"), (3, "small"), (None, "anon")]
    orders = [
        # (o_custkey, o_totalprice)
        (1, 500000.25),     # above BOTH thresholds
        (2, 400000.0),      # exactly at anti's 400k (NOT big for anti,
                            # but > semi's 300k, so 2 IS semi-matched)
        (3, 300000.0),      # exactly at semi's 300k: NOT a big order
        (None, 999999.75),  # NULL build key matches nobody
    ]
    spark.createDataFrame(cust, "c_custkey bigint, c_name string").write.parquet(
        str(tmp_path) + "/customer.parquet"
    )
    spark.createDataFrame(
        orders, "o_custkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    for name, thr in (("semi_join", 300000.0), ("anti_join", 400000.0)):
        q = all_queries()[name]
        sdf = q.build(spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]
        orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
        sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
        oset, ocols_s = _rows_to_multiset(orows, ocols)
        assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s], name
        assert sset == oset, name
        having = {
            ck for ck, p in orders if ck is not None and p > thr
        }
        if name == "semi_join":
            expect = sorted((ck, nm) for ck, nm in cust
                            if ck is not None and ck in having)
        else:
            expect = sorted(((ck, nm) for ck, nm in cust if ck not in having),
                            key=repr)
        assert sorted(srows, key=repr) == sorted(expect, key=repr), name

    # forced edges: NULL customer kept by anti, dropped by semi; the
    # exactly-at-400k customer 2 is anti-kept yet semi-matched (400k >
    # 300k), and the exactly-at-300k customer 3 is semi-dropped
    anti = {tuple(r) for r in all_queries()["anti_join"].build(spark, str(tmp_path)).collect()}
    semi = {tuple(r) for r in all_queries()["semi_join"].build(spark, str(tmp_path)).collect()}
    assert (None, "anon") in anti and not any(n == "anon" for _k, n in semi)
    assert (2, "edge") in anti and (2, "edge") in semi
    assert (3, "small") in anti and (3, "small") not in semi
    assert (1, "big") in semi and (1, "big") not in anti


def test_distinct_agg_nulls_and_duplicates_vs_python(spark, tmp_path):
    """distinct_agg forced edges: COUNT(DISTINCT) ignores NULLs in both
    engines — a column of dups+NULLs counts its non-null distincts, and
    an ALL-NULL column counts ZERO (not one).  Spark vs the registered
    DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (l_partkey, l_suppkey, l_returnflag) — l_returnflag all NULL
        (1, 7, None), (1, 7, None), (2, None, None), (None, 8, None),
        (2, 9, None), (None, None, None),
    ]
    spark.createDataFrame(
        rows, "l_partkey bigint, l_suppkey bigint, l_returnflag string"
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")
    q = all_queries()["distinct_agg"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    assert srows == [(2, 3, 0)]   # {1,2}, {7,8,9}, all-NULL -> 0


def test_window_rank_tied_prices_at_cut_vs_python(spark, tmp_path):
    """window_rank forced edge: FOUR equal-price orders for one
    customer — the o_orderkey ASC tie-break totalizes the order, so
    ranks are 1..4 (no rank gaps survive the tie-break) and the
    price_rank <= 3 cut keeps exactly the three lowest keys; a
    customer with fewer than 3 orders keeps them all.  Spark vs the
    registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (o_orderkey, o_custkey, o_totalprice) — cust 1: 4-way price tie
        (14, 1, 500.25), (11, 1, 500.25), (13, 1, 500.25), (12, 1, 500.25),
        (20, 1, 400.00),                 # below the tie, never ranks <= 3
        (30, 2, 9.75), (31, 2, 8.25),    # short partition: all kept
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["window_rank"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = []
    for ck in {r[1] for r in rows}:
        grp = sorted((r for r in rows if r[1] == ck),
                     key=lambda r: (-r[2], r[0]))
        expect += [(ck, r[0], r[2], i + 1) for i, r in enumerate(grp[:3])]
    assert sorted(srows) == sorted(expect)
    kept_keys = {r[1] for r in srows if r[0] == 1}
    assert kept_keys == {11, 12, 13}      # key ASC decides the 4-way tie
    assert {r[1] for r in srows if r[0] == 2} == {30, 31}


def test_grouping_sets_real_nulls_with_indicators_vs_python(spark, tmp_path):
    """grouping_sets forced edge: REAL NULLs in both grouping columns.
    Unlike rollup_agg/cube_agg, this query carries grouping()
    indicators, so a data-NULL group row (g=0) is DISTINGUISHABLE from
    a generated subtotal row (g=1) even though their key columns print
    identically — the output must contain BOTH, with different
    indicator values.  Spark vs the registered DuckDB oracle vs
    Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    li = [
        ("A", "F"), ("A", None), (None, "F"), (None, None), ("B", "O"),
        (None, "F"),
    ]
    spark.createDataFrame(
        [(f, s, 1.0) for f, s in li],
        "l_returnflag string, l_linestatus string, l_quantity double",
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")
    q = all_queries()["grouping_sets"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    from collections import Counter

    by_flag = Counter(f for f, _s in li)
    by_status = Counter(s for _f, s in li)
    expect = sorted(
        [(f, None, 0, 1, n) for f, n in by_flag.items()]
        + [(None, s, 1, 0, n) for s, n in by_status.items()]
        + [(None, None, 1, 1, len(li))],
        key=repr,
    )
    assert sorted(srows, key=repr) == expect
    # the disambiguation actually occurred: three rows print (NULL,
    # NULL, ...) and only the indicators tell them apart
    nn = sorted(r[2:] for r in srows if r[0] is None and r[1] is None)
    # data-NULL flag group (3 rows), data-NULL status subtotal (2 rows),
    # grand total (6 rows)
    assert nn == [(0, 1, 3), (1, 0, 2), (1, 1, 6)]


def test_funnel_strict_after_first_click_vs_python(spark, tmp_path):
    """funnel forced edges: a purchase at EXACTLY the first click's
    instant does NOT convert (strict >), one microsecond later does; a
    purchase BEFORE the only click does not; multiple qualifying
    purchases count the user once; a purchase-only user is outside the
    funnel.  A second tier pins the zero-clicker corpus: 0/0 conversion
    is NULL in BOTH engines.  Spark vs the registered DuckDB oracle vs
    Python."""
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    B = datetime(2025, 5, 1, 9, 0, 0)
    US = timedelta(microseconds=1)
    ev = [
        # (event_id, user_id, event_type, ts)
        (1, 1, "click", B), (2, 1, "purchase", B),            # same instant: no
        (3, 2, "click", B), (4, 2, "purchase", B + US),       # +1 us: yes
        (5, 3, "purchase", B - US), (6, 3, "click", B),       # before: no
        (7, 4, "click", B + timedelta(minutes=1)),            # click-only
        (8, 5, "purchase", B),                                # purchase-only
        (9, 2, "purchase", B + timedelta(hours=1)),           # dup convert
        (10, 6, "click", B), (11, 6, "click", B + US),        # first-click MIN
        (12, 6, "purchase", B + US),                          # after FIRST: yes
    ]
    spark.createDataFrame(
        ev, "event_id bigint, user_id bigint, event_type string, ts timestamp"
    ).write.parquet(str(tmp_path) + "/events.parquet")
    q = all_queries()["funnel"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    # Python walk: clickers 1,2,3,4,6; converted = 2 (+1us) and 6
    # (purchase after user 6's FIRST click at B, thanks to MIN)
    assert srows == [(5, 2, 0.4)]

    # tier 2: zero clickers -> 0/0 -> NULL conversion in both engines
    d2 = str(tmp_path) + "_zero"
    os.makedirs(d2, exist_ok=True)
    spark.createDataFrame(
        [(1, 9, "purchase", B)],
        "event_id bigint, user_id bigint, event_type string, ts timestamp",
    ).write.parquet(d2 + "/events.parquet")
    s2 = [tuple(r) for r in all_queries()["funnel"].build(spark, d2).collect()]
    o2, _ = _oracle_on_tmp(q.oracle, d2)
    assert s2 == [(0, 0, None)] and [tuple(r) for r in o2] == [(0, 0, None)]


def test_unpivot_metrics_nonnull_domain_and_null_divergence(spark, tmp_path):
    """unpivot_metrics forced edges: tier 1 checks the registered query
    against its oracle on boundary values (zero, negative, the % 100
    filter edge).  Tier 2 pins a REAL engine divergence (probed):
    Spark's DataFrame.unpivot KEEPS rows whose value is NULL while
    DuckDB's UNPIVOT drops them by default — so NULL metric cells are
    outside the registered oracle's domain (the testdata has none;
    DuckDB would need INCLUDE NULLS to agree)."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount)
        (100, 1, 0.0, -12.25, 0.25),    # zero and negative metrics
        (200, 1, 5.25, 300.50, 0.0),
        (200, 2, 7.75, 400.75, 0.5),    # same key, two line numbers
        (101, 1, 9.0, 9.0, 9.0),        # fails % 100 filter
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_linenumber bigint, l_quantity double, "
        "l_extendedprice double, l_discount double",
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")
    q = all_queries()["unpivot_metrics"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    expect = sorted(
        (k, ln, m, v)
        for k, ln, qy, ep, dc in rows
        if k % 100 == 0
        for m, v in (("quantity", qy), ("extendedprice", ep), ("discount", dc))
    )
    assert sorted(srows) == expect
    assert (100, 1, "extendedprice", -12.25) in srows
    assert (100, 1, "quantity", 0.0) in srows       # zero is NOT dropped

    # tier 2: the NULL-cell divergence is real (probed, now pinned)
    ndf = spark.createDataFrame(
        [(1, 2.0, None)], "k bigint, a double, b double"
    ).unpivot(["k"], ["a", "b"], "metric", "value")
    assert sorted((r.k, r.metric, r.value) for r in ndf.collect()) == [
        (1, "a", 2.0), (1, "b", None)   # Spark keeps the NULL cell
    ]
    import duckdb as _dd

    assert _dd.sql(
        """SELECT COUNT(*) FROM (SELECT 1 k, 2.0 a, NULL::DOUBLE b)
           UNPIVOT (value FOR metric IN (a, b))"""
    ).fetchone()[0] == 1                 # DuckDB drops it


def test_redact_pii_regex_boundaries_vs_python(spark, tmp_path):
    """redact_pii forced regex edges: an email at the very START and
    very END of a document, two adjacent emails, an email directly
    FOLLOWED by a phone (the greedy domain must backtrack to the TLD
    and leave '555-1234' for the phone pass), a near-email without a
    TLD that must NOT match, a 8-digit run whose SUFFIX matches the
    phone shape, and an injected doc (id % 7 == 0) whose text already
    held an email.  Spark vs the registered DuckDB oracle vs Python's
    re module (same patterns, same replace order)."""
    import hashlib
    import re

    from dpu_olap_spark.llm.curation import _EMAIL_RE, _PHONE_RE, _PII_MOD
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        # (doc_id, lang, text) — ids chosen NOT to trigger injection
        (1, "en", "a@b.co starts and ends z@y.org"),
        (2, "en", "x@y.com555-1234"),            # email then phone, glued
        (3, "en", "a@b c@d.com e@f.net"),        # no-TLD miss + two hits
        (4, "en", "digits 1234-5678 run"),       # suffix 234-5678 matches
        (5, "en", ""),                           # empty text
        (6, "en", "555-0000"),                   # phone only, whole text
        (7, "en", "already p@q.io here"),        # % 7 == 0: injection adds one
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "lang": pa.array([d[1] for d in docs], pa.string()),
                  "text": pa.array([d[2] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["redact_pii"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {}
    for did, lang, text in docs:
        itext = text
        if did % _PII_MOD == 0:
            itext = (f"{text} contact user{did}@example.com or "
                     f"555-{did % 10000:04d}")
        red = re.sub(_PHONE_RE, "<PHONE>", re.sub(_EMAIL_RE, "<EMAIL>", itext))
        expect[did] = (
            lang,
            len(re.findall(_EMAIL_RE, itext)),
            len(re.findall(_PHONE_RE, itext)),
            hashlib.md5(red.encode()).hexdigest(),
        )
    got = {r.doc_id: (r.lang, r.n_emails, r.n_phones, r.redacted_fp)
           for r in sdf.collect()}
    assert got == expect
    # forced edges occurred
    assert got[1][1] == 2 and got[2][1] == 1 and got[2][2] == 1
    assert got[3][1] == 2                      # 'a@b' without TLD missed
    assert got[4][2] == 1 and got[5] == ("en", 0, 0, expect[5][3])
    assert got[7][1] == 2                      # injection on top of one


def test_case_expr_threshold_boundaries_and_null(spark, tmp_path):
    """case_expr forced boundaries: prices exactly AT 300000.0 and
    100000.0 take the >= branch, a quarter below each falls through,
    and NULL price/status take the ELSE branch (UNKNOWN is not TRUE) in
    both engines.  Spark vs the registered DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        (1, "F", 300000.0), (2, "O", 299999.75),
        (3, "F", 100000.0), (4, "P", 99999.75),
        (5, None, None), (6, "F", None),
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["case_expr"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.o_orderkey: (r.bucket, r.is_final) for r in sdf.collect()}
    assert got == {
        1: ("large", 1), 2: ("medium", 0), 3: ("medium", 1),
        4: ("small", 0), 5: ("small", 0), 6: ("small", 1),
    }


def test_outer_joins_null_keys_and_join_side_predicate(spark, tmp_path):
    """outer_join / full_outer_join forced edges: a NULL customer key
    and a NULL order key never match each other (both surface as
    padded rows), and an order EXACTLY at the join-side predicate
    threshold fails the strict >, leaving its customer NULL-padded —
    the predicate lives in the JOIN condition, so the row is padded,
    not dropped.  Spark vs the registered DuckDB oracles vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    cust = [(1, "hit"), (2, "edge"), (3, "quiet"), (None, "anon")]
    orders = [
        # (o_orderkey, o_custkey, o_totalprice)
        (10, 1, 500000.25),   # above both 450k and 400k
        (11, 2, 450000.0),    # exactly at outer_join's 450k: padded
        (12, 2, 400000.0),    # exactly at full_outer's 400k: dropped side
        (13, None, 999999.5), # NULL order key: never matches
    ]
    spark.createDataFrame(cust, "c_custkey bigint, c_name string").write.parquet(
        str(tmp_path) + "/customer.parquet"
    )
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    for name in ("outer_join", "full_outer_join"):
        q = all_queries()[name]
        sdf = q.build(spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]
        orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
        sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
        oset, ocols_s = _rows_to_multiset(orows, ocols)
        assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s], name
        assert sset == oset, name

    lo = sorted((tuple(r) for r in
                 all_queries()["outer_join"].build(spark, str(tmp_path)).collect()),
                key=repr)
    # left outer: every customer appears; only order 10 clears > 450k
    assert (1, "hit", 10, 500000.25) in lo
    assert (2, "edge", None, None) in lo          # 450000.0 fails strict >
    assert (None, "anon", None, None) in lo
    assert len(lo) == 4

    fo = sorted((tuple(r) for r in
                 all_queries()["full_outer_join"].build(spark, str(tmp_path)).collect()),
                key=repr)
    # full outer vs orders > 400000: order 13 (NULL key) surfaces as an
    # order-side padded row; order 12 (== 400k) is filtered out of the
    # join input entirely, so customer 2 still pads
    assert (None, None, 13, 999999.5) in fo
    assert (2, "edge", 11, 450000.0) in fo        # 450k > 400k matches here
    assert (3, "quiet", None, None) in fo and (None, "anon", None, None) in fo
    assert not any(r[2] == 12 for r in fo)
    assert len(fo) == 5   # 1-10, 2-11, quiet pad, anon pad, order-13 pad


def test_group_size_hist_null_key_and_whale_vs_python(spark, tmp_path):
    """group_size_hist forced edges: a NULL o_custkey forms its OWN
    group in both engines (grouping treats NULLs as equal), a whale key
    dominates one bucket, and singleton keys pile into group_size 1.
    Spark vs the registered DuckDB oracle vs Python."""
    from collections import Counter

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    keys = [1] * 10 + [2, 3, 4] + [5] * 2 + [None] * 3
    spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "o_orderkey bigint, o_custkey bigint"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["group_size_hist"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    sizes = Counter(Counter(keys).values())
    expect = sorted((gs, n, gs * n) for gs, n in sizes.items())
    assert sorted(srows) == expect
    # NULLs grouped together: a size-3 bucket exists only because the
    # three NULL keys count as ONE group
    assert (3, 1, 3) in srows and (10, 1, 10) in srows and (1, 3, 3) in srows


def test_bitmap_presence_merge_idempotence_vs_python(spark, tmp_path):
    """bitmap_presence forced edges: the SAME priority seen in multiple
    market segments of one nation must set its bit ONCE (bit_or
    idempotence across the two-level partial merge), a nation with all
    five priorities fills bits 1..5 (bitmap 62, popcount 5), and a
    single-priority nation has popcount 1.  Spark (two-level partial
    aggregation) vs the registered DuckDB oracle (direct aggregation)
    vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    cust = [
        # (c_custkey, c_nationkey, c_mktsegment)
        (1, 0, "AUTO"), (2, 0, "STEEL"),      # nation 0: two segments
        (3, 1, "AUTO"),                       # nation 1: all-five customer
        (4, 2, "FURN"),                       # nation 2: one priority
    ]
    orders = [
        # (o_custkey, o_orderpriority)
        (1, "1-URGENT"), (2, "1-URGENT"),     # same prio via BOTH segments
        (2, "3-MEDIUM"),
        (3, "1-URGENT"), (3, "2-HIGH"), (3, "3-MEDIUM"),
        (3, "4-NOT SPECIFIED"), (3, "5-LOW"),
        (4, "5-LOW"), (4, "5-LOW"),
    ]
    spark.createDataFrame(
        cust, "c_custkey bigint, c_nationkey bigint, c_mktsegment string"
    ).write.parquet(str(tmp_path) + "/customer.parquet")
    spark.createDataFrame(
        orders, "o_custkey bigint, o_orderpriority string"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["bitmap_presence"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    nation = dict((ck, nk) for ck, nk, _s in cust)
    bitmaps: dict[int, int] = {}
    for ck, prio in orders:
        bitmaps[nation[ck]] = bitmaps.get(nation[ck], 0) | (1 << int(prio[0]))
    expect = {nk: (bm, bin(bm).count("1")) for nk, bm in bitmaps.items()}
    got = {r.c_nationkey: (r.prio_bitmap, r.n_prios) for r in sdf.collect()}
    assert got == expect
    assert got[0] == ((1 << 1) | (1 << 3), 2)  # cross-segment prio once
    assert got[1] == (62, 5)                   # bits 1..5 all set
    assert got[2] == (32, 1)                   # dup orders, one bit


def test_train_test_split_md5_bucket_boundaries_vs_python(spark, tmp_path):
    """train_test_split forced boundaries: doc_ids sitting EXACTLY on
    the md5-prefix cut points ('e5' is the last train bucket, 'e6' the
    first val bucket, 'f2' the last val, 'f3' the first test — string
    comparison is strict <), plus corner buckets '00' and 'ff'.  The
    ids were searched offline so each boundary bucket is guaranteed
    present.  Spark vs the registered DuckDB oracle vs Python."""
    import hashlib
    from collections import Counter

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    # md5(str(id))[:2]: 265->'e5' 572->'e6' 149->'f2' 241->'f3'
    # 168->'00' 373->'ff' (precomputed; re-asserted below)
    ids = [265, 572, 149, 241, 168, 373] + list(range(40))
    docs = [(i, "en" if i % 3 else "de", 100 + i) for i in ids]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "lang": pa.array([d[1] for d in docs], pa.string()),
                  "n_chars": pa.array([d[2] for d in docs], pa.int64())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["train_test_split"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    def split_of(i):
        b = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "train" if b < "e6" else ("val" if b < "f3" else "test")

    # the searched ids really sit on the boundaries
    assert [hashlib.md5(str(i).encode()).hexdigest()[:2]
            for i in (265, 572, 149, 241, 168, 373)] == [
        "e5", "e6", "f2", "f3", "00", "ff"]
    assert split_of(265) == "train" and split_of(572) == "val"
    assert split_of(149) == "val" and split_of(241) == "test"

    tagged = [(split_of(i), lang, nc) for i, lang, nc in docs]
    expect = sorted(
        (s, n, sum(nc for s2, _l, nc in tagged if s2 == s),
         len({l for s2, l, _nc in tagged if s2 == s}))
        for s, n in Counter(s for s, _l, _nc in tagged).items()
    )
    assert sorted(srows) == expect
    assert {r[0] for r in srows} == {"train", "val", "test"}


def test_observed_clean_char_threshold_and_lang_filter(spark, tmp_path):
    """observed_clean forced boundaries: n_chars exactly 120 is kept
    (>=), 119 dropped, and a lang outside {en,de,fr} drops a long
    document.  Spark vs the registered DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (1, "en", 120), (2, "en", 119), (3, "de", 5000),
        (4, "zz", 5000), (5, "fr", 121), (6, "de", 0),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "lang": pa.array([d[1] for d in docs], pa.string()),
                  "n_chars": pa.array([d[2] for d in docs], pa.int64())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["observed_clean"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    assert sorted(srows) == [(1, "en", 120), (3, "de", 5000), (5, "fr", 121)]


def test_quality_score_token_and_stopword_boundaries(spark, tmp_path):
    """quality_score forced boundaries: exactly MIN_TOKENS (20) and
    MAX_TOKENS (2000) are inside the length band, 19 and 2001 are out;
    the stopword rule hits*10 >= n passes at exactly 2 stopwords in 20
    tokens and fails at 1; quality lands on 0.0 / 0.5 / 1.0 exactly.
    Spark vs the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.functions.text import MAX_TOKENS, MIN_TOKENS, STOPWORDS
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    assert (MIN_TOKENS, MAX_TOKENS) == (20, 2000)
    filler = "zzz"
    assert filler not in STOPWORDS and "the" in STOPWORDS
    docs = [
        # exactly 20 tokens, exactly 2 stopwords: both rules pass
        (1, " ".join(["the", "the"] + [filler] * 18)),
        # exactly 20 tokens, 1 stopword: stopword rule fails (10 < 20)
        (2, " ".join(["the"] + [filler] * 19)),
        # 19 tokens, all stopwords: length fails, stopwords pass
        (3, " ".join(["the"] * 19)),
        # exactly 2000 tokens, 200 stopwords (exact 10%): both pass
        (4, " ".join(["the"] * 200 + [filler] * 1800)),
        # 2001 tokens: length fails
        (5, " ".join(["the"] * 2001)),
        # 19 filler tokens: both fail -> quality 0.0
        (6, " ".join([filler] * 19)),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["quality_score"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = {r.doc_id: (r.len_ok, r.stopword_ok, r.quality) for r in sdf.collect()}
    assert got == {
        1: (1, 1, 1.0),   # both boundaries exactly met
        2: (1, 0, 0.5),   # 1 stopword in 20: 10 < 20
        3: (0, 1, 0.5),   # 19 tokens: below MIN
        4: (1, 1, 1.0),   # 2000 tokens, exact 10% stopwords
        5: (0, 1, 0.5),   # 2001 tokens: above MAX
        6: (0, 0, 0.0),
    }


def test_lang_id_tie_break_cascade_vs_python(spark, tmp_path):
    """lang_id forced tie edges: the fixed argmax order en > es > de >
    fr decides EVERY pairwise tie in cascade order — an en/es tie goes
    'en', an es/de tie 'es', a de/fr tie 'de', fr wins only strictly,
    and zero hits everywhere is 'unknown'.  Spark vs the registered
    DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        # (doc_id, lang label [unused by pred], text)
        (1, "xx", "the el"),        # en==es==1 -> en
        (2, "xx", "el der"),        # es==de==1 -> es
        (3, "xx", "der le"),        # de==fr==1 -> de
        (4, "xx", "le"),            # only fr -> fr (via the else branch)
        (5, "xx", "zzz qqq"),       # nothing -> unknown
        (6, "xx", "the el el"),     # es strictly wins over en
        (7, "xx", "le et les le"),  # fr dominates every other
        (8, "xx", ""),              # empty text: [''] -> unknown
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "lang": pa.array([d[1] for d in docs], pa.string()),
                  "text": pa.array([d[2] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["lang_id"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.doc_id: r.pred_lang for r in sdf.collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "fr",
                   5: "unknown", 6: "es", 7: "fr", 8: "unknown"}


def test_fingerprint_multibyte_head_and_null_metadata(spark, tmp_path):
    """fingerprint forced edges: the 64-char head boundary cut INSIDE a
    multibyte region (substr counts CODEPOINTS in both engines, md5
    then hashes the UTF-8 bytes), text shorter than 64 chars, and empty
    text — all re-derived with hashlib.  Tier 2 pins a REAL divergence
    that keeps NULL metadata outside the oracle's domain: Spark's
    concat_ws skips a NULL lang AND its separator (md5 of 'src') while
    DuckDB's concat keeps the ':' literal (md5 of ':src')."""
    import hashlib

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    long_multi = "é" * 63 + "ö" + "tail after the cut"   # cut lands after ö
    docs = [
        # (doc_id, lang, source, text)
        (1, "en", "web", long_multi),
        (2, "de", "books", "short"),
        (3, "fr", "web", ""),
        (4, "", "web", "x" * 64),     # empty lang still joins with ':'
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "lang": pa.array([d[1] for d in docs], pa.string()),
                  "source": pa.array([d[2] for d in docs], pa.string()),
                  "text": pa.array([d[3] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["fingerprint"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    got = {r.doc_id: (r.fp_full, r.fp_head, r.fp_meta) for r in sdf.collect()}
    assert got == {
        d: (md5(t), md5(t[:64]), md5(f"{l}:{s}")) for d, l, s, t in docs
    }
    # the multibyte head really cut after codepoint 64 (the ö)
    assert got[1][1] == md5("é" * 63 + "ö")

    # tier 2: NULL metadata diverges between concat_ws and concat
    ndf = spark.createDataFrame([(None, "src")], "lang string, source string")
    sfp = ndf.select(F.md5(F.concat_ws(":", "lang", "source")).alias("m")).first().m
    assert sfp == md5("src")              # separator dropped with the NULL
    import duckdb as _dd

    ofp = _dd.sql(
        "SELECT md5(concat(NULL, ':', 'src'))"
    ).fetchone()[0]
    assert ofp == md5(":src")             # DuckDB keeps the ':' literal


def test_token_count_bpe_segmentation_edges_vs_python(spark, tmp_path):
    """token_count forced edges: empty text (whitespace split yields
    one empty token but the BPE regex finds none — fertility 0), an
    UPPERCASE run that the lowercase-only regex segments into
    single-char punctuation-class matches, a glued letter/digit/punct
    string with fertility 6, and a double space adding a phantom
    whitespace token.  Spark vs the registered DuckDB oracle vs
    Python's re module."""
    import re

    from dpu_olap_spark.llm.text_analysis import _BPE_RE
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (1, ""),             # ws=1 (['']), sub=0
        (2, "a1b2!?"),       # a|1|b|2|!|? -> 6 subtokens in 1 word
        (3, "ABC abc"),      # A,B,C single-char matches + 'abc'
        (4, "a  b"),         # ['a','','b'] -> 3 ws tokens, 2 subtokens
        (5, "12345"),        # one digit-run subtoken
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["token_count"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {}
    for did, text in docs:
        ws = len(text.split(" "))
        sub = len(re.findall(_BPE_RE, text))
        expect[did] = (ws, sub, round(sub / ws, 4))
    got = {r.doc_id: (r.n_ws_tokens, r.n_sub_tokens, r.fertility)
           for r in sdf.collect()}
    assert got == expect
    assert got[1] == (1, 0, 0.0)
    assert got[2] == (1, 6, 6.0)
    assert got[3] == (2, 4, 2.0)      # uppercase chars segment singly
    assert got[4] == (3, 2, 0.6667)


def test_rolling_fingerprint_order_sensitivity_vs_python(spark, tmp_path):
    """rolling_fingerprint forced edges: the SAME token multiset in two
    different orders yields two DIFFERENT fingerprints (the property
    the md5 set-fingerprints cannot see), empty text folds to 0, an
    empty mid-token (double space) contributes code 0*256+0, a
    multibyte first char uses its codepoint, and a 200-token document
    wraps the modulus.  Spark vs the registered DuckDB oracle vs a
    pure-Python fold."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (1, "alpha beta gamma"),
        (2, "gamma beta alpha"),      # same tokens, reordered
        (3, ""),                      # -> fp 0
        (4, "a  b"),                  # empty token in the middle
        (5, "élan start"),            # ord('é') = 233 leads
        (6, " ".join(f"tok{i}" for i in range(200))),  # modulus wrap
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["rolling_fingerprint"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    def fold(text):
        acc = 0
        for t in text.split(" "):
            code = (ord(t[0]) if t else 0) * 256 + len(t)
            acc = (acc * 31 + code) % 1000000007
        return acc

    got = {r.doc_id: r.roll_fp for r in sdf.collect()}
    assert got == {d: fold(t) for d, t in docs}
    assert got[1] != got[2]          # order sensitivity actually held
    assert got[3] == 0
    # the 200-token doc really wrapped the modulus at least once
    acc = 0
    wrapped = False
    for t in docs[5][1].split(" "):
        raw = acc * 31 + (ord(t[0]) * 256 + len(t))
        wrapped = wrapped or raw >= 1000000007
        acc = raw % 1000000007
    assert wrapped


def test_text_clean_unicode_strip_and_collapse_vs_python(spark, tmp_path):
    """text_clean forced edges: non-ASCII letters are OUTSIDE [a-z0-9 ]
    and get stripped even after lowercasing ('Héllo' -> 'hllo'),
    an all-punctuation document cleans to the empty string, runs of
    spaces collapse, and leading/trailing space trims.  Spark vs the
    registered DuckDB oracle vs Python's re module."""
    import re

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (1, "Héllo,  Wörld!"),
        (2, "!!! ??? ..."),
        (3, "  spaced   out  "),
        (4, "MiXeD123cAsE"),
        (5, ""),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["text_clean"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    def clean(text):
        s = re.sub("[^a-z0-9 ]", "", text.lower())
        return re.sub(" +", " ", s).strip()

    got = {r.doc_id: (r.cleaned, r.clean_len, r.removed) for r in sdf.collect()}
    assert got == {
        d: (clean(t), len(clean(t)), len(t) - len(clean(t))) for d, t in docs
    }
    assert got[1][0] == "hllo wrld"   # é/ö stripped AFTER lowercase
    assert got[2][0] == "" and got[2][1] == 0
    assert got[3][0] == "spaced out"
    assert got[4][0] == "mixed123case"


def test_token_positions_one_based_and_empty_tokens(spark, tmp_path):
    """token_positions forced edges: positions are 1-BASED, a repeated
    token keeps distinct positions, a double space injects an empty
    token at its exact position, and empty text yields one row at
    position 1 with the empty token.  Spark vs the registered DuckDB
    oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (0, "to be or not to be"),    # 'to'/'be' repeat at distinct pos
        (50, "a  b"),                 # empty token at pos 2
        (100, ""),                    # one row: (1, '')
        (7, "never seen"),            # fails doc_id % 50
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["token_positions"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = sorted(
        (did, i, t)
        for did, text in docs if did % 50 == 0
        for i, t in enumerate(text.split(" "), start=1)
    )
    assert sorted(srows) == expect
    assert (0, 1, "to") in srows and (0, 5, "to") in srows
    assert (50, 2, "") in srows and (100, 1, "") in srows


def test_repetition_score_shingle_boundaries_vs_python(spark, tmp_path):
    """repetition_score forced edges: a document with EXACTLY 3 tokens
    (one trigram, rep_ratio 0), exactly 2 tokens (filtered OUT by the
    >= NGRAM guard), an all-same-token document (every gram identical,
    ratio (n-1)/n), and a half-repeated document.  Spark vs the
    registered DuckDB oracle vs a pure-Python shingle walk."""
    from dpu_olap_spark.llm.curation import _NGRAM
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    assert _NGRAM == 3
    docs = [
        (1, "en", "a b c"),                   # exactly 3 tokens: 1 gram
        (2, "en", "a b"),                     # 2 tokens: filtered out
        (3, "en", "x x x x x"),               # 3 identical grams of 3
        (4, "en", "a b c a b c a b c"),       # cyclic repeats
        (5, "en", "p q r s"),                 # 2 grams, both distinct
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "lang": pa.array([d[1] for d in docs], pa.string()),
                  "text": pa.array([d[2] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["repetition_score"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {}
    for did, lang, text in docs:
        t = text.split(" ")
        if len(t) < _NGRAM:
            continue
        gs = [" ".join(t[i:i + _NGRAM]) for i in range(len(t) - _NGRAM + 1)]
        expect[did] = (lang, len(gs), len(set(gs)),
                       1.0 - len(set(gs)) / len(gs))  # unrounded
    got = {r.doc_id: (r.lang, r.n_grams, r.n_distinct, r.rep_ratio)
           for r in sdf.collect()}
    assert got == expect
    assert 2 not in got                       # below-NGRAM doc filtered
    assert got[1] == ("en", 1, 1, 0.0)
    assert got[3] == ("en", 3, 1, 1.0 - 1 / 3)
    assert got[4] == ("en", 7, 3, 1.0 - 3 / 7)


def test_text_stats_empty_and_phantom_tokens_vs_python(spark, tmp_path):
    """text_stats forced edges: empty text (the whitespace split still
    yields ONE empty token, so ratios divide by 1 not 0), double-space
    phantom tokens deflating avg_token_len, an all-stopword document
    (ratio exactly 1.0), and multibyte chars counted as single
    codepoints.  Spark vs the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.functions.text import STOPWORDS
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        # (doc_id, lang, n_chars, text)
        (1, "en", 0, ""),
        (2, "en", 4, "a  b"),                 # phantom middle token
        (3, "en", 10, "the and is"),          # 3/3 stopwords
        (4, "fr", 5, "héllo"),                # 5 codepoints, 0 stopwords
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "lang": pa.array([d[1] for d in docs], pa.string()),
                  "n_chars": pa.array([d[2] for d in docs], pa.int64()),
                  "text": pa.array([d[3] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["text_stats"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = {}
    for did, lang, nc, text in docs:
        toks = text.split(" ")
        nonspace = len(text.replace(" ", ""))
        sw = sum(1 for t in toks if t in STOPWORDS)
        expect[did] = (lang, len(toks), len(text), nc, nonspace,
                       round(nonspace / len(toks), 4), sw,
                       round(sw / len(toks), 4))
    got = {r.doc_id: (r.lang, r.n_tokens, r.text_len, r.n_chars,
                      r.n_nonspace, r.avg_token_len, r.n_stopwords,
                      r.stopword_ratio) for r in sdf.collect()}
    assert got == expect
    assert got[1][1] == 1 and got[1][5] == 0.0   # [''] divides by 1
    assert got[2][1] == 3 and got[2][5] == round(2 / 3, 4)
    assert got[3][7] == 1.0                      # all-stopword ratio
    assert got[4][2] == 5                        # codepoint length


def test_token_hist_tie_at_top50_cut_vs_python(spark, tmp_path):
    """token_hist forced edge: sixty singleton tokens tie at the
    rank-50 cut behind three frequent tokens — token ASC alone decides
    which 47 singletons survive.  Spark vs the registered DuckDB
    oracle vs Python."""
    from collections import Counter

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    frequent = ["aaa"] * 5 + ["bbb"] * 4 + ["ccc"] * 3
    singles = [f"s{i:02d}" for i in range(60)]      # s00..s59, one each
    corpus = frequent + singles
    docs = [(i, " ".join(corpus[i::7])) for i in range(7)]  # spread over docs
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["token_hist"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    counts = Counter(corpus)
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert sorted(srows, key=lambda r: (-r[1], r[0])) == expect
    # the tie straddles the cut: 47 singletons kept, 13 dropped by name
    kept = {t for t, _n in srows if t.startswith("s")}
    assert kept == {f"s{i:02d}" for i in range(47)}


def test_date_funcs_timestamp_filter_boundary(spark, tmp_path):
    """date_funcs forced boundary: an order at EXACTLY 1997-01-01
    00:00:00 passes the >= filter, one microsecond earlier does not;
    year/month/day extraction and month truncation pin New Year's
    midnight and a month's last microsecond.  Spark vs the registered
    DuckDB oracle."""
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    CUT = datetime(1997, 1, 1)
    rows = [
        (1, CUT),                                     # exactly at the cut
        (2, CUT - timedelta(microseconds=1)),         # 1 us early: dropped
        (3, datetime(1997, 3, 31, 23, 59, 59, 999999)),  # month's last us
        (4, datetime(1998, 12, 31, 23, 59, 59)),      # year end
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderdate timestamp"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["date_funcs"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = {r.o_orderkey: (r.order_year, r.order_month, r.order_day,
                          r.month_start) for r in sdf.collect()}
    assert 2 not in got and len(got) == 3
    assert got[1] == (1997, 1, 1, CUT)
    assert got[3] == (1997, 3, 31, datetime(1997, 3, 1))
    assert got[4] == (1998, 12, 31, datetime(1998, 12, 1))


def test_param_sql_date_range_boundaries(spark, tmp_path):
    """param_sql forced boundaries: an order at EXACTLY the :start
    parameter (1995-01-01 00:00:00) is included by >=, one at EXACTLY
    :end (1996-01-01) is excluded by <, and the last microsecond of
    1995 is included — the bound parameters must behave like inlined
    literals.  Spark vs the registered DuckDB oracle."""
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    S, E = datetime(1995, 1, 1), datetime(1996, 1, 1)
    rows = [
        (1, "1-URGENT", S, 10.25),
        (2, "1-URGENT", E, 999.0),                      # AT :end: out
        (3, "2-HIGH", E - timedelta(microseconds=1), 5.50),
        (4, "2-HIGH", S - timedelta(microseconds=1), 777.0),  # before: out
        (5, "3-MEDIUM", datetime(1995, 7, 4), 2.75),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_orderpriority string, o_orderdate timestamp, "
        "o_totalprice double",
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["param_sql"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.o_orderpriority: (r.n_orders, r.sum_cents) for r in sdf.collect()}
    assert got == {
        "1-URGENT": (1, 1025),    # only the AT-:start row
        "2-HIGH": (1, 550),       # only the last-us-of-1995 row
        "3-MEDIUM": (1, 275),
    }


def test_identifier_sql_group_by_all_with_null_status(spark, tmp_path):
    """identifier_sql forced edge: GROUP BY ALL over a status column
    containing NULL — the NULL statuses form their own group through
    the IDENTIFIER()-bound relation, exactly as through a literal
    table name.  Spark vs the registered DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        (1, "O", 1.25), (2, "O", 2.50), (3, None, 4.75),
        (4, None, 8.25), (5, "F", 16.00),
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["identifier_sql"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.o_orderstatus: (r.n_orders, r.sum_cents) for r in sdf.collect()}
    assert got == {"O": (2, 375), None: (2, 1300), "F": (1, 1600)}


def test_pipe_sql_having_boundary_and_floored_average(spark, tmp_path):
    """pipe_sql forced edges: a segment with EXACTLY 6 open orders
    survives the post-aggregation WHERE n > 5 while one with exactly 5
    is cut; a NULL market segment with enough orders forms its own
    surviving group; the EXTEND's floored average is forced onto a
    .5-cent value (275/2 -> 137).  Spark vs the registered DuckDB
    oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    cust = [(1, "AUTO"), (2, "STEEL"), (3, None)]
    orders = []
    k = 0
    # AUTO: exactly 6 open orders, cents 125 + 150 + 4x100 -> avg 112.5
    for p in (1.25, 1.50, 1.0, 1.0, 1.0, 1.0):
        orders.append((k, 1, "O", p)); k += 1
    # STEEL: exactly 5 open orders -> cut by n > 5
    for _ in range(5):
        orders.append((k, 2, "O", 9.99)); k += 1
    # NULL segment: 7 open orders + one non-open that must not count
    for _ in range(7):
        orders.append((k, 3, "O", 2.0)); k += 1
    orders.append((k, 3, "F", 1000.0)); k += 1
    spark.createDataFrame(cust, "c_custkey bigint, c_mktsegment string").write.parquet(
        str(tmp_path) + "/customer.parquet"
    )
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                "o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["pipe_sql"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.c_mktsegment: (r.n_orders, r.sum_cents, r.avg_cents)
           for r in sdf.collect()}
    assert got == {
        "AUTO": (6, 675, 112),   # 675/6 = 112.5 floors to 112
        None: (7, 1400, 200),
    }
    assert "STEEL" not in got    # exactly 5 fails n > 5


def test_sql_udf_inlined_expression_edges(spark, tmp_path):
    """sql_udf forced value edges through the Catalyst-inlined SQL
    function: zero, negative, and large prices through p*0.9 + 50
    (all binary-exact multiples of 0.25 times 0.9 stay exact in
    float64 well below 2**53 — asserted against Python), and the 'F'
    status filter.  Spark vs the registered DuckDB oracle."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        (1, "F", 0.0),            # -> 50.0
        (2, "F", -100.0),         # -> -40.0
        (3, "F", 1000000.0),      # -> 900050.0
        (4, "O", 77.0),           # filtered
        (5, "F", 0.25),
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["sql_udf"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.o_orderkey: r.discounted for r in sdf.collect()}
    assert got == {k: p * 0.9 + 50.0 for k, s, p in rows if s == "F"}
    assert got[1] == 50.0 and got[2] == -40.0 and 4 not in got


def test_cogroup_asof_same_day_and_no_prior_order(spark, tmp_path):
    """cogroup_asof forced edges: an event the SAME DAY as an order is
    attributed to it (backward as-of is <=), an event BEFORE any order
    keeps a NULL epoch, duplicate order dates dedupe (merge_asof's
    last-match equals the oracle's max), and a user with no orders at
    all stays all-NULL.  Spark (cogrouped applyInPandas) vs the
    registered DuckDB oracle vs Python."""
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    D1, D2 = datetime(2024, 3, 1), datetime(2024, 3, 10)
    events = [
        # (user_id, ts)
        (50, datetime(2024, 3, 1, 8)),      # SAME day as order D1
        (50, datetime(2024, 2, 28, 9)),     # before any order: NULL
        (50, datetime(2024, 3, 15, 10)),    # after D2
        (50, datetime(2024, 3, 15, 11)),    # same epoch, second event
        (100, datetime(2024, 1, 1)),        # user with NO orders
        (51, datetime(2024, 3, 2)),         # fails user_id % 50
    ]
    orders = [
        (50, D1), (50, D2), (50, D2),       # duplicate order date
        (150, datetime(2024, 1, 1)),        # order-only user: absent
    ]
    spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(events)],
        "event_id bigint, user_id bigint, ts timestamp",
    ).write.parquet(str(tmp_path) + "/events.parquet")
    spark.createDataFrame(
        [(i, u, d) for i, (u, d) in enumerate(orders)],
        "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp",
    ).write.parquet(str(tmp_path) + "/orders.parquet")
    q = all_queries()["cogroup_asof"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = {(r.user_id, r.epoch_date): r.n_events for r in sdf.collect()}
    assert got == {
        (50, D1.date()): 1,     # same-day attribution
        (50, None): 1,          # pre-order event
        (50, D2.date()): 2,     # two events on the deduped epoch
        (100, None): 1,         # no orders at all
    }


def test_dedup_keep_best_synthesized_clones_and_singletons(spark, tmp_path):
    """dedup_keep_best forced edges: the corpus synthesizes a clone
    (-id-1) for every doc_id % 10 == 0, so doc 10 forms a 2-member
    cluster with its clone -11 (equal token counts — the doc_id ASC
    tie-break elects -11), two SAME-TEXT originals 20 and 30 merge with
    their clones into one 4-member cluster, and a unique doc stays a
    singleton electing itself.  Spark vs the registered DuckDB
    recursive-CTE oracle vs Python expectations."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (10, "alpha beta gamma delta epsilon"),
        (20, "one two three four five six"),
        (30, "one two three four five six"),     # same text as 20
        (3, "lonely unique text with tokens"),   # singleton, no clone
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["dedup_keep_best"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    got = {r.cluster_id: (r.kept_doc, r.kept_tokens, r.n_members)
           for r in sdf.collect()}
    # doc 10 + clone -11: tie on 5 tokens -> lowest doc_id (-11) kept
    assert got[-11] == (-11, 5, 2)
    # docs 20, 30 and clones -21, -31 share one text -> one 4-cluster
    assert got[-31] == (-31, 6, 4)
    # unique doc 3 is its own cluster
    assert got[3] == (3, 5, 1)
    assert len(got) == 3


def test_vector_stats_norms_and_empty_vector_divergence(spark, tmp_path):
    """vector_stats forced edges: per-label min/max dims and norms on
    binary-exact quarter values (a 3-4-0 vector has norm exactly 5),
    single-vector labels.  Tier 2 pins the domain restriction found by
    construction: an EMPTY embedding vanishes from the oracle's unnest
    entirely (changing n_vecs) while Spark's fold-based norm keeps the
    vector with norm 0 — so empty embeddings are outside the oracle's
    domain (the testdata has none)."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    vecs = [
        (1, "a", [3.0, 4.0, 0.0]),        # norm exactly 5
        (2, "a", [1.0, 0.0, 0.0]),        # norm 1 -> label-a min
        (3, "b", [0.25, 0.25]),           # 2 dims, norm sqrt(0.125)
    ]
    pq.write_table(
        pa.table({"vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                  "label": pa.array([v[1] for v in vecs], pa.string()),
                  "embedding": pa.array([v[2] for v in vecs],
                                        pa.list_(pa.float32()))}),
        str(tmp_path) + "/embeddings.parquet",
    )
    q = all_queries()["vector_stats"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.label: (r.n_vecs, r.min_dims, r.max_dims, r.min_norm, r.max_norm)
           for r in sdf.collect()}
    assert got == {
        "a": (2, 3, 3, 1.0, 5.0),
        "b": (1, 2, 2, round(0.125 ** 0.5, 4), round(0.125 ** 0.5, 4)),
    }

    # tier 2: an empty embedding diverges — Spark keeps it (norm 0),
    # DuckDB's unnest drops the vector from the count entirely
    d2 = str(tmp_path) + "_empty"
    os.makedirs(d2, exist_ok=True)
    pq.write_table(
        pa.table({"vec_id": pa.array([1, 2], pa.int64()),
                  "label": pa.array(["a", "a"], pa.string()),
                  "embedding": pa.array([[1.0], []], pa.list_(pa.float32()))}),
        d2 + "/embeddings.parquet",
    )
    s2 = {r.label: r.n_vecs
          for r in all_queries()["vector_stats"].build(spark, d2).collect()}
    o2, _ = _oracle_on_tmp(q.oracle, d2)
    assert s2 == {"a": 2}                       # Spark counts the empty vec
    assert [(r[0], r[1]) for r in o2] == [("a", 1)]  # the oracle loses it


def test_pandas_udf_demo_value_edges(spark, tmp_path):
    """pandas_udf_demo forced value edges through the Arrow-batched
    scalar UDF (p*3+1)/7: zero, negative, and large prices (exact IEEE
    agreement with the oracle's inline expression and Python), plus
    the o_orderkey % 5 filter boundary.  Spark vs the registered
    DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        (0, 0.0), (5, -700.0), (10, 0.25), (15, 1e12), (3, 999.0),
    ]
    spark.createDataFrame(rows, "o_orderkey bigint, o_totalprice double").write.parquet(
        str(tmp_path) + "/orders.parquet"
    )
    q = all_queries()["pandas_udf_demo"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.o_orderkey: r.poly_score for r in sdf.collect()}
    assert got == {k: (p * 3.0 + 1.0) / 7.0 for k, p in rows if k % 5 == 0}
    assert 3 not in got and got[0] == 1.0 / 7.0


def test_arrow_udf_ship_month_boundaries_and_full_discount(spark, tmp_path):
    """arrow_udf forced edges: shipments exactly AT the month's start
    are included (>=), exactly at the next month's start excluded (<);
    a 100% discount zeroes its revenue and a 0% discount passes the
    price through — all through the Arrow-batched per-row UDF, summed
    in exact DECIMAL.  Spark vs the registered DuckDB oracle vs
    Python."""
    from datetime import datetime, timedelta

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    S, E = datetime(1995, 6, 1), datetime(1995, 7, 1)
    rows = [
        # (l_orderkey, l_extendedprice, l_discount, l_shipdate)
        (1, 100.25, 0.0, S),                          # at start, no discount
        (1, 200.50, 1.0, S + timedelta(days=10)),     # 100% discount -> 0
        (2, 400.75, 0.5, E - timedelta(microseconds=1)),
        (3, 999.00, 0.25, E),                         # at end: excluded
        (4, 777.00, 0.25, S - timedelta(days=1)),     # before: excluded
    ]
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_extendedprice double, l_discount double, "
              "l_shipdate timestamp"
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")
    q = all_queries()["arrow_udf"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.l_orderkey: r.revenue for r in sdf.collect()}
    assert got == {1: 100.25, 2: 200.375}
    assert 3 not in got and 4 not in got


def test_pandas_udaf_rms_singleton_and_negative_cents(spark, tmp_path):
    """pandas_udaf forced edges: a SINGLE-event group (RMS equals the
    absolute cent value), a zero-value event, and negative values whose
    cents square positive — the grouped-agg pandas UDF must agree
    bit-for-bit with the oracle's int64 sum-of-squares path.  Spark vs
    the registered DuckDB oracle vs Python."""
    import math

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        ("click", 3.0), ("click", -4.0),     # cents 300, -400
        ("error", 0.0),                      # singleton zero: rms 0
        ("view", 1.25),                      # singleton: rms == 125
    ]
    spark.createDataFrame(
        [(i, t, v) for i, (t, v) in enumerate(rows)],
        "event_id bigint, event_type string, value double",
    ).write.parquet(str(tmp_path) + "/events.parquet")
    q = all_queries()["pandas_udaf"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    import collections

    groups = collections.defaultdict(list)
    for t, v in rows:
        groups[t].append(round(v * 100))
    expect = {
        t: (math.sqrt(sum(c * c for c in cs) / len(cs)), len(cs))
        for t, cs in groups.items()
    }
    got = {r.event_type: (r.rms_cents, r.n_events) for r in sdf.collect()}
    assert got == expect
    assert got["error"] == (0.0, 1) and got["view"] == (125.0, 1)
    assert got["click"] == (math.sqrt((300 * 300 + 400 * 400) / 2), 2)


def test_map_in_arrow_quantity_boundary_and_zero_rates(spark, tmp_path):
    """map_in_arrow forced edges: quantity EXACTLY 25 is excluded by
    the strict <, 24.75 included; zero discount and zero tax pass the
    price through; a discount/tax pair exercises the fixed IEEE
    multiply order.  Spark (pyarrow compute kernels) vs the registered
    DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [
        # (l_returnflag, l_quantity, l_extendedprice, l_discount, l_tax)
        ("A", 24.75, 100.0, 0.0, 0.0),    # passthrough charge 100
        ("A", 25.0, 999.0, 0.5, 0.5),     # AT the bound: excluded
        ("B", 1.0, 200.0, 0.25, 0.5),     # 200*0.75*1.5 = 225
        ("B", 24.0, 400.0, 1.0, 0.25),    # full discount: charge 0
    ]
    spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double, "
              "l_discount double, l_tax double"
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")
    q = all_queries()["map_in_arrow"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    got = {r.l_returnflag: (r.sum_charge, r.n_items) for r in sdf.collect()}
    assert got == {"A": (100.0, 1), "B": (225.0, 2)}


def test_bigram_lm_single_token_and_self_bigrams_vs_python(spark, tmp_path):
    """bigram_lm forced edges: a single-token document contributes NO
    bigrams (the >= 2 guard), a repeated-token document produces
    self-bigrams ('x x'), and the conditional probabilities p(w2|w1)
    split exactly (1/3, 2/3) across a forced three-way conditioning
    count.  Spark (zip-with-tail, no self-join) vs the registered
    DuckDB oracle vs Python."""
    from collections import Counter

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (1, "a b a b"),       # bigrams: a-b, b-a, a-b
        (2, "solo"),          # no bigrams
        (3, "x x x"),         # self-bigrams x-x twice
        (4, "a c"),           # a conditions on b twice, c once
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["bigram_lm"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    bigrams = Counter()
    for _d, text in docs:
        t = text.split(" ")
        bigrams.update(zip(t, t[1:]))
    w1_tot = Counter()
    for (w1, _w2), n in bigrams.items():
        w1_tot[w1] += n
    expect = {
        (w1, w2): (n, w1_tot[w1], round(n / w1_tot[w1], 6))
        for (w1, w2), n in bigrams.items()
    }
    got = {(r.w1, r.w2): (r.n_bigram, r.n_w1, r.p) for r in sdf.collect()}
    assert got == expect
    assert got[("x", "x")] == (2, 2, 1.0)        # self-bigram, certain
    assert got[("a", "b")] == (2, 3, round(2 / 3, 6))
    assert got[("a", "c")] == (1, 3, round(1 / 3, 6))
    assert not any(w1 == "solo" for w1, _ in got)


def test_vocab_coverage_cumulative_share_ties_vs_python(spark, tmp_path):
    """vocab_coverage forced edges: frequency ties resolved by token
    ASC define the cumulative order (so cum_share is only correct if
    BOTH engines walk the tie identically), and the final cumulative
    share reaches exactly 1.0 when the vocabulary fits inside the
    top-30 cut.  Spark vs the registered DuckDB oracle vs Python."""
    from collections import Counter

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    corpus = ["top"] * 6 + ["mid1"] * 3 + ["mid2"] * 3 + ["tailb"] * 1 + ["taila"] * 1
    docs = [(i, " ".join(corpus[i::3])) for i in range(3)]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["vocab_coverage"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    counts = Counter(corpus)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    cum, expect = 0, []
    for rank, (tok, n) in enumerate(ranked[:30], start=1):
        cum += n
        expect.append((rank, tok, n, round(cum / total, 6)))
    assert sorted(srows) == expect
    # ties actually exercised: mid1 before mid2, taila before tailb
    order = [t for _r, t, _n, _c in sorted(srows)]
    assert order == ["top", "mid1", "mid2", "taila", "tailb"]
    assert sorted(srows)[-1][3] == 1.0           # full coverage at the tail


def test_embedding_quantize_flat_vector_and_rounding_vs_python(spark, tmp_path):
    """embedding_quantize forced edges: a FLAT vector (vmax == vmin)
    takes the all-zero-codes branch instead of dividing by zero, the
    min and max elements land exactly on codes 0 and 255, and a
    midpoint value hits the floor(+0.5) rounding on an exact .5
    (sum asserted via Python).  Spark vs the registered DuckDB oracle
    vs a hashlib/md5 recomputation."""
    import hashlib

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    vecs = [
        (1, [2.0, 2.0, 2.0]),          # flat: all codes 0
        (2, [0.0, 1.0, 0.5]),          # 0 -> 0, 1 -> 255, 0.5 -> 128
        (3, [-1.0, 1.0]),              # min/max at the ends
    ]
    pq.write_table(
        pa.table({"vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                  "embedding": pa.array([v[1] for v in vecs],
                                        pa.list_(pa.float32()))}),
        str(tmp_path) + "/embeddings.parquet",
    )
    q = all_queries()["embedding_quantize"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    import math

    expect = {}
    for vid, v in vecs:
        vmin, vmax = min(v), max(v)
        if vmax > vmin:
            cs = [int(math.floor((x - vmin) / (vmax - vmin) * 255 + 0.5))
                  for x in v]
        else:
            cs = [0] * len(v)
        expect[vid] = (
            len(v), vmin, vmax,
            hashlib.md5(",".join(map(str, cs)).encode()).hexdigest(),
            sum(cs),
        )
    got = {r.vec_id: (r.n_dims, r.vmin, r.vmax, r.codes_fp, r.sum_codes)
           for r in sdf.collect()}
    assert got == expect
    assert got[1][4] == 0                      # flat vector: all zeros
    assert got[2][4] == 0 + 255 + 128          # exact .5 rounds UP via +0.5
    assert got[3][4] == 0 + 255


def test_udtf_word_runs_run_boundaries_vs_python(spark, tmp_path):
    """udtf_word_runs forced edges: a whole-document single run, an
    alternating sequence (every run length 1), the SAME word restarting
    a new run after a gap, a run ending at the document's last token,
    and empty text (one run of the empty token).  Spark (Python UDTF)
    vs the registered window-based DuckDB oracle vs a pure-Python
    run-length encoder."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    docs = [
        (0, "x x x x"),           # one run of 4
        (20, "a b a b"),          # four runs of 1
        (40, "w w y w w w"),      # 'w' runs twice, separated
        (60, ""),                 # one run: the empty token
        (7, "skip me"),           # fails doc_id % 20
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                  "text": pa.array([d[1] for d in docs], pa.string())}),
        str(tmp_path) + "/documents.parquet",
    )
    q = all_queries()["udtf_word_runs"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = []
    for did, text in docs:
        if did % 20:
            continue
        toks = text.split(" ")
        start = 0
        for i in range(1, len(toks) + 1):
            if i == len(toks) or toks[i] != toks[start]:
                expect.append((did, toks[start], i - start, start))
                start = i
    assert sorted(srows, key=repr) == sorted(expect, key=repr)
    assert (0, "x", 4, 0) in srows                 # whole-doc run
    assert [r for r in srows if r[0] == 20] and all(
        r[2] == 1 for r in srows if r[0] == 20)    # alternation
    runs_w = sorted(r for r in srows if r[0] == 40 and r[1] == "w")
    assert [(r[2], r[3]) for r in runs_w] == [(2, 0), (3, 3)]  # split runs
    assert (60, "", 1, 0) in srows                 # empty-token run


def test_take_index_vector_short_table(spark, tmp_path):
    """take forced edge: a customer table SMALLER than the index
    vector's modulus — take positions whose target row number does not
    exist drop out of the inner gather in BOTH engines (the reference's
    out[i] = buffer[indices[i]] is only defined for in-range indices;
    the oracle's JOIN USING(rn) encodes the same contract).  Spark vs
    the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    n_cust = 50  # < _TAKE_BASE = 150: most gather positions miss
    cust = [(k, f"name{k:03d}", k * 0.25) for k in range(n_cust)]
    spark.createDataFrame(
        cust, "c_custkey bigint, c_name string, c_acctbal double"
    ).write.parquet(str(tmp_path) + "/customer.parquet")
    q = all_queries()["take"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset

    expect = sorted(
        (i, rn, f"name{rn:03d}", rn * 0.25)
        for i in range(64)
        for rn in [(i * 37) % 150]
        if rn < n_cust
    )
    assert sorted(srows) == expect
    assert 0 < len(srows) < 64            # some positions hit, some missed


def test_partition_conservation_negative_keys(spark, tmp_path):
    """partition forced edge: negative and zero keys through the hash
    repartition — the conservation invariants (row count, key sum,
    exact decimal quantity sum) must survive the shuffle regardless of
    key sign, mirroring the reference's column-sum conservation test.
    Spark vs the registered DuckDB oracle vs Python."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rows = [(k, q) for k, q in zip(
        [-(10 ** 12), -7, 0, 0, 3, 10 ** 12],
        [0.25, 1.50, 99.75, 0.0, 7.25, 3.50],
    )]
    spark.createDataFrame(rows, "l_orderkey bigint, l_quantity double").write.parquet(
        str(tmp_path) + "/lineitem.parquet"
    )
    q = all_queries()["partition"]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols_s = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols_s] == [c.lower() for c in ocols_s]
    assert sset == oset
    assert srows == [(6, -7 + 0 + 0 + 3, round(sum(r[1] for r in rows), 2))]


def test_minhash_pipeline_randomized_vs_pure_python(spark, tmp_path):
    """Full MinHash pipeline differential — signatures -> band keys ->
    LSH candidate pairs -> exact 3-gram Jaccard — replicated in pure
    Python (hashlib.md5 + XOR lanes, the identical hash path as
    functions/text.py base_hash60/lane_constants), three-way against
    the registered DuckDB oracles. FORCES: the 2-token doc excluded by
    the size>=3 shingle guard, the exactly-3-token doc carrying ONE
    shingle, the %10==0 augmentation boundary at doc_id 0 (rekey
    -0-1 = -1, jaccard exactly 1.0 through all 16 bands), a
    7-of-9-shingle near-dup the replication attests collides in >=1
    band, and a token-disjoint doc colliding in none."""
    import hashlib
    import math
    import random

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rng = random.Random(151)
    vocab = [f"w{i}" for i in range(30)]
    docs = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        1: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        2: "one two",
        3: "red green blue",
        4: "zz1 zz2 zz3 zz4 zz5",
    }
    for i in range(5, 15):
        docs[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
    rows = [(i, t, "en", "web") for i, t in sorted(docs.items())]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    # --- pure-Python replication -------------------------------------
    lanes_c = [(i * 0x9E3779B97F4A7C15) % (1 << 60) for i in range(64)]

    def base60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    corpus = dict(docs)
    for i, t in docs.items():
        if i % 10 == 0:
            corpus[-i - 1] = t  # augmentation rekey (dedup.py _CORPUS_SQL)
    sh_of: dict[int, list[str]] = {}
    for i, t in corpus.items():
        toks = t.split(" ")
        if len(toks) >= 3:
            sh_of[i] = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
    assert 2 not in sh_of  # 2-token doc excluded by the shingle guard
    assert len(sh_of[3]) == 1  # exactly-3-token doc: ONE shingle
    sig = {
        i: [min(base60(s) ^ c for s in shs) for c in lanes_c]
        for i, shs in sh_of.items()
    }
    exp_sig = {(i, s, mh) for i, mhs in sig.items() for s, mh in enumerate(mhs)}
    bands = {
        i: [
            hashlib.md5(
                ",".join(str(mhs[b * 4 + r]) for r in range(4)).encode()
            ).hexdigest()
            for b in range(16)
        ]
        for i, mhs in sig.items()
    }
    ids = sorted(bands)
    exp_pairs = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if any(bands[a][k] == bands[b][k] for k in range(16)):
                exp_pairs.add((a, b))
    # forced edges, attested from the replication itself
    assert (-1, 0) in exp_pairs  # identical augmented pair, all bands
    assert all(bands[-1][k] == bands[0][k] for k in range(16))
    assert (0, 1) in exp_pairs  # 7-of-9-shingle near-dup collides
    assert not any(4 in p for p in exp_pairs)  # disjoint doc: no bands
    exp_jac = {}
    for a, b in exp_pairs:
        sa, sb = set(sh_of[a]), set(sh_of[b])
        exp_jac[(a, b)] = len(sa & sb) / len(sa | sb)  # unrounded (r11)
    assert exp_jac[(-1, 0)] == 1.0
    assert exp_jac[(0, 1)] == 7 / 9

    # --- Spark vs replication vs registered DuckDB oracle -------------
    qs = all_queries()
    got_sig = {
        (r.doc_id, r.seed, r.minhash)
        for r in qs["minhash_signatures"].build(spark, str(tmp_path)).collect()
    }
    assert got_sig == exp_sig
    got_pairs = {
        (r.doc_a, r.doc_b)
        for r in qs["dedup_minhash_pairs"].build(spark, str(tmp_path)).collect()
    }
    assert got_pairs == exp_pairs
    jdf = qs["dedup_jaccard"].build(spark, str(tmp_path))
    got_jac = {(r.doc_a, r.doc_b): r.jaccard for r in jdf.collect()}
    assert got_jac == exp_jac
    for name in ("minhash_signatures", "dedup_minhash_pairs", "dedup_jaccard"):
        sdf = qs[name].build(spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]
        orows, ocols = _oracle_on_tmp(qs[name].oracle, str(tmp_path))
        sset, scols = _rows_to_multiset(srows, list(sdf.columns))
        oset, ocols_s = _rows_to_multiset(orows, ocols)
        assert [c.lower() for c in scols] == [c.lower() for c in ocols_s], name
        assert sset == oset, name


def test_tfidf_top_terms_randomized_tie_straddles_cut(spark, tmp_path):
    """TF-IDF differential FORCING a six-way exact score tie that
    straddles the top-5 cut (tokens with identical tf AND identical
    df tie bit-for-bit; token-ASC alone picks which three survive
    behind the two df=1 tokens), an idf=0 token present in EVERY doc
    (zero-score row still returned when the doc has <5 distinct
    tokens), and a 2-distinct-token doc returning all its rows.
    Expected rows from a pure-Python replication of the
    round-inside-then-round-outside formula; three-way vs the
    registered DuckDB oracle."""
    import math
    import random

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rng = random.Random(157)
    fillers = [f"f{i}" for i in range(12)]
    docs = {0: "uniq1 uniq2 s1 s2 s3 s4 s5 s6 com"}
    for i in range(1, 7):
        extra = " ".join(rng.choice(fillers) for _ in range(rng.randint(2, 6)))
        docs[i] = f"com s{i} {extra}"
    docs[7] = "com dup dup"
    rows = [(i, t, "en", "web") for i, t in sorted(docs.items())]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    # --- pure-Python replication -------------------------------------
    def r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    tf: dict[tuple[int, str], int] = {}
    dfc: dict[str, set] = {}
    for i, t in docs.items():
        for w in t.split(" "):
            tf[(i, w)] = tf.get((i, w), 0) + 1
            dfc.setdefault(w, set()).add(i)
    n_docs = len(docs)
    assert len(dfc["com"]) == n_docs  # idf = ln(1) = 0 forced
    scored: dict[int, list[tuple[float, str]]] = {}
    for (i, w), f in tf.items():
        score = r6(f * r6(math.log(n_docs / len(dfc[w]))))
        scored.setdefault(i, []).append((score, w))
    expect = set()
    for i, entries in scored.items():
        entries.sort(key=lambda e: (-e[0], e[1]))
        for s, w in entries[:5]:
            expect.add((i, w, s))
    # forced-edge attestations on the replication
    probe = sorted(scored[0], key=lambda e: (-e[0], e[1]))
    assert {w for _, w in probe[:2]} == {"uniq1", "uniq2"}
    tie = [w for s, w in probe if s == probe[2][0]]
    assert tie == ["s1", "s2", "s3", "s4", "s5", "s6"]  # tie spans the cut
    assert {w for _, w in probe[2:5]} == {"s1", "s2", "s3"}  # token ASC decides
    assert (7, "com", 0.0) in expect  # zero-idf row survives in a short doc
    assert (7, "dup", r6(2 * r6(math.log(n_docs)))) in expect
    assert sum(1 for d, _, _ in expect if d == 7) == 2

    # --- Spark vs replication vs registered DuckDB oracle -------------
    q = all_queries()["tfidf_top_terms"]
    sdf = q.build(spark, str(tmp_path))
    got = {(r.doc_id, r.token, r.tfidf) for r in sdf.collect()}
    assert got == expect
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols] == [c.lower() for c in ocols_s]
    assert sset == oset


def test_knn_bruteforce_tie_straddles_top20_cut(spark, tmp_path):
    """Brute-force kNN differential FORCING an exact cosine tie that
    straddles the top-20 cut: 18 distinct high-similarity vectors,
    then FOUR bit-identical clones at ranks 19-22 (identical rounded
    cosine), so vec_id-ASC alone picks which two survive. Expected
    rows from a pure-Python replication of the left-to-right double
    fold (vectors/py dot) + HALF_UP 4-decimal rounding."""
    import math

    from dpu_olap_spark.registry import all_queries

    def r4(x: float) -> float:
        return math.floor(x * 1e4 + 0.5) / 1e4

    vecs = {0: [1000.0, 0.0, 0.0, 0.0]}  # query vector (vec_id = 0)
    for i in range(1, 19):  # high group: cos = 1000/sqrt(1e6 + i^2)
        vecs[i] = [1000.0, float(i), 0.0, 0.0]
    clone = [1.0, 1.0, 0.0, 0.0]  # cos = 0.7071...
    for i in range(19, 23):
        vecs[i] = list(clone)
    for i in range(23, 28):  # low group, distinct cosines
        vecs[i] = [1.0, float(4 + i), 0.0, 0.0]
    rows = [(i, v, 0) for i, v in sorted(vecs.items())]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path) + "/embeddings.parquet")

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    q = vecs[0]
    scored = []
    for i, v in vecs.items():
        if i == 0:
            continue
        c = r4(dot(v, q) / (math.sqrt(dot(v, v)) * math.sqrt(dot(q, q))))
        scored.append((i, c))
    scored.sort(key=lambda e: (-e[1], e[0]))
    # forced-edge attestation: ranks 19..22 are one exact tie group
    tie_val = scored[18][1]
    tie_ids = [i for i, c in scored if c == tie_val]
    assert tie_ids == [19, 20, 21, 22]
    expect = scored[:20]
    assert [i for i, _ in expect[18:]] == [19, 20]  # vec_id ASC decides

    got = [
        (r.vec_id, r.cos_sim)
        for r in all_queries()["knn_bruteforce"].build(spark, str(tmp_path)).collect()
    ]
    assert got == expect


def test_embedding_neardup_rounded_threshold_and_lsh_miss(spark, tmp_path):
    """Embedding near-dup differential FORCING the >= 0.35 cut to be
    decided AFTER 4-decimal rounding: one same-bucket pair whose raw
    cosine is strictly BELOW 0.35 but rounds to 0.35 (kept) and one
    rounding to 0.3499 (dropped); an identical pair at exactly 1.0;
    and the LSH miss inherent to sign bucketing — a cos > 0.999 pair
    split across buckets by one sign flip is ABSENT. Expected pairs
    from a pure-Python replication of bucket + fold + rounding."""
    import math

    from dpu_olap_spark.registry import all_queries

    def r4(x: float) -> float:
        return math.floor(x * 1e4 + 0.5) / 1e4

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    anchor = [40.0, 10000.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0]

    def search(lo: float, hi: float) -> list[float]:
        # deterministic grid search for an integer-component partner
        # whose raw cosine lands in [lo, hi) against the anchor
        for c1 in range(1, 40000):
            cand = [float(c1), 3000.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0]
            if lo <= cos(anchor, cand) < hi:
                return cand
        raise AssertionError(f"no grid point in [{lo}, {hi})")

    keep = search(0.34995, 0.35)  # rounds UP to 0.35 -> kept
    drop = search(0.34985, 0.34995)  # rounds to 0.3499 -> dropped
    assert cos(anchor, keep) < 0.35 and r4(cos(anchor, keep)) == 0.35
    assert r4(cos(anchor, drop)) == 0.3499
    near_a = [1.0, 900.0, 900.0, 1.0, 1.0, 1.0, 0.0, 0.0]
    near_b = [-1.0, 900.0, 900.0, 1.0, 1.0, 1.0, 0.0, 0.0]  # one sign flip
    assert cos(near_a, near_b) > 0.999
    vecs = {
        1: anchor,
        2: keep,
        3: drop,
        4: list(anchor),  # identical pair (1,4): cos exactly 1.0
        5: near_a,
        6: near_b,
        7: [-5.0, -5.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0],  # other bucket
        8: [-5.0, -6.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0],
    }
    rows = [(i, v, 0) for i, v in sorted(vecs.items())]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path) + "/embeddings.parquet")

    def bucket(v) -> int:
        return sum(2**d for d in range(6) if v[d] > 0)

    assert bucket(near_a) != bucket(near_b)  # the forced LSH miss
    ids = sorted(vecs)
    expect = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if bucket(vecs[a]) == bucket(vecs[b]):
                c = r4(cos(vecs[a], vecs[b]))
                if c >= 0.35:
                    expect[(a, b)] = c
    assert expect[(1, 2)] == 0.35 and (1, 3) not in expect
    assert expect[(1, 4)] == 1.0
    assert (5, 6) not in expect  # split buckets despite cos > 0.999

    got = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in all_queries()["embedding_neardup"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_perplexity_score_zero_and_exact_division_boundaries(spark, tmp_path):
    """Perplexity differential FORCING: a doc whose every bigram is
    corpus-deterministic (all p = 1 -> avg_logp exactly 0.0), a doc
    whose micro-unit log-prob sum divides exactly by its bigram count
    (integer landing at the 6th decimal), the single-token doc
    excluded by the len >= 2 guard, and a mixed p=1 / p=1/2 doc.
    Expected rows from a pure-Python replication of the integer
    micro-unit path (half-away-from-zero at both roundings)."""
    import math

    from dpu_olap_spark.registry import all_queries

    def half_away(x: float) -> int:
        return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)

    def r6(x: float) -> float:
        return (
            math.floor(x * 1e6 + 0.5) / 1e6
            if x >= 0
            else -(math.floor(-x * 1e6 + 0.5) / 1e6)
        )

    docs = {
        0: "p q r",  # p,q,r unique -> all bigram probs 1 -> avg 0.0
        1: "a b a c",  # with doc 2: ln(2/3), ln(1/2), ln(1/3)
        2: "a b b",
        3: "z",  # single token: excluded by the len >= 2 guard
        4: "m n m",  # ln(1/2) + ln(1) over 2 bigrams
        5: "m o",  # makes p(n|m) = 1/2
    }
    rows = [(i, t, "en", "web") for i, t in sorted(docs.items())]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    c2: dict[tuple[str, str], int] = {}
    per_doc: dict[int, list[tuple[str, str]]] = {}
    for i, t in docs.items():
        toks = t.split(" ")
        if len(toks) < 2:
            continue
        bgs = list(zip(toks, toks[1:]))
        per_doc[i] = bgs
        for bg in bgs:
            c2[bg] = c2.get(bg, 0) + 1
    c1: dict[str, int] = {}
    for (w1, _), n in c2.items():
        c1[w1] = c1.get(w1, 0) + n
    logp_u = {bg: half_away(math.log(n / c1[bg[0]]) * 1e6) for bg, n in c2.items()}
    expect = {}
    for i, bgs in per_doc.items():
        s = sum(logp_u[bg] for bg in bgs)
        expect[i] = (len(bgs), r6(float(s) / len(bgs) / 1e6))
    # forced-edge attestations
    assert expect[0] == (2, 0.0)  # deterministic bigrams: exactly zero
    assert sum(logp_u[bg] for bg in per_doc[1]) % len(per_doc[1]) == 0
    assert expect[1] == (3, -0.732408)  # exact integer landing
    assert 3 not in expect  # guard excluded the 1-token doc
    assert logp_u[("n", "m")] == 0 and logp_u[("m", "n")] == half_away(
        math.log(0.5) * 1e6
    )

    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in all_queries()["perplexity_score"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_window_sliding_exact_slide_boundary_timestamps(spark, tmp_path):
    """Sliding-window differential FORCING events exactly ON a 30-min
    slide boundary (10:30:00.000000 lands in the [10:00,11:00) AND
    [10:30,11:30) windows — never [09:30,10:30)) and one microsecond
    BEFORE it (10:29:59.999999 lands in [09:30,...) and [10:00,...)).
    Expected (window_start, event_type, n) from a pure-Python floor
    over epoch microseconds."""
    import datetime as dt
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(163)
    base = dt.datetime(2024, 3, 1, 10, 30, 0)
    stamps = [
        (1, base, "click"),  # exactly on the slide boundary
        (2, base - dt.timedelta(microseconds=1), "click"),  # 1us before
        (3, base + dt.timedelta(minutes=29, seconds=59, microseconds=999999), "view"),  # 1us before 11:00
        (4, dt.datetime(2024, 3, 1, 11, 0, 0), "view"),  # next boundary
    ]
    eid = 5
    for _ in range(40):
        stamps.append(
            (
                eid,
                dt.datetime(2024, 3, 1, 8, 0, 0)
                + dt.timedelta(seconds=rng.randint(0, 6 * 3600)),
                rng.choice(["click", "view", "buy"]),
            )
        )
        eid += 1
    rows = [(e, ts, e % 7, et, 1.0, "{}") for e, ts, et in stamps]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path) + "/events.parquet")

    epoch = dt.datetime(1970, 1, 1)
    slide_us = 30 * 60 * 1_000_000
    expect: dict[tuple, int] = {}
    contrib: dict[int, set] = {}
    for e, ts, et in stamps:
        us = int(round((ts - epoch) / dt.timedelta(microseconds=1)))
        base_start = (us // slide_us) * slide_us
        for k in (0, 1):
            start = base_start - k * slide_us
            w = epoch + dt.timedelta(microseconds=start)
            expect[(w, et)] = expect.get((w, et), 0) + 1
            contrib.setdefault(e, set()).add(w)
    # forced-edge attestations
    assert contrib[1] == {dt.datetime(2024, 3, 1, 10, 0), dt.datetime(2024, 3, 1, 10, 30)}
    assert contrib[2] == {dt.datetime(2024, 3, 1, 9, 30), dt.datetime(2024, 3, 1, 10, 0)}
    assert contrib[3] == {dt.datetime(2024, 3, 1, 10, 0), dt.datetime(2024, 3, 1, 10, 30)}
    assert contrib[4] == {dt.datetime(2024, 3, 1, 10, 30), dt.datetime(2024, 3, 1, 11, 0)}

    got = {
        (r.window_start, r.event_type): r.n_events
        for r in all_queries()["window_sliding"].build(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_decorrelated_subquery_exact_half_mean_boundary(spark, tmp_path):
    """Decorrelated-subquery differential FORCING the strict-< cut:
    a row whose qty * cnt * 2 EQUALS its group sum exactly (qty is
    exactly half the group mean -> excluded), one a quarter-step
    below (included), positive and zero singletons (never included),
    and a NEGATIVE singleton where -2*qty < qty holds (included).
    All quantities on exact quarter steps so decimal and double sums
    agree bit-for-bit; expected rows from a pure-Python walk."""
    import random

    from dpu_olap_spark.registry import all_queries

    rng = random.Random(167)
    rows = [
        (100, 1, 1.0),  # 1*2*2 == 4.0 -> excluded (exactly half mean)
        (101, 1, 3.0),
        (102, 2, 0.75),  # 0.75*2*2 = 3.0 < 4.0 -> included
        (103, 2, 3.25),
        (104, 3, 2.0),  # positive singleton: 2*1*2 < 2 false
        (105, 4, -2.0),  # negative singleton: -4 < -2 TRUE -> included
        (106, 5, 0.0),  # zero group: 0 < 0 false
        (107, 5, 0.0),
    ]
    okey = 200
    for pk in range(6, 12):
        for _ in range(rng.randint(1, 6)):
            rows.append((okey, pk, rng.randint(0, 40) * 0.25))
            okey += 1
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_quantity double"
    ).write.parquet(str(tmp_path) + "/lineitem.parquet")

    groups: dict[int, list[tuple[int, float]]] = {}
    for o, p, q in rows:
        groups.setdefault(p, []).append((o, q))
    expect = set()
    for p, members in groups.items():
        cnt = len(members)
        s = sum(q for _, q in members)
        for o, q in members:
            if q * cnt * 2.0 < s:
                expect.add((o, p, q))
    # forced-edge attestations
    g1 = groups[1]
    assert 1.0 * len(g1) * 2.0 == sum(q for _, q in g1)  # exact equality
    assert (100, 1, 1.0) not in expect and (102, 2, 0.75) in expect
    assert (104, 3, 2.0) not in expect and (106, 5, 0.0) not in expect
    assert (105, 4, -2.0) in expect  # negative singleton flips the cut

    got = {
        (r.l_orderkey, r.l_partkey, r.l_quantity)
        for r in all_queries()["decorrelated_subquery"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect


def test_try_arith_key_zero_and_overflow_thresholds(spark, tmp_path):
    """try_arith differential FORCING the branches TPC-H keys never
    reach: o_orderkey = 0 (the ONLY key where try_add(MAX, k) and
    try_subtract(MIN, k) are non-NULL and try_multiply yields 0),
    k = 1 (mul exactly 2**62 — the last non-overflow), k = 2 (mul
    crosses 2**63 -> NULL; mod divisor hits 0), negative-divisor
    try_mod (Java remainder: SIGN OF THE DIVIDEND — Python % follows
    the divisor, so the walk uses truncated division), and a negative
    key attesting the >= 0 filter. Spark vs pure Python vs the
    registered DuckDB oracle."""
    import random

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    I64_MAX = 9223372036854775807
    I64_MIN = -9223372036854775808

    rng = random.Random(173)
    rows = [(k, (4 * k + 1) * 0.25) for k in (0, 1, 2, 3, 5, 7, 12, -4)]
    for _ in range(60):
        rows.append((rng.randint(13, 10_000), rng.randint(1, 2_000_000) * 0.25))
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    def jrem(a: int, b: int) -> int:
        # Java/SQL %: remainder with the sign of the dividend
        q = abs(a) // abs(b)
        if (a < 0) != (b < 0):
            q = -q
        return a - q * b

    expect = {}
    for k, price in rows:
        if k < 0:
            continue  # the query's o_orderkey >= 0 filter
        add_ovf = I64_MAX + k if k == 0 else None
        sub_ovf = I64_MIN - k if k == 0 else None
        mul = k * 4611686018427387904
        mul_ovf = mul if I64_MIN <= mul <= I64_MAX else None
        div0 = price / (k % 3) if k % 3 != 0 else None
        d = (k % 5) - 2
        mod0 = jrem(k, d) if d != 0 else None
        expect[k] = (add_ovf, sub_ovf, mul_ovf, div0, mod0)
    # forced-edge attestations
    assert expect[0] == (I64_MAX, I64_MIN, 0, None, 0)  # 0 % -2 == 0
    assert expect[1][2] == 2**62 and expect[2][2] is None  # mul cut at 2
    assert expect[2][4] is None and expect[7][4] is None  # (k%5)-2 == 0
    assert expect[3][4] == jrem(3, 1) == 0  # divisor (3%5)-2 == 1
    assert expect[12][4] is None  # (12%5)-2 == 0 -> try_mod NULL (like k=2, 7)
    assert expect[5][4] == jrem(5, -2) == 1  # negative divisor -2: sign of dividend
    assert jrem(3, -2) == 1  # sign-of-dividend: Python 3 % -2 would be -1
    assert expect[3][3] is None  # k % 3 == 0 -> try_divide NULL
    assert -4 not in expect

    q = all_queries()["try_arith"]
    sdf = q.build(spark, str(tmp_path))
    got = {
        r.o_orderkey: (r.add_ovf, r.sub_ovf, r.mul_ovf, r.div0, r.mod0)
        for r in sdf.collect()
    }
    assert got == expect
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols] == [c.lower() for c in ocols_s]
    assert sset == oset


def test_asof_join_same_instant_ties_and_no_prior_signup(spark, tmp_path):
    """As-of join differential FORCING the window's (ts ASC, event_id
    ASC) tie order at the SAME instant: a signup with a LOWER event_id
    than a same-ts purchase IS its match; with a HIGHER event_id it is
    NOT (NULL); a purchase before any signup is NULL; a later purchase
    picks the NEWEST of two prior signups, including two signups at
    one instant where the higher event_id wins. Spark vs a pure-Python
    sweep vs the registered DuckDB oracle."""
    import datetime as dt
    import random

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)

    def m(minutes: float) -> dt.datetime:
        return t0 + dt.timedelta(minutes=minutes)

    events = [
        # user 1: signup id 10 and purchase id 11 at the SAME instant
        (10, m(0), 1, "signup"),
        (11, m(0), 1, "purchase"),  # -> matched (signup sorts first)
        # user 2: purchase id 20 BEFORE same-instant signup id 21
        (20, m(0), 2, "purchase"),  # -> NULL (signup sorts after)
        (21, m(0), 2, "signup"),
        (22, m(5), 2, "purchase"),  # -> m(0) signup
        # user 3: purchases only
        (30, m(1), 3, "purchase"),  # -> NULL
        # user 4: two signups at ONE instant, then a purchase
        (40, m(2), 4, "signup"),
        (41, m(2), 4, "signup"),  # same ts: higher id is "last"
        (42, m(3), 4, "purchase"),  # -> m(2) (either: equal ts)
        (43, m(1), 4, "purchase"),  # before both -> NULL
        # user 5: signup, purchase, signup, purchase
        (50, m(0), 5, "signup"),
        (51, m(1), 5, "purchase"),  # -> m(0)
        (52, m(2), 5, "signup"),
        (53, m(3), 5, "purchase"),  # -> m(2), not m(0)
    ]
    rng = random.Random(179)
    eid = 100
    for _ in range(80):
        events.append(
            (
                eid,
                m(rng.randint(0, 600) / 10.0),
                rng.randint(6, 12),
                rng.choice(["signup", "purchase", "click", "view"]),
            )
        )
        eid += 1
    rows = [(e, ts, u, et, 1.0, "{}") for e, ts, u, et in events]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path) + "/events.parquet")

    expect = {}
    by_user: dict[int, list] = {}
    for e, ts, u, et in events:
        by_user.setdefault(u, []).append((ts, e, et))
    for u, evs in by_user.items():
        last_signup = None
        for ts, e, et in sorted(evs):
            if et == "signup":
                last_signup = ts
            elif et == "purchase":
                expect[e] = (u, ts, last_signup)
    # forced-edge attestations
    assert expect[11] == (1, m(0), m(0))  # same-instant match
    assert expect[20] == (2, m(0), None)  # same-instant NON-match
    assert expect[30] == (3, m(1), None) and expect[43] == (4, m(1), None)
    assert expect[42] == (4, m(3), m(2))
    assert expect[51] == (5, m(1), m(0)) and expect[53] == (5, m(3), m(2))

    q = all_queries()["asof_join"]
    sdf = q.build(spark, str(tmp_path))
    got = {
        r.event_id: (r.user_id, r.ts, r.last_signup_ts) for r in sdf.collect()
    }
    assert got == expect
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols] == [c.lower() for c in ocols_s]
    assert sset == oset


def test_cube_agg_real_nulls_collide_with_margin_rows(spark, tmp_path):
    """CUBE differential FORCING real NULLs in BOTH grouping columns,
    so detail rows are shape-identical to cube margin rows: a real
    (NULL, NULL) detail group makes the output carry FOUR distinct
    (NULL, NULL)-keyed rows (detail, two single-margin, grand total)
    distinguishable only by their measures — a multiset compare over
    full tuples. Sums replicated in exact cents (Decimal), matching
    the query's DECIMAL(18,2) accumulation. Spark vs pure Python vs
    the registered DuckDB oracle."""
    import random
    from collections import Counter
    from decimal import Decimal

    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    rng = random.Random(181)
    rows = [
        (1, None, None, 11.25),
        (2, None, None, 0.50),  # real (NULL, NULL) detail group, n=2
        (3, None, "P1", 7.00),  # real NULL status under a priority
        (4, "O", None, 2.25),  # real NULL priority under a status
    ]
    okey = 5
    for _ in range(120):
        rows.append(
            (
                okey,
                rng.choice(["O", "F", "P", None]),
                rng.choice(["P1", "P2", "P3", None]),
                rng.randint(0, 400_000) * 0.25,
            )
        )
        okey += 1
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_orderstatus string, o_orderpriority string,"
        " o_totalprice double",
    ).write.parquet(str(tmp_path) + "/orders.parquet")

    def cents(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.01"))

    expect: Counter = Counter()
    for keyer in (
        lambda s, p: (s, p),
        lambda s, p: (s, None),
        lambda s, p: (None, p),
        lambda s, p: (None, None),
    ):
        groups: dict = {}
        for _, s, p, price in rows:
            g = groups.setdefault(keyer(s, p), [0, Decimal(0)])
            g[0] += 1
            g[1] += cents(price)
        for (s, p), (n, tot) in groups.items():
            expect[(s, p, n, float(tot))] += 1
    # forced-edge attestations: four (NULL, NULL) rows, all distinct
    nn = [k for k in expect if k[0] is None and k[1] is None]
    assert len(nn) == 4 and all(expect[k] == 1 for k in nn)
    n_detail_nn = sum(1 for r in rows if r[1] is None and r[2] is None)
    assert n_detail_nn >= 2 and any(k[2] == n_detail_nn for k in nn)  # detail row
    assert any(k[2] == len(rows) for k in nn)  # the grand-total row

    sdf = all_queries()["cube_agg"].build(spark, str(tmp_path))
    got = Counter(
        (r.o_orderstatus, r.o_orderpriority, r.n_orders, r.sum_price)
        for r in sdf.collect()
    )
    assert got == expect
    q = all_queries()["cube_agg"]
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols] == [c.lower() for c in ocols_s]
    assert sset == oset


# ---------------------------------------------------------------------------
# TPC-H forced-boundary differentials (r10 verdict #6): each test builds
# a tiny adversarial fixture that FORCES the edges the fixed testdata
# rarely lands on (rows exactly ON date cutoffs, exact-equality
# threshold hits, empty outer-join groups, tie-at-min keeps), attests
# the forcing worked, then checks Spark against a pure-Python walk AND
# the registered DuckDB oracle on the same parquet.  All monetary
# values are dyadic rationals (multiples of 0.25 / 0.0625) so the
# decimal casts in both engines are exact and the Python float walk is
# bit-identical.
# ---------------------------------------------------------------------------

_TPCH_DDL = {
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "region": "r_regionkey int, r_name string",
}


def _tpch_defaults():
    from datetime import datetime

    return {
        "lineitem": dict(
            l_orderkey=1, l_partkey=1, l_suppkey=1, l_linenumber=1,
            l_quantity=1.0, l_extendedprice=100.0, l_discount=0.0,
            l_tax=0.0, l_returnflag="N", l_linestatus="O",
            l_shipdate=datetime(1997, 6, 1),
        ),
        "orders": dict(
            o_orderkey=1, o_custkey=1, o_orderstatus="O",
            o_totalprice=100.0, o_orderdate=datetime(1997, 6, 1),
            o_orderpriority="3-MEDIUM",
        ),
        "customer": dict(
            c_custkey=1, c_name="cust", c_nationkey=0, c_acctbal=0.0,
            c_mktsegment="BUILDING",
        ),
        "supplier": dict(s_suppkey=1, s_name="supp", s_nationkey=0, s_acctbal=0.0),
        "part": dict(
            p_partkey=1, p_name="part", p_brand="Brand#1", p_type="STANDARD",
            p_size=1, p_retailprice=10.0,
        ),
        "nation": dict(n_nationkey=0, n_name="NATION_0", n_regionkey=0),
        "region": dict(r_regionkey=0, r_name="REGION_0"),
    }


def _write_tpch(spark, tmp_path, name, rows):
    """Write `name`.parquet from override dicts over per-table defaults."""
    defaults = _tpch_defaults()[name]
    cols = list(defaults)
    for r in rows:
        unknown = set(r) - set(cols)
        assert not unknown, f"bad columns for {name}: {unknown}"
    data = [tuple({**defaults, **r}[c] for c in cols) for r in rows]
    spark.createDataFrame(data, _TPCH_DDL[name]).write.parquet(
        str(tmp_path) + f"/{name}.parquet"
    )


def _spark_vs_registered_oracle(spark, name, tmp_path):
    """Run the registered query and its DuckDB oracle on the tmp fixture
    and assert the driver's multiset contract holds; returns the Spark
    DataFrame for further value checks."""
    from dpu_olap_spark.registry import all_queries
    from tests.oracle import _rows_to_multiset

    q = all_queries()[name]
    sdf = q.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = _oracle_on_tmp(q.oracle, str(tmp_path))
    sset, scols = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocols_s = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scols] == [c.lower() for c in ocols_s]
    assert sset == oset
    return sdf


def test_tpch_q1_shipdate_cutoff_and_singleton_group(spark, tmp_path):
    """Q1 differential FORCING the <= cutoff boundary (a row exactly AT
    2001-08-06 00:00:00 is kept; +1 microsecond is dropped) and a
    singleton group whose averages divide by 1. All prices/quantities
    dyadic so the decimal sums are exact in Spark, DuckDB, and the
    Python walk."""
    import random
    from datetime import datetime, timedelta

    CUTOFF = datetime(2001, 8, 6)
    rng = random.Random(411)
    rows = [
        # forced: exactly AT the cutoff (kept) and 1us past (dropped)
        dict(l_returnflag="A", l_linestatus="F", l_shipdate=CUTOFF,
             l_quantity=5.0, l_extendedprice=100.25, l_discount=0.25, l_tax=0.5),
        dict(l_returnflag="A", l_linestatus="F",
             l_shipdate=CUTOFF + timedelta(microseconds=1),
             l_quantity=7.0, l_extendedprice=999.75),
        # singleton group: averages must equal the row's own values
        dict(l_returnflag="R", l_linestatus="O",
             l_shipdate=datetime(1999, 1, 1),
             l_quantity=3.25, l_extendedprice=50.5, l_discount=0.5, l_tax=0.25),
    ]
    for _ in range(120):
        rows.append(
            dict(
                l_returnflag=rng.choice(["A", "N", "R"]),
                l_linestatus=rng.choice(["F", "O"]),
                l_shipdate=datetime(1996, 1, 1)
                + timedelta(days=rng.randint(0, 2500)),
                l_quantity=rng.randint(1, 200) * 0.25,
                l_extendedprice=rng.randint(1, 400_000) * 0.25,
                l_discount=rng.choice([0.0, 0.25, 0.5]),
                l_tax=rng.choice([0.0, 0.25, 0.5]),
            )
        )
    _write_tpch(spark, tmp_path, "lineitem", rows)

    kept = [r for r in rows if r["l_shipdate"] <= CUTOFF]
    # attest the forcing: the at-cutoff row is in, the +1us row is out
    assert any(r["l_shipdate"] == CUTOFF for r in kept)
    assert sum(1 for r in rows if r["l_shipdate"] > CUTOFF) >= 1
    groups: dict[tuple, list[dict]] = {}
    for r in kept:
        groups.setdefault((r["l_returnflag"], r["l_linestatus"]), []).append(r)
    assert len(groups[("R", "O")]) >= 1

    expect = {}
    for key, g in groups.items():
        n = len(g)
        sq = sum(x["l_quantity"] for x in g)
        sb = sum(x["l_extendedprice"] for x in g)
        sd = sum(x["l_extendedprice"] * (1 - x["l_discount"]) for x in g)
        sc = sum(
            x["l_extendedprice"] * (1 - x["l_discount"]) * (1 + x["l_tax"])
            for x in g
        )
        sdisc = sum(x["l_discount"] for x in g)
        expect[key] = (sq, sb, sd, sc, sq / n, sb / n, sdisc / n, n)

    sdf = _spark_vs_registered_oracle(spark, "tpch_q1", tmp_path)
    got = {
        (r.l_returnflag, r.l_linestatus): (
            r.sum_qty, r.sum_base_price, r.sum_disc_price, r.sum_charge,
            r.avg_qty, r.avg_price, r.avg_disc, r.count_order,
        )
        for r in sdf.collect()
    }
    assert got == expect


def test_tpch_q12_priority_split_and_date_window(spark, tmp_path):
    """Q12 differential FORCING the half-open ship-date window (row AT
    1997-01-01 kept, row AT 1998-01-01 dropped) and one returnflag
    group that is all-high priority (low_line_count must be exactly 0,
    not an absent row)."""
    from datetime import datetime, timedelta
    import random

    rng = random.Random(412)
    LO, HI = datetime(1997, 1, 1), datetime(1998, 1, 1)
    orders = [
        dict(o_orderkey=1, o_orderpriority="1-URGENT"),
        dict(o_orderkey=2, o_orderpriority="2-HIGH"),
        dict(o_orderkey=3, o_orderpriority="3-MEDIUM"),
        dict(o_orderkey=4, o_orderpriority="5-LOW"),
    ]
    lines = [
        # boundary rows: AT the lower bound kept, AT the upper dropped
        dict(l_orderkey=1, l_returnflag="A", l_shipdate=LO),
        dict(l_orderkey=3, l_returnflag="A", l_shipdate=HI),
        dict(l_orderkey=3, l_returnflag="A", l_shipdate=HI - timedelta(microseconds=1)),
        # group "H": only high-priority orders -> low_line_count == 0
        dict(l_orderkey=2, l_returnflag="H", l_shipdate=datetime(1997, 6, 1)),
        dict(l_orderkey=1, l_returnflag="H", l_shipdate=datetime(1997, 7, 1)),
    ]
    for i in range(80):
        lines.append(
            dict(
                l_orderkey=rng.randint(1, 4),
                l_returnflag=rng.choice(["A", "N", "R"]),
                l_shipdate=datetime(1996, 6, 1) + timedelta(days=rng.randint(0, 900)),
            )
        )
    _write_tpch(spark, tmp_path, "orders", orders)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    prio = {o["o_orderkey"]: o["o_orderpriority"] for o in orders}
    kept = [ln for ln in lines if LO <= ln["l_shipdate"] < HI]
    assert any(ln["l_shipdate"] == LO for ln in kept)
    assert any(ln["l_shipdate"] == HI for ln in lines)  # forced drop exists
    expect: dict[str, list[int]] = {}
    for ln in kept:
        hi = prio[ln["l_orderkey"]] in ("1-URGENT", "2-HIGH")
        e = expect.setdefault(ln["l_returnflag"], [0, 0])
        e[0 if hi else 1] += 1
    assert expect["H"][1] == 0 and expect["H"][0] >= 2  # forced all-high group

    sdf = _spark_vs_registered_oracle(spark, "tpch_q12", tmp_path)
    got = {
        r.l_returnflag: [r.high_line_count, r.low_line_count]
        for r in sdf.collect()
    }
    assert got == expect


def test_tpch_q13_zero_order_customers_survive(spark, tmp_path):
    """Q13 differential FORCING the left-join edges: a customer with NO
    orders and a customer whose ONLY orders are '5-LOW' (filtered in
    the ON clause, NOT a WHERE) both land in the c_count=0 bucket; two
    customers with the same count collapse into one histogram row."""
    import random

    rng = random.Random(413)
    customers = [dict(c_custkey=k) for k in range(1, 11)]
    orders = [
        # custkey 1: two qualifying + one 5-LOW -> c_count 2
        dict(o_orderkey=101, o_custkey=1, o_orderpriority="1-URGENT"),
        dict(o_orderkey=102, o_custkey=1, o_orderpriority="3-MEDIUM"),
        dict(o_orderkey=103, o_custkey=1, o_orderpriority="5-LOW"),
        # custkey 2: ONLY 5-LOW orders -> c_count 0 (ON-clause filter)
        dict(o_orderkey=104, o_custkey=2, o_orderpriority="5-LOW"),
        dict(o_orderkey=105, o_custkey=2, o_orderpriority="5-LOW"),
        # custkey 3: no orders at all (also c_count 0)
        # custkey 4: two qualifying -> ties with custkey 1 in the histogram
        dict(o_orderkey=106, o_custkey=4, o_orderpriority="2-HIGH"),
        dict(o_orderkey=107, o_custkey=4, o_orderpriority="4-NOT SPECIFIED"),
    ]
    for k in range(108, 160):
        orders.append(
            dict(
                o_orderkey=k,
                o_custkey=rng.randint(5, 10),
                o_orderpriority=rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                ),
            )
        )
    _write_tpch(spark, tmp_path, "customer", customers)
    _write_tpch(spark, tmp_path, "orders", orders)

    per_cust = {c["c_custkey"]: 0 for c in customers}
    for o in orders:
        if o["o_orderpriority"] != "5-LOW":
            per_cust[o["o_custkey"]] += 1
    assert per_cust[2] == 0 and per_cust[3] == 0  # both zero paths forced
    assert per_cust[1] == per_cust[4] == 2  # histogram tie forced
    expect: dict[int, int] = {}
    for n in per_cust.values():
        expect[n] = expect.get(n, 0) + 1
    assert expect[0] >= 2

    sdf = _spark_vs_registered_oracle(spark, "tpch_q13", tmp_path)
    got = {r.c_count: r.custdist for r in sdf.collect()}
    assert got == expect


def test_tpch_q16_not_in_boundary_and_distinct_pairs(spark, tmp_path):
    """Q16 differential FORCING the NOT-IN boundary (supplier with
    s_acctbal exactly 0 is KEPT — the exclusion is strictly < 0),
    duplicate (partkey, suppkey) lineitem pairs that must collapse, one
    supplier serving two parts of the SAME attribute triple (counted
    once per triple), and the p_size IN-list edge (size 1 in, 2 out)."""
    suppliers = [
        dict(s_suppkey=1, s_acctbal=0.0),     # boundary: kept (not < 0)
        dict(s_suppkey=2, s_acctbal=-0.25),   # excluded
        dict(s_suppkey=3, s_acctbal=100.0),
        dict(s_suppkey=4, s_acctbal=50.0),
    ]
    parts = [
        dict(p_partkey=1, p_brand="Brand#1", p_type="LARGE", p_size=1),
        dict(p_partkey=2, p_brand="Brand#1", p_type="LARGE", p_size=1),  # same triple
        dict(p_partkey=3, p_brand="Brand#5", p_type="LARGE", p_size=5),  # brand out
        dict(p_partkey=4, p_brand="Brand#2", p_type="MEDIUM", p_size=5),  # type out
        dict(p_partkey=5, p_brand="Brand#2", p_type="SMALL", p_size=2),  # size out
        dict(p_partkey=6, p_brand="Brand#3", p_type="SMALL", p_size=35),
    ]
    lines = [
        # duplicate pair (1,1) x3 -> one distinct pair
        dict(l_partkey=1, l_suppkey=1),
        dict(l_partkey=1, l_suppkey=1),
        dict(l_partkey=1, l_suppkey=1),
        # supplier 3 serves parts 1 AND 2 (same triple) -> counted ONCE
        dict(l_partkey=1, l_suppkey=3),
        dict(l_partkey=2, l_suppkey=3),
        # excluded supplier 2 on an otherwise-qualifying part
        dict(l_partkey=1, l_suppkey=2),
        # rows feeding filtered-out parts
        dict(l_partkey=3, l_suppkey=4),
        dict(l_partkey=4, l_suppkey=4),
        dict(l_partkey=5, l_suppkey=4),
        dict(l_partkey=6, l_suppkey=4),
    ]
    _write_tpch(spark, tmp_path, "supplier", suppliers)
    _write_tpch(spark, tmp_path, "part", parts)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    bad = {s["s_suppkey"] for s in suppliers if s["s_acctbal"] < 0}
    assert bad == {2} and 1 not in bad  # acctbal==0 boundary attested
    pinfo = {p["p_partkey"]: p for p in parts}
    ok_sizes = {1, 5, 10, 15, 20, 25, 30, 35}
    pairs = {(ln["l_partkey"], ln["l_suppkey"]) for ln in lines}
    expect: dict[tuple, set] = {}
    for pk, sk in pairs:
        p = pinfo[pk]
        if (
            sk not in bad
            and p["p_brand"] != "Brand#5"
            and p["p_type"] != "MEDIUM"
            and p["p_size"] in ok_sizes
        ):
            expect.setdefault(
                (p["p_brand"], p["p_type"], p["p_size"]), set()
            ).add(sk)
    assert expect[("Brand#1", "LARGE", 1)] == {1, 3}  # dup pair + cross-part once

    sdf = _spark_vs_registered_oracle(spark, "tpch_q16", tmp_path)
    got = {
        (r.p_brand, r.p_type, r.p_size): r.supplier_cnt for r in sdf.collect()
    }
    assert got == {k: len(v) for k, v in expect.items()}


def test_tpch_q11_value_fraction_exact_equality_dropped(spark, tmp_path):
    """Q11 differential FORCING the strict-> threshold: a part whose
    value*1000 equals the global total EXACTLY (1.00 of a 1000.00
    total) must be dropped; parts supplied only by out-of-nation
    suppliers must not even enter the total."""
    nations = [
        dict(n_nationkey=5, n_name="NATION_5"),
        dict(n_nationkey=6, n_name="NATION_6"),
    ]
    suppliers = [
        dict(s_suppkey=1, s_nationkey=5),
        dict(s_suppkey=2, s_nationkey=6),  # out of nation
    ]
    lines = [
        dict(l_partkey=1, l_suppkey=1, l_extendedprice=1.00),
        # part 2 sums to 999.00 across two rows
        dict(l_partkey=2, l_suppkey=1, l_extendedprice=499.50),
        dict(l_partkey=2, l_suppkey=1, l_extendedprice=499.50),
        # part 3 only via the excluded supplier: absent from supval
        dict(l_partkey=3, l_suppkey=2, l_extendedprice=5000.0),
        # part 1 also ships via the excluded supplier: must not inflate
        dict(l_partkey=1, l_suppkey=2, l_extendedprice=5000.0),
    ]
    _write_tpch(spark, tmp_path, "nation", nations)
    _write_tpch(spark, tmp_path, "supplier", suppliers)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    value = {1: 1.00, 2: 999.00}
    total = sum(value.values())
    assert value[1] * 1000 == total  # forced exact equality -> dropped
    assert value[2] * 1000 > total
    expect = {2: 999.00}

    sdf = _spark_vs_registered_oracle(spark, "tpch_q11", tmp_path)
    got = {r.ps_partkey: r.value for r in sdf.collect()}
    assert got == expect


def test_tpch_q17_quantity_threshold_exact_equality(spark, tmp_path):
    """Q17 differential FORCING the multiplied-through threshold
    l_quantity*5*cnt < sum_qty at EXACT equality (2.5*5*2 == 25 ->
    dropped) next to a strictly-below row (1.0*5*2 = 10 < 25 -> kept),
    plus a part failing the brand filter whose rows would otherwise
    qualify."""
    parts = [
        dict(p_partkey=1, p_brand="Brand#3", p_size=10),  # size boundary: kept
        dict(p_partkey=2, p_brand="Brand#3", p_size=1),
        dict(p_partkey=3, p_brand="Brand#9", p_size=1),   # brand out
        dict(p_partkey=4, p_brand="Brand#3", p_size=11),  # size out
    ]
    lines = [
        # part 1: cnt=2 sum=25.0; the 2.5 row hits equality exactly
        dict(l_partkey=1, l_quantity=2.5, l_extendedprice=100.25),
        dict(l_partkey=1, l_quantity=22.5, l_extendedprice=200.0),
        # part 2: cnt=2 sum=25.0; the 1.0 row is strictly below
        dict(l_partkey=2, l_quantity=1.0, l_extendedprice=500.75),
        dict(l_partkey=2, l_quantity=24.0, l_extendedprice=300.0),
        # part 3 (brand out) and part 4 (size out): tiny qty, huge price
        dict(l_partkey=3, l_quantity=0.25, l_extendedprice=9999.0),
        dict(l_partkey=3, l_quantity=50.0, l_extendedprice=9999.0),
        dict(l_partkey=4, l_quantity=0.25, l_extendedprice=9999.0),
        dict(l_partkey=4, l_quantity=60.0, l_extendedprice=9999.0),
    ]
    _write_tpch(spark, tmp_path, "part", parts)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    stats = {}
    for ln in lines:
        s, c = stats.get(ln["l_partkey"], (0.0, 0))
        stats[ln["l_partkey"]] = (s + ln["l_quantity"], c + 1)
    assert 2.5 * 5 * stats[1][1] == stats[1][0] == 25.0  # equality forced
    kept_price = [
        ln["l_extendedprice"]
        for ln in lines
        if ln["l_partkey"] in (1, 2)
        and ln["l_quantity"] * 5 * stats[ln["l_partkey"]][1]
        < stats[ln["l_partkey"]][0]
    ]
    assert kept_price == [500.75]  # ONLY the strictly-below row survives

    sdf = _spark_vs_registered_oracle(spark, "tpch_q17", tmp_path)
    rows = sdf.collect()
    assert len(rows) == 1
    assert rows[0].avg_yearly == 500.75 / 7.0


def test_tpch_q19_disjunct_between_boundaries(spark, tmp_path):
    """Q19 differential FORCING every BETWEEN endpoint of the three
    disjuncts: quantities exactly at 1/11 (Brand#12), 10/20 (Brand#23),
    20/30 (Brand#34) are IN; one quarter past each upper bound is OUT;
    and a lineitem that joins on partkey but fails all disjuncts
    contributes nothing."""
    parts = [
        dict(p_partkey=1, p_brand="Brand#12", p_size=5),   # d1 size edge (1..5)
        dict(p_partkey=2, p_brand="Brand#23", p_size=10),  # d2 size edge
        dict(p_partkey=3, p_brand="Brand#34", p_size=15),  # d3 size edge
        dict(p_partkey=4, p_brand="Brand#12", p_size=6),   # size out for d1
    ]
    lines = [
        dict(l_partkey=1, l_quantity=1.0, l_extendedprice=100.0, l_discount=0.25),
        dict(l_partkey=1, l_quantity=11.0, l_extendedprice=200.0),
        dict(l_partkey=1, l_quantity=11.25, l_extendedprice=5000.0),  # out
        dict(l_partkey=2, l_quantity=10.0, l_extendedprice=300.0, l_discount=0.5),
        dict(l_partkey=2, l_quantity=20.0, l_extendedprice=400.0),
        dict(l_partkey=2, l_quantity=9.75, l_extendedprice=5000.0),   # out
        dict(l_partkey=3, l_quantity=20.0, l_extendedprice=500.0),
        dict(l_partkey=3, l_quantity=30.0, l_extendedprice=600.0),
        dict(l_partkey=3, l_quantity=30.25, l_extendedprice=5000.0),  # out
        dict(l_partkey=4, l_quantity=3.0, l_extendedprice=5000.0),    # size out
    ]
    _write_tpch(spark, tmp_path, "part", parts)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    pinfo = {p["p_partkey"]: p for p in parts}

    def disjuncts(p, q):
        return (
            (p["p_brand"] == "Brand#12" and 1 <= p["p_size"] <= 5 and 1 <= q <= 11)
            or (p["p_brand"] == "Brand#23" and 1 <= p["p_size"] <= 10 and 10 <= q <= 20)
            or (p["p_brand"] == "Brand#34" and 1 <= p["p_size"] <= 15 and 20 <= q <= 30)
        )

    kept = [
        ln for ln in lines if disjuncts(pinfo[ln["l_partkey"]], ln["l_quantity"])
    ]
    assert len(kept) == 6  # exactly the six boundary-IN rows
    assert all(ln["l_extendedprice"] != 5000.0 for ln in kept)
    revenue = sum(
        ln["l_extendedprice"] * (1 - ln.get("l_discount", 0.0)) for ln in kept
    )

    sdf = _spark_vs_registered_oracle(spark, "tpch_q19", tmp_path)
    rows = sdf.collect()
    assert len(rows) == 1 and rows[0].revenue == revenue


def test_tpch_q22_average_equality_and_recent_order_cutoff(spark, tmp_path):
    """Q22 differential FORCING (a) the above-average strict inequality
    at exact equality (acctbal 200.00 against avg 200.00 -> dropped),
    (b) the c_acctbal > 0 boundary (a zero-balance customer is outside
    the average), (c) the recent-order cutoff (an order exactly AT
    1999-01-01 disqualifies; one microsecond earlier does not), and
    (d) the %7 country-code wrap (nationkey 8 -> code 1)."""
    from datetime import datetime, timedelta

    CUT = datetime(1999, 1, 1)
    customers = [
        # codes from %7: 1,3,5 are in; 2 is out
        dict(c_custkey=1, c_nationkey=1, c_acctbal=100.00),  # below avg
        dict(c_custkey=2, c_nationkey=3, c_acctbal=290.00),  # == avg: dropped
        dict(c_custkey=3, c_nationkey=5, c_acctbal=300.00),  # above avg, no orders
        dict(c_custkey=4, c_nationkey=8, c_acctbal=300.00),  # code 1 via wrap
        dict(c_custkey=5, c_nationkey=1, c_acctbal=0.00),    # outside the avg
        dict(c_custkey=6, c_nationkey=2, c_acctbal=9999.0),  # code 2: out
        dict(c_custkey=7, c_nationkey=3, c_acctbal=350.00),  # above, HAS recent
        dict(c_custkey=8, c_nationkey=5, c_acctbal=400.00),  # above, old order only
    ]
    orders = [
        dict(o_orderkey=1, o_custkey=7, o_orderdate=CUT),  # exactly AT: recent
        dict(o_orderkey=2, o_custkey=8, o_orderdate=CUT - timedelta(microseconds=1)),
        dict(o_orderkey=3, o_custkey=6, o_orderdate=CUT),  # excluded code anyway
    ]
    _write_tpch(spark, tmp_path, "customer", customers)
    _write_tpch(spark, tmp_path, "orders", orders)

    in_code = [c for c in customers if c["c_nationkey"] % 7 in (1, 3, 5)]
    pos = [c for c in in_code if c["c_acctbal"] > 0]
    bal_sum, bal_cnt = sum(c["c_acctbal"] for c in pos), len(pos)
    # attest: customer 2 hits exact equality (290*6 == 1740 == the pos
    # sum 100+290+300+300+350+400); zero-balance is outside pos
    assert customers[1]["c_acctbal"] * bal_cnt == bal_sum == 1740.0
    assert all(c["c_custkey"] != 5 for c in pos)
    recent = {o["o_custkey"] for o in orders if o["o_orderdate"] >= CUT}
    assert 7 in recent and 8 not in recent  # cutoff boundary attested
    expect: dict[int, tuple[int, float]] = {}
    for c in in_code:
        if c["c_acctbal"] * bal_cnt > bal_sum and c["c_custkey"] not in recent:
            code = c["c_nationkey"] % 7
            n, t = expect.get(code, (0, 0.0))
            expect[code] = (n + 1, t + c["c_acctbal"])
    assert set(expect) == {1, 5}  # codes 1 (incl. the %7 wrap) and 5 survive

    sdf = _spark_vs_registered_oracle(spark, "tpch_q22", tmp_path)
    got = {r.cntrycode: (r.numcust, r.totacctbal) for r in sdf.collect()}
    assert got == expect


def test_tpch_q2_min_cost_tie_keeps_both(spark, tmp_path):
    """Q2 differential FORCING the tie-at-min edge: two EUROPE
    suppliers of the same part at the identical minimum acctbal must
    BOTH be returned, and a CHEAPER supplier outside EUROPE must not
    define the min (it is filtered before the window). Part filters
    (size exactly 15, type exactly 'LARGE') each knocked out once."""
    regions = [
        dict(r_regionkey=0, r_name="EUROPE"),
        dict(r_regionkey=1, r_name="ASIA"),
    ]
    nations = [
        dict(n_nationkey=10, n_name="NATION_A", n_regionkey=0),
        dict(n_nationkey=11, n_name="NATION_B", n_regionkey=1),
    ]
    suppliers = [
        dict(s_suppkey=1, s_name="s1", s_nationkey=10, s_acctbal=10.0),
        dict(s_suppkey=2, s_name="s2", s_nationkey=10, s_acctbal=10.0),  # tie
        dict(s_suppkey=3, s_name="s3", s_nationkey=10, s_acctbal=20.0),
        dict(s_suppkey=4, s_name="s4", s_nationkey=11, s_acctbal=1.0),   # non-EU, cheaper
    ]
    parts = [
        dict(p_partkey=1, p_type="LARGE", p_size=15),
        dict(p_partkey=2, p_type="LARGE", p_size=14),   # size out
        dict(p_partkey=3, p_type="SMALL", p_size=15),   # type out
    ]
    lines = [
        dict(l_partkey=1, l_suppkey=1),
        dict(l_partkey=1, l_suppkey=1),  # duplicate pair collapses
        dict(l_partkey=1, l_suppkey=2),
        dict(l_partkey=1, l_suppkey=3),
        dict(l_partkey=1, l_suppkey=4),
        dict(l_partkey=2, l_suppkey=1),
        dict(l_partkey=3, l_suppkey=2),
    ]
    for name, rows in [
        ("region", regions), ("nation", nations), ("supplier", suppliers),
        ("part", parts), ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    # Python walk: candidates for part 1 are suppliers 1,2,3 (supplier 4
    # is ASIA); min acctbal 10.0 is shared by 1 and 2
    assert suppliers[3]["s_acctbal"] < suppliers[0]["s_acctbal"]  # forced decoy
    expect = {
        (1, "LARGE", 1, "s1", 10.0, "NATION_A"),
        (1, "LARGE", 2, "s2", 10.0, "NATION_A"),
    }

    sdf = _spark_vs_registered_oracle(spark, "tpch_q2", tmp_path)
    got = {
        (r.p_partkey, r.p_type, r.s_suppkey, r.s_name, r.s_acctbal, r.n_name)
        for r in sdf.collect()
    }
    assert got == expect


def test_tpch_q5_same_nation_predicate_and_date_window(spark, tmp_path):
    """Q5 differential FORCING the customer-nation == supplier-nation
    join predicate (a cross-nation sale is dropped even though every
    equi-key matches) and the half-open order-date window (order AT
    1997-01-01 in, AT 1998-01-01 out)."""
    from datetime import datetime

    regions = [
        dict(r_regionkey=0, r_name="ASIA"),
        dict(r_regionkey=1, r_name="EUROPE"),
    ]
    nations = [
        dict(n_nationkey=1, n_name="NATION_X", n_regionkey=0),
        dict(n_nationkey=2, n_name="NATION_Y", n_regionkey=0),
        dict(n_nationkey=3, n_name="NATION_Z", n_regionkey=1),  # non-ASIA
    ]
    customers = [
        dict(c_custkey=1, c_nationkey=1),
        dict(c_custkey=2, c_nationkey=2),
        dict(c_custkey=3, c_nationkey=3),
    ]
    suppliers = [
        dict(s_suppkey=1, s_nationkey=1),
        dict(s_suppkey=2, s_nationkey=2),
        dict(s_suppkey=3, s_nationkey=3),
    ]
    orders = [
        dict(o_orderkey=1, o_custkey=1, o_orderdate=datetime(1997, 1, 1)),  # AT lower
        dict(o_orderkey=2, o_custkey=1, o_orderdate=datetime(1998, 1, 1)),  # AT upper
        dict(o_orderkey=3, o_custkey=2, o_orderdate=datetime(1997, 7, 1)),
        dict(o_orderkey=4, o_custkey=3, o_orderdate=datetime(1997, 7, 1)),  # non-ASIA cust
    ]
    lines = [
        dict(l_orderkey=1, l_suppkey=1, l_extendedprice=100.0, l_discount=0.25),
        dict(l_orderkey=1, l_suppkey=2, l_extendedprice=999.0),  # cross-nation: out
        dict(l_orderkey=2, l_suppkey=1, l_extendedprice=5000.0),  # date out
        dict(l_orderkey=3, l_suppkey=2, l_extendedprice=200.0, l_discount=0.5),
        dict(l_orderkey=4, l_suppkey=3, l_extendedprice=7000.0),  # region out
    ]
    for name, rows in [
        ("region", regions), ("nation", nations), ("customer", customers),
        ("supplier", suppliers), ("orders", orders), ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    # Python walk mirrors every predicate
    nat = {n["n_nationkey"]: n for n in nations}
    cust = {c["c_custkey"]: c for c in customers}
    supp = {s["s_suppkey"]: s for s in suppliers}
    ordr = {o["o_orderkey"]: o for o in orders}
    LO, HI = datetime(1997, 1, 1), datetime(1998, 1, 1)
    expect: dict[str, float] = {}
    for ln in lines:
        o = ordr[ln["l_orderkey"]]
        c = cust[o["o_custkey"]]
        s = supp[ln["l_suppkey"]]
        n = nat[s["s_nationkey"]]
        if (
            LO <= o["o_orderdate"] < HI
            and c["c_nationkey"] == s["s_nationkey"]
            and nat[n["n_nationkey"]]["n_regionkey"] == 0  # ASIA
        ):
            rev = ln["l_extendedprice"] * (1 - ln.get("l_discount", 0.0))
            expect[n["n_name"]] = expect.get(n["n_name"], 0.0) + rev
    assert expect == {"NATION_X": 75.0, "NATION_Y": 100.0}  # forcing attested

    sdf = _spark_vs_registered_oracle(spark, "tpch_q5", tmp_path)
    got = {r.n_name: r.revenue for r in sdf.collect()}
    assert got == expect


def test_tpch_q7_symmetric_pair_and_year_boundary(spark, tmp_path):
    """Q7 differential FORCING both directions of the symmetric nation
    pair (1->2 and 2->1 each keep their own group), the SAME-nation
    decoy (1->1 dropped), a third-nation decoy, and the ship-date
    year boundary (1997-12-31 groups under 1997; 1998-01-01 is outside
    the window entirely)."""
    from datetime import datetime

    nations = [
        dict(n_nationkey=1, n_name="NATION_1"),
        dict(n_nationkey=2, n_name="NATION_2"),
        dict(n_nationkey=3, n_name="NATION_3"),
    ]
    suppliers = [dict(s_suppkey=k, s_nationkey=k) for k in (1, 2, 3)]
    customers = [dict(c_custkey=k, c_nationkey=k) for k in (1, 2, 3)]
    orders = [dict(o_orderkey=k, o_custkey=k) for k in (1, 2, 3)]
    lines = [
        # supp 1 -> cust 2, AT the lower bound (kept, year 1996)
        dict(l_orderkey=2, l_suppkey=1, l_shipdate=datetime(1996, 1, 1),
             l_extendedprice=100.0, l_discount=0.25),
        # supp 2 -> cust 1, last day of 1997 (kept, year 1997)
        dict(l_orderkey=1, l_suppkey=2, l_shipdate=datetime(1997, 12, 31),
             l_extendedprice=200.0),
        # supp 1 -> cust 2 again in 1997: second group row
        dict(l_orderkey=2, l_suppkey=1, l_shipdate=datetime(1997, 6, 1),
             l_extendedprice=400.0, l_discount=0.5),
        # AT the upper bound: dropped
        dict(l_orderkey=2, l_suppkey=1, l_shipdate=datetime(1998, 1, 1),
             l_extendedprice=9999.0),
        # same-nation decoy 1 -> 1: dropped
        dict(l_orderkey=1, l_suppkey=1, l_shipdate=datetime(1997, 6, 1),
             l_extendedprice=9999.0),
        # third nation decoy 3 -> 2: dropped
        dict(l_orderkey=2, l_suppkey=3, l_shipdate=datetime(1997, 6, 1),
             l_extendedprice=9999.0),
    ]
    for name, rows in [
        ("nation", nations), ("supplier", suppliers), ("customer", customers),
        ("orders", orders), ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    expect = {
        ("NATION_1", "NATION_2", 1996): 75.0,
        ("NATION_1", "NATION_2", 1997): 200.0,
        ("NATION_2", "NATION_1", 1997): 200.0,
    }

    sdf = _spark_vs_registered_oracle(spark, "tpch_q7", tmp_path)
    got = {
        (r.supp_nation, r.cust_nation, r.l_year): r.revenue
        for r in sdf.collect()
    }
    assert got == expect
    assert all(v != 9999.0 and v < 9999.0 for v in got.values())  # decoys out


def test_tpch_q20_qty_threshold_and_semi_join_once(spark, tmp_path):
    """Q20 differential FORCING the strict qty > 40 threshold (a
    supplier whose in-window shipped total is EXACTLY 40.0 is dropped;
    40.25 qualifies), the ship-date window edges feeding that sum, the
    LIKE '%bolt%' part filter, and the left-semi collapse (a supplier
    qualifying via TWO parts appears exactly once)."""
    from datetime import datetime, timedelta

    LO, HI = datetime(1997, 1, 1), datetime(1998, 1, 1)
    nations = [
        dict(n_nationkey=7, n_name="NATION_7"),
        dict(n_nationkey=8, n_name="NATION_8"),
    ]
    suppliers = [
        dict(s_suppkey=1, s_name="s1", s_nationkey=7),  # exactly 40: dropped
        dict(s_suppkey=2, s_name="s2", s_nationkey=7),  # 40.25: kept
        dict(s_suppkey=3, s_name="s3", s_nationkey=7),  # kept via two parts
        dict(s_suppkey=4, s_name="s4", s_nationkey=8),  # wrong nation
        dict(s_suppkey=5, s_name="s5", s_nationkey=7),  # only non-bolt parts
    ]
    parts = [
        dict(p_partkey=1, p_name="steel bolt large"),
        dict(p_partkey=2, p_name="boltless rivet"),   # still contains 'bolt'
        dict(p_partkey=3, p_name="copper nut"),       # no match
    ]
    lines = [
        # s1 on part 1: 25.0 in-window + 15.0 in-window = exactly 40.0
        dict(l_partkey=1, l_suppkey=1, l_quantity=25.0, l_shipdate=LO),
        dict(l_partkey=1, l_suppkey=1, l_quantity=15.0,
             l_shipdate=HI - timedelta(microseconds=1)),
        # s1 extra 10.0 OUTSIDE the window (AT the upper bound): not counted
        dict(l_partkey=1, l_suppkey=1, l_quantity=10.0, l_shipdate=HI),
        # s2 on part 1: 40.25 total
        dict(l_partkey=1, l_suppkey=2, l_quantity=40.25,
             l_shipdate=datetime(1997, 6, 1)),
        # s3 qualifies via part 1 AND part 2 -> one output row
        dict(l_partkey=1, l_suppkey=3, l_quantity=41.0,
             l_shipdate=datetime(1997, 6, 1)),
        dict(l_partkey=2, l_suppkey=3, l_quantity=50.0,
             l_shipdate=datetime(1997, 6, 1)),
        # s4 qualifies on quantity but is in NATION_8
        dict(l_partkey=1, l_suppkey=4, l_quantity=99.0,
             l_shipdate=datetime(1997, 6, 1)),
        # s5 ships a mountain of the non-matching part
        dict(l_partkey=3, l_suppkey=5, l_quantity=500.0,
             l_shipdate=datetime(1997, 6, 1)),
    ]
    for name, rows in [
        ("nation", nations), ("supplier", suppliers), ("part", parts),
        ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    # attest the forced threshold: s1's in-window total is exactly 40
    s1_total = sum(
        ln["l_quantity"] for ln in lines
        if ln["l_suppkey"] == 1 and LO <= ln["l_shipdate"] < HI
    )
    assert s1_total == 40.0
    expect = {(2, "s2"), (3, "s3")}

    sdf = _spark_vs_registered_oracle(spark, "tpch_q20", tmp_path)
    rows = sdf.collect()
    assert len(rows) == len(set(rows)) == 2  # semi-join: s3 exactly once
    assert {(r.s_suppkey, r.s_name) for r in rows} == expect


def test_tpch_q8_market_share_zero_and_exact_fraction(spark, tmp_path):
    """Q8 differential FORCING a year with ZERO target-nation volume
    (share must be exactly 0.0, not a missing row) next to a year with
    a dyadic-exact share (100/400 = 0.25), plus the order-date upper
    bound (AT 1998-01-01 dropped) and the ECONOMY part filter."""
    from datetime import datetime

    regions = [
        dict(r_regionkey=0, r_name="AMERICA"),
        dict(r_regionkey=1, r_name="EUROPE"),
    ]
    nations = [
        dict(n_nationkey=1, n_name="NATION_3", n_regionkey=0),  # target + AMERICA
        dict(n_nationkey=2, n_name="NATION_4", n_regionkey=0),
        dict(n_nationkey=3, n_name="NATION_5", n_regionkey=1),  # non-AMERICA cust
    ]
    customers = [
        dict(c_custkey=1, c_nationkey=1),
        dict(c_custkey=2, c_nationkey=2),
        dict(c_custkey=3, c_nationkey=3),
    ]
    suppliers = [
        dict(s_suppkey=1, s_nationkey=1),  # NATION_3 supplier (the target)
        dict(s_suppkey=2, s_nationkey=2),
    ]
    parts = [
        dict(p_partkey=1, p_type="ECONOMY"),
        dict(p_partkey=2, p_type="PREMIUM"),  # filtered out
    ]
    orders = [
        dict(o_orderkey=1, o_custkey=1, o_orderdate=datetime(1996, 3, 1)),
        dict(o_orderkey=2, o_custkey=2, o_orderdate=datetime(1996, 9, 1)),
        dict(o_orderkey=3, o_custkey=1, o_orderdate=datetime(1997, 3, 1)),
        dict(o_orderkey=4, o_custkey=1, o_orderdate=datetime(1998, 1, 1)),  # AT upper
        dict(o_orderkey=5, o_custkey=3, o_orderdate=datetime(1996, 6, 1)),  # non-AMERICA
    ]
    lines = [
        # 1996: NATION_3 supplies 100, NATION_4 supplies 300 -> share 0.25
        dict(l_orderkey=1, l_partkey=1, l_suppkey=1, l_extendedprice=100.0),
        dict(l_orderkey=2, l_partkey=1, l_suppkey=2, l_extendedprice=300.0),
        # 1997: only NATION_4 -> share exactly 0.0
        dict(l_orderkey=3, l_partkey=1, l_suppkey=2, l_extendedprice=250.0),
        # decoys: boundary date, non-ECONOMY part, non-AMERICA customer
        dict(l_orderkey=4, l_partkey=1, l_suppkey=1, l_extendedprice=9999.0),
        dict(l_orderkey=1, l_partkey=2, l_suppkey=1, l_extendedprice=9999.0),
        dict(l_orderkey=5, l_partkey=1, l_suppkey=1, l_extendedprice=9999.0),
    ]
    for name, rows in [
        ("region", regions), ("nation", nations), ("customer", customers),
        ("supplier", suppliers), ("part", parts), ("orders", orders),
        ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    expect = {1996: 100.0 / 400.0, 1997: 0.0}
    assert expect[1996] == 0.25  # dyadic-exact share attested

    sdf = _spark_vs_registered_oracle(spark, "tpch_q8", tmp_path)
    got = {r.o_year: r.mkt_share for r in sdf.collect()}
    assert got == expect


def test_tpch_q9_like_case_sensitivity_and_negative_profit(spark, tmp_path):
    """Q9 differential FORCING the LIKE '%red%' edges ('red paint' and
    'bored steel' match; 'RED paint' and 'r e d' do not — LIKE is
    case-sensitive in both engines) and a NEGATIVE profit group
    (supply cost exceeds discounted revenue)."""
    from datetime import datetime

    nations = [
        dict(n_nationkey=1, n_name="NATION_P"),
        dict(n_nationkey=2, n_name="NATION_Q"),
    ]
    suppliers = [
        dict(s_suppkey=1, s_nationkey=1),
        dict(s_suppkey=2, s_nationkey=2),
    ]
    parts = [
        dict(p_partkey=1, p_name="red paint", p_retailprice=10.0),
        dict(p_partkey=2, p_name="bored steel", p_retailprice=100.0),
        dict(p_partkey=3, p_name="RED paint", p_retailprice=1.0),   # case: out
        dict(p_partkey=4, p_name="r e d", p_retailprice=1.0),       # out
    ]
    orders = [
        dict(o_orderkey=1, o_orderdate=datetime(1996, 5, 1)),
        dict(o_orderkey=2, o_orderdate=datetime(1997, 5, 1)),
    ]
    lines = [
        # profit 100*(1-0.25) - 10*2 = 55.0 (NATION_P, 1996)
        dict(l_orderkey=1, l_partkey=1, l_suppkey=1, l_quantity=2.0,
             l_extendedprice=100.0, l_discount=0.25),
        # NEGATIVE profit: 50 - 100*3 = -250.0 (NATION_Q, 1997)
        dict(l_orderkey=2, l_partkey=2, l_suppkey=2, l_quantity=3.0,
             l_extendedprice=50.0),
        # decoys on non-matching part names
        dict(l_orderkey=1, l_partkey=3, l_suppkey=1, l_extendedprice=9999.0),
        dict(l_orderkey=1, l_partkey=4, l_suppkey=1, l_extendedprice=9999.0),
    ]
    for name, rows in [
        ("nation", nations), ("supplier", suppliers), ("part", parts),
        ("orders", orders), ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    expect = {("NATION_P", 1996): 55.0, ("NATION_Q", 1997): -250.0}
    assert expect[("NATION_Q", 1997)] < 0  # negative-profit group attested

    sdf = _spark_vs_registered_oracle(spark, "tpch_q9", tmp_path)
    got = {(r.nation, r.o_year): r.sum_profit for r in sdf.collect()}
    assert got == expect


def test_tpch_q21_exists_not_exists_shipdate_tie(spark, tmp_path):
    """Q21 differential FORCING the correlated-subquery edges: a
    single-supplier order fails EXISTS; the non-latest supplier of a
    two-supplier order fails NOT EXISTS; two suppliers tied at the SAME
    latest shipdate are BOTH kept (strictly-later is required to
    disqualify); an 'O'-status order and an out-of-nation supplier are
    dropped; one supplier waits on TWO orders -> numwait 2."""
    from datetime import datetime

    D1, D2 = datetime(1997, 3, 1), datetime(1997, 6, 1)
    nations = [
        dict(n_nationkey=9, n_name="NATION_9"),
        dict(n_nationkey=1, n_name="NATION_1"),
    ]
    suppliers = [
        dict(s_suppkey=1, s_name="s1", s_nationkey=9),
        dict(s_suppkey=2, s_name="s2", s_nationkey=9),
        dict(s_suppkey=3, s_name="s3", s_nationkey=9),
        dict(s_suppkey=4, s_name="s4", s_nationkey=1),  # out of nation
    ]
    orders = [
        dict(o_orderkey=1, o_orderstatus="F"),
        dict(o_orderkey=2, o_orderstatus="F"),  # single-supplier
        dict(o_orderkey=3, o_orderstatus="F"),  # shipdate tie
        dict(o_orderkey=4, o_orderstatus="O"),  # status out
        dict(o_orderkey=5, o_orderstatus="F"),  # s1 waits again
    ]
    lines = [
        # order 1: s1 ships early, s2 ships last -> only s2 kept
        dict(l_orderkey=1, l_suppkey=1, l_shipdate=D1),
        dict(l_orderkey=1, l_suppkey=2, l_shipdate=D2),
        # order 2: s1 alone -> EXISTS fails
        dict(l_orderkey=2, l_suppkey=1, l_shipdate=D1),
        # order 3: s2 and s3 tied at the same instant -> BOTH kept
        dict(l_orderkey=3, l_suppkey=2, l_shipdate=D2),
        dict(l_orderkey=3, l_suppkey=3, l_shipdate=D2),
        # order 4 (status O): would qualify otherwise
        dict(l_orderkey=4, l_suppkey=1, l_shipdate=D1),
        dict(l_orderkey=4, l_suppkey=2, l_shipdate=D2),
        # order 5: s4 ships early (EXISTS satisfied), s1 last -> s1 kept
        dict(l_orderkey=5, l_suppkey=4, l_shipdate=D1),
        dict(l_orderkey=5, l_suppkey=1, l_shipdate=D2),
    ]
    for name, rows in [
        ("nation", nations), ("supplier", suppliers), ("orders", orders),
        ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    # pure-Python walk of the EXISTS / NOT EXISTS semantics
    status = {o["o_orderkey"]: o["o_orderstatus"] for o in orders}
    nat = {s["s_suppkey"]: s["s_nationkey"] for s in suppliers}
    name_of = {s["s_suppkey"]: s["s_name"] for s in suppliers}
    waits: dict[str, int] = {}
    for l1 in lines:
        if status[l1["l_orderkey"]] != "F" or nat[l1["l_suppkey"]] != 9:
            continue
        others = [
            l2 for l2 in lines
            if l2["l_orderkey"] == l1["l_orderkey"]
            and l2["l_suppkey"] != l1["l_suppkey"]
        ]
        if not others:
            continue
        if any(l3["l_shipdate"] > l1["l_shipdate"] for l3 in others):
            continue
        nm = name_of[l1["l_suppkey"]]
        waits[nm] = waits.get(nm, 0) + 1
    assert waits == {"s1": 1, "s2": 2, "s3": 1}  # tie keeps BOTH s2 and s3

    sdf = _spark_vs_registered_oracle(spark, "tpch_q21", tmp_path)
    got = {r.s_name: r.numwait for r in sdf.collect()}
    assert got == waits


def test_sink_partitioned_prune_year_boundaries(spark, tmp_path):
    """sink_partitioned_prune differential FORCING the partition-prune
    edges: orders at 1995-12-31 23:59:59.999999 and 1998-01-01 land in
    pruned partitions; 1996-01-01 00:00:00 and 1997-12-31 23:59:59 are
    the first/last microseconds of the kept years. Any row loss in the
    hive-partitioned write/read or an under/over-pruned scan breaks
    the Python walk and the oracle hash."""
    from datetime import datetime

    orders = [
        dict(o_orderkey=1, o_orderdate=datetime(1995, 12, 31, 23, 59, 59, 999999),
             o_orderpriority="1-URGENT", o_totalprice=111.25),   # pruned
        dict(o_orderkey=2, o_orderdate=datetime(1996, 1, 1),
             o_orderpriority="1-URGENT", o_totalprice=100.25),   # first kept us
        dict(o_orderkey=3, o_orderdate=datetime(1997, 12, 31, 23, 59, 59),
             o_orderpriority="1-URGENT", o_totalprice=200.50),   # last kept sec
        dict(o_orderkey=4, o_orderdate=datetime(1998, 1, 1),
             o_orderpriority="1-URGENT", o_totalprice=999.75),   # pruned
        dict(o_orderkey=5, o_orderdate=datetime(1996, 6, 1),
             o_orderpriority="5-LOW", o_totalprice=50.00),       # singleton group
        dict(o_orderkey=6, o_orderdate=datetime(1997, 6, 1),
             o_orderpriority="1-URGENT", o_totalprice=75.25),
    ]
    _write_tpch(spark, tmp_path, "orders", orders)

    expect: dict[tuple, tuple] = {}
    for o in orders:
        y = o["o_orderdate"].year
        if y in (1996, 1997):
            n, t = expect.get((y, o["o_orderpriority"]), (0, 0.0))
            expect[(y, o["o_orderpriority"])] = (n + 1, t + o["o_totalprice"])
    assert (1995, "1-URGENT") not in expect and (1998, "1-URGENT") not in expect
    assert expect[(1996, "5-LOW")] == (1, 50.00)  # singleton group attested

    sdf = _spark_vs_registered_oracle(spark, "sink_partitioned_prune", tmp_path)
    got = {
        (r.order_year, r.o_orderpriority): (r.n_orders, r.total_price)
        for r in sdf.collect()
    }
    assert got == expect


def test_sink_json_roundtrip_value_edges(spark, tmp_path):
    """sink_json_roundtrip differential FORCING the text-representation
    edges: negative, zero, shortest-roundtrip non-dyadic (0.1 needs 17
    significant digits to survive text), and a 12-digit balance. The
    walk mirrors the engines' double -> DECIMAL(18,2) half-up cast."""
    from decimal import ROUND_HALF_UP, Decimal

    suppliers = [
        dict(s_suppkey=1, s_nationkey=1, s_acctbal=-0.25),
        dict(s_suppkey=2, s_nationkey=1, s_acctbal=0.0),
        dict(s_suppkey=3, s_nationkey=1, s_acctbal=0.1),    # non-dyadic
        dict(s_suppkey=4, s_nationkey=2, s_acctbal=999999999.99),  # singleton
        dict(s_suppkey=5, s_nationkey=3, s_acctbal=0.01),
        dict(s_suppkey=6, s_nationkey=3, s_acctbal=123.45),
    ]
    _write_tpch(spark, tmp_path, "supplier", suppliers)

    def as_dec2(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)

    expect: dict[int, tuple] = {}
    for s in suppliers:
        n, t = expect.get(s["s_nationkey"], (0, Decimal("0")))
        expect[s["s_nationkey"]] = (n + 1, t + as_dec2(s["s_acctbal"]))
    expect = {k: (n, float(t)) for k, (n, t) in expect.items()}
    assert expect[2] == (1, 999999999.99)

    sdf = _spark_vs_registered_oracle(spark, "sink_json_roundtrip", tmp_path)
    got = {r.s_nationkey: (r.n_suppliers, r.sum_acctbal) for r in sdf.collect()}
    assert got == expect


def test_sink_orc_roundtrip_string_edges(spark, tmp_path):
    """sink_orc_roundtrip differential FORCING string edges through the
    ORC round-trip: an EMPTY brand (distinct from null), a multibyte
    unicode brand, and a negative price; empty and unicode brands must
    come back as their own groups."""
    parts = [
        dict(p_partkey=1, p_brand="", p_retailprice=10.25),
        dict(p_partkey=2, p_brand="", p_retailprice=-5.50),
        dict(p_partkey=3, p_brand="Bränd#é", p_retailprice=99.75),
        dict(p_partkey=4, p_brand="Brand#1", p_retailprice=0.0),
    ]
    _write_tpch(spark, tmp_path, "part", parts)

    expect = {"": (2, 4.75), "Bränd#é": (1, 99.75), "Brand#1": (1, 0.0)}
    assert expect[""][1] == 10.25 - 5.50  # negative price attested

    sdf = _spark_vs_registered_oracle(spark, "sink_orc_roundtrip", tmp_path)
    got = {r.p_brand: (r.n_parts, r.sum_price) for r in sdf.collect()}
    assert got == expect


def test_approx_distinct_multiplicity_invariance(spark, tmp_path, tmp_path_factory):
    """approx_distinct differential FORCING the sketch's defining
    invariant: the HLL++ estimate depends ONLY on the distinct set,
    never on multiplicity — the same 137 orderkeys at 1 copy and at
    60 copies each must give BIT-IDENTICAL estimates (and a constant
    partkey column the same way); both estimates must sit inside the
    5-sigma 10% band around the true cardinalities."""
    import random

    rng = random.Random(811)
    keys = rng.sample(range(1, 10_000_000), 137)
    once = [dict(l_orderkey=k, l_partkey=77) for k in keys]
    many = [
        dict(l_orderkey=k, l_partkey=77) for k in keys for _ in range(60)
    ]
    rng.shuffle(many)
    d_once, d_many = tmp_path, tmp_path_factory.mktemp("many")
    _write_tpch(spark, d_once, "lineitem", once)
    _write_tpch(spark, d_many, "lineitem", many)

    from dpu_olap_spark.registry import all_queries

    q = all_queries()["approx_distinct"]
    r1 = q.build(spark, str(d_once)).first()
    r2 = q.build(spark, str(d_many)).first()
    assert (r1.approx_parts, r1.approx_orders) == (r2.approx_parts, r2.approx_orders)
    assert r1.approx_parts == 1  # single distinct value: exact
    assert abs(r1.approx_orders - 137) / 137 < 0.10


def _write_embeddings(tmp_path, vecs):
    """embeddings.parquet from {vec_id: 64-dim float32 list}."""
    ids = sorted(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [vecs[i] for i in ids], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        str(tmp_path) + "/embeddings.parquet",
    )


def test_ivf_train_tie_break_and_singleton_cells(spark, tmp_path):
    """ivf_train differential FORCING the assignment edges the real
    corpus never lines up: a vector EXACTLY equidistant from all 16
    centroids (argmin tie-break -> cell 0), a two-way tie between
    cells 2 and 3, an exact duplicate of centroid 5 (distance 0), and
    singleton cells whose mean must equal the centroid bit-exactly.
    All values dyadic so the Python walk, the Spark fold, and the
    DuckDB fold produce identical doubles."""
    D = 64
    vecs: dict[int, list[float]] = {}
    for i in range(16):  # centroids: 4.0 at dim i
        v = [0.0] * D
        v[i] = 4.0
        vecs[i] = v
    vecs[16] = [0.0] * D            # equidistant from ALL 16 -> cell 0
    vecs[17] = list(vecs[5])        # exact duplicate -> cell 5, d2 == 0
    v18 = list(vecs[7])
    v18[20] = 0.5                   # near centroid 7 -> cell 7
    vecs[18] = v18
    v19 = [0.0] * D
    v19[2] = 2.0
    v19[3] = 2.0                    # tie between cells 2 and 3 -> cell 2
    vecs[19] = v19
    _write_embeddings(tmp_path, vecs)

    # Python walk: argmin over round(d2, 6) with cid tie-break
    def d2(a, b):
        return round(sum((x - y) * (x - y) for x, y in zip(a, b)), 6)

    assign = {}
    for vid, v in vecs.items():
        dists = [(d2(v, vecs[c]), c) for c in range(16)]
        assign[vid] = min(dists)[1]
    # attest the forced ties and memberships
    assert assign[16] == 0 and assign[19] == 2 and assign[17] == 5
    assert assign[18] == 7 and all(assign[c] == c for c in range(16))
    members: dict[int, list[int]] = {}
    for vid, c in assign.items():
        members.setdefault(c, []).append(vid)
    assert sorted(members[5]) == [5, 17] and sorted(members[2]) == [2, 19]
    assert len(members[1]) == 1  # singleton cell attested

    expect = {}
    for c, vids in members.items():
        for dim in range(D):
            s = 0.0
            for vid in sorted(vids):  # fold in vec_id order
                s += vecs[vid][dim]
            # output dims are 1-based (generate_subscripts convention)
            expect[(c, dim + 1)] = (len(vids), s / len(vids))

    sdf = _spark_vs_registered_oracle(spark, "ivf_train", tmp_path)
    got = {
        (r.cell, r.dim): (r.n_members, r.centroid_val) for r in sdf.collect()
    }
    assert got == expect
    assert got[(5, 6)] == (2, 4.0)  # duplicate member leaves the mean fixed
    assert got[(7, 21)] == (2, 0.25)  # v18's 0.5 averages in


def test_pq_encode_zero_distance_and_code_ties(spark, tmp_path):
    """pq_encode differential FORCING (a) a zero-distance encode (a
    vector whose segment equals a codeword: d2u == 0), (b) mass code
    ties — for segments where ALL 8 codewords are identical (zero
    subvectors) every code is equidistant and code 0 must win, and
    (c) a two-way tie inside segment 0. Walk mirrors the kernel's
    floor(d2*1e6 + 0.5) micro-unit rounding and smaller-code
    tie-break."""
    D, SEGS, SEG_DIMS, CODES = 64, 8, 8, 8
    vecs: dict[int, list[float]] = {}
    for i in range(8):  # codewords: 4.0 at dim i (all inside segment 0)
        v = [0.0] * D
        v[i] = 4.0
        vecs[i] = v
    # centroid-table padding (ivf params want vec_id<16 rows to exist,
    # pq only uses vec_id<8) plus the forced probes:
    vecs[8] = list(vecs[3])          # duplicate of codeword 3: seg0 d2u == 0
    v9 = [0.0] * D
    v9[1] = 2.0
    v9[2] = 2.0                      # seg0 tie between codes 1 and 2 -> 1
    vecs[9] = v9
    v10 = [0.0] * D
    v10[20] = 0.5                    # nonzero OUTSIDE seg0: seg2 err 250000
    vecs[10] = v10
    _write_embeddings(tmp_path, vecs)

    def d2u(a, b):
        import math

        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return math.floor(s * 1_000_000 + 0.5)

    expect = {}
    for vid, v in vecs.items():
        for seg in range(SEGS):
            sv = v[seg * SEG_DIMS:(seg + 1) * SEG_DIMS]
            cands = []
            for code in range(CODES):
                cv = vecs[code][seg * SEG_DIMS:(seg + 1) * SEG_DIMS]
                cands.append((d2u(sv, cv), code))
            err, code = min(cands)
            expect[(vid, seg)] = (code, err)
    # attest the forcings
    assert expect[(8, 0)] == (3, 0)          # zero-distance encode
    assert expect[(9, 0)][0] == 1            # two-way tie -> smaller code
    assert expect[(10, 2)] == (0, 250_000)   # off-seg0 residual
    assert all(
        expect[(vid, seg)][0] == 0
        for vid in vecs if vid != 10
        for seg in range(1, SEGS)
    )  # identical codewords -> code 0 wins every tie

    sdf = _spark_vs_registered_oracle(spark, "pq_encode", tmp_path)
    got = {
        (r.vec_id, r.seg): (r.code, r.quant_err_micro) for r in sdf.collect()
    }
    assert got == expect


def test_tpch_q3_strict_date_bounds_and_top10_tie(spark, tmp_path):
    """Q3 differential FORCING the two STRICT date predicates (an order
    AT 1998-03-15 is dropped; a lineitem shipping AT 1998-03-15 is
    dropped — both strict, opposite directions) and a revenue tie
    straddling the LIMIT 10 cut, decided by l_orderkey ASC."""
    from datetime import datetime

    CUT = datetime(1998, 3, 15)
    customers = [
        dict(c_custkey=1, c_mktsegment="BUILDING"),
        dict(c_custkey=2, c_mktsegment="MACHINERY"),  # segment out
    ]
    orders, lines = [], []
    # 12 BUILDING orders; revenues descending, with orders 10 and 11
    # tied exactly at the cut and order 12 below it
    rev = [1200.0, 1100.0, 1000.0, 900.0, 800.0, 700.0,
           600.0, 500.0, 400.0, 300.0, 300.0, 200.0]
    for i, r in enumerate(rev, start=1):
        orders.append(
            dict(o_orderkey=i, o_custkey=1, o_orderdate=datetime(1997, 6, 1),
                 o_orderpriority="3-MEDIUM")
        )
        lines.append(
            dict(l_orderkey=i, l_shipdate=datetime(1998, 6, 1),
                 l_extendedprice=r * 2, l_discount=0.5)
        )
    # order AT the cutoff date: dropped despite qualifying lineitem
    orders.append(dict(o_orderkey=13, o_custkey=1, o_orderdate=CUT))
    lines.append(dict(l_orderkey=13, l_shipdate=datetime(1998, 6, 1),
                      l_extendedprice=9999.0))
    # order whose ONLY lineitem ships AT the cutoff: group absent
    orders.append(dict(o_orderkey=14, o_custkey=1,
                       o_orderdate=datetime(1997, 6, 1)))
    lines.append(dict(l_orderkey=14, l_shipdate=CUT, l_extendedprice=9999.0))
    # non-BUILDING decoy
    orders.append(dict(o_orderkey=15, o_custkey=2,
                       o_orderdate=datetime(1997, 6, 1)))
    lines.append(dict(l_orderkey=15, l_shipdate=datetime(1998, 6, 1),
                      l_extendedprice=9999.0))
    for name, rows in [
        ("customer", customers), ("orders", orders), ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    assert rev[9] == rev[10] and rev[10] > rev[11]  # tie straddles the cut
    expect = [
        (i, rev[i - 1], datetime(1997, 6, 1), "3-MEDIUM")
        for i in range(1, 11)  # ties at 300.0: orderkey 10 in, 11 out
    ]

    sdf = _spark_vs_registered_oracle(spark, "tpch_q3", tmp_path)
    got = [
        (r.l_orderkey, r.revenue, r.o_orderdate, r.o_orderpriority)
        for r in sdf.collect()
    ]
    assert sorted(got, key=lambda t: (-t[1], t[0])) == got  # output order
    assert got == expect
    assert all(k != 11 for k, *_ in got)  # the higher-key tie row lost


def test_tpch_q6_between_and_quantity_boundaries(spark, tmp_path):
    """Q6 differential FORCING each predicate edge: discount exactly at
    the inclusive BETWEEN ends (0.05 and 0.07 in, 0.04/0.08 out),
    quantity exactly at the strict < 24 bound (24.0 out, 23.75 in),
    and the ship-date half-open year (AT 1996-01-01 in, AT 1997-01-01
    out). The walk mirrors the engines' double->DECIMAL(18,4) cast via
    shortest-roundtrip repr + half-up quantize."""
    from datetime import datetime
    from decimal import ROUND_HALF_UP, Decimal

    LO, HI = datetime(1996, 1, 1), datetime(1997, 1, 1)
    mk = dict
    lines = [
        mk(l_quantity=10.0, l_extendedprice=100.0, l_discount=0.05, l_shipdate=LO),
        mk(l_quantity=10.0, l_extendedprice=200.0, l_discount=0.07,
           l_shipdate=datetime(1996, 6, 1)),
        mk(l_quantity=23.75, l_extendedprice=300.0, l_discount=0.06,
           l_shipdate=datetime(1996, 6, 1)),
        # forced drops: each fails exactly ONE predicate
        mk(l_quantity=24.0, l_extendedprice=300.0, l_discount=0.06,
           l_shipdate=datetime(1996, 6, 1)),
        mk(l_quantity=10.0, l_extendedprice=300.0, l_discount=0.04,
           l_shipdate=datetime(1996, 6, 1)),
        mk(l_quantity=10.0, l_extendedprice=300.0, l_discount=0.08,
           l_shipdate=datetime(1996, 6, 1)),
        mk(l_quantity=10.0, l_extendedprice=300.0, l_discount=0.06, l_shipdate=HI),
    ]
    _write_tpch(spark, tmp_path, "lineitem", lines)

    def dec4(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)

    kept = [
        ln for ln in lines
        if LO <= ln["l_shipdate"] < HI
        and 0.05 <= ln["l_discount"] <= 0.07
        and ln["l_quantity"] < 24.0
    ]
    assert len(kept) == 3  # exactly the three boundary-IN rows
    revenue = float(
        sum(dec4(ln["l_extendedprice"] * ln["l_discount"]) for ln in kept)
    )

    sdf = _spark_vs_registered_oracle(spark, "tpch_q6", tmp_path)
    row = sdf.collect()[0]
    assert (row.revenue, row.n_rows) == (revenue, 3)


def test_tpch_q10_top20_revenue_tie_custkey_breaks(spark, tmp_path):
    """Q10 differential FORCING a revenue tie straddling the LIMIT 20
    cut (c_custkey ASC decides), the 'R' returnflag filter, and the
    half-open order-date window (AT 1996-07-01 dropped)."""
    from datetime import datetime

    customers = [dict(c_custkey=k, c_name=f"c{k}", c_nationkey=0)
                 for k in range(1, 24)]
    nations = [dict(n_nationkey=0, n_name="NATION_0")]
    orders, lines = [], []
    # customers 1..22: descending revenue, 20 and 21 tied at the cut
    rev = [2200.0 - 100 * i for i in range(19)] + [300.0, 300.0, 100.0]
    for k, r in enumerate(rev, start=1):
        orders.append(dict(o_orderkey=k, o_custkey=k,
                           o_orderdate=datetime(1996, 3, 1)))
        lines.append(dict(l_orderkey=k, l_returnflag="R",
                          l_extendedprice=r * 2, l_discount=0.5))
    # customer 23: huge revenue but AT the upper date bound -> dropped
    orders.append(dict(o_orderkey=23, o_custkey=23,
                       o_orderdate=datetime(1996, 7, 1)))
    lines.append(dict(l_orderkey=23, l_returnflag="R",
                      l_extendedprice=99999.0))
    # non-'R' decoy on customer 1
    lines.append(dict(l_orderkey=1, l_returnflag="N",
                      l_extendedprice=99999.0))
    for name, rows in [
        ("customer", customers), ("nation", nations), ("orders", orders),
        ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    assert rev[19] == rev[20] and len(rev) == 22  # tie straddles the cut
    expect = [(k, f"c{k}", "NATION_0", rev[k - 1]) for k in range(1, 21)]

    sdf = _spark_vs_registered_oracle(spark, "tpch_q10", tmp_path)
    got = [(r.c_custkey, r.c_name, r.n_name, r.revenue) for r in sdf.collect()]
    assert got == expect  # custkey 20 kept, tied custkey 21 out


def test_tpch_q14_promo_prefix_edges_and_zero_share(spark, tmp_path):
    """Q14 differential FORCING the LIKE 'PROMO%' prefix edges
    ('PROMO BRUSHED' in, 'XPROMO' and lowercase 'promo' out) plus a
    date-boundary drop; then re-run on a fixture with NO promo rows at
    all (promo_pct must be exactly 0.0, not NULL)."""
    from datetime import datetime
    from decimal import ROUND_HALF_UP, Decimal

    def dec4(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)

    LO, HI = datetime(1997, 1, 1), datetime(1997, 4, 1)
    parts = [
        dict(p_partkey=1, p_type="PROMO BRUSHED"),
        dict(p_partkey=2, p_type="XPROMO"),
        dict(p_partkey=3, p_type="promo anodized"),  # case: not a match
        dict(p_partkey=4, p_type="STANDARD"),
    ]
    lines = [
        dict(l_partkey=1, l_extendedprice=100.0, l_discount=0.25, l_shipdate=LO),
        dict(l_partkey=2, l_extendedprice=200.0, l_shipdate=datetime(1997, 2, 1)),
        dict(l_partkey=3, l_extendedprice=400.0, l_shipdate=datetime(1997, 2, 1)),
        dict(l_partkey=4, l_extendedprice=800.0, l_shipdate=datetime(1997, 2, 1)),
        dict(l_partkey=1, l_extendedprice=9999.0, l_shipdate=HI),  # AT upper
    ]
    _write_tpch(spark, tmp_path, "part", parts)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    promo = float(dec4(100.0 * (1 - 0.25)))
    total = float(sum(dec4(x) for x in (75.0, 200.0, 400.0, 800.0)))
    expect_pct = 100.0 * promo / total  # unrounded (r11)

    sdf = _spark_vs_registered_oracle(spark, "tpch_q14", tmp_path)
    row = sdf.collect()[0]
    assert (row.promo_rev, row.total_rev, row.promo_pct) == (
        promo, total, expect_pct,
    )

    # second fixture: zero promo rows -> pct exactly 0.0
    import pathlib
    d2 = pathlib.Path(str(tmp_path)) / "nopromo"
    d2.mkdir()
    _write_tpch(spark, d2, "part", [dict(p_partkey=1, p_type="STANDARD")])
    _write_tpch(spark, d2, "lineitem",
                [dict(l_partkey=1, l_extendedprice=500.0,
                      l_shipdate=datetime(1997, 2, 1))])
    from dpu_olap_spark.registry import all_queries

    row2 = all_queries()["tpch_q14"].build(spark, str(d2)).collect()[0]
    assert (row2.promo_rev, row2.promo_pct) == (0.0, 0.0)


def test_tpch_q18_having_threshold_and_price_tie(spark, tmp_path):
    """Q18 differential FORCING the HAVING threshold at exact equality
    (an order totalling EXACTLY 200.0 quantity is dropped; 200.25
    qualifies) and an o_totalprice tie at the LIMIT cut decided by
    o_orderkey ASC."""
    from datetime import datetime

    customers = [dict(c_custkey=1, c_name="c1")]
    orders, lines = [], []
    # 22 qualifying orders, prices descending; 20 and 21 tied
    price = [5000.0 - 100 * i for i in range(19)] + [2000.0, 2000.0, 500.0]
    for k, p in enumerate(price, start=1):
        orders.append(dict(o_orderkey=k, o_custkey=1, o_totalprice=p))
        lines.append(dict(l_orderkey=k, l_quantity=150.0))
        lines.append(dict(l_orderkey=k, l_quantity=50.25))  # total 200.25
    # order 23: quantity EXACTLY 200.0 -> dropped by strict >
    orders.append(dict(o_orderkey=23, o_custkey=1, o_totalprice=9999.0))
    lines.append(dict(l_orderkey=23, l_quantity=200.0))
    for name, rows in [
        ("customer", customers), ("orders", orders), ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    assert price[19] == price[20]  # price tie at the cut
    ranked = sorted(
        ((p, k) for k, p in enumerate(price, start=1)), key=lambda t: (-t[0], t[1])
    )
    expect = [("c1", k, p, 200.25) for p, k in ranked[:20]]

    sdf = _spark_vs_registered_oracle(spark, "tpch_q18", tmp_path)
    got = [
        (r.c_name, r.o_orderkey, r.o_totalprice, r.total_qty)
        for r in sdf.collect()
    ]
    assert got == expect
    assert all(k != 23 for _, k, _p, _q in got)  # equality row dropped


def test_tpch_q4_exists_strict_shipdate_and_once_per_order(spark, tmp_path):
    """Q4 differential FORCING the EXISTS edges: a lineitem shipping
    EXACTLY AT the order date does not qualify (strict >); one
    microsecond later does; an order with FIVE qualifying lineitems
    still counts once (semi-join); order-date window edges."""
    from datetime import datetime, timedelta

    LO, HI = datetime(1997, 7, 1), datetime(1997, 10, 1)
    D = datetime(1997, 8, 1)
    orders = [
        dict(o_orderkey=1, o_orderdate=D, o_orderpriority="1-URGENT"),   # ship == date
        dict(o_orderkey=2, o_orderdate=D, o_orderpriority="1-URGENT"),   # ship +1us
        dict(o_orderkey=3, o_orderdate=D, o_orderpriority="2-HIGH"),     # 5 qualifying
        dict(o_orderkey=4, o_orderdate=LO, o_orderpriority="3-MEDIUM"),  # AT lower: in
        dict(o_orderkey=5, o_orderdate=HI, o_orderpriority="3-MEDIUM"),  # AT upper: out
        dict(o_orderkey=6, o_orderdate=D, o_orderpriority="4-NOT SPECIFIED"),  # no lines
    ]
    lines = [
        dict(l_orderkey=1, l_shipdate=D),
        dict(l_orderkey=2, l_shipdate=D + timedelta(microseconds=1)),
        *[dict(l_orderkey=3, l_linenumber=i, l_shipdate=D + timedelta(days=i))
          for i in range(1, 6)],
        dict(l_orderkey=4, l_shipdate=LO + timedelta(days=1)),
        dict(l_orderkey=5, l_shipdate=HI + timedelta(days=9)),
    ]
    _write_tpch(spark, tmp_path, "orders", orders)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    # Python walk
    expect: dict[str, int] = {}
    for o in orders:
        if not (LO <= o["o_orderdate"] < HI):
            continue
        if any(
            ln["l_orderkey"] == o["o_orderkey"]
            and ln["l_shipdate"] > o["o_orderdate"]
            for ln in lines
        ):
            p = o["o_orderpriority"]
            expect[p] = expect.get(p, 0) + 1
    # attest: order 1 (ship == orderdate) absent; order 3 counted ONCE
    assert expect == {"1-URGENT": 1, "2-HIGH": 1, "3-MEDIUM": 1}

    sdf = _spark_vs_registered_oracle(spark, "tpch_q4", tmp_path)
    got = {r.o_orderpriority: r.order_count for r in sdf.collect()}
    assert got == expect


def test_tpch_q15_max_revenue_tie_keeps_both(spark, tmp_path):
    """Q15 differential FORCING a tie at the MAX supplier revenue (both
    suppliers returned — rank(), not row_number()), a supplier pushed
    BELOW the max by a just-outside-window lineitem, and the quarter's
    half-open date edges."""
    from datetime import datetime, timedelta

    LO, HI = datetime(1997, 1, 1), datetime(1997, 4, 1)
    suppliers = [
        dict(s_suppkey=1, s_name="s1"),
        dict(s_suppkey=2, s_name="s2"),
        dict(s_suppkey=3, s_name="s3"),
    ]
    lines = [
        # s1 and s2 tie at 500.0 in-window revenue
        dict(l_suppkey=1, l_extendedprice=1000.0, l_discount=0.5, l_shipdate=LO),
        dict(l_suppkey=2, l_extendedprice=250.0, l_shipdate=datetime(1997, 2, 1)),
        dict(l_suppkey=2, l_extendedprice=250.0,
             l_shipdate=HI - timedelta(microseconds=1)),
        # s3: 400 in-window + 9999 AT the upper bound (excluded)
        dict(l_suppkey=3, l_extendedprice=400.0, l_shipdate=datetime(1997, 2, 1)),
        dict(l_suppkey=3, l_extendedprice=9999.0, l_shipdate=HI),
    ]
    _write_tpch(spark, tmp_path, "supplier", suppliers)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    expect = {(1, "s1", 500.0), (2, "s2", 500.0)}

    sdf = _spark_vs_registered_oracle(spark, "tpch_q15", tmp_path)
    got = {(r.s_suppkey, r.s_name, r.total_revenue) for r in sdf.collect()}
    assert got == expect  # tie kept BOTH; s3's out-of-window row ignored


def test_multi_join_agg_referential_hole_drops_rows(spark, tmp_path):
    """multi_join_agg differential FORCING the inner-join referential
    holes the fixed star schema never has: an order whose customer's
    nation has NO region row, and a customer key with no customer row —
    both silently drop through the 3-hop dimension chain; year grouping
    splits one region's orders across a year boundary."""
    from datetime import datetime

    regions = [dict(r_regionkey=0, r_name="R0")]
    nations = [
        dict(n_nationkey=0, n_name="N0", n_regionkey=0),
        dict(n_nationkey=1, n_name="N1", n_regionkey=99),  # dangling region
    ]
    customers = [
        dict(c_custkey=1, c_nationkey=0),
        dict(c_custkey=2, c_nationkey=1),   # nation without region
        dict(c_custkey=3, c_nationkey=42),  # dangling nation
    ]
    orders = [
        dict(o_orderkey=1, o_custkey=1, o_totalprice=100.25,
             o_orderdate=datetime(1996, 12, 31, 23, 59, 59)),
        dict(o_orderkey=2, o_custkey=1, o_totalprice=200.50,
             o_orderdate=datetime(1997, 1, 1)),  # next year's group
        dict(o_orderkey=3, o_custkey=1, o_totalprice=50.25,
             o_orderdate=datetime(1997, 6, 1)),
        dict(o_orderkey=4, o_custkey=2, o_totalprice=9999.0,
             o_orderdate=datetime(1997, 6, 1)),  # dropped: no region
        dict(o_orderkey=5, o_custkey=3, o_totalprice=9999.0,
             o_orderdate=datetime(1997, 6, 1)),  # dropped: no customer->nation
        dict(o_orderkey=6, o_custkey=99, o_totalprice=9999.0,
             o_orderdate=datetime(1997, 6, 1)),  # dropped: no customer
    ]
    for name, rows in [
        ("region", regions), ("nation", nations), ("customer", customers),
        ("orders", orders),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    expect = {
        ("R0", 1996): (1, 100.25),
        ("R0", 1997): (2, 250.75),
    }

    sdf = _spark_vs_registered_oracle(spark, "multi_join_agg", tmp_path)
    got = {
        (r.region_name, r.order_year): (r.n_orders, r.total_sales)
        for r in sdf.collect()
    }
    assert got == expect  # all three referential holes dropped


def _write_documents(tmp_path, rows):
    """documents.parquet from (doc_id, text) pairs."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["web"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path) + "/documents.parquet",
    )


def test_mm_metadata_utf8_byte_length_edges(spark, tmp_path):
    """mm_metadata differential FORCING the octet-vs-char divergence
    (2-byte é, 3-byte CJK, 4-byte emoji payloads), the EMPTY payload
    (0 bytes), and the modality/shard wraps at doc_id 0, 15, 16.
    Fingerprints recomputed with hashlib."""
    import hashlib

    docs = [
        (0, ""),                    # empty payload, modality image, shard 0
        (1, "plain ascii"),         # audio
        (2, "café"),           # video; é is 2 bytes in UTF-8
        (3, "中文"),        # image; 2 chars -> 6 bytes
        (15, "\U0001f600"),         # 1 char -> 4 bytes; shard 15
        (16, "x" * 100),            # shard wraps back to 0
    ]
    _write_documents(tmp_path, docs)

    mod = {0: "image", 1: "audio", 2: "video"}
    expect = {
        did: (
            mod[did % 3],
            did % 16,
            len(t.encode("utf-8")),
            hashlib.md5(t.encode("utf-8")).hexdigest(),
        )
        for did, t in docs
    }
    # attest the byte/char divergence and the wraps
    assert expect[2][2] == 5 and expect[3][2] == 6 and expect[15][2] == 4
    assert expect[0][2] == 0 and expect[16][1] == 0

    sdf = _spark_vs_registered_oracle(spark, "mm_metadata", tmp_path)
    got = {
        r.doc_id: (r.modality, r.shard, r.n_bytes, r.payload_fp)
        for r in sdf.collect()
    }
    assert got == expect


def test_mm_agg_modality_byte_accounting(spark, tmp_path):
    """mm_agg differential on the same forced corpus: per-modality
    byte totals must count UTF-8 octets (not chars), the empty payload
    contributes 0 to its modality's sum, and max_bytes tracks the
    largest single payload."""
    docs = [
        (0, ""),               # image, 0 bytes
        (3, "中文"),   # image, 6 bytes
        (6, "abc"),            # image, 3 bytes
        (1, "café"),      # audio, 5 bytes
        (4, "\U0001f600"),     # audio, 4 bytes
        (2, "x" * 50),         # video, 50 bytes
    ]
    _write_documents(tmp_path, docs)

    mod = {0: "image", 1: "audio", 2: "video"}
    agg: dict[str, list] = {}
    for did, t in docs:
        m = mod[did % 3]
        n = len(t.encode("utf-8"))
        a = agg.setdefault(m, [0, 0, 0])
        a[0] += 1
        a[1] += n
        a[2] = max(a[2], n)
    expect = {m: tuple(v) for m, v in agg.items()}
    assert expect["image"] == (3, 9, 6)  # empty payload counted, 0 bytes

    sdf = _spark_vs_registered_oracle(spark, "mm_agg", tmp_path)
    got = {
        r.modality: (r.n_assets, r.total_bytes, r.max_bytes)
        for r in sdf.collect()
    }
    assert got == expect


def test_ivf_assign_and_search_tie_at_top10_cut(spark, tmp_path):
    """ivf_assign + ivf_search differential FORCING: a vector
    equidistant from ALL 16 centroids lands in cell 0 by cid
    tie-break (and is an orthogonal cos=0 candidate); a cell-0 member
    colinear with the query scores cos exactly 1.0; two members with
    symmetric perturbations tie in cosine exactly AT the top-10 cut,
    where vec_id ASC keeps only the smaller one."""
    import math

    D = 64
    vecs: dict[int, list[float]] = {}
    for i in range(16):  # centroids: 4.0 at dim i; vec 0 is the query
        v = [0.0] * D
        v[i] = 4.0
        vecs[i] = v
    ys = [0.0, 0.25, 0.5, 0.75, 1.0, 1.25, 1.5, 1.75, 2.0]
    for j, y in enumerate(ys):  # nine cell-0 members with descending cos
        v = [0.0] * D
        v[0] = 2.0
        if y:
            v[30 + j] = y
        vecs[16 + j] = v
    for k, vid in enumerate((25, 26)):  # tied pair straddling the cut
        v = [0.0] * D
        v[0] = 2.0
        v[40 + k] = 2.25
        vecs[vid] = v
    v27 = [0.0] * D
    v27[20] = 1.0  # equidistant from all centroids AND orthogonal to q
    vecs[27] = v27
    _write_embeddings(tmp_path, vecs)

    # --- assignment walk (same argmin as the ivf_train differential)
    def d2(a, b):
        return round(sum((x - y) * (x - y) for x, y in zip(a, b)), 6)

    assign = {
        vid: min((d2(v, vecs[c]), c) for c in range(16))[1]
        for vid, v in vecs.items()
    }
    assert assign[27] == 0  # 16-way tie -> cid 0
    assert all(assign[vid] == 0 for vid in range(16, 28))
    assert all(assign[c] == c for c in range(16))

    from dpu_olap_spark.registry import all_queries

    got_assign = {
        r.vec_id: r.cell
        for r in all_queries()["ivf_assign"].build(spark, str(tmp_path)).collect()
    }
    assert got_assign == assign
    _spark_vs_registered_oracle(spark, "ivf_assign", tmp_path)

    # --- search walk: candidates = cell 0 minus the query itself
    q = vecs[0]
    cands = []
    for vid, cell in assign.items():
        if cell != 0 or vid == 0:
            continue
        v = vecs[vid]
        dp = sum(a * b for a, b in zip(v, q))
        cos = round(dp / (math.sqrt(sum(a * a for a in v))
                          * math.sqrt(sum(b * b for b in q))), 4)
        cands.append((cos, vid))
    assert sum(1 for c, _ in cands if c == 1.0) == 1  # colinear member
    assert any(c == 0.0 for c, _ in cands)            # orthogonal member
    by_rank = sorted(cands, key=lambda t: (-t[0], t[1]))
    assert by_rank[9][0] == by_rank[10][0] and by_rank[9][1] < by_rank[10][1]
    expect = [(vid, cos) for cos, vid in by_rank[:10]]
    assert (26, by_rank[10][0]) not in expect and expect[9][0] == 25

    sdf = _spark_vs_registered_oracle(spark, "ivf_search", tmp_path)
    got = [(r.vec_id, r.cos_sim) for r in sdf.collect()]
    assert got == expect


def test_cache_scan_quantity_boundary_and_total_consistency(spark, tmp_path):
    """cache_scan differential FORCING the strict < 30 boundary
    (quantity exactly 30.0 is OUT of both the cached source and the
    global total; 29.75 is in) and the two-consumer consistency
    invariant: the ALL row must equal the sum of the per-flag rows
    because both branches read the SAME cached relation."""
    import random

    rng = random.Random(511)
    lines = [
        dict(l_returnflag="A", l_linestatus="F", l_quantity=30.0),   # out
        dict(l_returnflag="A", l_linestatus="F", l_quantity=29.75),  # in
        dict(l_returnflag="N", l_linestatus="O", l_quantity=0.25),
    ]
    for _ in range(80):
        lines.append(
            dict(
                l_returnflag=rng.choice(["A", "N", "R"]),
                l_linestatus=rng.choice(["F", "O"]),
                l_quantity=rng.randint(1, 160) * 0.25,
            )
        )
    _write_tpch(spark, tmp_path, "lineitem", lines)

    kept = [ln for ln in lines if ln["l_quantity"] < 30.0]
    assert any(ln["l_quantity"] == 30.0 for ln in lines)  # boundary forced
    groups: dict[tuple, tuple] = {}
    for ln in kept:
        k = (ln["l_returnflag"], ln["l_linestatus"])
        n, s = groups.get(k, (0, 0.0))
        groups[k] = (n + 1, s + ln["l_quantity"])
    expect = dict(groups)
    expect[("ALL", "ALL")] = (
        len(kept), sum(ln["l_quantity"] for ln in kept),
    )

    sdf = _spark_vs_registered_oracle(spark, "cache_scan", tmp_path)
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, r.sum_qty)
        for r in sdf.collect()
    }
    assert got == expect
    assert got[("ALL", "ALL")][0] == sum(
        n for k, (n, _) in got.items() if k != ("ALL", "ALL")
    )


def test_udtf_analyze_empty_and_double_space_tokens(spark, tmp_path):
    """udtf_analyze differential FORCING the token edges through the
    polymorphic UDTF: empty text (all three columns NULL), a
    double-space run (the empty middle token comes back NULL on BOTH
    the UDTF and split_part+NULLIF paths), leading space, exactly one
    / two / three words, and >3 words truncated."""
    docs = [
        (0, ""),                 # all NULL
        (25, "solo"),            # w1, w2 NULL
        (50, "two words"),
        (75, "a  b"),            # double space: w1 NULL, w2 'b'
        (100, " lead"),          # leading space: w0 NULL, w1 'lead'
        (125, "one two three four"),  # truncated at k=3
        (7, "filtered out"),     # fails doc_id % 25
    ]
    _write_documents(tmp_path, docs)

    expect = {}
    for did, t in docs:
        if did % 25 != 0:
            continue
        toks = t.split(" ")
        w = tuple(
            (toks[i] if toks[i] != "" else None) if i < len(toks) else None
            for i in range(3)
        )
        expect[did] = w
    assert expect[75] == ("a", None, "b")    # double-space forcing attested
    assert expect[100] == (None, "lead", None)
    assert expect[0] == (None, None, None)

    sdf = _spark_vs_registered_oracle(spark, "udtf_analyze", tmp_path)
    got = {r.doc_id: (r.w0, r.w1, r.w2) for r in sdf.collect()}
    assert got == expect


def _write_events(tmp_path, rows):
    """events.parquet from override dicts (microsecond timestamps)."""
    from datetime import datetime

    defaults = dict(
        event_id=1, ts=datetime(2024, 1, 1), user_id=1,
        event_type="view", value=1.0, props="{}",
    )
    cols = list(defaults)
    data = {c: [] for c in cols}
    for r in rows:
        merged = {**defaults, **r}
        for c in cols:
            data[c].append(merged[c])
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(data["event_id"], pa.int64()),
                "ts": pa.array(data["ts"], pa.timestamp("us")),
                "user_id": pa.array(data["user_id"], pa.int64()),
                "event_type": pa.array(data["event_type"], pa.string()),
                "value": pa.array(data["value"], pa.float64()),
                "props": pa.array(data["props"], pa.string()),
            }
        ),
        str(tmp_path) + "/events.parquet",
    )


def test_variant_paths_zero_id_and_out_of_bounds(spark, tmp_path):
    """variant_paths differential FORCING event_id 0 (the whole nested
    array is [0,0,0] — zeros must round-trip the variant encoding, not
    collapse to NULL) and a large id near the int64/double seam; the
    out-of-bounds $.a.b[9] must be NULL for every row (try
    semantics)."""
    rows = [
        dict(event_id=0),              # zeros everywhere
        dict(event_id=11),
        dict(event_id=110_000_001 * 11),  # large: b2 = id*3 still exact
        dict(event_id=7),              # fails % 11 filter
    ]
    _write_events(tmp_path, rows)

    expect = {}
    for r in rows:
        eid = r["event_id"]
        if eid % 11 != 0:
            continue
        expect[eid] = (eid * 2, eid * 3, "x", None)
    assert 0 in expect and expect[0] == (0, 0, "x", None)

    sdf = _spark_vs_registered_oracle(spark, "variant_paths", tmp_path)
    got = {r.event_id: (r.b1, r.b2, r.tag0, r.b_miss) for r in sdf.collect()}
    assert got == expect


def test_sink_csv_roundtrip_quoting_edges(spark, tmp_path):
    """sink_csv_roundtrip differential FORCING the CSV quoting edges:
    nation names containing the delimiter itself, double quotes, and
    multibyte unicode must survive the text round-trip; the per-region
    sorted name concatenation pins order and content."""
    nations = [
        dict(n_nationkey=1, n_name="PLAIN", n_regionkey=0),
        dict(n_nationkey=2, n_name="WITH,COMMA", n_regionkey=0),
        dict(n_nationkey=3, n_name='QU"OTED', n_regionkey=0),
        dict(n_nationkey=4, n_name="ÅLAND", n_regionkey=1),
        dict(n_nationkey=5, n_name="", n_regionkey=1),  # empty name
    ]
    _write_tpch(spark, tmp_path, "nation", nations)

    expect = {}
    for rk in (0, 1):
        names = sorted(n["n_name"] for n in nations if n["n_regionkey"] == rk)
        expect[rk] = (len(names), ",".join(names))
    assert "WITH,COMMA" in expect[0][1] and 'QU"OTED' in expect[0][1]

    sdf = _spark_vs_registered_oracle(spark, "sink_csv_roundtrip", tmp_path)
    got = {r.n_regionkey: (r.n_nations, r.names_csv) for r in sdf.collect()}
    assert got == expect


def test_sink_xml_roundtrip_markup_edges(spark, tmp_path):
    """sink_xml_roundtrip differential FORCING XML-escaping edges in
    the group key: segments containing '&', '<', '>' and a multibyte
    char must round-trip the markup encoding; balances include a
    negative and a 12-digit value."""
    customers = [
        dict(c_custkey=1, c_mktsegment="A&B", c_acctbal=10.25),
        dict(c_custkey=2, c_mktsegment="A&B", c_acctbal=-5.50),
        dict(c_custkey=3, c_mktsegment="<TAG>", c_acctbal=999999999.99),
        dict(c_custkey=4, c_mktsegment="CAFÉ", c_acctbal=0.0),
    ]
    _write_tpch(spark, tmp_path, "customer", customers)

    expect = {
        "A&B": (2, 4.75),
        "<TAG>": (1, 999999999.99),
        "CAFÉ": (1, 0.0),
    }

    sdf = _spark_vs_registered_oracle(spark, "sink_xml_roundtrip", tmp_path)
    got = {
        r.c_mktsegment: (r.n_customers, r.sum_acctbal) for r in sdf.collect()
    }
    assert got == expect


def test_sink_range_cluster_month_and_year_boundaries(spark, tmp_path):
    """sink_range_cluster differential FORCING the pruned-read year
    edges (AT 1996-01-01 in; AT 1997-01-01 out; 1995-12-31 23:59:59
    out) and a month-boundary pair (Jan 31 23:59:59.999999 vs
    Feb 1 00:00:00 land in different months) through the
    range-partitioned sorted layout."""
    from datetime import datetime

    lines = [
        dict(l_shipdate=datetime(1995, 12, 31, 23, 59, 59), l_extendedprice=9999.0),
        dict(l_shipdate=datetime(1996, 1, 1), l_extendedprice=100.25),
        dict(l_shipdate=datetime(1996, 1, 31, 23, 59, 59, 999999),
             l_extendedprice=200.50),
        dict(l_shipdate=datetime(1996, 2, 1), l_extendedprice=300.75),
        dict(l_shipdate=datetime(1996, 12, 31, 23, 59, 59), l_extendedprice=50.00),
        dict(l_shipdate=datetime(1997, 1, 1), l_extendedprice=9999.0),
    ]
    _write_tpch(spark, tmp_path, "lineitem", lines)

    expect = {
        datetime(1996, 1, 1): (2, 300.75),   # Jan: boundary + last-us rows
        datetime(1996, 2, 1): (1, 300.75),   # Feb: first-us row
        datetime(1996, 12, 1): (1, 50.00),
    }

    sdf = _spark_vs_registered_oracle(spark, "sink_range_cluster", tmp_path)
    got = {r.ship_month: (r.n_items, r.sum_price) for r in sdf.collect()}
    assert got == expect


def test_bucketed_join_referential_holes(spark, tmp_path):
    """bucketed_join differential FORCING the inner-join referential
    holes through the co-bucketed layout: a customer with no orders
    and an order with a dangling custkey both vanish; keys span all 8
    buckets including bucket-0 keys, and one segment aggregates
    customers from different buckets."""
    customers = [
        dict(c_custkey=k, c_mktsegment=("BUILDING" if k % 2 else "MACHINERY"))
        for k in range(1, 18)
    ]
    customers.append(dict(c_custkey=100, c_mktsegment="FURNITURE"))  # no orders
    orders = []
    ok = 1
    for k in range(1, 18):
        for _ in range(k % 3 + 1):
            orders.append(
                dict(o_orderkey=ok, o_custkey=k, o_totalprice=ok * 0.25)
            )
            ok += 1
    orders.append(dict(o_orderkey=999, o_custkey=424242, o_totalprice=9999.0))
    _write_tpch(spark, tmp_path, "customer", customers)
    _write_tpch(spark, tmp_path, "orders", orders)

    seg = {c["c_custkey"]: c["c_mktsegment"] for c in customers}
    expect: dict[str, tuple] = {}
    for o in orders:
        s = seg.get(o["o_custkey"])
        if s is None:
            continue
        n, t = expect.get(s, (0, 0.0))
        expect[s] = (n + 1, t + o["o_totalprice"])
    assert "FURNITURE" not in expect  # customer with no orders vanishes

    sdf = _spark_vs_registered_oracle(spark, "bucketed_join", tmp_path)
    got = {
        r.c_mktsegment: (r.n_orders, r.total_price) for r in sdf.collect()
    }
    assert got == expect


def test_stream_static_join_dangling_users_and_value_edges(spark, tmp_path):
    """stream_static_join differential FORCING the enrichment edges:
    events from a user with NO customer row vanish (inner join),
    a customer with no events never appears, negative and
    shortest-roundtrip values survive the micro-batch aggregation."""
    customers = [
        dict(c_custkey=1, c_mktsegment="BUILDING"),
        dict(c_custkey=2, c_mktsegment="BUILDING"),
        dict(c_custkey=3, c_mktsegment="MACHINERY"),
        dict(c_custkey=4, c_mktsegment="FURNITURE"),  # no events
    ]
    events = [
        dict(event_id=1, user_id=1, value=-0.25),
        dict(event_id=2, user_id=2, value=0.1),
        dict(event_id=3, user_id=3, value=123.45),
        dict(event_id=4, user_id=999, value=9999.0),  # dangling user
    ]
    _write_tpch(spark, tmp_path, "customer", customers)
    _write_events(tmp_path, events)

    from decimal import ROUND_HALF_UP, Decimal

    def dec2(x):
        return Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)

    seg = {c["c_custkey"]: c["c_mktsegment"] for c in customers}
    agg: dict[str, list] = {}
    for e in events:
        s = seg.get(e["user_id"])
        if s is None:
            continue
        a = agg.setdefault(s, [0, Decimal("0")])
        a[0] += 1
        a[1] += dec2(e["value"])
    expect = {s: (n, float(t)) for s, (n, t) in agg.items()}
    assert "FURNITURE" not in expect and expect["BUILDING"] == (2, -0.15)

    sdf = _spark_vs_registered_oracle(spark, "stream_static_join", tmp_path)
    got = {r.c_mktsegment: (r.n_events, r.sum_value) for r in sdf.collect()}
    assert got == expect


def test_stream_dedup_self_union_collapses_exactly(spark, tmp_path):
    """stream_dedup differential: the query doubles the stream via
    self-union and dropDuplicatesWithinWatermark must collapse every
    event back to ONE copy — forced here with negative values (a
    surviving duplicate would double a NEGATIVE sum, catching
    sign-blind dedup), one user spanning two event types, and distinct
    user counts per type."""
    from datetime import datetime, timedelta

    T0 = datetime(2024, 3, 1)
    events = [
        dict(event_id=1, user_id=1, event_type="view", value=-10.25,
             ts=T0),
        dict(event_id=2, user_id=1, event_type="click", value=5.50,
             ts=T0 + timedelta(minutes=1)),
        dict(event_id=3, user_id=2, event_type="view", value=7.75,
             ts=T0 + timedelta(minutes=2)),
        dict(event_id=4, user_id=3, event_type="view", value=0.1,
             ts=T0 + timedelta(minutes=3)),
    ]
    _write_events(tmp_path, events)

    from decimal import ROUND_HALF_UP, Decimal

    def dec2(x):
        return Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)

    agg: dict[str, list] = {}
    for e in events:
        a = agg.setdefault(e["event_type"], [0, set(), Decimal("0")])
        a[0] += 1
        a[1].add(e["user_id"])
        a[2] += dec2(e["value"])
    expect = {t: (n, len(u), float(s)) for t, (n, u, s) in agg.items()}
    assert expect["view"][2] < 0  # negative sum: doubling would show

    sdf = _spark_vs_registered_oracle(spark, "stream_dedup", tmp_path)
    got = {
        r.event_type: (r.n_events, r.n_users, r.sum_value)
        for r in sdf.collect()
    }
    assert got == expect


def test_stream_foreach_batch_exactly_once_values(spark, tmp_path):
    """stream_foreach_batch differential: the idempotent batch_id-
    partitioned parquet sink must deliver every row exactly once —
    forced with negative values and a type whose sum is exactly 0.0
    (any duplication or loss shifts it)."""
    events = [
        dict(event_id=1, event_type="view", value=10.25),
        dict(event_id=2, event_type="view", value=-10.25),  # sums to 0
        dict(event_id=3, event_type="click", value=0.1),
        dict(event_id=4, event_type="click", value=0.2),
        dict(event_id=5, event_type="purchase", value=999999.99),
    ]
    _write_events(tmp_path, events)

    expect = {
        "view": (2, 0.0),
        "click": (2, 0.30),  # decimal cents: 0.10 + 0.20 exactly
        "purchase": (1, 999999.99),
    }

    sdf = _spark_vs_registered_oracle(spark, "stream_foreach_batch", tmp_path)
    got = {r.event_type: (r.n_events, r.sum_value) for r in sdf.collect()}
    assert got == expect


def test_rocksdb_state_agg_cent_rounding_edges(spark, tmp_path):
    """rocksdb_state_agg differential FORCING the integer-cents seam:
    values landing exactly ON the half-cent (0.005 -> 1 cent via
    floor(x*100+0.5)), just below it, negative values, and one user
    spanning two event types (distinct state keys) — through the
    RocksDB provider with changelog checkpointing."""
    import math

    events = [
        dict(event_id=1, user_id=1, event_type="view", value=0.005),
        dict(event_id=2, user_id=1, event_type="view", value=0.004),
        dict(event_id=3, user_id=1, event_type="click", value=-0.005),
        dict(event_id=4, user_id=2, event_type="view", value=123.455),
        dict(event_id=5, user_id=2, event_type="view", value=-123.455),
    ]
    _write_events(tmp_path, events)

    agg: dict[tuple, list] = {}
    for e in events:
        a = agg.setdefault((e["user_id"], e["event_type"]), [0, 0])
        a[0] += 1
        a[1] += math.floor(e["value"] * 100 + 0.5)  # same float path
    expect = {k: (n, c / 100.0) for k, (n, c) in agg.items()}
    # attest the half-cent forcings (exact float arithmetic)
    assert math.floor(0.005 * 100 + 0.5) == 1
    assert math.floor(0.004 * 100 + 0.5) == 0
    assert expect[(1, "view")] == (2, 0.01)

    sdf = _spark_vs_registered_oracle(spark, "rocksdb_state_agg", tmp_path)
    got = {
        (r.user_id, r.event_type): (r.n_events, r.sum_value)
        for r in sdf.collect()
    }
    assert got == expect


def _watermark_boundary_events():
    """Shared fixture for the stream-stream join differentials: every
    purchase/click placed exactly ON or one second OFF the interval and
    watermark boundaries. Watermark w = min(max pts, max cts) - 1h =
    T0+9h (set by the two sentinel rows)."""
    from datetime import datetime, timedelta

    T0 = datetime(2024, 5, 1)

    def at(**kw):
        return T0 + timedelta(**kw)

    events = [
        # sentinels pin max(pts) = max(cts) = T0+10h  ->  w = T0+9h
        dict(event_id=900, user_id=99, event_type="purchase", ts=at(hours=10)),
        dict(event_id=901, user_id=98, event_type="click", ts=at(hours=10)),
        # u1: click at the SAME instant as the purchase (upper bound, in)
        dict(event_id=100, user_id=1, event_type="purchase", ts=at(hours=1)),
        dict(event_id=101, user_id=1, event_type="click", ts=at(hours=1)),
        # u2: click exactly 30 min before (lower bound, in)
        dict(event_id=102, user_id=2, event_type="purchase", ts=at(hours=1)),
        dict(event_id=103, user_id=2, event_type="click", ts=at(minutes=30)),
        # u3: click 30 min + 1 s before (out of range -> both unmatched)
        dict(event_id=104, user_id=3, event_type="purchase", ts=at(hours=2)),
        dict(event_id=105, user_id=3, event_type="click",
             ts=at(hours=1, minutes=29, seconds=59)),
        # u4: unmatched purchase exactly AT the watermark (stays in state)
        dict(event_id=106, user_id=4, event_type="purchase", ts=at(hours=9)),
        # u5: unmatched purchase 1 s before the watermark (evicts, emits)
        dict(event_id=107, user_id=5, event_type="purchase",
             ts=at(hours=8, minutes=59, seconds=59)),
        # u6: unmatched click exactly AT w - 30 min (stays in state)
        dict(event_id=108, user_id=6, event_type="click",
             ts=at(hours=8, minutes=30)),
        # u7: unmatched click 1 s earlier (evicts, emits)
        dict(event_id=109, user_id=7, event_type="click",
             ts=at(hours=8, minutes=29, seconds=59)),
        # u8: one purchase matching TWO clicks
        dict(event_id=110, user_id=8, event_type="purchase", ts=at(hours=3)),
        dict(event_id=111, user_id=8, event_type="click",
             ts=at(hours=2, minutes=50)),
        dict(event_id=112, user_id=8, event_type="click", ts=at(hours=3)),
    ]
    return events


def test_stream_full_outer_join_watermark_boundaries(spark, tmp_path):
    """stream_full_outer_join differential FORCING every eviction and
    range boundary: interval ends inclusive on both sides (same-instant
    and exactly-30-min clicks match), a purchase exactly AT the global
    watermark and a click exactly AT watermark-30min do NOT null-emit
    (strict <), their 1-second-earlier twins DO, and one purchase
    matches two clicks."""
    events = _watermark_boundary_events()
    _write_events(tmp_path, events)

    expect = {
        (1, 100, 101), (2, 102, 103),          # boundary matches
        (8, 110, 111), (8, 110, 112),          # two matches, one purchase
        (3, 104, None), (5, 107, None),        # purchases past eviction
        (3, None, 105), (7, None, 109),        # clicks past eviction
    }

    sdf = _spark_vs_registered_oracle(spark, "stream_full_outer_join", tmp_path)
    got = {(r.user_id, r.purchase_id, r.click_id) for r in sdf.collect()}
    assert got == expect
    # attest the strict boundaries: AT-watermark rows never emitted
    assert all(p != 106 for _, p, _c in got)
    assert all(c != 108 for _, _p, c in got)


def test_joinstate_read_retention_boundaries(spark, tmp_path):
    """joinstate_read differential on the same forced fixture: the
    symmetric-hash-join state must retain EXACTLY the rows the
    eviction rules keep — the purchase AT the watermark and the click
    AT watermark-30min (plus the two sentinels), while their
    1-second-earlier twins are gone."""
    events = _watermark_boundary_events()
    _write_events(tmp_path, events)

    expect = {
        ("left", 4, 106), ("left", 99, 900),    # pts >= w
        ("right", 6, 108), ("right", 98, 901),  # cts >= w - 30 min
    }

    sdf = _spark_vs_registered_oracle(spark, "joinstate_read", tmp_path)
    got = {(r.side, r.user_id, r.ev_id) for r in sdf.collect()}
    assert got == expect
    assert ("left", 5, 107) not in got and ("right", 7, 109) not in got


def test_statestore_timetravel_as_of_batch_boundary(spark, tmp_path):
    """statestore_timetravel differential FORCING the as-of semantics:
    state read at batchId=1 must cover ONLY slices 0-1 (event_id%3),
    so a user whose events all land in slice 2 is ABSENT, and a user
    present in all three slices shows its slice-0+1 count, not the
    final one."""
    events = [
        # user 1: one event per slice -> as-of count 2 (not 3)
        dict(event_id=3, user_id=1),   # slice 0
        dict(event_id=4, user_id=1),   # slice 1
        dict(event_id=5, user_id=1),   # slice 2 (beyond batch 1)
        # user 2: only slice-2 events -> absent at batchId=1
        dict(event_id=8, user_id=2),
        dict(event_id=11, user_id=2),
        # user 3: slice 0 only
        dict(event_id=6, user_id=3),
        # user 4: two slice-1 events
        dict(event_id=7, user_id=4),
        dict(event_id=10, user_id=4),
    ]
    _write_events(tmp_path, events)

    expect = {}
    for e in events:
        if e["event_id"] % 3 <= 1:
            expect[e["user_id"]] = expect.get(e["user_id"], 0) + 1
    assert 2 not in expect and expect[1] == 2  # forcing attested

    sdf = _spark_vs_registered_oracle(spark, "statestore_timetravel", tmp_path)
    got = {r.user_id: r.n_events for r in sdf.collect()}
    assert got == expect


def test_pystream_scan_python_regeneration(spark, tmp_path):
    """pystream_scan differential: regenerate the synthetic Python
    streaming source's rows in pure Python (same id range, same
    modular metric) and compare per-bucket counts and sums — any
    duplicated, dropped, or shifted offset slice moves a bucket's
    figures. Attests every one of the 16 buckets is present with an
    equal share of rows."""
    from dpu_olap_spark.sources.python_stream_source import (
        _MOD, _MULT, _N_ROWS,
    )

    expect: dict[int, tuple[int, int]] = {}
    for bucket in range(16):
        ids = range(bucket, _N_ROWS, 16)
        n = len(ids)
        s = sum((i * _MULT) % _MOD for i in ids)
        expect[bucket] = (n, s)
    assert len(expect) == 16 and len({n for n, _ in expect.values()}) == 1

    sdf = _spark_vs_registered_oracle(spark, "pystream_scan", tmp_path)
    got = {r.bucket: (r.n_rows, r.sum_metric) for r in sdf.collect()}
    assert got == expect


def test_join_agg_quantity_boundary_and_holes(spark, tmp_path):
    """join_agg (the flagship) differential FORCING the strict < 30
    quantity bound (30.0 out, 29.75 in) and referential holes at every
    hop of the lineitem->orders->customer->nation chain."""
    nations = [dict(n_nationkey=0, n_name="N0"), dict(n_nationkey=1, n_name="N1")]
    customers = [
        dict(c_custkey=1, c_nationkey=0),
        dict(c_custkey=2, c_nationkey=1),
        dict(c_custkey=3, c_nationkey=77),  # dangling nation
    ]
    orders = [
        dict(o_orderkey=1, o_custkey=1),
        dict(o_orderkey=2, o_custkey=2),
        dict(o_orderkey=3, o_custkey=3),
        dict(o_orderkey=4, o_custkey=404),  # dangling customer
    ]
    lines = [
        dict(l_orderkey=1, l_quantity=29.75, l_extendedprice=100.0, l_discount=0.25),
        dict(l_orderkey=1, l_quantity=30.0, l_extendedprice=9999.0),  # bound: out
        dict(l_orderkey=2, l_quantity=1.0, l_extendedprice=200.5),
        dict(l_orderkey=3, l_quantity=1.0, l_extendedprice=9999.0),  # no nation
        dict(l_orderkey=4, l_quantity=1.0, l_extendedprice=9999.0),  # no customer
        dict(l_orderkey=5, l_quantity=1.0, l_extendedprice=9999.0),  # no order
    ]
    for name, rows in [
        ("nation", nations), ("customer", customers), ("orders", orders),
        ("lineitem", lines),
    ]:
        _write_tpch(spark, tmp_path, name, rows)

    expect = {"N0": (75.0, 1), "N1": (200.5, 1)}

    sdf = _spark_vs_registered_oracle(spark, "join_agg", tmp_path)
    got = {r.n_name: (r.revenue, r.n_items) for r in sdf.collect()}
    assert got == expect  # the boundary row and all three holes dropped


def test_sink_compaction_lossless_checksums(spark, tmp_path):
    """sink_compaction differential: the 64-fragment rewrite must be
    lossless — forced with a type whose value-sum is exactly 0.0, two
    rows identical except event_id (only the id checksum separates
    loss from dedup), and a singleton type."""
    events = [
        dict(event_id=1, event_type="view", value=10.25),
        dict(event_id=2, event_type="view", value=-10.25),  # sum 0
        dict(event_id=3, event_type="click", value=7.5),
        dict(event_id=4, event_type="click", value=7.5),    # same value, new id
        dict(event_id=1000, event_type="purchase", value=0.1),
    ]
    _write_events(tmp_path, events)

    agg: dict[str, list] = {}
    for e in events:
        a = agg.setdefault(e["event_type"], [0, 0.0, 0])
        a[0] += 1
        a[1] += e["value"]
        a[2] += e["event_id"]
    expect = {t: (n, round(s, 2), c) for t, (n, s, c) in agg.items()}
    assert expect["view"][1] == 0.0 and expect["click"] == (2, 15.0, 7)

    sdf = _spark_vs_registered_oracle(spark, "sink_compaction", tmp_path)
    got = {
        r.event_type: (r.n_events, r.sum_value, r.id_checksum)
        for r in sdf.collect()
    }
    assert got == expect


def test_pysource_scan_python_regeneration(spark, tmp_path):
    """pysource_scan differential: regenerate the Python batch source's
    deterministic rows in pure Python and compare per-bucket count,
    sum, and max — a dropped or doubled InputPartition shifts all
    three. Attests all 16 buckets are present."""
    from dpu_olap_spark.sources.python_source import _MOD, _MULT, _N_ROWS

    expect = {}
    for bucket in range(16):
        ids = list(range(bucket, _N_ROWS, 16))
        ms = [(i * _MULT) % _MOD for i in ids]
        expect[bucket] = (len(ids), sum(ms), max(ms))
    assert len(expect) == 16

    sdf = _spark_vs_registered_oracle(spark, "pysource_scan", tmp_path)
    got = {r.bucket: (r.n_rows, r.sum_metric, r.max_metric) for r in sdf.collect()}
    assert got == expect


def test_bloom_filter_join_no_false_positive_leakage(spark, tmp_path):
    """bloom_filter_join differential: bloom pruning must never change
    RESULTS — forced with a probe side dominated by keys absent from
    the tiny build side (any bloom false positive that leaked past the
    real join would inflate the count), duplicate probe rows per build
    key, and a build side with exactly one qualifying priority."""
    orders = [
        dict(o_orderkey=1, o_orderpriority="1-URGENT"),
        dict(o_orderkey=2, o_orderpriority="1-URGENT"),
        dict(o_orderkey=3, o_orderpriority="5-LOW"),  # not in build
    ]
    lines = [dict(l_orderkey=1, l_extendedprice=100.25)] * 3 + [
        dict(l_orderkey=2, l_extendedprice=50.50),
        dict(l_orderkey=3, l_extendedprice=9999.0),  # non-urgent order
    ]
    # 500 probe rows with keys NOT in orders at all: bloom FPs must
    # die in the real join
    lines += [
        dict(l_orderkey=10_000 + i, l_extendedprice=9999.0) for i in range(500)
    ]
    _write_tpch(spark, tmp_path, "orders", orders)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    expect = {"1-URGENT": (4, 3 * 100.25 + 50.50)}

    sdf = _spark_vs_registered_oracle(spark, "bloom_filter_join", tmp_path)
    got = {r.o_orderpriority: (r.n_rows, r.sum_price) for r in sdf.collect()}
    assert got == expect


def test_stateful_profile_single_event_and_ts_ties(spark, tmp_path):
    """stateful_profile differential FORCING the keyed-state edges: a
    single-event user (first_ts == last_ts), a user whose events share
    ONE timestamp (min == max over ties), half-cent value rounding,
    and a user touching three distinct event types."""
    from datetime import datetime, timedelta
    import math

    T0 = datetime(2024, 6, 1)
    events = [
        dict(event_id=1, user_id=1, event_type="view", value=0.005, ts=T0),
        dict(event_id=2, user_id=2, event_type="view", value=1.0, ts=T0),
        dict(event_id=3, user_id=2, event_type="click", value=-2.5, ts=T0),
        dict(event_id=4, user_id=2, event_type="purchase", value=0.004, ts=T0),
        dict(event_id=5, user_id=3, event_type="view", value=10.0,
             ts=T0 + timedelta(hours=1)),
        dict(event_id=6, user_id=3, event_type="view", value=20.0,
             ts=T0 + timedelta(hours=2)),
    ]
    _write_events(tmp_path, events)

    def us(dt):
        from datetime import timezone
        return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)

    prof: dict[int, list] = {}
    for e in events:
        p = prof.setdefault(
            e["user_id"], [0, 0, us(e["ts"]), us(e["ts"]), set()]
        )
        p[0] += 1
        p[1] += math.floor(e["value"] * 100 + 0.5)
        p[2] = min(p[2], us(e["ts"]))
        p[3] = max(p[3], us(e["ts"]))
        p[4].add(e["event_type"])
    expect = {
        u: (n, c / 100.0, f, l, len(t)) for u, (n, c, f, l, t) in prof.items()
    }
    assert expect[1][2] == expect[1][3]      # singleton: first == last
    assert expect[2][2] == expect[2][3]      # ts ties: min == max
    assert expect[2][4] == 3                 # three distinct types

    sdf = _spark_vs_registered_oracle(spark, "stateful_profile", tmp_path)
    got = {
        r.user_id: (r.n_events, r.sum_value, r.first_ts_us, r.last_ts_us,
                    r.n_types)
        for r in sdf.collect()
    }
    assert got == expect


def _pq_adc_walk(vecs, query_id):
    """Pure-Python PQ encode + ADC over a 64-dim fixture: returns
    (codes, adc) dicts mirroring _PQ_SQL's floor(d2*1e6+0.5) and
    smaller-code / smaller-vec_id tie-breaks."""
    import math

    SEGS, SD, CODES = 8, 8, 8

    def d2u(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return math.floor(s * 1_000_000 + 0.5)

    codes = {}
    for vid, v in vecs.items():
        for seg in range(SEGS):
            sv = v[seg * SD:(seg + 1) * SD]
            codes[(vid, seg)] = min(
                (d2u(sv, vecs[c][seg * SD:(seg + 1) * SD]), c)
                for c in range(CODES)
            )[1]
    q = vecs[query_id]
    lut = {
        (seg, c): d2u(
            q[seg * SD:(seg + 1) * SD], vecs[c][seg * SD:(seg + 1) * SD]
        )
        for seg in range(8) for c in range(8)
    }
    adc = {
        vid: sum(lut[(seg, codes[(vid, seg)])] for seg in range(8))
        for vid in vecs
    }
    return codes, adc


def _pq_fixture():
    """Embeddings fixture forcing mass ADC ties: 16 axis centroids, a
    segment-2-energy vector, a zero vector, and the query (vec 100) at
    half the code-0 axis."""
    D = 64
    vecs = {}
    for i in range(16):
        v = [0.0] * D
        v[i] = 4.0
        vecs[i] = v
    v16 = [0.0] * D
    v16[20] = 4.0  # energy outside seg0 — invisible to ADC
    vecs[16] = v16
    vecs[17] = [0.0] * D
    q = [0.0] * D
    q[0] = 2.0
    vecs[100] = q
    return vecs


def test_pq_search_mass_tie_at_cut(spark, tmp_path):
    """pq_search differential FORCING the ADC degeneracies the real
    corpus never aligns: 12 of 19 vectors tie at the global MINIMUM
    ADC distance (ADC sees only query-to-codeword terms, so stored
    energy outside probed segments is invisible), making the top-10
    cut land INSIDE the tie where vec_id ASC decides — and the query
    vector itself ranks below the cut."""
    vecs = _pq_fixture()
    _write_embeddings(tmp_path, vecs)

    codes, adc = _pq_adc_walk(vecs, 100)
    best = min(adc.values())
    tied = sorted(vid for vid, d in adc.items() if d == best)
    # 12 of 19 tie at the minimum: centroid 0, centroids 8..15 (zero
    # seg0), the seg2-energy and zero vectors, and the query itself
    assert len(tied) == 12 and 100 in tied and 16 in tied and 17 in tied
    ranked = sorted(adc.items(), key=lambda t: (t[1], t[0]))
    expect = ranked[:10]
    assert all(d == best for _, d in expect)  # the cut is inside the tie
    assert 100 not in [v for v, _ in expect]  # query loses the id tiebreak

    sdf = _spark_vs_registered_oracle(spark, "pq_search", tmp_path)
    got = [(r.vec_id, r.adc_d2_micro) for r in sdf.collect()]
    assert got == expect


def test_pq_search_rebuilds_index_after_rewrite(spark, tmp_path):
    """The PQ index cache follows the embeddings file, not just its
    directory: after pq_search has built an index, embeddings.parquet
    is rewritten at the SAME path with other vectors (other codebook,
    other query, more rows), and pq_search must match its oracle on
    the new file rather than serve codes from the stale index."""
    _write_embeddings(tmp_path, _pq_fixture())
    _spark_vs_registered_oracle(spark, "pq_search", tmp_path)

    rng = np.random.default_rng(7)
    vecs = {
        i: [float(x) for x in rng.integers(-8, 9, 64).astype(np.float32) / 4]
        for i in range(120)
    }
    _write_embeddings(tmp_path, vecs)
    _, adc = _pq_adc_walk(vecs, 100)
    expect = sorted(adc.items(), key=lambda t: (t[1], t[0]))[:10]
    sdf = _spark_vs_registered_oracle(spark, "pq_search", tmp_path)
    assert [(r.vec_id, r.adc_d2_micro) for r in sdf.collect()] == expect


def test_ivf_pq_search_probe_prunes_candidates(spark, tmp_path):
    """ivf_pq_search differential on the same fixture: the 4-cell probe
    (nearest cell 0 + three distance-tied cells broken by cid ASC)
    must restrict ADC to cells {0,1,2,3} — vectors in cells 4..15 are
    NEVER scored even though their ADC distance ties the winners."""
    import math

    vecs = _pq_fixture()
    _write_embeddings(tmp_path, vecs)

    def d2r(a, b):
        return round(sum((x - y) * (x - y) for x, y in zip(a, b)), 6)

    q = vecs[100]
    cd = sorted((d2r(q, vecs[c]), c) for c in range(16))
    probe = {c for _, c in cd[:4]}
    assert probe == {0, 1, 2, 3}  # 15-way tie at 20.0 broken by cid
    assign = {
        vid: min((d2r(v, vecs[c]), c) for c in range(16))[1]
        for vid, v in vecs.items()
    }
    cand = {vid for vid, cell in assign.items() if cell in probe}
    assert cand == {0, 1, 2, 3, 16, 17, 100}

    _, adc = _pq_adc_walk(vecs, 100)
    ranked = sorted(
        ((vid, adc[vid]) for vid in cand), key=lambda t: (t[1], t[0])
    )
    expect = ranked[:10]
    # centroids 8..15 tie the minimum ADC but are outside the probe
    assert all(vid not in {v for v, _ in expect} for vid in range(8, 16))

    sdf = _spark_vs_registered_oracle(spark, "ivf_pq_search", tmp_path)
    got = [(r.vec_id, r.adc_d2_micro) for r in sdf.collect()]
    assert got == expect


def test_hll_mergeable_union_dedups_overlap(spark, tmp_path):
    """hll_mergeable invariant differential (rows-only query — the
    DataSketches binary has no DuckDB twin): with OVERLAPPING customer
    sets across priorities, the per-group estimates are exact in the
    small-cardinality regime AND the union row must equal the distinct
    count of the union, NOT the sum of the groups — the mergeable-
    sketch property the op exists for."""
    orders = []
    ok = 1
    for cust in range(1, 41):     # customers 1..40 in URGENT
        orders.append(dict(o_orderkey=ok, o_custkey=cust,
                           o_orderpriority="1-URGENT"))
        ok += 1
    for cust in range(21, 61):    # 21..60 in LOW: 20 overlap URGENT
        orders.append(dict(o_orderkey=ok, o_custkey=cust,
                           o_orderpriority="5-LOW"))
        ok += 1
    _write_tpch(spark, tmp_path, "orders", orders)

    from dpu_olap_spark.registry import all_queries

    rows = {
        r.o_orderpriority: (r.n_orders, r.approx_customers)
        for r in all_queries()["hll_mergeable"].build(spark, str(tmp_path)).collect()
    }
    assert rows["1-URGENT"] == (40, 40) and rows["5-LOW"] == (40, 40)
    # union: 60 distinct, NOT 80 — merged sketches deduplicate overlap
    assert rows["ALL"] == (80, 60)


def test_approx_percentile_exact_regime_edges(spark, tmp_path):
    """approx_percentile invariant differential (rows-only sketch):
    with n << accuracy the sketch is EXACT — an all-identical group
    returns that value for every percentile, a singleton group returns
    its one value, and p50 <= p99 holds on a spread group whose
    percentiles must be members of the value set."""
    lines = []
    for _ in range(20):
        lines.append(dict(l_returnflag="A", l_extendedprice=42.25))
    lines.append(dict(l_returnflag="N", l_extendedprice=7.75))
    spread = [float(v) for v in range(1, 101)]
    for v in spread:
        lines.append(dict(l_returnflag="R", l_extendedprice=v))
    _write_tpch(spark, tmp_path, "lineitem", lines)

    from dpu_olap_spark.registry import all_queries

    got = {
        r.l_returnflag: (r.p50_est, r.p99_est)
        for r in all_queries()["approx_percentile"].build(spark, str(tmp_path)).collect()
    }
    assert got["A"] == (42.25, 42.25)   # identical values: exact
    assert got["N"] == (7.75, 7.75)     # singleton: exact
    p50, p99 = got["R"]
    assert p50 in spread and p99 in spread and p50 <= p99
    assert p50 in (50.0, 51.0) and p99 in (99.0, 100.0)


def test_approx_topk_tokens_tie_plateau_at_rank20(spark, tmp_path):
    """approx_topk_tokens differential FORCING a five-way count tie
    straddling the rank-20 cut: in the exact regime the margin
    re-rank must pick the lexicographically smallest tied tokens, so
    exactly three of the five tied tokens survive."""
    # 17 tokens with distinct descending counts, then 5 tied at 3
    docs = []
    did = 0
    words = []
    for i in range(17):
        words += [f"w{i:02d}"] * (40 - i)
    for t in ["tie_a", "tie_b", "tie_c", "tie_d", "tie_e"]:
        words += [t] * 3
    words += ["rare_x"]  # below the plateau
    # pack words into documents of 10 tokens
    for j in range(0, len(words), 10):
        docs.append((did, " ".join(words[j:j + 10])))
        did += 1
    _write_documents(tmp_path, docs)

    counts: dict[str, int] = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    expect = [(w, c) for w, c in ranked[:20]]
    plateau = [w for w, c in ranked if c == 3]
    assert plateau == ["tie_a", "tie_b", "tie_c", "tie_d", "tie_e"]
    kept = [w for w, _ in expect if w.startswith("tie")]
    assert kept == ["tie_a", "tie_b", "tie_c"]  # cut inside the plateau

    sdf = _spark_vs_registered_oracle(spark, "approx_topk_tokens", tmp_path)
    got = [(r.item, r.est_count) for r in sdf.collect()]
    assert got == expect


def test_group_agg_cutoff_and_singleton(spark, tmp_path):
    """group_agg differential FORCING the inclusive <= date cutoff (a
    row exactly AT 1998-09-02 00:00:00 is IN, +1us is OUT) and a
    singleton group; all money dyadic."""
    from datetime import datetime, timedelta

    CUT = datetime(1998, 9, 2)
    lines = [
        dict(l_returnflag="A", l_linestatus="F", l_shipdate=CUT,
             l_quantity=2.0, l_extendedprice=100.25, l_discount=0.25, l_tax=0.5),
        dict(l_returnflag="A", l_linestatus="F",
             l_shipdate=CUT + timedelta(microseconds=1),
             l_quantity=7.0, l_extendedprice=9999.0),
        dict(l_returnflag="A", l_linestatus="F", l_shipdate=datetime(1997, 1, 1),
             l_quantity=3.5, l_extendedprice=50.5, l_discount=0.5),
        dict(l_returnflag="R", l_linestatus="O", l_shipdate=datetime(1997, 1, 1),
             l_quantity=1.25, l_extendedprice=10.0, l_tax=0.25),
    ]
    _write_tpch(spark, tmp_path, "lineitem", lines)

    kept = [ln for ln in lines if ln["l_shipdate"] <= CUT]
    assert len(kept) == 3
    groups: dict[tuple, list] = {}
    for ln in kept:
        g = groups.setdefault((ln["l_returnflag"], ln["l_linestatus"]),
                              [0.0, 0.0, 0.0, 0.0, 0])
        dp = ln["l_extendedprice"] * (1 - ln.get("l_discount", 0.0))
        g[0] += ln["l_quantity"]
        g[1] += ln["l_extendedprice"]
        g[2] += dp
        g[3] += dp * (1 + ln.get("l_tax", 0.0))
        g[4] += 1
    expect = {k: tuple(v) for k, v in groups.items()}

    sdf = _spark_vs_registered_oracle(spark, "group_agg", tmp_path)
    got = {
        (r.l_returnflag, r.l_linestatus): (
            r.sum_qty, r.sum_base_price, r.sum_disc_price, r.sum_charge,
            r.count_order,
        )
        for r in sdf.collect()
    }
    assert got == expect


def test_fact_fact_join_multiplicities(spark, tmp_path):
    """fact_fact_join differential FORCING join multiplicities the
    dense testdata keys blur: an order with THREE lineitems (3 output
    rows), an order with none, a lineitem with no order — holes vanish
    through the shuffle-hash inner join, multiplicities multiply."""
    orders = [
        dict(o_orderkey=1, o_orderpriority="1-URGENT"),
        dict(o_orderkey=2, o_orderpriority="5-LOW"),
        dict(o_orderkey=3, o_orderpriority="1-URGENT"),  # no lineitems
    ]
    lines = [
        dict(l_orderkey=1, l_extendedprice=100.0, l_discount=0.25),
        dict(l_orderkey=1, l_extendedprice=200.0, l_discount=0.5),
        dict(l_orderkey=1, l_extendedprice=400.0),
        dict(l_orderkey=2, l_extendedprice=50.5),
        dict(l_orderkey=777, l_extendedprice=9999.0),  # dangling
    ]
    _write_tpch(spark, tmp_path, "orders", orders)
    _write_tpch(spark, tmp_path, "lineitem", lines)

    expect = {"1-URGENT": (3, 75.0 + 100.0 + 400.0), "5-LOW": (1, 50.5)}

    sdf = _spark_vs_registered_oracle(spark, "fact_fact_join", tmp_path)
    got = {r.o_orderpriority: (r.n_items, r.revenue) for r in sdf.collect()}
    assert got == expect


def test_dedup_exact_whitespace_and_min_id(spark, tmp_path):
    """dedup_exact differential FORCING the fingerprint edges: texts
    differing ONLY by a trailing space must NOT collapse; identical
    texts across doc_ids collapse to the SMALLEST id — including the
    corpus augmentation's planted negative twin (-id-1 < id), which
    must win the keep for doc_id%10==0 docs."""
    import hashlib

    docs = [
        (3, "alpha beta"),
        (7, "alpha beta"),      # same text -> keep 3
        (8, "alpha beta "),     # trailing space: its OWN group
        (10, "gamma"),          # %10==0: corpus plants (-11, 'gamma')
        (12, "delta"),
    ]
    _write_documents(tmp_path, docs)

    corpus = list(docs) + [(-d - 1, t) for d, t in docs if d % 10 == 0]
    groups: dict[str, list[int]] = {}
    for did, t in corpus:
        groups.setdefault(t, []).append(did)
    expect = {
        hashlib.md5(t.encode()).hexdigest(): (min(ids), len(ids))
        for t, ids in groups.items()
    }
    fp = lambda t: hashlib.md5(t.encode()).hexdigest()
    assert expect[fp("alpha beta")] == (3, 2)
    assert expect[fp("alpha beta ")] == (8, 1)   # space kept separate
    assert expect[fp("gamma")] == (-11, 2)       # negative twin wins

    sdf = _spark_vs_registered_oracle(spark, "dedup_exact", tmp_path)
    got = {r.fp: (r.keep_doc_id, r.n_copies) for r in sdf.collect()}
    assert got == expect


def test_stream_tumbling_hour_boundary(spark, tmp_path):
    """stream_tumbling differential FORCING the window edges: an event
    exactly AT an hour boundary opens the NEXT window (starts
    inclusive), one microsecond earlier closes the previous one; a
    window with a single event and a negative sum included."""
    from datetime import datetime, timedelta

    H = datetime(2024, 7, 1, 13)
    events = [
        dict(event_id=1, event_type="view", value=10.25, ts=H),  # 13:00 window
        dict(event_id=2, event_type="view", value=-0.25,
             ts=H - timedelta(microseconds=1)),                  # 12:00 window
        dict(event_id=3, event_type="view", value=5.0,
             ts=H + timedelta(minutes=59, seconds=59)),          # 13:00 window
        dict(event_id=4, event_type="click", value=1.0, ts=H + timedelta(hours=1)),
    ]
    _write_events(tmp_path, events)

    from decimal import ROUND_HALF_UP, Decimal

    def dec2(x):
        return Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)

    agg: dict[tuple, list] = {}
    for e in events:
        w = e["ts"].replace(minute=0, second=0, microsecond=0)
        a = agg.setdefault((w, e["event_type"]), [0, Decimal("0")])
        a[0] += 1
        a[1] += dec2(e["value"])
    expect = {k: (n, float(s)) for k, (n, s) in agg.items()}
    assert expect[(datetime(2024, 7, 1, 12), "view")] == (1, -0.25)
    assert expect[(datetime(2024, 7, 1, 13), "view")] == (2, 15.25)

    sdf = _spark_vs_registered_oracle(spark, "stream_tumbling", tmp_path)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in sdf.collect()
    }
    assert got == expect


def _session_gap_events():
    """Events forcing the exact-30-minute gap. Probed r11: Spark's
    streaming session_window MERGES an event arriving exactly at the
    previous session's end, the SAME strictly-greater-breaks rule as
    the batch formulation — this fixture caught both streaming
    session oracles using >= and forced the engine fix."""
    from datetime import datetime, timedelta

    T0 = datetime(2024, 8, 1, 9)
    return [
        # user 1: gaps exactly 30 min, then 30 min + 1 us
        dict(event_id=1, user_id=1, ts=T0),
        dict(event_id=2, user_id=1, ts=T0 + timedelta(minutes=30)),
        dict(event_id=3, user_id=1,
             ts=T0 + timedelta(minutes=60, microseconds=1)),
        # user 2: two events at the SAME instant (event_id orders them)
        dict(event_id=4, user_id=2, ts=T0),
        dict(event_id=5, user_id=2, ts=T0),
        # user 3: singleton
        dict(event_id=6, user_id=3, ts=T0),
    ]


def test_session_window_exact_gap_continues(spark, tmp_path):
    """Batch session_window: the exact-30-minute gap CONTINUES the
    session (strictly-greater breaks), so user 1 has sessions of 2 and
    1 events; same-instant ties stay in one session; singleton user."""
    from datetime import datetime

    events = _session_gap_events()
    _write_events(tmp_path, events)

    T0 = datetime(2024, 8, 1, 9)
    expect = {
        (1, 1): (2, T0),                      # events 1,2 (gap == 30min)
        (1, 2): (1, events[2]["ts"]),         # event 3 breaks (+1us)
        (2, 1): (2, T0),
        (3, 1): (1, T0),
    }

    sdf = _spark_vs_registered_oracle(spark, "session_window", tmp_path)
    got = {
        (r.user_id, r.sess_id): (r.n_events, r.sess_start)
        for r in sdf.collect()
    }
    assert got == expect


def test_statestore_session_read_exact_gap_merges(spark, tmp_path):
    """Streaming session-window state (statestore_session_read): the
    exact-30-minute gap MERGES (probed r11 — session_window extends a
    session whose end equals the next event's start, so streaming
    agrees with the batch strictly-greater rule; the oracle previously
    said >= and this test caught it), while +1 microsecond breaks."""
    from datetime import datetime

    events = _session_gap_events()
    _write_events(tmp_path, events)

    T0 = datetime(2024, 8, 1, 9)
    expect = {
        (1, T0): 2,                # gap == 30 min MERGED
        (1, events[2]["ts"]): 1,   # +1 us broke
        (2, T0): 2,
        (3, T0): 1,
    }

    sdf = _spark_vs_registered_oracle(spark, "statestore_session_read", tmp_path)
    got = {
        (r.user_id, r.sess_start): r.n_events for r in sdf.collect()
    }
    assert got == expect


def test_stream_left_outer_join_eviction_boundaries(spark, tmp_path):
    """stream_left_outer_join on the shared watermark fixture: matched
    purchases emit with their clicks (both interval ends inclusive),
    unmatched purchases null-extend only STRICTLY below the watermark
    (the AT-watermark purchase is withheld), and clicks never
    null-extend in a left join."""
    events = _watermark_boundary_events()
    _write_events(tmp_path, events)

    expect = {
        (1, 100, 101), (2, 102, 103),
        (8, 110, 111), (8, 110, 112),
        (3, 104, None), (5, 107, None),
    }

    sdf = _spark_vs_registered_oracle(spark, "stream_left_outer_join", tmp_path)
    got = {(r.user_id, r.purchase_id, r.click_id) for r in sdf.collect()}
    assert got == expect
    assert all(p is not None for _, p, _c in got)  # no right-side rows
    assert all(p != 106 for _, p, _c in got)       # AT-watermark withheld


def test_stream_dedup_unbounded_first_occurrence(spark, tmp_path):
    """stream_dedup_unbounded differential: repeated (user, type)
    pairs collapse to one regardless of multiplicity — forced with one
    user repeating a type 5x, the same user on a second type, and two
    users sharing a type."""
    from datetime import datetime, timedelta

    T0 = datetime(2024, 9, 1)
    events = []
    eid = 1
    for i in range(5):  # user 1 views 5x
        events.append(dict(event_id=eid, user_id=1, event_type="view",
                           ts=T0 + timedelta(minutes=i)))
        eid += 1
    events.append(dict(event_id=eid, user_id=1, event_type="click", ts=T0)); eid += 1
    events.append(dict(event_id=eid, user_id=2, event_type="view", ts=T0)); eid += 1

    _write_events(tmp_path, events)
    expect = {"view": 2, "click": 1}

    sdf = _spark_vs_registered_oracle(spark, "stream_dedup_unbounded", tmp_path)
    got = {r.event_type: r.n_users for r in sdf.collect()}
    assert got == expect


def test_stateful_user_stats_cent_edges(spark, tmp_path):
    """stateful_user_stats differential FORCING the integer-cents
    accumulation: half-cent values on both sides of the floor(+0.5)
    cut, a user whose cents sum to exactly zero, and a singleton
    user."""
    import math

    events = [
        dict(event_id=1, user_id=1, value=0.005),
        dict(event_id=2, user_id=1, value=-0.005),   # cents: 1 + 0 = 1
        dict(event_id=3, user_id=2, value=10.25),
        dict(event_id=4, user_id=2, value=-10.25),   # sums to exactly 0
        dict(event_id=5, user_id=3, value=0.004),    # rounds to 0 cents
    ]
    _write_events(tmp_path, events)

    agg: dict[int, list] = {}
    for e in events:
        a = agg.setdefault(e["user_id"], [0, 0])
        a[0] += 1
        a[1] += math.floor(e["value"] * 100 + 0.5)
    expect = {u: (n, c / 100.0) for u, (n, c) in agg.items()}
    assert expect[2] == (2, 0.0) and expect[3] == (1, 0.0)

    sdf = _spark_vs_registered_oracle(spark, "stateful_user_stats", tmp_path)
    got = {r.user_id: (r.n_events, r.sum_value) for r in sdf.collect()}
    assert got == expect


def test_statestore_read_and_changefeed_final_counts(spark, tmp_path):
    """statestore_read + statestore_changefeed differential on one
    fixture: the aggregation state read back from the checkpoint (and
    the change feed's last change per key) must equal the batch
    per-user counts — forced with one dominant user (42 events), a
    singleton, and interleaved arrival order."""
    import random
    from datetime import datetime, timedelta

    rng = random.Random(911)
    T0 = datetime(2024, 10, 1)
    events = [dict(event_id=1000, user_id=7, ts=T0)]  # singleton user
    eid = 1
    mix = [1] * 42 + [2] * 5 + [3] * 5
    rng.shuffle(mix)
    for u in mix:
        events.append(dict(event_id=eid, user_id=u,
                           ts=T0 + timedelta(seconds=eid)))
        eid += 1
    _write_events(tmp_path, events)

    expect = {1: 42, 2: 5, 3: 5, 7: 1}

    sdf = _spark_vs_registered_oracle(spark, "statestore_read", tmp_path)
    got = {r.user_id: r.n_events for r in sdf.collect()}
    assert got == expect

    sdf2 = _spark_vs_registered_oracle(spark, "statestore_changefeed", tmp_path)
    got2 = {r.user_id: r.n_events for r in sdf2.collect()}
    assert got2 == expect


def test_stream_session_append_emission_boundary(spark, tmp_path):
    """stream_session_append differential FORCING the append-mode
    emission rule: a session whose end lands exactly AT the final
    watermark EMITS (inclusive <=, probed r11 — the oracle previously
    said strict < and this test caught it; note the join-state
    eviction boundary IS strict, so the two operators differ); the
    exact-30-minute-gap merge from the shared fixture flows through
    (one merged session row, not two); the sentinel's own open
    session is withheld."""
    from datetime import datetime, timedelta

    T0 = datetime(2024, 8, 1, 9)
    events = _session_gap_events()
    eid = 100
    # sentinel: max ts = T0+4h -> watermark = T0+2h = 11:00
    events.append(dict(event_id=eid, user_id=9, ts=T0 + timedelta(hours=4))); eid += 1
    # session ending exactly AT the watermark (10:30 + 30 min == 11:00)
    events.append(dict(event_id=eid, user_id=5,
                       ts=T0 + timedelta(hours=1, minutes=30))); eid += 1
    # session ending one second earlier
    events.append(dict(event_id=eid, user_id=6,
                       ts=T0 + timedelta(hours=1, minutes=29, seconds=59)))
    _write_events(tmp_path, events)

    m30 = timedelta(minutes=30)
    s2 = T0 + timedelta(minutes=60, microseconds=1)
    expect = {
        (1, T0, T0 + timedelta(hours=1), 2),      # merged exact-gap pair
        (1, s2, s2 + m30, 1),
        (2, T0, T0 + m30, 2),
        (3, T0, T0 + m30, 1),
        (6, T0 + timedelta(hours=1, minutes=29, seconds=59),
         T0 + timedelta(hours=1, minutes=59, seconds=59), 1),
        # end exactly AT the 11:00 watermark: emitted (inclusive)
        (5, T0 + timedelta(hours=1, minutes=30),
         T0 + timedelta(hours=2), 1),
    }

    sdf = _spark_vs_registered_oracle(spark, "stream_session_append", tmp_path)
    got = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in sdf.collect()
    }
    assert got == expect
    assert any(u == 5 for u, *_ in got)       # AT-watermark session emitted
    assert all(u != 9 for u, *_ in got)       # sentinel's open session withheld


def test_stream_stream_join_inner_matches_only(spark, tmp_path):
    """stream_stream_join (INNER) on the shared watermark fixture:
    exactly the four boundary matches emit — both interval ends
    inclusive, one purchase matching two clicks — and NO null-extended
    rows for anything evicted (that is the outer variants' job)."""
    events = _watermark_boundary_events()
    _write_events(tmp_path, events)

    expect = {(1, 100, 101), (2, 102, 103), (8, 110, 111), (8, 110, 112)}

    sdf = _spark_vs_registered_oracle(spark, "stream_stream_join", tmp_path)
    got = {(r.user_id, r.purchase_id, r.click_id) for r in sdf.collect()}
    assert got == expect
    assert all(p is not None and c is not None for _, p, c in got)


def test_dedup_incremental_identical_text_all_bands(spark, tmp_path):
    """dedup_incremental differential FORCING the asymmetric-LSH
    edges: an incoming doc (planted negative twin) with text IDENTICAL
    to TWO existing docs shares all 16 bands with both; existing docs
    never pair with each other (that is dedup_minhash_pairs' job);
    every reported pair has incoming_id < 0 and existing_id >= 0."""
    shared = " ".join(f"tok{i}" for i in range(8))
    other = " ".join(f"zz{i}" for i in range(8))
    docs = [
        (3, shared),
        (10, shared),   # %10==0 -> corpus plants incoming (-11, shared)
        (20, other),    # %10==0 -> plants (-21, other)
        (7, "qq ww ee rr tt yy uu ii"),
    ]
    _write_documents(tmp_path, docs)

    sdf = _spark_vs_registered_oracle(spark, "dedup_incremental", tmp_path)
    got = {
        (r.incoming_id, r.existing_id): r.n_shared_bands
        for r in sdf.collect()
    }
    # identical text -> identical signature -> all 16 bands shared
    assert got[(-11, 3)] == 16 and got[(-11, 10)] == 16
    assert got[(-21, 20)] == 16
    assert all(i < 0 <= e for i, e in got)
    assert (-21, 7) not in got and (-11, 20) not in got


def test_ann_lsh_sign_boundary_and_bucket_exclusion(spark, tmp_path):
    """ann_lsh differential FORCING the sign-LSH edges: a dimension
    EXACTLY 0.0 hashes to bit 0 (strict >), so a candidate differing
    from the query only by a zero-vs-positive sign dim lands in a
    DIFFERENT bucket and is excluded even though its cosine is ~1;
    a same-bucket candidate with NEGATIVE cosine is kept and ranked
    last."""
    import math

    D = 64
    q = [0.0] * D
    for i in range(8):
        q[i] = 1.0 if i % 2 == 0 else -1.0  # bucket bits 1,0,1,0.. = 0b01010101
    q[20] = 2.0
    vecs = {0: q}
    # same bucket, high cosine: copy of q with extra tail energy
    v1 = list(q); v1[30] = 0.5
    vecs[1] = v1
    # dim0 EXACTLY 0.0 (bit drops) -> different bucket despite cosine
    v2 = list(q); v2[0] = 0.0
    vecs[2] = v2
    # same bucket, negative cosine: same signs on dims 0..7, tail flipped
    v3 = [0.0] * D
    for i in range(8):
        v3[i] = 0.25 if i % 2 == 0 else -0.25
    v3[20] = -8.0
    vecs[3] = v3
    # clearly different bucket (all signs flipped)
    vecs[4] = [-x for x in q]
    _write_embeddings(tmp_path, vecs)

    def bucket(v):
        return sum((1 << i) for i in range(8) if v[i] > 0)

    assert bucket(q) == bucket(v1) == bucket(v3) == 0b01010101
    assert bucket(v2) != bucket(q) and bucket(vecs[4]) != bucket(q)

    def cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        return round(dp / (math.sqrt(sum(x * x for x in a))
                           * math.sqrt(sum(y * y for y in b))), 4)

    assert cos(v2, q) > 0.9  # the excluded near-duplicate's cosine
    assert cos(v3, q) < 0    # the kept negative-cosine candidate

    sdf = _spark_vs_registered_oracle(spark, "ann_lsh", tmp_path)
    got = [(r.vec_id, r.cos_sim) for r in sdf.collect()]
    assert got == [(1, cos(v1, q)), (3, cos(v3, q))]


def test_pipeline_corpus_gates_and_split(spark, tmp_path):
    """pipeline_corpus differential FORCING every stage's boundary:
    token counts exactly AT the 20/2000 gates (in) and one past
    (out), two docs whose texts differ only in case/punctuation and
    collapse AFTER cleaning (min doc_id kept), and the md5-chain
    train/eval split recomputed with hashlib."""
    import hashlib

    from dpu_olap_spark.functions.text import EVAL_HEX, MAX_TOKENS, MIN_TOKENS

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    clean_a = words(25, "a")
    docs = [
        (1, clean_a),
        (2, "A0 a1, A2! a3 " + words(21, "a")[6:]),  # cleans to... see below
        (3, words(MIN_TOKENS, "b")),          # exactly 20: in
        (4, words(MIN_TOKENS - 1, "c")),      # 19: out
        (5, words(MAX_TOKENS, "d")),          # exactly 2000: in
        (6, words(MAX_TOKENS + 1, "e")),      # 2001: out
    ]
    # make doc 2 clean EXACTLY to doc 1's text: uppercase + punctuation
    docs[1] = (2, "A0 a1, A2! " + clean_a.split(" ", 3)[3])
    _write_documents(tmp_path, docs)

    def clean(t):
        import re
        t = re.sub(r"[^a-z0-9 ]", "", t.lower())
        return re.sub(r" +", " ", t).strip()

    assert clean(docs[1][1]) == clean_a  # collapse-after-clean forced

    kept: dict[str, list] = {}
    for did, t in docs:
        ct = clean(t)
        n = len(ct.split(" "))
        if not (MIN_TOKENS <= n <= MAX_TOKENS):
            continue
        fp = hashlib.md5(ct.encode()).hexdigest()
        g = kept.setdefault(fp, [])
        g.append((did, n))
    agg: dict[tuple, list] = {}
    for fp, members in kept.items():
        did, n = min(members)  # min doc_id survives the dedup
        subset = (
            "eval"
            if hashlib.md5(fp.encode()).hexdigest()[0] in EVAL_HEX
            else "train"
        )
        a = agg.setdefault(("en", subset), [0, 0])
        a[0] += 1
        a[1] += n
    expect = {k: tuple(v) for k, v in agg.items()}
    assert sum(n for n, _ in expect.values()) == 3  # docs 1(+2), 3, 5 survive

    sdf = _spark_vs_registered_oracle(spark, "pipeline_corpus", tmp_path)
    got = {
        (r.lang, r.subset): (r.n_docs, r.total_tokens) for r in sdf.collect()
    }
    assert got == expect


def test_pysink_write_commit_and_cent_edges(spark, tmp_path):
    """pysink_write differential FORCING the Python-sink commit path
    with value edges: half-cent prices on both sides of the
    floor(+0.5) cut, a bucket-0 orderkey, all 8 buckets populated, and
    non-urgent rows filtered before the writer."""
    import math

    orders = [
        dict(o_orderkey=k, o_orderpriority="1-URGENT",
             o_totalprice=k * 0.25 + 0.005)
        for k in range(8, 32)  # covers every %8 bucket
    ]
    orders.append(dict(o_orderkey=40, o_orderpriority="1-URGENT",
                       o_totalprice=0.004))   # rounds to 0 cents
    orders.append(dict(o_orderkey=41, o_orderpriority="5-LOW",
                       o_totalprice=9999.0))  # filtered out
    _write_tpch(spark, tmp_path, "orders", orders)

    agg: dict[int, list] = {}
    for o in orders:
        if o["o_orderpriority"] != "1-URGENT":
            continue
        b = o["o_orderkey"] % 8
        a = agg.setdefault(b, [0, 0])
        a[0] += 1
        a[1] += math.floor(o["o_totalprice"] * 100 + 0.5)
    expect = {b: tuple(v) for b, v in agg.items()}
    assert len(expect) == 8 and expect[0][0] == 4  # keys 8,16,24,40

    sdf = _spark_vs_registered_oracle(spark, "pysink_write", tmp_path)
    got = {r.bucket: (r.n_rows, r.sum_cents) for r in sdf.collect()}
    assert got == expect


def test_sink_zorder_between_edges(spark, tmp_path):
    """sink_zorder differential FORCING the inclusive BETWEEN edges of
    the pruned read (partkey 100 and 300 in; 99 and 301 out) through
    the Morton-interleaved layout, with every %8 supplier bucket hit."""
    lines = []
    for i, pk in enumerate([99, 100, 150, 300, 301] * 8):
        lines.append(
            dict(l_partkey=pk, l_suppkey=i % 8,
                 l_extendedprice=(i + 1) * 0.25)
        )
    _write_tpch(spark, tmp_path, "lineitem", lines)

    agg: dict[int, list] = {}
    for ln in lines:
        if not (100 <= ln["l_partkey"] <= 300):
            continue
        b = ln["l_suppkey"] % 8
        a = agg.setdefault(b, [0, 0.0])
        a[0] += 1
        a[1] += ln["l_extendedprice"]
    expect = {b: (n, round(s, 2)) for b, (n, s) in agg.items()}
    assert sum(n for n, _ in expect.values()) == 24  # 3 of 5 keys survive

    sdf = _spark_vs_registered_oracle(spark, "sink_zorder", tmp_path)
    got = {r.supp_bucket: (r.n_items, r.sum_price) for r in sdf.collect()}
    assert got == expect


def test_stream_left_outer_join_watermark_ms_truncation(spark, tmp_path):
    """Watermark MILLISECOND-truncation differential: Spark tracks
    event-time watermarks in the ms domain, so a side's max event time
    of :00.000750 truncates to :00.000 before the 1 h delay is
    subtracted. Forced: an unmatched purchase exactly AT the truncated
    watermark (withheld — strict <) whose timestamp is 750 us BELOW
    the un-truncated max-minus-delay, i.e. a wrong (un-truncated)
    oracle would emit it; plus a 1 ms earlier twin that emits."""
    from datetime import datetime, timedelta

    T0 = datetime(2024, 11, 1)
    at = lambda **kw: T0 + timedelta(**kw)
    # max pts and cts carry 750 us: watermark = trunc_ms(10:00:00.000750)
    # - 1 h = 9:00:00.000 exactly
    events = [
        dict(event_id=900, user_id=99, event_type="purchase",
             ts=at(hours=10, microseconds=750)),
        dict(event_id=901, user_id=98, event_type="click",
             ts=at(hours=10, microseconds=750)),
        # exactly AT the truncated watermark: withheld.  An oracle that
        # skipped the ms-truncation would compute w = 9:00:00.000750
        # and wrongly emit this row.
        dict(event_id=106, user_id=4, event_type="purchase", ts=at(hours=9)),
        # 1 ms below: emits
        dict(event_id=107, user_id=5, event_type="purchase",
             ts=at(hours=8, minutes=59, seconds=59, microseconds=999000)),
        # a matched pair flows through regardless
        dict(event_id=100, user_id=1, event_type="purchase", ts=at(hours=1)),
        dict(event_id=101, user_id=1, event_type="click", ts=at(hours=1)),
    ]
    _write_events(tmp_path, events)

    expect = {(1, 100, 101), (5, 107, None)}

    sdf = _spark_vs_registered_oracle(spark, "stream_left_outer_join", tmp_path)
    got = {(r.user_id, r.purchase_id, r.click_id) for r in sdf.collect()}
    assert got == expect
    assert all(p != 106 for _, p, _c in got)  # AT-truncated-watermark withheld


def test_window_sliding_slide_boundary_membership(spark, tmp_path):
    """Sliding-window (1 h width, 30 min slide) differential FORCING
    window membership at the slide edges: an event exactly AT a slide
    boundary belongs to exactly the two windows STARTING at that
    boundary and 30 minutes before (starts inclusive, ends exclusive
    — it is NOT in the window ending at its own timestamp); an event
    one microsecond earlier shifts down one window pair."""
    from datetime import datetime, timedelta

    T0 = datetime(2024, 11, 2, 12, 0)  # on the hour == a slide boundary
    events = [
        dict(event_id=1, event_type="view", ts=T0),
        dict(event_id=2, event_type="view", ts=T0 - timedelta(microseconds=1)),
        dict(event_id=3, event_type="click", ts=T0 + timedelta(minutes=30)),
        dict(event_id=4, event_type="click", ts=T0 + timedelta(minutes=29)),
    ]
    _write_events(tmp_path, events)

    m30 = timedelta(minutes=30)
    expect: dict[tuple, int] = {}

    def add(w, t):
        expect[(w, t)] = expect.get((w, t), 0) + 1

    # event 1 AT 12:00: windows starting 11:30 and 12:00
    add(T0 - m30, "view"); add(T0, "view")
    # event 2 at 11:59:59.999999: windows starting 11:00 and 11:30
    add(T0 - 2 * m30, "view"); add(T0 - m30, "view")
    # event 3 AT 12:30: windows starting 12:00 and 12:30
    add(T0, "click"); add(T0 + m30, "click")
    # event 4 at 12:29: windows starting 11:30 and 12:00
    add(T0 - m30, "click"); add(T0, "click")
    assert expect[(T0 - m30, "view")] == 2  # events 1 and 2 share one window

    sdf = _spark_vs_registered_oracle(spark, "window_sliding", tmp_path)
    got = {
        (r.window_start, r.event_type): r.n_events for r in sdf.collect()
    }
    assert got == expect


def test_simhash_unicode_tokens_cross_engine(spark, tmp_path):
    """simhash + simhash_md5 differential on a forced UNICODE corpus:
    the md5-derived base hash must agree across Spark (conv of
    substring of md5) and DuckDB (CAST of concat'ed hex) on multibyte
    tokens (accents, CJK, a 4-byte emoji), the planted exact duplicate
    hashes identically, and the 16-bit variant equals the low 16 bits
    of the 60-bit signature; all values recomputed with hashlib+numpy
    like the full-gate differential, but over text the ASCII corpus
    never exercises."""
    import hashlib

    docs = [
        (1, "café münchen 東京 straße über"),
        (2, "\U0001f600 grin \U0001f680 rocket mixed ascii"),
        (10, "plain ascii words only here"),  # %10: planted dup at -11
        (4, "ñ é ü ö å"),
    ]
    _write_documents(tmp_path, docs)

    corpus = list(docs) + [(-d - 1, t) for d, t in docs if d % 10 == 0]
    expect60, expect16 = {}, {}
    for did, t in corpus:
        hs = [
            int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for tok in t.split(" ")
        ]
        n = len(hs)
        sig = 0
        for k in range(60):
            if sum((h >> k) & 1 for h in hs) * 2 > n:
                sig |= 1 << k
        expect60[did] = sig
        expect16[did] = sig & 0xFFFF

    sdf60 = _spark_vs_registered_oracle(spark, "simhash", tmp_path)
    got60 = {r.doc_id: r.simhash for r in sdf60.collect()}
    assert got60 == expect60
    assert got60[-11] == got60[10]  # planted dup identical

    sdf16 = _spark_vs_registered_oracle(spark, "simhash_md5", tmp_path)
    got16 = {r.doc_id: r.simhash for r in sdf16.collect()}
    assert got16 == expect16
    assert all(got16[d] == got60[d] & 0xFFFF for d in got60)


def test_dedup_clusters_forced_transitive_chain(spark, tmp_path):
    """dedup_clusters differential FORCING a deterministic transitive
    chain: doc B overlaps A on one half of its shingles and C on the
    other, so A~B and B~C are LSH candidates while A and C share no
    shingle — the cluster must still merge all three to min-label A
    via propagation (length-2 path), alongside an untouched singleton.
    Complements the randomized union-find differential in
    test_llm_ops.py with a hand-built chain whose edge set is
    attested."""
    from dpu_olap_spark.registry import all_queries

    # vocabulary found by replaying the exact md5/xor-lane minhash
    # pipeline offline: with these 20+20 tokens, B (= A's tokens then
    # C's) shares a full band with A AND with C, while A and C share
    # none — deterministic, since every hash in the pipeline is md5
    half1 = " ".join(f"a7_{i}" for i in range(20))
    half2 = " ".join(f"c7_{i}" for i in range(20))
    docs = [
        (1, half1),                      # A
        (2, half1 + " " + half2),        # B overlaps A and C
        (3, half2),                      # C: no shingle shared with A
        (4, "island only words nothing shared here"),  # singleton
    ]
    _write_documents(tmp_path, docs)

    pairs = {
        (r.doc_a, r.doc_b)
        for r in all_queries()["dedup_minhash_pairs"].build(spark, str(tmp_path)).collect()
    }
    # attest the chain: A-B and B-C are candidates, A-C is NOT
    assert (1, 2) in pairs and (2, 3) in pairs
    assert (1, 3) not in pairs

    sdf = _spark_vs_registered_oracle(spark, "dedup_clusters", tmp_path)
    got = {r.doc_id: r.cluster_id for r in sdf.collect()}
    assert got[1] == got[2] == got[3] == 1  # merged via the 2-hop path
    assert got[4] == 4                      # singleton untouched


def test_decimal_cast_rounding_cross_engine_invariant(spark, tmp_path):
    """Pins the double -> DECIMAL(18,2) cast seam every money oracle in
    this suite leans on: BOTH engines round the SHORTEST-ROUNDTRIP
    DECIMAL STRING half-away-from-zero, not the binary value — 2.675's
    nearest double is BELOW the half (2.67499999999999982) yet both
    produce 2.68 because its shortest repr is '2.675'. Exact binary
    ties (0.125) and negative mirrors round away from zero in both.
    This is exactly Decimal(repr(x)).quantize(HALF_UP) — the walk
    convention the differentials use — so the three-way agreement is
    asserted value-for-value. If either engine ever switches to
    binary-value or banker's rounding, this test names the seam."""
    from decimal import ROUND_HALF_UP, Decimal

    vals = [
        0.125, 0.375, -0.125,        # exact binary ties
        1.005, 2.675, 1.115, 123.455,  # shortest-repr halves, binary below
        -1.005, -2.675,              # negative mirrors
        0.015, 0.005,                # binary ABOVE the half for 0.005
        0.994999999999999995,        # repr collapses to '0.995'
    ]
    spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                          "i int, x double").write.parquet(
        str(tmp_path) + "/vals.parquet"
    )
    sdf = (
        spark.read.parquet(str(tmp_path) + "/vals.parquet")
        .selectExpr("i", "x", "cast(x as decimal(18,2)) as dec2")
    )
    got = {r.i: (r.x, Decimal(str(r.dec2))) for r in sdf.collect()}

    for i, v in enumerate(vals):
        walk = Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)
        (duck,) = duckdb.sql(
            "SELECT CAST(CAST(? AS DOUBLE) AS DECIMAL(18,2))", params=[v]
        ).fetchone()
        assert got[i][1] == Decimal(str(duck)) == walk, (
            f"decimal cast seam moved for {v!r}: spark={got[i][1]} "
            f"duckdb={duck} walk={walk}"
        )
    # attest the interesting structure: a binary-below-half value that
    # still rounds UP (string-based), and the exact tie away from zero
    assert float(2.675) < 2.675 or (2.675).hex() == "0x1.5666666666666p+1"
    assert got[vals.index(2.675)][1] == Decimal("2.68")
    assert got[vals.index(-0.125)][1] == Decimal("-0.13")


def test_csv_sink_null_sentinel_collision_documented(spark, tmp_path):
    """Attests the DOCUMENTED limitation of the CSV sink's \\N NULL
    sentinel (sources/sinks.py): a string value equal to the literal
    two-character sequence backslash-N cannot round-trip — it reads
    back as NULL, colliding with true NULLs. Since r12 the sink
    REFUSES such frames at write time (the r11-ADVICE guard, pinned in
    tests/test_sinks.py); the collision itself remains reachable only
    through the explicit validate_sentinel=False opt-out, which this
    test uses to keep the underlying behavior pinned so a future
    sentinel change is a conscious decision — and confirms every
    OTHER backslash-ish value survives."""
    from dpu_olap_spark.sources import sinks

    df = spark.createDataFrame(
        [(1, "\\N"), (2, "\\n"), (3, "N"), (4, "\\\\N"), (5, None), (6, "")],
        "k int, s string",
    )
    path = str(tmp_path) + "/csv_sentinel"
    with pytest.raises(ValueError, match="NULL sentinel"):
        sinks.write_csv(df, path)  # the guard fires on the poisoned frame
    sinks.write_csv(df, path, validate_sentinel=False)
    back = {r.k: r.s for r in sinks.read_csv(spark, path, df.schema).collect()}
    assert back[1] is None          # the documented collision
    assert back[2] == "\\n"         # lowercase survives
    assert back[3] == "N"
    assert back[4] == "\\\\N"       # double backslash survives
    assert back[5] is None          # true NULL
    assert back[6] == ""            # empty string preserved (r11 fix)


def test_nano_ts_restore_pre_epoch_floor(spark, tmp_path):
    """Differential for the LEGACY nanosecond-long events form
    (sources/tables.py _restore_nano_ts bigint branch, kept for old
    testdata): the ns -> us conversion must FLOOR, not truncate toward
    zero — a pre-epoch -1 ns instant belongs to microsecond -1
    (1969-12-31 23:59:59.999999), the us interval containing it.
    Probing this seam exposed that DuckDB 1.0's TIMESTAMP_NS ->
    TIMESTAMP cast TRUNCATES toward zero instead (-1 ns -> the
    epoch), so the engines diverge pre-epoch — pinned below, with the
    engine's floor checked against a pure-Python walk on nanos on and
    off the 1000-boundary in both signs."""
    from datetime import datetime, timedelta, timezone

    nanos = [-1, -999, -1000, -1001, -1_500_000_001, 0, 1, 999, 1000, 1001,
             1_700_000_000_123_456_789]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(nanos)), pa.int64()),
                "ts": pa.array(nanos, pa.int64()),
                "user_id": pa.array([1] * len(nanos), pa.int64()),
                "event_type": pa.array(["view"] * len(nanos), pa.string()),
                "value": pa.array([1.0] * len(nanos), pa.float64()),
                "props": pa.array(["{}"] * len(nanos), pa.string()),
            }
        ),
        str(tmp_path) + "/events.parquet",
    )

    from dpu_olap_spark.sources.tables import load_table

    got = {
        r.event_id: r.ts.replace(tzinfo=timezone.utc)
        for r in load_table(spark, str(tmp_path), "events").collect()
    }

    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    for i, ns in enumerate(nanos):
        us = ns // 1000  # Python floor division == the required floor
        walk = epoch + timedelta(microseconds=us)
        assert got[i] == walk, f"ns={ns}: spark={got[i]} walk={walk}"
    # attest the floor-vs-truncate divergence actually bites: -1 ns
    # floors to -1 us; truncation toward zero would give 0
    assert got[0] == epoch - timedelta(microseconds=1)
    assert got[3] == epoch - timedelta(microseconds=2)  # -1001 -> -2 us

    # pin DuckDB 1.0's divergent pre-epoch truncation via a TIMESTAMP_NS
    # parquet column (make_timestamp_ns does not exist in 1.0)
    pq.write_table(
        pa.table({"ns": pa.array(nanos, pa.timestamp("ns"))}),
        str(tmp_path) + "/ns_probe.parquet",
    )
    duck = [
        r[0].replace(tzinfo=timezone.utc)
        for r in duckdb.sql(
            "SELECT CAST(ns AS TIMESTAMP) FROM "
            f"'{tmp_path}/ns_probe.parquet'"
        ).fetchall()
    ]
    assert duck[0] == epoch                             # -1 ns truncated UP
    assert duck[0] != got[0]                            # the divergence
    assert duck[3] == epoch - timedelta(microseconds=1)  # -1001 -> -1 us
    # post-epoch the engines agree (floor == truncate for positives)
    for i, ns in enumerate(nanos):
        if ns >= 0:
            assert duck[i] == got[i]


def test_nano_ts_oracle_view_floor_parity(spark, tmp_path):
    """Oracle-view closure of the pre-epoch nano seam (r11 ADVICE #3):
    tests/oracle._connect now builds the events view with an EXPLICIT
    exact-int64 floor over legacy raw-ns columns, so driver/oracle
    parity holds for ALL ns inputs — including the pre-epoch
    sub-microsecond values where DuckDB's native TIMESTAMP_NS cast
    truncates toward zero (pinned divergent in the test above).

    Three regimes:
    - legacy int64 ns fixture WITH pre-epoch values: full value parity
      between Spark's _restore_nano_ts and the oracle view;
    - TIMESTAMP(NANOS) fixture, post-epoch: parity (floor == truncate);
    - TIMESTAMP(NANOS) fixture, pre-epoch: _connect RAISES (DuckDB 1.0
      truncates at SCAN, raw nanos are unrecoverable — fail loudly,
      never hash silently-wrong parity)."""
    from datetime import timezone

    from dpu_olap_spark.sources.tables import TABLES, load_table
    from tests.oracle import _VIEW_SELECT_CACHE, run_oracle

    def make_sf(subdir: str, ts_array) -> str:
        d = tmp_path / subdir
        d.mkdir()
        for t in TABLES:
            if t != "events":
                os.symlink(
                    f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet"
                )
        n = len(ts_array)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(n), pa.int64()),
                    "ts": ts_array,
                    "user_id": pa.array([1] * n, pa.int64()),
                    "event_type": pa.array(["view"] * n, pa.string()),
                    "value": pa.array([1.0] * n, pa.float64()),
                    "props": pa.array(["{}"] * n, pa.string()),
                }
            ),
            str(d / "events.parquet"),
        )
        return str(d)

    nanos = [-1, -999, -1000, -1001, -1_500_000_001, 0, 1, 999, 1000,
             1001, 1_700_000_000_123_456_789]
    sql = "SELECT event_id, ts FROM events"

    # regime 1: legacy raw-int64 ns, pre-epoch included — exact parity
    d1 = make_sf("legacy_ns", pa.array(nanos, pa.int64()))
    spark_rows = {
        r.event_id: r.ts.replace(tzinfo=timezone.utc)
        for r in load_table(spark, d1, "events").collect()
    }
    oracle_rows, _ = run_oracle(sql, d1)
    assert {
        eid: ts.replace(tzinfo=timezone.utc) for eid, ts in oracle_rows
    } == spark_rows
    # attest the seam is exercised: -1 ns floors to -1 us on BOTH sides
    # (the native DuckDB cast would have produced the epoch here)
    assert spark_rows[0].microsecond == 999999

    # regime 2: TIMESTAMP(NANOS) post-epoch — plain view, parity holds
    post = [ns for ns in nanos if ns >= 0]
    d2 = make_sf("ns_post", pa.array(post, pa.timestamp("ns")))
    spark2 = {
        r.event_id: r.ts.replace(tzinfo=timezone.utc)
        for r in load_table(spark, d2, "events").collect()
    }
    oracle2, _ = run_oracle(sql, d2)
    assert {
        eid: ts.replace(tzinfo=timezone.utc) for eid, ts in oracle2
    } == spark2

    # regime 3: TIMESTAMP(NANOS) pre-epoch — unrecoverable, fail loudly
    d3 = make_sf("ns_pre", pa.array(nanos, pa.timestamp("ns")))
    with pytest.raises(ValueError, match="pre-epoch"):
        run_oracle(sql, d3)
    # the poisoned fixture must not poison the view cache either
    # (cache keys are (path, mtime_ns, size) tuples since the r12
    # staleness fix)
    assert not any("ns_pre" in k[0] for k in _VIEW_SELECT_CACHE)


def test_statestore_changefeed_multibatch_evolution_and_replay(spark, tmp_path):
    """Change-feed EVOLUTION differential (the multi-batch case the
    registered statestore_changefeed can't force because availableNow
    batching is split-dependent): drive the same per-user count through
    the deterministic 3-slice file seam statestore_timetravel uses
    (event_id % 3, one file per batch via maxFilesPerTrigger=1), then
    attest the FULL (batch_id, key) -> value change history against a
    pure-Python cumulative walk:
    - a key updated in every slice emits one change per batch with the
      cumulative count (1, 2, 3);
    - a key UNTOUCHED by a batch emits NO change row for it (the feed
      records puts, not state dumps) — forced by a slice-0-only user;
    - a key first seen in the last slice appears only there;
    - update-mode count never deletes, so every change_type is 'update'.
    Then the changelog-REPLAY equivalence that makes the feed a
    recovery tool: folding changes with batch_id <= 1 (last put per
    key) must equal the state SNAPSHOT read as of batchId=1 — replaying
    the changelog reconstructs any historical state without re-running
    the pipeline."""
    import os
    import time as _time

    events = [
        dict(event_id=3, user_id=1),    # slice 0
        dict(event_id=4, user_id=1),    # slice 1
        dict(event_id=5, user_id=1),    # slice 2
        dict(event_id=6, user_id=3),    # slice 0 only -> silent after b0
        dict(event_id=7, user_id=4),    # slice 1
        dict(event_id=10, user_id=4),   # slice 1 (two in one batch)
        dict(event_id=8, user_id=2),    # slice 2 only
        dict(event_id=11, user_id=2),   # slice 2
    ]
    _write_events(tmp_path, events)

    # pure-Python walk: change row (b, u) iff user u has events in
    # slice b, value = cumulative count through slice b
    cum: dict[int, int] = {}
    expect_changes: dict[tuple[int, int], int] = {}
    for b in range(3):
        for e in events:
            if e["event_id"] % 3 == b:
                cum[e["user_id"]] = cum.get(e["user_id"], 0) + 1
                expect_changes[(b, e["user_id"])] = cum[e["user_id"]]
    # forcing attested: user 1 evolves 1->2->3; user 3 silent after b0;
    # user 2 only in b2; user 4 jumps straight to 2 in b1
    assert [expect_changes[(b, 1)] for b in range(3)] == [1, 2, 3]
    assert (1, 3) not in expect_changes and (2, 3) not in expect_changes
    assert [b for (b, u) in expect_changes if u == 2] == [2]
    assert expect_changes[(1, 4)] == 2 and (0, 4) not in expect_changes

    from dpu_olap_spark.sources.tables import _STATE_CONF_LOCK, load_table

    ev = load_table(spark, str(tmp_path), "events")
    src = str(tmp_path / "cf_src")
    os.makedirs(src)
    now = _time.time()
    for k in range(3):
        staging = os.path.join(src, f"slice{k}")
        ev.where(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{k:02d}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now - 300 + k * 60, now - 300 + k * 60))
        import shutil

        shutil.rmtree(staging, ignore_errors=True)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
    )
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ckpt = str(tmp_path / "cf_ckpt")
    with _STATE_CONF_LOCK:
        to_set = {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        }
        prev_vals = {k: spark.conf.get(k, None) for k in to_set}
        for k, v in to_set.items():
            spark.conf.set(k, v)
        try:
            q = (
                agg.writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            for k, v in prev_vals.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finished = q.awaitTermination(180)
    q.stop()
    assert finished, "changefeed evolution stream did not finish in 180s"

    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load(ckpt)
        .select(
            F.col("batch_id").cast("int").alias("b"),
            F.col("change_type").alias("ct"),
            F.col("key.user_id").alias("u"),
            F.col("value.count").cast("bigint").alias("v"),
        )
        .collect()
    )
    assert {r.ct for r in feed} == {"update"}  # count never deletes
    got_changes = {(r.b, r.u): r.v for r in feed}
    assert len(feed) == len(got_changes)  # one put per (batch, key)
    assert got_changes == expect_changes

    # changelog REPLAY == snapshot as-of batch 1
    replay = {}
    for r in sorted((r for r in feed if r.b <= 1), key=lambda r: r.b):
        replay[r.u] = r.v  # last put per key wins
    snap = {
        r.u: r.v
        for r in spark.read.format("statestore")
        .option("batchId", "1")
        .load(ckpt)
        .select(
            F.col("key.user_id").alias("u"),
            F.col("value.count").cast("bigint").alias("v"),
        )
        .collect()
    }
    walk_b1 = {}
    for b in range(2):
        for e in events:
            if e["event_id"] % 3 == b:
                walk_b1[e["user_id"]] = walk_b1.get(e["user_id"], 0) + 1
    assert replay == snap == walk_b1
    assert 2 not in snap  # slice-2-only user absent as of batch 1


def test_collated_join_agg_case_merge_prefix_and_unicode(spark, tmp_path):
    """collated_join_agg differential FORCING every collation seam:
    raw-case spellings of one brand ('Brand#1' / 'bRAND#1' even-side,
    'brand#1' / 'BRAND#1' odd-side) must merge into ONE group on BOTH
    sides of the collated join; the mixed-case prefix needle stops
    exactly at the 'brand#1'/'brand#2' boundary; a prefix-matching
    brand with no odd-side parts is dropped by the inner join (and a
    dim-only brand never appears); and a non-ASCII bicameral pair
    ('BRAND#1É' even / 'brand#1é' odd) must match under UTF8_LCASE's
    Unicode case folding — attested against Python's str.lower() walk
    as well as the DuckDB oracle (probed: all three engines map
    É <-> é identically)."""
    parts = [
        # even keys -> fact side (query uppercases)
        dict(p_partkey=2, p_brand="Brand#1", p_retailprice=10.25),
        dict(p_partkey=4, p_brand="bRAND#1", p_retailprice=20.50),
        dict(p_partkey=6, p_brand="Brand#19", p_retailprice=30.75),
        dict(p_partkey=8, p_brand="Brand#2", p_retailprice=40.25),   # prefix out
        dict(p_partkey=10, p_brand="Brand#13", p_retailprice=50.0),  # no dim row
        dict(p_partkey=12, p_brand="BRAND#1É", p_retailprice=60.25),
        # odd keys -> dim side (query lowercases)
        dict(p_partkey=1, p_brand="brand#1", p_retailprice=5.25),
        dict(p_partkey=3, p_brand="BRAND#1", p_retailprice=7.50),
        dict(p_partkey=5, p_brand="Brand#19", p_retailprice=9.0),
        dict(p_partkey=7, p_brand="Brand#2", p_retailprice=11.0),    # fact filtered
        dict(p_partkey=9, p_brand="Brand#12", p_retailprice=13.0),   # dim-only
        dict(p_partkey=11, p_brand="brand#1é", p_retailprice=15.75),
    ]
    _write_tpch(spark, tmp_path, "part", parts)

    # pure-Python walk with str.lower() as the collation model
    import math

    fact: dict[str, list[int]] = {}
    dim: dict[str, list[int]] = {}
    for p in parts:
        b = p["p_brand"].lower()
        cents = math.floor(p["p_retailprice"] * 100 + 0.5)
        (fact if p["p_partkey"] % 2 == 0 else dim).setdefault(b, []).append(cents)
    expect = {}
    for b, cs in fact.items():
        if b.startswith("brand#1") and b in dim:
            expect[b] = (len(cs), sum(cs), len(dim[b]), sum(dim[b]))
    # forcing attested
    assert expect["brand#1"] == (2, 3075, 2, 1275)   # case variants merged
    assert expect["brand#19"] == (1, 3075, 1, 900)
    assert expect["brand#1é"] == (1, 6025, 1, 1575)  # unicode fold matched
    assert "brand#2" not in expect                   # prefix boundary
    assert "brand#13" not in expect                  # inner join drops fact-only
    assert "brand#12" not in expect                  # dim-only never surfaces
    assert len(expect) == 3

    sdf = _spark_vs_registered_oracle(spark, "collated_join_agg", tmp_path)
    got = {
        r.brand_ci: (r.n_even, r.even_cents, r.n_odd, r.odd_cents)
        for r in sdf.collect()
    }
    assert got == expect


def test_statestore_changelog_only_lineage_and_fail_loud_corruption(
    spark, tmp_path
):
    """RocksDB changelog-checkpoint resilience differential (the
    corruption harness NOTES_NEXT_ROUND flagged): with changelog
    checkpointing and short batches, the probed checkpoint holds NO
    consolidated snapshot at all — *.zip upload is lazy background
    maintenance — so every statestore read reconstructs state purely
    by replaying k.changelog files from version 0. Attests (a) that
    layout fact (zero .zip under state/, one changelog per committed
    batch per partition), (b) the reader serves the FINAL batch
    correctly from changelogs alone (against a pure-Python walk), and
    (c) the fail-LOUD contract: deleting one version's changelog from
    every partition makes the read RAISE instead of serving silently
    wrong or empty state — at 100 TB a checkpoint hole must stop the
    pipeline, not corrupt it."""
    import glob
    import os
    import shutil
    import time as _time

    events = [
        dict(event_id=3, user_id=1),    # slice 0
        dict(event_id=4, user_id=1),    # slice 1
        dict(event_id=5, user_id=1),    # slice 2
        dict(event_id=6, user_id=3),    # slice 0
        dict(event_id=7, user_id=4),    # slice 1
        dict(event_id=10, user_id=4),   # slice 1
        dict(event_id=8, user_id=2),    # slice 2
        dict(event_id=11, user_id=2),   # slice 2
    ]
    _write_events(tmp_path, events)
    walk = {}
    for e in events:
        walk[e["user_id"]] = walk.get(e["user_id"], 0) + 1

    from dpu_olap_spark.sources.tables import _STATE_CONF_LOCK, load_table

    ev = load_table(spark, str(tmp_path), "events")
    src = str(tmp_path / "cr_src")
    os.makedirs(src)
    now = _time.time()
    for k in range(3):
        staging = os.path.join(src, f"slice{k}")
        ev.where(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{k:02d}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now - 300 + k * 60, now - 300 + k * 60))
        shutil.rmtree(staging, ignore_errors=True)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
    )
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ckpt = str(tmp_path / "cr_ckpt")
    with _STATE_CONF_LOCK:
        to_set = {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        }
        prev_vals = {k: spark.conf.get(k, None) for k in to_set}
        for k, v in to_set.items():
            spark.conf.set(k, v)
        try:
            q = (
                agg.writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            for k, v in prev_vals.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finished = q.awaitTermination(180)
    q.stop()
    assert finished, "corruption-harness stream did not finish in 180s"

    state_root = os.path.join(ckpt, "state")
    # (a) changelog-only lineage: no consolidated snapshot anywhere,
    # and every partition carries changelogs 1..3 (one per batch)
    assert glob.glob(os.path.join(state_root, "**", "*.zip"),
                     recursive=True) == []
    part_dirs = [
        d for d in glob.glob(os.path.join(state_root, "0", "*"))
        if os.path.basename(d) != "_metadata" and os.path.isdir(d)
    ]
    assert len(part_dirs) == 8
    for d in part_dirs:
        versions = sorted(
            int(os.path.basename(f).split(".")[0])
            for f in glob.glob(os.path.join(d, "*.changelog"))
        )
        assert versions == [1, 2, 3], (d, versions)

    # (b) final state served from changelog replay alone
    def read_final():
        return {
            r.u: r.v
            for r in spark.read.format("statestore")
            .option("batchId", "2")
            .load(ckpt)
            .select(
                F.col("key.user_id").alias("u"),
                F.col("value.count").cast("bigint").alias("v"),
            )
            .collect()
        }

    assert read_final() == walk

    # (c) corruption fails LOUD: drop version 2's changelog everywhere
    for d in part_dirs:
        for f in glob.glob(os.path.join(d, "*2.changelog*")):
            os.remove(f)
    with pytest.raises(Exception):
        read_final()


def test_double_to_int_cast_cross_engine_seam(spark):
    """Pins a DIVERGENT seam (found by the r11 probe sweep, same class
    as the round(double, n) divergence fixed earlier this round):
    CAST(double AS INT/BIGINT) TRUNCATES toward zero in Spark but
    ROUNDS (half-even) in DuckDB — 3.5 -> 3 vs 4, 2.7 -> 2 vs 3.
    House rule this test enforces by documentation: shared SQL (any
    oracle string or any expression replicated on both engines) must
    never cast a non-integral double to an integer type; use
    floor()/ceil() first (both engines agree on those) or keep the
    arithmetic integral. The engine's one double->int cast site — the
    bloom word index, events_analytics.py:463,495 — runs on Spark for
    BOTH build and probe sides and never reaches an oracle, and false
    positives die in the exact join, so it is out of the seam's reach."""
    cases = [2.5, 3.5, -2.5, -3.5, 2.7, -2.7, 0.5, 1.5, 2.0, -2.0]
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cases)], "i int, x double"
    ).selectExpr("i", "cast(x as int) as as_int")
    got = {r.i: r.as_int for r in sdf.collect()}
    for i, v in enumerate(cases):
        assert got[i] == int(v), f"Spark no longer truncates {v!r}"
        (duck,) = duckdb.sql(
            "SELECT CAST(CAST(? AS DOUBLE) AS INT)", params=[v]
        ).fetchone()
        # DuckDB: round-half-even; integral values agree, halves and
        # 2.7-style values diverge from Spark's truncation
        import decimal

        expect_duck = int(
            decimal.Decimal(v).quantize(0, rounding=decimal.ROUND_HALF_EVEN)
        )
        assert duck == expect_duck, f"DuckDB rounding moved for {v!r}"
        # divergent exactly where truncation and half-even disagree
        # (2.5 coincides: trunc 2 == half-even 2; 3.5 diverges: 3 vs 4)
        assert (got[i] != duck) == (int(v) != expect_duck), (
            f"seam moved for {v!r}: spark={got[i]} duckdb={duck}"
        )
    # floor()-first agreement: the sanctioned shared-SQL spelling
    for v in cases:
        (s,) = (
            spark.sql(f"SELECT CAST(floor(CAST('{v!r}' AS DOUBLE)) AS BIGINT)")
            .collect()[0]
        )
        (d,) = duckdb.sql(
            "SELECT CAST(floor(CAST(? AS DOUBLE)) AS BIGINT)", params=[v]
        ).fetchone()
        assert s == d, f"floor() convention broken for {v!r}"


def test_substr_position_zero_cross_engine_seam(spark):
    """Pins the substr() position-0 seam: Spark treats pos 0 like
    pos 1 (substr('hello',0,3) = 'hel'); DuckDB counts the empty slot
    before position 1 against the length (= 'he'). Positions >= 1 and
    negative (from-end) positions agree exactly — attested over every
    (pos, len) in a small grid — so shared SQL is safe iff positions
    are >= 1 or negative, which is what the fuzzer and every oracle
    use. A future engine change that widens or closes the divergence
    trips this pin."""
    s = "hello"
    # the divergent point
    (sp,) = spark.sql("SELECT substr('hello', 0, 3)").collect()[0]
    (du,) = duckdb.sql("SELECT substr('hello', 0, 3)").fetchone()
    assert sp == "hel" and du == "he", (sp, du)
    # the safe regime: pos in 1..6 and -5..-1, len in 0..6 — exact
    # match, attested in ONE batched query per engine
    poss = list(range(1, 7)) + list(range(-5, 0))
    exprs = [
        f"substr('{s}', {pos}, {ln})" for pos in poss for ln in range(0, 7)
    ] + [f"substr('{s}', {pos})" for pos in poss]
    sel = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    srow = spark.sql(f"SELECT {sel}").collect()[0]
    drow = duckdb.sql(f"SELECT {sel}").fetchone()
    for i, e in enumerate(exprs):
        assert srow[i] == drow[i], (e, srow[i], drow[i])


def test_dedup_paragraph_boilerplate_boundaries(spark, tmp_path):
    """Forced-boundary differential for dedup_paragraph (llm/dedup.py):
    a 3-word segment in EXACTLY _PARA_MAX_DOCS distinct docs is kept in
    all of them while the same segment in one more doc is dropped from
    all; intra-doc repeats count ONE distinct doc (so a doc repeating
    its own segment keeps every copy); a doc made entirely of
    boilerplate reassembles to '' with n_kept 0; partial tail segments
    (len % 3 == 1 and 2) participate as their own short segments; an
    empty-text doc is excluded from the output entirely. Expected rows
    from an independent pure-Python walk, and the DuckDB oracle runs
    on the SAME fixture so all three implementations must agree."""
    from dpu_olap_spark.llm.dedup import _PARA_K, _PARA_MAX_DOCS
    from dpu_olap_spark.registry import all_queries

    assert _PARA_K == 3 and _PARA_MAX_DOCS == 2  # fixture is built for these
    B = "aa bb cc"        # boilerplate: docs 0, 1, 2 (3 > 2) — dropped
    K = "dd ee ff"        # exactly 2 docs — kept in both
    docs = {
        0: f"{B} {K} {B}",            # intra-doc repeat of B; keeps only K
        1: f"gg hh ii {B} jj",        # tail segment 'jj' (len % 3 == 1)
        2: f"{B}",                    # all boilerplate -> clean_text ''
        3: f"{K} kk ll",              # tail 'kk ll' (len % 3 == 2)
        4: "mm nn oo pp qq rr ss",    # untouched doc, 3-1 tail
        5: "",                        # empty text -> excluded entirely
    }
    rows = [(i, t, "en", "web") for i, t in docs.items()]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path) + "/documents.parquet")

    # independent walk
    def segments(text):
        w = text.split(" ")
        return [" ".join(w[i : i + _PARA_K])
                for i in range(0, len(w), _PARA_K)]

    nd = {}
    for i, t in docs.items():
        if not t:
            continue
        for s in set(segments(t)):
            nd[s] = nd.get(s, 0) + 1
    expect = {}
    for i, t in docs.items():
        if not t:
            continue
        segs = segments(t)
        kept = [s for s in segs if nd[s] <= _PARA_MAX_DOCS]
        expect[i] = (len(segs), len(kept), " ".join(kept))

    # walk attests its own forcing
    assert nd[B] == 3 and nd[K] == 2
    assert expect[0] == (3, 1, K)            # both B copies dropped
    assert expect[2] == (1, 0, "")           # fully-boilerplate doc
    assert expect[1][1] == 2 and expect[1][2] == "gg hh ii jj"
    assert expect[3] == (2, 2, f"{K} kk ll")
    assert expect[4] == (3, 3, docs[4])
    assert 5 not in expect

    got = {
        r.doc_id: (r.n_segs, r.n_kept, r.clean_text)
        for r in all_queries()["dedup_paragraph"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == expect

    # DuckDB oracle on the same fixture
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    cur = con.execute(entrymod.oracle_sql()["dedup_paragraph"])
    cols = [d[0] for d in cur.description]
    duck = {}
    for row in cur.fetchall():
        r = dict(zip(cols, row))
        duck[r["doc_id"]] = (r["n_segs"], r["n_kept"], r["clean_text"])
    con.close()
    assert duck == expect


def test_empty_input_grand_total_grouping_set_cross_engine_seam(spark):
    """Pins the FIRST real catch of the cross-engine fuzzer (seed
    25995, groupsets family): over an EMPTY input, any grouping
    containing the grand-total set `()` — ROLLUP, CUBE, or explicit
    GROUPING SETS — emits the grand-total row (COUNT(*)=0, other
    aggregates NULL, GROUPING()=1) on DuckDB, per the SQL-standard
    equivalence of the () set with global aggregation, while Spark
    emits NO rows, even for GROUPING SETS (()) alone. Plain global
    aggregates agree (one row) and non-empty inputs agree exactly.
    House rule: an oracled query using ROLLUP/CUBE/GROUPING SETS must
    have provably non-empty input (the three registered ones aggregate
    whole TPC-H tables) or filter the () row out symmetrically with
    HAVING COUNT(*) > 0 — the fuzzer's groupsets generator does the
    latter. If either engine moves, this pin names the seam."""
    empty = "(VALUES (1, 'x')) t(a, s) WHERE a < 0"

    # the divergent regime: () set over empty input
    for grp in ("ROLLUP(a, s)", "CUBE(a, s)",
                "GROUPING SETS ((a), ())", "GROUPING SETS (())"):
        q = f"SELECT COUNT(*) AS c FROM {empty} GROUP BY {grp}"
        srows = spark.sql(q).collect()
        drows = duckdb.sql(q).fetchall()
        assert srows == [], (grp, srows)
        assert len(drows) == 1 and drows[0][0] == 0, (grp, drows)

    # the aligned regimes: global agg on empty, and () sets on
    # non-empty input (grand-total row present on BOTH)
    (sc,) = spark.sql(f"SELECT COUNT(*) FROM {empty}").collect()[0]
    (dc,) = duckdb.sql(f"SELECT COUNT(*) FROM {empty}").fetchone()
    assert sc == dc == 0
    q = ("SELECT a, COUNT(*) AS c, CAST(GROUPING(a) AS INT) AS g "
         "FROM (VALUES (1), (1), (2)) t(a) GROUP BY ROLLUP(a)")
    sset = sorted((tuple(r) for r in spark.sql(q).collect()), key=repr)
    dset = sorted((tuple(r) for r in duckdb.sql(q).fetchall()), key=repr)
    assert sset == dset == sorted(
        [(None, 3, 1), (1, 2, 0), (2, 1, 0)], key=repr
    )

    # HAVING COUNT(*) > 0 closes the seam symmetrically: drops the
    # empty grand-total row on DuckDB, no-ops on Spark and on every
    # non-empty grouping-set row (each aggregates >= 1 input row)
    q = (f"SELECT COUNT(*) AS c FROM {empty} "
         f"GROUP BY ROLLUP(a, s) HAVING COUNT(*) > 0")
    assert spark.sql(q).collect() == [] and duckdb.sql(q).fetchall() == []


def _sf_with_orders(tmp_path, subdir, rows):
    """A fixture sf_dir whose orders.parquet is custom (o_totalprice
    double + o_orderpriority + o_orderdate) and whose other nine
    tables are symlinks to sf0.001 — enough for run_oracle's views."""
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / subdir
    d.mkdir()
    for t in TABLES:
        if t != "orders":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_totalprice": pa.array([r[0] for r in rows], pa.float64()),
                "o_orderpriority": pa.array([r[1] for r in rows], pa.string()),
                "o_orderdate": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }
        ),
        str(d / "orders.parquet"),
    )
    return str(d)


def test_sql_script_loop_boundaries(spark, tmp_path):
    """Forced-boundary differential for the SQL-scripting WHILE loop:
    three engineered cents distributions pin the loop's three exit
    regimes, each attested by a pure-Python replay of the exact
    integer search (thr = sum DIV n; continue while n_above*5 >=
    total AND k < 10) and checked Spark-vs-DuckDB through the
    registered oracle:

    - immediate exit (k_cut=1): 19% of rows above the 1.1x cut;
    - mid-loop exit (k_cut=4): a 155-cent tier that stays above the
      k=3 cut by EXACTLY 16 cents-x10 units and falls below at k=4 —
      the strict-> boundary decides the exit round;
    - exhaustion (k_cut=10): a far tier above every cut while the
      continue-condition holds with EQUALITY (n*5 == total) — the
      >= boundary keeps the loop running to the guard."""
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    day = datetime(1995, 6, 1)

    def walk(cents_list):
        thr = sum(cents_list) // len(cents_list)
        total = len(cents_list)
        k = 1
        n = sum(1 for c in cents_list if c * 10 > (10 + k) * thr)
        while n * 5 >= total and k < 10:
            k += 1
            n = sum(1 for c in cents_list if c * 10 > (10 + k) * thr)
        return k, thr

    fixtures = {
        # 81 x 100c + 19 x 1000c: thr=271, 19/100 above 1.1x -> k=1
        "exit1": [100] * 81 + [1000] * 19,
        # 15 x 100c + 3 x 155c + 2 x 200c: thr=118; 155s above the
        # k=3 cut (1550 > 1534) but not the k=4 cut (1550 < 1652)
        "exit4": [100] * 15 + [155] * 3 + [200] * 2,
        # 16 x 100c + 4 x 1000c: thr=280; n=4, total=20 -> the
        # continue-condition holds with EQUALITY every round
        "exit10": [100] * 16 + [1000] * 4,
    }
    expect_k = {"exit1": 1, "exit4": 4, "exit10": 10}

    for name, cents in fixtures.items():
        k, thr = walk(cents)
        assert k == expect_k[name], f"{name}: fixture drifted (walk k={k})"
        rows = [
            (c / 100.0, "P1" if i % 2 == 0 else "P2", day)
            for i, c in enumerate(cents)
        ]
        sf = _sf_with_orders(tmp_path, name, rows)
        got = all_queries()["sql_script"].build(spark, sf)
        g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
        orows, ocols = run_oracle(oracle_map()["sql_script"], sf)
        o_ms, o_cols = _rows_to_multiset(orows, ocols)
        assert g_cols == o_cols, name
        assert g_ms == o_ms, f"{name}: spark/oracle diverge"
        ks = {r.k_cut for r in got.collect()}
        assert ks <= {expect_k[name]}, f"{name}: k_cut {ks}"
        # attest the survivors are the expected tier rows
        thr_cut = (10 + expect_k[name]) * thr
        n_expect = sum(1 for c in cents if c * 10 > thr_cut)
        assert sum(r.n_orders for r in got.collect()) == n_expect


def test_exec_immediate_bind_boundaries(spark, tmp_path):
    """Forced-boundary differential for EXECUTE IMMEDIATE's bound date
    range [1995-01-01, 1996-01-01): one row exactly ON each bound and
    one just inside each — the inclusive >= keeps the ON-start row,
    the strict < drops the ON-end row; attested row-for-row against
    the registered oracle, and the query must be repeatable in one
    session (DECLARE OR REPLACE of the statement variable)."""
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    rows = [
        (100.0, "P1", datetime(1994, 12, 31, 23, 59, 59)),   # out (before)
        (100.0, "P1", datetime(1995, 1, 1, 0, 0, 0)),        # IN: on start
        (100.0, "P2", datetime(1995, 1, 1, 0, 0, 1)),        # in
        (100.0, "P2", datetime(1995, 12, 31, 23, 59, 59)),   # in: last us-second
        (100.0, "P3", datetime(1996, 1, 1, 0, 0, 0)),        # OUT: on end
        (100.0, "P3", datetime(1996, 1, 1, 0, 0, 1)),        # out (after)
    ]
    sf = _sf_with_orders(tmp_path, "execimm", rows)
    got = all_queries()["exec_immediate"].build(spark, sf)
    per_grp = {r.grp: r.n_orders for r in got.collect()}
    assert per_grp == {"P1": 1, "P2": 2}, per_grp
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["exec_immediate"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert (g_cols, g_ms) == (o_cols, o_ms)
    # repeatability in one session: the statement variable re-declares
    again = all_queries()["exec_immediate"].build(spark, sf)
    a_ms, _ = _rows_to_multiset(again.collect(), again.columns)
    assert a_ms == g_ms


def test_implicit_asc_nulls_ordering_cross_engine_seam(spark, tmp_path):
    """PINNED cross-engine seam (found by the r12 null-frame probe,
    same class as round()/dayofweek/CAST-to-INT/substr-0): implicit
    ASC places NULLs FIRST in Spark but LAST in DuckDB, so ORDER BY a
    nullable key without an explicit NULLS clause silently diverges
    wherever order is load-bearing — ROW_NUMBER assigns different
    ranks and ORDER BY + LIMIT returns DIFFERENT ROWS (wrong data,
    not wrong formatting).  Implicit DESC happens to agree (both
    engines default to NULLS LAST there), as do both explicit
    spellings and any non-null key.

    House rule recorded in tools/fuzz_seams.py: shared SQL that
    orders by a NULLABLE expression must spell NULLS FIRST/LAST
    explicitly (registry audit: every registered oracle's
    order-by/rank key is a non-null TPC-H column or PK, so no driver
    exposure — rankings over NULLIF-injected keys exist only in the
    fuzzer, which emits the explicit clause)."""
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(6), pa.int64()),
                "v": pa.array([5, None, 3, None, 7, 3], pa.int64()),
            }
        ),
        str(tmp_path / "t.parquet"),
    )
    spark.read.parquet(str(tmp_path / "t.parquet")).createOrReplaceTempView(
        "nulls_seam_t"
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nulls_seam_t AS SELECT * FROM '{tmp_path}/t.parquet'")

    def both(sql):
        a = sorted(tuple(r) for r in spark.sql(sql).collect())
        b = sorted(tuple(r) for r in con.execute(sql).fetchall())
        return a, b

    # the divergence: implicit ASC rank — Spark ranks the NULLs 1-2,
    # DuckDB ranks them 5-6
    s, d = both(
        "SELECT k, ROW_NUMBER() OVER (ORDER BY v, k) rn FROM nulls_seam_t"
    )
    assert s != d, "implicit-ASC NULLS seam closed upstream? re-probe"
    assert (1, 1) in s and (1, 5) in d  # first NULL row's rank per engine

    # the divergence returns WRONG ROWS through LIMIT
    s, d = both("SELECT k FROM nulls_seam_t ORDER BY v, k LIMIT 2")
    assert s == [(1,), (3,)] and d == [(2,), (5,)]  # NULL rows vs the 3s

    # aligned regimes: explicit NULLS FIRST/LAST, implicit DESC, and
    # a non-null key — all must agree exactly
    for sql in (
        "SELECT k, ROW_NUMBER() OVER (ORDER BY v ASC NULLS LAST, k) rn "
        "FROM nulls_seam_t",
        "SELECT k, ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST, k) rn "
        "FROM nulls_seam_t",
        "SELECT k, ROW_NUMBER() OVER (ORDER BY v DESC, k) rn FROM nulls_seam_t",
        "SELECT k FROM nulls_seam_t ORDER BY v NULLS LAST, k LIMIT 2",
        "SELECT k, ROW_NUMBER() OVER (ORDER BY k) rn FROM nulls_seam_t",
    ):
        a, b = both(sql)
        assert a == b, sql
    con.close()


def test_concat_null_handling_cross_engine_seam(spark, tmp_path):
    """PINNED cross-engine seam (r12 null-rule probe sweep): Spark's
    concat() NULL-PROPAGATES (any NULL argument -> NULL result, the
    SQL-standard function rule) while DuckDB's concat() SKIPS NULLs
    (treats them as '') — so concat over a nullable argument returns a
    row-level different value.  The `||` operator agrees on
    propagation in BOTH engines, as does COALESCE-wrapped concat, so
    those are the sanctioned shared spellings.

    House rule recorded in tools/fuzz_seams.py design notes: shared
    SQL uses concat() only over provably non-null arguments; a
    null-propagating concat is spelled `||`, a null-skipping one
    coalesces explicitly.  Engine audit: all 14 concat sites operate
    on non-null corpus columns, md5 hex output, or literals — no
    driver exposure.  Probe sweep also attested greatest()/least()
    (both engines SKIP NULLs), `+` (both propagate), repeat()
    (both propagate), and string_agg (both skip) as ALIGNED."""
    pq.write_table(
        pa.table({"s": pa.array(["x", None, "z"], pa.string())}),
        str(tmp_path / "t.parquet"),
    )
    spark.read.parquet(str(tmp_path / "t.parquet")).createOrReplaceTempView(
        "concat_seam_t"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW concat_seam_t AS SELECT * FROM '{tmp_path}/t.parquet'"
    )

    def both(sql):
        a = sorted(r[0] for r in spark.sql(sql).collect() if r[0] is not None)
        an = sum(1 for r in spark.sql(sql).collect() if r[0] is None)
        b = sorted(r[0] for r in con.execute(sql).fetchall() if r[0] is not None)
        bn = sum(1 for r in con.execute(sql).fetchall() if r[0] is None)
        return (a, an), (b, bn)

    # the divergence: NULL row -> NULL in Spark, 'y' in DuckDB
    s, d = both("SELECT concat(s, 'y') FROM concat_seam_t")
    assert s == (["xy", "zy"], 1), s
    assert d == (["xy", "y", "zy"], 0), d

    # aligned spellings must agree exactly
    for sql in (
        "SELECT s || 'y' FROM concat_seam_t",
        "SELECT coalesce(s, '') || 'y' FROM concat_seam_t",
        "SELECT concat(coalesce(s, '<null>'), 'y') FROM concat_seam_t",
    ):
        s, d = both(sql)
        assert s == d, sql
    con.close()


def test_arith_domain_edges_cross_engine_seam(spark):
    """PINNED seam class (r12 arithmetic probe sweep), attested under
    the ENGINE'S config (spark.sql.ansi.enabled=false, session.py):

    - x/0 and x%0: ALIGNED under the engine config — BOTH engines
      return NULL (ANSI-default Spark would raise DIVIDE_BY_ZERO
      instead; probed out-of-config 2026-08-15).  try_divide/try_mod
      agree with both.
    - BIGINT overflow: the DANGEROUS direction — ANSI-off Spark
      WRAPS silently (max+1 -> min) while DuckDB RAISES.  House rule
      (already engine practice, SURVEY §1.2): never rely on raw
      BIGINT arithmetic near the range edge — sums widen to DECIMAL
      on the Spark side and the oracle CASTs DuckDB's HUGEINT back;
      the fuzzer's cents sums are bounded ~2e13 at bench SF, far from
      the 9.2e18 edge.
    - ln(0)/ln(-1): Spark NULL, DuckDB RAISES; sqrt(-1): Spark NaN,
      DuckDB RAISES — same in both ANSI modes.  Shared SQL keeps
      ln/sqrt arguments in-domain (engine audit: every registered
      ratio/log — jaccard, bm25, tfidf, perplexity — has a
      structurally positive argument).
    - % sign: ALIGNED (both truncate toward zero; result sign follows
      the dividend) — attested so the fuzzer may emit % freely."""
    import math as _math

    import pytest as _pytest

    con = duckdb.connect()

    # /0 and %0 aligned as NULL under the engine config
    assert spark.sql("SELECT 1/0").collect()[0][0] is None
    assert con.execute("SELECT 1/0").fetchall() == [(None,)]
    assert spark.sql("SELECT 7%0").collect()[0][0] is None
    assert con.execute("SELECT 7%0").fetchall() == [(None,)]
    assert spark.sql("SELECT try_divide(1, 0)").collect()[0][0] is None
    assert spark.sql("SELECT try_mod(7, 0)").collect()[0][0] is None

    # overflow: Spark WRAPS silently (the hazard), DuckDB raises
    wrapped = spark.sql(
        "SELECT 9223372036854775807 + CAST(1 AS BIGINT)"
    ).collect()[0][0]
    assert wrapped == -9223372036854775808, "ANSI-off wraparound moved?"
    with _pytest.raises(Exception, match="Out of Range"):
        con.execute("SELECT 9223372036854775807 + CAST(1 AS BIGINT)").fetchall()
    # the sanctioned widening keeps the same sum exact on both sides
    assert (
        spark.sql(
            "SELECT CAST(CAST(9223372036854775807 AS DECIMAL(38,0)) + 1 "
            "AS DECIMAL(38,0))"
        ).collect()[0][0]
        == con.execute("SELECT 9223372036854775807 + CAST(1 AS HUGEINT)").fetchall()[0][0]
    )

    # ln/sqrt domains: Spark value, DuckDB raise
    assert spark.sql("SELECT ln(0.0)").collect()[0][0] is None
    assert spark.sql("SELECT ln(-1.0)").collect()[0][0] is None
    assert _math.isnan(spark.sql("SELECT sqrt(-1.0)").collect()[0][0])
    for bad in ("SELECT ln(0.0)", "SELECT ln(-1.0)", "SELECT sqrt(-1.0)"):
        with _pytest.raises(Exception, match="Out of Range"):
            con.execute(bad).fetchall()

    # % sign alignment
    # (spaces matter: DuckDB lexes '%-' as one unknown operator)
    assert (
        tuple(spark.sql("SELECT 10 % 3, -10 % 3, 10 % -3").collect()[0])
        == con.execute("SELECT 10 % 3, -10 % 3, 10 % -3").fetchall()[0]
    )
    con.close()


def test_unicode_case_fold_cross_engine_seam(spark):
    """PINNED seam (r12 probe): full case folding differs — Spark's
    upper('straße') = 'STRASSE' (full fold, ß -> SS, changes LENGTH)
    while DuckDB 1.0 maps ß -> the capital sharp-s 'ẞ'; lower('İ')
    keeps the combining dot in Spark ('i' + U+0307) but folds to bare
    'i' in DuckDB.  Any shared upper/lower over text containing these
    code points diverges in VALUE and possibly LENGTH.

    House rule: shared-SQL case folding is sanctioned on ASCII domains
    only (the stringfunc fuzzer family samples TPC-H ASCII data; the
    collated_join_agg Unicode differential probes É/é which IS aligned
    — simple one-to-one folds agree, the seam is the special-casing
    set).  ASCII alignment attested below."""
    con = duckdb.connect()
    s_up = spark.sql("SELECT upper('straße')").collect()[0][0]
    d_up = con.execute("SELECT upper('straße')").fetchall()[0][0]
    assert s_up == "STRASSE" and d_up == "STRAẞE" and s_up != d_up
    s_lo = spark.sql("SELECT lower('İ')").collect()[0][0]
    d_lo = con.execute("SELECT lower('İ')").fetchall()[0][0]
    assert s_lo == "i̇" and d_lo == "i" and s_lo != d_lo
    # aligned regimes: ASCII and simple one-to-one accent folds
    for lit in ("'MiXeD case 42'", "'ÉCOLE élève'"):
        for fn in ("upper", "lower"):
            a = spark.sql(f"SELECT {fn}({lit})").collect()[0][0]
            b = con.execute(f"SELECT {fn}({lit})").fetchall()[0][0]
            assert a == b, (fn, lit)
    con.close()


def test_string_and_decimal_cast_edges_cross_engine_seam(spark):
    """PINNED seam cluster (r12 cast probe sweep) — string-to-number
    and decimal scale-reduction casts, attested under the engine's
    ANSI-off config:

    - INVALID string casts ('abc'/''->INT, impossible dates): Spark
      returns NULL, DuckDB RAISES — error-vs-NULL class.
    - CAST('1e3' AS INT): Spark NULL (no scientific notation on the
      string->int path), DuckDB 1000 — silent VALUE divergence.
    - CAST('3.7' AS INT): Spark TRUNCATES via the decimal string path
      (3 / -3), DuckDB ROUNDS (4 / -4) — distinct from the pinned
      double->INT seam (there Spark truncates too; the STRING path
      diverges in DuckDB, which rounds).
    - DECIMAL SCALE REDUCTION (CAST(12.5 AS DECIMAL(3,0)), source
      already DECIMAL(3,1)): Spark rounds HALF-UP (13, 12), DuckDB
      TRUNCATES (12, 11) — distinct from the r11-pinned
      double->DECIMAL cast, which is half-up in BOTH engines
      (test_decimal_cast_rounding_cross_engine_invariant).

    House rules: shared SQL never casts arbitrary strings to
    numerics/dates (only canonical integer strings, attested aligned
    incl. surrounding whitespace), and never reduces DECIMAL scale
    via CAST — rounding is spelled explicitly (floor(x*100+0.5)
    cents or round()) where both engines' rules are pinned.  Engine
    audit: registry casts strings to BIGINT only on the DuckDB-side
    hex-md5 twin (valid hex by construction) and widens DECIMAL
    scale, never reduces it."""
    import pytest as _pytest

    con = duckdb.connect()

    for bad in ("CAST('abc' AS INT)", "CAST('' AS INT)",
                "CAST('2026-02-30' AS DATE)"):
        assert spark.sql(f"SELECT {bad}").collect()[0][0] is None, bad
        with _pytest.raises(Exception, match="Conversion Error"):
            con.execute(f"SELECT {bad}").fetchall()

    assert spark.sql("SELECT CAST('1e3' AS INT)").collect()[0][0] is None
    assert con.execute("SELECT CAST('1e3' AS INT)").fetchall() == [(1000,)]

    assert spark.sql(
        "SELECT CAST('3.7' AS INT), CAST('-3.7' AS INT)"
    ).collect()[0][:] == (3, -3)
    assert con.execute(
        "SELECT CAST('3.7' AS INT), CAST('-3.7' AS INT)"
    ).fetchall()[0] == (4, -4)

    from decimal import Decimal

    assert spark.sql(
        "SELECT CAST(12.5 AS DECIMAL(3,0)), CAST(11.5 AS DECIMAL(3,0))"
    ).collect()[0][:] == (Decimal("13"), Decimal("12"))
    assert con.execute(
        "SELECT CAST(12.5 AS DECIMAL(3,0)), CAST(11.5 AS DECIMAL(3,0))"
    ).fetchall()[0] == (Decimal("12"), Decimal("11"))

    # aligned regimes: canonical ints with whitespace, boolean forms,
    # non-padded date parts
    for ok in ("CAST(' 42 ' AS INT)", "CAST('true' AS BOOLEAN)",
               "CAST('T' AS BOOLEAN)", "CAST('1' AS BOOLEAN)",
               "CAST('2026-1-5' AS DATE)"):
        a = spark.sql(f"SELECT {ok}").collect()[0][0]
        b = con.execute(f"SELECT {ok}").fetchall()[0][0]
        assert a == b, ok
    con.close()


def test_date_interval_result_type_cross_engine_seam(spark):
    """PINNED type seam (r12 temporal probe): DATE + INTERVAL n DAY
    returns DATE in Spark but TIMESTAMP in DuckDB — value-equal
    instants that hash DIFFERENTLY through the driver's pandas view
    (date vs datetime render distinctly).  Shared SQL that PROJECTS a
    shifted date must CAST to DATE on both sides (the datefunc fuzzer
    family already casts date_trunc for the same reason; its
    interval-shifted bounds live only inside comparisons, where
    coercion makes the seam unreachable — attested below).

    Probe also recorded (syntax-availability, loud not silent):
    week()/datediff()/months_between() don't exist in one engine or
    the other, and EXTRACT(EPOCH) is DuckDB-only — none can appear in
    shared SQL at all; weekofyear()/EXTRACT(WEEK)/last_day()/
    date_add() are attested aligned."""
    from datetime import date, datetime

    con = duckdb.connect()
    s = spark.sql("SELECT DATE '2026-01-31' + INTERVAL 1 DAY").collect()[0][0]
    d = con.execute("SELECT DATE '2026-01-31' + INTERVAL 1 DAY").fetchall()[0][0]
    assert s == date(2026, 2, 1) and isinstance(s, date)
    assert d == datetime(2026, 2, 1) and isinstance(d, datetime)
    # the sanctioned spelling is value- AND type-aligned
    for sql in (
        "SELECT CAST(DATE '2026-01-31' + INTERVAL 1 DAY AS DATE)",
        # comparison context: coercion hides the seam on both sides
        "SELECT DATE '2026-02-01' <= DATE '2026-01-31' + INTERVAL 1 DAY",
        "SELECT weekofyear(DATE '2026-01-01')",
        "SELECT EXTRACT(WEEK FROM DATE '2026-01-01')",
        "SELECT last_day(DATE '2026-02-10')",
        "SELECT date_add(DATE '2026-01-31', 1)",
    ):
        a = spark.sql(sql).collect()[0][0]
        b = con.execute(sql).fetchall()[0][0]
        assert a == b and type(a) is type(b), sql
    con.close()


def test_degenerate_stat_aggs_cross_engine_aligned(spark):
    """ALIGNMENT pin (r12 probe): the degenerate-group rules of every
    statistical aggregate the registry leans on (stats_agg,
    grouped_ols, percentiles) agree cross-engine TODAY — single-row
    var_samp/stddev_samp/corr/covar_samp -> NULL while the _pop forms
    -> 0.0, zero-variance corr/regr_slope/regr_intercept/regr_r2 ->
    NULL, empty-group SUM/AVG/MIN -> NULL with COUNT -> 0, two-point
    skewness/kurtosis -> NULL.  Pinned so a future Spark or DuckDB
    upgrade that moves ANY of these (e.g. to NaN, the other common
    convention) fails here instead of surfacing as an unexplained
    driver hash-red on a stats query."""
    con = duckdb.connect()
    probes = [
        "WITH t(x, y) AS (VALUES (1.0, 2.0)) "
        "SELECT var_samp(x), stddev_samp(x), var_pop(x), stddev_pop(x), "
        "corr(x, y), covar_samp(x, y), covar_pop(x, y) FROM t",
        "WITH t(x, y) AS (VALUES (1.0, 2.0), (1.0, 3.0)) "
        "SELECT corr(x, y), regr_slope(y, x), regr_intercept(y, x), "
        "regr_r2(y, x), skewness(x), kurtosis(x) FROM t",
        "WITH t(x) AS (SELECT CAST(1.0 AS DOUBLE) WHERE 1=0) "
        "SELECT SUM(x), AVG(x), MIN(x), COUNT(x), COUNT(*) FROM t",
    ]
    for sql in probes:
        a = [tuple(r) for r in spark.sql(sql).collect()]
        b = con.execute(sql).fetchall()
        assert a == b, sql
    # attest the probes hit the degenerate regimes, not trivia: the
    # single-row samp stats ARE NULL and the pop forms ARE 0.0
    row = spark.sql(probes[0]).collect()[0]
    assert row[0] is None and row[2] == 0.0
    con.close()


def _sf_with_part(tmp_path, subdir, rows):
    """A fixture sf_dir whose part.parquet is custom (p_partkey,
    p_retailprice double, p_size int32 + filler name/brand/type) and
    whose other nine tables are symlinks to sf0.001."""
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / subdir
    d.mkdir()
    for t in TABLES:
        if t != "part":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([r[0] for r in rows], pa.int64()),
                "p_name": pa.array([f"part {r[0]}" for r in rows], pa.string()),
                "p_brand": pa.array(["Brand#1"] * len(rows), pa.string()),
                "p_type": pa.array(["STANDARD"] * len(rows), pa.string()),
                "p_size": pa.array([r[2] for r in rows], pa.int32()),
                "p_retailprice": pa.array([r[1] for r in rows], pa.float64()),
            }
        ),
        str(d / "part.parquet"),
    )
    return str(d)


def test_skyline_pareto_dominance_boundaries(spark, tmp_path):
    """Forced-boundary differential for the 2-D skyline's dominance
    edges, attested by a pure-Python quadratic dominance replay (the
    definition) against the engine's sweep formulation (the
    implementation) and checked Spark-vs-DuckDB through the registered
    oracle:

    - EXACT DUPLICATES (same price, same size) are mutually
      non-dominated — BOTH stay on the frontier;
    - same price, smaller size is dominated (strict size);
    - higher price, equal size is dominated (strict price);
    - the cheapest point always survives, however small;
    - domination only by a non-frontier point must still eliminate
      (transitivity: the eliminator's eliminator is on the frontier)."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    # (p_partkey, price, size) — cents = price*100 exactly (x.00 vals)
    rows = [
        (1, 0.90, 5),    # frontier: cheapest
        (2, 1.00, 10),   # frontier
        (3, 1.00, 10),   # exact duplicate of 2: BOTH kept
        (4, 1.00, 9),    # dominated by 2 (same price, strict size)
        (5, 1.50, 10),   # dominated by 2 (strict price, equal size)
        (6, 1.50, 12),   # frontier
        (7, 2.00, 12),   # dominated by 6 (strict price, equal size)
        (8, 2.00, 15),   # frontier
        (9, 2.50, 11),   # dominated by 7, whose OWN dominator is 6 —
                         # transitivity must still eliminate it
    ]
    expected = {1, 2, 3, 6, 8}

    # pure-Python replay of the DEFINITION (quadratic dominance)
    def dominates(p, q):
        return (
            p[1] <= q[1] and p[2] >= q[2]
            and (p[1] < q[1] or p[2] > q[2])
        )

    sky = {
        p[0]
        for p in rows
        if not any(dominates(q, p) for q in rows if q[0] != p[0])
    }
    assert sky == expected, f"fixture drifted: python skyline {sky}"

    sf = _sf_with_part(tmp_path, "skyline", rows)
    got = all_queries()["skyline_pareto"].build(spark, sf)
    keys = sorted(r.p_partkey for r in got.collect())
    assert keys == sorted(expected), keys
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["skyline_pareto"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def _sf_with_events(tmp_path, subdir, rows):
    """A fixture sf_dir whose events.parquet is custom ((event_id,
    ts_us, user_id, value) tuples; microsecond timestamps) and whose
    other nine tables are symlinks to sf0.001."""
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / subdir
    d.mkdir()
    for t in TABLES:
        if t != "events":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def test_time_weighted_avg_duration_boundaries(spark, tmp_path):
    """Forced-boundary differential for the time-weighted average's
    edges, attested by a pure-Python replay of the exact integer walk
    (cents x floor-seconds, floor-divided) and Spark-vs-DuckDB through
    the registered oracle:

    - sub-second spans FLOOR to 0 and contribute no weight;
    - a user whose every span floors to 0 is HAVING'd out entirely
      (the //0-raise vs DIV-0-NULL engine edge never evaluates);
    - a single-event user has no span at all and is absent;
    - each user's LAST event drops from the weighting (lead is NULL);
    - same-microsecond events order by event_id — swapping them
      changes which value carries the following span."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    T = 1_000_000_000_000  # base epoch-us, far post-epoch
    rows = [
        # user 1: mixed spans (1.5s -> 1, 2.5s -> 2); last drops
        (10, T, 1, 2.00),
        (11, T + 1_500_000, 1, 3.00),
        (12, T + 4_000_000, 1, 99.0),
        # user 2: same-microsecond pair (dur 0) then nothing -> all
        # spans zero -> HAVING'd out
        (20, T, 2, 5.00),
        (21, T, 2, 6.00),
        # user 3: single event -> no spans -> absent
        (30, T, 3, 7.00),
        # user 4: all sub-second spans -> floors to 0 -> HAVING'd out
        (40, T, 4, 1.00),
        (41, T + 400_000, 4, 2.00),
        (42, T + 900_000, 4, 3.00),
        # user 5: same-microsecond TIE at the head (event_id breaks
        # it), then a 2s span from the LATER-id event's value
        (50, T, 5, 1.00),
        (51, T, 5, 4.00),
        (52, T + 2_000_000, 5, 9.00),
    ]

    # pure-Python replay of the exact integer walk
    def walk():
        from collections import defaultdict

        by_user = defaultdict(list)
        for eid, ts, uid, v in rows:
            by_user[uid].append((ts, eid, round(v * 100)))
        out = {}
        for uid, evs in by_user.items():
            evs.sort()
            spans = [
                (evs[i][2], (evs[i + 1][0] - evs[i][0]) // 1_000_000)
                for i in range(len(evs) - 1)
            ]
            if not spans:
                continue
            dur = sum(d for _, d in spans)
            if dur <= 0:
                continue
            weighted = sum(c * d for c, d in spans)
            out[uid] = (len(spans), dur, weighted, weighted // dur)
        return out

    expect = walk()
    assert set(expect) == {1, 5}, f"fixture drifted: {expect}"
    assert expect[1] == (2, 3, 200 * 1 + 300 * 2, 800 // 3)
    # user 5: span 1 = (value of event 50) x 0s, span 2 = (value of
    # event 51 — the LATER event_id at the tied microsecond) x 2s
    assert expect[5] == (2, 2, 400 * 2, 400)

    sf = _sf_with_events(tmp_path, "twa", rows)
    got = all_queries()["time_weighted_avg"].build(spark, sf)
    per_user = {
        r.user_id: (r.n_spans, r.total_dur_s, r.weighted_cents_s, r.twa_cents)
        for r in got.collect()
    }
    assert per_user == expect, per_user
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["time_weighted_avg"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_time_weighted_avg_negative_values_regime(spark, tmp_path):
    """r13 ADVICE: twa_cents' docstring claimed exactness rests on
    events.value >= 0, but only prose asserted it.  Two-part closure:

    1. fixture attestation (mirrors the parquet null-count check) —
       every driver events fixture has min(value) >= 0, so the shipped
       corpus never leaves the documented regime;
    2. the assumption is NOT load-bearing anyway: Spark's DIV and
       DuckDB's // BOTH truncate toward zero (probed -7 DIV 2 = -3 in
       both), so a negative weighted sum floor-divides identically —
       forced here with negative cents driving SUM(cents*dur_s) < 0,
       replayed in pure Python with int(a/b)-style truncation and
       hash-compared through the registered oracle."""
    import glob as _glob

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    # (1) fixture attestation via parquet column statistics
    for d in sorted(_glob.glob("/root/testdata/sf0.*")):
        f = os.path.join(d, "events.parquet")
        if not os.path.exists(f):
            continue
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.names.index("value")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            assert st is not None and st.min >= 0, (
                f"{f} rg{rg}: events.value min {st and st.min} < 0 — "
                "the TWA docstring's non-negativity attestation drifted"
            )

    # (2) negative regime forced: user 1's weighted sum is negative
    T = 1_000_000_000_000
    rows = [
        (10, T, 1, -2.00),  # -200 cents held 3s
        (11, T + 3_000_000, 1, -3.00),  # -300 cents held 2s
        (12, T + 5_000_000, 1, 0.0),
        # user 2: mixed signs, positive total
        (20, T, 2, -1.00),  # -100 x 1s
        (21, T + 1_000_000, 2, 5.00),  # 500 x 2s
        (22, T + 3_000_000, 2, 0.0),
    ]

    def trunc_div(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    # user 1: (-200*3 + -300*2) = -1200 over 5s -> trunc(-240) = -240
    # user 2: (-100*1 + 500*2) = 900 over 3s -> 300
    assert trunc_div(-1200, 5) == -240 and trunc_div(-7, 2) == -3
    expect = {1: (2, 5, -1200, -240), 2: (2, 3, 900, 300)}

    sf = _sf_with_events(tmp_path, "twa_neg", rows)
    got = all_queries()["time_weighted_avg"].build(spark, sf)
    per_user = {
        r.user_id: (r.n_spans, r.total_dur_s, r.weighted_cents_s, r.twa_cents)
        for r in got.collect()
    }
    assert per_user == expect, per_user
    assert per_user[1][2] < 0, "fixture drifted: negative regime not forced"
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["time_weighted_avg"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def _sf_with_customer(tmp_path, subdir, rows):
    """A fixture sf_dir whose customer.parquet is custom ((c_custkey,
    c_mktsegment, c_acctbal) tuples) and whose other nine tables are
    symlinks to sf0.001."""
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / subdir
    d.mkdir()
    for t in TABLES:
        if t != "customer":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
                "c_name": pa.array(
                    [f"Customer#{r[0]}" for r in rows], pa.string()
                ),
                "c_nationkey": pa.array([0] * len(rows), pa.int32()),
                "c_acctbal": pa.array([r[2] for r in rows], pa.float64()),
                "c_mktsegment": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        str(d / "customer.parquet"),
    )
    return str(d)


def test_ntile_deciles_bucket_boundaries(spark, tmp_path):
    """Forced-boundary differential for NTILE's bucket rule, attested
    by a pure-Python replay (floor-based bucket formula with the
    remainder on the LEADING buckets) and Spark-vs-DuckDB through the
    registered oracle:

    - 23 rows over 10 buckets -> sizes [3,3,3,2,2,2,2,2,2,2]: the
      remainder lands on the FIRST three buckets on both engines;
    - a run of EQUAL cents straddling a bucket edge: the c_custkey
      tiebreak decides the split deterministically (without it NTILE
      is nondeterministic and the per-bucket sums would flap);
    - a group SMALLER than the bucket count (4 rows): NTILE still
      numbers buckets 1..4 one row each, deciles 5-10 simply absent."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    # segment A: 23 rows; cents = 100*i except a 5-way TIE at 700
    # spanning the bucket-2/3 edge (positions 5..9 in sort order)
    a_cents = sorted([100 * i for i in range(1, 19)] + [700] * 5)
    rows = [(i + 1, "A", c / 100.0) for i, c in enumerate(sorted(a_cents))]
    # segment B: 4 rows, fewer than the 10 buckets
    rows += [(100 + i, "B", 1.00 * i) for i in range(1, 5)]

    def replay():
        from collections import defaultdict

        by_seg = defaultdict(list)
        for k, seg, bal in rows:
            by_seg[seg].append((round(bal * 100), k))
        out = {}
        for seg, vals in by_seg.items():
            vals.sort()
            n = len(vals)
            buckets = defaultdict(list)
            for i, (c, k) in enumerate(vals):
                q, r = divmod(n, 10)
                # leading r buckets take q+1 rows (the SQL NTILE rule)
                edge = r * (q + 1)
                b = (i // (q + 1) + 1) if i < edge else (
                    (i - edge) // q + r + 1 if q else i + 1
                )
                buckets[b].append(c)
            for b, cs in buckets.items():
                out[(seg, b)] = (len(cs), sum(cs), min(cs), max(cs))
        return out

    expect = replay()
    assert expect[("A", 1)][0] == 3 and expect[("A", 4)][0] == 2
    assert len([k for k in expect if k[0] == "B"]) == 4
    # the tie at 700 cents really does straddle buckets
    tied_buckets = {
        b for (seg, b), (_, _, lo, hi) in expect.items()
        if seg == "A" and lo <= 700 <= hi
    }
    assert len(tied_buckets) >= 2, f"fixture drifted: tie within {tied_buckets}"

    sf = _sf_with_customer(tmp_path, "ntile", rows)
    got = all_queries()["ntile_deciles"].build(spark, sf)
    per_bucket = {
        (r.c_mktsegment, r.decile): (r.n_rows, r.sum_cents, r.lo_cents,
                                     r.hi_cents)
        for r in got.collect()
    }
    assert per_bucket == expect, per_bucket
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["ntile_deciles"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_mad_outliers_interpolation_boundaries(spark, tmp_path):
    """Forced-boundary differential for the exact-integer MAD walk,
    attested by a pure-Python replay of the multiply-through algebra
    (med2 = 2 x median of cents, mad4 = 4 x MAD; flag iff
    2*dev2 > 3*mad4) and Spark-vs-DuckDB through the registered
    oracle:

    - a value landing EXACTLY at 3 x MAD is NOT an outlier (strict >)
      while strictly-beyond values ARE;
    - an even-count group interpolates a HALF median (med2 odd) and
      the halving never leaves integers;
    - a majority-constant group has MAD = 0: every deviating value is
      an outlier, every exact-median value is not."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle
    from datetime import datetime

    day = datetime(1995, 6, 1)
    # P1 (odd count 9): median 130, MAD 10 -> the two 100s deviate by
    #   EXACTLY 3 x MAD (2*dev2 60 == 3*mad4 40 boundary, not flagged)
    #   while 220/221 deviate beyond it (flagged)
    p1 = [100, 100, 120, 120, 130, 140, 140, 220, 221]
    # P2 (even count 4): 100, 101, 103, 107 -> median 102 (x.5 never
    #   arises: (101+103)/2) ... choose 100,101,105,107 -> median 103.0
    #   from (101+105)/2; then 100,102,105,107 -> (102+105)/2 = 103.5
    #   -> med2 = 207 ODD (the half-median regime)
    p2 = [100, 102, 105, 107]
    # P3: majority-constant (MAD=0): 200 x4, 201, 250
    p3 = [200, 200, 200, 200, 201, 250]

    def replay(cents_list):
        def q2(xs):  # 2 x interpolated median of ints, exact
            s = sorted(x * 2 for x in xs)
            n = len(s)
            return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) // 2

        med2 = q2(cents_list)
        dev2 = [abs(2 * c - med2) for c in cents_list]
        mad4 = q2(dev2)
        n_out = sum(1 for d in dev2 if 2 * d > 3 * mad4)
        return len(cents_list), n_out, med2, mad4

    exp = {"P1": replay(p1), "P2": replay(p2), "P3": replay(p3)}
    # attest the engineered regimes
    assert exp["P1"][2] == 260  # integer median (130 cents)
    assert exp["P2"][2] == 207, exp["P2"]  # HALF median: med2 odd
    assert exp["P3"][3] == 0  # zero MAD
    assert exp["P3"][1] == 2  # 201 and 250 both deviate from 200
    # P1: med2 260, mad4 40; the two 100s sit EXACTLY on the 3xMAD
    # boundary (2*dev2 = 120 == 3*mad4) and must NOT flag (strict >);
    # 220 and 221 are strictly beyond it and MUST flag
    assert exp["P1"] == (9, 2, 260, 40), exp["P1"]

    rows = [
        (c / 100.0, grp, day)
        for grp, cs in (("P1", p1), ("P2", p2), ("P3", p3))
        for c in cs
    ]
    sf = _sf_with_orders(tmp_path, "mad", rows)
    got = all_queries()["mad_outliers"].build(spark, sf)
    per_grp = {
        r.o_orderpriority: (r.n_orders, r.n_outliers, r.med2, r.mad4)
        for r in got.collect()
    }
    assert per_grp == exp, per_grp
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["mad_outliers"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_date_trunc_result_type_cross_engine_seam(spark):
    """r13 probe find, pinned: date_trunc at DAY-or-coarser
    granularity returns DATE in DuckDB but TIMESTAMP in Spark —
    equal instants, diverging result TYPES (the DATE+INTERVAL seam's
    sibling).  Sub-day parts return TIMESTAMP on both engines.
    House rule: CAST coarse date_trunc results in shared SQL (every
    pre-r13 oracle already did by hand — cohort_retention,
    date_funcs, date_arith, sink_range_cluster; the audit is now
    AUTOMATED as tools/oracle_lint.py rule 4, gate-run with seeded
    negatives in tests/test_oracle_lint.py)."""
    import datetime

    import duckdb

    con = duckdb.connect()
    ts = "TIMESTAMP '2024-01-08 12:34:56'"
    # divergent regime: coarse parts — instants equal, types differ
    for part in ("day", "week", "month", "quarter", "year"):
        sql = f"SELECT date_trunc('{part}', {ts})"
        s = spark.sql(sql).collect()[0][0]
        d = con.execute(sql).fetchone()[0]
        assert isinstance(s, datetime.datetime), (part, s)
        assert type(d) is datetime.date, (part, d)  # noqa: E721
        assert s.date() == d and s.time() == datetime.time(0), (part, s, d)
    # aligned regime 1: sub-day parts are TIMESTAMP on both
    for part in ("hour", "minute"):
        sql = f"SELECT date_trunc('{part}', {ts})"
        s = spark.sql(sql).collect()[0][0]
        d = con.execute(sql).fetchone()[0]
        assert isinstance(s, datetime.datetime) and isinstance(
            d, datetime.datetime
        )
        assert s == d, (part, s, d)
    # aligned regime 2: the sanctioned spelling — CAST the result
    sql = f"SELECT CAST(date_trunc('week', {ts}) AS TIMESTAMP)"
    s = spark.sql(sql).collect()[0][0]
    d = con.execute(sql).fetchone()[0]
    assert s == d == datetime.datetime(2024, 1, 8), (s, d)
    con.close()


def test_null_safe_join_boundaries(spark, tmp_path):
    """Forced-boundary differential for the null-safe join: a fixture
    where the NULL-key populations on BOTH sides are nonempty pins
    that NULL matches NULL exactly once (the dim side is
    pre-aggregated to one NULL row) while plain `=` would have
    dropped those rows entirely; attested by a pure-Python replay of
    the key derivation and Spark-vs-DuckDB through the registered
    oracle."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle
    from datetime import datetime

    day = datetime(1995, 6, 1)
    # orders: o_orderkey = custkey index; custkeys chosen so keys
    # 11, 22 -> NULL (div by 11), others -> custkey % 100
    custkeys = [11, 22, 5, 5, 105, 13, 26, 7]
    rows = [(100.0 + i, "P1", day) for i, _ in enumerate(custkeys)]
    # reuse the orders fixture writer but with custom custkeys: write
    # directly (the _sf_with_orders helper has no custkey knob)
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / "nsj"
    d.mkdir()
    for t in TABLES:
        if t != "orders":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_custkey": pa.array(custkeys, pa.int64()),
                "o_totalprice": pa.array([r[0] for r in rows], pa.float64()),
                "o_orderpriority": pa.array([r[1] for r in rows], pa.string()),
                "o_orderdate": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }
        ),
        str(d / "orders.parquet"),
    )
    sf = str(d)

    def okey(ck):
        return None if ck % 11 == 0 else ck % 100

    # expected: NULL-key orders (custkeys 11, 22) join the ONE
    # pre-aggregated NULL dim row; 5/105 share key 5; 13/26 -> NULL on
    # the DIM side derivation is irrelevant (customer table is the
    # sf0.001 symlink) — replay only the left keys + presence rule
    import duckdb as _dd

    dim_keys = {
        (None if ck % 13 == 0 else ck % 100)
        for (ck,) in _dd.sql(
            "SELECT c_custkey FROM '/root/testdata/sf0.001/customer.parquet'"
        ).fetchall()
    }
    from collections import Counter

    matched = Counter(okey(ck) for ck in custkeys if okey(ck) in dim_keys)
    assert matched[None] == 2, "fixture drifted: NULL-key orders must match"

    got = all_queries()["null_safe_join"].build(spark, sf)
    per_key = {r.k: r.n_orders for r in got.collect()}
    assert per_key.get(None) == 2, per_key
    assert per_key == dict(matched), per_key
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["null_safe_join"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_topk_cumshare_threshold_boundaries(spark, tmp_path):
    """Forced-boundary differential for the 80% cumulative-share cut,
    attested by a pure-Python replay of the exact prefix walk
    (keep iff 5*(run-c) < 4*total) and Spark-vs-DuckDB through the
    registered oracle:

    - a prefix landing EXACTLY on 80% stops the selection (the next
      row's before-coverage satisfies 5*prefix == 4*total, strict <
      fails);
    - ties at the cut boundary resolve by the custkey tiebreak;
    - a NEGATIVE balance in the tail never enters the head;
    - a group where one whale alone exceeds 80% keeps only the whale."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    # segment A: cents 400, 400, 100, 100 (total 1000; prefix after
    # two rows = 800 = EXACTLY 80% -> rows 3+ dropped, n_kept = 2)
    seg_a = [400, 400, 100, 100]
    # segment B: whale 900, then 50, 50 (total 1000) -> whale alone
    seg_b = [900, 50, 50]
    # segment C: 300, 200, -100 (total 400; 80% = 320: keep 300 (0
    # before), keep 200 (300*5=1500 < 320*4=1280? NO -> replay decides)
    seg_c = [300, 200, -100]
    rows = []
    key = 0
    for seg, cs in (("A", seg_a), ("B", seg_b), ("C", seg_c)):
        for c in cs:
            rows.append((key, seg, c / 100.0))
            key += 1

    def replay():
        from collections import defaultdict

        by_seg = defaultdict(list)
        for k, seg, bal in rows:
            by_seg[seg].append((round(bal * 100), k))
        out = {}
        for seg, vals in by_seg.items():
            vals.sort(key=lambda t: (-t[0], t[1]))
            total = sum(c for c, _ in vals)
            run, kept, kept_sum = 0, 0, 0
            for c, _ in vals:
                if 5 * run < 4 * total:
                    kept += 1
                    kept_sum += c
                run += c
            out[seg] = (kept, kept_sum, total)
        return out

    exp = replay()
    assert exp["A"] == (2, 800, 1000), exp  # exact-80% stop
    assert exp["B"] == (1, 900, 1000), exp  # whale alone
    # C attested from the replay (the negative tail never kept: the
    # walk reaches it only after coverage >= 80%)
    assert exp["C"][0] < 3 and exp["C"][1] > 0, exp

    sf = _sf_with_customer(tmp_path, "cumshare", rows)
    got = all_queries()["topk_cumshare"].build(spark, sf)
    per_seg = {
        r.c_mktsegment: (r.n_kept, r.kept_cents, r.total_cents)
        for r in got.collect()
    }
    assert per_seg == exp, per_seg
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["topk_cumshare"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_regex_engine_cross_engine_seam(spark):
    """r13 probe finds, pinned: Spark regexes are java.util.regex,
    DuckDB's are RE2, and THREE constructs diverge SILENTLY (no error
    on either side):

    - lookaround: 'a(?=b)' matches 'a' in Java, EMPTY in RE2;
    - backslash classes: the same SQL text '\\\\d+' reaches Spark as
      the regex \\d+ (its string literal processes the escape) and
      DuckDB as literal backslash-d (its literal does not) — the
      engines receive DIFFERENT patterns, so digits match only in
      Spark;
    - LIKE default escape: Spark treats backslash as the implicit
      LIKE escape, DuckDB has none without an ESCAPE clause.

    Aligned regimes (the house style, machine-enforced as
    tools/oracle_lint.py rules 5-6): bracket classes, plain ^$
    anchors, lazy quantifiers, (?i) flags, and LIKE with explicit
    ESCAPE."""
    import duckdb

    con = duckdb.connect()

    def both(sql):
        return (
            [tuple(r) for r in spark.sql(sql).collect()],
            con.execute(sql).fetchall(),
        )

    # divergent regime 1: lookaround — Java matches, RE2 empty
    s, d = both("SELECT regexp_extract('abc', 'a(?=b)', 0)")
    assert s == [("a",)] and d == [("",)], (s, d)
    # divergent regime 2: backslash class through the string literal
    s, d = both("SELECT regexp_extract('x3y', '\\\\d+', 0)")
    assert s == [("3",)] and d == [("",)], (s, d)
    # divergent regime 3: LIKE backslash without ESCAPE
    s, d = both("SELECT 'a_b' LIKE 'a\\_b'")
    assert s == [(True,)] and d == [(False,)], (s, d)

    # aligned regimes: the sanctioned house spellings
    for sql in (
        "SELECT regexp_extract('x3y', '[0-9]+', 0)",
        "SELECT regexp_extract('k=v', '([a-z]+)=([a-z]+)', 2)",
        "SELECT regexp_extract('aXbXc', 'a.*?X', 0)",
        "SELECT regexp_extract('ABC', '(?i)abc', 0)",
        "SELECT regexp_replace('ab12', '[0-9]+', '#')",
        # portable ESCAPE uses a NON-backslash char: Spark's string
        # literal eats a bare '\' (ESCAPE '\' doesn't even parse)
        "SELECT 'a_b' LIKE 'a!_b' ESCAPE '!'",
        "SELECT 'axb' LIKE 'a!_b' ESCAPE '!'",
    ):
        s, d = both(sql)
        assert s == d, (sql, s, d)
    con.close()


def test_sql_script_negative_cents_regimes(spark, tmp_path):
    """The r13 kmax-histogram rework's domain edges, found by the
    round's self-review: survival over k is a PREFIX range only while
    thr >= 0 (for thr < 0 it flips to an upper range and the
    histogram bucketing would silently miscount).

    - mixed NEGATIVE cents with a POSITIVE mean stay EXACT: d <= 0
      rows land in bucket 0 exactly as the original per-round
      predicate decides (attested against the registered oracle and a
      pure-Python replay of the original walk);
    - a NEGATIVE mean raises assert_true IN the script (fail-loud)
      instead of returning wrong counts."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle
    from datetime import datetime

    day = datetime(1995, 6, 1)

    def walk(cents_list):
        thr = sum(cents_list) // len(cents_list)
        total = len(cents_list)
        k = 1
        n = sum(1 for c in cents_list if c * 10 > (10 + k) * thr)
        while n * 5 >= total and k < 10:
            k += 1
            n = sum(1 for c in cents_list if c * 10 > (10 + k) * thr)
        return k, thr

    # positive mean, negative members: thr = (sum 400) // 8 = 50
    mixed = [-300, -100, 0, 100, 100, 150, 200, 250]
    k, thr = walk(mixed)
    assert thr > 0 and any(c < 0 for c in mixed), "fixture drifted"
    rows = [
        (c / 100.0, "P1" if i % 2 == 0 else "P2", day)
        for i, c in enumerate(mixed)
    ]
    sf = _sf_with_orders(tmp_path, "negmix", rows)
    got = all_queries()["sql_script"].build(spark, sf)
    ks = {r.k_cut for r in got.collect()}
    assert ks <= {k}, (ks, k)
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["sql_script"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms

    # negative mean: the script must RAISE, not miscount
    neg = [-300, -200, -100, 100]
    _, thr_neg = walk(neg)
    assert thr_neg < 0, "fixture drifted: mean must be negative"
    rows = [(c / 100.0, "P1", day) for c in neg]
    sf2 = _sf_with_orders(tmp_path, "negmean", rows)
    with pytest.raises(Exception, match="negative mean cents"):
        all_queries()["sql_script"].build(spark, sf2)


def test_left_right_and_array_agg_null_cross_engine_seam(spark):
    """r13 probe finds, pinned: two more SILENT collection/string
    seams (no error on either side):

    - left/right with a NEGATIVE length: Spark returns '', DuckDB
      drops that many characters from the OTHER end
      (left('hello', -2) = '' vs 'hel');
    - array_agg over NULLs: Spark SKIPS NULL elements, DuckDB KEEPS
      them — different element counts from identical input.

    Aligned regimes (the house rules, machine-enforced as
    tools/oracle_lint.py rules 7-8): non-negative literal lengths,
    and aggregating only null-free expressions."""
    import duckdb

    con = duckdb.connect()

    def both(sql):
        return (
            [tuple(r) for r in spark.sql(sql).collect()],
            con.execute(sql).fetchall(),
        )

    # divergent regime 1: negative length
    s, d = both("SELECT left('hello', -2), right('hello', -2)")
    assert s == [("", "")], s
    assert d == [("hel", "llo")], d
    # divergent regime 2: array_agg keeps-vs-skips NULL
    sql = ("SELECT array_agg(CASE WHEN x > 0 THEN x END) "
           "FROM (VALUES (1), (-1), (2)) t(x)")
    s, d = both(sql)
    assert s == [([1, 2],)], s
    assert d == [([1, None, 2],)], d

    # aligned regimes: the sanctioned house spellings
    for sql in (
        "SELECT left('hello', 3), right('hello', 2)",
        "SELECT left('hi', 10)",  # length > string: full string, both
        "SELECT array_agg(x) FROM (VALUES (1), (2)) t(x)",
        "SELECT array_agg(COALESCE(CASE WHEN x > 0 THEN x END, -1)) "
        "FROM (VALUES (1), (-1)) t(x)",
    ):
        s, d = both(sql)
        assert s == d, (sql, s, d)
    con.close()


def test_histogram_median_bucket_edges(spark, tmp_path):
    """Forced-boundary differential for the fixed-bucket grouped
    median, attested by a pure-Python replay of the exact integer rule
    (bucket = FLOOR(cents / 200000), spelled positive-mod-then-
    trunc-div on both engines; med_bucket = smallest b with
    2*run >= tot) and Spark-vs-DuckDB through the registered oracle:

    - group A pins the EXACT-EQUALITY boundary (2*run == tot at the
      lower bucket -> lower-median convention picks it) AND the bucket
      edge itself (cents exactly k*W land in bucket k, one cent less
      in k-1);
    - group B: odd count — the middle element's bucket wins;
    - group C: a single-bucket group;
    - group D: NEGATIVE cents — floor bucketing (r14 ADVICE fix):
      bucket -1 covers [-200000, -1], bucket -2 covers
      [-400000, -200001]; -50000 cents lands in bucket -1 where
      plain trunc-div would have put it in a zero-straddling bucket 0
      and the reported bracket would NOT have contained it.

    Containment (the r14 ADVICE contract, now sign-independent): for
    EVERY group med_lo_cents <= lower-median element <= med_hi_cents
    — floor buckets make [b*W, (b+1)*W - 1] exact on any domain."""
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    day = datetime(1995, 6, 1)
    W = 200_000

    prices = {
        # (price_dollars, group): cents = floor(p*100 + 0.5)
        "A": [3999.99, 2000.00, 4000.00, 5000.00],  # b: 1,1,2,2
        "B": [1000.00, 6000.00, 6500.00],  # b: 0,3,3
        "C": [100.00, 150.00, 300.00, 900.00, 1999.99],  # all b0
        # floor buckets: -2500.00 -> -2, -500.00 -> -1, 300.00 -> 0,
        # 4100.00 -> 2; median element is -50000 cents (bucket -1)
        "D": [-2500.00, -500.00, 300.00, 4100.00],
        # E: negative bucket EDGES — exactly -W lands in bucket -1
        # (floor(-200000/W) = -1), one cent below in bucket -2
        "E": [-2000.00, -2000.01, -6000.00],
    }

    import math

    def replay():
        out = {}
        for g, ps in prices.items():
            cents = sorted(math.floor(p * 100 + 0.5) for p in ps)
            buckets = {}
            for c in cents:
                b = c // W  # Python // IS floor division
                buckets[b] = buckets.get(b, 0) + 1
            tot = len(cents)
            run = 0
            for b in sorted(buckets):
                run += buckets[b]
                if 2 * run >= tot:
                    med_b = b
                    break
            out[g] = (tot, med_b, med_b * W, (med_b + 1) * W - 1)
            # containment: sign-independent under floor buckets
            low_med = cents[(tot - 1) // 2] if tot % 2 else cents[tot // 2 - 1]
            assert low_med // W == med_b, (g, low_med, med_b)
            assert med_b * W <= low_med <= (med_b + 1) * W - 1, (g, low_med)
        return out

    expect = replay()
    # fixture drift guards: A hits 2*run == tot exactly at bucket 1;
    # D's median element is NEGATIVE and in a negative bucket (the
    # regime the trunc-div bracket silently broke); E pins the exact
    # -W edge (bucket -1) next to -W-1 (bucket -2)
    assert expect["A"][1] == 1 and expect["A"][0] == 4
    assert expect["B"][1] == 3
    assert expect["C"][1] == 0
    assert expect["D"][1] == -1 and min(
        math.floor(p * 100 + 0.5) for p in prices["D"]
    ) < 0
    assert expect["E"][1] == -2
    assert math.floor(-2000.00 * 100 + 0.5) // W == -1  # exact edge
    assert math.floor(-2000.01 * 100 + 0.5) // W == -2  # one cent below

    rows = [(p, g, day) for g, ps in prices.items() for p in ps]
    sf = _sf_with_orders(tmp_path, "histmed", rows)
    got = all_queries()["histogram_median"].build(spark, sf)
    per_group = {
        r.o_orderpriority: (
            r.n_orders,
            r.med_bucket,
            r.med_lo_cents,
            r.med_hi_cents,
        )
        for r in got.collect()
    }
    assert per_group == expect, per_group
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["histogram_median"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_histogram_median_brackets_exact_median_on_fixture(spark):
    """Sketch-quality gate on the real driver fixture: for every
    priority group the EXACT lower-median element (pure-Python over
    the parquet bytes) must lie inside the reported
    [med_lo_cents, med_hi_cents] bucket — the error bound the operator
    exists to provide (<= one bucket width, by construction)."""
    import math

    from dpu_olap_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(
        os.path.join(sf, "orders.parquet"),
        columns=["o_orderpriority", "o_totalprice"],
    )
    groups = {}
    for g, p in zip(
        t.column("o_orderpriority").to_pylist(),
        t.column("o_totalprice").to_pylist(),
    ):
        groups.setdefault(g, []).append(math.floor(p * 100 + 0.5))
    got = {
        r.o_orderpriority: r
        for r in all_queries()["histogram_median"].build(spark, sf).collect()
    }
    assert set(got) == set(groups)
    for g, cents in groups.items():
        cents.sort()
        tot = len(cents)
        low_med = cents[(tot - 1) // 2] if tot % 2 else cents[tot // 2 - 1]
        r = got[g]
        assert r.n_orders == tot
        assert r.med_lo_cents <= low_med <= r.med_hi_cents, (
            g,
            low_med,
            r.med_lo_cents,
            r.med_hi_cents,
        )


def _sf_with_lineitem(tmp_path, subdir, rows):
    """A fixture sf_dir whose lineitem.parquet is custom
    ((l_extendedprice, l_returnflag[, l_quantity, l_linestatus])
    tuples — 2-tuples default quantity 1 / status 'O') and whose
    other nine tables are symlinks to sf0.001 — enough for
    run_oracle's views."""
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / subdir
    d.mkdir()
    for t in TABLES:
        if t != "lineitem":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(range(len(rows)), pa.int64()),
                "l_extendedprice": pa.array([r[0] for r in rows], pa.float64()),
                "l_returnflag": pa.array([r[1] for r in rows], pa.string()),
                "l_quantity": pa.array(
                    [float(r[2]) if len(r) > 2 else 1.0 for r in rows],
                    pa.float64(),
                ),
                "l_linestatus": pa.array(
                    [r[3] if len(r) > 3 else "O" for r in rows], pa.string()
                ),
            }
        ),
        str(d / "lineitem.parquet"),
    )
    return str(d)


def test_histogram_percentile_quartile_edges(spark, tmp_path):
    """Forced-boundary differential for the fixed-bucket grouped
    quartile sketch, attested by a pure-Python replay of the exact
    integer rule (bucket = floor(cents / 100000); pX bucket = smallest
    b whose cumulative count satisfies the cross-multiplied fraction
    test) and Spark-vs-DuckDB through the registered oracle:

    - group A: one element per bucket 0..3, so EVERY threshold lands
      with EXACT EQUALITY (4*run == tot at p25, 2*run == tot at p50,
      4*run == 3*tot at p75) — the >= boundary decides all three;
    - group B: odd count, skewed mass — p25 and p50 share the heavy
      bucket while p75's 4*run >= 3*tot needs the strict next rank
      (4*3 < 15 at run 3, 4*4 >= 15 at rank 4);
    - group C: a single-bucket group (all three quartiles collapse);
    - group D: NEGATIVE cents across four negative/zero buckets —
      floor bucketing keeps the bracket contract sign-independent;
    - group E: n=1 (every rank is 1 — the ceil edge).

    Containment (the operator's error bound): for every group and
    every X in {25, 50, 75}, the EXACT percentile_disc element (rank
    ceil(X*n/100), 1-based) floor-divides into the reported pX bucket,
    and p25_lo_cents <= that element for X=25 /
    element <= p75_hi_cents for X=75."""
    import math

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    W = 100_000

    prices = {
        # (price_dollars, group): cents = floor(p*100 + 0.5)
        "A": [500.00, 1500.00, 2500.00, 3500.00],  # b: 0,1,2,3
        "B": [100.00, 200.00, 300.00, 2500.00, 7500.00],  # b: 0,0,0,2,7
        "C": [400.00, 450.00, 999.99],  # all b0
        "D": [-2500.00, -1500.00, -500.00, 500.00],  # b: -3,-2,-1,0
        "E": [1234.56],
    }

    def replay():
        out = {}
        for g, ps in prices.items():
            cents = sorted(math.floor(p * 100 + 0.5) for p in ps)
            buckets = {}
            for c in cents:
                buckets[c // W] = buckets.get(c // W, 0) + 1
            tot = len(cents)
            pb = {}
            for x, (k, mlt) in {25: (4, 1), 50: (2, 1), 75: (4, 3)}.items():
                run = 0
                for b in sorted(buckets):
                    run += buckets[b]
                    if k * run >= mlt * tot:
                        pb[x] = b
                        break
                # containment vs the exact percentile_disc element
                elem = cents[math.ceil(x * tot / 100) - 1]
                assert elem // W == pb[x], (g, x, elem, pb[x])
            assert pb[25] * W <= cents[math.ceil(25 * tot / 100) - 1]
            assert cents[math.ceil(75 * tot / 100) - 1] <= (pb[75] + 1) * W - 1
            out[g] = (tot, pb[25], pb[50], pb[75], pb[25] * W,
                      (pb[75] + 1) * W - 1)
        return out

    expect = replay()
    # fixture drift guards: A hits exact equality at every threshold
    # (one element per bucket, tot=4); B's p75 needs the strict next
    # rank; D's quartiles are all in negative buckets
    assert expect["A"][1:4] == (0, 1, 2)
    assert expect["B"][1:4] == (0, 0, 2)
    assert expect["C"][1:4] == (0, 0, 0)
    assert expect["D"][1:4] == (-3, -2, -1) and expect["D"][4] == -300000
    assert expect["E"][0] == 1

    rows = [(p, g) for g, ps in prices.items() for p in ps]
    sf = _sf_with_lineitem(tmp_path, "histpctl", rows)
    got = all_queries()["histogram_percentile"].build(spark, sf)
    per_group = {
        r.l_returnflag: (
            r.n_items,
            r.p25_bucket,
            r.p50_bucket,
            r.p75_bucket,
            r.p25_lo_cents,
            r.p75_hi_cents,
        )
        for r in got.collect()
    }
    assert per_group == expect, per_group
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["histogram_percentile"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_exact_median_refine_rank_boundaries(spark, tmp_path):
    """Forced-boundary differential for the two-pass exact grouped
    median (histogram prune -> rank-select), attested by a pure-Python
    replay of the exact rule (med2 = c[k1] + c[k2] over the sorted
    multiset, k1 = (n+1)//2, k2 = n//2 + 1, 1-based — DuckDB's
    median(c*2) interpolation in integers) and Spark-vs-DuckDB
    through the registered oracle:

    - group A: the two middle elements STRADDLE two buckets (b1 != b2
      — the cross-bucket sum path);
    - group B: odd count — one row serves BOTH ranks (med2 = 2*c);
    - group C: TIES at the middle — row_number among equal values is
      arbitrary but the value at the offset is deterministic;
    - group D: the lower middle is the FIRST element of its bucket
      and group E's upper middle is the LAST element of its bucket —
      both (k - run_before) offset edges;
    - group F: negative cents across negative buckets (floor
      bucketing, the r14 ADVICE discipline);
    - groups G/H: n=1 and n=2-in-one-bucket."""
    import math
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    day = datetime(1995, 6, 1)
    W = 200_000

    prices = {
        "A": [1000.00, 1500.00, 2500.00, 3000.00],  # middles b0|b1
        "B": [500.00, 900.00, 4100.00],  # odd: one row, both ranks
        "C": [100.00, 100.00, 100.00, 900.00],  # tied middles
        "D": [1000.00, 1999.99, 2000.00, 2500.00, 9000.00],  # first-of-b1
        "E": [1000.00, 1500.00, 1999.99, 2500.00],  # last-of-b0
        "F": [-4500.00, -2500.00, -500.00, 3500.00],  # negative buckets
        "G": [1234.56],
        "H": [300.00, 700.00],
    }

    def replay():
        out = {}
        for g, ps in prices.items():
            cents = sorted(math.floor(p * 100 + 0.5) for p in ps)
            n = len(cents)
            k1, k2 = (n + 1) // 2, n // 2 + 1
            out[g] = (n, cents[k1 - 1] + cents[k2 - 1])
        return out

    expect = replay()

    def cents_of(g):
        return sorted(
            math.floor(p * 100 + 0.5) for p in prices[g]
        )

    # fixture drift guards: the regimes must actually force
    a = cents_of("A")
    assert a[1] // W != a[2] // W, "A's middles no longer straddle"
    d = cents_of("D")
    mid = d[(5 - 1) // 2]
    before_in_bucket = sum(1 for c in d if c // W == mid // W and c < mid)
    assert before_in_bucket == 0, "D's middle no longer first-of-bucket"
    e = cents_of("E")
    up = e[4 // 2]  # k2 - 1 = 2
    after_in_bucket = sum(1 for c in e if c // W == up // W and c > up)
    assert after_in_bucket == 0, "E's upper middle no longer last-of-bucket"
    assert all(c < 0 for c in cents_of("F")[:3])
    c_mid = cents_of("C")
    assert c_mid[1] == c_mid[2], "C's middles no longer tied"

    rows = [(p, g, day) for g, ps in prices.items() for p in ps]
    sf = _sf_with_orders(tmp_path, "exmed", rows)
    got = all_queries()["exact_median_refine"].build(spark, sf)
    per_group = {
        r.o_orderpriority: (r.n_orders, r.med2_cents)
        for r in got.collect()
    }
    assert per_group == expect, per_group
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["exact_median_refine"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_floor_ceil_sign_result_type_cross_engine_seam(spark):
    """PINNED seam cluster (r15 probe sweep): over DOUBLE input the
    result TYPES diverge silently while the VALUES agree —

    - floor/ceil/ceiling(DOUBLE): Spark returns BIGINT, DuckDB
      DOUBLE — 300 vs 300.0 through the driver's strict value view
      (int vs float never hash-equal);
    - sign(DOUBLE): Spark returns DOUBLE, DuckDB an integer —
      -1.0 vs -1, same class.

    Equal instants, diverging types — exactly the rule-3/rule-4
    pattern (DATE+INTERVAL, coarse date_trunc).  House rule
    (oracle_lint RULE 11, the registry's existing cents discipline
    machine-enforced): every floor/ceil/ceiling/sign in shared SQL
    sits inside a CAST.  Also attested: floor over DECIMAL literals
    is aligned (both engines stay in DECIMAL — the seam is the
    DOUBLE regime), and width_bucket/1-arg trunc are DIALECT-ONLY
    (Spark-only / DuckDB-only respectively: a shared use fails
    loudly, so no house rule needed)."""
    import duckdb

    con = duckdb.connect()

    def both(sql):
        return (
            [tuple(r) for r in spark.sql(sql).collect()][0],
            con.execute(sql).fetchall()[0],
        )

    # divergent regime: types differ, values agree
    sql = (
        "SELECT floor(CAST('3.0' AS DOUBLE) * 100 + 0.5), "
        "ceil(CAST('1.5' AS DOUBLE)), sign(CAST('-2.5' AS DOUBLE))"
    )
    s, d = both(sql)
    assert s == (300, 2, -1.0), s
    assert isinstance(s[0], int) and isinstance(s[1], int), s
    assert isinstance(s[2], float), s
    assert d == (300.0, 2.0, -1), d
    assert isinstance(d[0], float) and isinstance(d[1], float), d
    assert isinstance(d[2], int), d

    # the sanctioned spelling: CAST normalizes both engines
    s, d = both(
        "SELECT CAST(floor(CAST('3.0' AS DOUBLE) * 100 + 0.5) AS BIGINT), "
        "CAST(ceil(CAST('1.5' AS DOUBLE)) AS BIGINT), "
        "CAST(sign(CAST('-2.5' AS DOUBLE)) AS INT)"
    )
    assert s == d == (300, 2, -1), (s, d)

    # aligned regime: DECIMAL input stays DECIMAL on both engines
    s, d = both("SELECT floor(1.5), ceil(1.5)")
    assert [str(x) for x in s] == [str(x) for x in d], (s, d)

    # dialect-only (loud, not silent): Spark has width_bucket, DuckDB
    # does not; DuckDB has 1-arg numeric trunc, Spark's trunc is
    # date-only (2-arg)
    assert spark.sql(
        "SELECT width_bucket(5.0, 0.0, 10.0, 4)"
    ).collect()[0][0] == 3
    try:
        con.execute("SELECT width_bucket(5.0, 0.0, 10.0, 4)")
        raise AssertionError("DuckDB grew width_bucket — drop the note")
    except duckdb.CatalogException:
        pass
    con.close()


def test_weighted_median_boundary_regimes(spark, tmp_path):
    """Forced-boundary differential for the grouped WEIGHTED median
    (histogram accumulates integer unit weight, not row count),
    attested by a pure-Python replay of the exact integer rule
    (bucket = floor(cents / 100000); wmed bucket = smallest b with
    2*cum_weight >= total_weight) and Spark-vs-DuckDB through the
    registered oracle:

    - group A: weight MOVES the median — a qty-10 expensive line
      outweighs two qty-1 cheap lines, so the weighted median bucket
      (2) differs from the unweighted median bucket (1); the drift
      guard asserts the divergence, so the operator is distinguishable
      from histogram_median on this fixture;
    - group B: EXACT EQUALITY 2*runw == totw at the lower bucket —
      the >= boundary picks it (lower weighted median convention);
    - group C: negative cents under weights — floor buckets keep the
      bracket contract sign-independent;
    - group D: a single qty-50 line (n=1, weight 50);
    - group E: a ZERO-weight row — its bucket accumulates nothing, so
      the median lands in the weighted bucket beyond it.

    Containment: the exact weighted lower-median ELEMENT (smallest
    value v with 2*cumweight(v) >= totw, pure Python) floor-divides
    into the reported bucket and lies inside
    [wmed_lo_cents, wmed_hi_cents]."""
    import math

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    W = 100_000

    rows_by_group = {
        # (price_dollars, qty)
        "A": [(500.00, 1), (1500.00, 1), (2500.00, 10)],
        "B": [(500.00, 3), (1500.00, 3)],
        "C": [(-1500.00, 5), (-500.00, 1), (500.00, 2)],
        "D": [(7777.77, 50)],
        "E": [(100.00, 0), (1500.00, 4)],
    }

    def replay():
        out = {}
        for g, pw in rows_by_group.items():
            cw = sorted(
                (math.floor(p * 100 + 0.5), q) for p, q in pw
            )
            totw = sum(q for _, q in cw)
            n = len(cw)
            buckets = {}
            for c, q in cw:
                buckets[c // W] = buckets.get(c // W, 0) + q
            runw = 0
            for b in sorted(buckets):
                runw += buckets[b]
                if 2 * runw >= totw:
                    wmed = b
                    break
            # containment vs the exact weighted lower-median element
            cum = 0
            for c, q in cw:
                cum += q
                if 2 * cum >= totw:
                    elem = c
                    break
            assert elem // W == wmed, (g, elem, wmed)
            assert wmed * W <= elem <= (wmed + 1) * W - 1, (g, elem)
            out[g] = (n, totw, wmed, wmed * W, (wmed + 1) * W - 1)
        return out

    expect = replay()
    # fixture drift guards
    # A: the weighted median bucket must DIFFER from the unweighted one
    a_cents = sorted(
        math.floor(p * 100 + 0.5) for p, _ in rows_by_group["A"]
    )
    unweighted_med_bucket = a_cents[(len(a_cents) - 1) // 2] // W
    assert expect["A"][2] == 2 and unweighted_med_bucket == 1
    # B: exact 2*runw == totw at the winning bucket
    assert expect["B"][2] == 0 and 2 * 3 == expect["B"][1]
    assert expect["C"][2] == -2  # negative weighted-median bucket
    assert expect["D"][0] == 1 and expect["D"][1] == 50
    assert expect["E"][2] == 1  # zero-weight bucket skipped

    rows = [
        (p, "A", q, g) for g, pw in rows_by_group.items() for p, q in pw
    ]
    sf = _sf_with_lineitem(tmp_path, "wmed", rows)
    got = all_queries()["weighted_median"].build(spark, sf)
    per_group = {
        r.l_linestatus: (
            r.n_items,
            r.total_units,
            r.wmed_bucket,
            r.wmed_lo_cents,
            r.wmed_hi_cents,
        )
        for r in got.collect()
    }
    assert per_group == expect, per_group
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["weighted_median"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_histogram_percentile_brackets_exact_on_fixture(spark):
    """Sketch-quality gate on the real driver fixture: for every
    returnflag group each EXACT percentile_disc element (pure-Python
    over the parquet bytes, rank ceil(X*n/100)) must floor-divide into
    the reported pX bucket — the one-bucket-width error bound the
    operator exists to provide."""
    import math

    from dpu_olap_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    W = 100_000
    t = pq.read_table(
        os.path.join(sf, "lineitem.parquet"),
        columns=["l_returnflag", "l_extendedprice"],
    )
    groups = {}
    for g, p in zip(
        t.column("l_returnflag").to_pylist(),
        t.column("l_extendedprice").to_pylist(),
    ):
        groups.setdefault(g, []).append(math.floor(p * 100 + 0.5))
    got = {
        r.l_returnflag: r
        for r in all_queries()["histogram_percentile"]
        .build(spark, sf)
        .collect()
    }
    assert set(got) == set(groups)
    for g, cents in groups.items():
        cents.sort()
        tot = len(cents)
        r = got[g]
        assert r.n_items == tot
        for x, rb in ((25, r.p25_bucket), (50, r.p50_bucket),
                      (75, r.p75_bucket)):
            elem = cents[math.ceil(x * tot / 100) - 1]
            assert elem // W == rb, (g, x, elem, rb)
        assert r.p25_lo_cents <= cents[math.ceil(25 * tot / 100) - 1]
        assert cents[math.ceil(75 * tot / 100) - 1] <= r.p75_hi_cents


def _sf_with_documents(tmp_path, subdir, rows):
    """A fixture sf_dir whose documents.parquet is custom ((doc_id,
    text, lang, source) tuples; n_chars derived) and whose other nine
    tables are symlinks to sf0.001."""
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / subdir
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int64()
                ),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_weighted_sample_acceptance_and_ht_estimator(spark, tmp_path):
    """Forced-edge differential for importance sampling, attested by a
    pure-Python md5 replay of the exact draw (u = int(md5('ws:'||id)
    hex[:15], 16) % 1e6; keep iff u*10 < w*1e6) and Spark-vs-DuckDB
    through the registered oracle:

    - w == w_max (zh, w=10) degenerates to KEEP EVERYTHING (u < 1e6
      always) and its Horvitz-Thompson term is exactly 1e6 per doc, so
      ht_n_ppm == n_docs * 1e6 with zero estimator error;
    - the dominant language (en, w=2) must come out genuinely thinned
      (0 < kept < all — fixture-drift guarded);
    - an UNKNOWN language falls to the default weight (5);
    - inverse weights are truncated integers ((1e7 DIV w); w=9 ->
      1111111), pinned by the replay's // arithmetic."""
    import hashlib

    from dpu_olap_spark.llm.curation import (
        _WS_DEFAULT_W,
        _WS_SCALE,
        _WS_WEIGHTS,
        _WS_WMAX,
    )
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    rows = []
    did = 0
    for lang, n in (("en", 40), ("zh", 6), ("fr", 9), ("xx", 8)):
        for _ in range(n):
            rows.append((did, f"doc {did} text", lang, f"src{did % 3}"))
            did += 1

    def replay():
        agg = {}
        for doc_id, _, lang, _src in rows:
            w = _WS_WEIGHTS.get(lang, _WS_DEFAULT_W)
            u = (
                int(
                    hashlib.md5(f"ws:{doc_id}".encode()).hexdigest()[:15], 16
                )
                % _WS_SCALE
            )
            keep = u * _WS_WMAX < w * _WS_SCALE
            n_docs, n_s, ht = agg.get(lang, (0, 0, 0))
            agg[lang] = (
                n_docs + 1,
                n_s + (1 if keep else 0),
                ht + ((_WS_SCALE * _WS_WMAX) // w if keep else 0),
            )
        return {
            lang: (_WS_WEIGHTS.get(lang, _WS_DEFAULT_W),) + v
            for lang, v in agg.items()
        }

    expect = replay()
    # fixture drift guards
    assert expect["zh"][2] == expect["zh"][1] == 6  # w_max keeps all
    assert expect["zh"][3] == 6 * _WS_SCALE  # exact HT for p=1
    assert 0 < expect["en"][2] < expect["en"][1]  # en genuinely thinned
    assert expect["xx"][0] == _WS_DEFAULT_W  # unknown lang -> default

    sf = _sf_with_documents(tmp_path, "wsample", rows)
    got = all_queries()["weighted_sample"].build(spark, sf)
    per_lang = {
        r.lang: (r.weight, r.n_docs, r.n_sampled, r.ht_n_ppm)
        for r in got.collect()
    }
    assert per_lang == expect, per_lang
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["weighted_sample"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_double_to_bigint_cast_cross_engine_seam(spark):
    """r14 probe find (surfaced while building the medianalg fuzz
    family): double -> integer CAST semantics SILENTLY DIVERGE —
    Spark TRUNCATES toward zero, DuckDB ROUNDS half-to-even — so any
    shared CAST(double AS BIGINT) over a non-integral value returns
    different numbers with no error on either side.  House rule
    (oracle_lint RULE 9): interpolating aggregates reach an integer
    CAST only through the multiply-through disciplines (median -> *2,
    binary-exact percentile fractions -> *4), which make the double
    integral by construction; avg() can never be cast (the /n
    denominator doesn't clear — cross-multiply instead).  Aligned
    regimes attested below; the already-pinned double -> DECIMAL cast
    (half-up in BOTH engines) is a DIFFERENT rule and stays aligned."""
    import duckdb

    con = duckdb.connect()

    def both(sql):
        return (
            [tuple(r) for r in spark.sql(sql).collect()],
            con.execute(sql).fetchall(),
        )

    # divergent regime 1: half-integers (truncate vs round-half-even)
    s, d = both("SELECT CAST(3.5E0 AS BIGINT), CAST(-3.5E0 AS BIGINT)")
    assert s == [(3, -3)], s
    assert d == [(4, -4)], d
    # divergent regime 2: ANY fractional part >= .5, not just halves
    s, d = both("SELECT CAST(2.9E0 AS BIGINT), CAST(-2.9E0 AS BIGINT)")
    assert s == [(2, -2)], s
    assert d == [(3, -3)], d
    # divergent regime 3: the aggregate path — median of (3, 4) is
    # 3.5; a bare CAST silently differs exactly like the literal
    sql = "SELECT CAST(median(x) AS BIGINT) FROM (VALUES (3), (4)) t(x)"
    s, d = both(sql)
    assert s == [(3,)] and d == [(4,)], (s, d)

    # aligned regimes: the sanctioned spellings
    for sql in (
        # multiply-through: median of EVEN ints is an integer
        "SELECT CAST(median(x * 2) AS BIGINT) FROM (VALUES (3), (4)) t(x)",
        # binary-exact fraction cleared by *4
        "SELECT CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY x * 4)"
        " AS BIGINT) FROM (VALUES (1), (2), (3), (10)) t(x)",
        # integral doubles cast identically
        "SELECT CAST(4.0E0 AS BIGINT), CAST(-7.0E0 AS BIGINT)",
        # 2.5 agrees BY ACCIDENT (truncate 2 == round-half-EVEN 2) —
        # pinned so nobody 'proves' alignment from this one value
        "SELECT CAST(2.5E0 AS BIGINT)",
    ):
        s, d = both(sql)
        assert s == d, (sql, s, d)
    con.close()


def test_substr_zero_trim_order_dow_cross_engine_seam(spark):
    """PINNED seam cluster (r14 probe sweep, sweep #2 of the round):

    - substr(s, 0, n): Spark yields n chars from the head ('he' for
      n=2), DuckDB consumes one count unit BEFORE position 1 and
      yields n-1 ('h') — silent value divergence.  House rule
      (oracle_lint RULE 10): shared SQL uses 1-based or negative
      starts only; start 0 is flagged.  substr(s, 0) with NO length
      aligns (both return the whole string) but is flagged anyway —
      adding a length later must not create a silent edge.
    - two-arg ltrim/rtrim: the SAME text parses with SWAPPED argument
      roles — Spark reads ltrim(trimStr, src), DuckDB ltrim(src,
      chars) — so ltrim('xxaxx', 'x') is '' vs 'axx'.  House rule
      (RULE 10): shared SQL spells character-set trims with the ANSI
      form trim(LEADING/TRAILING/BOTH 'x' FROM s), identical on both
      engines; 1-arg whitespace ltrim/rtrim stay legal.
    - extract(dow)/dayofweek(): Spark numbers Sunday=1 (1-7), DuckDB
      Sunday=0 (0-6) — silent off-by-one.  Not linted: the pair is
      never shared verbatim; the registry's one use deliberately
      compensates (date_funcs builder computes F.dayofweek(d) - 1
      against the DuckDB oracle's dayofweek, functions_ext.py:178) —
      that compensation contract is attested here."""
    import duckdb

    con = duckdb.connect()

    def both(sql):
        return (
            [tuple(r) for r in spark.sql(sql).collect()],
            con.execute(sql).fetchall(),
        )

    # divergent regime 1: substr start 0 with a length
    s, d = both("SELECT substr('hello', 0, 3), substr('hello', 0, 2)")
    assert s == [("hel", "he")], s
    assert d == [("he", "h")], d
    # divergent regime 2: two-arg ltrim/rtrim argument order
    s, d = both("SELECT ltrim('xxaxx', 'x'), rtrim('xxaxx', 'x')")
    assert s == [("", "")], s  # Spark: trim chars 'xxaxx' FROM 'x'
    assert d == [("axx", "xxa")], d
    # divergent regime 3: dow indexing (1995-06-04 is a Sunday)
    s, d = both("SELECT dayofweek(TIMESTAMP '1995-06-04 00:00:00')")
    assert s == [(1,)] and d == [(0,)], (s, d)
    s, d = both(
        "SELECT extract(dow FROM TIMESTAMP '1995-06-04 00:00:00')"
    )
    assert s == [(1,)] and d == [(0,)], (s, d)
    # ...and the registry's compensation contract: Spark dayofweek - 1
    # equals DuckDB dayofweek for every day of one week
    for day in range(4, 11):  # 1995-06-04 .. 06-10
        ts = f"TIMESTAMP '1995-06-{day:02d} 00:00:00'"
        a = spark.sql(f"SELECT dayofweek({ts}) - 1").collect()[0][0]
        b = con.execute(f"SELECT dayofweek({ts})").fetchall()[0][0]
        assert a == b, (day, a, b)

    # aligned regimes: the sanctioned spellings
    for sql in (
        "SELECT trim(LEADING 'x' FROM 'xxaxx'), "
        "trim(TRAILING 'x' FROM 'xxaxx'), trim(BOTH 'x' FROM 'xxaxx')",
        "SELECT ltrim('  a  '), rtrim('  a  ')",  # 1-arg whitespace
        "SELECT substr('hello', 1, 3), substr('hello', -2), "
        "substr('hello', -10, 3), substr('hello', 2)",
    ):
        s, d = both(sql)
        assert s == d, (sql, s, d)
    con.close()


def test_exact_quartiles_refine_rank_boundaries(spark, tmp_path):
    """Forced-boundary differential for the two-pass exact grouped
    quartiles (histogram prune -> rank-select at ceil(n/4) and
    ceil(3n/4)), attested by a pure-Python replay of percentile_disc
    (q_p = sorted[ceil(p*n) - 1], 1-based) and Spark-vs-DuckDB
    through the registered oracle:

    - group A: q25 and q75 in DIFFERENT buckets (the two-target
      prune path);
    - group B: BOTH quartiles inside ONE bucket (b25 == b75 — the
      two hit-predicates select two rows of the same pruned bucket);
    - group C: n=1 — k25 == k75 == 1, one row serves both ranks and
      iqr == 0;
    - group D: TIES at both quartile ranks (row_number among equal
      values is arbitrary but the value at the rank is
      deterministic);
    - group E: negative cents across negative buckets (floor
      bucketing);
    - group F: q25 is the FIRST element of its bucket and q75 the
      LAST of the same bucket — both (k - run_before) offset edges."""
    import math
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    day = datetime(1995, 6, 1)
    W = 200_000

    prices = {
        "A": [1000.00, 1500.00, 2500.00, 3000.00,
              4100.00, 4500.00, 6100.00, 7000.00],
        "B": [100.00, 200.00, 300.00, 400.00],
        "C": [1234.56],
        "D": [500.00, 500.00, 500.00, 900.00, 900.00],
        "E": [-4500.00, -2500.00, -500.00, 3500.00],
        "F": [1000.00, 2000.00, 2500.00, 3000.00, 9000.00],
    }

    def replay():
        out = {}
        for g, ps in prices.items():
            cents = sorted(math.floor(p * 100 + 0.5) for p in ps)
            n = len(cents)
            k25, k75 = (n + 3) // 4, (3 * n + 3) // 4
            q25, q75 = cents[k25 - 1], cents[k75 - 1]
            out[g] = (n, q25, q75, q75 - q25)
        return out

    expect = replay()

    def cents_of(g):
        return sorted(math.floor(p * 100 + 0.5) for p in prices[g])

    def fbucket(c):
        return (c - (((c % W) + W) % W)) // W

    # fixture drift guards: the regimes must actually force
    a = cents_of("A")
    assert fbucket(a[1]) != fbucket(a[5]), "A's quartiles share a bucket"
    b = cents_of("B")
    assert fbucket(b[0]) == fbucket(b[2]), "B's quartiles left the bucket"
    d = cents_of("D")
    assert d[0] == d[1] and d[3] == d[4], "D's rank ties are gone"
    e = cents_of("E")
    assert fbucket(e[0]) < 0 and fbucket(e[2]) < 0, "E's buckets not negative"
    f = cents_of("F")
    q25f, q75f = f[1], f[3]
    assert fbucket(q25f) == fbucket(q75f), "F's quartiles left the bucket"
    in_bucket = [c for c in f if fbucket(c) == fbucket(q25f)]
    assert in_bucket[0] == q25f and in_bucket[-1] == q75f, (
        "F's first/last-of-bucket edges are gone"
    )

    rows = [(p, g, day) for g, ps in prices.items() for p in ps]
    sf = _sf_with_orders(tmp_path, "exquart", rows)
    got = all_queries()["exact_quartiles_refine"].build(spark, sf)
    per_group = {
        r.o_orderpriority: (r.n_orders, r.q25_cents, r.q75_cents,
                            r.iqr_cents)
        for r in got.collect()
    }
    assert per_group == expect, per_group
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["exact_quartiles_refine"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_group_mode_tie_break_and_null_regimes(spark, tmp_path):
    """Forced-edge differential for the exact grouped mode, attested
    by a pure-Python replay of the pinned tie-break (count DESC, then
    value ASC) and Spark-vs-DuckDB through the registered oracle:

    - source "tie": de and fr tie at 2 — the lexicographically
      SMALLER lang (de) wins on both engines (the built-in mode()
      functions leave this unspecified, which is why both sides
      spell the window);
    - source "nulls": NULL langs are excluded BEFORE counting — the
      group survives with n_docs = 2 (not 5) and the en/es tie goes
      to en;
    - source "allnull": every lang NULL — the source vanishes from
      the output entirely on both engines;
    - source "solo": a single document — share exactly 1,000,000 ppm;
    - source "dom": a strict majority — share 750,000 ppm
      (truncating non-negative division, floor-equal on both)."""
    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    docs = [
        ("tie", ["de", "de", "fr", "fr", "zh"]),
        ("nulls", [None, None, None, "en", "es"]),
        ("allnull", [None, None]),
        ("solo", ["ja"]),
        ("dom", ["en", "en", "en", "fr"]),
    ]
    rows = []
    i = 0
    for source, langs in docs:
        for lang in langs:
            rows.append((i, f"doc {i}", lang, source))
            i += 1

    def replay():
        out = {}
        for source, langs in docs:
            kept = [x for x in langs if x is not None]
            if not kept:
                continue
            counts = {}
            for x in kept:
                counts[x] = counts.get(x, 0) + 1
            tot = len(kept)
            mode_lang = min(counts, key=lambda x: (-counts[x], x))
            cnt = counts[mode_lang]
            out[source] = (tot, mode_lang, cnt, (1_000_000 * cnt) // tot)
        return out

    expect = replay()
    assert "allnull" not in expect and expect["tie"][1] == "de"
    assert expect["nulls"] == (2, "en", 1, 500_000)

    sf = _sf_with_documents(tmp_path, "gmode", rows)
    got = all_queries()["group_mode"].build(spark, sf)
    per_group = {
        r.source: (r.n_docs, r.mode_lang, r.mode_cnt, r.mode_share_ppm)
        for r in got.collect()
    }
    assert per_group == expect, per_group
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["group_mode"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def _sf_with_typed_events(tmp_path, subdir, rows):
    """A fixture sf_dir whose events.parquet is custom ((event_id,
    ts, event_type) tuples; microsecond timestamps) and whose other
    nine tables are symlinks to sf0.001."""
    from dpu_olap_spark.sources.tables import TABLES

    d = tmp_path / subdir
    d.mkdir()
    for t in TABLES:
        if t != "events":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array([r[2] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def test_heavy_hitters_threshold_boundaries(spark, tmp_path):
    """Forced-boundary differential for the exact >1/5 heavy hitters,
    attested by a pure-Python replay of the strict integer threshold
    (5*cnt > tot) and Spark-vs-DuckDB through the registered oracle:

    - day 1: an EXACT five-way tie (2 each of 10) — 5*2 == 10 is not
      strictly greater, so the whole day vanishes (the one regime
      where no type qualifies);
    - day 2: one dominant type (6 of 10) — exactly one survivor at
      600,000 ppm;
    - day 3: the boundary pair — 2 of 10 sits exactly AT 1/5 and is
      excluded, while 3 of 10 and 5 of 10 pass (strictness forced on
      both sides of the line);
    - day 4: a single event — its type passes trivially at
      1,000,000 ppm;
    - timestamps carry time-of-day — date_trunc('day') must collapse
      them into one group per day on both engines."""
    from datetime import datetime

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    def day_events(day, spec):
        """spec: {event_type: count}; spread time-of-day."""
        out = []
        h = 0
        for etype, cnt in sorted(spec.items()):
            for j in range(cnt):
                out.append((datetime(2024, 1, day, h % 24, j % 60, 13),
                            etype))
                h += 5
        return out

    days = {
        1: {"click": 2, "view": 2, "error": 2, "signup": 2, "purchase": 2},
        2: {"click": 6, "view": 1, "error": 1, "signup": 1, "purchase": 1},
        3: {"click": 2, "view": 3, "error": 5},
        4: {"signup": 1},
    }
    rows = []
    i = 0
    for day, spec in days.items():
        for ts, etype in day_events(day, spec):
            rows.append((i, ts, etype))
            i += 1

    def replay():
        out = set()
        for day, spec in days.items():
            tot = sum(spec.values())
            for etype, cnt in spec.items():
                if 5 * cnt > tot:
                    out.add((datetime(2024, 1, day), etype, cnt, tot,
                             (1_000_000 * cnt) // tot))
        return out

    expect = replay()
    assert not any(r[0].day == 1 for r in expect), "the tied day leaked"
    assert sum(1 for r in expect if r[0].day == 2) == 1
    d3 = {r[1]: r[4] for r in expect if r[0].day == 3}
    assert d3 == {"view": 300_000, "error": 500_000}, d3
    assert (datetime(2024, 1, 4), "signup", 1, 1, 1_000_000) in expect

    sf = _sf_with_typed_events(tmp_path, "hhits", rows)
    got = all_queries()["heavy_hitters"].build(spark, sf)
    got_set = {
        (r.day, r.event_type, r.cnt, r.day_total, r.share_ppm)
        for r in got.collect()
    }
    assert got_set == expect, got_set
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["heavy_hitters"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_exact_weighted_median_crossing_boundaries(spark, tmp_path):
    """Forced-boundary differential for the exact weighted median
    (weighted histogram prune -> per-row weight walk), attested by a
    pure-Python replay of the exact rule (smallest value c with
    2*cumweight(<=c) >= total_weight) and Spark-vs-DuckDB through the
    registered oracle:

    - group A: a HEAVY first value drags the weighted median below
      the unweighted one (the weight-matters regime, asserted);
    - group B: a ZERO-weight value sits immediately before the
      crossing — it adds nothing and must not be selected;
    - group C: ALL weights zero — degenerates to the smallest value
      (2*0 >= 0) on both engines;
    - group D: the crossing value is SPLIT across tied rows — the
      per-row walk's intra-tie order is arbitrary but the selected
      VALUE is not (the tie-safety argument in the docstring);
    - group E: the target bucket is NOT the first bucket (wb > 0 —
      the broadcast weight_before offset path);
    - group F: negative cents across negative buckets;
    - group G: a single row;
    - group H: all the weight concentrated on the LAST value."""
    import math

    from dpu_olap_spark.registry import all_queries, oracle_map
    from tests.oracle import _rows_to_multiset, run_oracle

    data = {
        "A": [(1.00, 10), (2.00, 1), (3.00, 1), (4.00, 1)],
        "B": [(1.00, 2), (1.50, 0), (2.00, 2)],
        "C": [(5.00, 0), (6.00, 0), (7.00, 0)],
        "D": [(1.00, 1), (1.00, 1), (2.00, 1), (3.00, 1)],
        "E": [(500.00, 1), (1500.00, 1), (2500.00, 1)],
        "F": [(-45.00, 3), (-25.00, 2), (-5.00, 1), (35.00, 1)],
        "G": [(12.34, 7)],
        "H": [(1.00, 1), (2.00, 1), (3.00, 10)],
    }

    def replay():
        out = {}
        for g, rows in data.items():
            vw = sorted(
                (math.floor(p * 100 + 0.5), w) for p, w in rows
            )
            totw = sum(w for _, w in vw)
            cum = 0
            wmed = None
            for c, w in vw:
                cum += w
                if 2 * cum >= totw:
                    wmed = c
                    break
            out[g] = (len(rows), totw, wmed)
        return out

    expect = replay()
    # fixture drift guards
    assert expect["A"][2] == 100, "A's heavy head no longer wins"
    a_vals = sorted(math.floor(p * 100 + 0.5) for p, _ in data["A"])
    assert expect["A"][2] < a_vals[len(a_vals) // 2], (
        "A no longer distinguishes weighted from unweighted"
    )
    assert expect["B"][2] == 100 and data["B"][1][1] == 0
    assert expect["C"][2] == 500, "C's all-zero degenerate moved"
    assert expect["D"][2] == 100, "D's split tie no longer crosses"
    W = 100_000
    e_med = expect["E"][2]
    e_wb = sum(
        w for p, w in data["E"]
        if math.floor(p * 100 + 0.5) // W < e_med // W
    )
    assert e_wb > 0, "E's target bucket became the first bucket"
    assert expect["F"][2] < 0
    assert expect["H"][2] == 300, "H's tail weight no longer wins"

    rows = [
        (p, "A", w, g) for g, pairs in data.items() for p, w in pairs
    ]
    sf = _sf_with_lineitem(tmp_path, "exwmed", rows)
    got = all_queries()["exact_weighted_median"].build(spark, sf)
    per_group = {
        r.l_linestatus: (r.n_items, r.total_units, r.wmed_cents)
        for r in got.collect()
    }
    assert per_group == expect, per_group
    g_ms, g_cols = _rows_to_multiset(got.collect(), got.columns)
    orows, ocols = run_oracle(oracle_map()["exact_weighted_median"], sf)
    o_ms, o_cols = _rows_to_multiset(orows, ocols)
    assert g_cols == o_cols and g_ms == o_ms


def test_max_by_min_by_cross_engine_seam(spark):
    """PINNED seam cluster (r15 second-wave probe): max_by/min_by
    exist on BOTH engines with the same signature and silently
    disagree on both determinism axes —

    - TIED ordering keys: the kept row is unspecified; in practice
      Spark returns the later-arriving 'b' and DuckDB the earlier
      'a' on the identical two-row VALUES input;
    - NULL value at the winning key: Spark max_by keeps the max-key
      row and returns its NULL value, DuckDB's max_by/arg_max SKIPS
      null-valued rows and returns the runner-up — a semantic
      divergence, not tie luck.

    Attested ALIGNED: NULL ordering keys are skipped by both (the
    non-null key's row wins), and an all-NULL-key input returns NULL
    on both.  Attested DIALECT-ONLY (fails loudly, no house rule
    needed): arg_max/arg_min names (DuckDB-only) and the 3-arg top-k
    form (neither engine here).  House rule (oracle_lint RULE 12):
    the family is banned in shared SQL — spell an explicit window
    rank with a full tie-break (the group_mode pattern)."""
    import duckdb

    con = duckdb.connect()

    tie = "SELECT max_by(x, y) AS r FROM (VALUES ('a', 1), ('b', 1)) t(x, y)"
    s_tie = spark.sql(tie).collect()[0][0]
    d_tie = con.execute(tie).fetchone()[0]
    assert s_tie == "b" and d_tie == "a", (
        "the tie regime moved — re-derive RULE 12's rationale: "
        f"spark={s_tie!r} duck={d_tie!r}"
    )

    nullval = (
        "SELECT max_by(x, y) AS r "
        "FROM (VALUES (NULL, 2), ('a', 1)) t(x, y)"
    )
    s_nv = spark.sql(nullval).collect()[0][0]
    d_nv = con.execute(nullval).fetchone()[0]
    assert s_nv is None and d_nv == "a", (
        "the NULL-value regime moved — re-derive RULE 12: "
        f"spark={s_nv!r} duck={d_nv!r}"
    )

    # aligned regimes — these NOT diverging is what keeps the rule
    # scoped to the family instead of to every extremum aggregate
    nullkey = (
        "SELECT max_by(x, y) AS r "
        "FROM (VALUES ('a', 1), ('b', NULL)) t(x, y)"
    )
    assert spark.sql(nullkey).collect()[0][0] == "a"
    assert con.execute(nullkey).fetchone()[0] == "a"
    allnull = (
        "SELECT max_by(x, y) AS r "
        "FROM (VALUES ('a', NULL), ('b', NULL)) t(x, y)"
    )
    assert spark.sql(allnull).collect()[0][0] is None
    assert con.execute(allnull).fetchone()[0] is None

    # dialect-only forms fail LOUDLY — no silent seam to lint
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.sql("SELECT arg_max(x, y) FROM (VALUES ('a', 1)) t(x, y)").collect()
    with _pytest.raises(Exception):
        con.execute("SELECT max_by(x, y, 2) FROM (VALUES ('a', 1)) t(x, y)")

    # the sanctioned spelling agrees bit-for-bit on the tie input
    ranked = (
        "SELECT x AS r FROM (SELECT x, ROW_NUMBER() OVER "
        "(ORDER BY y DESC, x ASC) AS rn "
        "FROM (VALUES ('a', 1), ('b', 1)) t(x, y)) s WHERE rn = 1"
    )
    assert spark.sql(ranked).collect()[0][0] == "a"
    assert con.execute(ranked).fetchone()[0] == "a"


def test_lateral_scalar_aggregate_empty_slice_cross_engine_seam(spark):
    """PINNED seam (r15 latwin-nested2 build, seed 110004): a
    comma/CROSS LATERAL whose body is an UNGROUPED aggregate over the
    correlated slice silently disagrees on EMPTY slices —

    - Spark emits the SQL-standard mandatory aggregate row per outer
      (MAX -> NULL, COUNT -> 0), keeping every outer row;
    - DuckDB's decorrelation rewrites the lateral to a grouped join
      and PRUNES outers whose slice is empty — whole rows vanish
      from one engine only (rows=15000 vs 12981 in the fuzz find).

    Also attested here:
    - the derived-table wrap does NOT reliably align (it diverges on
      plain relations; the aggwin fuzz shape stays aligned only
      because its WINDOW function blocks DuckDB's rewrite);
    - nesting the aggregate lateral inside another lateral diverges
      the same way;
    - the SANCTIONED spelling — LEFT JOIN LATERAL ... ON true with
      COALESCE on COUNT-like reads — matches bit-for-bit at both
      flat and nested depth (house rule, oracle_lint RULE 13).

    Self-contained VALUES inputs; slice k=2 (flat) / k=1 (nested) is
    forced empty."""
    import duckdb

    con = duckdb.connect()

    def both(q):
        s = sorted([tuple(r) for r in spark.sql(q).collect()], key=repr)
        d = sorted(con.execute(q).fetchall(), key=repr)
        return s, d

    flat = (
        "SELECT n.k, t.mx FROM (VALUES (1), (2)) n(k), LATERAL ("
        "SELECT MAX(c.v) AS mx FROM (VALUES (1, 10), (1, 20)) c(k2, v) "
        "WHERE c.k2 = n.k) t"
    )
    s, d = both(flat)
    assert s == [(1, 20), (2, None)], f"Spark dropped the standard row: {s}"
    assert d == [(1, 20)], (
        "DuckDB stopped pruning empty slices — re-derive RULE 13's "
        f"rationale: {d}"
    )

    derived = (
        "SELECT n.k, t.mx FROM (VALUES (1), (2)) n(k), LATERAL ("
        "SELECT MAX(s.v) AS mx FROM ("
        "SELECT c.v AS v FROM (VALUES (1, 10), (1, 20)) c(k2, v) "
        "WHERE c.k2 = n.k) s) t"
    )
    s, d = both(derived)
    assert s == [(1, 20), (2, None)] and d == [(1, 20)], (
        "the derived-table wrap alignment changed — revisit whether "
        f"RULE 13 may sanction it: spark={s} duck={d}"
    )

    nested = (
        "SELECT n.k, t.m2, t.mx FROM (VALUES (1), (2)) n(k), LATERAL ("
        "SELECT m.k3 AS m2, u.mx FROM (VALUES (1), (2)) m(k3), LATERAL ("
        "SELECT MAX(c.v) AS mx FROM (VALUES (1, 10), (2, 20)) c(k2, v) "
        "WHERE c.k2 = m.k3 AND c.v > 15) u "
        "WHERE m.k3 = n.k) t"
    )
    s, d = both(nested)
    assert s == [(1, 1, None), (2, 2, 20)] and d == [(2, 2, 20)], (
        f"the nested regime moved: spark={s} duck={d}"
    )

    # the sanctioned spelling agrees at depth, for MAX and for COUNT
    for agg, empty_val in (("MAX(c.v)", 0), ("COUNT(*)", 0)):
        sanctioned = (
            "SELECT n.k, t.m2, t.mx0 FROM (VALUES (1), (2)) n(k), "
            "LATERAL ("
            "SELECT m.k3 AS m2, COALESCE(u.mx, 0) AS mx0 "
            "FROM (VALUES (1), (2)) m(k3) LEFT JOIN LATERAL ("
            f"SELECT {agg} AS mx FROM (VALUES (1, 10), (2, 20)) c(k2, v) "
            "WHERE c.k2 = m.k3 AND c.v > 15) u ON true "
            "WHERE m.k3 = n.k) t"
        )
        s, d = both(sanctioned)
        assert s == d and (1, 1, empty_val) in s, (
            f"sanctioned spelling diverged for {agg}: spark={s} duck={d}"
        )


def test_refine_pipeline_null_group_key_vs_direct_group_by(spark):
    """PINNED (r16 exactrefine campaign, seeds 128002/128016/128047 —
    caught mid-build by the asymmetric fuzz pair): NOT a cross-engine
    seam — each spelling agrees across engines — but a
    pipeline-vs-intent hazard unique to two-pass refine operators:

    - a direct GROUP BY keeps the NULL group (BOTH engines emit a
      row for g IS NULL);
    - the refine pipeline's pass-2 re-join on the group key is an
      EQUI-join, so the NULL group silently vanishes from the final
      result (BOTH engines — NULL never equals NULL);

    so an oracle pairing the pipeline against a direct grouped
    quantile diverges by exactly the NULL group.  House rule (wired
    into _gen_exactrefine's g_filter): a NULLIF'd or nullable group
    key is excluded with an explicit IS NOT NULL on BOTH sides;
    registered refine operators group on non-null columns only."""
    import duckdb

    con = duckdb.connect()

    def both(q):
        s = sorted([tuple(r) for r in spark.sql(q).collect()], key=repr)
        d = sorted(con.execute(q).fetchall(), key=repr)
        return s, d

    vals = "(VALUES ('a', 1), ('a', 3), (NULL, 5), (NULL, 7)) t(g, c)"
    direct = f"SELECT g, MIN(c) AS lo FROM {vals} GROUP BY g"
    s, d = both(direct)
    assert s == d and len(s) == 2 and (None, 5) in s, (
        f"direct GROUP BY must keep the NULL group on both: {s} {d}"
    )
    # the pipeline shape: aggregate, then re-join the source on g
    pipeline = (
        f"SELECT f.g, MIN(f.c) AS lo FROM {vals.replace('t(', 'f(')} "
        f"JOIN (SELECT g FROM {vals} GROUP BY g) x ON f.g = x.g "
        f"GROUP BY f.g"
    )
    s, d = both(pipeline)
    assert s == d and len(s) == 1 and all(r[0] is not None for r in s), (
        f"the equi-join must drop the NULL group on both: {s} {d}"
    )
    # sanctioned: exclude NULL groups explicitly on both sides — the
    # filtered direct form then matches the pipeline exactly
    for q in (direct + " HAVING g IS NOT NULL",
              pipeline):
        s, d = both(q)
        assert s == d and s == [("a", 1)], (q, s, d)
