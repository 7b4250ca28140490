"""Stay-point (dwell) detection vs a pure-Python run-collapse oracle,
plus the one-shuffle plan contract."""

import datetime as dt

import numpy as np
from pyspark.sql import functions as F


def _mkts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=int(s))


def _oracle(rows, cs, min_pts, min_dwell_s):
    """rows: (user, ts_s, event_id, lat, lon) — collapse consecutive
    same-cell runs per user in (ts, event_id) order."""
    out = []
    by_user = {}
    for u, ts, eid, la, lo in rows:
        by_user.setdefault(u, []).append((ts, eid, la, lo))
    for u, pts in by_user.items():
        pts.sort()
        run = []
        for ts, eid, la, lo in pts:
            c = (lo // cs, la // cs)
            if run and run[-1][0] == c:
                run.append((c, ts))
            else:
                if run:
                    out.append((u, run[0][0], [t for _, t in run]))
                run = [(c, ts)]
        if run:
            out.append((u, run[0][0], [t for _, t in run]))
    base = int(_mkts(0).timestamp()) * 1_000_000  # epoch µs of the test origin
    keep = []
    for u, (cx, cy), tss in out:
        dwell = tss[-1] - tss[0]
        if len(tss) >= min_pts and dwell >= min_dwell_s:
            keep.append(
                (u, cx, cy, base + tss[0] * 1_000_000, base + tss[-1] * 1_000_000,
                 len(tss), float(dwell))
            )
    return sorted(keep)


def test_stay_points_matches_oracle(spark):
    from osmflat_rs_spark.operators.trajectory import stay_points

    rng = np.random.default_rng(3)
    rows = []
    eid = 0
    for u in range(8):
        t = 0
        # walk between a few cells so runs of varied length appear;
        # negative coords exercise floor semantics
        cell_centers = [(-5_000, -5_000), (15_000, 5_000), (15_000, 5_500), (40_000, -20_000)]
        for _ in range(60):
            bx, by = cell_centers[int(rng.integers(0, 4))]
            for _ in range(int(rng.integers(1, 5))):
                rows.append((u, t, eid, by + int(rng.integers(0, 900)), bx + int(rng.integers(0, 900))))
                t += int(rng.integers(30, 2000))
                eid += 1
    cs, mp, md = 10_000, 2, 100.0
    want = _oracle(rows, cs, mp, md)
    df = spark.createDataFrame(
        [(u, _mkts(t), e, la, lo) for u, t, e, la, lo in rows],
        "user_id long, ts timestamp, event_id long, lat long, lon long",
    )
    got = sorted(
        (r["user_id"], r["cx"], r["cy"], r["start_us"], r["end_us"], r["n_pts"], r["dwell_s"])
        for r in stay_points(
            df, "user_id", cell_size=cs, min_pts=mp, min_dwell_s=md, order_cols=("event_id",)
        ).collect()
    )
    assert len(want) > 20
    assert got == want


def test_stay_points_tie_order_and_thresholds(spark):
    """Equal timestamps resolved by order_cols; min_pts=1/min_dwell=0
    returns every run including singletons."""
    from osmflat_rs_spark.operators.trajectory import stay_points

    t = _mkts(0)
    rows = [
        (1, t, 0, 100, 100),       # cell (0,0)
        (1, t, 1, 100, 20_100),    # cell (2,0) — same ts, later event_id
        (1, t, 2, 100, 20_200),    # cell (2,0)
        (1, _mkts(50), 3, 100, 100),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, lat long, lon long")
    got = sorted(
        (r["cx"], r["n_pts"], r["dwell_s"])
        for r in stay_points(df, "user_id", cell_size=10_000, order_cols=("event_id",)).collect()
    )
    assert got == [(0, 1, 0.0), (0, 1, 0.0), (2, 2, 0.0)]


def test_stay_points_single_exchange_plan(spark):
    """The stats groupBy keys superset the window partition key: ONE
    Exchange in the whole plan (the sessions.session_stats contract)."""
    from osmflat_rs_spark.operators.trajectory import stay_points

    df = spark.createDataFrame(
        [(1, _mkts(i), i, 100 + i, 100 + i) for i in range(10)],
        "user_id long, ts timestamp, event_id long, lat long, lon long",
    )
    plan = stay_points(df, "user_id", cell_size=1000)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_od_flows_matches_oracle(spark):
    """OD matrix from a hand-built dwell table vs a pure-Python pair
    walk; self-flows and multi-user aggregation covered."""
    from osmflat_rs_spark.operators.trajectory import od_flows

    rows = [
        # user, cx, cy, start_us, end_us
        (1, 0, 0, 1_000_000, 2_000_000),
        (1, 2, 0, 5_000_000, 6_000_000),   # trip (0,0)->(2,0), transit 3s
        (1, 2, 0, 9_000_000, 9_500_000),   # self-flow (2,0)->(2,0), 3s
        (1, 0, 0, 20_000_000, 21_000_000), # (2,0)->(0,0), 10.5s
        (2, 0, 0, 1_000_000, 4_000_000),
        (2, 2, 0, 8_000_000, 9_000_000),   # (0,0)->(2,0), 4s
        (3, 5, 5, 1_000_000, 2_000_000),   # lone dwell: no trip
    ]
    df = spark.createDataFrame(
        rows, "user_id long, cx long, cy long, start_us long, end_us long"
    )
    got = {
        (r["from_cx"], r["from_cy"], r["to_cx"], r["to_cy"]): (r["n_trips"], r["avg_transit_s"])
        for r in od_flows(df, "user_id").collect()
    }
    assert got == {
        (0, 0, 2, 0): (2, 3.5),   # 3s and 4s
        (2, 0, 2, 0): (1, 3.0),
        (2, 0, 0, 0): (1, 10.5),
    }


def test_od_flows_composes_with_stay_points(spark):
    """End-to-end: points -> stay_points -> od_flows; trip count equals
    sum over users of (dwells - 1)."""
    from osmflat_rs_spark.operators.trajectory import od_flows, stay_points

    rows = []
    eid = 0
    for u in range(5):
        for leg, (bx, by) in enumerate([(0, 0), (30_000, 0), (0, 0), (60_000, 30_000)]):
            for i in range(3):
                rows.append((u, _mkts(leg * 10_000 + i * 100 + u), eid, by + i, bx + i))
                eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, lat long, lon long"
    )
    d = stay_points(df, "user_id", cell_size=10_000, min_pts=2, order_cols=("event_id",))
    per_user = {r["user_id"]: r["n"] for r in d.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    flows = od_flows(d, "user_id")
    assert flows.agg(F.sum("n_trips")).collect()[0][0] == sum(n - 1 for n in per_user.values())
    # the 5 users all walk the same 4-cell path: 3 distinct transitions
    assert flows.count() == 3


def _brute_hausdorff_pairs(tid, lat, lon, tau):
    """Independent NumPy oracle: exact symmetric Hausdorff^2 per pair."""
    groups = {t: np.where(tid == t)[0] for t in np.unique(tid)}
    ids = sorted(groups)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = groups[a], groups[b]
            d2 = (lat[ga][:, None] - lat[gb][None, :]) ** 2 + (
                lon[ga][:, None] - lon[gb][None, :]
            ) ** 2
            h = max(int(d2.min(axis=1).max()), int(d2.min(axis=0).max()))
            if h <= tau * tau:
                out[(int(a), int(b))] = h
    return out


def test_hausdorff_join_exact_random_clusters(spark):
    """hausdorff_join vs the brute-force NumPy oracle on 24 random
    cluster-confined trajectories of uneven sizes — pair set AND exact
    int64 h2 values; also invariant to the cover resolution knob."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import hausdorff_join

    rng = np.random.default_rng(5)
    rows = []
    for t in range(24):
        n = int(rng.integers(3, 60))
        clat = 524_000_000 + int(rng.integers(0, 1_800_000))
        clon = 132_000_000 + int(rng.integers(0, 3_800_000))
        rows.append(
            pd.DataFrame(
                {
                    "traj_id": np.full(n, t, dtype=np.int64),
                    "lat": clat + rng.integers(0, 150_000, n),
                    "lon": clon + rng.integers(0, 150_000, n),
                }
            )
        )
    pdf = pd.concat(rows, ignore_index=True)
    tid = pdf["traj_id"].to_numpy()
    lat = pdf["lat"].to_numpy(np.int64)
    lon = pdf["lon"].to_numpy(np.int64)
    tau = 400_000
    want = _brute_hausdorff_pairs(tid, lat, lon, tau)
    assert len(want) > 3  # density sanity
    df = spark.createDataFrame(pdf)
    got = {
        (r["traj_a"], r["traj_b"]): r["h2"]
        for r in hausdorff_join(df, tau, traj_col="traj_id").collect()
    }
    assert got == want
    got_res = {
        (r["traj_a"], r["traj_b"]): r["h2"]
        for r in hausdorff_join(df, tau, traj_col="traj_id", res=10).collect()
    }
    assert got_res == want


def test_hausdorff_join_boundary_and_blocking(spark):
    """A pair at distance EXACTLY tau is kept (<= contract, exact ints);
    a pair one unit past tau is dropped; block_rows=1 (pathological
    blocking) must not change anything."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import hausdorff_join

    tau = 50_000
    pdf = pd.DataFrame(
        {
            "traj_id": [1, 1, 2, 2, 3],
            "lat": [524_000_000, 524_010_000, 524_000_000 + tau, 524_010_000 + tau,
                    524_000_000 + tau + 1],
            "lon": [132_000_000, 132_000_000, 132_000_000, 132_000_000, 132_000_000],
        }
    )
    df = spark.createDataFrame(pdf)
    for blk in (4096, 1):
        got = {
            (r["traj_a"], r["traj_b"]): r["h2"]
            for r in hausdorff_join(df, tau, traj_col="traj_id", block_rows=blk).collect()
        }
        # (1,2): h is EXACTLY tau (both traj1 points are tau from their
        # nearest traj2 point) -> kept with h2 == tau^2, the <= contract.
        # (2,3): traj3's point is 1 unit from traj2 one way, 9999 the
        # other -> h2 = 9999^2, kept. (1,3): traj1's far point is tau+1
        # from traj3 -> dropped (one unit past the boundary).
        assert got == {(1, 2): tau * tau, (2, 3): 9999 * 9999}, got


def _frechet2_dp(la, lo, lb, lob):
    """Scalar Eiter-Mannila DP — the independent oracle (exact int64)."""
    d2 = (la[:, None] - lb[None, :]) ** 2 + (lo[:, None] - lob[None, :]) ** 2
    m, n = d2.shape
    ca = np.empty((m, n), dtype=np.int64)
    ca[0, 0] = d2[0, 0]
    for j in range(1, n):
        ca[0, j] = max(ca[0, j - 1], d2[0, j])
    for i in range(1, m):
        ca[i, 0] = max(ca[i - 1, 0], d2[i, 0])
        for j in range(1, n):
            ca[i, j] = max(d2[i, j], min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1]))
    return int(ca[-1, -1])


def test_frechet_join_matches_dp_oracle_and_is_order_sensitive(spark):
    """frechet_join's reachability decision vs the Eiter-Mannila value DP
    on random cluster trajectories at two taus; input ROW order must not
    matter (order comes from order_col); a reversed copy of a trajectory
    is Hausdorff-identical but Fréchet-far."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import frechet_join, hausdorff_join

    rng = np.random.default_rng(9)
    frames = []
    for t in range(16):
        n = int(rng.integers(4, 40))
        clat = 524_000_000 + int(rng.integers(0, 900_000))
        clon = 132_000_000 + int(rng.integers(0, 1_800_000))
        frames.append(
            pd.DataFrame(
                {
                    "traj_id": np.full(n, t, dtype=np.int64),
                    "seq": np.arange(n, dtype=np.int64),
                    "lat": clat + rng.integers(0, 200_000, n),
                    "lon": clon + rng.integers(0, 200_000, n),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    groups = {
        t: g.sort_values("seq") for t, g in pdf.groupby("traj_id")
    }
    for tau in (300_000, 500_000):
        want = set()
        ids = sorted(groups)
        for ii, a in enumerate(ids):
            for b in ids[ii + 1 :]:
                ga, gb = groups[a], groups[b]
                f2 = _frechet2_dp(
                    ga["lat"].to_numpy(np.int64), ga["lon"].to_numpy(np.int64),
                    gb["lat"].to_numpy(np.int64), gb["lon"].to_numpy(np.int64),
                )
                if f2 <= tau * tau:
                    want.add((int(a), int(b)))
        # shuffle row order: results must be identical (seq defines order)
        shuffled = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
        df = spark.createDataFrame(shuffled)
        got = {
            (r["traj_a"], r["traj_b"])
            for r in frechet_join(df, tau, traj_col="traj_id", order_col="seq").collect()
        }
        assert got == want, (tau, got ^ want)
        assert (tau != 500_000) or len(want) > 3  # density sanity

    # order sensitivity: traj 100 = traj 0 reversed (same point SET)
    g0 = groups[0]
    rev = g0.iloc[::-1].copy()
    rev["traj_id"] = 100
    rev["seq"] = np.arange(len(rev), dtype=np.int64)
    both = pd.concat([g0, rev], ignore_index=True)
    df2 = spark.createDataFrame(both)
    h = {
        (r["traj_a"], r["traj_b"])
        for r in hausdorff_join(df2, 10_000, traj_col="traj_id").collect()
    }
    assert (0, 100) in h  # identical sets -> Hausdorff 0
    span2 = _frechet2_dp(
        g0["lat"].to_numpy(np.int64), g0["lon"].to_numpy(np.int64),
        rev["lat"].to_numpy(np.int64), rev["lon"].to_numpy(np.int64),
    )
    tau_mid = int(np.sqrt(span2)) - 1  # strictly below the reversed Fréchet
    if tau_mid > 0:
        f = {
            (r["traj_a"], r["traj_b"])
            for r in frechet_join(df2, tau_mid, traj_col="traj_id", order_col="seq").collect()
        }
        assert (0, 100) not in f


def test_resample_time_matches_model(spark):
    """resample_time vs a plain-Python model: random irregular pings
    (with duplicate timestamps and grid-aligned endpoints forced in),
    epoch-aligned ticks, half-open segments, closed aligned right end."""
    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import resample_time

    rng = np.random.RandomState(7)
    step = 3_600_000_000  # 1h in µs
    rows = []
    for tid in range(12):
        n = rng.randint(1, 15)
        t = np.sort(rng.randint(0, 90 * step, n).astype("int64")) + 1_700_000_000_000_000
        if tid == 3 and n >= 2:
            t[1] = t[0]  # duplicate timestamp: empty half-open span
        if tid == 5:
            t[-1] = (t[-1] // step) * step  # aligned final ping
        for i, ti in enumerate(t):
            rows.append((tid, int(ti), int(rng.randint(-900, 900)) * 1_000_000,
                         int(rng.randint(-1800, 1800)) * 1_000_000, i))
    pdf = pd.DataFrame(rows, columns=["tid", "t_us", "lat", "lon", "seq"])

    want = set()
    for tid, grp in pdf.groupby("tid"):
        g = grp.sort_values(["t_us", "seq"]).reset_index(drop=True)
        for i in range(len(g) - 1):
            t0, t1 = int(g.t_us[i]), int(g.t_us[i + 1])
            k0, k1 = -((-t0) // step), (t1 - 1) // step
            for k in range(k0, k1 + 1):
                f = (k * step - t0) / (t1 - t0)
                la = float(g.lat[i]) + (float(g.lat[i + 1]) - float(g.lat[i])) * f
                lo = float(g.lon[i]) + (float(g.lon[i + 1]) - float(g.lon[i])) * f
                want.add((tid, k * step, round(la, 6), round(lo, 6)))
        tl = int(g.t_us.iloc[-1])
        if tl % step == 0:
            want.add((tid, tl, round(float(g.lat.iloc[-1]), 6), round(float(g.lon.iloc[-1]), 6)))

    df = spark.createDataFrame(pdf).withColumn(
        "ts", F.timestamp_micros(F.col("t_us"))
    ).repartition(5)
    out = resample_time(df, "tid", step, ts_col="ts", order_cols=("seq",))
    got = {
        (r["tid"], r["tick_us"], round(r["lat"], 6), round(r["lon"], 6))
        for r in out.collect()
    }
    assert got == want
    assert len(got) > 100, "model too small to be meaningful"


def test_resample_time_plan_one_shuffle_no_join(spark):
    from osmflat_rs_spark.operators.trajectory import resample_time

    df = spark.range(200).selectExpr(
        "id % 8 AS tid",
        "timestamp_micros(1700000000000000 + id * 777777777) AS ts",
        "CAST(id AS DOUBLE) AS lat",
        "CAST(-id AS DOUBLE) AS lon",
        "id AS seq",
    )
    plan = (
        resample_time(df, "tid", 1_000_000_000, order_cols=("seq",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    # one window shuffle per union branch over the same child — Spark
    # reuses or repeats the Exchange but never joins
    assert plan.count("Window") <= 2 and "Exchange" in plan


def test_resample_time_rejects_bad_step(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.trajectory import resample_time

    df = spark.range(1).selectExpr("id AS tid", "timestamp_micros(id) AS ts", "1.0 AS lat")
    with _pytest.raises(ValueError):
        resample_time(df, "tid", 0, value_cols=("lat",))


def test_geofence_transitions_matches_simulation(spark):
    """geofence_transitions vs a pure-Python per-entity membership-diff
    simulation over two OVERLAPPING square fences: first-fix enters,
    multi-fence flips, steady-state fixes emit nothing; input row order
    is irrelevant (window orders by ts, point_id)."""
    import numpy as np

    from osmflat_rs_spark.operators.trajectory import geofence_transitions

    X, Y = 132_000_000, 524_000_000
    S = 400_000

    # fence A: [X, X+2S] x [Y, Y+2S]; fence B overlaps: [X+S, X+3S] x [Y+S, Y+3S]
    fences = [
        ("A", [(Y, X), (Y, X + 2 * S), (Y + 2 * S, X + 2 * S), (Y + 2 * S, X)], "zone"),
        ("B", [(Y + S, X + S), (Y + S, X + 3 * S), (Y + 3 * S, X + 3 * S), (Y + 3 * S, X + S)], "zone"),
    ]
    polys = spark.createDataFrame(
        fences, schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string"
    )

    rng = np.random.default_rng(11)
    rows = []
    eid = 0
    for u in range(6):
        for t in range(12):
            la = int(Y - S + rng.integers(0, 5 * S))
            lo = int(X - S + rng.integers(0, 5 * S))
            rows.append((u, t, eid, la, lo))
            eid += 1
    # pin one deterministic walk straight through both fences
    walk = [(-S // 2, S), (S // 2, S), (S + S // 2, S + S // 2), (2 * S + S // 2, 2 * S - 1), (4 * S, 4 * S)]
    for t, (dx, dy) in enumerate(walk):
        rows.append((99, t, eid, Y + dy, X + dx))
        eid += 1

    def inside(f, la, lo):
        if f == "A":
            return X <= lo <= X + 2 * S and Y <= la <= Y + 2 * S
        return X + S <= lo <= X + 3 * S and Y + S <= la <= Y + 3 * S

    want = set()
    by_user = {}
    for u, t, e, la, lo in rows:
        by_user.setdefault(u, []).append((t, e, la, lo))
    for u, fixes in by_user.items():
        fixes.sort()
        prev = set()
        for t, e, la, lo in fixes:
            cur = {f for f in ("A", "B") if inside(f, la, lo)}
            for f in sorted(cur - prev):
                want.add((u, t, e, f, "enter"))
            for f in sorted(prev - cur):
                want.add((u, t, e, f, "exit"))
            prev = cur

    rng.shuffle(rows)  # input order must not matter
    pts = spark.createDataFrame(
        [(int(u), int(t), int(e), int(la), int(lo)) for u, t, e, la, lo in rows],
        "user_id long, ts long, event_id long, lat long, lon long",
    )
    got = {
        (r["user_id"], r["ts"], r["event_id"], r["fence"], r["kind"])
        for r in geofence_transitions(pts, polys, ts_col="ts").collect()
    }
    assert got == want
    # behavioral pins: the deterministic walk enters A, then B, exits A, exits B
    walk_ev = sorted((t, f, k) for (u, t, e, f, k) in want if u == 99)
    assert walk_ev == [(1, "A", "enter"), (2, "B", "enter"), (3, "A", "exit"), (4, "B", "exit")]


def test_movement_profile_semantics(spark):
    """Hand-built fixes: octant classes incl. boundary ties, still pair,
    sub-second NULL-speeding contract, exact speeding threshold edge."""
    from datetime import datetime, timezone

    from osmflat_rs_spark.operators.trajectory import movement_profile

    def ts(us):
        return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).replace(tzinfo=None)

    rows = [
        # u1: E (dx=10, dy=0), then exactly-2:1 boundary -> cardinal N,
        # then diagonal NE (dx=3, dy=4), then still
        ("u1", ts(0), 1, 0, 0),
        ("u1", ts(1_000_000), 2, 0, 10),
        ("u1", ts(2_000_000), 3, 10, 15),       # dy=10, dx=5 -> |dy|>=2|dx| -> N
        ("u1", ts(3_000_000), 4, 14, 18),       # dy=4, dx=3 -> NE
        ("u1", ts(3_500_000), 5, 14, 18),       # still; dt < 1s -> speeding NULL
        # u2: speeding edge — vmax=5, dt=1s: d2=25 NOT speeding, d2=26 speeding
        ("u2", ts(0), 1, 0, 0),
        ("u2", ts(1_000_000), 2, 0, 5),         # d2=25 == 25 -> False
        ("u2", ts(2_000_000), 3, 1, 10),        # dx=5, dy=1 -> E, d2=26 -> True
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long, lat long, lon long")
    out = movement_profile(df, "user_id", 5, order_cols=("event_id",)).collect()
    got = {(r["user_id"], r["t0_us"]): (r["sector"], r["speeding"], r["d2"], r["dt_us"])
           for r in out}
    assert len(out) == 6  # 4 + 2 pairs (last fix of each entity emits none)
    assert got[("u1", 0)] == ("E", True, 100, 1_000_000)
    assert got[("u1", 1_000_000)] == ("N", True, 125, 1_000_000)
    assert got[("u1", 2_000_000)] == ("NE", False, 25, 1_000_000)
    assert got[("u1", 3_000_000)] == ("still", None, 0, 500_000)
    assert got[("u2", 0)] == ("E", False, 25, 1_000_000)
    assert got[("u2", 1_000_000)] == ("E", True, 26, 1_000_000)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="vmax"):
        movement_profile(df, "user_id", 50_000)


# ----------------------------------------------------------------- densify


def _model_densify(rows, max_gap):
    """rows: (key, ts, eid, lat, lon) — same ceil-div + IEEE lerp."""
    byk = {}
    for k_, ts, eid, la, lo in rows:
        byk.setdefault(k_, []).append((ts, eid, la, lo))
    out = {}
    for k_, evs in byk.items():
        evs.sort()
        for i, ((_, _, la0, lo0), (_, _, la1, lo1)) in enumerate(zip(evs, evs[1:])):
            li = max(abs(la1 - la0), abs(lo1 - lo0))
            kp = max(1, (li + max_gap - 1) // max_gap)
            for j in range(kp):
                f = j / kp
                out[(k_, i, j)] = (kp, la0 + (la1 - la0) * f, lo0 + (lo1 - lo0) * f)
        last = evs[-1]
        out[(k_, len(evs) - 1, 0) if len(evs) > 1 else (k_, 0, 0)] = (
            0, float(last[2]), float(last[3]),
        ) if len(evs) > 1 else (0, float(last[2]), float(last[3]))
    return out


def test_densify_matches_model_bit_exact(spark):
    import numpy as np

    from osmflat_rs_spark.operators.trajectory import densify_segments

    rng = np.random.default_rng(59)
    rows = [(int(rng.integers(0, 6)), int(rng.integers(0, 100)), i,
             int(rng.integers(-5000, 5000)), int(rng.integers(-5000, 5000)))
            for i in range(120)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, lat long, lon long")
    got = {(r["user_id"], r["seg"], r["j"]): (r["k"], r["lat_d"], r["lon_d"])
           for r in densify_segments(df, "user_id", 700).collect()}
    want = _model_densify(rows, 700)
    assert got == want  # IEEE lerp — bit-exact, no tolerance
    # every hop in output order is within max_gap (the operator's point)
    for k_ in {r[0] for r in rows}:
        seq = sorted(((s, j) for (u, s, j) in got if u == k_))
        pts = [got[(k_, s, j)][1:] for s, j in seq]
        for (a1, o1), (a2, o2) in zip(pts, pts[1:]):
            assert max(abs(a2 - a1), abs(o2 - o1)) <= 700 + 1e-9
    got2 = {(r["user_id"], r["seg"], r["j"]): (r["k"], r["lat_d"], r["lon_d"])
            for r in densify_segments(df.repartition(7), "user_id", 700).collect()}
    assert got2 == want


def test_densify_edges(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.trajectory import densify_segments

    # duplicate consecutive points -> one start row (k=1), no blow-up;
    # a single-point line emits just its final-vertex row
    rows = [(1, 0, 0, 10, 10), (1, 1, 1, 10, 10), (1, 2, 2, 10, 17),
            (2, 0, 3, 5, 5)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, lat long, lon long")
    got = {(r["user_id"], r["seg"], r["j"]): (r["k"], r["lat_d"], r["lon_d"])
           for r in densify_segments(df, "user_id", 3).collect()}
    assert got[(1, 0, 0)] == (1, 10.0, 10.0)          # zero-length seg
    assert got[(1, 1, 0)][0] == 3                      # ceil(7/3) = 3
    assert got[(1, 1, 1)][2] == 10 + 7 * (1 / 3)
    assert got[(1, 2, 0)] == (0, 10.0, 17.0)           # final vertex
    assert got[(2, 0, 0)] == (0, 5.0, 5.0)             # singleton line
    with _pytest.raises(ValueError):
        densify_segments(df, "user_id", 0)


def _dtw_dp(la, lo, lb, lob):
    """Scalar Sakoe-Chiba sum-form DP — the independent oracle (int64)."""
    d2 = (la[:, None] - lb[None, :]) ** 2 + (lo[:, None] - lob[None, :]) ** 2
    m, n = d2.shape
    INF = 1 << 62
    ca = np.full((m + 1, n + 1), INF, dtype=np.int64)
    ca[0, 0] = 0
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            ca[i, j] = d2[i - 1, j - 1] + min(
                ca[i - 1, j], ca[i, j - 1], ca[i - 1, j - 1]
            )
    return int(ca[-1, -1])


def test_dtw_join_matches_dp_oracle_and_threshold_is_exact(spark):
    """dtw_join's in-row codegen DP vs the scalar Sakoe-Chiba oracle on
    random cluster trajectories: every surfaced pair's cost is EXACTLY
    the oracle's, the <= max_cost boundary is inclusive, and no pair the
    oracle admits is missing (the isqrt prune is lossless). Row order
    must not matter (order comes from order_col)."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import dtw_join

    rng = np.random.default_rng(17)
    frames = []
    for t in range(14):
        n = int(rng.integers(3, 32))
        clat = 524_000_000 + int(rng.integers(0, 700_000))
        clon = 132_000_000 + int(rng.integers(0, 1_400_000))
        frames.append(
            pd.DataFrame(
                {
                    "traj_id": np.full(n, t, dtype=np.int64),
                    "seq": np.arange(n, dtype=np.int64),
                    "lat": clat + rng.integers(0, 150_000, n),
                    "lon": clon + rng.integers(0, 150_000, n),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    groups = {t: g.sort_values("seq") for t, g in pdf.groupby("traj_id")}
    ids = sorted(groups)
    all_costs = {}
    for ii, a in enumerate(ids):
        for b in ids[ii + 1 :]:
            ga, gb = groups[a], groups[b]
            all_costs[(int(a), int(b))] = _dtw_dp(
                ga["lat"].to_numpy(np.int64), ga["lon"].to_numpy(np.int64),
                gb["lat"].to_numpy(np.int64), gb["lon"].to_numpy(np.int64),
            )
    # pick max_cost as an EXACT achieved cost -> boundary inclusivity
    costs_sorted = sorted(all_costs.values())
    max_cost = costs_sorted[len(costs_sorted) // 3]
    want = {k: v for k, v in all_costs.items() if v <= max_cost}
    assert want and len(want) < len(all_costs)  # nontrivial split
    assert max_cost in want.values()  # boundary case present
    shuffled = pdf.sample(frac=1.0, random_state=5).reset_index(drop=True)
    df = spark.createDataFrame(shuffled)
    got = {
        (r["traj_a"], r["traj_b"]): r["dtw"]
        for r in dtw_join(
            df, max_cost, traj_col="traj_id", order_col="seq"
        ).collect()
    }
    assert got == want, (max_cost, set(got) ^ set(want))


def test_dtw_join_order_sensitivity_and_identity(spark):
    """A trajectory vs its reversed copy has a large DTW cost (order
    matters); vs an identical copy the cost is exactly 0."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import dtw_join

    n = 12
    lat = 524_000_000 + np.arange(n, dtype=np.int64) * 9_000
    lon = 132_000_000 + np.arange(n, dtype=np.int64) * 4_000
    rows = []
    for tid, (la, lo) in {
        0: (lat, lon), 1: (lat, lon), 2: (lat[::-1], lon[::-1])
    }.items():
        for s in range(n):
            rows.append((tid, s, int(la[s]), int(lo[s])))
    df = spark.createDataFrame(rows, "traj_id long, seq long, lat long, lon long")
    got = {
        (r["traj_a"], r["traj_b"]): r["dtw"]
        for r in dtw_join(df, 10**15, traj_col="traj_id", order_col="seq").collect()
    }
    assert got[(0, 1)] == 0
    rev = _dtw_dp(lat, lon, lat[::-1], lon[::-1].copy())
    assert got[(0, 2)] == rev and rev > 0
    assert got[(1, 2)] == rev


def test_circular_stats_wraparound_and_numpy_parity(spark):
    """Circular mean of headings straddling north is ~0 deg (where the
    arithmetic mean would say 180); random-angle groups match a numpy
    model to float tolerance; resultant is 1.0 for identical headings."""
    import pandas as pd

    from osmflat_rs_spark.operators.circular import circular_stats

    rng = np.random.default_rng(23)
    frames = [
        pd.DataFrame({"g": 0, "theta": np.radians([359.0, 1.0])}),
        pd.DataFrame({"g": 1, "theta": np.full(5, 0.7)}),
    ]
    for g in (2, 3, 4):
        frames.append(
            pd.DataFrame({"g": g, "theta": rng.uniform(-np.pi, np.pi, 40)})
        )
    pdf = pd.concat(frames, ignore_index=True)
    out = {
        r["g"]: r
        for r in circular_stats(
            spark.createDataFrame(pdf), ["g"], "theta"
        ).collect()
    }
    assert abs(out[0]["mean_dir"]) < 1e-9 and out[0]["n"] == 2
    assert abs(out[1]["resultant"] - 1.0) < 1e-12
    assert abs(out[1]["mean_dir"] - 0.7) < 1e-12
    for g in (2, 3, 4):
        th = pdf[pdf["g"] == g]["theta"].to_numpy()
        s, c = np.sin(th).sum(), np.cos(th).sum()
        assert abs(out[g]["mean_dir"] - np.arctan2(s, c)) < 1e-9
        r = np.hypot(s, c) / len(th)
        assert abs(out[g]["resultant"] - r) < 1e-9
        assert abs(out[g]["circ_var"] - (1 - r)) < 1e-9


def test_bearing_rad_cardinal_directions(spark):
    """Due north -> 0; due east at the equator -> pi/2; due south -> pi;
    due west -> -pi/2 (navigation convention, (-pi, pi])."""
    from osmflat_rs_spark.operators.circular import bearing_rad

    rows = [
        (0, 0, 0, 10_000_000, 0),        # north: +1 deg lat
        (1, 0, 0, 0, 10_000_000),        # east at equator: +1 deg lon
        (2, 10_000_000, 0, 0, 0),        # south
        (3, 0, 10_000_000, 0, 0),        # west
    ]
    df = spark.createDataFrame(
        rows, "id long, lat long, lon long, lat2 long, lon2 long"
    )
    got = {
        r["id"]: r["b"]
        for r in df.select(
            "id",
            bearing_rad(
                F.col("lat"), F.col("lon"), F.col("lat2"), F.col("lon2")
            ).alias("b"),
        ).collect()
    }
    assert abs(got[0] - 0.0) < 1e-12
    assert abs(got[1] - np.pi / 2) < 1e-9
    assert abs(abs(got[2]) - np.pi) < 1e-9
    assert abs(got[3] + np.pi / 2) < 1e-9


def _lcss_dp(la, lo, lb, lob, eps):
    """Scalar Vlachos-2002 LCSS DP (no temporal window) — int oracle."""
    m, n = len(la), len(lb)
    e2 = eps * eps
    dp = np.zeros((m + 1, n + 1), dtype=np.int64)
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            d2 = (la[i - 1] - lb[j - 1]) ** 2 + (lo[i - 1] - lob[j - 1]) ** 2
            if d2 <= e2:
                dp[i, j] = dp[i - 1, j - 1] + 1
            else:
                dp[i, j] = max(dp[i - 1, j], dp[i, j - 1])
    return int(dp[-1, -1])


def _edr_dp(la, lo, lb, lob, eps):
    """Scalar Chen-2005 EDR DP — int oracle."""
    m, n = len(la), len(lb)
    e2 = eps * eps
    dp = np.zeros((m + 1, n + 1), dtype=np.int64)
    dp[0, :] = np.arange(n + 1)
    dp[:, 0] = np.arange(m + 1)
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            d2 = (la[i - 1] - lb[j - 1]) ** 2 + (lo[i - 1] - lob[j - 1]) ** 2
            sub = 0 if d2 <= e2 else 1
            dp[i, j] = min(dp[i - 1, j - 1] + sub, dp[i - 1, j] + 1, dp[i, j - 1] + 1)
    return int(dp[-1, -1])


def _random_cluster_trajs(rng, n_traj=12):
    import pandas as pd

    frames = []
    for t in range(n_traj):
        n = int(rng.integers(3, 24))
        clat = 524_000_000 + int(rng.integers(0, 500_000))
        clon = 132_000_000 + int(rng.integers(0, 900_000))
        frames.append(
            pd.DataFrame(
                {
                    "traj_id": np.full(n, t, dtype=np.int64),
                    "seq": np.arange(n, dtype=np.int64),
                    "lat": clat + rng.integers(0, 120_000, n),
                    "lon": clon + rng.integers(0, 120_000, n),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def test_lcss_join_matches_dp_oracle_and_prune_is_lossless(spark):
    """lcss_join's codegen DP vs the scalar LCSS oracle over random
    cluster trajectories: every brute-force pair with lcss >= threshold
    is surfaced with the EXACT match count (any-match cell prune loses
    nothing), and nothing extra appears. Row order must not matter."""
    from osmflat_rs_spark.operators.trajectory import lcss_join

    rng = np.random.default_rng(31)
    pdf = _random_cluster_trajs(rng)
    eps, min_matches = 40_000, 2
    groups = {t: g.sort_values("seq") for t, g in pdf.groupby("traj_id")}
    ids = sorted(groups)
    want = {}
    for ii, a in enumerate(ids):
        for b in ids[ii + 1 :]:
            ga, gb = groups[a], groups[b]
            v = _lcss_dp(
                ga["lat"].to_numpy(np.int64), ga["lon"].to_numpy(np.int64),
                gb["lat"].to_numpy(np.int64), gb["lon"].to_numpy(np.int64), eps,
            )
            if v >= min_matches:
                want[(int(a), int(b))] = v
    assert want  # nontrivial
    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    got = {
        (r["traj_a"], r["traj_b"]): r["lcss"]
        for r in lcss_join(
            spark.createDataFrame(shuffled), eps, min_matches,
            traj_col="traj_id", order_col="seq",
        ).collect()
    }
    assert got == want, set(got) ^ set(want)


def test_edr_join_matches_dp_oracle_including_zero_match_short_pairs(spark):
    """edr_join vs the scalar EDR oracle: exact distances, inclusive
    threshold, AND the zero-match escape — two far-apart short
    trajectories (no shared cell at eps) with max(n, m) <= max_dist must
    still surface, with edr == max(n, m)."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import edr_join

    rng = np.random.default_rng(41)
    pdf = _random_cluster_trajs(rng, n_traj=8)
    # two SHORT far-apart trajectories: zero matches vs everything
    far = []
    for tid, base in ((100, -800_000_000), (101, 800_000_000)):
        for s in range(3):
            far.append((tid, s, base + s * 10_000, base // 2 + s * 10_000))
    pdf = pd.concat(
        [pdf, pd.DataFrame(far, columns=["traj_id", "seq", "lat", "lon"])],
        ignore_index=True,
    )
    eps, max_dist = 40_000, 14
    groups = {t: g.sort_values("seq") for t, g in pdf.groupby("traj_id")}
    ids = sorted(groups)
    want = {}
    for ii, a in enumerate(ids):
        for b in ids[ii + 1 :]:
            ga, gb = groups[a], groups[b]
            v = _edr_dp(
                ga["lat"].to_numpy(np.int64), ga["lon"].to_numpy(np.int64),
                gb["lat"].to_numpy(np.int64), gb["lon"].to_numpy(np.int64), eps,
            )
            if v <= max_dist:
                want[(int(a), int(b))] = v
    # the engineered zero-match short pair must be in the oracle set
    assert want[(100, 101)] == 3
    got = {
        (r["traj_a"], r["traj_b"]): r["edr"]
        for r in edr_join(
            spark.createDataFrame(pdf), eps, max_dist,
            traj_col="traj_id", order_col="seq",
        ).collect()
    }
    assert got == want, set(got) ^ set(want)


def test_lcss_edr_identity_properties(spark):
    """LCSS(A, A) == |A| (and passes any min_matches <= |A|);
    EDR(A, A) == 0; EDR to a one-point-perturbed copy == 1."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import edr_join, lcss_join

    n = 10
    lat = 524_000_000 + np.arange(n, dtype=np.int64) * 90_000
    lon = 132_000_000 + np.arange(n, dtype=np.int64) * 40_000
    lat2 = lat.copy()
    lat2[4] += 5_000_000  # far outside eps
    rows = []
    for tid, (la, lo) in {0: (lat, lon), 1: (lat, lon), 2: (lat2, lon)}.items():
        for s in range(n):
            rows.append((tid, s, int(la[s]), int(lo[s])))
    df = spark.createDataFrame(rows, "traj_id long, seq long, lat long, lon long")
    lc = {
        (r["traj_a"], r["traj_b"]): r["lcss"]
        for r in lcss_join(df, 10_000, 1, traj_col="traj_id", order_col="seq").collect()
    }
    assert lc[(0, 1)] == n and lc[(0, 2)] == n - 1
    ed = {
        (r["traj_a"], r["traj_b"]): r["edr"]
        for r in edr_join(df, 10_000, n, traj_col="traj_id", order_col="seq").collect()
    }
    assert ed[(0, 1)] == 0 and ed[(0, 2)] == 1


def test_lcss_edr_dtw_refines_match_scalar_dp_oracles(spark):
    """The batch-vectorized Arrow DPs against the scalar DP oracles over
    EVERY pair — ragged lengths (padding must never leak), negative
    coordinates, and the EDR short-pair escape leg: each join returns
    exactly the pairs the oracle admits, with the oracle's value."""
    import pandas as pd

    from osmflat_rs_spark.operators.trajectory import dtw_join, edr_join, lcss_join

    rng = np.random.default_rng(53)
    frames = []
    for t in range(10):
        n = int(rng.integers(2, 30))
        clat = int(rng.integers(-400_000, 400_000))
        clon = int(rng.integers(-400_000, 400_000))
        frames.append(
            pd.DataFrame(
                {
                    "traj_id": np.full(n, t, dtype=np.int64),
                    "seq": np.arange(n, dtype=np.int64),
                    "lat": clat + rng.integers(0, 120_000, n),
                    "lon": clon + rng.integers(0, 120_000, n),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    groups = {
        int(t): (g["lat"].to_numpy(np.int64), g["lon"].to_numpy(np.int64))
        for t, g in pdf.sort_values("seq").groupby("traj_id")
    }
    ids = sorted(groups)
    got = {}
    for join, kw, col, oracle, keep in (
        (lcss_join, {"min_matches": 1}, "lcss",
         lambda a, b: _lcss_dp(*a, *b, 50_000), lambda v: v >= 1),
        (edr_join, {"max_dist": 20}, "edr",
         lambda a, b: _edr_dp(*a, *b, 50_000), lambda v: v <= 20),
        (dtw_join, {}, "dtw", lambda a, b: _dtw_dp(*a, *b), lambda v: v <= 10**13),
    ):
        thr = 10**13 if col == "dtw" else 50_000
        every = {
            (a, b): oracle(groups[a], groups[b])
            for ii, a in enumerate(ids) for b in ids[ii + 1 :]
        }
        want = {p: v for p, v in every.items() if keep(v)}
        got[col] = {
            (r["traj_a"], r["traj_b"]): r[col]
            for r in join(
                df, thr, traj_col="traj_id", order_col="seq", **kw,
            ).collect()
        }
        assert got[col] == want and 0 < len(want) < len(every), (
            col, set(got[col]) ^ set(want))
    # the EDR escape leg is exercised: admitted pairs that match nothing
    assert set(got["edr"]) - set(got["lcss"])
