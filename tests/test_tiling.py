"""Tiling golden tests: Bresenham-family raster assignment and z14
web-mercator tile assignment vs the model oracle."""

import re

from osmflat_rs_spark import oracle
from osmflat_rs_spark import queries as q
from osmflat_rs_spark.operators.tiling import raster_assign, tile_assign_segments
from tests.util import assert_frames_equal


def test_dda_line_spec():
    # endpoints exact, 8-connected, symmetric
    assert oracle.dda_line(0, 0, 0, 0) == [(0, 0)]
    assert oracle.dda_line(0, 0, 3, 0) == [(0, 0), (1, 0), (2, 0), (3, 0)]
    pts = oracle.dda_line(0, 0, 5, 2)
    assert pts[0] == (0, 0) and pts[-1] == (5, 2) and len(pts) == 6


def test_raster_assign(tables, model):
    bb = q.bbox(tables).collect()[0]
    coords = q.road_coords(tables)
    got = raster_assign(coords, (bb["min_lat"], bb["max_lat"], bb["min_lon"], bb["max_lon"]))
    want = oracle.q_raster_assign(model)
    assert len(want) > 0
    assert_frames_equal(got, want, ["way_idx", "x", "y"])
    assert got.schema.simpleString() == "struct<way_idx:bigint,x:int,y:int>"
    # the keyed fan-out sits BELOW the window: an explicit-count hash
    # exchange on way_idx that AQE does not coalesce
    plan = got._jdf.queryExecution().executedPlan().toString()
    window_at = plan.index("Window ")
    fanout = re.search(r"Exchange hashpartitioning\(way_idx#\d+L?, \d+\), REPARTITION_BY_NUM", plan)
    assert fanout and fanout.start() > window_at, plan[:3000]


def test_tile_assign(tables, model):
    """Segments resolved from the ingest dict (the assembled-direct path)
    → tiles equal to the model's consecutive-vertex tiling."""
    got = tile_assign_segments(q.road_segments(tables))
    want = oracle.q_tile_assign(model)
    assert len(want) > 0
    assert_frames_equal(got, want, ["way_idx", "zoom", "tile_x", "tile_y"])


def test_tile_assign_segments_equals_window_form(tables, model):
    """The ways_geo in-row segments (zero shuffle before the distinct)
    give exactly the model's window form: tiles of consecutive vertices.
    The NumPy tile encode is the oracle's alone (``oracle.tile_xy``), so
    asking the engine for it is an error."""
    import pytest

    segs = q.road_segments({"ways_geo": tables["ways_geo"]})
    assert_frames_equal(
        tile_assign_segments(segs), oracle.q_tile_assign(model), ["way_idx", "zoom", "tile_x", "tile_y"]
    )
    with pytest.raises(ValueError, match=r"oracle\.tile_xy"):
        tile_assign_segments(segs, jvm_tiles=False)


def test_road_coords_inrow_equals_join_form(tables):
    from osmflat_rs_spark import queries as q
    from tests.util import normalize

    cols = ["way_idx", "pos", "lat", "lon"]
    fast = q.road_coords(tables)  # ways_geo in-row path
    slow = q.road_coords({"nodes": tables["nodes"], "ways": tables["ways"]})
    assert normalize(fast, cols) == normalize(slow, cols)


def test_tile_segments_plan_has_no_window_one_shuffle(spark, tables):
    """Scale assertion for the tile OPERATOR (segments → tiles): no
    Window anywhere, and the only Exchange is the keyed fan-out feeding
    the fused Arrow DDA stage — no hash aggregate. (Upstream ways
    resolution is its own ingest stage; here the input stands
    materialized.)"""
    segs = spark.createDataFrame(
        [(1, 525000000, 133000000, 525100000, 133400000)],
        schema="way_idx long, lat long, lon long, lat2 long, lon2 long",
    )
    out = tile_assign_segments(segs)
    assert out.schema.simpleString() == "struct<way_idx:bigint,zoom:int,tile_x:bigint,tile_y:bigint>"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:3000]
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 1, f"expected 1 Exchange (keyed fan-out), got {n_exchange}:\n{plan[:3000]}"
    assert "MapInPandas" in plan and "HashAggregate" not in plan, plan[:3000]
    # and road_segments itself is pure in-row: no Window, no join beyond
    # the ingest-owned resolution chain
    from osmflat_rs_spark import queries as q

    seg_plan = q.road_segments(tables)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in seg_plan


def test_tile_pyramid_rollup_equals_direct_recompute(spark):
    """The child-sum pyramid must equal a per-level direct recompute
    BIT-EXACTLY (tile(z-1) == tile(z) >> 1: power-of-two scaling is exact
    in FP, and floor(2b) div 2 == floor(b); the clamp commutes because
    each clamp boundary is the parent boundary shifted). Random points
    include out-of-mercator latitudes so the clamp path is exercised."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from osmflat_rs_spark.functions.geo import mercator_tile_x, mercator_tile_y, to_degrees
    from osmflat_rs_spark.operators.tiling import tile_pyramid

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            # fixed-point 1e7 coords; lat beyond ±85.05 included
            "lat": rng.integers(-890_000_000, 890_000_000, 4000),
            "lon": rng.integers(-1_800_000_000, 1_800_000_000, 4000),
            "v": rng.integers(0, 1000, 4000),
        }
    )
    pts = spark.createDataFrame(pdf)
    pyr = (
        tile_pyramid(pts, base_zoom=12, min_zoom=8, sums={"sv": F.col("v")})
        .orderBy("zoom", "tile_x", "tile_y")
        .toPandas()
    )
    direct_parts = []
    for z in range(12, 7, -1):
        direct_parts.append(
            pts.select(
                F.lit(z).alias("zoom"),
                mercator_tile_x(to_degrees(F.col("lon")), z).alias("tile_x"),
                mercator_tile_y(to_degrees(F.col("lat")), z).alias("tile_y"),
                "v",
            )
            .groupBy("zoom", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .toPandas()
        )
    direct = (
        pd.concat(direct_parts)
        .sort_values(["zoom", "tile_x", "tile_y"])
        .reset_index(drop=True)[pyr.columns.tolist()]
    )
    pd.testing.assert_frame_equal(pyr.reset_index(drop=True), direct)


def test_tile_pyramid_single_scan_reused_exchange(spark):
    """Scale assertion: the points are scanned once — every coarser level
    reuses the base aggregate's exchange (AQE stage reuse), so the plan
    after execution carries one reuse node per coarser branch."""
    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.operators.tiling import tile_pyramid

    rng = np.random.default_rng(3)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "lat": rng.integers(500_000_000, 550_000_000, 2000),
                "lon": rng.integers(100_000_000, 150_000_000, 2000),
            }
        )
    )
    pyr = tile_pyramid(pts, base_zoom=10, min_zoom=7)
    pyr.collect()
    plan = pyr._jdf.queryExecution().executedPlan().toString()
    n_reuse = plan.count("ReusedExchange") + plan.lower().count("reused")
    assert n_reuse >= 3, f"expected >=3 reused base-exchange branches:\n{plan[:4000]}"


def test_tile_pyramid_validates_zoom_bounds(spark):
    import pandas as pd

    from osmflat_rs_spark.operators.tiling import tile_pyramid

    pts = spark.createDataFrame(pd.DataFrame({"lat": [0], "lon": [0]}))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tile_pyramid(pts, base_zoom=5, min_zoom=6)


def test_shoelace_ring_stats_exact_square(spark):
    """CCW unit-ish square in fixed-point: area2x = 2*w*h exactly (int64),
    CW traverse flips the sign, vertex-mean centroid is the center, and
    sub-3-vertex groups are dropped."""
    from osmflat_rs_spark.functions.geo import shoelace_ring_stats

    W, H = 3_000_000, 1_000_000  # 0.3 deg x 0.1 deg in 1e-7 fixed point
    base_lat, base_lon = 520_000_000, 130_000_000
    ccw = [(0, 0), (W, 0), (W, H), (0, H)]
    rows = []
    for i, (dx, dy) in enumerate(ccw):
        rows.append((1, i, base_lat + dy, base_lon + dx))          # CCW
    for i, (dx, dy) in enumerate(reversed(ccw)):
        rows.append((2, i, base_lat + dy, base_lon + dx))          # CW
    rows += [(3, 0, base_lat, base_lon), (3, 1, base_lat, base_lon + W)]  # 2 pts
    df = spark.createDataFrame(rows, schema="user_id long, ord long, lat long, lon long")
    got = {
        r["user_id"]: r
        for r in shoelace_ring_stats(
            df, "user_id", ["ord"], lat0=base_lat, lon0=base_lon
        ).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["area2x"] == 2 * W * H
    assert got[2]["area2x"] == -2 * W * H
    assert got[1]["n_vertices"] == 4
    assert got[1]["c_lat"] == round((base_lat + H / 2) / 1e7, 4)
    assert got[1]["c_lon"] == round((base_lon + W / 2) / 1e7, 4)


def test_shoelace_translation_invariance(spark):
    """area2x is independent of the (lat0, lon0) translation — the exact
    integer contract that lets the oracle pick any origin."""
    import numpy as np

    from osmflat_rs_spark.functions.geo import shoelace_ring_stats

    rng = np.random.default_rng(3)
    rows = [
        (int(u), int(i), int(524_000_000 + rng.integers(0, 2_000_000)),
         int(132_000_000 + rng.integers(0, 4_000_000)))
        for u in range(4)
        for i in range(rng.integers(3, 12))
    ]
    df = spark.createDataFrame(rows, schema="user_id long, ord long, lat long, lon long")
    a = shoelace_ring_stats(df, "user_id", ["ord"], lat0=524_000_000, lon0=132_000_000)
    b = shoelace_ring_stats(df, "user_id", ["ord"], lat0=523_999_000, lon0=131_990_000)
    ra = {r["user_id"]: r["area2x"] for r in a.collect()}
    rb = {r["user_id"]: r["area2x"] for r in b.collect()}
    assert ra == rb and len(ra) == 4


# ---------------------------------------------------------------------------
# radial-distance polyline simplification


def test_simplify_radial_matches_sequential_model(spark):
    import numpy as np

    from osmflat_rs_spark.functions.geo import simplify_radial

    rng = np.random.default_rng(4)
    rows = []
    for g in range(20):
        for p in range(int(rng.integers(1, 60))):
            rows.append((g, p, int(rng.integers(0, 100)), int(rng.integers(0, 100))))
    df = spark.createDataFrame(rows, "gid long, pos long, lat long, lon long")
    got = sorted(map(tuple, simplify_radial(df, "gid", "pos", tol=30).collect()))

    from collections import defaultdict

    by = defaultdict(list)
    for g, p, la, lo in rows:
        by[g].append((p, la, lo))
    want = []
    for g, pts in by.items():
        pts.sort()
        kept = [pts[0]]
        for p in pts[1:]:
            l = kept[-1]
            if (p[1] - l[1]) ** 2 + (p[2] - l[2]) ** 2 >= 900:
                kept.append(p)
        want += [(g, *k) for k in kept]
    assert got == sorted(want)
    # partition-layout invariance (the fold runs on a sorted in-row ring)
    got2 = sorted(map(tuple, simplify_radial(df.repartition(13), "gid", "pos", tol=30).collect()))
    assert got2 == got


def test_simplify_radial_edges(spark):
    import pytest

    from osmflat_rs_spark.functions.geo import simplify_radial

    df = spark.createDataFrame(
        [(1, 0, 5, 5), (2, 3, 0, 0), (2, 7, 0, 1)], "gid long, pos long, lat long, lon long"
    )
    got = sorted(map(tuple, simplify_radial(df, "gid", "pos", tol=10).collect()))
    # single-point group kept; group 2's second point is under tol: dropped
    assert got == [(1, 0, 5, 5), (2, 3, 0, 0)]
    with pytest.raises(ValueError):
        simplify_radial(df, "gid", "pos", tol=0)


def test_focal_grid_agg_matches_bruteforce_model(spark):
    """Focal sums equal the brute-force all-pairs Chebyshev model on
    random fixed-point points, for radius 0 (identity: n_focal ==
    n_self), 1 and 2; optional value sums agree; null coords dropped."""
    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.functions.cells import quantize_np
    from osmflat_rs_spark.operators.tiling import focal_grid_agg

    rng = np.random.RandomState(11)
    n = 3000
    lat = (524_000_000 + rng.randint(0, 2_000_000, n)).astype("int64")
    lon = (132_000_000 + rng.randint(0, 4_000_000, n)).astype("int64")
    val = rng.randint(1, 10, n).astype("int64")
    pdf = pd.DataFrame({"lat": lat, "lon": lon, "v": val})
    res = 16
    ix = quantize_np(lon, 180 * 10_000_000, 360 * 10_000_000, res)
    iy = quantize_np(lat, 90 * 10_000_000, 180 * 10_000_000, res)
    cells = pd.DataFrame({"ix": ix, "iy": iy, "v": val}).groupby(["ix", "iy"], as_index=False).agg(
        n_self=("v", "size"), v_self=("v", "sum")
    )

    def model(radius):
        out = {}
        arr = cells.to_numpy()
        for cx, cy, ns, vs in arr:
            m = (np.abs(cells["ix"] - cx) <= radius) & (np.abs(cells["iy"] - cy) <= radius)
            out[(cx, cy)] = (ns, cells.loc[m, "n_self"].sum(), vs, cells.loc[m, "v_self"].sum())
        return out

    df = spark.createDataFrame(pdf)
    # a null-coord row must simply vanish
    df = df.unionByName(spark.createDataFrame([(None, None, 5)], "lat long, lon long, v long"))
    for radius in (0, 1, 2):
        got = {
            (r["ix"], r["iy"]): (r["n_self"], r["n_focal"], r["v_self"], r["v_focal"])
            for r in focal_grid_agg(df, "lat", "lon", res=res, radius=radius, value_col="v").collect()
        }
        want = model(radius)
        assert got == want, f"radius={radius}"
        if radius == 0:
            assert all(ns == nf for ns, nf, _, _ in got.values())


def test_focal_grid_agg_plan_two_exchanges_no_join(spark):
    """The self counts ride the fan-out flag — the plan must contain
    NO Join and exactly two Exchanges (cell agg + focal agg)."""
    from osmflat_rs_spark.operators.tiling import focal_grid_agg

    pts = spark.read.parquet("/root/testdata/sf0.001/events.parquet").selectExpr(
        "CAST(524000000 + (event_id * 48271) % 2000000 AS LONG) AS lat",
        "CAST(132000000 + (event_id * 16807) % 4000000 AS LONG) AS lon",
    )
    plan = focal_grid_agg(pts, res=16, radius=1)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 2, plan


def test_geohash_and_quadkey_canonical_vectors(spark):
    """The encodes must match the PUBLIC standards, not merely be
    self-consistent: Niemeyer's canonical geohash example
    (57.64911, 10.40744) -> u4pruydqqvj (Wikipedia/Geohash), and the
    Bing tile-system doc example tile (x=3, y=5) level 3 -> '213'."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.functions.geo import geohash_expr, quadkey_expr

    df = spark.createDataFrame([(57.64911, 10.40744)], "lat double, lon double")
    for prec, want in ((11, "u4pruydqqvj"), (6, "u4pruy"), (1, "u")):
        got = df.select(geohash_expr(F.col("lat"), F.col("lon"), prec)).first()[0]
        assert got == want, (prec, got)

    t = spark.createDataFrame([(3, 5, "213"), (0, 0, "000"), (7, 7, "333")],
                              "tx long, ty long, want string")
    bad = t.filter(quadkey_expr(F.col("tx"), F.col("ty"), 3) != F.col("want")).count()
    assert bad == 0

    # prefix property: zoom-(z-1) quadkey of the parent tile is the
    # z-key's prefix (the pyramid-pruning contract)
    r = spark.createDataFrame([(1234, 2222)], "tx long, ty long").select(
        quadkey_expr(F.col("tx"), F.col("ty"), 12).alias("k12"),
        quadkey_expr(F.shiftright(F.col("tx"), 1), F.shiftright(F.col("ty"), 1), 11).alias("k11"),
    ).first()
    assert r["k12"][:11] == r["k11"]


def test_kde_grid_matches_bruteforce_model(spark):
    """kde_grid vs the brute-force kernel-weighted model for all three
    kernels at radius 2 (rel 1e-12 — only summation order differs) and
    the radius-0 identity (density == n_self * K(0) == n_self)."""
    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.functions.cells import quantize_np
    from osmflat_rs_spark.operators.tiling import kde_grid

    rng = np.random.RandomState(13)
    n = 3000
    lat = (524_000_000 + rng.randint(0, 2_000_000, n)).astype("int64")
    lon = (132_000_000 + rng.randint(0, 4_000_000, n)).astype("int64")
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    res = 16
    ix = quantize_np(lon, 180 * 10_000_000, 360 * 10_000_000, res)
    iy = quantize_np(lat, 90 * 10_000_000, 180 * 10_000_000, res)
    cells = pd.DataFrame({"ix": ix, "iy": iy}).groupby(["ix", "iy"], as_index=False).agg(
        n_self=("ix", "size")
    )

    def kfun(kernel, d2, h2):
        if kernel == "epanechnikov":
            return np.maximum(0.0, 1.0 - d2 / h2)
        if kernel == "triangular":
            return np.maximum(0.0, 1.0 - np.sqrt(d2 / h2))
        return np.exp(-(d2 / (h2 / 2.0)))

    radius, h2 = 2, 9.0
    df = spark.createDataFrame(pdf)
    for kernel in ("epanechnikov", "triangular", "gaussian"):
        want = {}
        arr = cells.to_numpy()
        for cx, cy, ns in arr:
            dx = cells["ix"].to_numpy() - cx
            dy = cells["iy"].to_numpy() - cy
            m = (np.abs(dx) <= radius) & (np.abs(dy) <= radius)
            d2 = (dx[m] ** 2 + dy[m] ** 2).astype("float64")
            want[(cx, cy)] = (ns, float((cells["n_self"].to_numpy()[m] * kfun(kernel, d2, h2)).sum()))
        got = {
            (r["ix"], r["iy"]): (r["n_self"], r["density"])
            for r in kde_grid(df, "lat", "lon", res=res, radius=radius, kernel=kernel).collect()
        }
        assert set(got) == set(want)
        for k, (ns, dens) in want.items():
            gns, gd = got[k]
            assert gns == ns
            assert abs(gd - dens) <= 1e-12 * max(1.0, abs(dens)), (kernel, k)

    r0 = kde_grid(df, "lat", "lon", res=res, radius=0).collect()
    assert all(abs(r["density"] - r["n_self"]) < 1e-12 for r in r0)

    plan = (
        kde_grid(df, "lat", "lon", res=res, radius=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Exchange") <= 3  # two aggs (+ possible AQE read)


# ------------------------------------------------------------ adaptive grid


def _q(c, off, span, L):
    import math

    v = math.floor(((c + off) * (1 << L)) / span)  # same IEEE division
    return max(0, min((1 << L) - 1, v))


def _model_adaptive(points, max_level, cap):
    """Pure-Python quadtree: counts at finest, roll up, local leaf test."""
    from osmflat_rs_spark.functions.cells import _LAT_OFF, _LAT_SPAN, _LON_OFF, _LON_SPAN

    counts = {max_level: {}}
    for la, lo in points:
        key = (_q(lo, _LON_OFF, _LON_SPAN, max_level), _q(la, _LAT_OFF, _LAT_SPAN, max_level))
        counts[max_level][key] = counts[max_level].get(key, 0) + 1
    for lvl in range(max_level - 1, -1, -1):
        up = {}
        for (x, y), n in counts[lvl + 1].items():
            up[(x >> 1, y >> 1)] = up.get((x >> 1, y >> 1), 0) + n
        counts[lvl] = up
    leaves = {}
    for lvl in range(0, max_level + 1):
        for (x, y), n in counts[lvl].items():
            if lvl == 0:
                if n <= cap or max_level == 0:
                    leaves[(lvl, x, y)] = n
            else:
                pn = counts[lvl - 1][(x >> 1, y >> 1)]
                if pn > cap and (n <= cap or lvl == max_level):
                    leaves[(lvl, x, y)] = n
    return leaves


def test_adaptive_grid_matches_model_and_partitions_space(spark):
    import numpy as np

    from osmflat_rs_spark.operators.tiling import adaptive_grid

    rng = np.random.default_rng(47)
    # a dense blob + sparse background => mixed leaf levels
    pts = [(int(rng.normal(520_000_000, 50_000)), int(rng.normal(133_000_000, 50_000)))
           for _ in range(700)]
    pts += [(int(rng.integers(-900_000_000, 900_000_000)),
             int(rng.integers(-1_800_000_000, 1_800_000_000))) for _ in range(300)]
    df = spark.createDataFrame(pts, "lat long, lon long")
    max_level, cap = 8, 50
    want = _model_adaptive(pts, max_level, cap)
    got = {(r["level"], r["ix"], r["iy"]): r["n"]
           for r in adaptive_grid(df, max_level=max_level, cap=cap).collect()}
    assert got == want
    assert len({lvl for lvl, _, _ in got}) > 1  # genuinely adaptive
    # leaf counts partition the corpus exactly
    assert sum(got.values()) == len(pts)
    # partition invariance
    got2 = {(r["level"], r["ix"], r["iy"]): r["n"]
            for r in adaptive_grid(df.repartition(13), max_level=max_level, cap=cap).collect()}
    assert got2 == want


def test_adaptive_grid_edges(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.tiling import adaptive_grid

    # duplicates past cap become a forced max-level leaf
    df = spark.createDataFrame([(1_000_000, 2_000_000)] * 7, "lat long, lon long")
    rows = adaptive_grid(df, max_level=4, cap=3).collect()
    assert len(rows) == 1 and rows[0]["level"] == 4 and rows[0]["n"] == 7
    # cap >= n -> the single root leaf
    rows = adaptive_grid(df, max_level=4, cap=100).collect()
    assert len(rows) == 1 and rows[0]["level"] == 0 and rows[0]["n"] == 7
    # max_level=0 -> root is the forced leaf
    rows = adaptive_grid(df, max_level=0, cap=1).collect()
    assert len(rows) == 1 and rows[0]["level"] == 0
    with _pytest.raises(ValueError):
        adaptive_grid(df, max_level=-1)
    with _pytest.raises(ValueError):
        adaptive_grid(df, cap=0)


# ----------------------------------------------------- ring normalization


def test_normalize_rings_winding_and_anchor(spark):
    from osmflat_rs_spark.functions.geo import normalize_rings

    # square CCW (area2x > 0), square CW, collinear degenerate
    ccw = [(0, 0), (0, 10), (10, 10), (10, 0)]          # (lat, lon) CCW? compute below
    cw = list(reversed(ccw))
    flat = [(0, 0), (0, 5), (0, 10)]
    rows = []
    for rid, ring in (("a", ccw), ("b", cw), ("c", flat)):
        rows += [(rid, i, la, lo) for i, (la, lo) in enumerate(ring)]
    df = spark.createDataFrame(rows, "ring_id string, ord int, lat long, lon long")
    out = normalize_rings(df, "ring_id", ["ord"]).collect()
    by = {}
    for r in out:
        by.setdefault(r["ring_id"], []).append(r)
    for rid in by:
        by[rid].sort(key=lambda r: r["pos"])

    # shoelace with x=lon, y=lat: ccw list = (0,0)->(10,0)->(10,10)->(0,10)
    # in (x,y) terms = counter-clockwise -> positive -> stays
    def shoelace(vs):
        s = 0
        for i in range(len(vs)):
            x1, y1 = vs[i][1], vs[i][0]
            x2, y2 = vs[(i + 1) % len(vs)][1], vs[(i + 1) % len(vs)][0]
            s += x1 * y2 - x2 * y1
        return s

    assert shoelace(ccw) > 0 and shoelace(cw) < 0 and shoelace(flat) == 0
    a = by["a"]
    assert a[0]["orientation"] == "ccw" and not a[0]["was_reversed"]
    assert [(r["lat"], r["lon"]) for r in a] == ccw
    b = by["b"]
    assert b[0]["orientation"] == "cw" and b[0]["was_reversed"]
    got_b = [(r["lat"], r["lon"]) for r in b]
    # anchor-preserving reversal of cw: first vertex kept, tail reversed
    assert got_b == [cw[0]] + list(reversed(cw[1:]))
    assert shoelace(got_b) > 0
    c = by["c"]
    assert c[0]["orientation"] == "degenerate" and not c[0]["was_reversed"]
    assert [(r["lat"], r["lon"]) for r in c] == flat


def test_normalize_rings_roles_and_invariance(spark):
    from osmflat_rs_spark.functions.geo import normalize_rings

    ccw = [(0, 0), (0, 10), (10, 10), (10, 0)]
    rows = [("outerring", i, la, lo, "outer") for i, (la, lo) in enumerate(ccw)]
    rows += [("holering", i, la, lo, "inner") for i, (la, lo) in enumerate(ccw)]
    df = spark.createDataFrame(
        rows, "ring_id string, ord int, lat long, lon long, role string"
    )
    out = normalize_rings(df, "ring_id", ["ord"], role_col="role").collect()
    by = {}
    for r in out:
        by.setdefault(r["ring_id"], []).append(r)
    for rid in by:
        by[rid].sort(key=lambda r: r["pos"])
    # outer keeps ccw; the SAME ccw ring as a hole must flip to cw
    assert not by["outerring"][0]["was_reversed"]
    assert by["holering"][0]["was_reversed"]
    assert [(r["lat"], r["lon"]) for r in by["holering"]] == [ccw[0]] + list(
        reversed(ccw[1:])
    )
    # partition invariance
    out2 = normalize_rings(df.repartition(5), "ring_id", ["ord"], role_col="role").collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))


def test_hillshade_grid_matches_horn_model_and_ramp_invariant(spark):
    """hillshade_grid vs a numpy restatement of Horn's method over the
    occupied+dilated cell set (absent neighbors = 0), on random points;
    plus the ramp invariant: a uniform-count east-increasing staircase
    grid has aspect pointing due west in the interior (atan2 convention:
    dzdx > 0, dzdy = 0 -> aspect = pi) and identical interior slope."""
    import math

    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.functions.cells import quantize_np
    from osmflat_rs_spark.operators.tiling import hillshade_grid

    rng = np.random.RandomState(29)
    n = 2500
    lat = (524_000_000 + rng.randint(0, 1_000_000, n)).astype("int64")
    lon = (132_000_000 + rng.randint(0, 2_000_000, n)).astype("int64")
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    res = 16
    got = {
        (r["ix"], r["iy"]): r
        for r in hillshade_grid(
            spark.createDataFrame(pdf), "lat", "lon", res=res
        ).collect()
    }

    ix = quantize_np(lon, 180 * 10_000_000, 360 * 10_000_000, res)
    iy = quantize_np(lat, 90 * 10_000_000, 180 * 10_000_000, res)
    z = {}
    for a, b in zip(ix, iy):
        z[(int(a), int(b))] = z.get((int(a), int(b)), 0) + 1
    targets = {(c[0] - rx, c[1] - ry) for c in z for rx in (-1, 0, 1) for ry in (-1, 0, 1)}
    assert set(got) == targets
    zen = math.radians(45.0)
    azm = math.radians(135.0)
    for t in targets:
        zn = lambda rx, ry: z.get((t[0] + rx, t[1] + ry), 0)
        sx = sum(zn(rx, ry) * rx * (2 - abs(ry)) for rx in (-1, 0, 1) for ry in (-1, 0, 1))
        sy = sum(zn(rx, ry) * ry * (2 - abs(rx)) for rx in (-1, 0, 1) for ry in (-1, 0, 1))
        dzdx, dzdy = sx / 8.0, sy / 8.0
        slope = math.atan(math.hypot(dzdx, dzdy))
        aspect = 0.0 if dzdx == 0 and dzdy == 0 else math.atan2(dzdy, -dzdx)
        shade = 255.0 * max(
            0.0,
            math.cos(zen) * math.cos(slope)
            + math.sin(zen) * math.sin(slope) * math.cos(azm - aspect),
        )
        r = got[t]
        assert r["n_self"] == z.get(t, 0)
        assert abs(r["dzdx"] - dzdx) < 1e-12 and abs(r["dzdy"] - dzdy) < 1e-12
        assert abs(math.radians(r["slope_deg"]) - slope) < 1e-12
        assert abs(r["aspect_rad"] - aspect) < 1e-12
        assert abs(r["hillshade"] - shade) < 1e-9

    # ramp: cell column k (east) gets k points -> interior dzdx = 1,
    # dzdy = 0 (cellsize 1), aspect = atan2(0, -1) = pi, slope = 45 deg
    rows = []
    eid = 0
    for k in range(1, 9):
        for j in range(6):
            for _ in range(k):
                # one point per (col k, row j) repetition, centered in cell
                rows.append((524_000_000 + j * 27466 + 100,
                             132_000_000 + k * 54932 + 100))
                eid += 1
    ramp = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    out = {(r["ix"], r["iy"]): r for r in hillshade_grid(ramp, res=16).collect()}
    occupied = sorted({c for c in out if out[c]["n_self"] > 0})
    xs = sorted({c[0] for c in occupied})
    ys = sorted({c[1] for c in occupied})
    interior = [c for c in occupied if c[0] in xs[1:-1] and c[1] in ys[1:-1]]
    assert interior
    for c in interior:
        r = out[c]
        assert abs(r["dzdx"] - 1.0) < 1e-12 and abs(r["dzdy"]) < 1e-12
        assert abs(r["aspect_rad"] - math.pi) < 1e-12
        assert abs(r["slope_deg"] - 45.0) < 1e-9


def test_viewshed_wall_occlusion_and_model_parity(spark):
    """A tall wall hides low cells behind it but not a tower that peeks
    over; cells in front stay visible; full parity with a python
    restatement of the same DDA + slope-compare on random fields."""
    import math

    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.functions.cells import quantize_np
    from osmflat_rs_spark.operators.tiling import viewshed_grid

    res = 16
    # work directly in grid space: pick a base cell and offsets
    base_lat, base_lon = 524_000_000, 132_000_000
    cell_lat = 1_800_000_000 / (1 << 16)
    cell_lon = 3_600_000_000 / (1 << 16)

    def coord(dx, dy):
        # center of the cell at (base + dx, base + dy)
        return (int(base_lat + (dy + 0.5) * cell_lat),
                int(base_lon + (dx + 0.5) * cell_lon))

    rows = []
    def put(dx, dy, n):
        la, lo = coord(dx, dy)
        rows.extend([(la, lo)] * n)

    put(0, 0, 1)      # observer cell, z=1
    put(2, 0, 9)      # the wall, z=9
    put(1, 0, 2)      # in front of the wall: visible
    put(4, 0, 2)      # low, behind the wall: hidden
    put(6, 0, 40)     # tall tower behind: peeks over
    put(0, 3, 3)      # off-axis: visible
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    ox = int(quantize_np(np.array([coord(0, 0)[1]]), 180 * 10_000_000, 360 * 10_000_000, res)[0])
    oy = int(quantize_np(np.array([coord(0, 0)[0]]), 90 * 10_000_000, 180 * 10_000_000, res)[0])
    got = {
        (r["ix"] - ox, r["iy"] - oy): (r["z"], r["visible"])
        for r in viewshed_grid(df, (ox, oy), observer_height=0.0, res=res).collect()
    }
    assert got[(1, 0)] == (2.0, True)
    assert got[(2, 0)] == (9.0, True)
    assert got[(4, 0)] == (2.0, False)   # wall slope 9-1 over d=2 blocks
    assert got[(6, 0)] == (40.0, True)   # 40 @ d=6 beats wall slope
    assert got[(0, 3)] == (3.0, True)

    # random-field parity with a python model
    rng = np.random.default_rng(71)
    field = {}
    for _ in range(60):
        field[(int(rng.integers(0, 12)), int(rng.integers(0, 12)))] = int(rng.integers(1, 8))
    rows2 = []
    for (dx, dy), n in field.items():
        la, lo = coord(dx, dy)
        rows2.extend([(la, lo)] * n)
    df2 = spark.createDataFrame(pd.DataFrame(rows2, columns=["lat", "lon"]))
    got2 = {
        (r["ix"] - ox, r["iy"] - oy): r["visible"]
        for r in viewshed_grid(df2, (ox, oy), observer_height=2.0, res=res).collect()
    }

    def dda(x0, y0, x1, y1):
        m = max(abs(x1 - x0), abs(y1 - y0))
        sx = 1 if x1 >= x0 else -1
        sy = 1 if y1 >= y0 else -1
        return [(x0 + sx * ((2 * abs(x1 - x0) * i + m) // (2 * m)),
                 y0 + sy * ((2 * abs(y1 - y0) * i + m) // (2 * m)))
                for i in range(m + 1)] if m else [(x0, y0)]

    zo = field.get((0, 0), 0) + 2.0
    for t, zt in field.items():
        if t == (0, 0):
            continue
        dt = math.sqrt(t[0] ** 2 + t[1] ** 2)
        blocked = False
        for c in dda(0, 0, t[0], t[1]):
            if c == (0, 0) or c == t:
                continue
            zc = float(field.get(c, 0))
            dc = math.sqrt(c[0] ** 2 + c[1] ** 2)
            if (zc - zo) * dt >= (zt - zo) * dc:
                blocked = True
        assert got2[t] == (not blocked), t


def test_hexbin_nearest_center_property(spark):
    """Cube-round hex assignment IS nearest-center assignment for a
    regular pointy-top hex lattice: verify every random point's assigned
    hex center is (weakly) closest among the 3x3 axial neighborhood, and
    that the bin counts conserve the point count."""
    import numpy as np

    from osmflat_rs_spark.operators.tiling import hexbin_agg, _SQ3

    rng = np.random.default_rng(42)
    n = 4000
    size = 1_000_000
    lat = rng.integers(-80_000_000, 80_000_000, n)
    lon = rng.integers(-170_000_000, 170_000_000, n)
    df = spark.createDataFrame(
        list(zip(range(n), map(int, lat), map(int, lon))), "pid long, lat long, lon long"
    )
    out = hexbin_agg(df, size=size).collect()
    assert sum(r["n"] for r in out) == n

    # per-point assignment via the same exprs, checked against brute force
    from osmflat_rs_spark.operators.tiling import hex_qr_exprs
    from pyspark.sql import functions as F

    qc, rc = hex_qr_exprs(F.col("lat"), F.col("lon"), size)
    rows = df.select("lat", "lon", qc.alias("q"), rc.alias("r")).collect()
    for row in rows[:500]:
        x, y = float(row["lon"]), float(row["lat"])
        q0, r0 = row["q"], row["r"]

        def center(q, r):
            return (size * _SQ3 * (q + r / 2.0), size * 1.5 * r)

        cx0, cy0 = center(q0, r0)
        d0 = (x - cx0) ** 2 + (y - cy0) ** 2
        for dq in (-1, 0, 1):
            for dr in (-1, 0, 1):
                cx, cy = center(q0 + dq, r0 + dr)
                d = (x - cx) ** 2 + (y - cy) ** 2
                # strict closer-neighbor would mean a wrong bin; allow
                # boundary ties within float epsilon of the compare
                assert d >= d0 * (1 - 1e-12), (q0, r0, dq, dr, d, d0)


def test_hexbin_value_sum(spark):
    from osmflat_rs_spark.operators.tiling import hexbin_agg

    df = spark.createDataFrame(
        [(1, 10, 10, 2.0), (2, 12, 11, 3.0), (3, 90_000_000, 0, 5.0)],
        "pid long, lat long, lon long, v double",
    )
    out = {(r["q"], r["r"]): r for r in hexbin_agg(df, size=1_000_000, value_col="v").collect()}
    # first two points share the origin hex; the third is far away
    assert out[(0, 0)]["n"] == 2 and out[(0, 0)]["sum_val"] == 5.0
    assert sum(r["n"] for r in out.values()) == 3


def test_join_counts_matches_bruteforce(spark):
    """join_counts vs the dense NumPy rook-pair enumeration: exact BB/WW/
    BW/J/degree-moment, bit-identical Cliff-Ord E/Var/z (chained-division
    form), plus clumped > dispersed sanity on z."""
    import numpy as np

    from osmflat_rs_spark.functions.cells import MAX_RES  # noqa: F401  (import sanity)
    from osmflat_rs_spark.operators.tiling import join_counts

    # direct cell-level check: feed one point per cell so count>=1 marks
    # everything; use threshold on duplicated points to set the marks
    rng = np.random.RandomState(23)
    res = 15
    # occupied block of 12x9 cells; black = duplicated (2 points)
    W, H = 12, 9
    blk = rng.rand(H, W) < 0.4
    # synthesize fixed-point coords that land in cell (ix0+dx, iy0+dy):
    # invert the quantizer ix = (lon + 1.8e9) * 2^res // 3.6e9
    ix0, iy0 = 11111, 7777
    rows = []
    nid = 0
    for dy in range(H):
        for dx in range(W):
            lon = int((ix0 + dx + 0.5) * 3_600_000_000 / (1 << res)) - 1_800_000_000
            lat = int((iy0 + dy + 0.5) * 1_800_000_000 / (1 << res)) - 900_000_000
            for _ in range(2 if blk[dy, dx] else 1):
                rows.append((nid, lat, lon)); nid += 1
    df = spark.createDataFrame(rows, "node_idx long, lat long, lon long").repartition(5)
    r = join_counts(df, res=res, threshold=2).collect()[0]

    n = W * H
    nb = int(blk.sum())
    bb = ww = bw = jj = 0
    deg = np.zeros((H, W), dtype=np.int64)
    for dy in range(H):
        for dx in range(W):
            for ndy, ndx in ((0, 1), (1, 0)):
                ny, nx = dy + ndy, dx + ndx
                if ny < H and nx < W:
                    jj += 1
                    deg[dy, dx] += 1
                    deg[ny, nx] += 1
                    a, b = blk[dy, dx], blk[ny, nx]
                    bb += a and b; ww += (not a) and (not b); bw += a != b
    m = int((deg * (deg - 1)).sum())
    assert (r["n"], r["nb"], r["jj"], r["bb"], r["ww"], r["bw"]) == (n, nb, jj, bb, ww, bw)
    p2 = float(nb * (nb - 1)) / float(n * (n - 1))
    p3 = p2 * float(nb - 2) / float(n - 2)
    p4 = p2 * float((nb - 2) * (nb - 3)) / float((n - 2) * (n - 3))
    e = float(jj) * p2
    var = float(jj) * p2 + float(m) * p3 + float(jj * (jj - 1) - m) * p4 - e * e
    assert r["e_bb"] == e
    assert r["var_bb"] == var
    assert r["z_bb"] == (float(bb) - e) / var ** 0.5


def test_join_counts_degenerate_all_one_color(spark):
    """All-White row of 30 adjacent cells: WW = 29, z_bb NULL (Var = 0);
    and a 1-cell input returns NULL stats instead of an ANSI
    divide-by-zero (try_divide guard)."""
    from osmflat_rs_spark.operators.tiling import join_counts

    res = 10
    rows = [
        (
            i,
            int((500 + 0.5) * 1_800_000_000 / (1 << res)) - 900_000_000,
            int((300 + i + 0.5) * 3_600_000_000 / (1 << res)) - 1_800_000_000,
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "node_idx long, lat long, lon long")
    r = join_counts(df, res=res, threshold=5).collect()[0]
    assert (r["n"], r["nb"], r["jj"]) == (30, 0, 29)
    assert (r["bb"], r["ww"], r["bw"]) == (0, 29, 0)
    assert r["e_bb"] == 0.0 and r["var_bb"] == 0.0
    assert r["z_bb"] is None

    one = spark.createDataFrame([(1, 0, 0), (2, 1, 1)], "node_idx long, lat long, lon long")
    r1 = join_counts(one, res=res, threshold=1).collect()[0]
    assert r1["n"] == 1 and r1["z_bb"] is None and r1["var_bb"] is None


def test_grid_diversity_matches_model(spark):
    """grid_diversity vs a Python model on hand-placed cells: exact n /
    richness / Simpson, entropy to 1e-12 of -Σ p·ln p (the ln(n) −
    Σc·ln(c)/n identity), NULL category is its own class, single-class
    cell has entropy 0 and simpson 0."""
    import math

    from osmflat_rs_spark.operators.tiling import grid_diversity

    res = 12
    def cell_coords(ix, iy):
        lon = int((ix + 0.5) * 3_600_000_000 / (1 << res)) - 1_800_000_000
        lat = int((iy + 0.5) * 1_800_000_000 / (1 << res)) - 900_000_000
        return lat, lon

    mixes = {
        (100, 200): ["a"] * 4 + ["b"] * 4,           # uniform 2-class
        (101, 200): ["a"] * 6 + ["b"] * 2 + [None],  # skewed 3-class w/ NULL
        (102, 200): ["z"] * 5,                        # single class
    }
    rows = []
    i = 0
    for (ix, iy), cats in mixes.items():
        la, lo = cell_coords(ix, iy)
        for c in cats:
            rows.append((i, la, lo, c)); i += 1
    df = spark.createDataFrame(rows, "node_idx long, lat long, lon long, cat string").repartition(3)
    got = {(r["ix"], r["iy"]): r for r in grid_diversity(df, "cat", res=res).collect()}

    for (ix, iy), cats in mixes.items():
        from collections import Counter

        cnt = Counter(cats)
        n = len(cats)
        r = got[(ix, iy)]
        assert (r["n"], r["richness"]) == (n, len(cnt))
        h = -sum((c / n) * math.log(c / n) for c in cnt.values())
        s = 1.0 - sum(c * c for c in cnt.values()) / (n * n)
        assert abs(r["entropy"] - h) < 1e-12
        assert abs(r["simpson"] - s) < 1e-15
    single = got[(102, 200)]
    assert single["entropy"] == 0.0 and single["simpson"] == 0.0


def test_focal_mode_matches_brute_force(spark):
    """Struct-min majority equals the brute-force Chebyshev model
    including the (count desc, cat asc) tie-break; radius 0 is the
    per-cell mode; negative radius raises."""
    import numpy as np
    import pytest as _pytest

    from osmflat_rs_spark.functions.cells import MAX_RES  # noqa: F401
    from osmflat_rs_spark.operators.tiling import focal_mode

    rng = np.random.default_rng(53)
    cats = ["a", "b", "c"]
    # small fixed-point lat/lon patch so several cells are adjacent
    rows = []
    for i in range(400):
        la = int(rng.integers(0, 40)) * 27466 + 5
        lo = int(rng.integers(0, 40)) * 54932 + 5
        rows.append((la, lo, cats[int(rng.integers(0, 3))]))
    rows.append((None, 123, "a"))
    df = spark.createDataFrame(rows, "lat long, lon long, cat string")
    res = 16
    span_lon, span_lat = 3_600_000_000, 1_800_000_000

    def cell(la, lo):
        ix = max(0, min((1 << res) - 1, (lo + span_lon // 2) * (1 << res) // span_lon))
        iy = max(0, min((1 << res) - 1, (la + span_lat // 2) * (1 << res) // span_lat))
        return ix, iy

    from collections import Counter, defaultdict

    per = defaultdict(Counter)
    for la, lo, c in rows:
        if la is not None:
            per[cell(la, lo)][c] += 1
    for radius in (0, 1):
        got = {
            (r["ix"], r["iy"]): r.asDict()
            for r in focal_mode(df, "cat", res=res, radius=radius).collect()
        }
        assert set(got) == set(per)
        for (ix, iy), cnt in per.items():
            acc = Counter()
            for (jx, jy), c2 in per.items():
                if abs(jx - ix) <= radius and abs(jy - iy) <= radius:
                    acc.update(c2)
            mode_cat, n_mode = min(acc.items(), key=lambda kv: (-kv[1], kv[0]))
            r = got[(ix, iy)]
            assert r["n_self"] == sum(cnt.values())
            assert r["n_focal"] == sum(acc.values())
            assert (r["mode_cat"], r["n_mode"]) == (mode_cat, n_mode)
    with _pytest.raises(ValueError):
        focal_mode(df, "cat", radius=-1)


def test_curvature_grid_matches_quadric_model(spark):
    """ZT curvature against the direct 3x3 quadric model on a dense
    synthetic patch; flat cells pinned to exactly 0.0; halo cells
    (n_self=0) present and correct."""
    import numpy as np

    from osmflat_rs_spark.operators.tiling import curvature_grid

    rng = np.random.default_rng(97)
    # build a deterministic multiset of points over a small patch
    rows = []
    counts = {}
    for gx in range(10):
        for gy in range(10):
            c = int(rng.integers(0, 5))
            counts[(gx, gy)] = c
            la = gy * 27466 + 3
            lo = gx * 54932 + 3
            rows += [(la, lo)] * c
    df = spark.createDataFrame(rows, "lat long, lon long")
    res = 16

    def cell(la, lo):
        ix = (lo + 1_800_000_000) * (1 << res) // 3_600_000_000
        iy = (la + 900_000_000) * (1 << res) // 1_800_000_000
        return ix, iy

    z = {}
    for (gx, gy), c in counts.items():
        if c:
            z[cell(gy * 27466 + 3, gx * 54932 + 3)] = float(c)
    got = {(r["ix"], r["iy"]): r.asDict() for r in curvature_grid(df, res=res).collect()}
    want_cells = set()
    for (ix, iy) in z:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                want_cells.add((ix + dx, iy + dy))
    assert set(got) == want_cells
    for (ix, iy) in want_cells:

        def zz(dx, dy):
            return z.get((ix + dx, iy + dy), 0.0)

        z5 = zz(0, 0)
        d = (zz(-1, 0) + zz(1, 0)) / 2 - z5
        e = (zz(0, -1) + zz(0, 1)) / 2 - z5
        f = sum(zz(dx, dy) * dx * dy for dx in (-1, 1) for dy in (-1, 1)) / 4.0
        gg = (-zz(-1, 0) + zz(1, 0)) / 2.0
        h = (-zz(0, -1) + zz(0, 1)) / 2.0
        r = got[(ix, iy)]
        assert r["n_self"] == int(z5)
        assert abs(r["general"] - (-2.0) * (d + e)) < 1e-6
        if gg == 0 and h == 0:
            assert r["profile"] == 0.0 and r["plan"] == 0.0
        else:
            den = gg * gg + h * h
            assert abs(r["profile"] - (-2.0) * (d * gg * gg + e * h * h + f * gg * h) / den) < 1e-6
            assert abs(r["plan"] - 2.0 * (d * h * h + e * gg * gg - f * gg * h) / den) < 1e-6


def test_weighted_overlay_matches_model(spark):
    """Min-max normalize + 60/40 blend against the brute model; suit
    spans [0,1]; degenerate single-cell layer normalizes to 0."""
    import numpy as np

    from osmflat_rs_spark.operators.tiling import weighted_overlay

    rng = np.random.default_rng(113)
    rows = []
    for gx in range(8):
        for gy in range(8):
            c = int(rng.integers(1, 15))
            rows += [(gy * 27466 + 3, gx * 54932 + 3)] * c
    df = spark.createDataFrame(rows, "lat long, lon long")
    res = 16
    got = {(r["ix"], r["iy"]): r.asDict()
           for r in weighted_overlay(df, res=res, radius=1).collect()}
    ns = {k: v["n_self"] for k, v in got.items()}
    nf = {k: v["n_focal"] for k, v in got.items()}
    d0, d1 = min(ns.values()), max(ns.values())
    f0, f1 = min(nf.values()), max(nf.values())
    for k, r in got.items():
        nd = 0.0 if d1 == d0 else (ns[k] - d0) / (d1 - d0)
        ff = 0.0 if f1 == f0 else (nf[k] - f0) / (f1 - f0)
        want = (60.0 * nd + 40.0 * ff) / 100.0
        assert abs(r["suit"] - want) < 1e-12
        assert 0.0 <= r["suit"] <= 1.0
    one = spark.createDataFrame([(100, 100)], "lat long, lon long")
    r = weighted_overlay(one, res=res).collect()[0]
    assert r["suit"] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        weighted_overlay(df, w_density=0, w_focal=0)


def test_dda_pixels_distinct_equals_oracle_dda_line(spark):
    """The engine's one DDA stage emits exactly the set of
    ``oracle.dda_line`` pixels per segment row — including degenerate
    (m=0) segments, negative coordinates, duplicate segments, and
    multi-id partitions."""
    import numpy as np

    from osmflat_rs_spark.operators.tiling import dda_pixels_distinct

    rng = np.random.default_rng(41)
    rows = []
    for i in range(400):
        uid = int(rng.integers(0, 7))
        x0, y0, x1, y1 = (int(v) for v in rng.integers(-80, 80, size=4))
        if i % 17 == 0:
            x1, y1 = x0, y0  # degenerate single-pixel segment
        rows.append((uid, x0, y0, x1, y1))
    rows += rows[:25]  # duplicate segments must still dedup
    seg = spark.createDataFrame(
        rows, "user_id long, x0 long, y0 long, x1 long, y1 long"
    ).repartition(4, "user_id")
    want = sorted(
        {(uid, x, y) for uid, x0, y0, x1, y1 in rows for x, y in oracle.dda_line(x0, y0, x1, y1)}
    )
    got = [tuple(r) for r in dda_pixels_distinct(seg, ["user_id"]).collect()]
    assert len(want) > 400
    assert len(got) == len(set(got))
    assert sorted(got) == want
