"""Spatial operator golden tests: two-phase PIP join and kNN vs
brute-force oracles (north-rule extensions)."""

import pytest

from osmflat_rs_spark import oracle
from osmflat_rs_spark.operators.spatial_join import pip_join
from tests.util import assert_frames_equal, normalize


def test_pip_join_exact(tables, model, poly_df, poly_pdf):
    got = pip_join(tables["nodes"], poly_df)
    want = oracle.q_pip_join(model, poly_pdf)
    assert len(want) > 0
    assert_frames_equal(got, want, ["polygon_id", "node_idx"])


def test_pip_join_salted_invariant(tables, model, poly_df, poly_pdf):
    """Salting must not change results (only the physical layout)."""
    got = pip_join(tables["nodes"], poly_df, salt=4)
    want = oracle.q_pip_join(model, poly_pdf)
    assert_frames_equal(got, want, ["polygon_id", "node_idx"])


def test_pip_join_res_invariant(tables, model, poly_df, poly_pdf):
    """Cover resolution is a performance knob, not a semantic one."""
    want = oracle.q_pip_join(model, poly_pdf)
    for res in (8, 12):
        got = pip_join(tables["nodes"], poly_df, cover_res=res)
        assert_frames_equal(got, want, ["polygon_id", "node_idx"])


def test_pip_join_shuffle_mode_same_results(tables, model, poly_df, poly_pdf):
    """The no-broadcast (10^12-scale) path must produce identical pairs,
    salted or not."""
    from osmflat_rs_spark.operators.spatial_join import pip_join_shuffle

    want = oracle.q_pip_join(model, poly_pdf)
    got = pip_join_shuffle(tables["nodes"], poly_df, cover_res=12)
    assert_frames_equal(got, want, ["polygon_id", "node_idx"])
    got_salted = pip_join_shuffle(tables["nodes"], poly_df, cover_res=12, salt=4)
    assert_frames_equal(got_salted, want, ["polygon_id", "node_idx"])


def test_cluster_by_cell_layout(tables):
    """Per-partition sorted cell arrays: within every partition the cell
    column is non-decreasing, and partition cell-ranges don't interleave."""
    from osmflat_rs_spark.functions.cells import cluster_by_cell
    from pyspark.sql import functions as F

    clustered = cluster_by_cell(tables["nodes"], num_partitions=8)
    stats = (
        clustered.select(F.spark_partition_id().alias("pid"), "cell")
        .groupBy("pid")
        .agg(F.min("cell").alias("mn"), F.max("cell").alias("mx"), F.count("*").alias("n"))
        .orderBy("pid")
        .collect()
    )
    nonempty = [r for r in stats if r["n"] > 0]
    for a, b in zip(nonempty, nonempty[1:]):
        assert a["mx"] <= b["mn"]  # ranges ordered, no interleaving
    # and rows are sorted within partitions
    def check(it):
        import pandas as pd
        for pdf in it:
            yield pd.DataFrame({"ok": [bool(pdf["cell"].is_monotonic_increasing)]})

    oks = clustered.select("cell").mapInPandas(check, schema="ok boolean").collect()
    assert all(r["ok"] for r in oks)


def test_knn_bulk_matches_oracle(tables, model, spark):
    """The driver-loop-free bulk kNN must equal the oracle, including when
    the radius forces the exact-fallback path for every query."""
    from osmflat_rs_spark.operators.knn import knn_join_bulk

    queries = oracle.generate_query_points()
    qdf = spark.createDataFrame(queries)
    want = oracle.q_knn(model, queries, k=5)
    got = knn_join_bulk(tables["nodes"], qdf, k=5, radius_m=1500.0)
    assert_frames_equal(got, want, ["query_id", "rank", "node_idx", "dist_m"])
    # tiny radius → all queries take the fallback; still exact
    got2 = knn_join_bulk(tables["nodes"], qdf, k=5, radius_m=5.0)
    assert_frames_equal(got2, want, ["query_id", "rank", "node_idx", "dist_m"])


def test_knn_bulk_sqeuclid_matches_bruteforce(tables, spark):
    """The exact integer sqeuclid metric path (pure-JVM distance) must
    equal a NumPy brute-force oracle with the same (d2, id) tie-break."""
    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.operators.knn import knn_join_bulk

    pts = tables["nodes"].select("node_idx", "lat", "lon").toPandas()
    queries = oracle.generate_query_points().head(8)
    qdf = spark.createDataFrame(queries)
    got = knn_join_bulk(
        tables["nodes"], qdf, k=5, radius_m=3_000_000, metric="sqeuclid"
    )
    rows = []
    for q in queries.itertuples():
        d2 = (pts["lat"].to_numpy() - q.lat) ** 2 + (pts["lon"].to_numpy() - q.lon) ** 2
        order = np.lexsort((pts["node_idx"].to_numpy(), d2))[:5]
        for r, j in enumerate(order, start=1):
            rows.append((q.query_id, r, int(pts["node_idx"].iloc[j]), int(d2[j])))
    want = pd.DataFrame(rows, columns=["query_id", "rank", "node_idx", "dist_m"])
    assert_frames_equal(got, want, ["query_id", "rank", "node_idx", "dist_m"])


def test_radius_join_matches_oracle(tables, model, spark):
    """Exact all-pairs-within-r vs the brute-force pandas oracle — the
    cover-superset construction makes the operator unconditionally exact,
    at any radius, with the broadcast AND sort-merge cover paths."""
    from osmflat_rs_spark.operators.knn import radius_join

    queries = oracle.generate_query_points()
    qdf = spark.createDataFrame(queries)
    for r in (300.0, 1500.0):
        want = oracle.q_radius_join(model, queries, r)
        got = radius_join(tables["nodes"], qdf, radius_m=r)
        assert len(want) > 0
        assert_frames_equal(got, want, ["query_id", "node_idx", "dist_m"])
    # sort-merge degrade path: identical pairs
    got_sm = radius_join(tables["nodes"], qdf, radius_m=300.0, broadcast_cover=False)
    assert_frames_equal(got_sm, oracle.q_radius_join(model, queries, 300.0),
                        ["query_id", "node_idx", "dist_m"])
    # a radius tighter than any neighbor → empty result, no crash
    assert radius_join(tables["nodes"], qdf, radius_m=0.001).count() == 0


def test_radius_join_sqeuclid_exact_boundary(tables, spark):
    """sqeuclid radius join: int64 d² against an EXACT integer bound —
    a point exactly ON the boundary circle must be included."""
    import pandas as pd

    from osmflat_rs_spark.operators.knn import radius_join

    pts = tables["nodes"].select("node_idx", "lat", "lon").toPandas()
    # query due south of a real node by exactly 30000 fixed units
    n0 = pts.iloc[0]
    queries = pd.DataFrame(
        {"query_id": ["q0"], "lat": [int(n0["lat"]) - 30000], "lon": [int(n0["lon"])]}
    )
    got = radius_join(
        tables["nodes"],
        spark.createDataFrame(queries),
        radius_m=30000,
        metric="sqeuclid",
        res=14,
    ).toPandas()
    d2 = (pts["lat"].to_numpy() - queries["lat"][0]) ** 2 + (
        pts["lon"].to_numpy() - queries["lon"][0]
    ) ** 2
    want_ids = sorted(int(i) for i in pts["node_idx"][d2 <= 30000**2])
    assert int(n0["node_idx"]) in want_ids  # the boundary point itself
    assert sorted(got["node_idx"].tolist()) == want_ids
    assert (got["dist_m"] <= 30000**2).all()


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_knn_gate_settled(sf_dir):
    """q_knn_events runs with exact_fallback=False; this asserts the
    precondition that makes that sound: at the gate radius every query
    finds ≥k candidates with d2 ≤ radius² inside the bbox cover."""
    import numpy as np
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id"]).to_pandas()
    lat = e.LAT0 + (t["event_id"].to_numpy(np.int64) * e.A_LAT) % e.LATSPAN
    lon = e.LON0 + (t["event_id"].to_numpy(np.int64) * e.A_LON) % e.LONSPAN
    r = e.KNN_RADIUS_FIXED
    for _qid, qla, qlo in e.KNN_QUERIES:
        d2 = (lat - qla) ** 2 + (lon - qlo) ** 2
        n_inside = int((d2 <= r * r).sum())
        assert n_inside >= e.KNN_K, (
            f"{_qid} at {sf_dir}: only {n_inside} points within radius "
            f"{r} — gate would silently drop rows without the fallback"
        )


def test_knn_gate_plan_has_no_crossjoin(spark):
    """VERDICT r01 fix #2: the gate's plan must be the cell equi-join —
    no full-corpus CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    import __spark_entry__ as e

    df = e.q_knn_events(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan[:4000]
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_knn_bulk_construction_is_lazy(tables, spark):
    """VERDICT r02 #6: constructing knn_join_bulk with the default
    exact_fallback=True must run NO Spark jobs (the old form probed
    unsettled.isEmpty() eagerly and leaked a persisted frame). The
    settled short-circuit now lives in the plan: when every query
    settles, AQE turns the brute-force branch's empty broadcast build
    into an EmptyRelation, so the full point scan never executes."""
    from osmflat_rs_spark.operators.knn import knn_join_bulk

    sc = spark.sparkContext
    queries = oracle.generate_query_points()
    qdf = spark.createDataFrame(queries)
    sc.setJobGroup("knn-construct", "construction must be lazy")
    try:
        out = knn_join_bulk(tables["nodes"], qdf, k=5, radius_m=1500.0)
        jobs = sc.statusTracker().getJobIdsForGroup("knn-construct")
        assert list(jobs) == [], f"construction ran jobs: {list(jobs)}"
    finally:
        sc.setJobGroup(None, None)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "EmptyRelation" in plan, "settled run must collapse the fallback branch"


def test_pip_join_micro_polygon_max_res(spark):
    """A ~100-fixed-unit polygon forces pick_cover_res to clamp at
    MAX_RES=30, where lat cells are ~1.68 units wide — the regime where
    the old cell 'center' fell into the neighboring row for ~16% of rows
    and the cover classification tested a point outside the cell
    (dropped contained points / wrong interior marks). Engine must match
    the exact scalar oracle point-for-point."""
    from osmflat_rs_spark.operators.spatial_join import pip_join
    from osmflat_rs_spark.oracle import pip_scalar

    cx, cy = 132000000, 524000000
    ring = [(cx - 60, cy - 50), (cx + 55, cy - 45), (cx + 50, cy + 60), (cx - 45, cy + 52)]
    polys = spark.createDataFrame(
        [("micro", [(la, lo) for lo, la in ring], "t")],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    pts_rows = [(i, cy - 80 + (i % 41) * 4, cx - 80 + (i // 41) * 4) for i in range(41 * 41)]
    pts = spark.createDataFrame(pts_rows, schema="node_idx long, lat long, lon long")
    got = {r["node_idx"] for r in pip_join(pts, polys).collect()}
    want = {i for i, la, lo in pts_rows if pip_scalar(lo, la, ring)}
    assert got == want and len(want) > 0


def test_pip_anti_join_partitions_points(spark):
    """pip_anti_join must be the exact complement of pip_join's matched
    id set; with a polygon entirely outside the data bbox the anti side
    is ALL points; boundary points count as contained (excluded)."""
    from osmflat_rs_spark.fixtures import generate_polygons, polygons_to_spark
    from osmflat_rs_spark.operators.spatial_join import pip_anti_join, pip_join

    pts = spark.read.parquet("/root/testdata/sf0.001/events.parquet").selectExpr(
        "event_id",
        "CAST(524000000 + (event_id * 48271) % 2000000 AS LONG) AS lat",
        "CAST(132000000 + (event_id * 16807) % 4000000 AS LONG) AS lon",
    )
    polys = polygons_to_spark(spark, generate_polygons(n_poly=6))
    inside = {r["event_id"] for r in pip_join(pts, polys, point_id="event_id").select("event_id").distinct().collect()}
    outside = {r["event_id"] for r in pip_anti_join(pts, polys, point_id="event_id").collect()}
    n = pts.count()
    assert inside.isdisjoint(outside) and len(inside) + len(outside) == n
    assert len(inside) > 0  # fixture polygons overlap the synth box

    far = polys.selectExpr("polygon_id",
        "transform(ring, v -> struct(v.lat AS lat, v.lon + 1000000000 AS lon)) AS ring", "kind")
    assert pip_anti_join(pts, far, point_id="event_id").count() == n


def test_polygon_intersect_join_edge_shapes(spark):
    """Hand-built shapes around Berlin-ish coords: disjoint, vertex
    touch, edge-collinear touch, containment, the plus-sign PROPER
    crossing (no vertex of either inside the other), identical rings —
    all boundary-inclusive; result invariant to cover resolution."""
    from osmflat_rs_spark.operators.spatial_join import polygon_intersect_join

    X, Y = 132_000_000, 524_000_000

    def rect(pid, x0, y0, x1, y1):
        return (pid, [(y0, x0), (y0, x1), (y1, x1), (y1, x0)])

    rows = [
        rect("base", X, Y, X + 1000, Y + 1000),
        rect("disjoint", X + 5000, Y + 5000, X + 6000, Y + 6000),
        rect("vertex_touch", X + 1000, Y + 1000, X + 2000, Y + 2000),
        rect("edge_touch", X + 1000, Y + 200, X + 2000, Y + 800),
        rect("contained", X + 200, Y + 200, X + 800, Y + 800),
        rect("identical", X, Y, X + 1000, Y + 1000),
        # plus-sign partner for 'cross_h' below
        rect("cross_v", X + 10400, Y + 10000, X + 10600, Y + 11000),
        rect("cross_h", X + 10000, Y + 10400, X + 11000, Y + 10600),
    ]
    polys = spark.createDataFrame(
        [(pid, [{"lat": la, "lon": lo} for la, lo in ring]) for pid, ring in rows],
        "pid string, ring array<struct<lat:long,lon:long>>",
    )
    want = {
        ("base", "contained"), ("base", "edge_touch"), ("base", "identical"),
        ("base", "vertex_touch"), ("contained", "identical"),
        ("edge_touch", "identical"), ("identical", "vertex_touch"),
        ("edge_touch", "vertex_touch"),  # share the corner at (X+1000, Y+800)? no — check below
        ("cross_h", "cross_v"),
    }
    # edge_touch spans x in [X+1000, X+2000], y in [Y+200, Y+800];
    # vertex_touch spans x in [X+1000, X+2000], y in [Y+1000, Y+2000]:
    # disjoint in y (800 < 1000) — drop that pair from want
    want.discard(("edge_touch", "vertex_touch"))
    for res in (12, 14, 16):
        got = {
            tuple(sorted((r["id_a"], r["id_b"])))
            for r in polygon_intersect_join(
                polys, polys, id_a="pid", id_b="pid", res=res, self_join=True
            ).collect()
        }
        assert got == want, (res, sorted(got ^ want))


def test_batched_vertex_kernel_matches_scalar():
    """pip.batched_any_vertex_in row i == points_in_polygon(row i).any()
    on random star polygons and random probe points — the batched form
    must be bit-identical to the one-polygon kernel it parallelizes."""
    import numpy as np

    from osmflat_rs_spark.functions.pip import batched_any_vertex_in, points_in_polygon

    rng = np.random.default_rng(7)
    X, Y = 132_000_000, 524_000_000
    for ka, kb in [(3, 3), (4, 6), (7, 4), (5, 5)]:
        n = 64
        # star (angle-sorted) rings: simple by construction
        ang = np.sort(rng.uniform(0, 2 * np.pi, (n, kb)), axis=1)
        rad = rng.integers(500, 5000, (n, kb))
        cx = X + rng.integers(-20000, 20000, (n, 1))
        cy = Y + rng.integers(-20000, 20000, (n, 1))
        xs = (cx + rad * np.cos(ang)).astype(np.int64)
        ys = (cy + rad * np.sin(ang)).astype(np.int64)
        pxs = X + rng.integers(-25000, 25000, (n, ka)).astype(np.int64)
        pys = Y + rng.integers(-25000, 25000, (n, ka)).astype(np.int64)
        got = batched_any_vertex_in(pxs, pys, xs, ys)
        want = np.array(
            [bool(points_in_polygon(pxs[i], pys[i], xs[i], ys[i]).any()) for i in range(n)]
        )
        assert (got == want).all()


def test_polygon_intersect_join_mixed_ring_lengths(spark):
    """Random star polygons with MIXED vertex counts (3..8) exercise the
    per-(len_a, len_b) grouping inside the vectorized verify; oracle is
    an independent pure-Python all-pairs test (oracle.pip_scalar vertex
    containment + scalar orientation proper-crossing)."""
    import numpy as np

    from osmflat_rs_spark.operators.spatial_join import polygon_intersect_join

    rng = np.random.default_rng(11)
    X, Y = 132_000_000, 524_000_000
    rows = []
    for pid in range(40):
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.integers(2000, 9000, k)
        cx = X + int(rng.integers(-30000, 30000))
        cy = Y + int(rng.integers(-30000, 30000))
        ring = [
            (int(cy + r * np.sin(a)), int(cx + r * np.cos(a)))
            for a, r in zip(ang, rad)
        ]
        rows.append((str(pid), [{"lat": la, "lon": lo} for la, lo in ring]))

    def _orient(ax, ay, bx, by, cx, cy):
        v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        return (v > 0) - (v < 0)

    def _intersects(ra, rb):
        if any(oracle.pip_scalar(lo, la, [(v[1], v[0]) for v in rb]) for la, lo in ra):
            return True
        if any(oracle.pip_scalar(lo, la, [(v[1], v[0]) for v in ra]) for la, lo in rb):
            return True
        na, nb = len(ra), len(rb)
        for i in range(na):
            a1, a2 = ra[i], ra[(i + 1) % na]
            for j in range(nb):
                b1, b2 = rb[j], rb[(j + 1) % nb]
                o1 = _orient(a1[1], a1[0], a2[1], a2[0], b1[1], b1[0])
                o2 = _orient(a1[1], a1[0], a2[1], a2[0], b2[1], b2[0])
                o3 = _orient(b1[1], b1[0], b2[1], b2[0], a1[1], a1[0])
                o4 = _orient(b1[1], b1[0], b2[1], b2[0], a2[1], a2[0])
                if o1 * o2 < 0 and o3 * o4 < 0:
                    return True
        return False

    rings = {pid: [(v["lat"], v["lon"]) for v in ring] for pid, ring in rows}
    ids = sorted(rings, key=int)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _intersects(rings[a], rings[b])
    }
    polys = spark.createDataFrame(rows, "pid string, ring array<struct<lat:long,lon:long>>")
    got = {
        tuple(sorted((r["id_a"], r["id_b"]), key=int))
        for r in polygon_intersect_join(
            polys, polys, id_a="pid", id_b="pid", res=14, self_join=True
        ).collect()
    }
    assert len(want) > 10  # density sanity: the box forces real overlaps
    assert got == want, sorted(got ^ want)


def test_zonal_stats_exact_and_no_rejoin(spark):
    """zonal_stats must equal the brute-force per-polygon pandas fold
    (count/sum/avg/min/max over exact containment, boundary inclusive),
    and its plan must NOT re-join pairs to the point table: carry_cols
    threads the value through the kernel, so the only hash exchange
    after the broadcast cell join is the polygon_id groupBy."""
    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.fixtures import generate_polygons, polygons_to_spark
    from osmflat_rs_spark.functions.pip import points_in_polygon
    from osmflat_rs_spark.operators.spatial_join import zonal_stats

    rng = np.random.default_rng(11)
    n = 4000
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "lat": 524_000_000 + rng.integers(0, 2_000_000, n),
            "lon": 132_000_000 + rng.integers(0, 4_000_000, n),
            "value": np.round(rng.uniform(0, 100, n), 2),
        }
    )
    poly_pdf = generate_polygons(n_poly=5)
    got = {
        r["polygon_id"]: r
        for r in zonal_stats(
            spark.createDataFrame(pdf),
            polygons_to_spark(spark, poly_pdf),
            "value",
            point_id="event_id",
        ).collect()
    }
    lat, lon, val = (pdf[c].to_numpy() for c in ("lat", "lon", "value"))
    seen = 0
    for _, poly in poly_pdf.iterrows():
        xs = np.array([v["lon"] for v in poly["ring"]], dtype=np.int64)
        ys = np.array([v["lat"] for v in poly["ring"]], dtype=np.int64)
        mask = points_in_polygon(lon.astype(np.int64), lat.astype(np.int64), xs, ys)
        pid = poly["polygon_id"]
        if not mask.any():
            assert pid not in got
            continue
        seen += 1
        v = val[mask]
        r = got[pid]
        assert r["n_pts"] == int(mask.sum())
        assert abs(r["sum_val"] - v.sum()) < 1e-6
        assert abs(r["avg_val"] - v.mean()) < 1e-9
        assert r["min_val"] == v.min() and r["max_val"] == v.max()
    assert seen >= 2  # fixture sanity: the stats actually got exercised
    assert set(got) == {
        p["polygon_id"]
        for _, p in poly_pdf.iterrows()
        if points_in_polygon(
            lon.astype(np.int64), lat.astype(np.int64),
            np.array([v["lon"] for v in p["ring"]], dtype=np.int64),
            np.array([v["lat"] for v in p["ring"]], dtype=np.int64),
        ).any()
    }

    plan = (
        zonal_stats(
            spark.createDataFrame(pdf),
            polygons_to_spark(spark, poly_pdf),
            "value",
            point_id="event_id",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_isolated_points_matches_bruteforce(spark):
    """Mixed clustered + sparse synth vs an O(n²) NumPy oracle, through
    the phase-1 dense prune (radius above the finest cell diagonal) and
    without it (radius below that diagonal: no prune cell exists);
    exact-duplicate coordinates are never isolated."""
    import numpy as np

    from osmflat_rs_spark.operators.knn import isolated_points

    rng = np.random.default_rng(11)
    base_lat, base_lon = 520_000_000, 131_000_000
    pts = []
    for b in range(6):  # 6 tight blobs of 30
        cl_lat = base_lat + b * 2_000_000
        cl_lon = base_lon + b * 3_000_000
        for _ in range(30):
            pts.append((cl_lat + int(rng.integers(0, 5_000)),
                        cl_lon + int(rng.integers(0, 5_000))))
    for _ in range(60):  # sparse background
        pts.append((base_lat + int(rng.integers(0, 40_000_000)),
                    base_lon + int(rng.integers(0, 40_000_000))))
    pts.append(pts[-1])  # exact duplicate pair: both non-isolated
    rows = [(i, la, lo) for i, (la, lo) in enumerate(pts)]

    def brute(rows, r):
        arr = np.array([(la, lo) for _, la, lo in rows], dtype=np.float64)
        d2 = ((arr[:, None, :] - arr[None, :, :]) ** 2).sum(axis=2)
        np.fill_diagonal(d2, np.inf)
        return {rows[i][0] for i in range(len(rows)) if d2[i].min() > r * r}

    r = 200_000
    want = brute(rows, r)
    df = spark.createDataFrame(rows, "node_idx long, lat long, lon long")
    got = {r_["node_idx"] for r_ in isolated_points(df, r).collect()}
    assert got == want and 0 < len(got) < len(rows)
    assert rows[-1][0] not in got and rows[-2][0] not in got

    # radius 3 is below the finest cell diagonal (~3.75 units): the dense
    # prune has no cell to work at and every point goes to the radius join
    tiny = [(i, base_lat + int(rng.integers(0, 40)), base_lon + int(rng.integers(0, 40)))
            for i in range(80)]
    tiny.append((80, tiny[-1][1], tiny[-1][2]))  # exact duplicate again
    want_tiny = brute(tiny, 3)
    got_tiny = {r_["node_idx"] for r_ in isolated_points(
        spark.createDataFrame(tiny, "node_idx long, lat long, lon long"), 3).collect()}
    assert got_tiny == want_tiny and 0 < len(got_tiny) < len(tiny)
    assert 79 not in got_tiny and 80 not in got_tiny


# ----------------------------------------------------------- service areas


def test_service_areas_matches_model(spark):
    import numpy as np

    from osmflat_rs_spark.operators.knn import service_areas

    rng = np.random.default_rng(43)
    pts = [(i, int(rng.integers(0, 10_000)), int(rng.integers(0, 10_000)))
           for i in range(300)]
    sts = [(s, int(rng.integers(0, 10_000)), int(rng.integers(0, 10_000)))
           for s in range(7)]
    pdf = spark.createDataFrame(pts, "event_id long, lat long, lon long")
    sdf = spark.createDataFrame(sts, "site_id long, lat long, lon long")

    def nearest(px, py):
        best = None
        for s, sx, sy in sts:
            d2 = (px - sx) ** 2 + (py - sy) ** 2
            if best is None or (d2, s) < best:
                best = (d2, s)
        return best

    want_assign = {i: nearest(x, y) for i, x, y in pts}
    got_assign = {
        r["point"]: (int(r["d2"]), r["site_id"])
        for r in service_areas(pdf, sdf, assign_only=True).collect()
    }
    assert got_assign == want_assign
    import math

    agg = {}
    for d2, s in want_assign.values():
        n, sd = agg.get(s, (0, 0))
        agg[s] = (n + 1, sd + d2)
    want_roll = {s: (n, round(math.sqrt(sd / n), 6)) for s, (n, sd) in agg.items()}
    got_roll = {
        r["site_id"]: (r["n_points"], r["rms_d"])
        for r in service_areas(pdf, sdf).collect()
    }
    assert got_roll == want_roll
    # partition invariance (assignment is in-row; rollup exact sums)
    got2 = {
        r["site_id"]: (r["n_points"], r["rms_d"])
        for r in service_areas(pdf.repartition(11), sdf).collect()
    }
    assert got2 == got_roll


def test_service_areas_tie_break_and_overflow_range(spark):
    from osmflat_rs_spark.operators.knn import service_areas

    # equidistant sites -> smallest site id wins
    pdf = spark.createDataFrame([(1, 0, 0)], "event_id long, lat long, lon long")
    sdf = spark.createDataFrame([(9, 0, 10), (3, 0, -10)], "site_id long, lat long, lon long")
    r = service_areas(pdf, sdf, assign_only=True).collect()[0]
    assert r["site_id"] == 3 and int(r["d2"]) == 100
    # antipodal fixed-point deltas: (3.6e9)^2 would overflow int64 —
    # decimal keeps it exact
    pdf = spark.createDataFrame([(1, 900_000_000, 1_800_000_000)],
                                "event_id long, lat long, lon long")
    sdf = spark.createDataFrame([(0, -900_000_000, -1_800_000_000)],
                                "site_id long, lat long, lon long")
    r = service_areas(pdf, sdf, assign_only=True).collect()[0]
    assert int(r["d2"]) == 1_800_000_000**2 + 3_600_000_000**2


def test_service_areas_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.knn import service_areas

    pdf = spark.createDataFrame([(1, 0, 0)], "event_id long, lat long, lon long")
    empty = spark.createDataFrame([], "site_id long, lat long, lon long")
    with _pytest.raises(ValueError, match="empty"):
        service_areas(pdf, empty)
    sdf = spark.createDataFrame([(1, 0, 0), (2, 5, 5)], "site_id long, lat long, lon long")
    with _pytest.raises(ValueError, match="max_sites_inrow"):
        service_areas(pdf, sdf, max_sites_inrow=1)


# -------------------------------------------------------------- kmeans step


def test_kmeans_assign_step_exact_model(spark):
    import numpy as np
    import pytest as _pytest

    from osmflat_rs_spark.operators.knn import kmeans_assign_step

    rng = np.random.default_rng(17)
    pts = [(i, int(rng.integers(-100, 100)), int(rng.integers(-100, 100))) for i in range(300)]
    cents = [(-50, -50), (0, 0), (50, 50), (-50, 50)]
    want = {}
    for _, la, lo in pts:
        ds = [(la - c[0]) ** 2 + (lo - c[1]) ** 2 for c in cents]
        ci = ds.index(min(ds))  # first match = lowest index on ties
        n, sl, so = want.get(ci, (0, 0, 0))
        want[ci] = (n + 1, sl + la, so + lo)
    df = spark.createDataFrame(pts, "event_id long, lat long, lon long")
    for d in (df, df.repartition(7)):
        got = {r["cluster"]: (r["n"], r["sum_lat"], r["sum_lon"])
               for r in kmeans_assign_step(d, cents).collect()}
        assert got == want
    # tie goes to the LOWEST index: a point equidistant to c0/c1
    tie = spark.createDataFrame([(1, 0, 0)], "event_id long, lat long, lon long")
    out = kmeans_assign_step(tie, [(0, 10), (0, -10)]).collect()
    assert [(r["cluster"], r["n"]) for r in out] == [(0, 1)]
    with _pytest.raises(ValueError):
        kmeans_assign_step(tie, [])


def test_pip_join_direct_fill_rules_pentagram_and_evenodd_parity(spark, tables, model, poly_df, poly_pdf):
    """Fill rules: the pentagram's CORE is inside under nonzero and
    outside under even-odd; the star's five tips are inside under both;
    and on simple (non-self-intersecting) polygons pip_join_direct
    agrees with the two-phase pip_join pair-for-pair under BOTH rules."""
    import numpy as np
    import pandas as pd

    from osmflat_rs_spark.operators.spatial_join import pip_join, pip_join_direct

    penta = [
        (525600000, 134000000), (524514590, 133529772), (525185410, 134760845),
        (525185410, 133239155), (524514590, 134470228),
    ]
    polys = spark.createDataFrame(
        [("star", [(la, lo) for (la, lo) in penta], "aoi")],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    # core point = centroid of the inner pentagon region; tip points just
    # inside each star point; outside points beyond the bbox
    probe = [(0, 525_000_000, 134_000_000)]                   # core
    for i, (la, lo) in enumerate(penta):
        # nudge 2% toward the center: strictly inside the tip triangle
        probe.append((10 + i,
                      int(la + (525_000_000 - la) * 0.02),
                      int(lo + (134_000_000 - lo) * 0.02)))
    probe.append((99, 526_500_000, 134_000_000))              # outside bbox
    pts = spark.createDataFrame(probe, "event_id long, lat long, lon long")
    nz = {r["event_id"] for r in pip_join_direct(
        pts, polys, point_id="event_id", fill_rule="nonzero").collect()}
    eo = {r["event_id"] for r in pip_join_direct(
        pts, polys, point_id="event_id", fill_rule="evenodd").collect()}
    assert 0 in nz and 0 not in eo            # the core separates the rules
    tips = {10, 11, 12, 13, 14}
    assert tips <= nz and tips <= eo
    assert 99 not in nz and 99 not in eo

    # simple polygons: direct == two-phase under both rules
    want = {
        (r["polygon_id"], r["node_idx"])
        for r in pip_join(tables["nodes"], poly_df).collect()
    }
    for rule in ("evenodd", "nonzero"):
        got = {
            (r["polygon_id"], r["node_idx"])
            for r in pip_join_direct(
                tables["nodes"], poly_df, fill_rule=rule
            ).collect()
        }
        assert got == want, rule


def test_lof_matches_model_and_flags_outlier(spark):
    """LOF matches an exact Python reimplementation (same (d2,id)
    tie-break, same fixed-point lrd lattice) point-for-point; the
    planted outlier scores far above the uniform cluster; duplicates
    yield NULL; k validated."""
    import numpy as np

    from osmflat_rs_spark.operators.knn import lof_scores

    rng = np.random.default_rng(271)
    pts = [(i, int(rng.integers(0, 2000)), int(rng.integers(0, 2000))) for i in range(120)]
    pts.append((120, 50_000, 50_000))  # far outlier
    # coincident triple -> degenerate neighborhoods at k=2
    pts += [(121, 90_000, 90_000), (122, 90_000, 90_000), (123, 90_000, 90_000)]
    df = spark.createDataFrame(pts, "node_idx long, lat long, lon long")
    K, SC = 6, 10**15
    got = {r["node_idx"]: r.asDict() for r in
           lof_scores(df, k=K, res=6, radius=200_000.0, fp_scale=SC).collect()}

    # exact model
    ids = [p[0] for p in pts]
    coord = {p[0]: (p[1], p[2]) for p in pts}
    def d2(a, b):
        (x1, y1), (x2, y2) = coord[a], coord[b]
        return (x1 - x2) ** 2 + (y1 - y2) ** 2
    nn, kdist = {}, {}
    for p in ids:
        cand = sorted(((d2(p, o), o) for o in ids if o != p))[:K]
        nn[p] = [o for _, o in cand]
        kdist[p] = cand[-1][0]
    lrd = {}
    for p in ids:
        sr = sum(max(d2(p, o), kdist[o]) for o in nn[p])
        lrd[p] = (len(nn[p]) * SC) // sr if sr > 0 else None
    want = {}
    for p in ids:
        if lrd[p] and all(lrd[o] is not None for o in nn[p]):
            want[p] = round(sum(lrd[o] for o in nn[p]) / (len(nn[p]) * lrd[p]), 6)
        else:
            want[p] = None
    assert set(got) == set(ids)
    for p in ids:
        assert got[p]["kdist"] == kdist[p], p
        assert got[p]["lof"] == want[p], (p, got[p]["lof"], want[p])
    # outlier dominates the uniform cluster
    cluster_lofs = [got[p]["lof"] for p in range(120) if got[p]["lof"] is not None]
    assert got[120]["lof"] > 3 * max(cluster_lofs)
    assert np.median(cluster_lofs) < 1.5
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lof_scores(df, k=0)
