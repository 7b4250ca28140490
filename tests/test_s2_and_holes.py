"""Round-4 additions: the S2-style cell backend (north star: "H3 and S2
cell indices") and multi-ring polygons with holes (even-odd) in the PIP
family. Correctness rests on (a) the backend-agnosticism contract — S2
must reproduce the exact Morton results in both join modes — and (b)
independent half-plane oracles for the hole semantics."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.functions import s2
from osmflat_rs_spark.functions.cell_backend import MortonBackend, S2Backend, get_backend
from osmflat_rs_spark.functions.pip import PolygonIndex, points_in_polygon, points_in_rings

# CCW hexagon (lon, lat) fixed-point, and a CCW diamond hole inside it
HEX = [
    (135_600_000, 525_000_000),
    (134_800_000, 525_692_800),
    (133_200_000, 525_692_800),
    (132_400_000, 525_000_000),
    (133_200_000, 524_307_200),
    (134_800_000, 524_307_200),
]
HOLE = [
    (134_200_000, 525_000_000),
    (134_000_000, 525_200_000),
    (133_800_000, 525_000_000),
    (134_000_000, 524_800_000),
]
ISLAND = [  # small CCW square inside the hole (depth 3 ⇒ inside again)
    (134_050_000, 524_950_000),
    (134_050_000, 525_050_000),
    (133_950_000, 525_050_000),
    (133_950_000, 524_950_000),
]


def _ring_np(ring):
    return (
        np.array([p[0] for p in ring], dtype=np.int64),
        np.array([p[1] for p in ring], dtype=np.int64),
    )


def _halfplane_inside(px, py, ring, strict=False):
    """Independent convex-ring containment (NOT the engine kernel)."""
    ok = np.ones(px.shape[0], dtype=bool)
    m = len(ring)
    for i in range(m):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % m]
        cr = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        ok &= (cr > 0) if strict else (cr >= 0)
    return ok


def _grid_points(n=120):
    gx = np.linspace(132_300_000, 135_700_000, n).astype(np.int64)
    gy = np.linspace(524_200_000, 525_800_000, n).astype(np.int64)
    mx, my = np.meshgrid(gx, gy)
    return mx.ravel(), my.ravel()


# ---------------------------------------------------------------------------
# S2 scheme unit properties
# ---------------------------------------------------------------------------


def test_s2_encode_properties():
    rng = np.random.default_rng(11)
    lat = rng.integers(-899_999_999, 899_999_999, 5000)
    lon = rng.integers(-1_799_999_999, 1_799_999_999, 5000)
    ids = s2.cell_id_np(lat, lon, 12)
    assert (ids > 0).all() and (ids & 1).all()  # trailing-1 id layout
    # determinism
    assert np.array_equal(ids, s2.cell_id_np(lat, lon, 12))
    # same cell for ~1e-3-degree-near points, different across hemispheres
    assert s2.cell_id_np(np.array([525000000]), np.array([134000000]), 12)[0] == s2.cell_id_np(
        np.array([525000100]), np.array([134000100]), 12
    )[0]
    assert s2.cell_id_np(np.array([525000000]), np.array([134000000]), 12)[0] != s2.cell_id_np(
        np.array([-525000000]), np.array([-134000000]), 12
    )[0]


def test_s2_cover_superset_and_interior_sound():
    """Every inside point's cell is in the cover; every point landing in
    an interior-flagged cell is truly inside (the two guarantees the
    two-phase join rests on)."""
    xs, ys = _ring_np(HEX)
    cells, interior = s2.polygon_cover_classified(xs, ys, 12)
    cset = set(cells.tolist())
    iset = set(cells[interior].tolist())
    assert len(cset) == len(cells)  # no duplicate cells in a cover
    px, py = _grid_points()
    inside = points_in_polygon(px, py, xs, ys)
    pc = s2.cell_id_np(py, px, 12)
    assert all(int(c) in cset for c, i in zip(pc, inside) if i)
    assert all(bool(i) for c, i in zip(pc, inside) if int(c) in iset)


def test_s2_backend_registry():
    assert isinstance(get_backend("s2"), S2Backend)
    from osmflat_rs_spark.functions.cell_backend import available_backends

    assert "s2" in available_backends()


def test_s2_pip_join_backend_agnostic(tables, poly_df):
    from osmflat_rs_spark.operators.spatial_join import pip_join

    want = sorted(
        (r["polygon_id"], r["node_idx"]) for r in pip_join(tables["nodes"], poly_df).collect()
    )
    got = sorted(
        (r["polygon_id"], r["node_idx"])
        for r in pip_join(tables["nodes"], poly_df, cover_res=10, backend=get_backend("s2")).collect()
    )
    assert got == want and len(want) > 0


def test_s2_pip_join_shuffle_backend_agnostic(tables, poly_df):
    from osmflat_rs_spark.operators.spatial_join import pip_join, pip_join_shuffle

    want = sorted(
        (r["polygon_id"], r["node_idx"]) for r in pip_join(tables["nodes"], poly_df).collect()
    )
    got = sorted(
        (r["polygon_id"], r["node_idx"])
        for r in pip_join_shuffle(
            tables["nodes"], poly_df, cover_res=10, salt=2, backend=get_backend("s2")
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# multi-ring (holes) semantics
# ---------------------------------------------------------------------------


def test_points_in_rings_even_odd_and_boundary():
    px, py = _grid_points()
    rings = [_ring_np(HEX), _ring_np(HOLE)]
    got = points_in_rings(px, py, rings)
    want = _halfplane_inside(px, py, HEX) & ~_halfplane_inside(px, py, HOLE, strict=True)
    assert np.array_equal(got, want)
    # a point ON the hole boundary is inside the polygon
    on_hole = np.array([134_100_000]), np.array([525_100_000])  # midpoint of a hole edge
    assert points_in_rings(on_hole[0], on_hole[1], rings)[0]
    # strictly inside the hole ⇒ outside
    assert not points_in_rings(np.array([134_000_000]), np.array([525_000_000]), rings)[0]
    # nested island (depth 3 ⇒ inside again)
    rings3 = rings + [_ring_np(ISLAND)]
    assert points_in_rings(np.array([134_000_000]), np.array([525_000_000]), rings3)[0]


def test_multi_cover_excludes_hole_interior():
    """Cells entirely inside the hole must be absent from the polygon's
    cover; hole-boundary cells present but non-interior (the cover
    classification guarantee for holes)."""
    be = MortonBackend()
    rings = [_ring_np(HEX), _ring_np(HOLE)]
    res = 16  # cell ≈ 55k fixed units ≪ the 200k-unit hole radius
    cells, interior = be.polygon_cover_classified_multi(rings, res)
    cset = dict(zip(cells.tolist(), interior.tolist()))
    hole_cells, hole_interior = be.polygon_cover_classified(*_ring_np(HOLE), res)
    n_hole_int = int(hole_interior.sum())
    assert n_hole_int > 0, "res too coarse for the fixture hole"
    for c, it in zip(hole_cells.tolist(), hole_interior.tolist()):
        if it:
            assert c not in cset  # entirely inside the hole ⇒ dropped
        else:
            assert c in cset and not cset[c]  # boundary ⇒ kept, refined
    # outer-interior cells away from the hole stay interior
    assert any(cset.values())


@pytest.fixture(scope="module")
def holes_points(spark):
    px, py = _grid_points(80)
    pdf = pd.DataFrame({"pid": np.arange(px.size, dtype=np.int64), "lon": px, "lat": py})
    return spark.createDataFrame(pdf).repartition(8)


@pytest.fixture(scope="module")
def holes_polys(spark):
    rings = [[(int(la), int(lo)) for lo, la in HEX], [(int(la), int(lo)) for lo, la in HOLE]]
    return spark.createDataFrame(
        [("hexhole", rings)],
        schema="polygon_id string, rings array<array<struct<lat:long,lon:long>>>",
    )


def _expected_hole_ids(px, py):
    inside = _halfplane_inside(px, py, HEX) & ~_halfplane_inside(px, py, HOLE, strict=True)
    return sorted(np.flatnonzero(inside).tolist())


def test_pip_join_holes_broadcast(holes_points, holes_polys):
    from osmflat_rs_spark.operators.spatial_join import pip_join

    px, py = _grid_points(80)
    got = sorted(
        r["pid"]
        for r in pip_join(holes_points, holes_polys, point_id="pid").collect()
    )
    assert got == _expected_hole_ids(px, py)


def test_pip_join_holes_shuffle(holes_points, holes_polys):
    from osmflat_rs_spark.operators.spatial_join import pip_join_shuffle

    px, py = _grid_points(80)
    got = sorted(
        r["pid"]
        for r in pip_join_shuffle(
            holes_points, holes_polys, point_id="pid", cover_res=12, salt=2
        ).collect()
    )
    assert got == _expected_hole_ids(px, py)


def test_pip_join_holes_s2_backend(holes_points, holes_polys):
    """Holes × S2: the generic even-odd cover composition must hold for
    a non-grid backend too."""
    from osmflat_rs_spark.operators.spatial_join import pip_join

    px, py = _grid_points(80)
    got = sorted(
        r["pid"]
        for r in pip_join(
            holes_points, holes_polys, point_id="pid", cover_res=11, backend=get_backend("s2")
        ).collect()
    )
    assert got == _expected_hole_ids(px, py)


def test_polygon_index_multi_ring_layout():
    idx = PolygonIndex.build_multi(
        [
            ("a", [_ring_np(HEX), _ring_np(HOLE)]),
            ("b", [_ring_np(ISLAND)]),
        ]
    )
    assert idx.n_rings(0) == 2 and idx.n_rings(1) == 1
    xs0, _ = idx.ring(0, 0)
    xs1, _ = idx.ring(0, 1)
    assert len(xs0) == 6 and len(xs1) == 4
    # single-ring build() still works and equals the one-ring multi form
    legacy = PolygonIndex.build([("b", *_ring_np(ISLAND))])
    px, py = _grid_points(30)
    assert np.array_equal(legacy.contains(0, px, py), idx.contains(1, px, py))


# ---------------------------------------------------------------------------
# randomized + adversarial S2 cover soundness (no Spark — pure NumPy)
# ---------------------------------------------------------------------------


def _star_polygon(rng, cx, cy, r_lo, r_hi, n_verts):
    """Random star-shaped (hence simple) CCW polygon around (cx, cy)."""
    angles = np.sort(rng.uniform(0, 2 * np.pi, n_verts))
    radii = rng.uniform(r_lo, r_hi, n_verts)
    xs = (cx + radii * np.cos(angles)).astype(np.int64)
    ys = (cy + radii * np.sin(angles)).astype(np.int64)
    return xs, ys


def _check_cover_sound(xs, ys, res, rng, n_probe=20000):
    cells, interior = s2.polygon_cover_classified(xs, ys, res)
    cset = set(cells.tolist())
    iset = set(cells[interior].tolist())
    # probe points across an expanded bbox of the polygon
    mx = int(xs.max() - xs.min()) // 4 + 1
    my = int(ys.max() - ys.min()) // 4 + 1
    px = rng.integers(xs.min() - mx, xs.max() + mx, n_probe)
    py = rng.integers(ys.min() - my, ys.max() + my, n_probe)
    px = np.clip(px, -1_799_999_999, 1_799_999_999)
    py = np.clip(py, -899_999_999, 899_999_999)
    inside = points_in_polygon(px, py, xs, ys)
    pc = s2.cell_id_np(py, px, res)
    missing = [1 for c, i in zip(pc, inside) if i and int(c) not in cset]
    wrong_interior = [1 for c, i in zip(pc, inside) if int(c) in iset and not i]
    assert not missing, f"{len(missing)} inside points missing from cover (superset broken)"
    assert not wrong_interior, f"{len(wrong_interior)} outside points in interior cells"


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_s2_cover_sound_random_star_polygons(seed):
    """Superset + interior soundness on random star polygons at random
    centers/scales/levels — the two guarantees the two-phase join rests
    on, exercised over the scheme's full construction (face pick,
    quadratic ST, Hilbert, rect refinement)."""
    rng = np.random.default_rng(seed)
    cx = int(rng.integers(-1_500_000_000, 1_500_000_000))
    cy = int(rng.integers(-700_000_000, 700_000_000))
    scale = int(rng.integers(200_000, 20_000_000))
    xs, ys = _star_polygon(rng, cx, cy, scale // 2, scale, int(rng.integers(5, 14)))
    xs = np.clip(xs, -1_799_999_999, 1_799_999_999)
    ys = np.clip(ys, -899_999_999, 899_999_999)
    res = int(rng.integers(7, 12))
    _check_cover_sound(xs, ys, res, rng)


def test_s2_cover_sound_antimeridian_adjacent():
    """A polygon hugging lon=+180: cells whose rect wraps degrade to
    full-longitude (conservative) — superset must survive."""
    rng = np.random.default_rng(7)
    xs = np.array([1_799_000_000, 1_799_900_000, 1_799_900_000, 1_799_000_000], dtype=np.int64)
    ys = np.array([100_000_000, 100_000_000, 101_000_000, 101_000_000], dtype=np.int64)
    _check_cover_sound(xs, ys, 9, rng)


def test_s2_cover_sound_polar_adjacent():
    """A polygon at 88-89°N: pole-reaching cells degrade to full-lon."""
    rng = np.random.default_rng(8)
    xs = np.array([100_000_000, 300_000_000, 300_000_000, 100_000_000], dtype=np.int64)
    ys = np.array([880_000_000, 880_000_000, 890_000_000, 890_000_000], dtype=np.int64)
    _check_cover_sound(xs, ys, 8, rng)


def test_pip_join_distributed_cover_equal(holes_points, holes_polys, monkeypatch):
    """r4: at/above ``DISTRIBUTED_COVER_THRESHOLD`` the classified covers
    are computed in ``mapInPandas`` instead of a driver loop — results
    must be identical (same kernel, different placement)."""
    from osmflat_rs_spark.operators import spatial_join
    from osmflat_rs_spark.operators.spatial_join import pip_join

    want = sorted(
        r["pid"] for r in pip_join(holes_points, holes_polys, point_id="pid").collect()
    )
    monkeypatch.setattr(spatial_join, "DISTRIBUTED_COVER_THRESHOLD", 1)
    got = sorted(
        r["pid"] for r in pip_join(holes_points, holes_polys, point_id="pid").collect()
    )
    assert got == want and len(want) > 0


def test_knn_bulk_backend_agnostic_s2(spark):
    """r4: kNN through the backend seam — the exact operator must return
    identical results for Morton and S2 cells (both metrics), since
    every backend's disk cover composes the same exact disk-bbox
    geometry with a superset bbox_cover."""
    from osmflat_rs_spark.operators.knn import knn_join_bulk

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "node_idx": np.arange(4000, dtype=np.int64),
                "lat": (525_000_000 + (np.arange(4000) * 48271) % 2_000_000).astype(np.int64),
                "lon": (133_000_000 + (np.arange(4000) * 16807) % 3_000_000).astype(np.int64),
            }
        )
    ).repartition(8)
    q = spark.createDataFrame(
        [(f"q{i}", 525_200_000 + i * 173_000, 133_300_000 + i * 317_000) for i in range(5)],
        schema="query_id string, lat long, lon long",
    )

    for metric, radius in (("sqeuclid", 600_000.0), ("haversine", 60_000.0)):
        want = sorted(
            (r["query_id"], r["rank"], r["node_idx"])
            for r in knn_join_bulk(pts, q, k=5, radius_m=radius, metric=metric).collect()
        )
        got = sorted(
            (r["query_id"], r["rank"], r["node_idx"])
            for r in knn_join_bulk(
                pts, q, k=5, radius_m=radius, metric=metric, res=11,
                backend=get_backend("s2"),
            ).collect()
        )
        assert got == want and len(want) == 25, (metric, len(want))
