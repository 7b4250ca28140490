"""Geodesic + map-projection scalar functions, as Catalyst column
expressions (JVM-side, whole-stage-codegen'd — no Python in the hot path).

Reference semantics reproduced:
- fixed-point integer coordinates, scale 1e7 (``flatdata/osm.flatdata:16-19``;
  consumers divide to degrees, ``osmflat/examples/road-length.rs:24-30``);
- haversine great-circle meters with WGS84 mean radius 6_372_797.560856
  and the exact formula term order of ``osmflat/examples/road-length.rs:32-42``;
- geo→pixel affine transform with y-inversion
  (``osmflat/examples/render-roads.rs:71-81``);
- web-mercator slippy-map tiling (north-rule extension, generalizing the
  raster transform).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: fixed-point coordinate scale (digits after the decimal point = 7);
#: mirrors the archive-level ``Header.coord_scale`` of the reference.
COORD_SCALE = 10_000_000

#: WGS84 mean earth radius used by the reference's haversine
#: (osmflat/examples/road-length.rs:33).
EARTH_RADIUS_M = 6_372_797.560856


def to_degrees(fixed: Column) -> Column:
    """Fixed-point int coordinate → degrees (double)."""
    return fixed.cast("double") / F.lit(float(COORD_SCALE))


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters between two (degree) coordinates.

    Pinned to the term order of the reference implementation
    (road-length.rs:32-42):
        d_lat/2, d_lon/2, a = sin²+cos·cos·sin², 2·asin(√a)·R
    so doubles agree bit-for-bit with a NumPy model using the same order.
    """
    lat1r = F.radians(lat1)
    lat2r = F.radians(lat2)
    dlat_half = (F.radians(lat2) - F.radians(lat1)) / F.lit(2.0)
    dlon_half = (F.radians(lon2) - F.radians(lon1)) / F.lit(2.0)
    a = F.sin(dlat_half) * F.sin(dlat_half) + F.cos(lat1r) * F.cos(lat2r) * F.sin(dlon_half) * F.sin(dlon_half)
    return F.lit(2.0) * F.asin(F.sqrt(a)) * F.lit(EARTH_RADIUS_M)


def haversine_m_fixed(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Haversine over fixed-point integer coordinate columns."""
    return haversine_m(to_degrees(lat1), to_degrees(lon1), to_degrees(lat2), to_degrees(lon2))


def mercator_tile_x(lon_deg: Column, zoom: int) -> Column:
    """Slippy-map tile X at ``zoom`` (OSM wiki formula), clamped."""
    n = float(1 << zoom)
    tx = F.floor((lon_deg + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit((1 << zoom) - 1).cast("long"), tx))


def mercator_tile_y(lat_deg: Column, zoom: int) -> Column:
    """Slippy-map tile Y at ``zoom``; lat clamped to web-mercator range."""
    n = float(1 << zoom)
    lat = F.greatest(F.lit(-85.05112878), F.least(F.lit(85.05112878), lat_deg))
    latr = F.radians(lat)
    ty = F.floor(
        (F.lit(1.0) - F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr)) / F.lit(3.141592653589793))
        / F.lit(2.0)
        * F.lit(n)
    ).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit((1 << zoom) - 1).cast("long"), ty))


def shoelace_ring_stats(
    df,
    group_col: str,
    order_cols: list[str],
    lat_col: str = "lat",
    lon_col: str = "lon",
    lat0: int = 0,
    lon0: int = 0,
    min_vertices: int = 3,
):
    """Per-group closed-ring geometry: EXACT-integer shoelace signed
    double-area plus the vertex-mean centroid, over fixed-point
    coordinates (reference analog: the polygon assembly of
    render-features.rs:133-149 — the reference renders rings, this
    measures them; signed orientation is the multipolygon outer/inner
    convention).

    The ring is the group's points ordered by ``order_cols``, implicitly
    closed (last vertex → first). ``area2x`` is Σ (xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ)
    over the closed traverse — twice the signed area in fixed-point
    units², computed entirely in int64 on coordinates translated by
    (lat0, lon0) (shoelace is translation-invariant, and the translation
    keeps products bounded: |Δ|≤4·10⁶ ⇒ |term|≤1.6·10¹³, exact for rings
    up to ~5·10⁵ vertices — beyond that, pre-reduce with a coarser
    translation per ring). Exact integers make the result bit-stable
    across engines and partitionings — no float reassociation anywhere.

    Physical shape: ONE groupBy shuffle building the ring in-row
    (sort_array(collect_list(struct))), then the fold is a pure Catalyst
    ``aggregate`` HOF over the array — whole-stage codegen, no window, no
    second exchange. collect_list bounds state by the largest single
    ring (the same contract as the reference's in-memory way buffer).

    Returns (group_col, n_vertices, area2x, c_lat, c_lon): c_* are the
    vertex-mean centroid in DEGREES (exact int sums divided at the end,
    rounded to 4 decimals). Groups with fewer than ``min_vertices``
    points are dropped (a ring needs 3).
    """
    ordered = F.sort_array(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols],
                                F.col(lat_col).alias("_lat"), F.col(lon_col).alias("_lon")))
    )
    g = (
        df.groupBy(group_col)
        .agg(
            ordered.alias("ring"),
            F.count("*").alias("n_vertices"),
            F.sum(lat_col).alias("_slat"),
            F.sum(lon_col).alias("_slon"),
        )
        .filter(F.col("n_vertices") >= min_vertices)
    )
    n = F.col("n_vertices")

    def _x(i):
        return F.get(F.col("ring"), i)["_lon"] - F.lit(lon0)

    def _y(i):
        return F.get(F.col("ring"), i)["_lat"] - F.lit(lat0)

    area2x = F.aggregate(
        F.sequence(F.lit(0), (n - 1).cast("int")),
        F.lit(0).cast("long"),
        lambda acc, i: acc + (_x(i) * _y((i + 1) % n) - _x((i + 1) % n) * _y(i)),
    )
    return g.select(
        group_col,
        "n_vertices",
        area2x.alias("area2x"),
        F.round(F.col("_slat") / n / F.lit(float(COORD_SCALE)), 4).alias("c_lat"),
        F.round(F.col("_slon") / n / F.lit(float(COORD_SCALE)), 4).alias("c_lon"),
    )


def normalize_rings(
    df,
    group_col: str,
    order_cols: list[str],
    lat_col: str = "lat",
    lon_col: str = "lon",
    role_col: str | None = None,
    lat0: int = 0,
    lon0: int = 0,
    min_vertices: int = 3,
):
    """Ring-orientation normalization — the winding repair every
    multipolygon consumer needs (the OGC/GeoJSON convention: outer
    rings counter-clockwise, holes clockwise; OSM ways carry NO
    orientation guarantee, reference analog: the outer rings
    render-features.rs:133-149 assembles arrive in whatever direction
    the mapper drew them).

    Per group: build the closed ring (ordered by ``order_cols``),
    compute the EXACT-int64 shoelace signed double-area (same
    translation-bounded fold as ``shoelace_ring_stats``), and emit the
    vertices re-enumerated in the TARGET winding — reversed iff the
    sign disagrees with the ring's role (CCW for outer, CW when
    ``role_col`` says 'inner'). Reversal keeps the FIRST vertex as the
    anchor (v0, v{n−1}, …, v1): deterministic start point, same closed
    traverse. Degenerate rings (area2x = 0, collinear) pass through
    unreversed and are labeled.

    → (group_col, pos, lat, lon, orientation, was_reversed):
    ``orientation`` is the ORIGINAL winding ('ccw'/'cw'/'degenerate'),
    ``pos`` the 0-based position in normalized order. Physical shape:
    ONE groupBy building the ring in-row, the shoelace fold and the
    conditional reverse as Catalyst HOFs, one posexplode — no window,
    no second exchange, no Python; bit-stable (exact ints end to end).
    """
    struct_cols = [F.col(c) for c in order_cols] + [
        F.col(lat_col).alias("_lat"),
        F.col(lon_col).alias("_lon"),
    ]
    aggs = [
        F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("ring"),
        F.count("*").alias("_n"),
    ]
    if role_col is not None:
        aggs.append(F.first(role_col).alias("_role"))
    g = df.groupBy(group_col).agg(*aggs).filter(F.col("_n") >= min_vertices)
    n = F.col("_n")

    def _x(i):
        return F.get(F.col("ring"), i)["_lon"] - F.lit(lon0)

    def _y(i):
        return F.get(F.col("ring"), i)["_lat"] - F.lit(lat0)

    area2x = F.aggregate(
        F.sequence(F.lit(0), (n - 1).cast("int")),
        F.lit(0).cast("long"),
        lambda acc, i: acc + (_x(i) * _y((i + 1) % n) - _x((i + 1) % n) * _y(i)),
    )
    g = g.withColumn("_a2", area2x)
    want_ccw = (
        F.lit(True) if role_col is None else (F.col("_role") != F.lit("inner"))
    )
    flip = ((F.col("_a2") > 0) & ~want_ccw) | ((F.col("_a2") < 0) & want_ccw)
    # anchor-preserving reversal: v0 then the tail reversed
    normed = F.when(
        flip,
        F.concat(F.slice(F.col("ring"), 1, 1), F.reverse(F.slice(F.col("ring"), 2, 1 << 30))),
    ).otherwise(F.col("ring"))
    return (
        g.select(
            group_col,
            F.when(F.col("_a2") > 0, F.lit("ccw"))
            .when(F.col("_a2") < 0, F.lit("cw"))
            .otherwise(F.lit("degenerate"))
            .alias("orientation"),
            flip.alias("was_reversed"),
            F.posexplode(normed).alias("pos", "_v"),
        )
        .select(
            group_col,
            "pos",
            F.col("_v._lat").alias(lat_col),
            F.col("_v._lon").alias(lon_col),
            "orientation",
            "was_reversed",
        )
    )


def simplify_radial(
    df,
    group_col: str,
    pos_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    tol: int = 100_000,
):
    """Radial-distance polyline simplification per group →
    (group, pos, lat, lon): keep the first point (by ``pos_col``), then
    each next point whose squared euclidean distance (fixed-point int)
    from the LAST KEPT point is ≥ tol² — the classic cheap pre-pass
    before Douglas-Peucker, and the inherently SEQUENTIAL operator shape
    (each decision depends on the previous kept point).

    Physical form: ONE groupBy shuffle collects the ordered polyline
    in-row (the shoelace_ring_stats contract — state bounded by the
    largest single polyline), then the walk is a pure Catalyst
    ``aggregate`` HOF building the kept array — whole-stage codegen, no
    Python, no window, no second exchange. Exact int64 arithmetic
    (|Δ|·√2 ≤ 3·10⁶ fixed-point ⇒ d² ≤ 2·10¹³), so the driver gate's
    DuckDB oracle (a recursive CTE walking the same chain) hash-matches
    bit-for-bit. The endpoint is NOT force-kept (pure threshold chain);
    union the tail explicitly if closure is needed.
    """
    if tol < 1:
        raise ValueError(f"tol must be >= 1, got {tol}")
    tol2 = int(tol) * int(tol)
    pt = F.struct(
        F.col(pos_col).cast("long").alias("pos"),
        F.col(lat_col).cast("long").alias("lat"),
        F.col(lon_col).cast("long").alias("lon"),
    )
    ring = F.sort_array(F.collect_list(pt))
    g = df.groupBy(group_col).agg(ring.alias("_ring"))

    def _keep(acc, x):
        last = F.element_at(acc, -1)
        d2 = (x["lat"] - last["lat"]) * (x["lat"] - last["lat"]) + (
            x["lon"] - last["lon"]
        ) * (x["lon"] - last["lon"])
        return F.when(d2 >= F.lit(tol2), F.concat(acc, F.array(x))).otherwise(acc)

    kept = F.aggregate(
        F.slice(F.col("_ring"), 2, F.greatest(F.size("_ring") - 1, F.lit(0))),
        F.array(F.get(F.col("_ring"), 0)),
        _keep,
    )
    out = g.select(F.col(group_col), F.explode(kept).alias("_p"))
    return out.select(
        group_col,
        F.col("_p.pos").alias("pos"),
        F.col("_p.lat").alias("lat"),
        F.col("_p.lon").alias("lon"),
    )


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def quadkey_expr(tile_x: Column, tile_y: Column, zoom: int) -> Column:
    """Bing-style quadkey string for a slippy tile (the public Bing Maps
    tile-system interchange key; reference analog: the tile ids of
    render-tiles, F11 coordinate formatting): one base-4 digit per zoom
    level, MSB first, digit = 2*y_bit + x_bit. Pure Catalyst — ``zoom``
    shift/mask/concat terms, no UDF; a quadkey PREFIX is a tile ancestor,
    so range scans over quadkey-sorted layouts prune by pyramid subtree
    (the same sorted-insert idea as cell clustering)."""
    if not 1 <= zoom <= 30:
        raise ValueError(f"zoom must be in [1, 30], got {zoom}")
    digits = []
    for i in range(zoom):
        s = zoom - 1 - i
        d = F.shiftright(tile_y, s).bitwiseAND(F.lit(1)) * F.lit(2) + F.shiftright(
            tile_x, s
        ).bitwiseAND(F.lit(1))
        digits.append(d.cast("string"))
    return F.concat(*digits)


def geohash_expr(lat_deg: Column, lon_deg: Column, precision: int = 8) -> Column:
    """Standard base32 geohash (Niemeyer's public scheme) from degree
    coordinates — the cross-system interchange/clustering key. Pure
    Catalyst: both axes quantize ONCE to integers (lon gets the extra
    bit at odd total widths), then every character is five shift/mask
    bits looked up in the base32 alphabet — no per-level loop state, no
    UDF. Quantization: bit k of the stream (MSB first, lon at even
    positions) is bit (n-1-k//2) of floor((coord+off)/span * 2^n) —
    identical to the textbook bisection because each floor-quantized
    integer's bits ARE the bisection decisions."""
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    total = 5 * precision
    n_lon = (total + 1) // 2
    n_lat = total // 2
    lon_q = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << n_lon) - 1).cast("long"),
            F.floor((lon_deg + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << n_lon))).cast(
                "long"
            ),
        ),
    )
    lat_q = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << n_lat) - 1).cast("long"),
            F.floor((lat_deg + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << n_lat))).cast(
                "long"
            ),
        ),
    )
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    chars = []
    for j in range(precision):
        idx = F.lit(0)
        for m in range(5):
            k = 5 * j + m
            src, n = (lon_q, n_lon) if k % 2 == 0 else (lat_q, n_lat)
            bit = F.shiftright(src, n - 1 - k // 2).bitwiseAND(F.lit(1))
            idx = idx + bit * F.lit(1 << (4 - m))
        chars.append(F.get(alphabet, idx.cast("int")))
    return F.concat(*chars)


def sphere_ring_area_m2(
    pts,
    group_cols,
    order_cols,
    lat: str = "lat",
    lon: str = "lon",
):
    """Spherical polygon area per group — the GEODESIC complement of
    ``shoelace_ring_stats``'s exact planar double-area: the
    Chamberlain & Duquette line-integral (JPL 2007, "Some Algorithms
    for Polygons on a Sphere", eq. 14; the formula turf.js/PostGIS-
    sphere use)

        area = | sum_i (lam_{i+1} - lam_i) * (2 + sin phi_i +
               sin phi_{i+1}) | * R^2 / 2

    over the closed ring of each group's points ordered by
    ``order_cols`` (closure last -> first supplied via a wrapped lead).
    Exact for polygons whose edges are "rhumb-ish" small steps — the
    standard spherical-area estimator for map-scale rings; NOT the
    ellipsoid (use a geodesic library for survey-grade area).

    Scale shape: one window shuffle keyed by the group + the groupBy it
    already satisfies (the sessions/stay_points partitioning contract).
    → (*group_cols, n_vertices, area_m2). Inputs are FIXED-POINT ints;
    groups need >= 3 points for a meaningful area (fewer → 0.0)."""
    from pyspark.sql import Window

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*groups).orderBy(*order_cols)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base = pts.select(
        *groups,
        *order_cols,
        F.radians(to_degrees(F.col(lat))).alias("_phi"),
        F.radians(to_degrees(F.col(lon))).alias("_lam"),
    )
    closed = base.select(
        *groups,
        "_phi",
        "_lam",
        F.coalesce(F.lead("_phi").over(w), F.first("_phi").over(wfull)).alias("_phi2"),
        F.coalesce(F.lead("_lam").over(w), F.first("_lam").over(wfull)).alias("_lam2"),
    )
    term = (F.col("_lam2") - F.col("_lam")) * (
        F.lit(2.0) + F.sin(F.col("_phi")) + F.sin(F.col("_phi2"))
    )
    half_r2 = EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0
    return closed.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_vertices"),
        (F.abs(F.sum(term)) * F.lit(half_r2)).alias("area_m2"),
    )


def ring_centroid_stats(
    df,
    group_col: str,
    order_cols: list[str],
    lat_col: str = "lat",
    lon_col: str = "lon",
    lat0: int = 0,
    lon0: int = 0,
    min_vertices: int = 3,
):
    """Per-group AREA-WEIGHTED polygon centroid (the standard
    polygon-labeling centroid, not ``shoelace_ring_stats``'s vertex
    mean): C = (1 / (3 * area2x)) * sum (v_i + v_{i+1}) * cross_i with
    cross_i = x_i*y_{i+1} - x_{i+1}*y_i, over the implicitly-closed
    ring ordered by ``order_cols``.

    Numeric contract: ``cross_i`` stays EXACT int64 under the same
    translation bound as ``shoelace_ring_stats``; the (v_i + v_{i+1}) *
    cross_i product would overflow int64 (~1.3e20 at the bound), so the
    numerator folds in DOUBLE — but the fold runs IN-ROW over the ring
    array in a fixed order, so the IEEE sequence is identical across
    engines and partitionings (the SQL oracle mirrors term order
    exactly): bit-stable without being all-integer. Degenerate rings
    (area2x = 0 — the centroid is undefined) are dropped.

    → (group_col, n_vertices, area2x, cx_deg, cy_deg)."""
    ordered = F.sort_array(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols],
                                F.col(lat_col).alias("_lat"), F.col(lon_col).alias("_lon")))
    )
    g = (
        df.groupBy(group_col)
        .agg(ordered.alias("ring"), F.count("*").alias("n_vertices"))
        .filter(F.col("n_vertices") >= min_vertices)
    )
    n = F.col("n_vertices")

    def _x(i):
        return F.get(F.col("ring"), i)["_lon"] - F.lit(lon0)

    def _y(i):
        return F.get(F.col("ring"), i)["_lat"] - F.lit(lat0)

    def _cross(i):
        j = (i + 1) % n
        return _x(i) * _y(j) - _x(j) * _y(i)

    seq = F.sequence(F.lit(0), (n - 1).cast("int"))
    area2x = F.aggregate(
        seq, F.lit(0).cast("long"), lambda acc, i: acc + _cross(i)
    )
    cx_num = F.aggregate(
        seq,
        F.lit(0.0),
        lambda acc, i: acc
        + (_x(i) + _x((i + 1) % n)).cast("double") * _cross(i).cast("double"),
    )
    cy_num = F.aggregate(
        seq,
        F.lit(0.0),
        lambda acc, i: acc
        + (_y(i) + _y((i + 1) % n)).cast("double") * _cross(i).cast("double"),
    )
    out = g.select(
        group_col,
        "n_vertices",
        area2x.alias("area2x"),
        cx_num.alias("_cxn"),
        cy_num.alias("_cyn"),
    ).filter(F.col("area2x") != 0)
    scale = float(COORD_SCALE)
    return out.select(
        group_col,
        "n_vertices",
        "area2x",
        ((F.lit(float(lon0)) + F.col("_cxn") / (F.lit(3.0) * F.col("area2x").cast("double")))
         / F.lit(scale)).alias("cx_deg"),
        ((F.lit(float(lat0)) + F.col("_cyn") / (F.lit(3.0) * F.col("area2x").cast("double")))
         / F.lit(scale)).alias("cy_deg"),
    )


def ring_compactness(
    pts,
    group_cols,
    order_cols,
    lat: str = "lat",
    lon: str = "lon",
):
    """Per-group ring perimeter + Polsby-Popper compactness — the
    isoperimetric-quotient shape metric (Polsby & Popper 1991, the
    gerrymandering-literature standard): PP = 4*pi*A / P^2, 1.0 for a
    circle, → 0 as the ring contorts. A is the Chamberlain-Duquette
    spherical area (`sphere_ring_area_m2`), P the haversine perimeter
    along the closed ring (wrapped lead, reference formula order).
    One window shuffle + the groupBy it satisfies.

    → (*group_cols, n_vertices, perimeter_m, area_m2, polsby_popper).
    Groups with a zero perimeter (all points identical) are dropped —
    the quotient is undefined there."""
    import math as _math

    from pyspark.sql import Window

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*groups).orderBy(*order_cols)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base = pts.select(
        *groups,
        *order_cols,
        to_degrees(F.col(lat)).alias("_la"),
        to_degrees(F.col(lon)).alias("_lo"),
    )
    closed = base.select(
        *groups,
        "_la",
        "_lo",
        F.coalesce(F.lead("_la").over(w), F.first("_la").over(wfull)).alias("_la2"),
        F.coalesce(F.lead("_lo").over(w), F.first("_lo").over(wfull)).alias("_lo2"),
    )
    seg = haversine_m(F.col("_la"), F.col("_lo"), F.col("_la2"), F.col("_lo2"))
    phi = F.radians(F.col("_la"))
    phi2 = F.radians(F.col("_la2"))
    cd_term = (F.radians(F.col("_lo2")) - F.radians(F.col("_lo"))) * (
        F.lit(2.0) + F.sin(phi) + F.sin(phi2)
    )
    half_r2 = EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0
    agg = closed.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(seg).alias("perimeter_m"),
        (F.abs(F.sum(cd_term)) * F.lit(half_r2)).alias("area_m2"),
    )
    pp = (
        F.lit(4.0 * _math.pi)
        * F.col("area_m2")
        / (F.col("perimeter_m") * F.col("perimeter_m"))
    )
    return agg.filter(F.col("perimeter_m") > 0).select(
        *groups, "n_vertices", "perimeter_m", "area_m2", pp.alias("polsby_popper")
    )
