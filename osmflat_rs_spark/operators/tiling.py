"""Raster / vector tiling operators.

``raster_assign`` re-expresses the reference's Bresenham renderer
(osmflat/examples/render-roads.rs:71-81 affine transform, :132-155 line
rasterization) as a DataFrame pipeline: integer affine pixel transform →
keyed fan-out → consecutive-pair window → ``dda_pixels_distinct``, the
one line rasterizer.

``tile_assign_segments`` generalizes it to web-mercator slippy tiles at
a fixed zoom (north-rule raster↔vector assignment): per-endpoint tile
via the pure column-expression encode (``functions.geo``), then the same
DDA stage on the tile grid. ``oracle.tile_xy`` is its NumPy reference.

Line spec: symmetric integer DDA, round-half-up both axes, endpoints
exact (deviation from the reference's error-accumulator form is pinned in
oracle.dda_line — engine and oracle implement the identical closed form).

One DDA: raster, tile assignment, the ``raster_events`` gate and the
viewshed fan all run ``dda_pixels_distinct``. The JVM form (codegen
``sequence`` explode + ``distinct`` hash-agg) was deleted after a warm
A/B on 4 CPUs (BENCH/BASELINE.md, last section): the fused Arrow stage
won 1.8–5× from ~1M output pixels upward (8.75M tile rows: 17–19 s →
3.3–3.8 s; the sf0.1 raster segments: 5.5–6.4 s → 2.3–2.7 s), tied at
1M, and lost 0.1–0.2 s on 68k tiles — too little to keep a second path
with a size selector. In-row array-HOF dedup before the expansion (r2)
was 5-10× slower still: every array HOF materializes a fresh ArrayData
per row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RASTER_W = 512
RASTER_H = 512
TILE_ZOOM = 14


def dda_pixels_distinct(seg: DataFrame, id_cols: list[str]) -> DataFrame:
    """The engine's one line rasterizer: DDA expand + distinct fused into
    ONE vectorized Arrow stage. Takes the slim segment rows (id_cols +
    x0,y0,x1,y1), emits distinct (id_cols + x, y) bigint pixels by the
    closed form p_i = p0 + sign·((2|d|·i + m) div 2·max(m,1)), m =
    max(|dx|,|dy|), i = 0..m — ``oracle.dda_line`` per row.

    Why it is the only form: the JVM alternative explodes every pixel
    into a row and dedups it in a hash aggregate; per-row explode + hash
    probe cost more than one NumPy pass over whole Arrow batches once
    the fan-out reaches ~1M pixels (2.4× slower warm on the sf0.1 raster
    segments), and its generated loop also ran at C1 speed on a fresh
    JVM until HotSpot's Tier-4 counters tripped (48 s task CPU on the
    first sf0.1 run vs 11.5 s steady). Only the slim segment rows cross
    the JVM→Python boundary; the deduped pixels come back once.

    Dedup scope: within the input partition. Callers hash-partition the
    input by (a subset of) id_cols — ``repartition(n, key)`` with n =
    ``defaultParallelism`` — so equal (ids, x, y) tuples are co-located
    and per-partition dedup IS global dedup; the keyed exchange is the
    stage's only shuffle. (A caller whose rows each carry a unique id
    needs no partitioning: one segment's pixels are already distinct,
    the major axis advancing by exactly 1 per step.)
    Memory contract: one task holds one partition's exploded pixels as
    transient int64 arrays — the input's pixels / n. At scale, raise n
    with the input so per-task state stays bounded.
    """
    import numpy as np

    id_types = {f.name: f.dataType.simpleString() for f in seg.schema.fields}
    out_schema = ", ".join([f"{c} {id_types[c]}" for c in id_cols] + ["x bigint", "y bigint"])
    slim = seg.select(*id_cols, "x0", "y0", "x1", "y1")

    def fn(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        x0 = pdf["x0"].to_numpy(np.int64)
        y0 = pdf["y0"].to_numpy(np.int64)
        x1 = pdf["x1"].to_numpy(np.int64)
        y1 = pdf["y1"].to_numpy(np.int64)
        ids = [pdf[c].to_numpy() for c in id_cols]
        adx = np.abs(x1 - x0)
        ady = np.abs(y1 - y0)
        m = np.maximum(adx, ady)
        steps = m + 1
        first = np.concatenate(([0], np.cumsum(steps)[:-1]))
        sidx = np.repeat(np.arange(len(pdf)), steps)
        i = np.arange(int(steps.sum()), dtype=np.int64) - first[sidx]
        me = m[sidx]
        denom = 2 * np.maximum(me, 1)
        sx = np.where(x1 >= x0, 1, -1)[sidx]
        sy = np.where(y1 >= y0, 1, -1)[sidx]
        x = x0[sidx] + sx * ((2 * adx[sidx] * i + me) // denom)
        y = y0[sidx] + sy * ((2 * ady[sidx] * i + me) // denom)
        idx = [a[sidx] for a in ids]
        # lexsort-dedup (primary key last in the lexsort tuple)
        order = np.lexsort(tuple([y, x] + idx[::-1]))
        xs, ys = x[order], y[order]
        idss = [a[order] for a in idx]
        keep = np.ones(len(xs), dtype=bool)
        if len(xs) > 1:
            same = (xs[1:] == xs[:-1]) & (ys[1:] == ys[:-1])
            for a in idss:
                same &= a[1:] == a[:-1]
            keep[1:] = ~same
        out = {c: a[keep] for c, a in zip(id_cols, idss)}
        out["x"] = xs[keep]
        out["y"] = ys[keep]
        yield pd.DataFrame(out)

    return slim.mapInPandas(fn, out_schema)


def _segments(coords: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, gx, gy) → consecutive grid pairs via lead() (SURVEY W3)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        coords.withColumn("x1", F.lead("gx").over(w))
        .withColumn("y1", F.lead("gy").over(w))
        .filter(F.col("x1").isNotNull())
    )


def raster_assign(road_coords: DataFrame, bbox: tuple[int, int, int, int]) -> DataFrame:
    """road_coords: (way_idx, pos, lat, lon) fully-resolved road vertices;
    bbox: (min_lat, max_lat, min_lon, max_lon) fixed-point ints.
    → distinct (way_idx, x, y) Bresenham-family pixels on RASTER_W×H."""
    min_lat, max_lat, min_lon, max_lon = (int(v) for v in bbox)
    lat_span = max(1, max_lat - min_lat)
    lon_span = max(1, max_lon - min_lon)
    # floor, not cast: cast('long') truncates toward ZERO, so a
    # coordinate below the bbox minimum mapped to pixel -1 where the
    # model oracle's floor-division gives -2 (and a just-below-min coord
    # landed IN-bounds at 0) — engine and oracle must agree on any bbox,
    # not only bboxes derived from the plotted coordinate set
    px = F.floor((F.col("lon") - F.lit(min_lon)) * F.lit(RASTER_W - 1) / F.lit(lon_span)).cast("long")
    py = F.lit(RASTER_H - 1) - F.floor(
        (F.col("lat") - F.lit(min_lat)) * F.lit(RASTER_H - 1) / F.lit(lat_span)
    ).cast("long")
    # NOTE: (a*b)/c on longs in Spark yields double — exact here because
    # |a*b| < 2^53; for planet-scale rasters switch to expr("a*b div c").
    # fan out BEFORE the window (the q_raster_events shape): an
    # explicit-count keyed exchange is never coalesced by AQE and
    # satisfies the window's clustering, so it is the only shuffle and
    # the DDA stage's per-partition dedup is global
    n = road_coords.sparkSession.sparkContext.defaultParallelism
    pix = road_coords.select(
        "way_idx",
        "pos",
        px.alias("gx"),
        py.alias("gy"),
    ).repartition(n, "way_idx")
    seg = _segments(pix, "way_idx").withColumnRenamed("gx", "x0").withColumnRenamed("gy", "y0")
    return dda_pixels_distinct(seg, ["way_idx"]).select(
        "way_idx", F.col("x").cast("int").alias("x"), F.col("y").cast("int").alias("y")
    )


def tile_assign_segments(
    segments: DataFrame,
    zoom: int = TILE_ZOOM,
    jvm_tiles: bool = True,
) -> DataFrame:
    """→ distinct (way_idx, zoom, tile_x, tile_y) from PRE-PAIRED segments
    (way_idx, lat, lon, lat2, lon2) — e.g. ``queries.road_segments``'s
    in-row pairs. The whole phase is then: one codegen stage (tile
    encode) → a keyed fan-out of the slim tile segments to
    ``defaultParallelism`` partitions by way_idx — the ONLY shuffle in
    the 100-TB tile path — → ``dda_pixels_distinct``, whose
    per-partition dedup is global dedup under that keying.

    Tile coords come from the pure column-expression encode
    (``functions.geo``), the one engine path: its float log/tan tree is
    the bit-pinned one. ``oracle.tile_xy`` is the NumPy reference the
    tests compare it with. ``jvm_tiles`` accepts only ``True`` (kept for
    callers that pass it); ``False`` raises ValueError."""
    if not jvm_tiles:
        raise ValueError(
            "tile_assign_segments has one tile encode (jvm_tiles=True); "
            "the NumPy tile kernel is the test reference oracle.tile_xy"
        )
    from osmflat_rs_spark.functions.geo import mercator_tile_x, mercator_tile_y, to_degrees

    n = segments.sparkSession.sparkContext.defaultParallelism
    seg = segments.select(
        "way_idx",
        mercator_tile_x(to_degrees(F.col("lon")), zoom).alias("x0"),
        mercator_tile_y(to_degrees(F.col("lat")), zoom).alias("y0"),
        mercator_tile_x(to_degrees(F.col("lon2")), zoom).alias("x1"),
        mercator_tile_y(to_degrees(F.col("lat2")), zoom).alias("y1"),
    )
    return dda_pixels_distinct(seg.repartition(n, "way_idx"), ["way_idx"]).select(
        "way_idx",
        F.lit(zoom).alias("zoom"),
        F.col("x").alias("tile_x"),
        F.col("y").alias("tile_y"),
    )


def tile_pyramid(
    points: DataFrame,
    base_zoom: int,
    min_zoom: int,
    sums: dict[str, "Column | str"] | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_cols: tuple = (),
) -> DataFrame:
    """Multi-resolution tile rollup (the hypertable/overview-level
    pattern): per-tile aggregates at ``base_zoom``, then every coarser
    level down to ``min_zoom`` computed FROM ITS CHILDREN's aggregates
    (``tile >> 1`` parenting), never by rescanning the points.

    → DataFrame(zoom int, tile_x long, tile_y long, n long,
    <one column per ``sums`` key>). ``sums`` maps output name → column
    (or column name) summed at the base level and re-summed up the
    pyramid — restrict it to rollup-exact measures (counts, integer
    sums); float sums roll up with reassociated addition order.

    Exactness: the slippy tile of a point at zoom z-1 equals its zoom-z
    tile ``>> 1`` BIT-EXACTLY — scaling a double by a power of two is
    exact, so fl(y·2^z) = 2·fl(y·2^(z-1)) and floor(2b) div 2 =
    floor(b); the clamp commutes because the clamp boundary at z-1 is
    the boundary at z shifted. Hence child-sum == direct recompute at
    every level, and the whole pyramid is oracle-checkable per level.

    Scale design: the base aggregation is the ONLY pass over the data
    (one scan + one shuffle with map-side partial combine; ≤4^base_zoom
    output rows, in practice the distinct-tile count). Each rollup
    consumes the previous level's aggregate — at most 4× smaller per
    step — so the pyramid costs a vanishing tail after the base pass.
    The level branches all share the base aggregate's Exchange subtree;
    Spark's ReuseExchange executes the scan+partial-agg once and replays
    the tiny shuffle output per branch (plan-asserted in
    tests/test_tiling.py). Analog: the reference renders one raster per
    requested zoom from the same vector pass (render-roads.rs:71-81's
    zoom-parameterized affine); here the coarser zooms reuse the finer
    AGGREGATE instead of the input.
    """
    from osmflat_rs_spark.functions.geo import mercator_tile_x, mercator_tile_y, to_degrees

    if not (0 <= min_zoom <= base_zoom):
        raise ValueError(f"need 0 <= min_zoom <= base_zoom, got {min_zoom}..{base_zoom}")
    sums = sums or {}
    # measures are pre-projected under their output names, so every
    # aggregation level (base included) sums the same named column
    sum_exprs = [F.sum(name).alias(name) for name in sums]
    base = (
        points.select(
            *id_cols,
            mercator_tile_x(to_degrees(F.col(lon_col)), base_zoom).alias("tile_x"),
            mercator_tile_y(to_degrees(F.col(lat_col)), base_zoom).alias("tile_y"),
            *[(F.col(c) if isinstance(c, str) else c).alias(name) for name, c in sums.items()],
        )
        .groupBy(*id_cols, "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"), *sum_exprs)
    )

    rollup_sums = [F.sum(name).alias(name) for name in sums]
    levels = [base.select(F.lit(base_zoom).alias("zoom"), *id_cols, "tile_x", "tile_y", "n", *sums)]
    cur = base
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        cur = (
            cur.groupBy(
                *id_cols,
                F.shiftright("tile_x", 1).alias("tile_x"),
                F.shiftright("tile_y", 1).alias("tile_y"),
            )
            .agg(F.sum("n").alias("n"), *rollup_sums)
        )
        levels.append(
            cur.select(F.lit(z).alias("zoom"), *id_cols, "tile_x", "tile_y", "n", *sums)
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def focal_grid_agg(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 1,
    value_col: str | None = None,
) -> DataFrame:
    """Focal (moving-window) grid aggregation — the raster neighborhood
    op behind heatmaps / kernel-density surfaces: for every OCCUPIED
    grid cell, the count (and optional value sum) of points within
    Chebyshev distance ``radius`` in grid space → (ix, iy, n_self,
    n_focal[, v_self, v_focal]).

    Plan shape (the order matters at 100 TB): aggregate FIRST — one
    map-side-combined groupBy(ix, iy) reduces the input to its occupied
    cells — then fan each cell's partial out to its (2·r+1)² neighbor
    targets IN-ROW (two codegen sequence-explodes) and re-aggregate.
    The fan-out amplification lands on the reduced per-cell table, never
    the raw points; both shuffles are keyed by grid cell. The self row
    (dx = dy = 0) rides a flag so occupied cells and their own counts
    come out of the SAME aggregate — no join back, two exchanges total.
    Out-of-grid targets at the clamped edges drop in the final filter
    (they can never be occupied). NULL coordinates are dropped up front
    (a density surface has no cell for them).

    Reference anchor: the reference rasterizes per-pixel counts for its
    PNG heat output (osmflat-rs render-roads.rs accumulation loop); the
    focal form is that raster convolved with a box kernel, restated as
    two relational aggregations.
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    aggs = [F.count("*").alias("n_self")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col)).alias("v_self"))
    per_cell = base.groupBy(ix.alias("ix"), iy.alias("iy")).agg(*aggs)

    span = F.sequence(F.lit(-radius), F.lit(radius))
    fan = (
        per_cell.withColumn("_dx", F.explode(span))
        .withColumn("_dy", F.explode(span))
        .select(
            (F.col("ix") + F.col("_dx")).alias("tx"),
            (F.col("iy") + F.col("_dy")).alias("ty"),
            ((F.col("_dx") == 0) & (F.col("_dy") == 0)).alias("_is_self"),
            "n_self",
            *(["v_self"] if value_col is not None else []),
        )
    )
    out_aggs = [
        F.sum(F.when(F.col("_is_self"), F.col("n_self")).otherwise(F.lit(0))).alias("n_self"),
        F.sum("n_self").alias("n_focal"),
    ]
    if value_col is not None:
        out_aggs += [
            F.sum(F.when(F.col("_is_self"), F.col("v_self"))).alias("v_self"),
            F.sum("v_self").alias("v_focal"),
        ]
    return (
        fan.groupBy(F.col("tx").alias("ix"), F.col("ty").alias("iy"))
        .agg(*out_aggs)
        .filter(F.col("n_self") > 0)
    )


def kde_grid(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 2,
    kernel: str = "epanechnikov",
    value_col: str | None = None,
) -> DataFrame:
    """Grid kernel-density surface — ``focal_grid_agg`` with a
    distance-decay kernel instead of the box: for every OCCUPIED cell,
    density = Σ over neighbor cells of n(cell)·K(d/h) with d the grid
    euclidean offset, bandwidth h = radius+1 cells, box-truncated at
    Chebyshev ``radius`` → (ix, iy, n_self, density[, v_density]).
    Kernels: ``epanechnikov`` K(u) = max(0, 1−u²) (pure polynomial —
    the cross-engine-exact choice, used by the gate), ``triangular``
    K(u) = max(0, 1−u), ``gaussian`` K(u) = exp(−u²/2) with u = d/(h/2)
    (transcendental — verified by the model test, not the SQL hash).

    Identical plan shape to ``focal_grid_agg`` (aggregate-first, in-row
    fan-out on CELL rows, re-aggregate; two exchanges): the weight is a
    codegen expression of the fan offsets (only (2r+1)² distinct
    values), so the kernel costs nothing at scale. The smoothed surface
    is the standard heatmap/KDE visualization layer over the engine's
    raster sinks (reference anchor: render-roads.rs per-pixel
    accumulation, here convolved with a kernel).
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    h2 = float((radius + 1) ** 2)
    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    aggs = [F.count("*").alias("n_self")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col)).alias("v_self"))
    per_cell = base.groupBy(ix.alias("ix"), iy.alias("iy")).agg(*aggs)

    span = F.sequence(F.lit(-radius), F.lit(radius))
    d2 = (F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy")).cast("double")
    if kernel == "epanechnikov":
        w = F.greatest(F.lit(0.0), F.lit(1.0) - d2 / F.lit(h2))
    elif kernel == "triangular":
        w = F.greatest(F.lit(0.0), F.lit(1.0) - F.sqrt(d2 / F.lit(h2)))
    elif kernel == "gaussian":
        w = F.exp(-(d2 / F.lit(h2 / 2.0)))  # exp(-u^2/2), u = d/(h/2)
    else:
        raise ValueError(f"unknown kernel {kernel!r}")
    fan = (
        per_cell.withColumn("_dx", F.explode(span))
        .withColumn("_dy", F.explode(span))
        .select(
            (F.col("ix") + F.col("_dx")).alias("tx"),
            (F.col("iy") + F.col("_dy")).alias("ty"),
            ((F.col("_dx") == 0) & (F.col("_dy") == 0)).alias("_is_self"),
            "n_self",
            w.alias("_w"),
            *(["v_self"] if value_col is not None else []),
        )
    )
    out_aggs = [
        F.sum(F.when(F.col("_is_self"), F.col("n_self")).otherwise(F.lit(0))).alias("n_self"),
        F.sum(F.col("n_self") * F.col("_w")).alias("density"),
    ]
    if value_col is not None:
        out_aggs.append(F.sum(F.col("v_self") * F.col("_w")).alias("v_density"))
    return (
        fan.groupBy(F.col("tx").alias("ix"), F.col("ty").alias("iy"))
        .agg(*out_aggs)
        .filter(F.col("n_self") > 0)
    )


def gi_star(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 1,
    value_col: str | None = None,
) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores — the canonical local spatial
    statistic (Getis & Ord 1992; ArcGIS "Hot Spot Analysis"): for every
    occupied grid cell, how far its neighborhood sum deviates from the
    study-area expectation, in standard deviations. Binary box weights
    within Chebyshev ``radius`` (self included — the * variant); the
    study area is the bounding rectangle of occupied cells, and empty
    cells inside it participate with x = 0 — WITHOUT ever being
    materialized:

    - Σ_j w_ij x_j is :func:`focal_grid_agg`'s neighborhood sum (empty
      neighbors add zero);
    - the per-cell weight count W is the CLAMPED window area, computed
      analytically from the bbox — no empty-cell rows;
    - global moments (n = bbox area, X̄ = Σx/n, S² = Σx²/n − X̄²) come
      from ONE tiny aggregate over occupied cells (empty cells change
      neither Σx nor Σx²), cross-joined back as a 1-row broadcast.

    z = (Σwx − X̄·W) / (S·sqrt((n·W − W²)/(n − 1))); cells where the
    denominator degenerates (S = 0 or n = 1) return NULL. → (ix, iy,
    x, w, z) for every occupied cell. Everything after focal_grid_agg's
    two exchanges is expression-only plus the 1-row broadcast join."""
    f = focal_grid_agg(pts, lat=lat, lon=lon, res=res, radius=radius, value_col=value_col)
    x_self = F.col("v_self") if value_col is not None else F.col("n_self")
    x_focal = F.col("v_focal") if value_col is not None else F.col("n_focal")
    cells = f.select("ix", "iy", x_self.alias("x"), x_focal.alias("wx"))
    g = cells.agg(
        F.min("ix").alias("ix0"), F.max("ix").alias("ix1"),
        F.min("iy").alias("iy0"), F.max("iy").alias("iy1"),
        F.sum("x").alias("sx"), F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    j = cells.join(F.broadcast(g))
    n = ((F.col("ix1") - F.col("ix0") + 1) * (F.col("iy1") - F.col("iy0") + 1)).cast("double")
    w = (
        (F.least(F.col("ix") + radius, F.col("ix1")) - F.greatest(F.col("ix") - radius, F.col("ix0")) + 1)
        * (F.least(F.col("iy") + radius, F.col("iy1")) - F.greatest(F.col("iy") - radius, F.col("iy0")) + 1)
    ).cast("double")
    xbar = F.col("sx").cast("double") / n
    s = F.sqrt(F.col("sxx").cast("double") / n - xbar * xbar)
    denom = s * F.sqrt((n * w - w * w) / (n - F.lit(1.0)))
    z = F.when(denom > 0, (F.col("wx").cast("double") - xbar * w) / denom)
    return j.select("ix", "iy", "x", w.cast("long").alias("w"), z.alias("z"))


def morans_i(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 1,
    value_col: str | None = None,
) -> DataFrame:
    """Global Moran's I (Moran 1950) — THE spatial-autocorrelation
    scalar: +1 clustered, 0 random, −1 dispersed — over the bbox grid of
    occupied cells with binary box weights (Chebyshev ``radius``,
    w_ii = 0 as the statistic requires). One row: (i, n, s0).

    The trick is the same as :func:`gi_star` taken further: the study
    area's EMPTY cells participate in every textbook sum (their
    deviation is −X̄), yet nothing here materializes them. With
    self-inclusive focal sums wx_i and clamped window areas W_i
    (occupied rows only) plus four occupied-cell moments, every
    all-cells sum reduces analytically:

    - Σ_i wx'_i  = ΣxW − Σx          (each occupied j is inside exactly
      W_j windows — box-window symmetry)
    - Σ_i W'_i   = SW − n, with SW = SWx·SWy separable and
      SWaxis = (2r+1)L − r(r+1) for axis length L ≥ 2r+1
    - numerator  = Σx(wx−x) − 2X̄(ΣxW − Σx) + X̄²(SW − n)
    - I = (n/S0)·numerator/(Σx² − nX̄²), S0 = SW − n.

    Axes shorter than 2r+1 (double-clamped windows) make SWaxis wrong;
    ``i`` comes back NULL in that case — size the grid, not the guard.
    The driver gate's oracle is an INDEPENDENT dense formulation: DuckDB
    generate_series materializes every empty cell and computes the
    textbook double sum directly."""
    f = focal_grid_agg(pts, lat=lat, lon=lon, res=res, radius=radius, value_col=value_col)
    x_self = F.col("v_self") if value_col is not None else F.col("n_self")
    x_focal = F.col("v_focal") if value_col is not None else F.col("n_focal")
    cells = f.select("ix", "iy", x_self.alias("x"), x_focal.alias("wx"))
    bbox = cells.agg(
        F.min("ix").alias("ix0"), F.max("ix").alias("ix1"),
        F.min("iy").alias("iy0"), F.max("iy").alias("iy1"),
    )
    j = cells.join(F.broadcast(bbox))
    w = (
        (F.least(F.col("ix") + radius, F.col("ix1")) - F.greatest(F.col("ix") - radius, F.col("ix0")) + 1)
        * (F.least(F.col("iy") + radius, F.col("iy1")) - F.greatest(F.col("iy") - radius, F.col("iy0")) + 1)
    ).cast("double")
    x = F.col("x").cast("double")
    wx = F.col("wx").cast("double")
    agg = j.groupBy("ix0", "ix1", "iy0", "iy1").agg(
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * w).alias("sxw"),
        F.sum(x * (wx - x)).alias("sxwx"),
    )
    lx = (F.col("ix1") - F.col("ix0") + 1).cast("double")
    ly = (F.col("iy1") - F.col("iy0") + 1).cast("double")
    k = F.lit(float(2 * radius + 1))
    rr = F.lit(float(radius * (radius + 1)))
    sw = (k * lx - rr) * (k * ly - rr)
    n = lx * ly
    xbar = F.col("sx") / n
    s0 = sw - n
    num = F.col("sxwx") - F.lit(2.0) * xbar * (F.col("sxw") - F.col("sx")) + xbar * xbar * s0
    den = F.col("sxx") - n * xbar * xbar
    i = F.when(
        (lx >= k) & (ly >= k) & (den > 0), (n / s0) * num / den
    )
    return agg.select(i.alias("i"), n.cast("long").alias("n"), s0.cast("long").alias("s0"))


def gearys_c(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 1,
    value_col: str | None = None,
) -> DataFrame:
    """Geary's C (Geary 1954) — the pairwise-difference complement of
    :func:`morans_i`: C = ((n−1)/(2·S0)) · ΣΣ w_ij (x_i − x_j)² /
    Σ(x_i − x̄)², <1 clustered, 1 random, >1 dispersed. Moran's I is a
    cross-product statistic (sensitive to global structure); Geary's C
    is a squared-difference one (sensitive to local contrast) — spatial
    packages (spdep, PySAL esda.Geary) always report the pair. Same
    binary box weights (Chebyshev ``radius``, w_ii = 0) over the bbox
    grid of occupied cells, empty cells participating with x = 0. One
    row: (c, n, s0).

    Same sparse-analytic reduction as morans_i — nothing materializes
    the empty cells. With w_ij symmetric, the double sum expands to

        ΣΣ w_ij (x_i − x_j)² = 2·Σ_i W'_i x_i² − 2·Σ_i x_i·lag_i

    where W'_i = clamped-window-area − 1 and lag_i = wx_i − x_i; every
    term is zero on empty cells (x = 0), so TWO occupied-cell aggregates
    (Σ x²·W and Σ x·(wx − x), the second shared with morans_i) plus the
    separable S0 = SW − n closed form finish the statistic. The
    denominator Σ(x−x̄)² = Σx² − n·x̄² is morans_i's exactly. Axes
    shorter than 2r+1 (double-clamped windows) return NULL, same
    contract as morans_i. The driver gate's oracle is an INDEPENDENT
    dense formulation — generate_series materializes every bbox cell and
    computes the textbook pairwise sum directly."""
    f = focal_grid_agg(pts, lat=lat, lon=lon, res=res, radius=radius, value_col=value_col)
    x_self = F.col("v_self") if value_col is not None else F.col("n_self")
    x_focal = F.col("v_focal") if value_col is not None else F.col("n_focal")
    cells = f.select("ix", "iy", x_self.alias("x"), x_focal.alias("wx"))
    bbox = cells.agg(
        F.min("ix").alias("ix0"), F.max("ix").alias("ix1"),
        F.min("iy").alias("iy0"), F.max("iy").alias("iy1"),
    )
    j = cells.join(F.broadcast(bbox))
    w = (
        (F.least(F.col("ix") + radius, F.col("ix1")) - F.greatest(F.col("ix") - radius, F.col("ix0")) + 1)
        * (F.least(F.col("iy") + radius, F.col("iy1")) - F.greatest(F.col("iy") - radius, F.col("iy0")) + 1)
    ).cast("double")
    x = F.col("x").cast("double")
    wx = F.col("wx").cast("double")
    agg = j.groupBy("ix0", "ix1", "iy0", "iy1").agg(
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * x * (w - F.lit(1.0))).alias("sxxw"),
        F.sum(x * (wx - x)).alias("sxwx"),
    )
    lx = (F.col("ix1") - F.col("ix0") + 1).cast("double")
    ly = (F.col("iy1") - F.col("iy0") + 1).cast("double")
    k = F.lit(float(2 * radius + 1))
    rr = F.lit(float(radius * (radius + 1)))
    sw = (k * lx - rr) * (k * ly - rr)
    n = lx * ly
    xbar = F.col("sx") / n
    s0 = sw - n
    pair_sum = F.lit(2.0) * (F.col("sxxw") - F.col("sxwx"))
    den = F.col("sxx") - n * xbar * xbar
    c = F.when(
        (lx >= k) & (ly >= k) & (den > 0),
        ((n - F.lit(1.0)) / (F.lit(2.0) * s0)) * pair_sum / den,
    )
    return agg.select(c.alias("c"), n.cast("long").alias("n"), s0.cast("long").alias("s0"))


def local_morans_i(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 1,
    value_col: str | None = None,
) -> DataFrame:
    """Local Moran's I (Anselin 1995 "LISA") — the per-cell decomposition
    of :func:`morans_i`, plus the HH/LL/HL/LH cluster map GeoDa ships as
    "LISA cluster analysis". Binary box weights within Chebyshev
    ``radius``, w_ii = 0, over the bbox grid of occupied cells; empty
    bbox cells participate in every moment and every spatial lag with
    x = 0 — analytically, never materialized (the gi_star/morans_i
    trick):

    - lag deviation Σ_j w_ij (x_j − x̄) = (wx − x) − x̄·W', with wx the
      self-inclusive focal sum and W' the clamped window area minus 1;
    - global moments m2, m4 from ONE tiny aggregate over occupied cells
      (empties contribute x̄² resp. x̄⁴ each, in closed form);
    - I_i = ((x_i − x̄)/m2) · lagdev_i;
    - analytic randomization moments (Anselin 1995 eqs. 12-13, binary
      weights: Σw² = W', ΣΣ w_ik w_ih (k≠h) = W'² − W'):
      E[I_i] = −W'/(n−1),
      Var[I_i] = W'(n−b2)/(n−1) + (W'²−W')(2b2−n)/((n−1)(n−2))
                 − W'²/(n−1)², with b2 = m4/m2²;
      z_i = (I_i − E)/√Var — NULL when n ≤ 3, m2 = 0 or Var ≤ 0;
    - quadrant: HH/LL (spatial clusters) vs HL/LH (spatial outliers) by
      the signs of (x_i − x̄) and lagdev; NULL on either-zero ties.

    Everything after focal_grid_agg's two exchanges is expression-only
    plus the 1-row broadcast join — same scale shape as gi_star. Only
    OCCUPIED cells emit rows (empty cells have LISA values too — their
    x deviation is −x̄ — but materializing them is a choice the caller
    can make by unioning the dense grid; at 100 TB the occupied set is
    the workload). → (ix, iy, x, w, ii, z, quadrant)."""
    f = focal_grid_agg(pts, lat=lat, lon=lon, res=res, radius=radius, value_col=value_col)
    x_self = F.col("v_self") if value_col is not None else F.col("n_self")
    x_focal = F.col("v_focal") if value_col is not None else F.col("n_focal")
    cells = f.select("ix", "iy", x_self.alias("x"), x_focal.alias("wx"))
    xd = F.col("x").cast("double")
    g = cells.agg(
        F.min("ix").alias("ix0"), F.max("ix").alias("ix1"),
        F.min("iy").alias("iy0"), F.max("iy").alias("iy1"),
        F.sum(xd).alias("sx"), F.sum(xd * xd).alias("sxx"),
        F.sum(xd * xd * xd).alias("sxxx"), F.sum(xd * xd * xd * xd).alias("sxxxx"),
        F.count(F.lit(1)).cast("double").alias("occ"),
    )
    j = cells.join(F.broadcast(g))
    n = ((F.col("ix1") - F.col("ix0") + 1) * (F.col("iy1") - F.col("iy0") + 1)).cast("double")
    wfull = (
        (F.least(F.col("ix") + radius, F.col("ix1")) - F.greatest(F.col("ix") - radius, F.col("ix0")) + 1)
        * (F.least(F.col("iy") + radius, F.col("iy1")) - F.greatest(F.col("iy") - radius, F.col("iy0")) + 1)
    ).cast("double")
    wp = wfull - F.lit(1.0)
    xbar = F.col("sx") / n
    m2 = F.col("sxx") / n - xbar * xbar
    # Σ_occ (x−x̄)⁴ expanded in raw moments; empties add (n−occ)·x̄⁴
    cdev4 = (
        F.col("sxxxx")
        - F.lit(4.0) * xbar * F.col("sxxx")
        + F.lit(6.0) * xbar * xbar * F.col("sxx")
        - F.lit(4.0) * xbar * xbar * xbar * F.col("sx")
        + F.col("occ") * xbar * xbar * xbar * xbar
    )
    m4 = (cdev4 + (n - F.col("occ")) * xbar * xbar * xbar * xbar) / n
    b2 = m4 / (m2 * m2)
    x = F.col("x").cast("double")
    lagdev = (F.col("wx").cast("double") - x) - xbar * wp
    ii = ((x - xbar) / m2) * lagdev
    e_i = -wp / (n - F.lit(1.0))
    var_i = (
        wp * (n - b2) / (n - F.lit(1.0))
        + (wp * wp - wp) * (F.lit(2.0) * b2 - n) / ((n - F.lit(1.0)) * (n - F.lit(2.0)))
        - (wp * wp) / ((n - F.lit(1.0)) * (n - F.lit(1.0)))
    )
    ok = (n > 3) & (m2 > 0)
    z = F.when(ok & (var_i > 0), (ii - e_i) / F.sqrt(var_i))
    quadrant = (
        F.when((x > xbar) & (lagdev > 0), F.lit("HH"))
        .when((x < xbar) & (lagdev < 0), F.lit("LL"))
        .when((x > xbar) & (lagdev < 0), F.lit("HL"))
        .when((x < xbar) & (lagdev > 0), F.lit("LH"))
    )
    return j.select(
        "ix", "iy", "x",
        wp.cast("long").alias("w"),
        F.when(m2 > 0, ii).alias("ii"),
        z.alias("z"),
        quadrant.alias("quadrant"),
    )


def adaptive_grid(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    max_level: int = 12,
    cap: int = 1000,
) -> DataFrame:
    """Adaptive quadtree aggregation → (level, ix, iy, n): the COARSEST
    set of grid cells in which no cell holds more than ``cap`` points
    (cells still overfull at ``max_level`` become forced leaves). The
    output is a complete, non-overlapping leaf cover of the occupied
    space — the adaptive heatmap / load-balancing tile set (dense
    downtown splits to level 12, empty ocean stays one coarse cell),
    the classic quadtree index build restated relationally.

    Correctness hinge: subtree counts are MONOTONE up the hierarchy
    (a parent's count ≥ any child's), so "every ancestor is overfull"
    collapses to "the immediate parent is overfull" — the split test is
    LOCAL, and the whole operator needs no iteration-until-fixpoint:
    a cell at level l > 0 is a leaf iff parent.n > cap AND (own n ≤ cap
    OR l = max_level); the level-0 cell is a leaf iff n ≤ cap (or
    max_level = 0). Deterministic, partition-invariant, and exactly
    restatable as chained SQL CTEs (the gate oracle).

    Scale shape: points are touched ONCE (one map-side-combined groupBy
    at the finest level); every coarser level's counts ROLL UP from the
    level below (shiftright parent keys — aggregates over occupied-cell
    rows, whose count shrinks ~4× per level); the leaf tests are
    cell-keyed equi-joins between adjacent levels. Total: one
    point-sized exchange + max_level cell-sized rollups, all lazy (no
    driver actions), all codegen.
    """
    from osmflat_rs_spark.functions.cells import MAX_RES, grid_exprs

    if not (0 <= max_level <= MAX_RES):
        raise ValueError(f"max_level must be in [0, {MAX_RES}], got {max_level}")
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    ix, iy = grid_exprs(F.col(lat), F.col(lon), max_level)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    finest = base.groupBy(ix.alias("ix"), iy.alias("iy")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return adaptive_grid_from_counts(finest, max_level=max_level, cap=cap)


def adaptive_grid_cell_counts(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    max_level: int = 12,
) -> DataFrame:
    """The MERGEABLE part of :func:`adaptive_grid`: finest-level
    occupied-cell counts (ix, iy, n). Counts merge by re-summing, so
    this is the partial a streaming maintenance job appends per batch
    (see ``incremental.stream_adaptive_partials``) — the leaf test
    stays a READ-time knob (cap can be re-cut on the same partials)."""
    from osmflat_rs_spark.functions.cells import MAX_RES, grid_exprs

    if not (0 <= max_level <= MAX_RES):
        raise ValueError(f"max_level must be in [0, {MAX_RES}], got {max_level}")
    ix, iy = grid_exprs(F.col(lat), F.col(lon), max_level)
    return (
        pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
        .groupBy(ix.alias("ix"), iy.alias("iy"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def adaptive_grid_from_counts(
    finest: DataFrame,
    max_level: int,
    cap: int,
) -> DataFrame:
    """Rollup + local leaf test over pre-aggregated finest-level cell
    counts (ix, iy, n) — the read-time half shared by the batch
    operator and the streaming-partials form (merge partials with a
    groupBy-sum first; re-summed counts are the SAME table the batch
    aggregate would produce, so both forms agree exactly)."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    counts = {max_level: finest}
    for lvl in range(max_level - 1, -1, -1):
        counts[lvl] = (
            counts[lvl + 1]
            .groupBy(
                F.shiftright("ix", 1).alias("ix"), F.shiftright("iy", 1).alias("iy")
            )
            .agg(F.sum("n").alias("n"))
        )
    leaves = []
    for lvl in range(0, max_level + 1):
        c = counts[lvl]
        if lvl == 0:
            leaf = c if max_level == 0 else c.filter(F.col("n") <= cap)
        else:
            par = counts[lvl - 1].select(
                F.col("ix").alias("_pix"), F.col("iy").alias("_piy"),
                F.col("n").alias("_pn"),
            )
            own_ok = (
                F.lit(True) if lvl == max_level else (F.col("n") <= cap)
            )
            leaf = (
                c.join(
                    par,
                    (F.shiftright(c["ix"], 1) == par["_pix"])
                    & (F.shiftright(c["iy"], 1) == par["_piy"]),
                )
                .filter((F.col("_pn") > cap) & own_ok)
                .select("ix", "iy", "n")
            )
        leaves.append(leaf.select(F.lit(lvl).cast("int").alias("level"), "ix", "iy",
                                  F.col("n").cast("long").alias("n")))
    out = leaves[0]
    for lf in leaves[1:]:
        out = out.unionByName(lf)
    return out


def hillshade_grid(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    cellsize_x: float = 1.0,
    cellsize_y: float = 1.0,
    z_factor: float = 1.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    value_col: str | None = None,
) -> DataFrame:
    """Horn slope / aspect / hillshade (Horn 1981; the ``gdaldem
    hillshade`` / ESRI algorithm) over the occupied-cell density grid:
    z(cell) = point count (or sum of ``value_col``), absent cells are
    z = 0 (density-surface semantics — NOT DEM nodata), and every cell
    within Chebyshev distance 1 of an occupied cell gets an output row.

    Plan shape (focal_grid_agg's aggregate-first contract): ONE
    map-side-combined groupBy reduces points to occupied cells; each
    cell then fans its z to its 9 neighbor TARGETS in-row, carrying the
    two Horn weights — wx = rx*(2-|ry|), wy = ry*(2-|rx|) for the
    source's offset (rx, ry) from the target — and one re-aggregate
    yields both central-difference sums at once. Slope/aspect/hillshade
    are then pure codegen trig per cell:

        dzdx = sum(z*wx) / (8*cellsize_x); dzdy = sum(z*wy) / (8*cellsize_y)
        slope = atan(z_factor * hypot(dzdx, dzdy))
        aspect = atan2(dzdy, -dzdx)
        shade = 255 * max(0, cos(zen)cos(slope)
                              + sin(zen)sin(slope)cos(azm - aspect))

    with zen = radians(90 - altitude), azm = radians((360 - azimuth +
    90) mod 360) — the published ESRI constants. → (ix, iy, n_self,
    dzdx, dzdy, slope_deg, aspect_rad, hillshade)."""
    import math as _math

    from osmflat_rs_spark.functions.cells import grid_exprs

    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    z = (
        F.sum(F.col(value_col)) if value_col is not None else F.count("*")
    ).cast("double").alias("z")
    per_cell = base.groupBy(ix.alias("ix"), iy.alias("iy")).agg(z)

    span = F.sequence(F.lit(-1), F.lit(1))
    fan = (
        per_cell.withColumn("_rx", F.explode(span))
        .withColumn("_ry", F.explode(span))
        .select(
            (F.col("ix") - F.col("_rx")).alias("tx"),
            (F.col("iy") - F.col("_ry")).alias("ty"),
            ((F.col("_rx") == 0) & (F.col("_ry") == 0)).alias("_is_self"),
            (F.col("z") * (F.col("_rx") * (F.lit(2) - F.abs("_ry")))).alias("_zwx"),
            (F.col("z") * (F.col("_ry") * (F.lit(2) - F.abs("_rx")))).alias("_zwy"),
            "z",
        )
    )
    agg = fan.groupBy(F.col("tx").alias("ix"), F.col("ty").alias("iy")).agg(
        F.sum(F.when(F.col("_is_self"), F.col("z")).otherwise(F.lit(0.0))).alias("n_self"),
        F.sum("_zwx").alias("_sx"),
        F.sum("_zwy").alias("_sy"),
    )
    dzdx = F.col("_sx") / F.lit(8.0 * float(cellsize_x))
    dzdy = F.col("_sy") / F.lit(8.0 * float(cellsize_y))
    slope = F.atan(F.lit(float(z_factor)) * F.sqrt(dzdx * dzdx + dzdy * dzdy))
    # flat cells pinned to aspect 0: atan2(0, -0.0) is signed-zero
    # DEPENDENT (Spark negate keeps +0.0 -> 0; engines with -0.0 -> pi),
    # so the convention must be explicit to be cross-engine stable
    aspect = F.when((dzdx == F.lit(0.0)) & (dzdy == F.lit(0.0)), F.lit(0.0)).otherwise(
        F.atan2(dzdy, -dzdx)
    )
    zen = _math.radians(90.0 - float(altitude_deg))
    azm = _math.radians((360.0 - float(azimuth_deg) + 90.0) % 360.0)
    shade = F.lit(255.0) * F.greatest(
        F.lit(0.0),
        F.lit(_math.cos(zen)) * F.cos(slope)
        + F.lit(_math.sin(zen)) * F.sin(slope) * F.cos(F.lit(azm) - aspect),
    )
    return agg.select(
        "ix", "iy", "n_self",
        dzdx.alias("dzdx"), dzdy.alias("dzdy"),
        F.degrees(slope).alias("slope_deg"),
        aspect.alias("aspect_rad"),
        shade.alias("hillshade"),
    )


def viewshed_grid(
    pts: DataFrame,
    observer: tuple[int, int],
    observer_height: float = 0.0,
    res: int = 18,
    lat: str = "lat",
    lon: str = "lon",
    value_col: str | None = None,
) -> DataFrame:
    """Grid VIEWSHED (gdal_viewshed / Wang-Robinson line-of-sight) over
    the occupied-cell density surface: a target cell is VISIBLE from
    the observer cell iff no intermediate cell on the DDA line blocks
    the sight line — i.e. for every strict between-cell c,
    (z_c - z_o) * d_t < (z_t - z_o) * d_c (cross-multiplied slope
    compare, d = euclidean cell distance as a double of exact integer
    squares — the one float, mirrored verbatim in the oracle).
    z = per-cell point count (or ``value_col`` sum), absent cells 0;
    z_o = observer cell's z + ``observer_height``.

    Scale shape: ONE density aggregate, then the DDA fan
    (``dda_pixels_distinct``, one Arrow stage; sum of line lengths =
    O(occupied x radius) — the inherent viewshed cost; bound the input
    to the analysis window upstream), one left join back to the density grid for
    intermediate elevations (broadcast when the occupied set is small),
    one groupBy(target) max-obstruction. → (ix, iy, z, visible);
    the observer's own cell is omitted (self-visibility is vacuous)."""
    from osmflat_rs_spark.functions.cells import grid_exprs

    ox, oy = int(observer[0]), int(observer[1])
    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    z = (
        F.sum(F.col(value_col)) if value_col is not None else F.count("*")
    ).cast("double").alias("z")
    cells = base.groupBy(ix.alias("ix"), iy.alias("iy")).agg(z)

    spark = pts.sparkSession
    obs_z = cells.filter((F.col("ix") == ox) & (F.col("iy") == oy)).select(
        F.col("z").alias("_zraw")
    )
    # attach the observer elevation as a 1-row broadcast: left-join a
    # literal single row so an UNOCCUPIED observer cell yields z_o = 0
    # instead of an empty frame
    one = spark.createDataFrame([(1,)], "k int")
    obs1 = one.join(
        F.broadcast(obs_z.withColumn("k", F.lit(1))), "k", "left"
    ).select((F.coalesce(F.col("_zraw"), F.lit(0.0)) + F.lit(float(observer_height))).alias("_zo"))

    targets = cells.filter(~((F.col("ix") == ox) & (F.col("iy") == oy))).select(
        F.col("ix").alias("tx"), F.col("iy").alias("ty"), F.col("z").alias("zt")
    )
    seg = targets.crossJoin(F.broadcast(obs1)).select(
        "tx", "ty", "zt", "_zo",
        F.lit(ox).cast("long").alias("x0"),
        F.lit(oy).cast("long").alias("y0"),
        F.col("tx").cast("long").alias("x1"),
        F.col("ty").cast("long").alias("y1"),
    )
    # each target is one row and a DDA line never repeats a pixel, so
    # the stage's dedup keeps every row under any partitioning
    line = dda_pixels_distinct(seg, ["tx", "ty", "zt", "_zo"])
    mids = line.filter(
        ~((F.col("x") == ox) & (F.col("y") == oy))
        & ~((F.col("x") == F.col("tx")) & (F.col("y") == F.col("ty")))
    )
    grid = cells.select(
        F.col("ix").alias("x"), F.col("iy").alias("y"), F.col("z").alias("zc")
    )
    j = mids.join(F.broadcast(grid), ["x", "y"], "left").withColumn(
        "zc", F.coalesce(F.col("zc"), F.lit(0.0))
    )
    dmid = F.sqrt(
        ((F.col("x") - F.lit(ox)) * (F.col("x") - F.lit(ox))
         + (F.col("y") - F.lit(oy)) * (F.col("y") - F.lit(oy))).cast("double")
    )
    dtgt = F.sqrt(
        ((F.col("tx") - F.lit(ox)) * (F.col("tx") - F.lit(ox))
         + (F.col("ty") - F.lit(oy)) * (F.col("ty") - F.lit(oy))).cast("double")
    )
    blocked = (
        (F.col("zc") - F.col("_zo")) * dtgt >= (F.col("zt") - F.col("_zo")) * dmid
    ).cast("int")
    obstr = j.groupBy("tx", "ty").agg(F.max(blocked).alias("_b"))
    out = targets.join(obstr, ["tx", "ty"], "left").select(
        F.col("tx").alias("ix"),
        F.col("ty").alias("iy"),
        F.col("zt").alias("z"),
        (F.coalesce(F.col("_b"), F.lit(0)) == 0).alias("visible"),
    )
    return out


# --- hexagonal binning -----------------------------------------------------

# double constants shared verbatim with the SQL oracle (same literals,
# same op order → bit-identical IEEE results cross-engine)
_SQ3 = 1.7320508075688772       # repr(math.sqrt(3.0))
_SQ3_3 = 0.5773502691896257     # repr(math.sqrt(3.0) / 3.0)
_THIRD = 0.3333333333333333     # repr(1.0 / 3.0)
_TWO_THIRDS = 0.6666666666666666  # repr(2.0 / 3.0)


def hex_qr_exprs(lat_fixed: Column, lon_fixed: Column, size: int) -> tuple[Column, Column]:
    """Axial hex coordinates (q, r) of the pointy-top hexagon (circumradius
    ``size`` fixed-point units, hex centered at the axial lattice point)
    containing the point — the exact cube-rounding construction (Red Blob
    Games' canonical hex-grid algorithm; same family as the reference's
    quantized cell keys, osmflatc/src/osmpbf.rs granularity rescale).

    Pure Catalyst doubles: fractional axial coords, cube round via
    floor(v + 0.5) (NOT half-even round() — floor is an exact IEEE op with
    identical semantics in every engine), then the one-coordinate repair
    that keeps q + r + s = 0. Both columns are BIGINT. The entire chain is
    whole-stage-codegen'd — a hexbin over 10^12 points is scan + one
    map-side-combined hash aggregate, zero Python, zero shuffle beyond the
    final (q, r) agg exchange.

    Cross-engine exactness contract: every constant is embedded as the
    shortest-repr double literal and the expression tree (mul → sub → div)
    matches the oracle SQL token for token, so candidates at a hex boundary
    tie-break identically (IEEE doubles are deterministic; only op ORDER
    matters, and it is pinned)."""
    x = lon_fixed.cast("double")
    y = lat_fixed.cast("double")
    s = float(size)
    qf = (x * F.lit(_SQ3_3) - y * F.lit(_THIRD)) / F.lit(s)
    rf = (y * F.lit(_TWO_THIRDS)) / F.lit(s)
    xf, zf = qf, rf
    yf = -xf - zf
    rx = F.floor(xf + F.lit(0.5))
    ry = F.floor(yf + F.lit(0.5))
    rz = F.floor(zf + F.lit(0.5))
    dx = F.abs(rx.cast("double") - xf)
    dy = F.abs(ry.cast("double") - yf)
    dz = F.abs(rz.cast("double") - zf)
    fix_x = (dx > dy) & (dx > dz)
    q = F.when(fix_x, -ry - rz).otherwise(rx)
    # rz is repaired only when NEITHER the x-repair nor the y-repair fires
    r = F.when(fix_x | (dy > dz), rz).otherwise(-rx - ry)
    return q.cast("long"), r.cast("long")


def hexbin_agg(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    size: int = 500_000,
    value_col: str | None = None,
) -> DataFrame:
    """Hexagonal-bin aggregation (the d3-hexbin / matplotlib-hexbin
    analytics primitive, exact cube-round assignment) → (q, r, cx, cy, n
    [, sum_val]) — one row per non-empty hexagon; (cx, cy) is the hex
    center in fixed-point doubles (cx = size·√3·(q + r/2), cy = size·1.5·r).

    Scale shape: identical to the density grid — the (q, r) key is two
    codegen expressions on the scan, the aggregate is map-side partial,
    and the only exchange is the final hash agg keyed by ~#occupied-hexes
    (data-bounded, not point-bounded). Hexes beat squares for density
    readouts (uniform 6-neighborhood, lower quantization anisotropy);
    this is the binning layer under hex-heatmaps and choropleth rollups."""
    qc, rc = hex_qr_exprs(F.col(lat), F.col(lon), size)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col)).alias("sum_val"))
    out = base.groupBy(qc.alias("q"), rc.alias("r")).agg(*aggs)
    s = float(size)
    cx = (F.col("q").cast("double") + F.col("r").cast("double") / F.lit(2.0)) * F.lit(s * _SQ3)
    cy = F.col("r").cast("double") * F.lit(s * 1.5)
    cols = ["q", "r", cx.alias("cx"), cy.alias("cy"), "n"]
    if value_col is not None:
        cols.append("sum_val")
    return out.select(*cols)


def join_counts(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 16,
    threshold: int = 2,
) -> DataFrame:
    """Join-count statistics (Cliff & Ord) — the BINARY-field member of
    the spatial-autocorrelation family next to :func:`morans_i` /
    :func:`gearys_c`: mark each occupied grid cell Black (point count ≥
    ``threshold``) or White, count Black-Black / White-White / mixed
    pairs over ROOK-adjacent occupied cells, and z-score BB against its
    expectation under nonfree (hypergeometric) sampling. One row:
    (n, nb, jj, bb, ww, bw, e_bb, var_bb, z_bb) — z_bb ≫ 0 means dense
    cells clump spatially.

    Scale shape: aggregate FIRST (one map-side-combined groupBy to
    occupied cells), then everything runs on the cell table — rook
    edges as a union of two shifted EQUI-joins (no OR-join, no
    theta-join), degrees from one endpoint explode, one global
    aggregate. The raw points are touched exactly once.

    Exactness: n, nb, jj, bb, ww, bw, and the degree moment m =
    Σ kᵢ(kᵢ−1) are exact int64; E[BB] = J·p₂ and Var(BB) = J·p₂ + m·p₃
    + (J(J−1)−m)·p₄ − (J·p₂)² use p₂ = nb(nb−1)/(n(n−1)) as ONE
    int-ratio division and p₃ = p₂·(nb−2)/(n−2), p₄ = p₂·(nb−2)(nb−3)/
    ((n−2)(n−3)) as chained divisions so no int64 product exceeds nb²·J
    (the nb⁴ textbook numerator would overflow at ~10⁵ cells). z is
    NULL when n < 4 or Var ≤ 0 (degenerate: all-Black or all-White).
    No reference analog; north-rule spatial-analytics surface.
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    cells = (
        pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
        .groupBy(ix.alias("ix"), iy.alias("iy"))
        .agg((F.count("*") >= threshold).cast("long").alias("b"))
    )
    east = cells.select((F.col("ix") + 1).alias("ix"), "iy", F.col("b").alias("b2"))
    north = cells.select("ix", (F.col("iy") + 1).alias("iy"), F.col("b").alias("b2"))
    edges = (
        cells.join(east, ["ix", "iy"])
        .select("ix", "iy", (F.col("ix") - 1).alias("jx"), F.col("iy").alias("jy"), "b", "b2")
        .unionByName(
            cells.join(north, ["ix", "iy"]).select(
                "ix", "iy", F.col("ix").alias("jx"), (F.col("iy") - 1).alias("jy"), "b", "b2"
            )
        )
    )
    # degree moment: every edge endpoint once, k_i per cell, m = Σ k(k−1)
    ends = edges.select("ix", "iy").unionAll(
        edges.select(F.col("jx").alias("ix"), F.col("jy").alias("iy"))
    )
    m_row = (
        ends.groupBy("ix", "iy")
        .agg(F.count("*").alias("k"))
        .agg(F.coalesce(F.sum(F.col("k") * (F.col("k") - 1)), F.lit(0)).alias("m"))
    )
    tot = cells.agg(F.count("*").alias("n"), F.sum("b").alias("nb"))
    e_agg = edges.agg(
        F.count("*").alias("jj"),
        F.coalesce(F.sum(F.col("b") * F.col("b2")), F.lit(0)).alias("bb"),
        F.coalesce(F.sum((1 - F.col("b")) * (1 - F.col("b2"))), F.lit(0)).alias("ww"),
    )
    row = tot.join(F.broadcast(e_agg)).join(F.broadcast(m_row))
    n, nb, jj, m = (F.col(c).cast("long") for c in ("n", "nb", "jj", "m"))
    jjd, md = (F.col(c).cast("double") for c in ("jj", "m"))
    # try_divide: a 1-cell input makes n(n−1) = 0 — degenerate inputs
    # return NULL stats instead of an ANSI divide-by-zero; the quotient
    # is the same IEEE division everywhere else
    p2 = F.try_divide((nb * (nb - 1)).cast("double"), (n * (n - 1)).cast("double"))
    p3 = p2 * F.try_divide((nb - 2).cast("double"), (n - 2).cast("double"))
    p4 = p2 * F.try_divide(
        ((nb - 2) * (nb - 3)).cast("double"), ((n - 2) * (n - 3)).cast("double")
    )
    e_bb = jjd * p2
    var_bb = jjd * p2 + md * p3 + (jj * (jj - 1) - m).cast("double") * p4 - e_bb * e_bb
    z_bb = F.when((n >= 4) & (var_bb > 0), (F.col("bb").cast("double") - e_bb) / F.sqrt(var_bb))
    return row.select(
        n.alias("n"), nb.alias("nb"), jj.alias("jj"),
        F.col("bb").cast("long").alias("bb"),
        F.col("ww").cast("long").alias("ww"),
        (jj - F.col("bb") - F.col("ww")).cast("long").alias("bw"),
        e_bb.alias("e_bb"), var_bb.alias("var_bb"), z_bb.alias("z_bb"),
    )


def grid_diversity(
    pts: DataFrame,
    category_col: str,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 14,
) -> DataFrame:
    """Per-cell categorical diversity — the landscape-ecology triple
    over a point attribute: Shannon entropy H = −Σ p·ln p, species
    richness (distinct categories), and the Simpson index 1 − Σ p²,
    per occupied grid cell → (ix, iy, n, richness, entropy, simpson).
    The land-use-mix / POI-diversity summary every urban-analytics
    pipeline derives from an OSM-style point table.

    Scale shape: TWO map-side-combinable aggregations and nothing else —
    groupBy (cell, category) then groupBy cell; both shuffles are keyed
    and partial-aggregated, the point table is touched once.

    Numeric form: H = −Σ(c/n)·ln(c/n) needs n INSIDE the sum (a nested
    aggregate); the algebraic twin H = ln(n) − (Σ c·ln c)/n doesn't, so
    one pass computes Σc, Σc·ln c, Σc² together. Simpson 1 − Σc²/n² is
    then EXACT-int arithmetic plus one division; entropy's Σ c·ln c is
    the engine's one float fold here (addition order is engine- and
    partition-dependent — callers round, same class as every multi-term
    float fold). NULL categories are kept as their own class; NULL
    coordinates are dropped (no cell).
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    per_cat = base.groupBy(
        ix.alias("ix"), iy.alias("iy"), F.col(category_col).alias("_cat")
    ).agg(F.count("*").alias("_c"))
    agg = per_cat.groupBy("ix", "iy").agg(
        F.sum("_c").alias("n"),
        F.count("*").alias("richness"),
        F.sum(F.col("_c").cast("double") * F.log(F.col("_c").cast("double"))).alias("_slnc"),
        F.sum(F.col("_c") * F.col("_c")).alias("_sc2"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        "ix", "iy", "n", "richness",
        (F.log(nd) - F.col("_slnc") / nd).alias("entropy"),
        (F.lit(1.0) - F.col("_sc2").cast("double") / (nd * nd)).alias("simpson"),
    )


def focal_mode(
    pts: DataFrame,
    cat_col: str,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 1,
) -> DataFrame:
    """Focal MAJORITY filter — the categorical twin of
    ``focal_grid_agg`` (GIS "majority/mode" neighborhood statistic,
    the standard smoothing for categorical rasters like land-cover):
    for every OCCUPIED grid cell, the most frequent category among
    points within Chebyshev ``radius`` → (ix, iy, n_self, n_focal,
    mode_cat, n_mode). Ties break deterministically to the SMALLEST
    category (count desc, category asc).

    Plan shape is focal_grid_agg's with one extra key: reduce the
    corpus to (cell, category) partials FIRST, fan the reduced rows to
    their (2r+1)² neighbor targets in-row, re-aggregate per (target,
    category), then collapse categories per cell with ONE struct-min
    aggregate — min(struct(-n, cat)) IS the (count desc, cat asc)
    argmax, so no rank window and no join-back; occupied-cell
    filtering rides the same aggregate via the self flag. Everything
    exact int64; three exchanges total, all keyed by grid cell.
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    per = base.groupBy(
        ix.alias("ix"), iy.alias("iy"), F.col(cat_col).alias("cat")
    ).agg(F.count("*").alias("n"))
    span = F.sequence(F.lit(-radius), F.lit(radius))
    fan = (
        per.withColumn("_dx", F.explode(span))
        .withColumn("_dy", F.explode(span))
        .select(
            (F.col("ix") + F.col("_dx")).alias("tx"),
            (F.col("iy") + F.col("_dy")).alias("ty"),
            ((F.col("_dx") == 0) & (F.col("_dy") == 0)).alias("_is_self"),
            "cat",
            "n",
        )
    )
    agg = fan.groupBy(
        F.col("tx").alias("ix"), F.col("ty").alias("iy"), "cat"
    ).agg(
        F.sum(F.when(F.col("_is_self"), F.col("n")).otherwise(F.lit(0))).alias("_ns"),
        F.sum("n").alias("_nc"),
    )
    best = F.min(F.struct((-F.col("_nc")).alias("neg"), F.col("cat").alias("c")))
    return (
        agg.groupBy("ix", "iy")
        .agg(
            F.sum("_ns").alias("n_self"),
            F.sum("_nc").alias("n_focal"),
            best.alias("_b"),
        )
        .filter(F.col("n_self") > 0)
        .select(
            "ix", "iy", "n_self", "n_focal",
            F.col("_b.c").alias("mode_cat"),
            (-F.col("_b.neg")).alias("n_mode"),
        )
    )


def curvature_grid(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    cellsize: float = 1.0,
    value_col: str | None = None,
) -> DataFrame:
    """Zevenbergen & Thorne (1987) surface curvature over the
    occupied-cell density grid (the ``gdaldem``/ESRI Curvature tool's
    algorithm): per cell, GENERAL curvature −2(D+E), PROFILE curvature
    (along-slope, −2(DG²+EH²+FGH)/(G²+H²)) and PLAN curvature
    (across-slope, 2(DH²+EG²−FGH)/(G²+H²)) from the 3×3 quadric fit

        D = ((z4+z6)/2 − z5)/L²   E = ((z2+z8)/2 − z5)/L²
        F = (−z1+z3+z7−z9)/4L²   G = (−z4+z6)/2L   H = (z2−z8)/2L.

    Same plan as :func:`hillshade_grid` (aggregate-first, in-row
    9-target fan, one re-aggregate): each occupied cell ships its z
    with FIVE 0/±1 stencil weights, so every structural sum (Sh, Sv,
    Sd, Sg, Sh2, z5) is a sum of INTEGER-valued doubles — exact in any
    accumulation order — and the curvatures are short deterministic
    IEEE expression trees over dyadic rationals (the oracle mirrors
    the exact tree; ROUND 9 guards the two ratio outputs). Flat cells
    (G = H = 0) pin profile/plan to 0.0 explicitly — the division
    would be 0/0 — and every output adds +0.0 to collapse IEEE
    negative zero (ROUND keeps −0.0 on some engines and not others;
    the hash gate distinguishes them). → (ix, iy, n_self, general,
    profile, plan).
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = pts.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    z = (
        F.sum(F.col(value_col)) if value_col is not None else F.count("*")
    ).cast("double").alias("z")
    per_cell = base.groupBy(ix.alias("ix"), iy.alias("iy")).agg(z)

    span = F.sequence(F.lit(-1), F.lit(1))
    rx, ry = F.col("_rx"), F.col("_ry")
    fan = (
        per_cell.withColumn("_rx", F.explode(span))
        .withColumn("_ry", F.explode(span))
        .select(
            (F.col("ix") - rx).alias("tx"),
            (F.col("iy") - ry).alias("ty"),
            ((rx == 0) & (ry == 0)).alias("_is_self"),
            (F.col("z") * ((F.abs(rx) == 1) & (ry == 0)).cast("int")).alias("_zh"),
            (F.col("z") * ((rx == 0) & (F.abs(ry) == 1)).cast("int")).alias("_zv"),
            (F.col("z") * (rx * ry)).alias("_zd"),
            (F.col("z") * F.when(ry == 0, rx).otherwise(F.lit(0))).alias("_zg"),
            (F.col("z") * F.when(rx == 0, ry).otherwise(F.lit(0))).alias("_zh2"),
            "z",
        )
    )
    agg = fan.groupBy(F.col("tx").alias("ix"), F.col("ty").alias("iy")).agg(
        F.sum(F.when(F.col("_is_self"), F.col("z")).otherwise(F.lit(0.0))).alias("n_self"),
        F.sum("_zh").alias("_sh"),
        F.sum("_zv").alias("_sv"),
        F.sum("_zd").alias("_sd"),
        F.sum("_zg").alias("_sg"),
        F.sum("_zh2").alias("_sh2"),
    )
    L = float(cellsize)
    d = (F.col("_sh") / 2 - F.col("n_self")) / F.lit(L * L)
    e = (F.col("_sv") / 2 - F.col("n_self")) / F.lit(L * L)
    f = F.col("_sd") / F.lit(4 * L * L)
    g = F.col("_sg") / F.lit(2 * L)
    h = F.col("_sh2") / F.lit(2 * L)
    den = g * g + h * h
    flat = (F.col("_sg") == 0) & (F.col("_sh2") == 0)
    profile = F.lit(-2.0) * (d * g * g + e * h * h + f * g * h) / den
    plan = F.lit(2.0) * (d * h * h + e * g * g - f * g * h) / den
    return agg.select(
        "ix",
        "iy",
        F.col("n_self").cast("long").alias("n_self"),
        (F.round(F.lit(-2.0) * (d + e), 9) + F.lit(0.0)).alias("general"),
        F.when(flat, F.lit(0.0)).otherwise(F.round(profile, 9) + F.lit(0.0)).alias("profile"),
        F.when(flat, F.lit(0.0)).otherwise(F.round(plan, 9) + F.lit(0.0)).alias("plan"),
    )


def weighted_overlay(
    pts: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 18,
    radius: int = 1,
    w_density: int = 60,
    w_focal: int = 40,
) -> DataFrame:
    """Weighted-overlay suitability surface (the classic GIS
    multi-criteria overlay, ESRI "Weighted Overlay" restated on the
    density raster) → (ix, iy, n_self, n_focal, suit): each occupied
    cell's own density and its Chebyshev-``radius`` neighborhood
    density are min-max normalized over the occupied set and blended
    with integer weights, suit = (w_d·norm(n) + w_f·norm(focal)) /
    (w_d + w_f) ∈ [0, 1].

    Composition: the two ingredient rasters ARE
    :func:`focal_grid_agg`'s output (aggregate-first, in-row fan);
    this adds one six-scalar aggregate BROADCAST back and pure
    arithmetic — normalizers are exact-int differences divided once,
    the blend is two products and one add (deterministic IEEE, no
    rounding contract). Degenerate layers (min = max) normalize to
    0.0 rather than dividing by zero. Weights must be positive ints.
    """
    if w_density < 0 or w_focal < 0 or w_density + w_focal == 0:
        raise ValueError(f"bad weights: {w_density}, {w_focal}")
    f = focal_grid_agg(pts, lat, lon, res=res, radius=radius)
    st = f.agg(
        F.min("n_self").alias("_d0"), F.max("n_self").alias("_d1"),
        F.min("n_focal").alias("_f0"), F.max("n_focal").alias("_f1"),
    )

    def norm(col, lo, hi):
        return F.when(F.col(hi) == F.col(lo), F.lit(0.0)).otherwise(
            (F.col(col) - F.col(lo)).cast("double")
            / (F.col(hi) - F.col(lo)).cast("double")
        )

    suit = (
        F.lit(float(w_density)) * norm("n_self", "_d0", "_d1")
        + F.lit(float(w_focal)) * norm("n_focal", "_f0", "_f1")
    ) / F.lit(float(w_density + w_focal))
    return f.crossJoin(F.broadcast(st)).select(
        "ix", "iy", "n_self", "n_focal", suit.alias("suit")
    )
