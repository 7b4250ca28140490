"""Polygon interior rasterization: the grid cells a polygon FILLS.

The stroke half of rasterization exists (``tiling.raster_assign`` draws
way outlines through the engine's one DDA, ``dda_pixels_distinct``,
exactly as the reference's renderer does, render-roads.rs); this is the fill half — the cells whose CENTER lies
inside a polygon, the mask a zonal raster / fill renderer / label-
burn-in step needs per polygon (reference anchor: the multipolygon
features the engine assembles for rendering, render-features.rs:133-149,
drawn filled instead of stroked).

Semantics: cell (ix, iy) at resolution ``res`` is filled for polygon P
iff P contains the cell's CENTER POINT, where the center is the exact
integer midpoint of the cell's fixed-point coordinate range::

    clon = (2*ix + 1) * 3_600_000_000 div 2^(res+1) - 1_800_000_000
    clat = (2*iy + 1) * 1_800_000_000 div 2^(res+1) -   900_000_000

(integer division — both engines restate it bit-identically), and
containment is the engine's standard boundary-inclusive even-odd rule
(``functions.pip.points_in_rings``), so multi-ring polygons leave their
holes unfilled.

Scale shape — generate candidates, then reuse the two-phase PIP join:

1. per polygon, an IN-ROW bbox fan-out: quantize the flattened ring
   vertices' min/max to grid coords and explode the (ix, iy) ranges —
   output-proportional work on the POLYGON side, the point table never
   appears;
2. ``distinct`` on (ix, iy) — the operator's one extra shuffle — so
   overlapping polygons share one center test per cell;
3. the existing ``pip_join`` on the synthesized centers: broadcast
   classified cover, interior cells short-circuit JVM-side, exact int64
   refinement only on boundary cells. Every cell inside P lies inside
   P's bbox, so the candidate union is lossless for every polygon at
   once. For polygon tables beyond broadcast, the same candidates
   compose with ``pip_join_shuffle``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LON_SPAN = 3_600_000_000
_LAT_SPAN = 1_800_000_000


def polygon_fill_cells(
    polygons: DataFrame,
    res: int = 16,
    cover_res: int | None = None,
    **pip_kwargs,
) -> DataFrame:
    """→ DataFrame(polygon_id, ix, iy) — all cells at ``res`` whose exact
    integer center the polygon contains (boundary-inclusive even-odd;
    holes stay empty). Accepts the same polygon schemas as ``pip_join``:
    ``ring array<struct<lat,lon>>`` or ``rings array<array<...>>``."""
    from osmflat_rs_spark.operators.spatial_join import pip_join

    if "rings" in polygons.columns:
        verts = F.flatten(F.col("rings"))
    else:
        verts = F.col("ring")
    lons = F.transform(verts, lambda v: v["lon"].cast("long"))
    lats = F.transform(verts, lambda v: v["lat"].cast("long"))

    def q(v, off: int, span: int):
        qq = F.floor(((v + F.lit(off)) * F.lit(1 << res)) / F.lit(span)).cast("long")
        return F.greatest(F.lit(0).cast("long"), F.least(F.lit((1 << res) - 1).cast("long"), qq))

    bbox = polygons.select(
        q(F.array_min(lons), _LON_SPAN // 2, _LON_SPAN).alias("ix0"),
        q(F.array_max(lons), _LON_SPAN // 2, _LON_SPAN).alias("ix1"),
        q(F.array_min(lats), _LAT_SPAN // 2, _LAT_SPAN).alias("iy0"),
        q(F.array_max(lats), _LAT_SPAN // 2, _LAT_SPAN).alias("iy1"),
    )
    # in-row fan-out: candidates ∝ bbox area (the caller's res knob);
    # generators can't nest, so two explode stages
    cand = (
        bbox.withColumn("ix", F.explode(F.sequence(F.col("ix0"), F.col("ix1"))))
        .withColumn("iy", F.explode(F.sequence(F.col("iy0"), F.col("iy1"))))
        .select("ix", "iy")
        .distinct()
    )
    centers = cand.select(
        "ix",
        "iy",
        # exact integer midpoint; `div` is Spark's long division (the
        # oracle restates it with DuckDB's `//`)
        (F.expr(f"(ix * 2 + 1) * {_LON_SPAN} div {1 << (res + 1)}") - F.lit(_LON_SPAN // 2)).alias(
            "_clon"
        ),
        (F.expr(f"(iy * 2 + 1) * {_LAT_SPAN} div {1 << (res + 1)}") - F.lit(_LAT_SPAN // 2)).alias(
            "_clat"
        ),
        (F.col("ix") * F.lit(1 << res) + F.col("iy")).alias("_cell_key"),
    )
    pairs = pip_join(
        centers,
        polygons,
        point_id="_cell_key",
        lat="_clat",
        lon="_clon",
        cover_res=cover_res,
        carry_cols=["ix", "iy"],
        **pip_kwargs,
    )
    return pairs.select("polygon_id", "ix", "iy")


def morph_binary(
    cells: DataFrame,
    radius: int = 1,
    op: str = "close",
    ix: str = "ix",
    iy: str = "iy",
) -> DataFrame:
    """Binary morphology on an occupied-cell set — dilate / erode /
    open / close with the square (Chebyshev-``radius``) structuring
    element → distinct (ix, iy). The raster-cleanup step between a
    thresholded density grid and the vector sinks: ``open`` removes
    speckles smaller than the window, ``close`` fills pinholes and
    hairline gaps (so contours/hulls/fills downstream don't leak
    through them).

    Sparse-set formulation — the background is never materialized:

    - dilation = one in-row (2r+1)² offset fan (two codegen sequence-
      explodes) + distinct;
    - erosion = the INVERSE fan (cell c survives iff c+δ ∈ S for every
      offset δ, i.e. every source s votes for the targets s−δ) + one
      groupBy counting votes == (2r+1)² — set-distinct input makes the
      vote count exact;
    - open = dilate∘erode, close = erode∘dilate.

    Both primitives are one map-side-combinable shuffle on the cell key
    over the CELL table (already reduced from points); work scales with
    occupied cells × window, independent of the point count. Exact
    integer cells only — any ANSI engine restates it verbatim.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    if op not in ("dilate", "erode", "open", "close"):
        raise ValueError(f"op must be dilate/erode/open/close, got {op!r}")
    w2 = (2 * radius + 1) ** 2
    span = F.sequence(F.lit(-radius), F.lit(radius))

    base = cells.select(F.col(ix).alias("ix"), F.col(iy).alias("iy")).distinct()

    def dilate(s: DataFrame) -> DataFrame:
        return (
            s.withColumn("_dx", F.explode(span))
            .withColumn("_dy", F.explode(span))
            .select((F.col("ix") + F.col("_dx")).alias("ix"), (F.col("iy") + F.col("_dy")).alias("iy"))
            .distinct()
        )

    def erode(s: DataFrame) -> DataFrame:
        return (
            s.withColumn("_dx", F.explode(span))
            .withColumn("_dy", F.explode(span))
            .select((F.col("ix") - F.col("_dx")).alias("ix"), (F.col("iy") - F.col("_dy")).alias("iy"))
            .groupBy("ix", "iy")
            .agg(F.count("*").alias("_votes"))
            .filter(F.col("_votes") == w2)
            .select("ix", "iy")
        )

    if op == "dilate":
        return dilate(base)
    if op == "erode":
        return erode(base)
    if op == "open":
        return dilate(erode(base))
    return erode(dilate(base))
