"""Rectangle (bbox) overlap join — the R-tree query primitive, as a
grid-bucketed equi-join: all (left, right) pairs of axis-aligned closed
boxes [x_min, x_max] × [y_min, y_max] that intersect (touching counts —
the closed-interval convention of `intervals.interval_join`).

This is the extent-vs-extent spatial join the engine's other spatial
operators don't cover (PIP is point-vs-polygon, radius/kNN point-vs-
point, segment-intersection line-vs-line): way/feature bounding boxes,
tile extents, viewport culling, raster chunk vs vector layer pairing.
Reference analog: the reference filters features by a global bbox when
rendering (osmflat/examples/render-features.rs) but has no box-box
join; this is what its users build R-trees for.

Scale design — the 2-D generalization of `interval_join`'s
exactly-once trick, so there is NO dedup shuffle:

1. each box emits its covering grid cells IN-ROW (`sequence` ×
   `sequence` + two explodes — whole-stage codegen, no UDF);
2. one hash equi-join on the packed (cx, cy) cell;
3. a candidate pair is kept ONLY in the cell containing the overlap
   region's MIN CORNER (greatest(x_mins), greatest(y_mins)) — a point
   that exists iff the boxes overlap, lies inside BOTH boxes (so both
   covers contain its cell), and lies in exactly ONE cell. Every
   intersecting pair therefore survives in exactly one joined row:
   output cardinality == semantics, no `distinct`.

Cover size scales with box extent / cell_size — ``cell_size`` is the
knob (size it near the median box so covers stay O(1)–O(10) cells);
per-cell candidate density is the usual grid-join skew surface (AQE
skew split handles a hot cell). Floor division is exact for any-sign
int64 (pmod subtraction, never a double round-trip). NULL or inverted
boxes are dropped — the engine-wide poison contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _fdiv(col: Column, d: int) -> Column:
    # exact floor division for any-sign coordinates (pmod is
    # non-negative, so the subtraction makes the quotient an integer
    # the double division reproduces exactly while |x| < 2^53 — the
    # whole fixed-point coordinate domain, same bound as
    # intervals._fdiv / coloc._floordiv)
    return ((col - F.pmod(col, F.lit(d))) / F.lit(d)).cast("long")


def _boxes(df: DataFrame, id_col: str, cols: tuple[str, str, str, str], p: str) -> DataFrame:
    x0, y0, x1, y1 = cols
    return df.select(
        F.col(id_col).alias(f"{p}_id"),
        F.col(x0).cast("long").alias(f"{p}x0"),
        F.col(y0).cast("long").alias(f"{p}y0"),
        F.col(x1).cast("long").alias(f"{p}x1"),
        F.col(y1).cast("long").alias(f"{p}y1"),
    ).filter(
        F.col(f"{p}x0").isNotNull() & F.col(f"{p}y0").isNotNull()
        & F.col(f"{p}x1").isNotNull() & F.col(f"{p}y1").isNotNull()
        & (F.col(f"{p}x0") <= F.col(f"{p}x1")) & (F.col(f"{p}y0") <= F.col(f"{p}y1"))
    )


def _covered(b: DataFrame, p: str, cell: int) -> DataFrame:
    cx0, cx1 = _fdiv(F.col(f"{p}x0"), cell), _fdiv(F.col(f"{p}x1"), cell)
    cy0, cy1 = _fdiv(F.col(f"{p}y0"), cell), _fdiv(F.col(f"{p}y1"), cell)
    return (
        b.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
    )


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    cell_size: int,
    left_id: str = "l_id",
    right_id: str = "r_id",
    left_cols: tuple[str, str, str, str] = ("x_min", "y_min", "x_max", "y_max"),
    right_cols: tuple[str, str, str, str] = ("x_min", "y_min", "x_max", "y_max"),
) -> DataFrame:
    """All intersecting (left, right) box pairs →
    (<left_id>, <right_id>, ix_min, iy_min, ix_max, iy_max) where i*
    is the exact integer intersection box. Exactly-once by min-corner
    cell ownership (module docstring); closed boxes, touching counts.

    The join is a shuffle-hash on the cell key (both sides size-opaque
    after the explode, same rationale as ``coloc_pairs``).
    """
    if cell_size <= 0:
        raise ValueError(f"cell_size must be positive, got {cell_size}")
    if left_id == right_id:
        raise ValueError(f"left_id and right_id must differ, both are {left_id!r}")
    lc = _covered(_boxes(left, left_id, left_cols, "l"), "l", cell_size)
    rc = _covered(_boxes(right, right_id, right_cols, "r"), "r", cell_size).hint("shuffle_hash")
    ox0 = F.greatest("lx0", "rx0")
    oy0 = F.greatest("ly0", "ry0")
    ox1 = F.least("lx1", "rx1")
    oy1 = F.least("ly1", "ry1")
    return (
        lc.join(rc, ["_cx", "_cy"])
        .filter((ox0 <= ox1) & (oy0 <= oy1))
        # own the pair in the overlap min-corner's cell only
        .filter((F.col("_cx") == _fdiv(ox0, cell_size)) & (F.col("_cy") == _fdiv(oy0, cell_size)))
        .select(
            F.col("l_id").alias(left_id),
            F.col("r_id").alias(right_id),
            ox0.alias("ix_min"),
            oy0.alias("iy_min"),
            ox1.alias("ix_max"),
            oy1.alias("iy_max"),
        )
    )


def areal_interpolate(
    rects: DataFrame,
    cell: int,
    id_col: str = "id",
    cols: tuple[str, str, str, str] = ("x_min", "y_min", "x_max", "y_max"),
    value_col: str = "value",
) -> DataFrame:
    """Areal-weighted interpolation (the dasymetric transfer of GIS:
    Goodchild & Lam 1980) from axis-aligned source rectangles onto the
    regular ``cell``-sized grid: each source's value is split across
    the grid cells it overlaps PROPORTIONALLY TO EXACT INTEGER OVERLAP
    AREA → (cx, cy, value). The weight denominator is the source's own
    geometric area, so each source's value is conserved: the output
    sums back to the input total (up to IEEE addition).

    Scale shape: the in-row `sequence x sequence` cell fan-out of
    `bbox_join` (cover size = extent / cell — size ``cell`` near the
    median rect edge), the per-(rect, cell) clipped overlap as pure
    codegen min/max integer arithmetic, then ONE map-side-combined
    groupBy(cx, cy). No join at all — the grid is implicit.

    Degenerate rects (zero geometric area — a point or a line has
    nothing to apportion) and zero-width boundary slivers (a rect edge
    exactly on a cell boundary covers the neighbor cell with overlap
    0) are dropped on BOTH engines' side of the gate."""
    if cell < 1:
        raise ValueError(f"cell must be >= 1, got {cell}")
    x0, y0, x1, y1 = cols
    b = rects.select(
        F.col(id_col).alias("s_id"),
        F.col(x0).cast("long").alias("sx0"),
        F.col(y0).cast("long").alias("sy0"),
        F.col(x1).cast("long").alias("sx1"),
        F.col(y1).cast("long").alias("sy1"),
        F.col(value_col).alias("_v"),
    ).filter(
        F.col("sx0").isNotNull() & F.col("sy0").isNotNull()
        & F.col("sx1").isNotNull() & F.col("sy1").isNotNull()
    )
    area = (F.col("sx1") - F.col("sx0")) * (F.col("sy1") - F.col("sy0"))
    b = b.filter(area > 0).withColumn("_a", area)
    cov = _covered(b, "s", cell)
    ox = F.least(F.col("sx1"), (F.col("_cx") + 1) * F.lit(cell)) - F.greatest(
        F.col("sx0"), F.col("_cx") * F.lit(cell)
    )
    oy = F.least(F.col("sy1"), (F.col("_cy") + 1) * F.lit(cell)) - F.greatest(
        F.col("sy0"), F.col("_cy") * F.lit(cell)
    )
    part = cov.withColumn("_ox", ox).withColumn("_oy", oy).filter(
        (F.col("_ox") > 0) & (F.col("_oy") > 0)
    )
    w = (F.col("_ox") * F.col("_oy")).cast("double") / F.col("_a").cast("double")
    return (
        part.select("_cx", "_cy", (F.col("_v").cast("double") * w).alias("_t"))
        .groupBy(F.col("_cx").alias("cx"), F.col("_cy").alias("cy"))
        .agg(F.sum("_t").alias("value"))
    )
