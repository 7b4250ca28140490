"""Nearest-segment join (map-matching "snap to road"): for each query
point, the closest segment within a radius, with the snapped coordinates
and the clamped projection parameter. This is the primitive under every
trajectory→network pipeline (GPS snap, address-to-street, milepost
linear referencing); the reference ships the ingredients (resolved way
node chains = segments, render-roads.rs walks them) but no snap surface.

Scale shape — one candidate equi-join, no crossJoin, no driver loop,
zero Python (the whole operator is one codegen pipeline since r6):
- segment side: the LOSSLESS pass-through cell cover from the
  segment-intersection join (segments.catalyst_cover — exact integer
  subpiece bboxes, padded), fixed-width payload;
- query side: the ±radius bbox cells, generated as a pure Catalyst
  2-D `sequence` explode (no Python);
- candidates join on the packed cell; the exact clamped-projection
  point-segment distance is plain double arithmetic in codegen; one
  per-query WindowGroupLimit top-1 (rank by (d², sid) — duplicate
  candidates from shared cells collapse at rank 1, so no DISTINCT is
  ever needed).

Soundness: if a segment's true minimum distance to the query is ≤ r,
its nearest point q lies both on the segment (q's cell ∈ the segment's
pass-through cover) and inside the query's ±r bbox (q's cell ∈ the
query's cover), so the pair shares a cell — every in-radius segment is
a candidate. Queries with no in-radius segment get no row (or the exact
broadcast fallback when ``exact_fallback=True``).

Distance is squared euclidean in fixed-point units (the exact metric of
``knn_join_bulk(metric="sqeuclid")``); the projection runs in IEEE
double with an expression tree a SQL oracle states identically."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _seg_distance_cols(px, py, x1, y1, x2, y2):
    """(d2, t_clamped, snap_x, snap_y) — clamped projection, doubles."""
    dx = (x2 - x1).cast("double")
    dy = (y2 - y1).cast("double")
    len2 = dx * dx + dy * dy
    t = F.when(
        len2 > 0,
        ((px - x1).cast("double") * dx + (py - y1).cast("double") * dy) / len2,
    ).otherwise(F.lit(0.0))
    tc = F.greatest(F.lit(0.0), F.least(F.lit(1.0), t))
    qx = x1.cast("double") + tc * dx
    qy = y1.cast("double") + tc * dy
    ex = px.cast("double") - qx
    ey = py.cast("double") - qy
    return ex * ex + ey * ey, tc, qx, qy


def _seg_distance_cols_pre(px, py, x1, y1, dxd, dyd, len2):
    """`_seg_distance_cols` over precomputed (dxd, dyd, len2) columns —
    the IDENTICAL IEEE expression tree (dxd/dyd/len2 are produced by the
    exact subexpressions the inline form re-derives), so results are
    bit-equal; only the evaluated expression size shrinks."""
    t = F.when(
        len2 > 0,
        ((px - x1).cast("double") * dxd + (py - y1).cast("double") * dyd) / len2,
    ).otherwise(F.lit(0.0))
    tc = F.greatest(F.lit(0.0), F.least(F.lit(1.0), t))
    qx = x1.cast("double") + tc * dxd
    qy = y1.cast("double") + tc * dyd
    ex = px.cast("double") - qx
    ey = py.cast("double") - qy
    return ex * ex + ey * ey, tc, qx, qy


def nearest_segment_join(
    points: DataFrame,
    segments: DataFrame,
    radius: int,
    cell_size: int = 1 << 16,
    point_id: str = "query_id",
    seg_id: str = "sid",
    exact_fallback: bool = False,
    k: int = 1,
) -> DataFrame:
    """→ (point_id, seg_id, d2, t, snap_lon, snap_lat): the nearest
    segment within ``radius`` fixed-point units per query point
    (ties broken by ascending segment id; queries with no in-radius
    segment are absent unless ``exact_fallback``).

    ``points`` needs (point_id, lat, lon); ``segments`` needs
    (seg_id, lat1, lon1, lat2, lon2) — all fixed-point int64.
    ``cell_size`` only tunes candidate counts (soundness is cover-level,
    see module docstring): ~2·radius is a good default relation.

    ``k > 1`` returns the k nearest in-radius segments per query with a
    1-based ``rank`` column (same (d², sid) order) — the candidate set
    for HMM map-matching (`operators.mapmatch`). Shared-cell duplicates
    of one segment are bit-identical rows, so unlike the top-1 path
    (where they collapse at rank 1 for free) k > 1 dedups
    (point, sid) first — an exact dedup of exact duplicates."""
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > 1 and exact_fallback:
        raise ValueError("exact_fallback is a top-1 contract; use k=1")
    from osmflat_rs_spark.operators.segments import catalyst_cover

    cs = int(cell_size)
    seg_slim = segments.select(
        F.col(seg_id).cast("long").alias("sid"),
        F.col("lon1").cast("long").alias("x1"),
        F.col("lat1").cast("long").alias("y1"),
        F.col("lon2").cast("long").alias("x2"),
        F.col("lat2").cast("long").alias("y2"),
    )
    # r6: pure-Catalyst cover (guide §4 — the r5 Python cover was
    # the operator's dominant cost: ~4M rows × 6 int64 Arrow-shipped per
    # run at the sf0.1 gate, 1.9 s of the 2.8 s total). No (cell, sid)
    # dedup: duplicate candidate rows are bit-identical and collapse at
    # rank 1 (k=1) or in the existing dropDuplicates (k>1).
    # dxd/dyd/len2 are precomputed ONCE per cover row so the optimizer's
    # pushdown of the d2 ≤ r² filter into the join condition references
    # three attributes instead of re-deriving (x2-x1) etc. ~20× inside
    # one giant expression (measured plan: the clamped-t CASE appeared
    # 20+ times in the r5 join condition).
    seg_cells = catalyst_cover(seg_slim, cs).select(
        "cell", "sid", "x1", "y1",
        (F.col("x2") - F.col("x1")).cast("double").alias("dxd"),
        (F.col("y2") - F.col("y1")).cast("double").alias("dyd"),
        (
            (F.col("x2") - F.col("x1")).cast("double")
            * (F.col("x2") - F.col("x1")).cast("double")
            + (F.col("y2") - F.col("y1")).cast("double")
            * (F.col("y2") - F.col("y1")).cast("double")
        ).alias("len2"),
    )
    # query ±radius bbox cells, pure Catalyst (floor div on doubles is
    # exact here: |coord ± radius| < 2^53)
    px, py = F.col("lon").cast("long"), F.col("lat").cast("long")
    r = F.lit(int(radius))
    csl = F.lit(cs).cast("double")
    cx0 = F.floor((px - r).cast("double") / csl).cast("long")
    cx1 = F.floor((px + r).cast("double") / csl).cast("long")
    cy0 = F.floor((py - r).cast("double") / csl).cast("long")
    cy1 = F.floor((py + r).cast("double") / csl).cast("long")
    q_cells = (
        points.select(F.col(point_id), px.alias("px"), py.alias("py"),
                      cx0.alias("cx0"), cx1.alias("cx1"), cy0.alias("cy0"), cy1.alias("cy1"))
        .withColumn("ccx", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("ccy", F.explode(F.sequence("cy0", "cy1")))
        .select(
            point_id, "px", "py",
            # SQL & / | are bitwise on integers (Column & is boolean);
            # packing matches segments._pack_cell bit-for-bit
            F.expr("shiftleft(ccx, 32) | (ccy & 4294967295)").alias("cell"),
        )
    )
    # The cover side is an explode fan-out with inflated size estimates —
    # hint the query side explicitly so Spark never broadcast-builds the
    # multi-M-row cover.
    cand = F.broadcast(q_cells).join(seg_cells, "cell")
    d2, tc, qx, qy = _seg_distance_cols_pre(
        F.col("px"), F.col("py"), F.col("x1"), F.col("y1"),
        F.col("dxd"), F.col("dyd"), F.col("len2"),
    )
    scored = cand.select(
        point_id, F.col("sid"), d2.alias("d2"), tc.alias("t"),
        qx.alias("snap_lon"), qy.alias("snap_lat"),
    ).filter(F.col("d2") <= F.lit(float(radius) ** 2))
    w = Window.partitionBy(point_id).orderBy(F.col("d2").asc(), F.col("sid").asc())
    if k > 1:
        return (
            scored.dropDuplicates([point_id, "sid"])
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    best = scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")
    if not exact_fallback:
        return best
    # exact path for unmatched queries: broadcast the missed points over
    # the full segment table (bounded: only queries the cover missed)
    missed = points.join(best.select(point_id), point_id, "left_anti").select(
        F.col(point_id), px.alias("px"), py.alias("py")
    )
    all_pairs = F.broadcast(missed).crossJoin(seg_slim)
    d2f, tcf, qxf, qyf = _seg_distance_cols(
        F.col("px"), F.col("py"), F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
    )
    fb_scored = all_pairs.select(
        point_id, F.col("sid"), d2f.alias("d2"), tcf.alias("t"),
        qxf.alias("snap_lon"), qyf.alias("snap_lat"),
    )
    fb = fb_scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")
    return best.unionByName(fb)


def linear_reference(
    points: DataFrame,
    routes: DataFrame,
    radius: int,
    route_id: str = "route_id",
    seq_col: str = "seq",
    lat: str = "lat",
    lon: str = "lon",
    point_id: str = "query_id",
    cell_size: int = 1 << 16,
    max_seq: int = 1_000_000,
) -> DataFrame:
    """LINEAR REFERENCING (milepost / route-offset location): snap each
    point to its nearest in-radius route segment and return the
    cumulative distance ALONG the route to the snap point — the
    measure every route-based schema (mileposts, bus stops, road
    inventories) keys on. → (point_id, route_id, seq, d2, t, offset,
    seg_len); offset and lengths in fixed-point units (planar — the
    snap metric's own space).

    Composition, no new kernel: routes (ordered vertices per route)
    → segments via one lead window + a running-length window (both on
    the same partition key: ONE shuffle), packed into
    `nearest_segment_join`'s cover machinery (sid = route_id *
    ``max_seq`` + seq — seqs must stay below ``max_seq``), then the
    snap's clamped projection parameter t converts to offset =
    cum_start + t * seg_len. The per-route running sum is an ordered
    window fold, so its IEEE sequence is deterministic and
    SQL-restatable."""
    w = Window.partitionBy(route_id).orderBy(seq_col)
    seg = (
        routes.select(
            F.col(route_id).cast("long").alias("_rid"),
            F.col(seq_col).alias("_s"),
            F.col(lat).cast("long").alias("lat1"),
            F.col(lon).cast("long").alias("lon1"),
            F.lead(F.col(lat).cast("long")).over(w).alias("lat2"),
            F.lead(F.col(lon).cast("long")).over(w).alias("lon2"),
            F.row_number().over(w).alias("_seq"),
        )
        .filter(F.col("lat2").isNotNull())
    )
    if max_seq < 1:
        raise ValueError(f"max_seq must be >= 1, got {max_seq}")
    dx = (F.col("lon2") - F.col("lon1")).cast("double")
    dy = (F.col("lat2") - F.col("lat1")).cast("double")
    seg = seg.withColumn("_len", F.sqrt(dx * dx + dy * dy))
    w2 = Window.partitionBy("_rid").orderBy("_seq").rowsBetween(
        Window.unboundedPreceding, -1
    )
    seg = seg.withColumn("_cum", F.coalesce(F.sum("_len").over(w2), F.lit(0.0)))
    seg = seg.withColumn(
        "sid", F.col("_rid") * F.lit(int(max_seq)) + F.col("_seq")
    )
    snapped = nearest_segment_join(
        points,
        seg.select("sid", "lat1", "lon1", "lat2", "lon2"),
        radius,
        cell_size=cell_size,
        point_id=point_id,
        seg_id="sid",
    )
    meta = seg.select(
        "sid", F.col("_rid").alias(route_id), F.col("_seq").alias("seq"),
        "_len", "_cum",
    )
    return snapped.join(F.broadcast(meta), "sid").select(
        point_id,
        route_id,
        "seq",
        "d2",
        "t",
        (F.col("_cum") + F.col("t") * F.col("_len")).alias("offset"),
        F.col("_len").alias("seg_len"),
    )
