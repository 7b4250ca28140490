"""Two-phase cell-cover point-in-polygon join (the north-rule centerpiece).

Phase 1 (coarse, pure JVM): encode every point into a quadtree cell
(``cell_id_expr`` — whole-stage-codegen'd) and equi-join against the
exploded polygon cell covers. The cover is a guaranteed superset (see
``cells.polygon_cover``), so phase 1 has **no false negatives**; it only
produces candidates.

Phase 2 (exact, vectorized Python): refine candidates with the exact
int64 crossing-number kernel over Arrow batches (``mapInPandas``), using
the broadcast ``PolygonIndex`` (the analog of the reference's broadcast
id-dictionary join, osmflatc/src/ids.rs:96-158 → SURVEY §2.3 J1).

Polygons may be MULTI-RING (r4): a ``rings`` column
(array<array<struct<lat,lon>>>, rings[0] outer + holes, even-odd
semantics — the reference's multipolygon outer/inner role model,
osmflat/examples/render-features.rs:133-149 extended to role='inner');
the legacy single-ring ``ring`` column still works.

The shape follows published partition-based spatial join designs (PBSM /
MapReduce spatial merge joins; interior/boundary cell classification as in
raster-interval approximations of polygon joins — see PAPERS.md), adapted
to Catalyst: cover cells are the partition function, AQE owns the physical
join choice.

Scale design:
- polygon side broadcast (dims are small relative to 10^12 points) → the
  join is map-side, NO shuffle of the point table at all;
- hot cells (one polygon covering a dense area) skew *task* sizes, not a
  shuffle — the optional ``salt`` repartitions candidates on
  (cell, pmod(xxhash64(point_id), salt)) so refinement batches balance
  across executors (north rule: salted repartitioning);
- ``cover_res`` trades cover size against candidate false-positive rate;
  default picks ~``target_cells_per_polygon`` cells per polygon bbox.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmflat_rs_spark.functions import cells
from osmflat_rs_spark.functions.pip import PolygonIndex

# polygon count at/above which ``pip_join`` builds its classified covers
# across executors instead of in a driver loop (see ``pip_join``)
DISTRIBUTED_COVER_THRESHOLD = 256


def _rings_col(polygons: DataFrame):
    """Normalize the polygon geometry column: either ``ring``
    (array<struct<lat,lon>> — single ring, the pre-r4 schema) or
    ``rings`` (array<array<struct<lat,lon>>> — rings[0] outer, rest
    holes, even-odd semantics). Returns a Column of the multi-ring
    shape."""
    if "rings" in polygons.columns:
        return F.col("rings")
    if "ring" in polygons.columns:
        return F.array(F.col("ring"))
    raise ValueError("polygon table needs a 'ring' or 'rings' column")


def _ring_arrays(rings) -> list[tuple[np.ndarray, np.ndarray]]:
    """Multi-ring geometry (a sequence of rings of ``lat``/``lon``
    mappings — collected Rows or parsed JSON) → the (lon, lat) int64
    array pairs the cover and exact kernels take."""
    return [
        (
            np.array([v["lon"] for v in ring], dtype=np.int64),
            np.array([v["lat"] for v in ring], dtype=np.int64),
        )
        for ring in rings
    ]


def _rings_json_table(polygons: DataFrame) -> DataFrame:
    """(polygon_id, rings_json). Rings travel as a JSON string: a nested
    array<array<struct>> column breaks Spark's Arrow→pandas ndarray
    conversion when ring lengths differ (inhomogeneous-shape
    ValueError), and the kernels want plain Python lists anyway — one
    ``json.loads`` per polygon."""
    return polygons.select("polygon_id", F.to_json(_rings_col(polygons)).alias("rings_json"))


def build_polygon_index(polygons: DataFrame) -> PolygonIndex:
    """Collect the (small) polygon table and pack it for broadcast.
    Accepts single-ring (``ring``) or multi-ring (``rings``) schemas."""
    rows = polygons.select("polygon_id", _rings_col(polygons).alias("rings")).collect()
    return PolygonIndex.build_multi([(r["polygon_id"], _ring_arrays(r["rings"])) for r in rows])


def _pick_res(index: PolygonIndex, target_cells: int) -> int:
    if len(index.ids) == 0:
        return 10
    spans_x = (index.bbox[:, 1] - index.bbox[:, 0]).max()
    spans_y = (index.bbox[:, 3] - index.bbox[:, 2]).max()
    return cells.pick_cover_res(int(spans_y), int(spans_x), target_cells)


def _broadcast_refine_fn(bc, carry: list[str], fill_rule: str = "evenodd"):
    """The exact phase over a broadcast ``PolygonIndex`` — a
    ``mapInPandas`` kernel over (polygon_id, _pt_id, _lat, _lon[,
    *carry]) candidate batches → (polygon_id, _pt_id[, *carry]). Shared
    by ``pip_join`` and ``pip_join_direct``; returned as a closure so
    cloudpickle ships it by value."""

    def refine(batches):
        idx: PolygonIndex = bc.value
        id_to_i = {pid: i for i, pid in enumerate(idx.ids)}
        for pdf in batches:
            if pdf.empty:
                continue
            keep_parts = []
            for pid, grp in pdf.groupby("polygon_id", sort=False):
                mask = idx.contains(
                    id_to_i[pid],
                    grp["_lon"].to_numpy(np.int64),
                    grp["_lat"].to_numpy(np.int64),
                    fill_rule=fill_rule,
                )
                if mask.any():
                    out = grp.loc[mask, ["_pt_id", *carry]].copy()
                    out["polygon_id"] = pid
                    keep_parts.append(out)
            if keep_parts:
                yield pd.concat(keep_parts)[["polygon_id", "_pt_id", *carry]]

    return refine


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    cover_res: int | None = None,
    salt: int | None = None,
    target_cells_per_polygon: int = 4096,
    backend=None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """→ DataFrame(polygon_id, <point_id>[, *carry_cols]) — exact
    containment pairs (boundary inclusive), bit-equal to the model
    oracle.

    ``carry_cols`` threads extra point columns through the kernel so
    consumers that need per-point values with the containment verdict
    (``zonal_stats``) never pay a second shuffle re-joining the pairs
    back to the point table: interior-cell rows keep the values JVM-side
    for free, boundary rows carry them through the Arrow refine batch.

    ``target_cells_per_polygon`` sizes the cover resolution: finer covers
    mean more interior cells (which short-circuit JVM-side) and fewer
    points per boundary cell (which is what the Python exact phase pays
    for). Measured at 1.5M points / 25 polygons: res 14 → 1.12M boundary
    candidates, res 18 → 117k. Cover stays broadcast-small (≤ ~50k rows).

    ``backend``: a ``functions.cell_backend.CellBackend`` supplying the
    coarse-phase cell scheme (default: the built-in Morton quadtree; pass
    ``get_backend("h3")`` where the wheel exists). The exact phase is
    backend-independent — any superset cover with a sound ``interior``
    flag yields identical results. Non-default backends must pass an
    explicit ``cover_res`` (resolution scales are scheme-specific).

    Cover construction (r4): below ``DISTRIBUTED_COVER_THRESHOLD``
    polygons the covers are built in a driver loop (no job, lowest
    latency); at or above it they are computed inside ``mapInPandas``
    across executors — the driver loop is O(n_polys) serial Python and
    became the visible cost at the 10k-polygon design point (the
    polygon INDEX is still driver-collected either way: the exact phase
    broadcasts it, and a table too large for that belongs in
    ``pip_join_shuffle``)."""
    from osmflat_rs_spark.functions.cell_backend import MortonBackend

    spark = points.sparkSession
    be = backend or MortonBackend()
    index = build_polygon_index(polygons)
    if cover_res is None and not isinstance(be, MortonBackend):
        raise ValueError(f"backend {be.name!r} requires an explicit cover_res")
    res = cover_res if cover_res is not None else _pick_res(index, target_cells_per_polygon)

    # classified cover (interior cells short-circuit the exact phase
    # entirely; multi-ring polygons/holes go through the generic even-odd
    # composition, cell_backend.polygon_cover_classified_multi)
    if len(index.ids) >= DISTRIBUTED_COVER_THRESHOLD:
        cover = _distributed_cover(polygons, be, res)
    else:
        cover_rows = []
        for i in range(len(index.ids)):
            cs, interior = be.polygon_cover_classified_multi(index.rings_of(i), res)
            for c, it in zip(cs, interior):
                cover_rows.append((int(c), index.ids[i], bool(it)))
        # pandas carrier → Arrow path: the plain-list createDataFrame
        # round-trips Py4J row-by-row (measured 0.9s vs 0.2s at 3k cover
        # rows, and it sits on every pip_join call)
        cover = spark.createDataFrame(
            pd.DataFrame(cover_rows, columns=["cell", "polygon_id", "interior"]),
            schema="cell long, polygon_id string, interior boolean",
        )

    carry = list(carry_cols or [])
    reserved = {"_pt_id", "_lat", "_lon", "cell", "polygon_id", "interior"}
    if bad := reserved.intersection(carry):
        raise ValueError(f"carry_cols collide with kernel columns: {sorted(bad)}")
    pts = points.select(
        F.col(point_id).alias("_pt_id"),
        F.col(lat).cast("long").alias("_lat"),
        F.col(lon).cast("long").alias("_lon"),
        *[F.col(c) for c in carry],
    ).withColumn("cell", be.cell_expr("_lat", "_lon", res))

    candidates = pts.join(F.broadcast(cover), "cell")
    # full-containment short-circuit: points in interior cells are inside
    # by construction — pure JVM, never touch Python
    inside_fast = candidates.filter(F.col("interior"))
    boundary = candidates.filter(~F.col("interior"))
    if salt:
        boundary = boundary.repartition(
            salt * points.sparkSession.sparkContext.defaultParallelism,
            F.col("cell"),
            F.pmod(F.xxhash64(F.col("_pt_id")), F.lit(salt)),
        )

    bc = spark.sparkContext.broadcast(index)
    dtypes = dict(points.dtypes)
    out_schema = ", ".join(
        ["polygon_id string", f"_pt_id {dtypes[point_id]}"] + [f"{c} {dtypes[c]}" for c in carry]
    )
    refined = boundary.mapInPandas(_broadcast_refine_fn(bc, carry), schema=out_schema)
    fast = inside_fast.select("polygon_id", "_pt_id", *carry)
    return refined.unionByName(fast).withColumnRenamed("_pt_id", point_id)


def _distributed_cover(polygons: DataFrame, be, res: int) -> DataFrame:
    """Classified covers computed across executors (one ``mapInPandas``
    over the polygon table) → (cell, polygon_id, interior). The cover
    stage of ``pip_join_shuffle`` and of ``pip_join`` for LARGE polygon
    sets; same kernel as ``pip_join``'s driver loop, same output schema."""

    def cover_rows(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_cells, out_ids, out_int = [], [], []
            for pid, rings_json in zip(pdf["polygon_id"], pdf["rings_json"]):
                cs, interior = be.polygon_cover_classified_multi(
                    _ring_arrays(json.loads(rings_json)), res
                )
                out_cells.extend(int(c) for c in cs)
                out_ids.extend(pid for _ in range(len(cs)))
                out_int.extend(bool(t) for t in interior)
            yield pd.DataFrame({"cell": out_cells, "polygon_id": out_ids, "interior": out_int})

    return _rings_json_table(polygons).mapInPandas(
        cover_rows, schema="cell long, polygon_id string, interior boolean"
    )


def pip_join_shuffle(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    cover_res: int = 12,
    salt: int | None = None,
    backend=None,
    cell_col: str | None = None,
) -> DataFrame:
    """Shuffle-mode two-phase PIP join — the 10^12-scale path when the
    polygon table is too large to broadcast. ``backend`` as in
    ``pip_join`` (the cover kernel runs worker-side here, so the backend
    object ships with the closure — both built-ins are plain picklable
    classes).

    Phase 1 is fully distributed on BOTH sides: each polygon row computes
    its own cell cover inside a ``mapInPandas`` batch (the NumPy cover
    kernel, ``_distributed_cover``), explodes to (cell, polygon) rows;
    points encode their cell JVM-side; the candidate join is a shuffle
    (sort-merge) equi-join on the cell — AQE's skew-join splitting
    applies, and ``salt`` adds deterministic hot-cell breaking: the point
    side appends ``pmod(xxhash64(point_id), salt)``, the cover side
    replicates ×salt (north rule: "salted repartitioning to break
    hot-cell skew").

    Phase 2 (r5, ``_refine_cogroup``): boundary candidates travel SLIM —
    (polygon_id, point_id, lat, lon) only — and are co-grouped with the
    rings table on polygon_id via ``applyInPandas`` cogroup, so each
    polygon's geometry ships ONCE, not once per candidate row: geometry
    shuffle bytes = Σ|rings|, independent of the candidate count. This
    matters for real multipolygons: an OSM coastline relation (the
    reference's own multipolygon model,
    osmflat/examples/render-features.rs:133-149) easily has 10⁴-10⁵
    vertices; shipping that JSON per candidate row multiplied shuffle
    bytes by the ring size (VERDICT r4 #1). Shuffle mode's natural
    regime (polygons ≫ cores — that's why you're not broadcasting) gives
    per-polygon groups all the parallelism they need.

    ``cell_col`` (r5): name of a PRECOMPUTED cell column on ``points``
    (same backend, same ``cover_res`` — caller contract; write it with
    ``cells.cluster_by_cell`` or a cell-bucketed table). With a
    cell-bucketed point table the candidate sort-merge consumes the
    bucketed scan with NO point-side Exchange — at 10^12 points the
    point shuffle IS the job, so this is the layout-aware fast path.
    Incompatible with ``salt`` (salting rewrites the join key).
    """
    from osmflat_rs_spark.functions.cell_backend import MortonBackend

    be = backend or MortonBackend()
    cover = _distributed_cover(polygons, be, cover_res)

    if salt and cell_col is not None:
        raise ValueError("cell_col (bucketed-layout join) is incompatible with salt")
    pts = points.select(
        F.col(point_id).alias("_pt_id"),
        F.col(lat).cast("long").alias("_lat"),
        F.col(lon).cast("long").alias("_lon"),
        *([F.col(cell_col).alias("cell")] if cell_col is not None else []),
    )
    if cell_col is None:
        pts = pts.withColumn("cell", be.cell_expr("_lat", "_lon", cover_res))

    if salt:
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64(F.col("_pt_id")), F.lit(salt)).cast("int"))
        cover = cover.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        keys = ["cell", "_salt"]
    else:
        keys = ["cell"]
    candidates = pts.hint("shuffle_merge").join(cover, keys)
    fast = candidates.filter(F.col("interior")).select("polygon_id", "_pt_id")
    candidates = candidates.filter(~F.col("interior"))

    out_schema = f"polygon_id string, _pt_id {dict(points.dtypes)[point_id]}"
    refined = _refine_cogroup(candidates, polygons, out_schema)
    return refined.unionByName(fast).withColumnRenamed("_pt_id", point_id)


def _refine_cogroup(candidates: DataFrame, polygons: DataFrame, out_schema: str) -> DataFrame:
    """Co-grouped exact refinement: slim candidate rows ⋈ the rings
    table on polygon_id; the ring JSON is parsed once per GROUP and
    never rides a candidate row."""
    boundary = candidates.select("polygon_id", "_pt_id", "_lat", "_lon")

    def refine_cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        from osmflat_rs_spark.functions.pip import points_in_rings

        if left.empty or right.empty:
            # right empty cannot happen for real candidates (every
            # candidate's polygon_id exists in the polygon table); left
            # empty is routine — a polygon with no boundary candidates
            # still forms a cogroup group
            return left.iloc[0:0][["polygon_id", "_pt_id"]]
        rings_np = _ring_arrays(json.loads(right["rings_json"].iloc[0]))
        mask = points_in_rings(
            left["_lon"].to_numpy(np.int64), left["_lat"].to_numpy(np.int64), rings_np
        )
        return left.loc[mask, ["polygon_id", "_pt_id"]]

    return (
        boundary.groupBy("polygon_id")
        .cogroup(_rings_json_table(polygons).groupBy("polygon_id"))
        .applyInPandas(refine_cg, schema=out_schema)
    )


def pip_anti_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    **pip_kwargs,
) -> DataFrame:
    """Points contained by NO polygon (the spatial anti-join — "events
    outside every district") → the full point rows, columns unchanged.

    The containment side runs through the identical two-phase
    `pip_join` kernel (so every cover/backend seam and its
    exactness guarantees apply verbatim); the negation is one LEFT ANTI
    join keyed by the point id against the DISTINCT matched-id set.
    At scale the anti join shuffles both sides by id — there is no
    broadcast shortcut in general because the matched set can approach
    the point count; when the polygons cover little of the data the
    matched side is small and AQE converts the exchange to a broadcast
    at runtime. Boundary points count as contained (pip_join's
    inclusive rule), hence excluded here.
    """
    pairs = pip_join(points, polygons, point_id=point_id, lat=lat, lon=lon, **pip_kwargs)
    matched = pairs.select(point_id).distinct()
    return points.join(matched, point_id, "left_anti")


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    value_col: str,
    point_id: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    **pip_kwargs,
) -> DataFrame:
    """Zonal statistics — per-polygon aggregate of a point value column
    (the raster-analysis "zonal stats" over vector zones; GIS analog of
    the reference's per-feature folds, road-length.rs:55-78) →
    DataFrame(polygon_id, n_pts, sum_val, avg_val, min_val, max_val).

    Scale shape: containment runs through the two-phase ``pip_join``
    kernel with ``value_col`` threaded via ``carry_cols`` — the value
    rides the interior-cell short-circuit JVM-side and the Arrow refine
    batch, so there is NO second shuffle re-joining pairs to the point
    table. The only exchange after the cell join is the final groupBy on
    polygon_id (map-side partial agg; #groups = #polygons). A polygon
    containing zero points yields no row (inner semantics — LEFT JOIN
    the polygon table downstream for zero-filled rows).
    """
    pairs = pip_join(
        points,
        polygons,
        point_id=point_id,
        lat=lat,
        lon=lon,
        carry_cols=[value_col],
        **pip_kwargs,
    )
    v = F.col(value_col)
    return pairs.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(v).alias("sum_val"),
        F.avg(v).alias("avg_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )


def zonal_partials(
    points: DataFrame,
    polygons: DataFrame,
    value_col: str,
    point_id: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    **pip_kwargs,
) -> DataFrame:
    """The MERGEABLE core of ``zonal_stats`` — (polygon_id, n_pts,
    sum_val, min_val, max_val) with no avg (a ratio is not mergeable;
    its numerator and denominator are). Partials from disjoint point
    subsets re-aggregate to the full answer via ``zonal_from_partials``,
    which is what gives zonal statistics a streaming form for free
    (``streaming/incremental.stream_zonal_partials``) — the same
    partial-sketch pattern as hotspot cell counts."""
    pairs = pip_join(
        points, polygons, point_id=point_id, lat=lat, lon=lon,
        carry_cols=[value_col], **pip_kwargs,
    )
    v = F.col(value_col)
    return pairs.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(v).alias("sum_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )


def zonal_from_partials(partials: DataFrame) -> DataFrame:
    """Merge zonal partials (union of ``zonal_partials`` outputs over any
    point-set partition) into the full per-polygon statistics; avg is
    derived at read time from the merged sum and count."""
    return partials.groupBy("polygon_id").agg(
        F.sum("n_pts").alias("n_pts"),
        F.sum("sum_val").alias("sum_val"),
        (F.sum("sum_val") / F.sum("n_pts")).alias("avg_val"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
    )


def polygon_intersect_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    id_a: str = "polygon_id",
    id_b: str = "polygon_id",
    ring_col: str = "ring",
    res: int = 14,
    self_join: bool = False,
) -> DataFrame:
    """Polygon–polygon intersection join (ST_Intersects semantics,
    boundary-inclusive, simple single-ring polygons) → (id_a, id_b).

    The last of the classic spatial joins next to PIP/kNN/radius/
    segment-crossing. Two-phase like the rest: bbox cell covers at
    ``res`` (vectorized `bbox_cover_batch`, one Arrow pass per side)
    equi-join on cell for candidates, then the exact test. Candidate
    pairs are DISTINCT-ed BEFORE verification — the inverse of the
    segment join's verify-then-distinct, and deliberately so: there the
    per-candidate test is a 4-sign predicate and the payload is wide,
    here the test is a full ring-pair kernel and the payload is two
    ids, so dedup-first wins (each ring ships once per surviving pair,
    never per shared cell — the cogroup-PIP lesson applied at plan
    time). Exactness: two simple polygons intersect iff a vertex of one
    lies in-or-on the other (inclusive `points_in_polygon`) OR some
    edge pair properly crosses (`_proper_mask`, exact int64 with bigint
    fallback) — collinear-touch and contained cases land in the first
    clause because the overlap endpoints are vertices of one side.

    ``self_join=True`` joins a polygon set with itself: emits each
    unordered pair once (id_a < id_b), never the self-pair.
    """
    from osmflat_rs_spark.functions.cells import bbox_cover_batch
    from osmflat_rs_spark.operators.segments import _proper_mask

    def _slim(df, idc, out):
        return df.select(
            F.col(idc).alias(out),
            F.transform(ring_col, lambda v: v["lon"].cast("long")).alias(f"_xs{out[-1]}"),
            F.transform(ring_col, lambda v: v["lat"].cast("long")).alias(f"_ys{out[-1]}"),
        )

    ta = dict(polys_a.dtypes)[id_a]
    tb = dict(polys_b.dtypes)[id_b]
    a = _slim(polys_a, id_a, "id_a")
    b = _slim(polys_b, id_b, "id_b")

    def _covers(out, tname):
        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                xs = pdf[f"_xs{out[-1]}"]
                ys = pdf[f"_ys{out[-1]}"]
                lat_lo = np.array([min(y) for y in ys], dtype=np.int64)
                lat_hi = np.array([max(y) for y in ys], dtype=np.int64)
                lon_lo = np.array([min(x) for x in xs], dtype=np.int64)
                lon_hi = np.array([max(x) for x in xs], dtype=np.int64)
                cells, owner = bbox_cover_batch(lat_lo, lat_hi, lon_lo, lon_hi, res)
                yield pd.DataFrame({out: pdf[out].to_numpy()[owner], "cell": cells})

        return gen

    cov_a = a.mapInPandas(_covers("id_a", ta), schema=f"id_a {ta}, cell long")
    cov_b = b.mapInPandas(_covers("id_b", tb), schema=f"id_b {tb}, cell long")

    cand = cov_a.join(cov_b, "cell").select("id_a", "id_b")
    if self_join:
        cand = cand.filter(F.col("id_a") < F.col("id_b"))
    cand = cand.distinct()

    pairs = cand.join(a, "id_a").join(b, "id_b")

    def _verify(batches):
        # rows are grouped by (ring-length-a, ring-length-b) so the exact
        # test runs VECTORIZED ACROSS PAIRS (batched crossing-number +
        # one flattened edge-pair sign test) — the per-row Python loop
        # this replaced measured 740 polys/s at 30k hexagons; equal-
        # length groups are the common case (generated/gridded polygons,
        # simplified admin rings); a corpus of all-distinct lengths
        # degrades to one row per group, never worse than the loop.
        from osmflat_rs_spark.functions.pip import batched_any_vertex_in

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            xsa = pdf["_xsa"].to_numpy()
            ysa = pdf["_ysa"].to_numpy()
            xsb = pdf["_xsb"].to_numpy()
            ysb = pdf["_ysb"].to_numpy()
            la = np.fromiter((len(v) for v in xsa), dtype=np.int64, count=n)
            lb = np.fromiter((len(v) for v in xsb), dtype=np.int64, count=n)
            keep = np.zeros(n, dtype=bool)
            combo = la * (la.max() + lb.max() + 1) + lb
            for key in np.unique(combo):
                idx = np.flatnonzero(combo == key)
                ka, kb = int(la[idx[0]]), int(lb[idx[0]])
                xa = np.stack([np.asarray(xsa[i], dtype=np.int64) for i in idx])
                ya = np.stack([np.asarray(ysa[i], dtype=np.int64) for i in idx])
                xb = np.stack([np.asarray(xsb[i], dtype=np.int64) for i in idx])
                yb = np.stack([np.asarray(ysb[i], dtype=np.int64) for i in idx])
                hit = batched_any_vertex_in(xa, ya, xb, yb) | batched_any_vertex_in(
                    xb, yb, xa, ya
                )
                rem = np.flatnonzero(~hit)
                if rem.size:
                    # all ka·kb edge pairs of the remaining rows, one
                    # flattened exact sign test
                    ia = np.arange(ka)
                    ja = (ia + 1) % ka
                    ib = np.arange(kb)
                    jb = (ib + 1) % kb
                    ra = np.repeat(ia, kb)
                    rb = np.tile(ib, ka)
                    g = rem.size

                    def flat(m, cols):
                        return m[rem][:, cols].ravel()

                    cross = _proper_mask(
                        flat(xa, ia[ra]), flat(ya, ia[ra]), flat(xa, ja[ra]), flat(ya, ja[ra]),
                        flat(xb, ib[rb]), flat(yb, ib[rb]), flat(xb, jb[rb]), flat(yb, jb[rb]),
                    ).reshape(g, ka * kb).any(axis=1)
                    hit[rem] = cross
                keep[idx] = hit
            yield pdf.loc[keep, ["id_a", "id_b"]]

    return pairs.mapInPandas(_verify, schema=f"id_a {ta}, id_b {tb}")


def pip_join_direct(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    fill_rule: str = "evenodd",
) -> DataFrame:
    """→ DataFrame(polygon_id, <point_id>) — exact containment pairs
    under an explicit FILL RULE: "evenodd" (the two-phase joins' rule)
    or "nonzero" (SVG/PostScript winding — the rules differ on
    self-intersecting rings; see functions/pip.points_in_rings).

    The DIRECT broadcast form: no cell cover — polygons broadcast as a
    packed index, the point table pre-filters against a broadcast bbox
    table JVM-side (BroadcastNestedLoopJoin on four range predicates),
    and surviving (point, polygon) candidates refine in one Arrow
    batch. Scale contract: AOI-scale polygon sets (the geofence/clip
    regime, 10s–1000s of polygons whose bboxes are selective); the
    point side — the 10^12-row side — never shuffles. For large or
    dense polygon tables use `pip_join`/`pip_join_shuffle` (even-odd
    only: their interior-cell short-circuit classifies covers with the
    even-odd kernel, so a nonzero-rule cover would need its own
    classified-cover construction — out of contract here)."""
    spark = points.sparkSession
    index = build_polygon_index(polygons)
    if fill_rule not in ("evenodd", "nonzero"):
        raise ValueError(f"fill_rule must be 'evenodd' or 'nonzero', got {fill_rule!r}")

    boxes = pd.DataFrame(
        {
            "polygon_id": list(index.ids),
            "_xmin": index.bbox[:, 0],
            "_xmax": index.bbox[:, 1],
            "_ymin": index.bbox[:, 2],
            "_ymax": index.bbox[:, 3],
        }
    )
    bdf = spark.createDataFrame(boxes)
    pts = points.select(
        F.col(point_id).alias("_pt_id"),
        F.col(lat).cast("long").alias("_lat"),
        F.col(lon).cast("long").alias("_lon"),
    )
    cand = pts.join(
        F.broadcast(bdf),
        (F.col("_lon") >= F.col("_xmin"))
        & (F.col("_lon") <= F.col("_xmax"))
        & (F.col("_lat") >= F.col("_ymin"))
        & (F.col("_lat") <= F.col("_ymax")),
    ).select("_pt_id", "_lat", "_lon", "polygon_id")

    bc = spark.sparkContext.broadcast(index)
    id_dtype = dict(points.dtypes)[point_id]
    return cand.mapInPandas(
        _broadcast_refine_fn(bc, [], fill_rule), schema=f"polygon_id string, _pt_id {id_dtype}"
    ).withColumnRenamed("_pt_id", point_id)
