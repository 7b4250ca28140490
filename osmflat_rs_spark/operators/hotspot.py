"""Grid-density hotspot clustering — the distributed relative of DBSCAN
over a fixed grid: cells with >= min_pts points are "core"; core cells
that touch (8-adjacency) merge into one hotspot; every point in a core
cell gets its hotspot's label. This is the standard scalable recipe for
density clustering on billions of points (grid-DBSCAN / GriT-DBSCAN
family): exact DBSCAN's eps-neighbor graph is point-to-point and
quadratic-ish, while the grid form aggregates FIRST, so everything after
the one groupBy runs on cells, whose count is bounded by the occupied
area — independent of the point count. The reference's analog is the
cell-bucketed node index it builds for spatial locality (ids sorted by
Hilbert/Morton cell, osmflatc ids.rs sorted-insert invariant); this
turns that layout idea into an analytics operator.

Scale shape, in order:
1. one map-side-combinable groupBy (cx, cy) over the points — the ONLY
   stage that touches every point row;
2. neighbor-edge generation by exploding each core cell to its 8
   neighbor keys and equi-joining against the core set (cells, not
   points — typically 10^3-10^6 rows at 100 TB);
3. :func:`connected_components` over the cell graph — one union-find
   task while the cell graph fits its solve budget, else O(log n)
   rounds of bounded shuffles on (cell, label) rows;
4. one equi-join of the original points against (cell -> cluster).

Labels are deterministic: a cluster's id is the MINIMUM cell key it
contains, with key = (cx + 2^30) * 2^31 + (cy + 2^30) — plain integer
arithmetic a SQL oracle reproduces exactly (no Morton interleave needed;
adjacency lives in (cx, cy) space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmflat_rs_spark.plans.checkpoint import fresh_local_checkpoint

_P = 1 << 30  # coordinate offset: keys stay positive for |cx|,|cy| < 2^30
_M = 1 << 31


def cell_key_expr(cx, cy):
    """Canonical int64 key for a grid cell — min key == cluster label."""
    return ((cx + F.lit(_P)) * F.lit(_M) + (cy + F.lit(_P))).cast("long")


def cell_counts(
    points: DataFrame,
    cell_size: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(cx, cy, n) occupancy of the floor-division grid — the MERGEABLE
    summary under hotspot clustering (merge = union + re-sum), which is
    what makes the streaming form free: per-micro-batch partials of this
    shape are maintained by ``streaming.incremental.
    stream_cell_count_partials`` and merged on read."""
    if cell_size < 1:
        raise ValueError(f"cell_size must be >= 1, got {cell_size}")
    cs = F.lit(int(cell_size)).cast("double")
    return (
        points.select(
            F.floor(F.col(lon).cast("double") / cs).cast("long").alias("cx"),
            F.floor(F.col(lat).cast("double") / cs).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hotspot_from_cell_counts(counts: DataFrame, min_pts: int) -> DataFrame:
    """(cx, cy, cluster) for core cells, from an (cx, cy, n) occupancy
    table — possibly UNMERGED partials (re-summed here, so passing
    either the partial files or a finished ``cell_counts`` output is
    correct). This is the cells-only core of :func:`hotspot_clusters`;
    the streaming path calls it directly on merged partials."""
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    from osmflat_rs_spark.operators.graph import connected_components

    core = (
        counts.groupBy("cx", "cy")
        .agg(F.sum("n").alias("_n"))
        .filter(F.col("_n") >= min_pts)
        .select("cx", "cy", cell_key_expr(F.col("cx"), F.col("cy")).alias("key"))
        # eager checkpoint, not persist: connected_components() runs jobs
        # over the edge graph immediately, and the caller's final join
        # needs core again after this function returns — a persist would
        # either leak or be unpersisted before that lazy join runs
        .transform(fresh_local_checkpoint)
    )
    # 8-neighbor edges among core cells: explode each core cell to its
    # neighbor keys, equi-join back against the core set. Self-loops
    # register isolated core cells with the components operator.
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    nbr = (
        core.select("key", "cx", "cy", F.explode(offs).alias("o"))
        .select(
            F.col("key").alias("u"),
            cell_key_expr(F.col("cx") + F.col("o.dx"), F.col("cy") + F.col("o.dy")).alias("v"),
        )
        .join(core.select(F.col("key").alias("v")), "v", "inner")
    )
    edges = nbr.unionByName(core.select(F.col("key").alias("u"), F.col("key").alias("v")))
    cc = connected_components(edges, src="u", dst="v")
    return core.join(
        cc.select(F.col("node").alias("key"), F.col("component").alias("cluster")), "key"
    ).select("cx", "cy", "cluster")


def hotspot_clusters(
    points: DataFrame,
    cell_size: int,
    min_pts: int,
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(id, cx, cy, cluster) for every point in a core cell; points in
    sparse cells are noise and are dropped (DBSCAN's noise convention).

    ``cell_size`` is in the fixed-point coordinate units of ``lat``/
    ``lon``; cells are the floor-division grid cx = floor(lon/cs),
    cy = floor(lat/cs) (floor, not truncation — negative coordinates
    grid correctly). ``min_pts`` is the core-cell density threshold.
    Composition: :func:`cell_counts` → :func:`hotspot_from_cell_counts`
    → one equi-join of the points against the (cell → cluster) map."""
    cs = F.lit(int(cell_size)).cast("double")
    pts = points.select(
        F.col(id_col),
        F.floor(F.col(lon).cast("double") / cs).cast("long").alias("cx"),
        F.floor(F.col(lat).cast("double") / cs).cast("long").alias("cy"),
    )
    labeled = hotspot_from_cell_counts(cell_counts(points, cell_size, lat, lon), min_pts)
    return pts.join(labeled, ["cx", "cy"]).select(id_col, "cx", "cy", "cluster")


def ripley_k(
    points: DataFrame,
    radii: list,
    area: float,
    id_col: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    metric: str = "sqeuclid",
    res: int | None = None,
    backend=None,
) -> DataFrame:
    """Ripley's K point-pattern statistic (naive estimator, no edge
    correction) at every radius in ``radii`` → (r, n_pairs, k_hat).

    K̂(r) = A · Σ_{i≠j} 1[d_ij ≤ r] / (n·(n−1)) — the classic test of
    clustering vs complete spatial randomness (CSR: K̂(r) ≈ πr²;
    above = clustered, below = dispersed). ``area`` is the observation
    window A in squared coordinate units; the caller states it (an
    engine-guessed bbox would silently change the statistic).

    Scale shape: ONE self radius-join at max(radii) — the same
    cell-cover candidate machinery as kNN/radius (`knn.radius_join`,
    exact: the cover is a superset of the metric disk) — then every
    radius is a conditional sum over the SAME pair pass (one map-side-
    combined reduce, no per-radius rescan), unpivoted in-row. With
    ``metric='sqeuclid'`` the per-radius comparisons are exact int64
    (radii must be integers in fixed-point units).

    n counts the points the join sees (non-null coordinates) — one
    scalar driver action, same class as the CC convergence check.
    """
    from osmflat_rs_spark.operators.knn import radius_join

    rs = sorted({int(r) for r in radii})
    if not rs or rs[0] < 1:
        raise ValueError(f"radii must be positive, got {radii}")
    if metric == "sqeuclid" and any(float(r) != int(r) for r in radii):
        raise ValueError("sqeuclid radii must be integers (exact int64 compares)")
    n = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull()).count()
    if n < 2:
        raise ValueError(f"need >= 2 points, got {n}")
    # the cover machinery types query_id as STRING (its Arrow batch
    # schema) — stringify the self-side id and compare as strings
    q = points.select(F.col(id_col).cast("string").alias("query_id"), F.col(lat), F.col(lon))
    pairs = radius_join(
        points, q, radius_m=float(rs[-1]), res=res, metric=metric,
        id_col=id_col, backend=backend,
    ).filter(F.col("query_id") != F.col(id_col).cast("string"))
    bounds = [r * r if metric == "sqeuclid" else float(r) for r in rs]
    sums = pairs.agg(
        *[
            F.sum((F.col("dist_m") <= F.lit(b)).cast("long")).alias(f"_n{i}")
            for i, b in enumerate(bounds)
        ]
    )
    stack_args = ", ".join(f"CAST({r} AS BIGINT), coalesce(_n{i}, 0L)" for i, r in enumerate(rs))
    out = sums.selectExpr(f"stack({len(rs)}, {stack_args}) AS (r, n_pairs)")
    return out.withColumn(
        "k_hat",
        F.lit(float(area)) * F.col("n_pairs").cast("double") / F.lit(float(n * (n - 1))),
    )


def dbscan(
    points: DataFrame,
    radius: int,
    min_pts: int,
    id_col: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    res: int | None = None,
    backend=None,
) -> DataFrame:
    """Point-level DBSCAN (Ester et al. 1996) → (id, cluster, is_core).

    The exact-geometry companion to the grid-DBSCAN above (`hotspot_
    clusters` trades boundary precision for cell aggregation; this one
    keeps the metric): CORE points have ≥ ``min_pts`` neighbors within
    ``radius`` INCLUDING THEMSELVES (the classic |N_eps(p)| convention);
    clusters are connected components of the core-core neighbor graph,
    labeled by MINIMUM core id (deterministic, partition-invariant);
    BORDER points (non-core with ≥1 core neighbor) take the MINIMUM
    cluster label over their core neighbors — the classic algorithm's
    first-come assignment made deterministic; NOISE points emit no row.

    Composition of the engine's own primitives — no new kernel:

    1. one exact self radius-join (`knn.radius_join` cell-cover
       machinery) — the only O(pairs) stage;
    2. per-point neighbor counts (map-side-combined agg) → core set;
    3. `graph.connected_components` on core-core edges (spanning-forest
       reduction, then one union-find task), isolated cores via
       self-loops;
    4. border assignment = one semi-filtered join + min-agg.
    """
    from osmflat_rs_spark.operators.graph import connected_components
    from osmflat_rs_spark.operators.knn import radius_join

    if min_pts < 2:
        # min_pts=1 would make ISOLATED points core (|N_eps|={self}),
        # but an isolated point never enters the pairs relation — the
        # degenerate every-point-own-cluster case is a select, not a
        # join; demand a real density threshold.
        raise ValueError(f"min_pts must be >= 2, got {min_pts}")
    q = points.select(F.col(id_col).cast("string").alias("query_id"), F.col(lat), F.col(lon))
    # pairs feeds THREE consumers (degree count, core-core edges, border
    # assignment) and core FOUR join sides — materialize each once (r6:
    # the un-checkpointed plan re-ran the whole radius-join subtree per
    # consumer, 3x the only O(pairs) stage). Disk-only for pairs: the
    # table scales quadratically with density and a deserialized
    # in-memory checkpoint GCLocker-killed the JVM at 5x the bench
    # density (see plans.checkpoint).
    pairs = (
        radius_join(points, q, radius_m=float(radius), res=res, metric="sqeuclid",
                    id_col=id_col, backend=backend)
        .select(F.col("query_id").cast("long").alias("a"), F.col(id_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .transform(fresh_local_checkpoint, disk=True)
    )
    deg = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("_nbrs"))
    core = (
        deg.filter(F.col("_nbrs") >= F.lit(int(min_pts) - 1))
        .select(F.col("a").alias("cid"))
        .transform(fresh_local_checkpoint)
    )
    # No broadcast hint on the core set (ADVICE r05): core is
    # O(n_points) — in dense data nearly every point is core — so a
    # forced broadcast OOMs long before the radius join is the
    # bottleneck; AQE picks broadcast on its own when core is small.
    core_edges = (
        pairs.join(core.withColumnRenamed("cid", "a"), "a", "left_semi")
        .join(core.withColumnRenamed("cid", "b"), "b", "left_semi")
    )
    # isolated cores label themselves via self-loops (CC contract)
    cc_in = core_edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        core.select(F.col("cid").alias("src"), F.col("cid").alias("dst"))
    )
    # the core-core radius graph is DENSE (avg degree ≈ 2·min_pts or
    # far more), exactly the shape connected_components' spanning-forest
    # reduction collapses before its one-task solve
    labels = connected_components(cc_in)  # (node, component)
    cores_out = labels.select(
        F.col("node").alias(id_col),
        F.col("component").alias("cluster"),
        F.lit(True).alias("is_core"),
    )
    border = (
        pairs.join(core.withColumnRenamed("cid", "b"), "b", "left_semi")
        .join(labels.withColumnRenamed("node", "b"), "b")
        .join(core.withColumnRenamed("cid", "a"), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("component").alias("cluster"))
        .select(F.col("a").alias(id_col), "cluster", F.lit(False).alias("is_core"))
    )
    return cores_out.unionByName(border)


def mean_center(
    pts: DataFrame,
    group_col: str,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Spatial central tendency per group → (group, n, mean_lat,
    mean_lon, std_dist, ellipse_theta): the classic centrography trio
    (mean center, standard distance, standard-deviational-ellipse
    orientation) over fixed-point planar coordinates.

    Exactness contract: all five sums (Σlat, Σlon, Σlat², Σlon²,
    Σlat·lon) accumulate as DECIMAL(38,0) — exact integers at ANY corpus
    size (int64 would overflow at ~10^12 rows × (5·10^8)² products;
    Spark decimal sums and DuckDB HUGEINT sums are both exact and
    order-invariant), so the shuffle is reassociation-proof. Floats
    appear only in the FINAL projection: one correctly-rounded
    decimal→double conversion per sum, then a fixed IEEE expression —
    mean = S/n, var via the computational formula Σx²/n − mean², θ =
    atan2(2·cov, var_lat − var_lon)/2 (atan2 is libm, not correctly
    rounded, hence the engine-wide round-6 output contract).

    Plan: ONE map-side-combined aggregate over the corpus — the same
    single-shuffle shape as A2/A4 (SURVEY §2.6), no second pass for the
    moments. θ is measured from the +lat axis toward +lon, in
    (−π/2, π/2]; degenerate groups (var_lat = var_lon, cov = 0 —
    includes n = 1) emit θ = 0 by atan2(0, 0) = 0 in both engines.
    """
    dec = "decimal(38,0)"
    la, lo = F.col(lat).cast("long"), F.col(lon).cast("long")
    # per-row products stay in int64 (|coord| <= 1.8e9 fixed-point ⇒
    # product <= 3.3e18 < 2^63); only the SUMS widen to decimal
    agg = pts.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(la.cast(dec)).alias("_sx"),
        F.sum(lo.cast(dec)).alias("_sy"),
        F.sum((la * la).cast(dec)).alias("_sxx"),
        F.sum((lo * lo).cast(dec)).alias("_syy"),
        F.sum((la * lo).cast(dec)).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    mean_lat, mean_lon = sx / nd, sy / nd
    var_lat = sxx / nd - mean_lat * mean_lat
    var_lon = syy / nd - mean_lon * mean_lon
    cov = sxy / nd - mean_lat * mean_lon
    theta = F.atan2(F.lit(2.0) * cov, var_lat - var_lon) / F.lit(2.0)
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.round(mean_lat, 6).alias("mean_lat"),
        F.round(mean_lon, 6).alias("mean_lon"),
        F.round(F.sqrt(var_lat + var_lon), 6).alias("std_dist"),
        F.round(theta, 6).alias("ellipse_theta"),
    )


def geometric_median(
    pts: DataFrame,
    group_col: str,
    lat: str = "lat",
    lon: str = "lon",
    iters: int = 5,
) -> DataFrame:
    """Per-group GEOMETRIC MEDIAN (the L1/Fermat point — the robust
    companion of `mean_center`: minimizes the SUM of distances, so one
    far outlier moves it barely at all) by a FIXED number of Weiszfeld
    iterations (Weiszfeld 1937): m' = sum(p/d) / sum(1/d) with d the
    euclidean distance to the current estimate; points exactly AT the
    estimate contribute 0 that round (the standard simple variant —
    mirrored verbatim in the oracle); if every point coincides (all
    d = 0) the estimate is already the median and is kept.

    Fixed ``iters`` is the determinism contract (like the LPA rounds):
    run-to-convergence depends on float tolerance; five rounds from the
    mean-center init resolve typical clouds to ~1e-6 of the fixpoint.

    Scale shape per round: one join of the one-row-per-group medians
    table onto the points (broadcast) + one map-side-combined
    aggregate. Init = exact-decimal mean center (the `mean_center`
    discipline). → (group, n, med_lat, med_lon), fixed-point doubles."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    dec = "decimal(38,0)"
    base = pts.select(
        F.col(group_col).alias("_g"),
        F.col(lat).cast("long").alias("_y"),
        F.col(lon).cast("long").alias("_x"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    init = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
    )
    med = init.select(
        "_g",
        "n",
        (F.col("_sy").cast("double") / F.col("n").cast("double")).alias("_cy"),
        (F.col("_sx").cast("double") / F.col("n").cast("double")).alias("_cx"),
    )
    for _ in range(iters):
        j = base.join(F.broadcast(med), "_g")
        dx = F.col("_x").cast("double") - F.col("_cx")
        dy = F.col("_y").cast("double") - F.col("_cy")
        d = F.sqrt(dx * dx + dy * dy)
        w = F.when(d > F.lit(0.0), F.lit(1.0) / d).otherwise(F.lit(0.0))
        upd = j.groupBy("_g").agg(
            F.first("n").alias("n"),
            F.first("_cy").alias("_py"),
            F.first("_cx").alias("_px"),
            F.sum(w * F.col("_y").cast("double")).alias("_wy"),
            F.sum(w * F.col("_x").cast("double")).alias("_wx"),
            F.sum(w).alias("_sw"),
        )
        med = upd.select(
            "_g",
            "n",
            F.when(F.col("_sw") > 0, F.col("_wy") / F.col("_sw"))
            .otherwise(F.col("_py")).alias("_cy"),
            F.when(F.col("_sw") > 0, F.col("_wx") / F.col("_sw"))
            .otherwise(F.col("_px")).alias("_cx"),
        )
    return med.select(
        F.col("_g").alias(group_col),
        "n",
        F.col("_cy").alias("med_lat"),
        F.col("_cx").alias("med_lon"),
    )


def empirical_variogram(
    points: DataFrame,
    lag_width: int,
    n_lags: int,
    id_col: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    value_col: str = "v",
    res: int | None = None,
    backend=None,
) -> DataFrame:
    """Empirical (Matheron) semivariogram — the geostatistics companion
    to :func:`ripley_k` and the calibration input kriging/IDW users ask
    for first: γ̂(h) = Σ_{pairs in lag h} (v_i − v_j)² / (2·N(h)) over
    distance-lag bins [i·w, (i+1)·w), i < ``n_lags``
    → (lag, h_lo, h_hi, n_pairs, gamma) sorted by lag.

    Scale shape: ONE self radius-join at ``lag_width · n_lags`` (the
    same cell-cover candidate machinery as kNN/radius/Ripley — cover is
    a superset of the disk, so the pair set is exact), unordered-pair
    dedup by id inequality, then two value equi-joins and ONE map-side-
    combined groupBy on the lag id (≤ ``n_lags`` groups). No stage
    rescans the pair set per lag.

    Cross-engine exactness: sqeuclid d² and (v_i − v_j)² are int64 all
    the way (values must be pre-scaled integers — cents, not floats);
    the lag id is floor(sqrt(d²)/w) where sqrt/division are correctly-
    rounded IEEE doubles, identical in Spark and any ANSI engine; γ̂ is
    ONE division of exact ints. Coincident distinct points land in lag
    0 (d = 0 — the nugget pairs). No reference analog (the reference
    has no field statistics); north-rule spatial-analytics surface.
    """
    from osmflat_rs_spark.operators.knn import radius_join

    w = int(lag_width)
    if w < 1 or n_lags < 1:
        raise ValueError(f"need lag_width >= 1 and n_lags >= 1, got {lag_width}, {n_lags}")
    q = points.select(
        F.col(id_col).cast("string").alias("query_id"), F.col(lat), F.col(lon)
    )
    pairs = radius_join(
        points, q, radius_m=float(w * n_lags), res=res, metric="sqeuclid",
        id_col=id_col, backend=backend,
    ).filter(F.col("query_id").cast("long") < F.col(id_col))
    vals = points.select(F.col(id_col).cast("long").alias("_vid"), F.col(value_col).alias("_v"))
    j = (
        pairs.join(vals, pairs["query_id"].cast("long") == vals["_vid"])
        .select(F.col(id_col), F.col("dist_m"), F.col("_v").alias("_va"))
        .join(vals, F.col(id_col).cast("long") == F.col("_vid"))
    )
    dv = F.col("_va") - F.col("_v")
    lag = F.floor(F.sqrt(F.col("dist_m").cast("double")) / F.lit(float(w))).cast("long")
    out = (
        j.select(lag.alias("lag"), (dv * dv).cast("long").alias("_dv2"))
        .filter(F.col("lag") < F.lit(int(n_lags)))
        .groupBy("lag")
        .agg(F.count("*").alias("n_pairs"), F.sum("_dv2").alias("_s"))
    )
    return out.select(
        "lag",
        (F.col("lag") * F.lit(w)).cast("long").alias("h_lo"),
        ((F.col("lag") + 1) * F.lit(w)).cast("long").alias("h_hi"),
        "n_pairs",
        (F.col("_s").cast("double") / (F.lit(2.0) * F.col("n_pairs").cast("double"))).alias("gamma"),
    ).orderBy("lag")


def _censored_nn_min(
    points: DataFrame,
    q: DataFrame,
    phases: list[int],
    metric: str,
    res: int | None,
    id_col: str,
    backend=None,
) -> DataFrame:
    """Per-query censored nearest-neighbour minimum → (query_id, _nn):
    min over non-self pairs within ``phases[-1]``, rows only for
    queries with at least one such pair (the censoring contract of
    g_function / clark_evans).

    r6 — RADIUS CASCADE: a single radius join at rmax enumerates every
    pair within it, but the MIN only needs the innermost occupied ring:
    at the sf0.1 gate (rmax = 400k on a 2M×4M domain) the one-shot join
    evaluated ~600M candidate pairs (350 s of task CPU) where the
    nearest neighbour sits within ~10k units for essentially every
    point. Phase k joins only the still-unresolved queries at radius
    phases[k]; a pair within a smaller radius dominates every farther
    candidate, so each phase's min IS the true censored min for the
    queries it resolves — exactness is structural, not probabilistic,
    and the distance kernel (radius_join's exact int64 d² / geodesic)
    is byte-identical to the one-shot form. Phases escalate only for
    stragglers; the last phase equals rmax so censoring is unchanged."""
    from osmflat_rs_spark.operators.knn import radius_join

    mins: list[DataFrame] = []
    remaining = q
    for i, r in enumerate(phases):
        pr = radius_join(
            points, remaining, radius_m=float(r), res=res, metric=metric,
            id_col=id_col, backend=backend,
        ).filter(F.col("query_id") != F.col(id_col).cast("string"))
        m = pr.groupBy("query_id").agg(F.min("dist_m").alias("_nn"))
        if i < len(phases) - 1:
            m = m.transform(fresh_local_checkpoint)
            remaining = remaining.join(m, "query_id", "left_anti").transform(fresh_local_checkpoint)
        mins.append(m)
    out = mins[0]
    for m in mins[1:]:
        out = out.unionByName(m)
    return out


def g_function(
    points: DataFrame,
    radii: list,
    id_col: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    metric: str = "sqeuclid",
    res: int | None = None,
    backend=None,
) -> DataFrame:
    """Nearest-neighbour distance distribution Ĝ(r) (the G-function,
    censored at max(radii) — spatstat's standard border treatment
    restated for a bounded join): for each radius, the fraction of
    points whose NEAREST other point lies within r
    → (r, n_within, g_hat). Reads against :func:`ripley_k`: K counts
    ALL pairs per radius, G only each point's closest — together they
    separate clustering intensity from clustering reach.

    Scale shape: ONE self radius-join at max(radii) (cell-cover
    candidates, exact int64 d² with ``metric='sqeuclid'``), ONE
    map-side-combined min per point, then every radius is a conditional
    sum over the same min table, unpivoted in-row. Points with no
    neighbour within max(radii) are censored (count in n, not in any
    n_within) — the CENSORING IS THE CONTRACT, not an approximation:
    an uncensored exact-NN oracle would need the unbounded all-pairs
    min. n is one scalar driver action (non-null coords), same class
    as the Ripley count.
    """
    rs = sorted({int(r) for r in radii})
    if not rs or rs[0] < 1:
        raise ValueError(f"radii must be positive, got {radii}")
    if metric == "sqeuclid" and any(float(r) != int(r) for r in radii):
        raise ValueError("sqeuclid radii must be integers (exact int64 compares)")
    n = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull()).count()
    if n < 2:
        raise ValueError(f"need >= 2 points, got {n}")
    q = points.select(F.col(id_col).cast("string").alias("query_id"), F.col(lat), F.col(lon))
    # the given radii ARE the cascade: a point resolved at r_i carries
    # the identical censored min it had under the one-shot rmax join
    nn = _censored_nn_min(points, q, rs, metric, res, id_col, backend)
    bounds = [r * r if metric == "sqeuclid" else float(r) for r in rs]
    sums = nn.agg(
        *[
            F.sum((F.col("_nn") <= F.lit(b)).cast("long")).alias(f"_n{i}")
            for i, b in enumerate(bounds)
        ]
    )
    stack_args = ", ".join(
        f"CAST({r} AS BIGINT), coalesce(_n{i}, 0L)" for i, r in enumerate(rs)
    )
    out = sums.selectExpr(f"stack({len(rs)}, {stack_args}) AS (r, n_within)")
    return out.withColumn(
        "g_hat", F.col("n_within").cast("double") / F.lit(float(n))
    )


def clark_evans(
    points: DataFrame,
    rmax: int,
    id_col: str = "node_idx",
    lat: str = "lat",
    lon: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """One-row Clark & Evans (1954) nearest-neighbour index, censored
    at ``rmax`` (the same bounded-join contract as :func:`g_function`):
    R = mean observed NN distance / expected NN distance under CSR
    (0.5/√density over the bbox window), with the classic z-score
    (SE = 0.26136·√A/n). R < 1 = clustered, R ≈ 1 = Poisson, R → 2.15
    = perfectly dispersed — the single-number summary the G-function
    curve integrates.

    Scale shape: the SAME one self radius-join + per-point min as the
    G-function (cell covers, exact int64 d²), then one global
    aggregate; n and the bbox window are one bounded driver action
    (six scalars). Points whose NN lies beyond rmax are censored out
    of the observed mean (they count in n and density) — the censoring
    is the contract, as an uncensored NN needs the unbounded all-pairs
    min. √d² is one IEEE sqrt per point (bit-identical across
    engines); the n-term mean is the only reassociation-sensitive sum,
    so mean_nnd carries ROUND 4 and the derived ratios ROUND 6.
    """
    if rmax < 1:
        raise ValueError(f"rmax must be >= 1, got {rmax}")
    base = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    st = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(lat).alias("la0"), F.max(lat).alias("la1"),
        F.min(lon).alias("lo0"), F.max(lon).alias("lo1"),
    ).collect()[0]
    n = int(st["n"])
    if n < 2:
        raise ValueError(f"need >= 2 points, got {n}")
    area = (int(st["la1"]) - int(st["la0"])) * (int(st["lo1"]) - int(st["lo0"]))
    if area <= 0:
        raise ValueError("degenerate (zero-area) bbox window")
    q = base.select(F.col(id_col).cast("string").alias("query_id"), F.col(lat), F.col(lon))
    # two-phase cascade (see _censored_nn_min): resolve at rmax/8, only
    # stragglers pay the full-radius cover
    phases = sorted({max(1, int(rmax) // 8), int(rmax)})
    nn = _censored_nn_min(base, q, phases, "sqeuclid", res, id_col, None)
    import math

    expected = 0.5 * math.sqrt(area / n)
    se = 0.26136 * math.sqrt(float(area)) / n
    a = nn.agg(
        F.count(F.lit(1)).alias("n_nn"),
        F.sum(F.sqrt(F.col("_nn").cast("double"))).alias("_sd"),
    )
    mean = F.col("_sd") / F.col("n_nn")
    return a.select(
        F.lit(n).cast("long").alias("n"),
        F.col("n_nn").cast("long").alias("n_nn"),
        F.round(mean, 4).alias("mean_nnd"),
        F.lit(round(expected, 6)).alias("expected_nnd"),
        F.round(mean / F.lit(expected), 6).alias("r_index"),
        F.round((mean - F.lit(expected)) / F.lit(se), 6).alias("z"),
    )


def spatial_chi2(
    points: DataFrame,
    cat_col: str,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 12,
) -> DataFrame:
    """One-row chi-square test of INDEPENDENCE between location (grid
    cell) and a categorical mark → (n, n_cells, n_cats, df, chi2):
    are the categories distributed across space the way the overall
    mix predicts, or do types segregate? The contingency-table
    complement of the join-count statistic (which tests ADJACENCY
    structure; this tests composition per cell).

    Scale shape: one (cell, category) groupBy reduces the corpus;
    margins are a cell-keyed aggregate (big, stays distributed) and a
    category-keyed aggregate (tiny, BROADCASTS with the grand total).
    Expected counts only exist for observed (cell, cat) pairs in the
    sum Σ(O−E)²/E over ALL |cells|×|cats| combinations — the missing
    zero-observation pairs contribute Σ_missing E = n − Σ_observed E,
    folded in CLOSED FORM: chi2 = Σ_obs((O−E)²/E − E) + n. So the
    full-grid fan-out is never materialized (at res 12+ it would dwarf
    the data). All O are exact ints; E = row·col/n is one exact-int
    product per pair divided once; ROUND(chi2, 6) is the only float
    contract.
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    obs = base.groupBy(
        ix.alias("ix"), iy.alias("iy"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows = obs.groupBy("ix", "iy").agg(F.sum("o").alias("rt"))
    cols = obs.groupBy("cat").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"), F.count(F.lit(1)).alias("n_obs"))
    j = (
        obs.join(rows, ["ix", "iy"])
        .join(F.broadcast(cols), "cat")
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    dev = F.col("o") - e
    a = j.agg(
        F.first("n").alias("n"),
        F.sum(dev * dev / e - e).alias("_s"),
        F.countDistinct("ix", "iy").alias("n_cells"),
        F.countDistinct("cat").alias("n_cats"),
    )
    return a.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_cats").cast("long").alias("n_cats"),
        ((F.col("n_cells") - 1) * (F.col("n_cats") - 1)).cast("long").alias("df"),
        F.round(F.col("_s") + F.col("n"), 6).alias("chi2"),
    )


def home_range(
    points: DataFrame,
    q_pct: int = 95,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 12,
) -> DataFrame:
    """q%-volume contour of the occupied-cell density surface → (ix,
    iy, n, cum, in_range): the minimal set of highest-density cells
    holding ≥ q% of the mass — the home-range / utilization-
    distribution estimator of movement ecology (Worton 1989's kernel
    UD isopleth, restated on the exact count raster), and the "where
    does 95% of the traffic live" question of capacity planning.

    Scale shape: the corpus reduces to occupied cells first; the
    global density ranking uses :func:`plans.indexing.
    sorted_prefix_scan` — range-partitioned by a composite order key
    (−n, cell), per-partition totals to the driver, map-only Arrow
    cumsum — so there is NO single-partition window over the cell
    table (the naive ORDER BY plan), and the only full exchange is the
    range partition. Membership is exact integer arithmetic:
    in_range ⇔ 100·(exclusive cum) < q·N, i.e. the cell starts before
    the q% threshold; ties in density break by cell id inside the
    order key. The order key packs (−n, ix, iy) into one int64 —
    valid while n < 2^(62−2·res).
    """
    from osmflat_rs_spark.functions.cells import grid_exprs
    from osmflat_rs_spark.plans.indexing import sorted_prefix_scan

    if not (0 < q_pct <= 100):
        raise ValueError(f"q_pct must be in (0, 100], got {q_pct}")
    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    cells = base.groupBy(ix.alias("ix"), iy.alias("iy")).agg(
        F.count(F.lit(1)).alias("n")
    )
    side = 1 << res
    ok = (-F.col("n")) * F.lit(side * side).cast("long") + (
        F.col("ix") * side + F.col("iy")
    )
    ranked = sorted_prefix_scan(cells.withColumn("_ok", ok), ["_ok"], long_sums=[("n", "cum")])
    tot = cells.agg(F.sum("n").alias("_N"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "ix",
            "iy",
            "n",
            "cum",
            (F.lit(100) * (F.col("cum") - F.col("n")) < F.lit(int(q_pct)) * F.col("_N")).alias("in_range"),
        )
    )


def segregation_h(
    points: DataFrame,
    cat_col: str,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 12,
) -> DataFrame:
    """One-row Theil information-theory segregation index → (n,
    n_cells, n_cats, entropy, h): H = 1 − Σ_c n_c·E_c / (N·E), the
    entropy-decomposition measure of how much less diverse cells are
    than the region (Theil & Finizza 1971; the multigroup standard in
    segregation studies). H = 0 ⇔ every cell mirrors the global mix,
    H = 1 ⇔ every cell is single-category.

    Scale shape: one (cell, category) groupBy reduces the corpus; the
    algebraic identity Σ_c n_c·E_c = Σ_c n_c·ln n_c − Σ_{c,cat} o·ln o
    turns the per-cell entropies into TWO plain aggregates over that
    reduced table (no per-cell pivot, no second corpus pass); the
    category margin (tiny) gives the global entropy the same way.
    ln-float sums over the reduced tables → ROUND(·, 6) contract on
    the two entropy outputs.
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    obs = base.groupBy(
        ix.alias("ix"), iy.alias("iy"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).alias("o"))
    cells = obs.groupBy("ix", "iy").agg(F.sum("o").alias("nc"))
    cats = obs.groupBy("cat").agg(F.sum("o").alias("ct"))
    xlnx = lambda c: c.cast("double") * F.log(c.cast("double"))  # noqa: E731
    s1 = obs.agg(F.sum(xlnx(F.col("o"))).alias("_solno"), F.countDistinct("cat").alias("_ncat_obs"))
    s2 = cells.agg(
        F.sum(xlnx(F.col("nc"))).alias("_snlnn"),
        F.sum("nc").alias("_N"),
        F.count(F.lit(1)).alias("_ncell"),
    )
    s3 = cats.agg(F.sum(xlnx(F.col("ct"))).alias("_sclnc"), F.count(F.lit(1)).alias("_ncat"))
    j = s2.crossJoin(F.broadcast(s1)).crossJoin(F.broadcast(s3))
    N = F.col("_N").cast("double")
    e_global = F.log(N) - F.col("_sclnc") / N
    sum_nc_ec = F.col("_snlnn") - F.col("_solno")
    h = F.lit(1.0) - sum_nc_ec / (N * e_global)
    return j.select(
        F.col("_N").cast("long").alias("n"),
        F.col("_ncell").cast("long").alias("n_cells"),
        F.col("_ncat").cast("long").alias("n_cats"),
        F.round(e_global, 6).alias("entropy"),
        F.round(h, 6).alias("h"),
    )


def spatial_mutual_information(
    points: DataFrame,
    cat_col: str,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 12,
) -> DataFrame:
    """One-row mutual information between location (grid cell) and a
    categorical mark → (n, n_cells, n_cats, mi, nmi): MI =
    Σ p(c,k)·ln(p(c,k)/(p(c)p(k))) over OBSERVED pairs (zero cells
    contribute exactly 0 — no smoothing games needed, unlike the
    chi-square's expected counts), normalized by √(H_cell·H_cat) to
    the [0,1] NMI feature-selection score. The information-theoretic
    companion to :func:`spatial_chi2` (χ² weights rare-cell surprises
    quadratically; MI weights by actual probability mass) and the
    pairwise generalization of :func:`segregation_h` (which equals
    Theil's uncertainty coefficient U(cat|cell)).

    Scale shape: identical to spatial_chi2 — one (cell, cat) corpus
    reduce, margins re-aggregate THAT (cell margin distributed, cat
    margin + grand total broadcast), one ln-sum → ROUND 6 on mi/nmi.
    """
    from osmflat_rs_spark.functions.cells import grid_exprs

    ix, iy = grid_exprs(F.col(lat), F.col(lon), res)
    base = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    obs = base.groupBy(
        ix.alias("ix"), iy.alias("iy"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).alias("o")).transform(fresh_local_checkpoint)
    rows = obs.groupBy("ix", "iy").agg(F.sum("o").alias("rt"))
    cols = obs.groupBy("cat").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(rows, ["ix", "iy"])
        .join(F.broadcast(cols), "cat")
        .crossJoin(F.broadcast(tot))
    )
    o, rt, ct, n = (F.col(c).cast("double") for c in ("o", "rt", "ct", "n"))
    # MI in nats: Σ (o/n)·ln(o·n/(rt·ct))
    term = o / n * (F.log(o) + F.log(n) - F.log(rt) - F.log(ct))
    xlnx = lambda c: c * F.log(c)  # noqa: E731
    hr = rows.agg((F.log(F.sum("rt").cast("double")) - F.sum(xlnx(F.col("rt").cast("double"))) / F.sum("rt")).alias("h_cell"))
    hc = cols.agg((F.log(F.sum("ct").cast("double")) - F.sum(xlnx(F.col("ct").cast("double"))) / F.sum("ct")).alias("h_cat"))
    a = j.agg(
        F.first("n").cast("long").alias("n"),
        F.countDistinct("ix", "iy").alias("n_cells"),
        F.countDistinct("cat").alias("n_cats"),
        F.sum(term).alias("_mi"),
    ).crossJoin(F.broadcast(hr)).crossJoin(F.broadcast(hc))
    den = F.sqrt(F.col("h_cell") * F.col("h_cat"))
    return a.select(
        "n",
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_cats").cast("long").alias("n_cats"),
        F.round("_mi", 6).alias("mi"),
        F.when(den > 0, F.round(F.col("_mi") / den, 6)).alias("nmi"),
    )


def jenks_breaks(
    df: DataFrame,
    value_col: str,
    n_classes: int = 5,
    n_bins: int = 256,
):
    """Jenks natural-breaks classification (Fisher 1958 / Jenks 1967 —
    the choropleth-map default in every GIS) → one row per class:
    (class, lo, hi, n, mean) — split the value distribution into
    n_classes so the within-class sum of squared deviations is
    minimal. Exact Jenks is O(n²k) in ROW count; the engine runs the
    standard scale recipe: ONE map-side-combined reduce to an
    equal-width ``n_bins`` histogram carrying each bin's exact int64
    (count, Σv, Σv²), then Fisher's optimal-partition DP over the
    BINS on the driver (O(n_bins²·k), microseconds) — so the breaks
    are optimal at bin granularity (the declared semantics; raise
    n_bins to tighten, the state stays bounded either way).

    Determinism: the histogram is exact integer arithmetic (bin =
    ((v−min)·n_bins) div (span+1)); the DP consumes only those exact
    ints and breaks cost ties toward the SMALLER left class — a
    pure function of the histogram, so re-runs and partition layouts
    agree. Output lo/hi are the classes' exact observed min/max bin
    VALUES (bin edges mapped back through the exact per-bin value
    range), n and mean from the exact sums (ROUND 6). Rows-only gate
    (a DP is not SQL-restatable); model parity in tests."""
    if n_classes < 2 or n_bins < n_classes:
        raise ValueError(f"bad n_classes/n_bins: {n_classes}, {n_bins}")
    base = df.select(F.col(value_col).cast("long").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    rng = base.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi")).collect()[0]
    if rng["_lo"] is None:
        return df.sparkSession.createDataFrame(
            [], "class long, lo long, hi long, n long, mean double"
        )
    lo, hi = int(rng["_lo"]), int(rng["_hi"])
    span = hi - lo + 1
    b = F.expr(f"((_v - {lo}L) * {int(n_bins)}L) div {span}L")
    hist = (
        base.groupBy(b.alias("_b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_v").alias("s1"),
            F.sum(F.col("_v").cast("decimal(38,0)") * F.col("_v").cast("decimal(38,0)")).alias("s2"),
            F.min("_v").alias("vmin"),
            F.max("_v").alias("vmax"),
        )
        .orderBy("_b")
        .collect()
    )  # bounded: <= n_bins rows
    k = min(n_classes, len(hist))
    cn = [int(r["n"]) for r in hist]
    cs1 = [int(r["s1"]) for r in hist]
    cs2 = [int(r["s2"]) for r in hist]
    m = len(hist)
    # prefix sums for O(1) segment cost
    import itertools

    pn = [0] + list(itertools.accumulate(cn))
    p1 = [0] + list(itertools.accumulate(cs1))
    p2 = [0] + list(itertools.accumulate(cs2))

    def cost(i, j):  # bins [i, j)
        n = pn[j] - pn[i]
        if n == 0:
            return 0.0
        s1 = p1[j] - p1[i]
        s2 = p2[j] - p2[i]
        return float(s2) - (float(s1) * float(s1)) / n

    INF = float("inf")
    dp = [[INF] * (m + 1) for _ in range(k + 1)]
    arg = [[0] * (m + 1) for _ in range(k + 1)]
    dp[0][0] = 0.0
    for c in range(1, k + 1):
        for j in range(c, m + 1):
            best, bi = INF, c - 1
            for i in range(c - 1, j):
                v = dp[c - 1][i] + cost(i, j)
                if v < best:  # strict: ties keep the SMALLER left class
                    best, bi = v, i
            dp[c][j] = best
            arg[c][j] = bi
    # walk back the break positions
    cuts = [m]
    j = m
    for c in range(k, 0, -1):
        j = arg[c][j]
        cuts.append(j)
    cuts = cuts[::-1]  # [0, ..., m]
    out_rows = []
    for c in range(k):
        i, j = cuts[c], cuts[c + 1]
        seg = hist[i:j]
        n = sum(int(r["n"]) for r in seg)
        s1 = sum(int(r["s1"]) for r in seg)
        out_rows.append(
            (
                c,
                min(int(r["vmin"]) for r in seg),
                max(int(r["vmax"]) for r in seg),
                n,
                round(s1 / n, 6),
            )
        )
    return df.sparkSession.createDataFrame(
        out_rows, "class long, lo long, hi long, n long, mean double"
    )
