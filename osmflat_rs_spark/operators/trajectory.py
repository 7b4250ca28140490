"""Trajectory stay-point (dwell) detection — collapse each entity's
time-ordered point stream into maximal runs of consecutive points inside
the same grid cell, and keep runs that last long enough / have enough
points. This is the standard first operator of trajectory mining (Zheng
et al.'s GeoLife stay-point detection, grid-quantized form): dwells feed
OD matrices, visit counts, and home/work inference. The reference's
span-sequence invariant (ways resolve ordered node runs) is the same
gaps-and-islands shape applied to a static sequence; here the sequence
is the time axis per moving entity.

Grid quantization (vs the sequential anchor-radius original) is what
makes it one declarative plan: the anchor algorithm is an inherently
sequential per-point loop, while cell runs are a lag-diff + running sum
— W3 (consecutive-pair zip) feeding W1 (running sum), the same two
window primitives sessionization uses, fully Catalyst-planned.

Scale shape: ONE shuffle total. The window partitions by the entity
key; the per-run stats groupBy keys are (key, run_idx) — a superset of
the window's partition key, so HashPartitioning(key) already satisfies
it and Catalyst plans NO second exchange (same contract as
`sessions.session_stats`, plan-asserted in tests)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stay_points(
    events: DataFrame,
    key: str | list[str],
    cell_size: int,
    min_pts: int = 1,
    min_dwell_s: float = 0.0,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    order_cols: tuple = (),
) -> DataFrame:
    """→ one row per dwell: key cols + ``cx``/``cy`` (the dwell cell),
    ``start_us``/``end_us`` (epoch µs, integer-exact cross-engine),
    ``n_pts``, ``dwell_s``.

    A dwell is a maximal run of consecutive points (ordered by
    ``ts_col`` then ``order_cols`` — pass a unique id to pin ties) whose
    floor-division grid cell is identical, with ``n_pts`` points and a
    span of at least ``min_dwell_s`` seconds. ``cell_size`` is in the
    fixed-point units of ``lat``/``lon``."""
    if cell_size < 1:
        raise ValueError(f"cell_size must be >= 1, got {cell_size}")
    keys = [key] if isinstance(key, str) else list(key)
    cs = F.lit(int(cell_size)).cast("double")
    w = Window.partitionBy(*keys).orderBy(ts_col, *order_cols)
    pts = events.select(
        *keys,
        F.col(ts_col),
        *[F.col(c) for c in order_cols],
        F.floor(F.col(lon).cast("double") / cs).cast("long").alias("cx"),
        F.floor(F.col(lat).cast("double") / cs).cast("long").alias("cy"),
    )
    # lag-diff break flag: a run breaks at the first row of each key
    # (lag is NULL -> break) and whenever the cell changes; NULL-safe
    # equality keeps semantics total even if a coordinate was NULL
    brk = F.when(
        F.col("cx").eqNullSafe(F.lag("cx").over(w))
        & F.col("cy").eqNullSafe(F.lag("cy").over(w)),
        F.lit(0),
    ).otherwise(F.lit(1))
    runs = pts.withColumn("_brk", brk).withColumn(
        "_run", F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    # NTZ-tolerant epoch µs (sessions._us contract: session pinned UTC,
    # so the NTZ->TZ cast is exact)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    out = (
        runs.groupBy(*keys, "_run")
        .agg(
            F.first("cx").alias("cx"),
            F.first("cy").alias("cy"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
            F.count(F.lit(1)).alias("n_pts"),
        )
        .withColumn("dwell_s", (F.col("end_us") - F.col("start_us")) / F.lit(1000000.0))
        .filter((F.col("n_pts") >= min_pts) & (F.col("dwell_s") >= float(min_dwell_s)))
        .drop("_run")
    )
    return out


def od_flows(
    dwells: DataFrame,
    key: str | list[str],
    order_col: str = "start_us",
) -> DataFrame:
    """Origin-destination flow matrix from a dwell table — the canonical
    consumer of :func:`stay_points`: each entity's dwells in time order
    yield one trip per CONSECUTIVE pair, aggregated to (from-cell,
    to-cell) flow counts with mean transit seconds. Self-flows
    (consecutive dwells in the same cell — possible when a run was
    broken by an excursion that itself produced no dwell) count like
    any other transition.

    Scale shape: one window shuffle keyed by the entity (dwell rows,
    already ≪ point rows) + one map-side-combinable groupBy on the cell
    pair. Transit time = next dwell's start − this dwell's end.

    → (from_cx, from_cy, to_cx, to_cy, n_trips, avg_transit_s)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(order_col)
    trips = (
        dwells.select(
            F.col("cx").alias("from_cx"),
            F.col("cy").alias("from_cy"),
            F.lead("cx").over(w).alias("to_cx"),
            F.lead("cy").over(w).alias("to_cy"),
            (F.lead("start_us").over(w) - F.col("end_us")).alias("_transit_us"),
        )
        .filter(F.col("to_cx").isNotNull())
    )
    return trips.groupBy("from_cx", "from_cy", "to_cx", "to_cy").agg(
        F.count(F.lit(1)).alias("n_trips"),
        (F.avg("_transit_us") / F.lit(1_000_000.0)).alias("avg_transit_s"),
    )


def _traj_points(
    points: DataFrame,
    traj_col: str,
    lat_col: str,
    lon_col: str,
    order_col: str | None,
) -> DataFrame:
    """Normalized per-point projection shared by the trajectory joins:
    (_tid, _lat, _lon[, _ord]) with NULL coordinates dropped."""
    sel = [
        F.col(traj_col).alias("_tid"),
        F.col(lat_col).cast("long").alias("_lat"),
        F.col(lon_col).cast("long").alias("_lon"),
    ]
    if order_col is not None:
        sel.append(F.col(order_col).alias("_ord"))
    return points.select(*sel).filter(
        F.col("_lat").isNotNull() & F.col("_lon").isNotNull()
    )


def _collapse_trajs(pts: DataFrame, order_col: str | None) -> DataFrame:
    """Collapse a ``_traj_points`` projection to one row per trajectory:
    coordinate arrays (ordered by ``_ord`` via sort_array when the join
    is order-sensitive; unordered collect otherwise), bbox, and the
    deterministic min-(lat, lon) anchor. One aggregate pass — the two
    axes come from ONE struct collect so they can never decouple."""
    if order_col is not None:
        pts_struct = F.sort_array(F.collect_list(F.struct("_ord", "_lat", "_lon")))
    else:
        pts_struct = F.collect_list(F.struct("_lat", "_lon"))
    return pts.groupBy("_tid").agg(
        pts_struct.alias("_pts"),
        F.min("_lat").alias("_minlat"),
        F.max("_lat").alias("_maxlat"),
        F.min("_lon").alias("_minlon"),
        F.max("_lon").alias("_maxlon"),
        F.min(F.struct("_lat", "_lon")).alias("_anchor"),
    ).select(
        "_tid",
        F.transform("_pts", lambda s: s["_lat"]).alias("_lats"),
        F.transform("_pts", lambda s: s["_lon"]).alias("_lons"),
        "_minlat", "_maxlat", "_minlon", "_maxlon", "_anchor",
    )


def _traj_pruned_pairs(
    points: DataFrame,
    tau: int,
    traj_col: str,
    lat_col: str,
    lon_col: str,
    res: int | None,
    order_col: str | None = None,
) -> DataFrame:
    """Shared candidate pipeline for the trajectory-similarity joins
    (Hausdorff and discrete Fréchet — both metrics <= tau force every
    point of each trajectory within tau of SOME point of the other, so
    the same lossless construction serves both):

    1. collapse each trajectory to coordinate arrays (ordered by
       ``order_col`` via sort_array when given — Fréchet is
       order-sensitive; unordered collect otherwise) + bbox + a
       deterministic anchor (min (lat, lon) struct);
    2. candidates = anchor cell equi-joined to the 3x3-dilated DISTINCT
       point cells of the other side (cells sized >= tau), normalized
       to (min, max) pairs and deduped;
    3. bbox-dilation prune (bbox_A inside bbox_B (+) tau and
       symmetrically) JVM-side BEFORE any array ships.

    → (traj_a, traj_b, _lats_a, _lons_a, _lats_b, _lons_b).
    """
    import math as _math

    from osmflat_rs_spark.functions import cells

    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    r = res if res is not None else max(
        0, min(cells.MAX_RES, int(_math.floor(_math.log2(1_800_000_000 / tau))))
    )

    pts = _traj_points(points, traj_col, lat_col, lon_col, order_col)
    trajs = _collapse_trajs(pts, order_col)

    ax, ay = cells.grid_exprs(F.col("_anchor._lat"), F.col("_anchor._lon"), r)
    anchors = trajs.select(F.col("_tid").alias("_ta"), ax.alias("_jx"), ay.alias("_jy"))

    bx, by = cells.grid_exprs(F.col("_lat"), F.col("_lon"), r)
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    bcells = (
        pts.select(F.col("_tid").alias("_tb"), bx.alias("_ix"), by.alias("_iy"))
        .distinct()
        .withColumn("_dx", F.explode(off))
        .withColumn("_dy", F.explode(off))
        .select("_tb", (F.col("_ix") + F.col("_dx")).alias("_jx"),
                (F.col("_iy") + F.col("_dy")).alias("_jy"))
        .distinct()
    )

    cand = (
        anchors.join(bcells, ["_jx", "_jy"])
        .filter(F.col("_ta") != F.col("_tb"))
        .select(
            F.least("_ta", "_tb").alias("traj_a"),
            F.greatest("_ta", "_tb").alias("traj_b"),
        )
        .distinct()
    )

    a_side = trajs.select(
        F.col("_tid").alias("traj_a"), F.col("_lats").alias("_lats_a"),
        F.col("_lons").alias("_lons_a"), F.col("_minlat").alias("_minlat_a"),
        F.col("_maxlat").alias("_maxlat_a"), F.col("_minlon").alias("_minlon_a"),
        F.col("_maxlon").alias("_maxlon_a"),
    )
    b_side = trajs.select(
        F.col("_tid").alias("traj_b"), F.col("_lats").alias("_lats_b"),
        F.col("_lons").alias("_lons_b"), F.col("_minlat").alias("_minlat_b"),
        F.col("_maxlat").alias("_maxlat_b"), F.col("_minlon").alias("_minlon_b"),
        F.col("_maxlon").alias("_maxlon_b"),
    )
    t = F.lit(int(tau))
    return (
        cand.join(a_side, "traj_a")
        .join(b_side, "traj_b")
        .filter(
            (F.col("_minlat_a") >= F.col("_minlat_b") - t)
            & (F.col("_maxlat_a") <= F.col("_maxlat_b") + t)
            & (F.col("_minlon_a") >= F.col("_minlon_b") - t)
            & (F.col("_maxlon_a") <= F.col("_maxlon_b") + t)
            & (F.col("_minlat_b") >= F.col("_minlat_a") - t)
            & (F.col("_maxlat_b") <= F.col("_maxlat_a") + t)
            & (F.col("_minlon_b") >= F.col("_minlon_a") - t)
            & (F.col("_maxlon_b") <= F.col("_maxlon_a") + t)
        )
        .select("traj_a", "traj_b", "_lats_a", "_lons_a", "_lats_b", "_lons_b")
    )


def hausdorff_join(
    points: DataFrame,
    tau: int,
    traj_col: str = "traj_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
    block_rows: int = 4096,
) -> DataFrame:
    """Trajectory-similarity self-join: all unordered trajectory pairs
    whose symmetric Hausdorff distance (point-set form, planar
    fixed-point units) is <= ``tau`` → DataFrame(traj_a, traj_b, h2)
    with ``h2`` the EXACT int64 squared Hausdorff distance (traj_a <
    traj_b). H(A,B) = max(h(A,B), h(B,A)), h directed = max over a of
    min over b of dist — the standard trajectory/shape similarity
    measure (Alt & Guibas, Handbook of Computational Geometry ch. 3);
    order-free, so GPS sampling order never matters.

    Spark-first shape, three stages:

    1. **Collapse** each trajectory once: coordinate arrays (struct
       collect then JVM `transform` — one aggregate pass, no
       order-coupling between two collect_lists), bbox, and a
       deterministic anchor point (min (lat, lon) struct).
    2. **Lossless candidates.** If H(A,B) <= tau then A's anchor lies
       within tau of SOME B point, so with grid cells sized >= tau the
       anchor's cell is in the 3x3 neighborhood of a B-point cell:
       candidates = anchors equi-joined to the DISTINCT exploded B point
       cells (map-side fan-out, one hash join — the coloc/radius
       construction). Both directions hold, so one direction suffices;
       pairs normalize to (min, max) and dedup. A second JVM-side
       lossless prune: h(A,B) <= tau forces bbox_A inside bbox_B
       dilated by tau (and symmetrically) — four comparisons per side
       on the already-aggregated bboxes, before any array ships.
    3. **Exact refine**: surviving pairs join the two coordinate-array
       rows (arrays ship once per surviving pair — the acceptable
       analog of the r4 ring-payload rule because the pair set is
       pruned first) and an Arrow `mapInPandas` computes the exact
       int64 distance matrix blockwise (``block_rows`` bounds the
       na*nb working set), keeping pairs with max-min <= tau^2.

    Scale contract: designed for many trajectories of BOUNDED size
    (10^0-10^4 points each — a traj's array must fit a row); the
    candidate count is the grid-hash bound Theta(sum n_a(cell)*n_b(cell))
    over anchor cells only, far below the all-pairs square. Skewed mega-
    cells are AQE skew-join territory, same as coloc.
    """
    pruned = _traj_pruned_pairs(points, tau, traj_col, lat_col, lon_col, res)

    tau2 = int(tau) ** 2
    blk = int(block_rows)
    id_dtype = dict(points.dtypes)[traj_col]
    out_schema = f"traj_a {id_dtype}, traj_b {id_dtype}, h2 long"

    def _refine(batches):
        import numpy as np
        import pandas as pd

        def sym_h2(la, lo, lb, lob):
            # blockwise exact int64 symmetric Hausdorff^2 with an early
            # exit the moment the directed A->B part exceeds tau^2
            min_b = np.full(len(lb), np.iinfo(np.int64).max, dtype=np.int64)
            h_ab = 0
            step = max(1, (blk * blk) // max(1, len(lb)))
            for s in range(0, len(la), step):
                ea, eo = la[s : s + step], lo[s : s + step]
                d2 = (ea[:, None] - lb[None, :]) ** 2 + (eo[:, None] - lob[None, :]) ** 2
                np.minimum(min_b, d2.min(axis=0), out=min_b)
                h_ab = max(h_ab, int(d2.min(axis=1).max()))
                if h_ab > tau2:
                    return None
            h = max(h_ab, int(min_b.max()))
            return h if h <= tau2 else None

        for pdf in batches:
            rows = {"traj_a": [], "traj_b": [], "h2": []}
            for ta, tb, la, lo, lb, lob in zip(
                pdf["traj_a"], pdf["traj_b"], pdf["_lats_a"], pdf["_lons_a"],
                pdf["_lats_b"], pdf["_lons_b"],
            ):
                h = sym_h2(
                    np.asarray(la, dtype=np.int64), np.asarray(lo, dtype=np.int64),
                    np.asarray(lb, dtype=np.int64), np.asarray(lob, dtype=np.int64),
                )
                if h is not None:
                    rows["traj_a"].append(ta)
                    rows["traj_b"].append(tb)
                    rows["h2"].append(h)
            if rows["traj_a"]:
                yield pd.DataFrame(rows)

    return pruned.mapInPandas(_refine, schema=out_schema)


def frechet_join(
    points: DataFrame,
    tau: int,
    traj_col: str = "traj_id",
    order_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """ORDERED trajectory-similarity self-join: unordered pairs whose
    DISCRETE FRECHET distance is <= ``tau`` → (traj_a, traj_b). The
    Fréchet ("dog-leash") distance is the ordered twin of Hausdorff —
    min over monotone couplings of the max coupled point distance (Eiter
    & Mannila 1994) — so two routes tracing the same street in opposite
    directions are Fréchet-far but Hausdorff-identical.

    Candidates reuse ``hausdorff_join``'s lossless pipeline verbatim
    (Fréchet >= Hausdorff, so Fréchet <= tau implies every Hausdorff
    candidate condition; arrays are collected ORDERED by ``order_col``
    via sort_array). The refine is the DECISION form: Fréchet <= tau iff
    a monotone (right/down/diag) path of cells with d² <= tau² connects
    (0,0) to (m-1,n-1) — evaluated per pair as a row-sweep boolean DP
    whose horizontal propagation is vectorized (run-start/last-true
    prefix maxima, no inner Python loop), with corner preconditions and
    an empty-row early exit. Exact: int64 distances, no floats anywhere.
    """
    pruned = _traj_pruned_pairs(
        points, tau, traj_col, lat_col, lon_col, res, order_col=order_col
    )
    tau2 = int(tau) ** 2
    id_dtype = dict(points.dtypes)[traj_col]
    out_schema = f"traj_a {id_dtype}, traj_b {id_dtype}"

    def _refine(batches):
        import numpy as np
        import pandas as pd

        def reachable(la, lo, lb, lob):
            nb = len(lb)
            if (
                (la[0] - lb[0]) ** 2 + (lo[0] - lob[0]) ** 2 > tau2
                or (la[-1] - lb[-1]) ** 2 + (lo[-1] - lob[-1]) ** 2 > tau2
            ):
                return False
            idx = np.arange(nb)
            prev = None
            for i in range(len(la)):
                allowed = ((la[i] - lb) ** 2 + (lo[i] - lob) ** 2) <= tau2
                if i == 0:
                    cur = np.logical_and.accumulate(allowed)
                else:
                    diag = np.concatenate(([False], prev[:-1]))
                    base = allowed & (prev | diag)
                    # rightward propagation within contiguous allowed
                    # runs: reach iff a base-true sits at or before j in
                    # THIS run (all cells between are allowed by run
                    # contiguity, so the path can walk right)
                    run_start = np.maximum.accumulate(
                        np.where(
                            np.concatenate(([True], allowed[1:] != allowed[:-1])),
                            idx,
                            -1,
                        )
                    )
                    last_true = np.maximum.accumulate(np.where(base, idx, -1))
                    cur = allowed & (last_true >= run_start) & (last_true >= 0)
                if not cur.any():
                    return False
                prev = cur
            return bool(prev[-1])

        for pdf in batches:
            rows = {"traj_a": [], "traj_b": []}
            for ta, tb, la, lo, lb, lob in zip(
                pdf["traj_a"], pdf["traj_b"], pdf["_lats_a"], pdf["_lons_a"],
                pdf["_lats_b"], pdf["_lons_b"],
            ):
                if reachable(
                    np.asarray(la, dtype=np.int64), np.asarray(lo, dtype=np.int64),
                    np.asarray(lb, dtype=np.int64), np.asarray(lob, dtype=np.int64),
                ):
                    rows["traj_a"].append(ta)
                    rows["traj_b"].append(tb)
            if rows["traj_a"]:
                yield pd.DataFrame(rows)

    return pruned.mapInPandas(_refine, schema=out_schema)


def resample_time(
    pts: DataFrame,
    key: str | list[str],
    step_us: int,
    ts_col: str = "ts",
    value_cols: tuple = ("lat", "lon"),
    order_cols: tuple = (),
) -> DataFrame:
    """Uniform-time trajectory resampling: one row per key per epoch-
    aligned tick, linearly interpolated between the bracketing pings.

    The normalization step a trajectory-training pipeline runs before
    any fixed-length model input: irregular pings → positions at every
    ``step_us`` microseconds. Ticks are EPOCH-aligned (t = k·step), so
    resampled series are directly comparable/joinable across keys — the
    same alignment the interval/as-of operators use.

    Semantics (mirrored literally by the SQL oracle):

    - consecutive points (ordered by ``ts_col`` then ``order_cols``;
      pass a unique id to pin ties) bracket the half-open span
      [t_i, t_{i+1}); each grid tick inside it interpolates at
      f = (tick − t_i)/(t_{i+1} − t_i) (doubles — same IEEE ops both
      engines);
    - the FINAL ping additionally emits its own tick when it sits
      exactly on the grid (closed right end of the whole trajectory);
    - equal-timestamp pairs span an empty half-open interval → no rows,
      no division by zero;
    - a single-ping trajectory resamples to nothing unless that ping is
      grid-aligned.

    Scale shape: one window (the per-key lead — the operator's only
    shuffle), then an IN-ROW ``explode(sequence(k0, k1))`` fan-out
    proportional to the OUTPUT tick count, and a codegen interpolation
    projection. No joins, no per-row Python.

    → key cols + ``tick_us`` (BIGINT epoch µs) + interpolated
    ``value_cols`` (doubles).
    """
    if step_us < 1:
        raise ValueError(f"step_us must be >= 1, got {step_us}")
    keys = [key] if isinstance(key, str) else list(key)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*keys).orderBy(ts_col, *order_cols)
    step = F.lit(int(step_us))
    seg = pts.select(
        *keys,
        F.col(ts_col),
        *[F.col(c) for c in order_cols],
        us.alias("_t0"),
        *[F.col(c).cast("double").alias(f"_v0_{c}") for c in value_cols],
    ).select(
        *keys,
        "_t0",
        F.lead("_t0").over(w).alias("_t1"),
        *[F.col(f"_v0_{c}") for c in value_cols],
        *[F.lead(f"_v0_{c}").over(w).alias(f"_v1_{c}") for c in value_cols],
    )
    # interior ticks of [t0, t1): k in [ceil(t0/step), ceil(t1/step)-1].
    # `div` = exact long division (double `/` + cast can cross an
    # integer boundary at large t/small step; the oracle uses `//`)
    k0 = F.expr(f"(_t0 + {int(step_us)} - 1) div {int(step_us)}")
    k1 = F.expr(f"(_t1 - 1) div {int(step_us)}")
    interior = (
        seg.filter(F.col("_t1").isNotNull())
        .withColumn("_k0", k0)
        .withColumn("_k1", k1)
        .filter(F.col("_k1") >= F.col("_k0"))
        .withColumn("_k", F.explode(F.sequence(F.col("_k0"), F.col("_k1"))))
        .withColumn("tick_us", F.col("_k") * step)
        .withColumn(
            "_f",
            (F.col("tick_us") - F.col("_t0")).cast("double")
            / (F.col("_t1") - F.col("_t0")).cast("double"),
        )
        .select(
            *keys,
            "tick_us",
            *[
                (F.col(f"_v0_{c}") + (F.col(f"_v1_{c}") - F.col(f"_v0_{c}")) * F.col("_f")).alias(c)
                for c in value_cols
            ],
        )
    )
    # closed right end: the final ping, iff grid-aligned
    final = (
        seg.filter(F.col("_t1").isNull() & (F.col("_t0") % step == 0))
        .select(
            *keys,
            F.col("_t0").alias("tick_us"),
            *[F.col(f"_v0_{c}").alias(c) for c in value_cols],
        )
    )
    return interior.unionByName(final)


def geofence_transitions(
    pts: DataFrame,
    fences: DataFrame,
    entity_col: str = "user_id",
    point_id: str = "event_id",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    **pip_kwargs,
) -> DataFrame:
    """Geofence enter/exit detection — the standard telematics/fleet
    primitive (reference anchor: the same containment kernel as
    spatial_join.pip_join, here composed along each entity's time axis):
    for every entity, diff the set of containing fences between
    consecutive fixes and emit one row per membership flip.

    → DataFrame(entity, ts, point_id, fence, kind) with kind ∈
    {'enter', 'exit'}: ``enter`` when a fence contains this fix but not
    the entity's previous fix, ``exit`` when the previous fix was inside
    and this one is not. Convention: an entity's FIRST fix emits
    ``enter`` for every fence containing it (prev = ∅); disappearance
    of an entity emits nothing (no synthetic exit at stream end —
    callers with session semantics can union one). A fix inside k
    fences diffs all k memberships at once (overlapping fences are
    first-class, same contract as zonal_stats).

    Scale shape: ONE pip_join (two-phase cell-cover kernel — entity and
    timestamp ride the ``carry_cols`` seam, so no re-join against the
    point table), ONE groupBy collapsing pairs to a per-fix sorted fence
    set (the no-fence fixes enter via a zero-shuffle unionByName with a
    NULL fence — collect_set drops it), and ONE entity-keyed window for
    the lag diff. The diff itself is in-row ``array_except`` on sorted
    arrays; explode emits nothing for unchanged fixes, so steady-state
    trajectories (the 100-TB common case: most fixes flip nothing) cost
    zero output rows past the window."""
    from osmflat_rs_spark.operators.spatial_join import pip_join

    slim = pts.select(point_id, lat, lon, entity_col, ts_col)
    pairs = pip_join(
        slim,
        fences,
        point_id=point_id,
        lat=lat,
        lon=lon,
        carry_cols=[entity_col, ts_col],
        **pip_kwargs,
    )
    tagged = pairs.select(point_id, entity_col, ts_col, "polygon_id").unionByName(
        slim.select(
            point_id, entity_col, ts_col, F.lit(None).cast("string").alias("polygon_id")
        )
    )
    per_fix = tagged.groupBy(point_id, entity_col, ts_col).agg(
        F.sort_array(F.collect_set("polygon_id")).alias("_fences")
    )
    w = Window.partitionBy(entity_col).orderBy(ts_col, point_id)
    prev = F.coalesce(
        F.lag("_fences").over(w), F.array().cast("array<string>")
    )
    diffed = per_fix.withColumn(
        "_ev",
        F.concat(
            F.transform(
                F.array_except(F.col("_fences"), prev),
                lambda x: F.struct(x.alias("fence"), F.lit("enter").alias("kind")),
            ),
            F.transform(
                F.array_except(prev, F.col("_fences")),
                lambda x: F.struct(x.alias("fence"), F.lit("exit").alias("kind")),
            ),
        ),
    )
    ev = diffed.select(
        entity_col, ts_col, point_id, F.explode("_ev").alias("_e")
    )
    return ev.select(
        entity_col, ts_col, point_id,
        F.col("_e.fence").alias("fence"),
        F.col("_e.kind").alias("kind"),
    )


def movement_profile(
    pts: DataFrame,
    entity_col: str,
    vmax_units_per_s: int,
    ts_col: str = "ts",
    order_cols: tuple = (),
) -> DataFrame:
    """Per-fix movement profile over consecutive fixes → (entity, t0_us,
    dt_us, d2, sector, speeding): the telematics feature pass (speed
    violations, heading histograms, gap detection feeds) downstream of
    every trajectory ingest.

    Exact-integer discipline throughout — no atan2, no float speed:

    - ``sector`` is an octant class from pure sign/magnitude compares:
      'still' (zero displacement); cardinal N/S/E/W when the dominant
      axis is ≥ 2× the other (the exact-rational stand-in for 22.5°
      boundaries — a FIXED documented contract, not an approximation
      of one); diagonal NE/NW/SE/SW otherwise.
    - ``speeding`` = dt_s ≥ 1 AND d2 > vmax²·dt_s², with dt_s = dt_us
      div 10⁶ (truncated whole seconds — the documented contract;
      sub-second pairs report speeding = NULL, callers treat them as
      'instant'). All int64: d2 ≤ 2·(coord span)², vmax²·dt_s² bounded
      by the guard below.

    One entity-keyed lag window — the only exchange; everything else is
    codegen arithmetic. Overflow guard: vmax ≤ 3·10⁴ units/s keeps
    vmax²·dt_s² < 2^63 for gaps up to a month; larger vmax raises.
    """
    if not (0 < vmax_units_per_s <= 30_000):
        raise ValueError(
            f"vmax_units_per_s must be in (0, 30000], got {vmax_units_per_s} "
            "(int64 overflow guard: vmax^2 * dt_s^2 must fit)"
        )
    w = Window.partitionBy(entity_col).orderBy(ts_col, *order_cols)
    # NTZ-tolerant epoch µs — the resample_time/_us contract (a plain
    # CAST(ts AS LONG) would yield SECONDS)
    t0 = F.unix_micros(F.col(ts_col).cast("timestamp"))
    d = (
        pts.select(
            F.col(entity_col),
            t0.alias("_t0"),
            F.col("lat").cast("long").alias("_la"),
            F.col("lon").cast("long").alias("_lo"),
            F.lead(t0).over(w).alias("_t1"),
            F.lead(F.col("lat").cast("long")).over(w).alias("_la1"),
            F.lead(F.col("lon").cast("long")).over(w).alias("_lo1"),
        )
        .filter(F.col("_t1").isNotNull())
    )
    dx = F.col("_lo1") - F.col("_lo")
    dy = F.col("_la1") - F.col("_la")
    ax, ay = F.abs(dx), F.abs(dy)
    sector = (
        F.when((dx == 0) & (dy == 0), "still")
        .when(ay >= 2 * ax, F.when(dy > 0, "N").otherwise("S"))
        .when(ax >= 2 * ay, F.when(dx > 0, "E").otherwise("W"))
        .when((dx > 0) & (dy > 0), "NE")
        .when((dx > 0) & (dy < 0), "SE")
        .when((dx < 0) & (dy > 0), "NW")
        .otherwise("SW")
    )
    dt_us = F.col("_t1") - F.col("_t0")
    dt_s = F.expr("(_t1 - _t0) div 1000000")
    d2 = dx * dx + dy * dy
    speeding = F.when(
        dt_s >= 1, d2 > F.lit(vmax_units_per_s * vmax_units_per_s) * dt_s * dt_s
    )
    return d.select(
        F.col(entity_col),
        F.col("_t0").alias("t0_us"),
        dt_us.cast("long").alias("dt_us"),
        d2.cast("long").alias("d2"),
        sector.alias("sector"),
        speeding.alias("speeding"),
    )


def densify_segments(
    pts: DataFrame,
    key_col: str,
    max_gap: int,
    lat: str = "lat",
    lon: str = "lon",
    ts_col: str = "ts",
    order_cols: tuple = ("event_id",),
) -> DataFrame:
    """Polyline densification (the spatial complement of
    :func:`resample_time` and the inverse of :mod:`simplify`): insert
    evenly-spaced vertices along each consecutive segment so no hop
    exceeds ``max_gap`` CHESSBOARD units → (key, seg, j, k, lat_d,
    lon_d). Segment i splits into k = max(1, ceil(L∞/max_gap)) parts
    (L∞ = max(|Δlat|, |Δlon|) — exact integer, so k is exact integer
    arithmetic: (L + g − 1) div g on non-negative ints, no float
    boundary); row (seg, j) is the point at fraction j/k, j = 0..k−1
    (segment starts included, ends excluded — shared vertices emit
    once), plus the line's final vertex as (seg = n−1, j = 0, k = 0).

    Float contract (the resample_time precedent): the interpolation
    lat0 + (lat1−lat0)·(j/k) is a single non-reassociated IEEE
    expression — both engines produce bit-identical doubles, and NO
    rounding is applied (rounding would only reintroduce divergence).

    Scale shape: ONE entity-keyed lead window (the sessionize shuffle)
    + an in-row ``F.sequence`` fan-out (bounded by L∞/max_gap per
    segment — the caller's knob) — no joins, no Python.
    """
    if max_gap < 1:
        raise ValueError(f"max_gap must be >= 1, got {max_gap}")
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in order_cols]
    )
    seg = (
        pts.select(
            F.col(key_col).alias("_k"),
            F.col(ts_col).alias("_ts"),
            *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
            F.col(lat).cast("long").alias("_la0"),
            F.col(lon).cast("long").alias("_lo0"),
        )
        .withColumn("_la1", F.lead("_la0").over(
            Window.partitionBy("_k").orderBy(F.col("_ts").asc(),
                                             *[F.col(f"_o{i}").asc() for i in range(len(order_cols))])))
        .withColumn("_lo1", F.lead("_lo0").over(
            Window.partitionBy("_k").orderBy(F.col("_ts").asc(),
                                             *[F.col(f"_o{i}").asc() for i in range(len(order_cols))])))
        .withColumn(
            "_seg",
            F.row_number().over(
                Window.partitionBy("_k").orderBy(F.col("_ts").asc(),
                                                 *[F.col(f"_o{i}").asc() for i in range(len(order_cols))])
            ) - 1,
        )
    )
    # interior + start rows: one per (segment, j < k)
    inner = seg.filter(F.col("_la1").isNotNull())
    # exact ceil-div on non-negative ints: `div` (NOT a double divide +
    # cast — Spark's cast truncates, DuckDB's CAST rounds-to-nearest)
    k = F.greatest(
        F.lit(1).cast("long"),
        F.expr(
            f"(greatest(abs(_la1 - _la0), abs(_lo1 - _lo0)) + {max_gap - 1}) div {max_gap}"
        ),
    )
    dense = (
        inner.withColumn("_kparts", k)
        .withColumn("_j", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_kparts") - 1)))
        .select(
            F.col("_k").alias(key_col),
            F.col("_seg").alias("seg"),
            F.col("_j").alias("j"),
            F.col("_kparts").alias("k"),
            (
                F.col("_la0").cast("double")
                + (F.col("_la1") - F.col("_la0")).cast("double")
                * (F.col("_j").cast("double") / F.col("_kparts").cast("double"))
            ).alias("lat_d"),
            (
                F.col("_lo0").cast("double")
                + (F.col("_lo1") - F.col("_lo0")).cast("double")
                * (F.col("_j").cast("double") / F.col("_kparts").cast("double"))
            ).alias("lon_d"),
        )
    )
    # the final vertex of each line, marked (j=0, k=0)
    last = seg.filter(F.col("_la1").isNull()).select(
        F.col("_k").alias(key_col),
        F.col("_seg").alias("seg"),
        F.lit(0).cast("long").alias("j"),
        F.lit(0).cast("long").alias("k"),
        F.col("_la0").cast("double").alias("lat_d"),
        F.col("_lo0").cast("double").alias("lon_d"),
    )
    return dense.unionByName(last)


def dtw_join(
    points: DataFrame,
    max_cost: int,
    traj_col: str = "traj_id",
    order_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """ORDERED trajectory-similarity self-join on DTW cost: unordered
    pairs whose exact int64 dynamic-time-warping cost is <= ``max_cost``
    → (traj_a, traj_b, dtw). DTW is the min over monotone warping paths
    of the SUM of squared euclidean step costs (Sakoe & Chiba 1978, the
    classic sum form; contrast frechet_join's max form).

    Candidates reuse ``_traj_pruned_pairs`` with tau = isqrt(max_cost),
    which is LOSSLESS for DTW: every point of each trajectory is coupled
    to >= 1 point of the other, and each coupled squared distance is <=
    the DTW sum, so DTW <= C implies Hausdorff <= sqrt(C) — exactly the
    condition the shared prune was built for.

    The refine is a batch-vectorized NumPy DP over Arrow batches
    (``_dtw_refine``): DTW's weighted min forbids the LCSS/EDR scan
    trick, so the inner j loop stays Python, but every step is an
    O(batch) NumPy op (across-pair vectorization)."""
    import math as _math

    if max_cost <= 0:
        raise ValueError(f"max_cost must be positive, got {max_cost}")
    tau = max(1, _math.isqrt(int(max_cost)))
    pruned = _traj_pruned_pairs(
        points, tau, traj_col, lat_col, lon_col, res, order_col=order_col
    )
    id_dtype = dict(points.dtypes)[traj_col]
    return pruned.mapInPandas(
        _dtw_refine(int(max_cost)),
        schema=f"traj_a {id_dtype}, traj_b {id_dtype}, dtw long",
    )


def _dtw_refine(max_cost: int):
    """Across-pair vectorized exact int64 DTW for Arrow batches: pad the
    batch to (maxn, maxm), advance the DP with plain (i, j) loops whose
    body is O(batch) NumPy (the weighted min blocks the row-scan trick
    LCSS/EDR use, but across-pair vectorization still removes the
    per-pair interpreter cost). Padded cells only ever propagate
    RIGHTWARD past each pair's true m, and padded rows lie below its
    true n; every pair's answer is snapshotted at (n_i, m_i), so
    padding never leaks.

    Int64 contract (same discipline as the other exact geo ops): with
    fixed-point inputs, max squared step cost * (n+m) must stay below
    the 1e16 unreachable-cell sentinel; callers with degree-scale
    fixed-point coords (|delta| <= ~4e6) and trajectories up to ~1e4
    points are 2 orders inside it. NULL coords must be filtered
    upstream (the join does)."""
    import numpy as np
    import pandas as pd

    def refine(batches):
        for pdf in batches:
            P = len(pdf)
            if P == 0:
                continue
            la = [np.asarray(x, dtype=np.int64) for x in pdf["_lats_a"]]
            lo = [np.asarray(x, dtype=np.int64) for x in pdf["_lons_a"]]
            lb = [np.asarray(x, dtype=np.int64) for x in pdf["_lats_b"]]
            lob = [np.asarray(x, dtype=np.int64) for x in pdf["_lons_b"]]
            n = np.array([len(x) for x in la], dtype=np.int64)
            m = np.array([len(x) for x in lb], dtype=np.int64)
            maxn, maxm = int(n.max()), int(m.max())
            A_lat = np.zeros((P, maxn), dtype=np.int64)
            A_lon = np.zeros((P, maxn), dtype=np.int64)
            B_lat = np.zeros((P, maxm), dtype=np.int64)
            B_lon = np.zeros((P, maxm), dtype=np.int64)
            for p in range(P):
                A_lat[p, : n[p]] = la[p]
                A_lon[p, : n[p]] = lo[p]
                B_lat[p, : m[p]] = lb[p]
                B_lon[p, : m[p]] = lob[p]
            INF = np.int64(10_000_000_000_000_000)  # unreachable-cell sentinel
            res = np.zeros(P, dtype=np.int64)
            prev = np.full((P, maxm + 1), INF, dtype=np.int64)
            prev[:, 0] = 0
            for i in range(1, maxn + 1):
                dlat = A_lat[:, i - 1, None] - B_lat
                dlon = A_lon[:, i - 1, None] - B_lon
                d2 = dlat * dlat + dlon * dlon
                cur = np.empty_like(prev)
                cur[:, 0] = INF
                for j in range(1, maxm + 1):
                    best = np.minimum(
                        np.minimum(prev[:, j], prev[:, j - 1]), cur[:, j - 1]
                    )
                    cur[:, j] = d2[:, j - 1] + best
                sel = n == i
                if sel.any():
                    res[sel] = cur[sel, m[sel]]
                prev = cur
            keep = res <= max_cost
            if keep.any():
                yield pd.DataFrame(
                    {
                        "traj_a": pdf["traj_a"].to_numpy()[keep],
                        "traj_b": pdf["traj_b"].to_numpy()[keep],
                        "dtw": res[keep],
                    }
                )

    return refine


def _traj_match_pairs(
    points: DataFrame,
    eps: int,
    traj_col: str,
    lat_col: str,
    lon_col: str,
    res: int | None,
    order_col: str | None,
    include_short_leq: int | None = None,
) -> DataFrame:
    """Candidate pipeline for the MATCH-counting similarity joins (LCSS,
    EDR). Their prune condition differs fundamentally from the
    Hausdorff/Fréchet/DTW one (`_traj_pruned_pairs`): those metrics
    force EVERY point near the other trajectory, so anchor-cell + bbox
    dilation are lossless; LCSS >= 1 (or EDR below the no-match cost)
    only guarantees at least ONE point pair within ``eps``. The lossless
    candidate set is therefore trajectory pairs whose point-cell sets
    touch: A's raw distinct cells equi-joined to B's 3x3-dilated
    distinct cells at cell size >= eps (euclid <= eps implies chebyshev
    <= eps implies adjacent cells). No bbox prune — bboxes of LCSS-close
    trajectories can differ arbitrarily (one long trajectory can match a
    short one on a brief overlap).

    ``include_short_leq`` (EDR's zero-match escape): with no match at
    all EDR(A, B) = max(|A|, |B|) exactly, so pairs where BOTH
    trajectories have <= ``include_short_leq`` points qualify without
    sharing any cell; union the (tiny, length-filtered) self-join of
    those in. → (traj_a, traj_b, _lats_a, _lons_a, _lats_b, _lons_b).
    """
    import math as _math

    from osmflat_rs_spark.functions import cells

    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    r = res if res is not None else max(
        0, min(cells.MAX_RES, int(_math.floor(_math.log2(1_800_000_000 / eps))))
    )

    pts = _traj_points(points, traj_col, lat_col, lon_col, order_col)
    trajs = _collapse_trajs(pts, order_col)

    ax, ay = cells.grid_exprs(F.col("_lat"), F.col("_lon"), r)
    acells = pts.select(F.col("_tid").alias("_ta"), ax.alias("_jx"), ay.alias("_jy")).distinct()
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    bcells = (
        acells.select(F.col("_ta").alias("_tb"), "_jx", "_jy")
        .withColumn("_dx", F.explode(off))
        .withColumn("_dy", F.explode(off))
        .select("_tb", (F.col("_jx") + F.col("_dx")).alias("_jx"),
                (F.col("_jy") + F.col("_dy")).alias("_jy"))
        .distinct()
    )
    cand = (
        acells.join(bcells, ["_jx", "_jy"])
        .filter(F.col("_ta") != F.col("_tb"))
        .select(
            F.least("_ta", "_tb").alias("traj_a"),
            F.greatest("_ta", "_tb").alias("traj_b"),
        )
        .distinct()
    )
    if include_short_leq is not None:
        sh = trajs.filter(F.size("_lats") <= int(include_short_leq)).select("_tid")
        sp = (
            sh.select(F.col("_tid").alias("traj_a"))
            .join(sh.select(F.col("_tid").alias("traj_b")),
                  F.col("traj_a") < F.col("traj_b"))
        )
        cand = cand.union(sp).distinct()

    a_side = trajs.select(
        F.col("_tid").alias("traj_a"),
        F.col("_lats").alias("_lats_a"), F.col("_lons").alias("_lons_a"),
    )
    b_side = trajs.select(
        F.col("_tid").alias("traj_b"),
        F.col("_lats").alias("_lats_b"), F.col("_lons").alias("_lons_b"),
    )
    return cand.join(a_side, "traj_a").join(b_side, "traj_b")


def lcss_join(
    points: DataFrame,
    eps: int,
    min_matches: int = 1,
    traj_col: str = "traj_id",
    order_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """ORDERED trajectory-similarity self-join on LCSS: unordered pairs
    whose exact longest-common-subsequence match count is >=
    ``min_matches`` → (traj_a, traj_b, lcss). LCSS (Vlachos, Kollios &
    Gunopulos, ICDE 2002) is the length of the longest monotone pairing
    in which every matched pair lies within euclidean ``eps``
    (squared-int comparison — no sqrt); the recurrence is match ->
    diag + 1, else max(up, left). The ICDE-2002 temporal window delta
    is NOT constrained (pre-trim sequences if needed).

    Candidates are the any-match cell prune (`_traj_match_pairs`) —
    lossless for ``min_matches`` >= 1 because LCSS >= 1 requires at
    least one point pair within eps. The refine is the batch-vectorized
    NumPy DP (``_lcss_edr_refine``). Normalize to a similarity in
    [0, 1] downstream with lcss / least(n, m) if needed."""
    if min_matches < 1:
        raise ValueError(f"min_matches must be >= 1, got {min_matches}")
    cand = _traj_match_pairs(
        points, eps, traj_col, lat_col, lon_col, res, order_col
    )
    id_dtype = dict(points.dtypes)[traj_col]
    return cand.mapInPandas(
        _lcss_edr_refine("lcss", int(eps), int(min_matches)),
        schema=f"traj_a {id_dtype}, traj_b {id_dtype}, lcss long",
    )


def edr_join(
    points: DataFrame,
    eps: int,
    max_dist: int,
    traj_col: str = "traj_id",
    order_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """ORDERED trajectory-similarity self-join on EDR: unordered pairs
    with exact edit distance <= ``max_dist`` → (traj_a, traj_b, edr).
    EDR (Edit Distance on Real sequence; Chen, Özsu & Oria, SIGMOD 2005)
    is edit distance where two points "agree" when within euclidean
    ``eps`` (subcost 0) and disagree otherwise (subcost 1), insert/
    delete cost 1 — robust to noise like LCSS but metric-like (respects
    gaps).

    Candidates: the any-match cell prune PLUS the zero-match escape — a
    no-match pair costs exactly max(n, m), so pairs of trajectories both
    <= ``max_dist`` points long qualify with no shared cell and are
    unioned in (`_traj_match_pairs include_short_leq`). Lossless for any
    threshold. The refine is the batch-vectorized NumPy DP
    (``_lcss_edr_refine``)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    cand = _traj_match_pairs(
        points, eps, traj_col, lat_col, lon_col, res, order_col,
        include_short_leq=int(max_dist),
    )
    id_dtype = dict(points.dtypes)[traj_col]
    return cand.mapInPandas(
        _lcss_edr_refine("edr", int(eps), int(max_dist)),
        schema=f"traj_a {id_dtype}, traj_b {id_dtype}, edr long",
    )


def _lcss_edr_refine(kind: str, eps: int, threshold: int):
    """Arrow refine for the match-counting DPs, vectorized ACROSS pairs:
    the whole candidate batch advances one DP row per outer step as a
    few NumPy ops on (P, m+1) int64 arrays — no per-pair Python loop.

    Row vectorization (the inner j scan is sequential in the textbook
    form; both rows reduce to associative scans):

    - LCSS: cur[j] = max(cur[j-1], prev[j], match_j ? prev[j-1]+1) and
      DP rows are nondecreasing in j, so cur = running max of
      t[j] = max(prev[j], match_j ? prev[j-1]+1) — one
      ``np.maximum.accumulate``.
    - EDR: cur[j] = min(t[j], cur[j-1]+1) with t[j] = min(prev[j-1] +
      sub_j, prev[j]+1) is a (min, +) scan: cur[j] = j +
      running-min(t[k] - k) — one ``np.minimum.accumulate``.

    Match tests stay EXACT int64: deltas are range-checked (|d| <= eps)
    before squaring so the squares can never overflow. Pairs with different lengths are padded
    to the batch max; each pair's answer is snapshotted from DP row
    n_i at column m_i, so padding never leaks into results."""
    import numpy as np
    import pandas as pd

    col = kind  # output column name: "lcss" | "edr"

    def refine(batches):
        for pdf in batches:
            P = len(pdf)
            if P == 0:
                continue
            la = [np.asarray(x, dtype=np.int64) for x in pdf["_lats_a"]]
            lo = [np.asarray(x, dtype=np.int64) for x in pdf["_lons_a"]]
            lb = [np.asarray(x, dtype=np.int64) for x in pdf["_lats_b"]]
            lob = [np.asarray(x, dtype=np.int64) for x in pdf["_lons_b"]]
            n = np.array([len(x) for x in la], dtype=np.int64)
            m = np.array([len(x) for x in lb], dtype=np.int64)
            maxn, maxm = int(n.max()), int(m.max())
            A_lat = np.zeros((P, maxn), dtype=np.int64)
            A_lon = np.zeros((P, maxn), dtype=np.int64)
            # pad sentinel: far outside any valid fixed-point coordinate
            # (|coord| < 4e9) yet small enough that subtraction and abs
            # can never wrap int64 (int64-max padding would: A - pad
            # underflows for negative A, and abs(int64 min) is itself)
            PAD = np.int64(1) << 50
            B_lat = np.full((P, maxm), PAD, dtype=np.int64)
            B_lon = np.full((P, maxm), PAD, dtype=np.int64)
            for p in range(P):
                A_lat[p, : n[p]] = la[p]
                A_lon[p, : n[p]] = lo[p]
                B_lat[p, : m[p]] = lb[p]
                B_lon[p, : m[p]] = lob[p]
            e = np.int64(eps)
            e2 = e * e
            res = np.zeros(P, dtype=np.int64)
            if kind == "edr":
                res[:] = np.maximum(n, m)  # n==0 or padded-row fallback
                prev = np.broadcast_to(
                    np.arange(maxm + 1, dtype=np.int64), (P, maxm + 1)
                ).copy()
            else:
                prev = np.zeros((P, maxm + 1), dtype=np.int64)
            done0 = n == 0
            if kind == "lcss":
                res[done0] = 0
            jj = np.arange(maxm + 1, dtype=np.int64)
            for i in range(1, maxn + 1):
                dlat = A_lat[:, i - 1, None] - B_lat
                dlon = A_lon[:, i - 1, None] - B_lon
                near = (np.abs(dlat) <= e) & (np.abs(dlon) <= e)
                dlat_s = np.where(near, dlat, 0)
                dlon_s = np.where(near, dlon, 0)
                match = near & (dlat_s * dlat_s + dlon_s * dlon_s <= e2)
                cur = np.empty_like(prev)
                if kind == "lcss":
                    cur[:, 0] = 0
                    t = np.maximum(
                        prev[:, 1:], np.where(match, prev[:, :-1] + 1, 0)
                    )
                    np.maximum.accumulate(t, axis=1, out=cur[:, 1:])
                else:
                    t = np.empty_like(prev)
                    t[:, 0] = i
                    np.minimum(
                        prev[:, :-1] + np.where(match, 0, 1),
                        prev[:, 1:] + 1,
                        out=t[:, 1:],
                    )
                    np.minimum.accumulate(t - jj, axis=1, out=cur)
                    cur += jj
                sel = n == i
                if sel.any():
                    res[sel] = cur[sel, m[sel]]
                prev = cur
            keep = res >= threshold if kind == "lcss" else res <= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "traj_a": pdf["traj_a"].to_numpy()[keep],
                        "traj_b": pdf["traj_b"].to_numpy()[keep],
                        col: res[keep],
                    }
                )

    return refine
