"""Spatiotemporal co-location join: all pairs of points within BOTH a
distance radius and a time window — the trajectory-analytics primitive
("who was near whom, when") that composes the engine's spatial grid with
a time-bucket grid in ONE composite equi-join.

Spark-first shape: no UDF, no crossJoin, no driver loop. Each point owns
exactly one (cell_x, cell_y, time_bucket) key; one side explodes to its
3x3x3 neighborhood (27 keys) and the pair space collapses to a hash
equi-join on the composite key, followed by the exact predicate. The
grid is sized so one cell >= the radius in both axes and one bucket ==
the window, which makes the neighborhood a SUPERSET of the metric
spacetime ball — exactness by construction, same contract as
``knn.radius_join``'s covers.

Scale: candidates are Theta(sum over keys of n_a(key) * n_b(key)) — the
standard grid-hash co-location bound (cf. the public GeoSpark/Sedona
distance-join design). At 10^12 points pick (radius, window) so a
spacetime cell holds O(1)-O(100) points; hot cells (a stadium at kickoff)
are classic skew — AQE's skew-join split handles the join stage, and the
27x explode is map-side (no shuffle of its own). Every point-side op is
stateless (Project / explode / equi-join / Filter), so the identical
plan runs under Structured Streaming as a stream-static join
(streaming/incremental.py:stream_coloc_assign). No reference analog
(the reference has no temporal column at all); north-rule spatial
surface alongside PIP / kNN / radius.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from osmflat_rs_spark.functions import cells

# lat axis quantizer span (functions/cells.py:59-67): 1.8e9 fixed units
# over 2^res cells; the lat cell is the narrower axis (lon spans 3.6e9),
# so sizing res off lat guarantees BOTH axes >= radius.
_LAT_SPAN_FIXED = 1_800_000_000


def pick_coloc_res(radius_fixed: int) -> int:
    """Finest res whose lat cell width still >= ``radius_fixed`` (then
    the 3x3 cell neighborhood covers the +-radius square exactly)."""
    if radius_fixed <= 0:
        raise ValueError(f"radius must be positive, got {radius_fixed}")
    res = int(math.floor(math.log2(_LAT_SPAN_FIXED / radius_fixed)))
    return max(0, min(cells.MAX_RES, res))


def _floordiv(col, divisor: int):
    # exact floor division for any-sign int64 (DIV truncates toward
    # zero; pmod is non-negative, so subtracting it first makes the
    # quotient exact floor) — no double round-trip at microsecond scale
    # (numerator < 2^53 us =~ year 2255 stays exact through the double)
    return (col - F.pmod(col, F.lit(divisor))) / F.lit(divisor)


def _keyed(
    points: DataFrame, id_col: str, t_col: str, lat_col: str, lon_col: str,
    res: int, window_us: int,
) -> DataFrame:
    """One composite spacetime key per point: (_ix, _iy, _tb) + carried
    coords; null coords/times dropped (same guard as every cell op)."""
    ix, iy = cells.grid_exprs(F.col(lat_col).cast("long"), F.col(lon_col).cast("long"), res)
    return points.select(
        F.col(id_col).alias("_cid"),
        F.col(lat_col).cast("long").alias("_lat"),
        F.col(lon_col).cast("long").alias("_lon"),
        F.col(t_col).cast("long").alias("_t"),
        ix.alias("_ix"),
        iy.alias("_iy"),
        _floordiv(F.col(t_col).cast("long"), int(window_us)).cast("long").alias("_tb"),
    ).filter(
        F.col("_lat").isNotNull() & F.col("_lon").isNotNull() & F.col("_t").isNotNull()
    )


def _exploded(base: DataFrame, id_out: str, suffix: str) -> DataFrame:
    """The 3x3x3 neighborhood fan-out (map-side, 27 distinct keys)."""
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    return (
        base.withColumn("_dx", F.explode(off))
        .withColumn("_dy", F.explode(off))
        .withColumn("_db", F.explode(off))
        .select(
            F.col("_cid").alias(id_out),
            F.col("_lat").alias(f"lat_{suffix}"),
            F.col("_lon").alias(f"lon_{suffix}"),
            F.col("_t").alias(f"t_{suffix}"),
            (F.col("_ix") + F.col("_dx")).alias("_jx"),
            (F.col("_iy") + F.col("_dy")).alias("_jy"),
            (F.col("_tb") + F.col("_db")).alias("_jb"),
        )
    )


def _plain(base: DataFrame, id_out: str, suffix: str) -> DataFrame:
    return base.select(
        F.col("_cid").alias(id_out),
        F.col("_lat").alias(f"lat_{suffix}"),
        F.col("_lon").alias(f"lon_{suffix}"),
        F.col("_t").alias(f"t_{suffix}"),
        F.col("_ix").alias("_jx"),
        F.col("_iy").alias("_jy"),
        F.col("_tb").alias("_jb"),
    )


def _exact(joined: DataFrame, id_a: str, id_b: str, radius: int, window_us: int) -> DataFrame:
    dlat = F.col("lat_a") - F.col("lat_b")
    dlon = F.col("lon_a") - F.col("lon_b")
    return (
        joined.select(
            id_a,
            id_b,
            (dlat * dlat + dlon * dlon).alias("d2"),
            F.abs(F.col("t_a") - F.col("t_b")).alias("dt_us"),
        )
        .filter(
            (F.col("d2") <= F.lit(int(radius) ** 2)) & (F.col("dt_us") <= F.lit(int(window_us)))
        )
    )


def coloc_pairs(
    points: DataFrame,
    radius: int,
    window_us: int,
    id_col: str = "event_id",
    t_col: str = "t_us",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """Self-join co-location: all UNORDERED pairs (id_a < id_b) with
    squared fixed-point distance d2 <= radius**2 AND |t_a - t_b| <=
    ``window_us``. -> DataFrame(id_a, id_b, d2, dt_us), exact ints.

    Inputs are fixed-point WGS84 ints (1e7/degree, the engine-wide
    convention) and int64 microseconds. Metric is squared euclidean in
    fixed units (planar; callers at high latitude / antimeridian data
    should pre-project, same caveat as ``knn`` metric='sqeuclid').
    Distance squares stay exact in int64 for coordinate diffs up to
    2^31-1 fixed units (~214 degrees) — the whole WGS84 domain.

    Exactly-once pairs, no dedup step: a row owns ONE composite key; the
    exploded 27-key neighborhood of the other side is distinct, so each
    (a, b) meets on at most one key. Quantization is a monotone clamp,
    so |q(u) - q(v)| <= 1 whenever |u - v| <= cell width — the
    neighborhood is a superset of every within-bounds pair.
    """
    if window_us <= 0:
        raise ValueError(f"window_us must be positive, got {window_us}")
    r = res if res is not None else pick_coloc_res(int(radius))
    base = _keyed(points, id_col, t_col, lat_col, lon_col, r, window_us)
    # Both sides ARE the corpus: pin a shuffle hash join so Catalyst's
    # size estimate (spark.range lineage reports bytes-per-row only,
    # blind to the 27x explode) can never pick a broadcast build of the
    # full point set — observed driver OOM at 2M points. SHJ over SMJ:
    # the composite key bounds a partition's build map at its share of
    # rows, and no sort is needed for an existence-style equi-join.
    joined = _exploded(base, "id_a", "a").join(
        _plain(base, "id_b", "b").hint("shuffle_hash"), ["_jx", "_jy", "_jb"]
    )
    return _exact(joined.filter(F.col("id_a") < F.col("id_b")), "id_a", "id_b", radius, window_us)


def coloc_join(
    left: DataFrame,
    right: DataFrame,
    radius: int,
    window_us: int,
    left_id: str = "event_id",
    right_id: str = "ref_id",
    t_col: str = "t_us",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """Two-table co-location: every (left, right) pair within the
    spacetime bounds -> (<left_id>, <right_id>, d2, dt_us). Same exact
    superset construction as ``coloc_pairs``; the LEFT side carries the
    27x explode, so put the bigger (or streaming) table on the left and
    the reference set on the right. The right side always broadcasts,
    so the left table never shuffles at all — the streaming-compatible
    shape."""
    if window_us <= 0:
        raise ValueError(f"window_us must be positive, got {window_us}")
    if left_id == right_id:
        raise ValueError(f"left_id and right_id must differ, both are {left_id!r}")
    r = res if res is not None else pick_coloc_res(int(radius))
    lk = _exploded(_keyed(left, left_id, t_col, lat_col, lon_col, r, window_us), left_id, "a")
    rk = _plain(_keyed(right, right_id, t_col, lat_col, lon_col, r, window_us), right_id, "b")
    j = lk.join(F.broadcast(rk), ["_jx", "_jy", "_jb"])
    return _exact(j, left_id, right_id, radius, window_us)


def knox_statistic(
    points: DataFrame,
    radius: int,
    window_us: int,
    id_col: str = "event_id",
    t_col: str = "t_us",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
) -> DataFrame:
    """Knox space-time interaction statistic (Knox 1964, the classic
    epidemiology test: do events cluster in space AND time together,
    beyond what their spatial and temporal clusterings explain?) →
    ONE row (n_points, n_pairs, x_knox, n_space, n_time, expected, z):

    - ``x_knox``  = #pairs with d² ≤ radius² AND |Δt| ≤ window_us,
    - ``n_space`` = #pairs with d² ≤ radius² (any time),
    - ``n_time``  = #pairs with |Δt| ≤ window_us (any place),
    - ``n_pairs`` = n·(n−1)/2 exact integer,
    - ``expected`` = n_space/n_pairs · n_time (the independence null),
    - ``z`` = (x − expected)/√expected (Poisson approximation; NULL
      when expected is 0).

    Scale shape — three SUB-QUADRATIC pair COUNTS, never all-pairs:
    x_knox reuses ``coloc_pairs``'s composite (cell_x, cell_y,
    time_bucket) grid join; n_space is the same join on the spatial
    key alone (3×3 explode); n_time is a 1-D time-band self-join
    (bucket ⌊t/window⌋, explode {−1,0,1} — the same
    exactly-once-by-unique-home-key argument as ``coloc_pairs``, then
    ``id_a < id_b`` once). Each count is a map-side-combined aggregate
    of an equi-join — no pair row survives past its partial count, so
    the only full-pair materialization anywhere is zero. All counts
    exact int64; ``expected``/``z`` are the ONLY floats, emitted as the
    fixed left-associated IEEE expression CAST(n_space AS DOUBLE) /
    n_pairs * n_time (cross-engine bit-identical; round-6 portable
    while expected < 9e9 — the engine-wide float-portability band).

    n_time's band join degrades to per-bucket all-pairs when the whole
    corpus shares one window-sized bucket — same declared trade as
    every banded self-join here; pick window ≪ time span. No reference
    analog (the reference has no temporal column); beyond-reference
    spatial statistics alongside Ripley's K / Moran's I / Geary's C.
    """
    if window_us <= 0:
        raise ValueError(f"window_us must be positive, got {window_us}")
    r = res if res is not None else pick_coloc_res(int(radius))
    base = _keyed(points, id_col, t_col, lat_col, lon_col, r, window_us)
    r2 = F.lit(int(radius) ** 2)

    # spacetime pairs (the coloc join, counted)
    x_df = (
        _exploded(base, "id_a", "a")
        .join(_plain(base, "id_b", "b").hint("shuffle_hash"), ["_jx", "_jy", "_jb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            ((F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
             + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b")) <= r2)
            & (F.abs(F.col("t_a") - F.col("t_b")) <= F.lit(int(window_us)))
        )
        .agg(F.count(F.lit(1)).alias("x_knox"))
    )

    # spatial-only pairs: 3x3 cell neighborhood, time ignored
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    sp_probe = (
        base.withColumn("_dx", F.explode(off))
        .withColumn("_dy", F.explode(off))
        .select(
            F.col("_cid").alias("id_a"),
            F.col("_lat").alias("lat_a"),
            F.col("_lon").alias("lon_a"),
            (F.col("_ix") + F.col("_dx")).alias("_jx"),
            (F.col("_iy") + F.col("_dy")).alias("_jy"),
        )
    )
    sp_home = base.select(
        F.col("_cid").alias("id_b"),
        F.col("_lat").alias("lat_b"),
        F.col("_lon").alias("lon_b"),
        F.col("_ix").alias("_jx"),
        F.col("_iy").alias("_jy"),
    )
    ns_df = (
        sp_probe.join(sp_home.hint("shuffle_hash"), ["_jx", "_jy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
            + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b")) <= r2
        )
        .agg(F.count(F.lit(1)).alias("n_space"))
    )

    # temporal-only pairs: 1-D band on the window-sized bucket
    t_probe = base.withColumn("_db", F.explode(off)).select(
        F.col("_cid").alias("id_a"),
        F.col("_t").alias("t_a"),
        (F.col("_tb") + F.col("_db")).alias("_jb"),
    )
    t_home = base.select(
        F.col("_cid").alias("id_b"), F.col("_t").alias("t_b"), F.col("_tb").alias("_jb")
    )
    nt_df = (
        t_probe.join(t_home.hint("shuffle_hash"), ["_jb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.col("t_a") - F.col("t_b")) <= F.lit(int(window_us)))
        .agg(F.count(F.lit(1)).alias("n_time"))
    )

    n_df = base.agg(F.count(F.lit(1)).alias("n_points")).withColumn(
        "n_pairs", F.expr("n_points * (n_points - 1) div 2")
    )
    # nullif guards the n < 2 corpus (n_pairs = 0): expected and z go
    # NULL instead of an engine-divergent inf/err division
    e_raw = (
        F.col("n_space").cast("double") / F.nullif(F.col("n_pairs"), F.lit(0)) * F.col("n_time")
    )
    return (
        n_df.crossJoin(x_df).crossJoin(ns_df).crossJoin(nt_df)
        .select(
            "n_points",
            "n_pairs",
            "x_knox",
            "n_space",
            "n_time",
            F.round(e_raw, 6).alias("expected"),
            F.round(
                (F.col("x_knox") - e_raw) / F.sqrt(F.nullif(e_raw, F.lit(0.0))), 6
            ).alias("z"),
        )
    )
