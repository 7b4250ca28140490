"""Driver contract for the spark-graft builder (PySpark target).

Every entry exercises an operator family from SURVEY.md §2 through the
osmflat_rs_spark engine, with a DuckDB-runnable ANSI-SQL oracle that
reproduces the semantics exactly. Cross-engine determinism rules used
throughout:

- integer arithmetic wherever possible (synthesized fixed-point
  coordinates, squared-euclid kNN metric, DDA rasterization, Morton cell
  ids — all exact in both engines);
- md5-derived 60-bit hashes (`conv(substr(md5(x),1,15),16,10)` ⟷
  `('0x'||substr(md5(x),1,15))::bigint`) for dedup/minhash/simhash;
- float aggregations rounded (sums of doubles are order-dependent);
  pure per-row float expressions left exact (same IEEE ops both sides).

Spatial queries synthesize deterministic fixed-point coordinates from
``events.event_id`` (LCG-style modular arithmetic — identical expressions
in Spark and SQL), since the driver tables carry no geometry.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# shared constants (Spark + SQL must agree)
# --------------------------------------------------------------------------

LAT0, LATSPAN = 524_000_000, 2_000_000
LON0, LONSPAN = 132_000_000, 4_000_000
A_LAT, A_LON = 48271, 16807
GRID = 256  # raster grid
ZOOM = 14
CELL_RES = 14

# CCW hexagon (lon, lat) in fixed-point — the broadcast polygon
HEX_RING = [
    (135_600_000, 525_000_000),
    (134_800_000, 525_692_800),
    (133_200_000, 525_692_800),
    (132_400_000, 525_000_000),
    (133_200_000, 524_307_200),
    (134_800_000, 524_307_200),
]

# Second CCW hexagon for the zonal-stats gate: HEX_RING scaled to 40%
# around a different center (133.0M, 524.6M) — partially overlaps HEX_RING
# (zonal zones may overlap; points in both count in both, oracle UNION ALL)
ZONAL_HEX2 = [
    (133_640_000, 524_600_000),
    (133_320_000, 524_877_120),
    (132_680_000, 524_877_120),
    (132_360_000, 524_600_000),
    (132_680_000, 524_322_880),
    (133_320_000, 524_322_880),
]

# CCW diamond hole strictly inside HEX_RING (lon, lat) — the r4
# multi-ring gate's inner ring (~4% of the synth window area)
HOLE_RING = [
    (134_400_000, 525_000_000),
    (134_000_000, 525_400_000),
    (133_600_000, 525_000_000),
    (134_000_000, 524_600_000),
]

# fill gate: 9 overlapping hexagons (3 sizes x 3x3 grid of centers,
# scaled/shifted copies of HEX_RING — exact ints) + the hexhole polygon
FILL_POLYS = [
    (
        f"fp{i:02d}",
        [
            (
                133_000_000 + (i % 3) * 1_500_000 + (lo - 134_000_000) * (2 + i % 3) // 4,
                524_500_000 + (i // 3) * 900_000 + (la - 525_000_000) * (2 + i % 3) // 4,
            )
            for lo, la in HEX_RING
        ],
    )
    for i in range(9)
]

KNN_QUERIES = [(f"q{i:02d}", 524_200_000 + i * 173_000, 132_500_000 + i * 317_000) for i in range(10)]
KNN_K = 5
# fixed-point-unit radius for the sqeuclid cell cover: expected 5th-NN
# distance at the sparsest gate SF (sf0.001, ~1k events in the synth
# window) is ~113k units; 400k gives a >3x margin (settledness asserted
# in tests/test_spatial.py::test_knn_gate_settled at both gate SFs)
KNN_RADIUS_FIXED = 400_000

# co-location gate: ~10k sf0.01 events spread over the 2e6 x 4e6 synth
# box and ~27 days of ts — 100k-unit radius x 1h window keeps the exact
# pair set in the hundreds (oracle is the brute-force cross join)
COLOC_RADIUS_FIXED = 100_000
COLOC_WINDOW_US = 3_600_000_000

# chunking gate: window/stride chosen NOT to divide evenly into typical
# doc lengths so short-tail chunks and the n<=window single-chunk branch
# both appear in the gate data
CHUNK_WINDOW, CHUNK_STRIDE = 64, 48

# packing gate: capacity well under typical doc length so documents
# split across sequence boundaries (the packing-specific behavior)
PACK_CAPACITY = 100

_SW_EN = ["the", "a", "of", "and", "to", "in", "is"]
_SW_DE = ["der", "die", "das", "und", "ist", "ein"]
_SW_FR = ["le", "la", "les", "et", "est", "un"]

# DuckDB(RE2) twin of the engine's whitespace-contract class
# (osmflat_rs_spark.operators.dedup.WS) — deliberately duplicated, not
# imported: the oracle stays an independent reimplementation; equality is
# pinned by the cross-engine unicode-whitespace test.
_WS_SQL_INNER = (
    r"\t\n\x0B\f\r \x{0085}\x{00A0}\x{1680}\x{2000}-\x{200A}"
    r"\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}"
)
_WS_SQL = "[" + _WS_SQL_INNER + "]"


def _ws_split_sql(col: str = "lower(text)") -> str:
    """The shared tokenizer fragment: trim, then split on runs of the
    EXPLICIT whitespace class (never RE2's ASCII-only ``\\s``). Oracles
    reference this template directly (ADVICE r04: the previous post-hoc
    textual ``\\s``→class rewrite of finished SQL would corrupt any
    future oracle using ``\\s`` inside another bracket class)."""
    return (
        f"regexp_split_to_array(regexp_replace({col}, "
        f"'^{_WS_SQL}+|{_WS_SQL}+$', '', 'g'), '{_WS_SQL}+')"
    )


def _prep(spark: SparkSession) -> None:
    """Ensure the engine package reaches Python workers (addPyFile)."""
    try:
        from osmflat_rs_spark.session import _ship_package

        _ship_package(spark)
    except Exception:
        pass


#: tables whose consumers are MAP-SIDE pipelines (broadcast joins, in-row
#: dedup/intersect, codegen projections) — only these need the scan spread
_MAPSIDE_TABLES = {"documents", "events", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = True) -> DataFrame:
    """Load a driver table, normalizing SCAN parallelism for map-side
    consumers: the sf* tables are single-row-group parquet files, and a
    row group is one split — so a map-side pipeline (broadcast joins,
    in-row dedup/intersect work, codegen projections) would otherwise
    run on ONE task regardless of core count (measured: the ngram
    pair-verify broadcast join ran its 622k array_intersects on one
    core, 5.5s vs ~1s spread). Production inputs arrive as thousands of
    splits; the explicit-count repartition (which AQE never coalesces)
    reproduces that shape at bench scale. SCOPED to map-side-consumed
    tables (r4): queries over the TPC-H-ish tables shuffle immediately
    anyway (groupBy/join/window), so pre-shuffling them was pure
    overhead — the r3 q1_pricing 'regression' bisected to exactly this
    (0.44s direct vs 0.71s repartitioned, same JVM, best-of-3)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    # spread=False: callers that immediately repartition by a key (the
    # pre-window fan-out pattern) skip the round-robin spread — it would
    # be a dead exchange directly under their keyed one (guide §2.4).
    if spread and name in _MAPSIDE_TABLES:
        n = spark.sparkContext.defaultParallelism
        # r6: estimate the scan's split count from the on-disk size
        # instead of df.rdd.getNumPartitions() — the RDD conversion is a
        # ~0.15 s driver/py4j round-trip PER CALL (bench times query
        # construction too), while the file size reproduces the same
        # decision: splits ≈ ceil(bytes / maxPartitionBytes), and the
        # spread only matters when the scan yields fewer splits than
        # cores.
        try:
            if os.path.isdir(path):
                nbytes = sum(
                    os.path.getsize(os.path.join(path, f))
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
            else:
                nbytes = os.path.getsize(path)
            max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)).rstrip("b"))
        except (OSError, ValueError):
            nbytes, max_split = 0, 128 << 20
        if -(-nbytes // max_split) < n:
            df = df.repartition(n)
    return df


def _lit_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small constant table as PURE literal expressions (r6):
    ``spark.range(1).select(inline(array(structs...)))`` — one JVM
    partition, no ExistingRDD, no Python workers. The
    ``createDataFrame(list)`` form parallelizes over
    ``defaultParallelism`` pickle partitions, so every scan of a tiny
    constant table (and every broadcast build over it) paid ~32 Python
    worker round-trips (measured 6+ s of executor CPU per broadcast
    build on the kNN gate's 10-row query table)."""
    fields = [f.strip().rsplit(" ", 1) for f in schema.split(",")]
    structs = [
        "named_struct("
        + ",".join(
            f"'{name}',{_sql_lit(v, typ)}" for v, (name, typ) in zip(row, fields)
        )
        + ")"
        for row in rows
    ]
    # ONE SQL parse instead of ~10 py4j calls per cell (bench times plan
    # construction; the call-by-call form cost ~0.1 s per 10-row table)
    return spark.range(1).select(F.expr("inline(array(" + ",".join(structs) + "))"))


def _sql_lit(v, typ: str) -> str:
    t = typ.lower()
    if t == "string":
        return "'" + str(v).replace("'", "''") + "'"
    if t in ("long", "bigint"):
        return f"{int(v)}L"
    if t in ("int", "integer"):
        return str(int(v))
    if t == "double":
        return f"CAST({float(v)!r} AS DOUBLE)"
    raise ValueError(f"_sql_lit: unsupported type {typ}")


def _lit_polys(spark: SparkSession, rows) -> DataFrame:
    """Single-ring polygon tables as literal expressions (same rationale
    as ``_lit_rows``; build_polygon_index collect()s this table on every
    pip_join call, so the pickle-RDD form cost ~32 Python tasks per
    call). ``rows`` = [(polygon_id, [(lat, lon), ...], kind), ...]."""
    structs = [
        "named_struct('polygon_id',{pid},'ring',array({ring}),'kind',{kind})".format(
            pid=_sql_lit(pid, "string"),
            ring=",".join(
                f"named_struct('lat',{int(la)}L,'lon',{int(lo)}L)" for la, lo in ring
            ),
            kind=_sql_lit(kind, "string"),
        )
        for pid, ring, kind in rows
    ]
    return spark.range(1).select(F.expr("inline(array(" + ",".join(structs) + "))"))


def _synth_coords(events: DataFrame) -> DataFrame:
    """Deterministic fixed-point coords from event_id (exact ints)."""
    return events.withColumn(
        "lat", (F.lit(LAT0) + (F.col("event_id") * A_LAT) % F.lit(LATSPAN)).cast("long")
    ).withColumn("lon", (F.lit(LON0) + (F.col("event_id") * A_LON) % F.lit(LONSPAN)).cast("long"))


_SYNTH_SQL = (
    f"SELECT *, CAST({LAT0} + (event_id * {A_LAT}) % {LATSPAN} AS BIGINT) AS lat, "
    f"CAST({LON0} + (event_id * {A_LON}) % {LONSPAN} AS BIGINT) AS lon FROM events"
)


# --------------------------------------------------------------------------
# TPC-H-ish workload: scans/filters/joins/aggs/windows/sorts/unions
# --------------------------------------------------------------------------


def q_counts_lineitem(spark, sf_dir):
    """A1 counts (count.rs:15-17 analog)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


def q_q1_pricing(spark, sf_dir):
    """A2/A3 grouped sums+avgs (road-length fold analog at TPC-H shape)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


def q_revenue_by_nation(spark, sf_dir):
    """J1/J5 FK join chain with broadcast dims (id-dictionary join analog)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_topk_orders_segment(spark, sf_dir):
    """W top-k per group (take-first-N, debug.rs:165 generalized)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", "o_orderkey", "o_totalprice")
    )


def q_lead_delta_events(spark, sf_dir):
    """W3 consecutive-pair zip (tuple_windows, road-length.rs:80)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_delta", F.lead("value").over(w) - F.col("value"))
        .filter(F.col("next_delta").isNotNull())
        .select("event_id", "next_delta")
    )


def q_delta_decode_blocks(spark, sf_dir):
    """W1 block-local vectorized delta decode (np.cumsum per block over
    Arrow batches — the reference's per-PBF-block running += shape,
    osmflatc/src/main.rs:188-207). Exact int64: deltas derived from
    event_id so both engines accumulate identical integers."""
    _prep(spark)
    from osmflat_rs_spark.operators.sequence import delta_decode_blocks

    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", (F.col("event_id") % 1000).cast("long").alias("run")
    )
    out = delta_decode_blocks(e, "user_id", ["ts", "event_id"], ["run"])
    return out.select("event_id", "run")


def q_dense_index_orders(spark, sf_dir):
    """W4 deterministic dense index via the scalable two-pass scheme
    (main.rs:192-193 invariant)."""
    from osmflat_rs_spark.plans.indexing import assign_dense_index

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    return assign_dense_index(o, ["o_orderkey"], "idx").select("o_orderkey", "idx")


def q_union_names(spark, sf_dir):
    """U1 union chain (pub-names.rs:22-25)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000).select(
        F.lit("customer").alias("src"), F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")
    )
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 1000).select(
        F.lit("supplier").alias("src"), F.col("s_name").alias("name"), F.col("s_acctbal").alias("bal")
    )
    return c.unionByName(s)


def q_filter_parts_notin(spark, sf_dir):
    """P9 NOT-IN + P10 prefix filter (render-roads.rs:99-120, pub-names.rs:31)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(~F.col("p_type").isin(["PROMO", "ECONOMY"]) & F.col("p_brand").startswith("Brand#1"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.round(F.sum("p_retailprice"), 2).alias("retail"))
    )


def q_json_k_events(spark, sf_dir):
    """P14/F4 safe parse with skip-on-failure (cities.rs:33-38)."""
    e = _t(spark, sf_dir, "events")
    k = F.nullif(F.regexp_extract(F.col("props"), r'"k": (\d+)', 1), F.lit(""))
    return e.select("event_id", k.cast("long").alias("k")).filter(F.col("k").isNotNull())


# --------------------------------------------------------------------------
# spatial family (north rule) over synthesized coordinates
# --------------------------------------------------------------------------


def q_cube_events(spark, sf_dir):
    """Grouping sets (CUBE) — beyond the reference (no cube there), needed
    for a complete OLAP surface. dow aligned: Spark dayofweek-1 == DuckDB
    date_part('dow') (0=Sunday)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("dow", (F.dayofweek("ts") - 1).cast("long"))
        .cube("event_type", "dow")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def q_anti_join_users(spark, sf_dir):
    """Left-anti join (EXCEPT semantics): users who signed up but never
    purchased — the counted anti-join family (SURVEY J9)."""
    e = _t(spark, sf_dir, "events")
    signup = e.filter(F.col("event_type") == "signup").select("user_id").distinct()
    purchase = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return signup.join(purchase, "user_id", "left_anti")


def q_semi_join_users(spark, sf_dir):
    """Left-semi join (INTERSECT semantics): users with both."""
    e = _t(spark, sf_dir, "events")
    signup = e.filter(F.col("event_type") == "signup").select("user_id").distinct()
    purchase = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return signup.join(purchase, "user_id", "left_semi")


def q_bbox_events(spark, sf_dir):
    """A4 4-way min/max bounds (render-roads.rs:55-69)."""
    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return pts.agg(
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
    )


def q_road_length_users(spark, sf_dir):
    """F1 haversine + W3 pairs + A3 per-group fold (road-length.rs:44-89)."""
    from osmflat_rs_spark.functions.geo import haversine_m_fixed

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.withColumn("lat2", F.lead("lat").over(w))
        .withColumn("lon2", F.lead("lon").over(w))
        .filter(F.col("lat2").isNotNull())
        .withColumn("seg_m", haversine_m_fixed(F.col("lat"), F.col("lon"), F.col("lat2"), F.col("lon2")))
    )
    return seg.groupBy("user_id").agg(F.round(F.sum("seg_m"), 2).alias("dist_m"))



def q_bearing_stats_events(spark, sf_dir):
    """Per-user circular (directional) statistics over the movement
    trace: initial great-circle bearing per consecutive segment (same
    lead window as road_length_users), then the Mardia first-order
    stats — circular mean direction, resultant length, circular
    variance. Engine: operators/circular.py (pure codegen trig + ONE
    map-side-combined groupBy); oracle: identical formulas in SQL.
    Floats cross engines via the established ROUND discipline."""
    from osmflat_rs_spark.operators.circular import bearing_rad, circular_stats

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.withColumn("lat2", F.lead("lat").over(w))
        .withColumn("lon2", F.lead("lon").over(w))
        .filter(F.col("lat2").isNotNull())
        .withColumn(
            "theta",
            bearing_rad(F.col("lat"), F.col("lon"), F.col("lat2"), F.col("lon2")),
        )
    )
    st = circular_stats(seg, ["user_id"], "theta")
    return st.select(
        "user_id",
        "n",
        F.round(F.degrees("mean_dir"), 4).alias("mean_bearing_deg"),
        F.round("resultant", 6).alias("resultant"),
        F.round("circ_var", 6).alias("circ_var"),
    )


def q_xtrack_events(spark, sf_dir):
    """Signed cross-track + along-track distance from every event to the
    fixed great-circle route (52.40, 13.20) → (52.60, 13.60) — the
    standard route-adherence projection (Aviation Formulary): xt =
    asin(sin(d13)·sin(θ13−θ12))·R, at = ±acos(cos(d13)/cos(xt))·R.
    Engine: functions/nav.py pure codegen trig; oracle: identical
    term-ordered formulas (incl. the [-1,1] clamps) in SQL."""
    from osmflat_rs_spark.functions import nav
    from osmflat_rs_spark.functions.geo import to_degrees

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    la, lo = to_degrees(F.col("lat")), to_degrees(F.col("lon"))
    a_lat, a_lon = F.lit(52.40), F.lit(13.20)
    b_lat, b_lon = F.lit(52.60), F.lit(13.60)

    # DuckDB's ROUND on doubles is IEEE sign-preserving (a negative value
    # that rounds to zero emits -0.0); Spark's round always emits +0.0.
    # One event sits close enough to the route for ROUND(xt*R, 2) to
    # land on zero, and the driver's byte hash sees the sign (the r5
    # red gate). Restore the raw sign onto rounded zeros so the engine
    # matches the frozen oracle bit-for-bit: negative raw -> -0.0, and
    # a raw that IS ±0.0 passes through unchanged (std::round preserves
    # its sign bit the same way; == 0 matches both signs, no division,
    # no ANSI hazard).
    def _round_signed(raw, digits):
        r = F.round(raw, digits)
        return (
            F.when((r == 0) & (raw < 0), F.lit(-0.0))
            .when((r == 0) & (raw == 0), raw)
            .otherwise(r)
        )

    raw = pts.select(
        "event_id",
        nav.cross_track_m(la, lo, a_lat, a_lon, b_lat, b_lon).alias("_xt"),
        nav.along_track_m(la, lo, a_lat, a_lon, b_lat, b_lon).alias("_at"),
    )
    return raw.select(
        "event_id",
        _round_signed(F.col("_xt"), 2).alias("xtrack_m"),
        _round_signed(F.col("_at"), 2).alias("atrack_m"),
    )


def q_rhumb_events(spark, sf_dir):
    """Rhumb-line (loxodrome) distance + constant bearing from every
    event to the patch center (52.50, 13.40), plus the direct geodesic:
    the destination point after travelling (event_id % 5000 + 100) m on
    bearing (event_id % 360)°. Engine: functions/nav.py codegen trig
    (isometric-latitude rhumb form with the Bowditch east-west guard);
    oracle: identical formulas in SQL."""
    from osmflat_rs_spark.functions import nav
    from osmflat_rs_spark.functions.geo import to_degrees

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    la, lo = to_degrees(F.col("lat")), to_degrees(F.col("lon"))
    brg = F.radians((F.col("event_id") % 360).cast("double"))
    dist = ((F.col("event_id") % 5000) + 100).cast("double")
    return pts.select(
        "event_id",
        F.round(nav.rhumb_distance_m(la, lo, F.lit(52.50), F.lit(13.40)), 2).alias("rhumb_m"),
        F.round(F.degrees(nav.rhumb_bearing_rad(la, lo, F.lit(52.50), F.lit(13.40))), 4)
        .alias("rhumb_brg_deg"),
        F.round(nav.destination_lat_deg(la, brg, dist), 6).alias("dest_lat"),
        F.round(nav.destination_lon_deg(la, lo, brg, dist), 6).alias("dest_lon"),
    )


def q_cms_heavy_users(spark, sf_dir):
    """Count-min sketch (4×256) of per-user event frequency, point
    estimates for every distinct user. The sketch is RELATIONAL (r, c,
    cnt) state built by one bounded groupBy — the gate hash-checks the
    ESTIMATES themselves (same seeded 60-bit md5 hash family in the SQL
    oracle), not just error bounds."""
    from osmflat_rs_spark.operators.sketch import cms_build, cms_estimate

    e = _t(spark, sf_dir, "events")
    sketch = cms_build(e, "user_id", depth=4, width=256)
    keys = e.select("user_id").distinct()
    return cms_estimate(sketch, keys, "user_id", depth=4, width=256)


def q_ring_area_users(spark, sf_dir):
    """Per-user closed-ring shoelace signed double-area (EXACT int64 —
    bit-stable across engines, no float fold anywhere) + vertex-mean
    centroid in degrees. Reference analog: measuring the polygons
    render-features.rs:133-149 assembles. One groupBy shuffle; the fold
    is an in-row Catalyst aggregate HOF."""
    from osmflat_rs_spark.functions.geo import shoelace_ring_stats

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return shoelace_ring_stats(
        pts, "user_id", ["ts", "event_id"], lat0=LAT0, lon0=LON0
    )


def q_sphere_area_users(spark, sf_dir):
    """Per-user SPHERICAL ring area (Chamberlain-Duquette line
    integral, JPL 2007 — the turf.js/PostGIS-sphere estimator) over the
    same ordered event rings as ring_area_users: the geodesic
    complement of the exact planar shoelace. One window shuffle + the
    groupBy it satisfies; oracle mirrors the wrapped-lead closure and
    term order. ROUND(_, 2) m² — reorder noise is ~1e-5 m² at this
    ring scale (doc'd in the function)."""
    from osmflat_rs_spark.functions.geo import sphere_ring_area_m2

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = sphere_ring_area_m2(pts, "user_id", ["ts", "event_id"])
    return out.select(
        "user_id", "n_vertices", F.round("area_m2", 2).alias("area_m2")
    )


def q_ring_centroid_users(spark, sf_dir):
    """Per-user AREA-WEIGHTED polygon centroid (the labeling centroid,
    C = sum (v_i + v_{i+1})·cross_i / (3·area2x)) over the same ordered
    event rings as ring_area_users. cross stays exact int64; the
    numerator folds in DOUBLE but IN-ROW in fixed ring order, so the
    IEEE sequence is identical in both engines (oracle mirrors term
    order in a list reduce). area2x exact; centroids ROUND(6)."""
    from osmflat_rs_spark.functions.geo import ring_centroid_stats

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = ring_centroid_stats(
        pts, "user_id", ["ts", "event_id"], lat0=LAT0, lon0=LON0
    )
    return out.select(
        "user_id", "n_vertices", "area2x",
        F.round("cx_deg", 6).alias("cx_deg"),
        F.round("cy_deg", 6).alias("cy_deg"),
    )


def q_compactness_users(spark, sf_dir):
    """Per-user ring perimeter + Polsby-Popper compactness (4πA/P² —
    the isoperimetric shape quotient) over the same ordered event
    rings: haversine perimeter along the wrapped closed ring +
    Chamberlain-Duquette spherical area, one window shuffle. Oracle
    mirrors both folds (reference-order haversine, CD term) and the
    quotient; perimeter ROUND(2), area ROUND(2), PP ROUND(8)."""
    from osmflat_rs_spark.functions.geo import ring_compactness

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = ring_compactness(pts, "user_id", ["ts", "event_id"])
    return out.select(
        "user_id", "n_vertices",
        F.round("perimeter_m", 2).alias("perimeter_m"),
        F.round("area_m2", 2).alias("area_m2"),
        F.round("polsby_popper", 8).alias("polsby_popper"),
    )


def q_areal_interp_users(spark, sf_dir):
    """Areal-weighted (dasymetric) interpolation: each user's event
    count transfers from the user's bbox rectangle onto the 500k-unit
    grid proportionally to EXACT integer overlap area — the classic
    polygon→zone attribute transfer, rectangle form. Engine: in-row
    cell fan-out + codegen min/max clipping + ONE groupBy (no join);
    oracle: the same clipping over a generate_series lateral fan.
    Per-source conservation (outputs sum back to inputs) is pinned in
    the unit test; ROUND(6)."""
    from osmflat_rs_spark.operators.bbox import areal_interpolate

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    rects = pts.groupBy("user_id").agg(
        F.min("lon").alias("x_min"),
        F.min("lat").alias("y_min"),
        F.max("lon").alias("x_max"),
        F.max("lat").alias("y_max"),
        F.count(F.lit(1)).alias("value"),
    )
    out = areal_interpolate(rects, 500_000, id_col="user_id")
    return out.select("cx", "cy", F.round("value", 6).alias("value"))


GEOMEDIAN_ITERS = 5


def q_geomedian_users(spark, sf_dir):
    """Per-user geometric median (Weiszfeld, 5 fixed rounds from the
    exact-decimal mean-center init) — the robust central point.
    Engine: per round one broadcast join + one map-side aggregate;
    oracle: the identical rounds as chained CTEs. Group double sums
    reorder across engines at ~1e-15 relative; output ROUND(2) in
    fixed-point units leaves 5 orders of margin."""
    from osmflat_rs_spark.operators.hotspot import geometric_median

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = geometric_median(pts, "user_id", iters=GEOMEDIAN_ITERS)
    return out.select(
        "user_id", "n",
        F.round("med_lat", 2).alias("med_lat"),
        F.round("med_lon", 2).alias("med_lon"),
    )


def _geomedian_oracle_sql() -> str:
    ctes = [
        f"s AS (SELECT user_id, lat, lon FROM ({_SYNTH_SQL}))",
        "m0 AS (SELECT user_id, COUNT(*) AS n,\n"
        "  CAST(SUM(CAST(lat AS HUGEINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cy,\n"
        "  CAST(SUM(CAST(lon AS HUGEINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cx\n"
        "  FROM s GROUP BY user_id)",
    ]
    for t in range(GEOMEDIAN_ITERS):
        ctes.append(
            f"j{t + 1} AS (SELECT e.user_id, m.n, m.cy AS py, m.cx AS px,\n"
            f"  SQRT((CAST(e.lon AS DOUBLE) - m.cx) * (CAST(e.lon AS DOUBLE) - m.cx)\n"
            f"     + (CAST(e.lat AS DOUBLE) - m.cy) * (CAST(e.lat AS DOUBLE) - m.cy)) AS d,\n"
            f"  CAST(e.lat AS DOUBLE) AS y, CAST(e.lon AS DOUBLE) AS x\n"
            f"  FROM s e JOIN m{t} m ON m.user_id = e.user_id)"
        )
        ctes.append(
            f"m{t + 1} AS (SELECT user_id, MAX(n) AS n,\n"
            f"  CASE WHEN SUM(CASE WHEN d > 0.0 THEN 1.0 / d ELSE 0.0 END) > 0\n"
            f"       THEN SUM(CASE WHEN d > 0.0 THEN (1.0 / d) * y ELSE 0.0 END)\n"
            f"          / SUM(CASE WHEN d > 0.0 THEN 1.0 / d ELSE 0.0 END)\n"
            f"       ELSE MAX(py) END AS cy,\n"
            f"  CASE WHEN SUM(CASE WHEN d > 0.0 THEN 1.0 / d ELSE 0.0 END) > 0\n"
            f"       THEN SUM(CASE WHEN d > 0.0 THEN (1.0 / d) * x ELSE 0.0 END)\n"
            f"          / SUM(CASE WHEN d > 0.0 THEN 1.0 / d ELSE 0.0 END)\n"
            f"       ELSE MAX(px) END AS cx\n"
            f"  FROM j{t + 1} GROUP BY user_id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT user_id, CAST(n AS BIGINT) AS n,
               ROUND(cy, 2) AS med_lat, ROUND(cx, 2) AS med_lon
        FROM m{GEOMEDIAN_ITERS}
        """
    )


def q_ring_normalize_users(spark, sf_dir):
    """Ring-orientation normalization (``geo.normalize_rings``, r5) —
    the OGC winding repair (outer CCW / holes CW) over each user's
    ordered ring, role alternating by user parity so both the keep and
    the flip paths are exercised. Exact-int shoelace sign decides;
    anchor-preserving reversal (v0 then the tail reversed) as in-row
    Catalyst HOFs, one posexplode. Oracle restates the same shoelace +
    list_reverse in DuckDB — integer-exact rows."""
    from osmflat_rs_spark.functions.geo import normalize_rings

    pts = _synth_coords(_t(spark, sf_dir, "events")).withColumn(
        "role", F.when(F.col("user_id") % 2 == 0, F.lit("outer")).otherwise(F.lit("inner"))
    )
    return normalize_rings(
        pts, "user_id", ["ts", "event_id"], role_col="role", lat0=LAT0, lon0=LON0
    )


def q_pip_events(spark, sf_dir):
    """Two-phase cell-cover PIP join (north rule): coarse Morton-cell
    equi-join (broadcast cover) → exact int64 refinement (mapInPandas)."""
    _prep(spark)
    from osmflat_rs_spark.operators.spatial_join import pip_join

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    # r6: literal polygon table (see _lit_polys — pip_join collect()s it)
    polys = _lit_polys(spark, [("hex", [(la, lo) for lo, la in HEX_RING], "district")])
    return pip_join(pts, polys, point_id="event_id").select("polygon_id", "event_id")


def q_pip_events_shuffle(spark, sf_dir):
    """The SHUFFLE-mode two-phase PIP join (the 10^12-scale path when the
    polygon side outgrows broadcast): distributed covers, sort-merge cell
    join with salting, co-grouped refinement (r5 default — ring geometry
    ships once per polygon group, never per candidate row). Same exact
    semantics as pip_events — the oracle is the identical half-plane SQL."""
    _prep(spark)
    from osmflat_rs_spark.operators.spatial_join import pip_join_shuffle

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    polys = spark.createDataFrame(
        [("hex", [(la, lo) for lo, la in HEX_RING], "district")],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    return pip_join_shuffle(pts, polys, point_id="event_id", cover_res=12, salt=4).select(
        "polygon_id", "event_id"
    )


def q_pip_events_holes(spark, sf_dir):
    """Multi-ring (holes) two-phase PIP join (r4): outer hexagon + a
    diamond hole, even-odd semantics with boundary-inclusive rule on
    EVERY ring. The cover composition drops cells entirely inside the
    hole and refines hole-boundary cells exactly (the reference's
    multipolygon outer/inner role model — render-features.rs:133-149 —
    extended to role='inner')."""
    _prep(spark)
    from osmflat_rs_spark.operators.spatial_join import pip_join

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    rings = [
        [(la, lo) for lo, la in HEX_RING],
        [(la, lo) for lo, la in HOLE_RING],
    ]
    polys = spark.createDataFrame(
        [("hexhole", rings)],
        schema="polygon_id string, rings array<array<struct<lat:long,lon:long>>>",
    )
    return pip_join(pts, polys, point_id="event_id").select("polygon_id", "event_id")


RESAMPLE_STEP_US = 21_600_000_000  # 6h

# shortest-path gate: deterministic sparse digraph (150 nodes, 3
# out-edges each, no self-loops by construction), bounded at 10 hops so
# the oracle is a finite recursive walk
SSSP_N, SSSP_SOURCES, SSSP_HOPS = 150, (0, 50, 100), 10

# pagerank gate: same 150-node / 3-out-edge mesh, 4 exact-integer power
# iterations (scaled ranks stay far below int64 — guard in the operator)
PAGERANK_ITERS = 4


SIMPLIFY_EPS = 600_000


def q_simplify_events(spark, sf_dir):
    """Exact Ramer–Douglas–Peucker polyline simplification of each
    user's trajectory (line-distance variant, smallest-index tie rule,
    degenerate-chord point fallback — module docstring pins all three).
    Engine: one groupBy shuffle + per-line exact-bigint DP in Arrow
    batches; oracle: the SAME recursion as a DuckDB recursive CTE over
    (uid, lo, hi) ranges with HUGEINT cross² compares — kept vertices
    are the distinct range endpoints."""
    from osmflat_rs_spark.operators.simplify import simplify_lines

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "user_id", "event_id", "ts", "lat", "lon"
    )
    out = simplify_lines(pts, "user_id", SIMPLIFY_EPS, order_cols=("ts", "event_id"))
    return out.select("user_id", "event_id", "lat", "lon")


def _pagerank_oracle_sql() -> str:
    """Chained-CTE restatement of the exact-integer power iteration:
    r_{t+1}(v) = 9·60^t + 17·Σ_{u→v} r_t(u) — every intermediate BIGINT
    (DuckDB SUM widens to HUGEINT, so each round re-casts)."""
    ctes = [
        f"e AS (SELECT src, (src * 31 + k) % {SSSP_N} AS dst\n"
        f"       FROM generate_series(0, {SSSP_N - 1}) s(src), generate_series(1, 3) t(k))",
        f"n AS (SELECT CAST(range AS BIGINT) AS node FROM range({SSSP_N}))",
        "r0 AS (SELECT node, CAST(1 AS BIGINT) AS r FROM n)",
    ]
    for t in range(PAGERANK_ITERS):
        tele = 9 * 60**t
        ctes.append(
            f"r{t + 1} AS (SELECT n.node,\n"
            f"   CAST({tele} + 17 * COALESCE(SUM(p.r), 0) AS BIGINT) AS r\n"
            f"   FROM n LEFT JOIN (SELECT e.dst, r{t}.r FROM e JOIN r{t} ON r{t}.node = e.src) p\n"
            f"     ON p.dst = n.node GROUP BY n.node)"
        )
    denom = SSSP_N * 60**PAGERANK_ITERS
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, r AS rank_scaled,\n"
        f"  CAST((r * CAST(1000000000 AS BIGINT)) // {denom} AS BIGINT) AS rank_ppb\n"
        f"FROM r{PAGERANK_ITERS}"
    )


def _simplify_oracle_sql() -> str:
    eps2 = SIMPLIFY_EPS * SIMPLIFY_EPS

    def m(p):
        cross = f"(vb.lon - va.lon) * ({p}.lat - va.lat) - (vb.lat - va.lat) * ({p}.lon - va.lon)"
        d2 = f"({p}.lon - va.lon) * ({p}.lon - va.lon) + ({p}.lat - va.lat) * ({p}.lat - va.lat)"
        return (
            f"(CASE WHEN vb.lat = va.lat AND vb.lon = va.lon THEN CAST({d2} AS HUGEINT) "
            f"ELSE CAST({cross} AS HUGEINT) * CAST({cross} AS HUGEINT) END)"
        )

    thr = (
        f"(CASE WHEN vb.lat = va.lat AND vb.lon = va.lon THEN CAST({eps2} AS HUGEINT) "
        f"ELSE CAST({eps2} AS HUGEINT) * CAST((vb.lon - va.lon) * (vb.lon - va.lon) "
        f"+ (vb.lat - va.lat) * (vb.lat - va.lat) AS HUGEINT) END)"
    )
    return f"""
        WITH RECURSIVE v AS (
          SELECT user_id AS uid, event_id, lat, lon,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
          FROM ({_SYNTH_SQL})),
        nn AS (SELECT uid, COUNT(*) AS n FROM v GROUP BY 1),
        rec(uid, lo, hi) AS (
          SELECT uid, 0, n - 1 FROM nn WHERE n >= 2
          UNION ALL
          SELECT s.uid, u.a, u.b FROM (
            SELECT r.uid, r.lo, r.hi,
                   (SELECT MIN(p.i) FROM v p
                     WHERE p.uid = r.uid AND p.i > r.lo AND p.i < r.hi
                       AND {m('p')} > {thr}
                       AND {m('p')} = (SELECT MAX({m('q')}) FROM v q
                                       WHERE q.uid = r.uid AND q.i > r.lo AND q.i < r.hi)) AS sp
            FROM rec r
            JOIN v va ON va.uid = r.uid AND va.i = r.lo
            JOIN v vb ON vb.uid = r.uid AND vb.i = r.hi
            WHERE r.hi - r.lo > 1
          ) s, LATERAL (VALUES (s.lo, s.sp), (s.sp, s.hi)) u(a, b)
          WHERE s.sp IS NOT NULL
        ),
        kept AS (
          SELECT uid, lo AS i FROM rec UNION SELECT uid, hi FROM rec
          UNION SELECT uid, 0 FROM nn WHERE n = 1)
        SELECT v.uid AS user_id, v.event_id, v.lat, v.lon
        FROM kept JOIN v ON v.uid = kept.uid AND v.i = kept.i
    """


# DBSCAN gate: the Weyl-lattice synth coords have near-CONSTANT local
# density (measured: neighbor counts 14-15 at r=60k on all 10k points) —
# any threshold makes everything core or everything noise, and the
# all-core case percolates into one giant component that blows up the
# oracle closure. The gate therefore builds a deterministic CLUSTERED
# set: 25 dense 60k-square blobs (event_id < 8000) over a sparse
# background (the rest) — cores inside blobs, borders at blob skirts,
# background noise, all exercised.
DBSCAN_R, DBSCAN_MINPTS = 30_000, 20


def _dbscan_coords(events: DataFrame) -> DataFrame:
    b = F.col("event_id") % 25
    clustered = F.col("event_id") < 8000
    lat = F.when(
        clustered,
        F.lit(LAT0) + (b * 79241) % 1_900_000 + (F.col("event_id") * 48271) % 60_000,
    ).otherwise(F.lit(LAT0) + (F.col("event_id") * A_LAT) % F.lit(LATSPAN))
    lon = F.when(
        clustered,
        F.lit(LON0) + (b * 152917) % 3_900_000 + (F.col("event_id") * 16807) % 60_000,
    ).otherwise(F.lit(LON0) + (F.col("event_id") * A_LON) % F.lit(LONSPAN))
    return events.select("event_id", lat.cast("long").alias("lat"), lon.cast("long").alias("lon"))


_DBSCAN_SQL = f"""SELECT event_id,
    CAST(CASE WHEN event_id < 8000
         THEN {LAT0} + (event_id % 25 * 79241) % 1900000 + (event_id * 48271) % 60000
         ELSE {LAT0} + (event_id * {A_LAT}) % {LATSPAN} END AS BIGINT) AS lat,
    CAST(CASE WHEN event_id < 8000
         THEN {LON0} + (event_id % 25 * 152917) % 3900000 + (event_id * 16807) % 60000
         ELSE {LON0} + (event_id * {A_LON}) % {LONSPAN} END AS BIGINT) AS lon
    FROM events"""


def q_dbscan_events(spark, sf_dir):
    """Point-level exact DBSCAN (Ester et al. 1996): one self radius-
    join, neighbor-count core test, connected components over core-core
    edges (min-core-id labels), min-label border assignment, noise
    absent. Pure composition of radius_join + connected_components."""
    from osmflat_rs_spark.operators.hotspot import dbscan

    pts = _dbscan_coords(_t(spark, sf_dir, "events"))
    return dbscan(pts, DBSCAN_R, DBSCAN_MINPTS, id_col="event_id")


def q_diameter_users(spark, sf_dir):
    """Per-user point-set diameter via the hull reduction (farthest pair
    is realized by hull corners — strict convexity means non-corner
    pairs can't even tie): monotone chain + O(h²) corner scan in one
    applyInPandas kernel. Oracle ignores the hull entirely: brute
    all-pairs max with the same lexicographic pair contract."""
    _prep(spark)
    from osmflat_rs_spark.operators.hull import point_set_diameter

    pts = (
        _synth_coords(_t(spark, sf_dir, "events"))
        .filter(F.col("user_id") % 10 == 0)
        .select("user_id", "lat", "lon")
    )
    return point_set_diameter(pts, "user_id")


def q_hll_distinct_events(spark, sf_dir):
    """Portable HyperLogLog distinct estimate over event_id: relational
    (bucket, rho) registers on the engine-wide md5 hash, integer-exact
    harmonic sum (2^(40−rho) terms), ONE IEEE division for the estimate
    — the whole sketch pipeline bit-reproducible in SQL (the gap the
    JVM HLL++ binary can't close)."""
    from osmflat_rs_spark.operators.sketch import hll_build, hll_estimate

    e = _t(spark, sf_dir, "events")
    return hll_estimate(hll_build(e, "event_id"))


MOVE_VMAX = 50  # units/s — mixes speeding/clean pairs at the gate SFs


def q_movement_events(spark, sf_dir):
    """Per-fix movement profile: ONE entity-keyed lag window, then pure
    codegen exact-int arithmetic — octant sectors from sign/magnitude
    compares (no atan2), speeding via cross-multiplied integer compare
    (no float speed), truncated-seconds dt contract."""
    from osmflat_rs_spark.operators.trajectory import movement_profile

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return movement_profile(pts, "user_id", MOVE_VMAX, ts_col="ts", order_cols=("event_id",))


def q_chaikin_users(spark, sf_dir):
    """Chaikin corner-cutting (2 passes, keep-endpoints, coords scaled
    by 4² exact ints): ONE groupBy collects each user's ordered
    polyline; both subdivision passes are in-row Catalyst HOFs — zero
    Python, codegen — then one posexplode."""
    from osmflat_rs_spark.operators.simplify import chaikin_smooth

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return chaikin_smooth(pts, "user_id", ("ts", "event_id"), iters=2)


def _chaikin_pass_sql(src: str, dst: str) -> str:
    """One keep-endpoints subdivision pass: T(user_id,pos,la,lo) →
    T'(user_id,pos,la,lo) with coords ×4 — mirrors the engine's in-row
    [P0, Q0, R0, …, Pn-1] layout and its consecutive 0-based pos."""
    return f"""
            cnt_{dst} AS (SELECT user_id, COUNT(*) AS n FROM {src} GROUP BY 1),
            seg_{dst} AS (SELECT user_id, pos, la, lo,
                          LEAD(la) OVER w AS la1, LEAD(lo) OVER w AS lo1,
                          row_number() OVER w AS rn
                          FROM {src}
                          WINDOW w AS (PARTITION BY user_id ORDER BY pos)),
            {dst} AS (
              SELECT s.user_id, 0 AS pos, 4 * la AS la, 4 * lo AS lo
              FROM seg_{dst} s JOIN cnt_{dst} USING (user_id) WHERE rn = 1
              UNION ALL
              SELECT s.user_id, 2 * (n - 1) + 1, 4 * la, 4 * lo
              FROM seg_{dst} s JOIN cnt_{dst} USING (user_id) WHERE rn = n AND n >= 2
              UNION ALL
              SELECT user_id, 2 * rn - 1, 3 * la + la1, 3 * lo + lo1
              FROM seg_{dst} WHERE la1 IS NOT NULL
              UNION ALL
              SELECT user_id, 2 * rn, la + 3 * la1, lo + 3 * lo1
              FROM seg_{dst} WHERE la1 IS NOT NULL)"""


MOVE_SPLIT = "2024-01-16 00:00:00"  # mid-range ts cut: both halves non-empty


def q_stream_movement_events(spark, sf_dir):
    """Stateful streaming twin of movement_events: the synth fixes
    replayed time-split as TWO availableNow runs against one checkpoint
    (per-entity last-fix state stitches the batch boundary — no seam
    pair lost, none duplicated); the unioned appends hash-match the
    BATCH operator's oracle."""
    import shutil
    import tempfile

    from osmflat_rs_spark.streaming.incremental import stream_movement_profile

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "user_id", "ts", "event_id", "lat", "lon"
    )
    tmp = tempfile.mkdtemp(prefix="stream_move_")
    pts_dir, ckpt, out = f"{tmp}/pts", f"{tmp}/ck", f"{tmp}/out"
    schema = "user_id long, ts timestamp, event_id long, lat long, lon long"
    cut = F.lit(MOVE_SPLIT).cast("timestamp")
    try:
        pts.filter(F.col("ts") < cut).write.mode("append").parquet(pts_dir)
        q1 = stream_movement_profile(spark, pts_dir, schema, ckpt, out, MOVE_VMAX)
        if not q1.awaitTermination(300):
            q1.stop()
            raise RuntimeError("stream_movement batch 1 did not finish in 300s")
        pts.filter(F.col("ts") >= cut).write.mode("append").parquet(pts_dir)
        q2 = stream_movement_profile(spark, pts_dir, schema, ckpt, out, MOVE_VMAX)
        if not q2.awaitTermination(300):
            q2.stop()
            raise RuntimeError("stream_movement batch 2 did not finish in 300s")
        res = spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return res.select("entity", "t0_us", "dt_us", "d2", "sector", "speeding")


def q_stream_merge_intervals_events(spark, sf_dir):
    """Stateful streaming twin of merge_intervals_events (``incremental.
    stream_merge_intervals``, r5): the same per-user validity windows
    replayed time-split as TWO availableNow runs against one checkpoint
    — per-entity open-run state stitches the batch boundary, only
    CLOSED runs append. Oracle = the batch window SQL minus each user's
    LAST (still-open-in-state) run — exact parity by construction."""
    import shutil
    import tempfile

    from osmflat_rs_spark.streaming.incremental import stream_merge_intervals

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.lit(1) + F.col("event_id") % 9) * F.lit(600_000_000)
        ).alias("e"),
    )
    cut = F.unix_micros(F.lit(MOVE_SPLIT).cast("timestamp"))
    tmp = tempfile.mkdtemp(prefix="stream_merge_")
    src, ckpt, out = f"{tmp}/iv", f"{tmp}/ck", f"{tmp}/out"
    schema = "user_id long, s long, e long"
    try:
        iv.filter(F.col("s") < cut).write.mode("append").parquet(src)
        q1 = stream_merge_intervals(spark, src, schema, ckpt, out)
        if not q1.awaitTermination(300):
            q1.stop()
            raise RuntimeError("stream_merge batch 1 did not finish in 300s")
        iv.filter(F.col("s") >= cut).write.mode("append").parquet(src)
        q2 = stream_merge_intervals(spark, src, schema, ckpt, out)
        if not q2.awaitTermination(300):
            q2.stop()
            raise RuntimeError("stream_merge batch 2 did not finish in 300s")
        res = spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return res.select(
        F.col("entity").cast("long").alias("user_id"), "m_start", "m_end", "n_source"
    )


ISOLATED_R = 15_000

# skyline gate: x = squared distance to the box center, y = synthetic cost
SKY_CLAT, SKY_CLON = LAT0 + LATSPAN // 2, LON0 + LONSPAN // 2


def q_skyline_events(spark, sf_dir):
    """2-D Pareto skyline (closest-and-cheapest frontier): per-x min
    collapse + windowless strict-prefix min + broadcast dimension join
    — no global-order window, no quadratic self-join (that's the
    oracle's job)."""
    from osmflat_rs_spark.operators.skyline import skyline_2d

    e = _synth_coords(_t(spark, sf_dir, "events"))
    scored = e.select(
        "event_id",
        (
            (F.col("lat") - SKY_CLAT) * (F.col("lat") - SKY_CLAT)
            + (F.col("lon") - SKY_CLON) * (F.col("lon") - SKY_CLON)
        ).alias("d2"),
        ((F.col("event_id") * 7919) % 1_000_000).alias("cost"),
    )
    return skyline_2d(scored, "d2", "cost").select("event_id", "d2", "cost")


def q_isolated_events(spark, sf_dir):
    """Distance anti-join (isolated points): the clustered DBSCAN synth
    makes the blobs definitively non-isolated (killed by the phase-1
    same-cell prune with zero pair generation) while sparse Weyl
    background points survive to the exact radius semi-join."""
    from osmflat_rs_spark.operators.knn import isolated_points

    pts = _dbscan_coords(_t(spark, sf_dir, "events"))
    return isolated_points(
        pts, ISOLATED_R, metric="sqeuclid", id_col="event_id"
    ).select("event_id", "lat", "lon")


RIPLEY_RADII = (50_000, 100_000, 200_000, 400_000)
RIPLEY_AREA = float(LATSPAN) * float(LONSPAN)


def q_ripley_events(spark, sf_dir):
    """Ripley's K point-pattern statistic at 4 radii: ONE self radius-
    join at max(r) (cell-cover candidates, exact int64 d²), all radii as
    conditional sums over the same pair pass, in-row unpivot. Oracle is
    the brute-force inequality self-join with FILTER counts — identical
    integer pair counts and identical IEEE k_hat expression."""
    from osmflat_rs_spark.operators.hotspot import ripley_k

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    return ripley_k(pts, list(RIPLEY_RADII), RIPLEY_AREA, id_col="event_id")


HUFF_FACILITIES = [
    (f"f{i}", 524_200_000 + i * 173_000, 132_500_000 + i * 317_000, 1 + (i % 5))
    for i in range(10)
]
HUFF_RADIUS = 600_000


def q_winsorize_events(spark, sf_dir):
    """Per-event-type winsorization of the cents value at the exact
    (1/20, 19/20) discrete quantiles: one window pass computes both
    caps, the (group × 2) cap table broadcasts back, the clamp is pure
    int64 LEAST/GREATEST — bit-exact on both engines."""
    from osmflat_rs_spark.plans.indexing import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return winsorize(ev, "event_type", "v")


def q_robust_scale_events(spark, sf_dir):
    """Per-event-type robust z-scores: exact discrete median/Q1/Q3 from
    one grouped-quantile pass, one exact int64-diff IEEE division — no
    rounding contract needed anywhere."""
    from osmflat_rs_spark.plans.indexing import robust_scale

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return robust_scale(ev, "event_type", "v")


def q_benford_events(spark, sf_dir):
    """Benford first-digit audit of the positive cents values per
    event_type: string-head digit (no float log on the value), exact
    frac, ROUND-9 benford_p, ROUND-6 chi-square over all 9 digits."""
    from osmflat_rs_spark.plans.indexing import benford

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return benford(ev, "event_type", "v")


def q_gini_events(spark, sf_dir):
    """Per-event-type Gini coefficient of the cents value: exact int64
    Lorenz sums (tie-invariant), one deterministic IEEE expression."""
    from osmflat_rs_spark.plans.indexing import gini

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return gini(ev, "event_type", "v")


def q_spearman_events(spark, sf_dir):
    """Per-event-type Spearman rho between cents value and props length:
    tie-correct average ranks kept as exact integer twice-ranks, one
    closed-form six-sum aggregate."""
    from osmflat_rs_spark.plans.indexing import spearman

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.length("props").cast("long").alias("plen"),
    )
    return spearman(ev, "event_type", "v", "plen")


def q_profile_events(spark, sf_dir):
    """One-pass data-quality profile of the events table (portable-type
    projection): exact n / nulls / distincts / min / max per column via
    one multi-count_distinct aggregate + in-row stack."""
    from osmflat_rs_spark.plans.indexing import profile_table

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "props",
    )
    return profile_table(ev)


def q_psi_events(spark, sf_dir):
    """PSI drift between view and purchase cents distributions over 10
    fixed bins of [0, 10000) + overflow bins, add-one smoothed."""
    from osmflat_rs_spark.plans.indexing import psi

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return psi(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "v", lo=0, hi=10_000, bins=10,
    )


def q_ks_events(spark, sf_dir):
    """Exact two-sample KS between view and purchase cents: integer
    d_num over merged cumulative counts, one division."""
    from osmflat_rs_spark.plans.indexing import ks_two_sample

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return ks_two_sample(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "v",
    )


def q_mwu_events(spark, sf_dir):
    """Exact Mann-Whitney U (tie-corrected) between view and purchase
    cents: integer twice-ranks, exact tie moments, one sqrt z."""
    from osmflat_rs_spark.plans.indexing import mann_whitney_u

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return mann_whitney_u(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "v",
    )


def q_trimmed_mean_events(spark, sf_dir):
    """10%-trimmed mean of cents per event_type: exact rational rank
    cut, exact int sums, one IEEE division."""
    from osmflat_rs_spark.plans.indexing import trimmed_mean

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return trimmed_mean(ev, "event_type", "v", trim=(1, 10))


def q_conformal_events(spark, sf_dir):
    """Split conformal intervals per event_type: predictor = exact
    discrete median of the odd-user calibration split, q = exact
    ((n+1)(1-alpha))-rank residual, coverage counted on even users —
    distribution-free ~90% coverage, exact ints until one division."""
    from osmflat_rs_spark.plans.indexing import split_conformal

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    cal = ev.filter(F.pmod(F.col("user_id"), F.lit(2)) == 1)
    ev2 = ev.filter(F.pmod(F.col("user_id"), F.lit(2)) == 0)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("v")
    wall = Window.partitionBy("event_type")
    med = (
        cal.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        .select("event_type", F.col("v").alias("yhat"))
    )
    calp = cal.join(F.broadcast(med), "event_type")
    evp = ev2.join(F.broadcast(med), "event_type")
    return split_conformal(calp, evp, "event_type", "yhat", "v", alpha=(1, 10))


def q_bh_fdr_events(spark, sf_dir):
    """Benjamini–Hochberg FDR over ~60 synthetic tests (event_type ×
    user decile): rational p-values derived deterministically from the
    exact per-test cents sum (mod 997, with the first three deciles
    forced small so the step-up actually rejects), q = 1/4 — the
    decision arithmetic is all-integer cross-multiplication."""
    from osmflat_rs_spark.operators.sessions import bh_fdr

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(10)).alias("b"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    t = ev.groupBy("event_type", "b").agg(F.sum("cents").alias("s"))
    tests = t.select(
        F.concat(F.col("event_type"), F.lit(":"), F.col("b").cast("string")).alias("test"),
        F.when(F.col("b") < 3, F.pmod(F.pmod(F.col("s"), F.lit(997)), F.lit(25)))
        .otherwise(F.pmod(F.col("s"), F.lit(997)))
        .alias("pn"),
        F.lit(997).cast("long").alias("pd"),
    )
    return bh_fdr(tests, "test", "pn", "pd", q=(1, 4))


def q_jackknife_events(spark, sf_dir):
    """Delete-one-bucket jackknife SE for mean cents per event_type,
    buckets = user_id mod 32 — per-bucket exact int sums, fixed-point
    leave-one-out ratios, DECIMAL(38) squares, one float division."""
    from osmflat_rs_spark.operators.sessions import jackknife_ratio

    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.pmod(F.col("user_id"), F.lit(32)).alias("b"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
            F.lit(1).cast("long").alias("one"),
        )
        .filter(F.col("cents").isNotNull())
    )
    return jackknife_ratio(ev, "event_type", "b", "cents", "one")


def q_bootstrap_events(spark, sf_dir):
    """Poisson-bootstrap 95% CI for mean cents per event_type, 100
    replicates: per-(row, replicate) Poisson(1) weight from the
    md5-60bit inverse CDF, exact int64 replicate sums, exact order
    statistics over the replicate means."""
    from osmflat_rs_spark.operators.sessions import poisson_bootstrap

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return poisson_bootstrap(ev, "event_type", "event_id", "cents", replicates=100)


def q_welch_events(spark, sf_dir):
    """Welch unequal-variance t between the click and view arms on
    cents — exact (n, Σx, Σx²) per arm, closed-form t and
    Welch–Satterthwaite df in a pinned double op order."""
    from osmflat_rs_spark.operators.sessions import welch_t

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return welch_t(ev, "event_type", "cents", "click", "view")


def q_acf_events(spark, sf_dir):
    """Per-event_type sample ACF of cents at lags 1..3 in event_id
    order — one window sort yields all lags, one groupBy holds the
    exact int64 cross/head/tail sums, stack unpivots in-row."""
    from osmflat_rs_spark.operators.trend import acf

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return acf(ev, "event_type", "event_id", "cents", max_lag=3)


def q_pmi_docs(spark, sf_dir):
    """PMI collocations over the documents corpus (min_count 5):
    in-row bigrams, shared explode for both reduces, broadcast vocab
    join-back, one pinned-order ln over five exact counts."""
    from osmflat_rs_spark.operators.textops import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), "doc_id", "text", min_count=5)


def q_permutation_events(spark, sf_dir):
    """Hash-randomization test for the click-vs-view cents difference,
    100 deterministic md5 relabelings — exact per-replicate int sums,
    the tail count is an integer-exact double comparison."""
    from osmflat_rs_spark.operators.sessions import permutation_test

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return permutation_test(ev, "event_id", "event_type", "cents", "click", "view", n_perm=100)


def q_cmh_events(spark, sf_dir):
    """Cochran–Mantel–Haenszel click-vs-view conversion (cents > 500)
    stratified by user octant — every per-stratum term snapped to the
    1e6 fixed-point lattice by exact integer long division."""
    from osmflat_rs_spark.operators.sessions import cmh_odds

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(8)).alias("s"),
        "event_type",
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") > 500).cast("int").alias("y"),
    )
    return cmh_odds(ev, "s", "event_type", "y", "click", "view")


def q_decompose_events(spark, sf_dir):
    """Classical period-7 additive decomposition of cents per
    event_type over the dense event order — one window sort for the
    MA trend, fixed-point phase means, broadcast join-back."""
    from pyspark.sql import Window

    from osmflat_rs_spark.operators.trend import decompose

    w = Window.partitionBy("event_type").orderBy("event_id")
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .withColumn("idx", (F.row_number().over(w) - 1).cast("long"))
        .select("event_type", "idx", "cents")
    )
    return decompose(ev, "event_type", "idx", "cents", period=7)


def q_did_events(spark, sf_dir):
    """Difference-in-differences on cents: treat=click vs control=view,
    pre/post = event_id parity — four exact moment cells, unpooled
    Welch-form SE in a pinned double order."""
    from osmflat_rs_spark.operators.sessions import diff_in_diff

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("event_id"), F.lit(2)).alias("per"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return diff_in_diff(ev, "event_type", "per", "cents", "click", "view", 0, 1)


def q_betweenness_graph(spark, sf_dir):
    """Sampled Brandes betweenness over the same deterministic 150-node
    mesh as the SSSP gate, 10 pivot sources — exact-int sigma BFS, the
    backward dependency pass on the 1e-9 fixed-point lattice (order-free
    sums). Rows-only gate: the level-backward recursion is not
    SQL-expressible; parity is pinned by the exact Python model in
    tests/test_graph.py."""
    from osmflat_rs_spark.operators.graph import betweenness

    edges = (
        spark.range(SSSP_N)
        .select(F.col("id").alias("src"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .selectExpr("src", f"(src * 31 + k) % {SSSP_N} AS dst")
    )
    return betweenness(edges, [i * 15 for i in range(10)], max_hops=SSSP_HOPS)


def q_w1_events(spark, sf_dir):
    """Exact 1-Wasserstein distance between click and view cents — the
    CDF-integral drift metric next to the KS sup-norm gate; w1_num is
    an exact int64, one division at the end."""
    from osmflat_rs_spark.plans.indexing import wasserstein1_two_sample

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return wasserstein1_two_sample(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
        "cents",
    )


def q_harmonic_graph(spark, sf_dir):
    """Sampled harmonic centrality over the SSSP mesh from its three
    sources — exact floor(1e9/dist) lattice terms, order-free sums;
    the oracle reruns the bounded recursive walk and the same lattice."""
    from osmflat_rs_spark.operators.graph import harmonic_centrality

    edges = (
        spark.range(SSSP_N)
        .select(F.col("id").alias("src"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .selectExpr("src", f"(src * 31 + k) % {SSSP_N} AS dst")
        .selectExpr("src", "dst", "(src * 7 + dst * 13) % 20 + 1 AS w")
    )
    return harmonic_centrality(edges, list(SSSP_SOURCES), SSSP_HOPS)


def q_lof_events(spark, sf_dir):
    """Local Outlier Factor over a 1/8 subset of the synthetic lattice
    (k=6) through the distributed kNN kernel — fixed-point lrd lattice,
    order-free sums; the oracle is the brute-force all-pairs LOF, valid
    because the kNN pass is exact."""
    _prep(spark)
    from osmflat_rs_spark.operators.knn import lof_scores

    pts = (
        _synth_coords(_t(spark, sf_dir, "events"))
        .filter(F.pmod(F.col("event_id"), F.lit(8)) == 0)
        .select(F.col("event_id").alias("node_idx"), "lat", "lon")
    )
    out = lof_scores(pts, k=6, res=CELL_RES, radius=float(KNN_RADIUS_FIXED))
    return out.select(F.col("node_idx").alias("event_id"), "n_nn", "kdist", "lof")


def q_als_events(spark, sf_dir):
    """ALS item half-step over (user_id, event_type, cents): the
    ratings table collapses to exact int64 sufficient statistics in
    one groupBy, then a single vectorized Arrow batch solves the k x k
    ridge systems. Rows-only gate (a dense LAPACK solve is not
    SQL-restatable — same status as kriging); NumPy-model parity is
    pinned in tests/test_training_ops.py."""
    _prep(spark)
    from osmflat_rs_spark.operators.factorize import als_item_step

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    out = als_item_step(ev, "user_id", "event_type", "cents", k=4, reg=0.05)
    return out.select(
        F.col("item").alias("event_type"), "n_ratings",
        F.col("factors").getItem(0).alias("f0"),
        F.col("factors").getItem(1).alias("f1"),
        F.col("factors").getItem(2).alias("f2"),
        F.col("factors").getItem(3).alias("f3"),
    )


def q_gopher_docs(spark, sf_dir):
    """Gopher-style quality rule bundle over documents (min_words 40
    so both verdicts occur on the synthetic corpus) — every ratio rule
    is an exact cross-multiplied integer comparison, pure codegen."""
    from osmflat_rs_spark.operators.textops import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"), "doc_id", "text", min_words=40)


def q_markov_attr_events(spark, sf_dir):
    """Markov removal-effect attribution over event journeys
    (conversion = 'purchase'): exact int64 transition counts from one
    window + one groupBy, absorbing-chain solve on the driver over the
    channel-bounded matrix. Rows-only gate (dense solve); model parity
    pinned in tests/test_sessions.py."""
    from osmflat_rs_spark.operators.sessions import markov_attribution

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    return markov_attribution(ev, "user_id", "event_id", "event_type", "purchase")


def q_rolling_ols_events(spark, sf_dir):
    """Rolling 11-row OLS slope of cents per event_type over the dense
    event order — constant offset moments, exact windowed int sums,
    two divisions per row."""
    from pyspark.sql import Window

    from osmflat_rs_spark.operators.trend import rolling_ols

    w = Window.partitionBy("event_type").orderBy("event_id")
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .withColumn("idx", (F.row_number().over(w) - 1).cast("long"))
        .select("event_type", "idx", "cents")
    )
    return rolling_ols(ev, "event_type", "idx", "cents", half_window=5)


def q_trending_events(spark, sf_dir):
    """Time-decayed trending top-10 user buckets per event_type — the
    bucketed all-integer exponential decay (quarter-half-life table, no
    pow), skew-capped two-phase top-n."""
    from osmflat_rs_spark.operators.sketch import trending_topk

    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id").alias("_mx"))
    j = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(50)).alias("bucket"),
        (F.col("_mx") - F.col("event_id")).alias("age"),
    )
    return trending_topk(j, "event_type", "bucket", "age", n=10, half_life=2000)


def q_eb_events(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-user conversion
    (cents > 500) — lattice-exact rate moments, moment-matched prior
    broadcast back, posterior-mean re-ranking."""
    from osmflat_rs_spark.operators.sessions import eb_shrinkage

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") > 500).cast("long").alias("conv"),
        F.lit(1).cast("long").alias("one"),
    )
    return eb_shrinkage(ev, "user_id", "conv", "one")


def q_skipgram_docs(spark, sf_dir):
    """Skip-gram pair extraction with deterministic md5 frequency
    subsampling over documents (window 2, t = 1/1000) — the word2vec
    training-pair generator, subsample-then-window semantics."""
    from osmflat_rs_spark.operators.textops import skipgram_pairs

    return skipgram_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        window=2, subsample_t=(1, 1000), min_count=2,
    )


def q_ece_events(spark, sf_dir):
    """Reliability bins + exact-integer ECE over a synthetic
    fixed-point score (pseudo-uniform from cents) against the
    cents>500 label — Σ|n_pos·sc − Σscore| keeps the across-bin sum
    order-free."""
    from osmflat_rs_spark.operators.textops import calibration_ece

    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") * 7919,
               F.lit(1000001)).alias("score_fp"),
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") > 500).cast("int").alias("y"),
    )
    return calibration_ece(ev, "score_fp", "y", n_bins=10)


def q_classreport_events(spark, sf_dir):
    """Per-class precision/recall/F1: actual = event_type, predicted =
    a deterministic 70%-accurate corruption (user decile gate, type
    rotation) — full-outer per-class rollups, NULL-not-zero contracts."""
    from osmflat_rs_spark.plans.indexing import classification_report

    types = F.array(
        F.lit("click"), F.lit("error"), F.lit("purchase"), F.lit("signup"), F.lit("view")
    )
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("actual"),
        F.when(
            F.pmod(F.col("user_id"), F.lit(10)) < 7, F.col("event_type")
        ).otherwise(
            F.element_at(types, F.pmod(F.col("event_id"), F.lit(5)).cast("int") + 1)
        ).alias("pred"),
    )
    return classification_report(ev, "actual", "pred")


def q_target_enc_events(spark, sf_dir):
    """Leave-one-out target encoding of event_type against the
    cents>500 label — all-integer numerator scaled by N, one division
    per row, global-prior smoothing (m=10)."""
    from osmflat_rs_spark.plans.indexing import target_encode_loo

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") > 500).cast("long").alias("y"),
    )
    return target_encode_loo(ev, "event_id", "event_type", "y", prior_strength=10)


def q_woe_events(spark, sf_dir):
    """Weight-of-evidence / information value of the user decile
    against the cents>500 label — one ln per bin over the exact
    cross-multiplied rational, IV as an order-free lattice sum."""
    from osmflat_rs_spark.plans.indexing import woe_iv

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(10)).alias("decile"),
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") > 500).cast("int").alias("y"),
    )
    return woe_iv(ev, "decile", "y")


def q_gwr_events(spark, sf_dir):
    """Geographically weighted regression of cents on a deterministic
    covariate at 250 regression points over the synthetic lattice —
    bisquare kernel weights snapped to a 1e9 lattice from exact int d²,
    so the five weighted moments are order-free; the oracle is the
    brute-force distance-filtered restatement (valid because
    radius_join is exact)."""
    _prep(spark)
    from osmflat_rs_spark.operators.interpolate import gwr_local

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        F.col("event_id").alias("node_idx"), "lat", "lon",
        F.pmod(F.col("event_id"), F.lit(97)).alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    qs = _synth_coords(
        _t(spark, sf_dir, "events").filter(F.pmod(F.col("event_id"), F.lit(40)) == 0)
    ).select(F.col("event_id").cast("string").alias("query_id"), "lat", "lon")
    return gwr_local(pts, qs, "x", "y", bandwidth=300_000.0)


def q_jenks_events(spark, sf_dir):
    """Jenks natural-breaks classification of cents into 5 classes —
    exact 256-bin histogram reduce, Fisher DP over the bins on the
    driver. Rows-only gate (a DP is not SQL-restatable); direct-DP
    model parity in tests/test_interpolate_hotspot.py."""
    from osmflat_rs_spark.operators.hotspot import jenks_breaks

    ev = _t(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    return jenks_breaks(ev, "cents", n_classes=5)


def q_isochrone_graph(spark, sf_dir):
    """Isochrone bands over the SSSP mesh from its three sources at
    thresholds 20/40/60 — exact int distances, integer banding; the
    oracle re-runs the bounded recursive walk and the same banding."""
    from osmflat_rs_spark.operators.graph import isochrone_bands

    edges = (
        spark.range(SSSP_N)
        .select(F.col("id").alias("src"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .selectExpr("src", f"(src * 31 + k) % {SSSP_N} AS dst")
        .selectExpr("src", "dst", "(src * 7 + dst * 13) % 20 + 1 AS w")
    )
    return isochrone_bands(edges, list(SSSP_SOURCES), [20, 40, 60], SSSP_HOPS)


def q_gtest_events(spark, sf_dir):
    """G-test (likelihood-ratio chi-square) of event_type vs user
    parity — one ln per cell over the exact cross-multiplied rational,
    lattice-snapped terms, order-free sum."""
    from osmflat_rs_spark.plans.indexing import g_test_independence

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.pmod(F.col("user_id"), F.lit(4)).alias("q"),
    )
    return g_test_independence(ev, "event_type", "q")


def q_forecast_acc_events(spark, sf_dir):
    """MAE/RMSE/sMAPE/MASE of a deterministic shrunk forecast
    (f = 0.9·cents + 50, integer arithmetic) per event_type over the
    event order — exact numerators, lattice-snapped sMAPE terms,
    MASE as an exact-int cross ratio."""
    from osmflat_rs_spark.operators.trend import forecast_accuracy

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("a"),
    ).withColumn("f", F.expr("(a * 9) div 10 + 50"))
    return forecast_accuracy(ev, "event_type", "event_id", "a", "f")


def q_sliding_distinct_events(spark, sf_dir):
    """Exact 3-step sliding distinct users per event_type over the
    integer event-second axis — in-row covering-window explode, one
    two-phase distinct aggregate."""
    from osmflat_rs_spark.operators.sessions import sliding_distinct

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "user_id",
    ).withColumn("tick", F.expr("us div 3600000000"))
    return sliding_distinct(ev, "event_type", "tick", "user_id", window=24, step=8)


def q_qn_events(spark, sf_dir):
    """Per-event_type quantile normalization of cents — average tie
    ranks from one sort, the (rmin+rmax−2)/(2(n−1)) exact-rational
    form, singletons at 0.5."""
    from osmflat_rs_spark.plans.indexing import quantile_normalize

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return quantile_normalize(ev, "event_type", "event_id", "cents")


def q_mde_events(spark, sf_dir):
    """Minimum-detectable-effect readout of cents per event_type at
    the default 5%/80% design — exact moments, closed-form doubles."""
    from osmflat_rs_spark.operators.sessions import mde_readout

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return mde_readout(ev, "event_type", "cents")


def q_kappa_events(spark, sf_dir):
    """Cohen's kappa between event_type and the classreport gate's
    deterministic 70%-accurate corruption — the whole statistic is one
    exact int64 cross ratio (N·Σdiag − Σr·c)/(N² − Σr·c)."""
    from osmflat_rs_spark.plans.indexing import cohens_kappa

    types = F.array(
        F.lit("click"), F.lit("error"), F.lit("purchase"), F.lit("signup"), F.lit("view")
    )
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.when(
            F.pmod(F.col("user_id"), F.lit(10)) < 7, F.col("event_type")
        ).otherwise(
            F.element_at(types, F.pmod(F.col("event_id"), F.lit(5)).cast("int") + 1)
        ).alias("b"),
    )
    return cohens_kappa(ev, "a", "b")


def q_xi_events(spark, sf_dir):
    """Chatterjee xi of cents against the synthetic longitude per
    event_type — tie-robust all-integer numerator/denominator from two
    window sorts, one division."""
    from osmflat_rs_spark.plans.indexing import chatterjee_xi

    ev = _synth_coords(_t(spark, sf_dir, "events")).select(
        "event_type", "event_id", "lon",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return chatterjee_xi(ev, "event_type", "lon", "cents", "event_id")


def q_huff_events(spark, sf_dir):
    """Huff probabilistic market share at 10 facilities (the kNN gate's
    lattice, attractiveness 1..5): regularized inverse-square weight
    A/(d²+1) on exact int64 d², one groupBy(point) normalizer, one join
    back. p rounded at 9 (the ≤10-term float normalizer is the one
    reassociation-sensitive fold)."""
    from osmflat_rs_spark.operators.interpolate import huff_probabilities

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    out = huff_probabilities(pts, HUFF_FACILITIES, HUFF_RADIUS, id_col="event_id")
    return out.select(
        "event_id", "facility_id", "attractiveness", "d2",
        F.round("p", 9).alias("p"),
    )


def q_gfunction_events(spark, sf_dir):
    """Nearest-neighbour distance distribution Ĝ(r) at the Ripley radii,
    censored at max(r) (the bounded-join contract): one self radius-join,
    one min per point, all radii as conditional sums over the same min
    table. Oracle: brute bbox-prefiltered min self-join with FILTER
    counts — identical integers, one IEEE division."""
    from osmflat_rs_spark.operators.hotspot import g_function

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    return g_function(pts, list(RIPLEY_RADII), id_col="event_id")


VARIO_W = 100_000  # lag width, fixed-point units
VARIO_LAGS = 4


def q_clark_evans_events(spark, sf_dir):
    """Clark-Evans nearest-neighbour index censored at the Ripley rmax:
    one self radius-join + per-point min (the G-function machinery),
    CSR expectation from the exact-int bbox window."""
    from osmflat_rs_spark.operators.hotspot import clark_evans

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    return clark_evans(pts, rmax=max(RIPLEY_RADII), id_col="event_id")


def q_spatial_chi2_events(spark, sf_dir):
    """Chi-square independence of (res-12 cell) x event_type: exact int
    contingency counts, zero-observation pairs folded in closed form
    (never materializing the cells x cats grid)."""
    from osmflat_rs_spark.operators.hotspot import spatial_chi2

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return spatial_chi2(pts, "event_type", "lat", "lon", res=12)


def q_homerange_events(spark, sf_dir):
    """95% volume contour of the res-12 density surface: windowless
    global density ranking (range-partitioned ordered scan), exact-int
    membership 100*cum0 < 95*N with cum0 = cum - n."""
    from osmflat_rs_spark.operators.hotspot import home_range

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return home_range(pts, q_pct=95, res=12)


def q_segregation_events(spark, sf_dir):
    """Theil information-theory segregation H of event_type across
    res-12 cells: two aggregates over the reduced (cell, cat) table via
    the n*E decomposition identity."""
    from osmflat_rs_spark.operators.hotspot import segregation_h

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return segregation_h(pts, "event_type", res=12)


def q_emst_events(spark, sf_dir):
    """Euclidean minimum spanning forest of the event points over the
    bounded radius graph (w = exact int64 d2): distributed Boruvka —
    per-component argmin + CC contraction, O(log n) rounds. Iterative
    contraction is not SQL-restatable, so rows-only; the Prim
    edge-set-equality pytest is the correctness check."""
    _prep(spark)
    from osmflat_rs_spark.operators.graph import boruvka_mst
    from osmflat_rs_spark.operators.knn import radius_join

    pts = (
        _synth_coords(_t(spark, sf_dir, "events"))
        .filter(F.pmod(F.col("event_id"), F.lit(4)) == 0)
        .select("event_id", "lat", "lon")
    )
    q = pts.select(F.col("event_id").cast("string").alias("query_id"), "lat", "lon")
    # the self radius-join emits each undirected edge once per
    # orientation with the same d2; keeping query < point halves the
    # edge list with a free filter (boruvka's min-struct reductions
    # absorb the duplicates exactly; the filter only shrinks its input)
    pairs = radius_join(
        pts, q, radius_m=KNN_RADIUS_FIXED, res=CELL_RES, metric="sqeuclid",
        id_col="event_id",
    ).filter(F.col("query_id").cast("long") < F.col("event_id"))
    edges = pairs.select(
        F.col("query_id").cast("long").alias("src"),
        F.col("event_id").alias("dst"),
        F.col("dist_m").alias("w"),
    )
    return boruvka_mst(edges)


def q_cramers_v_events(spark, sf_dir):
    """Cramér's V effect size for the cell x event_type association:
    V = sqrt(chi2 / (n·min(r−1, c−1))) derived from the spatial
    chi-square gate — the bounded [0,1] strength number the raw chi2
    (which grows with n) cannot give."""
    base = q_spatial_chi2_events(spark, sf_dir)
    mind = F.least(F.col("n_cells") - 1, F.col("n_cats") - 1)
    return base.select(
        "n", "chi2",
        F.round(F.sqrt(F.col("chi2") / (F.col("n") * mind)), 6).alias("v"),
    )


def q_spatial_mi_events(spark, sf_dir):
    """Mutual information + NMI of (res-12 cell) x event_type: observed
    pairs only (zeros contribute exactly 0), margins from the reduced
    table, ROUND-6 ln sums."""
    from osmflat_rs_spark.operators.hotspot import spatial_mutual_information

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return spatial_mutual_information(pts, "event_type", res=12)


def q_variogram_events(spark, sf_dir):
    """Empirical (Matheron) semivariogram over the event value field:
    ONE self radius-join at max lag (cell-cover candidates, exact int64
    d² and (Δv)²), unordered-pair dedup, floor(sqrt(d²)/w) lag binning,
    γ̂ = Σ(Δv)²/(2N) as one exact-int division. Values are pre-scaled
    to int64 cents so every sum is exact; the oracle is the brute
    bbox-prefiltered inequality self-join with the identical IEEE lag
    and gamma expressions."""
    from osmflat_rs_spark.operators.hotspot import empirical_variogram

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "event_id", "lat", "lon",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return empirical_variogram(pts, VARIO_W, VARIO_LAGS, id_col="event_id")


def q_sssp_graph(spark, sf_dir):
    """Multi-source hop-bounded shortest paths (distributed Bellman-Ford,
    delta relaxation, per-round localCheckpoint). The hop bound is part
    of the semantics — exactly a bounded recursive-CTE walk in DuckDB."""
    from osmflat_rs_spark.operators.graph import shortest_paths

    edges = (
        spark.range(SSSP_N)
        .select(F.col("id").alias("src"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .selectExpr(
            "src",
            f"(src * 31 + k) % {SSSP_N} AS dst",
        )
        .selectExpr("src", "dst", "(src * 7 + dst * 13) % 20 + 1 AS w")
    )
    return shortest_paths(edges, list(SSSP_SOURCES), SSSP_HOPS)


def q_pagerank_graph(spark, sf_dir):
    """PageRank centrality over the same deterministic 150-node road
    mesh as the SSSP gate: 4 power iterations in EXACT integer
    arithmetic (rank scaled by n·60^t — see pagerank_uniform), so the
    oracle's chained CTEs reproduce every value bit-for-bit with no
    float tolerance anywhere."""
    from osmflat_rs_spark.operators.graph import pagerank_uniform

    edges = (
        spark.range(SSSP_N)
        .select(F.col("id").alias("src"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .selectExpr("src", f"(src * 31 + k) % {SSSP_N} AS dst")
    )
    return pagerank_uniform(edges, SSSP_N, 3, PAGERANK_ITERS)


HITS_ITERS = 2


def q_hits_graph(spark, sf_dir):
    """HITS hubs & authorities over the same deterministic 150-node mesh
    as the SSSP/PageRank gates: 2 full rounds of the UNNORMALIZED exact-
    int64 recurrence (normalization only rescales at fixed iteration
    count), so the oracle's chained CTEs reproduce every value
    bit-for-bit — no float tolerance anywhere."""
    from osmflat_rs_spark.operators.graph import hits_scores

    edges = (
        spark.range(SSSP_N)
        .select(F.col("id").alias("src"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .selectExpr("src", f"(src * 31 + k) % {SSSP_N} AS dst")
    )
    return hits_scores(edges, SSSP_N, HITS_ITERS)


WALK_LEN, WALKS_PER_NODE = 4, 2


def q_walks_graph(spark, sf_dir):
    """Deterministic random-walk corpus (DeepWalk sampling, hash-driven
    neighbor choice) over the 150-node mesh: 2 walks per node, 4 steps,
    neighbor index = md5₆₀('rw:walk:step') mod sorted out-degree. Every
    row is a pure function of the graph — the recursive-CTE oracle
    reproduces the corpus bit-for-bit."""
    from osmflat_rs_spark.operators.graph import random_walks

    edges = (
        spark.range(SSSP_N)
        .select(F.col("id").alias("src"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .selectExpr("src", f"(src * 31 + k) % {SSSP_N} AS dst")
    )
    return random_walks(edges, SSSP_N, WALK_LEN, WALKS_PER_NODE)


# graph-analytics gates: a composite deterministic graph — triangle-rich
# 100-node core mesh + 10 attached 5-node chains, so the k-core peel
# takes 5 rounds (model-verified) and link prediction has 220 pairs
KCORE_K = 2
KCORE_ORACLE_ROUNDS = 8  # fixpoint at 5; extra rounds are idempotent


def _gate_graph_edges(spark):
    """The composite gate graph as a raw (src, dst) edge list — the
    operators canonicalize to a simple undirected graph themselves."""
    core = (
        spark.range(100)
        .select(
            F.col("id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .selectExpr("src", "(src * 31 + k) % 100 AS dst")
        .filter("src <> dst")
    )
    heads = spark.range(10).selectExpr("id AS src", "100 + 5 * id AS dst")
    chains = (
        spark.range(10)
        .selectExpr("id AS c")
        .select("c", F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"))
        .selectExpr("100 + 5 * c + j AS src", "101 + 5 * c + j AS dst")
    )
    return core.unionByName(heads).unionByName(chains).select("src", "dst")


# the same graph in DuckDB: UNION (distinct) of the three edge families,
# already canonicalized to u < v
_GATE_GRAPH_SQL = """
    SELECT LEAST(s.src, (s.src * 31 + t.k) % 100) AS u,
           GREATEST(s.src, (s.src * 31 + t.k) % 100) AS v
    FROM generate_series(0, 99) s(src), generate_series(1, 3) t(k)
    WHERE s.src <> (s.src * 31 + t.k) % 100
    UNION
    SELECT c.c AS u, 100 + 5 * c.c AS v FROM generate_series(0, 9) c(c)
    UNION
    SELECT 100 + 5 * c.c + j.j AS u, 101 + 5 * c.c + j.j AS v
    FROM generate_series(0, 9) c(c), generate_series(0, 3) j(j)
"""


def q_copurchase_parts(spark, sf_dir):
    """Market-basket co-occurrence of parts within orders (lineitem
    baskets): in-row pair fan-out from sorted distinct item lists,
    threshold 2 — the "bought together" projection."""
    from osmflat_rs_spark.operators.graph import cooccurrence_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_count=2)


def q_triangles_graph(spark, sf_dir):
    """Exact per-node triangle counts via the degree-oriented wedge join
    (orientation bounds wedge fan-out by O(sqrt(m)) — the published
    curse-of-the-last-reducer fix). Oracle: canonical u<v<w 3-way
    self-join; both sides exact integers."""
    from osmflat_rs_spark.operators.graph import triangle_count

    return triangle_count(_gate_graph_edges(spark))


def q_linkpred_graph(spark, sf_dir):
    """Common-neighbor link prediction over non-adjacent pairs:
    exact n_common/deg counts + one IEEE division for jaccard (bit-
    restatable in SQL, no tolerance)."""
    from osmflat_rs_spark.operators.graph import common_neighbor_pairs

    return common_neighbor_pairs(_gate_graph_edges(spark), min_common=2)


def q_kcore_graph(spark, sf_dir):
    """k-core by distributed iterative peeling (confluent fixpoint →
    partition-invariant; engine exits at convergence, oracle chains a
    fixed 8 peel rounds past the model-verified 5-round fixpoint)."""
    from osmflat_rs_spark.operators.graph import k_core

    return k_core(_gate_graph_edges(spark), KCORE_K)


def q_clustering_graph(spark, sf_dir):
    """Local clustering coefficient (triangle_count's oriented wedge
    join + one degree join); coef = 2T/(deg·(deg−1)) — one IEEE
    division on exact ints, deg-1 nodes emit 0.0 by contract."""
    from osmflat_rs_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_gate_graph_edges(spark))


def q_assortativity_graph(spark, sf_dir):
    """Newman degree assortativity: one-row (m, r); the three moment
    sums over edge-endpoint pairs accumulate as exact decimal/HUGEINT,
    r is a fixed IEEE expression on them (round 6)."""
    from osmflat_rs_spark.operators.graph import degree_assortativity

    return degree_assortativity(_gate_graph_edges(spark))


ADAPT_LEVEL, ADAPT_CAP = 18, 20


def q_stitch_events(spark, sf_dir):
    """Polyline stitching / line merge (``graph.stitch_lines``, r5):
    segments synthesized from event_id in blocks of 20 — even blocks
    close into rings, odd blocks stay open paths (their closing segment
    is filtered out) — so the ring / path classification and the exact
    degree rollups are all exercised. Engine = distributed min-label CC
    + two map-side rollups; oracle = recursive-CTE label walk + the
    same degree arithmetic. All-integer row set."""
    from osmflat_rs_spark.operators.graph import stitch_lines

    e = F.col("event_id")
    seg = (
        _t(spark, sf_dir, "events")
        .select("event_id")
        .filter(~((e % 20 == 19) & (F.expr("event_id div 20") % 2 == 1)))
        .select(
            e.alias("seg_id"),
            e.alias("a"),
            F.when(e % 20 == 19, e - 19).otherwise(e + 1).alias("b"),
            (F.lit(1) + e % 5).cast("long").alias("w"),
        )
    )
    return stitch_lines(seg, "seg_id", "a", "b", weight_col="w")


def q_adaptive_grid_events(spark, sf_dir):
    """Adaptive quadtree aggregation: coarsest leaf cover with ≤ cap
    points per cell (forced leaves at max_level). One point-sized
    exchange + max_level occupied-cell rollups; the split test is LOCAL
    because subtree counts are monotone up the hierarchy."""
    from osmflat_rs_spark.operators.tiling import adaptive_grid

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return adaptive_grid(pts, max_level=ADAPT_LEVEL, cap=ADAPT_CAP)


def _adaptive_oracle_sql() -> str:
    lon_off, lon_span = 1_800_000_000, 3_600_000_000
    lat_off, lat_span = 900_000_000, 1_800_000_000
    L, cap = ADAPT_LEVEL, ADAPT_CAP

    def q(col, off, span):
        n = 1 << L
        return (
            f"GREATEST(0, LEAST({n - 1}, "
            f"CAST(FLOOR((({col} + {off}) * {n}) / {span}) AS BIGINT)))"
        )

    ctes = [
        f"pts AS (SELECT lat, lon FROM ({_SYNTH_SQL}))",
        f"c{L} AS (SELECT {q('lon', lon_off, lon_span)} AS ix, "
        f"{q('lat', lat_off, lat_span)} AS iy, COUNT(*) AS n FROM pts GROUP BY 1, 2)",
    ]
    for lvl in range(L - 1, -1, -1):
        ctes.append(
            f"c{lvl} AS (SELECT ix // 2 AS ix, iy // 2 AS iy, SUM(n) AS n "
            f"FROM c{lvl + 1} GROUP BY 1, 2)"
        )
    branches = [
        f"SELECT CAST(0 AS INT) AS level, ix, iy, CAST(n AS BIGINT) AS n "
        f"FROM c0 WHERE n <= {cap}"
    ]
    for lvl in range(1, L + 1):
        own = f"AND c{lvl}.n <= {cap}" if lvl < L else ""
        branches.append(
            f"SELECT CAST({lvl} AS INT) AS level, c{lvl}.ix, c{lvl}.iy, "
            f"CAST(c{lvl}.n AS BIGINT) AS n "
            f"FROM c{lvl} JOIN c{lvl - 1} p ON p.ix = c{lvl}.ix // 2 "
            f"AND p.iy = c{lvl}.iy // 2 WHERE p.n > {cap} {own}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(branches)


def _kcore_oracle_sql() -> str:
    ctes = [
        f"ge AS ({_GATE_GRAPH_SQL})",
        "adj AS (SELECT u, v FROM ge UNION ALL SELECT v AS u, u AS v FROM ge)",
        "n0 AS (SELECT DISTINCT u AS node FROM adj)",
    ]
    for t in range(KCORE_ORACLE_ROUNDS):
        ctes.append(
            f"n{t + 1} AS (SELECT a.u AS node FROM adj a\n"
            f"  JOIN n{t} x ON x.node = a.u JOIN n{t} y ON y.node = a.v\n"
            f"  GROUP BY a.u HAVING COUNT(*) >= {KCORE_K})"
        )
    last = f"n{KCORE_ORACLE_ROUNDS}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT a.u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
        FROM adj a JOIN {last} x ON x.node = a.u JOIN {last} y ON y.node = a.v
        GROUP BY a.u
        """
    )


LPA_ITERS = 4


def q_lpa_graph(spark, sf_dir):
    """Community detection by synchronous deterministic label
    propagation (Raghavan 2007, GraphX-style fixed rounds) over the
    composite gate graph: every node simultaneously adopts its
    neighbors' most frequent label, ties to the smallest, 4 rounds.
    Engine: one join + one map-side count + one struct-argmax per
    round; oracle: the identical rounds as chained CTEs (ROW_NUMBER
    argmax). Pure integer labels → bit-exact."""
    from osmflat_rs_spark.operators.graph import label_propagation

    return label_propagation(_gate_graph_edges(spark), iters=LPA_ITERS)


def _lpa_oracle_sql() -> str:
    ctes = [
        f"ge AS ({_GATE_GRAPH_SQL})",
        "ed AS (SELECT u, v FROM ge UNION SELECT v AS u, u AS v FROM ge)",
        "l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM ed)",
    ]
    for t in range(LPA_ITERS):
        ctes.append(
            f"c{t + 1} AS (SELECT ed.u AS node, l.lbl, COUNT(*) AS c\n"
            f"  FROM ed JOIN l{t} l ON l.node = ed.v GROUP BY ed.u, l.lbl)"
        )
        ctes.append(
            f"w{t + 1} AS (SELECT node, lbl FROM (\n"
            f"  SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node\n"
            f"    ORDER BY c DESC, lbl ASC) AS rn FROM c{t + 1}) WHERE rn = 1)"
        )
        ctes.append(
            f"l{t + 1} AS (SELECT p.node, COALESCE(w{t + 1}.lbl, p.lbl) AS lbl\n"
            f"  FROM l{t} p LEFT JOIN w{t + 1} ON w{t + 1}.node = p.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community
        FROM l{LPA_ITERS}
        """
    )


def q_resample_events(spark, sf_dir):
    """Uniform-time trajectory resampling (per-user pings → epoch-aligned
    6h ticks, linear interpolation): one lead window + in-row tick
    fan-out + codegen interpolation. Exact long tick indices (`div`),
    identical IEEE double interpolation both engines, 6-decimal round."""
    from osmflat_rs_spark.operators.trajectory import resample_time

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = resample_time(
        pts, "user_id", RESAMPLE_STEP_US, ts_col="ts", value_cols=("lat", "lon"),
        order_cols=("event_id",),
    )
    # NO rounding: the interpolation is a single non-reassociated IEEE
    # expression — both engines produce bit-identical doubles, and
    # decimal rounding would only REINTRODUCE divergence (Spark rounds
    # via BigDecimal, DuckDB in floating point: at 5e8 magnitude the
    # 6th decimal differs by 1 ulp on ~0.6% of rows — measured)
    return out.select("user_id", "tick_us", "lat", "lon")


def q_fill_cells(spark, sf_dir):
    """Polygon interior rasterization: all res-16 cells whose exact
    integer center each polygon contains (boundary-inclusive even-odd —
    the hexhole polygon's hole stays unfilled). Candidates are an in-row
    bbox fan-out on the POLYGON side + one distinct, refined by the
    standard two-phase PIP join; the oracle re-derives every (polygon,
    cell) pair from a generous global cell universe with the literal
    half-plane predicates — different candidate structure, same exact
    arithmetic."""
    from osmflat_rs_spark.operators.fill import polygon_fill_cells

    rows = [(pid, [[(la, lo) for lo, la in ring]]) for pid, ring in FILL_POLYS]
    rows.append(
        ("hexhole", [[(la, lo) for lo, la in HEX_RING], [(la, lo) for lo, la in HOLE_RING]])
    )
    polys = spark.createDataFrame(
        rows, schema="polygon_id string, rings array<array<struct<lat:long,lon:long>>>"
    )
    return polygon_fill_cells(polys, res=16)


def q_knn_events(spark, sf_dir):
    """kNN through the engine's fully-distributed cell-cover operator
    (``knn_join_bulk``): exact integer squared-euclid metric, pure-JVM
    distance, cell equi-join — NO full-corpus crossJoin anywhere in the
    plan (exact_fallback=False; settledness at the gate radius is
    asserted in tests). Tie-break (d2, id) matches the SQL oracle, which
    stays the brute-force formulation (valid because the operator is
    exact when settled)."""
    _prep(spark)
    from osmflat_rs_spark.operators.knn import knn_join_bulk

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    # r6: literal inline rows, not createDataFrame(list) — the list form
    # parallelizes 10 rows over defaultParallelism pickle partitions, so
    # every broadcast build of the query side ran ~32 Python worker
    # tasks; the inline form is one JVM partition, zero Python.
    q = _lit_rows(spark, KNN_QUERIES, "query_id string, lat long, lon long")
    out = knn_join_bulk(
        pts,
        q,
        k=KNN_K,
        res=CELL_RES,
        radius_m=KNN_RADIUS_FIXED,
        metric="sqeuclid",
        id_col="event_id",
        exact_fallback=False,
    )
    return out.select(
        "query_id", F.col("rank").alias("rnk"), "event_id", F.col("dist_m").alias("d2")
    )


def q_radius_events(spark, sf_dir):
    """Geodesic radius join (``knn.radius_join``, r5) — the third classic
    spatial join next to PIP and kNN: ALL (query, event) pairs within the
    gate radius, cell-cover candidates + exact int64 d², pure JVM end to
    end. Unconditionally exact (the cover is a superset of the metric
    disk), so the SQL oracle is the brute-force cross-join formulation
    and the hash compare is integer-exact."""
    _prep(spark)
    from osmflat_rs_spark.operators.knn import radius_join

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    q = spark.createDataFrame(KNN_QUERIES, schema="query_id string, lat long, lon long")
    out = radius_join(
        pts,
        q,
        radius_m=KNN_RADIUS_FIXED,
        res=CELL_RES,
        metric="sqeuclid",
        id_col="event_id",
    )
    return out.select("query_id", "event_id", F.col("dist_m").alias("d2"))


def q_hansen_events(spark, sf_dir):
    """Hansen gravity accessibility at the kNN query lattice: sum of
    w·R²/(R²+d²) over events within the gate radius (exact int64 d²
    via the radius-join machinery), zero-neighbor queries kept at 0."""
    _prep(spark)
    from osmflat_rs_spark.operators.interpolate import hansen_accessibility

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "event_id", "lat", "lon",
        (F.pmod(F.col("event_id"), F.lit(5)) + 1).cast("long").alias("w"),
    )
    q = spark.createDataFrame(KNN_QUERIES, schema="query_id string, lat long, lon long")
    return hansen_accessibility(
        pts, q, radius_m=KNN_RADIUS_FIXED, weight_col="w",
        scale_l2=KNN_RADIUS_FIXED ** 2, res=CELL_RES, id_col="event_id",
    )


def q_gravity_events(spark, sf_dir):
    """Gravity-model calibration over user-transition flows: consecutive
    events per user become zone-to-zone trips (coarse 500k zones), then
    one closed-form log-log OLS of margin-normalized flow on ln(d2+1).
    Slope = -beta/2."""
    from pyspark.sql import Window

    from osmflat_rs_spark.operators.interpolate import gravity_calibrate

    Z = 500_000
    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "user_id", "event_id",
        F.expr(f"lat div {Z}").alias("zx"), F.expr(f"lon div {Z}").alias("zy"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    tr = pts.select(
        (F.lag("zx").over(w) * 1000 + F.lag("zy").over(w)).alias("o"),
        (F.col("zx") * 1000 + F.col("zy")).alias("d"),
        (F.col("zx") - F.lag("zx").over(w)).alias("dx"),
        (F.col("zy") - F.lag("zy").over(w)).alias("dy"),
    ).filter(F.col("o").isNotNull())
    flows = tr.groupBy("o", "d").agg(
        F.count(F.lit(1)).alias("t"),
        F.first(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")).alias("d2"),
    )
    return gravity_calibrate(flows, "o", "d", "t", "d2")


def q_kriging_events(spark, sf_dir):
    """Ordinary kriging at the kNN query lattice (k=8, exponential
    variogram): batched (k+1)-square Arrow solves over bulk-kNN
    neighborhoods. Dense linear solves are not SQL-restatable, so this
    gate is rows-only; the NumPy reference-solve pytest is the
    correctness check (BPE/IVF-trainer precedent)."""
    _prep(spark)
    from osmflat_rs_spark.operators.interpolate import kriging_interpolate

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "event_id", "lat", "lon",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    q = spark.createDataFrame(KNN_QUERIES, schema="query_id string, lat long, lon long")
    return kriging_interpolate(
        pts, q, value_col="v", k=8, nugget=100.0, sill=2500.0,
        range_=float(KNN_RADIUS_FIXED), res=CELL_RES,
    )


def q_coloc_events(spark, sf_dir):
    """Spatiotemporal co-location self-join (``coloc.coloc_pairs``, r5)
    — all event pairs within BOTH the gate radius and the 1h window, via
    one composite (cell_x, cell_y, time_bucket) equi-join with a 3x3x3
    neighborhood explode; exact by cover-superset construction, so the
    SQL oracle is the brute-force inequality join and the hash compare
    is integer-exact (d2 and dt_us are int64 arithmetic in both
    engines; unix_micros == epoch_us on the same parquet timestamps)."""
    _prep(spark)
    from osmflat_rs_spark.operators.coloc import coloc_pairs

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        # NTZ->TZ cast is exact under the session's pinned UTC (the
        # sessions/dwell _us contract), then micros == DuckDB epoch_us
        "event_id", "lat", "lon",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    return coloc_pairs(
        pts, radius=COLOC_RADIUS_FIXED, window_us=COLOC_WINDOW_US, id_col="event_id"
    )


KMEANS_CENTS = [
    (LAT0 + LATSPAN // 4, LON0 + LONSPAN // 4),
    (LAT0 + LATSPAN // 4, LON0 + 3 * LONSPAN // 4),
    (LAT0 + 3 * LATSPAN // 4, LON0 + LONSPAN // 2),
    (LAT0 + LATSPAN // 2, LON0 + LONSPAN // 2),
]


# convex AOI for the Cyrus-Beck gate: a CCW pentagon around the middle
# of the synth domain, sized so segments cross, touch, and miss it
AOI_POLY = [
    (LON0 + 1_000_000, LAT0 + 300_000),
    (LON0 + 3_200_000, LAT0 + 600_000),
    (LON0 + 3_000_000, LAT0 + 1_500_000),
    (LON0 + 1_800_000, LAT0 + 1_800_000),
    (LON0 + 700_000, LAT0 + 1_200_000),
]


def q_clip_convex_events(spark, sf_dir):
    """Cyrus–Beck convex-AOI segment clipping (``clip.
    clip_segments_convex``, r5): the tile-cut gate's GPS-trace segments
    clipped to a CCW pentagon — m unrolled integer half-plane tests,
    map-only, zero shuffle; floats only in the −S/D divisions and the
    final p + t·d, in ONE fixed op order the oracle mirrors literally —
    emitted UNROUNDED, bit-identical cross-engine (each float is a
    single correctly-rounded op from exact ints; rounding would
    reintroduce the midpoint-semantics divergence it usually prevents).
    Coordinates here are (x=lon, y=lat)."""
    _prep(spark)
    from osmflat_rs_spark.operators.clip import clip_segments_convex

    e = _synth_coords(_t(spark, sf_dir, "events"))
    segs = e.select(
        F.col("event_id").alias("sid"),
        F.col("lon").alias("x0"),
        F.col("lat").alias("y0"),
        (F.col("lon") + (F.col("event_id") * 48271 + 11) % 131073 - 65536).alias("x1"),
        (F.col("lat") + (F.col("event_id") * 16807 + 7) % 131073 - 65536).alias("y1"),
    )
    # UNROUNDED on purpose (the densify precedent): every step is one
    # correctly-rounded IEEE op from exact ints, so the doubles are
    # bit-identical cross-engine — round-6 would be WEAKER here (a
    # coordinate landed exactly on a .xxx0635 decimal midpoint and
    # Spark's HALF_UP-on-BigDecimal disagreed with DuckDB's float round)
    return clip_segments_convex(segs, AOI_POLY, id_col="sid")


def q_kmeans_step_events(spark, sf_dir):
    """One exact Lloyd assignment + partial-sum step (``knn.
    kmeans_assign_step``, r5) over four fixed centroids: argmin of
    int64 squared distances with first-match (lowest-index) ties,
    map-side-combined integer sums — the distributed k-means inner
    loop as an all-integer gate (the iterated float trainer,
    ``ann.train_ivf_centroids``, runs driver-side on a sample and stays
    model-tested; this pins the assignment semantics cross-engine).
    Oracle restates
    list_position(list_min) over the same distance list."""
    _prep(spark)
    from osmflat_rs_spark.operators.knn import kmeans_assign_step

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return kmeans_assign_step(pts, KMEANS_CENTS)


def q_knox_events(spark, sf_dir):
    """Knox space-time interaction statistic (``coloc.knox_statistic``,
    r5): one row of exact-int pair counts — spacetime (x_knox), spatial
    (n_space), temporal (n_time), total — plus the independence-null
    expected value and Poisson z, each a fixed left-associated IEEE
    expression over the exact counts (round-6, well inside the <9e9
    portability band). Engine side is three sub-quadratic grid/band
    COUNT joins; the oracle is the one brute-force pair scan with
    conditional counts — opposite plans, identical integers."""
    _prep(spark)
    from osmflat_rs_spark.operators.coloc import knox_statistic

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "event_id", "lat", "lon",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    return knox_statistic(
        pts, radius=COLOC_RADIUS_FIXED, window_us=COLOC_WINDOW_US, id_col="event_id"
    )


def q_cell_index_events(spark, sf_dir):
    """The Morton quadtree cell encoder (H3/S2 analog) — pure JVM bit
    arithmetic, reproduced bit-for-bit by the SQL oracle."""
    from osmflat_rs_spark.functions.cells import cell_id_expr, parent_expr

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    cell = cell_id_expr("lat", "lon", CELL_RES)
    return pts.select(
        "event_id", cell.alias("cell"), parent_expr(cell, 2).alias("cell_parent2")
    )


# hexagon offsets for the polygon-intersect gate: integer, CCW,
# CENTRALLY SYMMETRIC (v and -v both present) — symmetry is what the
# Minkowski oracle exploits; the engine never uses it
POLY_HEX_OFF = [
    (160000, 0), (80000, 138564), (-80000, 138564),
    (-160000, 0), (-80000, -138564), (80000, -138564),
]


def q_poly_intersect_events(spark, sf_dir):
    """Polygon-polygon intersection self-join over 300 equal hexagons
    centered on the synthetic coords. The ENGINE runs the general
    two-phase kernel (bbox covers -> vertex-in OR proper-crossing); the
    ORACLE is independent mathematics: for equal centrally-symmetric
    convex polygons, A i B != empty iff (c_B - c_A) lies in the DOUBLED
    hexagon (Minkowski sum H + (-H) = 2H) — six integer half-plane
    tests on the center delta, never touching the engine's kernel."""
    from osmflat_rs_spark.operators.spatial_join import polygon_intersect_join

    pts = _synth_coords(_t(spark, sf_dir, "events")).filter(F.col("event_id") < 300)
    ring = F.array(
        *[
            F.struct(
                (F.col("lat") + F.lit(dy)).cast("long").alias("lat"),
                (F.col("lon") + F.lit(dx)).cast("long").alias("lon"),
            )
            for dx, dy in POLY_HEX_OFF
        ]
    )
    polys = pts.select(F.col("event_id").alias("pid"), ring.alias("ring"))
    return polygon_intersect_join(
        polys, polys, id_a="pid", id_b="pid", res=14, self_join=True
    ).select(F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b"))


def q_pip_anti_events(spark, sf_dir):
    """Spatial anti-join: events contained by NO polygon — the pip_join
    kernel plus one LEFT ANTI join on the matched-id set."""
    _prep(spark)
    from osmflat_rs_spark.operators.spatial_join import pip_anti_join

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    ring = [{"lat": la, "lon": lo} for lo, la in HEX_RING]
    polys = spark.createDataFrame(
        [("hex", [(v["lat"], v["lon"]) for v in ring], "district")],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    return pip_anti_join(pts, polys, point_id="event_id").select("event_id")


def q_frechet_events(spark, sf_dir):
    """Discrete-Fréchet (ORDERED) trajectory-similarity join on the same
    32 patch trajectories as hausdorff_events, same tau — 14 pairs vs
    Hausdorff's 28: the order sensitivity IS the gate's content. Engine:
    shared lossless candidates + vectorized boolean reachability DP;
    oracle: monotone-path reachability over allowed (d^2 <= tau^2) cells
    as a recursive CTE — the decision form is native SQL, no DP values."""
    from osmflat_rs_spark.operators.trajectory import frechet_join

    pts = _q_traj32(spark, sf_dir)
    return frechet_join(pts, 320_000, traj_col="tid", order_col="event_id").select(
        "traj_a", "traj_b"
    )



def q_dtw_events(spark, sf_dir):
    """Exact int64 DTW trajectory-similarity join on the same 32 patch
    trajectories as frechet_events: pairs with DTW cost (sum of squared
    coupled step distances over the best monotone warp, Sakoe & Chiba
    1978) <= 1e13, WITH the exact cost. Engine: shared lossless
    candidate prune (tau = isqrt(C)) + batch-vectorized NumPy DP over
    Arrow batches (mapInPandas); oracle: the identical DP as a recursive
    CTE over DP rows with the inner column scan as a list reduce. All
    arithmetic int64 → bit-exact."""
    from osmflat_rs_spark.operators.trajectory import dtw_join

    pts = _q_traj32(spark, sf_dir)
    return dtw_join(
        pts, 10_000_000_000_000, traj_col="tid", order_col="event_id"
    ).select("traj_a", "traj_b", "dtw")


def _q_traj32(spark, sf_dir):
    """The shared 32-patch synthetic-trajectory construction of the
    trajectory-similarity gates (hausdorff/frechet/dtw/lcss/edr):
    SF-invariant (first 1000 events), one trajectory per event_id % 32,
    ordered by event_id."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    tid = F.col("event_id") % 32
    return ev.select(
        tid.alias("tid"),
        F.col("event_id"),
        (F.lit(LAT0) + (tid % 8) * 250_000 + (F.col("event_id") * A_LAT) % 200_000)
        .cast("long").alias("lat"),
        (F.lit(LON0) + F.floor(tid / 8) * 1_000_000 + (F.col("event_id") * A_LON) % 800_000)
        .cast("long").alias("lon"),
    )


def q_lcss_events(spark, sf_dir):
    """LCSS (longest common subsequence under an eps match radius,
    Vlachos ICDE 2002) trajectory-similarity join on the same 32 patch
    trajectories as dtw_events: pairs with >= 2 matched points at eps =
    120k fixed-point units, WITH the exact match count. Engine: lossless
    any-match cell prune + batch-vectorized NumPy DP over Arrow batches
    (mapInPandas); oracle: the identical integer DP as a recursive CTE
    (list reduce per DP row). All arithmetic int64 → bit-exact."""
    from osmflat_rs_spark.operators.trajectory import lcss_join

    pts = _q_traj32(spark, sf_dir)
    return lcss_join(
        pts, 120_000, 2, traj_col="tid", order_col="event_id"
    ).select("traj_a", "traj_b", "lcss")


def q_edr_events(spark, sf_dir):
    """EDR (edit distance on real sequence, Chen SIGMOD 2005) trajectory
    join on the same 32 patch trajectories: pairs with edit distance <=
    28 at the same eps = 120k, WITH the exact distance. Includes the
    zero-match escape leg (EDR of a matchless pair = max(n, m) — pairs
    of short-enough trajectories qualify with no shared cell). Engine:
    batch-vectorized NumPy DP over Arrow batches (mapInPandas); oracle:
    identical DP as a recursive CTE."""
    from osmflat_rs_spark.operators.trajectory import edr_join

    pts = _q_traj32(spark, sf_dir)
    return edr_join(
        pts, 120_000, 28, traj_col="tid", order_col="event_id"
    ).select("traj_a", "traj_b", "edr")


def q_quadkey_events(spark, sf_dir):
    """Bing quadkey interchange key per event at the engine ZOOM — one
    base-4 digit per level from the slippy tile coords (pure Catalyst
    shift/mask/concat; quadkey prefixes = pyramid ancestors)."""
    from osmflat_rs_spark.functions.geo import (
        mercator_tile_x,
        mercator_tile_y,
        quadkey_expr,
        to_degrees,
    )

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    tx = mercator_tile_x(to_degrees(F.col("lon")), ZOOM)
    ty = mercator_tile_y(to_degrees(F.col("lat")), ZOOM)
    return pts.select("event_id", quadkey_expr(tx, ty, ZOOM).alias("quadkey"))


def q_geohash_events(spark, sf_dir):
    """Standard base32 geohash (precision 8) per event — single integer
    quantization per axis, five shift/mask bits per character, base32
    lookup; no per-level loop, no UDF."""
    from osmflat_rs_spark.functions.geo import geohash_expr, to_degrees

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return pts.select(
        "event_id",
        geohash_expr(to_degrees(F.col("lat")), to_degrees(F.col("lon")), 8).alias("geohash"),
    )


def q_hausdorff_events(spark, sf_dir):
    """Trajectory-similarity self-join: unordered trajectory pairs with
    symmetric point-set Hausdorff distance <= tau, exact int64 h^2.
    Input: 32 synthetic patch-confined trajectories from the first 1000
    events (SF-invariant). Engine: anchor-cell candidates + bbox prune +
    blockwise Arrow refine; oracle: the textbook max-min double
    aggregation over the brute-force point-pair join in DuckDB."""
    from osmflat_rs_spark.operators.trajectory import hausdorff_join

    pts = _q_traj32(spark, sf_dir)
    return hausdorff_join(pts, 320_000, traj_col="tid").select("traj_a", "traj_b", "h2")


def q_zonal_stats_events(spark, sf_dir):
    """Zonal statistics over two (overlapping) hexagon zones: per-zone
    count/sum/avg/min/max of the event value. The value column threads
    through the pip kernel via carry_cols — no pairs-to-points re-join;
    the only post-cell-join exchange is the tiny polygon_id groupBy."""
    _prep(spark)
    from osmflat_rs_spark.operators.spatial_join import zonal_stats

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon", "value")
    polys = spark.createDataFrame(
        [
            ("hex", [(la, lo) for lo, la in HEX_RING], "district"),
            ("hex2", [(la, lo) for lo, la in ZONAL_HEX2], "district"),
        ],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    out = zonal_stats(pts, polys, "value", point_id="event_id")
    return out.select(
        "polygon_id",
        "n_pts",
        F.round("sum_val", 2).alias("sum_val"),
        F.round("avg_val", 4).alias("avg_val"),
        F.round("min_val", 2).alias("min_val"),
        F.round("max_val", 2).alias("max_val"),
    )


def q_focal_grid_events(spark, sf_dir):
    """Focal (moving-window) grid aggregation: per occupied cell, the
    event count within Chebyshev radius 1 — aggregate first, in-row
    (2r+1)^2 fan-out on the reduced cell table, re-aggregate."""
    from osmflat_rs_spark.operators.tiling import focal_grid_agg

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return focal_grid_agg(pts, "lat", "lon", res=16, radius=1)


def q_focal_mode_events(spark, sf_dir):
    """Focal majority (mode) filter: per occupied res-16 cell, the most
    frequent event_type within Chebyshev radius 1, ties to the smallest
    category via one struct-min aggregate (no rank window)."""
    from osmflat_rs_spark.operators.tiling import focal_mode

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return focal_mode(pts, "event_type", "lat", "lon", res=16, radius=1)


def q_curvature_events(spark, sf_dir):
    """Zevenbergen-Thorne general/profile/plan curvature over the res-16
    event density grid: all structural sums are exact integer-valued
    doubles, flat cells pinned to 0.0."""
    from osmflat_rs_spark.operators.tiling import curvature_grid

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return curvature_grid(pts, "lat", "lon", res=16, cellsize=1.0)


def q_overlay_events(spark, sf_dir):
    """Weighted-overlay suitability at res 16: 60/40 blend of min-max
    normalized cell density and radius-1 focal density — exact-int
    normalizers, deterministic IEEE blend, no rounding."""
    from osmflat_rs_spark.operators.tiling import weighted_overlay

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return weighted_overlay(pts, res=16, radius=1, w_density=60, w_focal=40)


def q_hillshade_events(spark, sf_dir):
    """Horn slope/aspect/hillshade (gdaldem/ESRI algorithm) over the
    event density grid at res 16 with the published defaults (azimuth
    315, altitude 45): aggregate-first 9-target Horn-weight fan, then
    pure codegen trig per cell. The central-difference sums are exact
    integers in doubles (counts x integer weights), so dzdx/dzdy are
    order-independent and the trig is bit-identical cross-engine; zen/
    azm constants are embedded as Python reprs in the oracle."""
    from osmflat_rs_spark.operators.tiling import hillshade_grid

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = hillshade_grid(pts, "lat", "lon", res=16)
    return out.select(
        "ix", "iy",
        F.col("n_self").cast("long").alias("n_self"),
        F.round("dzdx", 6).alias("dzdx"),
        F.round("dzdy", 6).alias("dzdy"),
        F.round("slope_deg", 6).alias("slope_deg"),
        F.round("aspect_rad", 6).alias("aspect_rad"),
        F.round("hillshade", 4).alias("hillshade"),
    )


def q_emb_cov(spark, sf_dir):
    """Distributed embedding covariance (the PCA/whitening moment pass):
    values quantized to the 1e-6 int64 lattice (floor(x·1e6 + 0.5) —
    exact IEEE chain, identical cross-engine), all moments EXACT integer
    sums (decimal(38,0) merge — order-independent), covariance one
    rational per (i, j) evaluated from exact numerator/denominator.
    Oracle: the same lattice and moments via generate_series over the
    array — bit-identical up to the shared ROUND(…, 9)."""
    from osmflat_rs_spark.operators.pca import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_covariance(emb, "embedding", quant=1e-6)
    return out.select(
        "i", "j", "n", F.round("cov", 9).alias("cov")
    )


def q_flow_acc_events(spark, sf_dir):
    """D8 flow direction + accumulation (ESRI/GRASS hydrology pair) over
    the res-16 event density grid: steepest strict descent by exact
    drop²·(2/d²) keys, canonical-N8 tie order, then leaf-front peeling —
    acc = upstream cell count (self excluded). Oracle: the same argmax as
    a ROW_NUMBER window and the transitive closure as a recursive CTE
    (each (source, downstream-cell) pair exactly once — paths are simple
    because z strictly decreases), acc = pairs grouped by the downstream
    cell."""
    from osmflat_rs_spark.operators.flow import flow_accumulation_grid

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return flow_accumulation_grid(pts, "lat", "lon", res=16).select(
        "ix", "iy", "z",
        F.col("rx").cast("long").alias("rx"),
        F.col("ry").cast("long").alias("ry"),
        "acc",
    )


def q_hexbin_events(spark, sf_dir):
    """Hexagonal-bin density aggregation (d3-hexbin analog, exact
    cube-round assignment at circumradius 1e6 fixed units) over the
    synthetic event points — pure codegen (q, r) keys + one hash agg.
    Oracle mirrors the double arithmetic token for token (same repr
    literals, same op order), so bin assignment is bit-identical
    cross-engine; centers and the value sum are rounded for the hash."""
    from osmflat_rs_spark.operators.tiling import hexbin_agg

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = hexbin_agg(pts, "lat", "lon", size=100_000, value_col="value")
    return out.select(
        "q", "r",
        F.round("cx", 4).alias("cx"),
        F.round("cy", 4).alias("cy"),
        "n",
        F.round("sum_val", 6).alias("sum_val"),
    )


# pentagram AOI (self-intersecting ring): the canonical fill-rule
# separator — its core is inside under NONZERO winding, outside under
# even-odd. Vertices P0..P4 at 72° steps connected 0-2-4-1-3 (lat, lon).
PENTAGRAM = [
    (525600000, 134000000), (524514590, 133529772), (525185410, 134760845),
    (525185410, 133239155), (524514590, 134470228),
]


def q_pip_winding_events(spark, sf_dir):
    """Point-in-polygon under the NONZERO winding fill rule
    (SVG/PostScript) against the self-intersecting pentagram AOI —
    the rule where the star's core counts as inside (even-odd excludes
    it; the unit tests pin the contrast). Engine: pip_join_direct —
    broadcast bbox prefilter JVM-side, exact int64 signed-crossing
    refine in one Arrow batch, the point side never shuffles. Oracle:
    per-edge signed-crossing sum + boundary test with the kernel's
    exact half-open/strict-left conventions."""
    from osmflat_rs_spark.operators.spatial_join import pip_join_direct

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    polys = spark.createDataFrame(
        [("star", [(la, lo) for (la, lo) in PENTAGRAM], "aoi")],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    return pip_join_direct(
        pts, polys, point_id="event_id", fill_rule="nonzero"
    ).select("polygon_id", "event_id")


# viewshed observer: the res-16 cell of the patch center (52.5, 13.4)
VIEW_OX = (134_000_000 + 1_800_000_000) * (1 << 16) // 3_600_000_000
VIEW_OY = (525_000_000 + 900_000_000) * (1 << 16) // 1_800_000_000


def q_viewshed_events(spark, sf_dir):
    """Grid viewshed (gdal_viewshed-style line-of-sight) from the patch
    center over the event density surface at res 16, observer height 2:
    a cell is visible iff no intermediate DDA-line cell blocks the
    sight line (cross-multiplied slope compare; d as doubles of exact
    integer squares — mirrored verbatim). Engine: one density agg +
    the dda_pixels_distinct fan + one broadcast grid join + one
    max-obstruction groupBy; oracle: the same DDA closed form
    (_dda_sql) + identical comparison."""
    from osmflat_rs_spark.operators.tiling import viewshed_grid

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = viewshed_grid(pts, (VIEW_OX, VIEW_OY), observer_height=2.0, res=16)
    return out.select(
        "ix", "iy", F.col("z").cast("long").alias("z"), "visible"
    )


def q_kde_events(spark, sf_dir):
    """Grid kernel-density surface: per occupied cell, the Epanechnikov-
    weighted neighbor count within Chebyshev radius 2 (bandwidth 3
    cells) — focal_grid_agg's aggregate-first shape with a codegen
    kernel weight on the fan offsets."""
    from osmflat_rs_spark.operators.tiling import kde_grid

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = kde_grid(pts, "lat", "lon", res=16, radius=2, kernel="epanechnikov")
    return out.select("ix", "iy", "n_self", F.round("density", 6).alias("density"))


def q_contour_events(spark, sf_dir):
    """Marching-squares iso-contour of the event count surface at res 16,
    level 2.5 (half-integer: no corner sits ON the contour). One cell-agg
    shuffle + one block-corner pivot shuffle, then the case table and edge
    interpolation as a codegen projection — the heatmap→isoline
    vectorization step for the SVG/JSON sinks (reference renders the
    raster directly, render-roads.rs; this is its level-set)."""
    from osmflat_rs_spark.functions.cells import grid_exprs
    from osmflat_rs_spark.operators.contour import contour_segments

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    ix, iy = grid_exprs(F.col("lat"), F.col("lon"), 16)
    grid = pts.groupBy(ix.alias("ix"), iy.alias("iy")).agg(F.count("*").alias("v"))
    out = contour_segments(grid, "v", 2.5)
    return out.select(
        "bx",
        "by",
        F.round("x0", 6).alias("x0"),
        F.round("y0", 6).alias("y0"),
        F.round("x1", 6).alias("x1"),
        F.round("y1", 6).alias("y1"),
    )


def q_idw_events(spark, sf_dir):
    """IDW spatial interpolation (Shepard, power=2) at the kNN gate's
    query points over the events' value field. The neighbor search is
    the SAME fully-distributed knn_join_bulk plan as knn_events (cell
    equi-join, exact_fallback=False — settledness at KNN_RADIUS_FIXED is
    asserted in tests); the weighting is one id-join plus one aggregate,
    all JVM expressions. Oracle: brute-force kNN + the same weighted
    form; both sides round to 6 decimals (5-term double reassociation)."""
    _prep(spark)
    from osmflat_rs_spark.operators.interpolate import idw_interpolate

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "event_id", "lat", "lon", "value"
    )
    q = spark.createDataFrame(KNN_QUERIES, schema="query_id string, lat long, lon long")
    out = idw_interpolate(
        pts, q, k=KNN_K, power=2, metric="sqeuclid", res=CELL_RES,
        radius_m=KNN_RADIUS_FIXED, id_col="event_id", exact_fallback=False,
    )
    return out.select("query_id", F.round("idw", 6).alias("idw"), "n_neighbors")


# hotspot gate knobs: at sf0.01 the synth box grids into 800 cells of
# ~12.5 events (min 10 / max 17 — the LCG scatters near-uniformly), so
# min_pts=14 makes ~177 core cells that merge into ~22 hotspots —
# non-degenerate on both axes (some multi-cell, some isolated)
HOTSPOT_CELL, HOTSPOT_MIN_PTS = 100_000, 14


def q_hotspot_events(spark, sf_dir):
    """Grid-density hotspot clustering (grid-DBSCAN family): dense cells
    merged by 8-adjacency via iterative min-label connected components;
    cluster id = min cell key. Aggregates to cells FIRST, so the CC
    rounds shuffle cell rows, never point rows. Oracle: recursive-CTE
    label closure over the same grid."""
    _prep(spark)
    from osmflat_rs_spark.operators.hotspot import hotspot_clusters

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return hotspot_clusters(
        pts, cell_size=HOTSPOT_CELL, min_pts=HOTSPOT_MIN_PTS, id_col="event_id"
    )


def q_gi_star_events(spark, sf_dir):
    """Getis-Ord Gi* hot-spot z-scores (radius-2 box weights, self
    included) over the focal grid: focal sums from focal_grid_agg's
    aggregate-first fan-out, global moments from ONE tiny aggregate,
    empty bbox cells reasoned about analytically (clamped window area),
    never materialized. Oracle: same statistic from the inequality
    self-join focal form + a global CTE, identical IEEE tree, round-6."""
    from osmflat_rs_spark.operators.tiling import gi_star

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = gi_star(pts, res=16, radius=2)
    return out.select("ix", "iy", "x", "w", F.round("z", 6).alias("z"))


def q_morans_i_events(spark, sf_dir):
    """Global Moran's I over the focal grid (radius 2, w_ii = 0). The
    ENGINE uses the sparse-analytic reduction (empty cells contribute
    through closed-form window-area sums, never materialized); the
    ORACLE is an independent dense formulation — generate_series
    materializes every bbox cell and computes the textbook double sum.
    Agreement is the identity proof, not an echo. Round-9 contract (I
    is O(0.01-1); both sides are double-exact far past 9 digits here)."""
    from osmflat_rs_spark.operators.tiling import morans_i

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = morans_i(pts, res=16, radius=2)
    return out.select(F.round("i", 9).alias("i"), "n", "s0")


def q_gearys_c_events(spark, sf_dir):
    """Geary's C — the pairwise-difference spatial-autocorrelation
    scalar, complement of morans_i_events (same grid, same weights, same
    sparse-analytic engine form: the ΣΣ w_ij (x_i−x_j)² double sum
    reduces to two occupied-cell aggregates + closed-form S0; empty bbox
    cells never materialized). Oracle: independent DENSE formulation —
    generate_series materializes every bbox cell and computes the
    textbook pairwise sum over the explicit neighbor join. Round-9."""
    from osmflat_rs_spark.operators.tiling import gearys_c

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = gearys_c(pts, res=16, radius=2)
    return out.select(F.round("c", 9).alias("c"), "n", "s0")


JC_RES, JC_THRESHOLD = 15, 8  # ~32% Black cells at sf0.01


def q_joincount_events(spark, sf_dir):
    """Join-count statistics (Cliff & Ord) — the binary-field member of
    the autocorrelation family: occupied res-15 cells marked Black when
    ≥ 8 events land in them, BB/WW/BW counted over rook-adjacent pairs
    (union of two shifted EQUI-joins on the cell table — no theta-join),
    z-score vs nonfree-sampling expectation. Counts and the degree
    moment are exact int64; E/Var/z are the identical chained-division
    IEEE expressions on both engines, rounded at 9."""
    from osmflat_rs_spark.operators.tiling import join_counts

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = join_counts(pts, res=JC_RES, threshold=JC_THRESHOLD)
    return out.select(
        "n", "nb", "jj", "bb", "ww", "bw",
        F.round("e_bb", 9).alias("e_bb"),
        F.round("var_bb", 9).alias("var_bb"),
        F.round("z_bb", 9).alias("z_bb"),
    )


def q_entropy_events(spark, sf_dir):
    """Per-cell categorical diversity of the event_type mix at res 14:
    Shannon entropy via the nested-aggregate-free ln(n) − Σc·ln(c)/n
    form, exact-int Simpson, richness. Two keyed aggregations; entropy
    rounded at 9 (the one float fold), simpson at 12 (single exact-int
    division, rounding only normalizes -0.0)."""
    from osmflat_rs_spark.operators.tiling import grid_diversity

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = grid_diversity(pts, "event_type", res=14)
    return out.select(
        "ix", "iy", "n", "richness",
        F.round("entropy", 9).alias("entropy"),
        F.round("simpson", 12).alias("simpson"),
    )


def q_morph_close_events(spark, sf_dir):
    """Morphological closing (dilate∘erode, Chebyshev-1 window) of the
    thresholded res-15 density grid — the raster-cleanup step that fills
    pinholes before vectorization. Sparse-set formulation: offset fan +
    distinct, inverse fan + vote count == 9; background cells never
    materialize. Exact integer cells; the oracle restates both fans."""
    from osmflat_rs_spark.functions.cells import grid_exprs
    from osmflat_rs_spark.operators.fill import morph_binary

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    gx, gy = grid_exprs(F.col("lat"), F.col("lon"), JC_RES)
    cells = (
        pts.groupBy(gx.alias("ix"), gy.alias("iy"))
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= JC_THRESHOLD)
        .select("ix", "iy")
    )
    return morph_binary(cells, radius=1, op="close")


def q_lisa_events(spark, sf_dir):
    """Local Moran's I (Anselin 1995 LISA) with the HH/LL/HL/LH cluster
    map — the per-cell decomposition of morans_i_events, same sparse-
    analytic engine form (empty bbox cells enter moments and lags in
    closed form). Oracle: independent DENSE formulation — every bbox
    cell materialized via generate_series, textbook per-cell lag sums
    and raw m2/m4 moments. Round-6 on the doubles."""
    from osmflat_rs_spark.operators.tiling import local_morans_i

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = local_morans_i(pts, res=16, radius=2)
    return out.select(
        "ix", "iy", "x", "w",
        F.round("ii", 6).alias("ii"),
        F.round("z", 6).alias("z"),
        "quadrant",
    )


TREND_RES, TREND_BIN_US = 13, 2 * 86_400 * 10**6  # 2-day bins → ~15 bins

# Map-matching gate: a literal road grid over the synth coord box —
# 6 horizontal roads 400k apart (max point→road distance 200k < the
# 250k radius, so every point matches) + 2 diagonals; ONE Python list
# feeds both the engine DataFrame and the oracle VALUES.
MAPMATCH_SEGS = [
    *[
        (j + 1, LAT0 + j * 400_000, LON0 - 100_000, LAT0 + j * 400_000, LON0 + LONSPAN + 100_000)
        for j in range(6)
    ],
    (7, LAT0, LON0, LAT0 + LATSPAN, LON0 + LONSPAN),
    (8, LAT0 + LATSPAN, LON0, LAT0, LON0 + LONSPAN),
]
MAPMATCH_R, MAPMATCH_K = 250_000, 3
MAPMATCH_SIGMA, MAPMATCH_BETA = 120_000.0, 60_000.0
MAPMATCH_USERS, MAPMATCH_STEPS = 12, 5


def q_mapmatch_events(spark, sf_dir):
    """HMM map-matching (Newson-Krumm): Viterbi-optimal segment per
    trajectory point over top-k snap candidates — candidates from the
    distributed cell-cover snap join, the DP as applyInPandas per
    entity (O(T·k²), left-to-right IEEE accumulation). Oracle: FULL
    path enumeration as a recursive CTE (bounded: ≤k^T paths per user
    at T=5, k=3), min by (cost, path), parallel-unnest the winner."""
    from osmflat_rs_spark.operators.mapmatch import map_match

    pts = _synth_coords(_t(spark, sf_dir, "events")).filter(
        F.col("user_id") < MAPMATCH_USERS
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = pts.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= MAPMATCH_STEPS
    )
    segs = spark.createDataFrame(
        MAPMATCH_SEGS, "sid long, lat1 long, lon1 long, lat2 long, lon2 long"
    )
    out = map_match(
        pts, segs, radius=MAPMATCH_R, k=MAPMATCH_K,
        sigma=MAPMATCH_SIGMA, beta=MAPMATCH_BETA,
    )
    return out.select(
        F.col("entity").alias("user_id"), "step",
        F.col("point_id").alias("event_id"), "sid",
        F.round("snap_lon", 6).alias("snap_lon"),
        F.round("snap_lat", 6).alias("snap_lat"),
    )


def q_ols_events(spark, sf_dir):
    """Per-user exact-rational OLS (``trend.grouped_ols``, r5): fit
    lat − LAT0 against a bounded synthetic regressor (event_id % 1000 —
    bounded so DECIMAL(38) products of the moment sums never overflow,
    the stated contract); slope/intercept returned as UNREDUCED
    numerator/denominator integers — NO division, NO float, the gate
    hash-compares exact values. Oracle = HUGEINT moment sums + the same
    closed forms."""
    from osmflat_rs_spark.operators.trend import grouped_ols

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "user_id",
        (F.col("event_id") % 1000).alias("x"),
        (F.col("lat") - F.lit(LAT0)).alias("y"),
    )
    out = grouped_ols(pts, "user_id", "x", "y")
    # the operator returns DECIMAL(38,0) (its any-scale contract); at
    # this gate's bounded regressor the values fit BIGINT — cast both
    # sides so the driver's type-sensitive hash sees identical types
    # (sweep probe: HUGEINT/DECIMAL widening flagged)
    return out.select(
        "user_id", "n",
        F.col("slope_num").cast("long").alias("slope_num"),
        F.col("icept_num").cast("long").alias("icept_num"),
        F.col("den").cast("long").alias("den"),
    )


def q_seasonal_events(spark, sf_dir):
    """Hour-of-day seasonal profile of the cents value per event_type:
    exact int sums, IEEE-exact means and indices, no rounding."""
    from osmflat_rs_spark.operators.trend import seasonal_profile

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return seasonal_profile(ev, "event_type", "ts", "v", period_hours=24)


def q_changepoint_events(spark, sf_dir):
    """AMOC mean-shift change-point per event_type over the event_id
    order: prefix-sum window + in-aggregate argmax, exact int64 sums,
    deterministic float argmax with smallest-t ties."""
    from osmflat_rs_spark.operators.trend import changepoint_amoc

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return changepoint_amoc(ev, "event_type", "event_id", "v")


def q_cusum_events(spark, sf_dir):
    """Two-sided CUSUM drift detector per event_type over the event_id
    order (mu=5000, slack=1000, h=20000 cents): Page's recurrence in its
    drawdown form — pure window algebra, exact int64, no restart.
    Oracle: the identical four window functions."""
    from osmflat_rs_spark.operators.trend import cusum_scan

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return cusum_scan(ev, "event_type", "event_id", "v", mu=5000, slack=1000, h=20000)


def q_isotonic_events(spark, sf_dir):
    """Weighted isotonic regression of cents value on capped props
    length per event_type: corpus collapses to (group, x) int
    sufficient statistics, PAVA per group; the oracle reproduces the
    sequential algorithm through the exact minimax identity."""
    from osmflat_rs_spark.operators.trend import isotonic_fit

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.least(F.length("props"), F.lit(63)).cast("long").alias("plen"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return isotonic_fit(ev, "event_type", "plen", "v")


def q_trend_events(spark, sf_dir):
    """Emerging-hot-spot trend: space-time cube (ONE groupBy) →
    per-cell Mann-Kendall S with tie-corrected variance, continuity-
    corrected z, Theil-Sen median slope — all bounded in-row
    expressions over the dense global-bin series (missing bins = 0).
    Oracle: dense per-cell pair self-join + MEDIAN in DuckDB."""
    from osmflat_rs_spark.operators.trend import emerging_hotspots

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    out = emerging_hotspots(pts, res=TREND_RES, bin_us=TREND_BIN_US)
    return out.select(
        "ix", "iy", "s",
        F.round("var_s", 6).alias("var_s"),
        F.round("z", 6).alias("z"),
        F.round("sen", 6).alias("sen"),
    )


def q_raster_events(spark, sf_dir):
    """F7 Bresenham-family rasterization (render-roads.rs:132-155) through
    the engine's one DDA, ``dda_pixels_distinct`` (expand + distinct
    fused into one Arrow pass over the slim segment rows)."""
    from osmflat_rs_spark.operators.tiling import dda_pixels_distinct

    pts = _synth_coords(_t(spark, sf_dir, "events", spread=False))
    px = ((F.col("lon") - F.lit(LON0)) * F.lit(GRID - 1) / F.lit(LONSPAN)).cast("long")
    py = F.lit(GRID - 1) - ((F.col("lat") - F.lit(LAT0)) * F.lit(GRID - 1) / F.lit(LATSPAN)).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Fan out BEFORE the window: AQE sizes the window's shuffle on the
    # slim PRE-explode segment bytes and coalesces it to ~2 partitions,
    # serializing the 120x DDA fan-out + 10.7M-pixel dedup onto 2 of
    # 32 cores (measured 6.0s -> 0.75s at sf0.1). A user-specified
    # repartition(n, key) ahead of the window satisfies its clustering
    # requirement, becomes the stage's ONLY exchange, and AQE leaves
    # explicit-count repartitions alone. (Repartitioning between the
    # window and the explode does NOT work: Catalyst removes the
    # same-key exchange as redundant and the coalesced window
    # partitioning survives — measured no effect.)
    seg = (
        pts.repartition(spark.sparkContext.defaultParallelism, "user_id")
        .select("user_id", "ts", "event_id", px.alias("x0"), py.alias("y0"))
        .withColumn("x1", F.lead("x0").over(w))
        .withColumn("y1", F.lead("y0").over(w))
        .filter(F.col("x1").isNotNull())
    )
    # dedup within the user_id partitioning == global dedup; the same
    # keyed fan-out + DDA stage as tiling.raster_assign
    return dda_pixels_distinct(seg, ["user_id"])


def q_tile_events(spark, sf_dir):
    """Web-mercator slippy tiles at z14 (north-rule tiling)."""
    from osmflat_rs_spark.functions.geo import mercator_tile_x, mercator_tile_y, to_degrees

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return pts.select(
        "event_id",
        mercator_tile_x(to_degrees(F.col("lon")), ZOOM).alias("tile_x"),
        mercator_tile_y(to_degrees(F.col("lat")), ZOOM).alias("tile_y"),
    )


def q_tile_pyramid_events(spark, sf_dir):
    """Multi-resolution tile rollup z14→z10: per-tile (count, integer sum)
    at the base zoom, every coarser level aggregated FROM ITS CHILDREN
    (``tile >> 1``), never by rescanning — one data scan total, the base
    exchange reused across level branches (hypertable/overview pattern)."""
    from osmflat_rs_spark.operators.tiling import tile_pyramid

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return tile_pyramid(
        pts,
        base_zoom=ZOOM,
        min_zoom=ZOOM - 4,
        sums={"sum_cents": F.floor(F.col("value") * 100).cast("long")},
    )


def q_interp_events(spark, sf_dir):
    """Linear-interpolation join: each purchase gets the user's view
    value linearly interpolated between the bracketing views (exact-hit
    collapse, flat extrapolation at the edges) — one exchange, both
    brackets from two range frames over the same sort."""
    from osmflat_rs_spark.operators.asof import interp_join

    e = _t(spark, sf_dir, "events")
    pur = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.min(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("v"))
    )
    return interp_join(pur, views, on="user_id", value_col="v")


def q_asof_purchase_view(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent view at
    or before it (LEFT semantics). Union-tag + one window — a single
    shuffle, zero row amplification (vs. the range-join form that explodes
    every purchase × all earlier views). Oracle: DuckDB's native ASOF
    LEFT JOIN."""
    from osmflat_rs_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    pur = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    res = asof_join(pur, views, on="user_id", right_cols=["view_event_id", "view_value"], suffix="_r")

    def us(c):
        # parquet timestamps are NTZ; session tz is pinned UTC so the cast
        # is an identity and the micros agree with DuckDB's epoch_us
        return F.unix_micros(c.cast("timestamp"))

    return res.select(
        "event_id",
        "user_id",
        F.col("view_event_id_r").alias("view_event_id"),
        (us(F.col("ts")) - us(F.col("ts_r"))).alias("gap_us"),
        F.col("view_value_r").alias("view_value"),
    )


SESSION_GAP_S = 21_600  # 6h; sf0.01 median inter-event gap per user ≈ 7.3h


def q_bbox_join_events(spark, sf_dir):
    """Rectangle-overlap join (``bbox.bbox_join``, r5) — the R-tree
    query primitive as a grid equi-join with EXACTLY-ONCE min-corner
    cell ownership (no distinct anywhere): event bboxes split even/odd
    into the two sides, half-extents deterministic from event_id so
    pairs touch, contain, and straddle cell borders. Oracle = the
    brute-force inequality join; the intersection box is exact int64
    in both engines."""
    _prep(spark)
    from osmflat_rs_spark.operators.bbox import bbox_join

    e = F.col("event_id")
    boxes = _synth_coords(_t(spark, sf_dir, "events")).select(
        "event_id",
        (F.col("lon") - (F.lit(1) + e % 7) * 3_000).alias("x_min"),
        (F.col("lat") - (F.lit(1) + e % 5) * 3_000).alias("y_min"),
        (F.col("lon") + (F.lit(1) + e % 7) * 3_000).alias("x_max"),
        (F.col("lat") + (F.lit(1) + e % 5) * 3_000).alias("y_max"),
    )
    return bbox_join(
        boxes.filter(e % 2 == 0).withColumnRenamed("event_id", "id_a"),
        boxes.filter(e % 2 == 1).withColumnRenamed("event_id", "id_b"),
        cell_size=50_000,
        left_id="id_a",
        right_id="id_b",
    )


def q_concurrency_events(spark, sf_dir):
    """Concurrent-active-users curve: per-user [first, last+1h) activity
    intervals swept into change points + running concurrency — exact
    ints, tie-free by same-instant delta collapse."""
    from osmflat_rs_spark.operators.intervals import concurrency_curve

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    iv = e.groupBy("user_id").agg(
        F.min("us").alias("s"),
        (F.max("us") + F.lit(3_600_000_000)).alias("e"),
    )
    return concurrency_curve(iv, "s", "e")


def q_merge_intervals_events(spark, sf_dir):
    """Per-user interval coalescing (``intervals.merge_intervals``, r5)
    — coverage union of [t, t + dur] validity windows (dur deterministic
    from event_id, 10–90 min, so runs genuinely overlap, touch, and
    split): ONE sort shuffle carrying both window passes (running max of
    prior ends → start-flag → prefix-sum run id), then a map-side-
    combinable rollup. Oracle restates the identical ANSI window frames
    in DuckDB — all-integer rows."""
    from osmflat_rs_spark.operators.intervals import merge_intervals

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.lit(1) + F.col("event_id") % 9) * F.lit(600_000_000)
        ).alias("e"),
    )
    return merge_intervals(ev, "user_id", "s", "e")


def q_sessions_events(spark, sf_dir):
    """Gap-based sessionization → per-session stats. One shuffle total:
    the session index is a lag-diff + running sum window, and the stats
    groupBy's keys are a superset of the window partition key so no
    second exchange is planned (asserted in tests/test_sessions.py)."""
    from osmflat_rs_spark.operators.sessions import session_stats

    e = _t(spark, sf_dir, "events")
    return session_stats(e, "user_id", gap_s=SESSION_GAP_S, order_cols=("event_id",))


# --------------------------------------------------------------------------
# documents: span primitives + dedup + text analysis
# --------------------------------------------------------------------------


def q_dwell_events(spark, sf_dir):
    """Trajectory stay-points: per-user maximal runs of consecutive
    same-grid-cell points (lag-diff break + running sum — W3 feeding
    W1 on the time axis), kept when the run has ≥3 points and spans
    ≥600 s. ONE shuffle (stats groupBy reuses the window's hash
    partitioning — plan-asserted in tests). Knobs sized at sf0.01:
    2M-unit cells over the synth box → 4,936 runs, 1,264 dwells."""
    from osmflat_rs_spark.operators.trajectory import stay_points

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return stay_points(
        pts, "user_id", cell_size=2_000_000, min_pts=3, min_dwell_s=600.0,
        order_cols=("event_id",),
    )


def q_geofence_events(spark, sf_dir):
    """Geofence enter/exit transitions — per-user membership diff
    between consecutive fixes over two OVERLAPPING convex fences
    (HEX_RING + ZONAL_HEX2, the zonal pair): ONE pip_join (entity+ts
    through the carry-cols seam), one per-fix set collapse, one
    entity-keyed lag window; enters/exits as in-row array_except.
    First-fix convention: enter for every containing fence. Oracle:
    per-fence half-plane membership + lag + list_filter diff in DuckDB
    — the window semantics stated independently."""
    from osmflat_rs_spark.operators.trajectory import geofence_transitions

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    fences = spark.createDataFrame(
        [
            ("hex", [(la, lo) for lo, la in HEX_RING], "district"),
            ("hex2", [(la, lo) for lo, la in ZONAL_HEX2], "district"),
        ],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    return geofence_transitions(pts, fences)


LINREF_RADIUS = 300_000  # linear-referencing gate: sparse 4-route net


def q_linear_ref_events(spark, sf_dir):
    """Linear referencing (milepost location): snap the synthetic query
    points to a 4-route network (users 0-3's ordered event polylines)
    and return the cumulative ALONG-ROUTE offset of the snap point —
    `snap.linear_reference`, the nearest_segment_join composition.
    d2/t/seg_len are bit-identical IEEE expressions (the snap gate's
    discipline); offset rounds to 2 because the per-route running
    length is an ordered window SUM whose reduction order DuckDB does
    not pin (segment-tree frames) — the one reassociation-exposed
    float here."""
    from osmflat_rs_spark.operators.snap import linear_reference

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    routes = pts.filter(F.col("user_id") < 4).select(
        F.col("user_id").alias("route_id"),
        F.col("event_id").alias("seq"),
        "lat", "lon",
    )
    ev = _t(spark, sf_dir, "events")
    q = ev.filter(F.col("event_id") < 2000).select(
        F.col("event_id").alias("query_id"),
        (F.lit(LAT0) + (F.col("event_id") * 24571) % LATSPAN).cast("long").alias("lat"),
        (F.lit(LON0) + (F.col("event_id") * 39119) % LONSPAN).cast("long").alias("lon"),
    )
    out = linear_reference(q, routes, LINREF_RADIUS)
    return out.select(
        "query_id", "route_id", "seq", "d2", "t",
        F.round("offset", 2).alias("offset"),
        "seg_len",
    )


SNAP_RADIUS = 4_000  # fixed-point units. Unlike kNN's radius (a
# performance knob under an exact-k contract), snap's radius IS the
# semantics: out-of-radius queries drop identically on engine and
# oracle. Sizing is a density trade: the per-query candidate corridor
# holds 2·r·λ segments (λ = corpus line density) — at sf0.1 λ ≈ 0.16/u
# so r = 50k meant ~1,600 true candidates/query (16 s in the suite);
# r = 4k cuts that 12× while the sparsest gate SF (λ ≈ 1.6e-3) still
# misses only ~e⁻¹²·⁸ of queries


def q_snap_events(spark, sf_dir):
    """Nearest-segment join (map-matching snap): query points against
    the per-user consecutive-event segments. Candidates come from the
    lossless segment pass-through cover ⋈ the query ±radius bbox cells
    (pure Catalyst sequence-explode) — no crossJoin; exact clamped-
    projection distance in codegen; WindowGroupLimit top-1. Oracle:
    brute-force all-pairs with the IDENTICAL IEEE expression tree."""
    _prep(spark)
    from osmflat_rs_spark.operators.snap import nearest_segment_join

    pts = _synth_coords(_t(spark, sf_dir, "events", spread=False))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # r6: explicit fan-out BEFORE the window (the q_raster_events
    # pattern): AQE sizes the window shuffle on the slim pre-explode
    # bytes and coalesces it to ~2 partitions, which would serialize the
    # downstream ~60x cover explode + candidate join onto 2 of N cores.
    # The keyed explicit-count repartition satisfies the window's
    # clustering requirement, becomes the stage's only exchange, and AQE
    # leaves it alone.
    seg = (
        pts.repartition(spark.sparkContext.defaultParallelism, "user_id")
        .select("user_id", "ts", "event_id",
                F.col("lat").alias("lat1"), F.col("lon").alias("lon1"))
        .withColumn("lat2", F.lead("lat1").over(w))
        .withColumn("lon2", F.lead("lon1").over(w))
        .filter(F.col("lat2").isNotNull())
        .select(F.col("event_id").alias("sid"), "lat1", "lon1", "lat2", "lon2")
    )
    q = (
        _t(spark, sf_dir, "events")
        .select(F.col("event_id").alias("query_id"))
        .filter(F.col("query_id") < 2000)
        .withColumn(
            "lat", (F.lit(LAT0) + (F.col("query_id") * 24571) % F.lit(LATSPAN)).cast("long")
        )
        .withColumn(
            "lon", (F.lit(LON0) + (F.col("query_id") * 39119) % F.lit(LONSPAN)).cast("long")
        )
    )
    return nearest_segment_join(
        q, seg, radius=SNAP_RADIUS, cell_size=1 << 16, point_id="query_id"
    )


def q_od_flows_events(spark, sf_dir):
    """Origin-destination flow matrix — the canonical trajectory
    pipeline stay_points → od_flows: consecutive dwells per user become
    trips, aggregated to (from-cell, to-cell) counts + mean transit
    seconds. Transit sums are integer µs (< 2^53, so double-exact in
    any order); avg rounded to 6 as the cross-engine contract."""
    from osmflat_rs_spark.operators.trajectory import od_flows, stay_points

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    # finer grid + softer thresholds than dwell_events: OD wants many
    # cells and transitions (sf0.01: 995 trips over 72 OD pairs), not
    # long dwells
    d = stay_points(
        pts, "user_id", cell_size=1_000_000, min_pts=2, order_cols=("event_id",)
    )
    out = od_flows(d, "user_id")
    return out.select(
        "from_cx", "from_cy", "to_cx", "to_cy", "n_trips",
        F.round("avg_transit_s", 6).alias("avg_transit_s"),
    )


def q_span_explode_docs(spark, sf_dir):
    """Span/order primitive: posexplode with stable 0-based order (the
    in-row sequence carrier of the interleaved-doc model)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.posexplode(F.split("text", " ")).alias("o", "token"))


def q_span_reassemble_docs(spark, sf_dir):
    """Order-preserving reassembly through a shuffle (the span-sequence
    invariant exercised on driver data)."""
    d = _t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("o", "token")).repartition(16)
    return ex.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("o"), F.col("token")))), lambda s: s["token"]
            ),
            " ",
        ).alias("rebuilt")
    )


def q_interleave_docs(spark, sf_dir):
    """Interleave-structure profile over the input-hint span model:
    spans synthesized in-row from tokens (kind from exact arithmetic on
    (doc_id, position)), then the pure-map run-length profile."""
    from osmflat_rs_spark.operators.multimodal import interleave_profile

    d = _t(spark, sf_dir, "documents")
    is_media = lambda i: (F.col("doc_id") * 31 + i * 7) % 5 == 0  # noqa: E731
    spans = F.transform(
        F.split(F.col("text"), " "),
        lambda t, i: F.struct(
            F.when(is_media(i), F.lit("media")).otherwise(F.lit("text")).alias("kind"),
            t.alias("text"),
            F.when(
                is_media(i),
                F.concat(F.lit("m:"), F.col("doc_id").cast("string"), F.lit(":"), i.cast("string")),
            ).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return interleave_profile(d.withColumn("spans", spans))


def q_dedup_exact_docs(spark, sf_dir):
    from osmflat_rs_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_fingerprint_docs(spark, sf_dir):
    from osmflat_rs_spark.operators.textops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _with_synth_pii(docs):
    """documents + deterministic md5(doc_id)-derived PII suffix (one
    email, one IPv4, one intl phone per doc) so the scrub gate exercises
    real matches; the oracle synthesizes the identical suffix."""
    h = F.md5(F.col("doc_id").cast("string"))

    def _oct(i):
        return (F.conv(F.substring(h, i, 2), 16, 10).cast("long") % 255).cast("string")

    num = F.conv(F.substring(h, 7, 7), 16, 10).cast("long") % F.lit(10**9)
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.substring(h, 1, 6), F.lit("@example.com via 10."),
            _oct(1), F.lit("."), _oct(3), F.lit("."), _oct(5),
            F.lit(" call +49"), F.lpad(num.cast("string"), 9, "0"),
        ).alias("text"),
    )


def q_pii_scrub_docs(spark, sf_dir):
    """PII redaction (email/IPv4/phone → typed tokens): map-only codegen
    regexp pipeline over documents carrying synthesized deterministic
    PII; counts are per-stage (each pattern counted on the text already
    scrubbed by its predecessors — contract order)."""
    from osmflat_rs_spark.operators.textops import pii_scrub

    out = pii_scrub(_with_synth_pii(_t(spark, sf_dir, "documents")), "doc_id", "text")
    return out.select(
        "doc_id", F.md5("text_clean").alias("clean_fp"), "n_email", "n_ipv4", "n_phone"
    )


def _pii_oracle_sql() -> str:
    """Oracle generated from the SAME PII_PATTERNS table the engine
    uses (single source of truth; plain-string build — no f-string
    brace doubling for the regex quantifiers)."""
    from osmflat_rs_spark.operators.textops import PII_PATTERNS

    synth = (
        "SELECT doc_id, text || ' contact user' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)"
        " || '@example.com via 10.'"
        " || (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 255) || '.'"
        " || (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2))::BIGINT % 255) || '.'"
        " || (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 2))::BIGINT % 255)"
        " || ' call +49' || lpad(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 7, 7))::BIGINT"
        " % 1000000000 AS VARCHAR), 9, '0') AS t0 FROM documents"
    )
    ctes = ["pii AS (" + synth + ")"]
    prev = "pii"
    for i, (name, pat, token) in enumerate(PII_PATTERNS):
        lit = pat.replace("'", "''")
        ctes.append(
            f"s{i} AS (SELECT *, CAST(len(regexp_extract_all(t{i}, '{lit}')) AS BIGINT)"
            f" AS n_{name}, regexp_replace(t{i}, '{lit}', '{token}', 'g') AS t{i + 1}"
            f" FROM {prev})"
        )
        prev = f"s{i}"
    n = len(PII_PATTERNS)
    cols = ", ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, md5(t{n}) AS clean_fp, {cols} FROM {prev}"
    )


def q_string_offsets_docs(spark, sf_dir):
    """S8/A7 string-intern offsets via the scalable two-pass prefix sum
    minus each string's own length (strings.rs:134-145 semantics:
    offset = Σ (len+1) of earlier strings) — no single-partition window
    anywhere."""
    from osmflat_rs_spark.operators.dedup import words_expr
    from osmflat_rs_spark.plans.indexing import sorted_prefix_scan

    ws = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(words_expr(F.col("text"))).alias("w"))
        .distinct()
        .withColumn("_w", F.length("w") + 1)
    )
    return sorted_prefix_scan(ws, ["w"], long_sums=[("_w", "_end")]).select(
        "w", (F.col("_end") - F.col("_w")).alias("offset")
    )


def q_winnow_fingerprint_docs(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (SWA'03): per-window min of
    shingle hashes, in-row, SQL-reproducible via list lambdas."""
    from osmflat_rs_spark.operators.textops import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3, w=4)


def q_token_count_docs(spark, sf_dir):
    from osmflat_rs_spark.operators.textops import token_count

    return token_count(_t(spark, sf_dir, "documents"), "doc_id", "text")


FUNNEL_STEPS = ("view", "click", "purchase")


COHORT_PERIOD_US = 7 * 24 * 3_600_000_000


def q_scd2_events(spark, sf_dir):
    """Type-2 SCD history (``sessions.scd2_history``, r5): each user's
    event_type change log → half-open validity intervals with no-op
    updates collapsed (null-safe change compare — NULL↔value is a
    change, NULL↔NULL is not). One sort shuffle carries the collapse
    and the lead pass. Oracle = LAG ... IS DISTINCT FROM + LEAD over
    the kept rows — identical ANSI windows, all-integer timestamps."""
    from osmflat_rs_spark.operators.sessions import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(ev, "user_id", "ts", ["event_type"], order_cols=("event_id",))


def q_survival_events(spark, sf_dir):
    """Kaplan-Meier user-retention curve: lifetime = hours between a
    user's first and last event, right-censored when the user was
    still active in the corpus's final 24h — the survival product as
    prefix algebra over the distinct-times table."""
    from osmflat_rs_spark.operators.sessions import kaplan_meier

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us")
    )
    horizon = per_user.agg(F.max("last_us").alias("_h"))
    life = per_user.crossJoin(F.broadcast(horizon)).select(
        ((F.col("last_us") - F.col("first_us")) / F.lit(3_600_000_000)).cast("long").alias("dur_h"),
        (F.col("last_us") < F.col("_h") - F.lit(24 * 3_600_000_000)).cast("int").alias("event"),
    )
    return kaplan_meier(life, "dur_h", "event")


def q_logrank_events(spark, sf_dir):
    """Log-rank test between a deterministic user A/B split (id
    parity): same lifetimes/censoring as the KM gate, hypergeometric
    expectations over shared risk sets — under the null split chi2
    should sit small, and the arithmetic is fully oracled."""
    from osmflat_rs_spark.operators.sessions import logrank_test

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us")
    )
    horizon = per_user.agg(F.max("last_us").alias("_h"))
    life = per_user.crossJoin(F.broadcast(horizon)).select(
        ((F.col("last_us") - F.col("first_us")) / F.lit(3_600_000_000)).cast("long").alias("dur_h"),
        (F.col("last_us") < F.col("_h") - F.lit(24 * 3_600_000_000)).cast("int").alias("event"),
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("a")).otherwise(F.lit("b")).alias("seg"),
    )
    return logrank_test(life, "dur_h", "event", "seg")


def q_cohort_events(spark, sf_dir):
    """Cohort retention matrix (``sessions.cohort_retention``, r5):
    users cohorted by first-activity week (fixed epoch periods, exact
    integer floor), each later active week counted once — one
    min-aggregate + one (user, period) distinct + a rollup. Oracle =
    the same integer division in DuckDB."""
    from osmflat_rs_spark.operators.sessions import cohort_retention

    return cohort_retention(
        _t(spark, sf_dir, "events"), "user_id", "ts", period_us=COHORT_PERIOD_US
    )


def q_attribution_events(spark, sf_dir):
    """Last-touch + linear attribution of purchases to view/click
    touches within 1h: asof window for last-touch, bounded range join +
    exact 1/n split for linear. Touch ties pre-reduced to min channel
    per (user, ts) for cross-engine determinism."""
    from osmflat_rs_spark.operators.sessions import attribution

    e = _t(spark, sf_dir, "events")
    touches = (
        e.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "ts")
        .agg(F.min("event_type").alias("event_type"))
    )
    ev = touches.unionByName(
        e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_type")
    )
    return attribution(
        ev, "user_id", "ts", "event_type",
        touch_types=("view", "click"), conversion_type="purchase",
        window_us=3_600_000_000,
    )


def q_ab_conversion_events(spark, sf_dir):
    """Wilson 95% conversion intervals for the parity A/B split:
    converted = user had a purchase event; exact counts, deterministic
    IEEE interval arithmetic."""
    from osmflat_rs_spark.operators.sessions import ab_conversion

    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    seg = per_user.select(
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("a")).otherwise(F.lit("b")).alias("seg"),
        "conv",
    )
    return ab_conversion(seg, "seg", "conv")


def q_cuped_events(spark, sf_dir):
    """CUPED adjustment of second-half spend by first-half spend per
    user (parity A/B split): pooled theta from exact int64 moments,
    per-group adjusted means and variance reduction."""
    from osmflat_rs_spark.operators.sessions import cuped_adjust

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    mid = e.agg(((F.min("us") + F.max("us")) / 2).cast("long").alias("m"))
    per = e.crossJoin(F.broadcast(mid)).groupBy("user_id").agg(
        F.sum(F.when(F.col("us") < F.col("m"), F.col("v")).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("us") >= F.col("m"), F.col("v")).otherwise(0)).alias("y"),
    )
    seg = per.select(
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("a")).otherwise(F.lit("b")).alias("seg"),
        "x", "y",
    )
    return cuped_adjust(seg, "seg", "y", "x")


def q_sprt_events(spark, sf_dir):
    """Wald SPRT over the per-user conversion stream in user_id order,
    H0: p=0.9 vs H1: p=0.97 (conversion is near-universal at this SF):
    constant-literal LLR increments, one running-sum window, first
    crossing via in-aggregate min(struct)."""
    from osmflat_rs_spark.operators.sessions import sprt_bernoulli

    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    return sprt_bernoulli(per_user, "user_id", "conv", p0=0.9, p1=0.97)


def q_funnel_events(spark, sf_dir):
    """Ordered conversion funnel view→click→purchase: K bounded passes
    (filter pushed to scan + min-agg + equi-join on the shrinking
    converted-user table), greedy-earliest strict-after semantics
    restated by the oracle's chained min-CTEs."""
    from osmflat_rs_spark.operators.sessions import funnel_steps

    return funnel_steps(_t(spark, sf_dir, "events"), list(FUNNEL_STEPS))


def q_hampel_events(spark, sf_dir):
    """Hampel median/MAD outlier filter (``plans.indexing.
    hampel_outliers``, r5) over a deterministic heavy-tailed value
    (synth lat + a spike on every 53rd event, ~2%): two integer-rank
    medians + a CROSS-MULTIPLIED threshold — zero floats anywhere.
    Oracle restates both ROW_NUMBER medians and the same exact-int
    compare."""
    from osmflat_rs_spark.plans.indexing import hampel_outliers

    e = F.col("event_id")
    pts = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (
            (e * A_LAT) % F.lit(LATSPAN)
            + F.when(e % 53 == 0, F.lit(40_000_000)).otherwise(F.lit(0))
        ).cast("long").alias("v"),
    )
    return hampel_outliers(pts, "user_id", "event_id", "v", 3, 1)


def q_grouped_quantile_events(spark, sf_dir):
    """Per-group EXACT discrete quantiles (``plans.indexing.
    grouped_quantile``, r5) — median and p90 of each user's lat: one
    window sort shuffle + a broadcast (group, k) rank table, ranks in
    pure integer ceil arithmetic (the global ``quantile_events`` gate's
    no-float-ceil contract, per group). Oracle = ROW_NUMBER + the same
    integer k — all-integer rows."""
    from osmflat_rs_spark.plans.indexing import grouped_quantile

    pts = _synth_coords(_t(spark, sf_dir, "events"))
    return grouped_quantile(pts, "user_id", "lat", [(1, 2), (9, 10)])


def q_mean_center_events(spark, sf_dir):
    """Centrography per event_type (mean center, standard distance,
    deviational-ellipse orientation): ONE map-side-combined aggregate
    whose five moment sums are exact DECIMAL(38,0)/HUGEINT integers —
    reassociation-proof shuffle, floats only in the final projection."""
    from osmflat_rs_spark.operators.hotspot import mean_center

    return mean_center(
        _synth_coords(_t(spark, sf_dir, "events")), "event_type"
    )


SITE_N, SITE_A_LAT, SITE_A_LON = 12, 173_933, 339_721


def q_service_areas_events(spark, sf_dir):
    """Voronoi service areas: 12 deterministic sites over the synth
    bbox; per-event nearest site folds IN-ROW over the broadcast site
    array (exact decimal d², (d2, sid) struct argmin — zero assignment
    shuffle), then one exact-sum rollup. Oracle: cross-join + window
    argmin with HUGEINT d²."""
    from osmflat_rs_spark.operators.knn import service_areas

    sites = spark.range(SITE_N).selectExpr(
        "id AS site_id",
        f"CAST({LAT0} + (id * {SITE_A_LAT}) % {LATSPAN} AS LONG) AS lat",
        f"CAST({LON0} + (id * {SITE_A_LON}) % {LONSPAN} AS LONG) AS lon",
    )
    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    return service_areas(pts, sites)


EDIT_DIST_MAX = 16


def q_editdist_docs(spark, sf_dir):
    """Blocked edit-distance self-join over each doc's 6-token prefix
    string: length-band blocking (lossless: |len diff| ≤ d forces
    same-or-adjacent ⌊len/(d+1)⌋ buckets), canonicalize + dedupe before
    the ONE thresholded levenshtein verify (early-exit DP band). Oracle
    is the brute-force cross join with DuckDB's levenshtein — identical
    unit-cost distances on ASCII."""
    from osmflat_rs_spark.operators.dedup import edit_distance_join, words_expr

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(words_expr(F.col("text")), 1, 6), " ").alias("st"),
    )
    return edit_distance_join(docs, "doc_id", "st", EDIT_DIST_MAX)


QUANTILE_QS = ((1, 2), (9, 10), (99, 100))


def q_quantile_events(spark, sf_dir):
    """Exact distributed quantiles WITHOUT a global sort: count-based
    binary search on the value domain (log2(range) cached column scans,
    the legitimate bounded driver loop), exact rational ranks k =
    ceil(num·n/den) in pure integers. Oracle: global ROW_NUMBER rank —
    same numbers, the opposite (sort-based) plan."""
    from osmflat_rs_spark.plans.indexing import exact_quantile

    pts = _synth_coords(_t(spark, sf_dir, "events")).select("lat")
    rows = exact_quantile(pts, "lat", list(QUANTILE_QS))
    return spark.createDataFrame(rows, "num long, den long, k long, value long")


DENSIFY_GAP = 250_000


def q_densify_events(spark, sf_dir):
    """Polyline densification: no hop exceeds DENSIFY_GAP chessboard
    units — k via exact integer ceil-div (`div`, not a double cast:
    Spark truncates where DuckDB CAST rounds), lerp as the single
    non-reassociated IEEE expression both engines reproduce bit-for-bit
    (the resample_events precedent, unrounded)."""
    from osmflat_rs_spark.operators.trajectory import densify_segments

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "user_id", "ts", "event_id", "lat", "lon"
    )
    return densify_segments(pts, "user_id", DENSIFY_GAP)


def q_transitions_events(spark, sf_dir):
    """First-order Markov event-transition matrix: one entity-keyed lag
    window + one map-side pair count; row-conditional p from a
    #types-sized aggregate OF the pair table (no second corpus pass).
    Ordering key (ts, event_id) — canonical in both engines."""
    from osmflat_rs_spark.operators.sessions import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


def q_entropy_rate_events(spark, sf_dir):
    """Entropy rate + predictability of the event-type Markov chain:
    one ln-sum over the transition pair table."""
    from osmflat_rs_spark.operators.sessions import markov_entropy_rate

    return markov_entropy_rate(_t(spark, sf_dir, "events"))


FREQ_PAIRS_NUM, FREQ_PAIRS_DEN = 3, 5


def q_freq_pairs_docs(spark, sf_dir):
    """Apriori-pruned frequent token pairs (2-itemsets) at exact
    rational support ≥ 3/5 of the corpus: infrequent items are dropped
    before ANY pair forms (monotonicity), pairs come from a codegen
    self-equi-join of the pruned (doc, item) table; lift is one IEEE
    division on exact ints (round 6)."""
    from osmflat_rs_spark.operators.textops import frequent_pairs

    return frequent_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        min_support_frac=(FREQ_PAIRS_NUM, FREQ_PAIRS_DEN),
    )


def _freq_pairs_oracle_sql() -> str:
    tok = _ws_split_sql("lower(text)")
    num, den = FREQ_PAIRS_NUM, FREQ_PAIRS_DEN
    return f"""
        WITH items AS (SELECT doc_id, unnest(list_distinct({tok})) AS item
                       FROM documents),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        supp AS (SELECT item, COUNT(*) AS support FROM items GROUP BY item),
        freq AS (SELECT item, support FROM supp, nn
                 WHERE support * {den} >= {num} * nn.n),
        pr AS (SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_docs
               FROM items a JOIN freq fa ON fa.item = a.item
                    JOIN items b ON b.doc_id = a.doc_id AND b.item > a.item
                    JOIN freq fb ON fb.item = b.item
               GROUP BY 1, 2)
        SELECT pr.item_a, pr.item_b, CAST(pr.n_docs AS BIGINT) AS n_docs,
               CAST(fa.support AS BIGINT) AS support_a,
               CAST(fb.support AS BIGINT) AS support_b,
               round(CAST(pr.n_docs * nn.n AS DOUBLE)
                     / CAST(fa.support * fb.support AS DOUBLE), 6) AS lift
        FROM pr JOIN freq fa ON fa.item = pr.item_a
                JOIN freq fb ON fb.item = pr.item_b, nn
        WHERE pr.n_docs * {den} >= {num} * nn.n
    """


BM25_TERMS = ("join", "vector", "stream")
BM25_K1, BM25_B = 1.2, 0.75


def q_bm25_docs(spark, sf_dir):
    """Okapi BM25 relevance against a fixed 3-term query: dl in-row,
    token explode filtered to the query terms before its one shuffle,
    corpus stats reduced to one broadcast row; the 3 per-term
    contributions sum as one fixed left-associated IEEE expression both
    engines evaluate identically (round 6, engine contract)."""
    from osmflat_rs_spark.operators.textops import bm25_score

    return bm25_score(
        _t(spark, sf_dir, "documents"), "doc_id", "text", list(BM25_TERMS),
        k1=BM25_K1, b=BM25_B,
    )


def _bm25_oracle_sql() -> str:
    tok = _ws_split_sql("lower(text)")
    terms = BM25_TERMS
    in_list = ", ".join(f"'{t}'" for t in terms)
    tf_cols = ",\n".join(
        f"  SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n".join(
        f"  (SELECT COUNT(*) FROM tf WHERE tf{i} > 0) AS df{i}"
        for i in range(len(terms))
    )
    # float constants as shortest-round-trip strings parsed by CAST —
    # bit-identical to the Spark side's F.lit on the same Python floats
    k1 = f"CAST('{BM25_K1!r}' AS DOUBLE)"
    k1p1 = f"CAST('{BM25_K1 + 1.0!r}' AS DOUBLE)"
    omb = f"CAST('{1.0 - BM25_B!r}' AS DOUBLE)"
    bb = f"CAST('{BM25_B!r}' AS DOUBLE)"
    avgdl = "(CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE))"
    norm = f"({omb} + {bb} * (CAST(b.dl AS DOUBLE) / {avgdl}))"
    contribs = " + ".join(
        f"(ln((CAST(st.n AS DOUBLE) - CAST(st.df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(st.df{i} AS DOUBLE) + 0.5) + 1.0)"
        f" * ((CAST(tf.tf{i} AS DOUBLE) * {k1p1})"
        f" / (CAST(tf.tf{i} AS DOUBLE) + {k1} * {norm})))"
        for i in range(len(terms))
    )
    return f"""
        WITH base AS (SELECT doc_id, len({tok}) AS dl FROM documents),
        tk AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        tf AS (SELECT doc_id, {tf_cols}
               FROM tk WHERE term IN ({in_list}) GROUP BY doc_id),
        st AS (SELECT (SELECT COUNT(*) FROM base) AS n,
                      (SELECT SUM(dl) FROM base) AS sdl,
               {df_cols})
        SELECT b.doc_id, CAST(b.dl AS BIGINT) AS n_tokens,
               round({contribs}, 6) AS score
        FROM base b JOIN tf ON tf.doc_id = b.doc_id, st
    """


def q_chunk_docs(spark, sf_dir):
    """Sliding-window token chunking (``textops.chunk_tokens``, r5) —
    the training-data context-window splitter; HF stride convention
    (last chunk short, full tail coverage, n<=window -> one chunk).
    Oracle restates chunk count + slices with generate_series + list
    slicing over the same WS-contract tokenization."""
    from osmflat_rs_spark.operators.textops import chunk_tokens

    return chunk_tokens(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        window=CHUNK_WINDOW, stride=CHUNK_STRIDE,
    )


def q_pack_docs(spark, sf_dir):
    """GPT-style sequence packing (``textops.pack_sequences``, r5) —
    concat-all-docs-in-id-order + fixed-capacity split, docs crossing
    boundaries split across sequences. The engine computes offsets with
    the scalable two-pass prefix sum; the oracle states the naive
    1-partition window SUM — same numbers, opposite plan (the
    dense_index_orders pattern)."""
    from osmflat_rs_spark.operators.textops import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        capacity=PACK_CAPACITY, sep_tokens=1,
    )


def q_boilerplate_docs(spark, sf_dir):
    """CCNet-style boilerplate strip (``textops.boilerplate_strip``,
    r5): lines (3-token windows of the WS-contract word stream)
    repeating in >= 2 distinct docs of the same ``source`` are dropped;
    per doc -> line count, stripped count, surviving text in order.
    One (source, line) frequency exchange + one id-keyed reassembly;
    the oracle restates it with generate_series line fan-out + ordered
    string_agg with NULL-skip for the stripped lines."""
    from osmflat_rs_spark.operators.textops import boilerplate_strip

    return boilerplate_strip(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "source",
        line_words=3, min_docs=2,
    )


def q_lang_id_docs(spark, sf_dir):
    from osmflat_rs_spark.operators.textops import lang_id

    return lang_id(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_quality_docs(spark, sf_dir):
    from osmflat_rs_spark.operators.textops import quality_score

    return quality_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_tfidf_docs(spark, sf_dir):
    """Top-3 TF-IDF terms per document: one explode feeds tf AND df,
    idf join on term, per-doc window top-k with term tie-break."""
    from osmflat_rs_spark.operators.textops import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3)


HRW_SHARDS = 7


def q_hrw_shard_docs(spark, sf_dir):
    """Rendezvous (HRW) shard assignment over doc_id: argmax of the
    shared 60-bit md5 weight across 7 shards, computed as one in-row
    struct-array max — zero shuffle, pure codegen, bit-identical in any
    ANSI engine. Consistency (removing a shard remaps only its own
    keys) is pinned by the pytest model test."""
    from osmflat_rs_spark.operators.sampling import hrw_shard

    return hrw_shard(_t(spark, sf_dir, "documents"), "doc_id", HRW_SHARDS)


def q_novelty_docs(spark, sf_dir):
    """Corpus 3-gram novelty score (the memorization proxy): fraction of
    each doc's distinct word-shingles with corpus document-frequency 1.
    A df=1 shingle's owner IS its min(doc_id), so novel counts fall out
    of the same groupBy(shingle) that computes df — no join back onto
    the exploded shingle table. Exact counts, one IEEE division."""
    from osmflat_rs_spark.operators.textops import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3)


def q_contamination_docs(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap): docs
    sharing any word 5-gram with the deterministic pseudo-benchmark
    subset (doc_id % 97 == 0) are flagged; benchmark gram set is
    broadcast, the corpus never shuffles."""
    from osmflat_rs_spark.operators.textops import contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter((F.col("doc_id") % 97) == 0)
    return contamination(docs, bench, "doc_id", "text", n=5)


def q_unigram_logprob_docs(spark, sf_dir):
    """Corpus-unigram-LM quality proxy (CCNet-style): per-doc mean
    -log2 p(token) under the corpus unigram distribution; vocabulary
    broadcast, one corpus-keyed shuffle of combined partials."""
    from osmflat_rs_spark.operators.textops import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_bigram_logprob_docs(spark, sf_dir):
    """Bigram-LM quality score (add-one smoothing over the corpus's own
    bigram counts): in-row slice-zip bigrams, one explode feeding both
    count aggregates and the scoring join — unigram_logprob's shape,
    sequence-aware."""
    from osmflat_rs_spark.operators.textops import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_seg_intersections_events(spark, sf_dir):
    """Segment-intersection spatial self-join: 10k deterministic short
    segments (GPS-trace-like: synth point + bounded delta per event),
    all PROPERLY-crossing pairs via lossless grid-cell candidates +
    exact 4-orientation sign test (float filter, bigint fallback)."""
    _prep(spark)
    from osmflat_rs_spark.operators.segments import segment_intersection_join

    e = _synth_coords(_t(spark, sf_dir, "events"))
    segs = e.select(
        F.col("event_id").alias("sid"),
        F.col("lon").alias("x1"),
        F.col("lat").alias("y1"),
        (F.col("lon") + (F.col("event_id") * 48271 + 11) % 131073 - 65536).alias("x2"),
        (F.col("lat") + (F.col("event_id") * 16807 + 7) % 131073 - 65536).alias("y2"),
    )
    # 2^14 (~0.0016 deg) keeps per-cell candidate density low at the
    # bench's sf0.1 (100k segments in the fixed gate box); covers grow
    # ~4x but candidates shrink ~16x — measured 10.1s -> ~2s in-suite
    return segment_intersection_join(segs, cell_size=1 << 14)


def q_clip_tiles_events(spark, sf_dir):
    """Vector-tile cut: the same synthetic GPS-trace segments as the
    intersection gate, Liang–Barsky-clipped to 2^16 fixed-point grid
    cells and quantized to MVT-style 4096-extent tile-local ints —
    map-only codegen (zero shuffle, zero Python; the plan a 10^12-
    segment tile cut must have)."""
    _prep(spark)
    from osmflat_rs_spark.operators.clip import clip_segments_to_grid

    e = _synth_coords(_t(spark, sf_dir, "events"))
    segs = e.select(
        F.col("event_id").alias("sid"),
        F.col("lon").alias("x1"),
        F.col("lat").alias("y1"),
        (F.col("lon") + (F.col("event_id") * 48271 + 11) % 131073 - 65536).alias("x2"),
        (F.col("lat") + (F.col("event_id") * 16807 + 7) % 131073 - 65536).alias("y2"),
    )
    return clip_segments_to_grid(segs, cell_size=1 << 16, extent=4096)


FH_DIM = 16


def q_feature_hash_docs(spark, sf_dir):
    """Hashing-trick vectorizer (``textops.feature_hash``, r5) — each
    doc's signed dim-16 count vector from the portable md5-60bit hash
    family, posexploded to (doc_id, i, v) rows so the gate hashes pure
    integers. Zero shuffles engine-side (one in-row fold per doc);
    oracle rebuilds the identical vectors with list HOFs over the
    shared tokenizer template."""
    from osmflat_rs_spark.operators.textops import feature_hash

    out = feature_hash(
        _t(spark, sf_dir, "documents"), "doc_id", "text", dim=FH_DIM, signed=True
    )
    return out.select("doc_id", F.posexplode("vec").alias("i", "v"))


def q_repetition_docs(spark, sf_dir):
    """Gopher-style repetition quality signals: most-frequent-2-gram
    character fraction + duplicated-3-gram positional-coverage fraction,
    per document (Rae et al. 2021 filter rules, exact relational form)."""
    from osmflat_rs_spark.operators.textops import repetition_signals

    return repetition_signals(
        _t(spark, sf_dir, "documents"), "doc_id", "text", top_n=2, dup_n=3
    )


def q_lexdiv_docs(spark, sf_dir):
    """Lexical diversity (TTR + hapax fraction) per document: zero-
    shuffle in-row sorted-run counting; the oracle recomputes the same
    counts through the completely different explode -> group path."""
    from osmflat_rs_spark.operators.textops import lexical_diversity

    return lexical_diversity(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_zipf_docs(spark, sf_dir):
    """Per-lang Zipf rank-frequency slope over the top-128 tokens:
    skew-capped two-phase rank, closed-form OLS in ln-ln space."""
    from osmflat_rs_spark.operators.textops import zipf_slope

    return zipf_slope(_t(spark, sf_dir, "documents"), "text", "lang", top_r=128)


def q_dsir_docs(spark, sf_dir):
    """DSIR importance weights: hashed uni+bigram log-likelihood ratio
    of the lang='en' target model vs the whole-corpus source model,
    4096 portable md5 buckets, Laplace smoothing, ROUND-9 floats."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.textops import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        F.col("lang") == "en", dim=4096,
    )


def q_ipf_events(spark, sf_dir):
    """Doubly-constrained gravity model: IPF/Furness balancing of a
    distance-decay seed over ~32 coarse zones, margins = zone counts,
    3 unrolled iterations. The zone-pair seed is a cross of two
    aggregated zone tables (bounded by design); the oracle restates
    each scaling as a window sum."""
    from osmflat_rs_spark.operators.interpolate import ipf_balance

    Z = 500_000
    pts = _synth_coords(_t(spark, sf_dir, "events"))
    zones = pts.groupBy(
        F.expr(f"lat div {Z}").alias("zx"), F.expr(f"lon div {Z}").alias("zy")
    ).agg(F.count(F.lit(1)).alias("tot"))
    a, b = zones.alias("a"), zones.alias("b")
    od = a.crossJoin(b).select(
        (F.col("a.zx") * 1000 + F.col("a.zy")).alias("o"),
        (F.col("b.zx") * 1000 + F.col("b.zy")).alias("d"),
        (
            F.lit(1_000_000.0)
            / (
                1
                + (F.col("a.zx") - F.col("b.zx")) * (F.col("a.zx") - F.col("b.zx"))
                + (F.col("a.zy") - F.col("b.zy")) * (F.col("a.zy") - F.col("b.zy"))
            )
        ).alias("seed"),
    )
    om = zones.select((F.col("zx") * 1000 + F.col("zy")).alias("o"), "tot")
    dm = zones.select((F.col("zx") * 1000 + F.col("zy")).alias("d"), "tot")
    out = ipf_balance(od, "o", "d", "seed", om, dm, iters=3)
    return out.select("o", "d", F.round("t", 6).alias("t"))


def q_split_docs(spark, sf_dir):
    """Leakage-safe train/val/test split: the split is hashed from the
    near-dup CLUSTER (MinHash-LSH pairs -> connected components;
    singletons = own cluster), so duplicates never straddle a split."""
    from osmflat_rs_spark.operators.dedup import cluster_safe_split, minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b")
    return cluster_safe_split(docs, "doc_id", pairs, test_pct=10, val_pct=10)


def q_kl_docs(spark, sf_dir):
    """Per-lang corpus drift: KL(P_lang || P_corpus) over 1024 smoothed
    md5 unigram buckets, zero-count buckets fanned back in per group."""
    from osmflat_rs_spark.operators.textops import corpus_kl

    return corpus_kl(_t(spark, sf_dir, "documents"), "text", "lang", dim=1024)


def q_heaps_docs(spark, sf_dir):
    """Per-lang Heaps'-law fit: OLS of ln(types) on ln(tokens) across
    docs, per-doc counts from the zero-shuffle sorted-run machinery."""
    from osmflat_rs_spark.operators.textops import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"), "doc_id", "text", "lang")


def q_cdc_docs(spark, sf_dir):
    """Content-defined chunking at word granularity (mask 2^3): local
    boundary decisions, md5 chunk digests — the storage-dedup /
    incremental-sync chunker next to the fixed-stride chunk gate."""
    from osmflat_rs_spark.operators.textops import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"), "doc_id", "text", mask_bits=3)


def q_bpe_docs(spark, sf_dir):
    """BPE merge-table trainer over the documents corpus (16 merges):
    corpus touched once, rounds run on the Heaps-bounded vocabulary
    table with one-row argmax pulls. Deterministic but not
    SQL-restatable (iterative argmax + re-segmentation), so this gate
    carries no oracle_sql — the pytest reference-BPE parity test is
    the correctness check (the IVF-trainer precedent)."""
    from osmflat_rs_spark.operators.textops import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), "text", n_merges=16)


def q_cdc_dedup_docs(spark, sf_dir):
    """Chunk-level storage accounting over the CDC chunker: unique vs
    total chunks and token volume — the dedup-ratio number a
    content-addressed store quotes (every repeated chunk stores once).
    Pure composition on cdc_chunks; exact ints + two IEEE divisions."""
    from osmflat_rs_spark.operators.textops import cdc_chunks

    ch = cdc_chunks(_t(spark, sf_dir, "documents"), "doc_id", "text", mask_bits=3)
    per = ch.groupBy("digest").agg(
        F.count(F.lit(1)).alias("_n"), F.first("n_tok").alias("_t")
    )
    return per.agg(
        F.sum("_n").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum(F.col("_n") * F.col("_t")).cast("long").alias("tok_total"),
        F.sum("_t").cast("long").alias("tok_stored"),
    ).select(
        "n_chunks", "n_unique", "tok_total", "tok_stored",
        (F.col("n_unique").cast("double") / F.col("n_chunks")).alias("unique_ratio"),
        (F.lit(1.0) - F.col("tok_stored").cast("double") / F.col("tok_total")).alias("savings"),
    )


def q_heldout_ppl_docs(spark, sf_dir):
    """Pipeline-composition capstone: unigram cross-entropy/perplexity
    of the VAL split under a model trained on the TRAIN split, with the
    split itself leakage-safe (hashed from near-dup clusters) — the
    end-to-end eval loop every corpus pipeline runs, stitched from the
    engine's own operators (minhash pairs -> CC split -> token counts
    -> smoothed CE). ln-sums ROUND 6; ppl = exp(ce) ROUND 4."""
    from osmflat_rs_spark.operators.dedup import cluster_safe_split, minhash_dedup, words_expr

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b")
    split = cluster_safe_split(docs, "doc_id", pairs, test_pct=10, val_pct=10)
    toks = docs.join(split.select("doc_id", "split"), "doc_id").select(
        "split", F.explode(words_expr(F.col("text"))).alias("tok")
    )
    train = toks.filter(F.col("split") == "train").groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tstats = train.agg(
        F.sum("c").alias("_nt"), F.count(F.lit(1)).alias("_v")
    )
    val = toks.filter(F.col("split") == "val").join(train, "tok", "left")
    scored = val.crossJoin(F.broadcast(tstats)).select(
        (
            F.log(F.coalesce(F.col("c"), F.lit(0)).cast("double") + 1)
            - F.log((F.col("_nt") + F.col("_v") + 1).cast("double"))
        ).alias("_lp")
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_val_tok"),
        F.round(-F.sum("_lp") / F.count(F.lit(1)), 6).alias("ce"),
    )
    return agg.crossJoin(F.broadcast(tstats)).select(
        F.col("_nt").cast("long").alias("n_train_tok"),
        F.col("_v").cast("long").alias("vocab"),
        F.col("n_val_tok").cast("long").alias("n_val_tok"),
        "ce",
        F.round(F.exp(F.col("ce")), 4).alias("ppl"),
    )


def q_js_docs(spark, sf_dir):
    """Per-lang Jensen-Shannon divergence to the corpus over the same
    1024 smoothed md5 buckets as kl_docs — symmetric, bounded by ln 2,
    comparable across shards of different sizes."""
    from osmflat_rs_spark.operators.textops import corpus_js

    return corpus_js(_t(spark, sf_dir, "documents"), "text", "lang", dim=1024)


def q_kmv_distinct_events(spark, sf_dir):
    """KMV bottom-64 distinct sketch over event_id: portable relational
    state (the 64 smallest md5 hashes), estimate reproduced bit-for-bit
    by the SQL oracle — the sketch gate HLL can't have."""
    from osmflat_rs_spark.operators.sketch import kmv_build, kmv_estimate

    return kmv_estimate(kmv_build(_t(spark, sf_dir, "events"), "event_id", k=64), k=64)


def q_kmv_setops_events(spark, sf_dir):
    """KMV sketch algebra: union / Jaccard / intersection estimates for
    viewer vs purchaser user sets from two bottom-64 sketches — set
    sizes of table combinations without rescanning either table."""
    from osmflat_rs_spark.operators.sketch import kmv_build, kmv_set_ops

    e = _t(spark, sf_dir, "events")
    ska = kmv_build(e.filter(F.col("event_type") == "view"), "user_id", k=64)
    skb = kmv_build(e.filter(F.col("event_type") == "purchase"), "user_id", k=64)
    return kmv_set_ops(ska, skb, k=64)


def q_stratified_events(spark, sf_dir):
    """Deterministic stratified sample: 20 events per event_type by
    seeded-hash order (two-phase skew-capped top-n; oracle is the plain
    single-window form — exact identity)."""
    from osmflat_rs_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "events"), "event_id", "event_type", n_per_group=20
    )


def q_weighted_sample_events(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample without replacement: 25
    events per event_type, weight = len(props)+1, rank key ln(u)/w with
    deterministic u from the seeded hash."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _t(spark, sf_dir, "events"),
        "event_id",
        (F.length("props") + 1).cast("double"),
        n=25,
        group_col="event_type",
    )


def q_temperature_mix_docs(spark, sf_dir):
    """Temperature-scaled domain mixing (``sampling.temperature_mix``,
    r5): per-lang budget ∝ sqrt(n_lang) on the 1e-6 int64 lattice
    (exact-integer normalizer), deterministic md5-hash acceptance —
    the LLM multi-corpus rebalancer as one broadcast join + codegen
    filter. 300-doc budget over the lang domains."""
    from osmflat_rs_spark.operators.sampling import temperature_mix

    return temperature_mix(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", total=300, alpha=0.5
    )


def q_minhash_pairs_docs(spark, sf_dir):
    """MinHash+LSH near-dup: shingle → 8 minhashes → 4 bands → bucket
    join → exact jaccard ≥ 0.5 (the full pipeline IS the semantics)."""
    from osmflat_rs_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5).select(
        "id_a", "id_b", "jaccard"
    )


def q_bloom_join_orders(spark, sf_dir):
    """Bloom-pruned join: orders joined to BUILDING-segment customers
    through an in-row literal-bitmap predicate (codegen bit arithmetic
    at the scan) — result bit-identical to the plain join by the
    no-false-negative guarantee, which is exactly what the oracle (a
    plain SQL join) checks."""
    from osmflat_rs_spark.operators.sketch import bloom_pruned_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderpriority", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("custkey"), "c_nationkey")
    j = bloom_pruned_join(orders, cust, "custkey", m_bits=8192, k=4)
    return j.groupBy("o_orderpriority", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
    )


def q_bloom_probe_customers(spark, sf_dir):
    """Bloom membership sketch (4th relational sketch): build over
    orders.o_custkey, probe every customer — no false negatives; the
    oracle reproduces the bit set exactly, so even the false positives
    hash-match."""
    from osmflat_rs_spark.operators.sketch import bloom_build, bloom_probe

    sk = bloom_build(_t(spark, sf_dir, "orders"), "o_custkey", m_bits=8192, k=4)
    return bloom_probe(
        sk, _t(spark, sf_dir, "customer"), "c_custkey", m_bits=8192, k=4
    )


def q_hull_users(spark, sf_dir):
    """Per-user convex hull corners (monotone chain, exact orientation
    with bigint fallback). Oracle is an INDEPENDENT formulation —
    Caratheodory triangle containment in HUGEINT — restricted to
    user_id % 10 = 0 to bound its O(n^4) cost."""
    _prep(spark)
    from osmflat_rs_spark.operators.hull import convex_hull

    pts = (
        _synth_coords(_t(spark, sf_dir, "events"))
        .filter(F.col("user_id") % 10 == 0)
        .select("user_id", "lat", "lon")
    )
    return convex_hull(pts, "user_id")


def q_simplify_users(spark, sf_dir):
    """Radial-distance polyline simplification of each user's
    event-ordered trajectory (sequential kept-chain semantics; in-row
    Catalyst aggregate fold, exact int64 — DuckDB recursive-CTE twin)."""
    from osmflat_rs_spark.functions.geo import simplify_radial

    pts = _synth_coords(_t(spark, sf_dir, "events")).select(
        "user_id", F.col("event_id").alias("pos"), "lat", "lon"
    )
    return simplify_radial(pts, "user_id", "pos", tol=500_000)


def q_hist_quantiles_events(spark, sf_dir):
    """Equi-width histogram sketch (mergeable relational state) →
    interpolated p50/p90/p99 of events.value; estimates bit-identical
    to the SQL oracle (pure IEEE double arithmetic, round 6)."""
    from osmflat_rs_spark.operators.sketch import hist_build, hist_quantiles

    h = hist_build(_t(spark, sf_dir, "events"), "value", 0.0, 1024.0, bins=256)
    return hist_quantiles(h, [0.5, 0.9, 0.99], 0.0, 1024.0, bins=256)


def q_interval_join_events(spark, sf_dir):
    """Interval overlap join: click intervals x error intervals (start =
    event ts in us, deterministic duration) — bucketed equi-join with the
    canonical-overlap-start bucket, each pair exactly once, no UDF."""
    from osmflat_rs_spark.operators.intervals import interval_join

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("event_id") * 9973) % 1_800_000_000
        ).alias("e"),
    )
    left = e.filter(F.col("event_type") == "click")
    right = e.filter(F.col("event_type") == "error")
    return interval_join(
        left, right, "event_id", "s", "e", "event_id", "s", "e",
        bucket_size=600_000_000,
    )


def q_dedup_clusters_docs(spark, sf_dir):
    """Near-dup pairs → duplicate CLUSTERS: connected components over
    the MinHash-LSH pair graph (iterative min-label + pointer jumping,
    O(log n) rounds), representative = component-min doc_id."""
    from osmflat_rs_spark.operators.dedup import minhash_dedup
    from osmflat_rs_spark.operators.graph import dedup_cluster_representatives

    pairs = minhash_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    ).select("id_a", "id_b")
    return dedup_cluster_representatives(pairs)


def q_dedup_retain_docs(spark, sf_dir):
    """Retain-BEST per duplicate cluster (``dedup.retain_best``, r5):
    same MinHash-LSH pair graph as dedup_clusters_docs, but the
    survivor is the highest-score member (BIGINT word count; ties to
    lowest doc_id) rather than min-id — the selection real pipelines
    run. Corpus-side work is one left join + one argmax-struct
    aggregate; oracle = recursive-CTE CC + ROW_NUMBER window."""
    from osmflat_rs_spark.operators.dedup import minhash_dedup, retain_best, words_expr

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b")
    scored = docs.select(
        "doc_id", F.size(words_expr(F.col("text"))).cast("long").alias("score")
    )
    return retain_best(scored, pairs, "doc_id", "score")


def q_ngram_jaccard_docs(spark, sf_dir):
    """Blocked exact word-set jaccard (block = source) ≥ 0.6."""
    from osmflat_rs_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", "source", 0.6)


def q_containment_docs(spark, sf_dir):
    """Exact word-set CONTAINMENT ≥ 0.5 (``dedup.containment_pairs``,
    r5) — ORDERED pairs |A∩B|/|A|: the asymmetric subset-duplication
    signal jaccard misses (snippet-inside-page). Same in-row
    array_intersect shape as the jaccard gate; the oracle is the same
    brute-force word-set join with the asymmetric formula and BOTH
    directions kept."""
    from osmflat_rs_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "source", threshold=0.5
    )


def q_ngram_jaccard_prefix_docs(spark, sf_dir):
    """The r5 PPJoin-style prefix-filtered form of the SAME exact-jaccard
    operator (lossless candidate generation: df-ordered prefix-token
    collisions instead of per-bucket all-pairs — the path that scales
    past ~10^4-doc buckets). Hash-checked against the IDENTICAL SQL
    oracle as ngram_jaccard_docs: the methods are physical plans of one
    semantics."""
    from osmflat_rs_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "source", 0.6, method="prefix"
    )


def q_simhash_docs(spark, sf_dir):
    from osmflat_rs_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), "doc_id", "text").withColumnRenamed("_id", "doc_id")


def q_hamming_simhash_docs(spark, sf_dir):
    """Banded Hamming near-dup join (``dedup.hamming_neardup_pairs``,
    r5) over 16-bit SimHash fingerprints, distance ≤ 2: multi-index
    pigeonhole banding (3 bands — qualifying pairs match exactly on
    ≥ 1), first-match band ownership so no distinct stage exists, one
    bit_count(XOR) verify per candidate. The same operator serves
    image dHash (``multimodal.dhash_images``, 64-bit — model-tested).
    Oracle = brute-force bit_count cross join over the simhash oracle's
    own fingerprints."""
    from osmflat_rs_spark.operators.dedup import hamming_neardup_pairs, simhash

    sh = simhash(_t(spark, sf_dir, "documents"), "doc_id", "text").withColumnRenamed(
        "_id", "doc_id"
    )
    return hamming_neardup_pairs(sh, "doc_id", "simhash", bits=16, max_hamming=2)


def q_dup_spans_docs(spark, sf_dir):
    """Cross-document duplicated PASSAGES (ExactSubstr of Lee et al. 2022
    as a relational plan): maximal word spans covered by 8-grams that
    occur in ≥2 distinct docs. Hash-shuffle, semi-join recovery,
    interval-merge window — no text ever crosses an exchange."""
    from osmflat_rs_spark.operators.dedup import duplicate_passage_spans

    return duplicate_passage_spans(_t(spark, sf_dir, "documents"), "doc_id", "text", k=8)


# --------------------------------------------------------------------------
# embeddings: ANN + near-dup
# --------------------------------------------------------------------------


def q_embedding_neardup(spark, sf_dir):
    """Cosine near-dup within label blocks, rounded for cross-engine float
    stability."""
    from osmflat_rs_spark.operators.dedup import embedding_cosine_pairs

    out = embedding_cosine_pairs(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", 0.9)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine_r"))


def q_embedding_neardup_srp(spark, sf_dir):
    """SRP-LSH global near-dup vs the exact all-pairs baseline
    (dedup.embedding_neardup_srp): exact precision (SRP output must be a
    SUBSET of the exact pair set — candidates are re-scored with the
    exact cosine kernel) plus a deterministic ≥0.8 recall floor, both
    folded into one hash-checked row. Threshold 0.4 because that is
    where the synthetic fixture HAS pairs (its max pairwise cosine is
    ~0.51 — the 0.9-threshold label gate is trivially empty); 3 planes ×
    12 tables gives measured recall 0.97/0.966 on the two fixture SFs,
    and the md5-derived hyperplanes make that a constant, not a draw."""
    from osmflat_rs_spark.operators.dedup import embedding_cosine_pairs, embedding_neardup_srp

    emb = _t(spark, sf_dir, "embeddings")
    exact = embedding_cosine_pairs(
        emb.withColumn("_g", F.lit(1)), "vec_id", "embedding", "_g", 0.4
    ).select("id_a", "id_b")
    srp = embedding_neardup_srp(
        emb, "vec_id", "embedding", 0.4, n_planes=3, n_tables=12
    ).select("id_a", "id_b")
    # membership mask per pair: 1 = exact only, 2 = srp only, 3 = both
    per = (
        exact.withColumn("src", F.lit(1))
        .unionByName(srp.withColumn("src", F.lit(2)))
        .groupBy("id_a", "id_b")
        .agg(F.sum("src").alias("m"))
    )
    n_exact = F.count(F.when(F.col("m") != 2, 1))
    n_found = F.count(F.when(F.col("m") == 3, 1))
    n_extra = F.count(F.when(F.col("m") == 2, 1))
    return per.agg(
        n_exact.cast("long").alias("n_exact_pairs"),
        (n_found >= 0.8 * n_exact).alias("recall_ok"),
        (n_extra == F.lit(0)).alias("srp_subset_of_exact"),
    )


def q_hard_negatives(spark, sf_dir):
    """Contrastive hard negatives for anchors 0,1,2: top-5 most similar
    embeddings with a DIFFERENT label, rounded-cosine rank, vec_id
    ties — the training-loop negative miner over the embeddings table."""
    from osmflat_rs_spark.operators.ann import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negatives(emb, q, k=5)


def q_rrf_parts(spark, sf_dir):
    """Reciprocal-rank fusion of two part rankers (cheapest-first and
    largest-first top-20): exact rational RRF scores via one in-row
    cross-multiplication fold — no ranker joins, no float ties."""
    from pyspark.sql import Window

    from osmflat_rs_spark.operators.ann import rrf_fuse

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("sz"),
    )
    w1 = Window.orderBy(F.col("cents").asc(), F.col("p_partkey").asc())
    w2 = Window.orderBy(F.col("sz").desc(), F.col("p_partkey").asc())
    r1 = part.select("p_partkey", F.row_number().over(w1).alias("rank")).filter(F.col("rank") <= 20)
    r2 = part.select("p_partkey", F.row_number().over(w2).alias("rank")).filter(F.col("rank") <= 20)
    return rrf_fuse([r1, r2], id_col="p_partkey", query_col=None, k=60)


def q_ndcg_ann(spark, sf_dir):
    """nDCG@5 of the brute-force cosine ranking with same-label
    relevance: two in-row sorts + folds per query, ROUND-6 log2 sums."""
    from osmflat_rs_spark.operators.ann import ndcg_at_k

    base = q_ann_topk(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    lab = emb.select(F.col("vec_id"), F.col("label"))
    qlab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("_ql")
    )
    r = (
        base.join(F.broadcast(lab), "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .withColumn("rel", (F.col("label") == F.col("_ql")).cast("int"))
    )
    return ndcg_at_k(r, rel_col="rel", k=5)


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (query vecs = corpus ids 0,1,2), ranked on
    rounded cosine with vec_id tie-break; self excluded BEFORE ranking."""
    from osmflat_rs_spark.operators.ann import _dot

    emb = _t(spark, sf_dir, "embeddings")
    c = emb.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("vb"))
    q = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("va")
    )
    joined = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cosine")
    )


ANN_QUERY_IDS = [0, 1, 2]
ANN_K = 5
ANN_FLOOR_HITS = 4  # recall@5 >= 0.8 per query


def _ann_recall_gate(spark, sf_dir, approx_fn) -> DataFrame:
    """Driver-enforced ANN quality gate (VERDICT r02 #2): the engine
    computes recall@k of the approximate operator against its own exact
    brute-force baseline (``cosine_topk``), per query; the SQL oracle
    asserts every query clears the 0.8 floor. A recall regression in the
    bucketing therefore flips ``recall_ok`` and fails the driver's
    hash check — the pytest floors become driver-checkable."""
    from osmflat_rs_spark.operators.ann import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = cosine_topk(emb, q, k=ANN_K).select("query_id", "vec_id")
    approx = approx_fn(emb, q).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(ANN_K).alias("k"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) >= F.lit(ANN_FLOOR_HITS)).alias("recall_ok"),
        )
    )


def q_ann_srp_topk(spark, sf_dir):
    """LSH (signed-random-projection) bucketed ANN — the scale path.
    Gate output: per-query recall@5 floor vs the exact baseline."""
    _prep(spark)
    from osmflat_rs_spark.operators.ann import srp_bucketed_topk

    return _ann_recall_gate(
        spark, sf_dir, lambda emb, q: srp_bucketed_topk(emb, q, k=ANN_K, dim=64)
    )


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011): deterministic
    per-subspace codebooks, distributed Arrow encode, ADC lookup-table
    scan over m int codes per row (the 100-TB bandwidth path), exact
    cosine re-rank of the pooled oversampled candidates. Gate output:
    per-query recall@5 floor vs the exact baseline."""
    _prep(spark)
    from osmflat_rs_spark.operators.ann import pq_topk, train_pq_codebooks

    def _approx(emb, q):
        books = train_pq_codebooks(emb, m=8, n_codes=32)
        # oversample 24 (not 8): at the 500-vector gate corpus the ADC
        # candidate pool must be a larger corpus FRACTION to clear the
        # recall floor on every data draw (sf0.001's draw sat at 3/5
        # with 8) — the production contract stays fraction-of-corpus,
        # the pooled re-rank is still exact
        return pq_topk(emb, q, books, k=ANN_K, oversample=24)

    return _ann_recall_gate(spark, sf_dir, _approx)


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ (FAISS IVFADC layout): cluster pruning picks which rows
    are READ, ADC codes bound what the scan TOUCHES — the composed
    100-TB ANN path. Gate output: per-query recall@5 floor."""
    _prep(spark)
    from osmflat_rs_spark.operators.ann import (
        ivf_pq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    def _approx(emb, q):
        cent = train_ivf_centroids(emb, n_clusters=16)
        books = train_pq_codebooks(emb, m=8, n_codes=32)
        # probes/oversample sized for the 500-vector gate corpus (see
        # q_ann_pq_topk note): 12 of 16 lists + 24x oversample clears
        # the floor on both testdata draws
        return ivf_pq_topk(emb, q, cent, books, k=ANN_K, n_probes=12, oversample=24)

    return _ann_recall_gate(spark, sf_dir, _approx)


def q_ann_srp_arrow_topk(spark, sf_dir):
    """Now a duplicate of ``ann_srp_topk``: the Arrow-matmul encode it
    used to select is the operator's only SRP encode. The gate keeps its
    name and oracle text so earlier recorded results stay comparable."""
    _prep(spark)
    from osmflat_rs_spark.operators.ann import srp_bucketed_topk

    return _ann_recall_gate(
        spark,
        sf_dir,
        lambda emb, q: srp_bucketed_topk(emb, q, k=ANN_K, dim=64),
    )


# --------------------------------------------------------------------------
# SQL oracle builders
# --------------------------------------------------------------------------


def _spread_sql(x: str) -> str:
    e = f"(({x}) & 2147483647)"
    for sh, m in [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]:
        e = f"((({e}) | (({e}) << {sh})) & {m})"
    return e


def _cell_sql(lat: str, lon: str, res: int) -> str:
    n = 1 << res
    ix = f"GREATEST(0, LEAST({n - 1}, (({lon}) + 1800000000) * {n} // 3600000000))"
    iy = f"GREATEST(0, LEAST({n - 1}, (({lat}) + 900000000) * {n} // 1800000000))"
    return f"(({1 << (2 * res)}) | ({_spread_sql(ix)}) | (({_spread_sql(iy)}) << 1))"


def _ring_halfplanes_sql(ring, lon: str, lat: str, strict: bool = False) -> str:
    """Convex CCW ring containment as a half-plane conjunction; strict
    excludes the boundary (the hole-oracle form: a point ON a hole edge
    is NOT strictly inside the hole, so even-odd keeps it)."""
    op = ">" if strict else ">="
    terms = []
    m = len(ring)
    for i in range(m):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % m]
        terms.append(f"(({x2 - x1}) * (({lat}) - ({y1})) - ({y2 - y1}) * (({lon}) - ({x1}))) {op} 0")
    return " AND ".join(terms)


def _halfplanes_sql(lon: str, lat: str) -> str:
    return _ring_halfplanes_sql(HEX_RING, lon, lat)


def _fill_cells_oracle_sql(res: int = 16) -> str:
    """fill_cells oracle: every cell of a padded GLOBAL bbox universe
    tested against each polygon's literal half-planes (the engine fans
    out per-polygon bboxes instead — both are lossless supersets)."""
    lon_span, lat_span = 3_600_000_000, 1_800_000_000
    verts = [v for _, ring in FILL_POLYS for v in ring] + HEX_RING

    def quant(v, off, span):
        return max(0, min((1 << res) - 1, (v + off) * (1 << res) // span))

    gix0 = quant(min(lo for lo, _ in verts), lon_span // 2, lon_span) - 2
    gix1 = quant(max(lo for lo, _ in verts), lon_span // 2, lon_span) + 2
    giy0 = quant(min(la for _, la in verts), lat_span // 2, lat_span) - 2
    giy1 = quant(max(la for _, la in verts), lat_span // 2, lat_span) + 2
    cells = f"""
      WITH cells AS (
        SELECT gx.ix AS ix, gy.iy AS iy,
               (2 * gx.ix + 1) * {lon_span} // {1 << (res + 1)} - {lon_span // 2} AS clon,
               (2 * gy.iy + 1) * {lat_span} // {1 << (res + 1)} - {lat_span // 2} AS clat
        FROM generate_series({gix0}, {gix1}) gx(ix),
             generate_series({giy0}, {giy1}) gy(iy))
    """
    branches = [
        f"SELECT '{pid}' AS polygon_id, ix, iy FROM cells "
        f"WHERE {_ring_halfplanes_sql(ring, 'clon', 'clat')}"
        for pid, ring in FILL_POLYS
    ]
    branches.append(
        "SELECT 'hexhole' AS polygon_id, ix, iy FROM cells "
        f"WHERE ({_ring_halfplanes_sql(HEX_RING, 'clon', 'clat')}) "
        f"AND NOT ({_ring_halfplanes_sql(HOLE_RING, 'clon', 'clat', strict=True)})"
    )
    return cells + " UNION ALL ".join(branches)


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    s = 10_000_000.0
    r = 6372797.560856
    return (
        f"2.0 * ASIN(SQRT("
        f"SIN((RADIANS(({lat2})/{s}) - RADIANS(({lat1})/{s}))/2.0) * SIN((RADIANS(({lat2})/{s}) - RADIANS(({lat1})/{s}))/2.0)"
        f" + COS(RADIANS(({lat1})/{s})) * COS(RADIANS(({lat2})/{s}))"
        f" * SIN((RADIANS(({lon2})/{s}) - RADIANS(({lon1})/{s}))/2.0) * SIN((RADIANS(({lon2})/{s}) - RADIANS(({lon1})/{s}))/2.0)"
        f")) * {r}"
    )


_MD5I = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _words_cte() -> str:
    return (
        "words AS (SELECT doc_id, "
        f"generate_subscripts({_ws_split_sql()}, 1) - 1 AS pos, "
        f"unnest({_ws_split_sql()}) AS w FROM documents)"
    )


def _dda_sql(src: str, idc: str) -> str:
    """DDA expansion in SQL: cross join a bounded series + filter g<=m."""
    return f"""
      steps AS (SELECT g FROM generate_series(0, {GRID - 1}) t(g)),
      dda AS (
        SELECT {idc},
               x0 + (CASE WHEN x1 >= x0 THEN 1 ELSE -1 END) * ((2 * abs(x1 - x0) * g + m) // (2 * m)) AS x,
               y0 + (CASE WHEN y1 >= y0 THEN 1 ELSE -1 END) * ((2 * abs(y1 - y0) * g + m) // (2 * m)) AS y
        FROM (SELECT *, GREATEST(abs(x1 - x0), abs(y1 - y0)) AS m FROM {src}) s, steps
        WHERE m > 0 AND g <= m
        UNION ALL
        SELECT {idc}, x0 AS x, y0 AS y
        FROM (SELECT *, GREATEST(abs(x1 - x0), abs(y1 - y0)) AS m FROM {src}) s
        WHERE m = 0
      )"""


def _minhash_sql(threshold: float = 0.5) -> str:
    # 8 hash fns = 2 md5 digests x 4 32-bit slices (engine-identical)
    h = (
        "('0x' || substr(CASE WHEN i < 4 THEN md5(shingle) "
        "ELSE md5('1:' || shingle) END, (i % 4) * 8 + 1, 8))::BIGINT"
    )
    sig_cols = ", ".join(f"MIN(CASE WHEN i = {i} THEN h END) AS sig_{i}" for i in range(8))
    band_rows = " UNION ALL ".join(
        f"SELECT _id, {b} AS band, md5(CAST(sig_{2*b} AS VARCHAR) || '_' || CAST(sig_{2*b+1} AS VARCHAR)) AS bh FROM sigs"
        for b in range(4)
    )
    return f"""
WITH {_words_cte()},
base AS (SELECT doc_id, lower(text) AS ltext,
                {_ws_split_sql()} AS ws FROM documents),
sh AS (SELECT doc_id AS _id,
              unnest(CASE WHEN len(ws) >= 3
                     THEN list_transform(generate_series(0, len(ws) - 3),
                                         i -> array_to_string(list_slice(ws, i + 1, i + 3), ' '))
                     ELSE [ltext] END) AS shingle
       FROM base),
hashed AS (SELECT _id, shingle, i, {h} AS h FROM sh, generate_series(0, 7) t(i)),
sigs AS (SELECT _id, {sig_cols} FROM hashed GROUP BY _id),
bands AS ({band_rows}),
cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a._id < b._id),
wset AS (SELECT DISTINCT doc_id, w FROM words),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM wset GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter
          FROM cand c JOIN wset wa ON wa.doc_id = c.id_a JOIN wset wb ON wb.doc_id = c.id_b AND wa.w = wb.w
          GROUP BY c.id_a, c.id_b)
SELECT c.id_a, c.id_b,
       CAST(COALESCE(i.inter, 0) AS DOUBLE) / CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE) / CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE) >= {threshold}
"""


def _simhash_sql(bits: int = 16) -> str:
    hw = _MD5I.format(x="w")
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(bits)
    )
    build = " + ".join(f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)" for j in range(bits))
    return f"""
WITH {_words_cte()},
wset AS (SELECT DISTINCT doc_id, w FROM words),
hashed AS (SELECT doc_id, {hw} AS h FROM wset),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, {build} AS simhash FROM votes
"""


def _cosine_block_sql() -> str:
    """Per-vector norm + pairwise dot via dimension-exploded sums."""
    return """
dims AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
                CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
norms AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM dims GROUP BY vec_id)
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF (coarse-quantizer) ANN — the partition-pruned scale path:
    deterministic k-means centroids, cluster equi-join, exact re-rank.
    Gate output: per-query recall@5 floor vs the exact baseline."""
    _prep(spark)
    from osmflat_rs_spark.operators.ann import ivf_topk, train_ivf_centroids

    def _approx(emb, q):
        cent = train_ivf_centroids(emb, n_clusters=16)
        return ivf_topk(emb, q, cent, k=ANN_K, n_probes=8)

    return _ann_recall_gate(spark, sf_dir, _approx)


def q_stream_neardup_docs(spark, sf_dir):
    """STATEFUL Structured-Streaming MinHash-LSH near-dup candidates
    (streaming/incremental.py:stream_neardup_candidates): the documents
    table replayed as TWO micro-batch runs against one checkpoint, so
    cross-batch pairs exercise the persisted bucket state; output =
    distinct (id_a, id_b) with the 8-component signature-estimated
    jaccard >= 0.5. Fully oracle-checkable because the MinHash estimate
    is deterministic (same md5-slice hash family as minhash_pairs_docs)."""
    import os
    import tempfile

    from osmflat_rs_spark.streaming.incremental import stream_neardup_candidates

    import shutil

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    tmp = tempfile.mkdtemp(prefix="stream_neardup_")
    docs_dir, ckpt, out = f"{tmp}/docs", f"{tmp}/ck", f"{tmp}/out"
    schema = "doc_id string, text string"
    try:
        docs.filter(F.crc32(F.col("doc_id")) % 2 == 0).write.mode("append").parquet(docs_dir)
        q1 = stream_neardup_candidates(spark, docs_dir, schema, ckpt, out, threshold=0.5)
        if not q1.awaitTermination(300):
            q1.stop()
            raise RuntimeError("stream_neardup batch 1 did not finish in 300s")
        docs.filter(F.crc32(F.col("doc_id")) % 2 == 1).write.mode("append").parquet(docs_dir)
        q2 = stream_neardup_candidates(spark, docs_dir, schema, ckpt, out, threshold=0.5)
        if not q2.awaitTermination(300):
            q2.stop()
            raise RuntimeError("stream_neardup batch 2 did not finish in 300s")
        # materialize to the driver (bounded: candidate pairs only) so the
        # scratch dirs can be removed — returning a lazy reader over /tmp
        # leaked a docs copy + state store + sink per invocation
        if os.path.exists(out):
            pairs_pdf = (
                spark.read.parquet(out).select("id_a", "id_b", "est_jaccard").distinct().toPandas()
            )
        else:  # zero candidates: the sink wrote nothing
            import pandas as _pd

            pairs_pdf = _pd.DataFrame(columns=["id_a", "id_b", "est_jaccard"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(pairs_pdf, schema="id_a string, id_b string, est_jaccard double")


def q_stream_pip_events(spark, sf_dir):
    """STREAM-STATIC spatial join (streaming/incremental.py:
    stream_pip_assign): the synth event points replayed as TWO
    availableNow micro-batch runs against one checkpoint, assigned to the
    hex polygon by the batch pip_join kernel composed onto the stream
    (stateless plan: cell-encode Project -> stream-static broadcast join
    -> mapInPandas refine). Exactly-once per input file means the union
    of both runs' appends must equal the batch PIP answer bit-for-bit —
    same halfplanes oracle as pip_events."""
    import shutil
    import tempfile

    from osmflat_rs_spark.streaming.incremental import stream_pip_assign

    _prep(spark)
    pts = _synth_coords(_t(spark, sf_dir, "events")).select("event_id", "lat", "lon")
    ring = [{"lat": la, "lon": lo} for lo, la in HEX_RING]
    polys = spark.createDataFrame(
        [("hex", [(v["lat"], v["lon"]) for v in ring], "district")],
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>, kind string",
    )
    tmp = tempfile.mkdtemp(prefix="stream_pip_")
    pts_dir, ckpt, out = f"{tmp}/pts", f"{tmp}/ck", f"{tmp}/out"
    schema = "event_id long, lat long, lon long"
    try:
        pts.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(pts_dir)
        q1 = stream_pip_assign(spark, pts_dir, schema, polys, out, ckpt, point_id="event_id")
        if not q1.awaitTermination(300):
            q1.stop()
            raise RuntimeError("stream_pip batch 1 did not finish in 300s")
        pts.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(pts_dir)
        q2 = stream_pip_assign(spark, pts_dir, schema, polys, out, ckpt, point_id="event_id")
        if not q2.awaitTermination(300):
            q2.stop()
            raise RuntimeError("stream_pip batch 2 did not finish in 300s")
        # bounded materialization (PIP pairs only) so the scratch tree can go
        pairs_pdf = spark.read.parquet(out).select("polygon_id", "event_id").toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(pairs_pdf, schema="polygon_id string, event_id long")


def _stream_neardup_sql(threshold: float = 0.5) -> str:
    """Batch twin of the streaming candidate surfacer: band-sharing pairs
    filtered by the signature-estimate. Ids as VARCHAR throughout (the
    stream keys state by string doc_id, so pair endpoint order is
    lexicographic)."""
    h = (
        "('0x' || substr(CASE WHEN i < 4 THEN md5(shingle) "
        "ELSE md5('1:' || shingle) END, (i % 4) * 8 + 1, 8))::BIGINT"
    )
    sig_cols = ", ".join(f"MIN(CASE WHEN i = {i} THEN h END) AS sig_{i}" for i in range(8))
    band_rows = " UNION ALL ".join(
        f"SELECT _id, {b} AS band, md5(CAST(sig_{2*b} AS VARCHAR) || '_' || CAST(sig_{2*b+1} AS VARCHAR)) AS bh FROM sigs"
        for b in range(4)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    return f"""
WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS _id, lower(text) AS ltext,
                     {_ws_split_sql()} AS ws FROM documents),
sh AS (SELECT _id,
              unnest(CASE WHEN len(ws) >= 3
                     THEN list_transform(generate_series(0, len(ws) - 3),
                                         i -> array_to_string(list_slice(ws, i + 1, i + 3), ' '))
                     ELSE [ltext] END) AS shingle
       FROM base),
hashed AS (SELECT _id, shingle, i, {h} AS h FROM sh, generate_series(0, 7) t(i)),
sigs AS (SELECT _id, {sig_cols} FROM hashed GROUP BY _id),
bands AS ({band_rows}),
cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a._id < b._id)
SELECT c.id_a, c.id_b, ({match_sum}) / 8.0 AS est_jaccard
FROM cand c JOIN sigs sa ON sa._id = c.id_a JOIN sigs sb ON sb._id = c.id_b
WHERE ({match_sum}) / 8.0 >= {threshold}
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the two-phase cell-cover PIP spatial join at sf0.001."""
    return q_pip_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "counts_lineitem": q_counts_lineitem,
        "q1_pricing": q_q1_pricing,
        "revenue_by_nation": q_revenue_by_nation,
        "topk_orders_segment": q_topk_orders_segment,
        "lead_delta_events": q_lead_delta_events,
        "delta_decode_blocks": q_delta_decode_blocks,
        "dense_index_orders": q_dense_index_orders,
        "union_names": q_union_names,
        "filter_parts_notin": q_filter_parts_notin,
        "json_k_events": q_json_k_events,
        "cube_events": q_cube_events,
        "anti_join_users": q_anti_join_users,
        "semi_join_users": q_semi_join_users,
        "bbox_events": q_bbox_events,
        "road_length_users": q_road_length_users,
        "bearing_stats_events": q_bearing_stats_events,
        "xtrack_events": q_xtrack_events,
        "rhumb_events": q_rhumb_events,
        "ring_area_users": q_ring_area_users,
        "ring_centroid_users": q_ring_centroid_users,
        "compactness_users": q_compactness_users,
        "geomedian_users": q_geomedian_users,
        "areal_interp_users": q_areal_interp_users,
        "sphere_area_users": q_sphere_area_users,
        "ring_normalize_users": q_ring_normalize_users,
        "cms_heavy_users": q_cms_heavy_users,
        "pip_events": q_pip_events,
        "zonal_stats_events": q_zonal_stats_events,
        "hausdorff_events": q_hausdorff_events,
        "frechet_events": q_frechet_events,
        "dtw_events": q_dtw_events,
        "lcss_events": q_lcss_events,
        "edr_events": q_edr_events,
        "quadkey_events": q_quadkey_events,
        "geohash_events": q_geohash_events,
        "pip_events_shuffle": q_pip_events_shuffle,
        "pip_events_holes": q_pip_events_holes,
        "fill_cells": q_fill_cells,
        "resample_events": q_resample_events,
        "sssp_graph": q_sssp_graph,
        "pagerank_graph": q_pagerank_graph,
        "hits_graph": q_hits_graph,
        "walks_graph": q_walks_graph,
        "triangles_graph": q_triangles_graph,
        "copurchase_parts": q_copurchase_parts,
        "linkpred_graph": q_linkpred_graph,
        "kcore_graph": q_kcore_graph,
        "lpa_graph": q_lpa_graph,
        "clustering_graph": q_clustering_graph,
        "assortativity_graph": q_assortativity_graph,
        "adaptive_grid_events": q_adaptive_grid_events,
        "stitch_events": q_stitch_events,
        "isolated_events": q_isolated_events,
        "skyline_events": q_skyline_events,
        "ripley_events": q_ripley_events,
        "variogram_events": q_variogram_events,
        "gfunction_events": q_gfunction_events,
        "clark_evans_events": q_clark_evans_events,
        "spatial_chi2_events": q_spatial_chi2_events,
        "cramers_v_events": q_cramers_v_events,
        "spatial_mi_events": q_spatial_mi_events,
        "homerange_events": q_homerange_events,
        "segregation_events": q_segregation_events,
        "emst_events": q_emst_events,
        "huff_events": q_huff_events,
        "ipf_events": q_ipf_events,
        "winsorize_events": q_winsorize_events,
        "robust_scale_events": q_robust_scale_events,
        "benford_events": q_benford_events,
        "gini_events": q_gini_events,
        "spearman_events": q_spearman_events,
        "profile_events": q_profile_events,
        "psi_events": q_psi_events,
        "ks_events": q_ks_events,
        "mwu_events": q_mwu_events,
        "trimmed_mean_events": q_trimmed_mean_events,
        "conformal_events": q_conformal_events,
        "bh_fdr_events": q_bh_fdr_events,
        "jackknife_events": q_jackknife_events,
        "bootstrap_events": q_bootstrap_events,
        "welch_events": q_welch_events,
        "acf_events": q_acf_events,
        "pmi_docs": q_pmi_docs,
        "permutation_events": q_permutation_events,
        "cmh_events": q_cmh_events,
        "decompose_events": q_decompose_events,
        "did_events": q_did_events,
        "betweenness_graph": q_betweenness_graph,
        "w1_events": q_w1_events,
        "harmonic_graph": q_harmonic_graph,
        "lof_events": q_lof_events,
        "als_events": q_als_events,
        "gopher_docs": q_gopher_docs,
        "markov_attr_events": q_markov_attr_events,
        "rolling_ols_events": q_rolling_ols_events,
        "trending_events": q_trending_events,
        "eb_events": q_eb_events,
        "skipgram_docs": q_skipgram_docs,
        "ece_events": q_ece_events,
        "classreport_events": q_classreport_events,
        "target_enc_events": q_target_enc_events,
        "woe_events": q_woe_events,
        "gwr_events": q_gwr_events,
        "jenks_events": q_jenks_events,
        "isochrone_graph": q_isochrone_graph,
        "gtest_events": q_gtest_events,
        "forecast_acc_events": q_forecast_acc_events,
        "sliding_distinct_events": q_sliding_distinct_events,
        "qn_events": q_qn_events,
        "mde_events": q_mde_events,
        "kappa_events": q_kappa_events,
        "xi_events": q_xi_events,
        "simplify_events": q_simplify_events,
        "dbscan_events": q_dbscan_events,
        "knn_events": q_knn_events,
        "radius_events": q_radius_events,
        "hansen_events": q_hansen_events,
        "gravity_events": q_gravity_events,
        "coloc_events": q_coloc_events,
        "knox_events": q_knox_events,
        "kmeans_step_events": q_kmeans_step_events,
        "clip_convex_events": q_clip_convex_events,
        "cell_index_events": q_cell_index_events,
        "focal_grid_events": q_focal_grid_events,
        "focal_mode_events": q_focal_mode_events,
        "overlay_events": q_overlay_events,
        "kde_events": q_kde_events,
        "pip_winding_events": q_pip_winding_events,
        "hillshade_events": q_hillshade_events,
        "curvature_events": q_curvature_events,
        "hexbin_events": q_hexbin_events,
        "flow_acc_events": q_flow_acc_events,
        "emb_cov": q_emb_cov,
        "viewshed_events": q_viewshed_events,
        "contour_events": q_contour_events,
        "pip_anti_events": q_pip_anti_events,
        "idw_events": q_idw_events,
        "kriging_events": q_kriging_events,
        "hotspot_events": q_hotspot_events,
        "dwell_events": q_dwell_events,
        "geofence_events": q_geofence_events,
        "od_flows_events": q_od_flows_events,
        "snap_events": q_snap_events,
        "linear_ref_events": q_linear_ref_events,
        "gi_star_events": q_gi_star_events,
        "morans_i_events": q_morans_i_events,
        "gearys_c_events": q_gearys_c_events,
        "joincount_events": q_joincount_events,
        "morph_close_events": q_morph_close_events,
        "entropy_events": q_entropy_events,
        "lisa_events": q_lisa_events,
        "trend_events": q_trend_events,
        "seasonal_events": q_seasonal_events,
        "changepoint_events": q_changepoint_events,
        "cusum_events": q_cusum_events,
        "isotonic_events": q_isotonic_events,
        "ols_events": q_ols_events,
        "mapmatch_events": q_mapmatch_events,
        "poly_intersect_events": q_poly_intersect_events,
        "raster_events": q_raster_events,
        "tile_events": q_tile_events,
        "tile_pyramid_events": q_tile_pyramid_events,
        "asof_purchase_view": q_asof_purchase_view,
        "interp_events": q_interp_events,
        "interval_join_events": q_interval_join_events,
        "merge_intervals_events": q_merge_intervals_events,
        "concurrency_events": q_concurrency_events,
        "stream_merge_intervals_events": q_stream_merge_intervals_events,  # stateful streaming, oracled
        "bbox_join_events": q_bbox_join_events,
        "sessions_events": q_sessions_events,
        "span_explode_docs": q_span_explode_docs,
        "span_reassemble_docs": q_span_reassemble_docs,
        "dedup_exact_docs": q_dedup_exact_docs,
        "fingerprint_docs": q_fingerprint_docs,
        "pii_scrub_docs": q_pii_scrub_docs,
        "bigram_logprob_docs": q_bigram_logprob_docs,
        "interleave_docs": q_interleave_docs,
        "movement_events": q_movement_events,
        "hll_distinct_events": q_hll_distinct_events,
        "diameter_users": q_diameter_users,
        "stream_movement_events": q_stream_movement_events,
        "chaikin_users": q_chaikin_users,
        "winnow_fingerprint_docs": q_winnow_fingerprint_docs,
        "string_offsets_docs": q_string_offsets_docs,
        "token_count_docs": q_token_count_docs,
        "chunk_docs": q_chunk_docs,
        "cdc_docs": q_cdc_docs,
        "cdc_dedup_docs": q_cdc_dedup_docs,
        "bpe_docs": q_bpe_docs,
        "pack_docs": q_pack_docs,
        "boilerplate_docs": q_boilerplate_docs,
        "lang_id_docs": q_lang_id_docs,
        "quality_docs": q_quality_docs,
        "tfidf_docs": q_tfidf_docs,
        "novelty_docs": q_novelty_docs,
        "hrw_shard_docs": q_hrw_shard_docs,
        "bm25_docs": q_bm25_docs,
        "freq_pairs_docs": q_freq_pairs_docs,
        "service_areas_events": q_service_areas_events,
        "funnel_events": q_funnel_events,
        "attribution_events": q_attribution_events,
        "ab_conversion_events": q_ab_conversion_events,
        "cuped_events": q_cuped_events,
        "sprt_events": q_sprt_events,
        "scd2_events": q_scd2_events,
        "cohort_events": q_cohort_events,
        "survival_events": q_survival_events,
        "logrank_events": q_logrank_events,
        "transitions_events": q_transitions_events,
        "entropy_rate_events": q_entropy_rate_events,
        "densify_events": q_densify_events,
        "quantile_events": q_quantile_events,
        "grouped_quantile_events": q_grouped_quantile_events,
        "hampel_events": q_hampel_events,
        "editdist_docs": q_editdist_docs,
        "mean_center_events": q_mean_center_events,
        "feature_hash_docs": q_feature_hash_docs,
        "repetition_docs": q_repetition_docs,
        "lexdiv_docs": q_lexdiv_docs,
        "zipf_docs": q_zipf_docs,
        "dsir_docs": q_dsir_docs,
        "kl_docs": q_kl_docs,
        "js_docs": q_js_docs,
        "heaps_docs": q_heaps_docs,
        "contamination_docs": q_contamination_docs,
        "unigram_logprob_docs": q_unigram_logprob_docs,
        "seg_intersections_events": q_seg_intersections_events,
        "clip_tiles_events": q_clip_tiles_events,
        "kmv_distinct_events": q_kmv_distinct_events,
        "kmv_setops_events": q_kmv_setops_events,
        "hist_quantiles_events": q_hist_quantiles_events,
        "bloom_probe_customers": q_bloom_probe_customers,
        "bloom_join_orders": q_bloom_join_orders,
        "simplify_users": q_simplify_users,
        "hull_users": q_hull_users,
        "stratified_events": q_stratified_events,
        "weighted_sample_events": q_weighted_sample_events,
        "temperature_mix_docs": q_temperature_mix_docs,
        "minhash_pairs_docs": q_minhash_pairs_docs,
        "dedup_clusters_docs": q_dedup_clusters_docs,  # iterative CC, oracled via recursive CTE
        "dedup_retain_docs": q_dedup_retain_docs,
        "split_docs": q_split_docs,
        "heldout_ppl_docs": q_heldout_ppl_docs,  # retain-best survivor per cluster
        "ngram_jaccard_docs": q_ngram_jaccard_docs,
        "containment_docs": q_containment_docs,
        "ngram_jaccard_prefix_docs": q_ngram_jaccard_prefix_docs,
        "simhash_docs": q_simhash_docs,
        "hamming_simhash_docs": q_hamming_simhash_docs,
        "dup_spans_docs": q_dup_spans_docs,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_srp": q_embedding_neardup_srp,  # recall-floor + subset gate (oracled)
        "ann_topk": q_ann_topk,
        "hard_negatives": q_hard_negatives,
        "rrf_parts": q_rrf_parts,
        "ndcg_ann": q_ndcg_ann,
        "ann_srp_topk": q_ann_srp_topk,  # recall@5-floor gate (oracled)
        "ann_srp_arrow_topk": q_ann_srp_arrow_topk,  # duplicate of ann_srp_topk
        "ann_ivf_topk": q_ann_ivf_topk,  # recall@5-floor gate (oracled)
        "ann_pq_topk": q_ann_pq_topk,  # recall@5-floor gate (oracled)
        "ann_ivfpq_topk": q_ann_ivfpq_topk,  # recall@5-floor gate (oracled)
        "stream_neardup_docs": q_stream_neardup_docs,  # stateful streaming, oracled
        "stream_pip_events": q_stream_pip_events,  # stream-static PIP, oracled
    }




def _clip_convex_sql(synth: str) -> str:
    m = len(AOI_POLY)
    lo = ["CAST(0.0 AS DOUBLE)"]
    hi = ["CAST(1.0 AS DOUBLE)"]
    ok = []
    for i in range(m):
        ax, ay = AOI_POLY[i]
        bx, by = AOI_POLY[(i + 1) % m]
        nx, ny = -(by - ay), (bx - ax)
        s_ = f"({nx} * (x0 - {ax}) + {ny} * (y0 - {ay}))"
        d_ = f"({nx} * dx + {ny} * dy)"
        t_ = f"(-CAST({s_} AS DOUBLE) / CAST({d_} AS DOUBLE))"
        ok.append(f"({d_} != 0 OR {s_} >= 0)")
        lo.append(f"CASE WHEN {d_} > 0 THEN {t_} ELSE CAST(0.0 AS DOUBLE) END")
        hi.append(f"CASE WHEN {d_} < 0 THEN {t_} ELSE CAST(1.0 AS DOUBLE) END")
    ok_sql = " AND ".join(ok)
    lo_sql = "GREATEST(" + ", ".join(lo) + ")"
    hi_sql = "LEAST(" + ", ".join(hi) + ")"
    return f"""
        WITH segs AS (
          SELECT event_id AS sid, lon AS x0, lat AS y0,
                 lon + (event_id * 48271 + 11) % 131073 - 65536 AS x1,
                 lat + (event_id * 16807 + 7) % 131073 - 65536 AS y1
          FROM {synth}
        ),
        d AS (SELECT *, x1 - x0 AS dx, y1 - y0 AS dy FROM segs),
        w AS (SELECT sid, x0, y0, dx, dy, {lo_sql} AS t0, {hi_sql} AS t1
              FROM d WHERE {ok_sql})
        SELECT sid, t0, t1,
               CAST(x0 AS DOUBLE) + t0 * CAST(dx AS DOUBLE) AS cx0,
               CAST(y0 AS DOUBLE) + t0 * CAST(dy AS DOUBLE) AS cy0,
               CAST(x0 AS DOUBLE) + t1 * CAST(dx AS DOUBLE) AS cx1,
               CAST(y0 AS DOUBLE) + t1 * CAST(dy AS DOUBLE) AS cy1
        FROM w WHERE t0 <= t1
    """


def oracle_sql() -> dict[str, str]:
    synth = f"({_SYNTH_SQL})"
    sw_en = ", ".join(f"'{w}'" for w in _SW_EN)
    sw_de = ", ".join(f"'{w}'" for w in _SW_DE)
    sw_fr = ", ".join(f"'{w}'" for w in _SW_FR)
    knn_vals = ", ".join(f"('{q}', {la}, {lo})" for q, la, lo in KNN_QUERIES)

    # quadkey: per-level base-4 digit from the restated slippy tiles
    _qk_digits = " || ".join(
        f"CAST(((ty >> {ZOOM - 1 - i}) & 1) * 2 + ((tx >> {ZOOM - 1 - i}) & 1) AS VARCHAR)"
        for i in range(ZOOM)
    )
    # geohash: 8 chars x 5 interleaved quantizer bits -> base32 lookup
    from osmflat_rs_spark.functions.geo import GEOHASH_BASE32 as _GH32

    _gh_chars = []
    for _j in range(8):
        _terms = []
        for _m in range(5):
            _k = 5 * _j + _m
            _src = "lonq" if _k % 2 == 0 else "latq"
            _terms.append(f"(({_src} >> {20 - 1 - _k // 2}) & 1) * {1 << (4 - _m)}")
        _gh_chars.append(
            f"SUBSTRING('{_GH32}', CAST({' + '.join(_terms)} AS INTEGER) + 1, 1)"
        )
    _gh_concat = " || ".join(_gh_chars)

    out = {
        "counts_lineitem": (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem GROUP BY 1, 2"
        ),
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
        "revenue_by_nation": """
            SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "topk_orders_segment": """
            SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (
              SELECT c_mktsegment, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
              FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rnk <= 3
        """,
        "lead_delta_events": """
            SELECT event_id, next_delta FROM (
              SELECT event_id,
                     LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - value AS next_delta
              FROM events) WHERE next_delta IS NOT NULL
        """,
        "delta_decode_blocks": """
            SELECT event_id,
                   CAST(SUM(event_id % 1000) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
            FROM events
        """,
        "dense_index_orders": (
            "SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS idx FROM orders"
        ),
        "union_names": """
            SELECT 'customer' AS src, c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal > 1000
            UNION ALL
            SELECT 'supplier' AS src, s_name AS name, s_acctbal AS bal FROM supplier WHERE s_acctbal > 1000
        """,
        "filter_parts_notin": """
            SELECT p_brand, COUNT(*) AS n, ROUND(SUM(p_retailprice), 2) AS retail
            FROM part WHERE p_type NOT IN ('PROMO', 'ECONOMY') AND p_brand LIKE 'Brand#1%'
            GROUP BY 1
        """,
        "json_k_events": """
            SELECT event_id, CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) AS k
            FROM events
            WHERE CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) IS NOT NULL
        """,
        "cube_events": """
            SELECT event_type, CAST(date_part('dow', ts) AS BIGINT) AS dow,
                   COUNT(*) AS n, ROUND(SUM(value), 2) AS total
            FROM events GROUP BY CUBE (event_type, CAST(date_part('dow', ts) AS BIGINT))
        """,
        "anti_join_users": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        """,
        "semi_join_users": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        """,
        "bbox_events": f"""
            SELECT MIN(lat) AS min_lat, MAX(lat) AS max_lat, MIN(lon) AS min_lon, MAX(lon) AS max_lon
            FROM {synth}
        """,
        # CM sketch: same seeded md5-slice hash family — the oracle
        # rebuilds the identical 4x256 counter matrix and estimates.
        "cms_heavy_users": """
            WITH rows AS (SELECT user_id, t.r AS r,
                                 CAST('0x' || substr(md5(t.r::VARCHAR || ':' || user_id::VARCHAR), 1, 15) AS BIGINT) % 256 AS c
                          FROM events, UNNEST([0, 1, 2, 3]) AS t(r)),
            sketch AS (SELECT r, c, COUNT(*) AS cnt FROM rows GROUP BY r, c),
            probes AS (SELECT DISTINCT user_id, r, c FROM rows)
            SELECT p.user_id, MIN(COALESCE(s.cnt, 0)) AS est
            FROM probes p LEFT JOIN sketch s ON s.r = p.r AND s.c = p.c
            GROUP BY p.user_id
        """,
        # Shoelace: EXACT int64 on (lat0, lon0)-translated coords — the
        # one geometry gate with no float fold at all; centroid division
        # happens once at the end on exact integer sums.
        "sphere_area_users": f"""
            WITH s AS (
              SELECT user_id, ts, event_id,
                     RADIANS(lat / 10000000.0) AS phi,
                     RADIANS(lon / 10000000.0) AS lam
              FROM {synth}
            ),
            c AS (
              SELECT user_id, phi, lam,
                     COALESCE(LEAD(phi) OVER w, FIRST_VALUE(phi) OVER w2) AS phi2,
                     COALESCE(LEAD(lam) OVER w, FIRST_VALUE(lam) OVER w2) AS lam2
              FROM s
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                     w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING)
            )
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_vertices,
                   ROUND(ABS(SUM((lam2 - lam) * (2 + SIN(phi) + SIN(phi2))))
                         * (CAST(6372797.560856 AS DOUBLE) * CAST(6372797.560856 AS DOUBLE) / 2), 2) AS area_m2
            FROM c GROUP BY user_id
        """,
        "compactness_users": f"""
            WITH s AS (
              SELECT user_id, ts, event_id,
                     lat / 10000000.0 AS la, lon / 10000000.0 AS lo
              FROM {synth}
            ),
            c AS (
              SELECT user_id, la, lo,
                     COALESCE(LEAD(la) OVER w, FIRST_VALUE(la) OVER w2) AS la2,
                     COALESCE(LEAD(lo) OVER w, FIRST_VALUE(lo) OVER w2) AS lo2
              FROM s
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                     w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING)
            ),
            t AS (
              SELECT user_id,
                2 * ASIN(SQRT(
                    SIN((RADIANS(la2) - RADIANS(la)) / 2)
                      * SIN((RADIANS(la2) - RADIANS(la)) / 2)
                  + COS(RADIANS(la)) * COS(RADIANS(la2))
                      * SIN((RADIANS(lo2) - RADIANS(lo)) / 2)
                      * SIN((RADIANS(lo2) - RADIANS(lo)) / 2)
                )) * CAST(6372797.560856 AS DOUBLE) AS seg,
                (RADIANS(lo2) - RADIANS(lo))
                  * (2 + SIN(RADIANS(la)) + SIN(RADIANS(la2))) AS cd
              FROM c
            ),
            g AS (
              SELECT user_id, COUNT(*) AS n, SUM(seg) AS p,
                     ABS(SUM(cd)) * (CAST(6372797.560856 AS DOUBLE)
                                     * CAST(6372797.560856 AS DOUBLE) / 2) AS a
              FROM t GROUP BY user_id
            )
            SELECT user_id, CAST(n AS BIGINT) AS n_vertices,
                   ROUND(p, 2) AS perimeter_m, ROUND(a, 2) AS area_m2,
                   ROUND(12.566370614359172 * a / (p * p), 8) AS polsby_popper
            FROM g WHERE p > 0
        """,
        "ring_centroid_users": f"""
            WITH tr AS (
              SELECT user_id,
                     list([lat - {LAT0}, lon - {LON0}] ORDER BY ts, event_id) AS r,
                     COUNT(*) AS n
              FROM {synth} GROUP BY user_id HAVING COUNT(*) >= 3
            ),
            ed AS (
              SELECT user_id, n,
                list_transform(range(1, n + 1), i -> [
                  CAST(r[i][2] * r[i % n + 1][1]
                     - r[i % n + 1][2] * r[i][1] AS DOUBLE),
                  CAST(r[i][2] + r[i % n + 1][2] AS DOUBLE)
                    * CAST(r[i][2] * r[i % n + 1][1]
                         - r[i % n + 1][2] * r[i][1] AS DOUBLE),
                  CAST(r[i][1] + r[i % n + 1][1] AS DOUBLE)
                    * CAST(r[i][2] * r[i % n + 1][1]
                         - r[i % n + 1][2] * r[i][1] AS DOUBLE)]) AS e
              FROM tr
            ),
            a AS (
              SELECT user_id, n,
                reduce(list_prepend(CAST([0, 0, 0] AS DOUBLE[]), e),
                  (acc, t) -> [acc[1] + t[1], acc[2] + t[2], acc[3] + t[3]]) AS s
              FROM ed
            ),
            b AS (
              SELECT user_id, n, CAST(s[1] AS BIGINT) AS area2x,
                     s[2] AS cxn, s[3] AS cyn
              FROM a
            )
            SELECT user_id, CAST(n AS BIGINT) AS n_vertices, area2x,
                   ROUND((CAST({LON0} AS DOUBLE)
                          + cxn / (3.0 * CAST(area2x AS DOUBLE))) / 10000000.0, 6) AS cx_deg,
                   ROUND((CAST({LAT0} AS DOUBLE)
                          + cyn / (3.0 * CAST(area2x AS DOUBLE))) / 10000000.0, 6) AS cy_deg
            FROM b WHERE area2x <> 0
        """,
        "ring_area_users": f"""
            WITH pts AS (SELECT * FROM {synth}),
            rings AS (
              SELECT user_id,
                     list(struct_pack(lat := lat, lon := lon) ORDER BY ts, event_id) AS ring,
                     COUNT(*) AS n, SUM(lat) AS slat, SUM(lon) AS slon
              FROM pts GROUP BY user_id HAVING COUNT(*) >= 3
            )
            SELECT user_id, CAST(n AS BIGINT) AS n_vertices,
                   CAST(list_sum(list_transform(range(1, CAST(n AS BIGINT) + 1), i ->
                        (ring[CAST(i AS BIGINT)].lon - {LON0}) * (ring[CAST(i % n AS BIGINT) + 1].lat - {LAT0})
                      - (ring[CAST(i % n AS BIGINT) + 1].lon - {LON0}) * (ring[CAST(i AS BIGINT)].lat - {LAT0})
                   )) AS BIGINT) AS area2x,
                   ROUND(slat / n / 1e7, 4) AS c_lat,
                   ROUND(slon / n / 1e7, 4) AS c_lon
            FROM rings
        """,
        # ring winding repair: same shoelace sign + anchor-preserving
        # list_reverse, per-vertex fan-out via unnest(range)
        "ring_normalize_users": f"""
            WITH pts AS (SELECT *,
                   CASE WHEN user_id % 2 = 0 THEN 'outer' ELSE 'inner' END AS role
                   FROM {synth}),
            rings AS (
              SELECT user_id, any_value(role) AS role,
                     list(struct_pack(lat := lat, lon := lon) ORDER BY ts, event_id) AS ring,
                     COUNT(*) AS n
              FROM pts GROUP BY user_id HAVING COUNT(*) >= 3
            ),
            sh AS (
              SELECT *, CAST(list_sum(list_transform(range(1, CAST(n AS BIGINT) + 1), i ->
                     (ring[CAST(i AS BIGINT)].lon - {LON0}) * (ring[CAST(i % n AS BIGINT) + 1].lat - {LAT0})
                   - (ring[CAST(i % n AS BIGINT) + 1].lon - {LON0}) * (ring[CAST(i AS BIGINT)].lat - {LAT0})
                   )) AS BIGINT) AS a2
              FROM rings
            ),
            fl AS (
              SELECT user_id, n,
                     CASE WHEN a2 > 0 THEN 'ccw' WHEN a2 < 0 THEN 'cw'
                          ELSE 'degenerate' END AS orientation,
                     ((a2 > 0 AND role = 'inner') OR (a2 < 0 AND role != 'inner')) AS was_reversed,
                     CASE WHEN ((a2 > 0 AND role = 'inner') OR (a2 < 0 AND role != 'inner'))
                          THEN ring[1:1] || list_reverse(ring[2:])
                          ELSE ring END AS normed
              FROM sh
            ),
            ex AS (SELECT user_id, orientation, was_reversed, normed,
                          unnest(range(1, CAST(n AS BIGINT) + 1)) AS i FROM fl)
            SELECT user_id, CAST(i - 1 AS INT) AS pos,
                   normed[CAST(i AS BIGINT)].lat AS lat,
                   normed[CAST(i AS BIGINT)].lon AS lon,
                   orientation, was_reversed
            FROM ex
        """,
        "bearing_stats_events": f"""
            WITH s AS (
              SELECT user_id,
                     LEAD(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lat2,
                     LEAD(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lon2,
                     lat, lon
              FROM {synth}
            ),
            b AS (
              SELECT user_id,
                     ATAN2(
                       SIN(RADIANS(lon2 / 10000000.0) - RADIANS(lon / 10000000.0))
                         * COS(RADIANS(lat2 / 10000000.0)),
                       COS(RADIANS(lat / 10000000.0)) * SIN(RADIANS(lat2 / 10000000.0))
                         - SIN(RADIANS(lat / 10000000.0)) * COS(RADIANS(lat2 / 10000000.0))
                           * COS(RADIANS(lon2 / 10000000.0) - RADIANS(lon / 10000000.0))
                     ) AS theta
              FROM s WHERE lat2 IS NOT NULL
            ),
            g AS (SELECT user_id, COUNT(*) AS n,
                         SUM(SIN(theta)) AS sv, SUM(COS(theta)) AS cv
                  FROM b GROUP BY user_id)
            SELECT user_id, CAST(n AS BIGINT) AS n,
                   ROUND(DEGREES(ATAN2(sv, cv)), 4) AS mean_bearing_deg,
                   ROUND(SQRT(sv * sv + cv * cv) / n, 6) AS resultant,
                   ROUND(1.0 - SQRT(sv * sv + cv * cv) / n, 6) AS circ_var
            FROM g
        """,
        "xtrack_events": f"""
            WITH s AS (
              SELECT event_id, lat / 10000000.0 AS plat, lon / 10000000.0 AS plon
              FROM {synth}
            ),
            c AS (
              SELECT event_id,
                2 * ASIN(SQRT(
                    SIN((RADIANS(plat) - RADIANS(52.40)) / 2)
                      * SIN((RADIANS(plat) - RADIANS(52.40)) / 2)
                  + COS(RADIANS(52.40)) * COS(RADIANS(plat))
                      * SIN((RADIANS(plon) - RADIANS(13.20)) / 2)
                      * SIN((RADIANS(plon) - RADIANS(13.20)) / 2)
                )) AS d13,
                ATAN2(
                  SIN(RADIANS(plon) - RADIANS(13.20)) * COS(RADIANS(plat)),
                  COS(RADIANS(52.40)) * SIN(RADIANS(plat))
                    - SIN(RADIANS(52.40)) * COS(RADIANS(plat))
                      * COS(RADIANS(plon) - RADIANS(13.20))
                ) AS t13,
                ATAN2(
                  SIN(RADIANS(13.60) - RADIANS(13.20)) * COS(RADIANS(52.60)),
                  COS(RADIANS(52.40)) * SIN(RADIANS(52.60))
                    - SIN(RADIANS(52.40)) * COS(RADIANS(52.60))
                      * COS(RADIANS(13.60) - RADIANS(13.20))
                ) AS t12
              FROM s
            ),
            x AS (
              SELECT event_id, d13, t13, t12,
                ASIN(LEAST(1.0, GREATEST(-1.0, SIN(d13) * SIN(t13 - t12)))) AS xt
              FROM c
            )
            SELECT event_id,
                   ROUND(xt * 6372797.560856, 2) AS xtrack_m,
                   ROUND(
                     (CASE WHEN COS(t13 - t12) < 0.0 THEN -1.0 ELSE 1.0 END)
                     * ACOS(LEAST(1.0, GREATEST(-1.0, COS(d13) / COS(xt))))
                     * 6372797.560856, 2) AS atrack_m
            FROM x
        """,
        "rhumb_events": f"""
            WITH s AS (
              SELECT event_id, lat / 10000000.0 AS plat, lon / 10000000.0 AS plon
              FROM {synth}
            ),
            r AS (
              SELECT event_id, plat, plon,
                RADIANS(52.50) - RADIANS(plat) AS dlat,
                LN(TAN(PI() / 4 + RADIANS(52.50) / 2)
                   / TAN(PI() / 4 + RADIANS(plat) / 2)) AS dpsi,
                CASE WHEN RADIANS(13.40) - RADIANS(plon) > PI()
                       THEN RADIANS(13.40) - RADIANS(plon) - 2 * PI()
                     WHEN RADIANS(13.40) - RADIANS(plon) <= -PI()
                       THEN RADIANS(13.40) - RADIANS(plon) + 2 * PI()
                     ELSE RADIANS(13.40) - RADIANS(plon) END AS dlon,
                RADIANS(CAST(event_id % 360 AS DOUBLE)) AS brg,
                CAST(event_id % 5000 + 100 AS DOUBLE) / 6372797.560856 AS delta
              FROM s
            ),
            t AS (
              SELECT event_id, plat, plon, dlat, dpsi, dlon, brg, delta,
                CASE WHEN ABS(dpsi) > 1e-12 THEN dlat / dpsi
                     ELSE COS(RADIANS(plat)) END AS q,
                LEAST(1.0, GREATEST(-1.0,
                  SIN(RADIANS(plat)) * COS(delta)
                  + COS(RADIANS(plat)) * SIN(delta) * COS(brg))) AS sinphi2
              FROM r
            )
            SELECT event_id,
                   ROUND(SQRT(dlat * dlat + q * q * dlon * dlon)
                         * 6372797.560856, 2) AS rhumb_m,
                   ROUND(DEGREES(ATAN2(dlon, dpsi)), 4) AS rhumb_brg_deg,
                   ROUND(DEGREES(ASIN(sinphi2)), 6) AS dest_lat,
                   ROUND(plon + DEGREES(ATAN2(
                       SIN(brg) * SIN(delta) * COS(RADIANS(plat)),
                       COS(delta) - SIN(RADIANS(plat)) * sinphi2)), 6) AS dest_lon
            FROM t
        """,
        "road_length_users": f"""
            WITH pts AS (SELECT * FROM {synth}),
            seg AS (
              SELECT user_id, lat, lon,
                     LEAD(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lat2,
                     LEAD(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lon2
              FROM pts)
            SELECT user_id, ROUND(SUM({_haversine_sql('lat', 'lon', 'lat2', 'lon2')}), 2) AS dist_m
            FROM seg WHERE lat2 IS NOT NULL GROUP BY user_id
        """,
        "pip_events": f"""
            SELECT 'hex' AS polygon_id, event_id FROM {synth}
            WHERE {_halfplanes_sql('lon', 'lat')}
        """,
        "dtw_events": f"""
            WITH RECURSIVE
            p AS (
                SELECT event_id % 32 AS tid,
                       ROW_NUMBER() OVER (PARTITION BY event_id % 32 ORDER BY event_id) - 1 AS seq,
                       CAST({LAT0} + (event_id % 32 % 8) * 250000
                            + (event_id * {A_LAT}) % 200000 AS BIGINT) AS lat,
                       CAST({LON0} + ((event_id % 32) // 8) * 1000000
                            + (event_id * {A_LON}) % 800000 AS BIGINT) AS lon
                FROM events WHERE event_id < 1000
            ),
            tr AS (SELECT tid, list([lat, lon] ORDER BY seq) AS pts FROM p GROUP BY tid),
            pz AS (
              SELECT a.tid AS ta, b.tid AS tb, a.pts AS pa, b.pts AS pb,
                     list_transform(list_zip(b.pts, range(1, len(b.pts)+1)),
                                    s -> [CAST(s[2] AS BIGINT), s[1][1], s[1][2]]) AS pbi
              FROM tr a JOIN tr b ON a.tid < b.tid
            ),
            dp(ta, tb, i, row) AS (
              SELECT ta, tb, 0,
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(pb, q -> CAST(10000000000000000 AS BIGINT)))
              FROM pz
              UNION ALL
              SELECT d.ta, d.tb, d.i + 1,
                reduce(list_prepend(CAST([10000000000000000] AS BIGINT[]), z.pbi),
                  (cur, q) -> list_append(cur,
                     (z.pa[d.i+1][1]-q[2])*(z.pa[d.i+1][1]-q[2])
                   + (z.pa[d.i+1][2]-q[3])*(z.pa[d.i+1][2]-q[3])
                   + least(d.row[q[1]+1], d.row[q[1]], cur[-1])))
              FROM dp d JOIN pz z ON z.ta = d.ta AND z.tb = d.tb
              WHERE d.i < len(z.pa)
            )
            SELECT d.ta AS traj_a, d.tb AS traj_b,
                   CAST(d.row[len(z.pb)+1] AS BIGINT) AS dtw
            FROM dp d JOIN pz z ON z.ta=d.ta AND z.tb=d.tb
            WHERE d.i = len(z.pa) AND d.row[len(z.pb)+1] <= 10000000000000
        """,
        "lcss_events": f"""
            WITH RECURSIVE
            p AS (
                SELECT event_id % 32 AS tid,
                       ROW_NUMBER() OVER (PARTITION BY event_id % 32 ORDER BY event_id) - 1 AS seq,
                       CAST({LAT0} + (event_id % 32 % 8) * 250000
                            + (event_id * {A_LAT}) % 200000 AS BIGINT) AS lat,
                       CAST({LON0} + ((event_id % 32) // 8) * 1000000
                            + (event_id * {A_LON}) % 800000 AS BIGINT) AS lon
                FROM events WHERE event_id < 1000
            ),
            tr AS (SELECT tid, list([lat, lon] ORDER BY seq) AS pts FROM p GROUP BY tid),
            pz AS (
              SELECT a.tid AS ta, b.tid AS tb, a.pts AS pa, b.pts AS pb,
                     list_transform(list_zip(b.pts, range(1, len(b.pts)+1)),
                                    s -> [CAST(s[2] AS BIGINT), s[1][1], s[1][2]]) AS pbi
              FROM tr a JOIN tr b ON a.tid < b.tid
            ),
            dp(ta, tb, i, row) AS (
              SELECT ta, tb, 0,
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(pb, q -> CAST(0 AS BIGINT)))
              FROM pz
              UNION ALL
              SELECT d.ta, d.tb, d.i + 1,
                reduce(list_prepend(CAST([0] AS BIGINT[]), z.pbi),
                  (cur, q) -> list_append(cur,
                     CASE WHEN (z.pa[d.i+1][1]-q[2])*(z.pa[d.i+1][1]-q[2])
                             + (z.pa[d.i+1][2]-q[3])*(z.pa[d.i+1][2]-q[3])
                             <= CAST(120000 AS BIGINT) * 120000
                          THEN d.row[q[1]] + 1
                          ELSE greatest(d.row[q[1]+1], cur[-1]) END))
              FROM dp d JOIN pz z ON z.ta = d.ta AND z.tb = d.tb
              WHERE d.i < len(z.pa)
            )
            SELECT d.ta AS traj_a, d.tb AS traj_b,
                   CAST(d.row[len(z.pb)+1] AS BIGINT) AS lcss
            FROM dp d JOIN pz z ON z.ta=d.ta AND z.tb=d.tb
            WHERE d.i = len(z.pa) AND d.row[len(z.pb)+1] >= 2
        """,
        "edr_events": f"""
            WITH RECURSIVE
            p AS (
                SELECT event_id % 32 AS tid,
                       ROW_NUMBER() OVER (PARTITION BY event_id % 32 ORDER BY event_id) - 1 AS seq,
                       CAST({LAT0} + (event_id % 32 % 8) * 250000
                            + (event_id * {A_LAT}) % 200000 AS BIGINT) AS lat,
                       CAST({LON0} + ((event_id % 32) // 8) * 1000000
                            + (event_id * {A_LON}) % 800000 AS BIGINT) AS lon
                FROM events WHERE event_id < 1000
            ),
            tr AS (SELECT tid, list([lat, lon] ORDER BY seq) AS pts FROM p GROUP BY tid),
            pz AS (
              SELECT a.tid AS ta, b.tid AS tb, a.pts AS pa, b.pts AS pb,
                     list_transform(list_zip(b.pts, range(1, len(b.pts)+1)),
                                    s -> [CAST(s[2] AS BIGINT), s[1][1], s[1][2]]) AS pbi
              FROM tr a JOIN tr b ON a.tid < b.tid
            ),
            dp(ta, tb, i, row) AS (
              SELECT ta, tb, 0,
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(range(1, len(pb)+1),
                                                 x -> CAST(x AS BIGINT)))
              FROM pz
              UNION ALL
              SELECT d.ta, d.tb, d.i + 1,
                reduce(list_prepend([CAST(d.i + 1 AS BIGINT)], z.pbi),
                  (cur, q) -> list_append(cur,
                     least(
                       d.row[q[1]]
                         + CASE WHEN (z.pa[d.i+1][1]-q[2])*(z.pa[d.i+1][1]-q[2])
                                   + (z.pa[d.i+1][2]-q[3])*(z.pa[d.i+1][2]-q[3])
                                   <= CAST(120000 AS BIGINT) * 120000
                                THEN 0 ELSE 1 END,
                       d.row[q[1]+1] + 1,
                       cur[-1] + 1)))
              FROM dp d JOIN pz z ON z.ta = d.ta AND z.tb = d.tb
              WHERE d.i < len(z.pa)
            )
            SELECT d.ta AS traj_a, d.tb AS traj_b,
                   CAST(d.row[len(z.pb)+1] AS BIGINT) AS edr
            FROM dp d JOIN pz z ON z.ta=d.ta AND z.tb=d.tb
            WHERE d.i = len(z.pa) AND d.row[len(z.pb)+1] <= 28
        """,
        "frechet_events": f"""
            WITH RECURSIVE
            p AS (
                SELECT event_id % 32 AS tid,
                       ROW_NUMBER() OVER (PARTITION BY event_id % 32 ORDER BY event_id) - 1 AS seq,
                       CAST({LAT0} + (event_id % 32 % 8) * 250000
                            + (event_id * {A_LAT}) % 200000 AS BIGINT) AS lat,
                       CAST({LON0} + ((event_id % 32) // 8) * 1000000
                            + (event_id * {A_LON}) % 800000 AS BIGINT) AS lon
                FROM events WHERE event_id < 1000
            ),
            sz AS (SELECT tid, COUNT(*) AS n FROM p GROUP BY tid),
            allowed AS (
                SELECT a.tid AS ta, b.tid AS tb, a.seq AS i, b.seq AS j
                FROM p a JOIN p b ON a.tid < b.tid
                WHERE (a.lat - b.lat) * (a.lat - b.lat)
                    + (a.lon - b.lon) * (a.lon - b.lon)
                    <= CAST(320000 AS BIGINT) * 320000
            ),
            reach(ta, tb, i, j) AS (
                SELECT ta, tb, i, j FROM allowed WHERE i = 0 AND j = 0
                UNION
                SELECT al.ta, al.tb, al.i, al.j
                FROM reach r JOIN allowed al
                  ON al.ta = r.ta AND al.tb = r.tb
                 AND al.i BETWEEN r.i AND r.i + 1
                 AND al.j BETWEEN r.j AND r.j + 1
                 AND (al.i > r.i OR al.j > r.j)
            )
            SELECT r.ta AS traj_a, r.tb AS traj_b FROM reach r
            JOIN sz sa ON sa.tid = r.ta JOIN sz sb ON sb.tid = r.tb
            WHERE r.i = sa.n - 1 AND r.j = sb.n - 1
        """,
        "quadkey_events": f"""
            WITH t AS (
                SELECT event_id,
                  GREATEST(0, LEAST({(1 << ZOOM) - 1},
                    CAST(FLOOR((lon / 10000000.0 + 180.0) / 360.0 * {1 << ZOOM}) AS BIGINT))) AS tx,
                  GREATEST(0, LEAST({(1 << ZOOM) - 1},
                    CAST(FLOOR((1.0 - LN(TAN(RADIANS(GREATEST(-85.05112878, LEAST(85.05112878, lat / 10000000.0))))
                      + 1.0 / COS(RADIANS(GREATEST(-85.05112878, LEAST(85.05112878, lat / 10000000.0)))))
                      / 3.141592653589793) / 2.0 * {1 << ZOOM}) AS BIGINT))) AS ty
                FROM {synth}
            )
            SELECT event_id, {_qk_digits} AS quadkey FROM t
        """,
        "geohash_events": f"""
            WITH t AS (
                SELECT event_id,
                  GREATEST(0, LEAST({(1 << 20) - 1},
                    CAST(FLOOR((lon / 10000000.0 + 180.0) / 360.0 * {float(1 << 20)}) AS BIGINT))) AS lonq,
                  GREATEST(0, LEAST({(1 << 20) - 1},
                    CAST(FLOOR((lat / 10000000.0 + 90.0) / 180.0 * {float(1 << 20)}) AS BIGINT))) AS latq
                FROM {synth}
            )
            SELECT event_id, {_gh_concat} AS geohash FROM t
        """,
        "hausdorff_events": f"""
            WITH p AS (
                SELECT event_id % 32 AS tid,
                       CAST({LAT0} + (event_id % 32 % 8) * 250000
                            + (event_id * {A_LAT}) % 200000 AS BIGINT) AS lat,
                       CAST({LON0} + ((event_id % 32) // 8) * 1000000
                            + (event_id * {A_LON}) % 800000 AS BIGINT) AS lon
                FROM events WHERE event_id < 1000
            ),
            dm AS (
                SELECT a.tid AS ta, b.tid AS tb, a.lat AS ala, a.lon AS alo,
                       MIN((a.lat - b.lat) * (a.lat - b.lat)
                           + (a.lon - b.lon) * (a.lon - b.lon)) AS md
                FROM p a JOIN p b ON a.tid <> b.tid
                GROUP BY a.tid, b.tid, a.lat, a.lon
            ),
            dh AS (SELECT ta, tb, MAX(md) AS h FROM dm GROUP BY ta, tb)
            SELECT x.ta AS traj_a, x.tb AS traj_b,
                   CAST(GREATEST(x.h, y.h) AS BIGINT) AS h2
            FROM dh x JOIN dh y ON x.ta = y.tb AND x.tb = y.ta AND x.ta < x.tb
            WHERE GREATEST(x.h, y.h) <= CAST(320000 AS BIGINT) * 320000
        """,
        "zonal_stats_events": f"""
            SELECT polygon_id, COUNT(*) AS n_pts,
                   ROUND(SUM(value), 2) AS sum_val,
                   ROUND(AVG(value), 4) AS avg_val,
                   ROUND(MIN(value), 2) AS min_val,
                   ROUND(MAX(value), 2) AS max_val
            FROM (
                SELECT 'hex' AS polygon_id, value FROM {synth}
                WHERE {_halfplanes_sql('lon', 'lat')}
                UNION ALL
                SELECT 'hex2' AS polygon_id, value FROM {synth}
                WHERE {_ring_halfplanes_sql(ZONAL_HEX2, 'lon', 'lat')}
            ) GROUP BY polygon_id
        """,
        "pip_events_shuffle": f"""
            SELECT 'hex' AS polygon_id, event_id FROM {synth}
            WHERE {_halfplanes_sql('lon', 'lat')}
        """,
        "pip_anti_events": f"""
            SELECT event_id FROM {synth}
            WHERE NOT ({_halfplanes_sql('lon', 'lat')})
        """,
        # Minkowski oracle: equal centrally-symmetric hexagons intersect
        # iff the center delta is inside the DOUBLED hexagon (inclusive
        # half-planes == the engine's boundary-inclusive ST_Intersects).
        "poly_intersect_events": f"""
            WITH c AS (SELECT event_id, lat, lon FROM {synth} WHERE event_id < 300)
            SELECT a.event_id AS id_a, b.event_id AS id_b
            FROM c a JOIN c b ON a.event_id < b.event_id
            WHERE {_ring_halfplanes_sql([(2 * dx, 2 * dy) for dx, dy in POLY_HEX_OFF],
                                        '(b.lon - a.lon)', '(b.lat - a.lat)')}
        """,
        "stream_pip_events": f"""
            SELECT 'hex' AS polygon_id, event_id FROM {synth}
            WHERE {_halfplanes_sql('lon', 'lat')}
        """,
        "pip_events_holes": f"""
            SELECT 'hexhole' AS polygon_id, event_id FROM {synth}
            WHERE {_halfplanes_sql('lon', 'lat')}
              AND NOT ({_ring_halfplanes_sql(HOLE_RING, 'lon', 'lat', strict=True)})
        """,
        # interior fill re-derived from a GENEROUS global cell universe
        # (different candidate structure than the engine's per-polygon
        # bbox fan-out — cells outside a polygon fail its half-planes, so
        # the supersets agree exactly); same integer midpoint formula,
        # same boundary-inclusive even-odd on the hexhole
        "fill_cells": _fill_cells_oracle_sql(),
        # the walk enumerates every (source, node, dist, hops) tuple the
        # bounded Bellman-Ford could produce (UNION dedups; dists are
        # bounded so the closure is small) — MIN collapses to the answer
        "simplify_events": _simplify_oracle_sql(),
        # DBSCAN: min-label closure over core-core edges (UNION-deduped
        # recursive propagation — components are blob-sized, so the
        # closure is m² per blob, bounded by construction), then
        # min-label border assignment; core test = pair count >= minpts-1
        # (|N_eps| includes self)
        "dbscan_events": f"""
            WITH RECURSIVE pts AS ({_DBSCAN_SQL}),
            pr AS (SELECT a.event_id AS a, b.event_id AS b FROM pts a JOIN pts b
                   ON a.event_id <> b.event_id
                  AND abs(a.lat - b.lat) <= {DBSCAN_R} AND abs(a.lon - b.lon) <= {DBSCAN_R}
                  AND (a.lat - b.lat) * (a.lat - b.lat)
                    + (a.lon - b.lon) * (a.lon - b.lon) <= CAST({DBSCAN_R * DBSCAN_R} AS BIGINT)),
            core AS (SELECT a AS id FROM pr GROUP BY a HAVING COUNT(*) >= {DBSCAN_MINPTS - 1}),
            ce AS (SELECT pr.a, pr.b FROM pr
                   JOIN core ca ON ca.id = pr.a JOIN core cb ON cb.id = pr.b),
            lbl(node, l) AS (
              SELECT id, id FROM core
              UNION
              SELECT ce.b, lbl.l FROM lbl JOIN ce ON ce.a = lbl.node),
            comp AS (SELECT node, MIN(l) AS cluster FROM lbl GROUP BY node),
            border AS (
              SELECT pr.a AS event_id, MIN(c.cluster) AS cluster, FALSE AS is_core
              FROM pr JOIN comp c ON c.node = pr.b
              WHERE pr.a NOT IN (SELECT id FROM core)
              GROUP BY pr.a)
            SELECT node AS event_id, cluster, TRUE AS is_core FROM comp
            UNION ALL
            SELECT event_id, cluster, is_core FROM border
        """,
        "ripley_events": f"""
            WITH pts AS (SELECT event_id, lat, lon FROM {synth}),
            pr AS (SELECT (a.lat - b.lat) * (a.lat - b.lat)
                        + (a.lon - b.lon) * (a.lon - b.lon) AS d2
                   FROM pts a JOIN pts b
                     ON a.event_id <> b.event_id
                    AND abs(a.lat - b.lat) <= {max(RIPLEY_RADII)}
                    AND abs(a.lon - b.lon) <= {max(RIPLEY_RADII)}),
            agg AS (SELECT {', '.join(f'COUNT(*) FILTER (WHERE d2 <= {r * r}) AS n{i}' for i, r in enumerate(RIPLEY_RADII))}
                    FROM pr),
            nn AS (SELECT COUNT(*) AS n FROM pts),
            unp AS ({' UNION ALL '.join(f'SELECT CAST({r} AS BIGINT) AS r, n{i} AS n_pairs FROM agg' for i, r in enumerate(RIPLEY_RADII))})
            SELECT r, n_pairs,
                   CAST({RIPLEY_AREA!r} AS DOUBLE) * CAST(n_pairs AS DOUBLE)
                     / CAST(n * (n - 1) AS DOUBLE) AS k_hat
            FROM unp, nn
        """,
        # profile: per-column UNION ALL restatement of the one-pass agg
        "profile_events": """
            WITH ev AS (SELECT event_id, event_type, user_id,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                               epoch_us(ts) AS t_us, props
                        FROM events)
            SELECT 'event_id' AS column, COUNT(*) AS n,
                   CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
                   CAST(MIN(event_id) AS VARCHAR) AS min_s, CAST(MAX(event_id) AS VARCHAR) AS max_s
            FROM ev
            UNION ALL SELECT 'event_type', COUNT(*),
                   CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT event_type) AS BIGINT),
                   MIN(event_type), MAX(event_type) FROM ev
            UNION ALL SELECT 'user_id', COUNT(*),
                   CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT user_id) AS BIGINT),
                   CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR) FROM ev
            UNION ALL SELECT 'cents', COUNT(*),
                   CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT cents) AS BIGINT),
                   CAST(MIN(cents) AS VARCHAR), CAST(MAX(cents) AS VARCHAR) FROM ev
            UNION ALL SELECT 't_us', COUNT(*),
                   CAST(SUM(CASE WHEN t_us IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT t_us) AS BIGINT),
                   CAST(MIN(t_us) AS VARCHAR), CAST(MAX(t_us) AS VARCHAR) FROM ev
            UNION ALL SELECT 'props', COUNT(*),
                   CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT props) AS BIGINT),
                   MIN(props), MAX(props) FROM ev
        """,
        # PSI: identical grid, smoothing, and ln contract
        "psi_events": """
            WITH v AS (SELECT event_type,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            ba AS (SELECT CASE WHEN v < 0 THEN -1
                               WHEN v >= 10000 THEN 10
                               ELSE CAST(v // 1000 AS INT) END AS bin, COUNT(*) AS ca
                   FROM v WHERE event_type = 'view' GROUP BY 1),
            bb AS (SELECT CASE WHEN v < 0 THEN -1
                               WHEN v >= 10000 THEN 10
                               ELSE CAST(v // 1000 AS INT) END AS bin, COUNT(*) AS cb
                   FROM v WHERE event_type = 'purchase' GROUP BY 1),
            t AS (SELECT (SELECT COUNT(*) FROM v WHERE event_type = 'view') AS ta,
                         (SELECT COUNT(*) FROM v WHERE event_type = 'purchase') AS tb),
            grid AS (SELECT CAST(UNNEST(generate_series(-1, 10)) AS INT) AS bin),
            j AS (SELECT g.bin, COALESCE(ba.ca, 0) AS n_a, COALESCE(bb.cb, 0) AS n_b
                  FROM grid g LEFT JOIN ba USING (bin) LEFT JOIN bb USING (bin)),
            x AS (SELECT bin, n_a, n_b,
                         CAST(n_a + 1 AS DOUBLE) / (t.ta + 12) AS p,
                         CAST(n_b + 1 AS DOUBLE) / (t.tb + 12) AS q
                  FROM j, t)
            SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, p, q,
                   ROUND((p - q) * (ln(p) - ln(q)), 9) AS contrib,
                   ROUND(SUM((p - q) * (ln(p) - ln(q))) OVER (), 6) AS psi
            FROM x
        """,
        # KS: identical exact integer cross-multiplied sup
        "ks_events": """
            WITH v AS (SELECT event_type,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            a AS (SELECT v, COUNT(*) AS ca FROM v WHERE event_type = 'view' GROUP BY 1),
            b AS (SELECT v, COUNT(*) AS cb FROM v WHERE event_type = 'purchase' GROUP BY 1),
            m AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
                  FROM a FULL JOIN b USING (v)),
            c AS (SELECT SUM(ca) OVER w AS fa, SUM(cb) OVER w AS fb
                  FROM m WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
            t AS (SELECT MAX(fa) AS n_a, MAX(fb) AS n_b FROM c)
            SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
                   CAST(MAX(abs(c.fa * t.n_b - c.fb * t.n_a)) AS BIGINT) AS d_num,
                   CAST(MAX(abs(c.fa * t.n_b - c.fb * t.n_a)) AS DOUBLE)
                   / (CAST(t.n_a AS DOUBLE) * t.n_b) AS d
            FROM c, t GROUP BY t.n_a, t.n_b
        """,
        # MWU: identical twice-ranks + exact tie moments
        "mwu_events": """
            WITH v AS (SELECT event_type,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            u AS (SELECT v, CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
                  FROM v WHERE event_type IN ('view', 'purchase')),
            r AS (SELECT v, a,
                         COALESCE(COUNT(*) OVER (ORDER BY v
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                         + COUNT(*) OVER (ORDER BY v
                             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
                  FROM u),
            ties AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
                     FROM (SELECT COUNT(*) AS t FROM u GROUP BY v)),
            agg AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a,
                           CAST(SUM(1 - a) AS BIGINT) AS n_b,
                           CAST(SUM(CASE WHEN a = 1 THEN r2 ELSE 0 END) AS BIGINT) AS ra2
                    FROM r)
            SELECT g.n_a, g.n_b,
                   CAST(g.ra2 - g.n_a * (g.n_a + 1) AS BIGINT) AS u2,
                   CASE WHEN CAST(g.n_a AS DOUBLE) * g.n_b / 12.0
                             * (CAST(g.n_a + g.n_b + 1 AS DOUBLE)
                                - CAST(t.tie3 AS DOUBLE)
                                  / CAST((g.n_a + g.n_b) * (g.n_a + g.n_b - 1) AS DOUBLE)) > 0
                        THEN ROUND(CAST(g.ra2 - g.n_a * (g.n_a + 1) - g.n_a * g.n_b AS DOUBLE)
                             / (2.0 * sqrt(CAST(g.n_a AS DOUBLE) * g.n_b / 12.0
                                * (CAST(g.n_a + g.n_b + 1 AS DOUBLE)
                                   - CAST(t.tie3 AS DOUBLE)
                                     / CAST((g.n_a + g.n_b) * (g.n_a + g.n_b - 1) AS DOUBLE)))), 9)
                   END AS z
            FROM agg g, ties t
        """,
        # trimmed mean: identical exact rank cut
        "trimmed_mean_events": """
            WITH b AS (SELECT event_type AS g,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            r AS (SELECT g, v,
                         row_number() OVER (PARTITION BY g ORDER BY v) AS r,
                         COUNT(*) OVER (PARTITION BY g) AS n
                  FROM b),
            kept AS (SELECT g, n, v FROM r
                     WHERE r > n // 10 AND r <= n - n // 10),
            o AS (SELECT g, CAST(MIN(n) AS BIGINT) AS n,
                         CAST(COUNT(*) AS BIGINT) AS n_used,
                         CAST(SUM(v) AS BIGINT) AS s
                  FROM kept GROUP BY 1)
            SELECT g AS event_type, n, n_used,
                   CASE WHEN n_used > 0 THEN CAST(s AS DOUBLE) / n_used END AS tmean
            FROM o
        """,
        # conformal: identical exact median, rank and coverage
        "conformal_events": """
            WITH b AS (SELECT user_id, event_type,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            cal AS (SELECT * FROM b WHERE user_id % 2 = 1),
            ev AS (SELECT * FROM b WHERE user_id % 2 = 0),
            med AS (SELECT event_type, v AS yhat FROM (
                      SELECT event_type, v,
                             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                             COUNT(*) OVER (PARTITION BY event_type) AS n
                      FROM cal) WHERE rn = (n + 1) // 2),
            cr AS (SELECT c.event_type, abs(c.v - m.yhat) AS r
                   FROM cal c JOIN med m USING (event_type)),
            rk AS (SELECT event_type, r,
                          row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
                          COUNT(*) OVER (PARTITION BY event_type) AS n
                   FROM cr),
            q AS (SELECT event_type, r AS q, CAST(n AS BIGINT) AS n_cal FROM rk
                  WHERE rn = LEAST(n, ((n + 1) * 9 + 9) // 10)),
            er AS (SELECT e.event_type, abs(e.v - m.yhat) AS r
                   FROM ev e JOIN med m USING (event_type)),
            a AS (SELECT er.event_type, MIN(q.n_cal) AS n_cal, MIN(q.q) AS q,
                         COUNT(*) AS n_eval,
                         SUM(CASE WHEN er.r <= q.q THEN 1 ELSE 0 END) AS n_covered
                  FROM er JOIN q USING (event_type) GROUP BY 1)
            SELECT event_type, n_cal, q, CAST(n_eval AS BIGINT) AS n_eval,
                   CAST(n_covered AS BIGINT) AS n_covered,
                   CAST(n_covered AS DOUBLE) / n_eval AS coverage
            FROM a
        """,
        # BH-FDR: same all-integer step-up arithmetic
        "bh_fdr_events": """
            WITH b AS (SELECT event_type, ((user_id % 10) + 10) % 10 AS b,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                       FROM events),
            t AS (SELECT event_type, b, SUM(cents) AS s FROM b GROUP BY 1, 2),
            p AS (SELECT event_type || ':' || CAST(b AS VARCHAR) AS test,
                         CASE WHEN b < 3 THEN ((((s % 997) + 997) % 997) % 25 + 25) % 25
                              ELSE ((s % 997) + 997) % 997 END AS pn,
                         CAST(997 AS BIGINT) AS pd
                  FROM t),
            r AS (SELECT test, pn, pd,
                         row_number() OVER (ORDER BY CAST(pn AS DOUBLE) / pd ASC, test ASC) AS "rank",
                         COUNT(*) OVER () AS m
                  FROM p),
            k AS (SELECT COALESCE(MAX(CASE WHEN pn * m * 4 <= "rank" * 1 * pd THEN "rank" END), 0) AS k FROM r)
            SELECT test, CAST("rank" AS BIGINT) AS "rank", CAST(m AS BIGINT) AS m,
                   round(CAST(pn AS DOUBLE) / pd, 6) AS p,
                   "rank" <= k AS rejected
            FROM r, k
        """,
        # jackknife: identical fixed-point leave-one-out algebra
        "jackknife_events": """
            WITH e AS (SELECT event_type, ((user_id % 32) + 32) % 32 AS b,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                       FROM events WHERE value IS NOT NULL),
            bk AS (SELECT event_type, b, SUM(cents) AS sx, COUNT(*) AS sy
                   FROM e GROUP BY 1, 2),
            t AS (SELECT event_type, SUM(sx) AS tx, SUM(sy) AS ty, COUNT(*) AS j
                  FROM bk GROUP BY 1),
            r AS (SELECT bk.event_type, t.j, t.tx, t.ty,
                         CASE WHEN (t.ty - bk.sy) <> 0 THEN
                           CAST(floor(CAST(t.tx - bk.sx AS DOUBLE) / (t.ty - bk.sy)
                                      * 1000000000.0 + 0.5) AS BIGINT)
                         END AS rfp
                  FROM bk JOIN t USING (event_type)),
            a AS (SELECT event_type, MIN(j) AS n_buckets, MIN(tx) AS tx, MIN(ty) AS ty,
                         COUNT(rfp) AS n_used, SUM(rfp) AS s1,
                         SUM(CAST(rfp AS HUGEINT) * CAST(rfp AS HUGEINT)) AS s2
                  FROM r GROUP BY 1),
            v AS (SELECT event_type, n_buckets, n_used, tx, ty,
                         CASE WHEN n_used > 1 THEN
                           ((CAST(n_used AS DOUBLE) - 1) / n_used)
                           * (CAST(s2 AS DOUBLE) / n_used
                              - (CAST(s1 AS DOUBLE) / n_used) * (CAST(s1 AS DOUBLE) / n_used))
                           / 1e18
                         END AS var_jk
                  FROM a),
            f AS (SELECT event_type, n_buckets, n_used,
                         CASE WHEN ty <> 0 THEN CAST(tx AS DOUBLE) / ty END AS ratio,
                         CASE WHEN var_jk IS NOT NULL
                              THEN sqrt(GREATEST(var_jk, 0.0)) END AS se
                  FROM v)
            SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
                   CAST(n_used AS BIGINT) AS n_used,
                   round(ratio, 6) AS ratio, round(se, 6) AS se_jk,
                   round(ratio - 1.96 * se, 6) AS ci_lo,
                   round(ratio + 1.96 * se, 6) AS ci_hi
            FROM f
        """,
        # Poisson bootstrap: same md5 inverse-CDF weights, sums, ranks
        "bootstrap_events": """
            WITH e AS (SELECT event_type, event_id,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            rep AS (SELECT e.event_type, e.event_id, e.v, r.range AS r
                    FROM e CROSS JOIN range(100) r),
            u AS (SELECT event_type, r, v,
                         (CAST('0x' || substr(md5('pb:' || CAST(r AS VARCHAR) || ':'
                              || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) + 1)
                             / 1152921504606846976.0 AS u
                  FROM rep),
            wt AS (SELECT event_type, r, v,
                          CAST(u > 0.36787944117144233 AS BIGINT)
                        + CAST(u > 0.7357588823428847 AS BIGINT)
                        + CAST(u > 0.9196986029286058 AS BIGINT)
                        + CAST(u > 0.9810118431238463 AS BIGINT)
                        + CAST(u > 0.9963401531726563 AS BIGINT)
                        + CAST(u > 0.9994058151824183 AS BIGINT)
                        + CAST(u > 0.999916758850712 AS BIGINT)
                        + CAST(u > 0.9999897508033253 AS BIGINT)
                        + CAST(u > 0.999998874797402 AS BIGINT)
                        + CAST(u > 0.9999998885745216 AS BIGINT) AS w
                   FROM u),
            m AS (SELECT event_type, r, SUM(w) AS sw, SUM(w * v) AS swv
                  FROM wt GROUP BY 1, 2),
            mm AS (SELECT event_type, r, CAST(swv AS DOUBLE) / sw AS mn
                   FROM m WHERE sw > 0),
            rk AS (SELECT event_type, mn, r,
                          row_number() OVER (PARTITION BY event_type ORDER BY mn ASC, r ASC) AS rn,
                          COUNT(*) OVER (PARTITION BY event_type) AS nr
                   FROM mm),
            ci AS (SELECT event_type, MIN(nr) AS reps,
                          MIN(CASE WHEN rn = (nr * 25 + 999) // 1000 THEN mn END) AS lo,
                          MIN(CASE WHEN rn = (nr * 975 + 999) // 1000 THEN mn END) AS hi
                   FROM rk GROUP BY 1),
            f AS (SELECT event_type, COUNT(*) AS n, SUM(v) AS sv FROM e GROUP BY 1)
            SELECT f.event_type, CAST(n AS BIGINT) AS n,
                   round(CAST(sv AS DOUBLE) / n, 6) AS mean_full,
                   CAST(reps AS BIGINT) AS replicates,
                   round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi
            FROM f JOIN ci USING (event_type)
        """,
        # Welch t: same exact moments, same pinned double op order
        "welch_events": """
            WITH b AS (SELECT event_type,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events
                       WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
            g AS (SELECT event_type, COUNT(*) AS n, SUM(v) AS sx,
                         SUM(v * v) AS sxx
                  FROM b GROUP BY 1),
            a AS (SELECT n AS n_a, sx AS sx_a, sxx AS sxx_a FROM g WHERE event_type = 'click'),
            bb AS (SELECT n AS n_b, sx AS sx_b, sxx AS sxx_b FROM g WHERE event_type = 'view'),
            m AS (SELECT *,
                         CAST(sx_a AS DOUBLE) / n_a AS ma,
                         CAST(sx_b AS DOUBLE) / n_b AS mb
                  FROM a CROSS JOIN bb),
            vv AS (SELECT *,
                          (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * ma) / (CAST(n_a AS DOUBLE) - 1) / n_a AS sea,
                          (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * mb) / (CAST(n_b AS DOUBLE) - 1) / n_b AS seb
                   FROM m)
            SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                   round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                   round(CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0
                              THEN (ma - mb) / sqrt(sea + seb) END, 6) AS t,
                   round(CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0
                              THEN ((sea + seb) * (sea + seb))
                                   / (sea * sea / (CAST(n_a AS DOUBLE) - 1)
                                      + seb * seb / (CAST(n_b AS DOUBLE) - 1)) END, 6) AS df
            FROM vv
        """,
        # ACF: same lag window, same exact sums, same closed form
        "acf_events": """
            WITH b AS (SELECT event_type AS k, event_id AS o,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
                       FROM events WHERE value IS NOT NULL),
            l AS (SELECT k, x,
                         lag(x, 1) OVER (PARTITION BY k ORDER BY o) AS l1,
                         lag(x, 2) OVER (PARTITION BY k ORDER BY o) AS l2,
                         lag(x, 3) OVER (PARTITION BY k ORDER BY o) AS l3
                  FROM b),
            g AS (SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
                         SUM(CASE WHEN l1 IS NOT NULL THEN x * l1 END) AS sxy1,
                         SUM(CASE WHEN l1 IS NOT NULL THEN x END) AS st1,
                         SUM(l1) AS sh1, COUNT(l1) AS np1,
                         SUM(CASE WHEN l2 IS NOT NULL THEN x * l2 END) AS sxy2,
                         SUM(CASE WHEN l2 IS NOT NULL THEN x END) AS st2,
                         SUM(l2) AS sh2, COUNT(l2) AS np2,
                         SUM(CASE WHEN l3 IS NOT NULL THEN x * l3 END) AS sxy3,
                         SUM(CASE WHEN l3 IS NOT NULL THEN x END) AS st3,
                         SUM(l3) AS sh3, COUNT(l3) AS np3
                  FROM l GROUP BY 1),
            s AS (SELECT k, n, sx, sxx, u.lag AS lag, u.sxy AS sxy, u.st AS st,
                         u.sh AS sh, u.np AS np
                  FROM g, UNNEST([
                      {'lag': 1, 'sxy': sxy1, 'st': st1, 'sh': sh1, 'np': np1},
                      {'lag': 2, 'sxy': sxy2, 'st': st2, 'sh': sh2, 'np': np2},
                      {'lag': 3, 'sxy': sxy3, 'st': st3, 'sh': sh3, 'np': np3}
                  ]) AS t(u)),
            f AS (SELECT k, lag, n, np,
                         CAST(sx AS DOUBLE) / n AS xbar,
                         CAST(sxy AS DOUBLE) AS sxyd, CAST(sh AS DOUBLE) AS shd,
                         CAST(st AS DOUBLE) AS std_, CAST(np AS DOUBLE) AS npd,
                         CAST(sxx AS DOUBLE) AS sxxd, CAST(n AS DOUBLE) AS nd
                  FROM s)
            SELECT k AS event_type, CAST(lag AS BIGINT) AS lag,
                   CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pairs,
                   round(CASE WHEN np > 0 AND sxxd - nd * xbar * xbar > 0
                              THEN (sxyd - xbar * (shd + std_) + npd * xbar * xbar)
                                   / (sxxd - nd * xbar * xbar) END, 6) AS r
            FROM f
        """,
        # PMI: same tokenizer, same counts, same single-ln float path
        "pmi_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            g AS (SELECT ws[u.i + 1] AS w1, ws[u.i + 2] AS w2
                  FROM base, UNNEST(range(0, len(ws) - 1)) AS u(i)
                  WHERE len(ws) >= 2),
            toks AS (SELECT unnest(ws) AS tok FROM base),
            uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
            nu AS (SELECT COUNT(*) AS n_uni FROM toks),
            nb AS (SELECT COUNT(*) AS n_bi FROM g),
            cb AS (SELECT w1, w2, COUNT(*) AS c_xy FROM g GROUP BY 1, 2
                   HAVING COUNT(*) >= 5)
            SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
                   CAST(u1.c AS BIGINT) AS c_x, CAST(u2.c AS BIGINT) AS c_y,
                   round(ln((CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE))
                            / (CAST(n_bi AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
            FROM cb JOIN uni u1 ON cb.w1 = u1.tok
                    JOIN uni u2 ON cb.w2 = u2.tok
                    CROSS JOIN nu CROSS JOIN nb
        """,
        # permutation: same md5 relabeling, same exact sums
        "permutation_events": """
            WITH b AS (SELECT event_id AS id,
                              CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events
                       WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
            o AS (SELECT SUM(CASE WHEN is_a = 1 THEN v END) AS s_a,
                         COUNT(CASE WHEN is_a = 1 THEN 1 END) AS n_a,
                         SUM(CASE WHEN is_a = 0 THEN v END) AS s_b,
                         COUNT(CASE WHEN is_a = 0 THEN 1 END) AS n_b
                  FROM b),
            ob AS (SELECT n_a, n_b,
                          CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b AS diff_obs
                   FROM o),
            rep AS (SELECT b.id, b.v, r.range AS r
                    FROM b CROSS JOIN range(1, 101) r),
            sd AS (SELECT r,
                          CAST('0x' || substr(md5('perm:' || CAST(r AS VARCHAR) || ':'
                               || CAST(id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS pa,
                          v
                   FROM rep),
            pm AS (SELECT r,
                          SUM(CASE WHEN pa = 1 THEN v END) AS sa,
                          COUNT(CASE WHEN pa = 1 THEN 1 END) AS na,
                          SUM(CASE WHEN pa = 0 THEN v END) AS sb,
                          COUNT(CASE WHEN pa = 0 THEN 1 END) AS nb
                   FROM sd GROUP BY 1),
            d AS (SELECT CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS d
                  FROM pm WHERE na > 0 AND nb > 0),
            tl AS (SELECT COUNT(*) AS n_perm_used,
                          SUM(CASE WHEN abs(d.d) >= abs(ob.diff_obs) THEN 1 ELSE 0 END) AS n_ge
                   FROM d CROSS JOIN ob)
            SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                   round(diff_obs, 6) AS diff_obs,
                   CAST(n_perm_used AS BIGINT) AS n_perm,
                   CAST(n_ge AS BIGINT) AS n_ge,
                   round((CAST(n_ge AS DOUBLE) + 1) / (CAST(n_perm_used AS DOUBLE) + 1), 6) AS p
            FROM ob CROSS JOIN tl
        """,
        # CMH: same exact fixed-point long-division lattice
        "cmh_events": """
            WITH b AS (SELECT ((user_id % 8) + 8) % 8 AS s, event_type,
                              CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) > 500
                                   THEN 1 ELSE 0 END AS y
                       FROM events
                       WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
            st AS (SELECT s,
                          SUM(CASE WHEN event_type = 'click' AND y = 1 THEN 1 ELSE 0 END) AS a,
                          SUM(CASE WHEN event_type = 'click' AND y = 0 THEN 1 ELSE 0 END) AS bb,
                          SUM(CASE WHEN event_type = 'view' AND y = 1 THEN 1 ELSE 0 END) AS c,
                          SUM(CASE WHEN event_type = 'view' AND y = 0 THEN 1 ELSE 0 END) AS d
                   FROM b GROUP BY 1),
            n AS (SELECT *, a + bb + c + d AS nn FROM st WHERE a + bb + c + d > 0),
            agg AS (SELECT COUNT(*) AS n_strata, SUM(nn) AS n_total, SUM(a) AS sum_a,
                           SUM((a * d // nn) * 1000000 + ((a * d % nn) * 1000000 // nn)) AS or_num,
                           SUM((bb * c // nn) * 1000000 + ((bb * c % nn) * 1000000 // nn)) AS or_den,
                           SUM(((a + bb) * (a + c) // nn) * 1000000
                               + (((a + bb) * (a + c) % nn) * 1000000 // nn)) AS e_fp,
                           SUM(CASE WHEN nn > 1 THEN
                                 ((a + bb) * (c + d) * (a + c) * (bb + d) // (nn * nn * (nn - 1))) * 1000000
                                 + (((a + bb) * (c + d) * (a + c) * (bb + d) % (nn * nn * (nn - 1))) * 1000000
                                    // (nn * nn * (nn - 1)))
                               ELSE 0 END) AS var_fp
                    FROM n)
            SELECT CAST(n_strata AS BIGINT) AS n_strata, CAST(n_total AS BIGINT) AS n,
                   round(CASE WHEN or_den > 0
                              THEN CAST(or_num AS DOUBLE) / CAST(or_den AS DOUBLE) END, 6) AS or_mh,
                   round(CASE WHEN var_fp > 0
                              THEN (CAST(sum_a AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1000000.0)
                                   * (CAST(sum_a AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1000000.0)
                                   / (CAST(var_fp AS DOUBLE) / 1000000.0) END, 6) AS chi2_cmh
            FROM agg
        """,
        # decomposition: same MA window, same fixed-point phase means
        "decompose_events": """
            WITH e AS (SELECT event_type AS k,
                              CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1
                                   AS BIGINT) AS o,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
                       FROM events WHERE value IS NOT NULL),
            t AS (SELECT k, o, x,
                         CASE WHEN COUNT(*) OVER w = 7
                              THEN CAST(SUM(x) OVER w AS DOUBLE) / 7.0 END AS trend
                  FROM e
                  WINDOW w AS (PARTITION BY k ORDER BY o ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            t2 AS (SELECT *, CAST(floor((CAST(x AS DOUBLE) - trend) * 1000000.0 + 0.5) AS BIGINT) AS det_fp,
                          o % 7 AS ph
                   FROM t),
            p AS (SELECT k, ph, SUM(det_fp) AS sd, COUNT(det_fp) AS nd FROM t2 GROUP BY 1, 2),
            ctr AS (SELECT k,
                           SUM(CAST(floor(CAST(sd AS DOUBLE) / nd + 0.5) AS BIGINT)) AS sm,
                           COUNT(*) AS np
                    FROM p WHERE nd > 0 GROUP BY 1),
            pm AS (SELECT p.k, p.ph,
                          CASE WHEN nd > 0 THEN
                            (floor(CAST(sd AS DOUBLE) / nd + 0.5) - CAST(sm AS DOUBLE) / np)
                            / 1000000.0 END AS seas
                   FROM p JOIN ctr USING (k))
            SELECT t2.k AS event_type, t2.o AS idx, t2.x AS cents,
                   round(trend, 6) AS trend, round(seas, 6) AS seasonal,
                   round(CAST(x AS DOUBLE) - trend - seas, 6) AS resid
            FROM t2 JOIN pm ON t2.k = pm.k AND t2.ph = pm.ph
        """,
        # DiD: same four exact cells, same pinned closed form
        "did_events": """
            WITH b AS (SELECT event_type,
                              ((event_id % 2) + 2) % 2 AS per,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events
                       WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
            c AS (SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS t,
                         per AS p, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx
                  FROM b GROUP BY 1, 2),
            w AS (SELECT
                    MAX(CASE WHEN t = 1 AND p = 0 THEN n END) AS n_tpre,
                    MAX(CASE WHEN t = 1 AND p = 0 THEN sx END) AS sx_tpre,
                    MAX(CASE WHEN t = 1 AND p = 0 THEN sxx END) AS sxx_tpre,
                    MAX(CASE WHEN t = 1 AND p = 1 THEN n END) AS n_tpost,
                    MAX(CASE WHEN t = 1 AND p = 1 THEN sx END) AS sx_tpost,
                    MAX(CASE WHEN t = 1 AND p = 1 THEN sxx END) AS sxx_tpost,
                    MAX(CASE WHEN t = 0 AND p = 0 THEN n END) AS n_cpre,
                    MAX(CASE WHEN t = 0 AND p = 0 THEN sx END) AS sx_cpre,
                    MAX(CASE WHEN t = 0 AND p = 0 THEN sxx END) AS sxx_cpre,
                    MAX(CASE WHEN t = 0 AND p = 1 THEN n END) AS n_cpost,
                    MAX(CASE WHEN t = 0 AND p = 1 THEN sx END) AS sx_cpost,
                    MAX(CASE WHEN t = 0 AND p = 1 THEN sxx END) AS sxx_cpost
                  FROM c),
            m AS (SELECT *,
                    CAST(sx_tpre AS DOUBLE) / n_tpre AS m_tpre,
                    CAST(sx_tpost AS DOUBLE) / n_tpost AS m_tpost,
                    CAST(sx_cpre AS DOUBLE) / n_cpre AS m_cpre,
                    CAST(sx_cpost AS DOUBLE) / n_cpost AS m_cpost
                  FROM w),
            v2 AS (SELECT *,
                    (CAST(sxx_tpre AS DOUBLE) - CAST(sx_tpre AS DOUBLE) * m_tpre) / (CAST(n_tpre AS DOUBLE) - 1) / n_tpre
                  + (CAST(sxx_tpost AS DOUBLE) - CAST(sx_tpost AS DOUBLE) * m_tpost) / (CAST(n_tpost AS DOUBLE) - 1) / n_tpost
                  + (CAST(sxx_cpre AS DOUBLE) - CAST(sx_cpre AS DOUBLE) * m_cpre) / (CAST(n_cpre AS DOUBLE) - 1) / n_cpre
                  + (CAST(sxx_cpost AS DOUBLE) - CAST(sx_cpost AS DOUBLE) * m_cpost) / (CAST(n_cpost AS DOUBLE) - 1) / n_cpost AS se2,
                    (m_tpost - m_tpre) - (m_cpost - m_cpre) AS did
                   FROM m)
            SELECT CAST(n_tpre AS BIGINT) AS n_tpre, CAST(n_tpost AS BIGINT) AS n_tpost,
                   CAST(n_cpre AS BIGINT) AS n_cpre, CAST(n_cpost AS BIGINT) AS n_cpost,
                   round(did, 6) AS did,
                   round(CASE WHEN n_tpre > 1 AND n_tpost > 1 AND n_cpre > 1 AND n_cpost > 1
                              AND se2 > 0 THEN sqrt(se2) END, 6) AS se,
                   round(CASE WHEN n_tpre > 1 AND n_tpost > 1 AND n_cpre > 1 AND n_cpost > 1
                              AND se2 > 0 THEN did / sqrt(se2) END, 6) AS t
            FROM v2
        """,
        # W1: same cross-multiplied CDF-integral arithmetic
        "w1_events": """
            WITH b AS (SELECT event_type,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            a AS (SELECT v, COUNT(*) AS ca FROM b WHERE event_type = 'click' GROUP BY 1),
            c AS (SELECT v, COUNT(*) AS cb FROM b WHERE event_type = 'view' GROUP BY 1),
            m AS (SELECT COALESCE(a.v, c.v) AS v,
                         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
                  FROM a FULL OUTER JOIN c ON a.v = c.v),
            cum AS (SELECT v,
                           SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fa,
                           SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb,
                           lead(v) OVER (ORDER BY v) AS nx
                    FROM m),
            t AS (SELECT MAX(fa) AS n_a, MAX(fb) AS n_b FROM cum),
            agg AS (SELECT MIN(n_a) AS n_a, MIN(n_b) AS n_b,
                           SUM(CASE WHEN nx IS NOT NULL
                                    THEN (nx - v) * abs(fa * n_b - fb * n_a)
                                    ELSE 0 END) AS w1_num
                    FROM cum CROSS JOIN t)
            SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                   CAST(w1_num AS BIGINT) AS w1_num,
                   CAST(w1_num AS DOUBLE) / (n_a * n_b) AS w1
            FROM agg
        """,
        # harmonic: the sssp walk + the same exact floor lattice
        "harmonic_graph": f"""
            WITH RECURSIVE e AS (
              SELECT src, (src * 31 + k) % {SSSP_N} AS dst,
                     (src * 7 + ((src * 31 + k) % {SSSP_N}) * 13) % 20 + 1 AS w
              FROM generate_series(0, {SSSP_N - 1}) s(src), generate_series(1, 3) t(k)),
            walk(source, node, dist, hops) AS (
              SELECT source, source, 0, 0
              FROM (VALUES {', '.join(f'({s})' for s in SSSP_SOURCES)}) s(source)
              UNION
              SELECT w.source, e.dst, w.dist + e.w, w.hops + 1
              FROM walk w JOIN e ON e.src = w.node
              WHERE w.hops < {SSSP_HOPS}),
            d AS (SELECT source, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2)
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_reached,
                   round(CAST(SUM(1000000000 // dist) AS DOUBLE) / 1000000000.0, 6) AS hc
            FROM d WHERE node <> source AND dist > 0
            GROUP BY 1
        """,
        # LOF: brute-force all-pairs restatement on the same lattice
        "lof_events": f"""
            WITH p AS (SELECT event_id,
                              CAST({LAT0} + (event_id * {A_LAT}) % {LATSPAN} AS BIGINT) AS lat,
                              CAST({LON0} + (event_id * {A_LON}) % {LONSPAN} AS BIGINT) AS lon
                       FROM events WHERE event_id % 8 = 0),
            pr AS (SELECT a.event_id AS pa, b.event_id AS pb,
                          (a.lat - b.lat) * (a.lat - b.lat)
                        + (a.lon - b.lon) * (a.lon - b.lon) AS d2
                   FROM p a JOIN p b ON a.event_id <> b.event_id),
            rk AS (SELECT pa, pb, d2,
                          row_number() OVER (PARTITION BY pa ORDER BY d2 ASC, pb ASC) AS r
                   FROM pr),
            nn AS (SELECT pa, pb, d2 FROM rk WHERE r <= 6),
            kd AS (SELECT pa, MAX(d2) AS kdist FROM nn GROUP BY 1),
            rc AS (SELECT nn.pa, nn.pb, GREATEST(nn.d2, k2.kdist) AS reach
                   FROM nn JOIN kd k2 ON nn.pb = k2.pa),
            ld AS (SELECT pa, COUNT(*) AS n,
                          CASE WHEN SUM(reach) > 0
                               THEN (COUNT(*) * 1000000000000000) // SUM(reach) END AS lrd
                   FROM rc GROUP BY 1),
            nm AS (SELECT nn.pa, SUM(l2.lrd) AS slrd, COUNT(l2.lrd) AS nvalid
                   FROM nn JOIN ld l2 ON nn.pb = l2.pa GROUP BY 1)
            SELECT ld.pa AS event_id, CAST(ld.n AS BIGINT) AS n_nn,
                   CAST(kd.kdist AS BIGINT) AS kdist,
                   round(CASE WHEN ld.lrd > 0 AND nm.nvalid = ld.n
                              THEN CAST(nm.slrd AS DOUBLE) / (CAST(ld.n AS DOUBLE) * CAST(ld.lrd AS DOUBLE))
                         END, 6) AS lof
            FROM ld JOIN kd ON ld.pa = kd.pa JOIN nm ON ld.pa = nm.pa
        """,
        # gopher: same tokenizer, same cross-multiplied integer rules
        "gopher_docs": f"""
            WITH b AS (SELECT doc_id, text, {_ws_split_sql()} AS ws FROM documents),
            m AS (SELECT doc_id,
                         CAST(len(ws) AS BIGINT) AS n,
                         CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS tl,
                         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS nh,
                         CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS ne,
                         CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS na,
                         list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                                     s -> s <> '') AS lines
                  FROM b),
            r AS (SELECT doc_id, n, tl, nh, ne, na,
                         CAST(len(lines) AS BIGINT) AS nl,
                         CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS nd
                  FROM m)
            SELECT doc_id, n AS n_words,
                   n >= 40 AND n <= 100000 AS ok_word_count,
                   tl >= 3 * n AND tl <= 10 * n AS ok_avg_word_len,
                   (nh + ne) * 10 <= n * 1 AS ok_symbol_ratio,
                   na * 5 >= n * 4 AS ok_alpha_words,
                   nd * 10 <= nl * 3 AS ok_dup_lines,
                   (n >= 40 AND n <= 100000) AND (tl >= 3 * n AND tl <= 10 * n)
                   AND ((nh + ne) * 10 <= n * 1) AND (na * 5 >= n * 4)
                   AND (nd * 10 <= nl * 3) AS pass_all
            FROM r
        """,
        # rolling OLS: same window sums, same constant moments
        "rolling_ols_events": """
            WITH e AS (SELECT event_type AS k,
                              CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1
                                   AS BIGINT) AS o,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
                       FROM events WHERE value IS NOT NULL),
            t AS (SELECT k, o, x,
                         COUNT(*) OVER w AS n,
                         SUM(x) OVER w AS sy,
                         SUM(o * x) OVER w AS soy
                  FROM e
                  WINDOW w AS (PARTITION BY k ORDER BY o ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING))
            SELECT k AS event_type, o AS idx, x AS cents,
                   CAST(n AS BIGINT) AS n_win,
                   round(CASE WHEN n = 11 THEN CAST(soy - o * sy AS DOUBLE) / 110.0 END, 6) AS slope,
                   round(CASE WHEN n = 11 THEN CAST(sy AS DOUBLE) / 11.0 END, 6) AS icept
            FROM t
        """,
        # trending: same integer decay lattice, same top-n tie-break
        "trending_events": """
            WITH mx AS (SELECT MAX(event_id) AS m FROM events),
            b AS (SELECT event_type AS g, ((user_id % 50) + 50) % 50 AS bucket,
                         (m - event_id) AS age
                  FROM events CROSS JOIN mx),
            w AS (SELECT g, bucket,
                         CASE WHEN ((age * 4) // 2000) // 4 > 42 THEN 0
                              ELSE (1000000000000 *
                                    ([1048576, 881743, 741455, 623487])[CAST((age * 4) // 2000 AS BIGINT) % 4 + 1])
                                   // (CAST(1 AS BIGINT) << (CAST(((age * 4) // 2000) // 4 AS INT) + 20))
                         END AS wfp
                  FROM b),
            gsum AS (SELECT g, bucket, COUNT(*) AS n_events, SUM(wfp) AS sfp
                     FROM w GROUP BY 1, 2),
            r AS (SELECT g, bucket, n_events, sfp,
                         row_number() OVER (PARTITION BY g ORDER BY sfp DESC, bucket ASC) AS rk
                  FROM gsum)
            SELECT g AS event_type, bucket, CAST(n_events AS BIGINT) AS n_events,
                   round(CAST(sfp AS DOUBLE) / 1000000000000.0, 6) AS score,
                   CAST(rk AS BIGINT) AS rk
            FROM r WHERE rk <= 10
        """,
        # EB shrinkage: same lattice moments, same pinned closed form
        "eb_events": """
            WITH b AS (SELECT user_id,
                              CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) > 500
                                   THEN 1 ELSE 0 END AS conv
                       FROM events),
            it AS (SELECT user_id AS i, SUM(conv) AS k, COUNT(*) AS n
                   FROM b GROUP BY 1),
            pf AS (SELECT i, k, n, (k * 1000000000000) // n AS p FROM it WHERE n > 0),
            mom AS (SELECT COUNT(*) AS m, SUM(p) AS s1,
                           SUM(CAST(p AS HUGEINT) * CAST(p AS HUGEINT)) AS s2
                    FROM pf),
            pr AS (SELECT m,
                          CASE WHEN m > 0
                               THEN CAST(s1 AS DOUBLE) / m / 1000000000000.0 END AS mu,
                          CASE WHEN m > 1
                               THEN (CAST(s2 AS DOUBLE) / 1000000000000.0 / 1000000000000.0
                                     - m * (CAST(s1 AS DOUBLE) / m / 1000000000000.0)
                                         * (CAST(s1 AS DOUBLE) / m / 1000000000000.0))
                                    / (CAST(m AS DOUBLE) - 1) END AS v
                   FROM mom),
            nu AS (SELECT mu, v,
                          CASE WHEN v > 0 THEN mu * (1 - mu) / v - 1 END AS nu
                   FROM pr),
            ab AS (SELECT CASE WHEN nu > 0 THEN mu * nu END AS alpha,
                          CASE WHEN nu > 0 THEN (1 - mu) * nu END AS beta
                   FROM nu)
            SELECT i AS user_id, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
                   round(CAST(k AS DOUBLE) / n, 6) AS rate_raw,
                   round(CASE WHEN alpha IS NOT NULL
                              THEN (CAST(k AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + alpha + beta)
                              ELSE CAST(k AS DOUBLE) / n END, 6) AS rate_eb,
                   round(alpha, 6) AS alpha, round(beta, 6) AS beta
            FROM pf CROSS JOIN ab
        """,
        # skipgram: same tokenizer, same md5 keep rule, same windows
        "skipgram_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            toks AS (SELECT doc_id, u.i AS p, ws[u.i + 1] AS w
                     FROM base, UNNEST(range(0, len(ws))) AS u(i)),
            vocab AS (SELECT w, COUNT(*) AS f FROM toks GROUP BY 1),
            nt AS (SELECT COUNT(*) AS N FROM toks),
            kept AS (SELECT doc_id, p, w,
                            row_number() OVER (PARTITION BY doc_id ORDER BY p) AS r
                     FROM toks JOIN vocab USING (w) CROSS JOIN nt
                     WHERE f >= 2
                       AND (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                || CAST(p AS VARCHAR) || ':' || w), 1, 15) AS BIGINT) + 1)
                           / 1152921504606846976.0
                           < LEAST(1.0, sqrt(1.0 * N / (1000.0 * f)))),
            pr AS (SELECT a.w AS center, b.w AS context
                   FROM kept a JOIN kept b
                     ON a.doc_id = b.doc_id AND a.r <> b.r AND abs(a.r - b.r) <= 2)
            SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM pr GROUP BY 1, 2
        """,
        # ECE: same integer bins, same exact-integer gap sum
        "ece_events": """
            WITH b AS (SELECT ((CAST(floor(value * 100 + 0.5) AS BIGINT) * 7919 % 1000001)
                               + 1000001) % 1000001 AS s,
                              CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) > 500
                                   THEN 1 ELSE 0 END AS y
                       FROM events WHERE value IS NOT NULL),
            g AS (SELECT LEAST(9, (s * 10) // 1000000) AS bin,
                         COUNT(*) AS n, SUM(y) AS n_pos, SUM(s) AS ss
                  FROM b GROUP BY 1),
            t AS (SELECT SUM(n) AS ntot, SUM(abs(n_pos * 1000000 - ss)) AS enum FROM g)
            SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   round(CAST(ss AS DOUBLE) / n / 1000000.0, 6) AS conf,
                   round(CAST(n_pos AS DOUBLE) / n, 6) AS acc,
                   round(abs(CAST(n_pos AS DOUBLE) / n
                             - CAST(ss AS DOUBLE) / n / 1000000.0), 6) AS gap,
                   round(CAST(enum AS DOUBLE) / (ntot * 1000000), 6) AS ece
            FROM g CROSS JOIN t
        """,
        # classification report: same confusion rollups, NULL contracts
        "classreport_events": """
            WITH b AS (SELECT event_type AS a,
                              CASE WHEN ((user_id % 10) + 10) % 10 < 7 THEN event_type
                                   ELSE (['click','error','purchase','signup','view'])
                                        [CAST(((event_id % 5) + 5) % 5 AS INT) + 1]
                              END AS p
                       FROM events),
            pairs AS (SELECT a, p, COUNT(*) AS n FROM b GROUP BY 1, 2),
            ba AS (SELECT a AS cls, SUM(n) AS support,
                          SUM(CASE WHEN p = a THEN n ELSE 0 END) AS tp_a
                   FROM pairs GROUP BY 1),
            bp AS (SELECT p AS cls, SUM(n) AS n_pred,
                          SUM(CASE WHEN p = a THEN n ELSE 0 END) AS tp_p
                   FROM pairs GROUP BY 1),
            j AS (SELECT COALESCE(ba.cls, bp.cls) AS cls,
                         COALESCE(tp_a, tp_p, 0) AS tp,
                         COALESCE(n_pred, 0) - COALESCE(tp_p, 0) AS fp,
                         COALESCE(support, 0) - COALESCE(tp_a, 0) AS fn,
                         COALESCE(support, 0) AS support,
                         COALESCE(n_pred, 0) AS n_pred
                  FROM ba FULL OUTER JOIN bp ON ba.cls = bp.cls),
            m AS (SELECT *,
                         CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred END AS prec,
                         CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support END AS rec
                  FROM j)
            SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn, CAST(support AS BIGINT) AS support,
                   round(prec, 6) AS precision, round(rec, 6) AS recall,
                   round(CASE WHEN prec IS NOT NULL AND rec IS NOT NULL AND prec + rec > 0
                              THEN 2 * prec * rec / (prec + rec) END, 6) AS f1
            FROM m
        """,
        # LOO target encoding: same N-scaled integer arithmetic
        "target_enc_events": """
            WITH b AS (SELECT event_id, event_type,
                              CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) > 500
                                   THEN 1 ELSE 0 END AS y
                       FROM events WHERE value IS NOT NULL),
            c AS (SELECT event_type, COUNT(*) AS nc, SUM(y) AS sc FROM b GROUP BY 1),
            g AS (SELECT COUNT(*) AS N, SUM(y) AS sy FROM b)
            SELECT b.event_id, b.event_type, CAST(b.y AS BIGINT) AS y,
                   CAST(nc AS BIGINT) AS n_cat,
                   round(CAST(N * (sc - b.y) + 10 * sy AS DOUBLE)
                         / CAST(N * (nc - 1 + 10) AS DOUBLE), 6) AS enc
            FROM b JOIN c USING (event_type) CROSS JOIN g
        """,
        # WOE/IV: same single-ln rational, same lattice IV sum
        "woe_events": """
            WITH b AS (SELECT ((user_id % 10) + 10) % 10 AS decile,
                              CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) > 500
                                   THEN 1 ELSE 0 END AS y
                       FROM events WHERE value IS NOT NULL),
            g AS (SELECT decile, SUM(y) AS n_pos, SUM(1 - y) AS n_neg FROM b GROUP BY 1),
            t AS (SELECT SUM(n_pos) AS P, SUM(n_neg) AS Ng FROM g),
            w AS (SELECT decile, n_pos, n_neg, P, Ng,
                         CASE WHEN n_pos > 0 AND n_neg > 0 AND P > 0 AND Ng > 0
                              THEN ln((CAST(n_pos AS DOUBLE) * CAST(Ng AS DOUBLE))
                                      / (CAST(n_neg AS DOUBLE) * CAST(P AS DOUBLE))) END AS woe,
                         CASE WHEN n_pos > 0 AND n_neg > 0 AND P > 0 AND Ng > 0
                              THEN CAST(n_pos AS DOUBLE) / CAST(P AS DOUBLE)
                                   - CAST(n_neg AS DOUBLE) / CAST(Ng AS DOUBLE) END AS diff
                  FROM g CROSS JOIN t),
            f AS (SELECT decile, n_pos, n_neg, woe,
                         COALESCE(CAST(floor(diff * woe * 1000000000000.0 + 0.5) AS BIGINT), 0) AS tfp
                  FROM w),
            iv AS (SELECT SUM(tfp) AS ivfp FROM f)
            SELECT decile, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
                   round(woe, 6) AS woe,
                   round(CAST(tfp AS DOUBLE) / 1000000000000.0, 6) AS iv_term,
                   round(CAST(ivfp AS DOUBLE) / 1000000000000.0, 6) AS iv
            FROM f CROSS JOIN iv
        """,
        # GWR: brute-force pairs, same lattice weights, same closed form
        "gwr_events": f"""
            WITH p AS (SELECT event_id,
                              CAST({LAT0} + (event_id * {A_LAT}) % {LATSPAN} AS BIGINT) AS lat,
                              CAST({LON0} + (event_id * {A_LON}) % {LONSPAN} AS BIGINT) AS lon,
                              ((event_id % 97) + 97) % 97 AS x,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
                       FROM events),
            q AS (SELECT CAST(event_id AS VARCHAR) AS query_id, lat, lon
                  FROM p WHERE event_id % 40 = 0),
            pr AS (SELECT q.query_id, p.x, p.y,
                          (p.lat - q.lat) * (p.lat - q.lat)
                        + (p.lon - q.lon) * (p.lon - q.lon) AS d2
                   FROM q JOIN p ON (p.lat - q.lat) * (p.lat - q.lat)
                                  + (p.lon - q.lon) * (p.lon - q.lon)
                                  <= 300000.0 * 300000.0),
            w AS (SELECT query_id, x, y,
                         CAST(floor((1 - CAST(d2 AS DOUBLE) / (300000.0 * 300000.0))
                                    * (1 - CAST(d2 AS DOUBLE) / (300000.0 * 300000.0))
                                    * 1000000000.0 + 0.5) AS BIGINT) AS wfp
                  FROM pr),
            g AS (SELECT query_id, COUNT(*) AS n_nbrs, SUM(wfp) AS sw,
                         SUM(wfp * x) AS swx, SUM(wfp * y) AS swy,
                         SUM(wfp * x * x) AS swxx, SUM(wfp * x * y) AS swxy
                  FROM w GROUP BY 1),
            f AS (SELECT query_id, n_nbrs, sw, swx, swy,
                         CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
                           - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE) AS num,
                         CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                           - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE) AS den
                  FROM g),
            o AS (SELECT query_id, n_nbrs, sw, swx, swy,
                         CASE WHEN n_nbrs > 1 AND den > 0 THEN num / den END AS slope
                  FROM f)
            SELECT query_id, CAST(n_nbrs AS BIGINT) AS n_nbrs,
                   round(slope, 6) AS slope,
                   round(CASE WHEN slope IS NOT NULL AND sw > 0
                              THEN (CAST(swy AS DOUBLE) - slope * CAST(swx AS DOUBLE))
                                   / CAST(sw AS DOUBLE) END, 6) AS icept
            FROM o
        """,
        # isochrones: the sssp walk + the same integer banding
        "isochrone_graph": f"""
            WITH RECURSIVE e AS (
              SELECT src, (src * 31 + k) % {SSSP_N} AS dst,
                     (src * 7 + ((src * 31 + k) % {SSSP_N}) * 13) % 20 + 1 AS w
              FROM generate_series(0, {SSSP_N - 1}) s(src), generate_series(1, 3) t(k)),
            walk(source, node, dist, hops) AS (
              SELECT source, source, 0, 0
              FROM (VALUES {', '.join(f'({s})' for s in SSSP_SOURCES)}) s(source)
              UNION
              SELECT w.source, e.dst, w.dist + e.w, w.hops + 1
              FROM walk w JOIN e ON e.src = w.node
              WHERE w.hops < {SSSP_HOPS}),
            d AS (SELECT source, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2)
            SELECT source, node, dist,
                   CAST(CASE WHEN dist <= 20 THEN 0
                             WHEN dist <= 40 THEN 1
                             WHEN dist <= 60 THEN 2 END AS BIGINT) AS band
            FROM d WHERE dist <= 60
        """,
        # G-test: same single-ln rational cells, same lattice sum
        "gtest_events": """
            WITH b AS (SELECT event_type AS a, ((user_id % 4) + 4) % 4 AS q FROM events),
            c AS (SELECT a, q, COUNT(*) AS o FROM b GROUP BY 1, 2),
            ra AS (SELECT a, SUM(o) AS r FROM c GROUP BY 1),
            cb AS (SELECT q, SUM(o) AS cc FROM c GROUP BY 1),
            t AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS na, COUNT(DISTINCT q) AS nb FROM c),
            f AS (SELECT c.o, ra.r, cb.cc, t.n, t.na, t.nb,
                         CASE WHEN c.o > 0
                              THEN CAST(floor(CAST(c.o AS DOUBLE)
                                   * ln((CAST(c.o AS DOUBLE) * CAST(t.n AS DOUBLE))
                                        / (CAST(ra.r AS DOUBLE) * CAST(cb.cc AS DOUBLE)))
                                   * 1000000000.0 + 0.5) AS BIGINT)
                              ELSE 0 END AS tfp
                  FROM c JOIN ra USING (a) JOIN cb USING (q) CROSS JOIN t)
            SELECT CAST(MIN(n) AS BIGINT) AS n,
                   CAST((MIN(na) - 1) * (MIN(nb) - 1) AS BIGINT) AS df_q,
                   round(2 * CAST(SUM(tfp) AS DOUBLE) / 1000000000.0, 6) AS g
            FROM f
        """,
        # forecast accuracy: same exact sums, same lattice sMAPE
        "forecast_acc_events": """
            WITH b AS (SELECT event_type AS k, event_id AS o,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS a
                       FROM events WHERE value IS NOT NULL),
            ff AS (SELECT k, o, a, (a * 9) // 10 + 50 AS f FROM b),
            l AS (SELECT k, a, f,
                         lag(a) OVER (PARTITION BY k ORDER BY o) AS pa
                  FROM ff),
            g AS (SELECT k, COUNT(*) AS n,
                         SUM(abs(a - f)) AS se,
                         SUM((a - f) * (a - f)) AS se2,
                         SUM(CASE WHEN abs(a) + abs(f) > 0
                                  THEN CAST(floor(2 * CAST(abs(a - f) AS DOUBLE)
                                       / (abs(a) + abs(f)) * 1000000000.0 + 0.5) AS BIGINT)
                                  ELSE 0 END) AS ssm,
                         SUM(abs(a - pa)) AS snaive,
                         COUNT(pa) AS nnaive
                  FROM l GROUP BY 1)
            SELECT k AS event_type, CAST(n AS BIGINT) AS n,
                   round(CAST(se AS DOUBLE) / n, 6) AS mae,
                   round(sqrt(CAST(se2 AS DOUBLE) / n), 6) AS rmse,
                   round(CAST(ssm AS DOUBLE) / n / 1000000000.0, 6) AS smape,
                   round(CASE WHEN nnaive > 0 AND snaive > 0
                              THEN CAST(se * nnaive AS DOUBLE) / CAST(n * snaive AS DOUBLE)
                         END, 6) AS mase
            FROM g
        """,
        # sliding distinct: same covering-window explode
        "sliding_distinct_events": """
            WITH b AS (SELECT event_type AS g,
                              epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS tick,
                              user_id AS u
                       FROM events),
            ex AS (SELECT g, u, ws.window_start
                   FROM b, UNNEST([ (tick // 8) * 8 - 16,
                                    (tick // 8) * 8 - 8,
                                    (tick // 8) * 8 ]) AS ws(window_start))
            SELECT g AS event_type, CAST(window_start AS BIGINT) AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT u) AS BIGINT) AS n_distinct
            FROM ex GROUP BY 1, 2
        """,
        # quantile normalize: same tie-rank rational
        "qn_events": """
            WITH b AS (SELECT event_type AS g, event_id AS id,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            r AS (SELECT g, id, v,
                         row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn,
                         COUNT(*) OVER (PARTITION BY g) AS n
                  FROM b),
            t AS (SELECT g, id, v, n,
                         MIN(rn) OVER (PARTITION BY g, v) AS rmin,
                         MAX(rn) OVER (PARTITION BY g, v) AS rmax
                  FROM r)
            SELECT g AS event_type, id AS event_id, v AS cents,
                   round(CASE WHEN n > 1
                              THEN CAST(rmin + rmax - 2 AS DOUBLE) / (2 * (n - 1))
                              ELSE 0.5 END, 6) AS qn
            FROM t
        """,
        # MDE: same exact moments, same closed form, same z constants
        "mde_events": """
            WITH b AS (SELECT event_type AS g,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            m AS (SELECT g, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx
                  FROM b GROUP BY 1),
            f AS (SELECT g, n, CAST(sx AS DOUBLE) / n AS mu,
                         CASE WHEN n > 1
                              THEN (CAST(sxx AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) / n))
                                   / (CAST(n AS DOUBLE) - 1) END AS var
                  FROM m),
            o AS (SELECT g, n, mu, var,
                         CASE WHEN var > 0
                              THEN 2.801585 * sqrt(2 * var / CAST(n AS DOUBLE)) END AS mde
                  FROM f)
            SELECT g AS event_type, CAST(n AS BIGINT) AS n,
                   round(mu, 6) AS mean,
                   round(CASE WHEN var IS NOT NULL THEN sqrt(GREATEST(var, 0.0)) END, 6) AS sd,
                   round(mde, 6) AS mde_abs,
                   round(CASE WHEN mde IS NOT NULL AND mu <> 0 THEN mde / mu END, 6) AS mde_rel
            FROM o
        """,
        # kappa: same exact integer cross ratio
        "kappa_events": """
            WITH b AS (SELECT event_type AS a,
                              CASE WHEN ((user_id % 10) + 10) % 10 < 7 THEN event_type
                                   ELSE (['click','error','purchase','signup','view'])
                                        [CAST(((event_id % 5) + 5) % 5 AS INT) + 1]
                              END AS p
                       FROM events),
            c AS (SELECT a, p, COUNT(*) AS o FROM b GROUP BY 1, 2),
            ra AS (SELECT a, SUM(o) AS r FROM c GROUP BY 1),
            cb AS (SELECT p, SUM(o) AS cc FROM c GROUP BY 1),
            m AS (SELECT COALESCE(SUM(r * cc), 0) AS src
                  FROM ra JOIN cb ON ra.a = cb.p),
            t AS (SELECT SUM(o) AS n,
                         SUM(CASE WHEN a = p THEN o ELSE 0 END) AS diag
                  FROM c)
            SELECT CAST(n AS BIGINT) AS n,
                   round(CAST(diag AS DOUBLE) / n, 6) AS po,
                   round(CAST(src AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
                   round(CASE WHEN n * n <> src
                              THEN CAST(n * diag - src AS DOUBLE)
                                   / CAST(n * n - src AS DOUBLE) END, 6) AS kappa
            FROM t CROSS JOIN m
        """,
        # Chatterjee xi: same tie ranks, same integer cross ratio
        "xi_events": f"""
            WITH b AS (SELECT event_type AS g, event_id AS id,
                              CAST({LON0} + (event_id * {A_LON}) % {LONSPAN} AS BIGINT) AS x,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
                       FROM events WHERE value IS NOT NULL),
            r1 AS (SELECT g, id, x, y,
                          row_number() OVER (PARTITION BY g ORDER BY y, id) AS ry,
                          COUNT(*) OVER (PARTITION BY g) AS n
                   FROM b),
            r2 AS (SELECT g, id, x, y, n,
                          MAX(ry) OVER (PARTITION BY g, y) AS r,
                          n - MIN(ry) OVER (PARTITION BY g, y) + 1 AS l
                   FROM r1),
            r3 AS (SELECT g, n, r, l,
                          lag(r) OVER (PARTITION BY g ORDER BY x, id) AS rprev
                   FROM r2),
            a AS (SELECT g, MIN(n) AS n,
                         SUM(CASE WHEN rprev IS NOT NULL THEN abs(r - rprev) END) AS sd,
                         SUM(l * (n - l)) AS sl
                  FROM r3 GROUP BY 1)
            SELECT g AS event_type, CAST(n AS BIGINT) AS n,
                   CAST(n * COALESCE(sd, 0) AS BIGINT) AS xi_num,
                   CAST(2 * sl AS BIGINT) AS xi_den,
                   round(CASE WHEN 2 * sl > 0
                              THEN 1 - CAST(n * COALESCE(sd, 0) AS DOUBLE)
                                       / CAST(2 * sl AS DOUBLE) END, 6) AS xi
            FROM a
        """,
        # Gini: same exact Lorenz sums
        "gini_events": """
            WITH b AS (SELECT event_type AS g,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS i
                  FROM b),
            a AS (SELECT g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS total,
                         CAST(SUM(i * v) AS BIGINT) AS iw
                  FROM r GROUP BY 1)
            SELECT g AS event_type, CAST(n AS BIGINT) AS n, total,
                   CASE WHEN total = 0 THEN 0.0
                        ELSE 2.0 * iw / (n * total) - CAST(n + 1 AS DOUBLE) / n
                   END AS gini
            FROM a
        """,
        # Spearman: identical integer twice-ranks via value-range counts
        "spearman_events": """
            WITH b AS (SELECT event_type AS g,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
                              CAST(length(props) AS BIGINT) AS y
                       FROM events
                       WHERE value IS NOT NULL AND props IS NOT NULL),
            r AS (SELECT g,
                         COALESCE(COUNT(*) OVER (PARTITION BY g ORDER BY x
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                         + COUNT(*) OVER (PARTITION BY g ORDER BY x
                             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rx,
                         COALESCE(COUNT(*) OVER (PARTITION BY g ORDER BY y
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                         + COUNT(*) OVER (PARTITION BY g ORDER BY y
                             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ry
                  FROM b),
            a AS (SELECT g, COUNT(*) AS n,
                         CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
                         CAST(SUM(rx * rx) AS BIGINT) AS sxx,
                         CAST(SUM(ry * ry) AS BIGINT) AS syy,
                         CAST(SUM(rx * ry) AS BIGINT) AS sxy
                  FROM r GROUP BY 1)
            SELECT g AS event_type, CAST(n AS BIGINT) AS n,
                   CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                   END AS rho
            FROM a
        """,
        # Benford: string-head digit, full 9-digit grid per group
        "benford_events": """
            WITH pts AS (SELECT event_type,
                                CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                         FROM events),
            pos AS (SELECT event_type,
                           CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
                    FROM pts WHERE v > 0),
            cnt AS (SELECT event_type, digit, COUNT(*) AS n_digit
                    FROM pos GROUP BY 1, 2),
            grid AS (SELECT DISTINCT event_type, UNNEST(generate_series(1, 9)) AS digit
                     FROM cnt),
            fl AS (SELECT g.event_type, CAST(g.digit AS INT) AS digit,
                            COALESCE(c.n_digit, 0) AS n_digit
                     FROM grid g LEFT JOIN cnt c
                       ON c.event_type = g.event_type AND c.digit = g.digit),
            t AS (SELECT *, SUM(n_digit) OVER (PARTITION BY event_type) AS n_total,
                         log10(1.0 + 1.0 / digit) AS p
                  FROM fl),
            u AS (SELECT *, (n_digit - n_total * p) * (n_digit - n_total * p)
                            / (n_total * p) AS c
                  FROM t)
            SELECT event_type, digit, CAST(n_digit AS BIGINT) AS n_digit,
                   CAST(n_total AS BIGINT) AS n_total,
                   CAST(n_digit AS DOUBLE) / n_total AS frac,
                   ROUND(p, 9) AS benford_p,
                   ROUND(SUM(c) OVER (PARTITION BY event_type), 6) AS chi2
            FROM u
        """,
        # robust scale: same integer-ceil ranks, exact IEEE division
        "robust_scale_events": """
            WITH pts AS (SELECT event_id, event_type,
                                CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                         FROM events),
            r AS (SELECT event_type, v,
                         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                         COUNT(*) OVER (PARTITION BY event_type) AS n
                  FROM pts WHERE v IS NOT NULL),
            caps AS (SELECT event_type,
                            MIN(CASE WHEN rn = (1 * n + 3) // 4 THEN v END) AS q1,
                            MIN(CASE WHEN rn = (1 * n + 1) // 2 THEN v END) AS med,
                            MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3
                     FROM r GROUP BY 1)
            SELECT p.event_id, p.event_type, p.v, c.med, c.q1, c.q3,
                   CASE WHEN p.v IS NOT NULL AND c.q3 - c.q1 <> 0
                        THEN CAST(p.v - c.med AS DOUBLE) / CAST(c.q3 - c.q1 AS DOUBLE) END AS robust_z
            FROM pts p LEFT JOIN caps c USING (event_type)
        """,
        # winsorize: identical integer-ceil ranks, int64 clamp
        "winsorize_events": """
            WITH pts AS (SELECT event_id, event_type,
                                CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                         FROM events),
            r AS (SELECT event_type, v,
                         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                         COUNT(*) OVER (PARTITION BY event_type) AS n
                  FROM pts WHERE v IS NOT NULL),
            caps AS (SELECT event_type,
                            MIN(CASE WHEN rn = (1 * n + 19) // 20 THEN v END) AS lo_cap,
                            MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN v END) AS hi_cap
                     FROM r GROUP BY 1)
            SELECT p.event_id, p.event_type, p.v, c.lo_cap, c.hi_cap,
                   CASE WHEN p.v IS NOT NULL
                        THEN GREATEST(c.lo_cap, LEAST(c.hi_cap, p.v)) END AS value_w
            FROM pts p LEFT JOIN caps c USING (event_type)
        """,
        # Huff: same regularized rational weight, window-sum normalizer
        "huff_events": f"""
            WITH pts AS (SELECT event_id, lat, lon FROM {synth}),
            fac AS (SELECT * FROM (VALUES {', '.join(f"('{fid}', {fla}, {flo}, {fa})" for fid, fla, flo, fa in HUFF_FACILITIES)})
                    t(facility_id, flat, flon, attractiveness)),
            pr AS (SELECT p.event_id, f.facility_id, f.attractiveness,
                          (p.lat - f.flat) * (p.lat - f.flat)
                        + (p.lon - f.flon) * (p.lon - f.flon) AS d2
                   FROM pts p JOIN fac f
                     ON abs(p.lat - f.flat) <= {HUFF_RADIUS}
                    AND abs(p.lon - f.flon) <= {HUFF_RADIUS}),
            w AS (SELECT event_id, facility_id, attractiveness, d2,
                         CAST(attractiveness AS DOUBLE) / (CAST(d2 AS DOUBLE) + 1.0) AS wt
                  FROM pr WHERE d2 <= {HUFF_RADIUS ** 2})
            SELECT event_id, facility_id, CAST(attractiveness AS BIGINT) AS attractiveness, d2,
                   ROUND(wt / SUM(wt) OVER (PARTITION BY event_id), 9) AS p
            FROM w
        """,
        # G-function: per-point min over the bounded pair set, FILTER
        # counts per radius, one division — censored-at-rmax contract
        # home range: single-window restatement of the two-pass rank
        "homerange_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 12) - 1}, (lon + 1800000000) * {1 << 12} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 12) - 1}, (lat + 900000000) * {1 << 12} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS n FROM g GROUP BY 1, 2),
            t AS (SELECT SUM(n) AS nt FROM c),
            r AS (SELECT ix, iy, n,
                         SUM(n) OVER (ORDER BY n DESC, ix * {1 << 12} + iy
                                      ROWS UNBOUNDED PRECEDING) AS cum
                  FROM c)
            SELECT ix, iy, n, CAST(cum AS BIGINT) AS cum,
                   100 * (cum - n) < 95 * t.nt AS in_range
            FROM r, t
        """,
        # segregation: direct per-cell entropy restatement (no identity)
        "segregation_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 12) - 1}, (lon + 1800000000) * {1 << 12} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 12) - 1}, (lat + 900000000) * {1 << 12} // 1800000000)) AS iy,
                         event_type AS cat
                  FROM pts),
            obs AS (SELECT ix, iy, cat, COUNT(*) AS o FROM g GROUP BY 1, 2, 3),
            cell AS (SELECT ix, iy, SUM(o) AS nc,
                            ln(CAST(SUM(o) AS DOUBLE))
                            - SUM(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE)))
                              / SUM(o) AS ec
                     FROM obs GROUP BY 1, 2),
            cat AS (SELECT cat, SUM(o) AS ct FROM obs GROUP BY 1),
            tot AS (SELECT SUM(nc) AS N, COUNT(*) AS n_cells FROM cell),
            eg AS (SELECT ln(CAST(t.N AS DOUBLE))
                          - SUM(CAST(c.ct AS DOUBLE) * ln(CAST(c.ct AS DOUBLE))) / t.N AS e,
                          COUNT(*) AS n_cats
                   FROM cat c, tot t GROUP BY t.N),
            num AS (SELECT SUM(CAST(nc AS DOUBLE) * ec) AS snce FROM cell)
            SELECT CAST(t.N AS BIGINT) AS n, CAST(t.n_cells AS BIGINT) AS n_cells,
                   CAST(eg.n_cats AS BIGINT) AS n_cats,
                   ROUND(eg.e, 6) AS entropy,
                   ROUND(1.0 - num.snce / (t.N * eg.e), 6) AS h
            FROM tot t, eg, num
        """,
        # MI/NMI: same reduced contingency, observed pairs only
        "spatial_mi_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 12) - 1}, (lon + 1800000000) * {1 << 12} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 12) - 1}, (lat + 900000000) * {1 << 12} // 1800000000)) AS iy,
                         event_type AS cat
                  FROM pts),
            obs AS (SELECT ix, iy, cat, COUNT(*) AS o FROM g GROUP BY 1, 2, 3),
            r AS (SELECT ix, iy, SUM(o) AS rt FROM obs GROUP BY 1, 2),
            c AS (SELECT cat, SUM(o) AS ct FROM obs GROUP BY 1),
            t AS (SELECT SUM(o) AS n FROM obs),
            mi AS (SELECT SUM(CAST(obs.o AS DOUBLE) / t.n
                              * (ln(CAST(obs.o AS DOUBLE)) + ln(CAST(t.n AS DOUBLE))
                                 - ln(CAST(r.rt AS DOUBLE)) - ln(CAST(c.ct AS DOUBLE)))) AS mi
                   FROM obs JOIN r USING (ix, iy) JOIN c USING (cat) CROSS JOIN t),
            hr AS (SELECT ln(CAST(SUM(rt) AS DOUBLE))
                          - SUM(CAST(rt AS DOUBLE) * ln(CAST(rt AS DOUBLE))) / SUM(rt) AS h_cell
                   FROM r),
            hc AS (SELECT ln(CAST(SUM(ct) AS DOUBLE))
                          - SUM(CAST(ct AS DOUBLE) * ln(CAST(ct AS DOUBLE))) / SUM(ct) AS h_cat
                   FROM c),
            d AS (SELECT COUNT(DISTINCT (ix, iy)) AS n_cells,
                         COUNT(DISTINCT cat) AS n_cats FROM obs)
            SELECT CAST(t.n AS BIGINT) AS n,
                   CAST(d.n_cells AS BIGINT) AS n_cells,
                   CAST(d.n_cats AS BIGINT) AS n_cats,
                   ROUND(mi.mi, 6) AS mi,
                   CASE WHEN sqrt(hr.h_cell * hc.h_cat) > 0
                        THEN ROUND(mi.mi / sqrt(hr.h_cell * hc.h_cat), 6) END AS nmi
            FROM t, d, mi, hr, hc
        """,
        # Cramer's V: chi2 oracle + the bounded effect-size derivation
        "cramers_v_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 12) - 1}, (lon + 1800000000) * {1 << 12} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 12) - 1}, (lat + 900000000) * {1 << 12} // 1800000000)) AS iy,
                         event_type AS cat
                  FROM pts),
            obs AS (SELECT ix, iy, cat, COUNT(*) AS o FROM g GROUP BY 1, 2, 3),
            r AS (SELECT ix, iy, SUM(o) AS rt FROM obs GROUP BY 1, 2),
            c AS (SELECT cat, SUM(o) AS ct FROM obs GROUP BY 1),
            t AS (SELECT SUM(o) AS n FROM obs),
            j AS (SELECT obs.o, r.rt, c.ct, t.n,
                         CAST(r.rt * c.ct AS DOUBLE) / t.n AS e
                  FROM obs JOIN r USING (ix, iy) JOIN c USING (cat) CROSS JOIN t),
            a AS (SELECT MIN(n) AS n, SUM((o - e) * (o - e) / e - e) AS s FROM j),
            dims AS (SELECT COUNT(DISTINCT (ix, iy)) AS n_cells,
                            COUNT(DISTINCT cat) AS n_cats
                     FROM obs)
            SELECT CAST(a.n AS BIGINT) AS n,
                   ROUND(a.s + a.n, 6) AS chi2,
                   ROUND(sqrt(ROUND(a.s + a.n, 6)
                              / (a.n * LEAST(d.n_cells - 1, d.n_cats - 1))), 6) AS v
            FROM a, dims d
        """,
        # spatial chi2: same closed-form zero-pair folding
        "spatial_chi2_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 12) - 1}, (lon + 1800000000) * {1 << 12} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 12) - 1}, (lat + 900000000) * {1 << 12} // 1800000000)) AS iy,
                         event_type AS cat
                  FROM pts),
            obs AS (SELECT ix, iy, cat, COUNT(*) AS o FROM g GROUP BY 1, 2, 3),
            r AS (SELECT ix, iy, SUM(o) AS rt FROM obs GROUP BY 1, 2),
            c AS (SELECT cat, SUM(o) AS ct FROM obs GROUP BY 1),
            t AS (SELECT SUM(o) AS n FROM obs),
            j AS (SELECT obs.o, r.rt, c.ct, t.n,
                         CAST(r.rt * c.ct AS DOUBLE) / t.n AS e
                  FROM obs JOIN r USING (ix, iy) JOIN c USING (cat) CROSS JOIN t),
            a AS (SELECT MIN(n) AS n, SUM((o - e) * (o - e) / e - e) AS s FROM j),
            dims AS (SELECT COUNT(DISTINCT (ix, iy)) AS n_cells,
                            COUNT(DISTINCT cat) AS n_cats
                     FROM obs)
            SELECT CAST(a.n AS BIGINT) AS n,
                   CAST(d.n_cells AS BIGINT) AS n_cells,
                   CAST(d.n_cats AS BIGINT) AS n_cats,
                   CAST((d.n_cells - 1) * (d.n_cats - 1) AS BIGINT) AS df,
                   ROUND(a.s + a.n, 6) AS chi2
            FROM a, dims d
        """,
        # Clark-Evans: same censored NN min as the G oracle, CSR window
        # constants restated literally
        "clark_evans_events": f"""
            WITH pts AS (SELECT event_id, lat, lon FROM {synth}),
            st AS (SELECT COUNT(*) AS n,
                          (MAX(lat) - MIN(lat)) * (MAX(lon) - MIN(lon)) AS area
                   FROM pts),
            pr AS (SELECT a.event_id AS qid,
                          (a.lat - b.lat) * (a.lat - b.lat)
                        + (a.lon - b.lon) * (a.lon - b.lon) AS d2
                   FROM pts a JOIN pts b
                     ON a.event_id <> b.event_id
                    AND abs(a.lat - b.lat) <= {max(RIPLEY_RADII)}
                    AND abs(a.lon - b.lon) <= {max(RIPLEY_RADII)}),
            nn AS (SELECT qid, MIN(d2) AS nnd FROM pr
                   WHERE d2 <= {max(RIPLEY_RADII) ** 2} GROUP BY qid),
            a AS (SELECT COUNT(*) AS n_nn, SUM(sqrt(CAST(nnd AS DOUBLE))) AS sd FROM nn),
            c AS (SELECT n, area,
                         0.5 * sqrt(CAST(area AS DOUBLE) / n) AS expected,
                         0.26136 * sqrt(CAST(area AS DOUBLE)) / n AS se
                  FROM st)
            SELECT CAST(c.n AS BIGINT) AS n, CAST(a.n_nn AS BIGINT) AS n_nn,
                   ROUND(a.sd / a.n_nn, 4) AS mean_nnd,
                   ROUND(c.expected, 6) AS expected_nnd,
                   ROUND(a.sd / a.n_nn / c.expected, 6) AS r_index,
                   ROUND((a.sd / a.n_nn - c.expected) / c.se, 6) AS z
            FROM a, c
        """,
        "gfunction_events": f"""
            WITH pts AS (SELECT event_id, lat, lon FROM {synth}),
            pr AS (SELECT a.event_id AS qid,
                          (a.lat - b.lat) * (a.lat - b.lat)
                        + (a.lon - b.lon) * (a.lon - b.lon) AS d2
                   FROM pts a JOIN pts b
                     ON a.event_id <> b.event_id
                    AND abs(a.lat - b.lat) <= {max(RIPLEY_RADII)}
                    AND abs(a.lon - b.lon) <= {max(RIPLEY_RADII)}),
            nn AS (SELECT qid, MIN(d2) AS nnd FROM pr
                   WHERE d2 <= {max(RIPLEY_RADII) ** 2} GROUP BY qid),
            agg AS (SELECT {', '.join(f'COUNT(*) FILTER (WHERE nnd <= {r * r}) AS n{i}' for i, r in enumerate(RIPLEY_RADII))}
                    FROM nn),
            cnt AS (SELECT COUNT(*) AS n FROM pts),
            unp AS ({' UNION ALL '.join(f'SELECT CAST({r} AS BIGINT) AS r, n{i} AS n_within FROM agg' for i, r in enumerate(RIPLEY_RADII))})
            SELECT r, n_within,
                   CAST(n_within AS DOUBLE) / CAST(n AS DOUBLE) AS g_hat
            FROM unp, cnt
        """,
        # variogram: identical int64 d²/(Δv)², identical IEEE
        # floor(sqrt/w) lag and SUM/(2·COUNT) gamma expressions
        "variogram_events": f"""
            WITH pts AS (SELECT event_id, lat, lon,
                                CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                         FROM {synth}),
            pr AS (SELECT (a.lat - b.lat) * (a.lat - b.lat)
                        + (a.lon - b.lon) * (a.lon - b.lon) AS d2,
                          (a.v - b.v) * (a.v - b.v) AS dv2
                   FROM pts a JOIN pts b
                     ON a.event_id < b.event_id
                    AND abs(a.lat - b.lat) <= {VARIO_W * VARIO_LAGS}
                    AND abs(a.lon - b.lon) <= {VARIO_W * VARIO_LAGS}),
            lg AS (SELECT CAST(floor(sqrt(CAST(d2 AS DOUBLE)) / {float(VARIO_W)!r}) AS BIGINT) AS lag,
                          dv2
                   FROM pr WHERE d2 <= {(VARIO_W * VARIO_LAGS) ** 2})
            SELECT lag,
                   CAST(lag * {VARIO_W} AS BIGINT) AS h_lo,
                   CAST((lag + 1) * {VARIO_W} AS BIGINT) AS h_hi,
                   COUNT(*) AS n_pairs,
                   CAST(SUM(dv2) AS DOUBLE) / (2.0 * CAST(COUNT(*) AS DOUBLE)) AS gamma
            FROM lg WHERE lag < {VARIO_LAGS}
            GROUP BY lag ORDER BY lag
        """,
        "sssp_graph": f"""
            WITH RECURSIVE e AS (
              SELECT src, (src * 31 + k) % {SSSP_N} AS dst,
                     (src * 7 + ((src * 31 + k) % {SSSP_N}) * 13) % 20 + 1 AS w
              FROM generate_series(0, {SSSP_N - 1}) s(src), generate_series(1, 3) t(k)),
            walk(source, node, dist, hops) AS (
              SELECT source, source, 0, 0
              FROM (VALUES {', '.join(f'({s})' for s in SSSP_SOURCES)}) s(source)
              UNION
              SELECT w.source, e.dst, w.dist + e.w, w.hops + 1
              FROM walk w JOIN e ON e.src = w.node
              WHERE w.hops < {SSSP_HOPS})
            SELECT source, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2
        """,
        "pagerank_graph": _pagerank_oracle_sql(),
        # walks: recursive CTE, same md5 choice on the sorted list
        "walks_graph": f"""
            WITH RECURSIVE e AS (SELECT src, (src * 31 + k) % {SSSP_N} AS dst
                       FROM generate_series(0, {SSSP_N - 1}) s(src),
                            generate_series(1, 3) t(k)),
            adj AS (SELECT src AS node, list_sort(list(dst)) AS nbrs
                    FROM e GROUP BY 1),
            walk(walk_id, step, node) AS (
              SELECT i * {WALKS_PER_NODE} + w, CAST(0 AS BIGINT), i
              FROM generate_series(0, {SSSP_N - 1}) g(i),
                   generate_series(0, {WALKS_PER_NODE - 1}) ww(w)
              UNION ALL
              SELECT walk_id, step + 1,
                     nbrs[CAST(('0x' || substr(md5('rw:' || CAST(walk_id AS VARCHAR)
                                 || ':' || CAST(step AS VARCHAR)), 1, 15))::BIGINT
                          % len(nbrs) AS BIGINT) + 1]
              FROM walk JOIN adj USING (node)
              WHERE step < {WALK_LEN}
            )
            SELECT walk_id, step, node FROM walk
        """,
        # HITS: chained CTEs, one per half-round — exact integers
        "hits_graph": f"""
            WITH e AS (SELECT src, (src * 31 + k) % {SSSP_N} AS dst
                       FROM generate_series(0, {SSSP_N - 1}) s(src),
                            generate_series(1, 3) t(k)),
            nd AS (SELECT i AS node FROM generate_series(0, {SSSP_N - 1}) g(i)),
            a1 AS (SELECT nd.node, CAST(COALESCE(x.s, 0) AS BIGINT) AS a
                   FROM nd LEFT JOIN (SELECT dst AS node, COUNT(*) AS s
                                      FROM e GROUP BY 1) x USING (node)),
            h1 AS (SELECT nd.node, CAST(COALESCE(x.s, 0) AS BIGINT) AS h
                   FROM nd LEFT JOIN (SELECT e.src AS node, SUM(a1.a) AS s
                                      FROM e JOIN a1 ON a1.node = e.dst
                                      GROUP BY 1) x USING (node)),
            a2 AS (SELECT nd.node, CAST(COALESCE(x.s, 0) AS BIGINT) AS a
                   FROM nd LEFT JOIN (SELECT e.dst AS node, SUM(h1.h) AS s
                                      FROM e JOIN h1 ON h1.node = e.src
                                      GROUP BY 1) x USING (node)),
            h2 AS (SELECT nd.node, CAST(COALESCE(x.s, 0) AS BIGINT) AS h
                   FROM nd LEFT JOIN (SELECT e.src AS node, SUM(a2.a) AS s
                                      FROM e JOIN a2 ON a2.node = e.dst
                                      GROUP BY 1) x USING (node))
            SELECT nd.node, h2.h AS hub, a2.a AS auth
            FROM nd JOIN h2 USING (node) JOIN a2 USING (node)
        """,
        "triangles_graph": f"""
            WITH ge AS ({_GATE_GRAPH_SQL}),
            deg AS (SELECT node, COUNT(*) AS deg FROM
                      (SELECT u AS node FROM ge UNION ALL SELECT v FROM ge)
                    GROUP BY node),
            tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                    FROM ge a JOIN ge b ON b.u = a.u AND b.v > a.v
                    JOIN ge c ON c.u = a.v AND c.v = b.v),
            per AS (SELECT node, COUNT(*) AS c FROM
                      (SELECT x AS node FROM tri UNION ALL
                       SELECT y FROM tri UNION ALL SELECT z FROM tri)
                    GROUP BY node)
            SELECT deg.node, CAST(COALESCE(per.c, 0) AS BIGINT) AS n_tri
            FROM deg LEFT JOIN per ON per.node = deg.node
        """,
        "linkpred_graph": f"""
            WITH ge AS ({_GATE_GRAPH_SQL}),
            adj AS (SELECT u, v FROM ge UNION ALL SELECT v AS u, u AS v FROM ge),
            deg AS (SELECT u AS node, COUNT(*) AS deg FROM adj GROUP BY u),
            pr AS (SELECT a.v AS node_a, b.v AS node_b, COUNT(*) AS n_common
                   FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
                   GROUP BY a.v, b.v HAVING COUNT(*) >= 2),
            np AS (SELECT pr.* FROM pr WHERE NOT EXISTS
                     (SELECT 1 FROM ge WHERE ge.u = pr.node_a AND ge.v = pr.node_b))
            SELECT node_a, node_b, CAST(n_common AS BIGINT) AS n_common,
                   CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
                   CAST(n_common AS DOUBLE)
                     / CAST(da.deg + db.deg - n_common AS DOUBLE) AS jaccard
            FROM np JOIN deg da ON da.node = np.node_a
                    JOIN deg db ON db.node = np.node_b
        """,
        "kcore_graph": _kcore_oracle_sql(),
        "areal_interp_users": f"""
            WITH src AS (
              SELECT user_id, MIN(lon) AS x0, MIN(lat) AS y0,
                     MAX(lon) AS x1, MAX(lat) AS y1, COUNT(*) AS v
              FROM {synth} GROUP BY user_id
            ),
            s AS (SELECT * FROM src WHERE (x1 - x0) * (y1 - y0) > 0),
            g0 AS (
              SELECT s.*, UNNEST(range(x0 // 500000, x1 // 500000 + 1)) AS cx
              FROM s
            ),
            g AS (
              SELECT g0.*, UNNEST(range(y0 // 500000, y1 // 500000 + 1)) AS cy
              FROM g0
            ),
            t AS (
              SELECT cx, cy, v,
                     LEAST(x1, (cx + 1) * 500000) - GREATEST(x0, cx * 500000) AS ox,
                     LEAST(y1, (cy + 1) * 500000) - GREATEST(y0, cy * 500000) AS oy,
                     (x1 - x0) * (y1 - y0) AS a
              FROM g
            )
            SELECT cx, cy,
                   ROUND(SUM(CAST(v AS DOUBLE)
                             * (CAST(ox * oy AS DOUBLE) / CAST(a AS DOUBLE))), 6) AS value
            FROM t WHERE ox > 0 AND oy > 0 GROUP BY cx, cy
        """,
        "geomedian_users": _geomedian_oracle_sql(),
        "lpa_graph": _lpa_oracle_sql(),
        "clustering_graph": f"""
            WITH ge AS ({_GATE_GRAPH_SQL}),
            deg AS (SELECT node, COUNT(*) AS deg FROM
                      (SELECT u AS node FROM ge UNION ALL SELECT v FROM ge)
                    GROUP BY node),
            tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                    FROM ge a JOIN ge b ON b.u = a.u AND b.v > a.v
                    JOIN ge c ON c.u = a.v AND c.v = b.v),
            per AS (SELECT node, COUNT(*) AS c FROM
                      (SELECT x AS node FROM tri UNION ALL
                       SELECT y FROM tri UNION ALL SELECT z FROM tri)
                    GROUP BY node)
            SELECT deg.node, CAST(COALESCE(per.c, 0) AS BIGINT) AS n_tri,
                   CAST(deg.deg AS BIGINT) AS deg,
                   round(CASE WHEN deg.deg >= 2 THEN
                     (2.0 * CAST(COALESCE(per.c, 0) AS DOUBLE))
                       / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                   ELSE 0.0 END, 6) AS coef
            FROM deg LEFT JOIN per ON per.node = deg.node
        """,
        "assortativity_graph": f"""
            WITH ge AS ({_GATE_GRAPH_SQL}),
            deg AS (SELECT node, COUNT(*) AS deg FROM
                      (SELECT u AS node FROM ge UNION ALL SELECT v FROM ge)
                    GROUP BY node),
            agg AS (SELECT COUNT(*) AS m,
                           SUM(CAST(du.deg * dv.deg AS HUGEINT)) AS sxy,
                           SUM(CAST(du.deg + dv.deg AS HUGEINT)) AS sx,
                           SUM(CAST(du.deg * du.deg + dv.deg * dv.deg AS HUGEINT)) AS sxx
                    FROM ge JOIN deg du ON du.node = ge.u
                            JOIN deg dv ON dv.node = ge.v)
            SELECT CAST(m AS BIGINT) AS m,
                   round(CASE WHEN (CAST(sxx AS DOUBLE) / CAST(m * 2 AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(m * 2 AS DOUBLE))
                            * (CAST(sx AS DOUBLE) / CAST(m * 2 AS DOUBLE))) > 0
                   THEN (CAST(sxy AS DOUBLE) / CAST(m AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(m * 2 AS DOUBLE))
                            * (CAST(sx AS DOUBLE) / CAST(m * 2 AS DOUBLE)))
                        / (CAST(sxx AS DOUBLE) / CAST(m * 2 AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(m * 2 AS DOUBLE))
                            * (CAST(sx AS DOUBLE) / CAST(m * 2 AS DOUBLE)))
                   ELSE NULL END, 6) AS r
            FROM agg
        """,
        "adaptive_grid_events": _adaptive_oracle_sql(),
        "diameter_users": f"""
            WITH pts AS (SELECT user_id, lat, lon FROM ({_SYNTH_SQL})
                         WHERE user_id % 10 = 0),
            pairs AS (SELECT a.user_id,
                             (a.lat - b.lat) * (a.lat - b.lat)
                               + (a.lon - b.lon) * (a.lon - b.lon) AS d2,
                             a.lat AS lat_a, a.lon AS lon_a,
                             b.lat AS lat_b, b.lon AS lon_b
                      FROM pts a JOIN pts b ON a.user_id = b.user_id
                      WHERE (a.lat, a.lon) <= (b.lat, b.lon)),
            sel AS (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY d2 DESC, lat_a, lon_a, lat_b, lon_b) AS rk
                    FROM pairs)
            SELECT user_id, d2 AS diam2, lat_a, lon_a, lat_b, lon_b
            FROM sel WHERE rk = 1
        """,
        "hll_distinct_events": (lambda _num: f"""
            WITH h AS (SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                                   AS BIGINT) AS h FROM events),
            r AS (SELECT h & 255 AS bucket,
                         CASE WHEN (h >> 8) = 0 THEN 40
                              ELSE LEAST(40, 53 - length(bin(h >> 8))) END AS rho
                  FROM h),
            reg AS (SELECT bucket, CAST(MAX(rho) AS BIGINT) AS rho FROM r GROUP BY 1),
            agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
                           CAST(SUM(CAST(1 AS BIGINT) << CAST(40 - rho AS INTEGER))
                                AS BIGINT) AS sp
                    FROM reg)
            , fin AS (SELECT n_buckets,
                   CAST(sp + (256 - n_buckets) * (CAST(1 AS BIGINT) << 40) AS BIGINT)
                     AS s_scaled FROM agg)
            SELECT n_buckets, s_scaled,
                   round(CASE WHEN n_buckets < 256
                              AND {_num!r} / CAST(s_scaled AS DOUBLE) <= 640.0
                         THEN 256.0 * ln(256.0 / CAST(256 - n_buckets AS DOUBLE))
                         ELSE {_num!r} / CAST(s_scaled AS DOUBLE) END, 3) AS est
            FROM fin
        """)(__import__("osmflat_rs_spark.operators.sketch", fromlist=["x"]).HLL_ALPHA_256 * 256 * 256 * 2.0**40),
        "movement_events": f"""
            WITH pts AS (SELECT user_id, event_id, epoch_us(ts) AS t, lat, lon
                         FROM ({_SYNTH_SQL})),
            seg AS (SELECT user_id, t AS t0, lat, lon,
                           LEAD(t) OVER w AS t1, LEAD(lat) OVER w AS la1,
                           LEAD(lon) OVER w AS lo1
                    FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
            d AS (SELECT user_id, t0, t1 - t0 AS dt_us, lo1 - lon AS dx,
                         la1 - lat AS dy, (t1 - t0) // 1000000 AS dt_s
                  FROM seg WHERE t1 IS NOT NULL)
            SELECT user_id, t0 AS t0_us, dt_us, dx * dx + dy * dy AS d2,
              CASE WHEN dx = 0 AND dy = 0 THEN 'still'
                   WHEN abs(dy) >= 2 * abs(dx) THEN
                        CASE WHEN dy > 0 THEN 'N' ELSE 'S' END
                   WHEN abs(dx) >= 2 * abs(dy) THEN
                        CASE WHEN dx > 0 THEN 'E' ELSE 'W' END
                   WHEN dx > 0 AND dy > 0 THEN 'NE'
                   WHEN dx > 0 AND dy < 0 THEN 'SE'
                   WHEN dx < 0 AND dy > 0 THEN 'NW'
                   ELSE 'SW' END AS sector,
              CASE WHEN dt_s >= 1
                   THEN dx * dx + dy * dy > {MOVE_VMAX * MOVE_VMAX} * dt_s * dt_s
              END AS speeding
            FROM d
        """,
        "chaikin_users": f"""
            WITH p0 AS (SELECT user_id,
                               row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) - 1 AS pos,
                               lat AS la, lon AS lo
                        FROM ({_SYNTH_SQL})),
            {_chaikin_pass_sql("p0", "p1")},
            {_chaikin_pass_sql("p1", "p2")}
            SELECT user_id, pos, la AS lat_s, lo AS lon_s FROM p2
        """,
        # the streaming twin is held to the BATCH semantics: identical
        # oracle, entity stringified (the state-store key type)
        "stream_movement_events": f"""
            WITH pts AS (SELECT CAST(user_id AS VARCHAR) AS entity, event_id,
                                epoch_us(ts) AS t, lat, lon
                         FROM ({_SYNTH_SQL})),
            seg AS (SELECT entity, t AS t0, lat, lon,
                           LEAD(t) OVER w AS t1, LEAD(lat) OVER w AS la1,
                           LEAD(lon) OVER w AS lo1
                    FROM pts WINDOW w AS (PARTITION BY entity ORDER BY t, event_id)),
            d AS (SELECT entity, t0, t1 - t0 AS dt_us, lo1 - lon AS dx,
                         la1 - lat AS dy, (t1 - t0) // 1000000 AS dt_s
                  FROM seg WHERE t1 IS NOT NULL)
            SELECT entity, t0 AS t0_us, dt_us, dx * dx + dy * dy AS d2,
              CASE WHEN dx = 0 AND dy = 0 THEN 'still'
                   WHEN abs(dy) >= 2 * abs(dx) THEN
                        CASE WHEN dy > 0 THEN 'N' ELSE 'S' END
                   WHEN abs(dx) >= 2 * abs(dy) THEN
                        CASE WHEN dx > 0 THEN 'E' ELSE 'W' END
                   WHEN dx > 0 AND dy > 0 THEN 'NE'
                   WHEN dx > 0 AND dy < 0 THEN 'SE'
                   WHEN dx < 0 AND dy > 0 THEN 'NW'
                   ELSE 'SW' END AS sector,
              CASE WHEN dt_s >= 1
                   THEN dx * dx + dy * dy > {MOVE_VMAX * MOVE_VMAX} * dt_s * dt_s
              END AS speeding
            FROM d
        """,
        "interleave_docs": """
            WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            k AS (SELECT doc_id, CAST(u.i AS BIGINT) AS o,
                         CASE WHEN (doc_id * 31 + u.i * 7) % 5 = 0
                              THEN 'media' ELSE 'text' END AS kind
                  FROM base, UNNEST(range(0, len(ws))) AS u(i)),
            g AS (SELECT doc_id, o, kind,
                         CASE WHEN lag(kind) OVER (PARTITION BY doc_id ORDER BY o)
                              IS DISTINCT FROM kind THEN 1 ELSE 0 END AS chg FROM k),
            r AS (SELECT doc_id, kind,
                         SUM(chg) OVER (PARTITION BY doc_id ORDER BY o) AS grp FROM g),
            runs AS (SELECT doc_id, grp, COUNT(*) AS rl FROM r GROUP BY 1, 2),
            a1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                          CAST(SUM(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
                            AS n_media
                   FROM k GROUP BY 1),
            a2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
                          CAST(MAX(rl) AS BIGINT) AS max_run FROM runs GROUP BY 1)
            SELECT doc_id, n_spans, n_media, n_runs, max_run,
                   CAST((1000 * n_media) // n_spans AS BIGINT) AS media_permille
            FROM a1 JOIN a2 USING (doc_id)
        """,
        "skyline_events": f"""
            WITH e AS (SELECT event_id,
                (lat - {SKY_CLAT}) * (lat - {SKY_CLAT})
                  + (lon - {SKY_CLON}) * (lon - {SKY_CLON}) AS d2,
                (event_id * 7919) % 1000000 AS cost
              FROM ({_SYNTH_SQL}))
            SELECT event_id, d2, cost FROM e p
            WHERE NOT EXISTS (SELECT 1 FROM e q
                WHERE q.d2 <= p.d2 AND q.cost <= p.cost
                  AND (q.d2 < p.d2 OR q.cost < p.cost))
        """,
        # bbox-pruned inequality self-join; d² in DOUBLE (exact for any
        # pair that can pass the r² threshold; far pairs only need the
        # boolean, where 1-ulp error at 1e19 magnitude cannot flip it)
        "isolated_events": f"""
            WITH e AS ({_DBSCAN_SQL}),
            hit AS (SELECT DISTINCT a.event_id FROM e a JOIN e b
                    ON b.event_id <> a.event_id
                   AND b.lat BETWEEN a.lat - {ISOLATED_R} AND a.lat + {ISOLATED_R}
                   AND b.lon BETWEEN a.lon - {ISOLATED_R} AND a.lon + {ISOLATED_R}
                   AND CAST(b.lat - a.lat AS DOUBLE) * CAST(b.lat - a.lat AS DOUBLE)
                     + CAST(b.lon - a.lon AS DOUBLE) * CAST(b.lon - a.lon AS DOUBLE)
                     <= {ISOLATED_R * ISOLATED_R})
            SELECT event_id, lat, lon FROM e
            WHERE event_id NOT IN (SELECT event_id FROM hit)
        """,
        # bounded-series restatement of the in-row tick fan-out (512
        # ticks/segment covers any gap at 6h steps over a 30-day table);
        # `//` mirrors the engine's exact `div` tick indices
        "resample_events": f"""
            WITH pts AS (SELECT user_id, event_id, epoch_us(ts) AS t0,
                                CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon
                         FROM {synth}),
            seg AS (SELECT user_id, t0, lat, lon,
                           LEAD(t0) OVER w AS t1,
                           LEAD(lat) OVER w AS lat1, LEAD(lon) OVER w AS lon1
                    FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t0, event_id)),
            ks AS (SELECT *, (t0 + {RESAMPLE_STEP_US} - 1) // {RESAMPLE_STEP_US} AS k0,
                             (t1 - 1) // {RESAMPLE_STEP_US} AS k1
                   FROM seg WHERE t1 IS NOT NULL),
            interior AS (
              SELECT user_id,
                     (k0 + g) * {RESAMPLE_STEP_US} AS tick_us,
                     lat + (lat1 - lat) * (CAST((k0 + g) * {RESAMPLE_STEP_US} - t0 AS DOUBLE)
                                           / CAST(t1 - t0 AS DOUBLE)) AS lat,
                     lon + (lon1 - lon) * (CAST((k0 + g) * {RESAMPLE_STEP_US} - t0 AS DOUBLE)
                                           / CAST(t1 - t0 AS DOUBLE)) AS lon
              FROM ks, generate_series(0, 511) s(g)
              WHERE g <= k1 - k0),
            final AS (
              SELECT user_id, t0 AS tick_us, lat, lon
              FROM seg WHERE t1 IS NULL AND t0 % {RESAMPLE_STEP_US} = 0)
            SELECT user_id, tick_us, lat, lon
            FROM (SELECT * FROM interior UNION ALL SELECT * FROM final)
        """,
        "knn_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            q(query_id, qlat, qlon) AS (VALUES {knn_vals}),
            d AS (SELECT q.query_id, p.event_id,
                         (p.lat - q.qlat) * (p.lat - q.qlat) + (p.lon - q.qlon) * (p.lon - q.qlon) AS d2
                  FROM pts p CROSS JOIN q)
            SELECT query_id, rnk, event_id, d2 FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, event_id ASC) AS rnk
              FROM d) WHERE rnk <= {KNN_K}
        """,
        # Hansen accessibility: brute-force radius + same rational kernel
        "hansen_events": f"""
            WITH pts AS (SELECT *, event_id % 5 + 1 AS w FROM {synth}),
            q(query_id, qlat, qlon) AS (VALUES {knn_vals}),
            pr AS (SELECT q.query_id, p.w,
                          (p.lat - q.qlat) * (p.lat - q.qlat)
                          + (p.lon - q.qlon) * (p.lon - q.qlon) AS d2
                   FROM pts p CROSS JOIN q
                   WHERE (p.lat - q.qlat) * (p.lat - q.qlat)
                         + (p.lon - q.qlon) * (p.lon - q.qlon)
                         <= {KNN_RADIUS_FIXED ** 2}),
            a AS (SELECT query_id, COUNT(*) AS n_within,
                         SUM(CAST(w * {KNN_RADIUS_FIXED ** 2} AS DOUBLE)
                             / ({KNN_RADIUS_FIXED ** 2} + d2)) AS acc
                  FROM pr GROUP BY 1)
            SELECT q.query_id,
                   COALESCE(a.n_within, 0) AS n_within,
                   ROUND(COALESCE(a.acc, 0.0), 9) AS access
            FROM q LEFT JOIN a USING (query_id)
        """,
        # gravity calibration: lag-window flows, margin ln-subtraction,
        # closed-form OLS, ROUND-9 ln-float contract
        "gravity_events": f"""
            WITH pts AS (SELECT user_id, event_id,
                                lat // 500000 AS zx, lon // 500000 AS zy
                         FROM ({synth}) s),
            tr AS (SELECT lag(zx) OVER w * 1000 + lag(zy) OVER w AS o,
                          zx * 1000 + zy AS d,
                          zx - lag(zx) OVER w AS dx,
                          zy - lag(zy) OVER w AS dy
                   FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
            flows AS (SELECT o, d, COUNT(*) AS t, MIN(dx * dx + dy * dy) AS d2
                      FROM tr WHERE o IS NOT NULL GROUP BY 1, 2),
            om AS (SELECT o, SUM(t) AS ot FROM flows GROUP BY 1),
            dm AS (SELECT d, SUM(t) AS dt FROM flows GROUP BY 1),
            xy AS (SELECT ln(CAST(f.d2 AS DOUBLE) + 1) AS x,
                          ln(CAST(f.t AS DOUBLE)) - ln(CAST(om.ot AS DOUBLE))
                          - ln(CAST(dm.dt AS DOUBLE)) AS y
                   FROM flows f JOIN om USING (o) JOIN dm USING (d)),
            a AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
                  FROM xy)
            SELECT CAST(n AS BIGINT) AS n_pairs,
                   CASE WHEN n * sxx - sx * sx <> 0
                        THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) END AS slope,
                   CASE WHEN n * sxx - sx * sx <> 0
                        THEN ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9) END AS intercept,
                   CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
                        THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) END AS r2
            FROM a
        """,
        "radius_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            q(query_id, qlat, qlon) AS (VALUES {knn_vals})
            SELECT q.query_id, p.event_id,
                   (p.lat - q.qlat) * (p.lat - q.qlat) + (p.lon - q.qlon) * (p.lon - q.qlon) AS d2
            FROM pts p CROSS JOIN q
            WHERE (p.lat - q.qlat) * (p.lat - q.qlat) + (p.lon - q.qlon) * (p.lon - q.qlon)
                  <= {KNN_RADIUS_FIXED ** 2}
        """,
        # co-location: brute-force spacetime inequality join — the
        # engine's composite-key candidate structure must reproduce the
        # naive definition exactly (ints end to end).
        "coloc_events": f"""
            WITH pts AS (SELECT event_id, lat, lon, epoch_us(ts) AS t FROM {synth})
            SELECT a.event_id AS id_a, b.event_id AS id_b,
                   (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon) AS d2,
                   abs(a.t - b.t) AS dt_us
            FROM pts a JOIN pts b ON a.event_id < b.event_id
            WHERE (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
                  <= {COLOC_RADIUS_FIXED ** 2}
              AND abs(a.t - b.t) <= {COLOC_WINDOW_US}
        """,
        # Cyrus-Beck convex clip: the m unrolled half-plane tests with
        # the identical fixed float op order (built by _clip_convex_sql)
        "clip_convex_events": _clip_convex_sql(synth),
        # kmeans step: list_position(list_min) = first-match argmin
        "kmeans_step_events": f"""
            WITH pts AS (SELECT lat, lon FROM {synth}
                         WHERE lat IS NOT NULL AND lon IS NOT NULL),
            a AS (SELECT lat, lon,
                         CAST(list_position(d, list_min(d)) - 1 AS BIGINT) AS cluster
                  FROM (SELECT lat, lon, [{{dists}}] AS d FROM pts))
            SELECT cluster, COUNT(*) AS n,
                   CAST(SUM(lat) AS BIGINT) AS sum_lat,
                   CAST(SUM(lon) AS BIGINT) AS sum_lon
            FROM a GROUP BY cluster
        """.replace("{dists}", ", ".join(
            "(lat - {c0}) * (lat - {c0}) + (lon - {c1}) * (lon - {c1})"
            .replace("{c0}", str(c0)).replace("{c1}", str(c1))
            for c0, c1 in KMEANS_CENTS
        )),
        # Knox: brute-force conditional pair counts; expected/z restated
        # with the engine's exact IEEE expression tree (CAST / nullif /
        # * / sqrt in the same left-associated order).
        "knox_events": f"""
            WITH pts AS (SELECT event_id, lat, lon, epoch_us(ts) AS t FROM {synth}),
            n AS (SELECT COUNT(*) AS n_points FROM pts),
            c AS (SELECT
                    COUNT(*) FILTER (
                      (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
                        <= {COLOC_RADIUS_FIXED ** 2}
                      AND abs(a.t - b.t) <= {COLOC_WINDOW_US}) AS x_knox,
                    COUNT(*) FILTER (
                      (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
                        <= {COLOC_RADIUS_FIXED ** 2}) AS n_space,
                    COUNT(*) FILTER (abs(a.t - b.t) <= {COLOC_WINDOW_US}) AS n_time
                  FROM pts a JOIN pts b ON a.event_id < b.event_id)
            SELECT n.n_points, n.n_points * (n.n_points - 1) // 2 AS n_pairs,
                   c.x_knox, c.n_space, c.n_time,
                   round(CAST(c.n_space AS DOUBLE) / nullif(n.n_points * (n.n_points - 1) // 2, 0)
                         * c.n_time, 6) AS expected,
                   round((c.x_knox - CAST(c.n_space AS DOUBLE)
                            / nullif(n.n_points * (n.n_points - 1) // 2, 0) * c.n_time)
                         / sqrt(nullif(CAST(c.n_space AS DOUBLE)
                            / nullif(n.n_points * (n.n_points - 1) // 2, 0) * c.n_time, 0.0)),
                         6) AS z
            FROM n, c
        """,
        # Gi*: same grid + inequality-self-join focal sums as the focal
        # gate, global moments from a 1-row CTE, the textbook z formula
        # stated with the engine's exact IEEE expression tree.
        "gi_star_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS x FROM g GROUP BY 1, 2),
            gstats AS (SELECT MIN(ix) AS ix0, MAX(ix) AS ix1, MIN(iy) AS iy0, MAX(iy) AS iy1,
                            SUM(x) AS sx, SUM(x * x) AS sxx FROM c),
            f AS (SELECT c1.ix, c1.iy, c1.x, CAST(SUM(c2.x) AS BIGINT) AS wx
                  FROM c c1 JOIN c c2 ON abs(c1.ix - c2.ix) <= 2 AND abs(c1.iy - c2.iy) <= 2
                  GROUP BY 1, 2, 3),
            e AS (SELECT f.*, gstats.*,
                         CAST((ix1 - ix0 + 1) * (iy1 - iy0 + 1) AS DOUBLE) AS n,
                         CAST((LEAST(f.ix + 2, ix1) - GREATEST(f.ix - 2, ix0) + 1)
                            * (LEAST(f.iy + 2, iy1) - GREATEST(f.iy - 2, iy0) + 1) AS DOUBLE) AS wd
                  FROM f CROSS JOIN gstats),
            e2 AS (SELECT *, CAST(sx AS DOUBLE) / n AS xbar,
                          SQRT(CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS s
                   FROM e),
            e3 AS (SELECT *, s * SQRT((n * wd - wd * wd) / (n - 1.0)) AS denom FROM e2)
            SELECT ix, iy, x, CAST(wd AS BIGINT) AS w,
                   ROUND(CASE WHEN denom > 0 THEN (CAST(wx AS DOUBLE) - xbar * wd) / denom END, 6) AS z
            FROM e3
        """,
        # Moran's I: INDEPENDENT dense oracle — materialize every bbox
        # cell (empties as x=0) and state the textbook double sum; the
        # engine's sparse-analytic closed forms must agree to 1e-9.
        "morans_i_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS x FROM g GROUP BY 1, 2),
            bb AS (SELECT MIN(ix) AS ix0, MAX(ix) AS ix1, MIN(iy) AS iy0, MAX(iy) AS iy1 FROM c),
            dense AS (
                SELECT xs.ix, ys.iy, COALESCE(c.x, 0) AS x
                FROM (SELECT UNNEST(generate_series(ix0, ix1)) AS ix FROM bb) xs
                CROSS JOIN (SELECT UNNEST(generate_series(iy0, iy1)) AS iy FROM bb) ys
                LEFT JOIN c ON c.ix = xs.ix AND c.iy = ys.iy),
            m AS (SELECT COUNT(*) AS n, AVG(CAST(x AS DOUBLE)) AS xbar,
                         SUM((CAST(x AS DOUBLE) - (SELECT AVG(CAST(x AS DOUBLE)) FROM dense))
                           * (CAST(x AS DOUBLE) - (SELECT AVG(CAST(x AS DOUBLE)) FROM dense))) AS ss
                  FROM dense),
            pairs AS (
                SELECT SUM((CAST(a.x AS DOUBLE) - m.xbar) * (CAST(b.x AS DOUBLE) - m.xbar)) AS num,
                       COUNT(*) AS s0
                FROM dense a JOIN dense b
                  ON abs(a.ix - b.ix) <= 2 AND abs(a.iy - b.iy) <= 2
                 AND NOT (a.ix = b.ix AND a.iy = b.iy)
                CROSS JOIN m)
            SELECT ROUND((CAST(m.n AS DOUBLE) / pairs.s0) * pairs.num / m.ss, 9) AS i,
                   m.n AS n, pairs.s0 AS s0
            FROM m CROSS JOIN pairs
        """,
        # Geary's C: INDEPENDENT dense oracle — materialize every bbox
        # cell and state the textbook pairwise squared-difference sum.
        "gearys_c_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS x FROM g GROUP BY 1, 2),
            bb AS (SELECT MIN(ix) AS ix0, MAX(ix) AS ix1, MIN(iy) AS iy0, MAX(iy) AS iy1 FROM c),
            dense AS (
                SELECT xs.ix, ys.iy, COALESCE(c.x, 0) AS x
                FROM (SELECT UNNEST(generate_series(ix0, ix1)) AS ix FROM bb) xs
                CROSS JOIN (SELECT UNNEST(generate_series(iy0, iy1)) AS iy FROM bb) ys
                LEFT JOIN c ON c.ix = xs.ix AND c.iy = ys.iy),
            m AS (SELECT COUNT(*) AS n, AVG(CAST(x AS DOUBLE)) AS xbar,
                         SUM((CAST(x AS DOUBLE) - (SELECT AVG(CAST(x AS DOUBLE)) FROM dense))
                           * (CAST(x AS DOUBLE) - (SELECT AVG(CAST(x AS DOUBLE)) FROM dense))) AS ss
                  FROM dense),
            pairs AS (
                SELECT SUM((CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE))
                         * (CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE))) AS num,
                       COUNT(*) AS s0
                FROM dense a JOIN dense b
                  ON abs(a.ix - b.ix) <= 2 AND abs(a.iy - b.iy) <= 2
                 AND NOT (a.ix = b.ix AND a.iy = b.iy))
            SELECT ROUND(((CAST(m.n AS DOUBLE) - 1.0) / (2.0 * pairs.s0)) * pairs.num / m.ss, 9) AS c,
                   m.n AS n, pairs.s0 AS s0
            FROM m CROSS JOIN pairs
        """,
        # join counts: identical grid/threshold/edge construction, exact
        # int64 counts + degree moment, identical chained-division E/Var/z
        "joincount_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << JC_RES) - 1}, (lon + 1800000000) * {1 << JC_RES} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << JC_RES) - 1}, (lat + 900000000) * {1 << JC_RES} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy,
                         CASE WHEN COUNT(*) >= {JC_THRESHOLD} THEN 1 ELSE 0 END AS b
                  FROM g GROUP BY 1, 2),
            ed AS (SELECT a.ix, a.iy, w.ix AS jx, w.iy AS jy, a.b, w.b AS b2
                   FROM c a JOIN c w ON w.ix = a.ix - 1 AND w.iy = a.iy
                   UNION ALL
                   SELECT a.ix, a.iy, s.ix, s.iy, a.b, s.b
                   FROM c a JOIN c s ON s.ix = a.ix AND s.iy = a.iy - 1),
            ends AS (SELECT ix, iy FROM ed UNION ALL SELECT jx, jy FROM ed),
            mm AS (SELECT CAST(SUM(k * (k - 1)) AS BIGINT) AS m
                   FROM (SELECT ix, iy, COUNT(*) AS k FROM ends GROUP BY 1, 2)),
            tot AS (SELECT COUNT(*) AS n, CAST(SUM(b) AS BIGINT) AS nb FROM c),
            ea AS (SELECT COUNT(*) AS jj,
                          CAST(SUM(b * b2) AS BIGINT) AS bb,
                          CAST(SUM((1 - b) * (1 - b2)) AS BIGINT) AS ww
                   FROM ed),
            fin AS (SELECT n, nb, jj, bb, ww, m,
                           CAST(nb * (nb - 1) AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS p2
                    FROM tot CROSS JOIN ea CROSS JOIN mm),
            fx AS (SELECT *,
                          CAST(jj AS DOUBLE) * p2 AS e_bb,
                          CAST(jj AS DOUBLE) * p2
                            + CAST(m AS DOUBLE) * (p2 * (CAST(nb - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE)))
                            + CAST(jj * (jj - 1) - m AS DOUBLE)
                              * (p2 * (CAST((nb - 2) * (nb - 3) AS DOUBLE) / CAST((n - 2) * (n - 3) AS DOUBLE)))
                            - (CAST(jj AS DOUBLE) * p2) * (CAST(jj AS DOUBLE) * p2) AS var_bb
                   FROM fin)
            SELECT n, nb, jj, bb, ww, CAST(jj - bb - ww AS BIGINT) AS bw,
                   ROUND(e_bb, 9) AS e_bb,
                   ROUND(var_bb, 9) AS var_bb,
                   ROUND(CASE WHEN n >= 4 AND var_bb > 0
                              THEN (CAST(bb AS DOUBLE) - e_bb) / sqrt(var_bb) END, 9) AS z_bb
            FROM fx
        """,
        # diversity: same ln(n) − Σc·ln(c)/n and exact-int Simpson
        "entropy_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 14) - 1}, (lon + 1800000000) * {1 << 14} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 14) - 1}, (lat + 900000000) * {1 << 14} // 1800000000)) AS iy,
                         event_type
                  FROM pts),
            pc AS (SELECT ix, iy, event_type, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
            a AS (SELECT ix, iy, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS richness,
                         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slnc,
                         CAST(SUM(c * c) AS BIGINT) AS sc2
                  FROM pc GROUP BY 1, 2)
            SELECT ix, iy, n, richness,
                   ROUND(ln(CAST(n AS DOUBLE)) - slnc / CAST(n AS DOUBLE), 9) AS entropy,
                   ROUND(1.0 - CAST(sc2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 12) AS simpson
            FROM a
        """,
        # closing: same two sparse fans — dilate distinct, erode votes
        "morph_close_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << JC_RES) - 1}, (lon + 1800000000) * {1 << JC_RES} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << JC_RES) - 1}, (lat + 900000000) * {1 << JC_RES} // 1800000000)) AS iy
                  FROM pts),
            b AS (SELECT ix, iy FROM g GROUP BY ix, iy HAVING COUNT(*) >= {JC_THRESHOLD}),
            offs AS (SELECT dx, dy FROM generate_series(-1, 1) a(dx),
                                        generate_series(-1, 1) c(dy)),
            dil AS (SELECT DISTINCT b.ix + dx AS ix, b.iy + dy AS iy FROM b, offs),
            clo AS (SELECT ix, iy
                    FROM (SELECT d.ix - o.dx AS ix, d.iy - o.dy AS iy FROM dil d, offs o)
                    GROUP BY 1, 2 HAVING COUNT(*) = 9)
            SELECT ix, iy FROM clo
        """,
        # LISA: independent dense oracle — materialize every bbox cell,
        # per-cell lag sums from the explicit neighbor join, raw m2/m4
        # moments, Anselin's randomization E/Var for the z-score.
        "lisa_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS x FROM g GROUP BY 1, 2),
            bb AS (SELECT MIN(ix) AS ix0, MAX(ix) AS ix1, MIN(iy) AS iy0, MAX(iy) AS iy1 FROM c),
            dense AS (
                SELECT xs.ix, ys.iy, COALESCE(c.x, 0) AS x
                FROM (SELECT UNNEST(generate_series(ix0, ix1)) AS ix FROM bb) xs
                CROSS JOIN (SELECT UNNEST(generate_series(iy0, iy1)) AS iy FROM bb) ys
                LEFT JOIN c ON c.ix = xs.ix AND c.iy = ys.iy),
            m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(CAST(x AS DOUBLE)) AS xbar FROM dense),
            mm AS (SELECT m.n, m.xbar,
                          SUM((CAST(d.x AS DOUBLE) - m.xbar) * (CAST(d.x AS DOUBLE) - m.xbar)) / m.n AS m2,
                          SUM((CAST(d.x AS DOUBLE) - m.xbar) * (CAST(d.x AS DOUBLE) - m.xbar)
                            * (CAST(d.x AS DOUBLE) - m.xbar) * (CAST(d.x AS DOUBLE) - m.xbar)) / m.n AS m4
                   FROM dense d CROSS JOIN m GROUP BY m.n, m.xbar),
            l AS (SELECT a.ix, a.iy, a.x,
                         CAST(COUNT(*) AS DOUBLE) AS wp,
                         SUM(CAST(b.x AS DOUBLE) - mm.xbar) AS lagdev
                  FROM dense a JOIN dense b
                    ON abs(a.ix - b.ix) <= 2 AND abs(a.iy - b.iy) <= 2
                   AND NOT (a.ix = b.ix AND a.iy = b.iy)
                  CROSS JOIN mm
                  WHERE a.x > 0
                  GROUP BY a.ix, a.iy, a.x),
            f AS (SELECT l.*, mm.n, mm.xbar, mm.m2, mm.m4 / (mm.m2 * mm.m2) AS b2
                  FROM l CROSS JOIN mm),
            f2 AS (SELECT *,
                          ((CAST(x AS DOUBLE) - xbar) / m2) * lagdev AS ii,
                          -wp / (n - 1.0) AS e,
                          wp * (n - b2) / (n - 1.0)
                            + (wp * wp - wp) * (2.0 * b2 - n) / ((n - 1.0) * (n - 2.0))
                            - wp * wp / ((n - 1.0) * (n - 1.0)) AS var
                   FROM f)
            SELECT ix, iy, x, CAST(wp AS BIGINT) AS w,
                   ROUND(CASE WHEN m2 > 0 THEN ii END, 6) AS ii,
                   ROUND(CASE WHEN n > 3 AND m2 > 0 AND var > 0 THEN (ii - e) / SQRT(var) END, 6) AS z,
                   CASE WHEN CAST(x AS DOUBLE) > xbar AND lagdev > 0 THEN 'HH'
                        WHEN CAST(x AS DOUBLE) < xbar AND lagdev < 0 THEN 'LL'
                        WHEN CAST(x AS DOUBLE) > xbar AND lagdev < 0 THEN 'HL'
                        WHEN CAST(x AS DOUBLE) < xbar AND lagdev > 0 THEN 'LH' END AS quadrant
            FROM f2
        """,
        # Mann-Kendall trend: dense per-cell series (missing bins = 0),
        # pair self-join for S and the Theil-Sen MEDIAN slope, tie-group
        # correction for Var(S), continuity-corrected z.
        "trend_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << TREND_RES) - 1}, (lon + 1800000000) * {1 << TREND_RES} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << TREND_RES) - 1}, (lat + 900000000) * {1 << TREND_RES} // 1800000000)) AS iy,
                         CAST(FLOOR(epoch_us(ts) / {TREND_BIN_US}) AS BIGINT) AS tbin
                  FROM pts),
            cube AS (SELECT ix, iy, tbin, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
            rng AS (SELECT MIN(tbin) AS t0, MAX(tbin) AS t1 FROM cube),
            cells AS (SELECT DISTINCT ix, iy FROM cube),
            dense AS (SELECT c.ix, c.iy, t.tbin, COALESCE(cu.n, 0) AS v
                      FROM cells c
                      CROSS JOIN (SELECT UNNEST(generate_series(t0, t1)) AS tbin FROM rng) t
                      LEFT JOIN cube cu ON cu.ix = c.ix AND cu.iy = c.iy AND cu.tbin = t.tbin),
            pr AS (SELECT a.ix, a.iy,
                          CAST(SUM(SIGN(b.v - a.v)) AS BIGINT) AS s,
                          MEDIAN(CAST(b.v - a.v AS DOUBLE) / CAST(b.tbin - a.tbin AS DOUBLE)) AS sen
                   FROM dense a JOIN dense b ON a.ix = b.ix AND a.iy = b.iy AND b.tbin > a.tbin
                   GROUP BY 1, 2),
            tg AS (SELECT ix, iy, CAST(SUM(cnt * (cnt - 1) * (2 * cnt + 5)) AS BIGINT) AS tie_term
                   FROM (SELECT ix, iy, v, COUNT(*) AS cnt FROM dense GROUP BY 1, 2, 3)
                   GROUP BY 1, 2),
            tt AS (SELECT CAST(t1 - t0 + 1 AS BIGINT) AS t FROM rng)
            SELECT pr.ix, pr.iy, pr.s,
                   ROUND(CAST(t * (t - 1) * (2 * t + 5) - tie_term AS DOUBLE) / 18.0, 6) AS var_s,
                   ROUND(CASE WHEN t * (t - 1) * (2 * t + 5) - tie_term > 0 THEN
                        CAST(CASE WHEN pr.s > 0 THEN pr.s - 1 WHEN pr.s < 0 THEN pr.s + 1 ELSE 0 END AS DOUBLE)
                        / SQRT(CAST(t * (t - 1) * (2 * t + 5) - tie_term AS DOUBLE) / 18.0) END, 6) AS z,
                   ROUND(pr.sen, 6) AS sen
            FROM pr JOIN tg ON tg.ix = pr.ix AND tg.iy = pr.iy CROSS JOIN tt
        """,
        # Map-matching: candidates restate the snap IEEE tree; the
        # Viterbi is verified by FULL PATH ENUMERATION — the recursive
        # CTE extends every partial path one step (bounded <= k^T per
        # user), the winner is min (cost, path), parallel-unnested.
        "mapmatch_events": f"""
            WITH RECURSIVE pts0 AS (SELECT * FROM {{synth}} WHERE user_id < {MAPMATCH_USERS}),
            p AS (SELECT user_id, event_id, ts, lat, lon,
                         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM pts0),
            q AS (SELECT user_id, event_id, ts, lat, lon FROM p WHERE rn <= {MAPMATCH_STEPS}),
            seg(sid, y1, x1, y2, x2) AS (VALUES {{seg_vals}}),
            d AS (SELECT q.user_id, q.event_id, q.ts, q.lat AS py, q.lon AS px,
                         seg.sid, seg.x1, seg.y1,
                         CAST(seg.x2 - seg.x1 AS DOUBLE) AS dx,
                         CAST(seg.y2 - seg.y1 AS DOUBLE) AS dy
                  FROM q CROSS JOIN seg),
            e AS (SELECT *, dx * dx + dy * dy AS len2 FROM d),
            t0 AS (SELECT *, CASE WHEN len2 > 0
                                  THEN (CAST(px - x1 AS DOUBLE) * dx + CAST(py - y1 AS DOUBLE) * dy) / len2
                                  ELSE 0.0 END AS t FROM e),
            t1 AS (SELECT *, GREATEST(0.0, LEAST(1.0, t)) AS tc FROM t0),
            t2 AS (SELECT *, CAST(x1 AS DOUBLE) + tc * dx AS qx,
                             CAST(y1 AS DOUBLE) + tc * dy AS qy FROM t1),
            t3 AS (SELECT user_id, event_id, ts, px, py, sid, qx, qy,
                          (CAST(px AS DOUBLE) - qx) * (CAST(px AS DOUBLE) - qx)
                        + (CAST(py AS DOUBLE) - qy) * (CAST(py AS DOUBLE) - qy) AS d2
                   FROM t2),
            f AS (SELECT * FROM t3 WHERE d2 <= {float(MAPMATCH_R) ** 2!r}),
            ck AS (SELECT * FROM (
                     SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_id ORDER BY d2, sid) AS rnk
                     FROM f) WHERE rnk <= {MAPMATCH_K}),
            st AS (SELECT user_id, event_id,
                          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS step
                   FROM (SELECT DISTINCT user_id, event_id, ts FROM ck)),
            c AS (SELECT ck.*, st.step, CAST(ck.px AS DOUBLE) AS gx, CAST(ck.py AS DOUBLE) AS gy
                  FROM ck JOIN st ON st.user_id = ck.user_id AND st.event_id = ck.event_id),
            walk(user_id, step, cost, gx, gy, qx, qy, sids, pids, qxs, qys) AS (
                SELECT user_id, step, d2 / {2.0 * MAPMATCH_SIGMA * MAPMATCH_SIGMA!r},
                       gx, gy, qx, qy, [sid], [event_id], [qx], [qy]
                FROM c WHERE step = 1
                UNION ALL
                SELECT w.user_id, c.step,
                       (w.cost + ABS(SQRT((c.qx - w.qx) * (c.qx - w.qx) + (c.qy - w.qy) * (c.qy - w.qy))
                                   - SQRT((c.gx - w.gx) * (c.gx - w.gx) + (c.gy - w.gy) * (c.gy - w.gy)))
                               / {MAPMATCH_BETA!r})
                         + c.d2 / {2.0 * MAPMATCH_SIGMA * MAPMATCH_SIGMA!r},
                       c.gx, c.gy, c.qx, c.qy,
                       list_append(w.sids, c.sid), list_append(w.pids, c.event_id),
                       list_append(w.qxs, c.qx), list_append(w.qys, c.qy)
                FROM walk w JOIN c ON c.user_id = w.user_id AND c.step = w.step + 1),
            nmax AS (SELECT user_id, MAX(step) AS tmax FROM st GROUP BY 1),
            fin AS (SELECT w.*, ROW_NUMBER() OVER (PARTITION BY w.user_id ORDER BY w.cost, w.sids) AS rk
                    FROM walk w JOIN nmax ON nmax.user_id = w.user_id AND w.step = nmax.tmax)
            SELECT user_id,
                   CAST(UNNEST(generate_series(1, len(sids))) AS BIGINT) AS step,
                   UNNEST(pids) AS event_id,
                   UNNEST(sids) AS sid,
                   ROUND(UNNEST(qxs), 6) AS snap_lon,
                   ROUND(UNNEST(qys), 6) AS snap_lat
            FROM fin WHERE rk = 1
        """.format(
            synth=synth,
            seg_vals=", ".join(f"({s}, {y1}, {x1}, {y2}, {x2})" for s, y1, x1, y2, x2 in MAPMATCH_SEGS),
        ),
        # IDW: brute-force kNN (valid: the engine's operator is exact
        # when settled, asserted in tests) + the same weighted form;
        # with the sqeuclid metric and power=2 the weight is 1/d2, no
        # sqrt on either side. Exact hits take the mean of the
        # zero-distance values (Shepard's limit convention).
        "idw_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            q(query_id, qlat, qlon) AS (VALUES {knn_vals}),
            d AS (SELECT q.query_id, p.event_id, p.value,
                         (p.lat - q.qlat) * (p.lat - q.qlat) + (p.lon - q.qlon) * (p.lon - q.qlon) AS d2
                  FROM pts p CROSS JOIN q),
            r AS (SELECT * FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, event_id ASC) AS rnk
                    FROM d) WHERE rnk <= {KNN_K})
            SELECT query_id,
                   ROUND(CASE WHEN COUNT(*) FILTER (WHERE d2 = 0) > 0
                              THEN AVG(value) FILTER (WHERE d2 = 0)
                              ELSE SUM(value / d2) / SUM(1.0 / d2) END, 6) AS idw,
                   COUNT(*) AS n_neighbors
            FROM r GROUP BY query_id
        """,
        # Geofence transitions: per-fence half-plane membership, lag
        # window per user, list_filter set diffs — the membership-flip
        # semantics stated independently of the engine's pip kernel.
        "geofence_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            m AS (SELECT user_id, ts, event_id,
                         list_sort(list_filter([
                             CASE WHEN {_ring_halfplanes_sql(HEX_RING, 'lon', 'lat')} THEN 'hex' END,
                             CASE WHEN {_ring_halfplanes_sql(ZONAL_HEX2, 'lon', 'lat')} THEN 'hex2' END
                         ], x -> x IS NOT NULL)) AS fences
                  FROM pts),
            s AS (SELECT *, COALESCE(LAG(fences) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                     []) AS prev
                  FROM m)
            SELECT user_id, ts, event_id, u.f AS fence, 'enter' AS kind
            FROM s, UNNEST(list_filter(s.fences, x -> NOT list_contains(s.prev, x))) AS u(f)
            UNION ALL
            SELECT user_id, ts, event_id, u.f AS fence, 'exit' AS kind
            FROM s, UNNEST(list_filter(s.prev, x -> NOT list_contains(s.fences, x))) AS u(f)
        """,
        # Stay-points: identical window formulation (DuckDB's LAG/SUM
        # windows); epoch_us keeps timestamps integer-exact; cx/cy
        # constant within a run so MIN == the engine's first().
        "dwell_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT user_id, ts, event_id,
                         CAST(FLOOR(lon / 2000000) AS BIGINT) AS cx,
                         CAST(FLOOR(lat / 2000000) AS BIGINT) AS cy FROM pts),
            f AS (SELECT *, CASE WHEN cx = LAG(cx) OVER w AND cy = LAG(cy) OVER w
                                 THEN 0 ELSE 1 END AS brk
                  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
                  FROM f),
            d AS (SELECT user_id, run, MIN(cx) AS cx, MIN(cy) AS cy,
                         MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
                         COUNT(*) AS n_pts
                  FROM r GROUP BY user_id, run)
            SELECT user_id, cx, cy, start_us, end_us, n_pts,
                   (end_us - start_us) / 1000000.0 AS dwell_s
            FROM d WHERE n_pts >= 3 AND (end_us - start_us) / 1000000.0 >= 600.0
        """,
        # Snap: brute-force all-pairs with the engine's exact expression
        # tree (int diffs cast to double, clamped projection, d2 rank);
        # filter-before-rank matches the engine's radius gate.
        "linear_ref_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            r0 AS (SELECT user_id AS rid, event_id, lat, lon FROM pts WHERE user_id < 4),
            seg0 AS (SELECT rid, ROW_NUMBER() OVER w AS seq,
                            lat AS y1, lon AS x1,
                            LEAD(lat) OVER w AS y2, LEAD(lon) OVER w AS x2
                     FROM r0 WINDOW w AS (PARTITION BY rid ORDER BY event_id)),
            seg1 AS (SELECT *, SQRT(CAST(x2 - x1 AS DOUBLE) * CAST(x2 - x1 AS DOUBLE)
                                  + CAST(y2 - y1 AS DOUBLE) * CAST(y2 - y1 AS DOUBLE)) AS len
                     FROM seg0 WHERE y2 IS NOT NULL),
            seg AS (SELECT *,
                           rid * 1000000 + seq AS sid,
                           COALESCE(SUM(len) OVER (PARTITION BY rid ORDER BY seq
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum
                    FROM seg1),
            q AS (SELECT event_id AS query_id,
                         CAST({LAT0} + (event_id * 24571) % {LATSPAN} AS BIGINT) AS py,
                         CAST({LON0} + (event_id * 39119) % {LONSPAN} AS BIGINT) AS px
                  FROM events WHERE event_id < 2000),
            d AS (SELECT q.query_id, s.sid, s.rid, s.seq, s.len, s.cum,
                         q.px, q.py, s.x1, s.y1,
                         CAST(s.x2 - s.x1 AS DOUBLE) AS dx,
                         CAST(s.y2 - s.y1 AS DOUBLE) AS dy
                  FROM q CROSS JOIN seg s),
            e AS (SELECT *, dx * dx + dy * dy AS len2 FROM d),
            t0 AS (SELECT *, CASE WHEN len2 > 0
                                  THEN (CAST(px - x1 AS DOUBLE) * dx + CAST(py - y1 AS DOUBLE) * dy) / len2
                                  ELSE 0.0 END AS t FROM e),
            t1 AS (SELECT *, GREATEST(0.0, LEAST(1.0, t)) AS tc FROM t0),
            t2 AS (SELECT *, CAST(x1 AS DOUBLE) + tc * dx AS qx,
                             CAST(y1 AS DOUBLE) + tc * dy AS qy FROM t1),
            t3 AS (SELECT query_id, sid, rid, seq, len, cum, tc,
                          (CAST(px AS DOUBLE) - qx) * (CAST(px AS DOUBLE) - qx)
                        + (CAST(py AS DOUBLE) - qy) * (CAST(py AS DOUBLE) - qy) AS d2
                   FROM t2),
            f AS (SELECT * FROM t3 WHERE d2 <= {float(LINREF_RADIUS) ** 2})
            SELECT query_id, CAST(rid AS BIGINT) AS route_id,
                   CAST(seq AS INT) AS seq, d2, tc AS t,
                   ROUND(cum + tc * len, 2) AS offset, len AS seg_len
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY d2 ASC, sid ASC) AS rnk FROM f)
            WHERE rnk = 1
        """,
        "snap_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            seg AS (SELECT event_id AS sid, lat AS y1, lon AS x1,
                           LEAD(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y2,
                           LEAD(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x2
                    FROM pts),
            s AS (SELECT * FROM seg WHERE y2 IS NOT NULL),
            q AS (SELECT event_id AS query_id,
                         CAST({LAT0} + (event_id * 24571) % {LATSPAN} AS BIGINT) AS py,
                         CAST({LON0} + (event_id * 39119) % {LONSPAN} AS BIGINT) AS px
                  FROM events WHERE event_id < 2000),
            d AS (SELECT q.query_id, s.sid, q.px, q.py, s.x1, s.y1,
                         CAST(s.x2 - s.x1 AS DOUBLE) AS dx,
                         CAST(s.y2 - s.y1 AS DOUBLE) AS dy
                  FROM q CROSS JOIN s),
            e AS (SELECT *, dx * dx + dy * dy AS len2 FROM d),
            t0 AS (SELECT *, CASE WHEN len2 > 0
                                  THEN (CAST(px - x1 AS DOUBLE) * dx + CAST(py - y1 AS DOUBLE) * dy) / len2
                                  ELSE 0.0 END AS t FROM e),
            t1 AS (SELECT *, GREATEST(0.0, LEAST(1.0, t)) AS tc FROM t0),
            t2 AS (SELECT *, CAST(x1 AS DOUBLE) + tc * dx AS qx,
                             CAST(y1 AS DOUBLE) + tc * dy AS qy FROM t1),
            t3 AS (SELECT query_id, sid, tc AS t, qx AS snap_lon, qy AS snap_lat,
                          (CAST(px AS DOUBLE) - qx) * (CAST(px AS DOUBLE) - qx)
                        + (CAST(py AS DOUBLE) - qy) * (CAST(py AS DOUBLE) - qy) AS d2
                   FROM t2),
            f AS (SELECT * FROM t3 WHERE d2 <= {float(SNAP_RADIUS) ** 2})
            SELECT query_id, sid, d2, t, snap_lon, snap_lat FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, sid ASC) AS rnk
              FROM f) WHERE rnk = 1
        """,
        # OD flows: the dwell CTE extended one LEAD step — consecutive
        # dwells per user pair into trips, grouped on the cell pair.
        "od_flows_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT user_id, ts, event_id,
                         CAST(FLOOR(lon / 1000000) AS BIGINT) AS cx,
                         CAST(FLOOR(lat / 1000000) AS BIGINT) AS cy FROM pts),
            f AS (SELECT *, CASE WHEN cx = LAG(cx) OVER w AND cy = LAG(cy) OVER w
                                 THEN 0 ELSE 1 END AS brk
                  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
                  FROM f),
            d AS (SELECT user_id, run, MIN(cx) AS cx, MIN(cy) AS cy,
                         MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
                         COUNT(*) AS n_pts
                  FROM r GROUP BY user_id, run),
            dw AS (SELECT * FROM d
                   WHERE n_pts >= 2),
            trips AS (SELECT cx AS from_cx, cy AS from_cy,
                             LEAD(cx) OVER v AS to_cx, LEAD(cy) OVER v AS to_cy,
                             LEAD(start_us) OVER v - end_us AS transit_us
                      FROM dw WINDOW v AS (PARTITION BY user_id ORDER BY start_us))
            SELECT from_cx, from_cy, to_cx, to_cy, COUNT(*) AS n_trips,
                   ROUND(AVG(transit_us) / 1000000.0, 6) AS avg_transit_s
            FROM trips WHERE to_cx IS NOT NULL
            GROUP BY from_cx, from_cy, to_cx, to_cy
        """,
        # Hotspot clustering: recursive-CTE min-label closure over the
        # 8-adjacency graph of dense grid cells — same floor-division
        # grid, same (cx+2^30)*2^31+(cy+2^30) key, so cluster labels
        # (min key per component) match the engine's bit-for-bit.
        "hotspot_events": f"""
            WITH RECURSIVE pts AS MATERIALIZED (SELECT * FROM {synth}),
            g AS MATERIALIZED (
                SELECT event_id, CAST(FLOOR(lon / {HOTSPOT_CELL}) AS BIGINT) AS cx,
                       CAST(FLOOR(lat / {HOTSPOT_CELL}) AS BIGINT) AS cy FROM pts),
            core AS MATERIALIZED (
                SELECT cx, cy, (cx + {1 << 30}) * {1 << 31} + (cy + {1 << 30}) AS key
                FROM g GROUP BY cx, cy HAVING COUNT(*) >= {HOTSPOT_MIN_PTS}),
            e AS MATERIALIZED (
                SELECT a.key AS u, b.key AS v FROM core a JOIN core b
                ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
            walk(node, lbl) AS (
                SELECT key, key FROM core
                UNION
                SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node),
            lab AS (SELECT node AS key, MIN(lbl) AS cluster FROM walk GROUP BY node)
            SELECT g.event_id, g.cx, g.cy, lab.cluster
            FROM g JOIN core USING (cx, cy) JOIN lab USING (key)
        """,
        "cell_index_events": f"""
            SELECT event_id, {_cell_sql('lat', 'lon', CELL_RES)} AS cell,
                   ({_cell_sql('lat', 'lon', CELL_RES)}) >> 4 AS cell_parent2
            FROM {synth}
        """,
        # Focal grid: the oracle's inequality self-join over occupied
        # cells is semantically identical to the engine's fan-out form
        # (unoccupied neighbors contribute zero either way). Exact ints.
        "focal_grid_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS n_self FROM g GROUP BY 1, 2)
            SELECT c1.ix, c1.iy, c1.n_self,
                   CAST(SUM(c2.n_self) AS BIGINT) AS n_focal
            FROM c c1 JOIN c c2
              ON abs(c1.ix - c2.ix) <= 1 AND abs(c1.iy - c2.iy) <= 1
            GROUP BY 1, 2, 3
        """,
        # weighted overlay: self-join focal + identical normalize/blend
        "overlay_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS n_self FROM g GROUP BY 1, 2),
            f AS (SELECT c1.ix, c1.iy, c1.n_self,
                         CAST(SUM(c2.n_self) AS BIGINT) AS n_focal
                  FROM c c1 JOIN c c2
                    ON abs(c1.ix - c2.ix) <= 1 AND abs(c1.iy - c2.iy) <= 1
                  GROUP BY 1, 2, 3),
            st AS (SELECT MIN(n_self) AS d0, MAX(n_self) AS d1,
                          MIN(n_focal) AS f0, MAX(n_focal) AS f1
                   FROM f)
            SELECT f.ix, f.iy, f.n_self, f.n_focal,
                   (60.0 * (CASE WHEN st.d1 = st.d0 THEN 0.0
                                 ELSE CAST(f.n_self - st.d0 AS DOUBLE)
                                      / CAST(st.d1 - st.d0 AS DOUBLE) END)
                    + 40.0 * (CASE WHEN st.f1 = st.f0 THEN 0.0
                                   ELSE CAST(f.n_focal - st.f0 AS DOUBLE)
                                        / CAST(st.f1 - st.f0 AS DOUBLE) END)) / 100.0 AS suit
            FROM f, st
        """,
        # focal mode: self-join restatement; rank window reproduces the
        # struct-min (count desc, cat asc) tie-break
        "focal_mode_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy,
                         event_type AS cat
                  FROM pts),
            per AS (SELECT ix, iy, cat, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
            occ AS (SELECT ix, iy, CAST(SUM(n) AS BIGINT) AS n_self FROM per GROUP BY 1, 2),
            nb AS (SELECT o.ix, o.iy, p.cat, CAST(SUM(p.n) AS BIGINT) AS nc
                   FROM occ o JOIN per p
                     ON abs(o.ix - p.ix) <= 1 AND abs(o.iy - p.iy) <= 1
                   GROUP BY 1, 2, 3),
            rk AS (SELECT ix, iy, cat, nc,
                          row_number() OVER (PARTITION BY ix, iy ORDER BY nc DESC, cat) AS rn,
                          SUM(nc) OVER (PARTITION BY ix, iy) AS n_focal
                   FROM nb)
            SELECT o.ix, o.iy, o.n_self, CAST(r.n_focal AS BIGINT) AS n_focal,
                   r.cat AS mode_cat, r.nc AS n_mode
            FROM occ o JOIN rk r ON r.ix = o.ix AND r.iy = o.iy AND r.rn = 1
        """,
        # ZT curvature: join restatement of the stencil fan; identical
        # expression tree over exact integer-valued sums
        "curvature_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, CAST(COUNT(*) AS DOUBLE) AS z FROM g GROUP BY 1, 2),
            tgt AS (SELECT DISTINCT c.ix + dx.x AS ix, c.iy + dy.y AS iy
                    FROM c, (VALUES (-1), (0), (1)) dx(x), (VALUES (-1), (0), (1)) dy(y)),
            s AS (SELECT t.ix, t.iy,
                         COALESCE(SUM(CASE WHEN s.ix - t.ix = 0 AND s.iy - t.iy = 0 THEN s.z END), 0.0) AS z5,
                         COALESCE(SUM(CASE WHEN abs(s.ix - t.ix) = 1 AND s.iy - t.iy = 0 THEN s.z END), 0.0) AS sh,
                         COALESCE(SUM(CASE WHEN s.ix - t.ix = 0 AND abs(s.iy - t.iy) = 1 THEN s.z END), 0.0) AS sv,
                         COALESCE(SUM(s.z * (s.ix - t.ix) * (s.iy - t.iy)), 0.0) AS sd,
                         COALESCE(SUM(CASE WHEN s.iy - t.iy = 0 THEN s.z * (s.ix - t.ix) ELSE 0.0 END), 0.0) AS sg,
                         COALESCE(SUM(CASE WHEN s.ix - t.ix = 0 THEN s.z * (s.iy - t.iy) ELSE 0.0 END), 0.0) AS sh2
                  FROM tgt t JOIN c s
                    ON abs(s.ix - t.ix) <= 1 AND abs(s.iy - t.iy) <= 1
                  GROUP BY 1, 2),
            k AS (SELECT ix, iy, z5, sg, sh2,
                         (sh / 2 - z5) / 1.0 AS d, (sv / 2 - z5) / 1.0 AS e,
                         sd / 4.0 AS f, sg / 2.0 AS g, sh2 / 2.0 AS h
                  FROM s)
            SELECT ix, iy, CAST(z5 AS BIGINT) AS n_self,
                   ROUND(-2.0 * (d + e), 9) + 0.0 AS general,
                   CASE WHEN sg = 0 AND sh2 = 0 THEN 0.0
                        ELSE ROUND(-2.0 * (d * g * g + e * h * h + f * g * h) / (g * g + h * h), 9) + 0.0
                   END AS profile,
                   CASE WHEN sg = 0 AND sh2 = 0 THEN 0.0
                        ELSE ROUND(2.0 * (d * h * h + e * g * g - f * g * h) / (g * g + h * h), 9) + 0.0
                   END AS plan
            FROM k
        """,
        "viewshed_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, CAST(COUNT(*) AS DOUBLE) AS z FROM g GROUP BY 1, 2),
            zo AS (SELECT COALESCE((SELECT z FROM c WHERE ix = {VIEW_OX} AND iy = {VIEW_OY}), 0.0)
                          + 2.0 AS zo),
            tgt AS (SELECT ix AS tx, iy AS ty, z AS zt FROM c
                    WHERE NOT (ix = {VIEW_OX} AND iy = {VIEW_OY})),
            seg2 AS (SELECT tx, ty, zt,
                            CAST({VIEW_OX} AS BIGINT) AS x0,
                            CAST({VIEW_OY} AS BIGINT) AS y0,
                            tx AS x1, ty AS y1
                     FROM tgt),
            {_dda_sql('seg2', 'tx, ty, zt')},
            mids AS (SELECT d.*, COALESCE(c.z, 0.0) AS zc
                     FROM dda d LEFT JOIN c ON c.ix = d.x AND c.iy = d.y
                     WHERE NOT (d.x = {VIEW_OX} AND d.y = {VIEW_OY})
                       AND NOT (d.x = d.tx AND d.y = d.ty)),
            ob AS (SELECT tx, ty,
                     MAX(CASE WHEN (zc - zo.zo)
                                * SQRT(CAST((tx - {VIEW_OX}) * (tx - {VIEW_OX})
                                          + (ty - {VIEW_OY}) * (ty - {VIEW_OY}) AS DOUBLE))
                              >= (zt - zo.zo)
                                * SQRT(CAST((x - {VIEW_OX}) * (x - {VIEW_OX})
                                          + (y - {VIEW_OY}) * (y - {VIEW_OY}) AS DOUBLE))
                          THEN 1 ELSE 0 END) AS b
                   FROM mids, zo GROUP BY tx, ty)
            SELECT t.tx AS ix, t.ty AS iy, CAST(t.zt AS BIGINT) AS z,
                   COALESCE(ob.b, 0) = 0 AS visible
            FROM tgt t LEFT JOIN ob ON ob.tx = t.tx AND ob.ty = t.ty
        """,
        "hillshade_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, CAST(COUNT(*) AS DOUBLE) AS z FROM g GROUP BY 1, 2),
            f AS (SELECT c.ix - rx.r AS tx, c.iy - ry.r AS ty,
                         CASE WHEN rx.r = 0 AND ry.r = 0 THEN c.z ELSE 0.0 END AS self_z,
                         c.z * (rx.r * (2 - ABS(ry.r))) AS zwx,
                         c.z * (ry.r * (2 - ABS(rx.r))) AS zwy
                  FROM c, generate_series(-1, 1) rx(r), generate_series(-1, 1) ry(r)),
            a AS (SELECT tx AS ix, ty AS iy, SUM(self_z) AS n_self,
                         SUM(zwx) / 8.0 AS dzdx, SUM(zwy) / 8.0 AS dzdy
                  FROM f GROUP BY 1, 2),
            t AS (SELECT ix, iy, n_self, dzdx, dzdy,
                         ATAN(1.0 * SQRT(dzdx * dzdx + dzdy * dzdy)) AS slope,
                         CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN 0.0
                              ELSE ATAN2(dzdy, -dzdx) END AS aspect
                  FROM a)
            SELECT ix, iy, CAST(n_self AS BIGINT) AS n_self,
                   ROUND(dzdx, 6) AS dzdx, ROUND(dzdy, 6) AS dzdy,
                   ROUND(DEGREES(slope), 6) AS slope_deg,
                   ROUND(aspect, 6) AS aspect_rad,
                   ROUND(255.0 * GREATEST(0.0,
                         0.7071067811865476 * COS(slope)
                         + 0.7071067811865475 * SIN(slope) * COS(2.356194490192345 - aspect)), 4) AS hillshade
            FROM t
        """,
        # embedding covariance on the 1e-6 int64 lattice: exact integer
        # moments both sides; the only float ops are the shared final
        # rational→double division and the 1e-12 rescale
        "emb_cov": """
            WITH q AS (SELECT vec_id,
                              generate_subscripts(embedding, 1) - 1 AS i,
                              CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
                       FROM embeddings),
            s AS (SELECT i, SUM(v) AS si FROM q GROUP BY 1),
            cnt AS (SELECT COUNT(*) AS n FROM embeddings),
            p AS (SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS sij
                  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
                  GROUP BY 1, 2)
            SELECT p.i, p.j, cnt.n,
                   ROUND(CAST(cnt.n * p.sij - sa.si * sb.si AS DOUBLE)
                         / CAST(cnt.n * (cnt.n - 1) AS DOUBLE) * 1e-12, 9) AS cov
            FROM p CROSS JOIN cnt
                 JOIN s sa ON p.i = sa.i
                 JOIN s sb ON p.j = sb.i
        """,
        # D8 flow accumulation: argmax mirrored as a window, transitive
        # closure as a recursive CTE (paths are simple: z strictly drops)
        "flow_acc_events": f"""
            WITH RECURSIVE pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST(65535, (lon + 1800000000) * 65536 // 3600000000)) AS ix,
                         GREATEST(0, LEAST(65535, (lat + 900000000) * 65536 // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS z FROM g GROUP BY 1, 2),
            n AS (SELECT a.ix, a.iy, b.ix AS nx, b.iy AS ny,
                         (a.z - b.z) * (a.z - b.z)
                           * (CASE WHEN a.ix = b.ix OR a.iy = b.iy THEN 2 ELSE 1 END) AS key,
                         CASE WHEN b.ix - a.ix = 1  AND b.iy - a.iy = 0  THEN 0
                              WHEN b.ix - a.ix = -1 AND b.iy - a.iy = 0  THEN 1
                              WHEN b.ix - a.ix = 0  AND b.iy - a.iy = 1  THEN 2
                              WHEN b.ix - a.ix = 0  AND b.iy - a.iy = -1 THEN 3
                              WHEN b.ix - a.ix = 1  AND b.iy - a.iy = 1  THEN 4
                              WHEN b.ix - a.ix = 1  AND b.iy - a.iy = -1 THEN 5
                              WHEN b.ix - a.ix = -1 AND b.iy - a.iy = 1  THEN 6
                              ELSE 7 END AS i
                  FROM c a JOIN c b
                    ON ABS(a.ix - b.ix) <= 1 AND ABS(a.iy - b.iy) <= 1
                   AND NOT (a.ix = b.ix AND a.iy = b.iy) AND b.z < a.z),
            r AS (SELECT ix, iy, nx, ny FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY ix, iy
                                                 ORDER BY key DESC, i ASC) AS rn
                    FROM n) WHERE rn = 1),
            e AS (SELECT ix * 4294967296 + iy AS src, nx * 4294967296 + ny AS dst FROM r),
            walk(src, cur) AS (
                SELECT src, dst FROM e
                UNION ALL
                SELECT w.src, e.dst FROM walk w JOIN e ON w.cur = e.src),
            a AS (SELECT cur AS id, COUNT(*) AS acc FROM walk GROUP BY 1)
            SELECT c.ix, c.iy, c.z, r.nx AS rx, r.ny AS ry,
                   COALESCE(a.acc, 0) AS acc
            FROM c LEFT JOIN r USING (ix, iy)
                   LEFT JOIN a ON c.ix * 4294967296 + c.iy = a.id
        """,
        # hexbin: the double arithmetic below mirrors hex_qr_exprs token
        # for token (same shortest-repr literals, same op order) so the
        # cube-round bin assignment is bit-identical cross-engine
        "hexbin_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            f AS (SELECT value,
                         (CAST(lon AS DOUBLE) * 0.5773502691896257
                          - CAST(lat AS DOUBLE) * 0.3333333333333333) / 100000.0 AS xf,
                         (CAST(lat AS DOUBLE) * 0.6666666666666666) / 100000.0 AS zf
                  FROM pts),
            c AS (SELECT value, xf, zf, -xf - zf AS yf,
                         CAST(FLOOR(xf + 0.5) AS BIGINT) AS rx,
                         CAST(FLOOR(-xf - zf + 0.5) AS BIGINT) AS ry,
                         CAST(FLOOR(zf + 0.5) AS BIGINT) AS rz
                  FROM f),
            d AS (SELECT value, rx, ry, rz,
                         ABS(CAST(rx AS DOUBLE) - xf) AS dx,
                         ABS(CAST(ry AS DOUBLE) - yf) AS dy,
                         ABS(CAST(rz AS DOUBLE) - zf) AS dz
                  FROM c),
            h AS (SELECT value,
                         CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS q,
                         CASE WHEN (dx > dy AND dx > dz) OR dy > dz THEN rz
                              ELSE -rx - ry END AS r
                  FROM d)
            SELECT q, r,
                   ROUND((CAST(q AS DOUBLE) + CAST(r AS DOUBLE) / 2.0) * 173205.0807568877, 4) AS cx,
                   ROUND(CAST(r AS DOUBLE) * 150000.0, 4) AS cy,
                   COUNT(*) AS n,
                   ROUND(SUM(value), 6) AS sum_val
            FROM h GROUP BY 1, 2
        """,
        "pip_winding_events": f"""
            WITH pts AS (SELECT event_id, lat AS py, lon AS px FROM {synth}),
            e(x1, y1, x2, y2) AS (VALUES (134000000, 525600000, 133529772, 524514590), (133529772, 524514590, 134760845, 525185410), (134760845, 525185410, 133239155, 525185410), (133239155, 525185410, 134470228, 524514590), (134470228, 524514590, 134000000, 525600000)),
            t AS (
              SELECT p.event_id,
                MAX(CASE WHEN (e.x2 - e.x1) * (p.py - e.y1)
                              = (e.y2 - e.y1) * (p.px - e.x1)
                          AND p.px BETWEEN LEAST(e.x1, e.x2) AND GREATEST(e.x1, e.x2)
                          AND p.py BETWEEN LEAST(e.y1, e.y2) AND GREATEST(e.y1, e.y2)
                     THEN 1 ELSE 0 END) AS on_boundary,
                SUM(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py) THEN
                      CASE WHEN e.y2 - e.y1 > 0
                             AND (e.y2 - e.y1) * (p.px - e.x1)
                               < (e.x2 - e.x1) * (p.py - e.y1) THEN 1
                           WHEN e.y2 - e.y1 < 0
                             AND (e.y2 - e.y1) * (p.px - e.x1)
                               > (e.x2 - e.x1) * (p.py - e.y1) THEN -1
                           ELSE 0 END
                    ELSE 0 END) AS winding
              FROM pts p CROSS JOIN e GROUP BY p.event_id
            )
            SELECT 'star' AS polygon_id, event_id
            FROM t WHERE on_boundary = 1 OR winding <> 0
        """,
        "kde_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, COUNT(*) AS n_self FROM g GROUP BY 1, 2)
            SELECT c1.ix, c1.iy, c1.n_self,
                   ROUND(SUM(c2.n_self * GREATEST(0.0, 1.0 -
                     CAST((c2.ix - c1.ix) * (c2.ix - c1.ix)
                        + (c2.iy - c1.iy) * (c2.iy - c1.iy) AS DOUBLE) / 9.0)), 6) AS density
            FROM c c1 JOIN c c2
              ON abs(c1.ix - c2.ix) <= 2 AND abs(c1.iy - c2.iy) <= 2
            GROUP BY 1, 2, 3
        """,
        # marching squares mirrored literally: same corner-bit order
        # (bit i = dx + 2*dy), same strict > test, same center-average
        # saddle rule (cases 5/10 → pseudo-cases 50/51/100/101), same
        # (level-va)/(vb-va) interpolation on the same integer-count
        # doubles — bit-identical division, 6-decimal round both sides
        "contour_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            g AS (SELECT GREATEST(0, LEAST({(1 << 16) - 1}, (lon + 1800000000) * {1 << 16} // 3600000000)) AS ix,
                         GREATEST(0, LEAST({(1 << 16) - 1}, (lat + 900000000) * {1 << 16} // 1800000000)) AS iy
                  FROM pts),
            c AS (SELECT ix, iy, CAST(COUNT(*) AS DOUBLE) AS v FROM g GROUP BY 1, 2),
            fan AS (SELECT c.ix - d.dx AS bx, c.iy - d.dy AS by,
                           d.dx + 2 * d.dy AS corner, c.v
                    FROM c, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) d(dx, dy)),
            blk AS (SELECT bx, by,
                      COALESCE(MAX(CASE WHEN corner = 0 THEN v END), 0.0) AS v00,
                      COALESCE(MAX(CASE WHEN corner = 1 THEN v END), 0.0) AS v10,
                      COALESCE(MAX(CASE WHEN corner = 2 THEN v END), 0.0) AS v01,
                      COALESCE(MAX(CASE WHEN corner = 3 THEN v END), 0.0) AS v11
                    FROM fan GROUP BY 1, 2),
            cs AS (SELECT *,
                     CAST(v00 > 2.5 AS INT) + 2 * CAST(v10 > 2.5 AS INT)
                     + 4 * CAST(v11 > 2.5 AS INT) + 8 * CAST(v01 > 2.5 AS INT) AS c0,
                     (v00 + v10 + v01 + v11) / 4.0 AS ctr
                   FROM blk),
            eff AS (SELECT *, CASE WHEN c0 = 5 AND ctr > 2.5 THEN 50
                                   WHEN c0 = 5 THEN 51
                                   WHEN c0 = 10 AND ctr > 2.5 THEN 100
                                   WHEN c0 = 10 THEN 101
                                   ELSE c0 END AS cc
                    FROM cs),
            seg AS (SELECT e.*, m.ea, m.eb
                    FROM eff e
                    JOIN (VALUES
                      (1,'W','S'),(2,'S','E'),(3,'W','E'),(4,'E','N'),
                      (6,'S','N'),(7,'W','N'),(8,'N','W'),(9,'S','N'),
                      (11,'E','N'),(12,'W','E'),(13,'S','E'),(14,'W','S'),
                      (50,'S','E'),(50,'W','N'),(51,'W','S'),(51,'E','N'),
                      (100,'W','S'),(100,'E','N'),(101,'S','E'),(101,'W','N')
                    ) m(cc, ea, eb) ON e.cc = m.cc)
            SELECT bx, by,
              ROUND(bx + CASE ea WHEN 'S' THEN (2.5 - v00) / (v10 - v00)
                                 WHEN 'E' THEN 1.0
                                 WHEN 'N' THEN (2.5 - v01) / (v11 - v01)
                                 ELSE 0.0 END, 6) AS x0,
              ROUND(by + CASE ea WHEN 'S' THEN 0.0
                                 WHEN 'E' THEN (2.5 - v10) / (v11 - v10)
                                 WHEN 'N' THEN 1.0
                                 ELSE (2.5 - v00) / (v01 - v00) END, 6) AS y0,
              ROUND(bx + CASE eb WHEN 'S' THEN (2.5 - v00) / (v10 - v00)
                                 WHEN 'E' THEN 1.0
                                 WHEN 'N' THEN (2.5 - v01) / (v11 - v01)
                                 ELSE 0.0 END, 6) AS x1,
              ROUND(by + CASE eb WHEN 'S' THEN 0.0
                                 WHEN 'E' THEN (2.5 - v10) / (v11 - v10)
                                 WHEN 'N' THEN 1.0
                                 ELSE (2.5 - v00) / (v01 - v00) END, 6) AS y1
            FROM seg
        """,
        "raster_events": f"""
            WITH pts AS (SELECT * FROM {synth}),
            pix AS (SELECT user_id, ts, event_id,
                           (lon - {LON0}) * {GRID - 1} // {LONSPAN} AS x0,
                           {GRID - 1} - ((lat - {LAT0}) * {GRID - 1} // {LATSPAN}) AS y0
                    FROM pts),
            seg AS (SELECT user_id, x0, y0,
                           LEAD(x0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x1,
                           LEAD(y0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y1
                    FROM pix),
            seg2 AS (SELECT * FROM seg WHERE x1 IS NOT NULL),
            {_dda_sql('seg2', 'user_id')}
            SELECT DISTINCT user_id, x, y FROM dda
        """,
        "tile_events": f"""
            SELECT event_id,
              GREATEST(0, LEAST({(1 << ZOOM) - 1},
                CAST(FLOOR((lon / 10000000.0 + 180.0) / 360.0 * {1 << ZOOM}) AS BIGINT))) AS tile_x,
              GREATEST(0, LEAST({(1 << ZOOM) - 1},
                CAST(FLOOR((1.0 - LN(TAN(RADIANS(GREATEST(-85.05112878, LEAST(85.05112878, lat / 10000000.0))))
                  + 1.0 / COS(RADIANS(GREATEST(-85.05112878, LEAST(85.05112878, lat / 10000000.0)))))
                  / 3.141592653589793) / 2.0 * {1 << ZOOM}) AS BIGINT))) AS tile_y
            FROM {synth}
        """,
        # each level recomputed DIRECTLY from the points — the engine's
        # child-rollup must equal it bit-exactly (tile(z-1) == tile(z)>>1:
        # power-of-two scaling is exact in FP, floor(2b) div 2 == floor(b))
        "tile_pyramid_events": " UNION ALL ".join(
            f"""
            SELECT {z} AS zoom,
              GREATEST(0, LEAST({(1 << z) - 1},
                CAST(FLOOR((lon / 10000000.0 + 180.0) / 360.0 * {1 << z}) AS BIGINT))) AS tile_x,
              GREATEST(0, LEAST({(1 << z) - 1},
                CAST(FLOOR((1.0 - LN(TAN(RADIANS(GREATEST(-85.05112878, LEAST(85.05112878, lat / 10000000.0))))
                  + 1.0 / COS(RADIANS(GREATEST(-85.05112878, LEAST(85.05112878, lat / 10000000.0)))))
                  / 3.141592653589793) / 2.0 * {1 << z}) AS BIGINT))) AS tile_y,
              COUNT(*) AS n,
              CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM {synth} GROUP BY 1, 2, 3
            """
            for z in range(ZOOM, ZOOM - 5, -1)
        ),
        # interpolation join: two native ASOF joins (backward + forward),
        # identical exact-int ratio arithmetic
        "interp_events": """
            WITH pur AS (SELECT event_id, user_id, ts FROM events
                         WHERE event_type = 'purchase'),
            v AS (SELECT user_id, ts, MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
                  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
            lo AS (SELECT l.event_id, epoch_us(r.ts) AS t_lo, r.v AS v_lo
                   FROM pur l ASOF LEFT JOIN v r
                     ON l.user_id = r.user_id AND l.ts >= r.ts),
            hi AS (SELECT l.event_id, epoch_us(r.ts) AS t_hi, r.v AS v_hi
                   FROM pur l ASOF LEFT JOIN v r
                     ON l.user_id = r.user_id AND l.ts <= r.ts)
            SELECT p.user_id, p.event_id, p.ts, lo.t_lo, lo.v_lo, hi.t_hi, hi.v_hi,
                   CASE WHEN lo.t_lo IS NULL AND hi.t_hi IS NULL THEN NULL
                        WHEN lo.t_lo IS NULL THEN CAST(hi.v_hi AS DOUBLE)
                        WHEN hi.t_hi IS NULL THEN CAST(lo.v_lo AS DOUBLE)
                        WHEN hi.t_hi = lo.t_lo THEN CAST(lo.v_lo AS DOUBLE)
                        ELSE CAST(lo.v_lo AS DOUBLE)
                             + CAST(hi.v_hi - lo.v_lo AS DOUBLE)
                               * (CAST(epoch_us(p.ts) - lo.t_lo AS DOUBLE)
                                  / CAST(hi.t_hi - lo.t_lo AS DOUBLE))
                   END AS v_interp
            FROM pur p JOIN lo USING (event_id) JOIN hi USING (event_id)
        """,
        # seasonal profile: identical int64 hour bucket + exact means
        "seasonal_events": """
            WITH b AS (SELECT event_type,
                              CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events
                       WHERE value IS NOT NULL),
            ph AS (SELECT event_type, hour, COUNT(*) AS n, SUM(v) AS s
                   FROM b GROUP BY 1, 2),
            pk AS (SELECT event_type, SUM(n) AS kn, SUM(s) AS ks FROM ph GROUP BY 1)
            SELECT ph.event_type, ph.hour, ph.n,
                   CAST(ph.s AS DOUBLE) / ph.n AS mean_v,
                   CAST(pk.ks AS DOUBLE) / pk.kn AS key_mean,
                   CAST(ph.s AS DOUBLE) / ph.n - CAST(pk.ks AS DOUBLE) / pk.kn AS seasonal_idx
            FROM ph JOIN pk USING (event_type)
        """,
        # isotonic: PAVA via the exact minimax identity over range means
        "isotonic_events": """
            WITH b AS (SELECT event_type AS g,
                              LEAST(length(props), 63) AS x,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            a AS (SELECT g, x, COUNT(*) AS n, SUM(v) AS s FROM b GROUP BY 1, 2),
            r AS (SELECT g, x, n, s,
                         row_number() OVER w AS i,
                         SUM(s) OVER w AS cs,
                         SUM(n) OVER w AS cn
                  FROM a WINDOW w AS (PARTITION BY g ORDER BY x
                                      ROWS UNBOUNDED PRECEDING)),
            rng AS (SELECT r1.g, r1.i AS j, r2.i AS l,
                           CAST(r2.cs - (r1.cs - r1.s) AS DOUBLE)
                           / (r2.cn - (r1.cn - r1.n)) AS av
                    FROM r r1 JOIN r r2 ON r1.g = r2.g AND r2.i >= r1.i),
            mn AS (SELECT ri.g, ri.i, rng.j, MIN(rng.av) AS m
                   FROM r ri JOIN rng ON rng.g = ri.g AND rng.j <= ri.i AND rng.l >= ri.i
                   GROUP BY 1, 2, 3),
            ft AS (SELECT g, i, MAX(m) AS fit FROM mn GROUP BY 1, 2)
            SELECT r.g AS event_type, CAST(r.x AS BIGINT) AS x,
                   CAST(r.n AS BIGINT) AS n,
                   CAST(r.s AS DOUBLE) / r.n AS y_mean, ft.fit
            FROM r JOIN ft ON ft.g = r.g AND ft.i = r.i
        """,
        # CUSUM: drawdown identity as four window functions
        "cusum_events": """
            WITH b AS (SELECT event_type AS key, event_id AS o,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            p AS (SELECT key, o, v,
                         SUM(v - 6000) OVER w AS ph,
                         SUM(4000 - v) OVER w AS pl
                  FROM b WINDOW w AS (PARTITION BY key ORDER BY o
                                      ROWS UNBOUNDED PRECEDING)),
            d AS (SELECT key, o, v,
                         ph - LEAST(0, MIN(ph) OVER w) AS s_hi,
                         pl - LEAST(0, MIN(pl) OVER w) AS s_lo
                  FROM p WINDOW w AS (PARTITION BY key ORDER BY o
                                      ROWS UNBOUNDED PRECEDING))
            SELECT key, o, v, CAST(s_hi AS BIGINT) AS s_hi,
                   CAST(s_lo AS BIGINT) AS s_lo,
                   s_hi > 20000 OR s_lo > 20000 AS alarm
            FROM d
        """,
        # AMOC: identical prefix-sum candidates, rank-1 by (stat desc, t)
        "changepoint_events": """
            WITH b AS (SELECT event_type AS k, event_id AS o,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
            r AS (SELECT k, o, v,
                         row_number() OVER w AS t,
                         SUM(v) OVER (PARTITION BY k ORDER BY o
                                      ROWS UNBOUNDED PRECEDING) AS s,
                         COUNT(*) OVER (PARTITION BY k) AS n,
                         SUM(v) OVER (PARTITION BY k) AS tot
                  FROM b WINDOW w AS (PARTITION BY k ORDER BY o)),
            cand AS (SELECT k, o, t, n,
                            CAST(s AS DOUBLE) / t AS ml,
                            CAST(tot - s AS DOUBLE) / (n - t) AS mr,
                            abs(CAST(s AS DOUBLE) / t - CAST(tot - s AS DOUBLE) / (n - t))
                              * sqrt(CAST(t * (n - t) AS DOUBLE) / n) AS st
                     FROM r WHERE t < n),
            rk AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY st DESC, t) AS rn
                   FROM cand)
            SELECT k AS event_type, CAST(n AS BIGINT) AS n,
                   CAST(t AS BIGINT) AS t_star, o AS split_order,
                   ml AS mean_l, mr AS mean_r, st AS stat
            FROM rk WHERE rn = 1
        """,
        # SPRT: identical constant increments and boundaries
        "sprt_events": """
            WITH pu AS (SELECT user_id AS o,
                               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
                        FROM events GROUP BY 1),
            r AS (SELECT o, x,
                         SUM(CASE WHEN x = 1 THEN 0.0749013081731177 ELSE -1.2039728043259361 END)
                             OVER (ORDER BY o ROWS UNBOUNDED PRECEDING) AS llr,
                         row_number() OVER (ORDER BY o) AS i
                  FROM pu),
            c AS (SELECT i, llr,
                         CASE WHEN llr >= 2.9444389791664403 THEN 'accept_h1'
                              WHEN llr <= -2.9444389791664403 THEN 'accept_h0' END AS d
                  FROM r),
            f AS (SELECT i, d, llr FROM c WHERE d IS NOT NULL ORDER BY i LIMIT 1),
            lastr AS (SELECT llr FROM r ORDER BY i DESC LIMIT 1),
            a AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS n_pos FROM pu)
            SELECT CAST(a.n AS BIGINT) AS n, a.n_pos,
                   CAST(ROUND(lastr.llr, 6) AS DOUBLE) AS llr_final,
                   COALESCE(f.d, 'continue') AS decision,
                   CAST(f.i AS BIGINT) AS n_decided,
                   CAST(ROUND(f.llr, 6) AS DOUBLE) AS llr_at_decision
            FROM a, lastr LEFT JOIN f ON TRUE
        """,
        # CUPED: identical exact moments, pooled theta
        "cuped_events": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS us,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                       FROM events),
            m AS (SELECT CAST((MIN(us) + MAX(us)) / 2 AS BIGINT) AS m FROM e),
            per AS (SELECT user_id,
                           SUM(CASE WHEN us < m.m THEN v ELSE 0 END) AS x,
                           SUM(CASE WHEN us >= m.m THEN v ELSE 0 END) AS y
                    FROM e, m GROUP BY 1, m.m),
            seg AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g, x, y
                    FROM per),
            gg AS (SELECT g, COUNT(*) AS n,
                          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                          CAST(SUM(x * y) AS BIGINT) AS sxy,
                          CAST(SUM(x * x) AS BIGINT) AS sxx,
                          CAST(SUM(y * y) AS BIGINT) AS syy
                   FROM seg GROUP BY 1),
            p AS (SELECT SUM(n) AS pn, SUM(sx) AS px, SUM(sy) AS py,
                         SUM(sxy) AS pxy, SUM(sxx) AS pxx
                  FROM gg),
            th AS (SELECT CASE WHEN CAST(pxx AS DOUBLE) / pn
                                    - (CAST(px AS DOUBLE) / pn) * (CAST(px AS DOUBLE) / pn) > 0
                               THEN (CAST(pxy AS DOUBLE) / pn
                                     - (CAST(px AS DOUBLE) / pn) * (CAST(py AS DOUBLE) / pn))
                                    / (CAST(pxx AS DOUBLE) / pn
                                       - (CAST(px AS DOUBLE) / pn) * (CAST(px AS DOUBLE) / pn))
                               ELSE 0.0 END AS theta,
                          CAST(px AS DOUBLE) / pn AS xbar
                   FROM p),
            o AS (SELECT g, n,
                         CAST(sy AS DOUBLE) / n AS mr,
                         CAST(sx AS DOUBLE) / n AS mx,
                         CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vr,
                         CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS cg,
                         CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vx
                  FROM gg)
            SELECT o.g AS seg, CAST(o.n AS BIGINT) AS n,
                   ROUND(o.mr, 6) AS mean_raw,
                   ROUND(o.mr - th.theta * (o.mx - th.xbar), 6) AS mean_adj,
                   ROUND(o.vr, 6) AS var_raw,
                   ROUND(o.vr - 2 * th.theta * o.cg + th.theta * th.theta * o.vx, 6) AS var_adj,
                   ROUND(th.theta, 6) AS theta,
                   CASE WHEN o.vr > 0
                        THEN ROUND(1 - (o.vr - 2 * th.theta * o.cg
                                        + th.theta * th.theta * o.vx) / o.vr, 6)
                   END AS var_reduction
            FROM o, th
        """,
        # A/B Wilson: identical counts + interval tree
        "ab_conversion_events": """
            WITH pu AS (SELECT user_id,
                               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
                        FROM events GROUP BY 1),
            g AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS seg,
                         COUNT(*) AS n, SUM(conv) AS n_conv
                  FROM pu GROUP BY 1),
            c AS (SELECT seg, n, n_conv,
                         CAST(n_conv AS DOUBLE) / n AS p,
                         CAST(n AS DOUBLE) AS nd
                  FROM g)
            SELECT seg, CAST(n AS BIGINT) AS n, CAST(n_conv AS BIGINT) AS n_conv,
                   ROUND(p, 6) AS rate,
                   ROUND(GREATEST(0.0,
                     (p + 1.959963984540054 * 1.959963984540054 / (2 * nd)) / (1 + 1.959963984540054 * 1.959963984540054 / nd)
                     - (1.959963984540054 / (1 + 1.959963984540054 * 1.959963984540054 / nd))
                       * sqrt(p * (1 - p) / nd + 1.959963984540054 * 1.959963984540054 / (4 * nd * nd))), 6) AS wilson_lo,
                   ROUND(LEAST(1.0,
                     (p + 1.959963984540054 * 1.959963984540054 / (2 * nd)) / (1 + 1.959963984540054 * 1.959963984540054 / nd)
                     + (1.959963984540054 / (1 + 1.959963984540054 * 1.959963984540054 / nd))
                       * sqrt(p * (1 - p) / nd + 1.959963984540054 * 1.959963984540054 / (4 * nd * nd))), 6) AS wilson_hi
            FROM c
        """,
        # attribution: native ASOF for last-touch, window 1/n for linear
        "attribution_events": """
            WITH touches AS (SELECT user_id AS u, epoch_us(ts) AS tt,
                                    MIN(event_type) AS channel
                             FROM events WHERE event_type IN ('view', 'click')
                             GROUP BY 1, 2),
            convs AS (SELECT user_id AS u, epoch_us(ts) AS ct,
                             row_number() OVER () AS cid
                      FROM events WHERE event_type = 'purchase'),
            last AS (SELECT c.cid, t.channel, c.ct - t.tt AS gap
                     FROM convs c ASOF LEFT JOIN touches t
                       ON c.u = t.u AND c.ct >= t.tt),
            nl AS (SELECT channel, COUNT(*) AS n_last FROM last
                   WHERE channel IS NOT NULL AND gap <= 3600000000
                   GROUP BY 1),
            pairs AS (SELECT c.cid, t.channel
                      FROM convs c JOIN touches t
                        ON c.u = t.u AND t.tt <= c.ct
                       AND t.tt >= c.ct - 3600000000),
            pc AS (SELECT cid, COUNT(*) AS n FROM pairs GROUP BY 1),
            lin2 AS (SELECT p.channel, SUM(1.0 / pc.n) AS credit_linear
                     FROM pairs p JOIN pc USING (cid) GROUP BY 1),
            base(channel) AS (VALUES ('view'), ('click'))
            SELECT b.channel,
                   COALESCE(nl.n_last, 0) AS n_last,
                   ROUND(COALESCE(lin2.credit_linear, 0.0), 6) AS credit_linear
            FROM base b LEFT JOIN nl USING (channel) LEFT JOIN lin2 USING (channel)
        """,
        # entropy rate: same lag pairs, -sum n ln(n/ft) / N
        "entropy_rate_events": """
            WITH o AS (SELECT user_id, event_type,
                              LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
                       FROM events),
            pairs AS (SELECT event_type AS f, nxt AS t2, COUNT(*) AS n
                      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
            ft AS (SELECT f, SUM(n) AS ftn FROM pairs GROUP BY 1),
            a AS (SELECT CAST(SUM(p.n) AS BIGINT) AS n_pairs,
                         SUM(p.n * (ln(CAST(ft.ftn AS DOUBLE)) - ln(CAST(p.n AS DOUBLE)))) AS hsum,
                         COUNT(DISTINCT p.f) AS n_states
                  FROM pairs p JOIN ft USING (f))
            SELECT n_pairs, CAST(n_states AS BIGINT) AS n_states,
                   ROUND(hsum / n_pairs, 6) AS h_rate,
                   ROUND(ln(CAST(n_states AS DOUBLE)), 6) AS h_max,
                   CASE WHEN n_states > 1
                        THEN ROUND(1 - hsum / n_pairs / ln(CAST(n_states AS DOUBLE)), 6)
                   END AS predictability
            FROM a
        """,
        # log-rank: identical risk sets + hypergeometric moments
        "logrank_events": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
            pu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e GROUP BY 1),
            h AS (SELECT MAX(l) AS h FROM pu),
            life AS (SELECT CAST((l - f) // 3600000000 AS BIGINT) AS t,
                            CASE WHEN l < h.h - 86400000000 THEN 1 ELSE 0 END AS ev,
                            CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g
                     FROM pu, h),
            per AS (SELECT t,
                           SUM(CASE WHEN g = 'a' THEN ev ELSE 0 END) AS da,
                           SUM(ev) AS d,
                           SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS ca,
                           COUNT(*) AS c
                    FROM life GROUP BY 1),
            r AS (SELECT *,
                         SUM(ca) OVER () - COALESCE(SUM(ca) OVER
                             (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
                         SUM(c) OVER () - COALESCE(SUM(c) OVER
                             (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn
                  FROM per),
            f AS (SELECT * FROM r WHERE d > 0),
            a AS (SELECT CAST(SUM(da) AS BIGINT) AS o_a,
                         SUM(d * (CAST(na AS DOUBLE) / nn)) AS ea,
                         SUM(CASE WHEN nn > 1
                                  THEN d * (CAST(na AS DOUBLE) / nn)
                                       * (1 - CAST(na AS DOUBLE) / nn)
                                       * CAST(nn - d AS DOUBLE) / (nn - 1)
                                  ELSE 0.0 END) AS v
                  FROM f),
            tt AS (SELECT SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS n_a,
                          SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS n_b
                   FROM life)
            SELECT CAST(tt.n_a AS BIGINT) AS n_a, CAST(tt.n_b AS BIGINT) AS n_b,
                   a.o_a, ROUND(a.ea, 6) AS e_a,
                   CASE WHEN a.v > 0
                        THEN ROUND((a.o_a - a.ea) * (a.o_a - a.ea) / a.v, 6) END AS chi2
            FROM a, tt
        """,
        # Kaplan-Meier: identical reduced-table prefix algebra
        "survival_events": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
            pu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e GROUP BY 1),
            h AS (SELECT MAX(l) AS h FROM pu),
            life AS (SELECT CAST((l - f) // 3600000000 AS BIGINT) AS t,
                            CASE WHEN l < h.h - 86400000000 THEN 1 ELSE 0 END AS ev
                     FROM pu, h),
            per_t AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS n_event,
                             CAST(SUM(1 - ev) AS BIGINT) AS n_censored
                      FROM life GROUP BY 1),
            r AS (SELECT *,
                         CAST(SUM(n_event + n_censored) OVER () 
                              - COALESCE(SUM(n_event + n_censored) OVER
                                  (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
                  FROM per_t),
            s AS (SELECT *,
                         ROUND(exp(SUM(CASE WHEN n_event > 0
                                            THEN ln(CAST(n_risk - n_event AS DOUBLE) / n_risk)
                                            ELSE 0.0 END)
                                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) AS s
                  FROM r)
            SELECT t, n_risk, n_event, n_censored, s FROM s
        """,
        # concurrency: identical collapsed change points + running sum
        "concurrency_events": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
            iv AS (SELECT MIN(us) AS s, MAX(us) + 3600000000 AS en
                   FROM e GROUP BY user_id),
            pts AS (SELECT s AS t, 1 AS d FROM iv
                    UNION ALL SELECT en, -1 FROM iv),
            per AS (SELECT t, CAST(SUM(d) AS BIGINT) AS delta
                    FROM pts GROUP BY 1 HAVING SUM(d) <> 0)
            SELECT t, delta,
                   CAST(SUM(delta) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS concurrent
            FROM per
        """,
        "asof_purchase_view": """
            SELECT l.event_id, l.user_id, r.view_event_id,
                   epoch_us(l.ts) - epoch_us(r.vts) AS gap_us, r.view_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
            ASOF LEFT JOIN (SELECT user_id, ts AS vts, event_id AS view_event_id,
                                   value AS view_value
                            FROM events WHERE event_type = 'view') r
            ON l.user_id = r.user_id AND l.ts >= r.vts
        """,
        # STRICTLY > gap starts a new session (pinned to Spark
        # session_window's INCLUSIVE merge rule — see operators/sessions.py)
        "sessions_events": f"""
            WITH o AS (SELECT user_id, ts, event_id,
                              epoch_us(ts) - epoch_us(LAG(ts) OVER
                                (PARTITION BY user_id ORDER BY ts, event_id)) AS d
                       FROM events),
            s AS (SELECT user_id, ts,
                         SUM(CASE WHEN d IS NULL OR d <= {SESSION_GAP_S * 1_000_000} THEN 0 ELSE 1 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
                  FROM o)
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
                   COUNT(*) AS n_events,
                   (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000.0 AS duration_s
            FROM s GROUP BY 1, 2
        """,
        "span_explode_docs": """
            SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) - 1 AS o,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        """,
        "span_reassemble_docs": """
            WITH ex AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) - 1 AS o,
                               unnest(string_split(text, ' ')) AS token FROM documents)
            SELECT doc_id, string_agg(token, ' ' ORDER BY o) AS rebuilt FROM ex GROUP BY doc_id
        """,
        "dedup_exact_docs": """
            SELECT md5(text) AS dup_group, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
            FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "fingerprint_docs": (
            f"SELECT doc_id, md5(regexp_replace(lower(text), '{_WS_SQL}+', ' ', 'g')) AS fp FROM documents"
        ),
        "pii_scrub_docs": _pii_oracle_sql(),
        "bigram_logprob_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            v AS (SELECT COUNT(DISTINCT tok) AS vs
                  FROM (SELECT unnest(ws) AS tok FROM base)),
            g AS (SELECT doc_id, ws[u.i + 1] AS w1, ws[u.i + 2] AS w2
                  FROM base, UNNEST(range(0, len(ws) - 1)) AS u(i)
                  WHERE len(ws) >= 2),
            cb AS (SELECT w1, w2, COUNT(*) AS cb FROM g GROUP BY 1, 2),
            c1 AS (SELECT w1, COUNT(*) AS c1 FROM g GROUP BY 1),
            scored AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   round(AVG(-log2(CAST(cb + 1 AS DOUBLE) / CAST(c1 + vs AS DOUBLE))), 6)
                     AS avg_neg_log2p
                   FROM g JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
                   GROUP BY doc_id)
            SELECT doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   avg_neg_log2p
            FROM documents LEFT JOIN scored USING (doc_id)
        """,
        "string_offsets_docs": f"""
            WITH ws AS (SELECT DISTINCT unnest({_ws_split_sql()}) AS w
                        FROM documents)
            SELECT w, CAST(SUM(length(w) + 1) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING)
                      - (length(w) + 1) AS BIGINT) AS offset
            FROM ws
        """,
        "winnow_fingerprint_docs": f"""
            WITH base AS (SELECT doc_id, lower(text) AS ltext,
                                 {_ws_split_sql()} AS ws FROM documents),
            sh AS (SELECT doc_id,
                          CASE WHEN len(ws) >= 3
                               THEN list_transform(generate_series(0, len(ws) - 3),
                                                   i -> array_to_string(list_slice(ws, i + 1, i + 3), ' '))
                               ELSE [ltext] END AS shingles
                   FROM base),
            hs AS (SELECT doc_id,
                          list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hlist
                   FROM sh),
            fps AS (SELECT doc_id,
                           CASE WHEN len(hlist) >= 4
                                THEN list_distinct(list_transform(generate_series(0, len(hlist) - 4),
                                                                  j -> list_min(list_slice(hlist, j + 1, j + 4))))
                                ELSE [list_min(hlist)] END AS f
                    FROM hs)
            SELECT doc_id, unnest(f) AS fp FROM fps
        """,
        # lexical diversity: independent explode->group restatement of
        # the in-row sorted-run counts (split yields [''] on empty text,
        # so every doc has n_tokens >= 1 and both ratios are defined)
        "lexdiv_docs": f"""
            WITH t AS (SELECT doc_id, {_ws_split_sql()} AS toks FROM documents),
            x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM x GROUP BY 1, 2),
            a AS (SELECT doc_id,
                         CAST(SUM(c) AS INT) AS n_tokens,
                         CAST(COUNT(*) AS BIGINT) AS n_types,
                         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
                  FROM tc GROUP BY 1)
            SELECT doc_id, n_tokens, n_types, n_hapax,
                   CAST(n_types AS DOUBLE) / n_tokens AS ttr,
                   CAST(n_hapax AS DOUBLE) / n_types AS hapax_ratio
            FROM a
        """,
        # Zipf: single-window restatement of the two-phase rank, same
        # (count desc, token asc) tie-break, ROUND-9 ln-float contract
        "zipf_docs": f"""
            WITH t AS (SELECT lang AS g, unnest({_ws_split_sql()}) AS tok FROM documents),
            tf AS (SELECT g, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
            rk AS (SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c DESC, tok) AS rk
                   FROM tf),
            top AS (SELECT g, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
                    FROM rk WHERE rk <= 128),
            a AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                         SUM(x * x) AS sxx, SUM(x * y) AS sxy
                  FROM top GROUP BY 1),
            f AS (SELECT g, n, n * sxx - sx * sx AS den,
                         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw,
                         sx, sy
                  FROM a)
            SELECT g AS lang, CAST(n AS BIGINT) AS n_ranks,
                   CASE WHEN den <> 0 THEN ROUND(slope_raw, 9) END AS slope,
                   CASE WHEN den <> 0 THEN ROUND((sy - slope_raw * sx) / n, 9) END AS intercept
            FROM f
        """,
        # DSIR: same md5-bucket uni+bigram features, conditional-agg
        # target/source counts, Laplace over all 4096 buckets, ROUND 9
        "dsir_docs": f"""
            WITH t AS (SELECT doc_id, lang = 'en' AS tgt, {_ws_split_sql()} AS ws
                       FROM documents),
            fe AS (SELECT doc_id, tgt,
                          list_concat(ws,
                            CASE WHEN len(ws) >= 2
                                 THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
                                 ELSE [] END) AS fs
                   FROM t),
            ex AS (SELECT doc_id, tgt,
                          unnest(list_transform(fs, f -> CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 4096)) AS b
                   FROM fe),
            dist AS (SELECT b, COUNT(*) AS cs,
                            SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
                     FROM ex GROUP BY 1),
            tot AS (SELECT ln(SUM(cs) + 4096.0) - ln(SUM(ct) + 4096.0) AS c FROM dist),
            lr AS (SELECT b, ln(CAST(ct AS DOUBLE) + 1) - ln(CAST(cs AS DOUBLE) + 1) AS lr
                   FROM dist),
            db AS (SELECT doc_id, b, COUNT(*) AS m FROM ex GROUP BY 1, 2),
            w AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_feats, SUM(m * lr) AS s
                  FROM db JOIN lr USING (b) GROUP BY 1)
            SELECT doc_id, n_feats, ROUND(s + n_feats * tot.c, 9) AS log_weight
            FROM w, tot
        """,
        # IPF: window-sum restatement of the three row/column scalings
        "ipf_events": f"""
            WITH pts AS ({_SYNTH_SQL}),
            z AS (SELECT lat // 500000 AS zx, lon // 500000 AS zy, COUNT(*) AS tot
                  FROM pts GROUP BY 1, 2),
            od0 AS (SELECT a.zx * 1000 + a.zy AS o, b.zx * 1000 + b.zy AS d,
                           a.tot AS o_tot, b.tot AS d_tot,
                           1000000.0 / (1 + (a.zx - b.zx) * (a.zx - b.zx)
                                          + (a.zy - b.zy) * (a.zy - b.zy)) AS t
                    FROM z a, z b),
            r1 AS (SELECT o, d, o_tot, d_tot,
                          t * o_tot / (SUM(t) OVER (PARTITION BY o)) AS t FROM od0),
            c1 AS (SELECT o, d, o_tot, d_tot,
                          t * d_tot / (SUM(t) OVER (PARTITION BY d)) AS t FROM r1),
            r2 AS (SELECT o, d, o_tot, d_tot,
                          t * o_tot / (SUM(t) OVER (PARTITION BY o)) AS t FROM c1),
            c2 AS (SELECT o, d, o_tot, d_tot,
                          t * d_tot / (SUM(t) OVER (PARTITION BY d)) AS t FROM r2),
            r3 AS (SELECT o, d, o_tot, d_tot,
                          t * o_tot / (SUM(t) OVER (PARTITION BY o)) AS t FROM c2),
            c3 AS (SELECT o, d, o_tot, d_tot,
                          t * d_tot / (SUM(t) OVER (PARTITION BY d)) AS t FROM r3)
            SELECT o, d, ROUND(t, 6) AS t FROM c3
        """,
        # held-out perplexity: split CC + smoothed unigram CE restated
        "heldout_ppl_docs": f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql(0.5)}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT u AS node FROM e),
            walk(node, lbl) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node
            ),
            cc AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
            sp AS (SELECT d.doc_id,
                          CASE WHEN CAST('0x' || substr(md5('split:' ||
                                   CAST(COALESCE(cc.component, d.doc_id) AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 10 THEN 'test'
                               WHEN CAST('0x' || substr(md5('split:' ||
                                   CAST(COALESCE(cc.component, d.doc_id) AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 20 THEN 'val'
                               ELSE 'train' END AS split
                   FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
            toks AS (SELECT sp.split, unnest({_ws_split_sql()}) AS tok
                     FROM documents JOIN sp USING (doc_id)),
            train AS (SELECT tok, COUNT(*) AS c FROM toks WHERE split = 'train' GROUP BY 1),
            ts AS (SELECT SUM(c) AS nt, COUNT(*) AS v FROM train),
            val AS (SELECT ln(COALESCE(tr.c, 0) + 1.0)
                           - ln(CAST(ts.nt + ts.v + 1 AS DOUBLE)) AS lp
                    FROM toks LEFT JOIN train tr USING (tok), ts
                    WHERE toks.split = 'val'),
            a AS (SELECT COUNT(*) AS n_val_tok, ROUND(-SUM(lp) / COUNT(*), 6) AS ce FROM val)
            SELECT CAST(ts.nt AS BIGINT) AS n_train_tok,
                   CAST(ts.v AS BIGINT) AS vocab,
                   CAST(a.n_val_tok AS BIGINT) AS n_val_tok,
                   a.ce, ROUND(exp(a.ce), 4) AS ppl
            FROM a, ts
        """,
        # leakage-safe split: recursive-CTE CC over the same pair graph,
        # singleton clusters via LEFT JOIN, portable md5 bucket mod 100
        "split_docs": f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql(0.5)}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT u AS node FROM e),
            walk(node, lbl) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node
            ),
            cc AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
            base AS (SELECT d.doc_id,
                            COALESCE(cc.component, d.doc_id) AS cluster
                     FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
            b AS (SELECT doc_id, cluster,
                         CAST('0x' || substr(md5('split:' || CAST(cluster AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bk
                  FROM base)
            SELECT doc_id, cluster,
                   CASE WHEN bk < 10 THEN 'test'
                        WHEN bk < 20 THEN 'val'
                        ELSE 'train' END AS split
            FROM b
        """,
        # corpus KL: same buckets + smoothing; full grid via range join
        "kl_docs": f"""
            WITH t AS (SELECT lang AS g, unnest({_ws_split_sql()}) AS tok FROM documents),
            ex AS (SELECT g, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS b
                   FROM t),
            cl AS (SELECT g, b, COUNT(*) AS cl FROM ex GROUP BY 1, 2),
            cb AS (SELECT b, COUNT(*) AS cb FROM ex GROUP BY 1),
            nl AS (SELECT g, COUNT(*) AS nl FROM ex GROUP BY 1),
            nn AS (SELECT COUNT(*) AS n FROM ex),
            grid AS (SELECT nl.g, nl.nl, r.range AS b
                     FROM nl CROSS JOIN range(0, 1024) r),
            j AS (SELECT grid.g, grid.nl,
                         COALESCE(cl.cl, 0) AS cl, COALESCE(cb.cb, 0) AS cb, nn.n
                  FROM grid LEFT JOIN cl ON cl.g = grid.g AND cl.b = grid.b
                            LEFT JOIN cb ON cb.b = grid.b
                            CROSS JOIN nn),
            terms AS (SELECT g, nl,
                             (CAST(cl AS DOUBLE) + 1) / (CAST(nl AS DOUBLE) + 1024)
                             * (ln(CAST(cl AS DOUBLE) + 1) - ln(CAST(nl AS DOUBLE) + 1024)
                                - ln(CAST(cb AS DOUBLE) + 1) + ln(CAST(n AS DOUBLE) + 1024)) AS term
                      FROM j)
            SELECT g AS lang, CAST(MIN(nl) AS BIGINT) AS n_tokens,
                   ROUND(SUM(term), 6) AS kl
            FROM terms GROUP BY 1
        """,
        # Heaps: per-doc counts via the explode->group path, same OLS
        "heaps_docs": f"""
            WITH t AS (SELECT doc_id, lang, {_ws_split_sql()} AS toks FROM documents),
            x AS (SELECT doc_id, lang, unnest(toks) AS tok FROM t),
            tc AS (SELECT doc_id, lang, tok, COUNT(*) AS c FROM x GROUP BY 1, 2, 3),
            pd AS (SELECT doc_id, lang, SUM(c) AS n_tokens, COUNT(*) AS n_types
                   FROM tc GROUP BY 1, 2),
            xy AS (SELECT lang AS g, ln(CAST(n_tokens AS DOUBLE)) AS x,
                          ln(CAST(n_types AS DOUBLE)) AS y
                   FROM pd),
            a AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
                  FROM xy GROUP BY 1)
            SELECT g AS lang, CAST(n AS BIGINT) AS n_docs,
                   CASE WHEN n * sxx - sx * sx <> 0
                        THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) END AS beta,
                   CASE WHEN n * sxx - sx * sx <> 0
                        THEN ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9) END AS ln_k,
                   CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
                        THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) END AS r2
            FROM a
        """,
        # CDC dedup accounting: same chunk table, group by digest
        "cdc_dedup_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            h AS (SELECT doc_id, ws,
                         list_transform(ws, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
                  FROM base),
            b AS (SELECT doc_id, ws,
                         list_filter(generate_series(1, len(ws)),
                                     i -> hs[i] % 8 = 0 OR i = len(ws)) AS bp
                  FROM h),
            sp AS (SELECT doc_id, ws,
                          list_concat([0], list_slice(bp, 1, len(bp) - 1)) AS st, bp
                   FROM b),
            ch AS (SELECT md5(array_to_string(list_slice(ws, st[j] + 1, bp[j]), ' ')) AS digest,
                          bp[j] - st[j] AS n_tok
                   FROM sp, LATERAL (SELECT unnest(generate_series(1, len(bp))) AS j) u),
            per AS (SELECT digest, COUNT(*) AS n, MIN(n_tok) AS t FROM ch GROUP BY 1),
            a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_chunks,
                         CAST(COUNT(*) AS BIGINT) AS n_unique,
                         CAST(SUM(n * t) AS BIGINT) AS tok_total,
                         CAST(SUM(t) AS BIGINT) AS tok_stored
                  FROM per)
            SELECT n_chunks, n_unique, tok_total, tok_stored,
                   CAST(n_unique AS DOUBLE) / n_chunks AS unique_ratio,
                   1.0 - CAST(tok_stored AS DOUBLE) / tok_total AS savings
            FROM a
        """,
        # CDC: same 32-bit hash family, list-lambda restatement
        "cdc_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            h AS (SELECT doc_id, ws,
                         list_transform(ws, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
                  FROM base),
            b AS (SELECT doc_id, ws,
                         list_filter(generate_series(1, len(ws)),
                                     i -> hs[i] % 8 = 0 OR i = len(ws)) AS bp
                  FROM h),
            sp AS (SELECT doc_id, ws,
                          list_concat([0], list_slice(bp, 1, len(bp) - 1)) AS st, bp
                   FROM b),
            ch AS (SELECT doc_id,
                          list_transform(generate_series(1, len(bp)),
                            j -> struct_pack(start_tok := st[j] + 1,
                                             n_tok := bp[j] - st[j],
                                             digest := md5(array_to_string(
                                                 list_slice(ws, st[j] + 1, bp[j]), ' ')))) AS cs
                   FROM sp)
            SELECT doc_id, CAST(u.i - 1 AS INT) AS chunk_idx,
                   CAST(c.start_tok AS INT) AS start_tok,
                   CAST(c.n_tok AS INT) AS n_tok,
                   c.digest AS digest
            FROM ch, LATERAL (SELECT unnest(cs) AS c,
                                     unnest(generate_series(1, len(cs))) AS i) u
        """,
        # bloom-pruned join: the PLAIN join — no-false-negative identity
        "bloom_join_orders": """
            SELECT o.o_orderpriority, c.c_nationkey,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY 1, 2
        """,
        # co-purchase: self-join restatement of the in-row pair fan-out
        "copurchase_parts": """
            WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it
                       FROM lineitem GROUP BY 1, 2),
            sz AS (SELECT bk, COUNT(*) AS n FROM b GROUP BY 1),
            ok AS (SELECT bk FROM sz WHERE n BETWEEN 2 AND 64),
            p AS (SELECT a.it AS item_a, c.it AS item_b
                  FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
                  WHERE a.bk IN (SELECT bk FROM ok))
            SELECT item_a, item_b, COUNT(*) AS n_baskets
            FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2
        """,
        # JS: same buckets/smoothing; mixture in the same expression
        "js_docs": f"""
            WITH t AS (SELECT lang AS g, unnest({_ws_split_sql()}) AS tok FROM documents),
            ex AS (SELECT g, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS b
                   FROM t),
            cl AS (SELECT g, b, COUNT(*) AS cl FROM ex GROUP BY 1, 2),
            cb AS (SELECT b, SUM(cl) AS cb FROM cl GROUP BY 1),
            nl AS (SELECT g, SUM(cl) AS nl FROM cl GROUP BY 1),
            nn AS (SELECT SUM(cl) AS n FROM cl),
            grid AS (SELECT nl.g, nl.nl, r.range AS b
                     FROM nl CROSS JOIN range(0, 1024) r),
            j AS (SELECT grid.g, grid.nl,
                         COALESCE(cl.cl, 0) AS cl, COALESCE(cb.cb, 0) AS cb, nn.n
                  FROM grid LEFT JOIN cl ON cl.g = grid.g AND cl.b = grid.b
                            LEFT JOIN cb ON cb.b = grid.b
                            CROSS JOIN nn),
            terms AS (SELECT g, nl,
                             (CAST(cl AS DOUBLE) + 1) / (CAST(nl AS DOUBLE) + 1024) AS p,
                             (CAST(cb AS DOUBLE) + 1) / (CAST(n AS DOUBLE) + 1024) AS q
                      FROM j)
            SELECT g AS lang, CAST(MIN(nl) AS BIGINT) AS n_tokens,
                   ROUND(SUM(p * (ln(p) - ln((p + q) / 2)) / 2
                             + q * (ln(q) - ln((p + q) / 2)) / 2), 6) AS js
            FROM terms GROUP BY 1
        """,
        "token_count_docs": f"""
            SELECT doc_id, len({_ws_split_sql()}) AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_SQL_INNER}]')) AS n_bpeish
            FROM documents
        """,
        # chunking: restate count + slices; DuckDB list slicing is
        # 1-based inclusive and clips at the end, matching F.slice's
        # shorter-final-window behavior.
        "chunk_docs": f"""
            WITH t AS (SELECT doc_id, {_ws_split_sql()} AS toks FROM documents),
            s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
            mm AS (SELECT *, CASE WHEN n <= {CHUNK_WINDOW} THEN 1
                                  ELSE 1 + (n - {CHUNK_WINDOW} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
                             END AS m FROM s),
            c AS (SELECT doc_id, toks, UNNEST(generate_series(0, m - 1)) AS chunk_idx FROM mm)
            SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT) AS start_tok,
                   CAST(len(toks[(chunk_idx * {CHUNK_STRIDE} + 1):(chunk_idx * {CHUNK_STRIDE} + {CHUNK_WINDOW})]) AS INT) AS n_tok,
                   array_to_string(toks[(chunk_idx * {CHUNK_STRIDE} + 1):(chunk_idx * {CHUNK_STRIDE} + {CHUNK_WINDOW})], ' ') AS chunk_text
            FROM c
        """,
        # boilerplate strip: generate_series line fan-out (scalar-list
        # form — the table-function form can't take column args), the
        # same >= 2-distinct-docs-per-source rule, ordered string_agg
        # whose NULL-skip drops the stripped lines
        "boilerplate_docs": f"""
            WITH t AS (SELECT doc_id, source, {_ws_split_sql()} AS ws FROM documents),
            l AS (SELECT doc_id, source,
                         unnest(list_transform(
                             generate_series(0, CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1),
                             k -> struct_pack(li := k,
                                              line := array_to_string(ws[k*3+1 : k*3+3], ' ')))) AS e
                  FROM t),
            le AS (SELECT doc_id, source, e.li AS li, e.line AS line FROM l),
            b AS (SELECT source, line FROM le
                  GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) >= 2),
            j AS (SELECT le.doc_id, le.li, le.line, (b.line IS NOT NULL) AS boiler
                  FROM le LEFT JOIN b ON le.source = b.source AND le.line = b.line)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                   COALESCE(string_agg(CASE WHEN NOT boiler THEN line END, ' ' ORDER BY li),
                            '') AS clean_text
            FROM j GROUP BY 1
        """,
        # packing: naive window-SUM offsets + generate_series segment
        # explode — the engine's two-pass prefix sum must agree exactly.
        "pack_docs": f"""
            WITH t AS (SELECT doc_id, len({_ws_split_sql()}) AS n FROM documents),
            o AS (SELECT doc_id, n,
                         CAST(COALESCE(SUM(n + 1) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                              AS BIGINT) AS g_off
                  FROM t),
            e AS (SELECT *, UNNEST(generate_series(g_off // {PACK_CAPACITY},
                                                   (g_off + n - 1) // {PACK_CAPACITY})) AS seq_id
                  FROM o)
            SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
                   CAST(GREATEST(g_off, seq_id * {PACK_CAPACITY}) - g_off AS BIGINT) AS doc_tok_start,
                   CAST(LEAST(g_off + n - 1, (seq_id + 1) * {PACK_CAPACITY} - 1)
                        - GREATEST(g_off, seq_id * {PACK_CAPACITY}) + 1 AS BIGINT) AS n_tok,
                   CAST(GREATEST(g_off, seq_id * {PACK_CAPACITY}) - seq_id * {PACK_CAPACITY} AS BIGINT) AS seq_off
            FROM e
        """,
        "lang_id_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            r AS (SELECT doc_id, len(ws) AS n_words,
                         CAST(len(list_filter(ws, w -> w IN ({sw_en}))) AS DOUBLE) / len(ws) AS en_ratio,
                         CAST(len(list_filter(ws, w -> w IN ({sw_de}))) AS DOUBLE) / len(ws) AS de_ratio,
                         CAST(len(list_filter(ws, w -> w IN ({sw_fr}))) AS DOUBLE) / len(ws) AS fr_ratio
                  FROM base)
            SELECT doc_id, n_words, en_ratio,
                   CASE WHEN en_ratio >= de_ratio AND en_ratio >= fr_ratio AND en_ratio > 0 THEN 'en'
                        WHEN de_ratio >= fr_ratio AND de_ratio > 0 THEN 'de'
                        WHEN fr_ratio > 0 THEN 'fr' ELSE 'unk' END AS lang_pred
            FROM r
        """,
        "feature_hash_docs": f"""
            WITH toks AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            vecs AS (SELECT doc_id,
                            list_transform(range(0, 16), i ->
                              CAST(coalesce(list_sum(list_transform(ws, t ->
                                CASE WHEN CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 16 = i THEN (CAST('0x' || substr(md5('s:' || t), 1, 15) AS BIGINT) % 2 * 2 - 1) ELSE 0 END)), 0) AS BIGINT)
                            ) AS vec
                     FROM toks),
            ex AS (SELECT doc_id, vec, unnest(range(0, 16)) AS i FROM vecs)
            SELECT doc_id, CAST(i AS INT) AS i, vec[CAST(i AS BIGINT) + 1] AS v FROM ex
        """,
        "quality_docs": f"""
            WITH base AS (SELECT doc_id, length(text) AS n_chars,
                                 {_ws_split_sql()} AS ws FROM documents)
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, len(ws) AS n_words,
                   CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') AS DOUBLE) / len(ws) AS avg_word_len,
                   CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio
            FROM base
        """,
        # TF-IDF: df recomputed from the tf table (docs containing term),
        # idf = ln(N/df), ties by term ascending — mirrors tfidf_top_terms.
        "bm25_docs": _bm25_oracle_sql(),
        "freq_pairs_docs": _freq_pairs_oracle_sql(),
        "editdist_docs": f"""
            WITH s AS (SELECT doc_id,
                              array_to_string(list_slice({_ws_split_sql("lower(text)")}, 1, 6), ' ') AS st
                       FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.st, b.st) AS BIGINT) AS dist
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE abs(length(a.st) - length(b.st)) <= {EDIT_DIST_MAX}
              AND levenshtein(a.st, b.st) <= {EDIT_DIST_MAX}
        """,
        "hampel_events": f"""
            WITH pts AS (SELECT user_id, event_id,
                                CAST((event_id * {A_LAT}) % {LATSPAN}
                                     + CASE WHEN event_id % 53 = 0 THEN 40000000 ELSE 0 END
                                     AS BIGINT) AS v
                         FROM events),
            c AS (SELECT user_id, COUNT(*) AS n FROM pts GROUP BY user_id),
            r AS (SELECT user_id, v,
                         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v) AS rn
                  FROM pts),
            med AS (SELECT r.user_id, r.v AS med
                    FROM r JOIN c USING (user_id) WHERE r.rn = (c.n + 1) // 2),
            d AS (SELECT p.user_id, p.event_id, p.v, m.med, abs(p.v - m.med) AS dev
                  FROM pts p JOIN med m USING (user_id)),
            r2 AS (SELECT user_id, dev,
                          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dev) AS rn
                   FROM d),
            mad AS (SELECT r2.user_id, r2.dev AS mad
                    FROM r2 JOIN c USING (user_id) WHERE r2.rn = (c.n + 1) // 2)
            SELECT d.event_id, d.user_id, d.v AS value, d.med, md.mad
            FROM d JOIN mad md USING (user_id)
            WHERE d.dev * 1 > md.mad * 3
        """,
        "grouped_quantile_events": f"""
            WITH pts AS (SELECT user_id, lat FROM ({_SYNTH_SQL}) WHERE lat IS NOT NULL),
            r AS (SELECT user_id, lat,
                         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY lat) AS rn
                  FROM pts),
            c AS (SELECT user_id, COUNT(*) AS n FROM pts GROUP BY user_id),
            k AS (SELECT user_id, CAST(q_num AS BIGINT) AS q_num,
                         CAST(q_den AS BIGINT) AS q_den,
                         (q_num * n + q_den - 1) // q_den AS k
                  FROM c CROSS JOIN (VALUES (1, 2), (9, 10)) q(q_num, q_den))
            SELECT k.user_id, k.q_num, k.q_den, k.k, r.lat AS value
            FROM k JOIN r ON r.user_id = k.user_id AND r.rn = k.k
        """,
        "quantile_events": f"""
            WITH pts AS (SELECT lat FROM ({_SYNTH_SQL}) WHERE lat IS NOT NULL),
            nn AS (SELECT COUNT(*) AS n FROM pts),
            ranks AS (SELECT q.num, q.den,
                             (q.num * nn.n + q.den - 1) // q.den AS k
                      FROM (VALUES {', '.join(f'({n}, {d})' for n, d in QUANTILE_QS)})
                           q(num, den), nn),
            ordered AS (SELECT lat, ROW_NUMBER() OVER (ORDER BY lat) AS rn FROM pts)
            SELECT CAST(r.num AS BIGINT) AS num, CAST(r.den AS BIGINT) AS den,
                   CAST(r.k AS BIGINT) AS k, CAST(o.lat AS BIGINT) AS value
            FROM ranks r JOIN ordered o ON o.rn = r.k
        """,
        "densify_events": f"""
            WITH pts AS (SELECT user_id, ts, event_id, lat, lon FROM ({_SYNTH_SQL})),
            seg AS (SELECT user_id, lat AS la0, lon AS lo0,
                           LEAD(lat) OVER w AS la1, LEAD(lon) OVER w AS lo1,
                           ROW_NUMBER() OVER w - 1 AS seg
                    FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            kk AS (SELECT user_id, seg, la0, lo0, la1, lo1,
                          GREATEST(1, (GREATEST(ABS(la1 - la0), ABS(lo1 - lo0))
                                       + {DENSIFY_GAP - 1}) // {DENSIFY_GAP}) AS k
                   FROM seg WHERE la1 IS NOT NULL),
            dense AS (SELECT user_id, seg, s.j AS j, k,
                             CAST(la0 AS DOUBLE) + CAST(la1 - la0 AS DOUBLE)
                               * (CAST(s.j AS DOUBLE) / CAST(k AS DOUBLE)) AS lat_d,
                             CAST(lo0 AS DOUBLE) + CAST(lo1 - lo0 AS DOUBLE)
                               * (CAST(s.j AS DOUBLE) / CAST(k AS DOUBLE)) AS lon_d
                      FROM kk, generate_series(0, 63) s(j) WHERE s.j < k),
            fin AS (SELECT user_id, seg, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS k,
                           CAST(la0 AS DOUBLE) AS lat_d, CAST(lo0 AS DOUBLE) AS lon_d
                    FROM seg WHERE la1 IS NULL)
            SELECT user_id, seg, CAST(j AS BIGINT) AS j, CAST(k AS BIGINT) AS k, lat_d, lon_d
            FROM (SELECT * FROM dense UNION ALL SELECT * FROM fin)
        """,
        "scd2_events": """
            WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
                        FROM events),
            l AS (SELECT *,
                         LAG(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pv,
                         LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
                  FROM ev),
            k AS (SELECT * FROM l WHERE pt IS NULL OR event_type IS DISTINCT FROM pv),
            o AS (SELECT user_id, t AS valid_from,
                         LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
                         event_type
                  FROM k)
            SELECT user_id, valid_from, valid_to,
                   valid_to IS NULL AS is_current, event_type
            FROM o
        """,
        "cohort_events": f"""
            WITH p AS (SELECT DISTINCT user_id,
                              epoch_us(ts) // {COHORT_PERIOD_US} AS p FROM events),
            f AS (SELECT user_id, MIN(p) AS cohort FROM p GROUP BY user_id)
            SELECT f.cohort, p.p - f.cohort AS period_offset, COUNT(*) AS n_users
            FROM p JOIN f USING (user_id) GROUP BY 1, 2
        """,
        "ols_events": f"""
            WITH pts AS (SELECT user_id, event_id % 1000 AS x,
                                lat - {LAT0} AS y FROM {{synth_inner}}),
            m AS (SELECT user_id, COUNT(*) AS n,
                         SUM(CAST(x AS HUGEINT)) AS sx,
                         SUM(CAST(y AS HUGEINT)) AS sy,
                         SUM(CAST(x * x AS HUGEINT)) AS sxx,
                         SUM(CAST(x * y AS HUGEINT)) AS sxy
                  FROM pts GROUP BY user_id)
            SELECT user_id, n,
                   CAST(CASE WHEN n * sxx - sx * sx != 0
                        THEN n * sxy - sx * sy END AS BIGINT) AS slope_num,
                   CAST(CASE WHEN n * sxx - sx * sx != 0
                        THEN sy * sxx - sx * sxy END AS BIGINT) AS icept_num,
                   CAST(nullif(n * sxx - sx * sx, 0) AS BIGINT) AS den
            FROM m
        """.replace("{synth_inner}", synth),
        "transitions_events": """
            WITH seq AS (SELECT user_id, event_type,
                                LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
                         FROM events),
            pr AS (SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS n
                   FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
            tot AS (SELECT from_type, SUM(n) AS tot FROM pr GROUP BY 1)
            SELECT pr.from_type, pr.to_type, CAST(pr.n AS BIGINT) AS n,
                   round(CAST(pr.n AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS p
            FROM pr JOIN tot ON tot.from_type = pr.from_type
        """,
        "service_areas_events": f"""
            WITH pts AS (SELECT event_id, lat, lon FROM ({_SYNTH_SQL})),
            sites AS (SELECT g.s AS site_id,
                             CAST({LAT0} + (g.s * {SITE_A_LAT}) % {LATSPAN} AS BIGINT) AS slat,
                             CAST({LON0} + (g.s * {SITE_A_LON}) % {LONSPAN} AS BIGINT) AS slon
                      FROM generate_series(0, {SITE_N - 1}) g(s)),
            asn AS (SELECT event_id, site_id, d2,
                           ROW_NUMBER() OVER (PARTITION BY event_id
                                              ORDER BY d2, site_id) AS rn
                    FROM (SELECT p.event_id, s.site_id,
                                 CAST(p.lat - s.slat AS HUGEINT) * CAST(p.lat - s.slat AS HUGEINT)
                               + CAST(p.lon - s.slon AS HUGEINT) * CAST(p.lon - s.slon AS HUGEINT) AS d2
                          FROM pts p, sites s))
            SELECT site_id, CAST(COUNT(*) AS BIGINT) AS n_points,
                   round(sqrt(CAST(SUM(d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6) AS rms_d
            FROM asn WHERE rn = 1 GROUP BY site_id
        """,
        "funnel_events": f"""
            WITH s1 AS (SELECT user_id, MIN(ts) AS ts_step1 FROM events
                        WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id),
            s2 AS (SELECT e.user_id, MIN(e.ts) AS ts_step2
                   FROM events e JOIN s1 ON s1.user_id = e.user_id
                   WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.ts_step1
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, MIN(e.ts) AS ts_step3
                   FROM events e JOIN s2 ON s2.user_id = e.user_id
                   WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.ts_step2
                   GROUP BY e.user_id)
            SELECT s1.user_id, s1.ts_step1, s2.ts_step2, s3.ts_step3,
                   CAST(CASE WHEN s3.ts_step3 IS NOT NULL THEN 3
                             WHEN s2.ts_step2 IS NOT NULL THEN 2
                             ELSE 1 END AS BIGINT) AS steps_reached
            FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
                    LEFT JOIN s3 ON s3.user_id = s1.user_id
        """,
        "mean_center_events": f"""
            WITH pts AS (SELECT event_type, lat, lon FROM ({_SYNTH_SQL})),
            agg AS (SELECT event_type, COUNT(*) AS n,
                           SUM(lat) AS sx, SUM(lon) AS sy,
                           SUM(lat * lat) AS sxx, SUM(lon * lon) AS syy,
                           SUM(lat * lon) AS sxy
                    FROM pts GROUP BY event_type)
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_lat,
                   round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_lon,
                   round(sqrt((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                         + (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS std_dist,
                   round(atan2(2.0 * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))),
                         (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                         - (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) / 2.0, 6) AS ellipse_theta
            FROM agg
        """,
        "tfidf_docs": f"""
            WITH toks AS (SELECT doc_id, unnest({_ws_split_sql()}) AS term FROM documents),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
            dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
            n AS (SELECT COUNT(*) AS n FROM documents),
            scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                              CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfc AS DOUBLE)) AS s
                       FROM tf JOIN dfreq USING (term) CROSS JOIN n),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term ASC) AS rk
                       FROM scored)
            SELECT doc_id, term, tf, round(s, 6) AS score FROM ranked WHERE rk <= 3
        """,
        # HRW: identical 60-bit md5 weight, argmax via window with the
        # same (weight, shard) lexicographic tie-break as array_max
        "hrw_shard_docs": f"""
            WITH h AS (SELECT doc_id, s,
                              {_MD5I.format(x="doc_id || ':' || CAST(s AS VARCHAR)")} AS weight
                       FROM documents, generate_series(0, {HRW_SHARDS - 1}) t(s)),
            r AS (SELECT doc_id, CAST(s AS BIGINT) AS shard, weight,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY weight DESC, s DESC) AS rk
                  FROM h)
            SELECT doc_id, shard, weight FROM r WHERE rk = 1
        """,
        # novelty: identical shingle construction to the minhash oracle,
        # df=1 owner trick restated relationally, one int-ratio division
        "novelty_docs": f"""
            WITH base AS (SELECT doc_id, lower(text) AS ltext,
                                 {_ws_split_sql()} AS ws FROM documents),
            sh0 AS (SELECT doc_id,
                           unnest(CASE WHEN len(ws) >= 3
                                  THEN list_transform(generate_series(0, len(ws) - 3),
                                                      i -> array_to_string(list_slice(ws, i + 1, i + 3), ' '))
                                  ELSE [ltext] END) AS shingle
                    FROM base),
            sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
            per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
            dfr AS (SELECT shingle, COUNT(*) AS dfc, MIN(doc_id) AS owner
                    FROM sh GROUP BY 1),
            novel AS (SELECT owner AS doc_id, COUNT(*) AS n_novel
                      FROM dfr WHERE dfc = 1 GROUP BY 1)
            SELECT p.doc_id, p.n_shingles,
                   CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
                   CAST(COALESCE(v.n_novel, 0) AS DOUBLE) / CAST(p.n_shingles AS DOUBLE) AS novelty
            FROM per_doc p LEFT JOIN novel v USING (doc_id)
        """,
        # Proper segment crossings: brute-force bbox-prefilter pairs,
        # HUGEINT orientation signs (the engine's float-filter + bigint
        # fallback is exact, so the hashes agree bit-for-bit).
        # MATERIALIZED blocks avoid a DuckDB internal error (flat-vector
        # assertion) when the sign filter rides directly on the
        # inequality join.
        "seg_intersections_events": f"""
            WITH s AS MATERIALIZED (
              SELECT event_id AS sid, lon AS x1, lat AS y1,
                     lon + (event_id * 48271 + 11) % 131073 - 65536 AS x2,
                     lat + (event_id * 16807 + 7) % 131073 - 65536 AS y2
              FROM {synth}
            ),
            cand AS MATERIALIZED (
              SELECT a.sid AS id_a, b.sid AS id_b,
                CAST(a.x2-a.x1 AS HUGEINT)*(b.y1-a.y1) - CAST(a.y2-a.y1 AS HUGEINT)*(b.x1-a.x1) AS o1,
                CAST(a.x2-a.x1 AS HUGEINT)*(b.y2-a.y1) - CAST(a.y2-a.y1 AS HUGEINT)*(b.x2-a.x1) AS o2,
                CAST(b.x2-b.x1 AS HUGEINT)*(a.y1-b.y1) - CAST(b.y2-b.y1 AS HUGEINT)*(a.x1-b.x1) AS o3,
                CAST(b.x2-b.x1 AS HUGEINT)*(a.y2-b.y1) - CAST(b.y2-b.y1 AS HUGEINT)*(a.x2-b.x1) AS o4
              FROM s a JOIN s b ON a.sid < b.sid
               AND least(a.x1,a.x2) <= greatest(b.x1,b.x2) AND least(b.x1,b.x2) <= greatest(a.x1,a.x2)
               AND least(a.y1,a.y2) <= greatest(b.y1,b.y2) AND least(b.y1,b.y2) <= greatest(a.y1,a.y2)
            )
            SELECT id_a, id_b FROM cand
            WHERE ((o1 < 0) <> (o2 < 0)) AND o1 <> 0 AND o2 <> 0
              AND ((o3 < 0) <> (o4 < 0)) AND o3 <> 0 AND o4 <> 0
        """,
        # Vector-tile cut: bbox cell fan-out + Liang–Barsky clip +
        # 4096-extent quantization, every float step in the engine's
        # exact operation order (cell_size 2^16 keeps the floor division
        # exact in doubles; round is HALF-UP in both engines for the
        # non-negative local coords, so the hash compare is bit-exact).
        "clip_tiles_events": f"""
            WITH s AS (
              SELECT event_id AS sid,
                     CAST(lon AS DOUBLE) AS x0,
                     CAST(lat AS DOUBLE) AS y0,
                     CAST(lon + (event_id * 48271 + 11) % 131073 - 65536 AS DOUBLE) - CAST(lon AS DOUBLE) AS dx,
                     CAST(lat + (event_id * 16807 + 7) % 131073 - 65536 AS DOUBLE) - CAST(lat AS DOUBLE) AS dy
              FROM {synth}
            ),
            seg AS (
              SELECT sid, x0, y0, dx, dy,
                     CAST(floor(least(x0, x0 + dx) / 65536.0) AS BIGINT) AS cx_lo,
                     CAST(floor(greatest(x0, x0 + dx) / 65536.0) AS BIGINT) AS cx_hi,
                     CAST(floor(least(y0, y0 + dy) / 65536.0) AS BIGINT) AS cy_lo,
                     CAST(floor(greatest(y0, y0 + dy) / 65536.0) AS BIGINT) AS cy_hi
              FROM s
            ),
            fan AS (
              SELECT sid, x0, y0, dx, dy,
                     gx.cell_x, gy.cell_y,
                     CAST(gx.cell_x AS DOUBLE) * 65536.0 AS xmn,
                     CAST(gy.cell_y AS DOUBLE) * 65536.0 AS ymn
              FROM seg,
                   UNNEST(generate_series(cx_lo, cx_hi)) AS gx(cell_x),
                   UNNEST(generate_series(cy_lo, cy_hi)) AS gy(cell_y)
            ),
            win AS (
              SELECT *,
                greatest(0.0,
                  CASE WHEN dx <> 0.0 THEN least((xmn - x0) / dx, (xmn + 65536.0 - x0) / dx)
                       ELSE CASE WHEN x0 >= xmn AND x0 <= xmn + 65536.0 THEN 0.0 ELSE 2.0 END END,
                  CASE WHEN dy <> 0.0 THEN least((ymn - y0) / dy, (ymn + 65536.0 - y0) / dy)
                       ELSE CASE WHEN y0 >= ymn AND y0 <= ymn + 65536.0 THEN 0.0 ELSE 2.0 END END) AS t0,
                least(1.0,
                  CASE WHEN dx <> 0.0 THEN greatest((xmn - x0) / dx, (xmn + 65536.0 - x0) / dx)
                       ELSE CASE WHEN x0 >= xmn AND x0 <= xmn + 65536.0 THEN 1.0 ELSE -1.0 END END,
                  CASE WHEN dy <> 0.0 THEN greatest((ymn - y0) / dy, (ymn + 65536.0 - y0) / dy)
                       ELSE CASE WHEN y0 >= ymn AND y0 <= ymn + 65536.0 THEN 1.0 ELSE -1.0 END END) AS t1
              FROM fan
            ),
            q AS (
              SELECT sid, cell_x, cell_y,
                CAST(round(((x0 + t0 * dx) - xmn) * 4096.0 / 65536.0) AS INTEGER) AS u0,
                CAST(round(((y0 + t0 * dy) - ymn) * 4096.0 / 65536.0) AS INTEGER) AS v0,
                CAST(round(((x0 + t1 * dx) - xmn) * 4096.0 / 65536.0) AS INTEGER) AS u1,
                CAST(round(((y0 + t1 * dy) - ymn) * 4096.0 / 65536.0) AS INTEGER) AS v1
              FROM win WHERE t0 <= t1
            )
            SELECT sid, cell_x, cell_y, u0, v0, u1, v1 FROM q
            WHERE u0 <> u1 OR v0 <> v1
        """,
        # Gopher repetition signals: top-2-gram char fraction + duplicated
        # 3-gram POSITIONAL coverage (distinct positions — overlaps never
        # double-count). Exact int sums / double division, round 6.
        # Decontamination: per-doc DISTINCT 5-grams vs the pseudo-benchmark
        # subset's gram set (doc_id % 97 == 0); counts are distinct-gram
        # hits, so the engine's in-row array_distinct mirrors exactly.
        "contamination_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            docg AS (SELECT DISTINCT doc_id,
                            array_to_string(ws[u.i + 1 : u.i + 5], ' ') AS gram
                     FROM base, UNNEST(range(0, len(ws) - 5 + 1)) AS u(i)
                     WHERE len(ws) >= 5),
            bg AS (SELECT DISTINCT gram FROM docg WHERE doc_id % 97 = 0),
            ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM docg GROUP BY 1),
            hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM docg JOIN bg USING (gram) GROUP BY 1)
            SELECT d.doc_id, COALESCE(ng.n_grams, 0) AS n_grams,
                   COALESCE(hits.n_hit, 0) AS n_hit_grams,
                   COALESCE(hits.n_hit, 0) > 0 AS contaminated
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN ng USING (doc_id) LEFT JOIN hits USING (doc_id)
        """,
        # Unigram-LM score: both engines round the IEEE mean to 6 dp —
        # summation-order ulp noise is absorbed (the tfidf precedent).
        "unigram_logprob_docs": f"""
            WITH toks AS (SELECT doc_id, unnest({_ws_split_sql()}) AS tok FROM documents),
            v AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
            tot AS (SELECT SUM(cnt) AS total FROM v)
            SELECT doc_id, COUNT(*) AS n_tokens,
                   round(AVG(-log2(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS avg_neg_log2p
            FROM toks JOIN v USING (tok) CROSS JOIN tot
            GROUP BY doc_id
        """,
        "repetition_docs": f"""
            WITH base AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            stats AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                             CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS word_chars
                      FROM base),
            g2 AS (SELECT doc_id, array_to_string(ws[u.i + 1 : u.i + 2], ' ') AS gram
                   FROM base, UNNEST(range(0, len(ws) - 2 + 1)) AS u(i)
                   WHERE len(ws) >= 2),
            c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
            top AS (SELECT doc_id, gram AS top_ngram, cnt * (length(gram) - 1) AS top_chars
                    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, gram ASC) AS rk FROM c2)
                    WHERE rk = 1),
            g3 AS (SELECT doc_id, CAST(u.i AS BIGINT) AS gpos,
                          array_to_string(ws[u.i + 1 : u.i + 3], ' ') AS gram
                   FROM base, UNNEST(range(0, len(ws) - 3 + 1)) AS u(i)
                   WHERE len(ws) >= 3),
            d3 AS (SELECT doc_id, gram FROM g3 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
            cov AS (SELECT DISTINCT g3.doc_id, gpos + u.j AS pos
                    FROM g3 JOIN d3 ON g3.doc_id = d3.doc_id AND g3.gram = d3.gram,
                         UNNEST(range(0, 3)) AS u(j)),
            toks AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, length(ws[u.i + 1]) AS wlen
                     FROM base, UNNEST(range(0, len(ws))) AS u(i)),
            dupc AS (SELECT cov.doc_id, SUM(t.wlen) AS dup_chars
                     FROM cov JOIN toks t ON t.doc_id = cov.doc_id AND t.pos = cov.pos
                     GROUP BY 1)
            SELECT s.doc_id, s.n_words, s.word_chars, top.top_ngram,
                   round(COALESCE(CAST(top.top_chars AS DOUBLE) / CAST(s.word_chars AS DOUBLE), 0.0), 6) AS top_ngram_frac,
                   round(COALESCE(CAST(dupc.dup_chars AS DOUBLE) / CAST(s.word_chars AS DOUBLE), 0.0), 6) AS dup_ngram_char_frac
            FROM stats s LEFT JOIN top ON top.doc_id = s.doc_id
            LEFT JOIN dupc ON dupc.doc_id = s.doc_id
        """,
        # KMV: k smallest distinct hashes; estimate (k-1)*2^60/h_64 is
        # two IEEE ops on exactly-representable constants — bit parity.
        "kmv_distinct_events": """
            WITH h AS (SELECT DISTINCT CAST('0x' || substr(md5(event_id::VARCHAR), 1, 15) AS BIGINT) AS h
                       FROM events),
            sk AS (SELECT h FROM h ORDER BY h LIMIT 64)
            SELECT COUNT(*) AS n_h,
                   round(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                              ELSE 63.0 * 1152921504606846976.0 / CAST(MAX(h) AS DOUBLE) END, 3) AS est_distinct
            FROM sk
        """,
        # KMV set ops: same bottom-64 family, membership in both
        "kmv_setops_events": """
            WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(user_id::VARCHAR), 1, 15) AS BIGINT) AS h
                        FROM events WHERE event_type = 'view'),
            hb AS (SELECT DISTINCT CAST('0x' || substr(md5(user_id::VARCHAR), 1, 15) AS BIGINT) AS h
                   FROM events WHERE event_type = 'purchase'),
            ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
            skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
            m AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb) u
                  ORDER BY h LIMIT 64),
            agg AS (SELECT COUNT(*) AS n_h, MAX(h) AS hmax FROM m),
            nb AS (SELECT COUNT(*) AS n_both FROM m
                   WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
            e AS (SELECT a.n_h, nb.n_both, a.hmax,
                         CASE WHEN a.n_h < 64 THEN CAST(a.n_h AS DOUBLE)
                              ELSE 63.0 * 1152921504606846976.0 / CAST(a.hmax AS DOUBLE)
                         END AS eu
                  FROM agg a, nb)
            SELECT n_h, n_both, ROUND(eu, 3) AS est_union,
                   ROUND(CAST(n_both AS DOUBLE) / n_h, 6) AS jaccard_est,
                   ROUND(CAST(n_both AS DOUBLE) / n_h * eu, 3) AS est_intersection
            FROM e
        """,
        # Samplers: the oracle is the single-window form; the engine's
        # two-phase salted windows are an exact-identity optimization.
        "stratified_events": """
            WITH r AS (SELECT event_type, event_id,
                              row_number() OVER (PARTITION BY event_type
                                  ORDER BY CAST('0x' || substr(md5('strat:' || event_id::VARCHAR), 1, 15) AS BIGINT) ASC,
                                           event_id ASC) AS rk
                       FROM events)
            SELECT event_type, event_id, rk FROM r WHERE rk <= 20
        """,
        "weighted_sample_events": """
            WITH w AS (SELECT event_type, event_id,
                              CAST(length(props) + 1 AS DOUBLE) AS wt,
                              (CAST('0x' || substr(md5('ws:' || event_id::VARCHAR), 1, 15) AS BIGINT) + 1)
                                  / 1152921504606846976.0 AS u
                       FROM events
                       WHERE props IS NOT NULL AND length(props) + 1 > 0),
            r AS (SELECT event_type, event_id,
                         row_number() OVER (PARTITION BY event_type
                             ORDER BY ln(u) / wt DESC, event_id ASC) AS rk
                  FROM w)
            SELECT event_type, event_id, rk FROM r WHERE rk <= 25
        """,
        # temperature mix: sqrt on the 1e-6 lattice, exact-int
        # normalizer, one int->double division chain, shared md5-u accept
        "temperature_mix_docs": """
            WITH c AS (SELECT lang, COUNT(*) AS n_domain FROM documents GROUP BY 1),
            w AS (SELECT lang, n_domain,
                         CAST(floor(sqrt(CAST(n_domain AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w
                  FROM c),
            tot AS (SELECT SUM(w) AS tw FROM w),
            r AS (SELECT lang, n_domain,
                         CAST(floor(300.0 * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) + 0.5) AS BIGINT) AS budget
                  FROM w, tot)
            SELECT d.doc_id, d.lang, r.n_domain, r.budget,
                   (CAST('0x' || substr(md5('tm:' || d.doc_id::VARCHAR), 1, 15) AS BIGINT) + 1)
                       / 1152921504606846976.0
                   < CAST(r.budget AS DOUBLE) / CAST(r.n_domain AS DOUBLE) AS keep
            FROM documents d JOIN r USING (lang)
        """,
        "minhash_pairs_docs": _minhash_sql(0.5),
        # Bloom filter: identical seeded-md5 bit scheme, so the set-bit
        # table — and therefore every false positive — is bit-identical
        "bloom_probe_customers": """
            WITH bits AS (
              SELECT DISTINCT CAST('0x' || substr(md5('bf' || u.i || ':' || o_custkey::VARCHAR), 1, 15) AS BIGINT) % 8192 AS bit
              FROM orders, UNNEST(range(0, 4)) AS u(i)
            ),
            probes AS (
              SELECT c_custkey,
                     CAST('0x' || substr(md5('bf' || u.i || ':' || c_custkey::VARCHAR), 1, 15) AS BIGINT) % 8192 AS bit
              FROM customer, UNNEST(range(0, 4)) AS u(i)
            )
            SELECT p.c_custkey, COUNT(b.bit) = 4 AS maybe_present
            FROM probes p LEFT JOIN bits b USING (bit)
            GROUP BY 1
        """,
        # convex hull via the INDEPENDENT Caratheodory formulation: p is
        # a non-vertex iff a triangle of 3 OTHER distinct points contains
        # it inside-or-on; the bbox guard keeps degenerate (collinear)
        # triangles from capturing points beyond their span.
        "hull_users": f"""
            WITH pts AS MATERIALIZED (
              SELECT DISTINCT user_id, lat, lon FROM {synth} WHERE user_id % 10 = 0
            ),
            contained AS (
              SELECT DISTINCT p.user_id, p.lat, p.lon
              FROM pts p
              JOIN pts a ON a.user_id = p.user_id AND (a.lat, a.lon) <> (p.lat, p.lon)
              JOIN pts b ON b.user_id = p.user_id AND (b.lat, b.lon) > (a.lat, a.lon)
                        AND (b.lat, b.lon) <> (p.lat, p.lon)
              JOIN pts c ON c.user_id = p.user_id AND (c.lat, c.lon) > (b.lat, b.lon)
                        AND (c.lat, c.lon) <> (p.lat, p.lon)
              WHERE ((sign(CAST(b.lat-a.lat AS HUGEINT)*(p.lon-a.lon) - CAST(b.lon-a.lon AS HUGEINT)*(p.lat-a.lat)) >= 0
                  AND sign(CAST(c.lat-b.lat AS HUGEINT)*(p.lon-b.lon) - CAST(c.lon-b.lon AS HUGEINT)*(p.lat-b.lat)) >= 0
                  AND sign(CAST(a.lat-c.lat AS HUGEINT)*(p.lon-c.lon) - CAST(a.lon-c.lon AS HUGEINT)*(p.lat-c.lat)) >= 0)
                 OR (sign(CAST(b.lat-a.lat AS HUGEINT)*(p.lon-a.lon) - CAST(b.lon-a.lon AS HUGEINT)*(p.lat-a.lat)) <= 0
                  AND sign(CAST(c.lat-b.lat AS HUGEINT)*(p.lon-b.lon) - CAST(c.lon-b.lon AS HUGEINT)*(p.lat-b.lat)) <= 0
                  AND sign(CAST(a.lat-c.lat AS HUGEINT)*(p.lon-c.lon) - CAST(a.lon-c.lon AS HUGEINT)*(p.lat-c.lat)) <= 0))
                AND p.lat BETWEEN least(a.lat, b.lat, c.lat) AND greatest(a.lat, b.lat, c.lat)
                AND p.lon BETWEEN least(a.lon, b.lon, c.lon) AND greatest(a.lon, b.lon, c.lon)
            )
            SELECT user_id, lat, lon FROM pts
            EXCEPT SELECT user_id, lat, lon FROM contained
        """,
        # radial simplification: recursive CTE walks the identical
        # kept-chain (next kept = min pos with d2 >= tol2 from last kept)
        "simplify_users": f"""
            WITH RECURSIVE pts AS MATERIALIZED (
              SELECT user_id, event_id AS pos, lat, lon FROM {synth}
            ),
            kept(user_id, pos, lat, lon) AS (
              SELECT user_id, pos, lat, lon FROM pts p
              WHERE pos = (SELECT min(pos) FROM pts q WHERE q.user_id = p.user_id)
              UNION ALL
              SELECT k.user_id, n.pos, n.lat, n.lon
              FROM kept k JOIN pts n ON n.user_id = k.user_id AND n.pos > k.pos
               AND (n.lat-k.lat)*(n.lat-k.lat) + (n.lon-k.lon)*(n.lon-k.lon) >= 250000000000
              WHERE n.pos = (SELECT min(p2.pos) FROM pts p2
                             WHERE p2.user_id = k.user_id AND p2.pos > k.pos
                              AND (p2.lat-k.lat)*(p2.lat-k.lat) + (p2.lon-k.lon)*(p2.lon-k.lon) >= 250000000000)
            )
            SELECT user_id, pos, lat, lon FROM kept
        """,
        # histogram-sketch quantiles: identical bin rule + interpolation
        # expression (w = 4.0 exactly representable; IEEE-double parity)
        "hist_quantiles_events": """
            WITH h AS (
              SELECT LEAST(255, CAST(floor((value - 0.0) / 4.0) AS BIGINT)) AS bin,
                     COUNT(*) AS cnt
              FROM events
              WHERE value IS NOT NULL AND value >= 0.0 AND value <= 1024.0
              GROUP BY 1),
            c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum,
                         SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_before FROM h),
            n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
            qs AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q),
            fb AS (SELECT q, MIN(bin) AS bin FROM qs, c, n WHERE c.cum >= q * n.n GROUP BY q)
            SELECT f.q, round(0.0 + 4.0 * (c.bin + (f.q * n.n - c.cum_before) / c.cnt), 6) AS est
            FROM fb f JOIN c ON c.bin = f.bin CROSS JOIN n
        """,
        # interval overlap: the oracle is the plain inequality join —
        # the engine's bucketing is candidate machinery, never semantics
        # bbox overlap: brute-force inequality join; intersection box
        # is exact int arithmetic in both engines
        "bbox_join_events": f"""
            WITH b AS (SELECT event_id,
                              lon - (1 + event_id % 7) * 3000 AS x_min,
                              lat - (1 + event_id % 5) * 3000 AS y_min,
                              lon + (1 + event_id % 7) * 3000 AS x_max,
                              lat + (1 + event_id % 5) * 3000 AS y_max
                       FROM {synth})
            SELECT a.event_id AS id_a, c.event_id AS id_b,
                   GREATEST(a.x_min, c.x_min) AS ix_min,
                   GREATEST(a.y_min, c.y_min) AS iy_min,
                   LEAST(a.x_max, c.x_max) AS ix_max,
                   LEAST(a.y_max, c.y_max) AS iy_max
            FROM b a JOIN b c ON a.event_id % 2 = 0 AND c.event_id % 2 = 1
            WHERE GREATEST(a.x_min, c.x_min) <= LEAST(a.x_max, c.x_max)
              AND GREATEST(a.y_min, c.y_min) <= LEAST(a.y_max, c.y_max)
        """,
        # streaming twin: batch runs minus each user's last (open) run
        "stream_merge_intervals_events": """
            WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                               epoch_us(ts) + (1 + event_id % 9) * 600000000 AS e
                        FROM events),
            fl AS (SELECT user_id, s, e,
                          CASE WHEN s > coalesce(MAX(e) OVER (
                                 PARTITION BY user_id ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                               -4611686018427387904)
                               THEN 1 ELSE 0 END AS nw
                   FROM iv),
            runs AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                     FROM fl),
            m AS (SELECT user_id, MIN(s) AS m_start, MAX(e) AS m_end,
                         COUNT(*) AS n_source
                  FROM runs GROUP BY user_id, run),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                               ORDER BY m_start DESC) AS rk FROM m)
            SELECT user_id, m_start, m_end, n_source FROM r WHERE rk > 1
        """,
        # interval coalescing: identical ANSI window frames restated
        "merge_intervals_events": """
            WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                               epoch_us(ts) + (1 + event_id % 9) * 600000000 AS e
                        FROM events),
            fl AS (SELECT user_id, s, e,
                          CASE WHEN s > coalesce(MAX(e) OVER (
                                 PARTITION BY user_id ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                               -4611686018427387904)
                               THEN 1 ELSE 0 END AS nw
                   FROM iv),
            runs AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                     FROM fl)
            SELECT user_id, MIN(s) AS m_start, MAX(e) AS m_end, COUNT(*) AS n_source
            FROM runs GROUP BY user_id, run
        """,
        "interval_join_events": """
            WITH iv AS (SELECT event_id, event_type, epoch_us(ts) AS s,
                               epoch_us(ts) + (event_id * 9973) % 1800000000 AS e
                        FROM events)
            SELECT l.event_id AS l_id, r.event_id AS r_id
            FROM iv l JOIN iv r ON l.event_type = 'click' AND r.event_type = 'error'
             AND l.s <= r.e AND r.s <= l.e
        """,
        # connected components over the SAME pair graph: a recursive CTE
        # enumerates (node, reachable-label) pairs to a fixpoint (UNION
        # is distinct, so it terminates); min reachable id = component.
        "dedup_clusters_docs": f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql(0.5)}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT u AS node FROM e),
            walk(node, lbl) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node
            )
            SELECT node, MIN(lbl) AS component,
                   node = MIN(lbl) AS is_representative
            FROM walk GROUP BY node
        """,
        # retain-best: the same recursive-CTE CC, singletons via LEFT
        # JOIN + COALESCE, survivor by ROW_NUMBER(score DESC, id ASC)
        "dedup_retain_docs": f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_sql(0.5)}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT u AS node FROM e),
            walk(node, lbl) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node
            ),
            cc AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
            q AS (SELECT doc_id, CAST(len({_ws_split_sql()}) AS BIGINT) AS score
                  FROM documents),
            m AS (SELECT q.doc_id, COALESCE(cc.component, q.doc_id) AS component,
                         q.score
                  FROM q LEFT JOIN cc ON cc.node = q.doc_id)
            SELECT doc_id, component, score,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY score DESC, doc_id ASC) = 1 AS keep
            FROM m
        """,
        # line merge: recursive-CTE min-label walk over the endpoint
        # graph + the same exact degree rollups as the engine
        "stitch_events": """
            WITH RECURSIVE seg AS (
              SELECT event_id AS sid, event_id AS a,
                     CASE WHEN event_id % 20 = 19 THEN event_id - 19
                          ELSE event_id + 1 END AS b,
                     CAST(1 + event_id % 5 AS BIGINT) AS w
              FROM events
              WHERE NOT (event_id % 20 = 19 AND (event_id // 20) % 2 = 1)
            ),
            e AS (SELECT a AS u, b AS v FROM seg WHERE a != b
                  UNION SELECT b, a FROM seg WHERE a != b),
            nodes AS (SELECT DISTINCT u AS node
                      FROM (SELECT a AS u FROM seg UNION SELECT b FROM seg)),
            walk(node, lbl) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node
            ),
            cc AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
            degs AS (SELECT node, COUNT(*) AS deg
                     FROM (SELECT a AS node FROM seg UNION ALL SELECT b FROM seg)
                     GROUP BY node),
            per_seg AS (SELECT cc.component, COUNT(*) AS n_segments,
                               CAST(SUM(s.w) AS BIGINT) AS total_weight
                        FROM seg s JOIN cc ON cc.node = s.a GROUP BY 1),
            per_node AS (SELECT cc.component, COUNT(*) AS n_nodes,
                                CAST(SUM(deg % 2) AS BIGINT) AS n_odd_nodes,
                                MAX(deg) AS max_degree
                         FROM degs JOIN cc USING (node) GROUP BY 1)
            SELECT p.component AS chain_id, p.n_segments, q.n_nodes,
                   q.n_odd_nodes, q.max_degree,
                   (q.n_odd_nodes = 0 AND q.max_degree = 2) AS is_ring,
                   (q.n_odd_nodes = 2 AND q.max_degree <= 2) AS is_path,
                   p.total_weight
            FROM per_seg p JOIN per_node q USING (component)
        """,
        "stream_neardup_docs": _stream_neardup_sql(0.5),
        "ngram_jaccard_docs": f"""
            WITH wset AS (SELECT DISTINCT doc_id, source,
                                 unnest({_ws_split_sql()}) AS w FROM documents),
            sizes AS (SELECT doc_id, source, COUNT(*) AS n FROM wset GROUP BY 1, 2),
            pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb
                      FROM sizes a JOIN sizes b ON a.source = b.source AND a.doc_id < b.doc_id),
            inter AS (SELECT wa.doc_id AS id_a, wb.doc_id AS id_b, COUNT(*) AS inter
                      FROM wset wa JOIN wset wb ON wa.source = wb.source AND wa.w = wb.w
                           AND wa.doc_id < wb.doc_id
                      GROUP BY 1, 2)
            SELECT p.id_a, p.id_b,
                   CAST(COALESCE(i.inter, 0) AS DOUBLE) / (p.na + p.nb - COALESCE(i.inter, 0)) AS jaccard
            FROM pairs p LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
            WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE) / (p.na + p.nb - COALESCE(i.inter, 0)) >= 0.6
        """,
        "containment_docs": f"""
            WITH wset AS (SELECT DISTINCT doc_id, source,
                                 unnest({_ws_split_sql()}) AS w FROM documents),
            sizes AS (SELECT doc_id, source, COUNT(*) AS n FROM wset GROUP BY 1, 2),
            pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na
                      FROM sizes a JOIN sizes b ON a.source = b.source
                           AND a.doc_id != b.doc_id),
            inter AS (SELECT wa.doc_id AS id_a, wb.doc_id AS id_b, COUNT(*) AS inter
                      FROM wset wa JOIN wset wb ON wa.source = wb.source AND wa.w = wb.w
                           AND wa.doc_id != wb.doc_id
                      GROUP BY 1, 2)
            SELECT p.id_a, p.id_b,
                   CAST(COALESCE(i.inter, 0) AS DOUBLE) / CAST(p.na AS DOUBLE) AS containment
            FROM pairs p LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
            WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE) / CAST(p.na AS DOUBLE) >= 0.5
        """,
        "simhash_docs": _simhash_sql(16),
        "hamming_simhash_docs": f"""
            WITH sh AS MATERIALIZED ({_simhash_sql(16)})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        """,
        # Duplicated-passage spans: same 60-bit md5-slice gram hash, same
        # tokenizer template, same interval-merge (merge when the next
        # k-gram starts within prev span end + 1).
        "dup_spans_docs": f"""
            WITH words AS (SELECT doc_id, {_ws_split_sql()} AS ws FROM documents),
            grams AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
                             CAST('0x' || substr(md5(array_to_string(ws[u.i + 1 : u.i + 8], ' ')), 1, 15) AS BIGINT) AS h
                      FROM words, UNNEST(range(0, len(ws) - 8 + 1)) AS u(i)
                      WHERE len(ws) >= 8),
            dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
            occ AS (SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM dup)),
            runs AS (SELECT doc_id, pos,
                            CASE WHEN max(pos + 7) OVER w IS NULL
                                 OR pos > max(pos + 7) OVER w + 1 THEN 1 ELSE 0 END AS new_run
                     FROM occ
                     WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            rid AS (SELECT doc_id, pos,
                           SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos) AS run
                    FROM runs)
            SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
                   MAX(pos) + 8 - MIN(pos) AS n_words, COUNT(*) AS n_grams
            FROM rid GROUP BY doc_id, run
        """,
        "embedding_neardup": f"""
            WITH {_cosine_block_sql()},
            pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id),
            dots AS (SELECT da.vec_id AS id_a, db.vec_id AS id_b, SUM(da.x * db.x) AS dot
                     FROM dims da JOIN dims db ON da.label = db.label AND da.d = db.d AND da.vec_id < db.vec_id
                     GROUP BY 1, 2)
            SELECT p.id_a, p.id_b, ROUND(d.dot / (na.nrm * nb.nrm), 4) AS cosine_r
            FROM pairs p JOIN dots d ON d.id_a = p.id_a AND d.id_b = p.id_b
            JOIN norms na ON na.vec_id = p.id_a JOIN norms nb ON nb.vec_id = p.id_b
            WHERE d.dot / (na.nrm * nb.nrm) >= 0.9
        """,
        # SRP near-dup: the oracle pins the EXACT global pair count (the
        # denominator the engine's recall is measured against) and
        # asserts both quality booleans — an engine-side recall or
        # precision regression flips a flag and fails the hash check.
        "embedding_neardup_srp": f"""
            WITH {_cosine_block_sql()},
            dots AS (SELECT da.vec_id AS id_a, db.vec_id AS id_b, SUM(da.x * db.x) AS dot
                     FROM dims da JOIN dims db ON da.d = db.d AND da.vec_id < db.vec_id
                     GROUP BY 1, 2)
            SELECT COUNT(*) AS n_exact_pairs, TRUE AS recall_ok, TRUE AS srp_subset_of_exact
            FROM dots d JOIN norms na ON na.vec_id = d.id_a JOIN norms nb ON nb.vec_id = d.id_b
            WHERE d.dot / (na.nrm * nb.nrm) >= 0.4
        """,
        # RRF: same two window rankers; rational fold restated per
        # cardinality (items appear in 1 or 2 rankings)
        "rrf_parts": """
            WITH p AS (SELECT p_partkey,
                              CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
                              CAST(p_size AS BIGINT) AS sz
                       FROM part),
            r1 AS (SELECT p_partkey, row_number() OVER (ORDER BY cents, p_partkey) AS rank
                   FROM p QUALIFY rank <= 20),
            r2 AS (SELECT p_partkey, row_number() OVER (ORDER BY sz DESC, p_partkey) AS rank
                   FROM p QUALIFY rank <= 20),
            u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
            g AS (SELECT p_partkey, COUNT(*) AS m,
                         MIN(rank) AS best_rank,
                         MIN(rank) AS ra, MAX(rank) AS rb
                  FROM u GROUP BY 1)
            SELECT p_partkey,
                   CASE WHEN m = 1 THEN 1
                        ELSE (ra + 60) + (rb + 60) END AS rrf_num,
                   CASE WHEN m = 1 THEN ra + 60
                        ELSE (ra + 60) * (rb + 60) END AS rrf_den,
                   CASE WHEN m = 1 THEN 1.0 / (ra + 60)
                        ELSE CAST((ra + 60) + (rb + 60) AS DOUBLE) / ((ra + 60) * (rb + 60))
                   END AS rrf,
                   CAST(best_rank AS BIGINT) AS best_rank
            FROM g
        """,
        # nDCG: brute cosine top-5 + same-label relevance, window DCG
        "ndcg_ann": f"""
            WITH {{_cb}},
            qd AS (SELECT vec_id AS query_id, d, x FROM dims WHERE vec_id IN (0, 1, 2)),
            dots AS (SELECT q.query_id, c.vec_id, SUM(q.x * c.x) AS dot
                     FROM qd q JOIN dims c ON q.d = c.d GROUP BY 1, 2),
            cos AS (SELECT d.query_id, d.vec_id,
                           ROUND(d.dot / (nq.nrm * nc.nrm), 4) AS cosine
                    FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                    JOIN norms nc ON nc.vec_id = d.vec_id
                    WHERE d.query_id <> d.vec_id),
            top AS (SELECT query_id, vec_id, rank FROM (
                      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
                      FROM cos) WHERE rank <= 5),
            rel AS (SELECT t.query_id, t.rank,
                           CASE WHEN e.label = q.label THEN 1.0 ELSE 0.0 END AS rel
                    FROM top t JOIN embeddings e ON e.vec_id = t.vec_id
                    JOIN embeddings q ON q.vec_id = t.query_id),
            ideal AS (SELECT query_id, rel,
                             row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, rank) AS pos
                      FROM rel),
            a AS (SELECT r.query_id,
                         CAST(SUM(CASE WHEN r.rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
                         ROUND(SUM(r.rel / log2(r.rank + 1.0)), 6) AS dcg
                  FROM rel r GROUP BY 1),
            b AS (SELECT query_id,
                         ROUND(SUM(rel / log2(pos + 1.0)), 6) AS idcg,
                         SUM(rel / log2(pos + 1.0)) AS idcg_raw
                  FROM ideal GROUP BY 1),
            raw AS (SELECT r.query_id, SUM(r.rel / log2(r.rank + 1.0)) AS dcg_raw
                    FROM rel r GROUP BY 1)
            SELECT a.query_id, a.n_rel, a.dcg, b.idcg,
                   CASE WHEN b.idcg_raw > 0
                        THEN ROUND(raw.dcg_raw / b.idcg_raw, 6) END AS ndcg
            FROM a JOIN b USING (query_id) JOIN raw USING (query_id)
        """.replace("{_cb}", _cosine_block_sql()),
        # hard negatives: brute cosine + different-label filter
        "hard_negatives": f"""
            WITH {{_cb}},
            qd AS (SELECT vec_id AS query_id, d, x FROM dims WHERE vec_id IN (0, 1, 2)),
            ql AS (SELECT vec_id AS query_id, label AS qlab FROM embeddings
                   WHERE vec_id IN (0, 1, 2)),
            dots AS (SELECT q.query_id, c.vec_id, SUM(q.x * c.x) AS dot
                     FROM qd q JOIN dims c ON q.d = c.d GROUP BY 1, 2),
            cos AS (SELECT d.query_id, d.vec_id, e.label AS neg_label,
                           ROUND(d.dot / (nq.nrm * nc.nrm), 4) AS cosine
                    FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                    JOIN norms nc ON nc.vec_id = d.vec_id
                    JOIN embeddings e ON e.vec_id = d.vec_id
                    JOIN ql ON ql.query_id = d.query_id
                    WHERE e.label <> ql.qlab)
            SELECT query_id, rank, vec_id, neg_label, cosine FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM cos) WHERE rank <= 5
        """.replace("{_cb}", _cosine_block_sql()),
        "ann_topk": f"""
            WITH {_cosine_block_sql()},
            qd AS (SELECT vec_id AS query_id, d, x FROM dims WHERE vec_id IN (0, 1, 2)),
            dots AS (SELECT q.query_id, c.vec_id, SUM(q.x * c.x) AS dot
                     FROM qd q JOIN dims c ON q.d = c.d GROUP BY 1, 2),
            cos AS (SELECT d.query_id, d.vec_id,
                           ROUND(d.dot / (nq.nrm * nc.nrm), 4) AS cosine
                    FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                    JOIN norms nc ON nc.vec_id = d.vec_id
                    WHERE d.query_id <> d.vec_id)
            SELECT query_id, rank, vec_id, cosine FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM cos) WHERE rank <= 5
        """,
        # Approximate-ANN quality gates: the engine reports per-query
        # recall@5 vs its own exact baseline; the oracle asserts the 0.8
        # floor holds for EVERY query. An engine-side recall regression
        # flips recall_ok and the hash check fails — the driver enforces
        # the floor instead of trusting rows-only output.
        "ann_srp_topk": f"""
            SELECT vec_id AS query_id, {ANN_K} AS k, TRUE AS recall_ok
            FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
        """,
        "ann_ivf_topk": f"""
            SELECT vec_id AS query_id, {ANN_K} AS k, TRUE AS recall_ok
            FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
        """,
        "ann_srp_arrow_topk": f"""
            SELECT vec_id AS query_id, {ANN_K} AS k, TRUE AS recall_ok
            FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
        """,
        "ann_pq_topk": f"""
            SELECT vec_id AS query_id, {ANN_K} AS k, TRUE AS recall_ok
            FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
        """,
        "ann_ivfpq_topk": f"""
            SELECT vec_id AS query_id, {ANN_K} AS k, TRUE AS recall_ok
            FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
        """,
    }
    # r4 whitespace contract, r5 form: every tokenizer oracle references
    # _WS_SQL/_WS_SQL_INNER/_ws_split_sql DIRECTLY in its template (RE2's
    # \s is ASCII-only; see operators/dedup.py WS docstring). No post-hoc
    # textual rewrite — guarded by the no-\s assertion below.
    # the prefix-filtered form is the SAME semantics — one oracle, two
    # engine plans, both hash-checked
    out["ngram_jaccard_prefix_docs"] = out["ngram_jaccard_docs"]
    leftovers = [k for k, v in out.items() if r"\s" in v]
    assert not leftovers, f"oracle(s) still using RE2 ASCII-only \\s: {leftovers}"
    return out
