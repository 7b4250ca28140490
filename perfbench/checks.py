"""Output checks. None of this is timed.

- ``digest``: row count plus an order-independent digest (sum of per-row
  xxhash64) of a result, for pinning results per seed and size.
- ``rows_digest``: an order-independent digest of collected rows, the
  same for a gate's Spark rows and its DuckDB ``oracle_sql()`` rows.
- ``model_crosscheck``: the spatial calls and ingest at a size the
  pure-Python model oracles in ``osmflat_rs_spark.oracle`` can handle.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from collections import Counter

# keys that identify a result row of each benchmarked call
KEY_COLS = {
    "spatial_join.pip_join": ["polygon_id", "node_idx"],
    "knn.knn_join_bulk": ["query_id", "rank", "node_idx"],
    "tiling.tile_assign_segments": ["way_idx", "zoom", "tile_x", "tile_y"],
}


def digest(df, cols: list[str] | None = None) -> list:
    """[rows, digest] of ``df`` over ``cols`` (default: all columns)."""
    from pyspark.sql import functions as F

    cols = cols or df.columns
    r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).first()
    return [int(r["n"]), str(r["s"] or 0)]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        # 12 significant digits: both engines sum doubles in their own order
        return None if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if hasattr(v, "tolist"):
        return _norm(v.tolist())
    return v


def rows_digest(cols: list[str], rows) -> list:
    """[rows, sha256] over column names and the sorted normalized rows; the
    same for Spark ``Row``s and DuckDB rows given as dicts."""
    cols = sorted(cols)
    lines = sorted(repr(tuple(_norm(r[c]) for c in cols)) for r in rows)
    return [len(lines), hashlib.sha256("\n".join([repr(cols)] + lines).encode()).hexdigest()]


def duckdb_digests(sf_dir: str, tables: list[str], sqls: dict[str, str]) -> dict[str, list]:
    """``rows_digest`` of each gate's DuckDB ``oracle_sql()`` over the sf tables."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for gate, sql in sqls.items():
        res = con.sql(sql)
        cols = res.columns
        out[gate] = rows_digest(cols, (dict(zip(cols, row)) for row in res.fetchall()))
    con.close()
    return out


def _rows(pdf, cols) -> Counter:
    return Counter(tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False))


def model_crosscheck(spark, seed: int, n_nodes: int, cpus: int) -> dict[str, int]:
    """Run ingest and the three spatial calls on ``seed``'s docs at
    ``n_nodes`` and compare each with the model oracle; returns
    ``{check: mismatched rows}``."""
    from osmflat_rs_spark import oracle
    from osmflat_rs_spark import queries as refq
    from osmflat_rs_spark.fixtures import generate_polygons, polygons_to_spark
    from osmflat_rs_spark.fixtures_spark import spark_docs
    from osmflat_rs_spark.ingest import ingest, unpersist_ingest
    from osmflat_rs_spark.operators.knn import knn_join_bulk
    from osmflat_rs_spark.operators.spatial_join import pip_join
    from osmflat_rs_spark.operators.tiling import tile_assign_segments

    docs_pdf = spark_docs(spark, n_nodes, n_nodes // 6, n_nodes // 40, seed=seed).toPandas()
    m = oracle.parse_docs_model(docs_pdf)
    docs = spark.createDataFrame(docs_pdf).repartition(cpus)
    t = ingest(docs, compute_metrics=False, with_dims=False)
    nodes = t["nodes"].select("node_idx", "osm_id", "lat", "lon")
    poly_pdf = generate_polygons()
    polys = polygons_to_spark(spark, poly_pdf)
    queries = oracle.generate_query_points(seed=seed, n=20)
    out = {}

    def cmp(name, got_pdf, want_pdf, cols):
        out[name] = sum(((_rows(got_pdf, cols) - _rows(want_pdf, cols)) + (_rows(want_pdf, cols) - _rows(got_pdf, cols))).values())

    cmp("ingest.nodes", nodes.toPandas(), m["nodes"], ["node_idx", "osm_id", "lat", "lon"])
    cmp("spatial_join.pip_join", pip_join(nodes, polys, target_cells_per_polygon=32768).toPandas(),
        oracle.q_pip_join(m, poly_pdf), KEY_COLS["spatial_join.pip_join"])
    cmp("knn.knn_join_bulk", knn_join_bulk(nodes, spark.createDataFrame(queries), k=5).toPandas(),
        oracle.q_knn(m, queries, k=5), KEY_COLS["knn.knn_join_bulk"])
    cmp("tiling.tile_assign_segments", tile_assign_segments(refq.road_segments(t), jvm_tiles=True).toPandas(),
        oracle.q_tile_assign(m), KEY_COLS["tiling.tile_assign_segments"])
    unpersist_ingest(t)
    return out
