"""spark-submit entrypoint for the spatial-join + tiling job.

Cluster deployment (north rule: ``spark-submit --py-files`` on a
multi-executor cluster at N and 4N executors):

    zip -r osmflat_rs_spark.zip osmflat_rs_spark/
    spark-submit --py-files osmflat_rs_spark.zip \\
        --num-executors $N --executor-cores 4 --executor-memory 8g \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.shuffle.partitions=$((N * 8)) \\
        scripts/submit_spatial_job.py --docs <docs_table_path> --out <warehouse>

Locally (the sandbox evidence path) the same job runs via
``python bench.py --scaling-worker <cpus>``; this script is the cluster
shape of it: read docs → ingest → PIP join → tile assignment → write
results + lineage through the snapshot catalog.
"""

from __future__ import annotations

import argparse
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", help="path to a parquet docs table (doc_id, spans)")
    ap.add_argument("--synthetic-nodes", type=int, default=0, help="generate N nodes instead of reading --docs")
    ap.add_argument("--out", required=True, help="warehouse dir for result tables")
    ap.add_argument("--cover-res", type=int, default=None)
    ap.add_argument("--salt", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("osmflat-spatial-join").getOrCreate()
    try:
        from osmflat_rs_spark.session import _ship_package

        _ship_package(spark)
    except Exception:
        pass  # --py-files already shipped the package

    from osmflat_rs_spark import queries as refq
    from osmflat_rs_spark.fixtures import generate_polygons, polygons_to_spark
    from osmflat_rs_spark.ingest import ingest
    from osmflat_rs_spark.operators.spatial_join import pip_join
    from osmflat_rs_spark.operators.tiling import tile_assign_segments
    from osmflat_rs_spark.sources.catalog import SnapshotCatalog

    if args.synthetic_nodes:
        from osmflat_rs_spark.fixtures_spark import spark_docs

        docs = spark_docs(spark, args.synthetic_nodes, args.synthetic_nodes // 6, args.synthetic_nodes // 40)
    else:
        docs = spark.read.parquet(args.docs)

    cat = SnapshotCatalog(spark, args.out)
    t0 = time.time()
    t = ingest(docs, compute_metrics=True)
    nodes = t["nodes"].persist()
    n_docs = docs.count()

    polys = polygons_to_spark(spark, generate_polygons())
    pairs = pip_join(nodes, polys, cover_res=args.cover_res, salt=args.salt)
    cat.append("pip_pairs", pairs, job="spatial_join")
    tiles = tile_assign_segments(refq.road_segments({**t, "nodes": nodes}))
    cat.append("tile_assign", tiles, job="spatial_join")
    cat.append("metrics", t["metrics"], job="spatial_join")

    dt = time.time() - t0
    print(f'{{"n_docs": {n_docs}, "seconds": {dt:.3f}, "docs_per_sec": {n_docs / dt:.1f}}}')
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
