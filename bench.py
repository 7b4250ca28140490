"""Benchmark harness.

Default mode: run the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric", "value" (total sec), "unit": "sec",
"queries": {name: sec}, "sf", "docs_per_sec", ...}.

The primary BASELINE.json metric (documents/sec for spatial-join + tiling
over the interleaved-doc table) is measured by the ``docs_pipeline``
entry: synthesize the FIXTURES.md docs table scaled to the SF, ingest it
(span parse → columnar tables), run the two-phase PIP join against the 25
fixture polygons AND z14 tile assignment, and count processed docs/sec.

Scaling mode (``--scaling``): runs the PRIMARY metric job (spatial-join
+ kNN + tiling over the pre-ingested parquet tables — BASELINE.json's
"documents/sec spatial-join + tiling throughput") in fresh subprocesses
at local[N] and local[4N] on the identical file set, best-of-N trials
per level, and reports efficiency = (thr_4N / thr_N) / 4 — the sandbox
evidence for the north rule's two-cluster-size criterion (no real
cluster here). ``--scaling --full-pipeline`` measures the secondary
ingest-inclusive job the same way. Results land in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "pip_events",
    "knn_events",
    "seg_intersections_events",
    "snap_events",
    "gi_star_events",
    "interval_join_events",
    "cell_index_events",
    "tile_events",
    "tile_pyramid_events",
    "asof_purchase_view",
    "raster_events",
    "road_length_users",
    "q1_pricing",
    "revenue_by_nation",
    "topk_orders_segment",
    "minhash_pairs_docs",
    "ngram_jaccard_docs",
    "simhash_docs",
    "ann_topk",
    "embedding_neardup",
    "lang_id_docs",
]


def _force(df) -> int:
    """Fully execute a plan without driver-side materialization."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def _warm_pandas_fn():
    """No-op pandas stage fn (forks workers, imports numpy/pandas).
    Returned as a CLOSURE so cloudpickle ships it by value — executors on
    a real cluster don't have the bench module on their path."""

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    return _warm


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_suite(cpus: int, sf_dir: str) -> dict:
    import __spark_entry__ as entry
    from osmflat_rs_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=max(8, cpus))
    qs = entry.queries()
    # untimed warmup: run EVERY headline query once at sf0.001 — the
    # first execution of each query SHAPE pays janino codegen compile of
    # its generated classes (+ Python-worker fork / Arrow init /
    # broadcast machinery), measured at 2-3s extra on the wide dedup
    # plans (minhash first-run 4.8s vs 2.5s steady in one session). A
    # long-running job compiles once and amortizes to zero; sf0.001
    # keeps the warmup pass cheap.
    for name in HEADLINE:
        _force(qs[name](spark, "/root/testdata/sf0.001"))
    # best-of-N per query (VERDICT r4 #6: this box's run-to-run variance
    # is ±30%; one mid-band sample made r4's scoreboard read as a
    # regression that the builder's own repeats didn't show. The scaling
    # bench already records best-of-trials; the suite now does too.)
    n_trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))
    timings: dict[str, float] = {}
    for _trial in range(n_trials):
        for name in HEADLINE:
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            timings[name] = round(min(timings.get(name, 1e9), time.time() - t0), 3)

    # --- the primary metric: interleaved-docs spatial-join + tiling ------
    from osmflat_rs_spark.fixtures import (
        docs_to_spark,
        generate_docs,
        generate_polygons,
        polygons_to_spark,
    )
    from osmflat_rs_spark.ingest import ingest
    from osmflat_rs_spark import queries as refq
    from osmflat_rs_spark.operators.spatial_join import pip_join
    from osmflat_rs_spark.operators.tiling import tile_assign_segments

    sf = _sf_of(sf_dir)
    scale = max(1, int(round((sf if sf > 0 else 0.1) / 0.01)))  # FIXTURES base ≈ sf0.01
    pdf, _ = generate_docs(n_nodes=2000 * scale, n_ways=300 * scale, n_rels=50 * scale)
    n_docs = len(pdf)
    docs = docs_to_spark(spark, pdf).repartition(cpus)
    polys = polygons_to_spark(spark, generate_polygons())
    # untimed warmup of the SAME pipeline at 1/20 scale: the first ingest
    # run pays one-time costs the steady state never sees again — janino
    # codegen compile of the wide ingest expressions, the order-audit's
    # first applyInPandas worker fork, broadcast machinery (measured:
    # first-iteration ingest 13.6s vs 2.8s steady at 20k nodes; the
    # headline suite's earlier queries don't touch these codepaths). A
    # long-running cluster job amortizes these to zero, same rationale as
    # the suite-level warmup above.
    wpdf, _ = generate_docs(n_nodes=1000, n_ways=150, n_rels=25)
    wdocs = docs_to_spark(spark, wpdf).repartition(cpus)
    wt = ingest(wdocs, compute_metrics=False, with_dims=False)
    _force(pip_join(wt["nodes"].select("node_idx", "osm_id", "lat", "lon"), polys))
    _force(tile_assign_segments(refq.road_segments(wt), jvm_tiles=True))
    from osmflat_rs_spark.ingest import unpersist_ingest

    unpersist_ingest(wt)  # the warmup's pinned caches must not shadow the timed run
    dt = 1e9
    for _trial in range(n_trials):  # same best-of-N protocol as the suite
        t0 = time.time()
        t = ingest(docs, compute_metrics=False, with_dims=False)
        nodes = t["nodes"].select("node_idx", "osm_id", "lat", "lon").persist()
        nodes.count()
        t = {**t, "nodes": nodes}
        _force(pip_join(nodes, polys))
        # road_segments at this scale comes out of an AQE-coalesced shuffle
        # as ONE partition; explicit fan-out spreads the DDA explode +
        # distinct (see dda_expand docstring). The 128M-point jobs pin
        # minPartitionSize instead and keep their natural partitioning.
        _force(tile_assign_segments(refq.road_segments(t), jvm_tiles=True, fanout_partitions=cpus))
        dt = min(dt, time.time() - t0)
        unpersist_ingest(t)
        nodes.unpersist()
    timings["docs_pipeline"] = round(dt, 3)
    docs_per_sec = n_docs / dt

    spark.stop()
    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline suite wall-clock (spatial join + tiling + dedup + ANN + TPC-H-ish)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_docs": n_docs,
        "docs_per_sec": round(docs_per_sec, 1),
        "protocol": f"best-of-{n_trials} per query (box variance ±30%; see BENCH/BASELINE.md)",
    }


def _ensure_docs_parquet(spark, n_nodes: int) -> str:
    """Write the deterministic interleaved-docs table to parquet ONCE
    (untimed) — both parallelism levels then read the IDENTICAL file set,
    the production shape (a real job scans an Iceberg/parquet table, not
    a generator)."""
    from osmflat_rs_spark.fixtures_spark import spark_docs

    base = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
    path = f"{base}/docs_{n_nodes}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark_docs(spark, n_nodes, n_nodes // 6, n_nodes // 40).repartition(64).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def run_scaling_job(spark, cpus: int, n_nodes: int) -> dict:
    """The scaling job body (shared by local[N] and standalone-cluster
    modes): read docs parquet → ingest (span parse, dense index, audit)
    → PIP join → in-row segment tiling. Generation, parquet write and the
    Python-worker fork storm are untimed (fixed costs a long-running
    cluster job amortizes); everything else — including every shuffle —
    is inside the throughput window."""
    from osmflat_rs_spark.fixtures import generate_polygons, polygons_to_spark
    from osmflat_rs_spark.ingest import ingest
    from osmflat_rs_spark import queries as refq
    from osmflat_rs_spark.operators.spatial_join import pip_join
    from osmflat_rs_spark.operators.tiling import tile_assign_segments

    path = _ensure_docs_parquet(spark, n_nodes)
    docs = spark.read.parquet(path)
    n_docs = docs.count()
    polys = polygons_to_spark(spark, generate_polygons())
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))
    t0 = time.time()
    t = ingest(docs, compute_metrics=False, with_dims=False)
    # this pipeline consumes only the geometry columns of nodes (pip join
    # + ref resolution) — cache the slim projection, not the tag arrays
    nodes = t["nodes"].select("node_idx", "osm_id", "lat", "lon").persist()
    nodes.count()
    t = {**t, "nodes": nodes}
    _force(pip_join(nodes, polys))
    _force(tile_assign_segments(refq.road_segments(t), jvm_tiles=True))
    dt = time.time() - t0
    return {"cpus": cpus, "n_docs": n_docs, "seconds": round(dt, 3), "docs_per_sec": round(n_docs / dt, 1)}


def _ensure_tables_parquet(spark, n_nodes: int) -> str:
    """Ingest the docs table ONCE (untimed) and write the columnar entity
    tables (nodes slim + ways_geo) — the engine's "Iceberg table" resident
    form. The PRIMARY BASELINE.json metric (spatial-join + tiling
    docs/sec) is measured over these tables; ingest is its own pipeline
    stage with separately-reported numbers."""
    from osmflat_rs_spark.ingest import ingest

    base = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
    out = f"{base}/tables_{n_nodes}"
    # guard on BOTH tables: a run killed between the two writes leaves
    # nodes/_SUCCESS behind, and a nodes-only guard would then skip prep
    # forever and die at the ways_geo read (seen after a session abort)
    if not all(
        os.path.exists(os.path.join(out, t, "_SUCCESS")) for t in ("nodes", "ways_geo")
    ):
        docs = spark.read.parquet(_ensure_docs_parquet(spark, n_nodes))
        t = ingest(docs, compute_metrics=False, with_dims=False)
        t["nodes"].select("node_idx", "osm_id", "lat", "lon").repartition(64).write.mode(
            "overwrite"
        ).parquet(f"{out}/nodes")
        t["ways_geo"].repartition(64).write.mode("overwrite").parquet(f"{out}/ways_geo")
    return out


def run_spatial_job(spark, cpus: int, n_nodes: int) -> dict:
    """The PRIMARY metric job (BASELINE.json: "documents/sec spatial-join
    + tiling throughput on the interleaved Iceberg table"): read the
    ingested columnar tables → two-phase cell-cover PIP join over every
    node + bulk kNN lookups + raster-tile↔vector assignment (in-row
    segments → DDA → distinct). Timed end-to-end including every scan and
    shuffle; table prep + Python-worker warmup untimed."""
    import pandas as pd

    from osmflat_rs_spark.fixtures import generate_polygons, polygons_to_spark
    from osmflat_rs_spark import queries as refq
    from osmflat_rs_spark.operators.knn import knn_join_bulk
    from osmflat_rs_spark.operators.spatial_join import pip_join
    from osmflat_rs_spark.operators.tiling import tile_assign_segments

    tables = _ensure_tables_parquet(spark, n_nodes)
    nodes = spark.read.parquet(f"{tables}/nodes")
    ways_geo = spark.read.parquet(f"{tables}/ways_geo")
    n_points = nodes.count()
    polys = polygons_to_spark(spark, generate_polygons())
    # deterministic in-distribution query sample (every k-th node): all
    # queries settle at a density-scaled radius, so the exact-fallback
    # branch stays a guarantee, not a measured crossJoin
    from pyspark.sql import functions as F

    stride = max(1, n_points // 2000)
    queries = (
        nodes.filter(F.col("node_idx") % stride == 0)
        .select(F.col("node_idx").cast("string").alias("query_id"), "lat", "lon")
        .persist()  # the query set is an input — don't re-scan the corpus per reference
    )
    queries.count()
    # density-scaled search radius (5th-NN distance shrinks as sqrt(n));
    # exactness never depends on it — it only sizes the fast-path cover
    radius_m = 200.0 * (8_000_000 / max(1, n_points)) ** 0.5
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))
    t0 = time.time()
    # finer cover -> more interior short-circuit, fewer Python-refined
    # boundary points (measured 2x at 32M points, both parallelism levels)
    _force(pip_join(nodes, polys, target_cells_per_polygon=32768))
    t1 = time.time()
    _force(knn_join_bulk(nodes, queries, k=5, radius_m=radius_m))
    t2 = time.time()
    _force(tile_assign_segments(refq.road_segments({"ways_geo": ways_geo}), jvm_tiles=True))
    t3 = time.time()
    dt = t3 - t0
    return {
        "cpus": cpus,
        "n_points": n_points,
        "pip": round(t1 - t0, 3),
        "knn": round(t2 - t1, 3),
        "tile": round(t3 - t2, 3),
        "seconds": round(dt, 3),
        "docs_per_sec": round(n_points / dt, 1),
    }


def _ensure_text_docs_parquet(spark, n_docs: int) -> str:
    """Write the deterministic text-docs table once (untimed); both
    parallelism levels read the identical file set."""
    from osmflat_rs_spark.fixtures_spark import spark_text_docs

    base = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
    path = f"{base}/textdocs_{n_docs}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark_text_docs(spark, n_docs).repartition(64).write.mode("overwrite").parquet(path)
    return path


def _minhash_signatures_window_form(df, id_col, text_col, n_hashes=8, k=3):
    """The REJECTED r01 shingling shape, kept ONLY as a bench contrast:
    posexplode every word + lead() windows = a full shuffle+sort of the
    entire word stream before any signature work. The library form
    (dedup.minhash_signatures) shingles in-row with zero shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.dedup import doc_words

    w = Window.partitionBy("_id").orderBy("pos")
    ws = doc_words(df, id_col, text_col)
    sh = ws.select(
        "_id", "w", *[F.lead("w", i).over(w).alias(f"w{i}") for i in range(1, k)]
    )
    sh = sh.filter(F.col(f"w{k-1}").isNotNull()).select(
        "_id", F.concat_ws(" ", "w", *[f"w{i}" for i in range(1, k)]).alias("shingle")
    )
    aggs = []
    for i in range(n_hashes):
        seed, j = divmod(i, 4)
        digest = (
            F.md5(F.col("shingle"))
            if seed == 0
            else F.md5(F.concat(F.lit(f"{seed}:"), F.col("shingle")))
        )
        aggs.append(
            F.min(F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("long")).alias(f"sig_{i}")
        )
    return sh.groupBy("_id").agg(*aggs)


def run_dedup_job(spark, cpus: int, n_docs: int) -> dict:
    """Dedup-phase throughput (VERDICT r02 #3): the full MinHash-LSH
    near-dup pipeline (in-row shingle → signatures → banded bucket join →
    lossless-pruned exact-jaccard verification) plus exact dedup over a
    text corpus with a real ~10% near-dup rate. Also times the rejected
    r01 window-shingling SIGNATURE stage alone on the same input as the
    A/B contrast."""
    from osmflat_rs_spark.operators.dedup import exact_dedup, minhash_dedup, minhash_signatures

    path = _ensure_text_docs_parquet(spark, n_docs)
    docs = spark.read.parquet(path)
    n = docs.count()
    t0 = time.time()
    _force(minhash_dedup(docs, "doc_id", "text", threshold=0.5))
    t1 = time.time()
    _force(exact_dedup(docs, "doc_id", "text"))
    t2 = time.time()
    # contrast stages (signatures only, both forms, same input)
    _force(minhash_signatures(docs, "doc_id", "text"))
    t3 = time.time()
    _force(_minhash_signatures_window_form(docs, "doc_id", "text"))
    t4 = time.time()
    dt = t2 - t0
    return {
        "cpus": cpus,
        "n_docs": n,
        "minhash_lsh": round(t1 - t0, 3),
        "exact": round(t2 - t1, 3),
        "sig_inrow": round(t3 - t2, 3),
        "sig_window_form": round(t4 - t3, 3),
        "seconds": round(dt, 3),
        "docs_per_sec": round(n / dt, 1),
    }


def run_ngram_job(
    spark, cpus: int, n_docs: int = 250_000, n_buckets: int = 256, threshold: float = 0.6,
    vocab: int | None = None,
) -> dict:
    """r5: the exact blocked-jaccard A/B — per-bucket all-pairs (the
    declared-quadratic form, triangle-salted) vs PPJoin-style prefix
    filtering (lossless, candidates only on prefix-token collisions) on
    the identical bucketed corpus. Both produce byte-identical pairs
    (asserted); the wall-clock gap is the point: the quadratic's cost is
    per-bucket-size², the prefix form's is corpus-linear + true-collision
    work."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.dedup import ngram_jaccard_pairs

    # vocab shapes the regime: the default bench corpus (vocab 5k,
    # uniform) is ADVERSARIAL for prefix filtering — every token's df is
    # ~n_docs·40/5k, so prefixes collide constantly. Real corpora are
    # Zipfian with a long rare-token tail, which is where prefix tokens
    # are selective; a large vocab approximates that regime.
    if vocab is None:
        path = _ensure_text_docs_parquet(spark, n_docs)
    else:
        from osmflat_rs_spark.fixtures_spark import spark_text_docs

        base = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
        path = f"{base}/textdocs_{n_docs}_v{vocab}"
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            spark_text_docs(spark, n_docs, vocab=vocab).repartition(64).write.mode(
                "overwrite"
            ).parquet(path)
    docs = (
        spark.read.parquet(path)
        .withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))
        .persist()
    )
    n = docs.count()
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))
    out = {"cpus": cpus, "n_docs": n, "n_buckets": n_buckets, "threshold": threshold,
           "vocab": vocab or 5000}
    counts = {}
    for meth, kw in (("prefix", {}), ("allpairs", {"salt": 4})):
        t0 = time.time()
        counts[meth] = ngram_jaccard_pairs(
            docs, "doc_id", "text", "bucket", threshold, method=meth, **kw
        ).count()
        out[f"{meth}_sec"] = round(time.time() - t0, 3)
        print(f"ngram {meth}: {out[f'{meth}_sec']}s ({counts[meth]} pairs)",
              file=sys.stderr, flush=True)
    if counts["prefix"] != counts["allpairs"]:
        raise RuntimeError(f"method result mismatch: {counts}")
    out["pairs"] = counts["prefix"]
    docs.unpersist()
    return out


def run_embed_job(
    spark, cpus: int, n_vecs: int = 100_000, threshold: float = 0.9,
    n_planes: int = 12, n_tables: int = 12,
) -> dict:
    """r5: embedding near-dup A/B — label-blocked exact all-pairs (needs a
    ground-truth blocking key; per-bucket quadratic) vs SRP-LSH global
    (no key at all; id-only candidate shuffles). The corpus plants one
    near-dup twin per 10 vectors (cosine ≈ 0.95); independent vectors
    meet at |cosine| ≲ 0.1, so the twin set IS the exact global answer
    and recall is measured against it. The structural point: all-pairs
    cost scales with (docs/bucket)² and silently MISSES any pair the
    blocking key separates; SRP cost is corpus-linear + true-collision
    work and needs no key."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.fixtures_spark import spark_embeddings
    from osmflat_rs_spark.operators.dedup import embedding_cosine_pairs, embedding_neardup_srp

    base = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
    path = f"{base}/embeddings_{n_vecs}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark_embeddings(spark, n_vecs).repartition(64).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path).persist()
    n = emb.count()
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))
    out = {"cpus": cpus, "n_vecs": n, "threshold": threshold,
           "n_planes": n_planes, "n_tables": n_tables}
    t0 = time.time()
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(
            emb, "vec_id", "embedding", "label", threshold, salt=4
        ).collect()
    }
    out["allpairs_label_sec"] = round(time.time() - t0, 3)
    srp = None
    for enc in ("jvm", "arrow"):
        t0 = time.time()
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_srp(
                emb, "vec_id", "embedding", threshold,
                n_planes=n_planes, n_tables=n_tables, encode=enc,
            ).collect()
        }
        out[f"srp_{enc}_sec"] = round(time.time() - t0, 3)
        if srp is not None and got != srp:
            raise RuntimeError("encode paths disagree on pair set")
        srp = got
    out["n_exact_pairs"] = len(exact)
    out["n_srp_pairs"] = len(srp)
    out["srp_recall"] = round(len(srp & exact) / max(len(exact), 1), 4)
    # pairs SRP found that the blocking key would have MISSED (true
    # global pairs straddling label buckets — each one verified exact)
    out["srp_extra_cross_bucket"] = len(srp - exact)
    emb.unpersist()
    return out


def run_pq_job(spark, cpus: int, n_vecs: int = 1_000_000) -> dict:
    """r5: the PQ bandwidth claim, measured. Exact brute-force cosine
    top-k scans the full float corpus (the 520-ish bytes/row parquet);
    PQ/ADC scans the PRE-ENCODED codes table (m ints/row) and touches
    floats only for the id-keyed re-rank fetch. Reports both wall
    clocks, the on-disk byte ratio, the one-time indexing cost, and
    recall of the PQ answer vs the exact one."""
    import glob

    from pyspark.sql import functions as F

    from osmflat_rs_spark.fixtures_spark import spark_embeddings
    from osmflat_rs_spark.operators.ann import (
        cosine_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    base = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
    path = f"{base}/embeddings_{n_vecs}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark_embeddings(spark, n_vecs).repartition(64).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))

    out = {"cpus": cpus, "n_vecs": n_vecs, "m": 8, "n_codes": 32}
    t0 = time.time()
    books = train_pq_codebooks(emb, m=8, n_codes=32)
    out["train_sec"] = round(time.time() - t0, 3)

    codes_path = f"{base}/pq_codes_{n_vecs}"
    t0 = time.time()
    pq_encode(emb, books).select("vec_id", "pq_codes").write.mode("overwrite").parquet(codes_path)
    out["encode_write_sec"] = round(time.time() - t0, 3)

    def _du(p):
        return sum(os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet")))

    out["float_bytes"] = _du(path)
    out["code_bytes"] = _du(codes_path)
    out["bytes_ratio"] = round(out["float_bytes"] / max(out["code_bytes"], 1), 2)

    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    t0 = time.time()
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    out["exact_scan_sec"] = round(time.time() - t0, 3)

    codes = spark.read.parquet(codes_path)
    t0 = time.time()
    approx = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(emb, q, books, k=5, oversample=8, codes=codes).collect()
    }
    out["pq_scan_sec"] = round(time.time() - t0, 3)
    out["recall_at_5"] = round(len(exact & approx) / max(len(exact), 1), 4)
    # the corpus's only real structure is the planted twin (cosine ≈
    # 0.95); ranks 2..5 of the exact answer are noise-floor ties
    # (|cosine| ≲ 0.15 among 1M iid vectors) that NO quantizer can
    # order — twin recall is the meaningful quality number here
    t1 = {(r["query_id"], r["vec_id"])
          for r in cosine_topk(emb, q, k=1).collect()}
    out["twin_recall"] = round(len(t1 & approx) / max(len(t1), 1), 4)
    out["speedup"] = round(out["exact_scan_sec"] / max(out["pq_scan_sec"], 1e-9), 2)
    return out


def run_streaming_job(spark, cpus: int, n_docs: int) -> dict:
    """Structured-Streaming throughput: the stateful MinHash-LSH near-dup
    candidate surfacer (checkpointed bucket state) run availableNow over
    the deterministic text corpus, measured end-to-end including state
    store writes — the continuous-intake shape of the dedup phase."""
    import shutil
    import tempfile

    from osmflat_rs_spark.streaming.incremental import stream_neardup_candidates

    path = _ensure_text_docs_parquet(spark, n_docs)
    n = spark.read.parquet(path).count()
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        t0 = time.time()
        q = stream_neardup_candidates(
            spark, path, schema, f"{tmp}/ck", f"{tmp}/out", threshold=0.5
        )
        if not q.awaitTermination(3000):
            # never rmtree under a live query: stop it first, and don't
            # report a bogus (truncated) throughput
            q.stop()
            raise RuntimeError("streaming bench did not finish within 3000s")
        dt = time.time() - t0
        pairs = spark.read.parquet(f"{tmp}/out").count() if os.path.exists(f"{tmp}/out") else 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "cpus": cpus,
        "n_docs": n,
        "pairs": pairs,
        "seconds": round(dt, 3),
        "docs_per_sec": round(n / dt, 1),
    }


def run_streaming_capped_job(
    spark, cpus: int, n_docs: int, cap: int = 64, n_spam: int = 1000
) -> dict:
    """VERDICT r03 #6: the streaming near-dup surfacer under a bounded
    state store. Runs the capped stream over the corpus, then computes
    (a) the state the cap actually bounded — stored docs per bucket =
    min(bucket size, cap) vs the uncapped total — and (b) the capped
    run's candidate-pair RECALL against the exact batch twin (distinct
    band-sharing pairs whose signature-estimate clears the threshold),
    the quantitative price of the documented subset semantics.

    The organic corpus's near-dups are PAIR-shaped (max bucket size 2 —
    measured; a cap ≥ 2 never binds and recall stays 1.0), so the job
    also injects an ``n_spam``-copy identical-text cluster — the
    template-spam shape that motivates the cap: one LSH bucket holding
    the whole cluster. With the cap the bucket stores ``cap`` docs
    instead of ``n_spam`` and the C(n_spam, 2) intra-cluster pairs
    collapse to ~cap·n_spam — the measured recall records exactly that
    price."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
    from osmflat_rs_spark.streaming.incremental import stream_neardup_candidates

    base_path = _ensure_text_docs_parquet(spark, n_docs)
    tmp = tempfile.mkdtemp(prefix="bench_stream_cap_")
    path = f"{tmp}/docs"
    spam = spark.range(n_spam).select(
        F.concat(F.lit("spam"), F.col("id").cast("string")).alias("doc_id"),
        F.lit("identical template boilerplate text repeated across the whole spam cluster").alias(
            "text"
        ),
    )
    spark.read.parquet(base_path).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).unionByName(spam).repartition(64).write.parquet(path)
    docs = spark.read.parquet(path)
    n = docs.count()
    schema = docs.schema
    try:
        t0 = time.time()
        q = stream_neardup_candidates(
            spark, path, schema, f"{tmp}/ck", f"{tmp}/out", threshold=0.5,
            max_state_per_bucket=cap,
        )
        if not q.awaitTermination(3000):
            q.stop()
            raise RuntimeError("capped streaming bench did not finish within 3000s")
        dt = time.time() - t0
        capped = (
            spark.read.parquet(f"{tmp}/out").select("id_a", "id_b").distinct().persist()
        )
        n_capped = capped.count()

        # exact batch twin: distinct candidate pairs with est >= threshold
        sigs = minhash_signatures(docs, "doc_id", "text").persist()
        sigs.count()
        cand = lsh_candidate_pairs(sigs)
        a = sigs.select(
            F.col("_id").cast("string").alias("id_a"), *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(8)]
        )
        b = sigs.select(
            F.col("_id").cast("string").alias("id_b"), *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(8)]
        )
        est = sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
        ) / F.lit(8.0)
        exact = (
            cand.select(F.col("id_a").cast("string").alias("id_a"), F.col("id_b").cast("string").alias("id_b"))
            .join(a, "id_a")
            .join(b, "id_b")
            .withColumn("est", est)
            .filter(F.col("est") >= 0.5)
            .select("id_a", "id_b")
            .distinct()
            .persist()
        )
        n_exact = exact.count()
        n_hit = capped.join(exact, ["id_a", "id_b"], "left_semi").count()

        # state accounting: stored docs per bucket = min(size, cap),
        # bucket key built EXACTLY like the stream's ("b:band_hash")
        from osmflat_rs_spark.operators.dedup import band_hash

        bucket_sizes = (
            sigs.select(
                F.explode(
                    F.array(
                        *[
                            F.concat_ws(
                                ":",
                                F.lit(str(bi)),
                                band_hash(*[F.col(f"sig_{bi * 2 + r}") for r in range(2)]),
                            )
                            for bi in range(4)
                        ]
                    )
                ).alias("bucket")
            )
            .groupBy("bucket")
            .count()
        )
        stored = bucket_sizes.agg(
            F.sum(F.least(F.col("count"), F.lit(cap))).alias("capped"),
            F.sum("count").alias("uncapped"),
            F.max("count").alias("max_bucket"),
        ).collect()[0]
        sigs.unpersist()
        capped.unpersist()
        exact.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "cpus": cpus,
        "n_docs": n,
        "cap": cap,
        "seconds": round(dt, 3),
        "docs_per_sec": round(n / dt, 1),
        "pairs_capped": n_capped,
        "pairs_exact": n_exact,
        "pair_recall": round(n_hit / n_exact, 4) if n_exact else 1.0,
        "state_rows_capped": int(stored["capped"]),
        "state_rows_uncapped": int(stored["uncapped"]),
        "max_bucket_size": int(stored["max_bucket"]),
    }


def run_degrade_job(
    spark,
    cpus: int,
    n_points: int = 8_000_000,
    n_polys: int = 10_000,
    n_queries: int = 1_000_000,
) -> dict:
    """VERDICT r03 #3: measure the documented 10^12-scale DEGRADE paths at
    their design point, next to the broadcast fast paths on identical
    input — (a) ``pip_join_shuffle`` with a polygon side big enough that
    distributed covers matter (10k polygons: the broadcast form must
    build 10k covers serially on the driver; shuffle mode computes them
    inside ``mapInPandas``), and (b) ``knn_join_bulk`` with a 1M-query
    cover (≈16M cover rows — the size where ``broadcast_cover=False``'s
    both-sides sort-merge on the cell key is the right plan; the
    broadcast form must ship the whole cover to every task)."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.knn import knn_join_bulk
    from osmflat_rs_spark.operators.spatial_join import pip_join, pip_join_shuffle

    # deterministic synthetic points: 10° lat x 20° lon fixed-point window
    LAT0, LATSPAN = 500_000_000, 100_000_000
    LON0, LONSPAN = 100_000_000, 200_000_000
    pts = (
        spark.range(n_points)
        .select(
            F.col("id").alias("node_idx"),
            (F.lit(LAT0) + (F.col("id") * 48271) % F.lit(LATSPAN)).alias("lat"),
            (F.lit(LON0) + (F.col("id") * 16807) % F.lit(LONSPAN)).alias("lon"),
        )
        .persist()
    )
    pts.count()

    # n_polys small squares on a grid over the window (each ~25% of its
    # grid cell — disjoint, every polygon sees real point traffic)
    import math

    import pandas as pd

    g = int(math.ceil(math.sqrt(n_polys)))
    cw, ch = LONSPAN // g, LATSPAN // g
    half = min(cw, ch) // 4
    recs = []
    for i in range(n_polys):
        cx = LON0 + (i % g) * cw + cw // 2
        cy = LAT0 + (i // g) * ch + ch // 2
        ring = [
            (cy - half, cx - half),
            (cy - half, cx + half),
            (cy + half, cx + half),
            (cy + half, cx - half),
        ]
        recs.append((f"p{i:05d}", ring))
    polys = spark.createDataFrame(
        pd.DataFrame({"polygon_id": [r[0] for r in recs], "ring": [r[1] for r in recs]}),
        schema="polygon_id string, ring array<struct<lat:long,lon:long>>",
    )

    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))

    def _prog(k, v):
        print(f"degrade {k}: {v}s", file=sys.stderr, flush=True)

    out = {"cpus": cpus, "n_points": n_points, "n_polys": n_polys}
    t0 = time.time()
    _force(pip_join_shuffle(pts, polys, cover_res=12, salt=4))
    out["pip_shuffle_10k_polys"] = round(time.time() - t0, 3)
    _prog("pip_shuffle_10k_polys", out["pip_shuffle_10k_polys"])
    t1 = time.time()
    _force(pip_join(pts, polys, cover_res=12))
    out["pip_broadcast_10k_polys"] = round(time.time() - t1, 3)
    _prog("pip_broadcast_10k_polys", out["pip_broadcast_10k_polys"])

    stride = max(1, n_points // n_queries)
    queries = (
        pts.filter(F.col("node_idx") % stride == 0)
        .select(F.col("node_idx").cast("string").alias("query_id"), "lat", "lon")
        .persist()
    )
    out["n_queries"] = queries.count()
    # expected 5th-NN distance at this density ≈ 63k fixed units; 200k
    # radius gives >3x margin so the candidate join dominates the time
    t3 = time.time()
    _force(
        knn_join_bulk(
            pts, queries, k=5, radius_m=200_000, metric="sqeuclid",
            exact_fallback=False, broadcast_cover=False,
        )
    )
    out["knn_shuffle_cover"] = round(time.time() - t3, 3)
    _prog("knn_shuffle_cover", out["knn_shuffle_cover"])
    t4 = time.time()
    _force(
        knn_join_bulk(
            pts, queries, k=5, radius_m=200_000, metric="sqeuclid",
            exact_fallback=False, broadcast_cover=True,
        )
    )
    out["knn_broadcast_cover"] = round(time.time() - t4, 3)
    _prog("knn_broadcast_cover", out["knn_broadcast_cover"])
    pts.unpersist()
    queries.unpersist()
    return out


def run_poly_bench(spark, cpus: int, n_polys: int = 30_000) -> dict:
    """Polygon-polygon intersection join throughput at constant overlap
    density: n equal hexagons with xxhash64-scattered centers over a box
    whose area scales with n, so expected partners per polygon stay
    constant and pair counts scale linearly. One parallelism level per
    process; the scaling pair is fresh back-to-back processes (protocol
    in BENCH/BASELINE.md). The exact phase groups candidate pairs by
    (ring-length-a, ring-length-b) and runs the crossing-number + edge
    sign tests vectorized across pairs (pip.batched_any_vertex_in) —
    measured 7.2x over the per-pair Python loop it replaced at 30k
    hexagons (40.6s -> 5.7s, identical pairs)."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.spatial_join import polygon_intersect_join

    HEX = [
        (160000, 0), (80000, 138564), (-80000, 138564),
        (-160000, 0), (-80000, -138564), (80000, -138564),
    ]
    s = max(1, math.isqrt(n_polys // 300))
    spanx, spany = 4_000_000 * s, 2_000_000 * s
    cx = F.lit(100_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(11))) % spanx
    cy = F.lit(500_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(12))) % spany
    ring = F.array(
        *[
            F.struct((cy + F.lit(dy)).cast("long").alias("lat"),
                     (cx + F.lit(dx)).cast("long").alias("lon"))
            for dx, dy in HEX
        ]
    )
    polys = (
        spark.range(n_polys)
        .select(F.col("id").alias("pid"), ring.alias("ring"))
        .repartition(2 * cpus)
        .persist()
    )
    polys.count()
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))
    out = {"cpus": cpus, "n_polys": n_polys}
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        pairs = polygon_intersect_join(
            polys, polys, id_a="pid", id_b="pid", res=14, self_join=True
        ).count()
        best = min(best, time.time() - t0)
    out["sec"] = round(best, 3)
    out["pairs"] = pairs
    out["pairs_per_poly"] = round(pairs / n_polys, 2)
    out["polys_per_sec"] = round(n_polys / best)
    polys.unpersist()
    return out


def run_hotspot_bench(spark, cpus: int, n_points: int = 32_000_000) -> dict:
    """Grid-density hotspot clustering at constant density: n points
    xxhash64-scattered over a box sized so cells average ~25 points
    (min_pts=30 keeps core occupancy ~16%, below the 8-adjacency
    percolation threshold — many small hotspots, not one giant one).
    The point of the bench: the ONLY stage that touches point rows is
    the first groupBy; the connected-components rounds run on CELL rows
    (n/25), so wall-clock is dominated by one map-side-combinable
    aggregate — the shape that survives 100 TB."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.hotspot import hotspot_clusters

    cs = 100_000
    n_cells = max(8, n_points // 25)
    sx = math.isqrt(2 * n_cells)  # 2:1 aspect
    sy = max(1, n_cells // sx)
    pts = spark.range(n_points).select(
        F.col("id").alias("event_id"),
        (F.lit(500_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(21))) % F.lit(sy * cs))
        .cast("long").alias("lat"),
        (F.lit(100_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(22))) % F.lit(sx * cs))
        .cast("long").alias("lon"),
    )
    out = {"cpus": cpus, "n_points": n_points, "n_cells": sx * sy}
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        res = hotspot_clusters(pts, cell_size=cs, min_pts=30, id_col="event_id")
        agg = res.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("cluster").alias("k")
        ).collect()[0]
        best = min(best, time.time() - t0)
    out["sec"] = round(best, 3)
    out["clustered_points"] = agg["n"]
    out["n_clusters"] = agg["k"]
    out["points_per_sec"] = round(n_points / best)
    return out


def run_hausdorff_bench(spark, cpus: int, n_traj: int = 100_000, pts_per: int = 40) -> dict:
    """Trajectory-similarity join at constant anchor-cell density:
    n_traj cluster-confined trajectories (patch 150k fixed units) whose
    centers are xxhash64-scattered so an anchor cell holds ~4 of them —
    the operator's contract regime (candidates ~ grid-hash bound over
    anchor cells, refine ~ pts_per^2 per surviving pair). Reports
    points/sec over the full pipeline: collapse + candidates + bbox
    prune + exact blockwise refine."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.trajectory import hausdorff_join

    tau = 400_000
    cell = 439_453  # lat cell width at the res hausdorff_join picks for this tau
    per_cell = 4
    n_cells = max(4, n_traj // per_cell)
    sx = max(1, int(round(n_cells ** 0.5)))
    sy = max(1, n_cells // sx)
    n_points = n_traj * pts_per
    base = spark.range(n_points).select(
        (F.col("id") / pts_per).cast("long").alias("traj_id"), F.col("id").alias("pid")
    )
    clat = 400_000_000 + (F.abs(F.xxhash64(F.col("traj_id"), F.lit(41))) % F.lit(sy * cell))
    clon = 100_000_000 + (F.abs(F.xxhash64(F.col("traj_id"), F.lit(42))) % F.lit(sx * cell))
    pts = base.select(
        "traj_id",
        (clat + F.abs(F.xxhash64(F.col("pid"), F.lit(43))) % F.lit(150_000)).cast("long").alias("lat"),
        (clon + F.abs(F.xxhash64(F.col("pid"), F.lit(44))) % F.lit(150_000)).cast("long").alias("lon"),
    )
    out = {"cpus": cpus, "n_traj": n_traj, "pts_per": pts_per, "n_points": n_points, "tau": tau}
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        n_pairs = hausdorff_join(pts, tau, traj_col="traj_id").count()
        best = min(best, time.time() - t0)
    out["sec"] = round(best, 3)
    out["n_pairs"] = n_pairs
    out["points_per_sec"] = round(n_points / best)
    return out


def run_lcss_bench(spark, cpus: int, n_traj: int = 100_000, pts_per: int = 40) -> dict:
    """LCSS trajectory-similarity join at constant cell density — the
    DP trajectory-join family's bench (LCSS/EDR/DTW share the candidate
    pipeline and the batch-vectorized Arrow DP refine; the in-JVM fold
    alternative is refine='expr'). Same scatter as run_hausdorff_bench
    (~4 trajectory centers per 440k cell, 150k patches); DP cost is
    pts_per^2 int64 per surviving candidate pair, vectorized ACROSS the
    Arrow batch. Reports points/sec over collapse + any-match cell
    candidates + DP refine."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.trajectory import lcss_join

    eps = 40_000
    cell = 439_453
    per_cell = 4
    n_cells = max(4, n_traj // per_cell)
    sx = max(1, int(round(n_cells ** 0.5)))
    sy = max(1, n_cells // sx)
    n_points = n_traj * pts_per
    base = spark.range(n_points).select(
        (F.col("id") / pts_per).cast("long").alias("traj_id"), F.col("id").alias("pid")
    )
    clat = 400_000_000 + (F.abs(F.xxhash64(F.col("traj_id"), F.lit(41))) % F.lit(sy * cell))
    clon = 100_000_000 + (F.abs(F.xxhash64(F.col("traj_id"), F.lit(42))) % F.lit(sx * cell))
    pts = base.select(
        "traj_id",
        "pid",
        (clat + F.abs(F.xxhash64(F.col("pid"), F.lit(43))) % F.lit(150_000)).cast("long").alias("lat"),
        (clon + F.abs(F.xxhash64(F.col("pid"), F.lit(44))) % F.lit(150_000)).cast("long").alias("lon"),
    )
    out = {"cpus": cpus, "n_traj": n_traj, "pts_per": pts_per, "n_points": n_points, "eps": eps}
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        n_pairs = lcss_join(
            pts, eps, min_matches=3, traj_col="traj_id", order_col="pid"
        ).count()
        best = min(best, time.time() - t0)
    out["sec"] = round(best, 3)
    out["n_pairs"] = n_pairs
    out["points_per_sec"] = round(n_points / best)
    return out


def run_coloc_bench(spark, cpus: int, n_points: int = 16_000_000) -> dict:
    """Spatiotemporal co-location self-join at constant spacetime
    density: n points xxhash64-scattered over a grid x time-range sized
    so each (cell, bucket) composite key holds ~8 points — the regime
    the operator contracts for (docstring: pick (radius, window) so a
    spacetime cell holds O(1)-O(100) points). What the bench pins: the
    27x explode is map-side, the candidate stage is ONE hash equi-join,
    and wall-clock tracks candidate count (~27 * 8 per exploded row),
    not corpus^2."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.coloc import coloc_pairs, pick_coloc_res

    radius, window_us = 100_000, 3_600_000_000
    res = pick_coloc_res(radius)
    cell_lat = 1_800_000_000 >> res
    cell_lon = 3_600_000_000 >> res
    per_key = 8
    n_keys = max(8, n_points // per_key)
    # cube-ish split between two space axes and time
    sx = max(1, round(n_keys ** (1 / 3)))
    sy = sx
    nb = max(1, n_keys // (sx * sy))
    pts = spark.range(n_points).select(
        F.col("id").alias("event_id"),
        (F.lit(500_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(31))) % F.lit(sy * cell_lat))
        .cast("long").alias("lat"),
        (F.lit(100_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(32))) % F.lit(sx * cell_lon))
        .cast("long").alias("lon"),
        (F.abs(F.xxhash64(F.col("id"), F.lit(33))) % F.lit(nb * window_us))
        .cast("long").alias("t_us"),
    )
    out = {"cpus": cpus, "n_points": n_points, "n_keys": sx * sy * nb, "res": res}
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        n_pairs = coloc_pairs(pts, radius=radius, window_us=window_us).count()
        best = min(best, time.time() - t0)
    out["sec"] = round(best, 3)
    out["n_pairs"] = n_pairs
    out["points_per_sec"] = round(n_points / best)
    return out


def run_knox_bench(spark, cpus: int, n_points: int = 8_000_000) -> dict:
    """Knox space-time statistic throughput. Density must be constant
    per MARGINAL, not per composite key: the spatial-only count joins
    on the cell alone (all time buckets of a cell collapse together)
    and the temporal-only count on the bucket alone — a --coloc-style
    constant-spacetime-density synth makes those two marginal joins
    quadratic in n. Here the grid is sized so each SPATIAL cell holds
    ~64 points AND each TIME bucket holds ~64 points (span grows with
    n on all axes), so all three pair-count joins (27-key spacetime,
    9-key spatial, 3-key temporal band) are candidate-linear and die
    into map-side partial counts — zero pair rows materialized."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.coloc import knox_statistic, pick_coloc_res

    radius, window_us = 100_000, 3_600_000_000
    res = pick_coloc_res(radius)
    cell_lat = 1_800_000_000 >> res
    cell_lon = 3_600_000_000 >> res
    per_marginal = 64
    sx = max(1, round((n_points / per_marginal) ** 0.5))
    sy = sx
    nb = max(1, n_points // per_marginal)
    pts = spark.range(n_points).select(
        F.col("id").alias("event_id"),
        (F.lit(500_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(31))) % F.lit(sy * cell_lat))
        .cast("long").alias("lat"),
        (F.lit(100_000_000) + F.abs(F.xxhash64(F.col("id"), F.lit(32))) % F.lit(sx * cell_lon))
        .cast("long").alias("lon"),
        (F.abs(F.xxhash64(F.col("id"), F.lit(33))) % F.lit(nb * window_us))
        .cast("long").alias("t_us"),
    )
    out = {"cpus": cpus, "n_points": n_points, "n_keys": sx * sy * nb, "res": res}
    best, row = 1e9, None
    for _ in range(2):
        t0 = time.time()
        row = knox_statistic(pts, radius=radius, window_us=window_us).collect()[0]
        best = min(best, time.time() - t0)
    out["sec"] = round(best, 3)
    out["x_knox"] = int(row["x_knox"])
    out["n_space"] = int(row["n_space"])
    out["n_time"] = int(row["n_time"])
    out["points_per_sec"] = round(n_points / best)
    return out


def run_stitch_bench(spark, cpus: int, n_segments: int = 16_000_000) -> dict:
    """Line-merge throughput: segments in blocks of 32 (even blocks
    close into rings, odd stay open paths — the gate synth at scale),
    so components are bounded and the min-label CC converges in ~log2
    rounds. What the bench pins: per-round frontier joins + the two
    degree/weight rollups stay edge-linear; segments/sec through the
    full chain classification. Invariant checked in-bench: every block
    yields exactly one chain."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.graph import stitch_lines

    e = F.col("id")
    seg = (
        spark.range(n_segments)
        .filter(~((e % 32 == 31) & ((e / 32).cast("long") % 2 == 1)))
        .select(
            e.alias("seg_id"),
            e.alias("a"),
            F.when(e % 32 == 31, e - 31).otherwise(e + 1).alias("b"),
            (F.lit(1) + e % 5).cast("long").alias("w"),
        )
    )
    n_blocks = n_segments // 32
    out = {"cpus": cpus, "n_segments": n_segments, "n_blocks": n_blocks}
    best, n_chains = 1e9, None
    for _ in range(2):
        t0 = time.time()
        n_chains = stitch_lines(seg, "seg_id", "a", "b", weight_col="w").count()
        best = min(best, time.time() - t0)
    if n_chains != n_blocks:
        raise AssertionError(f"chain invariant broken: {n_chains} != {n_blocks}")
    out["sec"] = round(best, 3)
    out["n_chains"] = int(n_chains)
    out["segments_per_sec"] = round(n_segments / best)
    return out


def run_bbox_bench(spark, cpus: int, n_boxes: int = 8_000_000) -> dict:
    """Rectangle-overlap join throughput at constant overlap density:
    n boxes per side, centers xxhash64-scattered over a domain sized so
    expected pair count stays ~linear in n (domain area grows with n),
    box extents ~1 cell. What the bench pins: in-row covers (no
    pre-shuffle), ONE hash equi-join on the cell, exactly-once
    ownership (pair count == semantics with no distinct stage), and
    wall-clock tracking candidates, not corpus²."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.bbox import bbox_join

    cell = 1000
    # domain side grows with sqrt(n): ~1 box per cell-sized tile per side
    side = max(1, int((n_boxes) ** 0.5)) * cell
    half_max = 600

    def boxes(seed_a, seed_b, idc):
        return spark.range(n_boxes).select(
            F.col("id").alias(idc),
            (F.abs(F.xxhash64(F.col("id"), F.lit(seed_a))) % F.lit(side)).alias("_cx0"),
            (F.abs(F.xxhash64(F.col("id"), F.lit(seed_b))) % F.lit(side)).alias("_cy0"),
            (F.lit(1) + F.abs(F.xxhash64(F.col("id"), F.lit(seed_a + 7))) % F.lit(half_max)).alias("_hx"),
            (F.lit(1) + F.abs(F.xxhash64(F.col("id"), F.lit(seed_b + 7))) % F.lit(half_max)).alias("_hy"),
        ).select(
            idc,
            (F.col("_cx0") - F.col("_hx")).alias("x_min"),
            (F.col("_cy0") - F.col("_hy")).alias("y_min"),
            (F.col("_cx0") + F.col("_hx")).alias("x_max"),
            (F.col("_cy0") + F.col("_hy")).alias("y_max"),
        )

    lt, rt = boxes(11, 12, "la"), boxes(21, 22, "rb")
    out = {"cpus": cpus, "n_boxes": n_boxes, "cell": cell}
    best, n_pairs = 1e9, None
    for _ in range(2):
        t0 = time.time()
        n_pairs = bbox_join(lt, rt, cell, left_id="la", right_id="rb").count()
        best = min(best, time.time() - t0)
    out["sec"] = round(best, 3)
    out["n_pairs"] = int(n_pairs)
    out["boxes_per_sec"] = round(n_boxes / best)
    return out


def run_hamming_bench(spark, cpus: int, n_hashes: int = 32_000_000) -> dict:
    """Block-combination Hamming join throughput (n_blocks=6 → 20
    tables × ~32-bit keys): n 64-bit fingerprints in planted pairs
    (odd row = even row's hash with one flipped bit → exactly n/2 true
    pairs; bases xxhash64-random). The simple
    k+1 banding is measured NOT to finish here (16-bit keys → n²/2^16
    accidental candidates — the birthday blowup the operator docstring
    documents); the block scheme's accidental density is n²·20/2^32.
    Pins hashes/sec through explode + join + verify + output-sized
    dedup, and that the planted pair count comes back exact."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.dedup import hamming_neardup_pairs

    # planted pairs: each odd row = the preceding even row's hash with
    # ONE flipped bit -> exactly n/2 true pairs at distance 1, the rest
    # xxhash64-random (accidental <=3 matches ~ n^2*20/2^32 with the
    # block keys; negligible vs the planted count)
    base_h = F.xxhash64((F.col("id") / 2).cast("long"), F.lit(7))
    flip = F.when(
        F.col("id") % 2 == 1,
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64(id, 9), 64) AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    df = spark.range(n_hashes).select(
        F.col("id").alias("doc_id"), base_h.bitwiseXOR(flip).alias("h")
    )
    out = {"cpus": cpus, "n_hashes": n_hashes}
    best, n_pairs = 1e9, None
    for _ in range(2):
        t0 = time.time()
        n_pairs = hamming_neardup_pairs(
            df, "doc_id", "h", bits=64, max_hamming=3, n_blocks=6
        ).count()
        best = min(best, time.time() - t0)
    if n_pairs < n_hashes // 2:  # every planted pair must be found
        raise AssertionError(f"recall broken: {n_pairs} < {n_hashes // 2}")
    out["sec"] = round(best, 3)
    out["n_pairs"] = int(n_pairs)
    out["hashes_per_sec"] = round(n_hashes / best)
    return out


def run_editdist_bench(spark, cpus: int, n_strings: int = 4_000_000) -> dict:
    """Q-gram prefix-filtered edit-distance join throughput at d=2
    (`method='qgram'`, the Ed-Join scale path): 32/33-char md5 keys
    in planted pairs (odd row = even row's key + one appended
    char -> exactly n/2 true pairs at distance 1). The pure length-band
    method is measured NOT to finish on this corpus (every string
    shares one of two 3-wide length bands -> per-bucket all-pairs, the
    degradation its docstring declares); the prefix join's accidental
    candidates are bounded by gram df, so wall-clock is ~linear. The
    planted-pair count is asserted in-bench."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.dedup import edit_distance_join

    base = F.md5((F.col("id") / 2).cast("long").cast("string"))  # 32 hex chars
    st = F.when(F.col("id") % 2 == 1, F.concat(base, F.lit("q"))).otherwise(base)
    df = spark.range(n_strings).select(F.col("id").alias("doc_id"), st.alias("st"))
    out = {"cpus": cpus, "n_strings": n_strings}
    best, n_pairs = 1e9, None
    for _ in range(2):
        t0 = time.time()
        # q=6: hex-alphabet keys need 16^q >> n (the operator contract;
        # q=3 = 4,096 grams measured quadratic at 10^6 strings, and even
        # q=5 = 1.05M grams saturated at 2M strings — per-string cost
        # doubled). 16^6 = 16.8M keeps gram df O(1) to ~5M strings.
        n_pairs = edit_distance_join(df, "doc_id", "st", 2, method="qgram", q=6).count()
        best = min(best, time.time() - t0)
    if n_pairs < n_strings // 2:  # every planted pair must be found
        raise AssertionError(f"recall broken: {n_pairs} < {n_strings // 2}")
    out["sec"] = round(best, 3)
    out["n_pairs"] = int(n_pairs)
    out["strings_per_sec"] = round(n_strings / best)
    return out


def run_pagerank_bench(spark, cpus: int, n_nodes: int = 10_000_000, iters: int = 3) -> dict:
    """Iterative-loop scaling evidence: exact-integer PageRank over a
    uniform 3-out synthetic mesh (spark.range construction — pure JVM).
    Per round: edges ⋈ ranks equi-join + map-side-combined sum +
    teleport left-join + eager localCheckpoint. What the bench pins:
    per-round cost is flat across rounds (the localCheckpoint lineage
    discipline — without it round t re-walks rounds 0..t-1), and the
    join+agg round scales with cores. validate=False: the range
    construction guarantees uniform out-degree; the two validation
    aggregates would double the scan count being measured."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.graph import pagerank_uniform

    edges = (
        spark.range(n_nodes)
        .select(
            F.col("id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .selectExpr("src", f"(src * 31 + k) % {n_nodes} AS dst")
    )
    out = {"cpus": cpus, "n_nodes": n_nodes, "iters": iters}
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        ranks = pagerank_uniform(edges, n_nodes, 3, iters, validate=False)
        mass = ranks.agg(F.sum("rank_scaled").alias("m")).collect()[0]["m"]
        best = min(best, time.time() - t0)
    assert mass == n_nodes * 60**iters, f"mass violated: {mass}"
    out["sec"] = round(best, 3)
    out["relaxations_per_sec"] = round(n_nodes * 3 * iters / best)
    return out


def run_encode_bench(spark, cpus: int, n_points: int = 32_000_000) -> dict:
    """VERDICT r4 #5: measured contract for the cell-encode stage per
    backend — Morton is a pure-JVM codegen expression; S2 is a
    NumPy-vectorized Arrow pandas UDF (Python-worker-bound); both timed
    on the identical synthetic point table. The resulting rows/sec go in
    the S2Backend docstring as its scale contract."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.functions.cell_backend import get_backend

    pts = (
        spark.range(n_points)
        .select(
            (F.lit(500_000_000) + (F.col("id") * 48271) % F.lit(100_000_000)).alias("lat"),
            (F.lit(100_000_000) + (F.col("id") * 16807) % F.lit(200_000_000)).alias("lon"),
        )
        .persist()
    )
    pts.count()
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))
    out = {"cpus": cpus, "n_points": n_points}
    for name, res in (("morton", 14), ("s2", 14)):
        be = get_backend(name)
        df = pts.withColumn("cell", be.cell_expr(F.col("lat"), F.col("lon"), res))
        _force(df.limit(100_000))  # warm the path (janino / worker fork)
        best = 1e9
        for _ in range(2):
            t0 = time.time()
            _force(df)
            best = min(best, time.time() - t0)
        out[f"{name}_sec"] = round(best, 3)
        out[f"{name}_rows_per_sec"] = round(n_points / best)
        print(f"encode {name}: {out[f'{name}_sec']}s", file=sys.stderr, flush=True)
    pts.unpersist()
    return out


def run_triangles_bench(spark, cpus: int, n_nodes: int = 4_000_000) -> dict:
    """Graph-analytics throughput: exact triangle counting over a
    3-out deterministic mesh (m = 3n edge rows, near-uniform degree ~6
    so the degree orientation's wedge bound is exercised without skew
    pathology). Pure codegen equi-joins; the number measured is
    undirected-edge rows per second through the full count (canonicalize
    + orient + wedge join + close + per-node rollup). Run once per
    process at ONE level; two-level scaling via fresh processes."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.graph import triangle_count

    edges = (
        spark.range(n_nodes)
        .select(
            F.col("id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .selectExpr("src", f"(src * 31 + k) % {n_nodes} AS dst")
    )
    out = {"cpus": cpus, "n_nodes": n_nodes, "n_edge_rows": 3 * n_nodes}
    best, tri_total = 1e9, None
    for _ in range(2):
        t0 = time.time()
        tri = triangle_count(edges)
        total = tri.agg(F.sum("n_tri").alias("t")).collect()[0]["t"]
        best = min(best, time.time() - t0)
        tri_total = total
    out["sec"] = round(best, 3)
    out["triangles_x3"] = int(tri_total)
    out["edges_per_sec"] = round(3 * n_nodes / best)
    return out


def run_adaptive_bench(spark, cpus: int, n_points: int = 32_000_000) -> dict:
    """Adaptive-quadtree build throughput: one point-sized exchange +
    max_level occupied-cell rollups + per-level parent joins. Points
    are a dense blob + uniform background (so the leaf set is genuinely
    mixed-level); measured points/sec through the full leaf cover with
    a total-count invariant check (leaves partition the corpus)."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.tiling import adaptive_grid

    pts = spark.range(n_points).select(
        F.when(
            F.col("id") % 4 == 0,
            (F.lit(520_000_000) + (F.col("id") * 97) % F.lit(1_000_000)),
        )
        .otherwise((F.col("id") * 48271) % F.lit(1_700_000_000) - F.lit(850_000_000))
        .cast("long")
        .alias("lat"),
        F.when(
            F.col("id") % 4 == 0,
            (F.lit(133_000_000) + (F.col("id") * 89) % F.lit(1_000_000)),
        )
        .otherwise((F.col("id") * 16807) % F.lit(3_500_000_000) - F.lit(1_750_000_000))
        .cast("long")
        .alias("lon"),
    )
    out = {"cpus": cpus, "n_points": n_points, "max_level": 14, "cap": 100_000}
    best, nsum, nleaves = 1e9, None, None
    for _ in range(2):
        t0 = time.time()
        leaves = adaptive_grid(pts, max_level=14, cap=100_000)
        row = leaves.agg(F.sum("n").alias("s"), F.count("*").alias("c")).collect()[0]
        best = min(best, time.time() - t0)
        nsum, nleaves = row["s"], row["c"]
    assert nsum == n_points, f"leaf cover lost rows: {nsum} != {n_points}"
    out["sec"] = round(best, 3)
    out["n_leaves"] = int(nleaves)
    out["points_per_sec"] = round(n_points / best)
    return out


def run_segments_bench(spark, cpus: int, n_segs: int = 1_000_000) -> dict:
    """Segment-intersection join throughput at constant spatial density.

    Deterministic short segments (the gate's recipe) over a box whose
    area scales with n_segs (4x sparser than the sf0.01 gate box, so
    per-cell candidate density — and therefore candidates per segment —
    is a constant, not a function of n). Run once per process at ONE
    parallelism level; the two-level scaling pair uses fresh
    back-to-back processes per the BENCH/BASELINE.md protocol."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.segments import segment_intersection_join

    s = max(1, math.isqrt(n_segs // 2500))
    spanx, spany = 4_000_000 * s, 2_000_000 * s
    # xxhash64 position mixing: the Lehmer-style (id*const)%span lattice
    # correlates positions across span sizes, so pair counts would not
    # scale with n; a hash keeps spatial density genuinely uniform.
    hx = F.abs(F.xxhash64(F.col("id"), F.lit(1)))
    hy = F.abs(F.xxhash64(F.col("id"), F.lit(2)))
    segs = spark.range(n_segs).select(
        F.col("id").alias("sid"),
        (hx % spanx).alias("x1"),
        (hy % spany).alias("y1"),
        (hx % spanx + F.abs(F.xxhash64(F.col("id"), F.lit(3))) % 131073 - 65536).alias("x2"),
        (hy % spany + F.abs(F.xxhash64(F.col("id"), F.lit(4))) % 131073 - 65536).alias("y2"),
    ).repartition(2 * cpus).persist()
    segs.count()
    _force(spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(_warm_pandas_fn(), schema="id long"))
    out_df = segment_intersection_join(segs, cell_size=1 << 16)
    _force(out_df.limit(50_000))  # warm (janino / Python worker fork)
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        _force(out_df)
        best = min(best, time.time() - t0)
    n_pairs = out_df.count()
    segs.unpersist()
    return {
        "cpus": cpus,
        "n_segs": n_segs,
        "n_pairs": n_pairs,
        "sec": round(best, 3),
        "segs_per_sec": round(n_segs / best),
    }


def run_cluster_worker(
    master_url: str,
    cores_max: int,
    job: str,
    executor_cores: int = 1,
    executor_memory: str = "2g",
    offheap: str = "2g",
) -> dict:
    """One parallelism level of the REAL-multi-executor evidence
    (BENCH/BASELINE.md round-3 section): connect to a local standalone
    cluster and run the job. Default shape: SINGLE-CORE executors — 2 vs
    8 separate executor JVMs is then a true N -> 4N executor pair inside
    this box's bandwidth-fair <=8-core regime; small heaps so 8
    executors fit without DRAM-unfair swap. The 4-core/3g shape used for
    the 8->32-core ceiling measurement is reachable via the parameters
    (scripts/cluster_scaling_worker.py)."""
    from osmflat_rs_spark.session import get_spark

    spark = get_spark(
        "bench-cluster",
        master=master_url,
        shuffle_partitions=max(8, 2 * cores_max),
        extra_conf={
            "spark.cores.max": str(cores_max),
            "spark.executor.cores": str(executor_cores),
            "spark.executor.memory": executor_memory,
            "spark.memory.offHeap.enabled": "true",
            "spark.memory.offHeap.size": offheap,
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        },
    )
    n = int(os.environ.get("SPARK_GRAFT_SCALE_NODES", "1000000"))
    out = run_dedup_job(spark, cores_max, n) if job == "dedup" else run_spatial_job(spark, cores_max, n)
    out["executors"] = cores_max // executor_cores
    spark.stop()
    return out


def _standalone_cluster(total_cores: int = 32):
    """Start a local standalone master + one worker; return (procs,
    master_url). Caller must terminate the procs."""
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    spark_class = os.path.join(spark_home, "bin", "spark-class")
    port = int(os.environ.get("SPARK_GRAFT_MASTER_PORT", "7099"))
    url = f"spark://127.0.0.1:{port}"
    master = subprocess.Popen(
        [spark_class, "org.apache.spark.deploy.master.Master", "-h", "127.0.0.1",
         "-p", str(port), "--webui-port", "0"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    time.sleep(8)
    worker = subprocess.Popen(
        [spark_class, "org.apache.spark.deploy.worker.Worker", url,
         "-c", str(total_cores), "-m", "100g", "--webui-port", "0"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    time.sleep(8)
    return [master, worker], url


def run_scaling_worker(cpus: int, n_nodes: int) -> dict:
    """One parallelism level of the two-cluster-size evidence on a single
    JVM (local[N])."""
    from osmflat_rs_spark.session import get_spark

    # minPartitionSize floor lowered so AQE keeps ~core-count partitions on
    # this (deliberately modest) input instead of coalescing to 1-4 — at
    # real 100TB scale the default 1MB floor never binds.
    spark = get_spark(
        "bench-scaling",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, 2 * cpus),
        extra_conf={"spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"},
    )
    out = run_scaling_job(spark, cpus, n_nodes)
    spark.stop()
    return out


def main():
    if "--spatial-worker" in sys.argv:
        # the PRIMARY metric job at one parallelism level
        from osmflat_rs_spark.session import get_spark

        cpus = int(sys.argv[sys.argv.index("--spatial-worker") + 1])
        n_nodes = int(os.environ.get("SPARK_GRAFT_SCALE_NODES", "16000000"))
        spark = get_spark(
            "bench-spatial",
            master=f"local[{cpus}]",
            shuffle_partitions=max(8, 2 * cpus),
            extra_conf={"spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"},
        )
        print(json.dumps(run_spatial_job(spark, cpus, n_nodes)))
        spark.stop()
        return

    if "--scaling-worker" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--scaling-worker") + 1])
        n_nodes = int(os.environ.get("SPARK_GRAFT_SCALE_NODES", "150000"))
        print(json.dumps(run_scaling_worker(cpus, n_nodes)))
        return

    if "--dedup-worker" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = int(sys.argv[sys.argv.index("--dedup-worker") + 1])
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_NODES", "1000000"))
        spark = get_spark(
            "bench-dedup",
            master=f"local[{cpus}]",
            shuffle_partitions=max(8, 2 * cpus),
            extra_conf={"spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"},
        )
        print(json.dumps(run_dedup_job(spark, cpus, n_docs)))
        spark.stop()
        return

    if "--degrade" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-degrade",
            master=f"local[{cpus}]",
            shuffle_partitions=max(8, 2 * cpus),
            extra_conf={
                # the 1M-query broadcast-cover contrast ships a ~16M-row
                # broadcast; size the (single-JVM) driver for it
                "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
                "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
            },
        )
        out = run_degrade_job(
            spark,
            cpus,
            n_points=int(os.environ.get("SPARK_GRAFT_DEGRADE_POINTS", "8000000")),
            n_polys=int(os.environ.get("SPARK_GRAFT_DEGRADE_POLYS", "10000")),
            n_queries=int(os.environ.get("SPARK_GRAFT_DEGRADE_QUERIES", "1000000")),
        )
        out["metric"] = "degrade-path wall-clock (10k-polygon shuffle PIP; 1M-query no-broadcast kNN)"
        out["unit"] = "sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--embed" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-embed", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_embed_job(
            spark, cpus, n_vecs=int(os.environ.get("SPARK_GRAFT_EMBED_VECS", "100000"))
        )
        out["metric"] = "embedding near-dup: SRP-LSH global vs label-blocked all-pairs wall-clock"
        out["unit"] = "sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--pq" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-pq", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_pq_job(
            spark, cpus, n_vecs=int(os.environ.get("SPARK_GRAFT_PQ_VECS", "1000000"))
        )
        out["metric"] = "PQ/ADC code scan vs exact float scan (top-5, 5 queries)"
        out["unit"] = "sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--ngram" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-ngram", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        vocab_env = os.environ.get("SPARK_GRAFT_NGRAM_VOCAB")
        out = run_ngram_job(
            spark, cpus,
            n_docs=int(os.environ.get("SPARK_GRAFT_NGRAM_DOCS", "250000")),
            n_buckets=int(os.environ.get("SPARK_GRAFT_NGRAM_BUCKETS", "256")),
            vocab=int(vocab_env) if vocab_env else None,
        )
        out["metric"] = "exact blocked jaccard: prefix-filter vs all-pairs wall-clock"
        out["unit"] = "sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--encode" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-encode", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_encode_bench(
            spark, cpus, n_points=int(os.environ.get("SPARK_GRAFT_ENCODE_POINTS", "32000000"))
        )
        out["metric"] = "cell-encode throughput per backend (Morton JVM vs S2 pandas UDF)"
        out["unit"] = "rows/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--poly" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-poly", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_poly_bench(
            spark, cpus, n_polys=int(os.environ.get("SPARK_GRAFT_POLY_N", "30000"))
        )
        out["metric"] = "polygon-polygon intersection join throughput (constant density)"
        out["unit"] = "polys/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--hotspot" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-hotspot", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_hotspot_bench(
            spark, cpus, n_points=int(os.environ.get("SPARK_GRAFT_HOTSPOT_N", "32000000"))
        )
        out["metric"] = "grid-density hotspot clustering throughput (constant density)"
        out["unit"] = "points/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--hausdorff" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-hausdorff", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_hausdorff_bench(
            spark, cpus, n_traj=int(os.environ.get("SPARK_GRAFT_HAUS_NTRAJ", "100000"))
        )
        out["metric"] = "hausdorff trajectory-similarity join throughput (constant density)"
        out["unit"] = "points/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--lcss" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-lcss", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_lcss_bench(
            spark, cpus, n_traj=int(os.environ.get("SPARK_GRAFT_LCSS_NTRAJ", "100000"))
        )
        out["metric"] = "LCSS trajectory-similarity join throughput (DP trajectory-join family)"
        out["unit"] = "points/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--pagerank" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-pagerank", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_pagerank_bench(
            spark, cpus, n_nodes=int(os.environ.get("SPARK_GRAFT_PAGERANK_N", "10000000"))
        )
        out["metric"] = "exact-int PageRank edge-relaxation throughput (3-regular mesh)"
        out["unit"] = "relaxations/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--triangles" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-triangles", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_triangles_bench(
            spark, cpus, n_nodes=int(os.environ.get("SPARK_GRAFT_TRI_N", "4000000"))
        )
        out["metric"] = "exact triangle counting throughput (3-out mesh)"
        out["unit"] = "edges/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--adaptive" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-adaptive", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_adaptive_bench(
            spark, cpus, n_points=int(os.environ.get("SPARK_GRAFT_ADAPT_N", "32000000"))
        )
        out["metric"] = "adaptive quadtree leaf-cover build throughput (blob+background)"
        out["unit"] = "points/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--coloc" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-coloc", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_coloc_bench(
            spark, cpus, n_points=int(os.environ.get("SPARK_GRAFT_COLOC_N", "16000000"))
        )
        out["metric"] = "spatiotemporal co-location self-join throughput (constant density)"
        out["unit"] = "points/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--hamming" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-hamming", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_hamming_bench(
            spark, cpus, n_hashes=int(os.environ.get("SPARK_GRAFT_HAM_N", "32000000"))
        )
        out["metric"] = "banded Hamming near-dup join throughput (64-bit, k=3)"
        out["unit"] = "hashes/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--editdist" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-editdist", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_editdist_bench(
            spark, cpus, n_strings=int(os.environ.get("SPARK_GRAFT_ED_N", "4000000"))
        )
        out["metric"] = "qgram prefix-filtered edit-distance join throughput (d=2)"
        out["unit"] = "strings/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--bbox" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-bbox", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_bbox_bench(
            spark, cpus, n_boxes=int(os.environ.get("SPARK_GRAFT_BBOX_N", "8000000"))
        )
        out["metric"] = "rectangle-overlap join throughput (constant overlap density)"
        out["unit"] = "boxes/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--knox" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-knox", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_knox_bench(
            spark, cpus, n_points=int(os.environ.get("SPARK_GRAFT_KNOX_N", "8000000"))
        )
        out["metric"] = "Knox space-time statistic throughput (constant density)"
        out["unit"] = "points/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--stitch" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-stitch", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_stitch_bench(
            spark, cpus, n_segments=int(os.environ.get("SPARK_GRAFT_STITCH_N", "16000000"))
        )
        out["metric"] = "polyline stitching throughput (32-segment blocks, rings+paths)"
        out["unit"] = "segments/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--segments" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        spark = get_spark(
            "bench-segments", master=f"local[{cpus}]", shuffle_partitions=max(8, 2 * cpus)
        )
        out = run_segments_bench(
            spark, cpus, n_segs=int(os.environ.get("SPARK_GRAFT_SEGMENTS_N", "1000000"))
        )
        out["metric"] = "segment-intersection join throughput (constant density)"
        out["unit"] = "segs/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--streaming" in sys.argv:
        from osmflat_rs_spark.session import get_spark

        cpus = CPUS if "--cpus" not in sys.argv else int(sys.argv[sys.argv.index("--cpus") + 1])
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_NODES", "200000"))
        spark = get_spark(
            "bench-streaming",
            master=f"local[{cpus}]",
            shuffle_partitions=max(8, cpus),
        )
        if "--capped" in sys.argv:
            cap = int(os.environ.get("SPARK_GRAFT_STATE_CAP", "64"))
            out = run_streaming_capped_job(spark, cpus, n_docs, cap=cap)
            out["metric"] = "capped-state streaming near-dup (recall vs exact batch twin)"
        else:
            out = run_streaming_job(spark, cpus, n_docs)
            out["metric"] = "streaming stateful near-dup candidates docs/sec (availableNow)"
        out["unit"] = "docs/sec"
        print(json.dumps(out))
        spark.stop()
        return

    if "--cluster-worker" in sys.argv:
        cores_max = int(sys.argv[sys.argv.index("--cluster-worker") + 1])
        master_url = os.environ["SPARK_GRAFT_MASTER_URL"]
        job = "spatial" if "--spatial" in sys.argv else "dedup"
        print(json.dumps(run_cluster_worker(master_url, cores_max, job)))
        return

    if "--scaling" in sys.argv and "--cluster" in sys.argv:
        # REAL multi-executor mode: stand up a standalone master+worker
        # (separate JVMs, real shuffle service), measure the dedup job
        # (CPU-bound; add --spatial for the bandwidth-bound job) at 2 and
        # 8 single-core executors, tear down. One command reproduces the
        # BENCH/BASELINE.md round-3 cluster evidence.
        lo = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "2"))
        hi = int(os.environ.get("SPARK_GRAFT_SCALE_HI", 4 * lo))
        trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "2"))
        job_flag = ["--spatial"] if "--spatial" in sys.argv else []
        if job_flag:
            os.environ.setdefault("SPARK_GRAFT_SCALE_NODES", "32000000")
        else:
            os.environ.setdefault("SPARK_GRAFT_SCALE_NODES", "1000000")
        procs, url = _standalone_cluster(total_cores=max(32, hi))
        try:
            results = {}
            for c in (lo, hi):
                best = None
                for _ in range(trials):
                    out = subprocess.run(
                        [sys.executable, os.path.abspath(__file__), "--cluster-worker", str(c), *job_flag],
                        capture_output=True, text=True,
                        env={**os.environ, "SPARK_GRAFT_MASTER_URL": url},
                        timeout=3600,
                    )
                    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                    if not lines:
                        print(out.stderr[-2000:], file=sys.stderr)
                        raise RuntimeError(f"cluster worker at {c} executors produced no JSON")
                    r = json.loads(lines[-1])
                    if best is None or r["docs_per_sec"] > best["docs_per_sec"]:
                        best = r
                results[c] = best
        finally:
            for p in procs[::-1]:
                p.terminate()
        thr = {c: results[c]["docs_per_sec"] for c in results}
        eff = (thr[hi] / thr[lo]) / (hi / lo)
        print(json.dumps({
            "metric": "scaling efficiency (%s docs/sec, %d -> %d REAL single-core executors, best of %d)"
            % ("spatial-join+tiling" if job_flag else "minhash-dedup", lo, hi, trials),
            "value": round(eff, 3),
            "unit": "ratio",
            "throughput_docs_per_sec": {str(c): thr[c] for c in thr},
            "seconds": {str(c): results[c]["seconds"] for c in results},
            "n_docs": results[hi].get("n_docs", results[hi].get("n_points")),
        }))
        return

    if "--scaling" in sys.argv:
        # two-cluster-size evidence: the PRIMARY metric job (spatial-join
        # + kNN + tiling over the ingested tables) at local[N] and
        # local[4N], fresh JVM per trial, BEST-of-N per level (this box's
        # run-to-run variance exceeds 30%; capacity = best observed).
        # --full-pipeline switches to the ingest-inclusive secondary job.
        # default pair = local[2] -> local[8]: on THIS box the memory
        # system saturates at ~8 cores for any data-reading work (even a
        # pure parquet scan is flat 8->32; only no-input codegen scales
        # to 32 threads, r1's 0.93 control) — so 2->8 is the pair where
        # per-core memory bandwidth actually stays fixed, i.e. the pair
        # that transfers to "N and 4N executors" on a real cluster.
        # Override with SPARK_GRAFT_SCALE_LO/SPARK_GRAFT_CPUS for 8->32.
        lo = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "2"))
        hi = int(os.environ.get("SPARK_GRAFT_SCALE_HI", 4 * lo))  # the N -> 4N pair
        trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "2"))
        if "--full-pipeline" in sys.argv:
            worker_flag = "--scaling-worker"
        elif "--dedup" in sys.argv:
            worker_flag = "--dedup-worker"
            os.environ.setdefault("SPARK_GRAFT_SCALE_NODES", "1000000")
        else:
            worker_flag = "--spatial-worker"
        if worker_flag == "--spatial-worker" and "SPARK_GRAFT_SCALE_NODES" not in os.environ:
            os.environ["SPARK_GRAFT_SCALE_NODES"] = "128000000"  # the headline evidence size
        # single-JVM local mode: driver == executors; size the heap for the
        # 128M-point distinct/persist (first prep run wants even more)
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
        results = {}
        for c in (lo, hi):
            best = None
            for _ in range(trials):
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), worker_flag, str(c)],
                    capture_output=True,
                    text=True,
                    env={**os.environ, "SPARK_GRAFT_CPUS": str(c)},
                    timeout=3600,
                )
                lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                if not lines:
                    print(out.stdout[-2000:], file=sys.stderr)
                    print(out.stderr[-2000:], file=sys.stderr)
                    raise RuntimeError(f"worker at {c} cpus produced no JSON")
                r = json.loads(lines[-1])
                if best is None or r["docs_per_sec"] > best["docs_per_sec"]:
                    best = r
            results[c] = best
        thr = {c: results[c]["docs_per_sec"] for c in results}
        eff = (thr[hi] / thr[lo]) / (hi / lo)
        summary = {
            "metric": "scaling efficiency (%s docs/sec, local[%d] -> local[%d], best of %d)"
            % (
                {
                    "--scaling-worker": "full-pipeline",
                    "--dedup-worker": "minhash-dedup",
                    "--spatial-worker": "spatial-join+tiling",
                }[worker_flag],
                lo,
                hi,
                trials,
            ),
            "value": round(eff, 3),
            "unit": "ratio",
            "throughput_docs_per_sec": {str(c): thr[c] for c in thr},
            "seconds": {str(c): results[c]["seconds"] for c in results},
            "n_docs": results[hi].get("n_docs", results[hi].get("n_points")),
        }
        print(json.dumps(summary))
        return

    if "--cpus" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--cpus") + 1])
    else:
        cpus = CPUS
    print(json.dumps(run_suite(cpus, SF_DIR)))


if __name__ == "__main__":
    main()
