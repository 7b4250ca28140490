"""Physical-plan quality assertions: pushdown reaches the scan, dims
broadcast, the hot path stays in WholeStageCodegen — the Catalyst
counterparts of the reference's baked-in layout optimizations (SURVEY §4)."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_parquet_filter_pushdown_and_pruning(spark, tables, tmp_path):
    """Cell-clustered parquet + cell-range predicate → PushedFilters at the
    scan and only the needed columns read (late materialization, the
    analog of mmap page pruning + byte-predicates, SURVEY §4)."""
    from osmflat_rs_spark.functions.cells import cell_id_expr, cluster_by_cell
    from osmflat_rs_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    clustered = cluster_by_cell(tables["nodes"], num_partitions=4)
    cat.append("nodes_clustered", clustered, order_by=["cell"])
    df = cat.read("nodes_clustered")
    lo = df.agg(F.min("cell")).collect()[0][0]
    q = df.filter(F.col("cell") <= lo + 100).select("node_idx", "cell")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(cell" in plan or "cell" in plan.split("PushedFilters")[1][:200]
    # column pruning: lat/lon/tags not in ReadSchema
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "tags" not in read_schema and "lat" not in read_schema


@pytest.mark.parametrize("backend_name", ["morton", "s2"])
def test_cell_clustered_layout_prunes_per_backend(spark, tables, tmp_path, backend_name):
    """r5 (VERDICT r4 #2): the backend seam reaches the STORAGE layout —
    ``cluster_by_cell(backend=)`` + catalog ``order_by`` produce a
    cell-clustered committed table in the chosen scheme, and the
    backend's ``cell_range`` descendant interval is a pushed-down scan
    predicate that returns exactly the parent cell's points."""
    from osmflat_rs_spark.functions.cell_backend import get_backend
    from osmflat_rs_spark.functions.cells import cluster_by_cell
    from osmflat_rs_spark.sources.catalog import SnapshotCatalog

    be = get_backend(backend_name)
    res, coarse = 14, 8
    cat = SnapshotCatalog(spark, str(tmp_path / f"wh_{backend_name}"))
    clustered = cluster_by_cell(tables["nodes"], res=res, num_partitions=4, backend=be)
    cat.append(f"nodes_{backend_name}", clustered, order_by=["cell"])
    df = cat.read(f"nodes_{backend_name}")

    # pick a coarse parent cell that actually contains data
    import numpy as np

    sample = tables["nodes"].select("lat", "lon").dropna().limit(1).collect()[0]
    parent = int(be.cell_np(np.array([sample["lat"]]), np.array([sample["lon"]]), coarse)[0])
    lo, hi = be.cell_range(parent, coarse, res)
    q = df.filter((F.col("cell") >= lo) & (F.col("cell") < hi)).select("node_idx", "cell")
    plan = _plan(q)
    assert "PushedFilters" in plan and "cell" in plan.split("PushedFilters")[1][:200]

    # semantic soundness: the range returns EXACTLY the rows whose coarse
    # encode is the parent (descendant interval == subtree membership)
    got = {r["node_idx"] for r in q.collect()}
    rows = tables["nodes"].select("node_idx", "lat", "lon").dropna().toPandas()
    coarse_cells = be.cell_np(rows["lat"].to_numpy(), rows["lon"].to_numpy(), coarse)
    want = set(rows.loc[coarse_cells == parent, "node_idx"])
    assert got == want and len(want) > 0


def test_pip_join_plan_is_broadcast_plus_codegen(tables, poly_df):
    from osmflat_rs_spark.operators.spatial_join import pip_join

    plan = _plan(pip_join(tables["nodes"], poly_df))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # point table is never shuffled
    assert "MapInPandas" in plan  # exact phase
    assert "codegen id" in plan  # cell encode inside WholeStageCodegen


def test_cell_encode_is_pure_jvm(spark):
    """No Python evaluation nodes anywhere in the cell-index plan."""
    from osmflat_rs_spark.functions.cells import cell_id_expr

    df = spark.range(1000).select(
        (F.col("id") % 1000000).alias("lat"), (F.col("id") % 2000000).alias("lon")
    )
    plan = _plan(df.select(cell_id_expr(F.col("lat"), F.col("lon"), 14).alias("cell")))
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "codegen id" in plan


def test_dense_index_has_no_single_partition_sort(spark):
    """The dense-index plans must not contain a global (single-partition)
    Sort — rangepartitioning only (the 10^12-row safety property). The
    range partition runs while the call checkpoints its layout."""
    from osmflat_rs_spark.plans.indexing import assign_dense_index
    from tests.util import plans_of_call

    df = spark.range(10000).select((F.col("id") * 7 % 99991).alias("k"))
    out, call_plans = plans_of_call(spark, lambda: assign_dense_index(df, ["k"], "idx"))
    plans = [_plan(out), *call_plans]
    assert any("rangepartitioning" in p for p in plans)
    assert not any("Window" in p for p in plans)  # the windowless scheme
    # verify correctness while here
    rows = out.orderBy("k").collect()
    assert [r["idx"] for r in rows] == list(range(len(rows)))


def test_bucketed_join_has_no_exchange(spark, tables, tmp_path):
    """Both sides bucketed by the FK key → the hot way→nodes join plans
    with NO Exchange (the 10^12-row co-location strategy, SURVEY J1/J5)."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.sources.bucketed import write_bucketed

    nodes = tables["nodes"].select("node_idx", "lat", "lon")
    refs = tables["ways"].select("way_idx", F.explode("refs").alias("r")).select(
        "way_idx", F.col("r.node_idx").alias("node_idx")
    ).dropna()
    write_bucketed(nodes, "b_nodes", "node_idx", 8, path=str(tmp_path / "b_nodes"))
    write_bucketed(refs, "b_refs", "node_idx", 8, path=str(tmp_path / "b_refs"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_refs").join(spark.table("b_nodes"), "node_idx")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert joined.count() == refs.join(nodes, "node_idx").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_nodes")
        spark.sql("DROP TABLE IF EXISTS b_refs")


def test_spark_docs_generator_ingests(spark):
    """The distributed (pure-JVM) docs generator produces a valid carrier
    table: ingest yields consistent tables, refs mostly resolve, dangling
    refs exist (NULL semantics exercised)."""
    from osmflat_rs_spark.fixtures_spark import spark_docs
    from osmflat_rs_spark.ingest import ingest

    docs = spark_docs(spark, 1000, 150, 20)
    plan = _plan(docs)
    assert "Python" not in plan  # generation is JVM-only
    t = ingest(docs, compute_metrics=True)
    m = t["metrics"].collect()[0]
    assert m["num_nodes"] == 1000 and m["num_ways"] == 150 and m["num_relations"] == 20
    refs = t["ways"].select(F.explode("refs").alias("r"))
    n_null = refs.filter(F.col("r.node_idx").isNull()).count()
    n_all = refs.count()
    assert 0 < n_null < n_all * 0.1  # ~2% dangling


def test_strings_dim_has_no_single_partition_exchange(tables):
    """The string-intern offset prefix sum must never collapse to one
    partition (VERDICT r01 missing #6): the two-pass sorted_prefix_scan
    sums only inside bounded pid partitions."""
    plan = tables["strings_dim"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:3000]


def test_strings_dim_offsets_still_match_model(tables, model):
    from tests.util import assert_frames_equal

    assert_frames_equal(tables["strings_dim"], model["strings_dim"], ["offset", "s"])


def test_exclusive_prefix_sum_unit(spark):
    """An exclusive prefix sum is sorted_prefix_scan's inclusive sum minus
    the row's own weight; unique keys, a single NULL key sorting first."""
    from osmflat_rs_spark.plans.indexing import sorted_prefix_scan

    def offsets(rows):
        df = spark.createDataFrame(rows, schema="o int, w long")
        scan = sorted_prefix_scan(df, ["o"], long_sums=[("w", "cw")], num_partitions=7)
        return {r["o"]: r["off"] for r in scan.select("o", (F.col("cw") - F.col("w")).alias("off")).collect()}

    got = offsets([(i, (i * 7) % 23 + 1) for i in range(200)])
    acc = 0
    for i in range(200):
        assert got[i] == acc, f"offset mismatch at {i}"
        acc += (i * 7) % 23 + 1
    assert offsets([(1, 10), (2, 20), (3, 5)]) == {1: 0, 2: 10, 3: 30}
    assert offsets([(None, 10), (2, 20), (3, 5)]) == {None: 0, 2: 10, 3: 30}


def test_knn_bulk_plan_broadcasts_cover_never_shuffles_points(spark, tables):
    """The candidate join must broadcast the (small) cover side; a
    sort-merge fallback would shuffle the whole point table — the exact
    regression the r2 review caught (opaque mapInPandas stats)."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.knn import knn_join_bulk

    q = tables["nodes"].limit(5).select(
        F.col("node_idx").cast("string").alias("query_id"), "lat", "lon"
    )
    plan = (
        knn_join_bulk(tables["nodes"], q, k=3, radius_m=1500.0, exact_fallback=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_srp_candidate_exchange_keyed_on_ids_only(spark):
    """VERDICT r02 #4: the SRP candidate dedup used to distinct on
    (query_id, va, vec_id, vb), shuffling full float vectors as Exchange
    keys. The dedup must shuffle thin id pairs only; vectors come back via
    broadcast rejoins."""
    from osmflat_rs_spark.operators.ann import srp_bucketed_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = (
        srp_bucketed_topk(emb, q, k=5, dim=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert shuffles, plan[:3000]  # the id-pair distinct + window still shuffle
    for line in shuffles:
        key = line.split("Exchange hashpartitioning", 1)[1]
        assert "va#" not in key and "vb#" not in key, line


def test_minhash_pipeline_plan_shape(spark):
    """Lock in the r3 MinHash plan claims (BENCH/BASELINE.md round-3
    section): the signature stage shuffles exactly once (the per-doc
    groupBy — map-side partial MINs before it), contains no Window (the
    r01 word-shuffle shingling regression), no Python nodes, and the
    shingle projection runs inside WholeStageCodegen; banding adds only
    the bucket-join + distinct exchanges, never an all-pairs join."""
    from osmflat_rs_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id"), F.lit(" common text body with shared words "), F.col("id") % 7).alias("text"),
    )
    # repartition() forces UnknownPartitioning so the one required shuffle
    # is visible (from a Range source Catalyst elides even that: aliases
    # propagate range-partitioning, clustering on _id is pre-satisfied)
    sigs = minhash_signatures(docs.repartition(4), "doc_id", "text")
    plan = _plan(sigs)
    assert "Window" not in plan and "Python" not in plan and "MapInPandas" not in plan
    # formatted explain separates the node line from its Arguments line:
    # collect the detail blocks of Exchange nodes
    exchanges = [
        b for b in plan.split("\n\n")
        if b.splitlines() and b.splitlines()[0].endswith("Exchange") and "hashpartitioning" in b
    ]
    assert len(exchanges) == 1, plan  # only the groupBy(_id) shuffle
    assert "hashpartitioning(_id" in exchanges[0]
    # partial aggregation runs before the exchange (map-side combine)
    assert plan.index("HashAggregate") < plan.index("Exchange")
    # the shingle projection + partial-min stage is whole-stage-codegen'd;
    # AQE hides codegen ids until the plan is final, so execute first
    sigs.collect()
    final_plan = _plan(sigs)
    assert "isFinalPlan=true" in final_plan
    assert "codegen id" in final_plan

    pairs_plan = _plan(lsh_candidate_pairs(sigs))
    assert "CartesianProduct" not in pairs_plan and "BroadcastNestedLoopJoin" not in pairs_plan
    # the bucket join is keyed on (band, bh), never on raw ids alone
    assert "band" in pairs_plan


def test_knn_bulk_fallback_handles_string_and_null_ids(spark):
    """The lazy exact-fallback join key must be type-agnostic and
    NULL-safe: `_nid % 1` threw under ANSI for string id columns and
    silently dropped NULL-id rows from the rescue scan."""
    from osmflat_rs_spark.operators.knn import knn_join_bulk

    pts = spark.createDataFrame(
        [(f"media://node/{i}", 524000000 + i * 1000, 132000000 + i * 1000) for i in range(200)]
        + [(None, 524000100, 132000100)],
        schema="media_ref string, lat long, lon long",
    )
    q = spark.createDataFrame([("q1", 524000050, 132000050)], schema="query_id string, lat long, lon long")
    # microscopic radius forces the fallback branch for every query
    out = knn_join_bulk(
        pts, q, k=3, radius_m=0.001, metric="sqeuclid", id_col="media_ref", exact_fallback=True
    ).collect()
    assert len(out) == 3
    ids = {r["media_ref"] for r in out}
    assert None in ids  # the NULL-id point is the nearest; it must not be dropped
    plan = _plan(
        knn_join_bulk(pts, q, k=3, radius_m=0.001, metric="sqeuclid", id_col="media_ref", exact_fallback=True)
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_knn_bulk_no_broadcast_sort_merges_points_once(spark):
    """VERDICT r03 #3(b): ``broadcast_cover=False`` is the documented
    beyond-broadcast degrade — the candidate join must SORT-MERGE on the
    cell key (both sides shuffle once) and the point table must be
    exchanged exactly once: one Exchange whose subtree contains the
    point-side scan, plus the window's query_id Exchange downstream.
    Points are synthesized flat (a derived table like ingest's nodes
    carries its own joins/Exchanges and would pollute the census)."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.knn import knn_join_bulk

    pts = spark.range(10000).select(
        F.col("id").alias("node_idx"),
        (F.lit(525_000_000) + F.col("id") % 100_000).alias("lat"),
        (F.lit(134_000_000) + (F.col("id") * 7) % 100_000).alias("lon"),
    )
    q = pts.limit(5).select(F.col("node_idx").cast("string").alias("query_id"), "lat", "lon")
    # at the degrade design point the cover is far beyond any broadcast
    # threshold; at test scale Catalyst would auto-broadcast the tiny
    # cover, hiding the shape under assertion — pin the threshold off
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = knn_join_bulk(
            pts, q, k=3, radius_m=1500.0, exact_fallback=False, broadcast_cover=False
        )
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan[:3000]
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    # Exchange census: cell-shuffle of points + cell-shuffle of the cover
    # + the top-k window's query_id shuffle = exactly 3. A fourth would
    # mean the point table moved twice. (Formatted explain prints each
    # Exchange's partitioning in its details block.)
    # (the query-side limit adds one SinglePartition Exchange — a test
    # artifact, not a data shuffle; only hash-partitioned moves count)
    n_hash = plan.count("hashpartitioning(")
    assert n_hash == 3, f"expected 3 hash Exchanges, saw {n_hash}:\n{plan[:3000]}"


def test_knn_bulk_bucketed_cell_points_skip_point_exchange(spark, tmp_path):
    """r5: with a cell-bucketed point table and ``cell_col=``, the
    no-broadcast candidate sort-merge consumes the bucketed scan
    directly — the point table (the 10^12-row side) is joined with ZERO
    Exchanges; only the cover + the top-k window shuffle. Results are
    identical to the computed-cell form."""
    from osmflat_rs_spark.functions.cells import cell_id_expr
    from osmflat_rs_spark.operators.knn import knn_join_bulk
    from osmflat_rs_spark.sources.bucketed import write_bucketed

    res = 12
    pts = spark.range(20000).select(
        F.col("id").alias("node_idx"),
        (F.lit(525_000_000) + F.col("id") % 1_000_000).alias("lat"),
        (F.lit(134_000_000) + (F.col("id") * 7) % 1_000_000).alias("lon"),
    ).withColumn("cell", cell_id_expr(F.col("lat"), F.col("lon"), res))
    write_bucketed(pts, "b_cell_pts", "cell", 8, path=str(tmp_path / "b_cell_pts"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bpts = spark.table("b_cell_pts")
        q = (
            bpts.filter(F.col("node_idx") % 4000 == 0)
            .select(F.col("node_idx").cast("string").alias("query_id"), "lat", "lon")
        )
        kwargs = dict(
            k=3, res=res, radius_m=200_000, metric="sqeuclid",
            exact_fallback=False, broadcast_cover=False,
        )
        fast = knn_join_bulk(bpts, q, cell_col="cell", **kwargs)
        plan = _plan(fast)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan, plan[:3000]
        n_hash = plan.count("hashpartitioning(")
        # cover cell-shuffle + window query_id shuffle; the point side
        # contributes NONE (vs 3 in the computed-cell census above)
        assert n_hash == 2, f"expected 2 hash Exchanges, saw {n_hash}:\n{plan[:3000]}"
        base = knn_join_bulk(bpts, q, **kwargs)
        got = {(r["query_id"], r["rank"], r["node_idx"]) for r in fast.collect()}
        want = {(r["query_id"], r["rank"], r["node_idx"]) for r in base.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_cell_pts")


def test_pip_shuffle_bucketed_cell_points_skip_point_exchange(spark, tmp_path, poly_df):
    """r5: same layout-aware path for the shuffle-mode PIP join — the
    bucketed point scan feeds the candidate sort-merge with no
    point-side Exchange, results identical to the computed-cell form
    (and cell_col + salt is rejected: salting rewrites the join key)."""
    import pytest as _pytest

    from osmflat_rs_spark.functions.cells import cell_id_expr
    from osmflat_rs_spark.operators.spatial_join import pip_join_shuffle
    from osmflat_rs_spark.sources.bucketed import write_bucketed

    res = 12
    pts = spark.range(20000).select(
        F.col("id").alias("node_idx"),
        (F.lit(524_000_000) + (F.col("id") * 48271) % 2_000_000).alias("lat"),
        (F.lit(133_000_000) + (F.col("id") * 16807) % 2_000_000).alias("lon"),
    ).withColumn("cell", cell_id_expr(F.col("lat"), F.col("lon"), res))
    write_bucketed(pts, "b_cell_pip", "cell", 8, path=str(tmp_path / "b_cell_pip"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bpts = spark.table("b_cell_pip")
        fast = pip_join_shuffle(bpts, poly_df, cover_res=res, cell_col="cell")
        plan = _plan(fast)
        assert "Bucketed: true" in plan, plan[:3000]
        got = {(r["polygon_id"], r["node_idx"]) for r in fast.collect()}
        want = {
            (r["polygon_id"], r["node_idx"])
            for r in pip_join_shuffle(bpts, poly_df, cover_res=res).collect()
        }
        assert got == want
        with _pytest.raises(ValueError, match="salt"):
            pip_join_shuffle(bpts, poly_df, cover_res=res, cell_col="cell", salt=4)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_cell_pip")


# ------------------------------------------------------------ exact quantile


def test_exact_quantile_matches_sorted_model(spark):
    import numpy as np

    from osmflat_rs_spark.plans.indexing import exact_quantile

    rng = np.random.default_rng(61)
    vals = [int(v) for v in rng.integers(-10_000, 10_000, size=501)]
    vals += [vals[0]] * 17  # heavy duplicate block
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    s = sorted(vals)
    n = len(vals)
    for num, den in ((1, 2), (9, 10), (1, 518), (518, 518), (99, 100)):
        k = (num * n + den - 1) // den
        got = exact_quantile(df, "x", [(num, den)])
        assert got == [(num, den, k, s[k - 1])]
    # batch call and partition invariance
    multi = exact_quantile(df.repartition(9), "x", [(1, 2), (3, 4)])
    assert multi == [(1, 2, (n + 1) // 2, s[(n + 1) // 2 - 1]),
                     (3, 4, (3 * n + 3) // 4, s[(3 * n + 3) // 4 - 1])]


def test_exact_quantile_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.plans.indexing import exact_quantile

    df = spark.createDataFrame([(1,)], "x long")
    with _pytest.raises(ValueError):
        exact_quantile(df, "x", [])
    with _pytest.raises(ValueError):
        exact_quantile(df, "x", [(0, 10)])
    with _pytest.raises(ValueError):
        exact_quantile(df, "x", [(11, 10)])
    empty = spark.createDataFrame([], "x long")
    with _pytest.raises(ValueError, match="empty"):
        exact_quantile(empty, "x", [(1, 2)])


# ----------------------------------------------------------- grouped_quantile


def test_grouped_quantile_matches_sorted_model(spark):
    import math

    import numpy as np

    from osmflat_rs_spark.plans.indexing import grouped_quantile

    rng = np.random.default_rng(9)
    rows = []
    for g in range(6):
        n = int(rng.integers(1, 120))
        vals = rng.integers(-50, 50, n)
        rows += [(g, int(v)) for v in vals]
    qs = [(1, 2), (9, 10), (1, 1), (1, 100)]
    want = set()
    for g in {r[0] for r in rows}:
        vs = sorted(v for gg, v in rows if gg == g)
        for num, den in qs:
            k = -(-num * len(vs) // den)  # exact ceil
            want.add((g, num, den, k, vs[k - 1]))
    df = spark.createDataFrame(rows, "g long, v long")
    for d in (df, df.repartition(7)):
        got = {tuple(r) for r in grouped_quantile(d, "g", "v", qs).collect()}
        assert got == want


def test_grouped_quantile_duplicates_nulls_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.plans.indexing import grouped_quantile

    rows = [("a", 5), ("a", 5), ("a", 5), ("a", 9), ("a", None), ("b", 1)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {tuple(r) for r in grouped_quantile(df, "g", "v", [(1, 2), (1, 1)]).collect()}
    # group a: 4 non-null values [5,5,5,9]; median k=2 -> 5, max k=4 -> 9
    assert got == {
        ("a", 1, 2, 2, 5), ("a", 1, 1, 4, 9),
        ("b", 1, 2, 1, 1), ("b", 1, 1, 1, 1),
    }
    with _pytest.raises(ValueError):
        grouped_quantile(df, "g", "v", [])
    with _pytest.raises(ValueError):
        grouped_quantile(df, "g", "v", [(0, 2)])
    with _pytest.raises(ValueError):
        grouped_quantile(df, "g", "v", [(3, 2)])


def test_winsorize_matches_numpy_model(spark):
    """winsorize clamps each value into its group's exact [Q_lo, Q_hi]
    discrete quantiles (k-th smallest, integer-ceil ranks), NULLs pass
    through, and tiny groups clamp to their own min/max (a no-op)."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import winsorize

    rng = np.random.default_rng(23)
    rows = []
    for g in range(5):
        n = int(rng.integers(1, 200))
        for v in rng.integers(-1000, 1000, n):
            rows.append((g, int(v)))
    rows.append((0, None))
    want = {}
    for g in {r[0] for r in rows}:
        vs = sorted(v for gg, v in rows if gg == g and v is not None)
        n = len(vs)
        lo = vs[-(-1 * n // 20) - 1]
        hi = vs[-(-19 * n // 20) - 1]
        want[g] = (lo, hi)
    df = spark.createDataFrame(rows, "g long, v long")
    for d in (df, df.repartition(7)):
        got = winsorize(d, "g", "v").collect()
        assert len(got) == len(rows)
        for r in got:
            lo, hi = want[r["g"]]
            assert (r["lo_cap"], r["hi_cap"]) == (lo, hi)
            if r["v"] is None:
                assert r["value_w"] is None
            else:
                assert r["value_w"] == max(lo, min(hi, r["v"]))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winsorize(df, "g", "v", lo=(19, 20), hi=(1, 20))


def test_bbox_join_plan_one_join_no_dedup(spark):
    """Lock the bbox_join scale claims (operators/bbox.py docstring):
    covers are built in-row (no exchange feeds the explodes), there is
    exactly ONE join, NO dedup stage of any kind (exactly-once is by
    min-corner ownership, not by distinct/aggregate), and no Python."""
    from osmflat_rs_spark.operators.bbox import bbox_join

    def boxes(idc):
        return spark.range(100).repartition(4).select(
            F.col("id").alias(idc),
            (F.col("id") * 13 % 500).alias("x_min"),
            (F.col("id") * 7 % 500).alias("y_min"),
            (F.col("id") * 13 % 500 + 20).alias("x_max"),
            (F.col("id") * 7 % 500 + 20).alias("y_max"),
        )

    plan = _plan(bbox_join(boxes("la"), boxes("rb"), 64, left_id="la", right_id="rb"))
    assert "Python" not in plan and "MapInPandas" not in plan and "Window" not in plan
    assert "HashAggregate" not in plan  # no distinct/dedup stage anywhere
    # count join NODES via their detail headers ("(15) ShuffledHashJoin"),
    # not the tree rendering (each node prints twice in formatted mode)
    join_nodes = [
        ln for ln in plan.splitlines()
        if ln.startswith("(") and any(
            j in ln for j in ("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin")
        )
    ]
    assert len(join_nodes) == 1, plan


def test_merge_intervals_plan_single_sort_shuffle(spark):
    """Lock the merge_intervals shape (docstring: both window passes
    ride ONE partition-by-group sort — one Exchange, one Sort — and the
    final rollup re-uses the partitioning, so no second exchange)."""
    from osmflat_rs_spark.operators.intervals import merge_intervals

    df = spark.range(200).repartition(4).select(
        (F.col("id") % 9).alias("g"),
        (F.col("id") * 17 % 1000).alias("s"),
        (F.col("id") * 17 % 1000 + 30).alias("e"),
    )
    plan = _plan(merge_intervals(df, "g", "s", "e"))
    assert "Python" not in plan
    blocks = plan.split("\n\n")
    exchanges = [
        b for b in blocks
        if b.splitlines() and b.splitlines()[0].endswith("Exchange") and "hashpartitioning" in b
    ]
    assert len(exchanges) == 1, plan
    sorts = [ln for ln in plan.splitlines() if ln.strip().startswith("(") and ln.rstrip().endswith("Sort")]
    assert len(sorts) == 1, plan


# ------------------------------------------------------------ hampel


def test_hampel_outliers_matches_model(spark):
    import numpy as np
    import pytest as _pytest

    from osmflat_rs_spark.plans.indexing import hampel_outliers

    rng = np.random.default_rng(13)
    rows = []
    rid = 0
    for g in range(5):
        n = int(rng.integers(5, 80))
        vals = list(rng.integers(90, 110, n)) + list(rng.integers(0, 1000, max(1, n // 10)))
        for v in vals:
            rows.append((rid, g, int(v)))
            rid += 1
    want = set()
    for g in {r[1] for r in rows}:
        vs = sorted(v for _, gg, v in rows if gg == g)
        med = vs[-(-len(vs) // 2) - 1]
        ds = sorted(abs(v - med) for _, gg, v in rows if gg == g)
        mad = ds[-(-len(ds) // 2) - 1]
        for i, gg, v in rows:
            if gg == g and abs(v - med) * 1 > mad * 3:
                want.add((i, g, v, med, mad))
    df = spark.createDataFrame(rows, "rid long, g long, v long")
    for d in (df, df.repartition(7)):
        got = {tuple(r) for r in hampel_outliers(d, "g", "rid", "v", 3, 1).collect()}
        assert got == want
    assert want  # non-degenerate case

    # MAD = 0 degeneracy: majority duplicates flag every dev > 0 row
    dup = spark.createDataFrame(
        [(i, "a", 5) for i in range(6)] + [(9, "a", 6)], "rid long, g string, v long"
    )
    got = {tuple(r) for r in hampel_outliers(dup, "g", "rid", "v", 3, 1).collect()}
    assert got == {(9, "a", 6, 5, 0)}
    with _pytest.raises(ValueError):
        hampel_outliers(dup, "g", "rid", "v", 0, 1)


def test_robust_scale_matches_numpy_model(spark):
    """Exact discrete median/Q1/Q3 (k-th smallest, integer-ceil ranks)
    drive the robust z; NULL v and zero-IQR groups yield NULL z."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import robust_scale

    rng = np.random.default_rng(71)
    rows = []
    for g in range(4):
        for v in rng.integers(-500, 500, int(rng.integers(3, 100))):
            rows.append((g, int(v)))
    rows += [(9, 7), (9, 7), (9, 7), (0, None)]
    df = spark.createDataFrame(rows, "g long, v long")
    caps = {}
    for g in {r[0] for r in rows}:
        vs = sorted(v for gg, v in rows if gg == g and v is not None)
        n = len(vs)
        q1 = vs[-(-1 * n // 4) - 1]
        med = vs[-(-1 * n // 2) - 1]
        q3 = vs[-(-3 * n // 4) - 1]
        caps[g] = (q1, med, q3)
    got = robust_scale(df, "g", "v").collect()
    assert len(got) == len(rows)
    for r in got:
        q1, med, q3 = caps[r["g"]]
        assert (r["q1"], r["med"], r["q3"]) == (q1, med, q3)
        if r["v"] is None or q3 == q1:
            assert r["robust_z"] is None
        else:
            assert r["robust_z"] == (r["v"] - med) / (q3 - q1)


def test_benford_matches_counter_model(spark):
    """String-head digits, 9-row-per-group grid with zero fills, exact
    frac, chi-square against the Counter model; non-positive dropped."""
    import math
    from collections import Counter

    import numpy as np

    from osmflat_rs_spark.plans.indexing import benford

    rng = np.random.default_rng(73)
    rows = [("a", int(v)) for v in rng.integers(1, 10_000, 300)]
    rows += [("b", int(10 ** rng.uniform(0, 4))) for _ in range(300)]
    rows += [("a", -5), ("a", 0), ("b", 9)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {(r["g"], r["digit"]): r.asDict() for r in benford(df, "g", "v").collect()}
    assert len(got) == 18
    for g in ("a", "b"):
        c = Counter(int(str(v)[0]) for gg, v in rows if gg == g and v > 0)
        n = sum(c.values())
        chi2 = sum(
            (c.get(d, 0) - n * math.log10(1 + 1 / d)) ** 2 / (n * math.log10(1 + 1 / d))
            for d in range(1, 10)
        )
        for d in range(1, 10):
            r = got[(g, d)]
            assert r["n_digit"] == c.get(d, 0) and r["n_total"] == n
            assert r["frac"] == c.get(d, 0) / n
            assert r["benford_p"] == round(math.log10(1 + 1 / d), 9)
            assert abs(r["chi2"] - chi2) < 1e-5


def test_gini_matches_model_and_extremes(spark):
    """Exact Lorenz-form Gini against the sorted model; 0 for equal
    values, -> 1 for one-holder; tie-order invariance under
    repartition; negative values raise at evaluation."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import gini

    rng = np.random.default_rng(137)
    rows = [("r", int(v)) for v in rng.integers(0, 1000, 200)]
    rows += [("eq", 7)] * 50
    rows += [("one", 0)] * 99 + [("one", 10_000)]
    df = spark.createDataFrame(rows, "g string, v long")
    for d in (df, df.repartition(7)):
        got = {r["g"]: r.asDict() for r in gini(d, "g", "v").collect()}
        for g in ("r", "eq", "one"):
            vs = sorted(v for gg, v in rows if gg == g)
            n, tot = len(vs), sum(vs)
            want = 2.0 * sum((i + 1) * v for i, v in enumerate(vs)) / (n * tot) - (n + 1) / n
            assert abs(got[g]["gini"] - want) < 1e-12
            assert got[g]["n"] == n and got[g]["total"] == tot
        assert got["eq"]["gini"] == 0.0
        assert got["one"]["gini"] > 0.98
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    neg = spark.createDataFrame([("x", -1)], "g string, v long")
    with _pytest.raises(Exception):
        gini(neg, "g", "v").collect()


def test_spearman_matches_scipy_style_model(spark):
    """Tie-correct rho equals Pearson-on-average-ranks computed in
    numpy (scipy definition); monotone data gives rho=1; constant
    column gives NULL."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import spearman

    rng = np.random.default_rng(139)
    xs = rng.integers(0, 50, 300)   # heavy ties
    ys = xs * 3 + rng.integers(-40, 40, 300)
    rows = [("a", int(x), int(y)) for x, y in zip(xs, ys)]
    rows += [("mono", i, i * i) for i in range(20)]
    rows += [("const", 5, i) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r["g"]: r.asDict() for r in spearman(df, "g", "x", "y").collect()}

    def avg_ranks(v):
        v = np.asarray(v)
        order = np.argsort(v, kind="mergesort")
        ranks = np.empty(len(v), dtype=float)
        sv = v[order]
        i = 0
        while i < len(v):
            j = i
            while j + 1 < len(v) and sv[j + 1] == sv[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2 + 1
            i = j + 1
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    want = np.corrcoef(rx, ry)[0, 1]
    assert abs(got["a"]["rho"] - want) < 1e-12
    assert abs(got["mono"]["rho"] - 1.0) < 1e-12
    assert got["const"]["rho"] is None


def test_profile_table_matches_pandas_model(spark):
    """Exact per-column n / nulls / distincts / min / max in one pass,
    including all-null and constant columns; empty col list raises."""
    from osmflat_rs_spark.plans.indexing import profile_table

    rows = [
        (1, "a", None), (2, "b", None), (2, None, None), (5, "a", None),
    ]
    df = spark.createDataFrame(rows, "k long, s string, z string")
    got = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert got["k"]["n"] == 4 and got["k"]["n_null"] == 0
    assert got["k"]["n_distinct"] == 3
    assert (got["k"]["min_s"], got["k"]["max_s"]) == ("1", "5")
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2
    assert (got["s"]["min_s"], got["s"]["max_s"]) == ("a", "b")
    assert got["z"]["n_null"] == 4 and got["z"]["n_distinct"] == 0
    assert got["z"]["min_s"] is None and got["z"]["max_s"] is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_table(df, cols=[])


def test_psi_matches_model_and_detects_shift(spark):
    """Smoothed PSI equals the Counter model; identical distributions
    score ~0; a shifted distribution scores large; overflow bins
    catch out-of-range mass."""
    import math
    from collections import Counter

    import numpy as np

    from osmflat_rs_spark.plans.indexing import psi

    rng = np.random.default_rng(173)
    a = [int(x) for x in rng.integers(0, 100, 2000)]
    b_same = [int(x) for x in rng.integers(0, 100, 1500)]
    b_shift = [int(x) + 60 for x in rng.integers(0, 100, 1500)]
    lo, hi, bins = 0, 100, 10
    w = 10
    for b, expect_small in ((b_same, True), (b_shift, False)):
        da = spark.createDataFrame([(v,) for v in a], "v long")
        db = spark.createDataFrame([(v,) for v in b], "v long")
        rowsx = psi(da, db, "v", lo, hi, bins).collect()

        def bin_of(v):
            return -1 if v < lo else (bins if v >= lo + w * bins else (v - lo) // w)

        ca, cb = Counter(map(bin_of, a)), Counter(map(bin_of, b))
        want = 0.0
        for bb in range(-1, bins + 1):
            p = (ca.get(bb, 0) + 1) / (len(a) + bins + 2)
            q = (cb.get(bb, 0) + 1) / (len(b) + bins + 2)
            want += (p - q) * math.log(p / q)
        got = rowsx[0]["psi"]
        assert abs(got - want) < 1e-5
        assert (got < 0.02) == expect_small
        assert len(rowsx) == bins + 2
        for r in rowsx:
            assert r["n_a"] == ca.get(r["bin"], 0) and r["n_b"] == cb.get(r["bin"], 0)


def test_ks_and_mwu_match_reference_models(spark):
    """KS D equals the brute-force sup over the merged domain (exact
    fraction); MWU U and tie-corrected z match the textbook formulas;
    identical samples give D=0 / z~0, shifted samples are detected."""
    import math

    import numpy as np

    from osmflat_rs_spark.plans.indexing import ks_two_sample, mann_whitney_u

    rng = np.random.default_rng(179)
    a = [int(x) for x in rng.integers(0, 60, 800)]
    for b, shifted in (
        ([int(x) for x in rng.integers(0, 60, 500)], False),
        ([int(x) + 25 for x in rng.integers(0, 60, 500)], True),
    ):
        da = spark.createDataFrame([(v,) for v in a], "v long")
        db = spark.createDataFrame([(v,) for v in b], "v long")
        ks = ks_two_sample(da, db, "v").collect()[0]
        vals = sorted(set(a) | set(b))
        dnum = max(
            abs(sum(1 for x in a if x <= v) * len(b) - sum(1 for x in b if x <= v) * len(a))
            for v in vals
        )
        assert (ks["n_a"], ks["n_b"], ks["d_num"]) == (len(a), len(b), dnum)
        assert ks["d"] == dnum / (len(a) * len(b))
        assert (ks["d"] > 0.25) == shifted

        mw = mann_whitney_u(da, db, "v").collect()[0]
        allv = sorted(a + b)

        def avg_rank(v):
            lt = sum(1 for x in allv if x < v)
            le = sum(1 for x in allv if x <= v)
            return (lt + 1 + le) / 2  # average rank

        ra = sum(avg_rank(v) for v in a)
        ua = ra - len(a) * (len(a) + 1) / 2
        assert mw["u2"] == round(2 * ua)
        n = len(a) + len(b)
        from collections import Counter

        tie3 = sum(t**3 - t for t in Counter(allv).values())
        var = len(a) * len(b) / 12 * ((n + 1) - tie3 / (n * (n - 1)))
        zc = (ua - len(a) * len(b) / 2) / math.sqrt(var)
        assert abs(mw["z"] - zc) < 1e-9
        assert (abs(mw["z"]) > 5) == shifted


def test_trimmed_mean_matches_numpy_model(spark):
    """Exact floor(n*alpha) cut per side equals the sorted model; alpha=0
    reduces to the plain mean; singleton group defined; bad alpha raises."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import trimmed_mean

    rng = np.random.default_rng(181)
    rows = [("a", int(v)) for v in rng.integers(-500, 500, 97)]
    rows += [("one", 42)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r.asDict() for r in trimmed_mean(df, "g", "v", trim=(1, 10)).collect()}
    vs = sorted(v for g, v in rows if g == "a")
    k = len(vs) // 10
    mid = vs[k : len(vs) - k]
    assert got["a"]["n"] == len(vs) and got["a"]["n_used"] == len(mid)
    assert got["a"]["tmean"] == sum(mid) / len(mid)
    assert got["one"] == {"g": "one", "n": 1, "n_used": 1, "tmean": 42.0}
    got0 = {r["g"]: r["tmean"] for r in trimmed_mean(df, "g", "v", trim=(0, 1)).collect()}
    assert got0["a"] == sum(vs) / len(vs)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        trimmed_mean(df, "g", "v", trim=(1, 2))


def test_split_conformal_guarantee_and_model(spark):
    """q equals the exact ceil((n+1)(1-alpha)) rank residual; empirical
    coverage on exchangeable data meets ~1-alpha; alpha validated."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import split_conformal

    rng = np.random.default_rng(211)
    cal_rows, ev_rows = [], []
    for g in ("a", "b"):
        mu = 100 if g == "a" else -50
        for i in range(300):
            cal_rows.append((g, mu, mu + int(rng.integers(-40, 41))))
        for i in range(300):
            ev_rows.append((g, mu, mu + int(rng.integers(-40, 41))))
    cal = spark.createDataFrame(cal_rows, "g string, yhat long, y long")
    ev = spark.createDataFrame(ev_rows, "g string, yhat long, y long")
    got = {r["g"]: r.asDict() for r in split_conformal(cal, ev, "g", "yhat", "y", alpha=(1, 10)).collect()}
    for g in ("a", "b"):
        res = sorted(abs(y - yh) for gg, yh, y in cal_rows if gg == g)
        n = len(res)
        k = min(n, -(-(n + 1) * 9 // 10))
        q = res[k - 1]
        r = got[g]
        assert r["n_cal"] == n and r["q"] == q
        cov = sum(1 for gg, yh, y in ev_rows if gg == g and abs(y - yh) <= q)
        assert r["n_covered"] == cov
        assert r["coverage"] == cov / r["n_eval"]
        assert r["coverage"] >= 0.85  # 1 - alpha - sampling slack
    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_conformal(cal, ev, "g", "yhat", "y", alpha=(3, 2))


def test_wasserstein1_matches_scipy_free_model(spark):
    """w1 equals the exact CDF-integral model (cross-checked against
    the sorted-sample formulation for equal n); a constant shift of c
    yields exactly c; identical samples yield 0."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import wasserstein1_two_sample

    rng = np.random.default_rng(269)
    a = [int(x) for x in rng.integers(0, 500, 400)]
    b = [int(x) for x in rng.integers(100, 900, 300)]
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    r = wasserstein1_two_sample(da, db, "v").collect()[0].asDict()

    def w1_model(xs, ys):
        vs = sorted(set(xs) | set(ys))
        na, nb = len(xs), len(ys)
        fa = fb = 0
        xs_c = {v: xs.count(v) for v in set(xs)}
        ys_c = {v: ys.count(v) for v in set(ys)}
        num = 0
        for v, nx in zip(vs, vs[1:] + [None]):
            fa += xs_c.get(v, 0)
            fb += ys_c.get(v, 0)
            if nx is not None:
                num += (nx - v) * abs(fa * nb - fb * na)
        return num, num / (na * nb)

    num, w1 = w1_model(a, b)
    assert r["n_a"] == 400 and r["n_b"] == 300
    assert r["w1_num"] == num
    assert r["w1"] == w1
    # equal-n cross-check: W1 = mean |sorted_a - sorted_b|
    a2 = [int(x) for x in rng.integers(0, 1000, 250)]
    b2 = [int(x) for x in rng.integers(0, 1000, 250)]
    r2 = wasserstein1_two_sample(
        spark.createDataFrame([(v,) for v in a2], "v long"),
        spark.createDataFrame([(v,) for v in b2], "v long"),
        "v",
    ).collect()[0]
    want = float(np.mean(np.abs(np.sort(a2) - np.sort(b2))))
    assert abs(r2["w1"] - want) < 1e-9
    # constant shift: exactly c
    r3 = wasserstein1_two_sample(
        spark.createDataFrame([(v,) for v in a2], "v long"),
        spark.createDataFrame([(v + 17,) for v in a2], "v long"),
        "v",
    ).collect()[0]
    assert r3["w1"] == 17.0
    # identity: 0
    r4 = wasserstein1_two_sample(
        spark.createDataFrame([(v,) for v in a2], "v long"),
        spark.createDataFrame([(v,) for v in a2], "v long"),
        "v",
    ).collect()[0]
    assert r4["w1"] == 0.0


def test_classification_report_matches_sklearn_style_model(spark):
    """tp/fp/fn/precision/recall/f1 match the hand confusion matrix;
    a predicted-only class has support 0 and NULL recall; an
    actual-only class has NULL precision."""
    rows = (
        [("a", "a")] * 10 + [("a", "b")] * 3
        + [("b", "b")] * 7 + [("b", "a")] * 2
        + [("c", "a")] * 4          # c never predicted
        + [("b", "d")] * 1          # d never actual
    )
    from osmflat_rs_spark.plans.indexing import classification_report

    df = spark.createDataFrame(rows, "actual string, pred string")
    got = {r["cls"]: r.asDict() for r in classification_report(df, "actual", "pred").collect()}
    assert set(got) == {"a", "b", "c", "d"}
    a = got["a"]
    assert (a["tp"], a["fp"], a["fn"], a["support"]) == (10, 6, 3, 13)
    assert a["precision"] == round(10 / 16, 6) and a["recall"] == round(10 / 13, 6)
    p, r = 10 / 16, 10 / 13
    assert a["f1"] == round(2 * p * r / (p + r), 6)
    b = got["b"]
    assert (b["tp"], b["fp"], b["fn"], b["support"]) == (7, 3, 3, 10)
    c = got["c"]
    assert (c["tp"], c["fp"], c["fn"], c["support"]) == (0, 0, 4, 4)
    assert c["precision"] is None and c["recall"] == 0.0 and c["f1"] is None
    d = got["d"]
    assert (d["tp"], d["fp"], d["fn"], d["support"]) == (0, 1, 0, 0)
    assert d["precision"] == 0.0 and d["recall"] is None and d["f1"] is None


def test_target_encode_loo_matches_model_and_blocks_leakage(spark):
    """enc matches the exact integer-rational model; a category whose
    only signal is the row's own label encodes to ~the global mean
    (leakage blocked); rare categories shrink to the prior."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import target_encode_loo

    rng = np.random.default_rng(311)
    rows = []
    rid = 0
    for c, p in (("a", 0.8), ("b", 0.2), ("c", 0.5)):
        for _ in range(200):
            rows.append((rid, c, int(rng.random() < p))); rid += 1
    rows.append((rid, "solo", 1)); rid += 1          # singleton category
    df = spark.createDataFrame(rows, "k long, c string, y long")
    M = 10
    got = {r["k"]: r.asDict() for r in target_encode_loo(df, "k", "c", "y", prior_strength=M).collect()}
    N = len(rows)
    sy = sum(y for _, _, y in rows)
    from collections import defaultdict

    cs = defaultdict(lambda: [0, 0])
    for _, c, y in rows:
        cs[c][0] += 1; cs[c][1] += y
    for k, c, y in rows:
        nc, sc_ = cs[c]
        want = (N * (sc_ - y) + M * sy) / (N * (nc - 1 + M))
        assert got[k]["enc"] == round(want, 6), k
        assert got[k]["n_cat"] == nc
    # singleton: pure prior = global mean
    solo = got[rid - 1]
    assert abs(solo["enc"] - sy / N) < 1e-6  # ROUND 6 output
    # leakage check: two rows in the same category with different labels
    # get DIFFERENT encodings (own label excluded)
    a1 = [got[k]["enc"] for k, c, y in rows if c == "a" and y == 1][0]
    a0 = [got[k]["enc"] for k, c, y in rows if c == "a" and y == 0][0]
    assert a0 > a1  # excluding a positive label lowers the mean seen by that row
    import pytest as _pytest

    with _pytest.raises(ValueError):
        target_encode_loo(df, "k", "c", "y", prior_strength=0)


def test_woe_iv_matches_model(spark):
    """woe/iv match the exact lattice model; a separating feature has
    large IV; a useless feature has ~0; zero-cell bins go NULL and
    contribute 0."""
    import math

    from osmflat_rs_spark.plans.indexing import woe_iv

    rows = (
        [("lo", 5), ("lo", 0)] * 0
        + [("lo", 1)] * 10 + [("lo", 0)] * 90
        + [("hi", 1)] * 80 + [("hi", 0)] * 20
        + [("onlypos", 1)] * 5
    )
    df = spark.createDataFrame([(b, y) for b, y in rows], "b string, y int")
    got = {r["b"]: r.asDict() for r in woe_iv(df, "b", "y").collect()}
    P = sum(1 for _, y in rows if y)
    Ng = sum(1 for _, y in rows if not y)
    SC = 10**12
    iv_fp = 0
    for b, (pos, neg) in (("lo", (10, 90)), ("hi", (80, 20))):
        woe = math.log((pos * Ng) / (neg * P))
        diff = pos / P - neg / Ng
        tfp = math.floor(diff * woe * SC + 0.5)
        iv_fp += tfp
        assert got[b]["woe"] == round(woe, 6)
        assert got[b]["iv_term"] == round(tfp / SC, 6)
    assert got["onlypos"]["woe"] is None and got["onlypos"]["iv_term"] == 0.0
    for b in got:
        assert got[b]["iv"] == round(iv_fp / SC, 6)
    assert got["hi"]["iv"] > 0.3  # strongly separating feature
    # useless feature: same rate in both bins -> IV ~ 0
    flat = spark.createDataFrame(
        [("x", i % 2) for i in range(200)] + [("z", i % 2) for i in range(200)],
        "b string, y int",
    )
    r = woe_iv(flat, "b", "y").collect()[0]
    assert abs(r["iv"]) < 1e-9


def test_g_test_matches_model(spark):
    """G matches the exact lattice model; strongly-dependent columns
    give large G, independent columns give small G; zero cells
    contribute 0."""
    import math

    import numpy as np

    from osmflat_rs_spark.plans.indexing import g_test_independence

    rng = np.random.default_rng(353)
    dep = [("x" if i % 2 else "y", "p" if i % 2 else "q") for i in range(400)]
    ind = [(["x", "y"][int(rng.integers(0, 2))], ["p", "q"][int(rng.integers(0, 2))])
           for _ in range(400)]
    for rows, big in ((dep, True), (ind, False)):
        df = spark.createDataFrame(rows, "a string, b string")
        r = g_test_independence(df, "a", "b").collect()[0].asDict()
        from collections import Counter

        cells = Counter(rows)
        ra = Counter(a for a, _ in rows)
        cb = Counter(b for _, b in rows)
        N = len(rows)
        SC = 10**9
        gfp = 0
        for (a, b), o in cells.items():
            t = o * math.log((o * N) / (ra[a] * cb[b]))
            gfp += math.floor(t * SC + 0.5)
        assert r["n"] == N and r["df_q"] == 1
        assert r["g"] == round(2 * gfp / SC, 6)
        if big:
            assert r["g"] > 100
        else:
            assert r["g"] < 10


def test_wasserstein1_empty_side_yields_null_not_crash(spark):
    """An empty side must produce NULL w1 (ANSI 0/0 would otherwise
    throw), with n_a/n_b reporting which side was empty."""
    from osmflat_rs_spark.plans.indexing import wasserstein1_two_sample

    a = spark.createDataFrame([(1,), (2,)], "v long")
    empty = spark.createDataFrame([], "v long")
    r = wasserstein1_two_sample(a, empty, "v").collect()[0]
    assert r["n_a"] == 2 and r["n_b"] == 0 and r["w1"] is None


def test_quantile_normalize_matches_scipy_convention(spark):
    """qn matches the average-tie-rank model; ties share one value;
    extremes map to 0 and 1; singleton groups get 0.5."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import quantile_normalize

    rng = np.random.default_rng(373)
    rows = [("a", i, int(rng.integers(0, 50))) for i in range(200)]
    rows += [("solo", 999, 7)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {(r["g"], r["id"]): r["qn"] for r in quantile_normalize(df, "g", "id", "v").collect()}
    vals = sorted(v for g, _, v in rows if g == "a")
    n = len(vals)
    import bisect

    for g, i, v in rows:
        if g != "a":
            continue
        lo = bisect.bisect_left(vals, v) + 1
        hi = bisect.bisect_right(vals, v)
        want = (lo + hi - 2) / (2 * (n - 1))
        assert got[("a", i)] == round(want, 6), (i, v)
    assert got[("solo", 999)] == 0.5
    # bounds hold; exact 0/1 only for UNTIED extremes (average-rank
    # convention), which this draw happens not to have
    assert min(got.values()) >= 0.0 and max(got.values()) <= 1.0
    # untied extremes map exactly
    u = spark.createDataFrame([("u", i, i) for i in range(5)], "g string, id long, v long")
    gu = {r["id"]: r["qn"] for r in quantile_normalize(u, "g", "id", "v").collect()}
    assert gu[0] == 0.0 and gu[4] == 1.0 and gu[2] == 0.5


def test_cohens_kappa_matches_model(spark):
    """kappa equals the exact integer cross ratio; perfect agreement
    gives 1; independent raters give ~0; a single shared label gives
    NULL (undefined, not perfect)."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import cohens_kappa

    rng = np.random.default_rng(383)
    labels = ["x", "y", "z"]
    rows = []
    for _ in range(500):
        a = labels[int(rng.integers(0, 3))]
        b = a if rng.random() < 0.7 else labels[int(rng.integers(0, 3))]
        rows.append((a, b))
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0].asDict()
    from collections import Counter

    N = len(rows)
    diag = sum(1 for a, b in rows if a == b)
    ra, cb = Counter(a for a, _ in rows), Counter(b for _, b in rows)
    src = sum(ra[l] * cb[l] for l in set(ra) | set(cb))
    assert r["n"] == N
    assert r["po"] == round(diag / N, 6)
    assert r["pe"] == round(src / N / N, 6)
    assert r["kappa"] == round((N * diag - src) / (N * N - src), 6)
    assert 0.5 < r["kappa"] < 0.9
    # perfect agreement
    p = spark.createDataFrame([("x", "x")] * 5 + [("y", "y")] * 5, "a string, b string")
    assert cohens_kappa(p, "a", "b").collect()[0]["kappa"] == 1.0
    # degenerate single label
    d = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    assert cohens_kappa(d, "a", "b").collect()[0]["kappa"] is None


def test_chatterjee_xi_detects_nonmonotone_dependence(spark):
    """xi matches the exact integer model; a parabola (Spearman ~0)
    scores high; independent noise scores ~0; constant Y gives NULL;
    a tie-heavy series matches the tie-robust formula exactly."""
    import numpy as np

    from osmflat_rs_spark.plans.indexing import chatterjee_xi

    rng = np.random.default_rng(389)
    rows = []
    for i in range(400):
        x = int(rng.integers(-100, 101))
        rows.append(("para", x, x * x, i))
        rows.append(("noise", x, int(rng.integers(0, 1000)), i))
        rows.append(("ties", x, x // 25, i))
        rows.append(("const", x, 7, i))
    df = spark.createDataFrame(rows, "g string, x long, y long, id long")
    got = {r["g"]: r.asDict() for r in chatterjee_xi(df, "g", "x", "y", "id").collect()}

    def model(sub):
        sub_y = sorted((y, i) for _, x, y, i in sub)
        n = len(sub)
        ys = [y for _, _, y, _ in sub]
        import bisect

        ys_sorted = sorted(ys)
        r = {}
        l = {}
        for _, x, y, i in sub:
            r[i] = bisect.bisect_right(ys_sorted, y)
            l[i] = n - bisect.bisect_left(ys_sorted, y)
        xorder = sorted(sub, key=lambda t: (t[1], t[3]))
        sd = sum(abs(r[xorder[k + 1][3]] - r[xorder[k][3]]) for k in range(n - 1))
        sl = sum(l[i] * (n - l[i]) for _, _, _, i in sub)
        num, den = n * sd, 2 * sl
        return num, den, (1 - num / den) if den > 0 else None

    for g in ("para", "noise", "ties", "const"):
        sub = [t for t in rows if t[0] == g]
        num, den, xi = model(sub)
        rr = got[g]
        assert rr["xi_num"] == num and rr["xi_den"] == den, g
        assert rr["xi"] == (round(xi, 6) if xi is not None else None), g
    assert got["para"]["xi"] > 0.8        # functional dependence found
    assert abs(got["noise"]["xi"]) < 0.15  # independence ~ 0
    assert got["const"]["xi"] is None
    assert got["ties"]["xi"] > 0.7


def test_cdf_stats_family_has_no_single_partition_window(spark):
    """r6 (VERDICT r05 #2): the CDF/stats operators must plan WITHOUT a
    global Window.orderBy (which collapses the distinct-value table to
    one task on continuous domains) — rangepartitioning + the map-only
    prefix scan only. The range partitions run while each call
    checkpoints its sorted layouts."""
    import pandas as pd

    from tests.util import plans_of_call

    from osmflat_rs_spark.operators.intervals import concurrency_curve
    from osmflat_rs_spark.operators.sessions import bh_fdr, kaplan_meier, sprt_bernoulli
    from osmflat_rs_spark.plans.indexing import (
        ks_two_sample,
        mann_whitney_u,
        wasserstein1_two_sample,
    )

    a = spark.range(2000).select((F.col("id") * 7919 % 100003).alias("v"))
    b = spark.range(2000).select((F.col("id") * 104729 % 100003).alias("v"))
    life = spark.range(500).select(
        (F.col("id") % 97 + 1).alias("dur"), (F.col("id") % 3 == 0).cast("int").alias("e")
    )
    iv = spark.range(500).select(
        (F.col("id") * 13 % 1000).alias("s"), (F.col("id") * 13 % 1000 + 5).alias("e")
    )
    tests_df = spark.range(40).select(
        F.col("id").cast("string").alias("t"), (F.col("id") % 17 + 1).alias("pn"), F.lit(100).alias("pd_")
    )
    stream = spark.range(1000).select(F.col("id").alias("o"), (F.col("id") % 5 > 0).cast("int").alias("x"))

    calls = {
        "ks": lambda: ks_two_sample(a, b, "v"),
        "mwu": lambda: mann_whitney_u(a, b, "v"),
        "w1": lambda: wasserstein1_two_sample(a, b, "v"),
        "km": lambda: kaplan_meier(life, "dur", "e"),
        "sprt": lambda: sprt_bernoulli(stream, "o", "x", p0=0.5, p1=0.7),
        "bh": lambda: bh_fdr(tests_df, "t", "pn", "pd_"),
        "conc": lambda: concurrency_curve(iv, "s", "e"),
    }
    for name, call in calls.items():
        out, call_plans = plans_of_call(spark, call)
        plans = [_plan(out), *call_plans]
        assert not any("Window" in p for p in plans), name
        assert any("rangepartitioning" in p for p in plans), name
