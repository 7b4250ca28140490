"""Round-6 machinery: stats-reset checkpoint (the BigInt snowball fix)
and its disk-only form, operators and ordered scans leaving no
CacheManager entry,
partition-spanning-forest reduction, the CC branches the edge count
picks, and the signed-zero ROUND restoration."""

import math
import random

import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.operators import graph
from osmflat_rs_spark.operators.graph import (
    _partition_spanning_forest,
    _solve_components_one_task,
    boruvka_mst,
    connected_components,
    label_propagation,
)
from osmflat_rs_spark.operators.hotspot import dbscan, home_range, spatial_mutual_information
from osmflat_rs_spark.operators.intervals import concurrency_curve
from osmflat_rs_spark.operators.sessions import kaplan_meier
from osmflat_rs_spark.operators.skyline import skyline_2d
from osmflat_rs_spark.operators.textops import corpus_kl, pack_sequences
from osmflat_rs_spark.plans.checkpoint import fresh_local_checkpoint
from osmflat_rs_spark.plans.indexing import assign_dense_index, exact_quantile


def _stats_digits(df):
    return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _persisted_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_fresh_local_checkpoint_resets_stats_and_keeps_rows(spark):
    a = spark.range(1000).select(F.col("id").alias("u"), (F.col("id") * 3 % 11).alias("c"))
    for disk in (False, True):
        before = _persisted_ids(spark)
        d = fresh_local_checkpoint(a, disk=disk)
        if disk:
            # the r6 GCLocker reason: wide tables keep no deserialized
            # in-memory copy, so the new checkpoint RDD is disk-only
            rdds = spark.sparkContext._jsc.getPersistentRDDs()
            levels = [rdds[i].getStorageLevel() for i in _persisted_ids(spark) - before]
            assert levels and not any(lv.useMemory() for lv in levels)
        rows0 = sorted((r["u"], r["c"]) for r in d.collect())
        assert rows0 == [(i, i * 3 % 11) for i in range(1000)]
        base_digits = _stats_digits(d)
        # three rounds of self-joins through the checkpoint: with plain
        # localCheckpoint the sizeInBytes digit count MULTIPLIES per round
        # (the r6 Boruvka planning stall); the fresh form must stay flat
        for _ in range(3):
            j = (
                d.join(d.select(F.col("u").alias("v"), F.col("c").alias("c2")), d["c"] == F.col("c2"))
                .select("u", "c")
                .dropDuplicates(["u"])
            )
            d = fresh_local_checkpoint(j, disk=disk)
            assert _stats_digits(d) <= base_digits + 2
        assert sorted((r["u"], r["c"]) for r in d.collect()) == rows0


def test_fresh_local_checkpoint_fallback_warns_once(spark, monkeypatch, caplog):
    """When the internal rewrap fails the plain checkpoint comes back
    (rows intact) and the fallback is logged once, not once per call."""
    from osmflat_rs_spark.plans import checkpoint

    def broken(*_a, **_k):
        raise RuntimeError("no internal API")

    monkeypatch.setattr(checkpoint, "_ClassicDataFrame", broken)
    monkeypatch.setattr(checkpoint, "_fallback_warned", False)
    a = spark.range(50)
    with caplog.at_level("WARNING", logger=checkpoint.__name__):
        d1 = fresh_local_checkpoint(a)
        d2 = fresh_local_checkpoint(a)
    assert sorted(r["id"] for r in d1.collect()) == list(range(50))
    assert d2.count() == 50
    warned = [r for r in caplog.records if r.name == checkpoint.__name__]
    assert len(warned) == 1 and warned[0].levelname == "WARNING"
    assert "plain localCheckpoint" in warned[0].getMessage()


def test_disk_materialize_values_unchanged(spark):
    """The disk-only checkpoint (the form that replaced the old
    persist-based disk materialization) returns the input rows as-is,
    from a multi-partition input."""
    a = spark.range(0, 1000, numPartitions=4).select("id", (F.col("id") * 3 % 11).alias("k"))
    d = fresh_local_checkpoint(a, disk=True)
    assert sorted((r["id"], r["k"]) for r in d.collect()) == sorted(
        (i, i * 3 % 11) for i in range(1000)
    )


def _cached_entries(spark):
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _edges(spark):
    rng = random.Random(5)
    return spark.createDataFrame(
        [(rng.randrange(80), rng.randrange(80), rng.randrange(1, 50)) for _ in range(300)],
        "src long, dst long, w long",
    )


def _points(spark):
    rng = random.Random(9)
    return spark.createDataFrame(
        [(i, rng.randrange(0, 200_000), rng.randrange(0, 200_000), "ab"[i % 2]) for i in range(300)],
        "node_idx long, lat long, lon long, cat string",
    )


def _docs(spark):
    words = ["red", "green", "blue", "cyan", "xx", "yy"]
    return spark.createDataFrame(
        [(i, "g%d" % (i % 3), " ".join(words[(i + k) % 6] for k in range(i % 5 + 2))) for i in range(60)],
        "doc_id long, g string, text string",
    )


def _path_cc_one_round(spark):
    # a path forced onto the iterative rounds needs several of them, so
    # a one-round budget raises mid-loop
    path = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "_CC_SOLVE_EDGES", 0)
        mp.setattr(graph, "_CC_ROUNDS", 1)
        with pytest.raises(RuntimeError, match="no convergence"):
            connected_components(path).count()


def _cc_forced_iteration(spark):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "_CC_SOLVE_EDGES", 0)
        connected_components(_edges(spark)).count()


@pytest.mark.parametrize(
    "call",
    [
        lambda s: connected_components(_edges(s)).count(),
        _cc_forced_iteration,
        lambda s: label_propagation(_edges(s)).count(),
        lambda s: dbscan(_points(s), 25_000, 4).count(),
        lambda s: boruvka_mst(_edges(s)).count(),
        lambda s: spatial_mutual_information(_points(s), "cat").count(),
        lambda s: corpus_kl(_docs(s), "text", "g", dim=32).count(),
        _path_cc_one_round,
        lambda s: kaplan_meier(_points(s).withColumn("e", F.col("node_idx") % 2), "lat", "e").count(),
        lambda s: concurrency_curve(_points(s).withColumn("end", F.col("lat") + 5000), "lat", "end").count(),
        lambda s: skyline_2d(_points(s), "lat", "lon").count(),
        lambda s: home_range(_points(s)).count(),
        lambda s: pack_sequences(_docs(s), "doc_id", "text", capacity=8).count(),
        lambda s: exact_quantile(_points(s), "lat", [(1, 2), (9, 10)]),
        lambda s: assign_dense_index(_points(s), ["node_idx"]).count(),
        lambda s: assign_dense_index(_points(s), ["node_idx"], group_col="cat").count(),
    ],
    ids=[
        "cc", "cc_forced_iteration", "lpa", "dbscan", "boruvka", "spatial_mi", "corpus_kl", "cc_raises",
        "kaplan_meier", "concurrency_curve", "skyline_2d", "home_range", "pack_sequences",
        "exact_quantile", "dense_index", "dense_index_grouped",
    ],
)
def test_operator_calls_leave_no_cache_manager_entry(spark, call):
    """Operators and the ordered scans under them (``plans.indexing``)
    materialize through local checkpoints only: a call (forced, or
    raising half way) registers nothing with the session CacheManager,
    so nothing stays pinned after its result is dropped."""
    before = _cached_entries(spark)
    call(spark)
    assert _cached_entries(spark) == before


def _model_components(edges):
    p = {}

    def find(x):
        p.setdefault(x, x)
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for u, v in edges:
        p.setdefault(u, u), p.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            p[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in p}


def test_spanning_forest_preserves_components_with_duplicates(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(3000)]
    edges = [(min(u, v), max(u, v)) for u, v in edges if u != v]
    edges += edges[:200]  # duplicates are part of the contract
    df = spark.createDataFrame(edges, "u long, v long").repartition(8)
    red = _partition_spanning_forest(df, -(-len(edges) // 300))
    kept = [(r["u"], r["v"]) for r in red.collect()]
    # bound is Σ_p (nodes_p − 1), not the unique-edge count: a duplicate
    # split across partitions may be kept twice (harmless — union-find
    # consumers skip it); the contract is exact component preservation
    assert len(kept) <= len(edges)
    assert _model_components(kept) == _model_components(edges)
    solved = {r["node"]: r["component"] for r in _solve_components_one_task(red).collect()}
    model = _model_components(edges)
    # min-id labels: model roots ARE min ids by construction of find()
    assert solved == model


def test_connected_components_branches_match_union_find(spark, monkeypatch, caplog):
    """Every branch the edge count can pick gives the union-find labels:
    the default one-task solve, a solve after a forced forest reduction
    (small per-task target, the forest fits the budget), and the
    iterative rounds (solve budget 0, the only branch that logs)."""
    rng = random.Random(11)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(1500)]
    edges += [(n, n) for n in (777, 888)]  # isolated self-loop nodes
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _model_components(edges)
    assert want[777] == 777 and want[888] == 888

    def run():
        caplog.clear()
        with caplog.at_level("INFO", logger=graph.__name__):
            got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        return got, len([r for r in caplog.records if r.name == graph.__name__])

    assert run() == (want, 0)
    monkeypatch.setattr(graph, "_CC_REDUCE_EDGES", 600)
    monkeypatch.setattr(graph, "_CC_SOLVE_EDGES", 1000)
    assert run() == (want, 0)
    monkeypatch.setattr(graph, "_CC_SOLVE_EDGES", 0)
    assert run() == (want, 1)
    assert connected_components(df.filter(F.lit(False))).count() == 0


def _cc_jobs(spark, df):
    """Spark jobs one connected_components call runs while building its
    plan (its checkpoints and counts)."""
    import uuid

    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one connected_components call")
    try:
        connected_components(df)
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_reduction_counts_once(spark, monkeypatch):
    """A forest reduction runs its checkpoint and one count of its
    output, two jobs each (the exchange's map stage, then the result):
    the reduction reuses the count the loop already took of its input
    instead of counting that input again, which cost two jobs more."""
    rng = random.Random(3)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(1500)]
    df = spark.createDataFrame(edges, "src long, dst long")
    solved = _cc_jobs(spark, df)
    # 1500 edges > 1000: one reduction into ceil(1500/600) = 3 forests of
    # at most 3·299 = 897 edges, which fit the solve budget
    monkeypatch.setattr(graph, "_CC_REDUCE_EDGES", 600)
    monkeypatch.setattr(graph, "_CC_SOLVE_EDGES", 1000)
    assert _cc_jobs(spark, df) == solved + 4


def test_xtrack_round_restores_duckdb_signed_zero(spark, tmp_path):
    # the engine's rounded zeros must carry the raw sign (DuckDB ROUND
    # semantics): negative raw -> -0.0, positive raw -> +0.0
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["xtrack_events"](spark, sf).collect()
    negz = [
        r["event_id"]
        for r in rows
        if (r["xtrack_m"] == 0.0 and math.copysign(1.0, r["xtrack_m"]) < 0)
        or (r["atrack_m"] == 0.0 and math.copysign(1.0, r["atrack_m"]) < 0)
    ]
    # the sf0.001 fixture has exactly one on-boundary event (r6 bitwise
    # audit); if the fixture ever changes this pins the MECHANISM, so
    # assert on sign consistency rather than the count alone
    assert len(negz) >= 1
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    odf = con.sql(entry.oracle_sql()["xtrack_events"]).fetchall()
    onegz = [
        r[0]
        for r in odf
        if (r[1] == 0.0 and math.copysign(1.0, r[1]) < 0)
        or (r[2] == 0.0 and math.copysign(1.0, r[2]) < 0)
    ]
    assert sorted(negz) == sorted(onegz)
