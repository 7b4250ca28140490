"""Snapshot catalog + incremental (resumable) ingest + streaming tests."""

import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.fixtures import docs_to_spark, generate_docs
from osmflat_rs_spark.sources.catalog import SnapshotCatalog
from osmflat_rs_spark.streaming.incremental import ingest_increment


@pytest.fixture()
def cat(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "wh"))


def test_append_read_snapshot_chain(spark, cat):
    df1 = spark.range(5).withColumn("v", F.col("id") * 2)
    s1 = cat.append("t", df1)
    df2 = spark.range(5, 8).withColumn("v", F.col("id") * 2)
    s2 = cat.append("t", df2)
    assert cat.read("t").count() == 8
    assert cat.read("t", snapshot=s1).count() == 5  # time travel
    inc, head = cat.read_incremental("t", after=s1)
    assert head == s2 and inc.count() == 3
    inc2, head2 = cat.read_incremental("t", after=s2)
    assert inc2 is None and head2 == s2


def test_append_reads_back_with_known_schema(spark, cat):
    """append counts the rows it wrote by reading the snapshot back with
    the schema it just wrote; inferring that schema from the files
    would cost one more job (5 instead of 4)."""
    import uuid

    sc = spark.sparkContext
    group = f"append-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one SnapshotCatalog.append")
    try:
        cat.append("t", spark.range(100).withColumn("v", F.col("id") * 2))
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_full_rewrite_truncates_chain(spark, cat):
    cat.append("t", spark.range(5))
    cat.append("t", spark.range(100, 103), full_rewrite=True)
    assert cat.read("t").count() == 3


def test_lineage_partition_counts(spark, cat):
    cat.append("t", spark.range(100).repartition(4), job="j1")
    lin = cat.lineage()
    rows = lin.filter(F.col("table") == "t").collect()
    assert sum(r["n_rows"] for r in rows) == 100
    assert all(r["job"] == "j1" for r in rows)


def test_incremental_ingest_resume(spark, cat):
    pdf, _ = generate_docs(n_nodes=60, n_ways=10, n_rels=4)
    docs = docs_to_spark(spark, pdf)
    batch1 = docs.limit(40)
    cat.append("docs", batch1)
    s = ingest_increment(cat)
    assert s is not None
    n1 = cat.read("nodes").count()
    # no new data → no-op (the resume fast path)
    assert ingest_increment(cat) is None
    # append the rest → recompile picks up everything
    cat.append("docs", docs.subtract(batch1))
    s2 = ingest_increment(cat)
    assert s2 is not None
    assert cat.read("nodes").count() == 60
    assert cat.read("ways").count() == 10
    assert n1 <= 60
    # derived tables are a consistent compile of the FULL docs table:
    # every way ref resolves against the current nodes table or is null
    ways = cat.read("ways")
    nodes = cat.read("nodes")
    ref_idx = ways.select(F.explode("refs").alias("r")).select(F.col("r.node_idx").alias("i")).dropna()
    joined = ref_idx.join(nodes, ref_idx.i == nodes.node_idx, "left_anti")
    assert joined.count() == 0


def test_streaming_span_counts(spark, tmp_path):
    from osmflat_rs_spark.streaming.incremental import stream_docs_counts

    pdf, _ = generate_docs(n_nodes=40, n_ways=5, n_rels=2)
    docs = docs_to_spark(spark, pdf)
    src = str(tmp_path / "stream_src")
    docs.write.mode("overwrite").parquet(src)
    q, tbl = stream_docs_counts(spark, src, docs.schema, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        got = {r["kind"]: r["count"] for r in spark.sql(f"SELECT * FROM {tbl}").collect()}
    finally:
        q.stop()
    want_headers = 47
    assert got["header"] == want_headers
    assert got["coord"] == 40


def test_compaction_folds_chain_preserves_rows_and_time_travel(spark, tmp_path):
    """compact() folds an append chain into one full-rewrite snapshot:
    same rows, chain length 1, and TIME TRAVEL to pre-compaction
    snapshots still returns their exact historical state."""
    from osmflat_rs_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    s1 = cat.append("t", spark.range(0, 100).withColumnRenamed("id", "k"))
    s2 = cat.append("t", spark.range(100, 250).withColumnRenamed("id", "k"))
    s3 = cat.append("t", spark.range(250, 300).withColumnRenamed("id", "k"))
    assert len(cat.chain("t")) == 3

    snap = cat.compact("t", order_by=["k"])
    assert snap is not None
    assert len(cat.chain("t")) == 1  # full-rewrite truncates the chain
    assert cat.read("t").count() == 300
    got = {r["k"] for r in cat.read("t").collect()}
    assert got == set(range(300))

    # time travel to the middle of the old chain still works
    assert cat.read("t", snapshot=s2).count() == 250
    assert cat.read("t", snapshot=s1).count() == 100
    # incremental readers resuming from the pre-compaction head see the
    # full-rewrite snapshot (safe: idempotent full state, not a diff)
    inc, new_head = cat.read_incremental("t", after=s3)
    assert new_head == snap and inc.count() == 300

    # compacting an already-single-snapshot table is a no-op
    assert cat.compact("t") is None


def test_compact_honors_target_partitions_with_order_by(spark, tmp_path):
    """ADVICE r02: order_by + target_partitions used to silently drop the
    requested output file count (WRITE-ORDERED path repartitioned by
    defaultParallelism). The compacted snapshot must have exactly the
    requested number of data files AND stay cell-clustered."""
    from osmflat_rs_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.append("t", spark.range(0, 500).withColumnRenamed("id", "k"))
    cat.append("t", spark.range(500, 1000).withColumnRenamed("id", "k"))
    snap = cat.compact("t", order_by=["k"], target_partitions=3)
    import glob
    import os

    ddir = cat.manifest("t", snap)["data_dir"]
    files = glob.glob(os.path.join(ddir, "part-*"))
    assert len(files) == 3, files
    assert cat.read("t").count() == 1000


def test_make_catalog_falls_back_without_iceberg(spark, tmp_path):
    """VERDICT r02 #8: the factory binds real Iceberg iff the runtime jar
    + a configured spark catalog exist; in this image it must fall back
    to SnapshotCatalog, and the common surface must work through the
    factory-returned object without branching."""
    from osmflat_rs_spark.sources.catalog import SnapshotCatalog
    from osmflat_rs_spark.sources.iceberg import IcebergCatalog, make_catalog

    assert not IcebergCatalog.available(spark)
    cat = make_catalog(spark, str(tmp_path / "wh"))
    assert isinstance(cat, SnapshotCatalog)
    # the full interface drives identically through the factory object
    s1 = cat.append("t", spark.range(0, 50).withColumnRenamed("id", "k"))
    s2 = cat.append("t", spark.range(50, 80).withColumnRenamed("id", "k"))
    assert cat.head("t") == s2 and cat.chain("t") == [s1, s2]
    assert cat.read("t").count() == 80
    inc, head = cat.read_incremental("t", after=s1)
    assert head == s2 and inc.count() == 30
    cat.save_cursor("job", {"t": head})
    assert cat.load_cursor("job") == {"t": head}
    assert cat.compact("t") is not None and cat.read("t").count() == 80


def test_iceberg_catalog_if_bound(spark, tmp_path):
    """Runs only where the Iceberg runtime + a 'local' spark catalog are
    configured (not in this image): same interface drive as above against
    real Iceberg tables."""
    import pytest as _pytest

    from osmflat_rs_spark.sources.iceberg import IcebergCatalog

    if not IcebergCatalog.available(spark):
        _pytest.skip("Iceberg runtime not bound in this image")
    cat = IcebergCatalog(spark, str(tmp_path / "wh"))
    s1 = cat.append("t_iceberg_test", spark.range(0, 50).withColumnRenamed("id", "k"))
    s2 = cat.append("t_iceberg_test", spark.range(50, 80).withColumnRenamed("id", "k"))
    assert cat.head("t_iceberg_test") == s2 and s1 in cat.chain("t_iceberg_test")
    assert cat.read("t_iceberg_test").count() == 80
    assert cat.read("t_iceberg_test", snapshot=s1).count() == 50
    inc, head = cat.read_incremental("t_iceberg_test", after=s1)
    assert head == s2 and inc.count() == 30
