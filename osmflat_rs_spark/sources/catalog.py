"""Snapshot catalog: Iceberg-semantics table store on plain parquet.

The real deployment target is Iceberg (`df.writeTo(tbl).append()`,
snapshot ids, `WRITE ORDERED BY cell_id`); the Iceberg runtime jar is not
in this image, so this module implements the same *semantics* —
append-only snapshots with parent chains, atomic pointer swap, snapshot
reads, incremental (cursor) reads, per-partition lineage and job metrics
tables — on a directory layout the engine fully controls:

    warehouse/<table>/data/snap-<id>/*.parquet     immutable data files
    warehouse/<table>/snapshots/<id>.json          manifest (parent, stats)
    warehouse/<table>/HEAD                         current snapshot pointer
    warehouse/_meta/cursors/<job>.json             resume cursors
    warehouse/_meta/lineage/*.parquet              per-write lineage rows

This mirrors the reference's replication metadata — the archive records
the upstream diff-stream cursor (flatdata/osm.flatdata:35-51,
osmflatc/src/main.rs:50-60); here the cursor is a snapshot id, and resume
= "read only snapshots after the cursor" (``read_incremental``).

Swap-in path for real Iceberg: every public method maps 1:1 onto an
Iceberg catalog call (append → writeTo().append(), HEAD → current
snapshot id, read_incremental → incremental scan between snapshot ids).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(os.path.join(warehouse, "_meta", "cursors"), exist_ok=True)

    # ------------------------------------------------------------------ paths
    def _tdir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _head_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "HEAD")

    def _manifest_path(self, table: str, snap: str) -> str:
        return os.path.join(self._tdir(table), "snapshots", f"{snap}.json")

    # --------------------------------------------------------------- snapshots
    def head(self, table: str) -> str | None:
        try:
            with open(self._head_path(table)) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def manifest(self, table: str, snap: str) -> dict:
        with open(self._manifest_path(table, snap)) as f:
            return json.load(f)

    def chain(self, table: str, snap: str | None = None) -> list[str]:
        """Snapshot ids oldest→newest contributing to ``snap`` (default
        HEAD). A full-rewrite snapshot truncates the chain: its data alone
        is the table state (Iceberg overwrite semantics)."""
        cur = snap or self.head(table)
        out: list[str] = []
        while cur:
            out.append(cur)
            m = self.manifest(table, cur)
            if m.get("full_rewrite"):
                break
            cur = m.get("parent")
        return list(reversed(out))

    # ------------------------------------------------------------------ write
    def append(
        self,
        table: str,
        df: DataFrame,
        job: str = "adhoc",
        inputs: dict[str, str] | None = None,
        order_by: list[str] | None = None,
        full_rewrite: bool = False,
        target_partitions: int | None = None,
    ) -> str:
        """Append ``df`` as a new snapshot; returns the snapshot id.

        ``order_by`` emulates Iceberg ``WRITE ORDERED BY``: range-partition
        + sort-within-partitions before writing (the cell-ID clustering of
        the north rule); ``target_partitions`` sets the output file count
        of the ordered write (default: ``defaultParallelism``). Lineage
        rows (one per output partition: row count) and the manifest are
        written after the data — an interrupted write leaves an
        unreferenced data dir, never a corrupt table (the same commit
        protocol as Iceberg's manifest swap)."""
        snap = uuid.uuid4().hex[:16]
        ddir = os.path.join(self._tdir(table), "data", f"snap-{snap}")
        os.makedirs(os.path.join(self._tdir(table), "snapshots"), exist_ok=True)
        if order_by:
            n = target_partitions or self.spark.sparkContext.defaultParallelism
            df = df.repartitionByRange(n, *order_by).sortWithinPartitions(*order_by)
        df.write.mode("overwrite").parquet(ddir)

        # per-partition lineage: partition id → row count of what we wrote.
        # ONE scan serves both the lineage rows and the manifest total —
        # the counts are collected (bounded: #partitions rows), written as
        # the lineage table, and summed for n_rows; a second full read of
        # the snapshot just to count() would triple append I/O at scale.
        # The schema is the one just written: inferring it costs a job.
        written = self.spark.read.schema(df.schema).parquet(ddir)
        rows = (
            written.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n_rows"))
            .collect()
        )
        import pandas as pd

        part_counts = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "partition_id": [r["partition_id"] for r in rows],
                    "n_rows": [r["n_rows"] for r in rows],
                    "table": table,
                    "snapshot_id": snap,
                    "job": job,
                }
            )
            if rows
            else pd.DataFrame(columns=["partition_id", "n_rows", "table", "snapshot_id", "job"]),
            schema="partition_id int, n_rows long, table string, snapshot_id string, job string",
        )
        ldir = os.path.join(self.warehouse, "_meta", "lineage", f"{table}-{snap}")
        part_counts.write.mode("overwrite").parquet(ldir)
        n_rows = int(sum(r["n_rows"] for r in rows))

        manifest = {
            "snapshot_id": snap,
            "parent": self.head(table),
            "table": table,
            "job": job,
            "inputs": inputs or {},
            "n_rows": n_rows,
            "data_dir": ddir,
            "full_rewrite": full_rewrite,
        }
        with open(self._manifest_path(table, snap), "w") as f:
            json.dump(manifest, f)
        tmp = self._head_path(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap)
        os.replace(tmp, self._head_path(table))  # atomic pointer swap
        return snap

    # ------------------------------------------------------------------- read
    def read(self, table: str, snapshot: str | None = None) -> DataFrame:
        """Snapshot-consistent read: union of the snapshot's ancestor chain."""
        snaps = self.chain(table, snapshot)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no snapshots")
        dirs = [self.manifest(table, s)["data_dir"] for s in snaps]
        return self.spark.read.parquet(*dirs)

    def read_incremental(self, table: str, after: str | None) -> tuple[DataFrame | None, str | None]:
        """Rows appended strictly after snapshot ``after`` (None = all),
        plus the new HEAD to store as the next cursor."""
        head = self.head(table)
        if head is None:
            return None, None
        snaps = self.chain(table, head)
        if after is not None:
            if after in snaps:
                snaps = snaps[snaps.index(after) + 1 :]
            # unknown cursor → treat as full read (safe, idempotent consumers)
        if not snaps:
            return None, head
        dirs = [self.manifest(table, s)["data_dir"] for s in snaps]
        return self.spark.read.parquet(*dirs), head

    # ---------------------------------------------------------------- cursors
    def _cursor_path(self, job: str) -> str:
        return os.path.join(self.warehouse, "_meta", "cursors", f"{job}.json")

    def save_cursor(self, job: str, cursors: dict[str, str]) -> None:
        tmp = self._cursor_path(job) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cursors, f)
        os.replace(tmp, self._cursor_path(job))

    def load_cursor(self, job: str) -> dict[str, str]:
        try:
            with open(self._cursor_path(job)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    # ---------------------------------------------------------------- lineage
    def lineage(self, table: str | None = None) -> DataFrame:
        """Per-partition lineage rows; optional ``table`` filter so the
        signature matches IcebergCatalog.lineage(table) — make_catalog's
        'callers never branch' contract requires both backends to accept
        the same call shapes (IcebergCatalog requires the argument; pass
        it when writing backend-agnostic code)."""
        ldir = os.path.join(self.warehouse, "_meta", "lineage")
        df = self.spark.read.parquet(os.path.join(ldir, "*"))
        return df.filter(F.col("table") == table) if table is not None else df

    # ------------------------------------------------------------- maintenance
    def compact(
        self,
        table: str,
        job: str = "compaction",
        order_by: list[str] | None = None,
        target_partitions: int | None = None,
    ) -> str | None:
        """Table maintenance (Iceberg ``rewrite_data_files`` analog): fold
        the HEAD's whole ancestor chain into ONE full-rewrite snapshot —
        long append chains mean many small files and long manifest walks;
        compaction restores O(1) reads. Optionally re-clusters
        (``order_by`` = the WRITE ORDERED BY layout, e.g. the cell
        column) and re-sizes to ``target_partitions`` output files.

        Readers are never disturbed: the new snapshot is written beside
        the old data and installed with the same atomic pointer swap;
        time-travel reads of pre-compaction snapshot ids keep working
        (old data dirs are immutable and stay referenced by their
        manifests). Returns the new snapshot id, or None if the table is
        already a single snapshot (nothing to fold)."""
        head = self.head(table)
        if head is None:
            return None
        chain = self.chain(table, head)
        if len(chain) <= 1 and target_partitions is None and order_by is None:
            return None
        df = self.read(table, head)
        if target_partitions and not order_by:
            df = df.repartition(target_partitions)
        # order_by + target_partitions: append's WRITE-ORDERED path honors
        # the requested output file count (ADVICE r02 — it used to be
        # silently dropped in favor of defaultParallelism).
        snap = self.append(
            table,
            df,
            job=job,
            inputs={table: head},
            order_by=order_by,
            full_rewrite=True,
            target_partitions=target_partitions,
        )
        return snap
