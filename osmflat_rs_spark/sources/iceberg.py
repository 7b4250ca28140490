"""Real-Iceberg binding for the snapshot-catalog API (VERDICT r02 #8).

``SnapshotCatalog`` (sources/catalog.py) implements Iceberg *semantics*
on plain parquet because the Iceberg Spark runtime jar is not in this
image. This module is the 1:1 binding for clusters that have it:
``IcebergCatalog`` exposes the same method surface, delegating to real
Iceberg calls —

    append            → df.writeTo(tbl).append() / .createOrReplace(),
                        WRITE-ORDERED emulation via repartitionByRange +
                        sortWithinPartitions, job/input provenance as
                        snapshot summary properties
    head / chain      → the table's snapshots metadata (parent-id walk)
    read(snapshot=..) → spark.read.option("snapshot-id", ...) time travel
    read_incremental  → incremental scan (start/end-snapshot-id)
    compact           → CALL <catalog>.system.rewrite_data_files
    lineage           → the .files metadata table (per-file row counts,
                        the Iceberg-native form of per-partition lineage)
    save/load_cursor  → same JSON cursor files (cursors are engine state,
                        not table state — identical in both backends)

``make_catalog`` picks the real binding iff the Iceberg SparkCatalog
class is on the JVM classpath AND a spark catalog is configured for it,
else falls back to ``SnapshotCatalog`` — import-guarded like the PIL
decode path (multimodal.py), so this module is always importable.

Reference provenance: the catalog realizes the replication-cursor
semantics of flatdata/osm.flatdata:35-51 (see catalog.py docstring).
"""

from __future__ import annotations

import json
import os

import re

from pyspark.sql import DataFrame, SparkSession

from osmflat_rs_spark.sources.catalog import SnapshotCatalog

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str, what: str) -> str:
    """Identifiers (catalog/namespace/table/sort columns) are interpolated
    into SQL text (CALL rewrite_data_files, metadata-table queries) — the
    procedure-call syntax offers no parameter binding, so the only safe
    contract is a restricted identifier charset (ADVICE r03: unvalidated
    names were quoting-unsafe / injectable if they ever came from
    external input)."""
    if not _IDENT.match(name):
        raise ValueError(
            f"IcebergCatalog: {what} {name!r} must match [A-Za-z_][A-Za-z0-9_]* "
            f"(identifiers are interpolated into SQL; no quoting is attempted)"
        )
    return name


class IcebergCatalog:
    """Same API as :class:`SnapshotCatalog`, bound to a real Iceberg
    catalog. Snapshot ids are Iceberg's int64 ids rendered as strings so
    cursors stay interchangeable between the two backends."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        catalog: str = "local",
        namespace: str = "osmflat",
    ):
        self.spark = spark
        self.warehouse = warehouse  # only for cursor files
        self.catalog = _check_ident(catalog, "catalog")
        self.namespace = _check_ident(namespace, "namespace")
        os.makedirs(os.path.join(warehouse, "_meta", "cursors"), exist_ok=True)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}")

    # ------------------------------------------------------------ availability
    @staticmethod
    def available(spark: SparkSession, catalog: str = "local") -> bool:
        """True iff the Iceberg runtime is on the classpath and ``catalog``
        is configured as a Spark catalog (both are required to bind)."""
        try:
            spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        except Exception:
            return False
        try:
            return spark.conf.get(f"spark.sql.catalog.{catalog}") is not None
        except Exception:
            return False

    # ------------------------------------------------------------------ naming
    def _full(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{_check_ident(table, 'table')}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._full(table))

    # ------------------------------------------------------------------- write
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
        if order_by:
            for c in order_by:
                _check_ident(c, "order_by column")
            n = target_partitions or self.spark.sparkContext.defaultParallelism
            df = df.repartitionByRange(n, *order_by).sortWithinPartitions(*order_by)
        # the committed snapshot id is derived from the WRITE ITSELF by
        # diffing the snapshots metadata table against the pre-write set —
        # re-reading head() after the write could attribute a concurrent
        # writer's snapshot to this append (ADVICE r03)
        before = self._snapshot_ids(table)
        writer = (
            df.writeTo(self._full(table))
            .option("snapshot-property.job", job)
            .option("snapshot-property.inputs", json.dumps(inputs or {}))
        )
        if full_rewrite or not self._exists(table):
            writer.createOrReplace()
        else:
            writer.append()
        new = self._snapshot_ids(table) - before
        if len(new) == 1:
            return next(iter(new))
        # 0 or >1 new snapshots (concurrent rewrite collapsed/raced the
        # diff): head() is the best remaining answer — still a valid
        # read handle, just not provably THIS write's snapshot
        return self.head(table)

    def _snapshot_ids(self, table: str) -> set[str]:
        if not self._exists(table):
            return set()
        return {
            str(r["snapshot_id"])
            for r in self.spark.sql(
                f"SELECT snapshot_id FROM {self._full(table)}.snapshots"
            ).collect()
        }

    # --------------------------------------------------------------- snapshots
    def head(self, table: str) -> str | None:
        # the main branch ref is the AUTHORITATIVE head — ordering
        # snapshots by committed_at breaks on same-millisecond commits
        # (snapshot ids are random longs, so the id tie-break is
        # meaningless and can pick the older snapshot)
        if not self._exists(table):
            return None
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._full(table)}.refs WHERE name = 'main'"
        ).collect()
        return str(rows[0]["snapshot_id"]) if rows else None

    def chain(self, table: str, snap: str | None = None) -> list[str]:
        """Ancestor snapshot ids, oldest-first — truncated at the most
        recent NON-append snapshot (overwrite from createOrReplace,
        replace from rewrite_data_files): like SnapshotCatalog's
        full_rewrite truncation, a rewrite starts a new chain. This keeps
        ``read_incremental``'s in-chain test aligned with what Iceberg's
        incremental append scan can actually serve — a cursor from before
        a rewrite correctly falls back to the full read."""
        cur = snap or self.head(table)
        if cur is None:
            return []
        meta = {
            str(r["snapshot_id"]): (
                str(r["parent_id"]) if r["parent_id"] is not None else None,
                r["operation"],
            )
            for r in self.spark.sql(
                f"SELECT snapshot_id, parent_id, operation FROM {self._full(table)}.snapshots"
            ).collect()
        }
        out: list[str] = []
        while cur is not None and cur in meta:
            out.append(cur)
            parent, op = meta[cur]
            if op != "append":
                break  # rewrite/overwrite snapshot is the chain base
            cur = parent
        return list(reversed(out))

    # -------------------------------------------------------------------- read
    def read(self, table: str, snapshot: str | None = None) -> DataFrame:
        if snapshot is None:
            return self.spark.read.table(self._full(table))
        return self.spark.read.option("snapshot-id", int(snapshot)).table(self._full(table))

    def read_incremental(self, table: str, after: str | None) -> tuple[DataFrame | None, str | None]:
        head = self.head(table)
        if head is None:
            return None, None
        if after is None or after not in set(self.chain(table, head)):
            return self.read(table, head), head  # full read (safe, idempotent)
        if after == head:
            return None, head
        df = (
            self.spark.read.format("iceberg")
            .option("start-snapshot-id", int(after))
            .option("end-snapshot-id", int(head))
            .load(self._full(table))
        )
        return df, head

    # ------------------------------------------------------------- maintenance
    def compact(
        self,
        table: str,
        job: str = "compaction",
        order_by: list[str] | None = None,
        target_partitions: int | None = None,
    ) -> str | None:
        if self.head(table) is None:
            return None
        if order_by:
            cols = ", ".join(_check_ident(c, "sort column") for c in order_by)
            self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{self.namespace}.{table}', strategy => 'sort', "
                f"sort_order => '{cols}', "
                f"options => map('rewrite-all', 'true'))"
            )
        else:
            self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{self.namespace}.{table}', "
                f"options => map('rewrite-all', 'true'))"
            )
        return self.head(table)

    # ---------------------------------------------------------------- lineage
    def lineage(self, table: str) -> DataFrame:
        """Per-file row counts from the .files metadata table — Iceberg's
        native equivalent of SnapshotCatalog's per-partition lineage."""
        from pyspark.sql import functions as F

        return self.spark.sql(
            f"SELECT file_path, record_count FROM {self._full(table)}.files"
        ).withColumn("table", F.lit(table))

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


def make_catalog(
    spark: SparkSession,
    warehouse: str,
    catalog: str = "local",
    namespace: str = "osmflat",
):
    """The catalog factory the engine should use: real Iceberg when the
    runtime is bound, the parquet SnapshotCatalog otherwise. Both expose
    the same method surface, so callers never branch."""
    if IcebergCatalog.available(spark, catalog):
        return IcebergCatalog(spark, warehouse, catalog=catalog, namespace=namespace)
    return SnapshotCatalog(spark, warehouse)
