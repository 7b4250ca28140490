"""Stats-resetting eager local checkpoint for iterative operators.

``Dataset.checkpoint`` copies the origin plan's Catalyst size statistics
(``sizeInBytes``, an arbitrary-precision BigInt) onto the ``LogicalRDD``
it returns. Join size estimation is the PRODUCT of the children's sizes,
so in an iterative operator — where round k's plan joins round k-1's
checkpointed frames several times — the carried BigInt's DIGIT COUNT
multiplies every round. The numbers stay mathematically harmless (they
are only estimates) but the optimizer has to multiply them: by round ~7
of a Borůvka/label-propagation loop the driver burns minutes inside
``BigInteger.multiply`` (Karatsuba/Toom-Cook) while planning trivial
jobs. Round-6 measurement on the sf0.1 EMST gate: a 5-row contraction
step took 90 s wall with 120+ s of driver CPU in BigInteger — the
guide §7.3 "nothing is running, the driver is planning" signature, found
with a SIGQUIT thread dump.

``fresh_local_checkpoint`` materializes the frame exactly like
``localCheckpoint(eager=True)`` and then rewraps the checkpointed RDD in
a new leaf WITHOUT the inherited statistics (the leaf reverts to the
session default size). For the iterative loops this cannot change join
strategy: the inherited products were already far above every broadcast
threshold (they only ever grow), and AQE picks the real strategy from
runtime sizes anyway. The rewrap goes through the JVM-side
``internalCreateDataFrame`` (``private[sql]``, hence public in bytecode
and callable over py4j — the same RDD, zero data movement); if the
internal API is unavailable the plain checkpoint is returned, so the
helper degrades to exactly the old behavior, and says so once in the
log.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

try:  # Spark 4 classic namespace; 3.x keeps the same class path importable
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
except ImportError:  # pragma: no cover - Spark 3.x
    from pyspark.sql.dataframe import DataFrame as _ClassicDataFrame  # type: ignore

_log = logging.getLogger(__name__)
_fallback_warned = False


def disk_materialize(df: DataFrame) -> DataFrame:
    """Materialize a WIDE reused frame to disk-only cache (one count
    action) instead of a local checkpoint. ``localCheckpoint`` stores
    deserialized rows MEMORY_AND_DISK; for a pair table whose size
    scales quadratically with density (e.g. a radius self-join) that
    competes with execution memory and can GCLocker-kill the JVM at
    larger scale factors (r6: 112M dbscan pairs on an 8g local driver).
    DISK_ONLY blocks are serialized+compressed, never evicted by memory
    pressure, and every consumer still reads them instead of re-running
    the join. Lineage is kept (non-iterative callers only — an
    iterative loop still needs the checkpoint's truncation)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.DISK_ONLY)
    df.count()
    return df


def fresh_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` whose result carries DEFAULT size stats
    instead of the origin plan's multiplied-up BigInt (module doc).

    The rewrapped leaf also drops the checkpoint's output partitioning
    and ordering (a fresh ``LogicalRDD`` reports neither), so a
    downstream join or aggregate on the key the input was partitioned by
    shuffles again where the plain checkpoint would not. When the
    internal API is unavailable the plain checkpoint is returned and a
    warning is logged once per process."""
    global _fallback_warned
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        new_jdf = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return _ClassicDataFrame(new_jdf, df.sparkSession)
    except Exception as e:  # internal-API fallback
        if not _fallback_warned:
            _fallback_warned = True
            _log.warning(
                "fresh_local_checkpoint: stats-reset rewrap unavailable (%s: %s); "
                "returning the plain localCheckpoint, whose inherited size "
                "statistics can stall planning in iterative loops",
                type(e).__name__,
                e,
            )
        return ck
