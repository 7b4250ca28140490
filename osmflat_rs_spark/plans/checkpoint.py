"""How operators and plans materialize an intermediate: local checkpoints only.

There are three forms, and never ``persist``/``cache``:

- :func:`fresh_local_checkpoint` — for iterative loops and for tables
  several consumers read (a pair table feeding three joins, a reduce
  whose margins re-aggregate it). ``disk=True`` stores the blocks
  DISK_ONLY: serialized and compressed, never competing with execution
  memory. Use it for tables whose size scales with density (radius-join
  pairs, raw graph edges): the default deserialized MEMORY_AND_DISK
  blocks of a 112M-pair dbscan table GCLocker-killed an 8g local driver
  at 5x the bench density (r6).
- Spark's plain ``localCheckpoint(eager=True)`` — only where the frame's
  output partitioning or its plan-time size estimate must survive the
  materialization (``dedup.py``: keyed ``repartition(n, "_id")`` frames
  joined on that key). Routing those sites through the rewrap below
  re-shuffles them: ``ngram_jaccard_prefix_docs`` at sf0.1 went from
  6.2 to 11.3 s (and 7.4 to 13.6 s in a second set of 5 warm runs).
- Spark's lazy ``localCheckpoint(eager=False)`` — only in
  ``plans/indexing.py``, to pin a range-partitioned layout between the
  stats collect and the map-only pass that adds the collected offsets.
  It costs no job of its own: Spark runs the shuffle stage when the
  checkpoint is taken, and the stats collect right after stores the
  blocks. An eager checkpoint there would add one job per call.

Ownership: no form registers anything with the session
CacheManager. The checkpoint blocks belong to the plan that reads them,
and Spark's ContextCleaner frees them once that plan is garbage
collected — so an operator call leaves nothing pinned, also when it
raises half way through a loop.

Why the rewrap: ``localCheckpoint`` copies the origin plan's Catalyst
``sizeInBytes`` (a BigInt) onto the leaf it returns, and join estimates
MULTIPLY the children's sizes — so in a loop whose round k joins round
k-1's checkpoints the BigInt's digit count multiplies per round. By
round ~7 of a Borůvka/label-propagation loop the driver spends minutes
in ``BigInteger.multiply`` planning trivial jobs (r6, sf0.1 EMST: a
5-row contraction step took 90 s wall, 120+ s of driver CPU, found with
a SIGQUIT thread dump). :func:`fresh_local_checkpoint` rewraps the
checkpointed RDD in a new leaf at the session default size through the
JVM-side ``internalCreateDataFrame`` (``private[sql]``, public in
bytecode: the same RDD, zero data movement). Join strategy cannot
change — the inherited products were already above every broadcast
threshold, and AQE picks from runtime sizes. If the internal API is
unavailable the plain checkpoint is returned, and the log says so once.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame

try:  # Spark 4 classic namespace; 3.x keeps the same class path importable
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
except ImportError:  # pragma: no cover - Spark 3.x
    from pyspark.sql.dataframe import DataFrame as _ClassicDataFrame  # type: ignore

_log = logging.getLogger(__name__)
_fallback_warned = False


def fresh_local_checkpoint(df: DataFrame, disk: bool = False) -> DataFrame:
    """Eager ``localCheckpoint`` whose result carries DEFAULT size stats
    instead of the origin plan's multiplied-up BigInt (module doc).
    ``disk=True`` keeps the blocks DISK_ONLY, for wide density-scaled
    tables.

    The rewrapped leaf also drops the checkpoint's output partitioning
    and ordering (a fresh ``LogicalRDD`` reports neither), so a
    downstream join or aggregate on the key the input was partitioned by
    shuffles again where the plain checkpoint would not. When the
    internal API is unavailable the plain checkpoint is returned and a
    warning is logged once per process."""
    global _fallback_warned
    ck = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY if disk else None)
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
