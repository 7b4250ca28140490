"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (one JVM); the configs below are the
ones that transfer to a real multi-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow enabled
(vectorized pandas-UDF transfer), shuffle partitions sized to the
parallelism instead of the 200 default, UTC session timezone so results
compare exactly against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osmflat_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``os.cpu_count()``, so an unconfigured session fits its host).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this should be ~2-3x total executor cores and is the single
    most important knob for the 100 TB case (north rule: "explicit
    shuffle-partition tuning").
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster master string has no core count.
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*")) if "[" in master else 2 * cpus
        except ValueError:
            shuffle_partitions = 2 * cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode default sized to the host (half of RAM, 8g..16g —
        # see _default_driver_memory); real clusters size executors
        # separately; env overrides stay the contract.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Align Spark's whole-stage-codegen bailout with HotSpot's actual
        # JIT ceiling: HotSpot NEVER JIT-compiles methods over 8000
        # bytecodes (-XX:DontCompileHugeMethods, on by default), but
        # Spark's default hugeMethodLimit is 65535 — a generated stage in
        # the 8k-65k dead zone stays whole-stage yet runs INTERPRETED
        # forever. Measured on the cell-encode stage (one deeply-nested
        # unsplittable expression): 32M rows 164.6s interpreted vs 14.3s
        # with this limit (Spark falls back to per-operator execution,
        # whose small methods JIT normally); the 128M-point spatial job
        # went from stuck (250s+ per task) to its recorded minutes. The
        # alternative (-XX:-DontCompileHugeMethods) measures the same but
        # needs JVM-flag coordination on every executor; this conf ships
        # with the job.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Tungsten off-heap: sort/agg/shuffle buffers leave the GC heap —
        # measured ~7% faster and markedly flatter at high thread counts on
        # the allocation-heavy ingest/tile stages (BENCH/BASELINE.md); on a
        # real cluster size this per executor. Default = 1/8 of physical
        # RAM capped at 16g, so small hosts aren't promised direct memory
        # they don't have (direct-buffer OOM appears under load, not at
        # session creation).
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_OFFHEAP_SIZE", _default_offheap()))
    )
    # local-mode shuffle hits one filesystem from all threads; use tmpfs if
    # present (the single-box analog of per-node shuffle SSDs on a cluster)
    shm = os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE", "/dev/shm/spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _phys_ram_gb() -> int | None:
    """Physical RAM in whole GiB, or None where sysconf cannot tell."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return None
    return int(total / (1 << 30))


def _default_offheap() -> str:
    ram = _phys_ram_gb()
    if ram is None:
        return "2g"
    return f"{max(1, min(16, ram // 8))}g"


def _default_driver_memory() -> str:
    """Half of physical RAM, floored at 8g and capped at 16g. The cap
    is the r6 128 GiB-box setting (iterative graph operators
    materialize multi-GB edge checkpoints, and a smaller heap put their
    storage in contention with execution memory at >bench densities);
    the half-RAM rule keeps a small host from being promised a heap
    larger than the machine. Unknown RAM → the 8g floor."""
    ram = _phys_ram_gb()
    if ram is None:
        return "8g"
    return f"{max(8, min(16, ram // 2))}g"


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the ``spark-submit --py-files``
    story, self-contained): zip ``osmflat_rs_spark`` and ``addPyFile`` it,
    so broadcast objects and pandas-UDF closures that reference module
    code unpickle on any worker regardless of its cwd/sys.path."""
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    marker = "_osmflat_pkg_shipped"
    if getattr(spark.sparkContext, marker, False):
        return
    zpath = os.path.join(tempfile.gettempdir(), f"osmflat_rs_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join("osmflat_rs_spark", os.path.relpath(full, pkg_dir))
                        z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    setattr(spark.sparkContext, marker, True)
