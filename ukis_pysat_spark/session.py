"""SparkSession factory tuned for the engine's workload.

The knobs below are the ones that matter at 100 TB scale:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion);
- Arrow transfer on with a bounded batch size so decoded image payloads
  (bands*h*w bytes each) never blow the Python-worker heap;
- shuffle partitions sized to the session's core count (overridable per
  cluster — on a real cluster set ~2-3x total cores);
- UTC session timezone so timestamp semantics match the oracle;
- Python workers forked from ``ukis_pysat_spark.pydaemon``, which skips
  re-reading unchanged zip archives when pyspark invalidates import
  caches before each task.  On CPython 3.11 a worker re-parsed ~28k
  archive entries per task (16 importers over pyspark.zip, the py4j zip
  and the spark-core jar); with the daemon the Python workers' time in
  a traced tile_io benchmark pass fell from 19.6 to 7.0 s (4-vCPU VM).
  The package root goes on the workers' PYTHONPATH so the daemon can
  import it;
- a generated-class cache of ``CODEGEN_CACHE_ENTRIES``: Spark's default
  100-entry LRU is smaller than one benchmark pass (~110 classes), so
  every later pass recompiled 55-91 classes with Janino and the JIT
  compiled them again; with 2000 entries a repeated pass recompiles none.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing trades UDF vectorization width against JVM direct
# memory: concurrent_tasks * rows * payload must stay under
# MaxDirectMemorySize (netty buffers on the Arrow feed side).  128 rows
# vectorizes geometry/refine batches well while 32 concurrent 32 KB-row
# batches stay ~128 MB.  Operators that decode large payloads bound
# Python-side memory by YIELDING incrementally (tile_pixels,
# apply_transforms) rather than by shrinking every batch.
ARROW_MAX_RECORDS = 128

# holds the engine's generated classes with headroom (one pass of either
# benchmark workload compiles ~110 distinct classes)
CODEGEN_CACHE_ENTRIES = 2000

# the directory (or zip) holding this package, for the worker daemon
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "ukis-pysat-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster pass master=None and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        # image payloads make rows wide; keep file-split sizing moderate
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # wide binary rows: the default 4096-row columnar reader batch
        # reserves rows*payload contiguous bytes PER TASK — at 32
        # concurrent tasks that OOMs the heap.  128 rows * 32 tasks
        # bounds reader memory at ~concurrent_tasks*128*payload.
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # effective when this process launches the JVM (plain python);
        # under spark-submit pass the same via --conf (JVM already up)
        .config("spark.driver.extraJavaOptions", "-XX:MaxDirectMemorySize=8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", "ukis_pysat_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
