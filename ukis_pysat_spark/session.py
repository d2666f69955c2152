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
  The daemon also preloads the stack a worker needs for an Arrow task
  (the worker module, which importing ``pyspark.daemon`` loads, plus
  numpy, pandas and pyarrow) and ``gc.freeze()``s it before forking,
  so the full collection a reused worker runs after every task walks
  only that task's objects, not the ~73k of the stack:
  Python CPU per identity ``mapInArrow`` task fell from 16.4 to 1.3 ms.
  The package root goes on the workers' PYTHONPATH so the daemon can
  import it;
- a generated-class cache of ``CODEGEN_CACHE_ENTRIES``: Spark's default
  100-entry LRU is smaller than one benchmark pass (~110 classes), so
  every later pass recompiled 55-91 classes with Janino and the JIT
  compiled them again; with 2000 entries a repeated pass recompiles none.
  Whole-stage classes are not named after their codegen stage id
  (``spark.sql.codegen.useIdInClassName``): adaptive execution numbers
  codegen stages as it plans each query stage, in an order that depends
  on which running stage finishes first.  With the id in the class name
  a repeated query whose ids came out in another order had another
  source, the cache key, and compiled again (measured: 1 of 31 re-runs
  of one spatial_join plan compiled 6 new classes);
- the driver JVM's flags, ``DRIVER_JAVA_OPTIONS``: 8 GB of direct
  memory for the netty buffers of the Arrow feed, and one C1 and one C2
  JIT compiler thread (``-XX:CICompilerCount=2``, the fewest tiered
  compilation allows; JDK 17 starts 1 C1 + 2 C2 threads on 4 CPUs and
  15 threads on 32).  Most of a benchmark pass was C2 compiling the
  engine.  JDK 17 raises the tier-4 thresholds as the queue per C2
  thread grows and drops queued methods that went cold, so with one C2
  thread lukewarm methods likely stay at C1 while hot ones still reach
  C2 (the mechanism is not measured; the CPU is).  On a 4-vCPU VM, in
  a fresh JVM's tile_io passes (``tools/cpu_split.py``), the C2 threads
  used ~4.0 CPU-s in the first pass, not ~7.1, and ~2.4 in the second,
  not ~2.9; from the sixth pass on a pass costs the same CPU either way.
  perfbench's tile_io ``pass_cpu_s`` fell from 6.96 to 5.94 (10
  interleaved pairs, lower in 9).  The count is one constant for every
  core count and was measured only on 4 vCPUs, where it cuts 3 compiler
  threads to 2: there ``bench.py`` at sf0.1 summed 51.6 s of query time
  before and 51.7 s after (medians of 10 pairs, parent IQR 4.1 s).  On
  32 cores (15 threads by default), and so in ``bench.py`` at sf1.0 on
  local[32], one long JVM where C2 pays off, it is unverified.  The
  flags go in ``spark.driver.defaultJavaOptions``, which Spark puts
  before ``spark.driver.extraJavaOptions`` on the JVM's command line, so
  a caller that sets its own extraJavaOptions (perfbench does) adds
  flags instead of dropping these.  Setting it replaces any
  defaultJavaOptions from ``spark-defaults.conf``: put such driver flags
  in ``spark.driver.extraJavaOptions`` instead (in spark-defaults.conf
  or through ``extra_conf``).  Both take effect only when this process
  launches the JVM: under spark-submit pass them with ``--conf``.
  Executors on a cluster are JVMs of their own and keep their defaults.
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

# the driver JVM's flags (module docstring): direct memory for the Arrow
# feed's netty buffers (see ARROW_MAX_RECORDS), one C1 and one C2 thread
DRIVER_JAVA_OPTIONS = "-XX:MaxDirectMemorySize=8g -XX:CICompilerCount=2"

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
        # under spark-submit the JVM is already up.  Not extraJavaOptions:
        # a caller's extraJavaOptions would replace these, not add to them
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.python.daemon.module", "ukis_pysat_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
