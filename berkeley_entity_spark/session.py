"""SparkSession factory tuned for the entity-resolution workload.

Defaults target the sandbox (single JVM, local[N]); the same settings are the
ones we would ship to a 1000-executor cluster via spark-submit --conf:
AQE on (runtime skew-join splitting for hot blocking keys), Arrow enabled
(every row-level kernel is a pandas UDF), and shuffle partitions sized to the
input rather than Spark's 200 default.

The generated-code cache (`spark.sql.codegen.cache.maxEntries`) holds 1000
classes, not Spark's 100: one `run_pipeline` cycles through about 150, and
a repeating cycle larger than an LRU cache misses on every access, so each
run recompiled nearly every class (Janino, then HotSpot JIT of the fresh
classes).  It is a static conf: it takes effect only when this call
creates the session, and is ignored when `getOrCreate` returns a session
that already exists.

PySpark's DataFrame call-site capture is off
(`spark.python.sql.dataFrameDebugging.enabled=false`).  With it on, every
classic `Column` method and `F.col` call reads the active session and a
conf, sets and clears `PySparkCurrentOrigin` in the JVM and walks the
Python stack: about 43% of the py4j round trips a `run_pipeline` made
while building its plans.  Errors still raise; they lose only the Python
call-site lines of the "DataFrame query context".  PySpark caches the flag
process-wide on the first Column call, so, like the codegen cache, it
takes effect only when this call creates the session before any Column
exists.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """The driver heap every session gets: $SPARK_DRIVER_MEMORY, else 8g."""
    return os.environ.get("SPARK_DRIVER_MEMORY", "8g")


def get_spark(
    app_name: str = "berkeley-entity-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    master/parallelism resolution order: explicit arg > $SPARK_GRAFT_CPUS >
    local[*].  shuffle partitions default to the core count — at sandbox data
    sizes more partitions are pure scheduling overhead, while on a real
    cluster the caller passes an input-sized value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/replan under persist(): without this a cached
        # plan keeps the static shuffle-partition fan-out, so caching a
        # tiny table (e.g. the 7.5k-row surfaces dim) pays a full-width
        # exchange; all operators are partitioning-invariant (tested), so
        # cached-plan output partitioning is free to change
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # measured working set: ~150 generated classes per crawl-sized
        # run_pipeline (141-143 Janino compiles per steady-state run at the
        # default 100) and 263-309 compiles per 5-batch incremental drain;
        # 1000 holds both with room for query families sharing the session
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # no per-Column call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # At 100 TB the session would add the Iceberg catalog:
        #   .config("spark.sql.catalog.warehouse", "org.apache.iceberg.spark.SparkCatalog")
        # The sandbox image ships no iceberg runtime jar, so stage tables go to
        # parquet via plans.checkpoint.CheckpointStore (format-pluggable).
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
