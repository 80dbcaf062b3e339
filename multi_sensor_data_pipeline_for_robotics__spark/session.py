"""SparkSession factory.

Defaults tuned for the test rig (single JVM ``local[N]``) but written so
the same code is correct on a real cluster: shuffle width follows core
count, AQE handles runtime coalescing/skew, session timezone is pinned to
UTC so timestamp semantics match the DuckDB oracle and parquet data, and
Arrow is enabled for every pandas interchange path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's Janino codegen cache, an LRU over generated source
# (Spark's default is 100). Sized from the registry's traffic: see
# get_session.
CODEGEN_CACHE_MAX_ENTRIES = 8192


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_session(
    app_name: str = "multi_sensor_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - ``spark.sql.shuffle.partitions`` ≈ cores locally; on a real cluster
      AQE coalesces post-shuffle partitions so a larger static value is
      also fine.
    - AQE on: runtime partition coalescing + skew-join splitting.
    - UTC session timezone: parquet timestamps compare bit-identically
      with the DuckDB oracle.
    - Codegen cache bound :data:`CODEGEN_CACHE_MAX_ENTRIES` (8192), so
      one session compiles each generated class once. A
      ``tools/check_oracles.py`` sweep over all 261 ``queries()``
      compiles 3,806 distinct classes at sf0.001 (3,811 at sf0.01);
      per-call literals such as stream epochs are inlined into the
      generated source, so those re-compile on every call. At the
      default of 100 entries a single 18-query headline pass (~380
      classes) already cycles the LRU, so every pass recompiled every
      class (384 compiles, +5.4 MB metaspace: ~14 KB per class), and the
      evicted classes were never unloaded; at 8192 a warmed pass
      compiles 0. 8192 is over 2x the census, a ceiling of ~115 MB of
      metaspace. It is a static SQL conf: it only takes effect on the
      builder, before the first session of the JVM exists.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # timestamp-encoding confs pinned here so sources.load_table's
        # runtime conf sets are no-ops on engine-owned sessions (see its
        # docstring warning about caller-owned sessions)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this session's JVM (Spark's
    ``CodegenMetrics``). Only cache misses compile, so the difference
    across a re-run is the number of classes the cache failed to keep."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
