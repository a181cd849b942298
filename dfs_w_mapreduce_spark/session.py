"""SparkSession factory with a 100 TB-scale-minded default config.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); on a real cluster the same config applies unchanged except
``master``.  The knobs below are the ones that matter at scale:

- AQE on (runtime re-planning, partition coalescing, skew-join
  splitting) so the same declarative plans survive 1000-executor
  deployments with skewed keys.
- ``spark.sql.shuffle.partitions`` sized for the local run; AQE
  coalesces down, and at cluster scale this would be set to
  ~2-3x total cores (or left to AQE's initialPartitionNum).
- Arrow enabled for every Python<->JVM boundary (Pandas UDFs).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB correctness oracle (DuckDB timestamps are UTC-naive).
- The compiled whole-stage-codegen class cache holds CODEGEN_CACHE_ENTRIES
  classes instead of Spark's default 100. The cache is an LRU keyed on
  the generated source: one pass over all 305 registry queries at sf0.1
  compiles 4069 distinct classes, and a warm pass of the perfbench
  iterative_dedup workload alone needs 211, so at 100 entries every
  class is evicted before its next use and each pass recompiles all of
  them with Janino (with this size a warm pass compiles 0-5). The conf is
  static: it takes effect only in sessions this factory creates (the
  benchmark, the tests, bench.py and the tools/ scripts that call it),
  not in a session a caller built itself, such as the round driver's
  own or tools/driver_mimic.py's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The 4069 classes of one pass over every registry query, plus room.
CODEGEN_CACHE_ENTRIES = 5000


def _cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "dfs_w_mapreduce_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — correct
    for local[N]; on a cluster, pass ~2-3x total executor cores or
    rely on AQE coalescing from a higher initial number.
    """
    cpus = _cpu_count()
    if shuffle_partitions is None:
        # Local/bench default: fixture-scale shuffles are tiny, and
        # task overhead beats parallelism above ~cores/2 (measured:
        # 32 partitions is ~2x slower than 16 at sf0.1; 4 starves the
        # CPU-heavy LSH/knn stages). A cluster deployment at real
        # scale should pass ~2-3x total cores or set AQE's
        # initialPartitionNum high and let coalescing shrink it.
        shuffle_partitions = max(8, cpus // 2)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
