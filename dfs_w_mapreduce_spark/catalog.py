"""Table catalog over the driver-generated parquet fixtures.

The reference's "catalog" is a flat file namespace listed by its
controller (`ls` over metadata stubs, reference
dfs/controller/controller.go:131-149).  Here the catalog is simply
parquet paths under a scale-factor directory; Spark's own catalog
(temp views) provides the `ls`-equivalent listing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Footer schemas already read, keyed on (path, bytes, mtime_ns,
# nanosAsLong): a rewritten file, or a session that reads nanos
# timestamps differently, gets a fresh footer read.
_FOOTER_SCHEMAS: dict[tuple, StructType] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The read schema of one fixture table, taken from its parquet
    footer once per file version.

    `spark.read.parquet(path)` without a schema starts one
    schema-inference job on every call, and queries load the same few
    files again and again, so the footer is read once and kept here.
    The layout of a fixture still comes from its footer, never from a
    hardcoded schema.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Set on whatever session the caller owns (the round driver
        # builds its own); this is a runtime SQL conf, not static.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    key = (
        path,
        source_size(sf_dir, name),
        os.stat(path).st_mtime_ns,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _FOOTER_SCHEMAS.get(key)
    if schema is None:
        schema = _FOOTER_SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan => pushdown + pruning free.

    The read schema comes from `table_schema`, so a repeated load
    starts no job. `events.ts` is stored as TIMESTAMP(NANOS), which
    Spark reads as a long (nanosAsLong); convert to a microsecond
    timestamp with the same truncation DuckDB applies when reading the
    same file.
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


# Gate broadcast hints on the dim's on-disk size. Parquet bytes are a
# conservative proxy (in-memory is ~2-4x larger); 64 MB of parquet is
# well inside executor/driver headroom while 10x that is not. At
# 100 TB TPC-H scale customer/supplier are tens of GB — a hard
# F.broadcast would OOM the driver, so those sites must degrade to
# letting Catalyst/AQE pick (sort-merge, or AQE's own broadcast if
# stats say it fits).
BROADCAST_FILE_CAP = 64 << 20


def source_size(sf_dir: str, table: str) -> int | None:
    """On-disk bytes of a fixture table; directory-style parquet sums
    its part files (getsize() on the directory itself returns the
    dirent size — ~4KB — which would mis-gate a huge table as tiny)."""
    try:
        path = table_path(sf_dir, table)
        if os.path.isdir(path):
            return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
        return os.path.getsize(path)
    except OSError:
        return None


def gated_broadcast(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Broadcast-hint `df` only if its SOURCE table's file is small.

    `df` may carry filters (which only shrink it), so gating on the
    base table is conservative. Above the cap the frame is returned
    unhinted and the optimizer chooses the join strategy.
    """
    size = source_size(sf_dir, table)
    if size is not None and size <= BROADCAST_FILE_CAP:
        return F.broadcast(df)
    return df


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a scan that has far fewer splits than cores —
    for CPU-heavy per-row pipelines (shingling/hashing) only.

    The fixture tables are single-row-group parquet files, so a scan
    yields 1-3 partitions and downstream compute runs on one core. A
    real 100 TB dataset has thousands of row groups and hits the
    `n >= cores/2` condition, making this a no-op. Measured: applying
    this to every scan is a net LOSS at fixture scale (shuffle
    overhead > parallelism gain for sub-second scan-agg queries), so
    it is opt-in per operator, not part of load_table.

    Catalyst pushes a deterministic filter through the repartition, so
    a filter written AFTER fan_out runs in the pre-fan-out scan task,
    including any expression it substitutes from a projection (a
    `size(sh) > 0` on shingles builds the shingles there, then again
    after the exchange). Filter on a predicate that is cheap wherever
    it lands (dedup._has_shingles counts tokens)."""
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(cores // 2, 1):
        return df
    return df.repartition(cores)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
