"""Sink/source roundtrip operators: CSV, JSON, and partitioned parquet.

The reference's storage surface is format-agnostic `put`/`get` of
whole files (client.go chunking); its computable corpus is text. The
Spark engine's equivalent breadth is the DataFrameWriter/Reader format
matrix — these queries prove the non-parquet formats end-to-end
*through the driver contract*: write the fixture table out in the
target format, read it back (explicit schema — no inference
nondeterminism), aggregate the read-back frame, and let the DuckDB
oracle compute the same aggregate from the original parquet. A lossy
writer, a schema-drifting reader, or a broken partition layout breaks
the hash match.

Scale posture: writes are the engine's normal distributed sink (one
file per task); `sink_partitioned` additionally demonstrates
partition-pruned reads — the scan of one `o_orderstatus` partition
must read only that directory (PartitionFilters in the plan, asserted
in tests/test_sources.py) — which at 100 TB is the difference between
scanning 1/3 of the table and all of it.

Each query materializes into a fresh temp dir under /tmp; the dir is
left in place because the returned DataFrame scans it lazily (the
driver collects after this function returns). Dirs are per-invocation
(mkdtemp) so concurrent sessions never collide.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import load_table
from dfs_w_mapreduce_spark.functions.hashing import md5_long, md5_long_sql
from dfs_w_mapreduce_spark.registry import QuerySpec


def _money(col: str):
    """Decimal-typed sum rounded to cents — exact and associative, so
    Spark's and DuckDB's accumulation orders cannot diverge."""
    return F.round(F.sum(F.col(col).cast("decimal(18,4)")), 2).cast("double")


_MONEY_SQL = "CAST(round(sum(CAST({col} AS DECIMAL(18,4))), 2) AS DOUBLE)"


def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> header CSV -> read back (explicit schema) -> per-status
    rollup. Exercises quoting, date/timestamp serialization, and double
    round-tripping through the text format."""
    src = load_table(spark, sf_dir, "orders")
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_csv_"), "orders_csv")
    src.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(src.schema).option("header", True).csv(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _money("o_totalprice").alias("total"),
        F.min(F.to_date("o_orderdate")).alias("first_day"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


SINK_CSV_ORACLE = f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           {_MONEY_SQL.format(col="o_totalprice")} AS total,
           min(CAST(o_orderdate AS DATE)) AS first_day,
           count(DISTINCT o_custkey) AS n_custs
    FROM orders GROUP BY 1
"""


def q_sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> JSON lines -> read back (explicit schema) -> per
    (lang, source) rollup. The free-text column exercises JSON string
    escaping both directions; checksum over the round-tripped text
    proves byte fidelity, not just row counts."""
    src = load_table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_json_"), "documents_json")
    src.write.mode("overwrite").json(out)
    back = spark.read.schema(src.schema).json(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
        F.sum(md5_long("text", 8)).alias("text_checksum"),
    )


SINK_JSON_ORACLE = f"""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           CAST(sum({md5_long_sql('text', 8)}) AS BIGINT) AS text_checksum
    FROM documents GROUP BY 1, 2
"""


def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> parquet partitioned by o_orderstatus -> read ONE
    partition back -> monthly rollup. The filter on the partition
    column prunes to a single directory (PartitionFilters, asserted in
    tests); the oracle applies the same predicate to the flat table."""
    src = load_table(spark, sf_dir, "orders")
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_part_"), "orders_part")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # Explicit schema: an empty source writes zero partition dirs, and
    # a schema-less read of an empty hive layout cannot infer anything.
    back = spark.read.schema(src.schema).parquet(out).filter(
        F.col("o_orderstatus") == "F"
    )
    return back.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count("*").alias("n_orders"),
        _money("o_totalprice").alias("total"),
    )


SINK_PARTITIONED_ORACLE = f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders,
           {_MONEY_SQL.format(col="o_totalprice")} AS total
    FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
"""


def q_sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse partial-rewrite
    primitive: write orders partitioned by status, then overwrite ONLY
    the 'F' partition with adjusted rows (prices doubled). Under
    partitionOverwriteMode=dynamic the second write replaces just the
    partitions it produces; every other partition's files are
    untouched (no read-modify-write of the whole table — at 100 TB
    that is the difference between rewriting 1/5th and 5/5ths). The
    read-back rollup hash-proves both sides: 'F' rows doubled, all
    other partitions byte-stable."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_dynover_"), "orders_part")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        modified = src.filter(F.col("o_orderstatus") == "F").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        modified.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    back = spark.read.schema(src.schema).parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _money("o_totalprice").alias("total"),
    )


SINK_PARTITION_OVERWRITE_ORACLE = f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           {_MONEY_SQL.format(col="CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2 ELSE o_totalprice END")} AS total
    FROM orders
    GROUP BY 1
"""


def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> ORC -> read back -> per-flag rollup. ORC is Spark's
    second native columnar format (predicate pushdown + striping like
    parquet); DuckDB cannot read ORC, so the oracle proves value
    fidelity by computing the same rollup from the original parquet —
    any writer/reader loss breaks the hash."""
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_orc_"), "lineitem_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.schema(src.schema).orc(out).filter(
        F.col("l_shipdate") >= F.lit("1997-01-01")
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        _money("l_quantity").alias("sum_qty"),
        _money("l_extendedprice").alias("sum_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


SINK_ORC_ORACLE = f"""
    SELECT l_returnflag,
           count(*) AS n_items,
           {_MONEY_SQL.format(col="l_quantity")} AS sum_qty,
           {_MONEY_SQL.format(col="l_extendedprice")} AS sum_price,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
"""


def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet drops with different schemas (v2
    adds a column) merged by mergeSchema=true into one unified scan —
    the add-a-column migration every long-lived 100 TB dataset goes
    through. v1 rows surface NULL for the new column; the rollup
    counts both generations and checks the nullable column aggregates
    correctly. Oracle rebuilds the same union from the base table."""
    src = load_table(spark, sf_dir, "orders")
    v1 = src.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = src.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="graft_schema_evo_"), "orders_evo")
    v1.write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "gen=1"), os.path.join(out, "gen=2")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_year").isNull(), 1).otherwise(0)).cast("long").alias("n_v1"),
        F.count("o_year").alias("n_v2"),
        F.min("o_year").alias("first_year"),
        _money("o_totalprice").alias("total"),
    )


SOURCE_SCHEMA_EVOLUTION_ORACLE = f"""
    WITH unioned AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, NULL AS o_year
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(year(o_orderdate) AS INT) AS o_year
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_year IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
           count(o_year) AS n_v2,
           min(o_year) AS first_year,
           {_MONEY_SQL.format(col="o_totalprice")} AS total
    FROM unioned GROUP BY 1
"""


def q_sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> XML (Spark 4 native writer) -> read back (explicit
    schema) -> per-lang rollup with a text checksum. Free text through
    XML exercises entity escaping both directions; DuckDB cannot read
    XML, so the oracle computes the same rollup from the original
    parquet — any escaping/round-trip loss breaks the checksum."""
    src = load_table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_xml_"), "documents_xml")
    src.write.mode("overwrite").option("rootTag", "docs").option(
        "rowTag", "doc"
    ).format("xml").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(src.schema)
        .load(out)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_text_len"),
        F.sum(md5_long("text", 8)).alias("text_checksum"),
    )


SINK_XML_ORACLE = f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           CAST(sum({md5_long_sql('text', 8)}) AS BIGINT) AS text_checksum
    FROM documents GROUP BY 1
"""


CHUNK_LINES = 100


def q_source_chunked_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan `documents` through the custom `refchunks` Python
    DataSource (sources/chunked_source.py — the reference's
    line-chunked `get` with per-chunk line numbers) and aggregate per
    chunk: line count, the max local line number (must be count-1 if
    per-chunk numbering is correct), and an md5-derived content
    checksum. The oracle rebuilds chunk/line assignment with
    row_number arithmetic over the same parquet — any drift in the
    source's partition planning, row order, or line numbering breaks
    the hash."""
    from dfs_w_mapreduce_spark.sources.chunked_source import ChunkedTextDataSource

    spark.dataSource.register(ChunkedTextDataSource)
    df = (
        spark.read.format("refchunks")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("lines_per_chunk", str(CHUNK_LINES))
        .load()
    )
    checksum = md5_long("value", 8)
    return df.groupBy("chunk_id").agg(
        F.count("*").alias("n_lines"),
        F.max("line_no").alias("max_line"),
        F.sum(checksum).alias("checksum"),
    )


SOURCE_CHUNKED_ORACLE = f"""
    WITH numbered AS (
        SELECT text,
               CAST((row_number() OVER (ORDER BY doc_id) - 1) // {CHUNK_LINES} AS INT) AS chunk_id,
               CAST((row_number() OVER (ORDER BY doc_id) - 1) % {CHUNK_LINES} AS INT) AS line_no
        FROM documents
    )
    SELECT chunk_id, count(*) AS n_lines,
           CAST(max(line_no) AS INT) AS max_line,
           CAST(sum({md5_long_sql('text', 8)}) AS BIGINT) AS checksum
    FROM numbered GROUP BY 1
"""


def q_source_chunked_stream_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk store consumed as a LIVE STREAMING SOURCE: the
    `refchunks` DataSource's SimpleDataSourceStreamReader
    (sources/chunked_source.py) tails the chunk map — offset = chunks
    consumed, exactly-once per chunk — through a real
    readStream -> complete-mode aggregate -> memory sink execution.
    The sink state after draining the finite store must equal the
    batch chunk scan exactly, so this shares SOURCE_CHUNKED_ORACLE
    with q_source_chunked_scan: one oracle, two execution engines
    (batch DataSourceReader vs streaming offset reader) — any drift
    in offset arithmetic, replay slicing, or per-chunk numbering
    hash-mismatches."""
    from dfs_w_mapreduce_spark.sources.chunked_source import ChunkedTextDataSource
    from dfs_w_mapreduce_spark.streaming.windows import _run_to_memory

    spark.dataSource.register(ChunkedTextDataSource)
    df = (
        spark.readStream.format("refchunks")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("lines_per_chunk", str(CHUNK_LINES))
        .load()
    )
    checksum = md5_long("value", 8)
    agg = df.groupBy("chunk_id").agg(
        F.count("*").alias("n_lines"),
        F.max("line_no").alias("max_line"),
        F.sum(checksum).alias("checksum"),
    )
    return _run_to_memory(agg, "complete")


def q_sink_chunked_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `put` through the custom `refchunks` Python
    DataSource WRITER: documents out as line-oriented chunk files (<=
    CHUNK_LINES lines each), read back with the plain text source,
    rolled up with a content checksum. Write-side chunking + read-back
    fidelity in one oracle row (the reader half is covered by
    `source_chunked_scan`)."""
    from dfs_w_mapreduce_spark.sources.chunked_source import ChunkedTextDataSource

    spark.dataSource.register(ChunkedTextDataSource)
    src = load_table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_chunks_"), "corpus_chunks")
    (
        src.select(F.col("text").alias("value"))
        .write.format("refchunks")
        .option("path", out)
        .option("lines_per_chunk", str(CHUNK_LINES))
        .mode("append")
        .save()
    )
    back = spark.read.text(out)
    checksum = md5_long("value", 8)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("sum_len"),
        F.sum(checksum).alias("checksum"),
    )


SINK_CHUNKED_ORACLE = f"""
    SELECT count(*) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS sum_len,
           CAST(sum({md5_long_sql('text', 8)}) AS BIGINT) AS checksum
    FROM documents
"""


BYTES_PER_CHUNK = 128  # small enough that most payloads span >1 chunk
BYTE_SAMPLE_MOD = 5  # 20% of docs: bounds chunk-file count at any SF


def q_sink_chunked_bytes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's BINARY `put`/`get` pair (SendByteChunks,
    client.go:335-384; per-chunk SHA-256 at put time, check_sum.go:
    22-29; recompute-and-verify on get, client.go:606-615) through the
    `refchunks` DataSource's byte mode. Each sampled document's
    multimodal payload (its UTF-8 bytes — the same opaque-binary
    convention operators/multimodal.py uses) is split into fixed
    128-byte chunks named `{counter}_{fileName}` exactly as the
    reference names them; the read-back plans from the checksum
    manifest, verifies every chunk's SHA-256, and the query reassembles
    each file ordering by chunk index and proves CONTENT identity via
    md5(reassembled bytes) == md5(original text) in the oracle. Chunk
    boundaries split multi-byte UTF-8 sequences mid-character, so any
    non-byte-clean handling (string coercion, escaping) breaks the
    hash. Per-row chunking: tasks never coordinate, file count is
    row-bounded, read tasks batch 256 chunks — scale is linear in
    payload bytes."""
    from dfs_w_mapreduce_spark.sources.chunked_source import ChunkedTextDataSource

    spark.dataSource.register(ChunkedTextDataSource)
    src = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % BYTE_SAMPLE_MOD == 0) & (F.length("text") > 0)
    )
    out = os.path.join(tempfile.mkdtemp(prefix="graft_sink_bytechunks_"), "store")
    (
        src.select(
            F.col("doc_id").cast("string").alias("file_name"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        .write.format("refchunks")
        .option("path", out)
        .option("chunk_mode", "bytes")
        .option("bytes_per_chunk", str(BYTES_PER_CHUNK))
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("refchunks")
        .option("path", out)
        .option("chunk_mode", "bytes")
        .load()
    )
    return (
        back.groupBy("file_name")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_bytes").alias("n_bytes"),
            F.array_sort(
                F.collect_list(F.struct("chunk_idx", "payload"))
            ).alias("parts"),
        )
        .select(
            "file_name",
            "n_chunks",
            "n_bytes",
            F.md5(
                F.aggregate(
                    F.col("parts").getField("payload"),
                    F.lit(b""),
                    lambda acc, x: F.concat(acc, x),
                )
            ).alias("content_md5"),
        )
    )


SINK_CHUNKED_BYTES_ORACLE = f"""
    SELECT CAST(doc_id AS VARCHAR) AS file_name,
           CAST((octet_length(encode(text)) + {BYTES_PER_CHUNK - 1})
                // {BYTES_PER_CHUNK} AS BIGINT) AS n_chunks,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id % {BYTE_SAMPLE_MOD} = 0 AND length(text) > 0
"""


def q_chunk_corruption_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's integrity loop, end to end: per-chunk checksums
    recorded at put time (check_sum.go:14-29), verified on get
    (client.go:606-615), a mismatch marking the replica corrupt and
    the read falling back to a healthy replica (CorruptFileNotice ->
    re-send from a good node, client.go:634-643 / controller.go:
    628-641). Here: documents chunked by doc_id range, a checksum
    manifest written, TWO replica stores written to disk with replica
    A's chunk 0 deterministically bit-rotted (first char flipped), and
    the recovery read re-verifying every chunk against the manifest,
    falling back per-chunk to replica B, and proving the recovered
    content is manifest-clean. Everything is per-chunk distributed
    work (groupBy chunk_id — no global window; chunk = doc_id div
    CHUNK_LINES, the dense-key analog of the reference's line
    chunker); replica reads are parquet scans, so at 100 TB recovery
    cost is one extra scan of only-the-corrupt chunks' replica."""
    src = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="graft_chunk_recovery_")
    chunks = (
        src.withColumn("chunk_id", (F.col("doc_id") / CHUNK_LINES).cast("int"))
        .groupBy("chunk_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))).getField(
                    "text"
                ),
                "\n",
            ).alias("content"),
            F.count("*").alias("n_lines"),
        )
    )
    manifest = chunks.select("chunk_id", F.md5("content").alias("want_md5"), "n_lines")
    manifest.write.mode("overwrite").parquet(f"{base}/manifest")
    # replica A: chunk 0 bit-rotted at write time. PREPEND a marker
    # rather than overwrite a character: an overwrite is a silent
    # no-op when the original already starts with the same byte
    # (data-dependent), while prepending always changes the content
    # and therefore always breaks the checksum.
    rot = F.concat(F.lit("\x01ROT\x01"), F.col("content"))
    chunks.select(
        "chunk_id",
        F.when(F.col("chunk_id") == 0, rot).otherwise(F.col("content")).alias("content"),
    ).write.mode("overwrite").parquet(f"{base}/replica_a")
    chunks.select("chunk_id", "content").write.mode("overwrite").parquet(
        f"{base}/replica_b"
    )
    m = spark.read.parquet(f"{base}/manifest")
    a = spark.read.parquet(f"{base}/replica_a").withColumnRenamed("content", "a_content")
    b = spark.read.parquet(f"{base}/replica_b").withColumnRenamed("content", "b_content")
    out = (
        m.join(a, "chunk_id")
        .join(b, "chunk_id")
        .select(
            "chunk_id",
            (F.md5("a_content") == F.col("want_md5")).alias("a_ok"),
            F.when(F.md5("a_content") == F.col("want_md5"), F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("used_replica"),
            (
                F.md5(
                    F.when(
                        F.md5("a_content") == F.col("want_md5"), F.col("a_content")
                    ).otherwise(F.col("b_content"))
                )
                == F.col("want_md5")
            ).alias("recovered_ok"),
            "n_lines",
        )
    )
    out = out.localCheckpoint()
    shutil.rmtree(base, ignore_errors=True)
    return out


CHUNK_RECOVERY_ORACLE = f"""
    WITH chunks AS (
        SELECT CAST(doc_id // {CHUNK_LINES} AS INT) AS chunk_id,
               count(*) AS n_lines
        FROM documents GROUP BY 1
    )
    SELECT chunk_id,
           chunk_id <> 0 AS a_ok,
           CASE WHEN chunk_id <> 0 THEN 'A' ELSE 'B' END AS used_replica,
           TRUE AS recovered_ok,
           n_lines
    FROM chunks
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("sink_csv_roundtrip", q_sink_csv_roundtrip, SINK_CSV_ORACLE,
                  ("source", "sink", "csv"),
                  "orders through header-CSV write+read, per-status rollup."),
        QuerySpec("sink_json_roundtrip", q_sink_json_roundtrip, SINK_JSON_ORACLE,
                  ("source", "sink", "json"),
                  "documents through JSON-lines write+read with text checksum."),
        QuerySpec("sink_partitioned", q_sink_partitioned, SINK_PARTITIONED_ORACLE,
                  ("source", "sink", "partitioning"),
                  "Hive-partitioned parquet write, partition-pruned read-back."),
        QuerySpec("sink_partition_overwrite", q_sink_partition_overwrite,
                  SINK_PARTITION_OVERWRITE_ORACLE,
                  ("sink", "storage", "scale"),
                  "Dynamic partition overwrite: rewrite one partition, others byte-stable."),
        QuerySpec("sink_xml_roundtrip", q_sink_xml_roundtrip, SINK_XML_ORACLE,
                  ("source", "sink", "xml"),
                  "documents through native XML write+read, checksum rollup."),
        QuerySpec("sink_orc_roundtrip", q_sink_orc_roundtrip, SINK_ORC_ORACLE,
                  ("source", "sink", "orc"),
                  "lineitem through ORC write+read, per-flag rollup."),
        QuerySpec("source_schema_evolution", q_source_schema_evolution,
                  SOURCE_SCHEMA_EVOLUTION_ORACLE,
                  ("source", "schema-evolution"),
                  "mergeSchema over two parquet generations (added column)."),
        QuerySpec("sink_chunked_roundtrip", q_sink_chunked_roundtrip,
                  SINK_CHUNKED_ORACLE,
                  ("source", "sink", "datasource-api"),
                  "Custom Python DataSource WRITER: reference-style chunked put."),
        QuerySpec("sink_chunked_bytes_roundtrip", q_sink_chunked_bytes_roundtrip,
                  SINK_CHUNKED_BYTES_ORACLE,
                  ("source", "sink", "datasource-api", "binary"),
                  "Byte-chunk put/get (reference SendByteChunks) with SHA-256 "
                  "manifest verify + md5 content-identity proof; new round 8."),
        QuerySpec("source_chunked_scan", q_source_chunked_scan, SOURCE_CHUNKED_ORACLE,
                  ("source", "datasource-api"),
                  "Custom Python DataSource: reference-style line chunks."),
        QuerySpec("source_chunked_stream_live", q_source_chunked_stream_live,
                  SOURCE_CHUNKED_ORACLE,
                  ("source", "datasource-api", "streaming", "live"),
                  "The chunk store tailed as a live streaming source "
                  "(SimpleDataSourceStreamReader), same oracle as the "
                  "batch scan."),
        QuerySpec("chunk_corruption_recovery", q_chunk_corruption_recovery,
                  CHUNK_RECOVERY_ORACLE, ("source", "integrity", "fidelity"),
                  "Checksum manifest + corrupt-replica detection + healthy-replica recovery."),
    ]
