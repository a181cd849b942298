"""Streaming surface over the `events` table.

The reference is batch-only (SURVEY.md §2.5 — its only "stream" is
infra heartbeats), so the streaming semantics here are defined by this
engine and verified two ways:

1. **Batch-equivalent queries** (this module's registry entries):
   tumbling / sliding / session windows and JSON extraction expressed
   over the static events table with DuckDB oracles. Spark's window
   functions produce identical results in batch and streaming mode,
   so these pin the *semantics*.
2. **Stream-batch equivalence tests** (tests/test_streaming.py): the
   same aggregations run as real Structured Streaming jobs (file
   source -> availableNow trigger -> memory sink) and must equal the
   batch result; plus watermark late-data and stateful
   applyInPandasWithState coverage.

Plus a block of live entries (`stream_*_live`): actual readStream
pipelines executed to completion through the driver contract, each
oracle-checked via finite-replay equivalence with its batch twin.

Scale posture: windowed aggs shuffle on (window, key) — at 100 TB
the watermark bounds state; session windows use Spark's native
session_window operator (state merges adjacent sessions); JSON
extraction is expression-level (no UDF).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import load_table, table_schema
from dfs_w_mapreduce_spark.registry import QuerySpec

SESSION_GAP_MIN = 10


def _drain(q, timeout: int = 300) -> None:
    """Block until an availableNow query FULLY drains. awaitTermination
    returns False on timeout — ignoring it would silently hand back a
    partial sink table (flaky oracle mismatch on a slow machine) — and
    stop() sits in finally so an exception can't leak a running query."""
    try:
        assert q.awaitTermination(timeout), (
            f"streaming query {q.name} did not drain within {timeout}s"
        )
    finally:
        q.stop()


def _run_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming frame df to completion (availableNow) into a
    uniquely named memory sink in output mode mode, and return the
    sink's table."""
    name = "t_" + uuid.uuid4().hex[:12]
    _drain(
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    return df.sparkSession.table(name)


def tumbling_agg(events: DataFrame) -> DataFrame:
    """5-minute tumbling window per event_type: the canonical
    streaming aggregation (same expression batch or stream)."""
    return (
        events.groupBy(
            F.window("ts", "5 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(load_table(spark, sf_dir, "events"))


STREAM_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in
    2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total"))
        .select(F.col("w.start").alias("window_start"), "n", "total")
    )


STREAM_SLIDING_ORACLE = """
    SELECT window_start, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM (
        SELECT value,
               time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes' AS window_start
        FROM events, LATERAL (SELECT unnest([0, 1]) AS k)
    )
    GROUP BY 1
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization per user with a 10-minute inactivity gap, using
    Spark's native session_window (streaming-stateful-ready)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total",
        )
    )


# DuckDB has no session_window; reproduce via the lag/gap/cumsum idiom.
# Spark's session end = last event ts + gap.
STREAM_SESSION_ORACLE = f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '{SESSION_GAP_MIN} minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS session_end,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM numbered GROUP BY user_id, session_id
"""


def q_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the lag/gap/cumsum window idiom — the batch
    strategy that predates session_window, kept as an independent
    implementation sharing the session_window query's oracle (the two
    Spark strategies and the DuckDB idiom all agree)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Interval comparison keeps sub-second precision and is timestamp-
    # type-agnostic: Spark 4 forbids CAST(timestamp_ntz AS double), and
    # unix_timestamp() truncates to whole seconds, silently merging
    # sessions whose gap is within 1s of the threshold. ts - lag(ts)
    # yields a DayTimeInterval for both TIMESTAMP and TIMESTAMP_NTZ —
    # the same idiom the DuckDB oracle uses.
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts") - F.lag("ts").over(w)
                > F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")
            ),
            1,
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total"),
    ).drop("session_id")


DYN_GAP_SHORT_MIN = 5   # 'error' events close sessions quickly
DYN_GAP_LONG_MIN = 15


def q_stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: the inactivity gap depends on the
    event (errors close a session after 5 min, everything else 15) —
    Spark's session_window accepts a gap EXPRESSION, the
    streaming-stateful-ready form of policy-driven sessions. The
    oracle reproduces the merge semantics with the prefix-max idiom:
    a session breaks when an event starts at-or-after the running max
    of (ts + gap) over all earlier events of the user."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "error", F.lit(f"{DYN_GAP_SHORT_MIN} minutes")
    ).otherwise(F.lit(f"{DYN_GAP_LONG_MIN} minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


STREAM_SESSION_DYNAMIC_ORACLE = f"""
    WITH g AS (
        SELECT user_id, ts, event_id,
               ts + CASE WHEN event_type = 'error'
                         THEN INTERVAL '{DYN_GAP_SHORT_MIN} minutes'
                         ELSE INTERVAL '{DYN_GAP_LONG_MIN} minutes' END AS ev_end
        FROM events
    ),
    marked AS (
        SELECT *, CASE WHEN max(ev_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            > ts
                       THEN 0 ELSE 1 END AS new_session
        FROM g
    ),
    numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ev_end) AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
"""


LATENESS_BANDS_S = (0, 1, 10, 60)  # watermark-delay candidates (seconds)


def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing diagnostic: treating event_id as arrival order
    within each user's stream, an event's lateness is how far its
    event time lags the stream's running-max event time at arrival —
    exactly the quantity a watermark delay must exceed to avoid
    dropping it. Reports, per event_type, how many events a watermark
    of 0/1/10/60 seconds would drop. All arithmetic is exact integer
    microseconds over a per-user window (one shuffle, no global
    ordering anywhere)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    late = ev.withColumn("late_us", F.max("us").over(w) - F.col("us"))
    aggs = [F.count("*").alias("n_events")] + [
        F.sum((F.col("late_us") > b * 1_000_000).cast("long")).alias(
            f"dropped_wm_{b}s"
        )
        for b in LATENESS_BANDS_S
    ]
    return late.groupBy("event_type").agg(*aggs)


def _watermark_lateness_oracle() -> str:
    drops = ",\n           ".join(
        f"CAST(sum(CASE WHEN late_us > {b * 1_000_000} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS dropped_wm_{b}s"
        for b in LATENESS_BANDS_S
    )
    return f"""
        WITH late AS (
            SELECT event_type,
                   max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - epoch_us(ts) AS late_us
            FROM events
        )
        SELECT event_type, count(*) AS n_events,
           {drops}
        FROM late
        GROUP BY 1
    """


def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling: hourly event counts per event_type with missing
    hours filled as zero. The spine (full hour range x types) comes
    from sequence+explode — generated, never scanned — then a left
    join brings in actuals. At scale the spine is tiny relative to the
    fact side and broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(types)
    actual = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"))
    return spine.join(actual, ["hour", "event_type"], "left").select(
        "hour", "event_type", F.coalesce("n", F.lit(0)).alias("n")
    )


DATE_SPINE_ORACLE = """
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
               FROM events GROUP BY 1, 2)
    SELECT CAST(h.hour AS TIMESTAMP) AS hour, t.event_type,
           coalesce(a.n, 0) AS n
    FROM hours h CROSS JOIN types t
    LEFT JOIN actual a ON a.hour = h.hour AND a.event_type = t.event_type
"""


def q_stream_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props payload column (expression-level
    get_json_object — no UDF in the hot path)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


STREAM_JSON_ORACLE = """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k,
           json_extract_string(props, '$.missing') AS missing
    FROM events
"""


def q_stream_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-projected JSON parse (from_json with an explicit schema
    — the production path: one parse, typed columns, no per-field
    re-parsing like repeated get_json_object calls)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k"),
        (parsed.getField("k") % 10).alias("k_mod"),
    )


STREAM_JSON_TYPED_ORACLE = """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
    FROM events
"""


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table with the same output schema as
    `load_table`, regardless of how `ts` is physically stored (int64
    TIMESTAMP(NANOS) in older fixtures, TIMESTAMP(NTZ) in newer ones).
    Streaming sources require an explicit schema, so take it from the
    catalog's footer memo and apply load_table's nanos conversion only
    when the footer says the column is a long."""
    schema = table_schema(spark, sf_dir, "events")
    # The parquet streaming source requires a directory; point it at
    # the sf dir with a glob so only events.parquet matches.
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # Watermarks demand TIMESTAMP (LTZ); with the session timezone
        # pinned to UTC the cast preserves the wall-clock instant.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def q_stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming execution through the driver
    contract: file-replay the events parquet, run the tumbling agg
    with a watermark, availableNow trigger into a memory sink, return
    the sink as a DataFrame. Oracle: finite-replay equivalence — the
    replay is a single parquet file, so availableNow processes it in
    ONE micro-batch (no maxFilesPerTrigger split) where the watermark
    starts at epoch and can drop nothing, and complete mode keeps all
    window state; the memory sink therefore holds exactly the batch
    tumbling aggregate and `STREAM_TUMBLING_ORACLE` checks it."""
    agg = tumbling_agg(stream_events(spark, sf_dir).withWatermark("ts", "1 hour"))
    return _run_to_memory(agg, "complete")


def q_stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful streaming operators executed live:
    dropDuplicates on (user_id, event_type, 5-min bucket) followed by
    a per-type aggregation, through an availableNow run into a memory
    sink. Unlike `stream_tumbling_live` this one IS oracle-checkable:
    streaming dedup-then-count over a finite replay is exactly batch
    DISTINCT-then-count, so the DuckDB twin hash-verifies a real
    multi-stateful-operator streaming execution."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    keyed = ev.select(
        "user_id", "event_type", F.window("ts", "5 minutes").getField("start").alias("w")
    ).dropDuplicates(["user_id", "event_type", "w"])
    agg = keyed.groupBy("event_type").agg(F.count("*").alias("n_active_buckets"))
    return _run_to_memory(agg, "complete")


STREAM_DEDUP_LIVE_ORACLE = """
    SELECT event_type, count(*) AS n_active_buckets
    FROM (SELECT DISTINCT user_id, event_type,
                 time_bucket(INTERVAL '5 minutes', ts) AS w
          FROM events)
    GROUP BY 1
"""


def q_stream_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-K executed live: complete-mode aggregation
    followed by sort + LIMIT — the one place Structured Streaming
    permits a sort (after aggregation in complete mode), i.e. a live
    leaderboard that re-ranks on every micro-batch. availableNow
    replay of the finite fixture makes the final sink state exactly
    the batch top-10, which the oracle pins (count ties broken by
    user_id on both engines).

    Scale posture: state is the per-user running count (bounded by
    the user domain); the sort runs over the state store output at
    trigger time, not over the input stream."""
    ev = stream_events(spark, sf_dir)
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )
    return _run_to_memory(top, "complete")


STREAM_TOPK_LIVE_ORACLE = """
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id LIMIT 10
"""


def q_stream_wmdedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark executed live, with REAL
    duplicates to drop: the event stream unioned with itself (two
    independent replays of the same files), deduplicated on event_id
    within the watermark horizon, then rolled up per type. The state
    for each key expires once the watermark passes it — the bounded-
    state form of streaming dedup (a plain dropDuplicates keeps every
    key forever; at 100 TB/day that state never fits). Doubled input
    collapsing back to exactly the batch counts is the oracle."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    doubled = ev.union(ev)
    dd = doubled.dropDuplicatesWithinWatermark(["event_id"])
    # (count DISTINCT is illegal on streaming frames; an integer
    # checksum over the deduped ids proves the same row-identity)
    agg = dd.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("event_id") % 97).alias("id_chk"),
    )
    return _run_to_memory(agg, "complete")


STREAM_WMDEDUP_LIVE_ORACLE = """
    SELECT event_type, count(*) AS n,
           CAST(sum(event_id % 97) AS BIGINT) AS id_chk
    FROM events
    GROUP BY 1
"""


def q_stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window executed as a REAL streaming query:
    watermarked session aggregation, availableNow replay into a
    memory sink, complete mode. Over a finite replay the final
    sessions equal the batch session_window result, so this live
    stateful-session execution shares `stream_session`'s DuckDB
    oracle — the strongest check a streaming session operator can
    get."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total",
        )
    )
    return _run_to_memory(agg, "complete")



def q_stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows executed live (complete mode over an
    availableNow replay equals the batch sliding aggregation, so this
    shares `stream_sliding`'s oracle): each event lands in two
    10-minute windows stepping every 5."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total")
    )
    return _run_to_memory(agg, "complete")



def q_stream_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured parsing via VariantType (Spark 4): parse_json
    once into a variant, typed extraction with variant_get — the
    shredded-JSON path that replaces per-field string re-parsing at
    scale. Oracle extracts the same field with DuckDB's JSON ops."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k"),
        (F.variant_get(v, "$.k", "int") % 10).alias("k_bucket"),
        F.try_variant_get(v, "$.missing", "int").alias("k_missing"),
    )


STREAM_JSON_VARIANT_ORACLE = """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           CAST(json_extract_string(props, '$.missing') AS INT) AS k_missing
    FROM events
"""


def q_stream_file_sink_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> FILE sink executed live: the tumbling aggregation
    written as append-mode parquet (watermark-closed windows only)
    with a real checkpoint dir, then the sink directory is read back
    and re-aggregated per event_type. Oracle: append mode emits
    exactly the windows the watermark passed — for a finite replay
    with a 1-hour watermark, every window strictly older than the
    final hour relative to the max event time; the DuckDB twin
    applies the same cutoff. Proves the durable-sink path (the
    reference's 'reducer output put back to the DFS'), not just the
    memory sink."""
    import tempfile

    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = tumbling_agg(ev)
    base = tempfile.mkdtemp(prefix="graft_stream_sink_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    back = spark.read.schema(agg.schema).parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_windows"),
        F.sum("n").alias("n_events"),
        F.round(F.sum(F.col("total").cast("decimal(18,4)")), 2).cast("double").alias("grand_total"),
    )


STREAM_FILE_SINK_ORACLE = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
               event_type, count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2
    ),
    cutoff AS (
        SELECT time_bucket(INTERVAL '5 minutes', max(ts) - INTERVAL '1 hour') AS wm
        FROM events
    )
    SELECT event_type, count(*) AS n_windows,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(total AS DECIMAL(18,4))), 2) AS DOUBLE) AS grand_total
    FROM agg CROSS JOIN cutoff
    WHERE window_start + INTERVAL '5 minutes' <= wm
    GROUP BY 1
"""


def q_stream_upsert_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental UPSERT executed live — the streaming
    materialized-view maintenance pattern: the event stream replays as
    4 micro-batches (maxFilesPerTrigger=1 over a 4-file copy), and
    each batch MERGEs its per-type partial aggregates into a durable
    parquet target (full-outer combine on the key; counts add, sums
    add in DECIMAL so batch order can never move the result). Without
    Delta in the image the merge is emulated with versioned target
    dirs (read v_k, combine, write v_k+1 — the read-then-overwrite
    hazard Delta's MERGE INTO solves natively; state here is
    key-cardinality, not corpus). The final target must equal the
    one-shot batch aggregate — that equivalence IS the oracle, and
    n_batches pins that the run really was incremental (4 merges, not
    one)."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="graft_stream_upsert_")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # coalesce(1) first: round-robin seeds each INPUT partition at
    # Random(partitionId), so several tiny input partitions can collide
    # rows into one output partition and write fewer than min(4, n)
    # files. From one input partition the file count is deterministic.
    ev.coalesce(1).repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    version = {"v": 0}

    def upsert(batch_df, batch_id):
        delta = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("v_sum"),
        )
        v = version["v"]
        if v > 0:
            cur = spark.read.parquet(f"{base}/target_v{v}")
            merged = (
                cur.withColumnsRenamed({"n": "n0", "v_sum": "s0"})
                .join(delta, "event_type", "full_outer")
                .select(
                    "event_type",
                    (F.coalesce("n0", F.lit(0)) + F.coalesce("n", F.lit(0))).alias("n"),
                    (
                        F.coalesce(F.col("s0"), F.lit(0).cast("decimal(18,4)"))
                        + F.coalesce(F.col("v_sum"), F.lit(0).cast("decimal(18,4)"))
                    ).cast("decimal(28,4)").alias("v_sum"),
                )
            )
        else:
            merged = delta.select(
                "event_type", "n", F.col("v_sum").cast("decimal(28,4)").alias("v_sum")
            )
        merged.write.mode("overwrite").parquet(f"{base}/target_v{v + 1}")
        version["v"] = v + 1

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    final = spark.read.parquet(f"{base}/target_v{version['v']}").select(
        "event_type",
        "n",
        F.round(F.col("v_sum").cast("double"), 4).alias("total_value"),
        F.lit(version["v"]).alias("n_batches"),
    )
    # materialize before dropping the scratch dirs (lazy plans would
    # otherwise read a deleted path at collect time)
    final = final.localCheckpoint()
    shutil.rmtree(base, ignore_errors=True)
    return final


STREAM_UPSERT_LIVE_ORACLE = """
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_value,
           -- repartition(4) round-robins, but Spark skips EMPTY partitions on
           -- write: a source with < 4 rows yields that many files/batches
           CAST(least(4, (SELECT count(*) FROM events)) AS INT) AS n_batches
    FROM events GROUP BY 1
"""


def q_stream_dedup_incremental_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup detection executed LIVE: the delta corpus
    arrives as a 3-micro-batch document stream, and each foreachBatch
    band-joins the batch's MinHash signatures against a PERSISTED base
    index (band signatures + shingle sets written once up front — the
    durable dedup index a 100 TB ingest pipeline maintains), verifies
    candidates with exact Jaccard, and APPENDS verdicts to a results
    sink. Per-batch work is proportional to the batch (delta-bands x
    base-bands band join, never a corpus self-join), which is the
    whole point of the incremental shape — here actually exercised
    through the streaming machinery rather than modeled in batch.

    The union of per-batch verdicts must equal the one-shot batch
    query `dedup_incremental` (same hash split) — that equivalence is
    the oracle; n_batches pins that the run really was incremental."""
    import shutil
    import tempfile

    from dfs_w_mapreduce_spark.operators.dedup import (
        DELTA_CUT,
        DELTA_MOD,
        _bands_of,
        _jaccard_verified,
        _merge_join,
        _shingles_of,
        _signed,
    )

    base_dir = tempfile.mkdtemp(prefix="graft_stream_incdedup_")
    src, ckpt, idx, out = (f"{base_dir}/{x}" for x in ("src", "ckpt", "idx", "out"))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_delta = F.col("doc_id") % DELTA_MOD >= DELTA_CUT

    # 1) build + persist the base dedup index (shingles for the exact
    # verify, banded signatures for candidate generation)
    base_sh = _shingles_of(d.filter(~is_delta), nonempty=True)
    base_sh.write.mode("overwrite").parquet(f"{idx}/shingles")
    _bands_of(_signed(spark.read.parquet(f"{idx}/shingles"))).withColumnRenamed(
        "doc_id", "base_id"
    ).write.mode("overwrite").parquet(f"{idx}/bands")

    # 2) delta documents replay as 3 files -> 3 micro-batches.
    # coalesce(1) first so round-robin runs from a single input
    # partition and the non-empty-file count is exactly min(3, n).
    d.filter(is_delta).coalesce(1).repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    n_batches = {"n": 0}
    # seed the append sink with a typed empty frame so a zero-batch
    # replay (empty corpus) still yields a readable, empty result
    spark.createDataFrame(
        [], "doc_id bigint, dup_of bigint, jaccard double"
    ).write.mode("overwrite").parquet(out)

    def attach(batch_df, batch_id):
        sh_b = _shingles_of(batch_df, nonempty=True)
        # base band index + base shingles are corpus-cardinality with
        # string payloads — size-gated like every shingle-class join side
        cand = (
            _bands_of(_signed(sh_b))
            .withColumnRenamed("doc_id", "new_id")
            .join(_merge_join(spark.read.parquet(f"{idx}/bands"), sf_dir),
                  ["band", "sig"])
            .select("new_id", "base_id")
            .distinct()
        )

        _jaccard_verified(
            cand, "new_id", "base_id",
            sh_b, _merge_join(spark.read.parquet(f"{idx}/shingles"), sf_dir),
            "doc_id", "dup_of",
        ).write.mode("append").parquet(out)
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(attach)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    final = spark.read.parquet(out).withColumn(
        "n_batches", F.lit(n_batches["n"])
    )
    final = final.localCheckpoint()
    shutil.rmtree(base_dir, ignore_errors=True)
    return final


def _stream_dedup_incremental_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.dedup import (
        DELTA_CUT,
        DELTA_MOD,
        _incremental_oracle,
    )

    # repartition(3) over the delta docs writes min(3, |delta|) non-empty
    # files (Spark skips empty partitions on write), so the live run sees
    # that many micro-batches — pin the oracle to the same derivation.
    return f"""
        SELECT doc_id, dup_of, jaccard,
               CAST(least(3, (SELECT count(*) FROM documents
                              WHERE doc_id % {DELTA_MOD} >= {DELTA_CUT}))
                    AS INT) AS n_batches
        FROM ({_incremental_oracle()})
    """


def q_stream_cdc_store_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk STORE maintained LIVE — the incremental
    storage-dedup loop a continuously-fed archive runs: the document
    stream replays as 3 micro-batches, each batch chunks its documents
    with the SAME boundary predicate as the batch query
    (dedup.cdc_chunks — stream and batch can never chunk differently),
    anti-joins the batch's chunk digests against the PERSISTED store,
    and appends only unseen chunks. Per-batch work is proportional to
    the batch plus one digest anti-join — new content costs its own
    size, duplicate content costs one lookup.

    Oracle: the final store is the distinct-chunk set of the whole
    corpus REGARDLESS of batch composition (a chunk is stored by
    whichever batch sees it first, exactly once), so the store's
    aggregate stats are batch-order-independent and equal the one-shot
    batch derivation; n_batches pins that the run was incremental."""
    import shutil
    import tempfile

    from dfs_w_mapreduce_spark.operators.dedup import cdc_chunks

    base = tempfile.mkdtemp(prefix="graft_stream_cdcstore_")
    src, ckpt, store = f"{base}/src", f"{base}/ckpt", f"{base}/store"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # coalesce(1) first so round-robin writes exactly min(3, n) files
    d.coalesce(1).repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    spark.createDataFrame([], "chunk_hash string, chunk_len int").write.mode(
        "overwrite"
    ).parquet(store)
    n_batches = {"n": 0}

    def absorb(batch_df, batch_id):
        from dfs_w_mapreduce_spark.catalog import fan_out

        # each trigger reads ONE parquet file => one partition, so the
        # sliding-window md5 chunking of the whole batch would run on
        # a single task; fan_out spreads it (no-op on a many-split
        # batch). foreachBatch hands a regular DataFrame, so the
        # rdd-partition probe inside fan_out is legal here.
        batch_chunks = (
            cdc_chunks(fan_out(spark, batch_df))
            .select(
                F.md5("chunk").alias("chunk_hash"),
                F.length("chunk").alias("chunk_len"),
            )
            .dropDuplicates(["chunk_hash"])
        )
        new = batch_chunks.join(
            spark.read.parquet(store).select("chunk_hash"), "chunk_hash", "left_anti"
        )
        new.write.mode("append").parquet(store)
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(absorb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    final = spark.read.parquet(store).agg(
        F.count("*").alias("n_distinct_chunks"),
        F.sum("chunk_len").alias("total_chunk_chars"),
    ).withColumn("n_batches", F.lit(n_batches["n"]))
    final = final.localCheckpoint()
    shutil.rmtree(base, ignore_errors=True)
    return final


def _stream_cdc_store_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.dedup import CDC_CHUNKS_SQL

    return f"""
        WITH chunks AS ({CDC_CHUNKS_SQL}),
        u AS (SELECT md5(chunk) AS h, min(len(chunk)) AS l
              FROM chunks GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_distinct_chunks,
               CAST(sum(l) AS BIGINT) AS total_chunk_chars,
               -- greatest(.., 1): an EMPTY source still writes one
               -- metadata-only parquet part file (the schema read
               -- depends on it), so the file stream fires exactly one
               -- empty micro-batch — and this aggregate always emits
               -- its one row, unlike the per-row pins in the upsert /
               -- dedup-incremental oracles that vanish with the rows
               CAST(greatest(least(3, (SELECT count(*) FROM documents)), 1)
                    AS INT) AS n_batches
        FROM u
    """


def q_stream_stateful_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator executed live: per-user running counts
    through applyInPandasWithState (the arbitrary-stateful-reduce
    escape hatch — the streaming analog of the reference's Reduce
    generality), availableNow into a memory sink. Update mode emits
    one row per user per micro-batch, so the query returns the MAX
    emitted count per user — which must equal the batch per-user
    count, making a genuinely stateful execution hash-checkable."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def count_fn(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    counted = (
        stream_events(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_fn,
            outputStructType="user_id long, n long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return (
        _run_to_memory(counted, "update")
        .groupBy("user_id")
        .agg(F.max("n").alias("n_events"))
    )


STREAM_STATEFUL_ORACLE = """
    SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
"""


STREAM_JOIN_WINDOW_MIN = 120


def q_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join executed live: views
    joined to the same user's clicks arriving within two hours,
    through an availableNow run into a memory sink, then rolled up
    per user (pair count + min/max view->click latency in exact
    microseconds).

    Both sides carry watermarks and the join predicate carries the
    event-time range — the combination Structured Streaming needs to
    bound join state: past the watermark, buffered views can never
    match a future click and are evicted. At 100 TB state is
    O(traffic within the watermark horizon), not O(stream). A finite
    replay makes the result exactly the batch interval join, so the
    DuckDB twin hash-verifies a real dual-stream stateful execution."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "3 hours")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "3 hours")
    )
    pairs = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
        ),
    )
    lat = F.unix_micros("click_ts") - F.unix_micros("view_ts")
    return (
        _run_to_memory(pairs, "append")
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.min(lat).alias("min_latency_us"),
            F.max(lat).alias("max_latency_us"),
        )
    )


STREAM_JOIN_LIVE_ORACLE = f"""
    SELECT v.user_id, count(*) AS n_pairs,
           min(epoch_us(c.ts) - epoch_us(v.ts)) AS min_latency_us,
           max(epoch_us(c.ts) - epoch_us(v.ts)) AS max_latency_us
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL '{STREAM_JOIN_WINDOW_MIN} minutes'
    GROUP BY 1
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("stream_tumbling", q_stream_tumbling, STREAM_TUMBLING_ORACLE,
                  ("streaming", "window"),
                  "5-min tumbling window agg (batch form of the streaming query)."),
        QuerySpec("stream_sliding", q_stream_sliding, STREAM_SLIDING_ORACLE,
                  ("streaming", "window"),
                  "10-min/5-min sliding window agg."),
        QuerySpec("watermark_lateness", q_watermark_lateness,
                  _watermark_lateness_oracle(),
                  ("streaming", "watermark", "diagnostic"),
                  "Events dropped per candidate watermark delay (exact-microsecond lateness)."),
        QuerySpec("stream_session", q_stream_session, STREAM_SESSION_ORACLE,
                  ("streaming", "window", "session"),
                  "Native session_window sessionization (10-min gap)."),
        QuerySpec("sessionize_lag", q_sessionize_lag, STREAM_SESSION_ORACLE,
                  ("streaming", "window", "session"),
                  "lag/gap/cumsum sessionization (same oracle as stream_session)."),
        QuerySpec("date_spine", q_date_spine, DATE_SPINE_ORACLE,
                  ("streaming", "timeseries"),
                  "Gap-filled hourly counts via generated date spine."),
        QuerySpec("stream_json", q_stream_json, STREAM_JSON_ORACLE,
                  ("streaming", "json"),
                  "get_json_object extraction from props."),
        QuerySpec("stream_json_typed", q_stream_json_typed, STREAM_JSON_TYPED_ORACLE,
                  ("streaming", "json"),
                  "from_json schema-projected typed parse."),
        QuerySpec("stream_tumbling_live", q_stream_tumbling_live,
                  STREAM_TUMBLING_ORACLE,
                  ("streaming", "live"),
                  "Actual readStream->memory-sink execution, oracle-checked "
                  "via finite-replay equivalence with the batch tumbling agg."),
        QuerySpec("stream_dedup_live", q_stream_dedup_live, STREAM_DEDUP_LIVE_ORACLE,
                  ("streaming", "live", "dedup"),
                  "Live chained stateful ops (dedup->agg), oracle-verified."),
        QuerySpec("stream_session_dynamic", q_stream_session_dynamic,
                  STREAM_SESSION_DYNAMIC_ORACLE,
                  ("streaming", "window", "session"),
                  "Dynamic-gap session_window (per-event gap expression)."),
        QuerySpec("stream_sliding_live", q_stream_sliding_live,
                  STREAM_SLIDING_ORACLE,
                  ("streaming", "live", "window"),
                  "Live sliding-window execution sharing the batch oracle."),
        QuerySpec("stream_session_live", q_stream_session_live,
                  STREAM_SESSION_ORACLE,
                  ("streaming", "live", "session"),
                  "Live session_window execution sharing the batch session oracle."),
        QuerySpec("stream_wmdedup_live", q_stream_wmdedup_live,
                  STREAM_WMDEDUP_LIVE_ORACLE,
                  ("streaming", "live", "dedup", "watermark"),
                  "Live dropDuplicatesWithinWatermark over a doubled stream, "
                  "oracle-verified."),
        QuerySpec("stream_file_sink_live", q_stream_file_sink_live,
                  STREAM_FILE_SINK_ORACLE, ("streaming", "live", "sink"),
                  "Live append-mode parquet file sink + checkpoint, read back."),
        QuerySpec("stream_json_variant", q_stream_json_variant,
                  STREAM_JSON_VARIANT_ORACLE, ("streaming", "json", "variant"),
                  "VariantType parse_json/variant_get typed extraction."),
        QuerySpec("stream_stateful_live", q_stream_stateful_live,
                  STREAM_STATEFUL_ORACLE, ("streaming", "live", "stateful"),
                  "Live applyInPandasWithState running counts, oracle-verified."),
        QuerySpec("stream_cdc_store_live", q_stream_cdc_store_live,
                  _stream_cdc_store_oracle(),
                  ("streaming", "live", "storage", "dedup"),
                  "Live incremental CDC chunk store: per-batch chunk + digest "
                  "anti-join + append-only store; final store equals the "
                  "one-shot distinct-chunk set."),
        QuerySpec("stream_join_live", q_stream_join_live, STREAM_JOIN_LIVE_ORACLE,
                  ("streaming", "live", "join"),
                  "Live watermarked stream-stream interval join, oracle-verified."),
        QuerySpec("stream_upsert_live", q_stream_upsert_live,
                  STREAM_UPSERT_LIVE_ORACLE, ("streaming", "live", "sink", "upsert"),
                  "Live foreachBatch incremental upsert over 4 micro-batches."),
        QuerySpec("stream_dedup_incremental_live", q_stream_dedup_incremental_live,
                  _stream_dedup_incremental_oracle(),
                  ("streaming", "live", "dedup", "llm"),
                  "Live ingest-time near-dup: micro-batches band-join a persisted index."),
        QuerySpec("stream_topk_live", q_stream_topk_live, STREAM_TOPK_LIVE_ORACLE,
                  ("streaming", "live", "topk"),
                  "Live complete-mode top-10 leaderboard (streaming sort+limit), "
                  "finite-replay oracle-verified."),
    ]
