"""Storage-layout operators: the physical-design levers that decide
whether a 100 TB table is scannable or not.

The reference is a DFS that manages physical layout explicitly — 15 MB
chunks placed across nodes (/root/reference/dfs/config.go chunk size;
controller chunk placement) — so layout management is part of its
computable surface, re-expressed here in Spark terms:

- **Z-order clustering** (`zorder_layout`): multi-dimensional sort-key
  interleaving so per-file min/max statistics prune on BOTH join/filter
  dimensions, not just the leading sort column. Pure integer bit math
  (exactly reproducible cross-engine); the query emits the per-bucket
  min/max envelopes that a lakehouse would write into file footers.
- **Bucketed co-located join** (`join_bucketed`): pre-shuffled storage
  so repeated fact-fact joins on the same key skip the exchange. The
  query writes both sides bucketed+sorted, joins them under a disabled
  broadcast threshold, and emits the observed Exchange count as a
  column — the oracle pins it to 1 (the final groupBy only), making
  the *plan property itself* hash-verified, not just the rows.
- **Chunk compaction** (`compact_chunks`): the small-files problem —
  many tiny chunks → one right-sized file set (the DFS equivalent of
  chunk merging). Emits before/after file counts and row conservation.

All scratch state lives in a per-run temp dir + uniquely-named catalog
tables, dropped before the query returns (the result is materialized
first, then rebuilt as a local DataFrame, so the driver's lazy collect
never touches the dropped tables).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import fan_out, load_table
from dfs_w_mapreduce_spark.functions.hashing import hex_long_expr, hex_long_sql
from dfs_w_mapreduce_spark.registry import QuerySpec

ZBITS = 10          # bits per dimension in the z-value
ZBUCKET_SHIFT = 16  # keep the top 4 of 20 z-bits => 16 layout buckets


def _zvalue_spark(x, y):
    """Interleave the low ZBITS bits of x (odd positions) and y (even):
    the Morton / Z-order curve index."""
    acc = F.lit(0).cast("long")
    for i in range(ZBITS):
        xbit = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ybit = F.shiftright(y, i).bitwiseAND(F.lit(1))
        acc = acc.bitwiseOR(F.shiftleft(xbit, 2 * i + 1)).bitwiseOR(
            F.shiftleft(ybit, 2 * i)
        )
    return acc


def _zvalue_sql(x: str, y: str) -> str:
    parts = [
        f"((({x} >> {i}) & 1) << {2 * i + 1}) | ((({y} >> {i}) & 1) << {2 * i})"
        for i in range(ZBITS)
    ]
    return "(" + " | ".join(parts) + ")"


def _scaled_keys(li: DataFrame, x: str, y: str) -> DataFrame:
    """lineitem's (l_partkey, l_suppkey) min/max-normalized into the
    ZBITS-bit grid as columns x and y."""
    bounds = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    # min/max-normalize each key into the 10-bit z domain with pure
    # integer division (`div`): exact on both engines at any SF, unlike
    # a double divide whose floor can straddle a boundary ulp.
    return li.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"(l_partkey - pmin) * {1 << ZBITS} div (pmax - pmin + 1)").alias(x),
        F.expr(f"(l_suppkey - smin) * {1 << ZBITS} div (smax - smin + 1)").alias(y),
    )


def _scaled_keys_ctes(x: str, y: str) -> str:
    """DuckDB twin of _scaled_keys: the CTEs bounds and pts (x, y)."""
    return f"""bounds AS (
            SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                   min(l_suppkey) AS smin, max(l_suppkey) AS smax
            FROM lineitem
        ),
        pts AS (
            SELECT CAST((l_partkey - pmin) * {1 << ZBITS} // (pmax - pmin + 1) AS BIGINT) AS {x},
                   CAST((l_suppkey - smin) * {1 << ZBITS} // (smax - smin + 1) AS BIGINT) AS {y}
            FROM lineitem CROSS JOIN bounds
        )"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order lineitem on (l_partkey, l_suppkey) and report each
    layout bucket's min/max envelope on both dimensions.

    With a linear sort on l_partkey alone, every file spans the full
    l_suppkey range and a suppkey predicate prunes nothing; under the
    Z-curve both per-bucket ranges are narrow, so footer min/max
    skipping works for either predicate. At 100 TB this is a one-time
    `repartitionByRange(zvalue).sortWithinPartitions(zvalue)` rewrite;
    the bucket envelope aggregation below is the evidence query and is
    a single hash-agg over integer columns — exactly reproducible."""
    scaled = _scaled_keys(load_table(spark, sf_dir, "lineitem"), "x", "y")
    z = _zvalue_spark(F.col("x"), F.col("y"))
    return (
        scaled.select("x", "y", F.shiftright(z, ZBUCKET_SHIFT).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def _zorder_oracle() -> str:
    z = _zvalue_sql("x", "y")
    return f"""
        WITH {_scaled_keys_ctes('x', 'y')}
        SELECT ({z} >> {ZBUCKET_SHIFT}) AS bucket,
               count(*) AS n_rows,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y
        FROM pts
        GROUP BY 1
    """


def _hilbert_d(out: DataFrame) -> DataFrame:
    """Unrolled xy2d Hilbert index (the classic rotate-and-accumulate
    walk, Wikipedia/public-domain formulation) over ZBITS bit levels.
    Each level is its OWN projection so the rotated (x, y) feed the
    next level by reference, not by expression substitution —
    Catalyst's CollapseProject leaves multi-referenced non-cheap
    expressions alone, keeping the plan linear in levels (verified:
    11 Project nodes, not 4^10). The quadrant digit 3*rx + ry*(1-2*rx)
    is the arithmetic form of (3*rx) XOR ry over bits — portable to
    engines without a bitwise XOR."""
    for k in range(ZBITS - 1, -1, -1):
        s = 1 << k
        rx = F.shiftright("x", k).bitwiseAND(F.lit(1))
        ry = F.shiftright("y", k).bitwiseAND(F.lit(1))
        flip_x = F.when(rx == 1, F.lit(s - 1) - F.col("x")).otherwise(F.col("x"))
        flip_y = F.when(rx == 1, F.lit(s - 1) - F.col("y")).otherwise(F.col("y"))
        out = out.select(
            "xi", "yi",
            F.when(ry == 0, flip_y).otherwise(F.col("x")).alias("x"),
            F.when(ry == 0, flip_x).otherwise(F.col("y")).alias("y"),
            (F.col("d") + F.lit(s * s) * (3 * rx + ry * (1 - 2 * rx))).alias("d"),
        )
    return out


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout on (l_partkey, l_suppkey): the same
    two-dimensional file-skipping evidence query as q_zorder_layout,
    on the curve production lakehouses moved to AFTER z-order
    (Delta/Databricks liquid clustering uses Hilbert) because it has
    no Z-curve 'jumps' — consecutive curve positions are always
    grid-adjacent, so bucket envelopes are tighter and footer min/max
    skipping prunes more files for the same predicate.

    Same 10-bit integer domain normalization and top-4-bit bucketing
    as the z-order twin, so the two reports are directly comparable;
    the curve index is exact unrolled integer arithmetic on both
    engines (see _hilbert_d). At 100 TB the rewrite is a one-time
    repartitionByRange(d) + sortWithinPartitions(d); this evidence
    aggregation is one hash-agg over integers."""
    scaled = _scaled_keys(load_table(spark, sf_dir, "lineitem"), "xi", "yi")
    walked = _hilbert_d(
        scaled.select(
            "xi", "yi",
            F.col("xi").alias("x"), F.col("yi").alias("y"),
            F.lit(0).cast("long").alias("d"),
        )
    )
    return (
        walked.select("xi", "yi", F.shiftright("d", ZBUCKET_SHIFT).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xi").alias("min_x"),
            F.max("xi").alias("max_x"),
            F.min("yi").alias("min_y"),
            F.max("yi").alias("max_y"),
        )
    )


def _hilbert_oracle() -> str:
    walk = (
        f"SELECT xi, yi, xi AS x, yi AS y, CAST(0 AS BIGINT) AS d FROM pts"
    )
    for k in range(ZBITS - 1, -1, -1):
        s = 1 << k
        walk = f"""SELECT xi, yi,
            CASE WHEN ((y >> {k}) & 1) = 0 THEN
                CASE WHEN ((x >> {k}) & 1) = 1 THEN {s} - 1 - y ELSE y END
            ELSE x END AS x,
            CASE WHEN ((y >> {k}) & 1) = 0 THEN
                CASE WHEN ((x >> {k}) & 1) = 1 THEN {s} - 1 - x ELSE x END
            ELSE y END AS y,
            d + {s * s} * (3 * ((x >> {k}) & 1)
                 + ((y >> {k}) & 1) * (1 - 2 * ((x >> {k}) & 1))) AS d
            FROM ({walk})"""
    return f"""
        WITH {_scaled_keys_ctes('xi', 'yi')}
        SELECT (d >> {ZBUCKET_SHIFT}) AS bucket,
               count(*) AS n_rows,
               min(xi) AS min_x, max(xi) AS max_x,
               min(yi) AS min_y, max(yi) AS max_y
        FROM ({walk})
        GROUP BY 1
    """


N_BUCKETS = 8


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join: write lineitem and orders bucketed
    and sorted by the join key, join the bucketed tables with
    broadcast disabled, and aggregate per order status.

    The bucketed scan's output partitioning already satisfies the
    join's distribution requirement, so the sort-merge join runs with
    ZERO exchanges — the only shuffle left is the final 3-group
    aggregate. `n_join_exchanges` carries the observed Exchange count
    into the hash-checked result (oracle pins 1): the shuffle-free
    property is verified by the driver, not just by a local test.

    At 100 TB bucketing is the one-shuffle-at-write-time answer to
    repeated joins on the same key; 8 buckets here stands in for the
    thousands a cluster would use."""
    tag = uuid.uuid4().hex[:8]
    tmp = tempfile.mkdtemp(prefix=f"spark_graft_bucketed_{tag}_")
    li_t, o_t = f"li_bucketed_{tag}", f"o_bucketed_{tag}"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity")
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{tmp}/li")
            .saveAsTable(li_t)
        )
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{tmp}/o")
            .saveAsTable(o_t)
        )
        lib, ob = spark.table(li_t), spark.table(o_t)
        joined = (
            lib.join(ob, lib.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_lines"),
                F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("sum_qty"),
            )
        )
        from dfs_w_mapreduce_spark.plans.explain import exchange_count

        n_ex = exchange_count(joined)
        rows = [
            (r.o_orderstatus, r.n_lines, r.sum_qty, n_ex)
            for r in joined.collect()
        ]
        return spark.createDataFrame(
            rows,
            "o_orderstatus string, n_lines bigint, sum_qty double, n_join_exchanges int",
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {li_t}")
        spark.sql(f"DROP TABLE IF EXISTS {o_t}")
        shutil.rmtree(tmp, ignore_errors=True)


JOIN_BUCKETED_ORACLE = """
    SELECT o_orderstatus,
           count(*) AS n_lines,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           1 AS n_join_exchanges
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
"""


COMPACT_SMALL_N = 64  # simulated small-chunk count
COMPACT_TARGET_N = 4  # compacted file count


def q_compact_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: write `events` as 64 tiny parquet
    chunks (the DFS-accumulated-small-chunks state), compact to 4
    right-sized files, and verify conservation: file counts on both
    sides plus exact row and value totals surviving the rewrite.

    The compaction itself is `repartition(target)` — a single
    round-robin shuffle sized so each output file lands near the
    parquet sweet spot (at 100 TB: target = bytes / 512 MB, computed
    from scan statistics rather than hardcoded)."""
    import glob

    tmp = tempfile.mkdtemp(prefix="spark_graft_compact_")
    try:
        ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
        ev.repartition(COMPACT_SMALL_N).write.mode("overwrite").parquet(f"{tmp}/small")
        small = spark.read.parquet(f"{tmp}/small")
        n_small = len(glob.glob(f"{tmp}/small/part-*.parquet"))
        small.repartition(COMPACT_TARGET_N).write.mode("overwrite").parquet(
            f"{tmp}/compact"
        )
        n_compact = len(glob.glob(f"{tmp}/compact/part-*.parquet"))
        agg = (
            spark.read.parquet(f"{tmp}/compact")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("event_id").cast("long")).alias("sum_event_id"),
                F.count_distinct("user_id").alias("n_users"),
            )
            .collect()[0]
        )
        return spark.createDataFrame(
            [(n_small, n_compact, agg.n_rows, agg.sum_event_id, agg.n_users)],
            "n_small_files int, n_compact_files int, n_rows bigint, "
            "sum_event_id bigint, n_users bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


COMPACT_CHUNKS_ORACLE = f"""
    SELECT {COMPACT_SMALL_N} AS n_small_files,
           {COMPACT_TARGET_N} AS n_compact_files,
           count(*) AS n_rows,
           CAST(sum(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_event_id,
           count(DISTINCT user_id) AS n_users
    FROM events
"""


def q_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-reuse evidence: a self-join of the same aggregated
    subplan (per-order line counts, consecutive orderkeys) where Spark
    computes the shuffle ONCE and wires a ReusedExchange into the
    second branch — at 100 TB that halves the dominant cost of any
    self-comparison query (fact aggregated twice in SQL, shuffled
    once in the plan). The observed ReusedExchange node rides in the
    result and the oracle pins it TRUE."""
    # Pin the conf the pinned-TRUE oracle depends on (driver session
    # may differ); restore after.
    old_reuse = spark.conf.get("spark.sql.exchange.reuse", "true")
    try:
        spark.conf.set("spark.sql.exchange.reuse", "true")
        li = load_table(spark, sf_dir, "lineitem")
        g = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
        a, b = g.alias("a"), g.alias("b")
        j = (
            a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey") + 1)
            .groupBy(F.col("a.n").alias("n_cur"), F.col("b.n").alias("n_prev"))
            .agg(F.count("*").alias("n_pairs"))
        )
        rows = j.collect()
        reused = (
            "ReusedExchange" in j._jdf.queryExecution().executedPlan().toString()
        )
        return spark.createDataFrame(
            [(r.n_cur, r.n_prev, r.n_pairs, reused) for r in rows],
            "n_cur bigint, n_prev bigint, n_pairs bigint, reuse_active boolean",
        )
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old_reuse)


EXCHANGE_REUSE_ORACLE = """
    WITH g AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
    SELECT a.n AS n_cur, b.n AS n_prev, count(*) AS n_pairs,
           TRUE AS reuse_active
    FROM g a JOIN g b ON a.l_orderkey = b.l_orderkey + 1
    GROUP BY 1, 2
"""


SKEW_KEYS = 97  # tail keys; 80% of rows pile onto key 0
SKEW_FAN_TARGET = 2_000_000  # fan the fact to ~this many rows at any SF
SKEW_FAN_CAP = 512


def q_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join evidence: a deliberately skewed fact (80% of rows
    forced onto one join key) sort-merge-joined to a generated dim,
    with AQE's skew thresholds lowered so the demo triggers the real
    runtime mechanism — the hot partition is split into advisory-sized
    chunks and the dim side replicated to meet them (`skew=true` on
    the SortMergeJoin). Broadcast is disabled for the demo (a
    broadcast-able dim sidesteps skew entirely — that IS the
    first-line fix; this query pins the mechanism you need when BOTH
    sides are too big to broadcast at 100 TB). The observed plan bit
    rides in the result; the oracle pins it TRUE.

    The fact fans out to ~2M rows from ANY fixture scale (both engines
    derive the identical factor from count(*)), because skew detection
    reads compressed map-output sizes: a sub-MB hot partition never
    crosses the threshold, and a single-mapper shuffle cannot be split
    at all (map chunks are the split quantum) — hence the explicit
    pre-shuffle repartition(16) too."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        n_rows = li.count()  # plan-parameter scalar (like tfidf's n_docs)
        fan = max(1, min(SKEW_FAN_CAP, -(-SKEW_FAN_TARGET // max(n_rows, 1))))
        sk = F.when(F.col("l_orderkey") % 10 < 8, F.lit(0)).otherwise(
            F.col("l_orderkey") % SKEW_KEYS
        )
        fact = (
            li.select(sk.alias("sk"), "l_quantity")
            .repartition(16)
            .withColumn("_f", F.explode(F.sequence(F.lit(1), F.lit(int(fan)))))
            .drop("_f")
        )
        dim = spark.range(0, SKEW_KEYS).select(
            F.col("id").alias("sk"), (F.col("id") % 5).alias("grp")
        )
        j = (
            fact.join(dim, "sk")
            .groupBy("grp")
            .agg(
                F.count("*").alias("n"),
                F.round(
                    F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2
                ).cast("double").alias("qty"),
            )
        )
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        skewed = "skew=true" in plan
        return spark.createDataFrame(
            [(r.grp, r.n, r.qty, skewed) for r in rows],
            "grp bigint, n bigint, qty double, skew_split_active boolean",
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


JOIN_SKEW_AQE_ORACLE = f"""
    WITH f AS (
        SELECT GREATEST(1, LEAST({SKEW_FAN_CAP},
               CAST(ceil({SKEW_FAN_TARGET}.0 / GREATEST(count(*), 1)) AS BIGINT)))
            AS fan
        FROM lineitem
    ),
    fact AS (
        SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
                    ELSE l_orderkey % {SKEW_KEYS} END AS sk,
               l_quantity
        FROM lineitem
    ),
    dim AS (SELECT x AS sk, x % 5 AS grp
            FROM (SELECT unnest(range(0, {SKEW_KEYS})) AS x))
    SELECT grp, count(*) * fan AS n,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))) * fan, 2) AS DOUBLE)
               AS qty,
           TRUE AS skew_split_active
    FROM fact JOIN dim USING (sk) CROSS JOIN f
    GROUP BY grp, fan
"""


DPP_TYPES = ("click", "purchase")


def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning evidence: write events PARTITIONED BY
    event_type (the layout every time-series lake uses), then join the
    partitioned fact against a selective dim — Spark injects the dim's
    join keys into the fact scan's PartitionFilters at runtime
    (`dynamicpruningexpression`), so only the 2 matching partitions
    are read out of 5. Like join_bucketed's pinned exchange count, the
    observed plan property rides in the result: the oracle pins
    `dpp_active` to TRUE, making the pruning itself hash-verified. At
    100 TB this is the difference between scanning 40% and 100% of a
    partitioned fact when the partition predicate only exists in a
    dim table."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_dpp_")
    # The driver owns its session: pin the confs the pinned-TRUE
    # oracle depends on inside the query path (and restore after) —
    # a session with DPP disabled or broadcast turned off would
    # otherwise flip dpp_active and hash-mismatch.
    old_dpp = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(f"{tmp}/ev")
        # explicit schema: an EMPTY events table writes no partition
        # dirs, and schema inference on a fileless partitioned dataset
        # fails (UNABLE_TO_INFER_SCHEMA)
        fact = spark.read.schema(ev.schema).parquet(f"{tmp}/ev")
        all_types = [r.event_type for r in fact.select("event_type").distinct().collect()]
        dim = spark.createDataFrame(
            [(t,) for t in sorted(all_types)], "event_type string"
        ).filter(F.col("event_type").isin(*DPP_TYPES))
        joined = (
            fact.join(dim, "event_type")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("sum_value"),
            )
        )
        dpp = "dynamicpruningexpression" in (
            joined._jdf.queryExecution().executedPlan().toString().lower()
        )
        rows = [
            (r.event_type, r.n_events, r.sum_value, dpp) for r in joined.collect()
        ]
        return spark.createDataFrame(
            rows, "event_type string, n_events bigint, sum_value double, dpp_active boolean"
        )
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", old_dpp
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        shutil.rmtree(tmp, ignore_errors=True)


JOIN_DPP_ORACLE = f"""
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
           TRUE AS dpp_active
    FROM events
    WHERE event_type IN {DPP_TYPES}
    GROUP BY 1
"""


ENC_CHUNK = 1024  # rows per simulated encoding page (RLE run scope)


def q_columnar_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-design statistics for columnar storage: per column,
    the dictionary cardinality and the RLE run structure (runs counted
    within fixed key-range pages, exactly how parquet scopes its
    encodings to pages). A run starts where a value differs from its
    predecessor in key order — counted with a lag window PARTITIONED
    by page, so no global sort / single-partition window exists at any
    scale. avg_run_len >> 1 says RLE wins; low n_distinct says
    dictionary wins. o_orderkey is unique, so the in-page ordering is
    total and both engines count identical runs."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(f"o_orderkey div {ENC_CHUNK}").alias("pg"),
        "o_orderkey", "o_orderstatus", "o_orderpriority",
    )
    w = W.partitionBy("pg").orderBy("o_orderkey")
    outs = []
    for col in ("o_orderstatus", "o_orderpriority"):
        runs = o.select(
            "pg",
            (
                F.lag(col).over(w).isNull()
                | (F.lag(col).over(w) != F.col(col))
            ).cast("long").alias("is_run_start"),
            F.col(col).alias("val"),
        )
        outs.append(
            runs.groupBy(F.lit(col).alias("col_name")).agg(
                F.count("*").alias("n_rows"),
                F.count_distinct("val").alias("n_distinct"),
                F.sum("is_run_start").alias("n_runs"),
                F.round(F.count("*") / F.sum("is_run_start"), 4).alias("avg_run_len"),
            )
        )
    return outs[0].unionByName(outs[1])


def _encoding_stats_sql(col: str) -> str:
    return f"""
        SELECT '{col}' AS col_name,
               count(*) AS n_rows,
               count(DISTINCT {col}) AS n_distinct,
               CAST(sum(CASE WHEN prev IS NULL OR prev <> {col} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_runs,
               round(count(*) * 1.0 /
                     sum(CASE WHEN prev IS NULL OR prev <> {col} THEN 1 ELSE 0 END), 4)
                   AS avg_run_len
        FROM (
            SELECT {col},
                   lag({col}) OVER (PARTITION BY o_orderkey // {ENC_CHUNK}
                                    ORDER BY o_orderkey) AS prev
            FROM orders
        )
        GROUP BY 1
    """


COLUMNAR_ENCODING_ORACLE = (
    _encoding_stats_sql("o_orderstatus")
    + " UNION ALL "
    + _encoding_stats_sql("o_orderpriority")
)


CHUNK_KEYS = 1500    # orderkeys per simulated storage chunk
PRUNE_BOUND = "1995-06-01"


def q_chunk_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning evidence: partition lineitem into fixed
    key-range chunks (the DFS 15 MB-chunk analog keyed by l_orderkey
    range), compute each chunk's min/max l_shipdate footer stats, and
    evaluate the pinned predicate `l_shipdate >= {PRUNE_BOUND}` purely
    against the zone map — `pruned` marks chunks a scan would skip
    without reading a row. Because orderkeys and shipdates are both
    time-correlated in TPC-H, the zone maps are tight and most
    out-of-range chunks prune; this is the file-skipping math a
    lakehouse runs on parquet footers, materialized as a query so the
    driver hash-verifies it."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.expr(f"l_orderkey div {CHUNK_KEYS}").alias("chunk_id"), "l_shipdate"
        )
        .groupBy("chunk_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
        .withColumn("pruned", F.col("max_ship") < F.lit(PRUNE_BOUND).cast("date"))
    )


CHUNK_PRUNE_ORACLE = f"""
    SELECT l_orderkey // {CHUNK_KEYS} AS chunk_id,
           count(*) AS n_rows,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship,
           max(l_shipdate) < DATE '{PRUNE_BOUND}' AS pruned
    FROM lineitem
    GROUP BY 1
"""


# --- DFS control-plane analytics: placement, recovery, GC -----------
#
# The reference's controller assigns chunk i of a file to node
# (i % numNodes) of its destination list, with the two following nodes
# as forwarding replicas (controller.go:101-121 GetChunkToNodesIndex;
# replication factor 3). The destination list is built by iterating a
# Go map (controller.go:90), whose order is intentionally randomized
# per process — we pin it to a deterministic per-file stand-in: the 8
# candidate nodes ordered by md5(doc_id ':' node), an HRW/rendezvous
# ordering that spreads files across nodes the way map-order
# randomness does in practice, but is exactly reproducible in both
# engines. Faithful quirk kept: the list is truncated to
# min(numChunks, numNodes) nodes (the `counter == NumChunks` break at
# controller.go:93), so a 1-chunk file places all 3 replica slots on
# ONE node and a 2-chunk file duplicates a slot — exactly what the
# reference's modular arithmetic does.
PLACE_NODES = 8    # active node count for the placement fixture
PLACE_CB = 256     # chunk size (chars) — docs are 44-577 chars => 1-3 chunks
DEAD_NODE = 3      # node lost in the recovery drill

# The md5-hex||id sort trick recovers the node id with substr(33, 1),
# which is only correct while every id is a single character — incl.
# the N+1 join drill in placement_rebalance.
assert PLACE_NODES + 1 <= 10, "single-digit node ids assumed by substr(33, 1)"

# per-file node permutation: md5-ranked node ids (md5 hex || id, sort,
# strip the 32-char digest). Single-digit ids keep substr(33,1) exact.
_PERM_SPARK = """
    transform(
      array_sort(transform(sequence(0, {n} - 1),
        n -> concat(md5(concat(cast(doc_id as string), ':',
                               cast(n as string))),
                    cast(n as string)))),
      s -> cast(substr(s, 33, 1) as int))
""".format(n=PLACE_NODES)

_PERM_SQL = f"""
    list_transform(
      list_sort(list_transform(range(0, {PLACE_NODES}),
        n -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(n AS VARCHAR))
             || CAST(n AS VARCHAR))),
      s -> CAST(substr(s, 33, 1) AS INT))
"""

# one row per (doc, chunk j) with the 3 ordered replica slots
# s0=primary, s1/s2=forwarding targets, and the chunk's char count
PLACEMENT_SLOTS_SQL = f"""
    SELECT doc_id, j,
           least({PLACE_CB}, len - j * {PLACE_CB}) AS chars,
           perm[CAST(j % m AS INT) + 1] AS s0,
           perm[CAST((j + 1) % m AS INT) + 1] AS s1,
           perm[CAST((j + 2) % m AS INT) + 1] AS s2
    FROM (
        SELECT doc_id, len, perm, least(c, {PLACE_NODES}) AS m,
               unnest(range(0, c)) AS j
        FROM (
            SELECT doc_id, length(text) AS len, {_PERM_SQL} AS perm,
                   greatest((length(text) + {PLACE_CB - 1}) // {PLACE_CB}, 1) AS c
            FROM documents
        )
    )
"""


def _placement_slots(d: DataFrame) -> DataFrame:
    """(doc_id, j, chars, s0, s1, s2) for every chunk of every doc —
    the controller's fileToChunkToNodesIndex as a DataFrame. Pure
    expression work on a single scan: no join, no shuffle until the
    caller aggregates."""
    base = d.select(
        "doc_id",
        F.length("text").alias("len"),
        F.expr(_PERM_SPARK).alias("perm"),
        F.expr(
            f"greatest((length(text) + {PLACE_CB - 1}) div {PLACE_CB}, 1)"
        ).alias("c"),
    )
    return (
        base.select(
            "doc_id", "len", "perm",
            F.expr(f"least(c, {PLACE_NODES})").alias("m"),
            F.explode(F.expr("sequence(0, c - 1)")).alias("j"),
        )
        .select(
            "doc_id", "j",
            F.expr(f"least({PLACE_CB}, len - j * {PLACE_CB})").alias("chars"),
            F.expr("element_at(perm, cast((j % m) + 1 as int))").alias("s0"),
            F.expr("element_at(perm, cast(((j + 1) % m) + 1 as int))").alias("s1"),
            F.expr("element_at(perm, cast(((j + 2) % m) + 1 as int))").alias("s2"),
        )
    )


def q_chunk_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica placement load report — the controller's
    requestsPerNode / nodeToChunksIndex stats (controller.go:101-121,
    requestsPerNode++ per slot) as one query: every document chunked
    at {PLACE_CB} chars, each chunk assigned 3 ordered replica slots
    by the reference's round-robin rule, then per-node totals.
    `n_slots` counts slot assignments (duplicates included — what
    requestsPerNode counts); `n_chunks`/`chars_stored` count distinct
    chunks actually held (a node stores a chunk once however many
    slots land on it — node.go stores by chunk path). Scale: explode
    is 3x linear fan-out on a scan; two partial-agg shuffles, group
    cardinality bounded by chunks then by n_nodes."""
    slots = _placement_slots(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    expl = slots.selectExpr(
        "doc_id", "j", "chars", "stack(3, 0, s0, 1, s1, 2, s2) AS (slot, node)"
    )
    per_chunk = expl.groupBy("node", "doc_id", "j").agg(
        F.count("*").alias("slots_here"),
        F.max(F.expr("CASE WHEN slot = 0 THEN 1 ELSE 0 END")).alias("is_primary"),
        F.min("chars").alias("chars"),
    )
    return (
        per_chunk.groupBy("node")
        .agg(
            F.sum("slots_here").alias("n_slots"),
            F.sum("is_primary").alias("n_primary"),
            F.count("*").alias("n_chunks"),
            F.sum("chars").alias("chars_stored"),
        )
        .orderBy("node")
    )


CHUNK_PLACEMENT_ORACLE = f"""
    WITH slots AS ({PLACEMENT_SLOTS_SQL}),
    expl AS (
        SELECT doc_id, j, chars, 0 AS slot, s0 AS node FROM slots
        UNION ALL
        SELECT doc_id, j, chars, 1 AS slot, s1 AS node FROM slots
        UNION ALL
        SELECT doc_id, j, chars, 2 AS slot, s2 AS node FROM slots
    ),
    per_chunk AS (
        SELECT node, doc_id, j, count(*) AS slots_here,
               max(CASE WHEN slot = 0 THEN 1 ELSE 0 END) AS is_primary,
               min(chars) AS chars
        FROM expl GROUP BY 1, 2, 3
    )
    SELECT node,
           CAST(sum(slots_here) AS BIGINT) AS n_slots,
           CAST(sum(is_primary) AS BIGINT) AS n_primary,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chars) AS BIGINT) AS chars_stored
    FROM per_chunk
    GROUP BY node
    ORDER BY node
"""


def q_recovery_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-loss re-replication plan — InitiateRecovery's decision
    logic (controller.go:478-528) run for node {DEAD_NODE} as a
    query: for every chunk with a replica slot on the dead node, the
    sender is the FIRST node in the chunk's ordered replica list that
    is not the dead node (FindSender, controller.go:565-574) and the
    receiver is an active node holding no replica (FindReceiver,
    controller.go:544-563 — reference picks by random map order; we
    pin the lowest node id, a deterministic stand-in). A chunk whose
    every slot is on the dead node (the 1-chunk-file quirk) is
    `unrecoverable` — the reference aborts its whole queue on the
    first such chunk (break at :495); we plan all chunks and report
    the stragglers, which is what an operator needs. Output is the
    transfer matrix: chunks and chars each sender streams to each
    receiver."""
    slots = _placement_slots(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    dead = DEAD_NODE
    plan = slots.filter(
        (F.col("s0") == dead) | (F.col("s1") == dead) | (F.col("s2") == dead)
    ).select(
        "chars",
        F.expr(
            f"CASE WHEN s0 <> {dead} THEN s0 "
            f"WHEN s1 <> {dead} THEN s1 "
            f"WHEN s2 <> {dead} THEN s2 END"
        ).alias("sender_id"),
        F.expr(
            f"array_min(filter(sequence(0, {PLACE_NODES - 1}), "
            f"n -> n <> {dead} AND n <> s0 AND n <> s1 AND n <> s2))"
        ).alias("receiver_id"),
    )
    return (
        plan.select(
            F.expr(
                "CASE WHEN sender_id IS NULL THEN 'unrecoverable' "
                "ELSE 'copy' END"
            ).alias("status"),
            F.expr(
                "CASE WHEN sender_id IS NULL THEN '(none)' "
                "ELSE concat('node-', cast(sender_id as string)) END"
            ).alias("sender"),
            F.expr(
                "CASE WHEN sender_id IS NULL THEN '(none)' "
                "ELSE concat('node-', cast(receiver_id as string)) END"
            ).alias("receiver"),
            "chars",
        )
        .groupBy("status", "sender", "receiver")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("chars").alias("chars_to_copy"),
        )
        .orderBy("status", "sender", "receiver")
    )


RECOVERY_PLAN_ORACLE = f"""
    WITH slots AS ({PLACEMENT_SLOTS_SQL}),
    plan AS (
        SELECT chars,
               CASE WHEN s0 <> {DEAD_NODE} THEN s0
                    WHEN s1 <> {DEAD_NODE} THEN s1
                    WHEN s2 <> {DEAD_NODE} THEN s2 END AS sender_id,
               list_min(list_filter(range(0, {PLACE_NODES}),
                   n -> n <> {DEAD_NODE} AND n <> s0 AND n <> s1
                        AND n <> s2)) AS receiver_id
        FROM slots
        WHERE s0 = {DEAD_NODE} OR s1 = {DEAD_NODE} OR s2 = {DEAD_NODE}
    )
    SELECT CASE WHEN sender_id IS NULL THEN 'unrecoverable'
                ELSE 'copy' END AS status,
           CASE WHEN sender_id IS NULL THEN '(none)'
                ELSE 'node-' || CAST(sender_id AS VARCHAR) END AS sender,
           CASE WHEN sender_id IS NULL THEN '(none)'
                ELSE 'node-' || CAST(receiver_id AS VARCHAR) END AS receiver,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chars) AS BIGINT) AS chars_to_copy
    FROM plan
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


def q_placement_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-join rebalancing cost, HRW vs mod-N — the scale argument
    for rendezvous hashing quantified on the store's own chunks: when
    the fleet grows {PLACE_NODES}->{PLACE_NODES}+1, a mod-N placement
    (the arithmetic family the reference's i%numNodes rule belongs to,
    controller.go:102) remaps ~N/(N+1) of all chunks, while
    highest-random-weight placement moves only the ~1/(N+1) whose new
    node wins the rendezvous — the minimal-movement property that
    makes elastic scale-out affordable at 100 TB. One distinct-chunk
    aggregate; the per-chunk work is a fixed N+1 md5 evaluations."""
    from dfs_w_mapreduce_spark.operators.dedup import cdc_chunks

    n0, n1 = PLACE_NODES, PLACE_NODES + 1

    def hrw(n: int) -> str:
        return (
            f"cast(substr(array_max(transform(sequence(0, {n - 1}), "
            f"n -> concat(md5(concat(h, ':', cast(n as string))), "
            f"cast(n as string)))), 33, 1) as int)"
        )

    def modn(n: int) -> str:
        return f"pmod({hex_long_expr('h')}, {n})"

    chunks = (
        cdc_chunks(fan_out(spark, load_table(spark, sf_dir, "documents")
                           .select("doc_id", "source", "text")))
        .select(F.md5("chunk").alias("h"))
        .distinct()
    )
    flags = chunks.select(
        F.expr(f"CASE WHEN {hrw(n0)} <> {hrw(n1)} THEN 1 ELSE 0 END").alias(
            "hrw_moved"
        ),
        F.expr(
            f"CASE WHEN {modn(n0)} <> {modn(n1)} THEN 1 ELSE 0 END"
        ).alias("mod_moved"),
    )
    return flags.agg(
        F.count("*").alias("n_chunks"),
        F.sum("hrw_moved").alias("hrw_moved"),
        (F.round(F.try_divide(F.sum("hrw_moved"), F.count("*")), 4) + F.lit(0.0)).alias(
            "hrw_pct"
        ),
        F.sum("mod_moved").alias("mod_moved"),
        (F.round(F.try_divide(F.sum("mod_moved"), F.count("*")), 4) + F.lit(0.0)).alias(
            "mod_pct"
        ),
    )


def _placement_rebalance_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.dedup import CDC_CHUNKS_SQL

    n0, n1 = PLACE_NODES, PLACE_NODES + 1

    def hrw(n: int) -> str:
        return (
            f"CAST(substr(list_max(list_transform(range(0, {n}), "
            f"n -> md5(h || ':' || CAST(n AS VARCHAR)) || CAST(n AS VARCHAR))), "
            f"33, 1) AS INT)"
        )

    def modn(n: int) -> str:
        return f"({hex_long_sql('h')} % {n})"

    return f"""
        WITH chunks AS ({CDC_CHUNKS_SQL}),
        u AS (SELECT DISTINCT md5(chunk) AS h FROM chunks),
        flags AS (
            SELECT CASE WHEN {hrw(n0)} <> {hrw(n1)} THEN 1 ELSE 0 END AS hrw_moved,
                   CASE WHEN {modn(n0)} <> {modn(n1)} THEN 1 ELSE 0 END AS mod_moved
            FROM u
        )
        SELECT CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(hrw_moved) AS BIGINT) AS hrw_moved,
               round(CAST(sum(hrw_moved) AS DOUBLE) / count(*), 4) + 0.0 AS hrw_pct,
               CAST(sum(mod_moved) AS BIGINT) AS mod_moved,
               round(CAST(sum(mod_moved) AS DOUBLE) / count(*), 4) + 0.0 AS mod_pct
        FROM flags
    """


HEARTBEAT_SCAN_US = 21_600_000_000  # 6-hour scan interval (fixture-scaled)


def q_heartbeat_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failure detection — AnalyzeHeartBeats (controller.go:373-414)
    as a query: the controller samples each node's heartbeat count per
    scan interval and declares a node dead at the first interval whose
    count is unchanged (no beats). Here the events table is the
    heartbeat log (user_id = node), scans are {HEARTBEAT_SCAN_US}-us
    buckets (the reference's 10 s, scaled to the fixture's event
    density), and death_scan is the first empty scan after the node's
    first beat — an internal gap, or the scan after its last beat if
    the fleet horizon extends past it. Window is partitioned per node
    (bounded work per key, parallel across the fleet); one global
    scalar (the horizon) broadcasts."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("node"),
        # ts may be TIMESTAMP_NTZ; cast to TIMESTAMP (UTC session keeps
        # wall-clock) before unix_micros, which rejects NTZ
        F.expr(
            f"unix_micros(cast(ts as timestamp)) div {HEARTBEAT_SCAN_US}"
        ).alias("scan"),
    )
    s = e.groupBy("node", "scan").agg(F.count("*").alias("beats"))
    nx = F.lead("scan").over(W.partitionBy("node").orderBy("scan"))
    g = s.withColumn("nx", nx)
    ig = (
        g.filter(F.col("nx") > F.col("scan") + 1)
        .groupBy("node")
        .agg(F.min(F.col("scan") + 1).alias("gap_scan"))
    )
    agg = s.groupBy("node").agg(
        F.sum("beats").alias("n_beats"),
        F.min("scan").alias("first_scan"),
        F.max("scan").alias("last_scan"),
    )
    h = e.agg(F.max("scan").alias("horizon"))
    death = F.coalesce(
        F.col("gap_scan"),
        F.expr("CASE WHEN last_scan < horizon THEN last_scan + 1 END"),
    )
    return (
        agg.crossJoin(F.broadcast(h))
        .join(ig, "node", "left")
        .select(
            "node",
            "n_beats",
            "first_scan",
            "last_scan",
            death.alias("death_scan"),
            death.isNotNull().alias("dead"),
        )
        .orderBy("node")
    )


HEARTBEAT_LIVENESS_ORACLE = f"""
    WITH b AS (
        SELECT user_id AS node, epoch_us(ts) // {HEARTBEAT_SCAN_US} AS scan
        FROM events
    ),
    s AS (SELECT node, scan, count(*) AS beats FROM b GROUP BY 1, 2),
    g AS (SELECT node, scan,
                 lead(scan) OVER (PARTITION BY node ORDER BY scan) AS nx
          FROM s),
    ig AS (SELECT node, min(scan + 1) AS gap_scan
           FROM g WHERE nx > scan + 1 GROUP BY 1),
    agg AS (SELECT node, CAST(sum(beats) AS BIGINT) AS n_beats,
                   min(scan) AS first_scan, max(scan) AS last_scan
            FROM s GROUP BY 1),
    h AS (SELECT max(scan) AS horizon FROM b)
    SELECT a.node, a.n_beats, a.first_scan, a.last_scan,
           COALESCE(ig.gap_scan,
                    CASE WHEN a.last_scan < h.horizon
                         THEN a.last_scan + 1 END) AS death_scan,
           COALESCE(ig.gap_scan,
                    CASE WHEN a.last_scan < h.horizon
                         THEN a.last_scan + 1 END) IS NOT NULL AS dead
    FROM agg a CROSS JOIN h LEFT JOIN ig USING (node)
    ORDER BY a.node
"""


def q_store_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-chunk garbage collection — the store-side consequence of
    `delete` (client.go delete -> controller index removal): with the
    content-defined chunk store deduplicating identical chunks across
    documents, deleting a document may NOT free its chunks (another
    doc may still reference them). Docs with doc_id % 10 = 0 are the
    deleted set; a chunk is reclaimable iff every referencing doc is
    deleted. One refcount aggregate over the chunk digests — linear,
    two partial-agg shuffles, no join."""
    from dfs_w_mapreduce_spark.operators.dedup import cdc_chunks

    per_chunk = (
        cdc_chunks(fan_out(spark, load_table(spark, sf_dir, "documents")
                           .select("doc_id", "source", "text")))
        .select(
            F.md5("chunk").alias("h"),
            F.length("chunk").alias("l"),
            F.expr("CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END").alias("ref_live"),
        )
        .groupBy("h")
        .agg(F.min("l").alias("l"), F.max("ref_live").alias("live"))
    )
    return per_chunk.agg(
        F.count("*").alias("n_chunks"),
        F.sum("live").alias("n_live_chunks"),
        (F.count("*") - F.sum("live")).alias("n_reclaimable_chunks"),
        F.sum(F.expr("CASE WHEN live = 1 THEN l ELSE 0 END")).alias("chars_live"),
        F.sum(F.expr("CASE WHEN live = 0 THEN l ELSE 0 END")).alias(
            "chars_reclaimable"
        ),
    )


def _store_gc_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.dedup import CDC_CHUNKS_SQL

    return f"""
        WITH chunks AS ({CDC_CHUNKS_SQL}),
        per_chunk AS (
            SELECT md5(chunk) AS h, min(len(chunk)) AS l,
                   max(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS live
            FROM chunks GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(live) AS BIGINT) AS n_live_chunks,
               CAST(count(*) - sum(live) AS BIGINT) AS n_reclaimable_chunks,
               CAST(sum(CASE WHEN live = 1 THEN l ELSE 0 END) AS BIGINT)
                   AS chars_live,
               CAST(sum(CASE WHEN live = 0 THEN l ELSE 0 END) AS BIGINT)
                   AS chars_reclaimable
        FROM per_chunk
    """


def q_join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join reduction evidence — the row-level
    sibling of join_dpp's partition-level pruning: a selective filter
    lives only on the orders side, so Spark builds a bloom filter
    over the filtered join keys at runtime and injects
    `bloom_filter_might_contain` into the LINEITEM scan side,
    discarding non-matching rows BEFORE the shuffle. At 100 TB this
    turns a full-fact shuffle into a shuffle of only the ~1/5 of rows
    that can possibly match, without any physical layout change (DPP
    needs a partitioned fact; the bloom works on any file). Broadcast
    is disabled for the demo — a broadcastable build side makes the
    join itself the filter; the bloom is the mechanism you need when
    both sides are shuffle-sized. The observed plan bit rides in the
    result and the oracle pins `bloom_active` TRUE; the aggregate
    result itself is bloom-independent (false positives are re-checked
    by the join), which the oracle's plain-join twin proves."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # the fixture fact is far below the 10GB default application-
        # side threshold — force the injection so the mechanism runs
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_lines"),
                F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_qty"),
            )
        )
        bloom = "might_contain" in (
            joined._jdf.queryExecution().executedPlan().toString().lower()
        )
        rows = [
            (r.o_orderpriority, r.n_lines, r.sum_qty, bloom) for r in joined.collect()
        ]
        return spark.createDataFrame(
            rows,
            "o_orderpriority string, n_lines bigint, sum_qty double, bloom_active boolean",
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


JOIN_RUNTIME_BLOOM_ORACLE = """
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           TRUE AS bloom_active
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("zorder_layout", q_zorder_layout, _zorder_oracle(),
                  ("layout", "scale"),
                  "Z-order clustering envelopes for two-dimensional file skipping."),
        QuerySpec("hilbert_layout", q_hilbert_layout, _hilbert_oracle(),
                  ("layout", "scale"),
                  "Hilbert-curve clustering envelopes (liquid-clustering "
                  "style) — the jump-free locality upgrade over z-order."),
        QuerySpec("join_bucketed", q_join_bucketed, JOIN_BUCKETED_ORACLE,
                  ("layout", "scale", "join"),
                  "Co-located bucketed join; Exchange count pinned to 1 in the oracle."),
        QuerySpec("join_runtime_bloom", q_join_runtime_bloom,
                  JOIN_RUNTIME_BLOOM_ORACLE, ("layout", "scale", "join"),
                  "Runtime bloom-filter semi-join reduction on the fact scan "
                  "side, bloom_active plan bit pinned TRUE in the oracle."),
        QuerySpec("compact_chunks", q_compact_chunks, COMPACT_CHUNKS_ORACLE,
                  ("layout", "scale", "storage"),
                  "Small-chunk compaction with file-count and value conservation."),
        QuerySpec("chunk_prune_stats", q_chunk_prune_stats, CHUNK_PRUNE_ORACLE,
                  ("layout", "scale", "storage"),
                  "Per-chunk zone maps + predicate pruning decisions (file skipping)."),
        QuerySpec("columnar_encoding_stats", q_columnar_encoding_stats,
                  COLUMNAR_ENCODING_ORACLE,
                  ("layout", "storage"),
                  "Dictionary cardinality + page-scoped RLE run statistics."),
        QuerySpec("join_dpp", q_join_dpp, JOIN_DPP_ORACLE,
                  ("layout", "scale", "join"),
                  "Dynamic partition pruning on a partitioned fact; dpp_active pinned TRUE."),
        QuerySpec("join_skew_aqe", q_join_skew_aqe, JOIN_SKEW_AQE_ORACLE,
                  ("layout", "optimizer", "evidence", "skew"),
                  "AQE skew-join split observed on a forced-hot-key join, pinned TRUE."),
        QuerySpec("exchange_reuse", q_exchange_reuse, EXCHANGE_REUSE_ORACLE,
                  ("layout", "scale", "join"),
                  "Self-join computes the shared shuffle once; ReusedExchange pinned TRUE."),
        QuerySpec("chunk_placement", q_chunk_placement, CHUNK_PLACEMENT_ORACLE,
                  ("layout", "storage", "controlplane"),
                  "Round-robin replica placement (controller.go GetChunkToNodesIndex) "
                  "per-node load report; requestsPerNode vs distinct-chunk storage."),
        QuerySpec("recovery_plan", q_recovery_plan, RECOVERY_PLAN_ORACLE,
                  ("layout", "storage", "controlplane"),
                  "Node-loss re-replication transfer matrix (InitiateRecovery/"
                  "FindSender/FindReceiver) with unrecoverable-chunk reporting."),
        QuerySpec("placement_rebalance", q_placement_rebalance,
                  _placement_rebalance_oracle(),
                  ("layout", "storage", "controlplane", "scale"),
                  "Node-join rebalancing cost: HRW moves ~1/(N+1) of chunks, "
                  "mod-N remaps ~N/(N+1) — minimal movement quantified."),
        QuerySpec("heartbeat_liveness", q_heartbeat_liveness,
                  HEARTBEAT_LIVENESS_ORACLE,
                  ("layout", "storage", "controlplane"),
                  "AnalyzeHeartBeats failure detection: per-node scan buckets, "
                  "first-empty-scan death declaration, fleet horizon."),
        QuerySpec("store_gc", q_store_gc, _store_gc_oracle(),
                  ("layout", "storage", "controlplane", "dedup"),
                  "Orphan-chunk GC over the deduplicated CDC store: refcount "
                  "aggregate marking chunks reclaimable after a delete set."),
    ]
