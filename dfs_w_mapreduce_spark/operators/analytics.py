"""Behavioral-analytics + iterative-graph operators over `events`.

Three operator families the reference's fixed MapReduce chain cannot
express but any analytics engine at this scale must:

- **Funnel** (`funnel_stages`): staged conversion (view -> click ->
  purchase) where each stage's timestamp must be >= the previous
  stage's. Three conditional aggregations chained by per-user joins —
  each pass is one hash aggregate + one co-partitioned join on
  user_id, so the three passes reuse one shuffle partitioning.
- **Cohort retention** (`cohort_retention`): users bucketed by first-
  activity day, activity counted per day-offset. Two aggregations
  (first-day per user; distinct users per cohort x offset) joined on
  user_id.
- **PageRank** (`graph_pagerank`): 5 iterations of damped PageRank
  over the bipartite user <-> event_type co-occurrence graph. The
  iteration is a driver-side loop building one lazy plan (join ranks
  to edges, integer-split rank over out-degree, hash-agg inflow) —
  the canonical Spark iterative-algorithm shape. All arithmetic is
  BIGINT (ranks scaled by 1e12, damping as 85/100 integer division),
  so results are bit-exact across engines — no float-accumulation-
  order hazard — and the DuckDB oracle is the same recurrence
  unrolled as chained CTEs. At 100 TB: each iteration shuffles only
  (node, rank) pairs; lineage growth is bounded by the fixed
  iteration count (a production run with 50+ iterations would
  localCheckpoint every ~10 rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import load_table
from dfs_w_mapreduce_spark.checkpoint import observed_checkpoint
from dfs_w_mapreduce_spark.functions.hashing import _h31_spark, _h31_sql
from dfs_w_mapreduce_spark.registry import QuerySpec

FUNNEL = ("view", "click", "purchase")

PAGERANK_ITERS = 5
PR_BASE = 1_000_000_000_000  # initial/teleport rank per node (scaled)


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel: first 'view', first 'click' at-or-after that
    view, first 'purchase' at-or-after that click. NULL = stage never
    reached; each row carries how deep the user got."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.filter(F.col("event_type") == FUNNEL[0]).groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL[1])
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL[2])
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
            ).alias("depth"),
        )
    )


FUNNEL_ORACLE = f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = '{FUNNEL[0]}' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = '{FUNNEL[1]}' AND e.ts >= s1.t_view
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = '{FUNNEL[2]}' AND e.ts >= s2.t_click
        GROUP BY 1
    )
    SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
           CAST(1 + CASE WHEN s2.t_click IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN s3.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: cohort = first-activity day,
    n_active = distinct users from that cohort active `day_offset`
    days later."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


COHORT_ORACLE = """
    WITH act AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    first AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
           count(DISTINCT user_id) AS n_active
    FROM act JOIN first USING (user_id)
    GROUP BY 1, 2
"""


def _pr_edges(ev: DataFrame) -> DataFrame:
    """Symmetric bipartite edges: u<user_id> <-> t<event_type>."""
    pairs = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("a"),
        F.concat(F.lit("t"), F.col("event_type")).alias("b"),
    ).distinct()
    return pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration damped PageRank over user<->event_type edges in
    exact integer arithmetic: rank' = (15*BASE) div 100 +
    (85 * sum(rank_in div deg_in)) div 100, ranks scaled by 1e12."""
    ev = load_table(spark, sf_dir, "events")
    edges = _pr_edges(ev).cache()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg").cache()
    ranks = nodes.select("node", "deg", F.lit(PR_BASE).cast("long").alias("rank"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ranks.join(edges, ranks.node == edges.src)
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(15 * PR_BASE // 100).cast("long")
                    + F.expr("(85 * coalesce(inflow, 0)) div 100")
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


def _pagerank_oracle() -> str:
    body = [
        """
        edges AS (
            SELECT a AS src, b AS dst FROM (
                SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS a,
                                't' || event_type AS b
                FROM events
            )
            UNION ALL
            SELECT b, a FROM (
                SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS a,
                                't' || event_type AS b
                FROM events
            )
        ),
        nodes AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
        """
        + f"r0 AS (SELECT node, deg, CAST({PR_BASE} AS BIGINT) AS rank FROM nodes)"
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        body.append(f"""
        c{i} AS (
            SELECT e.dst, CAST(sum(r.rank // r.deg) AS BIGINT) AS inflow
            FROM r{i - 1} r JOIN edges e ON r.node = e.src
            GROUP BY 1
        ),
        r{i} AS (
            SELECT n.node, n.deg,
                   CAST({15 * PR_BASE} // 100
                        + (85 * coalesce(c.inflow, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst
        )""")
    return (
        "WITH " + ",".join(body)
        + f" SELECT node, rank FROM r{PAGERANK_ITERS}"
    )


LPA_ITERS = 3


def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the customer<->part co-purchase graph — a
    DIFFERENT graph primitive from the connected-components family
    (dedup._min_label_components finds maximal connected pieces; LPA
    finds densely-linked communities INSIDE one connected piece).

    Deterministic contract so both engines agree exactly: labels start
    as the node id; each of LPA_ITERS synchronous rounds replaces a
    node's label by the most frequent label among its neighbors, ties
    broken by smallest label. Fixed round count (not run-to-
    convergence) is the oracle-able choice and the standard practice
    at scale (LPA oscillates on bipartite graphs under synchronous
    updates, so production runs cap rounds).

    At 100 TB: each round shuffles only the edge list joined to
    node-sized labels (never corpus payloads), the per-round mode is
    one partial-aggregated groupBy + a per-node window over its
    distinct neighbor labels, and round count is a constant. The edge
    list is checkpointed once (read by all rounds)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), "l_partkey"
    )
    pairs = (
        o.join(li, "ok")
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    edges, _ = observed_checkpoint(
        pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .withColumnsRenamed({"a": "src", "b": "dst"})
        # hash(src) layout before the checkpoint. localCheckpoint()
        # does not keep it as a known partitioning (pyspark 4.1), so
        # each round's join still plans Exchange hashpartitioning(src)
        # over the checkpointed edges: the edges are re-shuffled
        # every round, not only the node-sized label frame
        .repartition(spark.sparkContext.defaultParallelism, "src"),
        replaces=pairs,
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(LPA_ITERS):
        counts = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count("*").alias("c"))
        )
        # mode with min-label tie-break as a HASH aggregate, not a
        # sort window: min(struct(-c, label)) orders lexicographically
        # by (count DESC, label ASC) — map-side combining, no per-node
        # sort, and the struct ordering is total so the pick is
        # deterministic (same pick as the oracle's row_number form)
        labels = (
            counts.groupBy(F.col("n2").alias("node"))
            .agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("label")))
                .getField("label")
                .alias("label")
            )
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        "node", F.col("label").alias("community"), "community_size"
    )


def _label_prop_oracle() -> str:
    body = [
        """
        pairs AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                            'p' || CAST(l_partkey AS VARCHAR) AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        edges AS (SELECT a AS src, b AS dst FROM pairs
                  UNION ALL SELECT b, a FROM pairs),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)
        """
    ]
    for i in range(1, LPA_ITERS + 1):
        body.append(f"""
        n{i} AS (
            SELECT e.dst AS node, l.label, count(*) AS c
            FROM edges e JOIN l{i - 1} l ON e.src = l.node
            GROUP BY 1, 2
        ),
        l{i} AS (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label) AS rk
                FROM n{i}
            ) WHERE rk = 1
        )""")
    return (
        "WITH " + ",".join(body)
        + f""",
        sizes AS (SELECT label, count(*) AS community_size
                  FROM l{LPA_ITERS} GROUP BY 1)
        SELECT node, label AS community, community_size
        FROM l{LPA_ITERS} JOIN sizes USING (label)"""
    )


Z_THRESHOLD = 3.0


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection: events whose value is > 3 sigma from their
    event_type's mean. Sufficient statistics (n, sum, sum-of-squares)
    are computed in DECIMAL so they are exact and order-independent;
    mean/variance derive from the exact sums in double (one identical
    IEEE expression per engine) — no stddev() call, whose
    accumulation order would differ between engines. Stats table is
    type-cardinality-sized and broadcasts back onto the scan."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        joined.withColumn("z", z)
        .filter(F.abs(F.col("z")) > Z_THRESHOLD)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round("z", 4).alias("z"),
        )
    )


ANOMALY_ORACLE = f"""
    WITH stats AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(value AS DECIMAL(18,6))) AS s1,
               sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2
        FROM events GROUP BY 1
    ),
    scored AS (
        SELECT e.event_id, e.event_type, e.value,
               (e.value - CAST(s1 AS DOUBLE) / n)
               / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS z
        FROM events e JOIN stats USING (event_type)
    )
    SELECT event_id, event_type, round(value, 4) AS value, round(z, 4) AS z
    FROM scored WHERE abs(z) > {Z_THRESHOLD}
"""


INCR_CUTOFF_FRAC = 0.8


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance algebra: split events at a cutoff
    (80% through the time range), aggregate base and delta
    independently, MERGE the partial states (n, decimal sum, min, max
    are all mergeable), and emit the merged result. The oracle
    aggregates the full table directly — equality proves the merge is
    lossless, the property incremental refresh and streaming state
    stores rely on. All merge math is count/decimal/min/max: exact."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    if bounds.lo is None:  # empty input: any cutoff splits nothing
        import datetime

        cutoff = datetime.datetime(1970, 1, 1)
    else:
        cutoff = bounds.lo + (bounds.hi - bounds.lo) * INCR_CUTOFF_FRAC

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = partial(ev.filter(F.col("ts") < F.lit(cutoff)))
    delta = partial(ev.filter(F.col("ts") >= F.lit(cutoff)))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "event_type",
        "n",
        F.round(F.col("s"), 2).cast("double").alias("total"),
        F.round("mn", 4).alias("min_val"),
        F.round("mx", 4).alias("max_val"),
    )


INCREMENTAL_AGG_ORACLE = """
    SELECT event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total,
           round(min(value), 4) AS min_val,
           round(max(value), 4) AS max_val
    FROM events GROUP BY 1
"""


HIST_BUCKETS = 10


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: ntile(10) of value within each
    event_type (tie-broken by event_id so the split is deterministic
    at every scale factor), per-bucket count and value range."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("bucket", F.ntile(HIST_BUCKETS).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


VALUE_HISTOGRAM_ORACLE = f"""
    SELECT event_type, CAST(bucket AS INT) AS bucket, count(*) AS n,
           round(min(value), 4) AS lo, round(max(value), 4) AS hi
    FROM (SELECT event_type, value,
                 ntile({HIST_BUCKETS}) OVER (PARTITION BY event_type
                                             ORDER BY value, event_id) AS bucket
          FROM events)
    GROUP BY 1, 2
"""


FIXED_BINS = 8


def q_histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per event_type — the complement of the
    equi-depth `value_histogram`: bin = floor((v - lo) * k / span),
    computed with the global per-type min/max broadcast back onto the
    scan. Bin assignment is integer floor over identically-computed
    doubles, so edges land identically on both engines; the top edge
    folds into the last bin (least). A degenerate group (hi = lo,
    e.g. a single-row or constant-valued event_type) is assigned
    bin 0 explicitly on BOTH engines — ANSI mode makes the raw
    division abort with DIVIDE_BY_ZERO otherwise."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = ev.join(F.broadcast(bounds), "event_type").withColumn(
        "bin",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    * FIXED_BINS
                    / (F.col("hi") - F.col("lo"))
                ),
                F.lit(FIXED_BINS - 1),
            )
        )
        .cast("int"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 4).alias("bin_min"),
        F.round(F.max("value"), 4).alias("bin_max"),
    )


HISTOGRAM_FIXED_ORACLE = f"""
    WITH bounds AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(CASE WHEN hi = lo THEN 0
                     ELSE least(floor((value - lo) * {FIXED_BINS} / (hi - lo)),
                                {FIXED_BINS - 1}) END AS INT) AS bin,
           count(*) AS n,
           round(min(value), 4) AS bin_min,
           round(max(value), 4) AS bin_max
    FROM events e JOIN bounds USING (event_type)
    GROUP BY 1, 2
"""


def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day. Windowed COUNT(DISTINCT)
    doesn't exist in either engine; the scalable idiom is first-seen
    reduction: each user contributes 1 on their first-activity day,
    and the cumulative sum of those firsts IS the running distinct
    count. The only window runs over the per-day aggregate (~days
    rows), never the event stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("new_users"))
    )
    daily = ev.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.join(firsts, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn("cum_users", F.sum("new_users").over(w))
    )


CUMULATIVE_DISTINCT_ORACLE = """
    WITH act AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    firsts AS (
        SELECT day, count(*) AS new_users FROM (
            SELECT user_id, min(day) AS day FROM act GROUP BY 1
        ) GROUP BY 1
    ),
    daily AS (SELECT day, count(DISTINCT user_id) AS dau FROM act GROUP BY 1)
    SELECT d.day, d.dau,
           coalesce(f.new_users, 0) AS new_users,
           CAST(sum(coalesce(f.new_users, 0)) OVER (ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM daily d LEFT JOIN firsts f USING (day)
"""


PATH_N = 10  # top sequences reported


def q_path_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the most frequent 3-step event-type
    paths across user streams (lead-window bigram of each event with
    its two successors, counted globally, top-10). One shuffle on
    user_id for the windows, one hash-agg for the counts, and a
    TakeOrderedAndProject for the top-K — no sort of the full path
    stream."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("event_id")
    paths = (
        ev.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count("*").alias("n"))
    return counted.orderBy(F.desc("n"), "path").limit(PATH_N)


PATH_3GRAMS_ORACLE = f"""
    SELECT path, n FROM (
        SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n
        FROM (
            SELECT event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        )
        WHERE t3 IS NOT NULL
        GROUP BY 1
    )
    ORDER BY n DESC, path
    LIMIT {PATH_N}
"""


def q_pit_training_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly: each label row (an
    order, keyed to user o_custkey % 50) picks up the user's rolling
    24h activity features AS OF the label timestamp — never a later
    value (no feature leakage). Composition of the engine's own
    operators: the RANGE-frame rolling features at event times, then
    the union + last_value(ignorenulls) as-of idiom to snap each label
    to the latest feature row at-or-before it. Two windows, both
    partitioned on the user key; no global ordering."""
    from dfs_w_mapreduce_spark.operators.temporal import USER_MOD

    feats = q_rolling_user_features(spark, sf_dir).select(
        (F.col("user_id") % USER_MOD).alias("u"),
        F.col("event_id"),
        "n_24h",
        "sum_24h",
    )
    ev_ts = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    feats = feats.join(ev_ts, "event_id")
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % USER_MOD).alias("u"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("us"),
        "o_orderkey",
    )
    unioned = feats.select(
        "u", "us", F.lit(0).alias("side"), "event_id", "n_24h", "sum_24h",
        F.lit(None).cast("long").alias("o_orderkey"),
    ).unionByName(
        orders.select(
            "u", "us", F.lit(1).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("long").alias("n_24h"),
            F.lit(None).cast("double").alias("sum_24h"),
            "o_orderkey",
        )
    )
    w = (
        W.partitionBy("u")
        .orderBy("us", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    snapped = (
        unioned.withColumn("f_n24h", F.last("n_24h", ignorenulls=True).over(w))
        .withColumn("f_sum24h", F.last("sum_24h", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
    )
    return snapped.select(
        "o_orderkey",
        F.col("u").alias("user_id"),
        F.col("f_n24h").alias("n_24h"),
        F.col("f_sum24h").alias("sum_24h"),
    )


def _pit_training_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.temporal import USER_MOD

    return f"""
        WITH feats AS (
            SELECT user_id % {USER_MOD} AS u, event_id, epoch_us(ts) AS us,
                   count(*) OVER w AS n_24h,
                   CAST(round(sum(CAST(value AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE)
                       AS sum_24h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
        ),
        -- ties on (u, us): the Spark window's event_id ordering keeps
        -- the LARGEST event_id last, so the as-of pick is the max id
        f AS (
            SELECT u, us, n_24h, sum_24h,
                   row_number() OVER (PARTITION BY u, us
                                      ORDER BY event_id DESC) AS rn
            FROM feats
        ),
        f1 AS (SELECT u, us, n_24h, sum_24h FROM f WHERE rn = 1),
        o AS (SELECT o_orderkey, o_custkey % {USER_MOD} AS u,
                     epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us
              FROM orders)
        SELECT o.o_orderkey, o.u AS user_id, f1.n_24h, f1.sum_24h
        FROM o ASOF LEFT JOIN f1 ON o.u = f1.u AND o.us >= f1.us
    """


def q_grouped_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS in one aggregation pass: regress value on
    hour-of-day per event_type from closed-form sufficient statistics,
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2). x is a small integer
    (hour), so Sx/Sxx are exact BIGINTs; y-carrying sums accumulate in
    DECIMAL — every input to the final float division is
    engine-exact, so slope/intercept round identically. This is the
    map-side-combinable formulation of grouped regression (no second
    pass, no per-group collect), the shape that scales to millions of
    groups."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).cast("long").alias("x"),
        F.col("value").alias("y"),
    )
    ydec = F.col("y").cast("decimal(18,4)")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(ydec).alias("sy"),
        F.sum(F.col("x") * ydec).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # zero x-variance group (all rows share one hour) => NULL slope and
    # intercept; try_divide matches DuckDB's NULL-on-zero-divisor, where
    # ANSI plain division would abort the whole query
    slope = F.try_divide(num, den)
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    return agg.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


GROUPED_LINEAR_FIT_ORACLE = """
    WITH s AS (
        SELECT event_type,
               count(*) AS n,
               sum(x) AS sx,
               sum(x * x) AS sxx,
               sum(y) AS sy,
               sum(x * y) AS sxy
        FROM (SELECT event_type,
                     CAST(date_part('hour', ts) AS BIGINT) AS x,
                     CAST(value AS DECIMAL(18,4)) AS y
              FROM events)
        GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n, 6) AS intercept
    FROM s
"""


TT_A, TT_B = "click", "view"


def q_ab_test_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (does 'click' value differ from
    'view'?) computed entirely from one aggregation pass of exact
    sufficient statistics: per-group n, sum and sum-of-squares
    accumulate in DECIMAL (the squares rounded to 8 decimals first),
    so mean/variance/t/df derive from identical doubles on both
    engines — the A/B-testing shape that runs on billions of rows
    without a second pass or any sampling. Completes the statistical
    battery next to chisq_independence and bootstrap_ci."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TT_A, TT_B)
    )
    sq = F.round(F.col("value") * F.col("value"), 8).cast("decimal(28,8)")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s"),
        F.sum(sq).cast("double").alias("ss"),
    )
    a = g.filter(F.col("event_type") == TT_A).select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("ss").alias("ss_a")
    )
    b = g.filter(F.col("event_type") == TT_B).select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("ss").alias("ss_b")
    )
    j = a.crossJoin(b)
    # degenerate shapes -> NULL stats, not DIVIDE_BY_ZERO: a 1-row group
    # (n-1 = 0) or two constant-valued groups (se2_a + se2_b = 0).
    # try_divide == DuckDB's NULL-on-zero-divisor, so the oracle agrees
    # without any CASE on its side.
    m_a, m_b = F.col("s_a") / F.col("n_a"), F.col("s_b") / F.col("n_b")
    v_a = F.try_divide(F.col("ss_a") - F.col("n_a") * m_a * m_a, F.col("n_a") - 1)
    v_b = F.try_divide(F.col("ss_b") - F.col("n_b") * m_b * m_b, F.col("n_b") - 1)
    se2_a, se2_b = v_a / F.col("n_a"), v_b / F.col("n_b")
    t = F.try_divide(m_a - m_b, F.sqrt(se2_a + se2_b))
    df = F.try_divide(
        (se2_a + se2_b) * (se2_a + se2_b),
        F.try_divide(se2_a * se2_a, F.col("n_a") - 1)
        + F.try_divide(se2_b * se2_b, F.col("n_b") - 1),
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(m_a, 4).alias("mean_a"),
        F.round(m_b, 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
    )


AB_TTEST_ORACLE = f"""
    WITH g AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
               CAST(sum(CAST(round(value * value, 8) AS DECIMAL(28,8))) AS DOUBLE) AS ss
        FROM events WHERE event_type IN ('{TT_A}', '{TT_B}')
        GROUP BY 1
    ),
    a AS (SELECT n AS n_a, s AS s_a, ss AS ss_a FROM g WHERE event_type = '{TT_A}'),
    b AS (SELECT n AS n_b, s AS s_b, ss AS ss_b FROM g WHERE event_type = '{TT_B}'),
    d AS (
        SELECT n_a, n_b,
               s_a / n_a AS m_a, s_b / n_b AS m_b,
               ((ss_a - n_a * (s_a / n_a) * (s_a / n_a)) / (n_a - 1)) / n_a AS se2_a,
               ((ss_b - n_b * (s_b / n_b) * (s_b / n_b)) / (n_b - 1)) / n_b AS se2_b
        FROM a CROSS JOIN b
    )
    SELECT n_a, n_b,
           round(m_a, 4) AS mean_a,
           round(m_b, 4) AS mean_b,
           round((m_a - m_b) / sqrt(se2_a + se2_b), 4) AS t_stat,
           round((se2_a + se2_b) * (se2_a + se2_b)
                 / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1)), 2)
               AS welch_df
    FROM d
"""


BOOT_B = 20   # bootstrap replicates
BOOT_M = 100  # draws per replicate (subsample bootstrap)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence band for the per-type mean value with
    DETERMINISTIC resampling: draw (replicate b, draw j) picks the row
    ranked h31(type:b:j) mod n — a hash-indexed sample both engines
    reproduce exactly, replacing RNG state with a pure function (the
    same trick as sample_hash). Ranks come from one per-type window;
    the tiny draw table (types x B x M rows) broadcasts onto it, so
    the corpus shuffles once. Replicate means use exact decimal sums;
    the band is min/median/max over B identically-computed doubles."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("r", F.row_number().over(w))
    draws = (
        counts.select(
            "event_type",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        )
        .select(
            "event_type",
            "n",
            "b",
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_M - 1))).alias("j"),
        )
        .select(
            "event_type",
            "b",
            (
                _h31_spark(
                    F.concat_ws(":", F.col("event_type"), F.col("b"), F.col("j"))
                )
                % F.col("n")
                + 1
            ).cast("int").alias("r"),
        )
    )
    reps = (
        ranked.join(F.broadcast(draws), ["event_type", "r"])
        .groupBy("event_type", "b")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                6,
            ).alias("boot_mean")
        )
    )
    return reps.groupBy("event_type").agg(
        F.count("*").cast("int").alias("n_replicates"),
        F.round(F.min("boot_mean"), 4).alias("boot_lo"),
        F.round(F.expr("percentile(boot_mean, 0.5)"), 4).alias("boot_median"),
        F.round(F.max("boot_mean"), 4).alias("boot_hi"),
    )


def _bootstrap_ci_oracle() -> str:
    h = _h31_sql("event_type || ':' || b || ':' || j")
    return f"""
        WITH counts AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        ranked AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS r
            FROM events
        ),
        draws AS (
            SELECT event_type,
                   CAST(b AS BIGINT) AS b,
                   CAST({h} % n + 1 AS INT) AS r
            FROM counts,
                 LATERAL (SELECT unnest(range(0, {BOOT_B})) AS b),
                 LATERAL (SELECT unnest(range(0, {BOOT_M})) AS j)
        ),
        reps AS (
            SELECT d.event_type, d.b,
                   round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*), 6) AS boot_mean
            FROM ranked JOIN draws d USING (event_type, r)
            GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(count(*) AS INT) AS n_replicates,
               round(min(boot_mean), 4) AS boot_lo,
               round(quantile_cont(boot_mean, 0.5), 4) AS boot_median,
               round(max(boot_mean), 4) AS boot_hi
        FROM reps
        GROUP BY 1
    """


def q_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy resolution by POINTER JUMPING: each node's
    parent pointer doubles per round (parent -> grandparent -> ...),
    reaching every root in O(log depth) rounds instead of the O(depth)
    rounds of naive label propagation — the right recursion shape for
    deep hierarchies at scale. The hierarchy is derived
    deterministically from customers: parent(c) = c div 10, roots are
    custkey < 10, so depth <= 6 digits and 3 doubling rounds suffice
    (jump covers 2^3 = 8 levels). Each round is one self-join on the
    (node, ancestor) frame; depth sums the same way. Oracle: DuckDB
    recursive CTE walking parents one level at a time."""
    c = load_table(spark, sf_dir, "customer")
    # (node, anc, d): current known ancestor + its distance
    cur = c.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") < 10, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey div 10"))
        .alias("anc"),
        F.when(F.col("c_custkey") < 10, F.lit(0)).otherwise(F.lit(1)).alias("d"),
    )
    for _ in range(3):  # 2^3 = 8 >= max depth (6-digit custkeys)
        j = cur.alias("x").join(
            cur.alias("y"), F.col("x.anc") == F.col("y.node")
        ).select(
            F.col("x.node").alias("node"),
            F.col("y.anc").alias("anc"),
            (F.col("x.d") + F.col("y.d")).alias("d"),
        )
        cur = j
    return cur.select("node", F.col("anc").alias("root"), F.col("d").alias("depth"))


HIERARCHY_ORACLE = """
    WITH RECURSIVE walk(node, anc, d) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_custkey < 10 THEN c_custkey ELSE c_custkey // 10 END,
               CASE WHEN c_custkey < 10 THEN 0 ELSE 1 END
        FROM customer WHERE c_custkey >= 10
        UNION ALL
        SELECT w.node,
               CASE WHEN w.anc < 10 THEN w.anc ELSE w.anc // 10 END,
               w.d + CASE WHEN w.anc < 10 THEN 0 ELSE 1 END
        FROM walk w WHERE w.anc >= 10
    )
    SELECT DISTINCT node, anc AS root, CAST(d AS INT) AS depth
    FROM walk WHERE anc < 10
"""


MAD_K = 5.0  # threshold in MAD units (~3.37 sigma for normal data)


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |x - median| > K * MAD per
    event_type. The median/MAD pair tolerates the heavy tails that
    wreck mean/sigma z-scores (one huge outlier inflates sigma and
    hides the rest — the reason robust stats exist). Two exact
    percentile passes (median, then median of absolute deviations);
    both engines interpolate percentile_cont over identical doubles,
    the same determinism contract the `percentiles` query pins."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > MAD_K * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(F.col("adev") / F.col("mad"), 4).alias("mad_score"),
        )
    )


ANOMALY_MAD_ORACLE = f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, abs(e.value - med) AS adev
        FROM events e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT event_id, dev.event_type, round(value, 4) AS value,
           round(adev / mad, 4) AS mad_score
    FROM dev JOIN mad USING (event_type)
    WHERE adev > {MAD_K} * mad
"""


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline over parts: cheapest-for-their-size price/
    size points (minimize p_retailprice, maximize p_size; strict
    dominance). Computed over DISTINCT (price, size) points — two
    identical points tie and a one-pass sweep would keep an arbitrary
    one, so the points are first rolled up with their part counts.
    The engine runs the O(n log n) sweep (sort by price asc, size
    desc; keep points whose size strictly exceeds the running max of
    everything at-or-cheaper before them); the oracle runs the
    textbook NOT EXISTS dominance test — two independent formulations
    that must agree exactly. The sweep shape scales; the quadratic
    dominance join does not."""
    pts = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.round("p_retailprice", 2).alias("price"), F.col("p_size"))
        .agg(F.count("*").alias("n_parts"), F.min("p_partkey").alias("min_partkey"))
    )
    w = (
        W.orderBy("price", F.desc("p_size"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("best_before", F.max("p_size").over(w))
        .filter(
            F.col("best_before").isNull()
            | (F.col("p_size") > F.col("best_before"))
        )
        .select("price", "p_size", "n_parts", "min_partkey")
    )


SKYLINE_ORACLE = """
    WITH pts AS (
        SELECT round(p_retailprice, 2) AS price, p_size,
               count(*) AS n_parts, min(p_partkey) AS min_partkey
        FROM part GROUP BY 1, 2
    )
    SELECT price, p_size, n_parts, min_partkey
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE (q.price <= p.price AND q.p_size > p.p_size)
           OR (q.price < p.price AND q.p_size >= p.p_size)
    )
"""


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user: the
    gaps-and-islands date - dense-row-number trick (equal-difference
    grouping). One distinct, one window, one two-level rollup."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"), F.min("day").alias("streak_start")
    )
    w2 = W.partitionBy("user_id").orderBy(F.desc("len"), "streak_start")
    return (
        streaks.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_start", F.col("len").alias("streak_days"))
    )


USER_STREAKS_ORACLE = """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    grp AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor, count(*) AS len, min(day) AS streak_start
        FROM grp GROUP BY 1, 2
    )
    SELECT user_id, streak_start, CAST(len AS BIGINT) AS streak_days
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY len DESC, streak_start) AS rn
        FROM streaks
    ) WHERE rn = 1
"""


BASKET_MIN_SUPPORT = 3
BASKET_TOP = 20


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over orders: support /
    confidence / lift for part pairs co-purchased in the same order
    (min-support pruned, top-N by lift). All three metrics are ratios
    of exact integer counts — deterministic on both engines.

    Scale shape (a-priori): pair support <= item support, so any item
    with n_p < min-support cannot appear in a surviving pair — the
    semi-join prunes those items BEFORE the per-order self-join,
    shrinking the pair space exactly (monotonicity => the unpruned
    oracle is unchanged). The top-N then goes through
    orderBy().limit() — Spark's TakeOrderedAndProject, a per-partition
    heap + driver merge of N rows, never a single-partition global
    sort; rank is re-derived by a window over the <=N surviving rows."""
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = po.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    item = po.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("n_p")
    )
    # a-priori item prune. The frequent-item frame is part-cardinality
    # (one row per distinct part), so broadcast is size-GATED on the
    # part table: hinted while the dimension is broadcast-sized,
    # degraded to AQE's choice at 100 TB (catalog.gated_broadcast).
    from dfs_w_mapreduce_spark.catalog import gated_broadcast

    freq_keys = item.filter(F.col("n_p") >= BASKET_MIN_SUPPORT).select(
        F.col("p").alias("l_partkey")
    )
    pof = po.join(gated_broadcast(freq_keys, sf_dir, "part"), "l_partkey", "left_semi")
    a, b = pof.alias("a"), pof.alias("b")
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    ia = item.select(F.col("p").alias("pa"), F.col("n_p").alias("n_a"))
    ib = item.select(F.col("p").alias("pb"), F.col("n_p").alias("n_b"))
    lift = (F.col("n_ab") * F.col("n_orders")) / (F.col("n_a") * F.col("n_b"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("lift6"), "pa", "pb")
    return (
        pair.join(gated_broadcast(ia, sf_dir, "part"), "pa")
        .join(gated_broadcast(ib, sf_dir, "part"), "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa", "pb", "n_ab",
            F.round(F.col("n_ab") / F.col("n_a"), 4).alias("confidence"),
            F.round(lift, 4).alias("lift"),
            F.round(lift, 6).alias("lift6"),
        )
        .orderBy(F.desc("lift6"), "pa", "pb")
        .limit(BASKET_TOP)
        .withColumn("rk", F.row_number().over(w))
        .select("pa", "pb", "n_ab", "confidence", "lift", F.col("rk").cast("int").alias("rk"))
    )


BASKET_LIFT_ORACLE = f"""
    WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM po),
    item AS (SELECT l_partkey AS p, count(*) AS n_p FROM po GROUP BY 1),
    pair AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
        FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {BASKET_MIN_SUPPORT}
    ),
    scored AS (
        SELECT pa, pb, n_ab,
               round(n_ab * 1.0 / ia.n_p, 4) AS confidence,
               round((n_ab * n_orders) * 1.0 / (ia.n_p * ib.n_p), 4) AS lift,
               round((n_ab * n_orders) * 1.0 / (ia.n_p * ib.n_p), 6) AS lift6
        FROM pair
        JOIN item ia ON pa = ia.p
        JOIN item ib ON pb = ib.p
        CROSS JOIN n_orders
    )
    SELECT pa, pb, n_ab, confidence, lift, CAST(rk AS INT) AS rk FROM (
        SELECT *, row_number() OVER (ORDER BY lift6 DESC, pa, pb) AS rk
        FROM scored
    ) WHERE rk <= {BASKET_TOP}
"""


def q_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational percentile bands: p50/p95/p99 of event value per
    (hour, event_type) — the SLO dashboard query. Exact percentiles
    (same determinism contract as the `percentiles` query); the
    group-by key includes time, so state is bounded per window at
    scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


LATENCY_BANDS_ORACLE = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
           count(*) AS n,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY 1, 2
"""


def q_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue deltas: weekly exact-decimal revenue
    per order priority with lag-based absolute and percent change —
    the BI time-comparison staple. The pct change divides two
    deterministic doubles (exact decimal sums cast down), try_divide
    guards the first week / empty-input NULLs under ANSI mode."""
    o = load_table(spark, sf_dir, "orders")
    wk = F.date_trunc("week", "o_orderdate").alias("week")
    weekly = o.groupBy(wk, "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"),
        F.count("*").alias("n_orders"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("week")
    prev = F.lag("rev_dec").over(w)
    return weekly.select(
        "week",
        "o_orderpriority",
        F.round("rev_dec", 2).cast("double").alias("revenue"),
        "n_orders",
        F.round(F.col("rev_dec") - prev, 2).cast("double").alias("abs_change"),
        F.round(
            F.try_divide(
                (F.col("rev_dec") - prev).cast("double"), prev.cast("double")
            ),
            6,
        ).alias("pct_change"),
    )


WOW_CHANGE_ORACLE = """
    WITH weekly AS (
        SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week,
               o_orderpriority,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec,
               count(*) AS n_orders
        FROM orders GROUP BY 1, 2
    )
    SELECT week, o_orderpriority,
           CAST(round(rev_dec, 2) AS DOUBLE) AS revenue,
           n_orders,
           CAST(round(rev_dec - lag(rev_dec) OVER w, 2) AS DOUBLE) AS abs_change,
           round(CAST(rev_dec - lag(rev_dec) OVER w AS DOUBLE)
                 / CAST(lag(rev_dec) OVER w AS DOUBLE), 6) AS pct_change
    FROM weekly
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY week)
"""


def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per first-view-day cohort, the
    p50/p90 minutes from a user's first view to their first
    subsequent purchase. All timestamp arithmetic is exact integer
    MICROSECONDS (unix_micros / epoch_us) — the fixture has sub-second
    timestamps, and truncating to seconds (unix_timestamp) or casting
    fractional epochs would round differently per engine. ts may be
    stored as TIMESTAMP_NTZ — cast to TIMESTAMP (UTC session keeps
    wall-clock) before unix_micros, which rejects NTZ."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.unix_micros(F.col("ts").cast("timestamp")))
            ).alias("v_us")
        )
        .filter(F.col("v_us").isNotNull())
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("p_us")
    )
    conv = (
        purch.join(per_user, "user_id")
        .filter(F.col("p_us") >= F.col("v_us"))
        .groupBy("user_id", "v_us")
        .agg(F.min("p_us").alias("first_p_us"))
        .withColumn(
            "delta_min", (F.col("first_p_us") - F.col("v_us")) / 60000000.0
        )
        .withColumn("cohort_day", F.to_date(F.timestamp_micros(F.col("v_us"))))
    )
    return conv.groupBy("cohort_day").agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(delta_min, 0.5)"), 3).alias("p50_min"),
        F.round(F.expr("percentile(delta_min, 0.9)"), 3).alias("p90_min"),
    )


FUNNEL_TTC_ORACLE = """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us
        FROM events GROUP BY 1
        HAVING min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) IS NOT NULL
    ),
    conv AS (
        SELECT e.user_id, v_us, min(epoch_us(e.ts)) AS first_p_us
        FROM events e JOIN per_user USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v_us
        GROUP BY 1, 2
    )
    SELECT CAST(make_timestamp(v_us) AS DATE) AS cohort_day,
           count(*) AS n_converted,
           round(quantile_cont((first_p_us - v_us) / 60000000.0, 0.5), 3) AS p50_min,
           round(quantile_cont((first_p_us - v_us) / 60000000.0, 0.9), 3) AS p90_min
    FROM conv
    GROUP BY 1
"""


RFM_BUCKETS = 4


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    against the corpus max date), frequency (order count), monetary
    (exact-decimal spend), each quartiled with ntile over a
    deterministic total order (metric + custkey tie-break), rolled up
    per (r, f, m) cell. Date subtraction is integer days; ntile over
    a unique order key is engine-stable — the same discipline as
    window_running."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend_dec"),
    )
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("max_day"))
    scored = per_cust.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff("max_day", "last_day")
    )
    wr = W.orderBy("recency_days", "o_custkey")  # fewer days = bucket 1
    wf = W.orderBy(F.desc("freq"), "o_custkey")
    wm = W.orderBy(F.desc("spend_dec"), "o_custkey")
    cells = scored.select(
        "o_custkey",
        F.ntile(RFM_BUCKETS).over(wr).alias("r"),
        F.ntile(RFM_BUCKETS).over(wf).alias("f"),
        F.ntile(RFM_BUCKETS).over(wm).alias("m"),
        "spend_dec",
    )
    return cells.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("spend_dec"), 2).cast("double").alias("cell_spend"),
    )


RFM_ORACLE = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               max(CAST(o_orderdate AS DATE)) AS last_day,
               count(*) AS freq,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_dec
        FROM orders GROUP BY 1
    ),
    anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_day FROM orders),
    scored AS (
        SELECT *, (max_day - last_day) AS recency_days
        FROM per_cust CROSS JOIN anchor
    ),
    cells AS (
        SELECT o_custkey, spend_dec,
               ntile({RFM_BUCKETS}) OVER (ORDER BY recency_days, o_custkey) AS r,
               ntile({RFM_BUCKETS}) OVER (ORDER BY freq DESC, o_custkey) AS f,
               ntile({RFM_BUCKETS}) OVER (ORDER BY spend_dec DESC, o_custkey) AS m
        FROM scored
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           count(*) AS n_customers,
           CAST(round(sum(spend_dec), 2) AS DOUBLE) AS cell_spend
    FROM cells GROUP BY 1, 2, 3
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: lead() within (user, time) order -> per (from, to) counts
    and row-normalized probabilities. The sequence-mining primitive
    behind next-action prediction and funnel discovery; one window
    pass + one aggregation, shuffles keyed by user then by from-type.
    The probability is a single int/int division — deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wtot = W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wtot), 4).alias("p"),
    )


EVENT_TRANSITIONS_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, count(*) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) AS p
    FROM counts
"""


def q_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass over events
    produces ALL rollup resolutions (hour, day, per-type total, grand
    total) via the ROLLUP hierarchy on (event_type, day, hour). Spark
    computes every level from one partial-aggregate shuffle — the
    map-side combine emits each input row into the 4 grouping sets,
    so the finest level dominates cost and the coarser levels are
    nearly free; at 100 TB this replaces 4 separate scans with 1.
    Sums accumulate in DECIMAL (exact, associative) so every level
    hash-matches regardless of accumulation order."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
        "value",
    )
    res = (
        F.when(F.grouping("h") == 0, "hour")
        .when(F.grouping("d") == 0, "day")
        .when(F.grouping("event_type") == 0, "type")
        .otherwise("total")
    )
    return ev.rollup("event_type", "d", "h").agg(
        res.alias("resolution"),
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


ROLLUP_HYPERTABLE_ORACLE = """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
           CASE WHEN GROUPING(CAST(date_trunc('hour', ts) AS TIMESTAMP)) = 0 THEN 'hour'
                WHEN GROUPING(CAST(date_trunc('day', ts) AS TIMESTAMP)) = 0 THEN 'day'
                WHEN GROUPING(event_type) = 0 THEN 'type'
                ELSE 'total' END AS resolution,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (event_type, d, h)
"""


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type statistics: clip values to the in-group
    [p05, p95] band, then aggregate the clipped column. Two passes
    over one shuffle partitioning: exact percentiles per type, then a
    broadcast join of the 5-row bound table back onto events. The
    clipped mean divides an exact DECIMAL sum by the count, so the
    only doubles compared cross-engine are deterministic (identical
    interpolated percentiles, identical division inputs)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("p05"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("p95"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").withColumn(
        "w", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.first("p05"), 4).alias("p05"),
        F.round(F.first("p95"), 4).alias("p95"),
        F.round(
            F.sum(F.col("w").cast("decimal(18,6)")).cast("double") / F.count("*"), 4
        ).alias("mean_winsorized"),
        F.round(F.min("w"), 4).alias("min_w"),
        F.round(F.max("w"), 4).alias("max_w"),
    )


WINSORIZE_ORACLE = f"""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, {WINSOR_LO}) AS p05,
               quantile_cont(value, {WINSOR_HI}) AS p95
        FROM events GROUP BY 1
    ),
    clipped AS (
        SELECT e.event_type, p05, p95,
               least(greatest(value, p05), p95) AS w
        FROM events e JOIN bounds USING (event_type)
    )
    SELECT event_type,
           count(*) AS n,
           round(any_value(p05), 4) AS p05,
           round(any_value(p95), 4) AS p95,
           round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
               AS mean_winsorized,
           round(min(w), 4) AS min_w,
           round(max(w), 4) AS max_w
    FROM clipped
    GROUP BY 1
"""


EWMA_ALPHA = 0.2


def q_ewma_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event value —
    the sequential per-key FOLD no window frame can express (each
    state depends on the previous state, not on a frame of rows), so
    it runs as a grouped Arrow-batched applyInPandas: one shuffle on
    user_id, then a C-speed ewm recursion per group. This is the
    canonical shape for per-entity stateful features at 100 TB — the
    shuffle is the only corpus-wide movement and group state is O(1).

    s_1 = x_1; s_i = (1-a)*s_{i-1} + a*x_i (pandas ewm adjust=False).
    The DuckDB oracle runs the IDENTICAL left fold via
    list_reduce(list(value ORDER BY us, event_id)) — same operand
    order in float64, so the two engines agree bit-for-bit before the
    final rounding."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        s = pdf["value"].ewm(alpha=EWMA_ALPHA, adjust=False).mean().iloc[-1]
        # NO Python round() here: it rounds HALF_EVEN while DuckDB
        # rounds HALF_UP — the raw double goes back to Spark and the
        # final F.round matches the oracle's rounding (CLAUDE.md rule)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "ewma_raw": [s],
                "last_value": [pdf["value"].iloc[-1]],
            }
        )

    return (
        ev.groupBy("user_id")
        .applyInPandas(
            ewma, "user_id bigint, n_events bigint, ewma_raw double, last_value double"
        )
        .select(
            "user_id",
            "n_events",
            (F.round("ewma_raw", 6) + 0.0).alias("ewma_value"),
            "last_value",
        )
    )


EWMA_USER_ORACLE = f"""
    WITH ev AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
    ),
    g AS (
        SELECT user_id,
               count(*) AS n_events,
               list(CAST(value AS DOUBLE) ORDER BY us, event_id) AS vals
        FROM ev GROUP BY user_id
    )
    SELECT user_id, n_events,
           round(list_reduce(vals,
                 (acc, x) -> (1 - {EWMA_ALPHA}) * acc + {EWMA_ALPHA} * x), 6)
               + 0.0 AS ewma_value,
           vals[len(vals)] AS last_value
    FROM g
"""


ROLL_HOURS = 24
_ROLL_US = ROLL_HOURS * 3600 * 1_000_000


def q_rolling_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature engineering: at every event, the user's
    trailing-24h activity count and spend — the rolling window every
    feature store materializes, computed leak-free (the frame ends at
    the current row, so no future data enters the feature). A RANGE
    frame over exact integer microseconds: Spark's rangeBetween needs
    a numeric ordering key, and unix_micros gives the same inclusive
    [t-24h, t] boundary DuckDB's RANGE INTERVAL frame uses, with no
    float time arithmetic anywhere. One shuffle on user_id; RANGE
    peers (same-timestamp events) aggregate identically on both
    engines regardless of tie order."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ROLL_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_24h"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w), 2)
        .cast("double")
        .alias("sum_24h"),
    )


ROLLING_FEATURES_ORACLE = f"""
    SELECT event_id, user_id,
           count(*) OVER w AS n_24h,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE)
               AS sum_24h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL {ROLL_HOURS} HOURS PRECEDING
                           AND CURRENT ROW)
"""


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is
    credited to the most recent NON-purchase event strictly before it
    in the same user's stream. One window over one shuffle on
    user_id — the frame ends at 1 PRECEDING so a purchase can never
    attribute to itself, and the (ts, event_id) ordering makes
    same-timestamp resolution deterministic. Purchases with no prior
    touch credit to 'none'. Revenue sums accumulate in DECIMAL."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("none")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


ATTRIBUTION_ORACLE = """
    WITH touched AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        FROM events
    )
    SELECT coalesce(touch, 'none') AS channel,
           count(*) AS n_purchases,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
"""


ACF_MAX_LAG = 3


def _daily_event_counts(ev: DataFrame) -> DataFrame:
    """(event_type, day, n): each event type's count on every day of
    the events' [min, max] day range, 0 on a day without events."""
    bounds = ev.agg(F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi"))
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    return (
        days.crossJoin(ev.select("event_type").distinct())
        .join(
            ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
                F.count("*").alias("n")
            ),
            ["day", "event_type"],
            "left",
        )
        .select("event_type", "day", F.coalesce("n", F.lit(0)).alias("n"))
    )


def _day_spine_ctes(value: str) -> str:
    """DuckDB twin of _daily_event_counts: CTEs ending in daily
    (event_type, day, value), where value reads the day's count a.n
    (null on a day without events)."""
    return f"""bounds AS (
        SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
    ),
    days AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    actual AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT t.event_type, d.day, {value}
        FROM days d CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        LEFT JOIN actual a ON a.day = d.day AND a.event_type = t.event_type
    )"""


def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of the daily event-count series per
    event type — the seasonality probe a pipeline runs before picking
    a forecasting model. The series is zero-filled over a generated
    day spine (a gap would silently shift every lag pair), then each
    lag's Pearson r is computed from EXACT integer sums (n, Sx, Sy,
    Sxx, Syy, Sxy are all longs over integer daily counts), so the
    only FP ops are two long->double casts, one multiply, sqrt, and
    the final divide — the identical sequence the oracle runs, making
    the result bit-deterministic cross-engine.

    Scale posture: the heavy side is one (type, day) hash aggregate
    over the fact table; everything after operates on the tiny
    per-day frame (window lag over days, then a 15-row rollup)."""
    daily = _daily_event_counts(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        F.col("n"),
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in range(1, ACF_MAX_LAG + 1)],
    )
    stack_args = ", ".join(f"{k}, l{k}" for k in range(1, ACF_MAX_LAG + 1))
    pairs = lagged.select(
        "event_type", "n",
        F.expr(f"stack({ACF_MAX_LAG}, {stack_args}) as (lag, y)"),
    ).filter(F.col("y").isNotNull())
    s = pairs.groupBy("event_type", "lag").agg(
        F.count("*").alias("np"),
        F.sum("n").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("n") * F.col("y")).alias("sxy"),
    )
    vx = (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    num = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return s.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("np").alias("n_pairs"),
        F.round(F.try_divide(num, F.sqrt(vx * vy)), 4).alias("acf"),
    ).orderBy("event_type", "lag")


TS_AUTOCORR_ORACLE = f"""
    WITH {_day_spine_ctes('coalesce(a.n, 0) AS n')},
    lagged AS (
        SELECT event_type, n,
               lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
               lag(n, 3) OVER w AS l3
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    pairs AS (
        SELECT event_type, 1 AS lag, n, l1 AS y FROM lagged WHERE l1 IS NOT NULL
        UNION ALL
        SELECT event_type, 2 AS lag, n, l2 AS y FROM lagged WHERE l2 IS NOT NULL
        UNION ALL
        SELECT event_type, 3 AS lag, n, l3 AS y FROM lagged WHERE l3 IS NOT NULL
    ),
    s AS (
        SELECT event_type, lag,
               count(*) AS np,
               CAST(sum(n) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(n * n) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(n * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, lag, np AS n_pairs,
           round(CAST(np * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
                        * CAST(np * syy - sy * sy AS DOUBLE)), 4) AS acf
    FROM s
    ORDER BY event_type, lag
"""


def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection: each (type, day, hour) cell is
    tested against its OWN seasonal baseline — the (type, hour-of-day)
    population over the whole span — so a 2am traffic spike isn't
    hidden by the 2pm mean the way a global z-score (anomaly_zscore)
    hides it. The 3-sigma verdict is evaluated in PURE INTEGER
    arithmetic: (n*x - Sx)^2 > 9 * (n*Sxx - Sx^2) is the exact
    algebraic form of |x - mean| > 3*stddev_pop with every operand a
    long, so the flag can never drift cross-engine; the reported
    z-score is the only FP value (exact ints into one sqrt + divide,
    mirrored in the oracle).

    Scale posture: one (type, day, hour) hash aggregate over the fact
    table, then a (type, hour) rollup of the 24*types baseline — the
    baseline join back is broadcast-sized by construction."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("x"))
    base = cells.groupBy("event_type", "hour").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    j = cells.join(F.broadcast(base), ["event_type", "hour"])
    dev = F.col("n") * F.col("x") - F.col("sx")
    var_n2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        j.filter(dev * dev > 9 * var_n2)
        .select(
            "event_type",
            "day",
            "hour",
            "x",
            F.round(F.try_divide(F.col("sx"), F.col("n")), 4).alias("baseline_mean"),
            F.round(F.try_divide(dev.cast("double"), F.sqrt(var_n2.cast("double"))), 4)
            .alias("z"),
        )
        .orderBy("event_type", "day", "hour")
    )


ANOMALY_SEASONAL_ORACLE = """
    WITH cells AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(hour(ts) AS INT) AS hour, count(*) AS x
        FROM events GROUP BY 1, 2, 3
    ),
    base AS (
        SELECT event_type, hour, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM cells GROUP BY 1, 2
    )
    SELECT c.event_type, c.day, c.hour, c.x,
           round(b.sx * 1.0 / b.n, 4) AS baseline_mean,
           round(CAST(b.n * c.x - b.sx AS DOUBLE)
                 / sqrt(CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE)), 4) AS z
    FROM cells c JOIN base b ON b.event_type = c.event_type AND b.hour = c.hour
    WHERE (b.n * c.x - b.sx) * (b.n * c.x - b.sx)
          > 9 * (b.n * b.sxx - b.sx * b.sx)
    ORDER BY c.event_type, c.day, c.hour
"""


HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


def q_ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing per event type —
    the level+trend forecaster one step up from EWMA: level_t =
    a*x_t + (1-a)*(level+trend), trend_t = g*(level_t - level) +
    (1-g)*trend, initialized l0=x1, b0=x2-x1, updated from x2 on.
    The recursion is inherently sequential, so it runs as a FOLD over
    the per-type day-ordered array (Spark F.aggregate / DuckDB
    list_reduce) — per-key state never leaves the row, and the fold
    step's FP expression is textually mirrored in the oracle (the
    level term is deliberately recomputed inside the trend update on
    BOTH engines so the operation sequence is bit-identical).

    Scale posture: one (type, day) hash aggregate over the fact
    table, then a per-type collect into a bounded array (days in
    range — 30 here; a year is 365 doubles) folded in a single
    expression. The series array is bounded by the date span, never
    by the fact-row count."""
    daily = _daily_event_counts(load_table(spark, sf_dir, "events")).select(
        "event_type", "day", F.col("n").cast("double").alias("x")
    )
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "x"))),
            lambda s: s.getField("x"),
        ).alias("xs")
    )
    xs = F.col("xs")
    n = F.size(xs)
    l0 = F.element_at(xs, 1)
    b0 = F.when(n >= 2, F.element_at(xs, 2) - F.element_at(xs, 1)).otherwise(
        F.lit(0.0)
    )
    a, g = F.lit(HOLT_ALPHA), F.lit(HOLT_BETA)
    ca, cg = F.lit(1.0 - HOLT_ALPHA), F.lit(1.0 - HOLT_BETA)
    zero = F.struct(l0.alias("l"), b0.alias("b"))
    rest = F.slice(xs, 2, F.greatest(n - 1, F.lit(0)))
    state = F.aggregate(
        rest,
        zero,
        lambda acc, x: F.struct(
            (a * x + ca * (acc.getField("l") + acc.getField("b"))).alias("l"),
            (
                g
                * (
                    (a * x + ca * (acc.getField("l") + acc.getField("b")))
                    - acc.getField("l")
                )
                + cg * acc.getField("b")
            ).alias("b"),
        ),
    )
    return ser.select(
        "event_type",
        n.alias("n_days"),
        F.round(state.getField("l"), 4).alias("level"),
        F.round(state.getField("b"), 4).alias("trend"),
        F.round(state.getField("l") + state.getField("b"), 4).alias("forecast_1d"),
        F.round(state.getField("l") + 7 * state.getField("b"), 4).alias("forecast_7d"),
    ).orderBy("event_type")


TS_HOLT_ORACLE = f"""
    WITH RECURSIVE {_day_spine_ctes('CAST(coalesce(a.n, 0) AS DOUBLE) AS x')},
    ser AS (
        SELECT event_type, list(x ORDER BY day) AS xs FROM daily GROUP BY 1
    ),
    -- the fold as a recursive CTE: standard SQL row semantics (both
    -- new fields read the SAME old row), exactly Spark's F.aggregate;
    -- DuckDB 1.0's list_reduce is unusable here — it assigns struct
    -- accumulator fields IN PLACE, so a later field's expression sees
    -- the earlier field's NEW value (probed: (acc,x)->struct(l:=...,
    -- b:=f(acc.l)) folds with acc.l already overwritten)
    holt AS (
        SELECT event_type, xs, 2 AS i,
               xs[1] AS l,
               CASE WHEN len(xs) >= 2 THEN xs[2] - xs[1] ELSE 0.0 END AS b
        FROM ser
        UNION ALL
        SELECT event_type, xs, i + 1,
               {HOLT_ALPHA} * xs[i] + {1.0 - HOLT_ALPHA} * (l + b),
               {HOLT_BETA} * (({HOLT_ALPHA} * xs[i]
                   + {1.0 - HOLT_ALPHA} * (l + b)) - l)
                   + {1.0 - HOLT_BETA} * b
        FROM holt WHERE i <= len(xs)
    )
    SELECT event_type, CAST(len(xs) AS INT) AS n_days,
           round(l, 4) AS level,
           round(b, 4) AS trend,
           round(l + b, 4) AS forecast_1d,
           round(l + 7 * b, 4) AS forecast_7d
    FROM holt WHERE i = len(xs) + 1
    ORDER BY event_type
"""


def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy analysis of the first-order event-type Markov chain
    (same transition counts as q_event_transitions): per from-type,
    the conditional next-step entropy H(next|from) = -sum_j p(j|i)
    log2 p(j|i) and its predictability complement; plus an ALL row
    carrying the chain's ENTROPY RATE — sum_i p(i) H(next|i) under
    the empirical source distribution — against the log2(k) i.i.d.
    ceiling. The behavioral-predictability diagnostic: a near-zero
    rate means next actions are deterministic given the current one.

    Scale shape: one user-keyed window pass, one (from, to) hash
    aggregate (25 cells), then arithmetic on the tiny matrix. All
    probabilities are exact integer ratios; the only FP is the final
    log2/multiply chain, round-4, mirrored in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wtot = W.partitionBy("from_type")
    cond = counts.withColumn("row_n", F.sum("n").over(wtot))
    hterm = -(F.col("n") / F.col("row_n")) * F.log2(F.col("n") / F.col("row_n"))
    # quantize each -p*log2(p) term to 10 dp and sum as DECIMAL: exact
    # order-free summation (the text_bigram_kn discipline) so a ulp of
    # partition-order drift cannot flip the round-4 boundary
    per = cond.groupBy("from_type").agg(
        F.sum("n").alias("n_transitions"),
        F.count("*").alias("n_successors"),
        F.round(
            F.sum(F.round(hterm, 10).cast("decimal(28,10)")).cast("double"), 4
        ).alias("cond_entropy_bits"),
    )
    # entropy rate = sum_i (n_i / N) * H_i — computed from the SAME
    # per-row rounded H_i values the per-type rows report, so the ALL
    # row is a pure function of visible output (auditable), and the
    # weighting ratio is an exact integer division.
    allr = (
        per.crossJoin(
            F.broadcast(per.agg(F.sum("n_transitions").alias("grand")))
        )
        .agg(
            F.sum("n_transitions").cast("long").alias("n_transitions"),
            F.sum(F.col("n_successors")).cast("long").alias("n_successors"),
            F.round(
                F.sum(
                    F.round(
                        (F.col("n_transitions") / F.col("grand"))
                        * F.col("cond_entropy_bits"),
                        10,
                    ).cast("decimal(28,10)")
                ).cast("double"),
                4,
            ).alias("cond_entropy_bits"),
        )
        .select(F.lit("ALL").alias("from_type"), "n_transitions",
                "n_successors", "cond_entropy_bits")
    )
    return per.unionByName(allr)


MARKOV_ENTROPY_ORACLE = """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, count(*) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    cond AS (
        SELECT from_type, n,
               CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_n
        FROM counts
    ),
    per AS (
        SELECT from_type,
               CAST(sum(n) AS BIGINT) AS n_transitions,
               count(*) AS n_successors,
               round(CAST(sum(CAST(round(-(n * 1.0 / row_n)
                                         * log2(n * 1.0 / row_n), 10)
                                   AS DECIMAL(28,10))) AS DOUBLE), 4)
                   AS cond_entropy_bits
        FROM cond GROUP BY from_type
    )
    SELECT from_type, n_transitions, n_successors, cond_entropy_bits FROM per
    UNION ALL
    SELECT 'ALL',
           CAST(sum(n_transitions) AS BIGINT),
           CAST(sum(n_successors) AS BIGINT),
           round(CAST(sum(CAST(round((n_transitions * 1.0
                                      / (SELECT sum(n_transitions) FROM per))
                                     * cond_entropy_bits, 10)
                               AS DECIMAL(28,10))) AS DOUBLE), 4)
    FROM per
"""


def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the cumulative sum
    of deviations from the series mean peaks (in absolute value) at
    the most likely level-shift point (Page 1954 / Taylor's CUSUM
    bootstrap, public). Computed in SCALED integers — cusum_t =
    sum_{i<=t}(n*x_i - Sx) avoids the fractional mean entirely, so
    the located day and the peak statistic cannot drift cross-engine;
    the only FP values are the reported before/after means (exact
    integer ratios, round-4, mirrored).

    Scale shape: one (type, day) hash aggregate, a type-partitioned
    cumulative window over the tiny day frame, and a WindowGroupLimit
    rank to pick the peak. Nothing global."""
    daily = _daily_event_counts(load_table(spark, sf_dir, "events")).withColumnRenamed(
        "n", "x"
    )
    wt = W.partitionBy("event_type")
    stats = daily.withColumn("n_days", F.count("*").over(wt)).withColumn(
        "sx", F.sum("x").over(wt)
    )
    wo = wt.orderBy("day")
    cus = stats.withColumn(
        "t", F.row_number().over(wo)
    ).withColumn(
        "cusum", F.sum(F.col("n_days") * F.col("x") - F.col("sx")).over(wo)
    ).withColumn(
        "csx", F.sum("x").over(wo)
    )
    rk = F.row_number().over(wt.orderBy(F.abs(F.col("cusum")).desc(), "day"))
    peak = cus.withColumn("rk", rk).filter(F.col("rk") == 1)
    return peak.select(
        "event_type",
        F.col("day").alias("change_day"),
        F.col("t").alias("t_index"),
        F.col("n_days").cast("int").alias("n_days"),
        F.abs(F.col("cusum")).alias("max_abs_cusum"),
        F.round(F.try_divide(F.col("csx"), F.col("t")), 4).alias("mean_before"),
        F.round(
            F.try_divide(F.col("sx") - F.col("csx"), F.col("n_days") - F.col("t")), 4
        ).alias("mean_after"),
    ).orderBy("event_type")


TS_CHANGEPOINT_ORACLE = f"""
    WITH {_day_spine_ctes('CAST(coalesce(a.n, 0) AS BIGINT) AS x')},
    stats AS (
        SELECT event_type, day, x,
               count(*) OVER wt AS n_days,
               CAST(sum(x) OVER wt AS BIGINT) AS sx
        FROM daily
        WINDOW wt AS (PARTITION BY event_type)
    ),
    cus AS (
        SELECT event_type, day, x, n_days, sx,
               CAST(row_number() OVER wo AS INT) AS t,
               CAST(sum(n_days * x - sx) OVER wo AS BIGINT) AS cusum,
               CAST(sum(x) OVER wo AS BIGINT) AS csx
        FROM stats
        WINDOW wo AS (PARTITION BY event_type ORDER BY day)
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY abs(cusum) DESC, day) AS rk
        FROM cus
    )
    SELECT event_type, day AS change_day, t AS t_index,
           CAST(n_days AS INT) AS n_days,
           abs(cusum) AS max_abs_cusum,
           round(csx * 1.0 / t, 4) AS mean_before,
           round((sx - csx) * 1.0 / (n_days - t), 4) AS mean_after
    FROM ranked WHERE rk = 1
    ORDER BY event_type
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("attribution_last_touch", q_attribution_last_touch,
                  ATTRIBUTION_ORACLE,
                  ("analytics", "events", "window"),
                  "Last-touch revenue attribution via bounded-frame window."),
        QuerySpec("rolling_user_features", q_rolling_user_features,
                  ROLLING_FEATURES_ORACLE,
                  ("analytics", "window", "feature"),
                  "Leak-free trailing-24h user features via exact-microsecond RANGE frame."),
        QuerySpec("ewma_user", q_ewma_user, EWMA_USER_ORACLE,
                  ("analytics", "pandas", "feature"),
                  "Per-user EWMA: the sequential per-key fold via applyInPandas."),
        QuerySpec("rollup_hypertable", q_rollup_hypertable, ROLLUP_HYPERTABLE_ORACLE,
                  ("analytics", "timeseries", "rollup"),
                  "Multi-resolution continuous aggregate in one ROLLUP pass."),
        QuerySpec("winsorize", q_winsorize, WINSORIZE_ORACLE,
                  ("analytics", "quality", "robust"),
                  "Per-type [p05,p95] clipping with exact-decimal clipped means."),
        QuerySpec("rfm_segments", q_rfm_segments, RFM_ORACLE,
                  ("analytics", "segmentation", "window"),
                  "RFM quartile segmentation with deterministic ntiles."),
        QuerySpec("funnel_time_to_convert", q_funnel_time_to_convert, FUNNEL_TTC_ORACLE,
                  ("analytics", "events", "funnel"),
                  "First-view to first-purchase latency percentiles per cohort."),
        QuerySpec("wow_change", q_wow_change, WOW_CHANGE_ORACLE,
                  ("analytics", "timeseries", "window"),
                  "Week-over-week revenue deltas (lag window, exact sums)."),
        QuerySpec("basket_lift", q_basket_lift, BASKET_LIFT_ORACLE,
                  ("analytics", "basket"),
                  "Support/confidence/lift association mining, top-N by lift."),
        QuerySpec("latency_bands", q_latency_bands, LATENCY_BANDS_ORACLE,
                  ("analytics", "percentiles", "ops"),
                  "p50/p95/p99 bands per (hour, event_type)."),
        QuerySpec("skyline_pareto", q_skyline_pareto, SKYLINE_ORACLE,
                  ("analytics", "skyline"),
                  "Pareto frontier via O(n log n) sweep vs NOT-EXISTS oracle."),
        QuerySpec("user_streaks", q_user_streaks, USER_STREAKS_ORACLE,
                  ("analytics", "events", "window"),
                  "Longest consecutive-day streak (gaps-and-islands)."),
        QuerySpec("event_transitions", q_event_transitions, EVENT_TRANSITIONS_ORACLE,
                  ("analytics", "events", "sequence"),
                  "Markov event-transition matrix (lead window + rollup)."),
        QuerySpec("funnel_stages", q_funnel_stages, FUNNEL_ORACLE,
                  ("analytics", "events"),
                  "Staged view->click->purchase funnel with ordered timestamps."),
        QuerySpec("cohort_retention", q_cohort_retention, COHORT_ORACLE,
                  ("analytics", "events"),
                  "First-activity-day cohorts x day-offset retention."),
        QuerySpec("graph_pagerank", q_graph_pagerank, _pagerank_oracle(),
                  ("analytics", "graph", "iterative"),
                  "5-iter integer-exact PageRank over user<->type edges."),
        QuerySpec("graph_label_prop", q_graph_label_prop, _label_prop_oracle(),
                  ("analytics", "graph", "iterative"),
                  "Synchronous label-propagation communities (3 rounds, "
                  "deterministic mode tie-break) over the customer<->part "
                  "co-purchase graph."),
        QuerySpec("anomaly_mad", q_anomaly_mad, ANOMALY_MAD_ORACLE,
                  ("analytics", "quality", "robust"),
                  "Median/MAD robust outliers (exact percentile passes)."),
        QuerySpec("anomaly_zscore", q_anomaly_zscore, ANOMALY_ORACLE,
                  ("analytics", "quality"),
                  "3-sigma outliers from exact-decimal sufficient statistics."),
        QuerySpec("incremental_agg", q_incremental_agg, INCREMENTAL_AGG_ORACLE,
                  ("analytics", "incremental"),
                  "Partial-state merge (base+delta) equals full aggregation."),
        QuerySpec("value_histogram", q_value_histogram, VALUE_HISTOGRAM_ORACLE,
                  ("analytics", "histogram"),
                  "Equi-depth ntile histogram per event_type."),
        QuerySpec("histogram_fixed_width", q_histogram_fixed_width,
                  HISTOGRAM_FIXED_ORACLE,
                  ("analytics", "histogram"),
                  "Fixed-width 8-bin histogram (broadcast bounds, integer bin edges)."),
        QuerySpec("bootstrap_ci", q_bootstrap_ci, _bootstrap_ci_oracle(),
                  ("analytics", "statistics", "sampling"),
                  "Deterministic hash-draw bootstrap band for the per-type mean."),
        QuerySpec("cumulative_distinct_users", q_cumulative_distinct_users,
                  CUMULATIVE_DISTINCT_ORACLE,
                  ("analytics", "window", "distinct"),
                  "Running distinct users via first-seen reduction (no windowed DISTINCT)."),
        QuerySpec("path_3grams", q_path_3grams, PATH_3GRAMS_ORACLE,
                  ("analytics", "sequence"),
                  "Top-10 3-step event-type paths (lead windows + top-k)."),
        QuerySpec("pit_training_join", q_pit_training_join, _pit_training_oracle(),
                  ("analytics", "feature", "temporal"),
                  "Point-in-time-correct label/feature join (no leakage)."),
        QuerySpec("grouped_linear_fit", q_grouped_linear_fit,
                  GROUPED_LINEAR_FIT_ORACLE,
                  ("analytics", "statistics", "ml"),
                  "Per-group OLS from exact sufficient statistics (one pass)."),
        QuerySpec("ab_test_ttest", q_ab_test_ttest, AB_TTEST_ORACLE,
                  ("analytics", "statistics"),
                  "Welch two-sample t-test from one pass of exact sufficient stats."),
        QuerySpec("hierarchy_closure", q_hierarchy_closure, HIERARCHY_ORACLE,
                  ("analytics", "graph", "recursive"),
                  "Pointer-jumping transitive closure (root + depth per node)."),
        QuerySpec("ts_autocorr", q_ts_autocorr, TS_AUTOCORR_ORACLE,
                  ("analytics", "timeseries", "statistics"),
                  "Lag-1..3 Pearson autocorrelation of zero-filled daily "
                  "counts per event type, from exact integer sums."),
        QuerySpec("anomaly_seasonal", q_anomaly_seasonal, ANOMALY_SEASONAL_ORACLE,
                  ("analytics", "timeseries", "anomaly"),
                  "Hour-of-day seasonal 3-sigma anomaly cells with a "
                  "pure-integer verdict predicate (no FP drift possible)."),
        QuerySpec("ts_holt_forecast", q_ts_holt_forecast, TS_HOLT_ORACLE,
                  ("analytics", "timeseries", "forecast"),
                  "Holt level+trend smoothing per type as a bounded-array "
                  "fold (F.aggregate / recursive-CTE oracle), FP mirrored."),
        QuerySpec("ts_changepoint", q_ts_changepoint, TS_CHANGEPOINT_ORACLE,
                  ("analytics", "timeseries", "anomaly"),
                  "CUSUM change-point per type: scaled cumulative deviations "
                  "stay pure-integer; argmax day + before/after means."),
        QuerySpec("markov_entropy", q_markov_entropy, MARKOV_ENTROPY_ORACLE,
                  ("analytics", "sequence", "statistics"),
                  "Conditional next-step entropy per from-type + the chain's "
                  "entropy rate (ALL row) from exact transition ratios."),
    ]
