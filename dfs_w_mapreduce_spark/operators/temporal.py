"""Temporal join operators Spark lacks natively: as-of and range joins.

Both are implemented as compositions of built-in DataFrame ops (the
preferred tier — no Python in the loop), using the banded-join
technique: bucketize the time axis, equi-join on the bucket (+ key),
then resolve the temporal predicate inside the bucket. This keeps the
shuffle keyed and bounded — the O(n*m) cross product never
materializes, which is what makes the pattern viable at 100 TB.

DuckDB has native ASOF JOIN, giving an independent oracle for the
as-of semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import load_table
from dfs_w_mapreduce_spark.registry import QuerySpec

# Map orders' customers onto events' user space (fixtures don't share
# a key domain; deterministic in both engines).
USER_MOD = 50


def _asof_union(spark: SparkSession, sf_dir: str, with_us: bool = False) -> DataFrame:
    """Events (side 0) and orders (side 1) keyed to the shared user
    space u, in one frame (u, ts, side, ev_id, o_orderkey); with_us
    adds each event's ts as exact integer microseconds, ev_us."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % USER_MOD).alias("u"), "ts", "event_id"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % USER_MOD).alias("u"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    no_long = F.lit(None).cast("long")
    ev_us = [F.unix_micros(F.col("ts").cast("timestamp")).alias("ev_us")] if with_us else []
    no_us = [no_long.alias("ev_us")] if with_us else []
    return ev.select(
        "u", "ts", F.lit(0).alias("side"), F.col("event_id").alias("ev_id"),
        *ev_us, no_long.alias("o_orderkey"),
    ).unionByName(
        orders.select(
            "u", "ts", F.lit(1).alias("side"), no_long.alias("ev_id"), *no_us, "o_orderkey"
        )
    )


# The orders side (o) and the events side with equal-ts ties resolved
# by agg(event_id) of the DuckDB ASOF JOIN oracles
_ASOF_ORDERS_CTE = f"""o AS (SELECT o_orderkey, o_custkey % {USER_MOD} AS u, o_orderdate AS ts
               FROM orders)"""


def _asof_events_sql(agg: str) -> str:
    return f"""SELECT user_id % {USER_MOD} AS u, ts, {agg}(event_id) AS event_id
          FROM events GROUP BY 1, 2"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order (keyed to user o_custkey % 50), the
    latest event at-or-before the order date.

    Implementation: union-of-sides trick — tag rows, sort within user
    by (ts, side), and carry the last event forward with a window
    last_value(ignorenulls). One shuffle on user, no range explosion;
    this is the scalable as-of idiom when the right side is too big to
    broadcast."""
    unioned = _asof_union(spark, sf_dir)
    w = (
        W.partitionBy("u")
        .orderBy("ts", "side", "ev_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    resolved = unioned.withColumn(
        "last_event_id", F.last("ev_id", ignorenulls=True).over(w)
    )
    return resolved.filter(F.col("side") == 1).select(
        "o_orderkey",
        F.col("u").alias("user_id"),
        F.col("last_event_id").alias("event_id"),
    )


ASOF_JOIN_ORACLE = f"""
    WITH {_ASOF_ORDERS_CTE},
    -- DuckDB ASOF JOIN picks the row with the greatest event ts <=
    -- order ts per join key; ties on ts are broken by max event_id to
    -- match the Spark window's (ts, side, ev_id) ordering.
    e AS ({_asof_events_sql('max')})
    SELECT o.o_orderkey, o.u AS user_id, e.event_id
    FROM o ASOF LEFT JOIN e ON o.u = e.u AND o.ts >= e.ts
"""


BUCKET_MIN = 5  # range-join band width (minutes)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: for every 'error' event, count 'click'
    events within the preceding 5 minutes for the same user.

    Implementation: band each side into 5-minute buckets; clicks
    register in their own bucket and the next (a range predicate
    spanning <= 1 band needs 2 candidate buckets); equi-join on
    (user, bucket) then apply the exact range filter. The shuffle key
    is (user, bucket) — bounded fan-out, no cross product."""
    ev = load_table(spark, sf_dir, "events")
    bucket = lambda c: (F.unix_timestamp(c) / (BUCKET_MIN * 60)).cast("long")  # noqa: E731
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("ts").alias("err_ts"), F.col("event_id").alias("err_id"),
        bucket(F.col("ts")).alias("b"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"),
        F.explode(F.array(bucket(F.col("ts")), bucket(F.col("ts")) + 1)).alias("b"),
    )
    joined = errors.join(clicks, ["user_id", "b"], "left").withColumn(
        "in_range",
        (F.col("click_ts") <= F.col("err_ts"))
        & (F.col("click_ts") > F.col("err_ts") - F.expr(f"INTERVAL {BUCKET_MIN} MINUTES")),
    )
    return joined.groupBy("err_id", "user_id").agg(
        F.sum(F.when(F.col("in_range"), 1).otherwise(0)).cast("long").alias("n_recent_clicks")
    )


RANGE_JOIN_ORACLE = f"""
    SELECT e.event_id AS err_id, e.user_id,
           count(c.ts) AS n_recent_clicks
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts <= e.ts AND c.ts > e.ts - INTERVAL '{BUCKET_MIN} minutes'
    GROUP BY 1, 2
"""


def q_asof_join_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of semantics through the Arrow tier: per-user
    applyInPandas with pd.merge_asof — the escape-hatch strategy when
    the temporal logic is too bespoke for window composition. Shares
    the window implementation's oracle, so the two strategies
    cross-check each other."""
    import pandas as pd

    tagged = _asof_union(spark, sf_dir)

    def asof(pdf: pd.DataFrame) -> pd.DataFrame:
        left = (
            pdf[pdf["side"] == 1][["u", "ts", "o_orderkey"]]
            .sort_values(["ts", "o_orderkey"])
        )
        # resolve equal-ts duplicates to the max event id (same tie
        # rule as the window implementation and the DuckDB oracle)
        right = (
            pdf[pdf["side"] == 0]
            .groupby("ts", as_index=False)["ev_id"].max()
            .sort_values("ts")
        )
        merged = pd.merge_asof(left, right, on="ts", direction="backward")
        return pd.DataFrame(
            {
                "o_orderkey": merged["o_orderkey"],
                "user_id": merged["u"],
                "event_id": merged["ev_id"],
            }
        )

    return tagged.groupBy("u").applyInPandas(
        asof, schema="o_orderkey long, user_id long, event_id long"
    )


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each order, the EARLIEST event
    at-or-after the order date — the mirror of q_asof_join (backward),
    same union + window idiom with the time axis reversed (order by
    ts DESC so "carry the last event seen" means "smallest ts >= T").
    Ties on ts resolve to the minimum event_id on both engines."""
    unioned = _asof_union(spark, sf_dir)
    w = (
        W.partitionBy("u")
        .orderBy(F.desc("ts"), "side", F.desc("ev_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    resolved = unioned.withColumn(
        "next_event_id", F.last("ev_id", ignorenulls=True).over(w)
    )
    return resolved.filter(F.col("side") == 1).select(
        "o_orderkey",
        F.col("u").alias("user_id"),
        F.col("next_event_id").alias("event_id"),
    )


ASOF_FORWARD_ORACLE = f"""
    WITH {_ASOF_ORDERS_CTE},
    e AS ({_asof_events_sql('min')})
    SELECT o.o_orderkey, o.u AS user_id, e.event_id
    FROM o ASOF LEFT JOIN e ON o.u = e.u AND o.ts <= e.ts
"""


def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: for each order, the event closest in time in
    EITHER direction (ties go backward). Completes the as-of family
    (backward / forward / nearest) with one pass: both directional
    windows run over the same unioned frame — one shuffle on the user
    key, two in-partition sorts, no second join. Gaps compare in exact
    integer microseconds (`unix_micros`), never float seconds."""
    unioned = _asof_union(spark, sf_dir, with_us=True)
    # Same tie rules as the directional queries: backward resolves
    # equal-ts to max event_id, forward to min.
    wb = (
        W.partitionBy("u")
        .orderBy("ts", "side", "ev_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("u")
        .orderBy(F.desc("ts"), "side", F.desc("ev_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    resolved = (
        unioned.withColumn("back_id", F.last("ev_id", ignorenulls=True).over(wb))
        .withColumn("back_us", F.last("ev_us", ignorenulls=True).over(wb))
        .withColumn("fwd_id", F.last("ev_id", ignorenulls=True).over(wf))
        .withColumn("fwd_us", F.last("ev_us", ignorenulls=True).over(wf))
        .filter(F.col("side") == 1)
    )
    o_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_back, gap_fwd = o_us - F.col("back_us"), F.col("fwd_us") - o_us
    pick_back = F.col("fwd_id").isNull() | (
        F.col("back_id").isNotNull() & (gap_back <= gap_fwd)
    )
    return resolved.select(
        "o_orderkey",
        F.col("u").alias("user_id"),
        F.when(pick_back, F.col("back_id")).otherwise(F.col("fwd_id")).alias("event_id"),
        F.when(F.col("back_id").isNull() & F.col("fwd_id").isNull(), "none")
        .when(pick_back, "backward")
        .otherwise("forward")
        .alias("direction"),
    )


ASOF_NEAREST_ORACLE = f"""
    WITH {_ASOF_ORDERS_CTE},
    eb AS ({_asof_events_sql('max')}),
    ef AS ({_asof_events_sql('min')}),
    b AS (SELECT o.o_orderkey, o.u, e.event_id AS back_id, epoch_us(e.ts) AS back_us,
                 epoch_us(CAST(o.ts AS TIMESTAMP)) AS o_us
          FROM o ASOF LEFT JOIN eb e ON o.u = e.u AND o.ts >= e.ts),
    f AS (SELECT o.o_orderkey, e.event_id AS fwd_id, epoch_us(e.ts) AS fwd_us
          FROM o ASOF LEFT JOIN ef e ON o.u = e.u AND o.ts <= e.ts)
    SELECT b.o_orderkey, b.u AS user_id,
           CASE WHEN fwd_id IS NULL THEN back_id
                WHEN back_id IS NOT NULL AND o_us - back_us <= fwd_us - o_us THEN back_id
                ELSE fwd_id END AS event_id,
           CASE WHEN back_id IS NULL AND fwd_id IS NULL THEN 'none'
                WHEN fwd_id IS NULL THEN 'backward'
                WHEN back_id IS NOT NULL AND o_us - back_us <= fwd_us - o_us THEN 'backward'
                ELSE 'forward' END AS direction
    FROM b JOIN f USING (o_orderkey)
"""


def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: per event_type hourly revenue on a dense
    hourly spine, missing buckets filled by last-observation-carried-
    forward (the hypertable `locf()` idiom). The spine is generated,
    not scanned (types x hours cross join of two tiny frames); the
    only data shuffle is the per-(type,hour) partial aggregate, and
    the LOCF window sorts each type's spine once. Hourly sums
    accumulate in DECIMAL so the carried value is engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
        "value",
    )
    sums = ev.groupBy("event_type", "h").agg(
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("hour_sum")
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(hours)
    joined = spine.join(sums, ["event_type", "h"], "left")
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "event_type",
        "h",
        F.last("hour_sum", ignorenulls=True).over(w).alias("filled_sum"),
        F.col("hour_sum").isNull().alias("is_gap"),
    )


GAP_FILL_LOCF_ORACLE = """
    WITH e AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, value
               FROM events),
    sums AS (SELECT event_type, h,
                    CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS hour_sum
             FROM e GROUP BY 1, 2),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
    hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM e),
    spine AS (SELECT event_type, h FROM types CROSS JOIN hours)
    SELECT s.event_type, s.h,
           last_value(hour_sum IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
           hour_sum IS NULL AS is_gap
    FROM spine s LEFT JOIN sums USING (event_type, h)
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("asof_join", q_asof_join, ASOF_JOIN_ORACLE, ("temporal", "join"),
                  "As-of join via union + last_value window (oracle: native ASOF JOIN)."),
        QuerySpec("asof_join_pandas", q_asof_join_pandas, ASOF_JOIN_ORACLE,
                  ("temporal", "join", "pandas"),
                  "As-of join via per-group pd.merge_asof (Arrow tier, same oracle)."),
        QuerySpec("asof_join_forward", q_asof_join_forward, ASOF_FORWARD_ORACLE,
                  ("temporal", "join"),
                  "Forward as-of join (earliest event at-or-after), mirrored idiom."),
        QuerySpec("range_join", q_range_join, RANGE_JOIN_ORACLE, ("temporal", "join"),
                  "Banded range join: clicks within 5 min before each error."),
        QuerySpec("asof_join_nearest", q_asof_join_nearest, ASOF_NEAREST_ORACLE,
                  ("temporal", "join"),
                  "Nearest-in-time as-of join (both directions, exact-microsecond gaps)."),
        QuerySpec("gap_fill_locf", q_gap_fill_locf, GAP_FILL_LOCF_ORACLE,
                  ("temporal", "timeseries"),
                  "Dense hourly spine + LOCF gap fill per event type."),
    ]
