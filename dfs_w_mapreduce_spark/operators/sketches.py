"""Sketch operators: Bloom filter build/probe and deterministic
hash-sampling.

The reference declares (but never uses) a Bloom filter on its
controller (reference dfs/controller/controller.go:667,687); here it's
a first-class distributed operator — at 100 TB a Bloom built on join
keys is the standard semi-join pushdown: build on the small side,
broadcast ~KBs of bits, drop non-matching rows before the shuffle.

The hash family reuses the md5-derived h31 from the dedup module, so
the DuckDB oracle reproduces identical bits; sampling uses the same
hash (reproducible sampling — unlike random TABLESAMPLE, a hash sample
is stable across engines, runs, and retries, which is what you want
for data-pipeline debugging at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import load_table
from dfs_w_mapreduce_spark.functions.hashing import (
    P31,
    _h31_spark,
    _h31_sql,
    md5_long_expr,
    md5_long_sql,
)
from dfs_w_mapreduce_spark.functions.text import ws_tokens, ws_tokens_sql
from dfs_w_mapreduce_spark.operators.dedup import MINHASH_AB
from dfs_w_mapreduce_spark.registry import QuerySpec

BLOOM_BITS = 1024
BLOOM_WORDS = 32  # 32-bit words so masks stay positive in signed 64-bit
K_HASHES = 3


def q_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 1024-bit Bloom filter over negative-balance customer
    keys: k=3 positions per key, bit_or-aggregated into 32 words.
    One narrow scan + one tiny aggregation; the result broadcasts."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    h = _h31_spark(F.col("c_custkey").cast("string"))
    keyed = c.select(h.alias("h"))
    pos_cols = [
        ((F.lit(a) * F.col("h") + F.lit(b)) % P31 % BLOOM_BITS).alias(f"p{i}")
        for i, (a, b) in enumerate(MINHASH_AB[:K_HASHES])
    ]
    pos = keyed.select(*pos_cols).select(
        F.explode(F.array(*[F.col(f"p{i}") for i in range(K_HASHES)])).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 32).cast("long").alias("word_idx"),
            # F.shiftleft only takes a literal shift; SQL form allows a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def _bloom_oracle() -> str:
    h = _h31_sql("CAST(c_custkey AS VARCHAR)")
    pos_exprs = ", ".join(
        f"(({a} * h + {b}) % {P31}) % {BLOOM_BITS} AS p{i}"
        for i, (a, b) in enumerate(MINHASH_AB[:K_HASHES])
    )
    unnest = ", ".join(f"p{i}" for i in range(K_HASHES))
    return f"""
        WITH keyed AS (SELECT {h} AS h FROM customer WHERE c_acctbal < 0),
        pos AS (SELECT unnest([{unnest}]) AS pos
                FROM (SELECT {pos_exprs} FROM keyed))
        SELECT CAST(pos // 32 AS BIGINT) AS word_idx,
               CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS BIGINT) AS word
        FROM pos GROUP BY 1
    """


def q_bloom_probe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom filter doing its real job: semi-join pushdown. Build
    the 1024-bit filter over negative-balance customers (the
    reference's declared-but-unused bloomFilter, controller.go:667,
    completed into an operator), ship its 32 words to every task as a
    literal, pre-filter the orders scan to bloom members (exact
    members + ~FP rate of the sketch), then run the exact semi-join
    on the survivors. The final result is bloom-independent — FPs are
    dropped by the exact join — so the oracle is the plain semi-join:
    the sketch may only accelerate, never change, the answer. At
    100 TB this is the standard trick for cutting a fact-scan's
    shuffle by the dim's selectivity before the join."""
    words = {
        int(r.word_idx): int(r.word)
        for r in q_bloom_build(spark, sf_dir).collect()  # 32 longs
    }
    arr = F.array(*[F.lit(words.get(i, 0)).cast("long") for i in range(BLOOM_WORDS)])
    o = load_table(spark, sf_dir, "orders")
    h = _h31_spark(F.col("o_custkey").cast("string"))
    # One membership test per hash fn, over the broadcast word array.
    o2 = o.withColumn("_h", h).withColumn("_bloom", arr)
    tests = []
    for a, b in MINHASH_AB[:K_HASHES]:
        tests.append(
            f"((element_at(_bloom, CAST((({a} * _h + {b}) % {P31} % {BLOOM_BITS}) / 32 AS INT) + 1)"
            f" >> CAST((({a} * _h + {b}) % {P31} % {BLOOM_BITS}) % 32 AS INT)) & 1) = 1"
        )
    cand = o2.filter(F.expr(" AND ".join(tests))).drop("_h", "_bloom")
    neg = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    return (
        cand.join(
            F.broadcast(neg.select("c_custkey")),
            cand.o_custkey == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


BLOOM_PROBE_ORACLE = """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    GROUP BY 1
"""


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample of orders by key hash. Reproducible
    across engines/runs/retries (unlike TABLESAMPLE's RNG), composable
    (the same predicate selects the same entities in other tables)."""
    o = load_table(spark, sf_dir, "orders")
    h = _h31_spark(F.col("o_orderkey").cast("string"))
    return o.filter(h % 100 < 10).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
    )


def _sample_oracle() -> str:
    h = _h31_sql("CAST(o_orderkey AS VARCHAR)")
    return f"""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders WHERE {h} % 100 < 10
    """


HLL_TOL = 0.05


def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-source DataSketches HLL
    over document tokens, then a sketch UNION to the corpus total —
    the algebra that lets 1000 executors each ship ~KB of sketch
    instead of re-scanning for every rollup level. The registry row
    stays hash-checkable the same way as approx_distinct: emit the
    EXACT per-scope distinct count plus an in-query bounded-error
    verdict on the sketch estimate; the oracle computes exact + TRUE."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    per_src = toks.groupBy("source").agg(
        F.hll_sketch_agg("token").alias("sk"),
        F.count_distinct("token").alias("exact_distinct"),
    )
    src_rows = per_src.select(
        "source",
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_distinct"))
            <= HLL_TOL * F.col("exact_distinct")
        ).alias("within_tol"),
    )
    glob = per_src.agg(
        F.hll_union_agg("sk").alias("sk"),
    ).crossJoin(
        F.broadcast(toks.agg(F.count_distinct("token").alias("exact_distinct")))
    )
    glob_row = glob.select(
        F.lit("ALL").alias("source"),
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_distinct"))
            <= HLL_TOL * F.col("exact_distinct")
        ).alias("within_tol"),
    )
    return src_rows.unionByName(glob_row)


HLL_UNION_ORACLE = f"""
    WITH toks AS (
        SELECT source,
               unnest({ws_tokens_sql('lower(text)')}) AS token
        FROM documents
    )
    SELECT source, count(DISTINCT token) AS exact_distinct, TRUE AS within_tol
    FROM toks GROUP BY source
    UNION ALL
    SELECT 'ALL' AS source, count(DISTINCT token) AS exact_distinct,
           TRUE AS within_tol
    FROM toks
"""


KMV_K = 64
_KMV_SCALE = float(1 << 60)  # h is a 60-bit md5 prefix


def _kmv_sketches(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(hh, sk): each source's distinct 60-bit token hashes, and its
    KMV sketch, the KMV_K smallest of them."""
    from pyspark.sql import Window as W

    hh = d.select(
        "source",
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"),
    ).select(
        "source",
        F.expr(md5_long_expr("token")).alias("h"),
    ).distinct()
    rk = F.row_number().over(W.partitionBy("source").orderBy("h"))
    sk = hh.withColumn("rk", rk).filter(F.col("rk") <= KMV_K).select("source", "h")
    return hh, sk


def _kmv_est(n: Column, kth: Column) -> Column:
    """The KMV distinct estimate of a sketch of n hashes whose largest
    is kth: exact below KMV_K hashes, else (k-1)/kth normalized."""
    return F.when(n < KMV_K, n).otherwise(
        F.round(F.lit((KMV_K - 1) * _KMV_SCALE) / kth, 0).cast("long")
    )


# DuckDB twin of _kmv_sketches: the CTEs toks, hh and sk
_KMV_SKETCH_CTES = f"""toks AS (
        SELECT source,
               unnest({ws_tokens_sql('lower(text)')}) AS token
        FROM documents
    ),
    hh AS (SELECT DISTINCT source,
                  {md5_long_sql('token')} AS h
           FROM toks),
    sk AS (SELECT source, h FROM (
               SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h) AS rk
               FROM hh) WHERE rk <= {KMV_K})"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch — the mergeable
    cardinality sketch whose STATE is deterministic: the k smallest
    60-bit token hashes per source. Unlike HLL (engine-specific
    registers, oracled via a bounded-error verdict), every KMV field
    here is exact cross-engine: the kth minimum itself, the estimate
    (k-1)/kth_normalized, and the merge law — the union of per-source
    sketches re-sketched must equal the sketch of the whole corpus,
    emitted as merge_exact and pinned TRUE for the ALL row. Per-source
    top-k runs as rank<=k under WindowGroupLimit (k rows per group
    survive the shuffle); the merge touches n_sources*k rows."""
    from pyspark.sql import Window as W

    hh, sk = _kmv_sketches(load_table(spark, sf_dir, "documents"))

    per = (
        sk.groupBy("source")
        .agg(F.max("h").alias("kth_min"), F.count("*").alias("sketch_size"))
        .join(hh.groupBy("source").agg(F.count("*").alias("exact_distinct")), "source")
        .select(
            "source",
            "exact_distinct",
            "sketch_size",
            "kth_min",
            _kmv_est(F.col("sketch_size"), F.col("kth_min")).alias("kmv_est"),
            F.lit(True).alias("merge_exact"),
        )
    )
    # merge path: union of the per-source sketch states, re-sketched
    merged = (
        sk.select("h").distinct()
        .withColumn("rk", F.row_number().over(W.orderBy("h")))
        .filter(F.col("rk") <= KMV_K)
    )
    direct = (
        hh.select("h").distinct()
        .withColumn("rk", F.row_number().over(W.orderBy("h")))
        .filter(F.col("rk") <= KMV_K)
    )
    g = (
        direct.agg(F.max("h").alias("kth_min"), F.count("*").alias("sketch_size"))
        .crossJoin(
            F.broadcast(
                hh.select("h").distinct().agg(F.count("*").alias("exact_distinct"))
            )
        )
        .crossJoin(
            F.broadcast(
                merged.agg(
                    F.max("h").alias("m_kth"), F.count("*").alias("m_n")
                )
            )
        )
        .select(
            F.lit("ALL").alias("source"),
            "exact_distinct",
            "sketch_size",
            "kth_min",
            _kmv_est(F.col("sketch_size"), F.col("kth_min")).alias("kmv_est"),
            (
                (F.col("m_kth") == F.col("kth_min"))
                & (F.col("m_n") == F.col("sketch_size"))
            ).alias("merge_exact"),
        )
    )
    out = per.unionByName(g)
    return out.select(
        "source",
        "exact_distinct",
        "sketch_size",
        "kth_min",
        "kmv_est",
        F.round(
            F.try_divide(
                F.abs(F.col("kmv_est") - F.col("exact_distinct")) * 100.0,
                F.col("exact_distinct"),
            ),
            2,
        ).alias("rel_err_pct"),
        "merge_exact",
    )


KMV_DISTINCT_ORACLE = f"""
    WITH {_KMV_SKETCH_CTES},
    per AS (
        SELECT s.source, e.exact_distinct,
               CAST(count(*) AS BIGINT) AS sketch_size,
               max(s.h) AS kth_min
        FROM sk s JOIN (SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
                        FROM hh GROUP BY 1) e USING (source)
        GROUP BY 1, 2
    ),
    gh AS (SELECT DISTINCT h FROM hh),
    direct AS (SELECT h FROM (
                   SELECT h, row_number() OVER (ORDER BY h) AS rk FROM gh)
               WHERE rk <= {KMV_K}),
    merged AS (SELECT h FROM (
                   SELECT h, row_number() OVER (ORDER BY h) AS rk
                   FROM (SELECT DISTINCT h FROM sk))
               WHERE rk <= {KMV_K}),
    rows_all AS (
        SELECT source, exact_distinct, sketch_size, kth_min,
               CASE WHEN sketch_size < {KMV_K} THEN sketch_size
                    ELSE CAST(round({(KMV_K - 1)} * {_KMV_SCALE} / kth_min, 0)
                              AS BIGINT) END AS kmv_est,
               TRUE AS merge_exact
        FROM per
        UNION ALL
        SELECT 'ALL', (SELECT CAST(count(*) AS BIGINT) FROM gh),
               (SELECT CAST(count(*) AS BIGINT) FROM direct),
               (SELECT max(h) FROM direct),
               CASE WHEN (SELECT count(*) FROM direct) < {KMV_K}
                    THEN (SELECT CAST(count(*) AS BIGINT) FROM direct)
                    ELSE CAST(round({(KMV_K - 1)} * {_KMV_SCALE}
                                    / (SELECT max(h) FROM direct), 0)
                              AS BIGINT) END,
               (SELECT max(h) FROM merged) = (SELECT max(h) FROM direct)
               AND (SELECT count(*) FROM merged) = (SELECT count(*) FROM direct)
    )
    SELECT source, exact_distinct, sketch_size, kth_min, kmv_est,
           round(abs(kmv_est - exact_distinct) * 100.0
                 / NULLIF(exact_distinct, 0), 2) AS rel_err_pct,
           merge_exact
    FROM rows_all
"""


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH ALGEBRA over source pairs: estimate every pair's token
    union / intersection / Jaccard from the per-source KMV sketches
    alone — the cross-corpus OVERLAP MATRIX a mixing/dedup planner
    wants at 100 TB, where the exact answer needs a pairwise distinct
    join over the corpus but the sketch answer touches n_sources * k
    rows (union sketch = k smallest of the two sketches' union;
    intersection by inclusion-exclusion, clamped at 0).

    The exact per-pair Jaccard is carried alongside as the calibration
    column (same pattern as ann_recall / kmv_distinct's rel_err): at
    fixture scale it is cheap and pins the estimator's honesty in the
    hash; at 100 TB a user would drop it and keep the sketch side.
    Every field is deterministic (md5-derived 60-bit hashes), so the
    oracle reproduces the sketches exactly."""
    from pyspark.sql import Window as W

    hh, sk = _kmv_sketches(load_table(spark, sf_dir, "documents"))

    stats = sk.groupBy("source").agg(
        F.max("h").alias("kth"), F.count("*").alias("n")
    ).select("source", _kmv_est(F.col("n"), F.col("kth")).alias("est"))
    srcs = hh.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .crossJoin(srcs.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    # union sketch per pair: k smallest of the two sketches' union —
    # pair count is domain-bounded (sources), rows are sketch-sized
    psk = F.broadcast(pairs).join(
        sk, (sk.source == F.col("src_a")) | (sk.source == F.col("src_b"))
    ).select("src_a", "src_b", "h").distinct()
    urk = F.row_number().over(W.partitionBy("src_a", "src_b").orderBy("h"))
    u = psk.withColumn("rk", urk).filter(F.col("rk") <= KMV_K)
    ustats = u.groupBy("src_a", "src_b").agg(
        F.max("h").alias("u_kth"), F.count("*").alias("u_n")
    ).select(
        "src_a", "src_b", _kmv_est(F.col("u_n"), F.col("u_kth")).alias("union_est")
    )
    # exact calibration side
    ex = hh.groupBy("source").agg(F.count("*").alias("ex"))
    # pre-repartition on the group key BEFORE the dedupe: unlike the
    # sketch-sized psk above, this fan-out is corpus-scale (distinct
    # hashes x ~n_sources) and a distinct over it is the
    # partial-aggregate OOM class
    pex = F.broadcast(pairs).join(
        hh, (hh.source == F.col("src_a")) | (hh.source == F.col("src_b"))
    ).select("src_a", "src_b", "h").repartition(
        spark.sparkContext.defaultParallelism * 4, "src_a", "src_b", "h"
    ).distinct().groupBy("src_a", "src_b").agg(
        F.count("*").alias("ex_union")
    )
    sa = stats.select(F.col("source").alias("src_a"), F.col("est").alias("est_a"))
    sb = stats.select(F.col("source").alias("src_b"), F.col("est").alias("est_b"))
    ea = ex.select(F.col("source").alias("src_a"), F.col("ex").alias("ex_a"))
    eb = ex.select(F.col("source").alias("src_b"), F.col("ex").alias("ex_b"))
    inter_est = F.greatest(
        F.lit(0).cast("long"), F.col("est_a") + F.col("est_b") - F.col("union_est")
    )
    inter_ex = F.col("ex_a") + F.col("ex_b") - F.col("ex_union")
    return (
        ustats.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .join(pex, ["src_a", "src_b"])
        .join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .select(
            "src_a", "src_b", "union_est",
            inter_est.alias("inter_est"),
            (F.round(F.try_divide(inter_est, F.col("union_est")), 4) + 0.0)
            .alias("jaccard_est"),
            (F.round(F.try_divide(inter_ex, F.col("ex_union")), 4) + 0.0)
            .alias("jaccard_exact"),
        )
    )


KMV_SET_OPS_ORACLE = f"""
    WITH {_KMV_SKETCH_CTES},
    stats AS (
        SELECT source,
               CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS BIGINT)
                    ELSE CAST(round({(KMV_K - 1)} * {_KMV_SCALE} / max(h), 0)
                              AS BIGINT) END AS est
        FROM sk GROUP BY 1
    ),
    srcs AS (SELECT DISTINCT source FROM hh),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    u AS (
        SELECT src_a, src_b, h,
               row_number() OVER (PARTITION BY src_a, src_b
                                  ORDER BY h) AS rk
        FROM (SELECT DISTINCT p.src_a, p.src_b, s.h
              FROM pairs p JOIN sk s
                ON s.source = p.src_a OR s.source = p.src_b)
    ),
    ustats AS (
        SELECT src_a, src_b,
               CASE WHEN count(*) < {KMV_K}
                    THEN CAST(count(*) AS BIGINT)
                    ELSE CAST(round({(KMV_K - 1)} * {_KMV_SCALE}
                                    / max(h), 0) AS BIGINT) END AS union_est
        FROM u WHERE rk <= {KMV_K} GROUP BY 1, 2
    ),
    ex AS (SELECT source, CAST(count(*) AS BIGINT) AS ex FROM hh GROUP BY 1),
    pex AS (
        SELECT p.src_a, p.src_b, CAST(count(DISTINCT e.h) AS BIGINT) AS ex_union
        FROM pairs p JOIN hh e ON e.source = p.src_a OR e.source = p.src_b
        GROUP BY 1, 2
    )
    SELECT us.src_a, us.src_b, us.union_est,
           GREATEST(CAST(0 AS BIGINT),
                    sa.est + sb.est - us.union_est) AS inter_est,
           round(GREATEST(CAST(0 AS BIGINT), sa.est + sb.est - us.union_est)
                 * 1.0 / NULLIF(us.union_est, 0), 4) + 0.0 AS jaccard_est,
           round((ea.ex + eb.ex - px.ex_union) * 1.0
                 / NULLIF(px.ex_union, 0), 4) + 0.0 AS jaccard_exact
    FROM ustats us
    JOIN stats sa ON sa.source = us.src_a
    JOIN stats sb ON sb.source = us.src_b
    JOIN pex px ON px.src_a = us.src_a AND px.src_b = us.src_b
    JOIN ex ea ON ea.source = us.src_a
    JOIN ex eb ON eb.source = us.src_b
"""


CMS_DEPTH = 4
CMS_WIDTH = 128


def q_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over event
    user frequencies — the streaming point-frequency sketch. The
    sketch STATE is fully deterministic (md5-derived row hashes), so
    every field is exactly oracled: the per-cell counts, the min-over-
    rows estimate for the top-10 exact-heaviest users, and the
    structural overestimate guarantee (est >= exact), emitted per row
    and pinned TRUE.

    Scale design: the sketch build is one hash aggregate over
    (row, cell) — a key domain BOUNDED at depth*width regardless of
    corpus size (the entire sketch is 4x128 = 512 cells here), so
    the aggregate's reduce side is constant-size and the
    map side combines locally; it never materializes per-user state.
    The probe side joins candidates to the 512-row sketch broadcast
    (bounded by construction, exempt from the compressed-size trap).
    The top-10 candidate list itself comes from an exact groupBy —
    the expensive path a production use replaces with the sketch; it
    doubles here as the calibration truth."""
    e = load_table(spark, sf_dir, "events")
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")
    cell = F.expr(
        md5_long_expr("concat(cast(j as string), ':', cast(user_id as string))")
        + f" % {CMS_WIDTH}"
    )
    hashed = e.select("user_id", rows).select("user_id", "j", cell.alias("cell"))
    sketch = hashed.groupBy("j", "cell").agg(F.count("*").alias("cnt"))
    top = (
        e.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    probe = top.select("user_id", "exact_n", rows).select(
        "user_id", "exact_n", "j", cell.alias("cell")
    )
    return (
        probe.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_n")).alias("overestimates"),
            (F.col("cms_est") - F.col("exact_n")).alias("abs_err"),
        )
    )


CMS_SKETCH_ORACLE = f"""
    WITH hashed AS (
        SELECT user_id, j,
               {md5_long_sql("CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")}
                   % {CMS_WIDTH} AS cell
        FROM events, (SELECT unnest(range(0, {CMS_DEPTH})) AS j)
    ),
    sketch AS (
        SELECT j, cell, count(*) AS cnt FROM hashed GROUP BY 1, 2
    ),
    top AS (
        SELECT user_id, count(*) AS exact_n
        FROM events GROUP BY user_id
        ORDER BY exact_n DESC, user_id LIMIT 10
    ),
    probe AS (
        SELECT t.user_id, t.exact_n, j,
               {md5_long_sql("CAST(j AS VARCHAR) || ':' || CAST(t.user_id AS VARCHAR)")}
                   % {CMS_WIDTH} AS cell
        FROM top t, (SELECT unnest(range(0, {CMS_DEPTH})) AS j)
    )
    SELECT p.user_id, p.exact_n,
           CAST(min(s.cnt) AS BIGINT) AS cms_est,
           min(s.cnt) >= p.exact_n AS overestimates,
           CAST(min(s.cnt) - p.exact_n AS BIGINT) AS abs_err
    FROM probe p JOIN sketch s ON s.j = p.j AND s.cell = p.cell
    GROUP BY p.user_id, p.exact_n
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("cms_sketch", q_cms_sketch, CMS_SKETCH_ORACLE,
                  ("sketch", "approx", "scale"),
                  "Count-min sketch with deterministic md5 row hashes: "
                  "bounded 4x128 cell state, min-over-rows estimates for "
                  "the exact top-10, overestimate law pinned per row."),
        QuerySpec("kmv_distinct", q_kmv_distinct, KMV_DISTINCT_ORACLE,
                  ("sketch", "approx", "llm"),
                  "KMV k-minimum-values sketch: exact deterministic state, "
                  "estimate, and merge law pinned TRUE — fully oracled."),
        QuerySpec("kmv_set_ops", q_kmv_set_ops, KMV_SET_OPS_ORACLE,
                  ("sketch", "approx", "llm", "scale"),
                  "Cross-source overlap matrix from KMV sketch algebra "
                  "(union/intersection/Jaccard estimates + exact calibration)."),
        QuerySpec("hll_union", q_hll_union, HLL_UNION_ORACLE,
                  ("sketch", "approx", "llm"),
                  "Mergeable per-source HLL sketches + union, bounded-error verdict."),
        QuerySpec("bloom_probe_join", q_bloom_probe_join, BLOOM_PROBE_ORACLE,
                  ("sketch", "join"),
                  "Bloom-pruned semi-join: sketch prefilter + exact verify."),
        QuerySpec("bloom_build", q_bloom_build, _bloom_oracle(), ("sketch",),
                  "1024-bit Bloom filter build over a key set "
                  "(reference's unused bloomFilter, controller.go:667, made real)."),
        QuerySpec("sample_hash", q_sample_hash, _sample_oracle(), ("sketch", "sampling"),
                  "Deterministic hash-based ~10% sample."),
    ]
