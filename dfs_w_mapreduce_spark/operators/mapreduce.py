"""Generic map/reduce operator pair — the reference's core compute contract.

The reference's entire query surface is a user-supplied job binary
implementing (SURVEY.md §2.2, reference dfs/wordcountjob.go:16-39):

    Map(lineNumber int, line []byte) []keyValuePair          # 1 -> 0..N
    Reduce(key []byte, values [][]byte) keyValuePair         # per-key agg

re-expressed here in three tiers, fastest first:

1. **Expression tier** (JVM, whole-stage codegen): ``flat_map_expr`` /
   ``reduce_by_key`` — the map fn is a Column expression producing an
   array of (key, value) structs; reduce is ``groupBy().agg()``.
   Catalyst gets partial aggregation (the combiner the reference
   lacks), pushdown, and codegen for free.  Both reference jobs fit
   this tier.
2. **Arrow tier** (vectorized Python): ``flat_map_pandas`` /
   ``reduce_apply_in_pandas`` — arbitrary Python logic at Arrow batch
   granularity; ``applyInPandas`` reproduces Reduce's full
   ``(key, all values)`` generality.
3. **Grouped-values materialization**: ``group_values`` — the
   reference's ``keyListOfValuesPair`` (wordcountjob.go:189-192) as a
   ``key -> sorted array<value>`` DataFrame, for consumers that truly
   need the value list (prefer direct aggregates; a giant hot key's
   value list is a memory hazard at 100 TB, which is why this tier is
   explicitly last).

Scale notes: tier 1 shuffles pre-aggregated rows (map-side combine);
tier 2 shuffles raw pairs exactly like the reference's md5(key)%R
shuffle (node.go:259-264) but through Spark's spillable sort shuffle;
AQE handles skewed keys (the reference would OOM its in-memory
reduce groups, wordcountjob.go:44-68).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.functions.text import ws_tokens, ws_tokens_sql

# ---------------------------------------------------------------- tier 1

KV_SCHEMA = "key string, value string"


def flat_map_expr(df: DataFrame, pairs_expr: Column) -> DataFrame:
    """Map tier 1: ``pairs_expr`` evaluates per input row to an
    ``array<struct<key,value>>``; one output row per element (0..N),
    matching the reference Map contract.  Stays in codegen."""
    return df.select(F.explode(pairs_expr).alias("kv")).select("kv.key", "kv.value")


def reduce_by_key(df: DataFrame, *aggs: Column, key: str = "key") -> DataFrame:
    """Reduce tier 1: per-key aggregate expressions (partial+final)."""
    return df.groupBy(key).agg(*aggs)


def map_reduce(df: DataFrame, pairs_expr: Column, *aggs: Column) -> DataFrame:
    """The reference's fixed chain: scan -> map -> shuffle -> reduce."""
    return reduce_by_key(flat_map_expr(df, pairs_expr), *aggs)


# Reference chunks are fixed-size line runs (client.go line-chunked put);
# the synthetic A1 corpus maps doc_id runs onto chunks at this width.
CHUNK_LINES = 100


def with_line_numbers(
    lines: DataFrame, chunk_col: Column, order_col: Column
) -> DataFrame:
    """The reference Map's ``lineNumber`` argument (wordcountjob.go:16,
    204-224: a 0-based counter *per chunk*, reset for every map task's
    chunk) as a Spark operator: a partition-local row_number over a
    deterministic chunk key. Planned as a PARTITIONED window — the
    shuffle keys on `chunk`, so no single-partition exchange; at 100 TB
    each chunk's numbering is computed where its rows land, exactly like
    the reference's per-chunk counter."""
    w = W.partitionBy(chunk_col).orderBy(order_col)
    return lines.withColumn("chunk", chunk_col).withColumn(
        "line_number", F.row_number().over(w) - 1
    )


# ---------------------------------------------------------------- tier 2


def flat_map_pandas(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str = KV_SCHEMA,
) -> DataFrame:
    """Map tier 2: arbitrary Python map over Arrow batches
    (``mapInPandas``).  ``fn`` receives a pandas DataFrame of input
    rows and returns any number of output rows — the 1->0..N UDTF
    shape of the reference Map, vectorized."""

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(runner, schema=schema)


def reduce_apply_in_pandas(
    df: DataFrame,
    fn: Callable[[str, pd.Series], Any],
    value_col: str = "value",
    key: str = "key",
    schema: str = KV_SCHEMA,
) -> DataFrame:
    """Reduce tier 2: fully general ``Reduce(key, values) -> (key, v)``
    via ``applyInPandas`` — the UDAF escape hatch equivalent to the
    reference's arbitrary job binary (node.go:556-590 execs it; here
    the "binary" is a Python closure shipped by Spark)."""

    def runner(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf[key].iloc[0]
        return pd.DataFrame({"key": [k], "value": [fn(k, pdf[value_col])]})

    return df.groupBy(key).applyInPandas(runner, schema=schema)


# ---------------------------------------------------------------- tier 3


def group_values(df: DataFrame, key: str = "key", value_col: str = "value") -> DataFrame:
    """The reference's ``keyListOfValuesPair``: key -> sorted value
    array (sorted for deterministic comparison; the reference's hash
    grouping is unordered)."""
    return df.groupBy(key).agg(
        F.array_sort(F.collect_list(value_col)).alias("values")
    )


# ----------------------------------------------------------- job facade


class Job:
    """The reference's job-submission UX on Spark: a user supplies a
    Map and a Reduce, the engine runs the fixed chain.

    Reference contract (wordcountjob.go:16-39): a Go binary exposing
    ``Map(lineNumber, line) []keyValuePair`` and
    ``Reduce(key, values) keyValuePair``, submitted via
    ``compute <job> <input> <output>`` (client.go:806-811).  Here the
    "binary" is two Python callables shipped by cloudpickle; the chain
    (scan -> map -> shuffle -> group -> reduce -> sink) is the same,
    but runs on Spark's spillable shuffle with AQE instead of the
    reference's in-memory md5-mod-R shuffle (node.go:259-334).

    >>> job = Job(map_fn=lambda line: [(w, "1") for w in line.split()],
    ...           reduce_fn=lambda key, values: str(len(values)))
    >>> result = job.run(spark, lines_df)        # key/value DataFrame
    """

    def __init__(self, map_fn, reduce_fn):
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn

    def run(self, spark, lines: DataFrame, text_col: str = "value") -> DataFrame:
        import pandas as pd

        map_fn, reduce_fn = self.map_fn, self.reduce_fn

        def mapper(pdf: pd.DataFrame) -> pd.DataFrame:
            pairs = [kv for line in pdf[text_col] for kv in map_fn(line)]
            return pd.DataFrame(pairs, columns=["key", "value"])

        mapped = flat_map_pandas(lines.select(F.col(text_col)), mapper)
        return reduce_apply_in_pandas(
            mapped, lambda k, values: reduce_fn(k, list(values))
        )


def load_user_job(path: str):
    """Load a user-supplied job module (``map_fn``/``reduce_fn``) from
    an arbitrary file path — the reference's user job binary
    (client.go:806-811 submits it, node.go:205-239 execs it) as a
    Python module.

    The module lives at a user path, NOT on any importable package
    path, so executors could never re-import it by name: register it
    for pickle-BY-VALUE with Spark's vendored cloudpickle (the
    standalone cloudpickle package is invisible to Spark's serializer
    — see sources/chunked_source.py for the same rule)."""
    import importlib.util
    import sys as _sys
    from pathlib import Path as _Path

    from pyspark import cloudpickle

    p = _Path(path)
    mod_name = f"_spark_graft_user_job_{p.stem}"
    spec = importlib.util.spec_from_file_location(mod_name, p)
    mod = importlib.util.module_from_spec(spec)
    _sys.modules[mod_name] = mod  # register_pickle_by_value requires it
    spec.loader.exec_module(mod)
    for fn in ("map_fn", "reduce_fn"):
        if not callable(getattr(mod, fn, None)):
            raise ValueError(f"user job {path} must define {fn}()")
    cloudpickle.register_pickle_by_value(mod)
    return mod


def run_user_job(spark, job_path: str, lines: DataFrame) -> DataFrame:
    """compute(<user job .py>, <stored lines>) -> key/value DataFrame:
    the full reference compute contract with user code."""
    mod = load_user_job(job_path)
    return Job(mod.map_fn, mod.reduce_fn).run(spark, lines)


# ---------------------------------------------------------- last resort


def flat_map_partitions(df: DataFrame, fn, schema: str = KV_SCHEMA) -> DataFrame:
    """Tier 4 (last resort): raw per-partition imperative logic via
    RDD mapPartitions — the closest analog to the reference's map task
    reading its whole chunk (wordcountjob.go:204-224). Row-at-a-time
    Python with no Arrow batching: ~10-100x slower than tier 2; exists
    for the rare operator that needs partition-level state the
    DataFrame API can't express. Everything in this repo uses tiers
    1-2."""

    def runner(it):
        yield from fn(it)

    return df.rdd.mapPartitions(runner).toDF(schema)


# ------------------------------------------------------------- registry


def _q_mr_wordcount_generic(spark, sf_dir: str) -> DataFrame:
    """WordCount routed through the generic tier-1 map/reduce API —
    proves the generic operator pair reproduces job #1 exactly."""
    from dfs_w_mapreduce_spark.sources.readers import text_lines

    lines = text_lines(spark, sf_dir)
    tokens = ws_tokens(F.col("value"))
    pairs = F.transform(tokens, lambda t: F.struct(t.alias("key"), F.lit("1").alias("value")))
    return map_reduce(lines, pairs, F.count("*").alias("cnt")).withColumnRenamed(
        "key", "word"
    )


def _q_mr_user_job(spark, sf_dir: str) -> DataFrame:
    """Arbitrary-user-code fidelity: the reference's compute ships ANY
    job binary over a stored file (client.go:806-811, node.go:239);
    here a user .py exposing map_fn/reduce_fn is loaded FROM ITS FILE
    PATH through the same loader tools/run_job.py uses, shipped to
    executors by value, and run through the generic Job tier over the
    stored line corpus. The oracle recomputes the job's semantics
    (initial-letter frequency) in SQL."""
    from pathlib import Path

    from dfs_w_mapreduce_spark.sources.readers import text_lines

    path = Path(__file__).resolve().parent.parent / "jobs" / "user_initial_letters.py"
    return run_user_job(spark, str(path), text_lines(spark, sf_dir))


MR_CHAIN_MIN_CNT = 50


def _q_mr_job_chain(spark, sf_dir: str) -> DataFrame:
    """Chained MapReduce jobs through stored intermediate results —
    the reference's end-to-end loop (compute -> result stored back to
    the DFS -> next compute reads it, reference dfs/client/client.go
    job flow): job #1 (WordCount) materializes to parquet, job #2 is a
    separate map/filter over the STORED output (frequent words +
    share-of-corpus). The handoff is a real write+read, not plan
    composition, so the chain exercises the store-results contract,
    and job #2's scan benefits from the same pushdown any fresh table
    gets."""
    import os
    import tempfile

    from dfs_w_mapreduce_spark.sources.readers import text_lines
    from dfs_w_mapreduce_spark.jobs.wordcount import wordcount

    counts = wordcount(text_lines(spark, sf_dir))
    out = os.path.join(tempfile.mkdtemp(prefix="graft_mr_chain_"), "wc")
    counts.write.mode("overwrite").parquet(out)
    stored = spark.read.schema(counts.schema).parquet(out)
    total = stored.agg(F.sum("cnt").alias("n_total"))
    return (
        stored.filter(F.col("cnt") >= MR_CHAIN_MIN_CNT)
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "cnt",
            F.round(F.col("cnt") / F.col("n_total"), 6).alias("share"),
        )
    )


def _q_kv_group_values(spark, sf_dir: str) -> DataFrame:
    """keyListOfValuesPair materialization over the skewed kv fixture.

    The API form (``group_values``) returns ``array<string>``; the
    registry row serializes it — the round driver's canonicalizer
    (pandas factorize) hard-errors on list-valued cells."""
    from dfs_w_mapreduce_spark.sources.readers import kv_pairs

    return group_values(kv_pairs(spark, sf_dir)).select(
        "key", F.array_join("values", "\u001f").alias("values")
    )


def _q_mr_map_positional(spark, sf_dir: str) -> DataFrame:
    """Positional Map: the reference's ``Map(lineNumber, line)`` contract
    (wordcountjob.go:16 — neither reference job reads the argument, but
    the runner supplies it per chunk, wordcountjob.go:213-224) exercised
    end to end: a first-occurrence inverted index — per word, its count
    and the global position (chunk * CHUNK_LINES + line_number) of its
    first appearance in the corpus."""
    from dfs_w_mapreduce_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    lines = with_line_numbers(
        docs.select(F.col("text").alias("value"), "doc_id"),
        F.floor(F.col("doc_id") / CHUNK_LINES),
        F.col("doc_id"),
    )
    pos = (F.col("chunk") * CHUNK_LINES + F.col("line_number")).cast("bigint")
    tokens = ws_tokens(F.col("value"))
    pairs = F.explode(tokens).alias("word")
    return (
        lines.select(pairs, pos.alias("pos"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"), F.min("pos").alias("first_pos"))
    )


MR_MAP_POSITIONAL_ORACLE = f"""
    WITH lines AS (
        SELECT text AS value,
               doc_id // {CHUNK_LINES} AS chunk,
               row_number() OVER (PARTITION BY doc_id // {CHUNK_LINES}
                                  ORDER BY doc_id) - 1 AS line_number
        FROM documents
    )
    SELECT word,
           count(*) AS cnt,
           CAST(min(chunk * {CHUNK_LINES} + line_number) AS BIGINT) AS first_pos
    FROM (SELECT unnest({ws_tokens_sql('value')}) AS word,
                 chunk, line_number
          FROM lines)
    GROUP BY word
"""


def _q_mr_reduce_pandas(spark, sf_dir: str) -> DataFrame:
    """Tier-2 generality: arbitrary Python Reduce(key, values) via
    applyInPandas — the reference's Atoi/sum/Itoa reduce shape
    (wordcountjob.go:29-39) on the skewed kv fixture."""
    from dfs_w_mapreduce_spark.sources.readers import kv_pairs

    return reduce_apply_in_pandas(
        kv_pairs(spark, sf_dir), lambda k, values: str(values.astype(int).sum())
    )


NGRAM_N = 3


@F.udtf(returnType="idx int, ngram string")
class NgramUDTF:
    """UDTF tier: a real Python UDTF (1 row -> 0..N rows, the exact
    reference Map arity) expanding word trigrams. Row-at-a-time
    Python is the documented slow path — this tier exists for API
    parity (SURVEY §2.5 UDF/UDAF/UDTF row), the expression tier is
    the hot path for the same shape (text_chunking/_shingles)."""

    def eval(self, text: str):
        toks = [t for t in (text or "").split() if t]
        for i in range(len(toks) - NGRAM_N + 1):
            yield i, " ".join(toks[i : i + NGRAM_N])


def _q_mr_map_udtf(spark, sf_dir: str) -> DataFrame:
    from dfs_w_mapreduce_spark.catalog import load_table

    spark.udtf.register("ngrams_udtf", NgramUDTF)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, n.idx, n.ngram "
        "FROM _docs_udtf d, LATERAL ngrams_udtf(d.text) n"
    )


MR_MAP_UDTF_ORACLE = f"""
    SELECT doc_id, CAST(i - 1 AS INT) AS idx,
           array_to_string(w[i:i + {NGRAM_N - 1}], ' ') AS ngram
    FROM (SELECT doc_id,
                 {ws_tokens_sql('text')} AS w
          FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(w) - {NGRAM_N - 1})) AS i) g
"""


def _q_cogroup_pandas(spark, sf_dir: str) -> DataFrame:
    """Two-input grouped map via cogroup + applyInPandas: per order
    key, both the order rows AND its lineitems arrive as pandas frames
    in one function call — the co-group the reference cannot express
    (its ComputeRequest takes exactly one input file; SURVEY §2.5
    joins row). Output: order count check + decimal-exact lineitem
    revenue per order, computed in Python, verified against a plain
    SQL join-aggregate."""
    import decimal

    import pandas as pd

    from dfs_w_mapreduce_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )

    def merge(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:  # lineitem without order: excluded (inner semantics)
            return pd.DataFrame(
                columns=["o_orderkey", "n_orders", "n_items", "revenue"]
            )
        # decimal per-item rounding, exact and order-independent
        rev = sum(
            (
                decimal.Decimal(str(p)) * (1 - decimal.Decimal(str(d)))
            ).quantize(decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP)
            for p, d in zip(ldf["l_extendedprice"], ldf["l_discount"])
        )
        return pd.DataFrame(
            {
                "o_orderkey": [key[0]],
                "n_orders": [len(odf)],
                "n_items": [len(ldf)],
                # quantize, not round(): Python round on Decimal is
                # HALF_EVEN; DuckDB rounds HALF_UP
                "revenue": [
                    float(
                        decimal.Decimal(rev).quantize(
                            decimal.Decimal("0.01"),
                            rounding=decimal.ROUND_HALF_UP,
                        )
                    )
                ],
            }
        )

    return (
        orders.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            merge, "o_orderkey long, n_orders long, n_items long, revenue double"
        )
    )


def _q_mr_map_arrow(spark, sf_dir):
    """mapInArrow tier: the zero-copy sibling of the Arrow/pandas map
    tier — per-batch pyarrow.compute kernels with no pandas
    materialization. The batch-level Map contract (SURVEY.md §2.2 D2)
    at its cheapest Python transport: for genuinely columnar kernels
    (lengths, casts, hashes) this skips the pandas Block manager
    entirely. Per-doc char length via pa.compute.utf8_length, then a
    JVM-side length-bucket rollup."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def lengths(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(batch.column("text")), pa.int64()),
                ],
                names=["doc_id", "text_len"],
            )

    from dfs_w_mapreduce_spark.catalog import load_table as _lt
    from pyspark.sql import functions as F

    d = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    per_doc = d.mapInArrow(lengths, "doc_id long, text_len long")
    return (
        per_doc.groupBy((F.col("text_len") / 50).cast("long").alias("len_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("text_len").alias("sum_len"),
            F.min("doc_id").alias("min_doc"),
        )
    )


MR_MAP_ARROW_ORACLE = """
    SELECT CAST(length(text) // 50 AS BIGINT) AS len_bucket,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_len,
           min(doc_id) AS min_doc
    FROM documents
    GROUP BY 1
"""


def _q_udaf_grouped_agg(spark, sf_dir):
    """True UDAF tier: a pandas_udf GROUPED_AGG (Arrow-batched custom
    aggregate) — quantity-weighted mean price per return flag. The
    reference's Reduce receives (key, all values) and returns one
    pair (wordcountjob.go:44-68); a grouped-agg pandas UDF is that
    contract with vectorized transport and partial-merge planning.

    Numeric discipline: prices are 2-decimal by construction, so
    cents = round(price*100) is exact int64; both the weighted sum
    and the weight sum accumulate in int64 (order-independent), and
    the single double division at the end is deterministic on both
    engines."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg_cents(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        w = qty.astype("int64")
        tot_w = int(w.sum())
        if tot_w == 0:
            return float("nan")
        return float((cents * w).sum()) / (100.0 * tot_w)

    from dfs_w_mapreduce_spark.catalog import load_table as _lt
    from pyspark.sql import functions as F

    @pandas_udf("long")
    def n_rows(qty: pd.Series) -> int:
        # Spark forbids mixing grouped-agg pandas UDFs with built-in
        # aggregates in one agg(), so the count is a UDAF too.
        return int(len(qty))

    li = _lt(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg_cents("l_extendedprice", "l_quantity"), 4).alias("wavg_price"),
        n_rows("l_quantity").alias("n_items"),
    )


UDAF_GROUPED_AGG_ORACLE = """
    SELECT l_returnflag,
           round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / (100.0 * sum(CAST(l_quantity AS BIGINT))), 4) AS wavg_price,
           count(*) AS n_items
    FROM lineitem
    GROUP BY 1
"""


COGROUP_ORACLE = """
    SELECT o_orderkey,
           count(DISTINCT o_orderkey) AS n_orders,
           count(l_orderkey) AS n_items,
           CAST(round(coalesce(sum(round(CAST(l_extendedprice AS DECIMAL(18,4))
                                         * (1 - CAST(l_discount AS DECIMAL(18,4))), 4)),
                               0), 2) AS DOUBLE) AS revenue
    FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
"""


def specs():
    from dfs_w_mapreduce_spark.registry import QuerySpec
    from dfs_w_mapreduce_spark.sources.readers import KV_PAIRS_SQL, TEXT_LINES_SQL

    return [
        QuerySpec(
            name="mr_wordcount_generic",
            fn=_q_mr_wordcount_generic,
            oracle=f"""
                SELECT word, count(*) AS cnt
                FROM (SELECT unnest({ws_tokens_sql('value')}) AS word
                      FROM ({TEXT_LINES_SQL}))
                GROUP BY word
            """,
            tags=("mapreduce", "generic"),
            doc="Generic tier-1 map/reduce API reproducing reference job #1.",
        ),
        QuerySpec(
            name="mr_job_chain",
            fn=_q_mr_job_chain,
            oracle=f"""
                WITH wc AS (
                    SELECT word, count(*) AS cnt
                    FROM (SELECT unnest({ws_tokens_sql('value')}) AS word
                          FROM ({TEXT_LINES_SQL}))
                    GROUP BY word
                ),
                tot AS (SELECT sum(cnt) AS n_total FROM wc)
                SELECT word, CAST(cnt AS BIGINT) AS cnt,
                       round(cnt * 1.0 / n_total, 6) AS share
                FROM wc CROSS JOIN tot
                WHERE cnt >= {MR_CHAIN_MIN_CNT}
            """,
            tags=("mapreduce", "chain", "storage"),
            doc="Two chained jobs through a stored intermediate "
                "(compute -> store -> next compute).",
        ),
        QuerySpec(
            name="mr_user_job",
            fn=_q_mr_user_job,
            oracle=f"""
                SELECT key, CAST(count(*) AS VARCHAR) AS value
                FROM (SELECT lower(tok[1]) AS key
                      FROM (SELECT unnest({ws_tokens_sql('value')}) AS tok
                            FROM ({TEXT_LINES_SQL})))
                WHERE key BETWEEN 'a' AND 'z'
                GROUP BY key
            """,
            tags=("mapreduce", "user-job", "generic"),
            doc="User-supplied .py job (map_fn/reduce_fn) loaded from a file "
                "path and run through the generic Job tier.",
        ),
        QuerySpec(
            name="kv_group_values",
            fn=_q_kv_group_values,
            oracle=f"""
                SELECT key, array_to_string(list_sort(list(value)), chr(31)) AS values
                FROM ({KV_PAIRS_SQL})
                GROUP BY key
            """,
            tags=("mapreduce", "grouping"),
            doc="key -> sorted value list (reference keyListOfValuesPair).",
        ),
        QuerySpec(
            name="mr_map_positional",
            fn=_q_mr_map_positional,
            oracle=MR_MAP_POSITIONAL_ORACLE,
            tags=("mapreduce", "positional"),
            doc="Map(lineNumber, line) contract: per-chunk line numbering "
                "feeding a first-occurrence inverted index.",
        ),
        QuerySpec(
            name="mr_map_udtf",
            fn=_q_mr_map_udtf,
            oracle=MR_MAP_UDTF_ORACLE,
            tags=("mapreduce", "udtf"),
            doc="Python UDTF map tier (lateral trigram expansion).",
        ),
        QuerySpec(
            name="cogroup_pandas",
            fn=_q_cogroup_pandas,
            oracle=COGROUP_ORACLE,
            tags=("mapreduce", "cogroup", "pandas"),
            doc="Two-input grouped map (cogroup+applyInPandas) — the "
                "co-group the single-input reference chain cannot express.",
        ),
        QuerySpec(
            name="mr_map_arrow",
            fn=_q_mr_map_arrow,
            oracle=MR_MAP_ARROW_ORACLE,
            tags=("mapreduce", "arrow"),
            doc="mapInArrow map tier (pyarrow kernels, no pandas).",
        ),
        QuerySpec(
            name="udaf_grouped_agg",
            fn=_q_udaf_grouped_agg,
            oracle=UDAF_GROUPED_AGG_ORACLE,
            tags=("mapreduce", "udaf", "pandas"),
            doc="pandas_udf GROUPED_AGG weighted mean (int64-exact accumulation).",
        ),
        QuerySpec(
            name="mr_reduce_pandas",
            fn=_q_mr_reduce_pandas,
            oracle=f"""
                SELECT key, CAST(CAST(sum(CAST(value AS BIGINT)) AS BIGINT) AS VARCHAR) AS value
                FROM ({KV_PAIRS_SQL})
                GROUP BY key
            """,
            tags=("mapreduce", "udaf", "pandas"),
            doc="applyInPandas UDAF escape hatch (arbitrary Reduce parity).",
        ),
    ]


# Workers deserialize the UDTF class by value: the driver session's
# Python workers don't have this repo on their import path, and Spark
# serializes with its VENDORED cloudpickle — registering with the
# standalone cloudpickle package does nothing (same coupling as
# operators/multimodal.py / sources/chunked_source.py).
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
