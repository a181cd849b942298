"""Corpus-frequency operators for the LLM-pipeline surface: streaming
heavy hitters, retrieval rank fusion, and winnowed substring dedup.

These extend the mandated training-data-pipeline families (SURVEY.md
§2.6) beyond what rounds 1-2 shipped:

- ``heavy_hitters``: the Misra-Gries frequent-items sketch as a real
  per-partition ``mapInPandas`` pass whose candidate set bounds the
  final shuffle — the canonical "find frequent tokens in 100 TB
  without shuffling 100 TB" shape.  Exact recount of candidates makes
  the result deterministic and hash-checkable.
- ``rrf_fusion``: reciprocal-rank fusion (Cormack et al., SIGIR'09)
  of two independent retrieval rankers (BM25 and term-set Jaccard) —
  the standard hybrid-retrieval combiner.
- ``substring_winnow``: winnowing fingerprints (Schleimer et al.,
  SIGMOD'03 — the MOSS algorithm) over character k-grams: per-window
  minimum hash sampling selects ~1/w of the grams as fingerprints;
  documents sharing >= 3 selected grams are substring-duplicate
  candidates.  This is the local-similarity complement to the
  whole-document MinHash family in operators/dedup.py.

The reference has no frequency/retrieval surface at all (its compute
is the fixed two-job MapReduce chain, reference dfs/wordcountjob.go,
dfs/questionmarkjob.go); these operators are part of the engine's
mandated extension surface, with the same oracle discipline as every
other query.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import load_table
from dfs_w_mapreduce_spark.functions.hashing import (
    _h31_spark,
    _h31_sql,
    md5_long,
    md5_long_sql,
)
from dfs_w_mapreduce_spark.functions.text import ws_tokens, ws_tokens_sql
from dfs_w_mapreduce_spark.registry import QuerySpec
from dfs_w_mapreduce_spark.operators.text_analysis import (
    BM25_TOP_K,
    _bm25_oracle,
    q_bm25_search,
)

# Misra-Gries: keep any token whose corpus frequency exceeds
# n_total / HH_K. Sketch capacity >= HH_K guarantees every true heavy
# hitter survives at least one partition's sketch (pigeonhole over
# partitions), so candidates are a superset and the exact recount is
# exact. At fixture scale the ~40-word vocabulary fits entirely in
# the capacity (the sketch never evicts); at 100 TB the vocabulary is
# millions and the sketch is what keeps the map-side state O(capacity).
HH_K = 30
HH_CAPACITY = 64


def _mg_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Misra-Gries pass: O(HH_CAPACITY) state, emits the
    surviving candidate tokens (counts are NOT emitted — they are
    sketch lower bounds, not exact; the exact recount happens after)."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for tok in pdf["token"]:
            if tok in counters:
                counters[tok] += 1
            elif len(counters) < HH_CAPACITY:
                counters[tok] = 1
            else:
                dead = [t for t in counters if counters[t] == 1]
                for t in counters:
                    counters[t] -= 1
                for t in dead:
                    del counters[t]
    yield pd.DataFrame({"token": list(counters.keys())})


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens via Misra-Gries candidates + exact recount.

    Scale shape: the full token stream is only ever aggregated AFTER
    the broadcast semi-join against the O(capacity x partitions)
    candidate set, so the shuffle carries candidate tokens only, never
    the whole vocabulary. The threshold compare is integer (cnt * K >
    n_total) — no float boundary to diverge on."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"))
    cand = toks.mapInPandas(_mg_partial, "token string").distinct()
    total = toks.agg(F.count("*").alias("n_total"))
    return (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * HH_K > F.col("n_total"))
        .select("token", "cnt")
    )


HEAVY_HITTERS_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({ws_tokens_sql('lower(text)')}) AS token
        FROM documents
    ),
    tot AS (SELECT count(*) AS n_total FROM toks)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM toks CROSS JOIN tot
    GROUP BY token, n_total
    HAVING count(*) * {HH_K} > n_total
"""


RRF_C = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOP_K = 3


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 top-5 with a term-set-Jaccard
    top-5 via reciprocal-rank fusion, return the fused top-3 per
    query. Each ranker's rank is a deterministic row_number (score
    desc, doc_id); the fused score is a two-term sum of small-integer
    reciprocals — bit-identical on both engines."""
    from dfs_w_mapreduce_spark.operators.text_analysis import BM25_QUERIES

    bm = q_bm25_search(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rk").alias("rk_bm25")
    )
    d = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(qid, t) for qid, a, b in BM25_QUERIES for t in (a, b)],
        "query_id string, term string",
    )
    nq = queries.groupBy("query_id").agg(F.count_distinct("term").alias("nq"))
    from dfs_w_mapreduce_spark.catalog import fan_out

    toks = ws_tokens(F.lower(F.col("text")))
    # fan_out before the tokenize + array_distinct (single fixture
    # scan split otherwise serializes the term-set build)
    docs = fan_out(spark, d.select("doc_id", "text")).select(
        "doc_id", F.array_distinct(toks).alias("terms")
    )
    inter = (
        docs.select("doc_id", F.explode("terms").alias("term"))
        .join(F.broadcast(queries), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("term").alias("inter"))
    )
    nd = docs.select("doc_id", F.size("terms").cast("long").alias("nd"))
    jac = (
        inter.join(F.broadcast(nq), "query_id")
        .join(nd, "doc_id")
        .withColumn(
            "jac", F.col("inter") / (F.col("nq") + F.col("nd") - F.col("inter"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("jac"), "doc_id")
    jac_top = (
        jac.withColumn("rk_jac", F.row_number().over(w))
        .filter(F.col("rk_jac") <= BM25_TOP_K)
        .select("query_id", "doc_id", "rk_jac")
    )
    fused = (
        bm.join(jac_top, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (RRF_C + F.col("rk_bm25")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_C + F.col("rk_jac")), F.lit(0.0)),
                6,
            ),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= RRF_TOP_K)
        .select(
            "query_id", "doc_id", "rrf", F.col("fused_rank").cast("int").alias("fused_rank")
        )
    )


def _rrf_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.text_analysis import BM25_QUERIES

    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, a, b in BM25_QUERIES for t in (a, b)
    )
    return f"""
        WITH bm AS (SELECT query_id, doc_id, rk AS rk_bm25 FROM ({_bm25_oracle()}) t),
        q(query_id, term) AS (VALUES {qvals}),
        nq AS (SELECT query_id, count(DISTINCT term) AS nq FROM q GROUP BY 1),
        docs AS (
            SELECT doc_id,
                   list_distinct({ws_tokens_sql('lower(text)')}) AS terms
            FROM documents
        ),
        inter AS (
            SELECT query_id, doc_id, count(DISTINCT term) AS inter
            FROM (SELECT doc_id, unnest(terms) AS term FROM docs) dt
            JOIN q USING (term)
            GROUP BY 1, 2
        ),
        nd AS (SELECT doc_id, CAST(len(terms) AS BIGINT) AS nd FROM docs),
        jac AS (
            SELECT query_id, inter.doc_id,
                   CAST(inter AS DOUBLE) / (nq + nd - inter) AS jac
            FROM inter JOIN nq USING (query_id) JOIN nd ON inter.doc_id = nd.doc_id
        ),
        jac_top AS (
            SELECT query_id, doc_id, rk_jac FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY jac DESC, doc_id) AS rk_jac
                FROM jac
            ) WHERE rk_jac <= {BM25_TOP_K}
        ),
        fused AS (
            SELECT coalesce(bm.query_id, jac_top.query_id) AS query_id,
                   coalesce(bm.doc_id, jac_top.doc_id) AS doc_id,
                   round(coalesce(1.0 / ({RRF_C} + rk_bm25), 0.0)
                         + coalesce(1.0 / ({RRF_C} + rk_jac), 0.0), 6) AS rrf
            FROM bm FULL OUTER JOIN jac_top
              ON bm.query_id = jac_top.query_id AND bm.doc_id = jac_top.doc_id
        )
        SELECT query_id, doc_id, rrf, CAST(fused_rank AS INT) AS fused_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rrf DESC, doc_id) AS fused_rank
            FROM fused
        ) WHERE fused_rank <= {RRF_TOP_K}
    """


# Winnowing parameters: k-char grams, window of W consecutive gram
# hashes, keep each window's minimum (Schleimer et al. guarantee: any
# shared substring of length >= K + W - 1 shares a fingerprint).
WIN_K = 12
WIN_W = 4
WIN_MIN_SHARED = 3
WIN_MAX_DF = 20


def q_substring_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplicate candidates via winnowing fingerprints.

    Every doc contributes ~1/W of its k-gram positions as
    fingerprints (the per-window minima), so the join input — and at
    100 TB the shuffle — is a W-fold reduction of the gram stream,
    and the equi-join on the gram STRING (not just its hash) makes
    candidates collision-free. Grams seen in more than WIN_MAX_DF
    docs are dropped as boilerplate before pairing (the same hot-key
    cap as dedup_ngram_pairs), bounding the per-gram pair fan-out."""
    from dfs_w_mapreduce_spark.catalog import fan_out

    # the fixture parquet yields 1-3 scan partitions; the per-char
    # gram explode + md5 is CPU-bound, so spread the docs across
    # cores BEFORE fan-out work (no-op on a real many-split dataset)
    d = fan_out(spark, load_table(spark, sf_dir, "documents"))
    npos = F.length("text") - (WIN_K - 1)
    grams = (
        d.select(
            "doc_id",
            F.explode(
                F.when(npos >= WIN_W, F.sequence(F.lit(1), npos - (WIN_W - 1)))
                .otherwise(F.array())
            ).alias("pos"),
            F.col("text"),
        )
        .select(
            "doc_id", "pos", F.substring(F.col("text"), F.col("pos"), WIN_K).alias("gram")
        )
        .withColumn("h", md5_long("gram"))
    )
    # NOTE: pos already stops W-1 short of the last gram, so every
    # row's forward-looking window frame is fully populated.
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WIN_W - 1)
    )
    sel = (
        grams.withColumn("minw", F.min("h").over(w))
        .filter(F.col("h") == F.col("minw"))
        .select("doc_id", "gram")
        .distinct()
        .cache()  # both sides of the pair self-join and the df-cap agg
        # read this frame; uncached, the 1.4M-row hash+window pipeline
        # would run once per consumer
    )
    rare = (
        sel.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(2, WIN_MAX_DF))
        .select("gram")
    )
    sel = sel.join(F.broadcast(rare), "gram")
    a = sel.select(F.col("doc_id").alias("doc_a"), "gram")
    b = sel.select(F.col("doc_id").alias("doc_b"), "gram")
    return (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )


SUBSTRING_WINNOW_ORACLE = f"""
    WITH grams AS (
        SELECT doc_id, pos,
               substr(text, CAST(pos AS INT), {WIN_K}) AS gram,
               {md5_long_sql(f"substr(text, CAST(pos AS INT), {WIN_K})")} AS h
        FROM (
            SELECT doc_id, text,
                   unnest(range(1, len(text) - {WIN_K - 1} - {WIN_W - 1} + 1)) AS pos
            FROM documents
            WHERE len(text) - {WIN_K - 1} >= {WIN_W}
        )
    ),
    sel AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id, gram, h,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS minw
            FROM grams
        ) WHERE h = minw
    ),
    rare AS (
        SELECT gram FROM sel GROUP BY gram
        HAVING count(*) BETWEEN 2 AND {WIN_MAX_DF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM (SELECT * FROM sel JOIN rare USING (gram)) a
    JOIN (SELECT * FROM sel JOIN rare USING (gram)) b USING (gram)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {WIN_MIN_SHARED}
"""


SPAN_N = 8  # tokens per shingle: cross-doc 8-gram = duplicated content


def q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape
    at token-shingle granularity): find every maximal run of
    SPAN_N-token shingles that also occurs verbatim in another
    document, reported as per-doc token spans — the table a
    span-removal pass consumes (cut the span, keep the doc), which is
    the surgical complement to whole-doc dedup.

    Scale shape: one posexplode fan-out (~n_tokens rows/doc, the same
    cost class as the corpus tokenizers), shingles carried as 60-bit
    md5-derived longs (narrow shuffle; identical on both engines so
    any collision is shared too), two-phase distinct-doc-count per
    shingle, a shuffle back on doc_id, and a gaps-and-islands window
    per doc (pos is unique per doc, so window order is total). No
    pairwise doc join anywhere — cost is O(corpus tokens), not
    O(pairs); duplicated-span mass is found corpus-wide even when it
    spans hundreds of documents."""
    from dfs_w_mapreduce_spark.catalog import fan_out

    # the per-position slice+join+md5 pipeline is CPU-bound; spread
    # the 1-3 fixture scan splits across cores first (no-op on a real
    # many-split dataset — see fan_out). Project before fanning so the
    # repartition exchange carries only (doc_id, text).
    d = fan_out(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    grams = _span_grams(d)
    hot = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    dup = grams.join(hot, "h").select("doc_id", "pos", "n_docs")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + SPAN_N).cast("long").alias("span_tokens"),
            F.count("*").alias("n_shingles"),
            F.max("n_docs").alias("max_share"),
        )
        .drop("grp")
    )


def _span_grams(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h): the 60-bit hash of the SPAN_N-token gram that
    starts at each 1-based token position pos of d's space-split text."""
    toks = F.split("text", " ")
    npos = F.size(toks) - (SPAN_N - 1)
    return (
        d.select(
            "doc_id",
            F.explode(
                F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(F.array())
            ).alias("pos"),
            toks.alias("toks"),
        )
        .select(
            "doc_id",
            "pos",
            md5_long(F.array_join(F.slice("toks", F.col("pos"), SPAN_N), " ")).alias("h"),
        )
    )


# DuckDB twin of _span_grams: the CTEs t (doc_id, token list l) and
# grams (doc_id, pos, h)
_SPAN_GRAMS_CTES = f"""t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    grams AS (
        SELECT doc_id, pos,
               {md5_long_sql(f"array_to_string(l[CAST(pos AS INT):CAST(pos AS INT) + {SPAN_N - 1}], ' ')")} AS h
        FROM (
            SELECT doc_id, l, unnest(range(1, len(l) - {SPAN_N - 1} + 1)) AS pos
            FROM t WHERE len(l) - {SPAN_N - 1} >= 1
        )
    )"""

DUP_NGRAM_SPANS_ORACLE = f"""
    WITH {_SPAN_GRAMS_CTES},
    hot AS (
        SELECT h, count(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    dup AS (
        SELECT g.doc_id, g.pos, hot.n_docs,
               g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
        FROM grams g JOIN hot USING (h)
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) - min(pos) + {SPAN_N} AS span_tokens,
           count(*) AS n_shingles, max(n_docs) AS max_share
    FROM dup GROUP BY doc_id, grp
"""


def q_dedup_span_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-removal pass over `dup_ngram_spans`' shingle table:
    rebuild every document with cross-doc duplicated spans CUT,
    keeping exactly one copy corpus-wide (the minimum doc_id holding
    each duplicated shingle keeps its text; every other holder drops
    the covered tokens). This is surgical dedup — Lee et al.'s
    remove-the-substring policy — versus whole-doc dedup_apply.

    Plan: re-derive the duplicated shingle starts (same O(corpus
    tokens) fan-out as dup_ngram_spans, no pairwise join), attach each
    shingle's corpus-wide min holder via the same two-phase aggregate,
    expand foreign shingles (min holder != me) to their SPAN_N covered
    positions (bounded by SPAN_N x corpus tokens), and anti-join the
    token stream against the covered set; array_agg ordered by pos
    rebuilds the text. Every shuffle is keyed on doc_id or the 60-bit
    shingle hash — no skew beyond natural boilerplate hot shingles,
    which arrive pre-aggregated (one row per (doc, pos))."""
    from dfs_w_mapreduce_spark.catalog import fan_out

    d = fan_out(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = F.split("text", " ")
    tok_stream = d.select(
        "doc_id",
        F.posexplode(toks).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    grams = _span_grams(d)
    owners = (
        grams.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    covered = (
        grams.join(owners, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN_N - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok_stream.join(covered, ["doc_id", "pos"], "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ).getField("tok"),
                " ",
            ).alias("new_text"),
            F.count("*").alias("n_kept_tokens"),
        )
        .join(
            d.select("doc_id", F.size(toks).alias("n_tokens")), "doc_id", "right"
        )
        .select(
            "doc_id",
            F.coalesce("new_text", F.lit("")).alias("new_text"),
            F.coalesce("n_kept_tokens", F.lit(0)).alias("n_kept_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept_tokens", F.lit(0)))
            .alias("n_removed_tokens"),
        )
    )


DEDUP_SPAN_APPLY_ORACLE = f"""
    WITH {_SPAN_GRAMS_CTES},
    tok_stream AS (
        SELECT doc_id, pos, l[CAST(pos AS INT)] AS tok
        FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS pos FROM t)
    ),
    owners AS (
        SELECT h, min(doc_id) AS owner
        FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
        SELECT DISTINCT g.doc_id, g.pos + off AS pos
        FROM grams g JOIN owners USING (h)
        CROSS JOIN (SELECT unnest(range(0, {SPAN_N})) AS off)
        WHERE g.doc_id <> owner
    ),
    kept AS (
        SELECT ts.doc_id, ts.pos, ts.tok
        FROM tok_stream ts ANTI JOIN covered c
          ON ts.doc_id = c.doc_id AND ts.pos = c.pos
    ),
    rebuilt AS (
        SELECT doc_id,
               array_to_string(list(tok ORDER BY pos), ' ') AS new_text,
               count(*) AS n_kept_tokens
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(new_text, '') AS new_text,
           CAST(coalesce(n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
           CAST(len(l) - coalesce(n_kept_tokens, 0) AS BIGINT) AS n_removed_tokens
    FROM t LEFT JOIN rebuilt USING (doc_id)
"""


def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(p_source || p_corpus) —
    the standard domain-mix diagnostic for training-data pipelines
    (which sources are token-distribution outliers?).

    Cross-engine float discipline: each term p*ln(p/q) is computed
    from exact integer count ratios, rounded to 10 decimals, and the
    SUM accumulates in DECIMAL(28,10) — exact and associative — so
    partition order and engine accumulation order cannot move the
    rounded result (a raw double sum over thousands of log terms is
    the window_running hazard class all over again)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    per_src = toks.groupBy("source", "token").agg(F.count("*").alias("cnt_ts"))
    src_tot = toks.groupBy("source").agg(F.count("*").alias("n_s"))
    glob = toks.groupBy("token").agg(F.count("*").alias("cnt_t"))
    tot = toks.agg(F.count("*").alias("n"))
    p = F.col("cnt_ts") / F.col("n_s")
    q = F.col("cnt_t") / F.col("n")
    term = F.round(p * F.log(p / q), 10).cast("decimal(28,10)")
    return (
        per_src.join(src_tot, "source")
        .join(F.broadcast(glob), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.round(F.sum(term), 6).cast("double").alias("kl"),
        )
    )


KL_DIVERGENCE_ORACLE = f"""
    WITH toks AS (
        SELECT source,
               unnest({ws_tokens_sql('lower(text)')}) AS token
        FROM documents
    ),
    per_src AS (SELECT source, token, count(*) AS cnt_ts FROM toks GROUP BY 1, 2),
    src_tot AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
    gtok AS (SELECT token, count(*) AS cnt_t FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT source,
           CAST(max(n_s) AS BIGINT) AS n_tokens,
           CAST(round(sum(CAST(round(
               (cnt_ts * 1.0 / n_s)
               * ln((cnt_ts * 1.0 / n_s) / (cnt_t * 1.0 / n)), 10) AS DECIMAL(28,10))), 6) AS DOUBLE) AS kl
    FROM per_src JOIN src_tot USING (source) JOIN gtok USING (token) CROSS JOIN tot
    GROUP BY source
"""


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy per document: mean token negative
    log-likelihood under the corpus's own unigram distribution — the
    cheap statistical stand-in for the model-based perplexity filter
    every LLM data pipeline runs (docs with outlier NLL are
    boilerplate or noise). Same exact-decimal term-sum discipline as
    kl_divergence: each -ln p(tok) is rounded to 10 decimals and
    accumulated in DECIMAL(28,10), so accumulation order cannot move
    the result; the final mean is one double division."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    cnt = toks.groupBy("token").agg(F.count("*").alias("cnt_t"))
    tot = toks.agg(F.count("*").alias("n"))
    term = F.round(-F.log(F.col("cnt_t") / F.col("n")), 10).cast("decimal(28,10)")
    return (
        toks.join(F.broadcast(cnt), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.sum(term).cast("double") / F.count("*"), 6).alias("mean_nll"),
        )
    )


TEXT_PERPLEXITY_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({ws_tokens_sql('lower(text)')}) AS token
        FROM documents
    ),
    cnt AS (SELECT token, count(*) AS cnt_t FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT doc_id, count(*) AS n_toks,
           round(CAST(sum(CAST(round(-ln(cnt_t * 1.0 / n), 10) AS DECIMAL(28,10))) AS DOUBLE)
                 / count(*), 6) AS mean_nll
    FROM toks JOIN cnt USING (token) CROSS JOIN tot
    GROUP BY doc_id
"""


_BG_SEP = "\u001f"  # unit separator; both engines build bg identically,
# so even a token containing it collides the same way on both sides


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy per document: mean bigram NLL under
    the corpus's own add-one-smoothed bigram model,
    P(w2|w1) = (c(w1 w2) + 1) / (c(w1 as prefix) + V). The context-
    aware upgrade of q_text_perplexity — repetitive boilerplate scores
    LOW (its bigrams are corpus-frequent) while token-salad noise
    scores HIGH even when its unigrams are common. Bigram occurrences
    come from the same zip_with slice idiom as the shingle builders
    (linear per document); counts join back on the bigram string, the
    prefix-count and vocab frames broadcast. Same exact-decimal
    term-sum discipline as kl_divergence."""
    d = load_table(spark, sf_dir, "documents")
    w = ws_tokens(F.lower(F.col("text")))
    n1 = F.greatest(F.size(w) - 1, F.lit(0))
    # carry w1 as its own struct field straight from the token array —
    # deriving it by re-splitting the joined bigram string would break
    # if a token ever contained the separator (U+001F is NOT \\s, so
    # tokenization would keep it)
    pairs = F.zip_with(
        F.slice(w, 1, n1),
        F.slice(w, 2, n1),
        lambda x, y: F.struct(
            x.alias("w1"), F.concat_ws(_BG_SEP, x, y).alias("bg")
        ),
    )
    occ = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.bg").alias("bg"), F.col("p.w1").alias("w1")
    )
    # c12 is one row per DISTINCT bigram — corpus-sized, so it must
    # SHUFFLE-join back onto the occurrences; only the prefix counts
    # (vocabulary-sized) and the vocab scalar broadcast
    c12 = occ.groupBy("bg").agg(F.count("*").alias("c12"))
    c1 = occ.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = d.select(F.explode(w).alias("token")).agg(
        F.count_distinct("token").alias("v")
    )
    term = F.round(
        -F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))), 10
    ).cast("decimal(28,10)")
    return (
        occ.join(c12, "bg")
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(term).cast("double") / F.count("*"), 6).alias("mean_nll"),
        )
    )


TEXT_BIGRAM_LM_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id,
               {ws_tokens_sql('lower(text)')} AS w
        FROM documents
    ),
    occ AS (
        SELECT doc_id, w[i] AS w1, w[i] || chr(31) || w[i + 1] AS bg
        FROM docs, LATERAL (SELECT unnest(range(1, len(w))) AS i)
    ),
    c12 AS (SELECT bg, count(*) AS c12 FROM occ GROUP BY 1),
    c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY 1),
    vocab AS (SELECT count(DISTINCT token) AS v
              FROM (SELECT unnest(w) AS token FROM docs))
    SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(-ln((c12 + 1.0) / (c1 + v)), 10)
                                AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6)
               AS mean_nll
    FROM occ JOIN c12 USING (bg) JOIN c1 USING (w1) CROSS JOIN vocab
    GROUP BY doc_id
"""


KN_DISCOUNT = 0.75


def q_text_bigram_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity per document — the
    smoothing real n-gram LMs use (Chen & Goodman 1999): the add-one
    model (q_text_bigram_lm) over-penalizes frequent-prefix bigrams,
    while KN discounts each seen count by D and backs off to the
    CONTINUATION probability (how many distinct contexts a word
    follows, not how often it occurs) —
    P(w2|w1) = (c12 - D)/c1 + ((D * N1+(w1,.))/c1 * N1+(.,w2))/N1+(.,.)
    with every count an exact integer from two hash aggregates.

    Scale shape mirrors the add-one model: the distinct-bigram frame
    shuffle-joins back onto occurrences (corpus-sized keys); the
    prefix counts, continuation counts, and the bigram-type scalar
    are vocabulary-sized and broadcast. The FP path (one subtract,
    three divides, two multiplies, ln) is parenthesized identically
    in the oracle."""
    d = load_table(spark, sf_dir, "documents")
    w = ws_tokens(F.lower(F.col("text")))
    n1 = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(w, 1, n1),
        F.slice(w, 2, n1),
        lambda x, y: F.struct(
            x.alias("w1"), y.alias("w2"), F.concat_ws(_BG_SEP, x, y).alias("bg")
        ),
    )
    occ = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.bg").alias("bg"), F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
    )
    c12f = occ.groupBy("bg", "w1", "w2").agg(F.count("*").alias("c12"))
    c1 = occ.groupBy("w1").agg(F.count("*").alias("c1"))
    n1f = c12f.groupBy("w1").agg(F.count("*").alias("n1f"))
    n1b = c12f.groupBy("w2").agg(F.count("*").alias("n1b"))
    nbt = c12f.agg(F.count("*").alias("nbt"))
    D = F.lit(KN_DISCOUNT)
    p_kn = (F.col("c12") - D) / F.col("c1") + (
        (D * F.col("n1f")) / F.col("c1") * F.col("n1b")
    ) / F.col("nbt")
    term = F.round(-F.log(p_kn), 10).cast("decimal(28,10)")
    return (
        occ.join(c12f.select("bg", "c12"), "bg")
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(n1f), "w1")
        .join(F.broadcast(n1b), "w2")
        .crossJoin(F.broadcast(nbt))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(term).cast("double") / F.count("*"), 6).alias(
                "mean_nll_kn"
            ),
        )
    )


TEXT_BIGRAM_KN_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id,
               {ws_tokens_sql('lower(text)')} AS w
        FROM documents
    ),
    occ AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2,
               w[i] || chr(31) || w[i + 1] AS bg
        FROM docs, LATERAL (SELECT unnest(range(1, len(w))) AS i)
    ),
    c12f AS (SELECT bg, w1, w2, count(*) AS c12 FROM occ GROUP BY 1, 2, 3),
    c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY 1),
    n1f AS (SELECT w1, count(*) AS n1f FROM c12f GROUP BY 1),
    n1b AS (SELECT w2, count(*) AS n1b FROM c12f GROUP BY 1),
    nbt AS (SELECT count(*) AS nbt FROM c12f)
    SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(-ln(
                     (c.c12 - {KN_DISCOUNT}) / c1.c1
                     + (({KN_DISCOUNT} * n1f.n1f) / c1.c1 * n1b.n1b) / nbt.nbt
                 ), 10) AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6)
               AS mean_nll_kn
    FROM occ o
    JOIN (SELECT bg, c12 FROM c12f) c USING (bg)
    JOIN c1 ON c1.w1 = o.w1
    JOIN n1f ON n1f.w1 = o.w1
    JOIN n1b ON n1b.w2 = o.w2
    CROSS JOIN nbt
    GROUP BY doc_id
"""


# Triangle counting: degree-ordered edge orientation (each edge points
# low-degree -> high-degree) bounds the wedge join to O(m^1.5) rows —
# the standard distributed-triangle trick; a naive wedge join on a
# dense co-purchase graph is quadratic in the max degree.
TRI_PART_SIZE_CAP = 5


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts appearing in the
    same order, restricted to small parts to keep fixture density
    honest). Three joins total: wedge join on the oriented edge set +
    one closing-edge probe against the canonical edge set."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") <= TRI_PART_SIZE_CAP
    ).select("p_partkey")
    po = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = po.alias("a"), po.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .cache()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, "src")
        .filter(F.col("o1.dst") < F.col("o2.dst"))
        .select(F.col("o1.dst").alias("u"), F.col("o2.dst").alias("v"))
    )
    tri = wedges.join(edges, ["u", "v"], "left_semi").count()
    n_edges = edges.count()
    edges.unpersist()
    return spark.createDataFrame(
        [(n_edges, tri)], "n_edges long, n_triangles long"
    )


TRIANGLES_ORACLE = f"""
    WITH po AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size <= {TRI_PART_SIZE_CAP}
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY 1
    ),
    oriented AS (
        SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                    THEN u ELSE v END AS src,
               CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                    THEN v ELSE u END AS dst
        FROM edges JOIN deg du ON u = du.node JOIN deg dv ON v = dv.node
    ),
    wedges AS (
        SELECT o1.dst AS u, o2.dst AS v
        FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
        WHERE o1.dst < o2.dst
    )
    SELECT (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*) FROM wedges JOIN edges USING (u, v)) AS n_triangles
"""


def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between document source
    and language — the categorical drift check a corpus pipeline runs
    to catch a source whose language mix shifted. Expected counts come
    from exact integer marginals; each (O-E)^2/E term is rounded to 8
    decimals and summed in DECIMAL(28,8) (exact, associative), so the
    statistic cannot wobble with partition order on either engine."""
    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("source", "lang").agg(F.count("*").alias("o"))
    row = d.groupBy("source").agg(F.count("*").alias("r_tot"))
    col = d.groupBy("lang").agg(F.count("*").alias("c_tot"))
    tot = d.agg(F.count("*").alias("n"))
    e = F.col("r_tot") * F.col("c_tot") / F.col("n")
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 8).cast("decimal(28,8)")
    cells = (
        obs.join(F.broadcast(row), "source")
        .join(F.broadcast(col), "lang")
        .crossJoin(F.broadcast(tot))
    )
    return cells.agg(
        F.round(F.sum(term), 4).cast("double").alias("chi2"),
        ((F.count_distinct("source") - 1) * (F.count_distinct("lang") - 1))
        .cast("long")
        .alias("dof"),
    )


CHISQ_ORACLE = """
    WITH obs AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
    r AS (SELECT source, count(*) AS r_tot FROM documents GROUP BY 1),
    c AS (SELECT lang, count(*) AS c_tot FROM documents GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT CAST(round(sum(CAST(round((o - r_tot * c_tot * 1.0 / n)
                                     * (o - r_tot * c_tot * 1.0 / n)
                                     / (r_tot * c_tot * 1.0 / n), 8) AS DECIMAL(28,8))), 4) AS DOUBLE) AS chi2,
           CAST((count(DISTINCT obs.source) - 1) * (count(DISTINCT obs.lang) - 1) AS BIGINT) AS dof
    FROM obs JOIN r USING (source) JOIN c USING (lang) CROSS JOIN tot
"""


# Worker-executed module-level functions must serialize by value (the
# driver imports this package from its own cwd; see CLAUDE.md).
DSIR_BUCKETS = 64       # hashed n-gram feature space (DSIR's "hashed ngrams")
DSIR_TARGET = "src0"    # the target domain whose distribution we match
DSIR_K = 25             # sample size


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS'23): score every corpus document by how target-domain-like
    its hashed-unigram distribution is, then take the top-K. The
    target domain is the DSIR_TARGET source; features are md5-hashed
    token buckets (mod DSIR_BUCKETS); per-bucket log importance is
    ln P_target(b) - ln P_corpus(b) with add-one smoothing, and a
    document's score is the sum of its tokens' bucket log-ratios —
    exactly DSIR's importance weight under a hashed unigram model.

    Exactness: bucket probabilities are ratios of exact integer
    counts; each per-bucket log-ratio rounds to 10 dp and the per-doc
    sum accumulates those rounded values as DECIMAL(28,10) (the
    kl_divergence discipline), so accumulation order cannot move the
    6-dp reported score. Deterministic top-K: (score desc, doc_id).

    Scale shape at 100 TB: one corpus-scale token explode feeding (a)
    a 64-row bucket aggregate (map-side combined) and (b) a per-doc
    sum after a broadcast join of the 64-row log-ratio table; the
    top-K runs as TakeOrderedAndProject. Nothing is pairwise, nothing
    shuffles more than once."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"),
    ).select(
        "doc_id", "source", (_h31_spark(F.col("token")) % DSIR_BUCKETS).alias("b")
    )
    cc = toks.groupBy("b").agg(
        F.count("*").alias("cc"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET, 1).otherwise(0)
        ).alias("ct"),
    )
    tot = toks.agg(
        F.count("*").alias("n_c"),
        F.sum(F.when(F.col("source") == DSIR_TARGET, 1).otherwise(0)).alias("n_t"),
    )
    lr = (
        cc.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.col("ct") + 1) / (F.col("n_t") + DSIR_BUCKETS)
                )
                - F.log((F.col("cc") + 1) / (F.col("n_c") + DSIR_BUCKETS)),
                10,
            )
            .cast("decimal(28,10)")
            .alias("lr"),
        )
    )
    doc = (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_toks"),
            (F.round(F.sum("lr").cast("double"), 6) + F.lit(0.0)).alias(
                "importance"
            ),
        )
    )
    top = doc.orderBy(F.desc("importance"), "doc_id").limit(DSIR_K)
    rk = F.row_number().over(
        Window.orderBy(F.desc("importance"), "doc_id")
    )
    return top.select(
        "doc_id", "source", "n_toks", "importance", rk.alias("rank")
    )


def _importance_resample_oracle() -> str:
    h = _h31_sql("token")
    return f"""
        WITH toks AS (
            SELECT doc_id, source,
                   {h} % {DSIR_BUCKETS} AS b
            FROM (SELECT doc_id, source,
                         unnest({ws_tokens_sql('lower(text)')}) AS token
                  FROM documents)
        ),
        cc AS (SELECT b, count(*) AS cc,
                      sum(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct
               FROM toks GROUP BY 1),
        tot AS (SELECT count(*) AS n_c,
                       sum(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS n_t
                FROM toks),
        lr AS (SELECT b,
                      CAST(round(ln((ct + 1) * 1.0 / (n_t + {DSIR_BUCKETS}))
                                 - ln((cc + 1) * 1.0 / (n_c + {DSIR_BUCKETS})), 10)
                           AS DECIMAL(28,10)) AS lr
               FROM cc CROSS JOIN tot),
        doc AS (
            SELECT doc_id, source, count(*) AS n_toks,
                   round(CAST(sum(lr) AS DOUBLE), 6) + 0.0 AS importance
            FROM toks JOIN lr USING (b)
            GROUP BY 1, 2
        )
        SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks, importance,
               CAST(row_number() OVER (ORDER BY importance DESC, doc_id) AS INT)
                   AS rank
        FROM doc
        ORDER BY importance DESC, doc_id
        LIMIT {DSIR_K}
    """


def _doc_host_domain() -> tuple[Column, Column]:
    """(host, domain) of each document's synthetic URL
    https://{www|cdn|blog}.<source>.org/docs/<doc_id>?lang=<lang>: the
    host parsed back out of it, and its registrable domain, the last
    two labels."""
    sub = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("www"))
        .when(F.col("doc_id") % 3 == 1, F.lit("cdn"))
        .otherwise(F.lit("blog"))
    )
    url = F.concat(
        F.lit("https://"), sub, F.lit("."), F.col("source"),
        F.lit(".org/docs/"), F.col("doc_id").cast("string"),
        F.lit("?lang="), F.col("lang"),
    )
    host = F.parse_url(url, F.lit("HOST"))
    parts = F.split(host, r"\.")
    return host, F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))


# DuckDB twins of _doc_host_domain
_DOC_HOST_SQL = """regexp_extract(
                'https://' ||
                CASE WHEN doc_id % 3 = 0 THEN 'www'
                     WHEN doc_id % 3 = 1 THEN 'cdn'
                     ELSE 'blog' END
                || '.' || source || '.org/docs/'
                || CAST(doc_id AS VARCHAR) || '?lang=' || lang,
                'https://([^/?]+)', 1)"""
_DOC_DOMAIN_SQL = f"regexp_extract({_DOC_HOST_SQL}, '([^.]+\\.[^.]+)$', 1)"


def q_corpus_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/host-level corpus governance rollup — the per-domain cut
    CCNet/RefinedWeb-style curation makes before sampling: synthesize
    each document's crawl URL deterministically (subdomain varies by
    doc so host -> registrable-domain extraction is real work), parse
    the host back out of the URL string with Spark's parse_url, strip
    to the last-two-label registrable domain, and aggregate the
    governance signals per domain:

    - volume: docs, distinct hosts, distinct languages;
    - exact-dup rate: 1 - distinct(md5(text)) / docs — the fraction a
      domain would lose to exact dedup (boilerplate mills score high);
    - length-gate pass rate: the Gopher-style word-count window
      [GOV_MIN_WORDS, GOV_MAX_WORDS];
    - mean words/doc.

    Scale shape: one projection + one hash aggregate keyed on the
    domain (no joins, no windows); md5 hashes shuffle instead of text.
    Domains are the natural partition key for every downstream
    per-domain sampling decision."""
    d = load_table(spark, sf_dir, "documents")
    host, domain = _doc_host_domain()
    base = d.select(
        domain.alias("domain"),
        host.alias("host"),
        "lang",
        F.md5("text").alias("th"),
        F.size(ws_tokens(F.col("text"))).alias("n_words"),
    )
    n = F.count("*")
    uniq = F.countDistinct("th")
    return base.groupBy("domain").agg(
        n.alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.lit(1.0) - uniq / n, 4).alias("dup_rate"),
        F.round(
            F.sum(
                (
                    (F.col("n_words") >= GOV_MIN_WORDS)
                    & (F.col("n_words") <= GOV_MAX_WORDS)
                ).cast("long")
            )
            / n,
            4,
        ).alias("len_pass_rate"),
        F.round(F.sum("n_words") / n, 4).alias("mean_words"),
    )


GOV_MIN_WORDS = 30   # Gopher-style doc length gate, scaled to the
GOV_MAX_WORDS = 500  # fixture's 20-110-word documents


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact-URL dedup — the crawl-frontier
    hygiene pass every web corpus runs before content dedup: raw URLs
    differing only in scheme/host case, an explicit default port,
    tracking parameters, a trailing slash, or a fragment must collapse
    to one canonical form.

    The raw URL is synthesized deterministically per document with
    each mess-class toggled by a different doc_id residue (so every
    canonicalization rule is exercised and pinned by the counts), and
    the PATH buckets to doc_id % URL_PATH_BUCKETS — so distinct
    documents genuinely collide post-canonicalization and the dedup
    arm does real work. Canonicalization is pure string expressions
    (lower/regexp_replace — JVM-side, no UDF); dedup is one hash
    aggregate per canonical URL; the registry row is the per-source
    rollup: raw/canonical counts, URL dup rate, and per-rule hit
    counts."""
    d = load_table(spark, sf_dir, "documents")
    host = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".ORG"),
    )
    raw = F.concat(
        F.lit("HTTPS://"),
        host,
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Page/"),
        (F.col("doc_id") % URL_PATH_BUCKETS).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 1, F.lit("?utm_source=feed&utm_id=9")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    canon = raw
    canon = F.regexp_replace(canon, r"#.*$", "")           # drop fragment
    canon = F.regexp_replace(canon, r"\?utm_[^#]*$", "")   # drop tracking query
    # lowercase scheme+host; the host extract stops at ':' and the path
    # extract starts at the first '/', so any port (the fixture only
    # synthesizes the default :443) is dropped by exclusion here
    canon = F.concat(
        F.lower(F.regexp_extract(canon, r"^([^/]*//[^/:]*)", 1)),
        F.regexp_extract(canon, r"^[^/]*//[^/]*(/.*)?$", 1),
    )
    canon = F.regexp_replace(canon, r"(.)/$", "$1")        # trailing slash
    base = d.select(
        "source",
        "doc_id",
        raw.alias("raw_url"),
        canon.alias("url"),
    )
    per_url = base.groupBy("source", "url").agg(
        F.count("*").alias("k"), F.min("doc_id").alias("keeper")
    )
    rules = base.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.col("raw_url").rlike("#").cast("long")).alias("n_fragment"),
        F.sum(F.col("raw_url").rlike(r"utm_").cast("long")).alias("n_tracking"),
        F.sum(F.col("raw_url").rlike(r":443").cast("long")).alias("n_default_port"),
    )
    rollup = per_url.groupBy("source").agg(
        F.count("*").alias("n_canonical"),
        F.sum(F.col("k") - 1).alias("n_dup_urls"),
        F.min("keeper").alias("min_keeper"),
    )
    return rules.join(rollup, "source").select(
        "source",
        "n_raw",
        "n_canonical",
        F.round(F.lit(1.0) - F.col("n_canonical") / F.col("n_raw"), 4).alias(
            "url_dup_rate"
        ),
        "n_dup_urls",
        "n_fragment",
        "n_tracking",
        "n_default_port",
        "min_keeper",
    )


URL_PATH_BUCKETS = 40

# Per-domain ensemble cut: a domain is kept when at least
# ENSEMBLE_MIN_KEEP of its docs pass the Gopher battery AND its
# exact-dup rate stays under ENSEMBLE_MAX_DUP.
ENSEMBLE_MIN_KEEP = 0.5
ENSEMBLE_MAX_DUP = 0.15


def q_quality_domain_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality ensemble — the RefinedWeb-style cut that
    attaches QUALITY verdicts to the per-domain governance rollup:
    composes the registrable-domain key of q_corpus_domain_rollup
    with the per-doc Gopher verdict battery
    (text_analysis.gopher_verdict_frame) and the exact-dup rate, then
    flags each domain keep/drop (keep_rate >= ENSEMBLE_MIN_KEEP and
    dup_rate <= ENSEMBLE_MAX_DUP) — the decision row a curation run
    acts on per domain rather than per document.

    Scale shape: two projections of the same corpus scan joined on
    doc_id (per-doc scalars only — domain string, md5, verdict
    booleans; text never shuffles), then one hash aggregate keyed on
    the domain. At 100 TB the verdict battery and the domain key
    would fuse into one projection; the join here keeps the battery
    single-sourced in text_analysis."""
    from dfs_w_mapreduce_spark.operators.text_analysis import (
        gopher_verdict_frame,
    )

    d = load_table(spark, sf_dir, "documents")
    _, domain = _doc_host_domain()
    base = d.select(
        "doc_id", domain.alias("domain"), F.md5("text").alias("th")
    )
    g = gopher_verdict_frame(d).select("doc_id", "verdict")
    n = F.count("*")
    n_pass = F.sum(F.col("verdict").cast("long"))
    agg = (
        base.join(g, "doc_id")
        .groupBy("domain")
        .agg(
            n.alias("n_docs"),
            n_pass.alias("n_pass"),
            F.round(F.try_divide(n_pass, n), 4).alias("keep_rate"),
            F.round(F.lit(1.0) - F.countDistinct("th") / n, 4).alias("dup_rate"),
        )
    )
    return agg.withColumn(
        "domain_keep",
        (F.col("keep_rate") >= ENSEMBLE_MIN_KEEP)
        & (F.col("dup_rate") <= ENSEMBLE_MAX_DUP),
    )


def _quality_domain_ensemble_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.text_analysis import GOPHER_DOC_CTES

    return f"""
    WITH {GOPHER_DOC_CTES},
    dom AS (
        SELECT doc_id, {_DOC_DOMAIN_SQL} AS domain,
               md5(text) AS th
        FROM documents
    ),
    j AS (
        SELECT dom.domain, dom.th, (v.pw AND v.pm AND v.pd AND v.ps) AS ok
        FROM dom JOIN v USING (doc_id)
    ),
    agg AS (
        SELECT domain,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               round(sum(CASE WHEN ok THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) AS keep_rate,
               round(1.0 - count(DISTINCT th) * 1.0 / count(*), 4) AS dup_rate
        FROM j GROUP BY 1
    )
    SELECT *, keep_rate >= {ENSEMBLE_MIN_KEEP}
              AND dup_rate <= {ENSEMBLE_MAX_DUP} AS domain_keep
    FROM agg
"""


def q_corpus_governance_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License/robots governance audit — the retention-policy cut a
    training-data pipeline applies before any quality work: each doc
    carries synthesized crawl metadata (license class and a
    robots.txt-disallowed flag, each toggled by a different doc_id
    residue so every policy rule is exercised), and the audit rolls
    up per (source, license): volume, robots-blocked count,
    retainable count (permissive license AND not robots-blocked) and
    the retained word mass. Pure expressions + one hash aggregate —
    the single-scan shape that stays linear at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    lic = (
        F.when(F.col("doc_id") % 7 <= 2, F.lit("cc-by"))
        .when(F.col("doc_id") % 7 <= 4, F.lit("public-domain"))
        .when(F.col("doc_id") % 7 == 5, F.lit("proprietary"))
        .otherwise(F.lit("unknown"))
    )
    robots = F.col("doc_id") % 11 == 3
    retainable = lic.isin("cc-by", "public-domain") & ~robots
    n_words = F.size(ws_tokens(F.col("text")))
    base = d.select(
        "source",
        lic.alias("license"),
        robots.alias("robots_blocked"),
        retainable.alias("retainable"),
        n_words.alias("n_words"),
    )
    n = F.count("*")
    return base.groupBy("source", "license").agg(
        n.alias("n_docs"),
        F.sum(F.col("robots_blocked").cast("long")).alias("n_robots_blocked"),
        F.sum(F.col("retainable").cast("long")).alias("n_retainable"),
        F.round(F.try_divide(F.sum(F.col("retainable").cast("long")), n), 4).alias(
            "retain_rate"
        ),
        F.sum(
            F.when(F.col("retainable"), F.col("n_words")).otherwise(0).cast("long")
        ).alias("n_words_retained"),
    )


CORPUS_GOVERNANCE_FLAGS_ORACLE = f"""
    WITH base AS (
        SELECT source,
               CASE WHEN doc_id % 7 <= 2 THEN 'cc-by'
                    WHEN doc_id % 7 <= 4 THEN 'public-domain'
                    WHEN doc_id % 7 = 5 THEN 'proprietary'
                    ELSE 'unknown' END AS license,
               doc_id % 11 = 3 AS robots_blocked,
               (doc_id % 7 <= 4) AND doc_id % 11 <> 3 AS retainable,
               len({ws_tokens_sql('text')}) AS n_words
        FROM documents
    )
    SELECT source, license,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN robots_blocked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_robots_blocked,
           CAST(sum(CASE WHEN retainable THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retainable,
           round(sum(CASE WHEN retainable THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS retain_rate,
           CAST(sum(CASE WHEN retainable THEN n_words ELSE 0 END) AS BIGINT)
               AS n_words_retained
    FROM base
    GROUP BY 1, 2
"""


URL_CANONICAL_DEDUP_ORACLE = f"""
    WITH base AS (
        SELECT source, doc_id,
               'HTTPS://' ||
               CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END
               || source || '.ORG'
               || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
               || '/Page/' || CAST(doc_id % {URL_PATH_BUCKETS} AS VARCHAR)
               || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 2 = 1 THEN '?utm_source=feed&utm_id=9'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
               AS raw_url
        FROM documents
    ),
    canon AS (
        SELECT source, doc_id, raw_url,
               regexp_replace(
                   lower(regexp_extract(
                       regexp_replace(regexp_replace(raw_url, '#.*$', ''),
                                      '\\?utm_[^#]*$', ''),
                       '^([^/]*//[^/:]*)', 1))
                   || regexp_extract(
                          regexp_replace(
                              regexp_replace(raw_url, '#.*$', ''),
                              '\\?utm_[^#]*$', ''),
                          '^[^/]*//[^/]*(/.*)?$', 1),
                   '(.)/$', '\\1') AS url
        FROM base
    ),
    per_url AS (
        SELECT source, url, count(*) AS k, min(doc_id) AS keeper
        FROM canon GROUP BY 1, 2
    ),
    rules AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(CASE WHEN raw_url LIKE '%#%' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_fragment,
               -- regexp, not LIKE: '_' is a single-char wildcard in LIKE
               CAST(sum(CASE WHEN regexp_matches(raw_url, 'utm_')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tracking,
               CAST(sum(CASE WHEN raw_url LIKE '%:443%' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_default_port
        FROM canon GROUP BY 1
    ),
    rollup AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_canonical,
               CAST(sum(k - 1) AS BIGINT) AS n_dup_urls,
               CAST(min(keeper) AS BIGINT) AS min_keeper
        FROM per_url GROUP BY 1
    )
    SELECT source, n_raw, n_canonical,
           round(1.0 - n_canonical * 1.0 / n_raw, 4) AS url_dup_rate,
           n_dup_urls, n_fragment, n_tracking, n_default_port, min_keeper
    FROM rules JOIN rollup USING (source)
"""


CORPUS_DOMAIN_ROLLUP_ORACLE = f"""
    WITH base AS (
        SELECT
            {_DOC_DOMAIN_SQL} AS domain,
            {_DOC_HOST_SQL} AS host,
            lang,
            md5(text) AS th,
            len({ws_tokens_sql('text')})
                AS n_words
        FROM documents
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(1.0 - count(DISTINCT th) * 1.0 / count(*), 4) AS dup_rate,
           round(sum(CASE WHEN n_words BETWEEN {GOV_MIN_WORDS} AND
                          {GOV_MAX_WORDS} THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS len_pass_rate,
           round(sum(n_words) * 1.0 / count(*), 4) AS mean_words
    FROM base
    GROUP BY domain
"""


# --- PII scan + redaction -------------------------------------------
# The standard pre-training privacy pass (C4/RefinedWeb-style): find
# email / phone / SSN-shaped / IP tokens, count them per class, and
# rewrite the corpus with typed placeholders. Patterns are restricted
# to the syntax subset where Java regex (Spark), RE2 (DuckDB), and
# Python `re` agree (character classes, bounded repetition, \b \d —
# no lookaround, no alternation), so all three engines tokenize
# identically and the redacted corpus is bit-identical.
PII_A_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_A_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"      # 3-2-4: disjoint from phone
PII_A_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"    # 3-3-4
PII_A_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _pii_blob(did, text, source):
    """Deterministic per-doc contact blob: each PII class is toggled
    by a distinct doc_id residue (the url_canonical_dedup fixture
    discipline) so every extraction rule is exercised and its count
    pinned; residue intersections (e.g. doc_id % 15 == 0) exercise
    compound redaction within one document."""
    return F.concat(
        text,
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" reach user"), did.cast("string"),
                F.lit("@"), source, F.lit(".net"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call 415-555-"), (did % 9000 + 1000).cast("string")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" ssn "), (did % 900 + 100).cast("string"),
                F.lit("-"), (did % 90 + 10).cast("string"),
                F.lit("-"), (did % 9000 + 1000).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" from 10."), (did % 256).cast("string"),
                F.lit(".0."), (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction rollup — the privacy pass every public
    web corpus runs before training: per-class match counts and a
    placeholder-rewritten corpus, rolled up per source with a
    checksum that pins the exact redacted text cross-engine.

    Everything is pure JVM string expressions (regexp_extract_all /
    regexp_replace — no UDF), embarrassingly parallel, one hash
    aggregate: the 100 TB plan is a single scan + map-side partials.
    Redaction order (email, ssn, phone, ip) is fixed and mirrored in
    the oracle; the classes are constructed non-overlapping (3-2-4 vs
    3-3-4 digit groups; emails redact before the host-dot rules could
    feed the IP pattern) so order never changes the result, but
    pinning it keeps the twin honest. The checksum sums 32-bit md5
    prefixes (the sources/roundtrip.py idiom — at extreme corpus
    sizes you would fold mod a prime; summing fits bigint to ~2^31
    docs)."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    blob = _pii_blob(did, F.col("text"), F.col("source")).alias("pii")
    base = d.select("source", "doc_id", blob)
    n = lambda pat: F.size(F.regexp_extract_all(F.col("pii"), F.lit(pat), 0))  # noqa: E731
    red = F.col("pii")
    for pat, tag in (
        (PII_A_EMAIL_RE, "[EMAIL]"),
        (PII_A_SSN_RE, "[SSN]"),
        (PII_A_PHONE_RE, "[PHONE]"),
        (PII_A_IP_RE, "[IP]"),
    ):
        red = F.regexp_replace(red, pat, tag)
    scanned = base.select(
        "source",
        n(PII_A_EMAIL_RE).alias("k_email"),
        n(PII_A_SSN_RE).alias("k_ssn"),
        n(PII_A_PHONE_RE).alias("k_phone"),
        n(PII_A_IP_RE).alias("k_ip"),
        md5_long(red, 8).alias("rh"),
    )
    any_pii = (
        F.col("k_email") + F.col("k_ssn") + F.col("k_phone") + F.col("k_ip")
        > 0
    ).cast("long")
    return scanned.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(any_pii).alias("n_docs_pii"),
        F.round(F.sum(any_pii) / F.count("*"), 4).alias("pii_rate"),
        F.sum("k_email").alias("n_email"),
        F.sum("k_phone").alias("n_phone"),
        F.sum("k_ssn").alias("n_ssn"),
        F.sum("k_ip").alias("n_ip"),
        F.sum(
            F.col("k_email") + F.col("k_ssn") + F.col("k_phone") + F.col("k_ip")
        ).alias("n_redactions"),
        F.sum("rh").alias("redacted_checksum"),
    )


PII_AUDIT_ORACLE = (
    (
        """
    WITH base AS (
        SELECT source, doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' reach user' || CAST(doc_id AS VARCHAR)
                            || '@' || source || '.net'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' call 415-555-'
                            || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)
                            || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)
                            || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                       ELSE '' END
               AS pii
        FROM documents
    ),
    scanned AS (
        SELECT source,
               len(regexp_extract_all(pii, '{email}')) AS k_email,
               len(regexp_extract_all(pii, '{ssn}')) AS k_ssn,
               len(regexp_extract_all(pii, '{phone}')) AS k_phone,
               len(regexp_extract_all(pii, '{ip}')) AS k_ip,
               """
        + md5_long_sql(
            """
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(pii, '{email}', '[EMAIL]', 'g'),
                               '{ssn}', '[SSN]', 'g'),
                           '{phone}', '[PHONE]', 'g'),
                       '{ip}', '[IP]', 'g')
               """,
            8,
        )
        + """ AS rh
        FROM base
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN k_email + k_ssn + k_phone + k_ip > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
           round(sum(CASE WHEN k_email + k_ssn + k_phone + k_ip > 0
                     THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS pii_rate,
           CAST(sum(k_email) AS BIGINT) AS n_email,
           CAST(sum(k_phone) AS BIGINT) AS n_phone,
           CAST(sum(k_ssn) AS BIGINT) AS n_ssn,
           CAST(sum(k_ip) AS BIGINT) AS n_ip,
           CAST(sum(k_email + k_ssn + k_phone + k_ip) AS BIGINT)
               AS n_redactions,
           CAST(sum(rh) AS BIGINT) AS redacted_checksum
    FROM scanned
    GROUP BY source
    """
    )
    .replace("{email}", PII_A_EMAIL_RE)
    .replace("{ssn}", PII_A_SSN_RE)
    .replace("{phone}", PII_A_PHONE_RE)
    .replace("{ip}", PII_A_IP_RE)
)


import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def specs() -> list[QuerySpec]:
    return [
        QuerySpec(
            "heavy_hitters", q_heavy_hitters, HEAVY_HITTERS_ORACLE,
            ("sketch", "llm", "pandas"),
            "Misra-Gries frequent tokens: sketch candidates + exact recount.",
        ),
        QuerySpec(
            "corpus_domain_rollup", q_corpus_domain_rollup,
            CORPUS_DOMAIN_ROLLUP_ORACLE,
            ("corpus", "llm", "curation"),
            "Per-domain governance rollup: real URL->host->domain "
            "extraction, exact-dup rate, length-gate pass rate, "
            "volume/lang spread.",
        ),
        QuerySpec(
            "quality_domain_ensemble", q_quality_domain_ensemble,
            _quality_domain_ensemble_oracle(),
            ("corpus", "llm", "curation", "quality"),
            "Per-domain quality ensemble: registrable-domain key x "
            "Gopher verdict battery x exact-dup rate, with the "
            "keep/drop domain flag.",
        ),
        QuerySpec(
            "corpus_governance_flags", q_corpus_governance_flags,
            CORPUS_GOVERNANCE_FLAGS_ORACLE,
            ("corpus", "llm", "curation", "governance"),
            "License/robots retention audit per (source, license): "
            "robots-blocked counts, retainable volume and word mass.",
        ),
        QuerySpec(
            "url_canonical_dedup", q_url_canonical_dedup,
            URL_CANONICAL_DEDUP_ORACLE,
            ("corpus", "llm", "curation"),
            "URL canonicalization + exact-URL dedup: case/port/"
            "tracking/fragment/trailing-slash rules as pure string "
            "expressions, per-source rollup with per-rule hit counts.",
        ),
        QuerySpec(
            "pii_audit", q_pii_audit, PII_AUDIT_ORACLE,
            ("corpus", "llm", "curation", "privacy"),
            "PII scan + redaction: email/phone/SSN/IP regex classes "
            "(Java-regex/RE2/`re` common subset), per-source counts and "
            "a checksum pinning the exact redacted corpus.",
        ),
        QuerySpec(
            "text_bigram_kn", q_text_bigram_kn, TEXT_BIGRAM_KN_ORACLE,
            ("text", "llm", "quality"),
            "Interpolated Kneser-Ney bigram perplexity per doc "
            "(absolute discount + continuation back-off).",
        ),
        QuerySpec(
            "text_bigram_lm", q_text_bigram_lm, TEXT_BIGRAM_LM_ORACLE,
            ("text", "llm", "lm"),
            "Add-one bigram-LM mean NLL per document (decimal-exact term sums).",
        ),
        QuerySpec(
            "rrf_fusion", q_rrf_fusion, _rrf_oracle(),
            ("text", "llm", "retrieval"),
            "Reciprocal-rank fusion of BM25 and Jaccard rankers.",
        ),
        QuerySpec(
            "substring_winnow", q_substring_winnow, SUBSTRING_WINNOW_ORACLE,
            ("text", "llm", "dedup"),
            "Winnowing k-gram fingerprints -> substring-duplicate pairs.",
        ),
        QuerySpec(
            "dup_ngram_spans", q_dup_ngram_spans, DUP_NGRAM_SPANS_ORACLE,
            ("text", "llm", "dedup"),
            "Maximal cross-doc duplicated token spans (Lee et al. exact-substring shape).",
        ),
        QuerySpec(
            "dedup_span_apply", q_dedup_span_apply, DEDUP_SPAN_APPLY_ORACLE,
            ("text", "llm", "dedup"),
            "Span-removal corpus rebuild: one copy kept corpus-wide, others cut.",
        ),
        QuerySpec(
            "kl_divergence", q_kl_divergence, KL_DIVERGENCE_ORACLE,
            ("text", "llm", "quality"),
            "Per-source token-distribution KL drift (decimal-exact term sum).",
        ),
        QuerySpec(
            "importance_resample", q_importance_resample,
            _importance_resample_oracle(),
            ("text", "llm", "sampling"),
            "DSIR importance resampling: hashed-unigram log-ratio scores "
            "vs the target domain, deterministic top-K.",
        ),
        QuerySpec(
            "text_perplexity", q_text_perplexity, TEXT_PERPLEXITY_ORACLE,
            ("text", "llm", "quality"),
            "Unigram-LM mean-NLL perplexity proxy per document.",
        ),
        QuerySpec(
            "chisq_independence", q_chisq_independence, CHISQ_ORACLE,
            ("analytics", "quality", "stats"),
            "Chi-square source x lang independence (decimal-exact terms).",
        ),
        QuerySpec(
            "graph_triangles", q_graph_triangles, TRIANGLES_ORACLE,
            ("analytics", "graph"),
            "Degree-oriented triangle count over the part co-purchase graph.",
        ),
    ]
