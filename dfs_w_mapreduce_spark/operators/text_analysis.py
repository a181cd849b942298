"""Text-analysis operators for LLM training-data pipelines.

Token counting (whitespace + BPE-ish regex), quality scoring
(length/punctuation/stopword/character-class ratios), language
identification (marker-word n-gram heuristic), and document
fingerprinting — each a pure-expression DataFrame pipeline (no UDFs:
everything stays in whole-stage codegen) with a DuckDB oracle.

Scale posture: all operators are embarrassingly parallel projections
or single hash aggregations over `documents`; at 100 TB they are
scan-bound, so the only knob that matters is parquet split sizing —
no shuffle except where a groupBy is semantically required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import fan_out, load_table
from dfs_w_mapreduce_spark.functions.hashing import md5_long, md5_long_sql
from dfs_w_mapreduce_spark.functions.text import ws_tokens, ws_tokens_sql
from dfs_w_mapreduce_spark.registry import QuerySpec

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
# (kept RE2/Java-portable: no lookarounds, no \p classes).
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# Marker words per language for the n-gram/stopword language-ID
# heuristic. Scores = count of distinct marker hits in the text.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "es", "y"),
    "zh": ("的", "是", "了", "在", "我"),
}


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens,
    distinct whitespace tokens."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
    )


TEXT_TOKENS_ORACLE = f"""
    SELECT doc_id,
           len({ws_tokens_sql('text')}) :: INT AS n_ws_tokens,
           len(list_distinct({ws_tokens_sql('text')})) :: INT AS n_distinct_tokens,
           len(regexp_extract_all(text, '{BPE_RE}')) :: INT AS n_bpe_tokens
    FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring battery: the standard cheap filters an LLM data
    pipeline applies before expensive model-based scoring."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    n_chars = F.length("text").cast("double")
    n_words = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^A-Za-z0-9 ]"), F.lit(0)))
    n_digit = F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), F.lit(0)))
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in STOPWORDS])))
    mean_wl = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    quality = (
        F.when((n_words >= 5) & (mean_wl >= 2) & (mean_wl <= 12), F.lit(1.0)).otherwise(0.0)
        * (1 - F.least(F.lit(1.0), n_punct / F.greatest(n_chars, F.lit(1.0)) * 4))
    )
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1.0)), 4).alias("punct_ratio"),
        F.round(n_digit / F.greatest(n_chars, F.lit(1.0)), 4).alias("digit_ratio"),
        n_stop.alias("n_stopword_kinds"),
        F.round(quality, 4).alias("quality"),
    )


RANK_KEEP_PCT = 0.2


def q_quality_rank_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble quality score, PERCENTILE-RANKED without a global
    window: the production normalization step (keep the top 80% by
    rank, not by an absolute threshold that drifts per corpus).

    Scale design — the distributed-rank pattern: a naive
    percent_rank() over the corpus needs a single-partition global
    sort, a non-starter at 100 TB. Instead: (1) round the score to
    6 dp, which BOUNDS the distinct-score domain to <= 1e6+1 values
    regardless of corpus size; (2) aggregate a per-score histogram
    (one corpus-scale shuffle on a bounded key domain); (3) run the
    cumulative count over the tiny distinct-score frame; (4) join
    ranks back broadcast. percent_rank = strictly-lower / (N - 1)
    (the SQL definition) — and the DuckDB oracle computes it with the
    ENGINE-NATIVE percent_rank() window, so the distributed
    implementation is checked against an independent one rather than
    a mirror of itself."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    n_chars = F.length("text").cast("double")
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[^A-Za-z0-9 ]"), F.lit(0))
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in STOPWORDS])
        )
    )
    score = F.round(
        0.5 * n_stop / 10
        + 0.3 * F.least(n_chars / 500, F.lit(1.0))
        + 0.2
        * (1 - F.least(n_punct / F.greatest(n_chars, F.lit(1.0)) * 4, F.lit(1.0))),
        6,
    )
    scored = d.select("doc_id", score.alias("score"))
    hist = scored.groupBy("score").agg(F.count("*").alias("cnt"))
    # window over DISTINCT scores only — bounded <= 1e6+1 rows by the
    # 6-dp rounding, so the unpartitioned frame is safe at any scale
    wcum = W.orderBy("score").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.withColumn("cum_le", F.sum("cnt").over(wcum)).select(
        "score", (F.col("cum_le") - F.col("cnt")).alias("n_lower")
    )
    total = hist.agg(F.sum("cnt").alias("n_total"))
    pr = F.when(
        F.col("n_total") > 1,
        F.round(F.col("n_lower") / (F.col("n_total") - 1), 6),
    ).otherwise(F.lit(0.0))
    return (
        scored.join(F.broadcast(cum), "score")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "score",
            pr.alias("pct_rank"),
            (pr >= RANK_KEEP_PCT).alias("keep"),
        )
    )


QUALITY_RANK_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
               len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
               len(list_intersect(list_distinct(
                       {ws_tokens_sql('text')}),
                   ['the','a','an','and','or','of','to','in','is','it'])) AS n_stop
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               round(0.5 * n_stop / 10
                     + 0.3 * least(n_chars / 500, 1.0)
                     + 0.2 * (1 - least(n_punct / greatest(n_chars, 1.0) * 4, 1.0)),
                     6) AS score
        FROM base
    ),
    ranked AS (
        SELECT doc_id, score,
               CASE WHEN count(*) OVER () > 1
                    THEN round(percent_rank() OVER (ORDER BY score), 6)
                    ELSE 0.0 END AS pct_rank
        FROM scored
    )
    SELECT doc_id, score, pct_rank, pct_rank >= {RANK_KEEP_PCT} AS keep
    FROM ranked
"""


TEXT_QUALITY_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, text,
               CAST(length(text) AS DOUBLE) AS n_chars,
               len({ws_tokens_sql('text')}) AS n_words,
               len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
               len(regexp_extract_all(text, '[0-9]')) AS n_digit,
               len(list_intersect(list_distinct({ws_tokens_sql('text')}),
                                  ['the','a','an','and','or','of','to','in','is','it'])) AS n_stop
        FROM documents
    ), derived AS (
        SELECT *,
               CASE WHEN n_words > 0 THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END AS mean_wl
        FROM base
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_words AS INT) AS n_words,
           round(mean_wl, 4) AS mean_word_len,
           round(n_punct / greatest(n_chars, 1.0), 4) AS punct_ratio,
           round(n_digit / greatest(n_chars, 1.0), 4) AS digit_ratio,
           CAST(n_stop AS INT) AS n_stopword_kinds,
           round((CASE WHEN n_words >= 5 AND mean_wl BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END)
                 * (1 - least(1.0, n_punct / greatest(n_chars, 1.0) * 4)), 4) AS quality
    FROM derived
"""


# doc_id -> quality only, for composition into other oracles (the
# dedup keep-best policy joins this against cluster labels)
QUALITY_COL_SQL = f"""
    SELECT doc_id,
           round((CASE WHEN n_words >= 5 AND mean_wl BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END)
                 * (1 - least(1.0, n_punct / greatest(n_chars, 1.0) * 4)), 4) AS quality
    FROM (
        SELECT *,
               CASE WHEN n_words > 0 THEN (n_chars - (n_words - 1)) / n_words
                    ELSE 0.0 END AS mean_wl
        FROM (SELECT doc_id,
                     CAST(length(text) AS DOUBLE) AS n_chars,
                     len({ws_tokens_sql('text')}) AS n_words,
                     len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct
              FROM documents)
    )
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: score each language by distinct marker
    hits, argmax with fixed priority order (en>de>fr>es>zh) on ties,
    'und' (undetermined) when no marker hits at all."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(ws_tokens(F.lower(F.col("text"))))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        *[
            F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in marks]))).alias(
                f"s_{lang}"
            )
            for lang, marks in LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # fixed priority order on ties
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id", "lang_declared", pred.alias("lang_pred"), best.alias("score")
    )


def _langid_oracle() -> str:
    toks = f"list_distinct({ws_tokens_sql('lower(text)')})"
    score_cols = ",\n".join(
        f"len(list_intersect({toks}, {list(marks)!r})) AS s_{lang}".replace("'", "'")
        for lang, marks in LANG_MARKERS.items()
    )
    whens = "\n".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"""
        SELECT doc_id, lang_declared,
               CASE WHEN best = 0 THEN 'und' {whens} END AS lang_pred,
               CAST(best AS INT) AS score
        FROM (
            SELECT doc_id, lang_declared,
                   greatest({", ".join("s_" + lang for lang in LANG_MARKERS)}) AS best, *
            FROM (SELECT doc_id, lang AS lang_declared, {score_cols} FROM documents)
        )
    """


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of the raw text (exact-dup key) and
    md5 of the normalized sorted-token form (word-order-invariant
    near-dup key, the 'fingerprint' of Broder-style dedup)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.array_join(
        F.array_sort(
            ws_tokens(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "))
        ),
        " ",
    )
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("exact_fp"),
        F.md5(norm).alias("sorted_fp"),
    )


TEXT_FINGERPRINT_ORACLE = f"""
    SELECT doc_id,
           md5(text) AS exact_fp,
           md5(array_to_string(list_sort({ws_tokens_sql(
               "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')")}), ' ')) AS sorted_fp
    FROM documents
"""


CHUNK_LEN = 100
CHUNK_STRIDE = 80  # 20-char overlap


def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: split each document into fixed-size
    character chunks with overlap (stride < length) — the standard
    prep step before tokenization at 100 TB. Pure explode/substring
    expression; one output row per chunk, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length("text") - (CHUNK_LEN - CHUNK_STRIDE), F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    ex = d.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
    return ex.select(
        "doc_id",
        "chunk_idx",
        F.col("text").substr(F.col("start"), F.lit(CHUNK_LEN)).alias("chunk"),
        F.length(F.col("text").substr(F.col("start"), F.lit(CHUNK_LEN))).alias("chunk_len"),
    )


TEXT_CHUNKING_ORACLE = f"""
    SELECT doc_id,
           CAST(i - 1 AS INT) AS chunk_idx,
           substring(text, CAST((i - 1) * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_LEN}) AS chunk,
           CAST(length(substring(text, CAST((i - 1) * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_LEN})) AS INT) AS chunk_len
    FROM documents,
         LATERAL (SELECT unnest(generate_series(1,
             CAST(ceil(greatest(length(text) - {CHUNK_LEN - CHUNK_STRIDE}, 1) * 1.0 / {CHUNK_STRIDE}) AS BIGINT)
         )) AS i) g
"""


TFIDF_TOP_K = 3


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 terms per document. tf = in-doc term count,
    idf = ln(N / df) over the corpus. Two aggregations (per-doc tf,
    per-term df) joined back — the inverted-index build every search/
    retrieval pipeline runs; df table is tiny (vocabulary-sized) so
    its join side broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df derived from tf (one row per (doc, term) already), not from a
    # separate toks.distinct() pass — tf's shuffle exchange is reused
    # by both branches instead of re-scanning/re-tokenizing the corpus.
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.count()  # scalar driver value (metadata-sized, not data)
    from pyspark.sql import Window as W

    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= TFIDF_TOP_K
    )


# each document's lowercased whitespace tokens, as the CTE toks
_LOWER_TOKS_CTE = f"""toks AS (
        SELECT doc_id, unnest({ws_tokens_sql('lower(text)')}) AS term
        FROM documents
    )"""
# term frequency, document frequency and corpus size over a toks CTE
_TF_DF_N_CTES = """tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)"""


TEXT_TFIDF_ORACLE = f"""
    WITH {_LOWER_TOKS_CTE},
    {_TF_DF_N_CTES},
    scored AS (
        SELECT doc_id, term,
               round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk <= {TFIDF_TOP_K}
"""


TFIDF_COS_T = 0.5
# Terms present in more than this fraction of the corpus are excluded
# from the similarity space entirely (weights AND norms, both engines).
# Such terms carry idf <= ln(1/0.9) ~ 0.105 — near-zero signal — while
# costing df^2 in any inverted-index candidate join: the classic df cap.
# The fixture's max df fraction is 0.83 at every SF, so the cap changes
# nothing there; at a real Zipf vocabulary it hard-bounds the hottest
# terms' quadratic cost.
TFIDF_DF_CAP_FRAC = 0.9
# Strict lower bound used ONLY for prefix pruning. A pair can reach the
# reported threshold after HALF_UP rounding with true cosine >= 0.49995,
# and the 8-dp per-term product rounding can move the computed cosine by
# ~1e-6 relative on fixture-shaped norms — 0.499 leaves a 1e-3 margin
# over both, so the prune is lossless for the final predicate.
TFIDF_PRUNE_T = 0.499
# Strategy-pick boundary: entry-weighted mean df fraction above which
# the vocabulary is "dense" (prefixes can't prune; direct inverted-
# index aggregation is cheaper). The two measured workloads sit far on
# either side: the 31-term fixture at ~0.78, the Zipf corpus at ~0.23.
TFIDF_DENSE_FRAC = 0.5


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector document similarity: threshold cosine over TF-IDF
    weights in the AllPairs/PPJoin shape (Bayardo et al., WWW'07) —
    the SPARSE complement of the dense embedding path in
    operators/similarity.py.

    Scale design (the three prunes, in order):
    1. idf = 0 drop — terms in EVERY doc contribute nothing to dot
       products or norms; lossless.
    2. df cap — terms in > TFIDF_DF_CAP_FRAC of docs are excluded from
       the similarity space on BOTH engines (exact-within-cap
       contract: the oracle applies the identical cap, so this is a
       semantics choice, not an approximation drift). This bounds any
       single term's candidate cost at (cap*N)^2 regardless of the
       vocabulary's head.
    3. Prefix filtering — LOSSLESS candidate pruning for the
       threshold: normalize each doc vector, order its terms by
       global (df ASC, term) — rarest first — and keep a term in the
       doc's PREFIX iff the suffix starting at that term still has
       squared norm >= TFIDF_PRUNE_T^2. If cos(x, y) >= t, the FIRST
       common term in the global order must lie in BOTH prefixes
       (were all common terms past x's prefix boundary, dot(x, y) <=
       ||suffix(x)|| < t) — so joining prefix entries against prefix
       entries generates every qualifying pair. Candidate cost is
       sum(prefix_df^2): hot terms sort LAST, so they enter few
       prefixes and the Zipf head stops paying df^2. The fixture's
       ~uniform 31-term vocabulary is the worst case (prefixes are
       ~80% of entries and ~every pair truly qualifies — the output
       itself is Theta(n^2), so no exact algorithm beats the dense
       fan-out THERE); the win this plan buys is at real vocabularies.

    Verification stays exact: candidates are deduped on pre-clustered
    pair keys (explicit hash repartition first, so join tasks stream
    into the sort-shuffle writer and each reducer dedupes one slice —
    the bounded-memory discipline measured necessary at sf0.1), then
    each pair's full dot product is computed from per-doc weight MAPS
    via map_zip_with (one pass over the union of the two key sets, no
    further shuffle). Per-term products round to 8 dp first — EXACT as
    1e8-scaled longs — and sum as longs (overflow would need ~1e10
    shared terms per pair), then rescale once; the oracle mirrors the
    identical scaled-integer sum, so engine accumulation order cannot
    move the rounded cosine. Explicit round-robin repartition on BOTH
    prefix join sides defeats AQE's coalesce-to-1 (it sizes exchanges
    before the join fan-out; measured 375M rows in ONE task without
    it).

    Adjudicated fixture-bench cost (isolated min-of-3, sf0.1,
    local[32], fresh session): old inverted-index aggregate 17.9s
    [32.5/17.9/34.8] vs this plan 25.5s [34.9/25.5/25.6]. The ~1.4x
    on THIS fixture is the price of per-candidate verification on a
    corpus where all n^2/2 pairs are candidates AND results; accepted
    deliberately because the old plan's sum(df^2) is unboundedly
    superlinear on real vocabularies while this plan's candidate cost
    is capped (df cap) and prefix-pruned — the 100 TB posture the
    operator exists for."""
    d = load_table(spark, sf_dir, "documents")
    # tokenize from a fanned-out projection: the corpus tokenization +
    # tf partial aggregation otherwise run on the fixture scan's single
    # split (fan_out is a no-op at real scale)
    toks = fan_out(spark, d.select("doc_id", "text")).select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    return _allpairs_cosine(spark, sf_dir, d, toks, TFIDF_COS_T, TFIDF_PRUNE_T)


def _allpairs_cosine(
    spark: SparkSession,
    sf_dir: str,
    d: DataFrame,
    toks: DataFrame,
    cos_t: float,
    prune_t: float,
) -> DataFrame:
    """The AllPairs pipeline body shared by q_tfidf_cosine_pairs and
    q_tfidf_cosine_zipf: tf/df/df-cap -> weights -> prefix filtering at
    `prune_t` -> bucketed candidate join -> exact scaled-long verify at
    `cos_t` -> per-doc rollup. See q_tfidf_cosine_pairs for the full
    scale rationale."""
    # tf is consumed by TWO jobs — the strategy-pick stat action below
    # and the main query execution — and ReuseExchange only spans one
    # plan, so persist it (MEMORY_AND_DISK, the sparse doc x term
    # matrix; spills gracefully) so the corpus is tokenized and
    # tf-shuffled exactly once across both. df derives from tf (one
    # row per (doc, term) already), not from a separate
    # toks.distinct() pass.
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).cache()
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.count()
    df_cap = int(TFIDF_DF_CAP_FRAC * n_docs)  # plan-parameter scalar
    w = tf.join(F.broadcast(df_), "term").filter(F.col("df") <= df_cap).select(
        "doc_id",
        "term",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("w"),
    ).filter(F.col("w") > 0)
    wsq = F.round(F.col("w") * F.col("w"), 8).cast("decimal(28,8)")
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(wsq).cast("double")).alias("nrm")
    )
    from dfs_w_mapreduce_spark.catalog import gated_broadcast

    par = spark.sparkContext.defaultParallelism * 2
    pair_parts = spark.sparkContext.defaultParallelism * 8

    # Cost-based strategy pick (round 8) — the engine's own AQE-style
    # runtime-stats decision, from ONE plan-parameter scalar: the
    # entry-weighted mean df fraction of the capped weight matrix.
    #   - DENSE vocabulary (mean > TFIDF_DENSE_FRAC): nearly every
    #     entry is a hot term, prefixes cannot prune (the fixture's
    #     31-term corpus: ~80% of entries survive into prefixes and
    #     every pair is a candidate), so prefix+verify pays the map
    #     merge on top of the unavoidable Theta(sum df^2) — the direct
    #     inverted-index aggregation is strictly cheaper (measured
    #     25.5s -> ~18s at sf0.1).
    #   - SKEWED vocabulary (the 100 TB reality): prefix filtering
    #     collapses the candidate mass (measured 203x on the Zipf
    #     corpus, SCALING_100X.md) — AllPairs wins unboundedly.
    # Both paths compute the IDENTICAL scaled-long pair sum, so the
    # strategy flip can never change the answer (same oracle).
    #
    # The stat runs on the vocabulary-sized df frame, not on w: each
    # capped term contributes exactly df entries of value df/n to the
    # entry-weighted mean (the post-cap w > 0 filter is vacuous — cap
    # 0.9n bounds idf >= ln(1/0.9) ~ 0.105, tf >= 1, so every entry
    # rounds positive at 6 dp), hence mean = sum(df^2) / (n * sum(df)).
    # Same number, but the stat job stops at the tiny per-term
    # aggregate instead of materializing the doc x term join.
    stat = df_.filter(F.col("df") <= df_cap).agg(
        F.try_divide(
            F.sum(F.col("df") * F.col("df")),
            F.sum("df") * F.lit(float(n_docs)),
        ).alias("m")
    ).first()[0]
    mean_df_frac = float(stat or 0.0)
    if mean_df_frac > TFIDF_DENSE_FRAC:
        # direct inverted-index aggregation: per-term pair fan-out,
        # pre-repartitioned on the pair key BEFORE the aggregate (the
        # distinct-over-fan-out OOM discipline), scaled-long sums.
        #
        # r11 A/B note: a blocked per-doc weight-map rewrite (each doc
        # folded into ONE map row, docs hashed into B blocks, pair
        # space generated by a block-keyed join, numerator merged
        # inline by map_zip_with — shuffling n*B map rows instead of
        # sum(df^2) pair-term rows) was landed mid-round on the
        # strength of an A/B taken in a 4-5x-degraded machine window
        # (52.2s new vs 115.4s old), then REVERTED when the window
        # recovered and a clean interleaved fresh-JVM A/B x3 inverted
        # the verdict: old 39.2/27.0/29.6s vs blocked 49.8/43.5/45.3s.
        # Mechanism: on local[*] the exchange is a memory copy, so
        # trading 375M NARROW codegen'd aggregate rows for 12.5M
        # per-pair map allocations + higher-order-function folds buys
        # nothing and costs per-row CPU. On a network-bound cluster
        # the byte argument flips back — revisit there, not here.
        # (Equivalence of the two numerators stays pinned by
        # tests/test_r11_opt.py::test_dense_allpairs_blocked_... .)
        wa = w.select(
            F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("w_a")
        ).repartition(par)
        wb = w.select(
            F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("w_b")
        ).repartition(par)
        num = (
            wa.join(wb, "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.round(F.col("w_a") * F.col("w_b"), 8) * 100000000, 0
                ).cast("long").alias("p8"),
            )
            .repartition(pair_parts, "doc_a", "doc_b")
            .groupBy("doc_a", "doc_b")
            .agg((F.sum("p8").cast("double") / 100000000).alias("num"))
        )
    else:
        num = _prefix_filtered_num(spark, sf_dir, w, norms, prune_t, par, pair_parts)

    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    # The norms are corpus-cardinality (one row per doc), so an
    # unconditional broadcast hint is an OOM risk at scale; gate it on
    # the documents table size instead — hinted while broadcast-sized,
    # AQE's choice beyond (the pair frame is already shuffled on ids).
    pairs = (
        num.join(gated_broadcast(na, sf_dir, "documents"), "doc_a")
        .join(gated_broadcast(nb, sf_dir, "documents"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("num") / (F.col("nrm_a") * F.col("nrm_b")), 4).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= cos_t)
    )
    # compact per-document summary: the tiny-vocab fixture makes most
    # doc pairs cosine-similar, so the raw pair set is O(n^2) rows —
    # the registry row aggregates it (full pair computation still runs
    # and is hash-verified through these counts/extrema)
    return pairs.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("n_similar"),
        F.max("cosine").alias("max_cosine"),
        F.min("cosine").alias("min_cosine"),
    )


def _prefix_filtered_num(
    spark: SparkSession,
    sf_dir: str,
    w: DataFrame,
    norms: DataFrame,
    prune_t: float,
    par: int,
    pair_parts: int,
) -> DataFrame:
    """The AllPairs prefix-filter candidate path: lossless prefix
    selection (suffix squared norm of the normalized vector in global
    rarest-first term order), bucketed prefix self-join, then exact
    per-candidate verification via weight-map merges. Returns the
    (doc_a, doc_b, num) pair frame. See q_tfidf_cosine_pairs for the
    pruning proof and the AQE/OOM shuffle discipline."""
    from dfs_w_mapreduce_spark.catalog import gated_broadcast

    u = w.join(
        gated_broadcast(norms.withColumnRenamed("doc_id", "nd"), sf_dir, "documents"),
        F.col("doc_id") == F.col("nd"),
    ).select("doc_id", "term", "df", (F.col("w") / F.col("nrm")).alias("u"))
    win = (
        W.partitionBy("doc_id")
        .orderBy(F.col("df").asc(), F.col("term").asc())
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    prefix = (
        u.withColumn("ssq", F.sum(F.col("u") * F.col("u")).over(win))
        .filter(F.col("ssq") >= prune_t * prune_t)
        .select("doc_id", "term")
    )
    # candidate generation: prefix-entry self-join. Explicit round-robin
    # on BOTH sides (AQE coalesce-to-1 defense, build-side flips), then
    # explicit hash repartition on the pair key BEFORE the dedupe so the
    # fan-out never builds partial maps sized by itself.
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("term").alias("term")
    ).repartition(par)
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("term").alias("term")
    ).repartition(par)
    cand = (
        pa.join(pb, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .repartition(pair_parts, "doc_a", "doc_b")
        .distinct()
    )
    # exact verify: full dot product from per-doc weight maps, one
    # merge pass per pair, zero additional shuffle over the fan-out.
    vecs = w.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "w"))).alias("vec")
    )
    va = vecs.select(F.col("doc_id").alias("doc_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("doc_id").alias("doc_b"), F.col("vec").alias("vec_b"))
    dot8 = F.expr(
        """
        aggregate(
          map_values(map_zip_with(vec_a, vec_b,
            (k, x, y) -> CASE WHEN x IS NULL OR y IS NULL THEN CAST(0 AS BIGINT)
                         ELSE CAST(round(round(x * y, 8) * 100000000, 0) AS BIGINT)
                         END)),
          CAST(0 AS BIGINT), (acc, v) -> acc + v)
        """
    )
    # the weight-MAP frame deserializes ~50-100x its parquet footprint
    # (per-entry string keys), so it takes the tight shingle-class gate,
    # not the 64MB compressed-size gate (see dedup.SHINGLE_BROADCAST_CAP)
    from dfs_w_mapreduce_spark.operators.dedup import _merge_join

    return (
        cand.join(_merge_join(va, sf_dir), "doc_a")
        .join(_merge_join(vb, sf_dir), "doc_b")
        .select(
            "doc_a", "doc_b", (dot8.cast("double") / 100000000).alias("num")
        )
    )


def _tfidf_cosine_oracle(toks_ctes: str, threshold: float) -> str:
    """DuckDB twin of _allpairs_cosine over the token stream toks_ctes
    defines: exact within the df cap (the cap is part of the operator's
    semantics), with the Spark side's 1e8-scaled-long dot products."""
    return f"""
    WITH {toks_ctes},
    {_TF_DF_N_CTES},
    w AS (
        SELECT doc_id, term, round(tf * ln(n_docs * 1.0 / df), 6) AS w
        FROM tf JOIN df USING (term) CROSS JOIN n
        WHERE round(tf * ln(n_docs * 1.0 / df), 6) > 0
          AND df <= (SELECT CAST(floor({TFIDF_DF_CAP_FRAC} * count(*)) AS BIGINT)
                     FROM documents)
    ),
    norms AS (
        SELECT doc_id,
               sqrt(CAST(sum(CAST(round(w * w, 8) AS DECIMAL(28,8))) AS DOUBLE))
                   AS nrm
        FROM w GROUP BY 1
    ),
    num AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(CAST(round(round(a.w * b.w, 8) * 100000000, 0) AS BIGINT))
                    AS DOUBLE) / 100000000 AS num
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a AS doc_id, count(*) AS n_similar,
           max(cosine) AS max_cosine, min(cosine) AS min_cosine
    FROM (
        SELECT doc_a, doc_b,
               round(num / (na.nrm * nb.nrm), 4) AS cosine
        FROM num
        JOIN norms na ON num.doc_a = na.doc_id
        JOIN norms nb ON num.doc_b = nb.doc_id
        WHERE round(num / (na.nrm * nb.nrm), 4) >= {threshold}
    )
    GROUP BY 1
"""


TFIDF_COSINE_ORACLE = _tfidf_cosine_oracle(_LOWER_TOKS_CTE, TFIDF_COS_T)


TFIDF_ZIPF_COS_T = 0.3
# strict lower bound for prefix pruning, 1e-3 margin under the
# threshold for the 4-dp rounding slack (same derivation as
# TFIDF_PRUNE_T at 0.5). 0.3 sits on the measured candidate cliff:
# at 0.2 the suffix-norm bound keeps 68% of entries and the candidate
# set is 6.77M of the 12.5M possible pairs (1.85x — the filter is
# nominal); at 0.3 it is 1.28M (9.8x) while the fixture still yields
# a meaningful result mass (9 pairs at sf0.01, 795 at sf0.1) — the
# regime the prefix filter exists for.
TFIDF_ZIPF_PRUNE_T = 0.299
ZIPF_HOT, ZIPF_MID, ZIPF_TAIL = 4, 32, 2048


def q_tfidf_cosine_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AllPairs plan on a SKEWED vocabulary — the workload the
    prefix-filter design exists for (the base fixture's 31-term
    near-uniform vocabulary is its worst case; SCALING_100X.md §2
    measured a 203x candidate reduction on a Zipf corpus, and this
    query makes that shape a driver-verified CORRECTNESS row rather
    than probe-only evidence).

    The skewed corpus derives deterministically from the fixture: each
    document re-tokenizes to one synthetic term per original token
    position via the cross-engine md5 hash of (doc_id, pos) —
    3/8 of occurrences land on 4 HOT terms (df ~ 0.96 of the corpus:
    above TFIDF_DF_CAP_FRAC, so the df cap provably fires), 3/8 on 32
    MID terms (df ~ 0.45: in the similarity space, low idf), 2/8 on
    2048 TAIL terms (df ~ 0.002-0.01: high idf, they dominate norms and
    sort FIRST in the rarest-first prefix order). Prefix filtering
    therefore keeps mostly tail entries and the candidate join runs on
    df<=~50 terms instead of the df~2300 mid head — the Zipf win,
    exercised under the driver's hash check at threshold 0.3 (the
    measured candidate cliff: 9.8x candidate reduction vs 1.85x at
    0.2, while the fixture still yields a meaningful result mass —
    9 pairs at sf0.01, 795 at sf0.1). Same exact scaled-long
    verify and identically-capped oracle as q_tfidf_cosine_pairs."""
    d = load_table(spark, sf_dir, "documents")
    return _allpairs_cosine(
        spark, sf_dir, d, _zipf_toks(d), TFIDF_ZIPF_COS_T, TFIDF_ZIPF_PRUNE_T
    )


def _zipf_toks(d: DataFrame) -> DataFrame:
    """The derived Zipf-skewed (doc_id, term) stream — shared by
    q_tfidf_cosine_zipf and q_tfidf_plan_pick."""
    n_toks = F.size(ws_tokens(F.lower(F.col("text"))))
    # fan_out before the per-position explode + md5 hashing (single
    # fixture scan split otherwise serializes the synthetic tokenizer)
    d = fan_out(d.sparkSession, d.select("doc_id", "text"))
    pos = (
        d.select("doc_id", n_toks.alias("nt"))
        .filter(F.col("nt") > 0)
        .select("doc_id", F.explode(F.sequence(F.lit(0), F.col("nt") - 1)).alias("pos"))
    )
    hashed = pos.select(
        "doc_id",
        md5_long(F.concat_ws(":", "doc_id", "pos")).alias("h"),
    )
    return hashed.select(
        "doc_id",
        F.expr(
            f"CASE WHEN h % 8 < 3 THEN concat('h', CAST((h div 8) % {ZIPF_HOT} AS STRING))"
            f" WHEN h % 8 < 6 THEN concat('m', CAST((h div 8) % {ZIPF_MID} AS STRING))"
            f" ELSE concat('t', CAST((h div 8) % {ZIPF_TAIL} AS STRING)) END"
        ).alias("term"),
    )


# the derived Zipf corpus as CTEs (base/pos/toks) — shared by
# TFIDF_ZIPF_ORACLE and the plan-pick oracle
_ZIPF_TOKS_CTES = f"""base AS (
        SELECT doc_id,
               len({ws_tokens_sql('lower(text)')}) AS n_toks
        FROM documents
    ),
    pos AS (SELECT doc_id, unnest(range(0, n_toks)) AS pos FROM base),
    toks AS (
        SELECT doc_id,
               CASE WHEN h % 8 < 3 THEN 'h' || CAST((h // 8) % {ZIPF_HOT} AS VARCHAR)
                    WHEN h % 8 < 6 THEN 'm' || CAST((h // 8) % {ZIPF_MID} AS VARCHAR)
                    ELSE 't' || CAST((h // 8) % {ZIPF_TAIL} AS VARCHAR) END AS term
        FROM (SELECT doc_id,
                     {md5_long_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")}
                          AS h
              FROM pos)
    )"""


TFIDF_ZIPF_ORACLE = _tfidf_cosine_oracle(_ZIPF_TOKS_CTES, TFIDF_ZIPF_COS_T)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters (the Gopher/C4-style battery): fraction of
    the document covered by its most-common token and most-common word
    2-gram. High fractions flag boilerplate/spam for removal before
    training. Two hash aggregations (unigram + bigram term counts per
    doc) — at 100 TB the shuffle keys are (doc_id, term), perfectly
    spread, and the window per doc_id touches vocabulary-sized groups."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", ws_tokens(F.lower(F.col("text"))).alias("w"))
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    grams = F.zip_with(
        F.slice("w", 1, n1), F.slice("w", 2, n1), lambda x, y: F.concat_ws(" ", x, y)
    )
    uni = base.select("doc_id", F.explode("w").alias("t")).groupBy("doc_id", "t").agg(
        F.count("*").alias("n")
    )
    big = base.select("doc_id", F.explode(grams).alias("g")).groupBy(
        "doc_id", "g"
    ).agg(F.count("*").alias("n"))
    wd = W.partitionBy("doc_id")

    def top1(df, term_col, prefix):
        return (
            df.withColumn("total", F.sum("n").over(wd))
            .withColumn("rk", F.row_number().over(wd.orderBy(F.desc("n"), term_col)))
            .filter(F.col("rk") == 1)
            .select(
                "doc_id",
                F.col(term_col).alias(f"top_{prefix}"),
                F.col("n").alias(f"top_{prefix}_n"),
                F.col("total").alias(f"n_{prefix}s"),
                F.round(F.col("n") / F.col("total"), 4).alias(f"top_{prefix}_frac"),
            )
        )

    return top1(uni, "t", "token").join(top1(big, "g", "bigram"), "doc_id")


TEXT_REPETITION_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               {ws_tokens_sql('lower(text)')} AS w
        FROM documents
    ),
    unic AS (
        SELECT doc_id, t, count(*) AS n
        FROM (SELECT doc_id, unnest(w) AS t FROM base) GROUP BY 1, 2
    ),
    bigc AS (
        SELECT doc_id, g, count(*) AS n
        FROM (SELECT doc_id, unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS g
              FROM base)
        GROUP BY 1, 2
    ),
    topu AS (
        SELECT doc_id, t AS top_token, n AS top_token_n,
               CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens,
               row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, t) AS rk
        FROM unic
    ),
    topb AS (
        SELECT doc_id, g AS top_bigram, n AS top_bigram_n,
               CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
               row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g) AS rk
        FROM bigc
    )
    SELECT u.doc_id, u.top_token, u.top_token_n, u.n_tokens,
           round(u.top_token_n * 1.0 / u.n_tokens, 4) AS top_token_frac,
           b.top_bigram, b.top_bigram_n, b.n_bigrams,
           round(b.top_bigram_n * 1.0 / b.n_bigrams, 4) AS top_bigram_frac
    FROM topu u JOIN topb b USING (doc_id)
    WHERE u.rk = 1 AND b.rk = 1
"""


# PII patterns kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB): plain character classes, no lookarounds, no \p classes.
PII_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]"
PII_PHONE_RE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and mask email/phone matches. The fixture
    corpus is PII-free, so deterministic PII is synthesized per doc
    (one email always, a phone for every other doc) — the regexes then
    provably fire, and the DuckDB oracle re-runs the identical
    synthesize→count→redact pipeline, so any cross-engine regex
    semantic drift breaks the hash. Pure projection: scan-bound at
    100 TB, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" or +1-555-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.length(red).alias("redacted_len"),
        F.md5(red).alias("redacted_fp"),
    )


TEXT_PII_ORACLE = f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                    || CASE WHEN doc_id % 2 = 0
                            THEN ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            ELSE '' END AS t
        FROM documents
    ),
    red AS (
        SELECT doc_id, t,
               regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PII_PHONE_RE}', '<PHONE>', 'g') AS r
        FROM aug
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS INT) AS n_phones,
           CAST(length(r) AS INT) AS redacted_len,
           md5(r) AS redacted_fp
    FROM red
"""


VOCAB_TOP = 100


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction step 0: corpus-wide term frequencies,
    top-100 terms by count, and the cumulative fraction of all tokens
    each vocabulary prefix covers (the curve that decides vocab size
    for a tokenizer). One explode + one hash aggregate; the ranked
    window runs over the vocabulary-sized aggregate, not the corpus."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.orderBy(F.desc("cnt"), "term")
    ranked = tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= VOCAB_TOP
    )
    total = tf.agg(F.sum("cnt").alias("_t"))
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "term",
        "cnt",
        F.round(
            F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            / F.col("_t"),
            6,
        ).alias("cum_frac"),
    )


VOCAB_COVERAGE_ORACLE = f"""
    WITH tf AS (
        SELECT term, count(*) AS cnt
        FROM (SELECT unnest({ws_tokens_sql('lower(text)')}) AS term
              FROM documents)
        GROUP BY 1
    ),
    total AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tf),
    ranked AS (
        SELECT term, cnt,
               row_number() OVER (ORDER BY cnt DESC, term) AS rank,
               CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM tf
    )
    SELECT CAST(rank AS INT) AS rank, term, cnt,
           round(cum * 1.0 / t, 6) AS cum_frac
    FROM ranked CROSS JOIN total
    WHERE rank <= {VOCAB_TOP}
"""


SEG_LEN = 8          # tokens per pseudo-paragraph segment
SEG_DOC_FREQ_MAX = 2  # keep a segment iff it occurs in <= this many docs


def _doc_segments(d: DataFrame, seg_len: int = SEG_LEN) -> DataFrame:
    """(doc_id, seg_idx, seg) — fixed seg_len-token pseudo-paragraph
    segmentation (the fixture corpus is single-line, so token windows
    stand in for lines/paragraphs), shared by corpus-level line
    dedup, cross-doc paragraph canonicalization, and the within-doc
    repetition quality signals."""
    toks = ws_tokens(F.col("text"))
    n_segs = F.ceil(F.size("tk") / seg_len).cast("int")
    return (
        d.select("doc_id", toks.alias("tk"))
        .select(
            "doc_id",
            "tk",
            F.posexplode(
                F.when(F.size("tk") > 0, F.sequence(F.lit(0), n_segs - 1))
                .otherwise(F.array().cast("array<int>"))
            ).alias("seg_idx", "_i"),
        )
        .select(
            "doc_id",
            "seg_idx",
            F.array_join(
                F.slice("tk", F.col("seg_idx") * seg_len + 1, seg_len), " "
            ).alias("seg"),
        )
    )


def _segs_sql(seg_len: int = SEG_LEN) -> str:
    """The oracle-side twin of _doc_segments (CTE block, no WITH)."""
    return f"""
    tk AS (
        SELECT doc_id,
               {ws_tokens_sql('text')} AS tk
        FROM documents
    ),
    idx AS (
        SELECT doc_id, tk,
               unnest(range(0, CAST(ceil(len(tk) / {seg_len}.0) AS INT))) AS seg_idx
        FROM tk
    ),
    segs AS (
        SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
               array_to_string(tk[(seg_idx * {seg_len} + 1):(seg_idx * {seg_len} + {seg_len})], ' ') AS seg
        FROM idx
    )
"""


_SEGS_SQL = _segs_sql()


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal (CCNet/RefinedWeb line-dedup):
    segment every document into fixed 8-token pseudo-paragraphs (the
    fixture corpus is single-line, so token windows stand in for
    lines), count each segment's distinct-document frequency across
    the WHOLE corpus, drop segments shared by more than
    SEG_DOC_FREQ_MAX documents, and reassemble the cleaned text.

    Plan shape at 100 TB: one explode, one hash-agg keyed on the
    segment string for the frequency table, one hash join back
    (segment space ~ corpus size — no broadcast), one per-doc
    reassembly agg. Segments shuffle as strings once; nothing is
    pairwise. The left join from `documents` keeps docs whose every
    segment was boilerplate (cleaned_text = '')."""
    d = load_table(spark, sf_dir, "documents")
    segs = _doc_segments(d).persist()
    freq = segs.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("seg_df")
    )
    kept = segs.join(freq, "seg").filter(F.col("seg_df") <= SEG_DOC_FREQ_MAX)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    totals = segs.groupBy("doc_id").agg(F.count("*").cast("int").alias("n_segs"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


TEXT_LINE_DEDUP_ORACLE = f"""
    WITH {_SEGS_SQL},
    freq AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY 1),
    kept AS (
        SELECT s.* FROM segs s JOIN freq USING (seg)
        WHERE seg_df <= {SEG_DOC_FREQ_MAX}
    ),
    rebuilt AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
               array_to_string(list(seg ORDER BY seg_idx), ' ') AS cleaned_text
        FROM kept GROUP BY 1
    ),
    totals AS (SELECT doc_id, CAST(count(*) AS INT) AS n_segs FROM segs GROUP BY 1)
    SELECT t.doc_id, t.n_segs,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


# Cross-doc paragraph canonicalization: seg_idx < 2^20 (docs under
# ~8M tokens) keeps the (doc, seg) occurrence key exact in a long.
_SEG_KEY_SHIFT = 1 << 20


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup with normalization (the CCNet
    recipe at paragraph granularity): normalize each SEG_LEN-token
    segment (lowercase, strip punctuation, re-tokenize), elect one
    canonical occurrence per normalized segment — the globally
    smallest (doc_id, seg_idx) key, deterministic on both engines —
    and report, per document, how many of its segments are non-canon
    repeats of text owned elsewhere. This is the segment-level twin
    of dedup_exact: line_dedup drops segments by document-frequency
    cap; this keeps exactly ONE copy of every repeated paragraph.

    Plan shape at 100 TB: one segment explode, one hash aggregate
    keyed on the normalized segment string (min occurrence key), one
    corpus-sized hash join back on that key (no broadcast — segment
    space ~ corpus size), one per-doc rollup. Nothing pairwise,
    nothing collected."""
    d = load_table(spark, sf_dir, "documents")
    segs = _doc_segments(d)
    nseg = F.array_join(
        ws_tokens(F.regexp_replace(F.lower(F.col("seg")), "[^a-z0-9 ]", " ")),
        " ",
    )
    k = (F.col("doc_id") * _SEG_KEY_SHIFT + F.col("seg_idx")).cast("long")
    n = segs.select("doc_id", nseg.alias("nseg"), k.alias("k"))
    canon = n.groupBy("nseg").agg(F.min("k").alias("keeper"))
    dup = F.sum(F.when(F.col("k") != F.col("keeper"), 1).otherwise(0))
    return (
        n.join(canon, "nseg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_segs"),
            dup.cast("int").alias("n_dup_segs"),
            F.round(F.try_divide(dup, F.count("*")), 4).alias("dup_frac"),
        )
    )


DEDUP_PARAGRAPH_ORACLE = f"""
    WITH {_SEGS_SQL},
    norm AS (
        SELECT doc_id,
               array_to_string({ws_tokens_sql(
                   "regexp_replace(lower(seg), '[^a-z0-9 ]', ' ', 'g')")}, ' ') AS nseg,
               doc_id * {_SEG_KEY_SHIFT} + seg_idx AS k
        FROM segs
    ),
    canon AS (SELECT nseg, min(k) AS keeper FROM norm GROUP BY nseg)
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_segs,
           CAST(sum(CASE WHEN k <> keeper THEN 1 ELSE 0 END) AS INT) AS n_dup_segs,
           round(sum(CASE WHEN k <> keeper THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_frac
    FROM norm JOIN canon USING (nseg)
    GROUP BY doc_id
"""


# RefinedWeb-style within-document repetition thresholds
REP_LINE_MAX = 0.30  # max duplicate-line (segment) fraction
REP_CHAR_MAX = 0.20  # max duplicate-line character-mass fraction
REP_SEG_LEN = 2      # finer 'lines' than SEG_LEN: within-doc repeats
                     # at 8 tokens are vanishingly rare in any corpus


def q_quality_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signals (the RefinedWeb /
    Gopher 'repetitious text' battery at line granularity, on
    REP_SEG_LEN-token pseudo-lines): per document, the fraction of
    segment occurrences that repeat an earlier identical segment of
    the SAME document, the character mass those repeats carry, and
    the keep verdict at the published-style thresholds. Complements
    quality_gopher's 2-gram char-mass rule (dup2_frac) with the
    line-level rule pair the RefinedWeb filters actually apply.

    Plan shape at 100 TB: one (doc, segment) hash aggregate then a
    doc-keyed rollup — two linear hash aggregates, no join, no
    window, nothing global."""
    d = load_table(spark, sf_dir, "documents")
    segs = _doc_segments(d, REP_SEG_LEN)
    cnts = segs.groupBy("doc_id", "seg").agg(F.count("*").alias("c"))
    L = F.length("seg")
    per = cnts.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_segs"),
        F.count("*").cast("int").alias("n_distinct_segs"),
        F.round(
            F.try_divide(F.sum("c") - F.count("*"), F.sum("c")), 4
        ).alias("dup_line_frac"),
        F.coalesce(
            F.round(
                F.try_divide(F.sum((F.col("c") - 1) * L), F.sum(F.col("c") * L)), 4
            ),
            F.lit(0.0),
        ).alias("dup_char_frac"),
    )
    return per.withColumn(
        "keep",
        (F.col("dup_line_frac") <= REP_LINE_MAX)
        & (F.col("dup_char_frac") <= REP_CHAR_MAX),
    )


QUALITY_REPEATED_ORACLE = f"""
    WITH {_segs_sql(REP_SEG_LEN)},
    cnts AS (
        SELECT doc_id, seg, count(*) AS c, length(seg) AS l
        FROM segs GROUP BY doc_id, seg
    ),
    per AS (
        SELECT doc_id,
               CAST(sum(c) AS INT) AS n_segs,
               CAST(count(*) AS INT) AS n_distinct_segs,
               round((sum(c) - count(*)) * 1.0 / sum(c), 4) AS dup_line_frac,
               coalesce(round(sum((c - 1) * l) * 1.0
                              / nullif(sum(c * l), 0), 4), 0.0) AS dup_char_frac
        FROM cnts GROUP BY doc_id
    )
    SELECT doc_id, n_segs, n_distinct_segs, dup_line_frac, dup_char_frac,
           (dup_line_frac <= {REP_LINE_MAX} AND dup_char_frac <= {REP_CHAR_MAX})
               AS keep
    FROM per
"""


# BM25 keyword retrieval: fixed two-term queries over fixture vocabulary
BM25_QUERIES: tuple[tuple[str, str, str], ...] = (
    ("q_spark_join", "spark", "join"),
    ("q_window_scan", "window", "scan"),
    ("q_hash_stream", "hash", "stream"),
)
BM25_K1, BM25_B, BM25_TOP_K = 1.2, 0.75, 5


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: score a fixed set of two-term queries
    against the corpus, return the top-5 documents per query.

    The corpus-side explode filters to the queries' term set BEFORE
    any aggregation, so tf/df are computed only for matched terms —
    at 100 TB the post-filter stream is (hits x terms), not the
    corpus. Document length and corpus stats come from a size()
    projection (no explode, no shuffle); df and the query list are
    broadcast-sized. Score = sum over query terms of
    idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with the standard
    +0.5 idf smoothing; two-term sums are order-safe in doubles."""
    from pyspark.sql import Window as W

    # fan_out: both the dl projection and the corpus explode tokenize
    # the full text over a one-split fixture scan (no-op at scale)
    d = fan_out(spark, load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    qterms = sorted({t for _, a, b in BM25_QUERIES for t in (a, b)})
    queries = spark.createDataFrame(
        [(qid, t) for qid, a, b in BM25_QUERIES for t in (a, b)],
        "query_id string, term string",
    )
    toks = ws_tokens(F.lower(F.col("text")))
    dl = d.select("doc_id", F.size(toks).cast("long").alias("dl"))
    stats = dl.agg(
        F.sum("dl").cast("double").alias("tot_dl"),
        F.count("*").cast("double").alias("n_docs"),
    )
    hits = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.col("term").isin(qterms))
    )
    tf = hits.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = hits.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    avgdl = F.col("tot_dl") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    s = idf * (
        F.col("tf") * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl))
    )
    scored = (
        queries.join(tf, "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(s), 4).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score", F.col("rk").cast("int").alias("rk"))
    )


def _bm25_oracle() -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, a, b in BM25_QUERIES for t in (a, b)
    )
    qterms = ", ".join(
        f"'{t}'" for t in sorted({t for _, a, b in BM25_QUERIES for t in (a, b)})
    )
    return f"""
        WITH q(query_id, term) AS (VALUES {qvals}),
        dl AS (
            SELECT doc_id,
                   CAST(len({ws_tokens_sql('lower(text)')}) AS BIGINT) AS dl
            FROM documents
        ),
        stats AS (SELECT CAST(sum(dl) AS DOUBLE) AS tot_dl,
                         CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
        hits AS (
            SELECT doc_id, term FROM (
                SELECT doc_id,
                       unnest({ws_tokens_sql('lower(text)')}) AS term
                FROM documents
            ) WHERE term IN ({qterms})
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df
               FROM (SELECT DISTINCT doc_id, term FROM hits) GROUP BY 1),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * ({BM25_K1} + 1)
                          / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (tot_dl / n_docs))))
                   ), 4) AS score
            FROM q JOIN tf USING (term) JOIN df USING (term)
                 JOIN dl ON tf.doc_id = dl.doc_id
                 CROSS JOIN stats
            GROUP BY 1, 2
        )
        SELECT query_id, doc_id, score, CAST(rk AS INT) AS rk FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, doc_id) AS rk
            FROM scored
        ) WHERE rk <= {BM25_TOP_K}
    """


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation table for the language-ID heuristic:
    confusion cells (declared x predicted) with per-declared-language
    recall — the quality gate you run before trusting a cheap
    heuristic to route 100 TB of documents into per-language
    pipelines. One aggregation over the prediction frame plus a
    partition-local window for the recall denominator (cells per
    language are tiny; the window never sees corpus-sized input)."""
    from pyspark.sql import Window as W

    p = q_text_langid(spark, sf_dir)
    cell = p.groupBy("lang_declared", "lang_pred").agg(F.count("*").alias("n"))
    wd = W.partitionBy("lang_declared")
    return cell.select(
        "lang_declared",
        "lang_pred",
        "n",
        F.round(F.try_divide(F.col("n"), F.sum("n").over(wd)), 4).alias("recall_frac"),
        (F.col("lang_declared") == F.col("lang_pred")).alias("is_correct"),
    )


def _langid_confusion_oracle() -> str:
    return f"""
        WITH p AS ({_langid_oracle()}),
        cell AS (
            SELECT lang_declared, lang_pred, count(*) AS n
            FROM p GROUP BY 1, 2
        )
        SELECT lang_declared, lang_pred, n,
               round(n * 1.0 / sum(n) OVER (PARTITION BY lang_declared), 4)
                   AS recall_frac,
               lang_declared = lang_pred AS is_correct
        FROM cell
    """


QT_THRESHOLDS = [0.0, 0.25, 0.5, 0.75, 0.9]


def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-dashboard keep-rate curve: documents and tokens
    retained at each candidate quality threshold — the table a
    filtering decision actually reads (set the cut where the token
    loss is acceptable). ONE corpus scan: all thresholds evaluate as
    conditional aggregates in a single global HashAggregate row, then
    pivot long via stack — no per-threshold rescan, no explode
    amplification. At 100 TB this is a single map-side-combinable
    pass regardless of how many thresholds are swept."""
    q = q_text_quality(spark, sf_dir).select("n_words", "quality")
    aggs = [F.count("*").alias("n_docs"), F.sum("n_words").alias("n_tokens")]
    for i, t in enumerate(QT_THRESHOLDS):
        keep = F.col("quality") >= t
        aggs.append(F.count(F.when(keep, 1)).alias(f"c{i}"))
        aggs.append(F.sum(F.when(keep, F.col("n_words"))).alias(f"s{i}"))
    one = q.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), c{i}, s{i}" for i, t in enumerate(QT_THRESHOLDS)
    )
    return one.select(
        F.expr(
            f"stack({len(QT_THRESHOLDS)}, {stack_args}) "
            "AS (threshold, docs_kept, tokens_kept)"
        ),
        "n_docs",
        "n_tokens",
    ).select(
        "threshold",
        "docs_kept",
        F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
        F.round(F.try_divide(F.col("docs_kept"), F.col("n_docs")), 4).alias("docs_frac"),
        F.round(
            F.try_divide(F.coalesce("tokens_kept", F.lit(0)), F.col("n_tokens")), 4
        ).alias("tokens_frac"),
    )


def _quality_sweep_oracle() -> str:
    branches = []
    for t in QT_THRESHOLDS:
        branches.append(f"""
        SELECT CAST({t} AS DOUBLE) AS threshold,
               count(*) FILTER (quality >= {t}) AS docs_kept,
               CAST(coalesce(sum(n_words) FILTER (quality >= {t}), 0) AS BIGINT)
                   AS tokens_kept,
               round(count(*) FILTER (quality >= {t}) * 1.0 / count(*), 4)
                   AS docs_frac,
               round(coalesce(sum(n_words) FILTER (quality >= {t}), 0) * 1.0
                     / sum(n_words), 4) AS tokens_frac
        FROM qn
        """)
    return f"""
        WITH q AS ({QUALITY_COL_SQL}),
        nw AS (SELECT doc_id, len({ws_tokens_sql('text')}) AS n_words FROM documents),
        qn AS (SELECT q.quality, nw.n_words FROM q JOIN nw USING (doc_id))
        {" UNION ALL ".join(branches)}
    """


def q_tfidf_plan_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TF-IDF cosine STRATEGY PICK as its own driver-verified row:
    for both corpora the engine serves (the fixture's near-uniform
    vocabulary and the derived Zipf corpus), emit the runtime stat the
    optimizer computes — the entry-weighted mean df fraction
    sum(df^2)/(n*sum(df)) over the capped vocabulary — and the plan it
    therefore picks. This hash-pins the cost MODEL itself, not just
    the plans it chooses between (the two workloads sit far on either
    side of TFIDF_DENSE_FRAC: ~0.78 vs ~0.23)."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    df_cap = int(TFIDF_DF_CAP_FRAC * n_docs)

    def stat_frame(name: str, toks: DataFrame) -> DataFrame:
        tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
        m = F.try_divide(
            F.sum(F.col("df") * F.col("df")),
            F.sum("df") * F.lit(float(n_docs)),
        )
        return df_.filter(F.col("df") <= df_cap).agg(
            (F.round(m, 6) + 0.0).alias("mean_df_frac")
        ).select(
            F.lit(name).alias("corpus"),
            "mean_df_frac",
            F.when(
                F.col("mean_df_frac") > TFIDF_DENSE_FRAC,
                F.lit("inverted-index"),
            ).otherwise(F.lit("prefix-allpairs")).alias("plan"),
        )

    fixture = d.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    return stat_frame("fixture", fixture).unionByName(
        stat_frame("zipf", _zipf_toks(d))
    )


TFIDF_PLAN_PICK_ORACLE = f"""
    WITH ftoks AS (
        SELECT doc_id, unnest({ws_tokens_sql('lower(text)')}) AS term
        FROM documents
    ),
    {_ZIPF_TOKS_CTES},
    n AS (SELECT count(*) AS nd FROM documents),
    fstat AS (
        SELECT round(SUM(df * df) * 1.0 / NULLIF(SUM(df) * nd, 0), 6) + 0.0
                   AS mean_df_frac
        FROM (SELECT term, count(*) AS df
              FROM (SELECT doc_id, term, count(*) AS tf FROM ftoks GROUP BY 1, 2)
              GROUP BY 1) CROSS JOIN n
        WHERE df <= (SELECT CAST(floor({TFIDF_DF_CAP_FRAC} * nd) AS BIGINT) FROM n)
        GROUP BY nd
    ),
    zstat AS (
        SELECT round(SUM(df * df) * 1.0 / NULLIF(SUM(df) * nd, 0), 6) + 0.0
                   AS mean_df_frac
        FROM (SELECT term, count(*) AS df
              FROM (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)
              GROUP BY 1) CROSS JOIN n
        WHERE df <= (SELECT CAST(floor({TFIDF_DF_CAP_FRAC} * nd) AS BIGINT) FROM n)
        GROUP BY nd
    )
    SELECT 'fixture' AS corpus, mean_df_frac,
           CASE WHEN mean_df_frac > {TFIDF_DENSE_FRAC} THEN 'inverted-index'
                ELSE 'prefix-allpairs' END AS plan
    FROM fstat
    UNION ALL
    SELECT 'zipf', mean_df_frac,
           CASE WHEN mean_df_frac > {TFIDF_DENSE_FRAC} THEN 'inverted-index'
                ELSE 'prefix-allpairs' END
    FROM zstat
"""


# Flesch-style readability contract (documented heuristic variant):
# words = whitespace tokens; sentences = max(1, runs of [.!?]);
# syllables = runs of [aeiouy] in the lowercased text.
FRE_EASY = 60.0


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring — the classic Flesch Reading Ease formula
    (206.835 - 1.015*words/sentences - 84.6*syllables/words) over a
    deterministic heuristic syllable counter (vowel-group runs), as
    LLM quality filters use for surface-complexity pruning. Per-source
    report: doc count, mean FRE (4-dp per-doc scores aggregated as
    1e4-scaled longs, order-invariant), and the fraction of 'easy'
    docs (FRE >= 60, the standard plain-English band).

    One expression-only corpus pass + a source-cardinality aggregate;
    regex classes are engine-portable ([.!?]+ / [aeiouy]+)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(ws_tokens(F.col("text")))
    sentences = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0)))
    )
    syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0))
    )
    fre = F.round(
        F.lit(206.835)
        - F.lit(1.015) * words / sentences
        - F.lit(84.6) * F.try_divide(syl, words),
        4,
    )
    scored = d.select("source", words.alias("w"), fre.alias("fre")).filter(
        F.col("w") > 0
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(F.round(F.col("fre") * 10000, 0).cast("long")).cast("double")
            / 10000
            / F.count("*"),
            4,
        ).alias("mean_fre"),
        F.round(
            F.try_divide(
                F.count(F.when(F.col("fre") >= FRE_EASY, 1)), F.count("*")
            ),
            4,
        ).alias("easy_frac"),
    )


TEXT_READABILITY_ORACLE = f"""
    WITH scored AS (
        SELECT source,
               len({ws_tokens_sql('text')})
                   AS w,
               round(206.835
                     - 1.015 * len({ws_tokens_sql('text')})
                       / GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                     - 84.6 * len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       * 1.0
                       / NULLIF(len({ws_tokens_sql('text')}), 0), 4) AS fre
        FROM documents
    )
    SELECT source, count(*) AS n_docs,
           round(CAST(SUM(CAST(round(fre * 10000, 0) AS BIGINT)) AS DOUBLE)
                 / 10000 / count(*), 4) AS mean_fre,
           round(count(*) FILTER (fre >= {FRE_EASY}) * 1.0 / count(*), 4)
               AS easy_frac
    FROM scored WHERE w > 0
    GROUP BY 1
"""


def q_postings_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BUILD — the materialization step bm25_search
    consumes implicitly: per term, the doc-id-sorted posting list with
    term frequencies, emitted as (df, cf, first_doc, delta+varint size
    accounting, stream fingerprint).

    The posting stream is delta-encoded (gap = doc_id - previous) and
    costed at varint bytes per gap — the standard index compression
    (Lucene/ES postings) whose win over raw 8-byte ids
    (8*df - varint_bytes) is the number a capacity planner needs. The
    md5 fingerprint of the 'gap:tf' stream pins the exact sorted list
    content cross-engine without shipping the list itself through the
    driver compare.

    At 100 TB: one tf aggregation (map-side combined), one per-term
    aggregation whose value size is the posting list — the same
    distribution any index builder has (hot terms make big postings;
    the df cap story lives in the tfidf family, an index build must
    keep them). Everything after collect_list is per-row array math,
    no further shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    pl = tf.groupBy("term").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("pl")
    )
    docs = F.transform("pl", lambda x: x["doc_id"])
    tfs = F.transform("pl", lambda x: x["tf"])
    n1 = F.greatest(F.size("pl") - 1, F.lit(0))
    # gaps[0] = doc_id[0] (delta from 0), gaps[i] = doc[i] - doc[i-1]
    gaps = F.concat(
        F.slice(docs, 1, 1),
        F.zip_with(
            F.slice(docs, 2, n1), F.slice(docs, 1, n1), lambda a, b: a - b
        ),
    )
    varint = F.aggregate(
        gaps,
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.when(g < 128, 1).when(g < 16384, 2).when(g < 1 << 21, 3).otherwise(4),
    )
    stream = F.array_join(
        F.zip_with(
            gaps, tfs,
            lambda g, t: F.concat_ws(":", g.cast("string"), t.cast("string")),
        ),
        ",",
    )
    return pl.select(
        "term",
        F.size("pl").cast("long").alias("df"),
        F.aggregate(tfs, F.lit(0).cast("long"), lambda a, t: a + t).alias("cf"),
        F.element_at(docs, 1).alias("first_doc"),
        varint.alias("varint_bytes"),
        (8 * F.size("pl").cast("long") - varint).alias("bytes_saved"),
        F.md5(stream).alias("postings_fp"),
    )


POSTINGS_ORACLE = f"""
    WITH {_LOWER_TOKS_CTE},
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    pl AS (
        SELECT term,
               list(doc_id ORDER BY doc_id) AS docs,
               list(tf ORDER BY doc_id) AS tfs
        FROM tf GROUP BY term
    ),
    enc AS (
        SELECT term, docs, tfs,
               [docs[i] - (CASE WHEN i = 1 THEN 0 ELSE docs[i - 1] END)
                FOR i IN range(1, len(docs) + 1)] AS gaps
        FROM pl
    )
    SELECT term,
           CAST(len(docs) AS BIGINT) AS df,
           CAST(list_sum(tfs) AS BIGINT) AS cf,
           docs[1] AS first_doc,
           CAST(list_sum(list_transform(gaps,
                g -> CASE WHEN g < 128 THEN 1 WHEN g < 16384 THEN 2
                          WHEN g < 2097152 THEN 3 ELSE 4 END)) AS BIGINT)
               AS varint_bytes,
           CAST(8 * len(docs) - list_sum(list_transform(gaps,
                g -> CASE WHEN g < 128 THEN 1 WHEN g < 16384 THEN 2
                          WHEN g < 2097152 THEN 3 ELSE 4 END)) AS BIGINT)
               AS bytes_saved,
           md5(array_to_string(
               [CAST(gaps[i] AS VARCHAR) || ':' || CAST(tfs[i] AS VARCHAR)
                FOR i IN range(1, len(gaps) + 1)], ',')) AS postings_fp
    FROM enc
"""


# ---------------------------------------------------------------------------
# Gopher-style curation verdict (Rae et al. 2021, "Scaling Language
# Models" §A1.1 — public filter battery), adapted to the fixture's
# punctuation-free corpus: word-count bounds, mean-word-length bounds,
# duplicate-2-gram character mass, stop-word presence.

GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 1000
GOPHER_DUP2_CAP = 0.30
GOPHER_MWL_LO = 2.0
GOPHER_MWL_HI = 12.0
GOPHER_MIN_STOP_KINDS = 1


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/quality verdict battery, aggregated per
    source: each doc passes iff word count, mean word length,
    char-weighted duplicate-2-gram mass, and stop-word-kind count all
    sit inside the published bounds; the per-source keep rate is the
    governance row a curation run reports.

    Scale design — ZERO doc-keyed shuffle: the duplicate-mass stat
    only needs per-doc gram multiplicities, which a sorted gram array
    exposes as adjacent-equal runs — an element is duplicate mass iff
    it equals its sorted predecessor or successor. That is pure
    expression work (array_sort + zip_with over slices — no
    element_at-in-lambda quadratic trap), so the whole battery is an
    embarrassingly parallel projection followed by ONE hash aggregate
    on source; the plan is a single corpus scan with no exchange
    except the tiny per-source rollup. The DuckDB oracle computes the
    same statistic the independent way (unnest + per-gram GROUP BY),
    so the run-walk is cross-checked, not mirrored."""
    per_doc = gopher_verdict_frame(load_table(spark, sf_dir, "documents"))
    flag = lambda c: F.sum(F.when(F.col(c), 0).otherwise(1))  # noqa: E731
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("verdict"), 1).otherwise(0)).alias("n_pass"),
            flag("pw").alias("n_fail_words"),
            flag("pm").alias("n_fail_mwl"),
            flag("pd").alias("n_fail_dup"),
            flag("ps").alias("n_fail_stop"),
            F.round(F.avg("dup2_frac"), 4).alias("mean_dup2_frac"),
        )
        .withColumn(
            "keep_rate", F.round(F.try_divide(F.col("n_pass"), F.col("n_docs")), 4)
        )
    )


def gopher_verdict_frame(d: DataFrame) -> DataFrame:
    """Per-document Gopher battery: (doc_id, source, n_words, mwl,
    stop_kinds, dup2_frac, pw, pm, pd, ps, verdict) — the shared
    per-doc verdict layer q_quality_gopher aggregates by source and
    corpus.q_quality_domain_ensemble aggregates by registrable
    domain. Pure expression work over one scan (see q_quality_gopher
    for the sorted-gram duplicate-mass argument)."""
    toks = ws_tokens(F.lower(F.col("text")))
    # fan_out: the battery is wide per-doc array expression work over
    # a one-split fixture scan (no-op at real scale)
    base = fan_out(d.sparkSession, d.select("doc_id", "source", "text")).select(
        "doc_id",
        "source",
        toks.alias("w"),
        F.length("text").cast("double").alias("n_chars"),
    )
    n1 = F.size("w") - 1
    grams = F.when(
        F.size("w") >= 2,
        F.zip_with(
            F.slice("w", 1, n1), F.slice("w", 2, n1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s = F.array_sort(grams)
    ns1 = F.size(s) - 1
    eq = F.when(
        F.size(s) >= 2,
        F.zip_with(F.slice(s, 2, ns1), F.slice(s, 1, ns1), lambda a, b: a == b),
    ).otherwise(F.array().cast("array<boolean>"))
    pad = F.array(F.lit(False))
    in_run = F.zip_with(
        F.concat(pad, eq), F.concat(eq, pad), lambda a, b: a | b
    )
    dup_mass = F.aggregate(
        F.zip_with(
            s, in_run, lambda g, fl: F.when(fl, F.length(g)).otherwise(F.lit(0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    tot_mass = F.aggregate(
        s, F.lit(0).cast("long"), lambda acc, g: acc + F.length(g)
    )
    n_words = F.size("w")
    mwl = F.when(n_words > 0, (F.col("n_chars") - (n_words - 1)) / n_words).otherwise(
        F.lit(0.0)
    )
    stop_kinds = F.size(
        F.array_intersect(F.array_distinct("w"), F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    per_doc = base.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        mwl.alias("mwl"),
        stop_kinds.alias("stop_kinds"),
        F.coalesce(
            F.round(F.try_divide(dup_mass, tot_mass), 4), F.lit(0.0)
        ).alias("dup2_frac"),
    )
    pass_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    pass_mwl = (F.col("mwl") >= GOPHER_MWL_LO) & (F.col("mwl") <= GOPHER_MWL_HI)
    pass_dup = F.col("dup2_frac") <= GOPHER_DUP2_CAP
    pass_stop = F.col("stop_kinds") >= GOPHER_MIN_STOP_KINDS
    return per_doc.select(
        "*",
        pass_words.alias("pw"),
        pass_mwl.alias("pm"),
        pass_dup.alias("pd"),
        pass_stop.alias("ps"),
        (pass_words & pass_mwl & pass_dup & pass_stop).alias("verdict"),
    )


# Shared per-doc verdict CTE chain (ends at `v`: doc_id, source,
# dup2_frac + the four pass booleans) — the SQL twin of
# gopher_verdict_frame, consumed by QUALITY_GOPHER_ORACLE here and the
# per-domain ensemble oracle in operators.corpus.
GOPHER_DOC_CTES = f"""
    base AS (
        SELECT doc_id, source,
               {ws_tokens_sql('lower(text)')} AS w,
               length(text) AS n_chars
        FROM documents
    ),
    gc AS (
        SELECT doc_id, g, count(*) AS n
        FROM (SELECT doc_id, unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS g
              FROM base)
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT doc_id,
               round(sum(CASE WHEN n > 1 THEN n * len(g) ELSE 0 END) * 1.0
                     / sum(n * len(g)), 4) AS dup2_frac
        FROM gc GROUP BY doc_id
    ),
    per_doc AS (
        SELECT b.doc_id, b.source,
               len(b.w) AS n_words,
               CASE WHEN len(b.w) > 0
                    THEN (b.n_chars - (len(b.w) - 1)) * 1.0 / len(b.w)
                    ELSE 0.0 END AS mwl,
               len(list_intersect(list_distinct(b.w),
                   {list(STOPWORDS)!r})) AS stop_kinds,
               coalesce(d.dup2_frac, 0.0) AS dup2_frac
        FROM base b LEFT JOIN dup d USING (doc_id)
    ),
    v AS (
        SELECT doc_id, source, dup2_frac,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS pw,
               (mwl BETWEEN {GOPHER_MWL_LO} AND {GOPHER_MWL_HI}) AS pm,
               (dup2_frac <= {GOPHER_DUP2_CAP}) AS pd,
               (stop_kinds >= {GOPHER_MIN_STOP_KINDS}) AS ps
        FROM per_doc
    )"""

QUALITY_GOPHER_ORACLE = f"""
    WITH {GOPHER_DOC_CTES}
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN pw AND pm AND pd AND ps THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN pw THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_words,
           CAST(sum(CASE WHEN pm THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_mwl,
           CAST(sum(CASE WHEN pd THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup,
           CAST(sum(CASE WHEN ps THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_stop,
           round(avg(dup2_frac), 4) AS mean_dup2_frac,
           round(sum(CASE WHEN pw AND pm AND pd AND ps THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS keep_rate
    FROM v GROUP BY source
"""


# ---------------------------------------------------------------------------
# PMI collocations — the classic corpus-linguistics bigram-association
# ranking (Church & Hanks 1990, public): PMI(x,y) =
# log2(p(xy) / (p(x) p(y))) with a minimum-count support filter.

PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K bigram collocations by PMI with count support >= 5.

    Scale design — ONE corpus pass: each token explodes as a
    (token, next-token-or-null) pair, aggregated once into pc; the
    unigram counts (every token appears exactly once as the left
    element), the bigram counts (pairs with a non-null right), and
    both corpus totals are all REAGGREGATIONS of pc, so every branch
    above the corpus-scale shuffle shares one exchange (runtime
    ReusedExchange) instead of rescanning documents. The unigram
    side joins back on each bigram component — plain shuffled
    equi-joins (the unigram frame is vocabulary-sized, which a real
    web corpus makes too big to blind-broadcast; AQE
    broadcast-promotes it when it is small, as here). Corpus totals
    ride along as one-row broadcast scalars. Final top-K is
    TakeOrderedAndProject (no global sort materialization). PMI is
    computed as a difference of log2 terms with each ratio divided
    first — mirrored verbatim in the oracle so both engines walk the
    same FP path."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    base = d.select("doc_id", toks.alias("w"))
    n_w = F.size("w")
    pairs = F.transform(
        "w",
        lambda t, i: F.struct(
            t.alias("t"),
            F.when(i < n_w - 1, F.element_at("w", i + 2)).alias("nxt"),
        ),
    )
    pc = (
        base.select(F.explode(pairs).alias("p"))
        .select(F.col("p.t").alias("t"), F.col("p.nxt").alias("nxt"))
        .groupBy("t", "nxt")
        .agg(F.count("*").alias("c"))
    )
    uni = pc.groupBy("t").agg(F.sum("c").alias("c"))
    big = (
        pc.filter(F.col("nxt").isNotNull())
        .select(
            F.concat_ws(" ", "t", "nxt").alias("g"),
            F.col("t").alias("w1"),
            F.col("nxt").alias("w2"),
            F.col("c").alias("c_xy"),
        )
        .filter(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    m_tot = pc.agg(F.sum("c").alias("m_tokens"))
    n_tot = pc.filter(F.col("nxt").isNotNull()).agg(
        F.sum("c").alias("n_bigrams")
    )
    j = (
        big.join(uni.select(F.col("t").alias("w1"), F.col("c").alias("n_w1")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(m_tot))
        .crossJoin(F.broadcast(n_tot))
    )
    pmi = (
        F.log2(F.col("c_xy") / F.col("n_bigrams"))
        - F.log2(F.col("n_w1") / F.col("m_tokens"))
        - F.log2(F.col("n_w2") / F.col("m_tokens"))
    )
    return (
        j.select(
            F.col("g").alias("bigram"), "c_xy", "n_w1", "n_w2",
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("c_xy"), "bigram")
        .limit(PMI_TOP_K)
    )


TEXT_COLLOCATIONS_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               {ws_tokens_sql('lower(text)')} AS w
        FROM documents
    ),
    uni AS (
        SELECT t, count(*) AS c
        FROM (SELECT unnest(w) AS t FROM base) GROUP BY t
    ),
    big AS (
        SELECT g, count(*) AS c_xy
        FROM (SELECT unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS g
              FROM base)
        GROUP BY g HAVING count(*) >= {PMI_MIN_COUNT}
    ),
    tot AS (
        SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS m_tokens,
               (SELECT CAST(sum(CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END)
                            AS BIGINT) FROM base) AS n_bigrams
    )
    SELECT b.g AS bigram,
           b.c_xy,
           u1.c AS n_w1,
           u2.c AS n_w2,
           round(log2(b.c_xy * 1.0 / t.n_bigrams)
                 - log2(u1.c * 1.0 / t.m_tokens)
                 - log2(u2.c * 1.0 / t.m_tokens), 4) AS pmi
    FROM big b
    JOIN uni u1 ON u1.t = string_split(b.g, ' ')[1]
    JOIN uni u2 ON u2.t = string_split(b.g, ' ')[2]
    CROSS JOIN tot t
    ORDER BY b.c_xy DESC, bigram
    LIMIT {PMI_TOP_K}
"""


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram entropy, type/token ratio, hapax fraction —
    the corpus-diversity datasheet row (a collapsed/duplicated crawl
    slice shows up as low entropy long before model eval does).

    H = log2(T) - (sum over terms of n*log2(n)) / T, computed from
    exact integer counts so the only FP ops are the final log2/divide,
    mirrored in the oracle. One (source, term) hash aggregate, then a
    source-level rollup; the ALL row reuses the term-level counts
    (term-keyed re-aggregation, no second corpus scan)."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    tc = (
        d.select("source", F.explode(toks).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("n"))
    )

    def roll(df, key):
        T = F.sum("n")
        V = F.count("*")
        # quantize each n*log2(n) term to 6 dp and sum as DECIMAL: a
        # raw double sum is partition-order-dependent (ulp drift can
        # flip the round-4 boundary cross-engine at larger SFs); the
        # decimal sum of pre-rounded terms is exact and order-free
        # (the text_bigram_kn discipline). decimal(28,6) holds
        # T*log2(T) at any real corpus size.
        hsum = F.sum(
            F.round(F.col("n") * F.log2("n"), 6).cast("decimal(28,6)")
        ).cast("double")
        return df.groupBy(key).agg(
            T.alias("n_tokens"),
            V.alias("n_types"),
            F.round(F.log2(T) - F.try_divide(hsum, T), 4).alias("entropy_bits"),
            F.round(F.try_divide(V, T), 4).alias("type_token_ratio"),
            F.round(
                F.try_divide(F.sum(F.when(F.col("n") == 1, 1).otherwise(0)), V), 4
            ).alias("hapax_frac"),
        )

    per = roll(tc, "source")
    allr = roll(
        tc.groupBy("t").agg(F.sum("n").alias("n")).select(F.lit("ALL").alias("source"), "n"),
        "source",
    )
    return per.unionByName(allr)


TEXT_ENTROPY_ORACLE = f"""
    WITH tc AS (
        SELECT source, t, count(*) AS n
        FROM (SELECT source,
                     unnest({ws_tokens_sql('lower(text)')}) AS t
              FROM documents)
        GROUP BY 1, 2
    ),
    both_lvls AS (
        SELECT source, n FROM tc
        UNION ALL
        SELECT 'ALL' AS source, CAST(sum(n) AS BIGINT) AS n FROM tc GROUP BY t
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           round(log2(CAST(sum(n) AS DOUBLE))
                 - CAST(sum(CAST(round(n * log2(CAST(n AS DOUBLE)), 6)
                                 AS DECIMAL(28,6))) AS DOUBLE)
                   / sum(n), 4) AS entropy_bits,
           round(count(*) * 1.0 / sum(n), 4) AS type_token_ratio,
           round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS hapax_frac
    FROM both_lvls GROUP BY source
"""


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (Rose et al. 2010, public): candidate
# phrases are maximal stopword-free token runs; each word scores
# deg(w)/freq(w) where deg counts co-membership mass; a phrase scores
# the sum over its word occurrences.

RAKE_TOP_K = 15
RAKE_MAX_WORDS = 4  # candidate cap: unsegmented stopword-free runs are not phrases


def q_text_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrases over the corpus: stopword-delimited candidate
    runs via gaps-and-islands (running stopword count = island id),
    word degree/frequency aggregates, top-15 phrases by summed
    deg/freq score. Runs longer than RAKE_MAX_WORDS are dropped at
    extraction (a 70-token stopword-free run is a failed segmentation,
    not a phrase — and its score, a sum over every member word, would
    dominate the ranking by construction).

    Scale design: the islands window partitions by doc_id (never
    global); phrase assembly is a (doc, island) hash aggregate with
    order restored by sorting (pos, token) structs inside the group;
    word stats are vocabulary-sized and broadcast back onto the
    DISTINCT phrase frame (score is a function of the phrase alone,
    so it is computed once per distinct phrase, not per occurrence);
    final top-K is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    pe = d.select("doc_id", F.posexplode(toks).alias("pos", "t")).withColumn(
        "is_stop", F.array_contains(stop_arr, F.col("t"))
    )
    island = F.sum(F.col("is_stop").cast("int")).over(
        W.partitionBy("doc_id").orderBy("pos")
    )
    runs = (
        pe.withColumn("island", island)
        .filter(~F.col("is_stop"))
        .groupBy("doc_id", "island")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "t"))).alias("ps"))
        .select(F.transform("ps", lambda s: s.getField("t")).alias("words"))
    )
    occ = runs.filter(F.size("words") <= RAKE_MAX_WORDS).select(
        F.array_join("words", " ").alias("phrase"),
        "words",
        F.size("words").alias("n_words"),
    )
    wstats = (
        occ.select(F.explode("words").alias("t"), "n_words")
        .groupBy("t")
        .agg(
            F.count("*").alias("freq"),
            F.sum("n_words").alias("deg"),
        )
    )
    phrases = occ.groupBy("phrase", "words", "n_words").agg(
        F.count("*").alias("n_occurrences")
    )
    # quantize each word's deg/freq to 10 dp and sum as DECIMAL —
    # order-free exact summation (the text_bigram_kn discipline), so a
    # ulp cannot flip the round-4 ranking boundary cross-engine
    score = F.sum(
        F.round(F.col("deg") / F.col("freq"), 10).cast("decimal(28,10)")
    ).cast("double")
    return (
        phrases.select(
            "phrase", "n_words", "n_occurrences", F.explode("words").alias("t")
        )
        .join(F.broadcast(wstats), "t")
        .groupBy("phrase", "n_words", "n_occurrences")
        .agg(F.round(score, 4).alias("rake_score"))
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(RAKE_TOP_K)
    )


TEXT_KEYPHRASES_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, i, w[i] AS t,
               list_contains({list(STOPWORDS)!r}, w[i]) AS is_stop
        FROM (SELECT doc_id,
                     {ws_tokens_sql('lower(text)')} AS w
              FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)
    ),
    isl AS (
        SELECT doc_id, i, t, is_stop,
               sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM toks
    ),
    runs AS (
        SELECT list(t ORDER BY i) AS words
        FROM isl WHERE NOT is_stop GROUP BY doc_id, island
    ),
    occ AS (
        SELECT array_to_string(words, ' ') AS phrase, words,
               len(words) AS n_words
        FROM runs WHERE len(words) <= {RAKE_MAX_WORDS}
    ),
    wstats AS (
        SELECT t, count(*) AS freq, CAST(sum(n_words) AS BIGINT) AS deg
        FROM (SELECT unnest(words) AS t, n_words FROM occ)
        GROUP BY t
    ),
    phrases AS (
        SELECT phrase, words, n_words, count(*) AS n_occurrences
        FROM occ GROUP BY 1, 2, 3
    )
    SELECT p.phrase,
           CAST(p.n_words AS INT) AS n_words,
           p.n_occurrences,
           round(CAST(sum(CAST(round(w.deg * 1.0 / w.freq, 10)
                               AS DECIMAL(28,10))) AS DOUBLE), 4) AS rake_score
    FROM (SELECT phrase, n_words, n_occurrences, unnest(words) AS t
          FROM phrases) p
    JOIN wstats w USING (t)
    GROUP BY 1, 2, 3
    ORDER BY rake_score DESC, phrase
    LIMIT {RAKE_TOP_K}
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("text_tokens", q_text_tokens, TEXT_TOKENS_ORACLE, ("text", "llm"),
                  "Whitespace/BPE-ish/distinct token counts."),
        QuerySpec("text_quality", q_text_quality, TEXT_QUALITY_ORACLE, ("text", "llm"),
                  "Length/punct/digit/stopword quality battery + composite score."),
        QuerySpec("quality_rank_ensemble", q_quality_rank_ensemble,
                  QUALITY_RANK_ORACLE, ("text", "llm", "quality"),
                  "Ensemble score percentile-ranked via bounded-domain "
                  "histogram join (no global window); oracle uses native "
                  "percent_rank as an independent check."),
        QuerySpec("quality_threshold_sweep", q_quality_threshold_sweep,
                  _quality_sweep_oracle(), ("text", "llm", "curation"),
                  "Docs/tokens keep-rate curve across quality thresholds, one scan."),
        QuerySpec("text_langid", q_text_langid, _langid_oracle(), ("text", "llm"),
                  "Marker-word language-ID heuristic with deterministic tie-break."),
        QuerySpec("langid_confusion", q_langid_confusion, _langid_confusion_oracle(),
                  ("text", "llm", "quality"),
                  "Language-ID confusion matrix with per-language recall."),
        QuerySpec("text_fingerprint", q_text_fingerprint, TEXT_FINGERPRINT_ORACLE,
                  ("text", "llm", "dedup"),
                  "md5 exact + sorted-token normalized fingerprints."),
        QuerySpec("text_chunking", q_text_chunking, TEXT_CHUNKING_ORACLE,
                  ("text", "llm"),
                  "Overlapping fixed-size training-window chunking."),
        QuerySpec("text_tfidf", q_text_tfidf, TEXT_TFIDF_ORACLE,
                  ("text", "llm", "retrieval"),
                  "TF-IDF top-3 terms per document (inverted-index build)."),
        QuerySpec("tfidf_cosine_pairs", q_tfidf_cosine_pairs, TFIDF_COSINE_ORACLE,
                  ("text", "llm", "similarity"),
                  "Sparse TF-IDF threshold cosine, AllPairs shape: df cap "
                  "(exact-within-cap, oracle-mirrored) + lossless prefix-"
                  "filtered candidates + map-merge exact verify."),
        QuerySpec("tfidf_cosine_zipf", q_tfidf_cosine_zipf, TFIDF_ZIPF_ORACLE,
                  ("text", "llm", "similarity"),
                  "AllPairs cosine on a derived Zipf-skewed vocabulary: df cap "
                  "provably fires on the hot head, prefix filtering prunes on "
                  "the rare tail; new round 8."),
        QuerySpec("text_repetition", q_text_repetition, TEXT_REPETITION_ORACLE,
                  ("text", "llm", "quality"),
                  "Gopher-style repetition filters: top unigram/bigram fractions."),
        QuerySpec("text_pii_redact", q_text_pii_redact, TEXT_PII_ORACLE,
                  ("text", "llm", "quality"),
                  "Email/phone PII counting + regex redaction (synthesized PII)."),
        QuerySpec("vocab_coverage", q_vocab_coverage, VOCAB_COVERAGE_ORACLE,
                  ("text", "llm", "tokenizer"),
                  "Top-100 vocabulary with cumulative token coverage curve."),
        QuerySpec("text_line_dedup", q_text_line_dedup, TEXT_LINE_DEDUP_ORACLE,
                  ("text", "llm", "dedup"),
                  "CCNet-style corpus boilerplate-segment removal + doc rebuild."),
        QuerySpec("dedup_paragraph", q_dedup_paragraph, DEDUP_PARAGRAPH_ORACLE,
                  ("text", "llm", "dedup"),
                  "Cross-doc normalized-paragraph canonicalization: one keeper "
                  "per repeated segment, per-doc repeat accounting."),
        QuerySpec("quality_repeated", q_quality_repeated, QUALITY_REPEATED_ORACLE,
                  ("text", "llm", "quality"),
                  "RefinedWeb within-doc repeated-line/char-mass fractions + "
                  "keep verdict."),
        QuerySpec("bm25_search", q_bm25_search, _bm25_oracle(),
                  ("text", "llm", "retrieval"),
                  "BM25 top-5 retrieval for fixed queries via filtered inverted index."),
        QuerySpec("postings_build", q_postings_build, POSTINGS_ORACLE,
                  ("text", "llm", "retrieval", "scale"),
                  "Inverted-index build: sorted postings, delta+varint "
                  "size accounting, stream fingerprint per term."),
        QuerySpec("tfidf_plan_pick", q_tfidf_plan_pick, TFIDF_PLAN_PICK_ORACLE,
                  ("text", "llm", "optimizer"),
                  "The cosine strategy pick's cost model as a hash row: "
                  "mean df fraction + chosen plan for both corpora."),
        QuerySpec("text_readability", q_text_readability,
                  TEXT_READABILITY_ORACLE,
                  ("text", "llm", "quality"),
                  "Flesch Reading Ease per source (heuristic syllables, "
                  "scaled-long means, easy-band fraction)."),
        QuerySpec("quality_gopher", q_quality_gopher, QUALITY_GOPHER_ORACLE,
                  ("text", "llm", "quality", "curation"),
                  "Gopher filter battery per source: word/mean-word-length "
                  "bounds, duplicate-2-gram char mass, stop-word kinds; "
                  "per-source keep rate + per-rule failure counts."),
        QuerySpec("text_collocations", q_text_collocations,
                  TEXT_COLLOCATIONS_ORACLE, ("text", "llm"),
                  "Top-20 PMI bigram collocations with min-count support "
                  "(Church & Hanks); TakeOrderedAndProject final."),
        QuerySpec("text_entropy", q_text_entropy, TEXT_ENTROPY_ORACLE,
                  ("text", "llm", "quality"),
                  "Per-source unigram entropy / type-token ratio / hapax "
                  "fraction + ALL row from re-aggregated term counts."),
        QuerySpec("text_keyphrases", q_text_keyphrases, TEXT_KEYPHRASES_ORACLE,
                  ("text", "llm"),
                  "RAKE keyphrases: stopword-island candidate runs, "
                  "deg/freq word scores, top-15 via TakeOrderedAndProject."),
    ]
