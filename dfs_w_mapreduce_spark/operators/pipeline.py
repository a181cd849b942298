"""Corpus-curation operators: domain mixing and decontamination.

Two steps every LLM training-data pipeline runs between dedup and
tokenization:

- **Domain mixing** (`mix_sample_by_source`): per-source sampling
  rates (upweight high-quality domains, downsample boilerplate).
  Implemented as deterministic hash sampling — h(doc_id) % 100 under
  the source's rate — so the mix is reproducible across runs/engines
  and composable with other hash-keyed selections (same property as
  operators/sketches.py sample_hash).
- **Decontamination** (`decontaminate`): drop documents sharing any
  word-2gram with a benchmark blocklist. Implemented as an
  inverted-index anti-join (explode doc shingles, anti-join on the
  blocklist shingle set) — at 100 TB the blocklist side is tiny and
  broadcasts; the corpus is touched once, no pairwise anything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.catalog import load_table
from dfs_w_mapreduce_spark.checkpoint import observed_checkpoint, release
from dfs_w_mapreduce_spark.functions.hashing import (
    _h31_spark,
    _h31_sql,
    md5_long,
    md5_long_expr,
    md5_long_sql,
)
from dfs_w_mapreduce_spark.functions.text import (
    ws_split,
    ws_split_sql,
    ws_tokens,
    ws_tokens_sql,
)
from dfs_w_mapreduce_spark.registry import QuerySpec

# per-source keep-rate (percent); sources not listed use DEFAULT_RATE
MIX_RATES: dict[str, int] = {"src0": 100, "src1": 50, "src2": 25, "src3": 10}
DEFAULT_RATE = 75

# benchmark phrases whose 2-grams must not appear in training docs
BLOCKLIST_PHRASES = (
    "key agg row",
    "batch window spark",
    "slow filter value",
)


def q_mix_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain sampling: keep doc iff
    h31(doc_id) % 100 < rate(source)."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE)
    for src, r in MIX_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    h = _h31_spark(F.col("doc_id").cast("string"))
    return (
        d.withColumn("rate", rate)
        .filter(h % 100 < F.col("rate"))
        .select("doc_id", "source", F.col("rate").alias("keep_rate"))
    )


def _mix_oracle() -> str:
    h = _h31_sql("CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in MIX_RATES.items()
    )
    return f"""
        SELECT doc_id, source, keep_rate FROM (
            SELECT doc_id, source,
                   CASE {whens} ELSE {DEFAULT_RATE} END AS keep_rate
            FROM documents
        )
        WHERE {h} % 100 < keep_rate
    """


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop documents sharing any 2-gram with the benchmark blocklist
    (anti-join on exploded shingles vs the broadcast blocklist set);
    returns the surviving corpus with a count of its shingles."""
    from dfs_w_mapreduce_spark.operators.dedup import _doc_shingles

    block = [
        f"{w[i]} {w[i + 1]}"
        for phrase in BLOCKLIST_PHRASES
        for w in [phrase.split()]
        for i in range(len(w) - 1)
    ]
    sh = _doc_shingles(spark, sf_dir)
    contaminated = (
        sh.select("doc_id", F.explode("sh").alias("s"))
        .filter(F.col("s").isin(block))
        .select("doc_id")
        .distinct()
    )
    return (
        sh.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", F.size("sh").alias("n_shingles"))
    )


def _decontaminate_oracle() -> str:
    block = [
        f"{w[i]} {w[i + 1]}"
        for phrase in BLOCKLIST_PHRASES
        for w in [phrase.split()]
        for i in range(len(w) - 1)
    ]
    block_sql = ", ".join(f"'{b}'" for b in block)
    from dfs_w_mapreduce_spark.operators.dedup import _DOC_SHINGLES_SQL

    return f"""
        WITH sh AS ({_DOC_SHINGLES_SQL}),
        contaminated AS (
            SELECT DISTINCT doc_id
            FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
            WHERE s IN ({block_sql})
        )
        SELECT sh.doc_id, CAST(len(sh.sh) AS INT) AS n_shingles
        FROM sh ANTI JOIN contaminated USING (doc_id)
    """


# Fuzzy decontamination: benchmark set = doc_id % 50 == 0 (~2% of the
# corpus, mirroring similarity.SEMDECON_MOD for the embedding variant),
# flagged at Jaccard >= 0.35 — BELOW the dedup path's 0.5, because a
# training doc that shares a third of its shingle set with a benchmark
# item is already a leak even though it isn't a near-duplicate.
DECON_MINHASH_MOD = 50
DECON_MINHASH_T = 0.35


def q_decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY n-gram decontamination — the third decontamination
    modality, between the exact-blocklist anti-join (q_decontaminate:
    misses any rephrasing) and the embedding path
    (similarity.q_decontaminate_semantic: needs vectors): flag corpus
    documents whose shingle set is Jaccard-similar to a held-out
    benchmark document, with candidates from the SAME MinHash band
    machinery as the dedup path (dedup.minhash_band_frames) filtered
    to pairs that CROSS the corpus/benchmark boundary.

    At 100 TB: band join shuffles (band, sig, doc_id) only; the
    crossing filter runs before the candidate distinct (benchmark-side
    rows are ~2% of bands, so crossing candidates are a sliver of the
    self-join's); exact-Jaccard verify touches crossing survivors
    only. Per flagged corpus doc: hit count and the strongest
    benchmark match (ties -> lowest benchmark id)."""
    from pyspark.sql import Window as W

    from dfs_w_mapreduce_spark.operators.dedup import (
        _jaccard_verified,
        _merge_join,
        minhash_band_frames,
    )

    sh, bands = minhash_band_frames(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    is_bench_a = F.col("a.doc_id") % DECON_MINHASH_MOD == 0
    is_bench_b = F.col("b.doc_id") % DECON_MINHASH_MOD == 0
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (is_bench_a != is_bench_b),  # crossing pairs only
        )
        .select(
            F.when(is_bench_a, F.col("b.doc_id"))
            .otherwise(F.col("a.doc_id"))
            .alias("corpus_id"),
            F.when(is_bench_a, F.col("a.doc_id"))
            .otherwise(F.col("b.doc_id"))
            .alias("bench_id"),
        )
        # pre-repartition on the pair key BEFORE the dedupe: a distinct
        # over a band-join fan-out is the partial-aggregate OOM class
        .repartition(
            spark.sparkContext.defaultParallelism * 4, "corpus_id", "bench_id"
        )
        .distinct()
    )
    scored = _jaccard_verified(
        cand, "corpus_id", "bench_id", _merge_join(sh, sf_dir), _merge_join(sh, sf_dir),
        threshold=DECON_MINHASH_T,
    )
    win = W.partitionBy("corpus_id").orderBy(
        F.desc("jaccard"), F.col("bench_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .withColumn("n_hits", F.count("*").over(W.partitionBy("corpus_id")))
        .filter(F.col("rk") == 1)
        .select(
            "corpus_id", "bench_id", F.col("jaccard").alias("max_jaccard"), "n_hits"
        )
    )


def _decontaminate_minhash_oracle() -> str:
    from dfs_w_mapreduce_spark.operators.dedup import (
        _PAIR_JACCARD_SQL,
        _minhash_bands_ctes,
    )

    return f"""
        WITH {_minhash_bands_ctes()},
        cand AS (
            SELECT DISTINCT
                   CASE WHEN a.doc_id % {DECON_MINHASH_MOD} = 0
                        THEN b.doc_id ELSE a.doc_id END AS corpus_id,
                   CASE WHEN a.doc_id % {DECON_MINHASH_MOD} = 0
                        THEN a.doc_id ELSE b.doc_id END AS bench_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig
             AND a.doc_id <> b.doc_id
             AND (a.doc_id % {DECON_MINHASH_MOD} = 0)
                 <> (b.doc_id % {DECON_MINHASH_MOD} = 0)
        ),
        scored AS (
            SELECT corpus_id, bench_id, {_PAIR_JACCARD_SQL} AS jaccard
            FROM cand
            JOIN shs sa ON corpus_id = sa.doc_id
            JOIN shs sb ON bench_id = sb.doc_id
        )
        SELECT corpus_id, bench_id, jaccard AS max_jaccard,
               CAST(n_hits AS BIGINT) AS n_hits
        FROM (
            SELECT corpus_id, bench_id, jaccard,
                   row_number() OVER (PARTITION BY corpus_id
                                      ORDER BY jaccard DESC, bench_id) AS rk,
                   count(*) OVER (PARTITION BY corpus_id) AS n_hits
            FROM scored
            WHERE jaccard >= {DECON_MINHASH_T}
        )
        WHERE rk = 1
    """


STRATA_K = 25


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: exactly K docs per source, chosen by
    rank over the deterministic doc hash (reproducible 'random' order,
    same property as mix_sample_by_source but with an exact per-group
    quota — what a training-mix builder actually needs). One window
    per source partition; at 100 TB the per-group top-K never
    materializes the group (rank + filter prune early)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    h = _h31_spark(F.col("doc_id").cast("string"))
    w = W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATA_K)
        .select("doc_id", "source", "rk")
    )


def _stratified_oracle() -> str:
    h = _h31_sql("CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY {h} ASC, doc_id ASC) AS rk
            FROM documents
        ) WHERE rk <= {STRATA_K}
    """


SEQ_LEN = 64  # training sequence length (tokens) for packing
N_PACK_SHARDS = 32


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: lay the corpus out as fixed-length training
    sequences (GPT-style concat-then-split). Each doc, in doc_id
    order, gets a global token start offset; pack_id = offset div
    SEQ_LEN, plus how many packs the doc spans.

    The global prefix sum is computed WITHOUT a single-partition
    window (the naive `Window.orderBy(doc_id)` collapses 100 TB onto
    one task): range-shard on doc_id, cumsum within each shard, then
    add the tiny per-shard totals' own prefix sum back via a
    broadcast join — the classic two-level scan. Shard boundaries
    don't affect the result, only the order does, so the output is
    boundary- and partitioner-invariant.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    per_doc = (
        d.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
        .repartitionByRange(N_PACK_SHARDS, "doc_id")
        .withColumn("shard", F.spark_partition_id())
    )
    per_doc = per_doc.persist()
    in_shard = W.partitionBy("shard").orderBy("doc_id")
    local = per_doc.withColumn(
        "local_before",
        F.coalesce(
            F.sum("n_tokens").over(
                in_shard.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    shard_w = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        per_doc.groupBy("shard")
        .agg(F.sum("n_tokens").alias("shard_total"))
        .withColumn("shard_before", F.coalesce(F.sum("shard_total").over(shard_w), F.lit(0)))
        .select("shard", "shard_before")
    )
    start = F.col("local_before") + F.col("shard_before")
    return (
        local.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            F.floor(start / SEQ_LEN).alias("pack_id"),
            (start % SEQ_LEN).alias("offset_in_pack"),
            (
                F.floor((start + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / SEQ_LEN)
                - F.floor(start / SEQ_LEN)
                + 1
            ).cast("int").alias("packs_spanned"),
        )
    )


PACK_SEQUENCES_ORACLE = f"""
    WITH per_doc AS (
        SELECT doc_id,
               CAST(len({ws_tokens_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents
    ), o AS (
        -- sum(BIGINT) is HUGEINT in DuckDB; duckdb->pandas renders HUGEINT as
        -- float64 (32.0 vs Spark's 32), failing the driver's value hash even
        -- though fetchall() shows identical ints. CAST back to BIGINT here and
        -- on every column derived from it (CORRECTNESS_r08 pack_sequences red).
        SELECT doc_id, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        FROM per_doc
    )
    SELECT doc_id, n_tokens, start_offset,
           CAST(floor(start_offset / {SEQ_LEN}) AS BIGINT) AS pack_id,
           CAST(start_offset % {SEQ_LEN} AS BIGINT) AS offset_in_pack,
           CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / {SEQ_LEN})
                - floor(start_offset / {SEQ_LEN}) + 1 AS INT) AS packs_spanned
    FROM o
"""


# split thresholds on h(doc_id) % 100: [0,80) train, [80,90) val, rest test
SPLIT_TRAIN_PCT, SPLIT_VAL_PCT = 80, 90


def _split_of_doc() -> Column:
    """The split of each document: train, val or test by
    h31(doc_id) % 100 against the SPLIT_*_PCT thresholds."""
    h = _h31_spark(F.col("doc_id").cast("string")) % 100
    return (
        F.when(h < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(h < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _split_of_doc_sql() -> str:
    h = _h31_sql("CAST(doc_id AS VARCHAR)")
    return f"""CASE WHEN {h} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {h} % 100 < {SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END"""


def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: the split follows the
    document hash, not row order, so it is stable across reruns,
    engines, and repartitioning — then rolled up per (source, split)
    to verify the mix. Single hash-agg; scan-bound at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    split = _split_of_doc()
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


def _split_oracle() -> str:
    return f"""
        SELECT source, {_split_of_doc_sql()} AS split,
               count(*) AS n_docs
        FROM documents
        GROUP BY 1, 2
    """


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit over the hash split: a test document
    leaks if ANY of its 2-gram shingles also appears in a train
    document — the contamination check run on the engine's own split
    before the split ships (decontaminate guards against EXTERNAL
    benchmarks; this guards the internal eval set). Per source:
    shingled test docs, leaked docs, leak rate.

    Scale shape: one shingle explode joined to the doc->split map,
    one per-shingle bool aggregate (seen-in-train), one hash join
    back onto test shingles, one per-doc max and a source rollup —
    all linear, shingles shuffle as 8-byte hashed keys."""
    from dfs_w_mapreduce_spark.operators.dedup import _doc_shingles

    d = load_table(spark, sf_dir, "documents")
    split = _split_of_doc()
    splits = d.select("doc_id", "source", split.alias("split"))
    ex = (
        _doc_shingles(spark, sf_dir)
        .select("doc_id", F.explode("sh").alias("s0"))
        .select(
            "doc_id",
            md5_long("s0").alias("s"),
        )
        .join(splits, "doc_id")
    )
    in_train = (
        ex.groupBy("s")
        .agg(F.max((F.col("split") == "train").cast("int")).alias("in_train"))
    )
    test_docs = (
        ex.filter(F.col("split") == "test")
        .join(in_train, "s")
        .groupBy("doc_id", "source")
        .agg(F.max("in_train").alias("leaked"))
    )
    return (
        test_docs.groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_test_docs"),
            F.sum("leaked").cast("int").alias("n_leaked"),
            F.round(F.try_divide(F.sum("leaked"), F.count("*")), 4).alias("leak_rate"),
        )
    )


def _split_leakage_oracle() -> str:
    return f"""
        WITH splits AS (
            SELECT doc_id, source, {_split_of_doc_sql()} AS split
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS sh
            FROM (SELECT doc_id,
                         {ws_tokens_sql('text')} AS w
                  FROM documents)
        ),
        ex AS (
            SELECT e.doc_id, s.source, s.split,
                   {md5_long_sql('e.s0')} AS sk
            FROM (SELECT doc_id, unnest(sh) AS s0 FROM sh) e
            JOIN splits s USING (doc_id)
        ),
        in_train AS (
            SELECT sk, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train
            FROM ex GROUP BY sk
        ),
        test_docs AS (
            SELECT e.doc_id, e.source, max(t.in_train) AS leaked
            FROM ex e JOIN in_train t USING (sk)
            WHERE e.split = 'test'
            GROUP BY 1, 2
        )
        SELECT source,
               CAST(count(*) AS INT) AS n_test_docs,
               CAST(sum(leaked) AS INT) AS n_leaked,
               round(sum(leaked) * 1.0 / count(*), 4) AS leak_rate
        FROM test_docs GROUP BY source
    """


ENC_VOCAB_N = 30  # vocab size for the encode step (OOV id = 0)


def q_tokenize_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-and-encode: induce a top-N vocabulary from the corpus
    (id = frequency rank), then map every document's ordered token
    sequence to ids with OOV -> 0 — the id-ization step between text
    curation and training. The vocabulary broadcasts as a single map
    value; encoding is one expression pass (no UDF, no shuffle beyond
    the vocab aggregate). Per-doc output keeps the full sequence as
    an md5 fingerprint (order-sensitive) plus token/OOV counts, so
    the row stays scalar for the driver while still pinning the exact
    id sequence."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    docs = d.select("doc_id", toks.alias("w"))
    tf = docs.select(F.explode("w").alias("term")).groupBy("term").agg(
        F.count("*").alias("cnt")
    )
    from pyspark.sql import Window

    wr = Window.orderBy(F.desc("cnt"), "term")
    vocab = (
        tf.withColumn("id", F.row_number().over(wr))
        .filter(F.col("id") <= ENC_VOCAB_N)
        .select("term", "id")
    )
    vmap = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("term", "id"))).alias("mp")
    )
    ids = F.transform(
        F.col("w"), lambda t: F.coalesce(F.element_at(F.col("mp"), t), F.lit(0))
    )
    return (
        docs.crossJoin(F.broadcast(vmap))
        .select("doc_id", ids.alias("ids"))
        .select(
            "doc_id",
            F.size("ids").cast("long").alias("n_tokens"),
            F.size(F.filter(F.col("ids"), lambda x: x == 0)).cast("long").alias("n_unk"),
            F.md5(F.array_join(F.col("ids"), ",")).alias("ids_fp"),
        )
    )


TOKENIZE_ENCODE_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id,
               {ws_tokens_sql('lower(text)')} AS w
        FROM documents
    ),
    tf AS (
        SELECT term, count(*) AS cnt
        FROM (SELECT unnest(w) AS term FROM docs) GROUP BY 1
    ),
    vocab AS (
        SELECT term, id FROM (
            SELECT term, row_number() OVER (ORDER BY cnt DESC, term) AS id FROM tf
        ) WHERE id <= {ENC_VOCAB_N}
    ),
    m AS (SELECT MAP(list(term ORDER BY id), list(id ORDER BY id)) AS mp FROM vocab),
    enc AS (
        SELECT doc_id,
               [coalesce(mp[w[i]][1], 0) FOR i IN range(1, len(w) + 1)] AS ids
        FROM docs CROSS JOIN m
    )
    SELECT doc_id,
           CAST(len(ids) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ids, x -> x = 0)) AS BIGINT) AS n_unk,
           md5(array_to_string(ids, ',')) AS ids_fp
    FROM enc
"""


CONTRAST_ANCHORS = 20
CONTRAST_K = 2


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive-pair mining over the embedding table:
    for each anchor vector, K same-label positives and K
    different-label negatives, selected by md5-hash rank (so the
    sample is reproducible across runs/engines/partitionings — the
    property random sampling lacks). The shape behind contrastive /
    triplet training-set construction; anchors x corpus is a
    broadcast-sized join here, a hash-bucketed join at scale."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = e.filter(F.col("vec_id") < CONTRAST_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    cand = a.join(e, a.anchor_id != e.vec_id)
    kind = F.when(
        F.col("label") == F.col("anchor_label"), F.lit("positive")
    ).otherwise(F.lit("negative"))
    h = _h31_spark(
        F.concat_ws("-", F.col("anchor_id").cast("string"), F.col("vec_id").cast("string"))
    )
    w = Window.partitionBy("anchor_id", "kind").orderBy("h", "partner_id")
    return (
        cand.select(
            "anchor_id",
            F.col("vec_id").alias("partner_id"),
            kind.alias("kind"),
            h.alias("h"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CONTRAST_K)
        .select("anchor_id", "partner_id", "kind", F.col("rk").cast("int").alias("rk"))
    )


def _contrastive_oracle() -> str:
    h = _h31_sql("CAST(anchor_id AS VARCHAR) || '-' || CAST(vec_id AS VARCHAR)")
    return f"""
        WITH a AS (
            SELECT vec_id AS anchor_id, label AS anchor_label
            FROM embeddings WHERE vec_id < {CONTRAST_ANCHORS}
        ),
        cand AS (
            SELECT anchor_id,
                   e.vec_id AS partner_id,
                   CASE WHEN e.label = anchor_label THEN 'positive' ELSE 'negative' END AS kind,
                   {h.replace('vec_id', 'e.vec_id')} AS h
            FROM a JOIN embeddings e ON a.anchor_id <> e.vec_id
        )
        SELECT anchor_id, partner_id, kind, CAST(rk AS INT) AS rk FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id, kind
                                         ORDER BY h, partner_id) AS rk
            FROM cand
        ) WHERE rk <= {CONTRAST_K}
    """


E2E_MIN_TOKENS = 20
E2E_K_PER_SOURCE = 30


def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative DAG — the
    composition the engine exists for: quality filter -> exact dedup
    -> near-dup (fingerprint) dedup -> decontamination -> stratified
    per-source cap -> corpus stats. Catalyst plans the five stages as
    a single job; nothing materializes between steps.

    Scale shape: two hash aggregations (16-byte keys), one broadcast
    blocklist filter, one per-source window over a hash-capped rank —
    no pairwise step anywhere, so the pipeline is a constant number of
    linear passes + shuffles regardless of corpus size. Every
    selection is md5-hash-deterministic, so the same corpus in any
    partitioning/order yields the identical kept set on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    q = d.select(
        "doc_id", "text", "source", F.size(toks).cast("long").alias("n_toks")
    ).filter(F.col("n_toks") >= E2E_MIN_TOKENS)
    # exact dedup: keeper = min doc_id per raw-text hash
    e_keep = q.groupBy(F.md5("text").alias("fp")).agg(F.min("doc_id").alias("doc_id"))
    q2 = q.join(e_keep.select("doc_id"), "doc_id")
    # near-dup dedup: keeper per sorted-distinct-token fingerprint
    norm = F.array_join(
        F.array_sort(F.array_distinct(ws_tokens(F.lower(F.col("text"))))), " "
    )
    f_keep = (
        q2.select("doc_id", F.md5(norm).alias("nfp"))
        .groupBy("nfp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    q3 = q2.join(f_keep.select("doc_id"), "doc_id")
    # decontamination: drop docs containing any benchmark phrase
    clean = q3
    for p in BLOCKLIST_PHRASES:
        clean = clean.filter(~F.col("text").contains(p))
    # stratified cap: at most K docs per source, hash-rank selected
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        _h31_spark(F.col("doc_id").cast("string")), "doc_id"
    )
    kept = clean.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= E2E_K_PER_SOURCE
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("sum_tokens"),
        F.sum("doc_id").alias("id_chk"),
    )


def _e2e_oracle() -> str:
    not_like = " AND ".join(
        f"text NOT LIKE '%{p}%'" for p in BLOCKLIST_PHRASES
    )
    return f"""
        WITH q AS (
            SELECT doc_id, text, source,
                   CAST(len({ws_tokens_sql('text')}) AS BIGINT) AS n_toks
            FROM documents
            WHERE len({ws_tokens_sql('text')})
                  >= {E2E_MIN_TOKENS}
        ),
        e_keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
        q2 AS (SELECT q.* FROM q JOIN e_keep USING (doc_id)),
        f_keep AS (
            SELECT min(doc_id) AS doc_id FROM q2
            GROUP BY md5(array_to_string(
                list_sort(list_distinct({ws_tokens_sql('lower(text)')})), ' '))
        ),
        q3 AS (SELECT q2.* FROM q2 JOIN f_keep USING (doc_id)),
        clean AS (SELECT * FROM q3 WHERE {not_like}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY source
                ORDER BY {_h31_sql('CAST(doc_id AS VARCHAR)')}, doc_id) AS rn
            FROM clean
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
               CAST(sum(doc_id) AS BIGINT) AS id_chk
        FROM ranked WHERE rn <= {E2E_K_PER_SOURCE}
        GROUP BY source
    """


# temperature-scaled mixing: alpha=0.5 (weights ~ n^alpha), target
# corpus fraction 0.5 — the multilingual-LM sampling scheme where
# small sources are upsampled relative to their natural share
TEMP_TARGET_FRAC = 0.5
TEMP_MOD = 1_000_000


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: per-source sampling rates
    DERIVED from the data (weight ~ sqrt(n_source), normalized), not
    fixed like mix_sample_by_source. Rates follow from two tiny
    aggregates (per-source counts, one global total) broadcast back
    onto the corpus; the document scan is touched once and the kept
    set is a deterministic hash sample, so the mix is reproducible
    across runs and engines. All weight arithmetic is DECIMAL-summed
    or identical-double division — no accumulation-order hazard."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = counts.withColumn(
        "w", F.round(F.sqrt(F.col("n_docs")), 6).cast("decimal(18,6)")
    )
    tot = w.agg(F.sum("w").alias("tw"), F.sum("n_docs").alias("td"))
    weight = F.round(F.col("w").cast("double") / F.col("tw").cast("double"), 6)
    rates = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            weight.alias("weight"),
            F.least(
                F.lit(1.0),
                F.round(
                    weight * F.col("td") * TEMP_TARGET_FRAC / F.col("n_docs"), 6
                ),
            ).alias("keep_rate"),
        )
    )
    thresh = F.floor(F.col("keep_rate") * TEMP_MOD).cast("long")
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(_h31_spark(F.col("doc_id").cast("string")) % TEMP_MOD < thresh)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "weight",
        "keep_rate",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


DOREMI_ROUNDS = 3   # fixed EG rounds (unrolled in the oracle)
DOREMI_ETA = 0.5    # exponentiated-gradient step size


def q_mix_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-shaped domain-weight LEARNING (Xie et al. NeurIPS 2023,
    public): iteratively reweight training domains toward the ones
    with excess loss. The per-domain loss proxy is the mean token NLL
    under the corpus's own unigram LM (the text_perplexity statistic
    grouped by source); weights start uniform and run DOREMI_ROUNDS
    exponentiated-gradient updates
        w_t(d) ~ w_{t-1}(d) * exp(eta * (L_d - avg_t-1)),
    avg_t-1 = sum_d w_{t-1}(d) L_d, renormalized each round — the
    weighted-average baseline makes each round genuinely depend on
    the previous one (no closed form). Output per source: token
    volume, loss, reference token share, the learned weight, and the
    boost vs the reference share — the mixing table a DoReMi run
    hands to the sampler (compose with mix_budget_waterfill).

    Exactness discipline (the kmeans/perceptron recipe for iterative
    float math): NLL terms and every cross-row sum accumulate as
    round(x,10)-quantized DECIMAL(28,10) (order-invariant); exp/ln
    outputs are re-quantized at fixed decimals before reuse, so both
    engines walk the identical FP path and the oracle unrolls the
    rounds verbatim. Scale shape: one corpus-scale token explode +
    unigram-count join (the perplexity plan), then all rounds operate
    on the DOMAIN-sized frame (K rows) — broadcast scalars, no
    driver-side data, no corpus rescan per round."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    cnt = toks.groupBy("token").agg(F.count("*").alias("cnt_t"))
    tot = toks.agg(F.count("*").alias("n"))
    term = F.round(-F.log(F.col("cnt_t") / F.col("n")), 10).cast("decimal(28,10)")
    ld = (
        toks.join(F.broadcast(cnt), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.sum(term).cast("double") / F.count("*"), 6).alias("loss"),
        )
    )
    # every round's plan reads the previous round three times (avg
    # baseline, update, normalizer): unchecked, the corpus-scale ld
    # subplan re-embeds ~3^R times (measured: 511 exchanges in the
    # formatted plan), so ld and each round are checkpoints
    ld = ld.localCheckpoint()
    k1 = ld.agg(F.count("*").alias("k"), F.sum("n_toks").alias("tot_toks"))
    w = ld.crossJoin(F.broadcast(k1)).select(
        "source",
        "n_toks",
        "loss",
        F.round(F.col("n_toks") / F.col("tot_toks"), 8).alias("ref_share"),
        F.round(F.lit(1.0) / F.col("k"), 8).alias("w"),
    )

    def dec(c):
        return F.round(c, 10).cast("decimal(28,10)")

    for _ in range(DOREMI_ROUNDS):
        avg = w.agg(
            F.round(
                F.sum(dec(F.col("w") * F.col("loss"))).cast("double"), 8
            ).alias("avg_l")
        )
        u = (
            w.crossJoin(F.broadcast(avg))
            .withColumn(
                "f",
                F.round(
                    F.exp(
                        F.round(
                            F.lit(DOREMI_ETA) * (F.col("loss") - F.col("avg_l")),
                            8,
                        )
                    ),
                    10,
                ),
            )
            .withColumn("u", F.round(F.col("w") * F.col("f"), 10))
        )
        z = u.agg(F.round(F.sum(dec(F.col("u"))).cast("double"), 10).alias("z"))
        w, _ = observed_checkpoint(
            u.crossJoin(F.broadcast(z)).select(
                "source",
                "n_toks",
                "loss",
                "ref_share",
                F.round(F.col("u") / F.col("z"), 8).alias("w"),
            ),
            replaces=w,
        )
    release(ld)  # the result reads only the last w
    return w.select(
        "source",
        "n_toks",
        "loss",
        "ref_share",
        F.col("w").alias("weight"),
        F.round(F.try_divide(F.col("w"), F.col("ref_share")), 4).alias("boost"),
    )


def _mix_doremi_oracle() -> str:
    parts = [
        f"""
    toks AS (
        SELECT source,
               unnest({ws_tokens_sql('lower(text)')}) AS token
        FROM documents
    ),
    cnt AS (SELECT token, count(*) AS cnt_t FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks),
    ld AS (
        SELECT source, count(*) AS n_toks,
               round(CAST(sum(CAST(round(-ln(cnt_t * 1.0 / n), 10)
                                   AS DECIMAL(28,10))) AS DOUBLE)
                     / count(*), 6) AS loss
        FROM toks JOIN cnt USING (token) CROSS JOIN tot
        GROUP BY source
    ),
    k1 AS (SELECT count(*) AS k, sum(n_toks) AS tot_toks FROM ld),
    w0 AS (
        SELECT source, n_toks, loss,
               round(n_toks * 1.0 / tot_toks, 8) AS ref_share,
               round(1.0 / k, 8) AS w
        FROM ld CROSS JOIN k1
    )"""
    ]
    for r in range(1, DOREMI_ROUNDS + 1):
        parts.append(
            f""",
    avg{r} AS (
        SELECT round(CAST(sum(CAST(round(w * loss, 10) AS DECIMAL(28,10)))
                     AS DOUBLE), 8) AS avg_l
        FROM w{r - 1}
    ),
    u{r} AS (
        SELECT source, n_toks, loss, ref_share,
               round(w * round(exp(round({DOREMI_ETA} * (loss - avg_l), 8)),
                               10), 10) AS u
        FROM w{r - 1} CROSS JOIN avg{r}
    ),
    z{r} AS (
        SELECT round(CAST(sum(CAST(round(u, 10) AS DECIMAL(28,10)))
                     AS DOUBLE), 10) AS z
        FROM u{r}
    ),
    w{r} AS (
        SELECT source, n_toks, loss, ref_share, round(u / z, 8) AS w
        FROM u{r} CROSS JOIN z{r}
    )"""
        )
    parts.append(
        f"""
    SELECT source, n_toks, loss, ref_share, w AS weight,
           round(w / ref_share, 4) AS boost
    FROM w{DOREMI_ROUNDS}
"""
    )
    return "WITH " + "".join(parts)


WF_BUDGET_NUM, WF_BUDGET_DEN = 6, 10  # budget = 60% of corpus tokens


def q_mix_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT water-filling token-budget allocation across sources —
    the data-mixing primitive behind "train on B tokens with
    temperature-flattened source shares, never over-drawing a
    source": alloc_i = min(cap_i, w_i * t) with the unique threshold
    t making the allocations sum to the budget.

    The classic O(m log m) closed form, distributed: sort sources by
    saturation point r_i = cap_i / w_i; for each prefix the candidate
    threshold t_k = (B - C_{k-1}) / (W_total - W_{k-1}) (prefix sums
    by window), and monotonicity of f(t) = sum min(cap_i, w_i t)
    makes exactly one candidate land in [r_{k-1}, r_k] (boundary ties
    produce equal t, collapsed by min()). m = source count, so every
    frame here is dimension-sized; the only corpus-scale work is the
    per-source token-count aggregate. Caps/prefix sums stay in
    long/decimal (order-exact); doubles appear only in per-row
    divisions of identical operands on both engines."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("n_toks")
    )
    caps = d.groupBy("source").agg(F.sum("n_toks").alias("cap"))
    w = caps.withColumn(
        "w", F.round(F.sqrt(F.col("cap")), 6).cast("decimal(18,6)")
    ).withColumn("r", F.col("cap") / F.col("w").cast("double"))
    tot = w.agg(
        F.sum("cap").alias("total_cap"), F.sum("w").alias("total_w")
    )
    wt = w.crossJoin(F.broadcast(tot)).withColumn(
        "budget", F.expr(f"(total_cap * {WF_BUDGET_NUM}) div {WF_BUDGET_DEN}")
    )
    from pyspark.sql import Window as W

    ow = W.orderBy("r", "source")
    pre = W.orderBy("r", "source").rowsBetween(W.unboundedPreceding, -1)
    cand = (
        wt.withColumn("c_prev", F.coalesce(F.sum("cap").over(pre), F.lit(0)))
        .withColumn(
            "w_prev",
            F.coalesce(F.sum("w").over(pre), F.lit(0).cast("decimal(18,6)")),
        )
        .withColumn("r_prev", F.coalesce(F.lag("r").over(ow), F.lit(0.0)))
        .withColumn(
            "t_cand",
            F.try_divide(
                F.col("budget") - F.col("c_prev"),
                (F.col("total_w") - F.col("w_prev")).cast("double"),
            ),
        )
    )
    t = cand.filter(
        F.col("t_cand").isNotNull()
        & (F.col("t_cand") >= F.col("r_prev"))
        & (F.col("t_cand") <= F.col("r"))
    ).agg(F.min("t_cand").alias("t"))
    alloc = F.least(
        F.col("cap").cast("double"),
        F.round(F.col("w").cast("double") * F.coalesce(F.col("t"), F.col("r")), 2),
    )
    return (
        wt.crossJoin(F.broadcast(t))
        .select(
            "source",
            "cap",
            "budget",
            alloc.alias("alloc_tokens"),
            F.round(F.try_divide(alloc, F.col("cap")), 4).alias("keep_frac"),
            (F.col("r") <= F.coalesce(F.col("t"), F.col("r"))).alias("saturated"),
        )
    )


MIX_WATERFILL_ORACLE = f"""
    WITH d AS (
        SELECT source, len(string_split(text, ' ')) AS n_toks FROM documents
    ),
    caps AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS cap FROM d GROUP BY 1),
    w AS (
        SELECT source, cap,
               CAST(round(sqrt(cap), 6) AS DECIMAL(18,6)) AS w,
               cap / CAST(CAST(round(sqrt(cap), 6) AS DECIMAL(18,6)) AS DOUBLE) AS r
        FROM caps
    ),
    tot AS (
        SELECT CAST(sum(cap) AS BIGINT) AS total_cap,
               CAST(sum(w) AS DECIMAL(28,6)) AS total_w
        FROM w
    ),
    wt AS (
        SELECT *, CAST((total_cap * {WF_BUDGET_NUM}) // {WF_BUDGET_DEN} AS BIGINT)
                      AS budget
        FROM w CROSS JOIN tot
    ),
    cand AS (
        SELECT *,
               CAST(coalesce(sum(cap) OVER pre, 0) AS BIGINT) AS c_prev,
               CAST(coalesce(sum(w) OVER pre, 0) AS DECIMAL(28,6)) AS w_prev,
               coalesce(lag(r) OVER ow, 0.0) AS r_prev
        FROM wt
        WINDOW ow AS (ORDER BY r, source),
               pre AS (ORDER BY r, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    tsel AS (
        SELECT min(t_cand) AS t FROM (
            SELECT CASE WHEN CAST(total_w - w_prev AS DOUBLE) = 0 THEN NULL
                        ELSE (budget - c_prev) / CAST(total_w - w_prev AS DOUBLE)
                   END AS t_cand, r_prev, r
            FROM cand
        ) WHERE t_cand IS NOT NULL AND t_cand >= r_prev AND t_cand <= r
    )
    SELECT source, cap, budget,
           least(CAST(cap AS DOUBLE),
                 round(CAST(w AS DOUBLE) * coalesce(t, r), 2)) AS alloc_tokens,
           round(least(CAST(cap AS DOUBLE),
                       round(CAST(w AS DOUBLE) * coalesce(t, r), 2)) / cap, 4)
               AS keep_frac,
           r <= coalesce(t, r) AS saturated
    FROM wt CROSS JOIN tsel
"""


def _mix_temperature_oracle() -> str:
    h = _h31_sql("CAST(doc_id AS VARCHAR)")
    return f"""
        WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        w AS (SELECT source, n_docs,
                     CAST(round(sqrt(n_docs), 6) AS DECIMAL(18,6)) AS w
              FROM counts),
        tot AS (SELECT sum(w) AS tw, sum(n_docs) AS td FROM w),
        rates AS (
            SELECT source, n_docs,
                   round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight,
                   least(1.0, round(round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6)
                                    * td * {TEMP_TARGET_FRAC} / n_docs, 6)) AS keep_rate
            FROM w CROSS JOIN tot
        ),
        kept AS (
            SELECT d.source, count(*) AS n_kept
            FROM documents d JOIN rates r USING (source)
            WHERE {h} % {TEMP_MOD} < CAST(floor(keep_rate * {TEMP_MOD}) AS BIGINT)
            GROUP BY 1
        )
        SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs, r.weight, r.keep_rate,
               CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
        FROM rates r LEFT JOIN kept USING (source)
    """


SAMPLE_W_K = 30


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement in one distributed
    pass (Efraimidis-Spirakis A-ES): each doc draws a deterministic
    uniform u from its id hash and competes with key ln(u)/w (the
    monotone form of u^(1/w)); the global top-K by key IS an exact
    weighted sample without replacement. Weight = n_chars, so long
    documents are proportionally favored — the "sample by token mass"
    primitive a corpus builder needs. The top-K runs as
    TakeOrderedAndProject (per-partition heaps + driver merge of K
    rows — no global sort, no single-partition window), so the plan
    is one scan at any corpus size. The rank window afterwards orders
    K = 30 rows — driver-scale. Reference: the reference samples only
    by fixed chunk boundaries; this is the weighted analog of its
    storage-side selection, done corpus-side."""
    d = load_table(spark, sf_dir, "documents")
    h = _h31_spark(F.col("doc_id").cast("string"))
    u = (h.cast("double") + 0.5) / F.lit(2147483647.0)
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log(u) / w, 10).alias("es_key"),
    )
    top = keyed.orderBy(F.desc("es_key"), "doc_id").limit(SAMPLE_W_K)
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.orderBy(F.desc("es_key"), "doc_id"))
    # + 0.0 normalizes a round()-produced -0.0 (tiny negative keys are
    # the NORMAL case here: top keys are the closest to zero)
    return top.select(
        "doc_id", "source", "n_chars",
        (F.round("es_key", 6) + F.lit(0.0)).alias("es_key6"),
        rk.alias("rank"),
    )


def _sample_weighted_oracle() -> str:
    h = _h31_sql("CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, source, n_chars,
               round(es_key, 6) + 0.0 AS es_key6,
               CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS INT)
                   AS rank
        FROM (
            SELECT doc_id, source, n_chars,
                   round(ln(({h} + 0.5) / 2147483647.0)
                         / CAST(greatest(n_chars, 1) AS DOUBLE), 10) AS es_key
            FROM documents
        )
        ORDER BY es_key DESC, doc_id
        LIMIT {SAMPLE_W_K}
    """


BPE_ROUNDS = 4


def _bpe_fold_expr(pa: str, pb: str):
    """The '|'-anchored greedy merge fold with the round's winning
    pair inlined as literals (symbols are [a-z0-9_] — quoting-safe);
    same fold DuckDB runs via list_reduce in the oracle."""
    return F.expr(
        f"""
        split(substring(aggregate(syms, '', (acc, x) ->
              CASE WHEN endswith(acc, '|{pa}') AND x = '{pb}'
                   THEN acc || x ELSE acc || '|' || x END), 2), '\\\\|')
        """
    )


def _bpe_merge_chain(
    words: DataFrame, fold_last: bool
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """The BPE_ROUNDS merge rounds over a (word, freq) vocabulary:
    each round counts adjacent symbol pairs weighted by word
    frequency, picks the global best pair (count desc, pair
    lexicographic — fully deterministic) and folds it into every word.

    Each round's winning pair is ONE row — collect it to the driver
    (the kmeans-centroid pattern) and inject it as literals into the
    round's fold. Pre-tokenized symbols are [a-z0-9_] so literal
    inlining is quoting-safe. Caches are vocab-sized. A round's fold is
    not materialized on its own: the next round's best-pair collect
    scans all of it and fills its cache, and the PREVIOUS round's cache
    is released right after that collect (the lazy per-round cache
    chain once leaked R frames into the driver's long single session;
    releasing before the new cache is loaded would re-plan it over the
    uncached input). Only a chain that ends on a fold materializes it
    once more before the release.

    Returns the picked (pa, pb, cnt) merges and the CACHED vocabulary
    (word, freq, syms) — the caller must unpersist() it. Without
    `fold_last` the last round's fold and materialization are skipped
    (q_bpe_train reads only the merges)."""
    cur = words.select(
        "word",
        "freq",
        F.expr(
            "concat(transform(sequence(1, length(word)),"
            " i -> substr(word, i, 1)), array('_'))"
        ).alias("syms"),
    ).cache()
    merges: list[tuple[str, str, int]] = []
    prev = None
    for k in range(1, BPE_ROUNDS + 1):
        n1 = F.greatest(F.size("syms") - 1, F.lit(0))
        pair = F.zip_with(
            F.slice("syms", 1, n1),
            F.slice("syms", 2, n1),
            lambda x, y: F.struct(x.alias("pa"), y.alias("pb")),
        )
        best = (
            cur.select("freq", F.explode(pair).alias("pr"))
            .groupBy(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "pa", "pb")
            .limit(1)
            .collect()
        )
        if prev is not None:  # the collect above loaded cur's cache
            prev.unpersist()
            prev = None
        if not best:
            break
        r = best[0]
        merges.append((r.pa, r.pb, int(r.cnt)))
        if k == BPE_ROUNDS and not fold_last:
            break
        prev = cur
        cur = prev.select(
            "word", "freq", _bpe_fold_expr(r.pa, r.pb).alias("syms")
        ).cache()
    if prev is not None:  # the chain ended on a fold (fold_last)
        cur.count()
        prev.unpersist()
    return merges, cur


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning — the tokenizer-TRAINING side of
    the pipeline (tokenize_encode is the inference side): one
    corpus-scale aggregation reduces the corpus to a word-frequency
    table, then BPE_ROUNDS iterations each (a) count adjacent symbol
    pairs weighted by word frequency, (b) pick the global best pair
    (count desc, pair lexicographic — fully deterministic), (c) apply
    the merge to every word. The merge application is a LEFT FOLD over
    the symbol array with a '|'-anchored string accumulator (endswith
    '|'+a detects that the LAST SYMBOL is exactly a, so greedy
    left-to-right non-overlapping semantics fall out: 'aaa' + (a,a) ->
    ['aa','a']) — the same fold DuckDB runs via list_reduce, making an
    inherently iterative training algorithm exactly oracle-checkable.
    Words are pre-tokenized to lowercase alphanumerics (the usual BPE
    pre-tokenizer split), which also guarantees '|' and the '_'
    end-of-word marker never collide with symbol text.

    Scale shape: the ONLY corpus-sized stage is the initial word
    count; every round then operates on the vocabulary table (words x
    symbols), which is what production BPE trainers exploit — at
    100 TB the rounds cost vocab-size, not corpus-size, and each
    round's best pair is a 1-row driver collect injected as fold
    literals (the kmeans-centroid iterative pattern)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(ws_split(F.lower(F.col("text")))).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    merges, cur = _bpe_merge_chain(words, fold_last=False)
    cur.unpersist()
    return spark.createDataFrame(
        [(k, pa, pb, pa + pb, cnt) for k, (pa, pb, cnt) in enumerate(merges, 1)],
        schema="round int, pa string, pb string, merged string, cnt long",
    )


def _bpe_encoded_by_source(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared train->encode body for q_bpe_apply / q_bpe_fertility:
    per-(source, word) counts plus the corpus vocabulary encoded
    through the re-derived BPE_ROUNDS merge chain. Returns
    (by_source, cur) where `cur` is the CACHED encoded vocabulary —
    the caller must unpersist() it after pinning its aggregate.

    The merge chain re-derives through q_bpe_train's _bpe_merge_chain
    (same folds, same 1-row driver collects), applied on the
    VOCABULARY (one fold per distinct word, never per occurrence) — at
    100 TB the corpus-sized work is two word-count aggregations and one
    vocab-sized broadcast join."""
    d = load_table(spark, sf_dir, "documents")
    by_source = (
        d.select(
            "source",
            F.explode(ws_split(F.lower(F.col("text")))).alias("word"),
        )
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("freq"))
    )
    # re-derive the learned chain on the corpus-wide vocabulary (the
    # same derivation as q_bpe_train; Spark dedupes the shared scan)
    words = by_source.groupBy("word").agg(F.sum("freq").alias("freq"))
    _, cur = _bpe_merge_chain(words, fold_last=True)
    return by_source, cur


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the merges `bpe_train` LEARNS to encode the corpus — the
    full tokenizer loop (train -> apply) closed end to end. Emits,
    per source: word occurrences in scope, pre-BPE token count
    (chars + end marker), post-BPE token count, and the compression
    ratio. Scale shape in _bpe_encoded_by_source."""
    by_source, cur = _bpe_encoded_by_source(spark, sf_dir)
    encoded = cur.select(
        "word",
        (F.length("word") + 1).alias("pre_tokens"),
        F.size("syms").alias("post_tokens"),
    )
    out = (
        by_source.join(F.broadcast(encoded), "word")
        .groupBy("source")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum(F.col("freq") * F.col("pre_tokens")).alias("tokens_pre"),
            F.sum(F.col("freq") * F.col("post_tokens")).alias("tokens_post"),
            F.round(
                F.sum(F.col("freq") * F.col("post_tokens"))
                / F.sum(F.col("freq") * F.col("pre_tokens")),
                4,
            ).alias("compression"),
        )
    )
    out = out.localCheckpoint()  # per-source rows: driver-scale
    cur.unpersist()
    return out


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility evaluation against the LEARNED BPE merges —
    the per-source health check a tokenizer team runs before freezing
    a vocab: fertility (tokens per word occurrence), its worst case,
    and the unsplit/fragmented tails. A source whose fertility is an
    outlier is under-represented in the merge table (the
    multilingual-tokenizer fairness metric). Composes the bpe_train
    chain with per-source word counts: corpus-sized work is the two
    word-count aggregations; the fertility math runs on the encoded
    VOCABULARY joined back by broadcast."""
    by_source, cur = _bpe_encoded_by_source(spark, sf_dir)
    encoded = cur.select("word", F.size("syms").alias("post_tokens"))
    occ = F.sum("freq")
    out = (
        by_source.join(F.broadcast(encoded), "word")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_vocab"),
            occ.alias("n_words"),
            F.round(
                F.sum(F.col("freq") * F.col("post_tokens")) / occ, 4
            ).alias("mean_fertility"),
            F.max("post_tokens").alias("max_fertility"),
            F.round(
                F.sum(
                    F.when(F.col("post_tokens") <= 2, F.col("freq")).otherwise(
                        F.lit(0)
                    )
                )
                / occ,
                4,
            ).alias("p_unsplit"),
            F.round(
                F.sum(
                    F.when(F.col("post_tokens") >= 4, F.col("freq")).otherwise(
                        F.lit(0)
                    )
                )
                / occ,
                4,
            ).alias("p_frag"),
        )
    )
    out = out.localCheckpoint()  # per-source rows: driver-scale
    cur.unpersist()
    return out


def _bpe_fertility_oracle() -> str:
    return f"""
    WITH {_bpe_vocab_ctes()},
    enc AS (
        SELECT word, len(syms) AS post_tokens FROM s{BPE_ROUNDS}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(sum(freq) AS BIGINT) AS n_words,
           round(sum(freq * post_tokens) * 1.0 / sum(freq), 4)
               AS mean_fertility,
           CAST(max(post_tokens) AS INT) AS max_fertility,
           round(sum(CASE WHEN post_tokens <= 2 THEN freq ELSE 0 END) * 1.0
                 / sum(freq), 4) AS p_unsplit,
           round(sum(CASE WHEN post_tokens >= 4 THEN freq ELSE 0 END) * 1.0
                 / sum(freq), 4) AS p_frag
    FROM ws JOIN enc USING (word)
    GROUP BY 1
    """


def _bpe_apply_oracle() -> str:
    return f"""
    WITH {_bpe_vocab_ctes()},
    enc AS (
        SELECT word, len(word) + 1 AS pre_tokens, len(syms) AS post_tokens
        FROM s{BPE_ROUNDS}
    )
    SELECT source,
           CAST(sum(freq) AS BIGINT) AS n_words,
           CAST(sum(freq * pre_tokens) AS BIGINT) AS tokens_pre,
           CAST(sum(freq * post_tokens) AS BIGINT) AS tokens_post,
           round(sum(freq * post_tokens) * 1.0 / sum(freq * pre_tokens), 4)
               AS compression
    FROM ws JOIN enc USING (word)
    GROUP BY 1
    """


def _bpe_round_ctes(k: int) -> str:
    prev = f"s{k - 1}"
    return f"""
    p{k} AS (
        SELECT syms[CAST(j AS INT)] AS pa, syms[CAST(j AS INT) + 1] AS pb,
               sum(freq) AS cnt
        FROM {prev}, LATERAL (SELECT unnest(range(1, len(syms))) AS j)
        GROUP BY 1, 2
    ),
    b{k} AS (
        SELECT {k} AS round, pa, pb, CAST(cnt AS BIGINT) AS cnt
        FROM p{k} ORDER BY cnt DESC, pa, pb LIMIT 1
    ),
    s{k} AS (
        SELECT word, freq,
               string_split(ltrim(list_reduce(list_prepend('', syms),
                   (acc, x) -> CASE WHEN ends_with(acc, '|' || b{k}.pa)
                                     AND x = b{k}.pb
                               THEN acc || x ELSE acc || '|' || x END),
                   '|'), '|') AS syms
        FROM {prev} CROSS JOIN b{k}
    )"""


def _bpe_oracle() -> str:
    union = " UNION ALL ".join(
        f"SELECT * FROM b{k}" for k in range(1, BPE_ROUNDS + 1)
    )
    return f"""
    WITH {_bpe_vocab_ctes()}
    SELECT CAST(round AS INT) AS round, pa, pb, pa || pb AS merged, cnt
    FROM ({union})
    """


def _bpe_vocab_ctes() -> str:
    """The BPE training corpus of the oracles as CTEs: ws (per-source
    counts of the lowercased alphanumeric words), w0 (corpus counts),
    s0 (each word's characters plus the end marker '_'), then
    p/b/s1..BPE_ROUNDS (each round's pair counts, best pair, merged
    symbols)."""
    ctes = ",".join(_bpe_round_ctes(k) for k in range(1, BPE_ROUNDS + 1))
    return f"""ws AS (
        SELECT source, word, count(*) AS freq FROM (
            SELECT source,
                   unnest(list_filter({ws_split_sql('lower(text)')},
                                      t -> regexp_matches(t, '^[a-z0-9]+$')))
                   AS word
            FROM documents
        ) GROUP BY 1, 2
    ),
    w0 AS (SELECT word, sum(freq) AS freq FROM ws GROUP BY 1),
    s0 AS (
        SELECT word, freq,
               list_append(list_transform(range(1, len(word) + 1),
                                          i -> substr(word, CAST(i AS INT), 1)),
                           '_') AS syms
        FROM w0
    ),{ctes}"""


SHUFFLE_EPOCHS = 2   # training epochs to materialize orders for
N_SHUF_SHARDS = 32   # range shards for the distributed rank


def q_shuffle_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-seeded GLOBAL training-order shuffle — the
    reproducible `shuffle(seed=epoch)` every training run needs,
    computed as a total order over the corpus per epoch: each (epoch,
    doc) draws a 60-bit md5 sort key and pos is its 0-based global
    rank within the epoch. Re-running yields byte-identical orders;
    different epochs yield independent permutations.

    The rank is computed WITHOUT a global window (the naive
    `row_number() OVER (ORDER BY h)` collapses the corpus onto one
    task): range-shard on (epoch, h) — Spark's range partitioner, the
    same machinery a global sort uses — take in-shard row_numbers,
    then add the tiny per-shard counts' prefix sum back via a
    broadcast join (two-level scan, as q_pack_sequences). Shard
    boundaries don't affect the result; only the key order does.
    Rows with equal keys never straddle a range boundary, and doc_id
    breaks md5 ties on both engines."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = d.select(
        "doc_id",
        "source",
        F.explode(F.expr(f"sequence(0, {SHUFFLE_EPOCHS - 1})")).alias("epoch"),
    ).withColumn(
        "h",
        F.expr(
            md5_long_expr("concat(cast(epoch as string), ':', cast(doc_id as string))")
        ),
    )
    e = e.repartitionByRange(N_SHUF_SHARDS, "epoch", "h").withColumn(
        "shard", F.spark_partition_id()
    )
    # persist: the offsets branch must see the SAME shard assignment
    # the rank branch saw (and the scan+range-shuffle runs once)
    e = e.persist()
    in_shard = W.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    local = e.withColumn("local_pos", F.row_number().over(in_shard) - 1)
    shard_w = (
        W.partitionBy("epoch").orderBy("shard")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        e.groupBy("epoch", "shard")
        .agg(F.count("*").alias("cnt"))
        .withColumn("before", F.coalesce(F.sum("cnt").over(shard_w), F.lit(0)))
        .select("epoch", "shard", "before")
    )
    return local.join(F.broadcast(offsets), ["epoch", "shard"]).select(
        "epoch",
        "doc_id",
        "source",
        (F.col("local_pos") + F.col("before")).alias("pos"),
    )


SHUFFLE_EPOCHS_ORACLE = f"""
    SELECT CAST(epoch AS INT) AS epoch, doc_id, source,
           CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
                - 1 AS BIGINT) AS pos
    FROM (
        SELECT d.doc_id, d.source, e.epoch,
               {md5_long_sql("CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} AS h
        FROM documents d,
             (SELECT unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch) e
    )
"""


def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balanced downsample: every class keeps exactly
    min-class-size rows, selected by deterministic md5 rank — the
    classifier-training rebalance step (a skewed label mix trains a
    majority-class predictor). Emits one governance row per label:
    total, kept, the balanced invariant (n_kept == min class size,
    pinned TRUE), and an order-insensitive fingerprint of the kept id
    set so the oracle certifies the exact membership, not just the
    count.

    Scale design: per-label selection is a row_number under a
    label-partitioned window — WindowGroupLimit-class work with no
    global sort; the min class size is a one-row broadcast scalar.
    Output is one row per label regardless of corpus size."""
    from pyspark.sql import Window as W

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    h = F.expr(md5_long_expr("cast(vec_id as string)"))
    m = em.groupBy("label").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("m_min")
    )
    rk = F.row_number().over(W.partitionBy("label").orderBy(h.asc(), "vec_id"))
    kept = (
        em.withColumn("rk", rk)
        .crossJoin(F.broadcast(m))
        .filter(F.col("rk") <= F.col("m_min"))
    )
    totals = em.groupBy("label").agg(F.count("*").alias("n_total"))
    return (
        kept.groupBy("label", "m_min")
        .agg(
            F.count("*").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("vec_id")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("ids_fp"),
        )
        .join(totals, "label")
        .select(
            "label",
            "n_total",
            "n_kept",
            (F.col("n_kept") == F.col("m_min")).alias("balanced"),
            "ids_fp",
        )
        .orderBy("label")
    )


SAMPLE_BALANCED_ORACLE = f"""
    WITH h AS (
        SELECT label, vec_id,
               {md5_long_sql("CAST(vec_id AS VARCHAR)")} AS hk
        FROM embeddings
    ),
    m AS (SELECT CAST(min(n) AS BIGINT) AS m_min
          FROM (SELECT count(*) AS n FROM h GROUP BY label)),
    rk AS (
        SELECT label, vec_id,
               row_number() OVER (PARTITION BY label ORDER BY hk, vec_id) AS r
        FROM h
    ),
    kept AS (SELECT label, vec_id FROM rk, m WHERE r <= m.m_min)
    SELECT k.label,
           (SELECT count(*) FROM h WHERE h.label = k.label) AS n_total,
           count(*) AS n_kept,
           count(*) = (SELECT m_min FROM m) AS balanced,
           md5(array_to_string(list_sort(list(vec_id)), ',')) AS ids_fp
    FROM kept k GROUP BY k.label
    ORDER BY k.label
"""


PERCEPTRON_ROUNDS = 3


def _perceptron_feats(d: DataFrame) -> DataFrame:
    toks = ws_tokens(F.col("text"))
    return d.select(
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
        F.lit(1).cast("long").alias("b"),
        F.size(toks).cast("long").alias("tc"),
        F.col("n_chars").cast("long").alias("nc"),
    )


def q_quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear-classifier TRAINING over the corpus — the
    quality-classifier step real LLM pipelines run between heuristic
    filtering and sampling (GPT-3/CCNet-style: fit a small model on
    labeled docs, score the corpus), as a batch perceptron kept in
    INTEGER arithmetic so an inherently iterative gradient loop is
    exactly oracle-checkable (the same every-replica-agrees property
    kmeans_lloyd gets from decimals, with no float order hazard at
    all). Task: predict lang='en' (+1/-1) from integer length features
    (bias, token count, n_chars).

    Each round is ONE corpus aggregation: with the current integer
    weight vector injected as plan literals, sum y*x over the
    misclassified set (y * w.x <= 0) and count it; the 3-component
    update is a driver-side scalar collect (the kmeans-centroid
    pattern — rounds cost one scan each, weights are O(features) on
    the driver). Emits one row per round: entering misclassified
    count + post-update weights. The oracle unrolls the identical
    rounds as CTEs with scalar-subquery weights.

    Scale shape at 100 TB: PERCEPTRON_ROUNDS scans, each a partial
    aggregate (map-side combine) over 4 long columns — no shuffle
    beyond the 1-row agg exchange, no Python in the hot path."""
    d = load_table(spark, sf_dir, "documents")
    feats = _perceptron_feats(d)
    w = [0, 0, 0]  # bias, token-count, n_chars
    rows: list[tuple[int, int, int, int, int]] = []
    for k in range(1, PERCEPTRON_ROUNDS + 1):
        dot = (
            F.lit(w[0]) * F.col("b")
            + F.lit(w[1]) * F.col("tc")
            + F.lit(w[2]) * F.col("nc")
        )
        mis = (F.col("y") * dot) <= 0
        r = feats.agg(
            F.coalesce(
                F.sum(F.when(mis, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias("n_mis"),
            F.coalesce(
                F.sum(F.when(mis, F.col("y") * F.col("b")).otherwise(F.lit(0))),
                F.lit(0),
            ).alias("db"),
            F.coalesce(
                F.sum(F.when(mis, F.col("y") * F.col("tc")).otherwise(F.lit(0))),
                F.lit(0),
            ).alias("dt"),
            F.coalesce(
                F.sum(F.when(mis, F.col("y") * F.col("nc")).otherwise(F.lit(0))),
                F.lit(0),
            ).alias("dn"),
        ).collect()[0]
        w = [w[0] + r.db, w[1] + r.dt, w[2] + r.dn]
        rows.append((k, int(r.n_mis), w[0], w[1], w[2]))
    return spark.createDataFrame(
        rows, "round int, n_mis long, w_bias long, w_tokens long, w_chars long"
    )


def _perceptron_oracle() -> str:
    ctes = [
        f"""feats AS (
            SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
                   CAST(1 AS BIGINT) AS b,
                   CAST(len({ws_tokens_sql('text')}) AS BIGINT) AS tc,
                   CAST(n_chars AS BIGINT) AS nc
            FROM documents
        )""",
        "r0 AS (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS wt,"
        " CAST(0 AS BIGINT) AS wn)",
    ]
    for k in range(1, PERCEPTRON_ROUNDS + 1):
        p = k - 1
        dot = (
            f"((SELECT wb FROM r{p}) * b + (SELECT wt FROM r{p}) * tc"
            f" + (SELECT wn FROM r{p}) * nc)"
        )
        ctes.append(
            f"""u{k} AS (
            SELECT CAST(COALESCE(sum(CASE WHEN y * {dot} <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mis,
                   CAST(COALESCE(sum(CASE WHEN y * {dot} <= 0 THEN y * b ELSE 0 END), 0) AS BIGINT) AS db,
                   CAST(COALESCE(sum(CASE WHEN y * {dot} <= 0 THEN y * tc ELSE 0 END), 0) AS BIGINT) AS dt,
                   CAST(COALESCE(sum(CASE WHEN y * {dot} <= 0 THEN y * nc ELSE 0 END), 0) AS BIGINT) AS dn
            FROM feats
        )"""
        )
        ctes.append(
            f"r{k} AS (SELECT (SELECT wb FROM r{p}) + db AS wb,"
            f" (SELECT wt FROM r{p}) + dt AS wt,"
            f" (SELECT wn FROM r{p}) + dn AS wn, n_mis FROM u{k})"
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS round, n_mis, wb AS w_bias,"
        f" wt AS w_tokens, wn AS w_chars FROM r{k}"
        for k in range(1, PERCEPTRON_ROUNDS + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + selects


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("quality_perceptron", q_quality_perceptron, _perceptron_oracle(),
                  ("pipeline", "llm", "training"),
                  "Distributed batch-perceptron training (3 rounds, integer-"
                  "exact): one corpus aggregation per round, driver-side "
                  "3-scalar update, oracled via unrolled CTE rounds."),
        QuerySpec("bpe_train", q_bpe_train, _bpe_oracle(),
                  ("pipeline", "llm", "tokenizer"),
                  "Distributed BPE merge learning: 4 iterative rounds of "
                  "pair-count -> global argmax -> fold-applied merge, "
                  "exactly oracled via the identical list_reduce fold."),
        QuerySpec("bpe_apply", q_bpe_apply, _bpe_apply_oracle(),
                  ("pipeline", "llm", "tokenizer"),
                  "Encode the corpus with the learned BPE merges: per-source "
                  "token totals + compression, vocab-sized application."),
        QuerySpec("bpe_fertility", q_bpe_fertility, _bpe_fertility_oracle(),
                  ("pipeline", "llm", "tokenizer"),
                  "Tokenizer-fertility evaluation vs the learned merges: "
                  "per-source tokens/word, worst case, unsplit/fragmented "
                  "occurrence tails."),
        QuerySpec("decontaminate_minhash", q_decontaminate_minhash,
                  _decontaminate_minhash_oracle(),
                  ("pipeline", "llm", "decontamination", "scale"),
                  "Fuzzy n-gram decontamination: MinHash band candidates "
                  "crossing the corpus/benchmark boundary, exact-Jaccard "
                  "verified at 0.35; per-doc hit report."),
        QuerySpec("sample_weighted", q_sample_weighted, _sample_weighted_oracle(),
                  ("pipeline", "llm", "sampling"),
                  "Exact one-pass weighted sampling without replacement "
                  "(Efraimidis-Spirakis top-K), weight = token mass."),
        QuerySpec("shuffle_epochs", q_shuffle_epochs, SHUFFLE_EPOCHS_ORACLE,
                  ("pipeline", "llm", "sampling", "scale"),
                  "Epoch-seeded deterministic global training order via "
                  "range-sharded two-level rank (no global window)."),
        QuerySpec("mix_sample_by_source", q_mix_sample_by_source, _mix_oracle(),
                  ("pipeline", "llm", "sampling"),
                  "Deterministic per-domain mixing rates via hash sampling."),
        QuerySpec("decontaminate", q_decontaminate, _decontaminate_oracle(),
                  ("pipeline", "llm"),
                  "Benchmark-ngram decontamination via inverted-index anti-join."),
        QuerySpec("mix_temperature", q_mix_temperature, _mix_temperature_oracle(),
                  ("pipeline", "llm", "sampling"),
                  "Temperature-scaled (alpha=0.5) source mixing with derived rates."),
        QuerySpec("mix_budget_waterfill", q_mix_budget_waterfill, MIX_WATERFILL_ORACLE,
                  ("pipeline", "llm", "sampling"),
                  "Exact water-filling token-budget allocation across sources."),
        QuerySpec("mix_doremi", q_mix_doremi, _mix_doremi_oracle(),
                  ("pipeline", "llm", "sampling", "iterative"),
                  "DoReMi-shaped domain-weight learning: 3 exponentiated-"
                  "gradient rounds over per-source unigram-LM loss, "
                  "decimal-quantized, unrolled-round oracle."),
        QuerySpec("sample_stratified", q_sample_stratified, _stratified_oracle(),
                  ("pipeline", "llm", "sampling"),
                  "Exact K-per-source stratified sample via hash-rank window."),
        QuerySpec("pack_sequences", q_pack_sequences, PACK_SEQUENCES_ORACLE,
                  ("pipeline", "llm", "tokenizer"),
                  "Fixed-length sequence packing via two-level distributed prefix sum."),
        QuerySpec("split_train_val_test", q_split_train_val_test, _split_oracle(),
                  ("pipeline", "llm", "sampling"),
                  "Hash-deterministic train/val/test split rolled up per source."),
        QuerySpec("split_leakage", q_split_leakage, _split_leakage_oracle(),
                  ("pipeline", "llm", "curation"),
                  "Train/test n-gram leakage audit over the hash split: "
                  "leaked test docs + leak rate per source."),
        QuerySpec("tokenize_encode", q_tokenize_encode, TOKENIZE_ENCODE_ORACLE,
                  ("pipeline", "llm", "tokenizer"),
                  "Vocab-induced id encoding with OOV, order-sensitive fingerprint."),
        QuerySpec("contrastive_pairs", q_contrastive_pairs, _contrastive_oracle(),
                  ("pipeline", "llm", "sampling"),
                  "Hash-deterministic positive/negative contrastive pair mining."),
        QuerySpec("pipeline_end_to_end", q_pipeline_end_to_end, _e2e_oracle(),
                  ("pipeline", "llm", "composition"),
                  "Quality->dedup->near-dup->decontaminate->stratify as ONE DAG."),
        QuerySpec("sample_balanced", q_sample_balanced, SAMPLE_BALANCED_ORACLE,
                  ("pipeline", "llm", "sampling"),
                  "Label-balanced downsample to the min class size via "
                  "md5-rank; per-label fingerprint of the kept id set."),
    ]
