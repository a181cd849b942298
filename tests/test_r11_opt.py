"""Focused tests for the round-11 optimization internals.

Each test pins the CORRECTNESS contract of a plan rewrite made for
performance: the lazy graph-squaring accelerator in
dedup._min_label_components, the cached co-partitioned occurrence
stream in dedup._capped_common_counts, the simhash sample pushdown
(q_dedup_agreement's member pruned below the 48-sum aggregate), and
the blocked dense-tfidf numerator. Every rewrite must be
result-invariant — these tests fail if the accelerated path ever
diverges from the slow reference computation.

Note on test_dense_allpairs_blocked_numerator_matches_term_join: the
blocked plan it builds was REVERTED in round 11 (a clean interleaved
A/B showed the per-term fan-out faster on local[*]; see the dense
branch comment in text_analysis._allpairs_cosine). The test documents
that A/B's equivalence claim — its REF side (per-term fan-out with
scaled-long sums) is what production ships; the blocked side is the
recorded experiment, kept so the numerator contract stays pinned if
the blocked plan is ever revisited on a network-bound cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference connected components: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


UNION_FIND_GRAPHS = [
    # long chain whose ids DECREASE away from the minimum — the id
    # layout that defeats pointer jumping (labels point away from
    # the component min); this is the shape that made the r10 loop
    # run its full 25 rounds and motivated the lazy squaring
    [(i + 1, i) for i in range(60)],
    # chain with shuffled ids (deterministic permutation)
    [((i * 37) % 101, ((i + 1) * 37) % 101) for i in range(100)],
    # two cliques joined by a bridge + a singleton pair
    [(a, b) for a in range(5) for b in range(a + 1, 5)]
    + [(10 + a, 10 + b) for a in range(4) for b in range(a + 1, 4)]
    + [(4, 10), (500, 501)],
]


@pytest.mark.parametrize("edges", UNION_FIND_GRAPHS)
def test_min_label_components_matches_union_find(spark, edges):
    """The lazy-squaring propagation loop must land EVERY node on its
    component minimum (cluster id, keeper flag, member count) for graph
    shapes that stress the accelerator: long adversarial-id chains
    (squaring engages) and cliques (squaring never fires)."""
    from dfs_w_mapreduce_spark.operators.dedup import _min_label_components

    want = _union_find_components(edges)
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["id"]: (r["cluster_id"], r["is_keeper"], r["n_members"])
        for r in _min_label_components(pairs, "a", "b", "id").collect()
    }
    sizes: dict[int, int] = {}
    for n, root in want.items():
        sizes[root] = sizes.get(root, 0) + 1
    assert got == {
        n: (root, n == root, sizes[root]) for n, root in want.items()
    }


def test_capped_common_counts_count_path_matches_uncapped(spark, sf_dir):
    """The count path of `_capped_common_counts` (the fixture corpus's
    sum(df^2) mass keeps it there) must produce, for every doc pair
    sharing a shingle, the exact number of shingles they share, and
    every document's shingle-set size. The reference is plain Python
    over the collected shingle sets, so a fault in the hashed
    occurrence stream or the inverted-index count (`_hashed_occurrences`,
    `_count_common`) cannot cancel out against itself."""
    from collections import Counter
    from itertools import combinations

    from dfs_w_mapreduce_spark.operators.dedup import (
        _capped_common_counts,
        _doc_shingles,
    )

    sh = _doc_shingles(spark, sf_dir)
    docs = {r["doc_id"]: r["sh"] for r in sh.collect()}
    postings: dict[str, list[int]] = {}
    for doc_id, shingles in docs.items():
        for s in set(shingles or []):
            postings.setdefault(s, []).append(doc_id)
    want = Counter()
    for ids in postings.values():
        want.update(combinations(sorted(ids), 2))
    assert want  # the fixture corpus has pairs sharing shingles

    got_common, got_sizes = _capped_common_counts(spark, sh, sf_dir)
    got = {(r["doc_a"], r["doc_b"]): r["common"] for r in got_common.collect()}
    assert got == dict(want)
    assert {r["doc_id"]: r["n"] for r in got_sizes.collect()} == {
        doc_id: None if shingles is None else len(set(shingles))
        for doc_id, shingles in docs.items()
    }


def test_simhash_sample_pushdown_matches_full_then_filter(spark, sf_dir):
    """dedup_agreement's simhash member now computes sketches only over
    the sampled documents (r11). The sketch is doc-local, so pruning
    BELOW the 48-sum aggregate must equal sketching the corpus and
    filtering after — this pins that invariant with a sample small
    enough to genuinely prune at fixture scale."""
    from dfs_w_mapreduce_spark.catalog import load_table
    from dfs_w_mapreduce_spark.functions.hashing import _h31_spark
    from dfs_w_mapreduce_spark.operators.dedup import q_dedup_simhash

    d = load_table(spark, sf_dir, "documents")
    h = _h31_spark(F.col("doc_id").cast("string"))
    ids = (
        d.select("doc_id", h.alias("hh"))
        .orderBy("hh", "doc_id")
        .limit(50)
        .select("doc_id")
    )
    got = q_dedup_simhash(spark, sf_dir, docs=d.join(F.broadcast(ids), "doc_id"))
    ref = q_dedup_simhash(spark, sf_dir).join(F.broadcast(ids), "doc_id")
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in ref.collect()
    )


def test_dense_allpairs_blocked_numerator_matches_term_join(spark, sf_dir):
    """The r11 blocked map-merge numerator (dense tfidf branch) must be
    bit-equal to the old per-term fan-out + scaled-long aggregation for
    every pair the old plan emitted with a positive numerator."""
    from dfs_w_mapreduce_spark.catalog import load_table
    from dfs_w_mapreduce_spark.functions.text import ws_tokens
    from dfs_w_mapreduce_spark.operators.text_analysis import TFIDF_DF_CAP_FRAC

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.count()
    df_cap = int(TFIDF_DF_CAP_FRAC * n_docs)
    w = (
        tf.join(F.broadcast(df_), "term")
        .filter(F.col("df") <= df_cap)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    # reference: the pre-r11 per-term fan-out with scaled-long sums
    wa = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("w_a"))
    wb = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("w_b"))
    ref = (
        wa.join(wb, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.round(F.col("w_a") * F.col("w_b"), 8) * 100000000, 0)
            .cast("long")
            .alias("p8"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("p8").alias("p8s"))
        .filter(F.col("p8s") > 0)
    )
    # r11 plan: per-doc weight maps, blocked pair join, map_zip_with merge
    n_blocks = 8
    dm = w.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "w"))).alias("m")
    )
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("jb"))
    left = dm.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma")).crossJoin(
        F.broadcast(blocks)
    )
    right = dm.select(
        F.col("doc_id").alias("doc_b"),
        F.col("m").alias("mb"),
        F.pmod(F.xxhash64("doc_id"), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    zz = F.map_zip_with(
        "ma",
        "mb",
        lambda k, x, y: F.when(
            x.isNotNull() & y.isNotNull(),
            F.round(F.round(x * y, 8) * 100000000, 0).cast("long"),
        ),
    )
    got = (
        left.join(right, F.col("jb") == F.col("blk"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.aggregate(
                F.map_values(zz),
                F.lit(0).cast("long"),
                lambda acc, v: acc + F.coalesce(v, F.lit(0)),
            ).alias("p8s"),
        )
        .filter(F.col("p8s") > 0)
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in ref.collect()
    )
