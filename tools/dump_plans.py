"""Dump formatted physical plans: PLANS.md, or before/after evidence files.

    python tools/dump_plans.py                        # regenerate PLANS.md
    python tools/dump_plans.py <tag> before|after q…  # plans/<tag>/

With no arguments, writes the formatted plans of the headline queries
to PLANS.md — the evidence artifact for the scale posture: shows
PushedFilters / ReadSchema pruning, BroadcastHashJoin placement,
partial+final HashAggregate, TakeOrderedAndProject, and exchange counts
per query. Regenerate after plan-affecting changes.

With a tag, writes plans/<tag>/<q>_<before|after>.txt (the formatted
plan before execution) and <q>_<before|after>_executed.txt (the
executed plan after a collect(): ReusedExchange and the final AQE
shape appear only there) for each named query, at
$SPARK_GRAFT_SF_DIR (default sf0.01). Arguments and query names are
checked before Spark starts.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from dfs_w_mapreduce_spark.plans.explain import exchange_count, formatted_plan
from dfs_w_mapreduce_spark.registry import collect
from dfs_w_mapreduce_spark.session import get_spark

HEADLINE = [
    "wordcount",
    "question_pct",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "window_running",
    "topk_global",
    "dedup_minhash_pairs",
    "knn_lsh_bucketed",
    "asof_join",
    "stream_tumbling",
    "text_repetition",
    "funnel_stages",
    "graph_pagerank",
    "sink_partitioned",
    "anomaly_zscore",
    "scd2_build",
    "dq_constraints",
    "tpch_q2",
    "tpch_q21",
    "heavy_hitters",
    "substring_winnow",
    "kl_divergence",
    "lateral_topk",
    "hll_union",
    "pipeline_end_to_end",
    "dedup_incremental",
    "anomaly_mad",
    "skyline_pareto",
    "ann_recall",
    # round-3 batch 2/3
    "asof_join_nearest",
    "gap_fill_locf",
    "rollup_hypertable",
    "mix_temperature",
    "chunk_prune_stats",
    "dedup_embedding_pairs_lsh",
    "text_bigram_lm",
    "attribution_last_touch",
    "columnar_encoding_stats",
    "rolling_user_features",
    "watermark_lateness",
    "set_ops_all",
    "join_null_safe",
    "agg_filter",
    "pit_training_join",
    "tfidf_cosine_pairs",
    "grouped_linear_fit",
    "knn_graph",
    "path_3grams",
    "cumulative_distinct_users",
    # round 4: a-priori-pruned basket mining (TakeOrderedAndProject),
    # policy keeper resolution, one-scan threshold sweep, band sweep
    "basket_lift",
    "dedup_keep_best",
    "quality_threshold_sweep",
    "minhash_band_sweep",
    "dup_ngram_spans",
    "dedup_span_apply",
    "cdc_merge_apply",
    "mix_budget_waterfill",
    "langid_confusion",
    "chunk_corruption_recovery",
    "ewma_user",
    # round 6: zero-shuffle CDC chunking, TakeOrdered weighted sample,
    # benchmark-crossing LSH decontamination, digest-diff join
    "cdc_chunk_stats",
    "sample_weighted",
    "decontaminate_semantic",
    "table_diff",
    "bpe_train",
    "bpe_apply",
    "corpus_datasheet",
    "quality_rank_ensemble",
    "chunk_placement",
    "recovery_plan",
    "store_gc",
    "multimodal_gif_frames",
    "shuffle_epochs",
    "kmeans_lloyd",
    "heartbeat_liveness",
    "placement_rebalance",
    "kmv_distinct",
    "embedding_outliers",
    # round 7: integer perceptron rounds (literal-weight aggregates),
    # one-pass stacked matryoshka scoring, decode+resize Arrow map
    "quality_perceptron",
    "embedding_matryoshka",
    "multimodal_resize",
    "catalog_ls",
    "semdedup_prune",
    "importance_resample",
    "dedup_agreement",
    # round 8: dir-scoped ls, byte-chunk put/get, Zipf-vocab AllPairs,
    # fuzzy decontamination, LPA communities, IVFADC, audio frames
    "catalog_ls_dirs",
    "sink_chunked_bytes_roundtrip",
    "tfidf_cosine_zipf",
    "decontaminate_minhash",
    "graph_label_prop",
    "knn_ivfpq",
    "multimodal_audio_frames",
    "hilbert_layout",
    "postings_build",
    "embedding_pca_power",
    "sample_coreset",
    "kmv_set_ops",
    "embedding_abtt",
    "tfidf_plan_pick",
    "text_readability",
    # round-8 second batch
    "quality_gopher",
    "text_collocations",
    "text_entropy",
    "cms_sketch",
    "ts_autocorr",
    "sample_balanced",
    "anomaly_seasonal",
    "dedup_containment",
    "join_runtime_bloom",
    "text_bigram_kn",
    "text_keyphrases",
    "multimodal_audio_dft",
    "multimodal_scene_cuts",
    "ts_holt_forecast",
    "ts_changepoint",
    "markov_entropy",
    # round 9
    "dedup_paragraph",
    "ngram_novelty",
    "split_leakage",
    "dedup_report",
    "quality_repeated",
    "multimodal_audio_fbank",
    "multimodal_audio_vad",
    # round 10
    "dedup_image_phash",
    "dedup_image_clusters",
    "multimodal_audio_fingerprint",
    "bpe_fertility",
    "corpus_domain_rollup",
    "url_canonical_dedup",
    "pii_audit",
    # round 11: constellation-lookup join (posting cap + fp_hash
    # partitioning), image corpus-out anti-join, beam-search rounds,
    # domain ensemble join+agg, governance single-scan agg
    "multimodal_audio_fp_lookup",
    "dedup_image_apply",
    "knn_graph_search",
    "quality_domain_ensemble",
    "corpus_governance_flags",
    "mix_doremi",
]

SF_DIR = "/root/testdata/sf0.01"


USAGE = "usage: dump_plans.py [<tag> before|after <query> ...]"


def main(argv: list[str]) -> int:
    if not argv:
        write_plans_md()
        return 0
    if len(argv) < 3 or argv[1] not in ("before", "after"):
        print(USAGE, file=sys.stderr)
        return 2
    tag, suffix, names = argv[0], argv[1], argv[2:]
    registry = collect()
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    out_dir = Path(_REPO) / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plans:{tag}")
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        (out_dir / f"{name}_{suffix}.txt").write_text(formatted_plan(df))
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        (out_dir / f"{name}_{suffix}_executed.txt").write_text(executed)
        # a query's cached frames must not show up in the next one's plan
        spark.catalog.clearCache()
        print(f"wrote plans/{tag}/{name}_{suffix}.txt", file=sys.stderr)
    return 0


def write_plans_md() -> None:
    spark = get_spark("plans")
    registry = collect()
    out = [
        "# Physical plans (generated by tools/dump_plans.py at sf0.01)",
        "",
        "Scale-relevant markers to look for: `PushedFilters` (predicate",
        "pushdown reached the scan), `ReadSchema` (column pruning),",
        "`BroadcastHashJoin` (dim joins avoid shuffling the fact side),",
        "partial+final `HashAggregate` pairs (map-side combine),",
        "`TakeOrderedAndProject` (top-k without a full sort), and the",
        "exchange count (shuffles — the scale currency).",
        "",
    ]
    for name in HEADLINE:
        spec = registry[name]
        df = spec.fn(spark, SF_DIR)
        plan = formatted_plan(df)
        out += [
            f"## {name}",
            "",
            f"{spec.doc}  ",
            f"Exchanges: {exchange_count(df)}",
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    Path(_REPO, "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
