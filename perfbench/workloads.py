"""The benchmark's workloads: which registry queries each one runs, and why.

Load shape for every workload: a closed loop with one client, which
sends the next query only after the previous one's sink has returned,
on the engine's own ``session.get_spark()`` at ``local[nproc]``,
against sf0.1-sized fixture tables (fixtures.py).  The workload seed
only permutes the query order of each pass; the program sees the same
tables on every run.

The two workloads sit on either side of the engine's main split: one
is bound by the driver (plan builds that run eager jobs round after
round, and per-job fixed cost), the other by the executors (join
fan-out, shuffles and a Python-worker UDF).  Between them they run
at least one query of every query module the per-layer table names.
An optimization of one side should move its workload and leave the
other within its bounds.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Driver-bound: plan builds that run eager jobs in a loop, and short
    # queries whose cost is mostly fixed per-job and per-plan overhead.
    "iterative_dedup": (
        "dedup_clusters",       # dedup: _min_label_components, a checkpoint
                                # and a convergence job every round
        "bpe_train",            # pipeline: one eager job per BPE merge
        "funnel_stages",        # analytics: eight small jobs
        "mr_job_chain",         # mapreduce: compute -> store into the DFS -> compute
        "wordcount",            # jobs: the reference's WordCount
        "tpch_q22",             # tpch_extra: seven small jobs
        "table_diff",           # admin
        "text_quality",         # text_analysis
        "watermark_lateness",   # windows: event-time watermark
        "gap_fill_locf",        # temporal: gap fill over a time spine
        "sink_json_roundtrip",  # roundtrip: write and read back
        "chunk_prune_stats",    # layout
        "bloom_build",          # sketches
    ),
    # Executor-bound: join fan-out, a shuffle-heavy aggregate and a
    # Python-worker UDF, where task time exceeds the plan build.
    "fanout_join": (
        "knn_bruteforce",       # similarity: all-pairs embedding join
        "dedup_minhash_pairs",  # dedup: LSH band join into candidate pairs
        "agg_distinct",         # relational: distinct aggregates over a 9 MB shuffle
        "multimodal_audio_fbank",  # multimodal: audio filter banks in Python workers
    ),
}


def pass_order(queries: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass number)."""
    order = list(queries)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order
