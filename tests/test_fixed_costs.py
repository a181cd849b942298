"""Fixed per-query costs: footer schemas read once, loop scalars
observed inside the checkpoint jobs that already run, and each loop
round's checkpoint freed once the next round replaces it.

Job counts come from the Spark status tracker for one job group per
call; retained RDDs are those `sc._jsc.getPersistentRDDs()` holds
right after the call, with no JVM GC in between, so a checkpoint that
only Spark's cleaner would drop still counts.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark import catalog
from dfs_w_mapreduce_spark.catalog import load_table
from dfs_w_mapreduce_spark.checkpoint import observed_checkpoint, release
from dfs_w_mapreduce_spark.registry import assemble
from tests.test_r11_opt import UNION_FIND_GRAPHS

_GROUPS = itertools.count()


def _run_in_group(spark, fn):
    """(result of fn(), number of Spark jobs fn started, highest RDD id
    persisted before the call)."""
    sc = spark.sparkContext
    group = f"fixed-costs-{next(_GROUPS)}"
    before = max([-1, *_persisted(spark)])
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), before


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _retained_rdds(spark, before: int) -> int:
    """RDDs persisted after id `before` that are still persisted now."""
    return sum(1 for k in _persisted(spark) if k > before)


def test_second_load_table_starts_no_job(spark, sf_dir):
    catalog._FOOTER_SCHEMAS.clear()
    cold, cold_jobs, _ = _run_in_group(
        spark, lambda: load_table(spark, sf_dir, "orders")
    )
    warm, warm_jobs, _ = _run_in_group(
        spark, lambda: load_table(spark, sf_dir, "orders")
    )
    assert cold_jobs >= 1  # the footer read is a job: the counter sees it
    assert warm_jobs == 0
    assert warm.schema == cold.schema


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first = load_table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0], "r_name": ["A"], "r_comment": ["c"]}), path
    )
    again = load_table(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in again.collect()] == [(0, "A", "c")]


def test_events_ts_stays_a_timestamp(spark, sf_dir, tmp_path):
    from dfs_w_mapreduce_spark.streaming.windows import stream_events

    for _ in range(2):  # the footer read, then the memo
        ts = dict(load_table(spark, sf_dir, "events").dtypes)["ts"]
        assert ts in ("timestamp", "timestamp_ntz")
    assert dict(stream_events(spark, sf_dir).dtypes)["ts"] == "timestamp"
    # a TIMESTAMP(NANOS) layout is read as a long and converted
    nanos = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": nanos}), tmp_path / "events.parquet")
    for _ in range(2):
        ev = load_table(spark, str(tmp_path), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        assert ev.select(F.unix_micros("ts")).first()[0] == 1_700_000_000_123_456


def test_observed_checkpoint_reads_aggregates_in_the_checkpoint_job(spark):
    df = spark.range(0, 10, numPartitions=3)
    _, plain_jobs, _ = _run_in_group(spark, df.localCheckpoint)
    (out, stats), jobs, _ = _run_in_group(
        spark,
        lambda: observed_checkpoint(df, n=F.count(F.lit(1)), s=F.sum("id")),
    )
    assert stats == {"n": 10, "s": 45}
    assert jobs == plain_jobs
    assert out.count() == 10
    _, empty = observed_checkpoint(
        df.filter("id < 0"), n=F.count(F.lit(1)), s=F.sum("id")
    )
    assert empty == {"n": 0, "s": None}


# Jobs started by the call plus its collect at sf0.001 (AQE makes the
# count vary by a few jobs between runs). Before the loop scalars were
# observed in the checkpoint jobs: 99-100, 186-194 and 36-37 jobs for
# the three union-find graphs, 21 for q_bpe_train.
_LABEL_JOBS_BEFORE = [99, 186, 36]


@pytest.mark.parametrize(
    "edges, jobs_before", list(zip(UNION_FIND_GRAPHS, _LABEL_JOBS_BEFORE))
)
def test_min_label_components_jobs_and_retained_rdds(spark, edges, jobs_before):
    from dfs_w_mapreduce_spark.operators.dedup import _min_label_components

    pairs = spark.createDataFrame(edges, "a long, b long")

    def run():
        df = _min_label_components(pairs, "a", "b", "id")
        return df, df.collect()

    (_, rows), jobs, before = _run_in_group(spark, run)
    assert rows
    # now 79, 150-154 and 26-28
    assert jobs < jobs_before
    # the last label checkpoint, which the result reads
    assert _retained_rdds(spark, before) <= 1


def test_bpe_train_jobs_and_retained_rdds(spark, sf_dir):
    from dfs_w_mapreduce_spark.operators.pipeline import q_bpe_train

    q_bpe_train(spark, sf_dir).collect()  # read the footer outside the count
    rows, jobs, before = _run_in_group(
        spark, lambda: q_bpe_train(spark, sf_dir).collect()
    )
    assert len(rows) == 4
    assert jobs <= 14  # 21 before; one count per merge round is gone
    assert _retained_rdds(spark, before) == 0


def test_release_frees_a_checkpoint_and_skips_other_frames(spark):
    before = _persisted(spark)
    cp = spark.range(0, 10, numPartitions=2).localCheckpoint()
    assert len(_persisted(spark) - before) == 1
    release(cp)
    assert _persisted(spark) == before
    lazy = spark.range(3).selectExpr("id * 2 AS id")
    cached = spark.range(4).cache()
    cached.count()
    held = _persisted(spark)
    release(lazy)
    release(cached)
    release(None)
    assert _persisted(spark) == held
    assert lazy.count() == 3 and cached.count() == 4
    cached.unpersist()


def test_replaced_round_is_freed_after_the_new_one_lands(spark):
    before = _persisted(spark)
    prev = spark.range(0, 10, numPartitions=2).localCheckpoint()
    step = prev.selectExpr("id + 1 AS id")
    plain, plain_jobs, _ = _run_in_group(spark, step.localCheckpoint)
    release(plain)
    (nxt, stats), jobs, _ = _run_in_group(
        spark, lambda: observed_checkpoint(step, replaces=prev, s=F.sum("id"))
    )
    assert stats == {"s": 55}
    assert jobs == plain_jobs  # freeing prev starts no job
    # the new round was built from prev and still collects after prev
    # is freed; only its own checkpoint stays persisted
    assert sorted(r.id for r in nxt.collect()) == list(range(1, 11))
    assert len(_persisted(spark) - before) == 1
    release(nxt)
    assert _persisted(spark) == before


# Persisted RDDs a query holds right after its collect: only what its
# result still reads. dedup_clusters keeps its cached band frame and
# the last labels, dedup_image_clusters the verified pair checkpoint
# and the last labels. Before the loops freed the rounds they replace
# (sf0.01): 5, 5, 4, 6, 5, 2 and 9.
_RETAINED_BOUNDS = {
    "sample_coreset": 0,
    "mix_doremi": 1,
    "embedding_pca_power": 1,
    "knn_graph_search": 1,
    "graph_label_prop": 1,
    "dedup_clusters": 2,
    "dedup_image_clusters": 2,
}


@pytest.mark.parametrize("name, bound", list(_RETAINED_BOUNDS.items()))
def test_loop_queries_retain_only_what_their_result_reads(spark, sf_dir, name, bound):
    fn = assemble()[name].fn
    rows, _, before = _run_in_group(spark, lambda: fn(spark, sf_dir).collect())
    assert rows
    assert _retained_rdds(spark, before) <= bound
